package graft

import org.scalatest.funsuite.AnyFunSuite

/** Query state must not outlive its SparkContext: a second context in the
  * same JVM runs the queries that keep a persisted frame between calls
  * (d41b's truth sample, e14's probe). Runs in a child JVM, because
  * stopping the shared test session would break every later suite. */
class SessionRestartSpec extends AnyFunSuite {
  import SparkTestSession.sf

  test("d41b and e14 run again after the SparkContext is stopped and rebuilt") {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val opens = jvm.getInputArguments.toArray(Array.empty[String])
      .sliding(2).collect { case Array("--add-opens", m) => Seq("--add-opens", m) }
      .flatten.toSeq
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.SessionRestartRun", sf)
    val log = java.nio.file.Files.createTempFile("session-restart", ".log")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log.toFile).start()
    if (!proc.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)) proc.destroyForcibly().waitFor()
    val exit = proc.exitValue()
    val out = new String(java.nio.file.Files.readAllBytes(log))
    java.nio.file.Files.delete(log)
    assert(exit == 0, s"child JVM exited $exit:\n${out.takeRight(4000)}")
    assert(out.contains("restart ok"), out.takeRight(4000))
  }
}

/** The child JVM of [[SessionRestartSpec]]: session, both queries, stop,
  * a new session on a new SparkContext, both queries again over a copy of
  * the inputs (a new path, so the kept frames differ from the first
  * pass's, as in a service that reopens its session on fresh data). */
object SessionRestartRun {
  def main(args: Array[String]): Unit = {
    val queries = Seq("d41b_sketch_recall_sampled", "e14_ann_recall")
    def pass(dir: String): Seq[Long] = {
      val spark = GraftSession(2)
      queries.map(q => SparkEntry.queries(q)(spark, dir).count())
    }
    val first = pass(args(0))
    org.apache.spark.sql.SparkSession.active.stop()
    val copy = java.nio.file.Files.createTempDirectory("session-restart-sf")
    java.nio.file.Files.list(java.nio.file.Paths.get(args(0))).forEach { f =>
      java.nio.file.Files.copy(f, copy.resolve(f.getFileName)); ()
    }
    try {
      val second = pass(copy.toString)
      require(first == second, s"row counts differ across the restart: $first vs $second")
      println(s"restart ok: $second")
      org.apache.spark.sql.SparkSession.active.stop()
    } finally {
      java.nio.file.Files.list(copy).forEach(f => java.nio.file.Files.delete(f))
      java.nio.file.Files.delete(copy)
    }
  }
}
