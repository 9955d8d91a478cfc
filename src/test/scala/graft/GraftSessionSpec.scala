package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession]] is the one session factory: the shared test session
  * carries its config, a second call is the same session with each hook
  * registered once, and no other builder exists in the source tree. */
class GraftSessionSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("the shared test session carries the factory config") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
      == (1 << 21).toString)
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("a second factory call is the same session with each hook once") {
    assert(GraftSession(4) eq spark)
    assert(spark.experimental.extraOptimizations
      .count(_ == graft.plans.RangeJoinRewrite) == 1)
    assert(spark.experimental.extraStrategies
      .count(_ == graft.plans.GraftStrategies) == 1)
  }

  test("GraftSession.scala holds the only session builder under src/") {
    val needle = "SparkSession" + ".builder()"
    val hits = scalaFiles("src")
      .filter(p => Files.readString(p).contains(needle))
      .map(_.toString)
    assert(hits == Seq(Paths.get("src/main/scala/graft/GraftSession.scala").toString))
  }

  test("every main source file declares a package") {
    val missing = scalaFiles("src/main")
      .filterNot(p => Files.readAllLines(p).asScala.exists(_.startsWith("package ")))
    assert(missing.isEmpty, missing.mkString(", "))
  }
}
