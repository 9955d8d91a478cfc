package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{BatchCommit, Failpoints, RolledSink}

/** Segment-rolled sink semantics ([[graft.streaming.RolledSink]]): the
  * layout exists so per-compaction cost is O(open segment) regardless of
  * stream age — which is only true if sealed segments are genuinely
  * immutable, and only SAFE if the exactly-once replay protocol holds
  * across a seal boundary. Both are pinned here at the unit level; the
  * flow-level crash matrix (CrashRecoverySpec) and the long-horizon soak
  * cover the streaming composition.
  */
class RolledSinkSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def batchDf(bid: Long, rows: Int = 2000) = {
    import spark.implicits._
    (0 until rows).map(i => (bid * 100000L + i, s"v$bid-$i"))
      .toDF("id", "payload")
  }

  /** (relative file name → (length, mtime)) of a segment's visible data
    * files — the immutability witness. */
  private def snapshot(seg: String): Map[String, (Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(seg)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).filter { st =>
      st.isFile && st.getPath.getName.endsWith(".parquet") &&
        !st.getPath.getName.startsWith("_")
    }.map(st => st.getPath.getName ->
      (st.getLen, st.getModificationTime)).toMap
  }

  test("rolling seals immutable segments; the union is every appended row " +
       "and compaction only ever touches the open segment") {
    val root = tmp("rolled")
    val sealedSnaps = scala.collection.mutable.Map.empty[String, Map[String, (Long, Long)]]
    for (bid <- 0L until 12L) {
      val seg = RolledSink.prepare(spark, root, bid, rollBytes = 24L * 1024)
      // every segment sealed BEFORE this batch must be byte-identical to
      // when it was sealed — neither this batch's append nor its
      // compaction may have rewritten it
      sealedSnaps.foreach { case (s, snap) =>
        assert(snapshot(s) == snap, s"sealed segment $s was rewritten")
      }
      BatchCommit.append(batchDf(bid), seg, bid)
      BatchCommit.maybeCompact(spark, seg, maxFiles = 2)
      val open = new java.io.File(seg).getName
      new java.io.File(root).listFiles().filter(f => f.isDirectory &&
          f.getName.startsWith("seg-") && f.getName != open)
        .foreach(f => sealedSnaps.getOrElseUpdate(f.getPath, snapshot(f.getPath)))
    }
    assert(sealedSnaps.size >= 2,
      "roll threshold never crossed — the test is vacuous")
    val got = RolledSink.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = (0L until 12L).flatMap(bid =>
      batchDf(bid).collect().map(r => (r.getLong(0), r.getString(1)))).toSet
    assert(got == want, "rolled union diverged from the appended rows")
  }

  test("a committed batch still skips on replay when the seal rolled the " +
       "sink between the attempts (markers ride into the new segment)") {
    val root = tmp("rolled-replay")
    val seg0 = RolledSink.prepare(spark, root, 0L, rollBytes = 1L)
    BatchCommit.append(batchDf(0L), seg0, 0L)
    // replay of batch 0 after a crash-before-checkpoint: entry prepare
    // finds the open segment over threshold and seals it
    val seg1 = RolledSink.prepare(spark, root, 0L, rollBytes = 1L)
    assert(seg1 != seg0, "roll did not advance the open segment")
    assert(BatchCommit.isDone(spark, seg1, 0L),
      "the committed batch's done-marker did not ride into the new segment")
    BatchCommit.append(batchDf(0L), seg1, 0L) // must skip on the marker
    assert(RolledSink.read(spark, root).count() == batchDf(0L).count(),
      "replay across a seal re-appended a committed batch")
  }

  test("an append crashed after its staging write leaves segment 0 open, " +
       "and the replay holds each row once") {
    val root = tmp("rolled-staged")
    val seg0 = RolledSink.prepare(spark, root, 0L)
    BatchCommit.append(batchDf(0L, rows = 5), seg0, 0L)
    val seg = RolledSink.prepare(spark, root, 1L)
    Failpoints.hook = (l, d) =>
      if (l == "commit:staged" && d == seg) throw new RuntimeException("crash")
    try intercept[RuntimeException](BatchCommit.append(batchDf(1L, rows = 5), seg, 1L))
    finally Failpoints.hook = (_, _) => ()
    val replay = RolledSink.prepare(spark, root, 1L)
    assert(replay == seg0, s"a staging dir was taken for the open segment: $replay")
    BatchCommit.append(batchDf(1L, rows = 5), replay, 1L)
    val got = RolledSink.read(spark, root).collect().map(_.getLong(0)).toSeq
    assert(got.sorted == Seq(0L, 1L).flatMap(b => (0 until 5).map(b * 100000L + _)),
      "the replayed read lost or repeated a row")
  }

  test("seal crash windows heal: stale staging swept, a segment renamed " +
       "aside mid-compaction-swap is recovered, never shadowed") {
    val root = tmp("rolled-heal")
    val seg0 = RolledSink.prepare(spark, root, 0L, rollBytes = 1L)
    BatchCommit.append(batchDf(0L), seg0, 0L)
    // crashed seal: the staged next segment existed but was never renamed
    val stale = new java.io.File(root, "seg-00001.tmp-deadbeef")
    assert(stale.mkdirs())
    // crashed compaction swap: the open segment's live dir renamed aside
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(seg0),
      new org.apache.hadoop.fs.Path(seg0 + "__precompact")))
    val seg = RolledSink.prepare(spark, root, 1L, rollBytes = Long.MaxValue)
    assert(!stale.exists(), "stale seal staging survived prepare")
    assert(seg == seg0,
      "mid-swap segment was shadowed by a fresh one instead of recovered")
    assert(RolledSink.read(spark, root).count() == batchDf(0L).count(),
      "mid-swap crash lost the sealed-in-progress segment's rows")
  }
}
