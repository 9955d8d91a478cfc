package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.Registries
import graft.streaming.BatchCommit

/** Registry compaction is content-preserving and actually reduces the
  * file count an appended registry accumulates. */
class RegistryCompactSpec extends AnyFunSuite {
  import SparkTestSession._

  test("compact preserves content and collapses per-drop append files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("reg-compact").toString + "/r"
    for (drop <- 0 until 8)
      (0 until 10).map(i => (drop * 10L + i, s"v$drop-$i")).toDF("id", "v")
        .repartition(2).write.mode("append").parquet(dir)
    def files() = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = spark.read.parquet(dir).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(files() >= 16, s"append staging produced only ${files()} files")
    BatchCommit.compact(spark, dir, numFiles = 3)
    assert(files() == 3, s"expected 3 files after compaction, got ${files()}")
    val after = spark.read.parquet(dir).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before, "compaction changed registry content")
    // compacting a missing dir is a no-op, not an error
    BatchCommit.compact(spark, dir + "_missing")
  }

  test("compact crash windows leave the registry recoverable, never empty") {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sessionState.newHadoopConf())
    def stage(tag: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"reg-crash-$tag")
        .toString + "/r"
      (0 until 20).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartition(4).write.mode("append").parquet(dir)
      dir
    }
    def content(dir: String) = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    // window A: crash between rename(live, aside) and rename(tmp, live) —
    // live missing, pre-compact aside intact, compacted temp committed
    val a = stage("a"); val wantA = content(a)
    spark.read.parquet(a).repartition(2)
      .write.mode("overwrite").parquet(a + "__compacting")
    assert(fs.rename(new org.apache.hadoop.fs.Path(a),
      new org.apache.hadoop.fs.Path(a + "__precompact")))
    BatchCommit.recover(spark, a)
    assert(content(a) == wantA, "window-A recovery lost registry content")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(a + "__compacting")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(a + "__precompact")),
      "window-A recovery left stale swap dirs")

    // window B: crash between rename(tmp, live) and delete(aside) —
    // live (compacted) and aside both present
    val b = stage("b"); val wantB = content(b)
    BatchCommit.compact(spark, b, numFiles = 2) // full swap…
    spark.read.parquet(b).write.mode("overwrite").parquet(b + "__precompact")
    BatchCommit.recover(spark, b) // …then a stale aside reappears
    assert(content(b) == wantB, "window-B recovery changed content")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(b + "__precompact")))

    // window C: live missing, temp UNCOMMITTED (no _SUCCESS) — must fall
    // back to the aside, never promote a partial write
    val c = stage("c"); val wantC = content(c)
    spark.read.parquet(c).repartition(2)
      .write.mode("overwrite").parquet(c + "__compacting")
    fs.delete(new org.apache.hadoop.fs.Path(c + "__compacting", "_SUCCESS"), false)
    assert(fs.rename(new org.apache.hadoop.fs.Path(c),
      new org.apache.hadoop.fs.Path(c + "__precompact")))
    BatchCommit.recover(spark, c)
    assert(content(c) == wantC, "window-C recovery lost registry content")

    // compact() itself recovers a crashed predecessor before compacting
    val d = stage("d"); val wantD = content(d)
    assert(fs.rename(new org.apache.hadoop.fs.Path(d),
      new org.apache.hadoop.fs.Path(d + "__precompact")))
    BatchCommit.compact(spark, d, numFiles = 2)
    assert(content(d) == wantD)
  }

  test("streaming registries self-compact: identical results, bounded files") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    // 8 drops through segmentDedupStream twice over the SAME staged input
    // (identical batch order): an aggressively self-compacting run vs a
    // never-compacting run must land identical registry + output content,
    // with the compacting run's file count bounded instead of one-per-drop
    val docs = Tables(spark, sf).documents
    val stage = java.nio.file.Files.createTempDirectory("sc-stage").toString
    for (k <- 0 until 8) {
      docs.filter(pmod(col("doc_id"), lit(8)) === k)
        .repartition(1).write.mode("append").parquet(stage)
      Thread.sleep(1100) // distinct mtimes → deterministic drop order
    }
    def run(compactAfter: Int): (String, String) = {
      val base = java.nio.file.Files.createTempDirectory("sc-run").toString
      val q = graft.streaming.DocStreams.segmentDedupStream(
          graft.streaming.DocStreams.readDocumentStream(spark, stage,
            maxFilesPerTrigger = Some(1)),
          "doc_id", "text", 3, s"$base/reg", s"$base/clean",
          compactAfterFiles = compactAfter)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sc-ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      (s"$base/reg", s"$base/clean")
    }
    val (regC, cleanC) = run(compactAfter = 2)
    val (regN, cleanN) = run(compactAfter = 1 << 30)
    def rows(dir: String) = spark.read.parquet(dir).toJSON.collect().sorted.toSeq
    assert(rows(regC) == rows(regN), "compaction changed registry content")
    assert(rows(cleanC) == rows(cleanN), "compaction changed stream output")
    def files(dir: String) = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert(files(regN) >= 8, s"non-compacting run should hold 1+ file per drop")
    assert(files(regC) <= 6,
      s"self-compaction left ${files(regC)} files — threshold not applied")
    // TOTAL file count (data AND batch done-markers) stays bounded: dead
    // markers below the newest two batch ids are pruned each maintenance
    // pass, so a long-lived flow never accumulates one marker per batch
    def markerCount(dir: String) = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("_b") && f.getName.endsWith(".done"))
    assert(markerCount(regC) <= 2,
      s"marker pruning left ${markerCount(regC)} done-markers after 8 drops")
    val total = new java.io.File(regC).listFiles()
      .count(f => f.getName.endsWith(".parquet") || f.getName.endsWith(".done"))
    assert(total <= 8, s"total registry file count $total not bounded")
  }

  test("dedup-impact flow self-compacts BOTH sinks: identical accounting, bounded files") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    // same shape as the segment-dedup probe, for the round-10 flow whose
    // impact sink is write-only (compaction there crosses the explicit
    // entry heal, not readOr's)
    val docs = Tables(spark, sf).documents
    val stage = java.nio.file.Files.createTempDirectory("di-stage").toString
    for (k <- 0 until 8) {
      docs.filter(pmod(col("doc_id"), lit(8)) === k)
        .repartition(1).write.mode("append").parquet(stage)
      Thread.sleep(1100)
    }
    def run(compactAfter: Int): (String, String) = {
      val base = java.nio.file.Files.createTempDirectory("di-run").toString
      val q = graft.streaming.DocStreams.dedupImpactStream(
          graft.streaming.DocStreams.readDocumentStream(spark, stage,
            maxFilesPerTrigger = Some(1)),
          s"$base/fp", s"$base/impact", compactAfterFiles = compactAfter)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("di-ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      (s"$base/fp", s"$base/impact")
    }
    val (fpC, impC) = run(compactAfter = 2)
    val (fpN, impN) = run(compactAfter = 1 << 30)
    def sums(dir: String) = spark.read.parquet(dir)
      .groupBy("source").agg(sum("n_docs"), sum("n_kept"),
        sum("chars_total"), sum("chars_removed"))
      .collect().map(_.toSeq).toSet
    assert(sums(impC) == sums(impN), "compaction changed impact accounting")
    // fpDir is segment-rolled — rows via the segment union, files counted
    // across seg-* dirs (no roll fires at this scale, so the thresholds
    // still see every per-drop file)
    def rows(dir: String) = graft.streaming.RolledSink.read(spark, dir)
      .toJSON.collect().sorted.toSeq
    assert(rows(fpC) == rows(fpN), "compaction changed the fp registry")
    def files(dir: String) = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    def segFiles(dir: String) = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seg-"))
      .map(seg => files(seg.getPath)).sum
    assert(segFiles(fpN) >= 8 && files(impN) >= 8, "non-compacting run should hold 1+ file per drop")
    assert(segFiles(fpC) <= 6 && files(impC) <= 6,
      s"self-compaction left fp=${segFiles(fpC)} impact=${files(impC)} files")
  }

  test("delta registries fold to one row per key under compaction: " +
       "O(keys) rows, sums preserved, column order intact") {
    import spark.implicits._
    // unit shape first: a 3-column delta table folds by its 2-key prefix
    val dir = java.nio.file.Files.createTempDirectory("fold").toString + "/r"
    for (drop <- 0 until 6)
      Seq(("a", 0L, 2L, 10L), ("a", 1L, 3L, 20L), ("b", 0L, 5L, 30L))
        .toDF("source", "bin", "n", "chars")
        .repartition(2).write.mode("append").parquet(dir)
    BatchCommit.compact(spark, dir, numFiles = 1,
      foldKeys = Seq("source", "bin"))
    val out = spark.read.parquet(dir)
    assert(out.columns.toSeq == Seq("source", "bin", "n", "chars"),
      "folding changed column order")
    val rows = out.collect().map(r =>
      (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(rows.size == 3, s"expected one row per key, got ${rows.size}")
    assert(rows(("a", 0L)) == (12L, 60L) && rows(("a", 1L)) == (18L, 120L) &&
      rows(("b", 0L)) == (30L, 180L), "folding changed per-key sums")

    // end-to-end: driftHistStream compacting every batch holds O(keys)
    // registry rows after 8 drops, with per-key sums equal to the
    // never-compacting run's — the registry no longer grows one delta
    // row-set per batch forever
    import org.apache.spark.sql.streaming.Trigger
    val docs = Tables(spark, sf).documents
    val stage = java.nio.file.Files.createTempDirectory("fold-stage").toString
    // contiguous id ranges per drop: the flow's IdWatermark guard (by
    // design) refuses interleaved ids, so modulo-sliced drops would fail
    val width = docs.agg(max("doc_id")).head().getLong(0) / 8 + 1
    for (k <- 0 until 8) {
      docs.filter(col("doc_id") >= k * width && col("doc_id") < (k + 1) * width)
        .repartition(1).write.mode("append").parquet(stage)
      Thread.sleep(1100)
    }
    def run(compactAfter: Int): String = {
      val base = java.nio.file.Files.createTempDirectory("fold-run").toString
      graft.streaming.DocStreams.driftHistStream(
          graft.streaming.DocStreams.readDocumentStream(spark, stage,
            maxFilesPerTrigger = Some(1)),
          s"$base/hist", compactAfterFiles = compactAfter)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("fold-ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s"$base/hist"
    }
    val histC = run(compactAfter = 0)
    val histN = run(compactAfter = 1 << 30)
    def summed(d: String) = spark.read.parquet(d)
      .groupBy("source", "chars_bin").agg(sum("n").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(summed(histC) == summed(histN), "folding changed histogram sums")
    val nKeys = summed(histN).size
    val nRowsC = spark.read.parquet(histC).count()
    val nRowsN = spark.read.parquet(histN).count()
    assert(nRowsC == nKeys,
      s"folded registry holds $nRowsC rows for $nKeys keys — not O(keys)")
    assert(nRowsN > nKeys,
      "fixture vacuous: the unfolded run never accumulated delta rows")
  }

  test("registry cache keys distinguish dirs that sanitize identically") {
    import spark.implicits._
    // /…/x/a_b and /…/x/a/b both sanitize to _…_x_a_b — the digest suffix
    // must keep their registry state separate
    val base = java.nio.file.Files.createTempDirectory("reg-key").toString
    val dir1 = s"$base/a_b"
    val dir2 = s"$base/a/b"
    Seq((2L, "alpha beta gamma delta epsilon zeta", "en", "s", 35L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir1/documents.parquet")
    Seq((2L, "one two three four five six seven", "en", "s", 33L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir2/documents.parquet")
    val s1 = Registries.trainShingles(spark, dir1)
      .collect().map(_.getString(0)).toSet
    val s2 = Registries.trainShingles(spark, dir2)
      .collect().map(_.getString(0)).toSet
    assert(s1.nonEmpty && s2.nonEmpty)
    assert(s1 != s2, "colliding sanitized dir keys shared registry state")
  }
}
