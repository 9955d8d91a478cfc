package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.IvfPq
import graft.streaming.EmbStreams

/** The streaming IVF+PQ codes-flush flow (e15's maintenance verb as a
  * foreachBatch twin) converges to the full batch encode when the corpus
  * is replayed as drops: identical code rows, identical search results,
  * cell-partitioned layout preserved — including under per-batch
  * compaction of every cell dir. */
class IvfStreamSpec extends AnyFunSuite {
  import SparkTestSession._

  private def stageDrops(splits: Seq[(Long, Long)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("ivf-stage").toString
    for ((lo, hi) <- splits) {
      Tables(spark, sf).embeddings
        .filter(col("vec_id") >= lo && col("vec_id") < hi)
        .repartition(1).write.mode("append").parquet(dir)
      Thread.sleep(1100)
    }
    dir
  }

  private lazy val emb = Tables(spark, sf).embeddings
    .select(col("vec_id").as("id"), col("embedding").as("vec"))
  private lazy val cents = IvfPq.seedCentroids(emb, nCells = 8)
  private lazy val cb =
    IvfPq.residualCodebook(emb, cents, dims = 64, m = 8, seedFrom = 8)

  private def codeKey(df: org.apache.spark.sql.DataFrame) = df
    .select(col("id"), col("cell").cast("int"), col("sub"), col("code"))
    .collect()
    .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSeq.sorted

  private def runFlow(stage: String, codesDir: String, ckpt: String,
                      compactAfterFiles: Int = 64, minBatches: Int = 3): Unit = {
    val q = EmbStreams.ivfCodesIngestStream(
        EmbStreams.readEmbeddingStream(spark, stage, maxFilesPerTrigger = Some(1)),
        cents, cb, codesDir, compactAfterFiles = compactAfterFiles)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= minBatches, "expected a multi-batch run")
  }

  test("streamed cell-partitioned codes converge to the full batch encode; " +
       "searchStored over the streamed dir equals the rebuilt index's search") {
    val stage = stageDrops(Seq((0L, 60L), (60L, 130L), (130L, Long.MaxValue)))
    val tmp = java.nio.file.Files.createTempDirectory("ivf-codes").toString
    runFlow(stage, s"$tmp/codes", s"$tmp/ckpt")

    val full = IvfPq.encode(emb, cents, cb, dims = 64, m = 8)
    assert(codeKey(spark.read.parquet(s"$tmp/codes")) == codeKey(full),
      "streamed codes diverged from the full encode")

    // the layout survives as cell= partition dirs (partition-prunable)
    val cellDirs = new java.io.File(s"$tmp/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty, "no cell= partition dirs in the streamed index")

    val storedSearch = IvfPq.searchStored(s"$tmp/codes", emb, cents, cb,
      dims = 64, m = 8, nQueries = 3, nProbe = 2, topK = 10)
    val rebuilt = IvfPq.search(emb, cents, cb, dims = 64, m = 8,
      nQueries = 3, nProbe = 2, topK = 10)
    def sKey(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getInt(4)))
      .toSet
    assert(sKey(storedSearch) == sKey(rebuilt),
      "search over the streamed index diverged from the rebuilt index")
  }

  test("per-batch compaction of every cell dir preserves content and " +
       "bounds per-cell file counts") {
    val stage = stageDrops(Seq((0L, 60L), (60L, 130L), (130L, Long.MaxValue)))
    val tmp = java.nio.file.Files.createTempDirectory("ivf-codes-c").toString
    runFlow(stage, s"$tmp/codes", s"$tmp/ckpt", compactAfterFiles = 0)

    val full = IvfPq.encode(emb, cents, cb, dims = 64, m = 8)
    assert(codeKey(spark.read.parquet(s"$tmp/codes")) == codeKey(full),
      "compacted streamed codes diverged from the full encode")
    val cellDirs = new java.io.File(s"$tmp/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    for (d <- cellDirs) {
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n <= 4, s"${d.getName}: $n files after per-batch compaction")
    }
    // dead ROOT done-markers are pruned every batch (the flow commits one
    // per micro-batch at the root, where no per-cell maybeCompact runs)
    val markers = new java.io.File(s"$tmp/codes").listFiles()
      .count(f => f.isFile && f.getName.matches("_b\\d+\\.done"))
    assert(markers <= 2, s"$markers root done-markers survived pruning")
  }

  test("per-drop maintenance is O(touched cells), independent of how " +
       "many cells the index holds") {
    val stage = stageDrops(Seq((0L, 60L), (60L, 130L), (130L, Long.MaxValue)))
    val tmp = java.nio.file.Files.createTempDirectory("ivf-codes-m").toString
    val codes = new java.io.File(s"$tmp/codes")
    // a mature index: 60 extra populated cells none of these drops touch
    // (real vectors only land in the 8 seeded cells)
    for (c <- 100 until 160) {
      val d = new java.io.File(codes, s"cell=$c"); d.mkdirs()
      spark.range(0, 5).select(col("id"), lit(0).as("sub"), lit(0).as("code"))
        .coalesce(1).write.mode("overwrite").parquet(d.toString)
    }
    val rec0 = EmbStreams.cellsRecovered.get()
    val chk0 = EmbStreams.cellsCompactChecked.get()
    runFlow(stage, s"$tmp/codes", s"$tmp/ckpt")
    val recovered = EmbStreams.cellsRecovered.get() - rec0
    val checked = EmbStreams.cellsCompactChecked.get() - chk0
    // startup heal sweeps every existing cell ONCE; per-drop compaction
    // checks only the cells the drop wrote (3 drops x <= 8 live cells) —
    // the 60 cold cells are never walked again
    assert(recovered <= 60 + 8,
      s"heal sweep ran more than once: $recovered cell recoveries")
    assert(checked <= 3 * 8,
      s"per-drop compaction walked cold cells: $checked checks for 3 drops")
  }

  test("a per-cell compaction crash between the two renames (live dir " +
       "gone, only the __precompact aside left) heals on the next batch") {
    val stage = stageDrops(Seq((0L, 60L), (60L, 130L)))
    val tmp = java.nio.file.Files.createTempDirectory("ivf-codes-h").toString
    runFlow(stage, s"$tmp/codes", s"$tmp/ckpt", minBatches = 2)

    // simulate BatchCommit.compact dying between rename(live, aside) and
    // rename(tmp, live) on a POPULATED cell: the live dir vanishes and
    // only `cell=K__precompact` remains — the window where a heal that
    // merely lists existing cell= dirs would never recover the cell, the
    // next append would recreate it empty, and the FOLLOWING heal would
    // delete the aside holding the cell's whole history
    val cellDirs = new java.io.File(s"$tmp/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.length >= 2, "need populated cells to crash one")
    val victim = cellDirs.minBy(_.getName)
    val aside = new java.io.File(victim.getParent, victim.getName + "__precompact")
    assert(victim.renameTo(aside), "test setup: aside rename failed")

    // third drop arrives; the batch-entry heal must restore the victim
    // BEFORE the append touches it
    Tables(spark, sf).embeddings.filter(col("vec_id") >= 130L)
      .repartition(1).write.mode("append").parquet(stage)
    runFlow(stage, s"$tmp/codes", s"$tmp/ckpt", minBatches = 1)

    assert(!aside.exists, "aside dir survived the heal")
    val full = IvfPq.encode(emb, cents, cb, dims = 64, m = 8)
    assert(codeKey(spark.read.parquet(s"$tmp/codes")) == codeKey(full),
      "post-heal codes diverged from the full encode — history lost")
  }
}
