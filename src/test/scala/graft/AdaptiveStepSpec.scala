package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SimilarityQ
import graft.similarity.Knn
import graft.store.Registries

/** The adaptive plane law's STEP boundary (p → p+1) — the one regime the
  * p-keyed registry path had never actually exercised: a corpus that
  * grows across a step must rebuild the registry at the new p exactly
  * once, the post-step incremental probe must equal a monolithic rerun
  * at the new p (no stale-p rows anywhere in the join), and the
  * streaming twin — whose registry rows are frozen p-bit hashes — must
  * refuse a mismatched restart loudly rather than silently joining
  * cross-p signatures.
  */
class AdaptiveStepSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Deterministic corpus: `n` ids, 64-dim vectors; every 10th odd id
    * copies its preceding even id's vector so near-dup pairs always
    * exist across the new/history split. */
  private def writeCorpus(dir: String, n: Int): Unit = {
    val rnd = new scala.util.Random(7)
    val vecs = Array.tabulate(n)(_ => Array.fill(64)(rnd.nextFloat() * 2 - 1))
    for (i <- 1 until n by 10) vecs(i) = vecs(i - 1)
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    for (i <- 0 until n)
      rows.add(org.apache.spark.sql.Row(i.toLong, vecs(i).toSeq))
    spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("embedding",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))))
      .repartition(2).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  // day-N and day-N+1 snapshots of one growing corpus: identical ids and
  // vectors where they overlap, the growth chosen (from the law itself,
  // no magic numbers) to cross the next plane step in the even-id
  // history count. The step is not always +1: p=1 and p=2 price to the
  // same candidate ratio (2/2 == 4/4), so the first step is 1 → 3.
  private lazy val (dirA, dirB, pA, pB) = {
    val nA = 1000 // 500 even-id history vectors
    val p0 = SimilarityQ.adaptivePlanes(nA / 2)
    val nB = (nA to 20000 by 2)
      .find(n => SimilarityQ.adaptivePlanes(n / 2) > p0)
      .getOrElse(fail(s"law never steps past p=$p0 within the scan range"))
    val a = java.nio.file.Files.createTempDirectory("step-a").toString
    val b = java.nio.file.Files.createTempDirectory("step-b").toString
    writeCorpus(a, nA)
    writeCorpus(b, nB) // same seed: rows 0..nA-1 identical to day N's
    (a, b, p0, SimilarityQ.adaptivePlanes(nB / 2))
  }

  test("the growth crosses a step and both sides derive it from the corpus") {
    assert(pB > pA)
    assert(Registries.adaptiveEmbPlanes(spark, dirA) == pA)
    assert(Registries.adaptiveEmbPlanes(spark, dirB) == pB)
  }

  test("crossing the step rebuilds the registry at the new p, once") {
    val pathB = Registries.embBucketsAdaptivePath(spark, dirB)
    assert(pathB.endsWith(s"_p$pB"))
    Registries.embBucketsAdaptive(spark, dirB).head(1)
    val f = new java.io.File(pathB)
    assert(f.isDirectory, "step-crossing build did not fire")
    val mtimes = f.listFiles().map(x => x.getName -> x.lastModified).toMap
    // second call must be pure reuse: same files, untouched
    Registries.embBucketsAdaptive(spark, dirB).head(1)
    val after = new java.io.File(pathB).listFiles()
      .map(x => x.getName -> x.lastModified).toMap
    assert(after == mtimes, "re-calling the adaptive registry re-built it")
    val siblings = f.getParentFile.listFiles()
      .map(_.getName).filter(_.startsWith("emb_buckets_adaptive")).toSeq
    assert(siblings == Seq(s"emb_buckets_adaptive_p$pB"),
      s"stale plane-count siblings present: $siblings")
  }

  test("post-step registry content is the new-p hash of history — the " +
       "incremental probe equals a monolithic rerun at the new p") {
    val emb = Tables(spark, dirB).embeddings
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val reg = Registries.embBucketsAdaptive(spark, dirB)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fresh = Knn.lshBuckets(emb.filter(col("id") % 2 === 0),
        dim = 64, nPlanes = pB)
      .select(col("id"), col("bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reg == fresh,
      "registry rows are not the new-p signatures of history")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getAs[Double]("cos") * 1e9))).toSet
    val incr = key(SimilarityQ.incrementalNearDupAdaptive(spark, dirB))
    val mono = key(Knn.bucketedNearDupProbe(
      emb.filter(col("id") % 2 === 1),
      Knn.lshBuckets(emb.filter(col("id") % 2 === 0), dim = 64, nPlanes = pB)
        .select(col("id"), col("bucket")),
      emb, dim = 64, nPlanes = pB, minCos = 0.4, nFlip = 2))
    assert(incr.nonEmpty, "vacuous: no near-dup pairs in the fixture")
    assert(incr == mono)
  }

  test("the reaper clears superseded plane counts, legacy names, and " +
       "crashed stagings — never the live registry") {
    val live = new java.io.File(
      Registries.embBucketsAdaptivePath(spark, dirB))
    Registries.embBucketsAdaptive(spark, dirB).head(1)
    val parent = live.getParentFile
    val stale = Seq(
      new java.io.File(parent, "emb_buckets_adaptive_p19"),
      new java.io.File(parent, "emb_buckets_adaptive"),
      new java.io.File(parent, "emb_buckets_adaptive_p19.staging-deadbeef"))
    stale.foreach { d =>
      d.mkdirs()
      java.nio.file.Files.write(d.toPath.resolve("junk.parquet"),
        Array[Byte](1, 2, 3))
    }
    val before = live.listFiles().map(_.getName).toSet
    Registries.embBucketsAdaptive(spark, dirB).head(1)
    assert(stale.forall(!_.exists()), "stale siblings survived the reap")
    assert(live.listFiles().map(_.getName).toSet == before,
      "the reap touched the live registry")
  }

  test("streaming twin: the registry pins its plane count and a " +
       "mismatched restart is refused loudly") {
    val reg = java.nio.file.Files.createTempDirectory("nplanes-reg").toString
    graft.streaming.EmbStreams.checkNPlanes(spark, reg, 6)
    assert(new java.io.File(reg, "_nplanes").isFile, "sidecar not pinned")
    graft.streaming.EmbStreams.checkNPlanes(spark, reg, 6) // same p: fine
    val e = intercept[IllegalArgumentException] {
      graft.streaming.EmbStreams.checkNPlanes(spark, reg, 7)
    }
    assert(e.getMessage.contains("pinned"))
  }

  test("the plane-count pin survives registry compaction") {
    val reg = java.nio.file.Files.createTempDirectory("nplanes-compact").toString
    spark.range(0, 100)
      .select(col("id"), (col("id") % 4).as("bucket"))
      .repartition(8).write.mode("overwrite").parquet(reg)
    graft.streaming.EmbStreams.checkNPlanes(spark, reg, 6)
    graft.streaming.BatchCommit.compact(spark, reg, numFiles = 2)
    assert(new java.io.File(reg, "_nplanes").isFile,
      "compaction dropped the plane-count sidecar")
    graft.streaming.EmbStreams.checkNPlanes(spark, reg, 6) // still readable
    intercept[IllegalArgumentException] {
      graft.streaming.EmbStreams.checkNPlanes(spark, reg, 5)
    }
  }

  test("end-to-end: a dedup stream restarted with a different nPlanes " +
       "against its old registry fails before touching data") {
    val stage = java.nio.file.Files.createTempDirectory("step-stage").toString
    Tables(spark, dirA).embeddings.limit(50)
      .repartition(1).write.mode("overwrite").parquet(stage)
    val tmp = java.nio.file.Files.createTempDirectory("step-dedup").toString
    def run(p: Int, ckpt: String) =
      graft.streaming.EmbStreams.embeddingDedupStream(
          graft.streaming.EmbStreams.readEmbeddingStream(spark, stage),
          bucketRegistryDir = s"$tmp/buckets", vecRegistryDir = s"$tmp/vecs",
          pairsDir = s"$tmp/pairs", nPlanes = p)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    val q1 = run(6, s"$tmp/ckpt1"); q1.awaitTermination()
    assert(new java.io.File(s"$tmp/buckets", "_nplanes").isFile)
    val pairsBefore = spark.read.parquet(s"$tmp/pairs").count()
    val q2 = run(7, s"$tmp/ckpt2")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(_.getMessage != null) &&
      causes(err).exists(c =>
        c.getMessage != null && c.getMessage.contains("pinned")),
      s"expected the plane-pin refusal, got: $err")
    assert(spark.read.parquet(s"$tmp/pairs").count() == pairsBefore,
      "the refused restart wrote pair rows")
  }
}
