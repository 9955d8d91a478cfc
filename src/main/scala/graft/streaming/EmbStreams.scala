package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.similarity.Knn

/** Structured-Streaming twins of the embedding-corpus operators — the
  * modality DocStreams doesn't cover: new vectors arrive in drops and
  * dedup against everything seen so far through the stored LSH bucket
  * registry (the e07b production shape), never by re-pairing history.
  */
object EmbStreams {

  /** embeddings.parquet schema (TESTDATA.md) — file streams need it fixed. */
  val embeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  def readEmbeddingStream(spark: SparkSession, dir: String,
                          maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(embeddingSchema)
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n))
      .parquet(dir)
  }

  /** Streaming embedding near-dup — the daily-drop twin of the e07b
    * stored-registry query: each micro-batch of new vectors hashes to
    * LSH buckets, probes the bucket registry accumulated from all
    * previous drops ([[Knn.bucketedNearDupProbe]] — history is
    * never re-hashed, never re-paired, and the double prefilter runs
    * before the pair-dedup shuffle), rescored with the decimal-exact
    * cosine at `minCos`; surviving pairs append to `pairsDir`, the
    * batch's `(id, bucket)` rows append to `bucketRegistryDir`, and the
    * batch's raw vectors append to `vecRegistryDir` (the id-keyed vector
    * store the rescore joins — in production the main vector table,
    * bucketed by id).
    *
    * Every same-bucket pair is emitted exactly ONCE, by the drop whose
    * batch carries the pair's later-arriving endpoint (the earlier one
    * is in the registry, or in the same batch for intra-drop pairs) —
    * EmbStreamsSpec replays drops and proves the union of outputs equals
    * the full bucket-contract batch pair set. Registries are append-only
    * parquet directories: same durability stance and same exactly-once
    * [[graft.streaming.BatchCommit]] replay protocol as
    * [[DocStreams.segmentDedupStream]]. Write order is pairs first,
    * registries last, so every not-yet-committed step recomputes
    * identical content on replay (CrashRecoverySpec kills each window). */
  def embeddingDedupStream(embStream: DataFrame, bucketRegistryDir: String,
                           vecRegistryDir: String, pairsDir: String,
                           minCos: Double = 0.4, dim: Int = 64, nPlanes: Int = 6,
                           compactAfterFiles: Int = 64)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    embStream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      val spark = batch.sparkSession
      import graft.streaming.{BatchCommit, Failpoints}
      // Plane-count contract: the bucket registry's rows are nPlanes-bit
      // hashes, so the stream FREEZES p for the registry's lifetime — a
      // mismatched restart (say the adaptive plane law stepped and an
      // operator re-pointed the stream at the old registry with the new
      // p) would silently join new-p probe hashes against old-p rows and
      // break the bucket contract. The registry carries its p in a
      // sidecar; a mismatch REFUSES the batch loudly. Crossing a step is
      // an offline re-hash: rebuild the registry at the new p (the
      // amortized O(log) rebuild the adaptive law already budgets), then
      // start a fresh stream against it.
      checkNPlanes(spark, bucketRegistryDir, nPlanes)
      // exactly-once replay protocol (BatchCommit): undo any crashed
      // partial append before the registry reads, so the probe always
      // sees the pre-batch registries
      BatchCommit.rollback(spark, pairsDir, bid)
      BatchCommit.rollback(spark, bucketRegistryDir, bid)
      BatchCommit.rollback(spark, vecRegistryDir, bid)
      val newEmb = batch
        .select(col("vec_id").as("id"), col("embedding").as("vec")).persist()
      try {
        val storedBuckets = BatchCommit.readOr(spark, bucketRegistryDir,
          StructType(Seq(StructField("id", LongType),
            StructField("bucket", LongType))))
        val storedVec = BatchCommit.readOr(spark, vecRegistryDir,
          StructType(Seq(StructField("id", LongType),
            StructField("vec", ArrayType(FloatType)))))
        val newBuckets = Knn.lshBuckets(newEmb, dim, nPlanes)
          .select(col("id"), col("bucket"))
        val allVec = storedVec.unionByName(newEmb)
        // the fused probe (prefilter before the pair-dedup shuffle,
        // vectors attached per-vector at the bucket join) — the same
        // scale shape as the e07b/e19 batch queries; output identical to
        // candidates-then-exact-rescore (the prefilter is lossless)
        val pairs = Knn.bucketedNearDupProbe(newEmb, storedBuckets, allVec,
          dim, nPlanes, minCos, nFlip = 0)
        BatchCommit.append(pairs, pairsDir, bid)
        Failpoints.hit("emb:mid1", pairsDir)
        BatchCommit.append(newBuckets, bucketRegistryDir, bid)
        Failpoints.hit("emb:mid2", pairsDir)
        BatchCommit.append(newEmb.toDF(), vecRegistryDir, bid)
        Failpoints.hit("emb:post", pairsDir)
      } finally { newEmb.unpersist(); () }
      BatchCommit.maybeCompact(spark, bucketRegistryDir, compactAfterFiles)
      BatchCommit.maybeCompact(spark, vecRegistryDir, compactAfterFiles); ()
    }

  /** [[embeddingDedupStream]]'s plane-count sidecar: pin `nPlanes` into
    * the registry dir on first contact, refuse a mismatch ever after.
    * Written temp-then-rename so a reader never sees a partial value; a
    * crash before the first sidecar lands is re-pinned by the retry from
    * the same (unchanged) writer config. */
  private[graft] def checkNPlanes(spark: SparkSession, registryDir: String,
                                  nPlanes: Int): Unit = {
    val dir = new org.apache.hadoop.fs.Path(registryDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val sidecar = new org.apache.hadoop.fs.Path(dir, "_nplanes")
    def pinned(): Int = {
      val in = fs.open(sidecar)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.toInt finally in.close()
    }
    def refuse(p: Int): Unit =
      require(p == nPlanes,
        s"embeddingDedupStream: registry $registryDir is pinned to " +
          s"nPlanes=$p but the stream is configured with $nPlanes — " +
          "the registry's hashes are p-bit signatures; crossing a plane " +
          "step requires an offline re-hash of the registry at the new p, " +
          "not a mismatched restart")
    if (fs.exists(sidecar)) refuse(pinned())
    else {
      fs.mkdirs(dir)
      val tmp = new org.apache.hadoop.fs.Path(dir, s"_nplanes.tmp-$nPlanes")
      val out = fs.create(tmp, true)
      try out.write(nPlanes.toString.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, sidecar)) { fs.delete(tmp, false); () }
      // First-contact race: two streams with DIFFERENT p can race the
      // sidecar create, and RawLocalFileSystem's rename may silently
      // overwrite a pin that landed between the exists check and ours —
      // so whatever the rename outcome, the pin of record is the
      // sidecar's CURRENT content. Re-read and refuse a mismatch in this
      // same call: the loser must never run its first batch unguarded.
      refuse(pinned())
    }
  }

  /** Streaming cell-label maintenance — e17b's label-registry twin
    * ([[graft.store.Registries.cellLabels]]): each arriving drop of
    * vectors is quantized and assigned against the FROZEN centroid
    * model (a k-row broadcast argmax — history is never re-assigned)
    * and the (id, cell) labels appended exactly-once under
    * [[BatchCommit]]. e17b's history histogram is a count over this
    * registry; compaction folds files without touching rows, so the
    * label SET is swap-stable, and the [[IdWatermark]] guard refuses a
    * re-delivered vec_id before it can duplicate a label row.
    *
    * The sink is SEGMENT-ROLLED ([[RolledSink]]; read it back with
    * [[RolledSink.read]]): labels accrue one row per vector forever,
    * and a flat dir's compaction would rewrite that whole history every
    * ~compactAfterFiles drops — amortized per-drop cost growing with
    * stream age (the r13 soak's mt-adjusted ≈1.35 trend). With rolling,
    * a day's maintenance costs one scan of that day's vectors plus at
    * most one `segmentRollBytes` rewrite — nothing scales with the
    * registry. */
  def cellLabelStream(embStream: DataFrame, cents: DataFrame,
                      labelsDir: String,
                      compactAfterFiles: Int = 64,
                      segmentRollBytes: Long = RolledSink.DefaultRollBytes): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    embStream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      val spark = batch.sparkSession
      // open-segment maintenance: heal a half-swapped compaction, undo
      // this batch's crashed partial append, seal-and-roll if over the
      // threshold
      val seg = RolledSink.prepare(spark, labelsDir, bid, segmentRollBytes)
      // id-space contract (DocStreams.driftHistStream's convention): a
      // re-delivered vec_id would duplicate its label row and inflate
      // e17b's history occupancy — refuse the batch loudly instead
      val wm = IdWatermark.guard(batch, "vec_id", labelsDir, bid)
      BatchCommit.append(
        graft.similarity.KMeansExact.assignIds(
          graft.similarity.KMeansExact.quantize(
            batch.select(col("vec_id").as("id"), col("embedding").as("vec"))),
          cents)
          .select(col("id"), col("cid").as("cell")),
        seg, bid)
      Failpoints.hit("celllabel:mid", labelsDir)
      IdWatermark.commit(spark, labelsDir, bid, wm, compactAfterFiles)
      Failpoints.hit("celllabel:post", labelsDir)
      BatchCommit.maybeCompact(spark, seg, compactAfterFiles)
      ()
    }

  /** Test-visible maintenance odometers: cell dirs crash-recovered /
    * compaction-checked. IvfStreamSpec asserts the steady-state per-drop
    * counts are independent of how many cells exist. */
  private[graft] val cellsRecovered = new java.util.concurrent.atomic.AtomicLong
  private[graft] val cellsCompactChecked = new java.util.concurrent.atomic.AtomicLong

  /** Target rows per flushed code file. A PQ code row is ~20 B on disk,
    * so this lands files near the ~60-100 MB parquet sweet spot; a drop
    * smaller than cells×target (every micro-batch here) keeps the
    * one-file-per-cell layout. */
  private[graft] val CodeFileTargetRows = 4L * 1000 * 1000

  /** Streaming IVF+PQ index maintenance — the FLUSH half of e15's story:
    * each drop of new vectors is encoded against the FROZEN
    * centroids/codebook (passed in as data — in production the model
    * store's artifacts; they never retrain per drop) and appended
    * CELL-PARTITIONED into the live codes directory
    * ([[BatchCommit.appendPartitioned]] — one root done-marker per
    * batch, tagged files inside the `cell=` dirs), so the probe's
    * partition pruning applies to every increment ever flushed and
    * history is never re-encoded. Exactly-once under crash/replay like
    * every other flow here (rollback on entry sweeps the cell subdirs);
    * IvfStreamSpec proves the streamed directory converges to the full
    * batch encode and that [[graft.similarity.IvfPq.searchStored]] over
    * it equals the rebuilt index's search, and CrashRecoverySpec kills
    * each commit window. Per-cell compaction bounds file counts: each
    * `cell=` subdir is a plain parquet dir, recovered and compacted
    * independently (markers live at the root, so marker logic is
    * untouched). */
  def ivfCodesIngestStream(embStream: DataFrame, cents: DataFrame,
                           cb: DataFrame, codesDir: String,
                           dims: Int = 64, m: Int = 8,
                           compactAfterFiles: Int = 64)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    lazy val nCells = cents.count()
    // per-WRITER heal gate (each stream (re)start builds a fresh writer,
    // so a restart always re-heals): the gate that makes per-drop
    // maintenance O(touched cells) instead of O(total cells). Cleared on
    // a failed batch so the retry re-heals.
    val healed = new java.util.concurrent.atomic.AtomicBoolean(false)
    embStream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      val spark = batch.sparkSession
      import graft.streaming.{BatchCommit, Failpoints}
      val root = new org.apache.hadoop.fs.Path(codesDir)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      try {
        // Crash heal + replay rollback run on STARTUP and after a failed
        // batch ONLY — not per drop. Within a healthy run, `bid` is new:
        // no partial append of it exists and no compaction swap is
        // mid-flight, so the old per-drop sweep paid an O(total cells)
        // FS walk for nothing — noise at 8 cells, 10^4 FS round-trips
        // per drop before any data moved at real IVF index size. Cell
        // names come from [[BatchCommit.sinkNames]] (a crash between a
        // compaction's two renames leaves only the cell's aside; listing
        // live dirs would miss the vanished one), so each cell is
        // recovered whether or not its live dir currently exists.
        if (!healed.get()) {
          BatchCommit.sinkNames(fs, root).filter(_.startsWith("cell="))
            .foreach { n =>
              cellsRecovered.incrementAndGet()
              BatchCommit.recover(spark, new org.apache.hadoop.fs.Path(root, n).toString)
            }
          BatchCommit.rollback(spark, codesDir, bid)
          healed.set(true)
        }
        val newEmb = batch
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val codes0 = graft.similarity.IvfPq.encode(newEmb, cents, cb, dims, m)
          .persist()
        try {
          // size flushed files by volume, not one-per-(cell, drop): a
          // drop bigger than cells×target splits each cell's output into
          // ~target-row files via an id-hash salt (sub-file count
          // estimated under even cell occupancy — a skewed cell still
          // caps at the salt count); every drop under the threshold
          // keeps the one-writer-task-per-cell layout. The sizing count
          // reads the PERSISTED encode (1:1 with batch rows) — counting
          // the raw batch would re-scan the source once per drop for the
          // guard alone.
          val nSplit = math.max(1L,
            codes0.count() / math.max(1L, nCells * CodeFileTargetRows))
          val codes =
            if (nSplit <= 1L) codes0.repartition(col("cell"))
            else codes0.repartition(col("cell"),
              pmod(hash(col("id")), lit(nSplit.toInt)))
          BatchCommit.appendPartitioned(codes, codesDir, bid, "cell")
          Failpoints.hit("ivfcodes:post", codesDir)
          // compact only the cells THIS batch touched (read from the
          // cached encode — cells not written this drop cannot have
          // gained files), and prune the ROOT's dead done-markers —
          // appendPartitioned commits one marker per batch at the root,
          // where no maybeCompact runs, so without this the root gains a
          // marker file per micro-batch forever
          val touched = codes0.select("cell").distinct()
            .collect().map(_.get(0).toString)
          touched.foreach { c =>
            cellsCompactChecked.incrementAndGet()
            BatchCommit.maybeCompact(spark,
              new org.apache.hadoop.fs.Path(root, s"cell=$c").toString,
              compactAfterFiles)
          }
        } finally { codes0.unpersist(); () }
        BatchCommit.pruneMarkers(spark, codesDir)
        ()
      } catch { case scala.util.control.NonFatal(e) =>
        // next attempt (Spark replays the batch) must re-heal: the
        // failure may have left a partial append or a half-swapped
        // compaction behind
        healed.set(false)
        throw e
      }
    }
  }
}
