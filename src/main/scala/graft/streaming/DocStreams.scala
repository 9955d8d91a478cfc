package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.{BucketPairs, Shingles}
import graft.queries.MultimodalQ

/** Structured-Streaming twins of the document-corpus operators — the
  * daily-crawl-drop flow: new document files land in a directory and are
  * scanned incrementally instead of recomputing the corpus-wide batch
  * job. Complements [[EventStreams]] (event-time operators) and
  * [[graft.dedup.MinHashLsh.incrementalCandidates]] (incremental dedup).
  */
object DocStreams {

  /** documents.parquet schema (TESTDATA.md) — file streams need it fixed. */
  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def readDocumentStream(spark: SparkSession, dir: String,
                         maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(documentSchema)
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n))
      .parquet(dir)
  }

  /** Incremental benchmark-contamination scan — the streaming twin of
    * q50 ([[graft.queries.PipelineQ.contamination]]): each newly-arrived
    * training document's word-5-gram shingles probe a BROADCAST static
    * benchmark shingle index; the running aggregate keeps n_shared per
    * (doc, benchmark doc) pair.
    *
    * One streaming aggregation (Spark disallows chaining a second); the
    * final ≥ threshold filter + per-doc rollup are a trivial view over
    * this output — DocStreamsSpec proves the composition converges to the
    * batch q50 result on replay. The shingle expression is a scalar
    * projection (ShingleHashes), so the per-batch work is scan-speed and
    * the state is bounded by the true contamination surface, not the
    * corpus.
    */
  def contaminationStream(trainDocs: DataFrame, benchDocs: DataFrame): DataFrame = {
    val benchSh = broadcast(
      Shingles.explodeShingleHashes(benchDocs, "doc_id", "text", 5)
        .withColumnRenamed("doc_id", "bench_id"))
    Shingles.explodeShingleHashes(trainDocs, "doc_id", "text", 5)
      .join(benchSh, Seq("sh"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Streaming C4 segment dedup — the daily-crawl twin of
    * [[graft.text.Segments.segmentDedup]], built on the incremental batch
    * operator: every micro-batch dedups against the segment registry
    * accumulated from all previous batches (one anti-join per batch, no
    * rescan of history), appends its registry delta, and appends its
    * cleaned documents.
    *
    * The registry is the same `(seg)` table a batch deployment
    * materializes; here it is a parquet directory so the stream's state
    * survives restarts without growing executor memory — Spark's own
    * stateful operators cap state by watermark, but segment identity
    * never expires, so an external append-only store is the right shape
    * (Delta/Iceberg in production; the directory is the test stand-in,
    * made EXACTLY-ONCE under crash/replay by the [[BatchCommit]]
    * protocol — rollback on entry, batch-tagged files, done-marker
    * commit point; CrashRecoverySpec kills every write window).
    *
    * Equality with the full batch dedup (DocStreamsSpec replays and
    * checks) holds when batch arrival respects id order — true for
    * ingest-assigned monotonic ids, and the same append-stability
    * contract the incremental batch operator documents. */
  def segmentDedupStream(docStream: DataFrame, idCol: String, textCol: String,
                         segTokens: Int, registryDir: String,
                         cleanDir: String,
                         compactAfterFiles: Int = 64): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      val spark = batch.sparkSession
      // exactly-once replay protocol ([[BatchCommit]]): undo any crashed
      // partial append for THIS batch before any registry read, so the
      // flags below always see exactly the pre-batch registry — without
      // this, a replay after the delta landed marks every batch segment
      // "known" and appends garbage survivors (the measured failure mode)
      BatchCommit.rollback(spark, cleanDir, bid)
      BatchCommit.rollback(spark, registryDir, bid)
      // existence via Hadoop's FileSystem, not java.io.File: the registry
      // may live on HDFS/S3/file:-URIs where a local-path check is always
      // false — every micro-batch would then silently read an empty
      // registry and dedup only within itself (wrong results, no error)
      val registry = BatchCommit.readOr(spark, registryDir,
        StructType(Seq(StructField("seg_fp", BinaryType))))
      // persist the flagged plan, not just the raw batch: the registry
      // delta and the cleaned docs both consume it, and re-running it
      // would anti-join the (growing) registry twice per micro-batch.
      // ORDER MATTERS for replay: a stage's content must only depend on
      // registries whose this-batch delta lands in the same or a LATER
      // step — clean first, delta last — so a crashed batch recomputes
      // identical content for every not-yet-committed step. (The old
      // recacheByPath hazard is gone: BatchCommit stages writes beside
      // the registry dir and moves files in, so Spark never re-plans
      // cached readers mid-batch.)
      val flagged = graft.text.Segments.incrementalFlags(
        batch, idCol, textCol, registry, segTokens).persist()
      try {
        BatchCommit.append(
          graft.text.Segments.rebuildFromFlags(flagged, idCol), cleanDir, bid)
        Failpoints.hit("segdedup:mid", registryDir)
        BatchCommit.append(
          graft.text.Segments.registryDelta(flagged), registryDir, bid)
        Failpoints.hit("segdedup:post", registryDir)
      } finally { flagged.unpersist(); () }
      BatchCommit.maybeCompact(spark, registryDir, compactAfterFiles)
      // post-compaction window: this batch's tagged files may already be
      // folded into compacted files — replay depends on the carried marker
      Failpoints.hit("segdedup:end", registryDir)
      ()
    }

  /** Streaming cluster maintenance — d33's daily-crawl twin: each
    * micro-batch's docs are signed ONCE, probed against the stored band
    * index for new-touching pairs (history is never re-paired), and the
    * label table is rewritten as one connected-components pass over
    * (stored labels replayed as doc→representative edges) ∪ (the batch's
    * pairs) — |labels| + |new pairs| edges, never the historical pair
    * set.
    *
    * State shape differs from the append-only registries: a cluster
    * merge RELABELS old docs, so `labelsDir` is rewritten in place by
    * [[BatchCommit.replace]] (the sink protocol's aside-swap; a table
    * format makes it atomic in production) and read back through
    * [[BatchCommit.readOr]], which heals a crashed swap first. The
    * rewrite needs no batch marker: CC over already-swapped labels ∪ the
    * same pairs yields the same labels, so a replay converges whichever
    * copy the heal restores — including the window with the live dir
    * missing and both the aside and a committed temp present, where the
    * heal promotes the temp (already swapped) rather than the aside. The
    * sig/band registries stay append-only, deltas written LAST per the
    * recache ordering rule shared by every twin here. Empty-state
    * schemas come from the real builders over `limit(0)` so the probe
    * paths cannot drift from the batch op's. Convergence with the
    * monolithic rerun is DocStreamsSpec's twin test; d33's oracle
    * enforces the same contract cell-exactly on the batch path. */
  def clusterMaintStream(docStream: DataFrame, idCol: String, textCol: String,
                         sigDir: String, bandDir: String, labelsDir: String,
                         compactAfterFiles: Int = 64)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      val spark = batch.sparkSession
      // undo any crashed partial append BEFORE the registry reads: the
      // probe must see exactly the pre-batch sig/band registries
      BatchCommit.rollback(spark, sigDir, bid)
      BatchCommit.rollback(spark, bandDir, bid)
      import graft.dedup.MinHashLsh
      val emptySig = MinHashLsh.signaturesMd5(batch.limit(0), idCol, textCol)
      val storedSig = BatchCommit.readOr(spark, sigDir, emptySig.schema)
      val storedBands = BatchCommit.readOr(spark, bandDir,
        MinHashLsh.bandIndex(emptySig, idCol, literalKeys = true).schema)
      val nSig = MinHashLsh.signaturesMd5(batch, idCol, textCol).persist()
      try {
        val (pairs, (_, bandDelta)) = MinHashLsh.incrementalNearDupFromIndex(
          nSig, storedBands, storedSig, idCol,
          minEstJaccard = 0.5, literalKeys = true)
        val storedLabels = BatchCommit.readOr(spark, labelsDir,
          StructType(Seq(StructField(idCol, LongType),
            StructField("cluster_id", LongType))))
        val edges = storedLabels.filter(col(idCol) =!= col("cluster_id"))
          .select(col(idCol).as("id_a"), col("cluster_id").as("id_b"))
          .unionByName(pairs.select("id_a", "id_b"))
        BatchCommit.replace(labelsDir, graft.ops.ConnectedComponents
          .clusters(edges, "id_a", "id_b")
          .select(col("id").as(idCol), col("cluster_id")))
        Failpoints.hit("cluster:mid1", sigDir)
        // append-only registries LAST (content-dependency ordering: the
        // probe above reads them, so their this-batch deltas land after)
        BatchCommit.append(nSig, sigDir, bid)
        Failpoints.hit("cluster:mid2", sigDir)
        BatchCommit.append(bandDelta, bandDir, bid)
        Failpoints.hit("cluster:post", sigDir)
      } finally { nSig.unpersist(); () }
      BatchCommit.maybeCompact(spark, sigDir, compactAfterFiles)
      BatchCommit.maybeCompact(spark, bandDir, compactAfterFiles); ()
    }

  /** Streaming substring-level repeat detection — the daily-crawl twin of
    * [[graft.text.Winnowing.repeatedRegions]] built on
    * [[graft.text.Winnowing.incrementalRepeatedRegions]]: each micro-batch's
    * docs are fingerprinted once, probed against the fingerprint registry
    * accumulated from every previous batch (one join on `fp`, no rescan of
    * history), their repeated regions appended to `regionsDir` and the
    * registry delta appended to `registryDir`.
    *
    * Same external-state shape as [[segmentDedupStream]]: fingerprint
    * identity never expires, so the registry is an append-only parquet
    * table (Delta/Iceberg in production), not watermark-capped operator
    * state. Same write order too — regions FIRST, delta LAST: the delta
    * append triggers CacheManager.recacheByPath(registryDir), and writing
    * regions after it would re-plan their registry scan against the
    * post-append listing, making every batch-internal repeat also count as
    * "known" (harmless here but no longer the incremental operator's
    * output; the measured segment-twin failure mode). */
  def repeatedRegionsStream(docStream: DataFrame, idCol: String, textCol: String,
                            registryDir: String, regionsDir: String,
                            k: Int = 7, w: Int = 4, gapMax: Int = 10,
                            minFps: Int = 2,
                            compactAfterFiles: Int = 64): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      val spark = batch.sparkSession
      BatchCommit.rollback(spark, regionsDir, bid)
      BatchCommit.rollback(spark, registryDir, bid)
      val registry = BatchCommit.readOr(spark, registryDir,
        StructType(Seq(StructField("fp", StringType))))
      // persist the batch's fingerprint rows: regions and delta both
      // consume them, and the native winnowing scan is the expensive part
      val fps = graft.text.Winnowing.fingerprintRows(
        batch, idCol, textCol, k, w).persist()
      try {
        val (regions, delta) = graft.text.Winnowing.incrementalFromFps(
          fps, registry, idCol, k, gapMax, minFps)
        BatchCommit.append(regions, regionsDir, bid)
        Failpoints.hit("regions:mid", registryDir)
        BatchCommit.append(delta, registryDir, bid)
        Failpoints.hit("regions:post", registryDir)
      } finally { fps.unpersist(); () }
      BatchCommit.maybeCompact(spark, registryDir, compactAfterFiles); ()
    }

  /** The FULL curation funnel as a daily-crawl stream — the streaming twin
    * of d25 ([[graft.queries.CurationQ.modelFunnel]]): every micro-batch
    * runs model gate → exact dedup → segment dedup, each stateful stage
    * probing an append-only parquet registry instead of rescanning the
    * accumulated corpus.
    *
    *  - GATE: the broadcast hashed-n-gram scorer — stateless, scan-speed.
    *  - EXACT DEDUP: a content-fingerprint registry. The batch semantics
    *    keep the min-id qualifying doc per fingerprint; with id-ordered
    *    arrival (the same contract [[segmentDedupStream]] documents) the
    *    first qualifying arrival IS that min, so registry membership
    *    reproduces the corpus-wide window exactly. Only GATED docs claim
    *    a fingerprint (a quality-failing copy must not shadow a later
    *    qualifying one) — mirroring the batch `min(CASE WHEN qual_ok...)`.
    *  - SEGMENTS: [[graft.text.Segments.incrementalFlags]] against the
    *    segment registry; docs keeping at least half their segments
    *    survive (d18/d25's `final_ok`).
    *
    * Writes surviving docs (doc_id, source, n_segs, n_kept, text_clean)
    * to `cleanDir`; appends both registry deltas LAST (the
    * recacheByPath ordering [[segmentDedupStream]] documents).
    * DocStreamsSpec replays three drops and proves the survivors equal
    * the batch funnel's. */
  def curationFunnelStream(docStream: DataFrame, idCol: String, textCol: String,
                           segTokens: Int,
                           model: graft.functions.NgramScoreFn.Model,
                           threshold: Long,
                           fpRegistryDir: String, segRegistryDir: String,
                           cleanDir: String,
                           compactAfterFiles: Int = 64): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      val spark = batch.sparkSession
      BatchCommit.rollback(spark, cleanDir, bid)
      BatchCommit.rollback(spark, segRegistryDir, bid)
      BatchCommit.rollback(spark, fpRegistryDir, bid)
      def registry(dir: String, colName: String): DataFrame =
        BatchCommit.readOr(spark, dir,
          StructType(Seq(StructField(colName, BinaryType))))
      val fpReg = registry(fpRegistryDir, "fp")
      val segReg = registry(segRegistryDir, "seg_fp")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__fp")).orderBy(col(idCol))
      // doc fingerprints: raw 16-byte digests (dedupImpactStream's
      // convention), probed via knownFpProbe's scale shape — the registry
      // is scanned in place against a broadcast of the batch's gated
      // fingerprints, never exchanged per drop (the old shape left-joined
      // the whole registry as the batch join's right side)
      val gated = graft.text.QualityClassifier
        .gate(batch, textCol, model, threshold)
        .withColumn("__fp",
          unhex(graft.text.TextMetrics.fingerprint(col(textCol))))
      val knownFps = knownFpProbe(fpReg,
        gated.select(col("__fp").as("fp")).distinct())
      val survivors = gated
        .join(broadcast(knownFps.select(col("fp").as("__fp"),
          lit(true).as("__known"))), Seq("__fp"), "left")
        .withColumn("__rk", row_number().over(w))
        .filter(col("__known").isNull && col("__rk") === 1)
        .persist()
      try {
        val flagged = graft.text.Segments.incrementalFlags(
          survivors, idCol, textCol, segReg, segTokens).persist()
        try {
          BatchCommit.append(
            graft.text.Segments.rebuildFromFlags(flagged, idCol)
              .filter(col("n_kept") * 2 >= col("n_segs"))
              .join(survivors.select(col(idCol), col("source")), Seq(idCol))
              .select(col(idCol), col("source"), col("n_segs"), col("n_kept"),
                col("text_clean")),
            cleanDir, bid)
          Failpoints.hit("funnel:mid1", cleanDir)
          // registries last (content-dependency ordering: survivors and
          // flagged read them, so their this-batch deltas land after)
          BatchCommit.append(
            graft.text.Segments.registryDelta(flagged), segRegistryDir, bid)
          Failpoints.hit("funnel:mid2", cleanDir)
          BatchCommit.append(
            survivors.select(col("__fp").as("fp")), fpRegistryDir, bid)
          Failpoints.hit("funnel:post", cleanDir)
        } finally { flagged.unpersist(); () }
      } finally { survivors.unpersist(); () }
      BatchCommit.maybeCompact(spark, segRegistryDir, compactAfterFiles)
      BatchCommit.maybeCompact(spark, fpRegistryDir, compactAfterFiles); ()
    }

  /** The batch-side closing rollup over [[contaminationStream]]'s output
    * (threshold + per-doc census) — shared by the spec and any sink-side
    * consumer, and textually identical to q50's tail. */
  def contaminationRollup(pairs: DataFrame, minShared: Long = 8): DataFrame =
    pairs.filter(col("n_shared") >= minShared)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bench_docs"), max(col("n_shared")).as("max_shared"))

  /** Streaming perceptual media dedup — the daily-drop twin of the m06
    * image-dedup flow: each batch's payloads are dHashed (the
    * [[graft.multimodal.Multimodal.dhashPartitions]] feature-extract
    * stage), hashes already in the `(dhash)` registry mark the image a
    * perceptual duplicate of history, first-in-batch keeps one copy per
    * new hash (min id, the corpus convention), survivors append to
    * `keptDir` and their hashes to the registry. Same append-only
    * registry state and keep-first/delta-last write order as
    * [[segmentDedupStream]] (the recacheByPath hazard documented there).
    * Expects a stream with (doc_id, payload binary). */
  def mediaDedupStream(mediaStream: DataFrame, registryDir: String,
                       keptDir: String,
                       compactAfterFiles: Int = 64): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    mediaStream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      val spark = batch.sparkSession
      BatchCommit.rollback(spark, keptDir, bid)
      BatchCommit.rollback(spark, registryDir, bid)
      val registry = BatchCommit.readOr(spark, registryDir,
        StructType(Seq(StructField("dhash", LongType))))
      val hashes = graft.multimodal.Multimodal.dhashPartitions(batch, spark)
        .toDF().persist()
      try {
        val fresh = hashes
          .join(registry.select(col("dhash")), Seq("dhash"), "left_anti")
        val kept = fresh
          .withColumn("__min",
            min(col("doc_id")).over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("dhash"))))
          .filter(col("doc_id") === col("__min")).drop("__min")
          .persist()
        try {
          BatchCommit.append(kept, keptDir, bid)
          Failpoints.hit("media:mid", registryDir)
          BatchCommit.append(kept.select("dhash").distinct(), registryDir, bid)
          Failpoints.hit("media:post", registryDir)
        } finally { kept.unpersist(); () }
      } finally { hashes.unpersist(); () }
      BatchCommit.maybeCompact(spark, registryDir, compactAfterFiles); ()
    }

  /** Streaming TEMPORAL video dedup — m14's daily-drop twin: each
    * batch's videos are container-walked and frame-dHashed
    * ([[graft.multimodal.Multimodal.MjpegAvi.frameHashes]]), shingled
    * into consecutive triples, and probed against the durable triple
    * registry accumulated from every previous drop — new-touching clip
    * pairs (new×stored and new×new) append to `pairsDir`, the batch's
    * distinct (doc, triple) rows append to the registry. Same shape as
    * [[EmbStreams.embeddingDedupStream]] with the triple as the bucket
    * key; same [[BatchCommit]] exactly-once replay protocol. Expects a
    * stream of (doc_id, payload binary). */
  def videoClipStream(mediaStream: DataFrame, registryDir: String,
                      pairsDir: String,
                      compactAfterFiles: Int = 64): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    mediaStream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      val spark = batch.sparkSession
      import spark.implicits._
      BatchCommit.rollback(spark, pairsDir, bid)
      BatchCommit.rollback(spark, registryDir, bid)
      val registry = BatchCommit.readOr(spark, registryDir,
        StructType(Seq(StructField("doc_id", LongType),
          StructField("d0", LongType), StructField("d1", LongType),
          StructField("d2", LongType))))
      val hashes = batch.select(col("doc_id"), col("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, b) =>
          graft.multimodal.Multimodal.MjpegAvi.frameHashes(id, b) })
        .toDF()
      val newTri = MultimodalQ.frameTriples(hashes).persist()
      try {
        // hot-triple cap (MultimodalQ.HotTripleCap) on the PROBE TARGET:
        // a ubiquitous triple with 10^6 registry members would emit 10^6
        // pairs for every new video landing in it.
        // distinct BEFORE counting: an intra-batch pair appears twice in
        // the probe join (each endpoint's new row matches the other's
        // stored ∪ new row) — without the (pair, triple) dedup the count
        // doubles
        val pairs = BucketPairs.probePairs(newTri, registry,
            MultimodalQ.TripleKeys, "doc_id", Some(MultimodalQ.HotTripleCap))
          .distinct()
          .groupBy("id_a", "id_b")
          .agg(count(lit(1)).as("n_shared"))
        BatchCommit.append(pairs, pairsDir, bid)
        Failpoints.hit("clip:mid", registryDir)
        BatchCommit.append(newTri, registryDir, bid)
        Failpoints.hit("clip:post", registryDir)
      } finally { newTri.unpersist(); () }
      BatchCommit.maybeCompact(spark, registryDir, compactAfterFiles); ()
    }

  /** One-shot build of the train corpus's distinct n-gram registry — the
    * stored state [[ngramContaminationStream]] probes. Rebuilt only when
    * the training corpus changes (a frozen artifact otherwise, like the
    * d24 fingerprint registry). */
  def buildNgramRegistry(train: DataFrame, idCol: String, textCol: String,
                         n: Int, registryDir: String): Unit =
    Shingles.explodeShingles(train, idCol, textCol, n)
      .select("shingle").distinct()
      .write.mode("overwrite").parquet(registryDir)

  /** Streaming n-gram contamination — q57's daily-drop twin: candidate
    * eval documents arrive as a stream and probe the STORED train-corpus
    * distinct-shingle registry. Per micro-batch: one shingle-keyed left
    * join + one doc-keyed aggregation, per-doc contamination fractions
    * appended to `outDir`. The registry is static reference state (the
    * train corpus is frozen when eval sets are screened), so unlike the
    * dedup streams there is no delta append — each batch's cost is the
    * batch's shingle volume, never history. */
  def ngramContaminationStream(docStream: DataFrame, idCol: String,
                               textCol: String, n: Int, registryDir: String,
                               outDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      val spark = batch.sparkSession
      BatchCommit.rollback(spark, outDir, bid)
      val registry = spark.read.parquet(registryDir)
      BatchCommit.append(
        Shingles.explodeShingles(batch, idCol, textCol, n)
          .join(registry.withColumn("__hit", lit(1)), Seq("shingle"), "left")
          .groupBy(idCol)
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_contaminated"))
          .withColumn("contamination",
            round(col("n_contaminated").cast("double") / col("n_grams").cast("double"), 9)),
        outDir, bid)
      Failpoints.hit("contam:post", outDir)
      ()
    }

  /** Streaming drift-histogram maintenance — d39b's registry twin
    * ([[graft.queries.TextQ.snapshotDriftStored]]): each arriving drop is
    * histogrammed over the (source × 200-char bin) grid and the counts
    * appended to `histDir` as delta rows whose per-key SUM is the
    * accumulated drop histogram — compaction-friendly (folding rows
    * preserves sums, the [[packingStream]] totals convention) and
    * exactly-once under [[BatchCommit]] (rollback then tagged append).
    * The PSI read side is [[driftReport]]; nothing here ever re-scans
    * earlier drops, so a day's maintenance costs one scan of that day's
    * files. Compaction folds delta rows per key (the registry stays
    * O(sources × bins) rows), and the [[IdWatermark]] guard enforces the
    * id-order contract the fold's correctness rests on. */
  def driftHistStream(docStream: DataFrame, histDir: String,
                      compactAfterFiles: Int = 64): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      val spark = batch.sparkSession
      BatchCommit.rollback(spark, histDir, bid)
      // id-space contract: a histogram registry stores sums, so an
      // interleaved/re-delivered id cannot be de-duplicated later — the
      // watermark guard refuses the batch loudly instead
      val wm = IdWatermark.guard(batch, "doc_id", histDir, bid)
      BatchCommit.append(
        batch.groupBy(col("source"),
            least(expr("n_chars div 200"), lit(24L)).as("chars_bin"))
          .agg(count(lit(1)).as("n")),
        histDir, bid)
      Failpoints.hit("drift:mid", histDir)
      IdWatermark.commit(spark, histDir, bid, wm, compactAfterFiles)
      Failpoints.hit("drift:post", histDir)
      BatchCommit.maybeCompact(spark, histDir, compactAfterFiles,
        foldKeys = Seq("source", "chars_bin"))
      ()
    }

  /** Streaming source-census maintenance — d38b's registry twin
    * ([[graft.store.Registries.sourceCensus]]): each drop's per-source
    * char/doc totals appended as delta rows whose per-key SUM is the
    * census (folded to one row per source at compaction, exactly-once
    * under [[BatchCommit]], id-order enforced by [[IdWatermark]]). The
    * nightly mixture re-plan (d38b) reads the summed census; it never
    * re-scans a single document. */
  def sourceCensusStream(docStream: DataFrame, censusDir: String,
                         compactAfterFiles: Int = 64): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      val spark = batch.sparkSession
      BatchCommit.rollback(spark, censusDir, bid)
      // id-space contract (see driftHistStream): refuse interleaved ids
      val wm = IdWatermark.guard(batch, "doc_id", censusDir, bid)
      BatchCommit.append(
        batch.groupBy("source")
          .agg(sum(col("n_chars")).as("n_chars_src"),
            count(lit(1)).as("n_docs_src")),
        censusDir, bid)
      Failpoints.hit("census:mid", censusDir)
      IdWatermark.commit(spark, censusDir, bid, wm, compactAfterFiles)
      Failpoints.hit("census:post", censusDir)
      BatchCommit.maybeCompact(spark, censusDir, compactAfterFiles,
        foldKeys = Seq("source"))
      ()
    }

  /** The PSI read over [[driftHistStream]]'s accumulated registry:
    * reference histogram (`(source, chars_bin, n_old)` — e.g.
    * [[graft.store.Registries.driftHistogram]]) vs the summed drop
    * deltas, full-outer-joined and run through the shared
    * [[graft.ops.Drift.psi]] arithmetic — converges to the batch
    * d39/d39b report once every drop has been folded in. */
  def driftReport(spark: SparkSession, refHist: DataFrame,
                  histDir: String): DataFrame = {
    // readOr: a report taken before the first drop lands (or mid-crash,
    // where readOr heals a half-swapped compaction first) sees an
    // empty delta table, not an exception — PSI then reads pure
    // reference occupancy
    val newHist = BatchCommit.readOr(spark, histDir,
        StructType(Seq(StructField("source", StringType),
          StructField("chars_bin", LongType), StructField("n", LongType))))
      .groupBy("source", "chars_bin").agg(sum(col("n")).as("n_new"))
    val h = refHist.join(newHist, Seq("source", "chars_bin"), "full_outer")
      .na.fill(0L, Seq("n_old", "n_new"))
    graft.ops.Drift.psi(h, Seq("source"), bins = 25)
      .select("source", "chars_bin", "n_old", "n_new", "psi_term", "psi_total")
  }

  /** Streaming interleaved multimodal packing — m15's daily-drop twin
    * ([[graft.queries.MultimodalQ.interleavedPacking]]): each arriving
    * drop of documents is costed by the SHARED stage (exact BPE tokens +
    * true container-walked frame counts, padded to the imgTok slot),
    * offset by the per-source running total stored in `totalsDir`, and
    * exploded by the SHARED item stage — so the stream cannot drift from
    * the batch op, and PackingSpec's alignment law carries over verbatim
    * (totals are sums of imgTok-multiples, so every stored base offset is
    * imgTok-aligned and no image ever straddles a pack boundary).
    *
    * The totals registry is append-only (source, delta) rows whose
    * per-source SUM is the current stream length — compaction-friendly
    * (folding rows preserves sums) and exactly-once under the
    * [[BatchCommit]] protocol; item rows land FIRST, the delta LAST, per
    * the recache-ordering rule every twin here follows. Equality with
    * the batch packing holds when drops respect id order per source —
    * the same append-stability contract as [[segmentDedupStream]]. */
  def packingStream(docStream: DataFrame, totalsDir: String, itemsDir: String,
                    imgTok: Int = 64, capacity: Int = 2048,
                    compactAfterFiles: Int = 64,
                    segmentRollBytes: Long = RolledSink.DefaultRollBytes): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require((capacity / imgTok) * imgTok > 0,
      s"capacity $capacity cannot fit one $imgTok-token image slot")
    docStream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      val spark = batch.sparkSession
      // itemsDir is a SEGMENT-ROLLED content sink ([[RolledSink]]; read
      // it back with [[RolledSink.read]]): items are output rows that
      // accumulate forever, so a flat dir's compaction would rewrite the
      // whole packed history every ~compactAfterFiles drops — prepare
      // heals the open segment, rolls it when over the threshold, and
      // returns the dir this batch appends to
      val itemsSeg = RolledSink.prepare(spark, itemsDir, bid, segmentRollBytes)
      BatchCommit.rollback(spark, totalsDir, bid)
      val totals = BatchCommit.readOr(spark, totalsDir,
          StructType(Seq(StructField("source", StringType),
            StructField("delta", LongType))))
        .groupBy("source").agg(sum(col("delta")).as("__base"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val perDoc = graft.queries.MultimodalQ.packingCosts(spark, batch, imgTok)
        .join(totals, Seq("source"), "left")
        .withColumn("doc_start",
          coalesce(col("__base"), lit(0L)) +
            coalesce(sum(col("doc_cost_pad")).over(w), lit(0L)))
        .persist()
      try {
        // content-sink file sizing: the item explode inherits the batch's
        // task layout — ~one file per TASK per drop (the r12 soak
        // measured ~19/drop, 1,900 files by drop 100, unbounded).
        // Coalesce (narrow, no shuffle) to ~target-row files: one file
        // per micro-batch drop, more only when a bulk drop's volume
        // genuinely needs them.
        val nOut = math.min(512L,
          perDoc.count() / PackItemFileTargetRows + 1L).toInt
        BatchCommit.append(
          graft.queries.MultimodalQ.packItems(perDoc, imgTok, capacity)
            .coalesce(nOut),
          itemsSeg, bid)
        Failpoints.hit("pack:mid", totalsDir)
        BatchCommit.append(
          perDoc.groupBy("source").agg(sum(col("doc_cost_pad")).as("delta")),
          totalsDir, bid)
        Failpoints.hit("pack:post", totalsDir)
      } finally { perDoc.unpersist(); () }
      BatchCommit.maybeCompact(spark, totalsDir, compactAfterFiles,
        foldKeys = Seq("source"))
      // row-preserving content compaction under the same marker protocol
      // (no foldKeys — items are output data, not deltas), confined to
      // the OPEN segment: sealed segments are immutable, so the rewrite
      // unit is bounded by segmentRollBytes however long the stream has
      // run — per-compaction cost is O(open segment), not O(history)
      BatchCommit.maybeCompact(spark, itemsSeg, compactAfterFiles)
      ()
    }
  }

  /** Target rows per packed-items file (items are narrow rows; this
    * lands files near the parquet sweet spot). A normal micro-batch is
    * far below it and writes ONE file per drop. */
  private[graft] val PackItemFileTargetRows = 2L * 1000 * 1000

  /** Ceiling on the batch row count below which the dedup-impact probe
    * broadcasts the batch's distinct fingerprints (~24 B/row as raw
    * 16-byte digests → ~50 MB at the cap). A normal micro-batch is orders of magnitude under it;
    * an anomalous bulk drop above it falls back to the shuffle
    * semi-join, which degrades gracefully where a broadcast would blow
    * the driver/broadcast memory limit. */
  private[graft] val BroadcastProbeMaxFps = 2L * 1000 * 1000

  /** The registry-side probe of [[dedupImpactStream]], split out so the
    * plan gate can pin its scale shape: the stored fingerprint registry
    * is SCANNED IN PLACE and semi-joined against a broadcast of the
    * batch's (distinct, batch-bounded) fingerprints — the registry is
    * never exchanged, never sorted, never broadcast, so the per-drop
    * probe cost is one co-located scan regardless of corpus size. The
    * output (registry fps present in the batch) is at most batch-sized
    * and safe to broadcast back onto the batch. `bcast=false` is the
    * anomalous-bulk-drop arm (batch above [[BroadcastProbeMaxFps]]
    * rows): the same semi-join without the hint, letting Spark shuffle
    * both sides rather than materializing an over-cap broadcast. */
  private[graft] def knownFpProbe(stored: DataFrame,
                                  batchFps: DataFrame,
                                  bcast: Boolean = true): DataFrame =
    stored.join(if (bcast) broadcast(batchFps) else batchFps,
        Seq("fp"), "left_semi")
      .select(col("fp"), lit(1).as("__known"))

  /** Streaming exact-dedup IMPACT accounting — d36's daily-drop twin and
    * the doc-level exact-dedup flow itself: each drop's fingerprints
    * probe the STORED fingerprint registry (history is never re-hashed),
    * a doc is kept iff its fingerprint is globally new AND it is the
    * drop's lowest-id holder of it, and two append-only sinks record the
    * outcome — per-source impact DELTAS (additive: summing them per
    * source reproduces d36's n_docs/n_kept/chars columns when drops
    * arrive in doc_id order, the first-seen canonical then being the
    * global min) and the (fp, canonical_id) registry delta. Write order
    * follows the twins' replay rule (impact first, registry delta LAST):
    * every stage's content depends only on the pre-batch registry, so a
    * crashed batch recomputes identically. Registry cost: one narrow row
    * per DISTINCT document ever seen; the probe is a batch-sized hash
    * join against it.
    *
    * fpDir is a SEGMENT-ROLLED sink ([[RolledSink]]; read it back with
    * [[RolledSink.read]]): the registry grows forever and nothing folds
    * (every row is a distinct fp), so a flat dir's compaction would
    * rewrite the whole accumulated registry every ~compactAfterFiles
    * drops — O(history) per fire, amortized maintenance growing with
    * stream age (the r13 cellLabel/packing economics, fixed the same
    * way). Rolled, one compaction rewrites at most segmentRollBytes and
    * each sealed segment stays fp-sorted for row-group pruning; the
    * probe's read unions the segment dirs through ONE parquet relation,
    * so its gated plan shape (in-place scan, no registry exchange) is
    * unchanged. */
  def dedupImpactStream(docStream: DataFrame, fpDir: String, impactDir: String,
                        compactAfterFiles: Int = 64,
                        segmentRollBytes: Long = RolledSink.DefaultRollBytes)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      val spark = batch.sparkSession
      BatchCommit.rollback(spark, impactDir, bid)
      // rolled-sink entry: sweeps seal stagings, heals the open segment,
      // rolls this batch back in it, and seals/rolls BEFORE any append —
      // a replayed batch's partial files are always in the open segment
      val fpSeg = RolledSink.prepare(spark, fpDir, bid, segmentRollBytes)
      val stored = RolledSink.readOr(spark, fpDir,
        StructType(Seq(StructField("fp", BinaryType),
          StructField("canonical_id", LongType))))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      // fp is stored as the RAW 16-byte digest, not the 32-char hex string
      // the query-surface twins print: the registry grows one row per
      // distinct document FOREVER and is re-scanned per drop, so the key
      // column's width is the probe's per-drop byte bill — binary halves
      // it (guide: shuffle/scan fewer bytes, narrower types). unhex() of
      // the codegen'd md5 keeps the digest bit-identical to d36's.
      val fped = batch
        .select(col("doc_id"), col("source"), col("n_chars"),
          unhex(graft.text.TextMetrics.fingerprint(col("text"))).as("fp"))
        .persist()
      // probe WITHOUT ever shuffling the registry: the registry side is a
      // co-located scan semi-joined against a broadcast of the BATCH's
      // fingerprints (batch-bounded, tiny), and the resulting known-set
      // (<= batch distinct fps) broadcasts back onto the batch. The r11
      // shape left-joined the batch against the raw registry — a
      // registry-sized shuffle+sort per drop, the one soak flow whose
      // latency grew with the accumulated corpus (886 -> 1050 ms over
      // 100 drops). Per-drop cost is now one exchange-free registry scan;
      // compaction keeps that scan range-sorted by fp (sortKeys below) so
      // row-group stats can prune it at deployment scale.
      // broadcast guard: the probe (and the known-set join-back) only
      // broadcast while the batch is provably small; an anomalous bulk
      // drop takes the shuffle arm instead of risking the broadcast
      // limit. The count reads the PERSISTED fingerprint frame (1:1 with
      // batch rows), which also warms the cache every later stage reuses
      // — counting the raw batch would recompute it from source for the
      // guard alone.
      try {
        val smallBatch = fped.count() <= BroadcastProbeMaxFps
        val knownFps = knownFpProbe(stored, fped.select("fp").distinct(),
          bcast = smallBatch)
        val tagged = fped
          .withColumn("__batch_canon", min(col("doc_id")).over(w))
          .join(if (smallBatch) broadcast(knownFps) else knownFps,
            Seq("fp"), "left")
          .withColumn("__keep",
            col("__known").isNull && col("doc_id") === col("__batch_canon"))
          .persist()
        try {
          BatchCommit.append(
            tagged.groupBy("source").agg(
              count(lit(1)).as("n_docs"),
              sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
              sum(col("n_chars")).as("chars_total"),
              sum(when(!col("__keep"), col("n_chars")).otherwise(0L)).as("chars_removed")),
            impactDir, bid)
          Failpoints.hit("impact:mid", fpSeg)
          BatchCommit.append(
            tagged.filter(col("__keep"))
              .select(col("fp"), col("doc_id").as("canonical_id")),
            fpSeg, bid)
          Failpoints.hit("impact:post", fpSeg)
        } finally { tagged.unpersist(); () }
      } finally { fped.unpersist(); () }
      // compaction unit is the OPEN segment — bounded by segmentRollBytes
      // however long the stream has run; sealed segments stay immutable
      BatchCommit.maybeCompact(spark, fpSeg, compactAfterFiles,
        sortKeys = Seq("fp"))
      BatchCommit.maybeCompact(spark, impactDir, compactAfterFiles,
        foldKeys = Seq("source"))
      ()
    }
}
