package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{DocStreams, EmbStreams, EventStreams, Failpoints}

/** Kill-between-writes adversary for EVERY streaming twin: arm a
  * failpoint at each window between a flow's durable write steps, crash
  * the micro-batch there (steady-state batch 1, so registries are
  * non-empty), restart from the same checkpoint, and prove the final
  * durable state is byte-identical to an uncrashed reference run.
  *
  * This is the contract the BatchCommit protocol (rollback on entry,
  * tagged files, done-marker commit point) exists to provide: exactly-
  * once sink semantics over plain parquet dirs, including the poisoned-
  * replay windows where a batch re-runs against registries its first
  * attempt already mutated. */
class CrashRecoverySpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(tag: String) = Files.createTempDirectory(tag).toString

  /** Stage `df` as two id-ranged drops with distinct mtimes, so
    * maxFilesPerTrigger=1 + AvailableNow yields two ordered batches. */
  private def stageTwoDrops(df: DataFrame, idCol: String, split: Long): String = {
    val dir = tmp("cr-stage")
    for ((lo, hi) <- Seq((Long.MinValue, split), (split, Long.MaxValue))) {
      df.filter(col(idCol) >= lo && col(idCol) < hi)
        .repartition(1).write.mode("append").parquet(dir)
      Thread.sleep(1100)
    }
    dir
  }

  /** Visible-parquet state of a dir as a canonical row-string multiset
    * (toJSON is schema-ordered and deterministic per flow). */
  private def dirState(dir: String): Map[String, Int] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def visibleParquet(st: org.apache.hadoop.fs.FileStatus) =
      st.isFile && st.getPath.getName.endsWith(".parquet") &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith(".")
    // rolled sinks keep their data in seg-NNNNN subdirs — read the union
    val segPaths =
      if (!fs.exists(p)) Nil
      else graft.streaming.RolledSink.dataPaths(spark, dir)
    if (segPaths.nonEmpty)
      return spark.read.parquet(segPaths: _*).toJSON.collect()
        .groupBy(identity).view.mapValues(_.length).toMap
    // data may sit one level down in cell=/… partition dirs
    val hasData = fs.exists(p) && fs.listStatus(p).exists { st =>
      visibleParquet(st) ||
        (st.isDirectory && st.getPath.getName.contains("=") &&
          fs.listStatus(st.getPath).exists(visibleParquet))
    }
    if (!hasData) Map.empty
    else spark.read.parquet(dir).toJSON.collect()
      .groupBy(identity).view.mapValues(_.length).toMap
  }

  /** One streaming twin under test.
    * @param run  start the flow over `stageDir` with state under `base`
    *             and the given checkpoint; block until termination.
    * @param stateDirs dirs under base whose content defines convergence */
  private case class Flow(name: String, labels: Seq[String],
                          mkStage: () => String,
                          prep: String => Unit,
                          run: (String, String, String) => Unit,
                          stateDirs: Seq[String])

  private def await(w: org.apache.spark.sql.streaming.DataStreamWriter[Row],
                    ckpt: String): Unit =
    w.option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
      .start().awaitTermination()

  private lazy val docs = Tables(spark, sf).documents
  private lazy val model = graft.text.QualityClassifier.seededModel()

  private def docFlows: Seq[Flow] = {
    def docStream(stage: String) =
      DocStreams.readDocumentStream(spark, stage, maxFilesPerTrigger = Some(1))
    Seq(
      Flow("segmentDedupStream",
        Seq("segdedup:mid", "segdedup:post"),
        () => stageTwoDrops(docs, "doc_id", 150L),
        _ => (),
        (stage, base, ckpt) => await(DocStreams.segmentDedupStream(
          docStream(stage), "doc_id", "text", 3, s"$base/reg", s"$base/clean"), ckpt),
        Seq("reg", "clean")),
      Flow("segmentDedupStream+compactEveryBatch",
        // the trickiest composite: auto-compaction fires after EVERY
        // batch (threshold 0), so a replayed batch finds its tagged
        // files compacted away and must rely on the carried done-marker
        // to skip — a lost marker would re-append rows compaction
        // already folded in
        Seq("segdedup:mid", "segdedup:post", "segdedup:end"),
        () => stageTwoDrops(docs, "doc_id", 150L),
        _ => (),
        (stage, base, ckpt) => await(DocStreams.segmentDedupStream(
          docStream(stage), "doc_id", "text", 3, s"$base/reg", s"$base/clean",
          compactAfterFiles = 0), ckpt),
        Seq("reg", "clean")),
      Flow("repeatedRegionsStream",
        Seq("regions:mid", "regions:post"),
        () => stageTwoDrops(docs.select("doc_id", "text"), "doc_id", 150L),
        _ => (),
        (stage, base, ckpt) => await(DocStreams.repeatedRegionsStream(
          docStream(stage), "doc_id", "text", s"$base/reg", s"$base/out"), ckpt),
        Seq("reg", "out")),
      Flow("ngramContaminationStream",
        Seq("contam:post"),
        () => stageTwoDrops(docs.filter(col("doc_id") % 50 === 0), "doc_id", 150L),
        base => DocStreams.buildNgramRegistry(
          docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text", 5, s"$base/ngreg"),
        (stage, base, ckpt) => await(DocStreams.ngramContaminationStream(
          docStream(stage), "doc_id", "text", 5, s"$base/ngreg", s"$base/out"), ckpt),
        Seq("out")),
      Flow("driftHistStream",
        Seq("drift:mid", "drift:post"),
        () => stageTwoDrops(docs.filter(col("doc_id") % 2 === 1), "doc_id", 150L),
        _ => (),
        (stage, base, ckpt) => await(DocStreams.driftHistStream(
          docStream(stage), s"$base/hist"), ckpt),
        Seq("hist", "hist__idwm")),
      Flow("sourceCensusStream",
        Seq("census:mid", "census:post"),
        () => stageTwoDrops(docs, "doc_id", 150L),
        _ => (),
        (stage, base, ckpt) => await(DocStreams.sourceCensusStream(
          docStream(stage), s"$base/census"), ckpt),
        Seq("census", "census__idwm")),
      Flow("driftHistStream+compactEveryBatch",
        // delta-SUM registries under forced per-batch compaction: a
        // replayed batch finds its tagged delta files already FOLDED
        // (sum-by-key) and must skip on the carried done-marker — a lost
        // marker would double-count the batch's histogram deltas
        Seq("drift:mid", "drift:post"),
        () => stageTwoDrops(docs.filter(col("doc_id") % 2 === 1), "doc_id", 150L),
        _ => (),
        (stage, base, ckpt) => await(DocStreams.driftHistStream(
          docStream(stage), s"$base/hist", compactAfterFiles = 0), ckpt),
        Seq("hist", "hist__idwm")),
      Flow("curationFunnelStream",
        Seq("funnel:mid1", "funnel:mid2", "funnel:post"),
        () => stageTwoDrops(docs, "doc_id", 150L),
        _ => (),
        (stage, base, ckpt) => await(DocStreams.curationFunnelStream(
          docStream(stage), "doc_id", "text", 3, model, 0L,
          s"$base/fpreg", s"$base/segreg", s"$base/clean"), ckpt),
        Seq("fpreg", "segreg", "clean")),
      Flow("clusterMaintStream",
        Seq("cluster:mid1", "cluster:mid2", "cluster:post"),
        () => stageTwoDrops(docs, "doc_id", 150L),
        _ => (),
        (stage, base, ckpt) => await(DocStreams.clusterMaintStream(
          docStream(stage), "doc_id", "text",
          s"$base/sig", s"$base/bands", s"$base/labels"), ckpt),
        Seq("sig", "bands", "labels")),
      Flow("mediaDedupStream",
        Seq("media:mid", "media:post"),
        () => {
          import spark.implicits._
          val media = docs
            .select(col("doc_id"), length(col("text").cast("binary")).as("n"))
            .as[(Long, Long)]
            .map { case (id, n) =>
              (id, graft.multimodal.Multimodal.CompressedImage.renderPattern(
                n, (n % 13).toInt + 4, ((n / 13) % 11).toInt + 4)) }
            .toDF("doc_id", "payload")
          stageTwoDrops(media, "doc_id", 150L)
        },
        _ => (),
        (stage, base, ckpt) => await(DocStreams.mediaDedupStream(
          spark.readStream.schema("doc_id LONG, payload BINARY")
            .option("maxFilesPerTrigger", 1).parquet(stage),
          s"$base/reg", s"$base/kept"), ckpt),
        Seq("reg", "kept")),
      Flow("videoClipStream",
        Seq("clip:mid", "clip:post"),
        () => {
          import spark.implicits._
          val media = docs
            .select(col("doc_id"), length(col("text").cast("binary")).as("n"))
            .as[(Long, Long)]
            .map { case (id, n) =>
              (id, graft.multimodal.Multimodal.MjpegAvi.renderAvi(
                n, (n % 5).toInt + 2, (n % 13).toInt + 4,
                ((n / 13) % 11).toInt + 4)) }
            .toDF("doc_id", "payload")
          stageTwoDrops(media, "doc_id", 150L)
        },
        _ => (),
        (stage, base, ckpt) => await(DocStreams.videoClipStream(
          spark.readStream.schema("doc_id LONG, payload BINARY")
            .option("maxFilesPerTrigger", 1).parquet(stage),
          s"$base/reg", s"$base/pairs"), ckpt),
        Seq("reg", "pairs")),
      Flow("embeddingDedupStream",
        Seq("emb:mid1", "emb:mid2", "emb:post"),
        () => stageTwoDrops(Tables(spark, sf).embeddings, "vec_id", 50L),
        _ => (),
        (stage, base, ckpt) => await(EmbStreams.embeddingDedupStream(
          EmbStreams.readEmbeddingStream(spark, stage, maxFilesPerTrigger = Some(1)),
          s"$base/buckets", s"$base/vecs", s"$base/pairs"), ckpt),
        Seq("buckets", "vecs", "pairs")),
      Flow("packingStream",
        Seq("pack:mid", "pack:post"),
        () => stageTwoDrops(docs, "doc_id", 150L),
        _ => (),
        (stage, base, ckpt) => await(DocStreams.packingStream(
          docStream(stage), s"$base/totals", s"$base/items"), ckpt),
        Seq("totals", "items")),
      Flow("dedupImpactStream",
        Seq("impact:mid", "impact:post"),
        // plant duplicates across the two drops (sf0.001 has none): the
        // second drop re-carries three first-drop texts under new ids,
        // so the replayed windows hit a NON-EMPTY known-fp probe
        () => stageTwoDrops(docs.unionByName(
          docs.filter(col("doc_id") < 3).select(
            (col("doc_id") + 500L).as("doc_id"), col("text"), col("lang"),
            lit("srcMirror").as("source"), col("n_chars"))), "doc_id", 150L),
        _ => (),
        (stage, base, ckpt) => await(DocStreams.dedupImpactStream(
          docStream(stage), s"$base/fp", s"$base/impact"), ckpt),
        Seq("fp", "impact")),
      Flow("cellLabelStream",
        Seq("celllabel:mid", "celllabel:post"),
        () => stageTwoDrops(
          Tables(spark, sf).embeddings.filter(col("vec_id") % 2 === 0),
          "vec_id", 50L),
        _ => (),
        (stage, base, ckpt) => await(EmbStreams.cellLabelStream(
          EmbStreams.readEmbeddingStream(spark, stage, maxFilesPerTrigger = Some(1)),
          graft.store.Registries.kmeansCentroids(spark, sf),
          s"$base/labels"), ckpt),
        Seq("labels", "labels__idwm")),
      Flow("ivfCodesIngestStream",
        // the partitioned-append commit windows: after the staging write,
        // mid per-cell moves, just before the root marker, and post-commit
        Seq("commit:staged", "commit:moved-one", "commit:pre-marker",
          "commit:marker-created", "ivfcodes:post"),
        () => stageTwoDrops(Tables(spark, sf).embeddings, "vec_id", 50L),
        _ => (),
        (stage, base, ckpt) => {
          val emb = Tables(spark, sf).embeddings
            .select(col("vec_id").as("id"), col("embedding").as("vec"))
          val cents = graft.similarity.IvfPq.seedCentroids(emb, nCells = 8)
          val cb = graft.similarity.IvfPq.residualCodebook(
            emb, cents, dims = 64, m = 8, seedFrom = 8)
          await(EmbStreams.ivfCodesIngestStream(
            EmbStreams.readEmbeddingStream(spark, stage, maxFilesPerTrigger = Some(1)),
            cents, cb, s"$base/codes"), ckpt)
        },
        Seq("codes")))
  }

  private def runFlowMatrix(f: Flow): Unit = {
    // uncrashed reference state, one per flow
    val refBase = tmp(s"cr-ref-${f.name}")
    f.prep(refBase)
    f.run(f.mkStage(), refBase, tmp("cr-refckpt"))
    val refState = f.stateDirs.map(d => d -> dirState(s"$refBase/$d")).toMap
    assert(refState.values.exists(_.nonEmpty), s"${f.name}: vacuous reference")

    for (label <- f.labels) {
      val base = tmp(s"cr-${f.name}")
      f.prep(base)
      val ckpt = tmp("cr-ckpt")
      val stage = f.mkStage()
      // crash at this window in the SECOND micro-batch (steady state:
      // registries non-empty, the poisoned-replay windows are reachable)
      val hits = new java.util.concurrent.atomic.AtomicInteger(0)
      Failpoints.hook = (l, d) =>
        if (l == label && d.startsWith(base) && hits.incrementAndGet() == 2)
          throw new RuntimeException(s"injected crash at $label")
      val crashed =
        try { f.run(stage, base, ckpt); false }
        catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
        finally { Failpoints.hook = (_, _) => () }
      assert(crashed, s"${f.name}/$label: failpoint did not fire on batch 1")

      // restart from the same checkpoint: the failed batch replays
      f.run(stage, base, ckpt)
      for (d <- f.stateDirs)
        assert(dirState(s"$base/$d") == refState(d),
          s"${f.name}/$label: state '$d' diverged from the uncrashed run")
    }
  }

  for (f <- docFlows)
    test(s"${f.name}: crash at every write window, replay converges") {
      runFlowMatrix(f)
    }

  test("curation funnel: DOUBLE crash — two different windows across " +
       "successive replays of the same batch — still converges") {
    // the matrix kills each window once; this kills batch 1 at mid1,
    // then kills its REPLAY at mid2 (the replay now runs with the clean
    // write already committed and must skip it, roll back nothing, and
    // crash later), then completes on the third attempt. Exercises the
    // skip-then-crash interaction no single-crash case reaches.
    val f = docFlows.find(_.name == "curationFunnelStream").get
    val refBase = tmp("cr2-ref")
    f.run(f.mkStage(), refBase, tmp("cr2-refckpt"))
    val refState = f.stateDirs.map(d => d -> dirState(s"$refBase/$d")).toMap

    val base = tmp("cr2")
    val ckpt = tmp("cr2-ckpt")
    val stage = f.mkStage()
    def crashRun(label: String, nth: Int): Unit = {
      val hits = new java.util.concurrent.atomic.AtomicInteger(0)
      Failpoints.hook = (l, d) =>
        if (l == label && d.startsWith(base) && hits.incrementAndGet() == nth)
          throw new RuntimeException(s"injected crash at $label")
      val crashed =
        try { f.run(stage, base, ckpt); false }
        catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
        finally { Failpoints.hook = (_, _) => () }
      assert(crashed, s"double-crash fixture: $label did not fire")
    }
    crashRun("funnel:mid1", 2) // batch 1, after the clean write
    crashRun("funnel:mid2", 1) // batch 1 REPLAY, after the seg delta
    f.run(stage, base, ckpt)   // third attempt completes
    for (d <- f.stateDirs)
      assert(dirState(s"$base/$d") == refState(d),
        s"double-crash: state '$d' diverged from the uncrashed run")
  }

  test("write-only compacting sinks: a crash leaving only the __precompact " +
       "aside (mid-compaction-swap) heals at batch entry — driftHist, " +
       "sourceCensus, cellLabel") {
    // The dedupImpactStream hazard, aimed at the three flows that compact
    // a dir nothing ever readOr's: crash batch 1 after its append, then
    // simulate compact dying between its two renames (live dir gone, the
    // __precompact aside holding ALL accumulated state). Without an
    // entry-time BatchCommit.recover the replay recreates an empty live
    // dir, and the forced per-batch compact (threshold 0) then reads
    // 'live intact' and deletes the aside — silently losing every earlier
    // batch. With the heal, the replay converges to the uncrashed run.
    case class Sink(name: String, label: String, mkStage: () => String,
                    run: (String, String, String) => Unit, sub: String)
    def docStream(stage: String) =
      DocStreams.readDocumentStream(spark, stage, maxFilesPerTrigger = Some(1))
    val sinks = Seq(
      Sink("driftHistStream", "drift:post",
        () => stageTwoDrops(docs.filter(col("doc_id") % 2 === 1), "doc_id", 150L),
        (stage, base, ckpt) => await(DocStreams.driftHistStream(
          docStream(stage), s"$base/hist", compactAfterFiles = 0), ckpt),
        "hist"),
      Sink("sourceCensusStream", "census:post",
        () => stageTwoDrops(docs, "doc_id", 150L),
        (stage, base, ckpt) => await(DocStreams.sourceCensusStream(
          docStream(stage), s"$base/census", compactAfterFiles = 0), ckpt),
        "census"),
      // the rolled label sink compacts its OPEN SEGMENT, so the mid-swap
      // state a compact crash really produces is seg-00000 renamed aside
      // — the simulation (and the state compare) target the segment dir
      Sink("cellLabelStream", "celllabel:post",
        () => stageTwoDrops(
          Tables(spark, sf).embeddings.filter(col("vec_id") % 2 === 0),
          "vec_id", 50L),
        (stage, base, ckpt) => await(EmbStreams.cellLabelStream(
          EmbStreams.readEmbeddingStream(spark, stage, maxFilesPerTrigger = Some(1)),
          graft.store.Registries.kmeansCentroids(spark, sf),
          s"$base/labels", compactAfterFiles = 0), ckpt),
        "labels/seg-00000"))
    for (s <- sinks) {
      val refBase = tmp(s"crsw-ref-${s.name}")
      s.run(s.mkStage(), refBase, tmp("crsw-refckpt"))
      val refState = dirState(s"$refBase/${s.sub}")
      assert(refState.nonEmpty, s"${s.name}: vacuous reference")

      val base = tmp(s"crsw-${s.name}")
      val ckpt = tmp("crsw-ckpt")
      val stage = s.mkStage()
      val hits = new java.util.concurrent.atomic.AtomicInteger(0)
      Failpoints.hook = (l, d) =>
        if (l == s.label && d.startsWith(base) && hits.incrementAndGet() == 2)
          throw new RuntimeException(s"injected crash at ${s.label}")
      val crashed =
        try { s.run(stage, base, ckpt); false }
        catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
        finally { Failpoints.hook = (_, _) => () }
      assert(crashed, s"${s.name}: failpoint did not fire on batch 1")

      // simulate the mid-swap window: live renamed aside, nothing else
      val sinkDir = s"$base/${s.sub}"
      val live = new org.apache.hadoop.fs.Path(sinkDir)
      val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
      val tmpDir = new org.apache.hadoop.fs.Path(sinkDir + "__compacting")
      if (fs.exists(tmpDir)) { fs.delete(tmpDir, true); () }
      assert(fs.rename(live, new org.apache.hadoop.fs.Path(sinkDir + "__precompact")),
        s"${s.name}: could not stage the mid-swap state")

      s.run(stage, base, ckpt) // restart: batch 1 replays over healed state
      assert(dirState(sinkDir) == refState,
        s"${s.name}: mid-compaction-swap crash lost accumulated state")
    }
  }

  test("ingestStream: crash after the store merge replays idempotently") {
    val dropDir = tmp("cr-ing")
    val ckpt = tmp("cr-ing-ckpt")
    val store = new graft.store.MetadataStore(spark, tmp("cr-ing-store"))
    // two drops so batch 1 exists
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(dropDir, "a.parquet"))
    Thread.sleep(1100)
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(dropDir, "b.parquet"))
    // one file per micro-batch: the two drops carry the SAME event ids, so
    // they must land in separate batches for the anti-join to see history
    // (readEventStream has no trigger knob; rebuild its projection here)
    def run(): Unit = EventStreams.ingestStream(
      spark.readStream.schema(EventStreams.eventSchema)
        .option("maxFilesPerTrigger", 1).parquet(dropDir)
        .withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000"))
        .withColumn("event_time", timestamp_micros(expr("ts div 1000"))),
      store, "events", Seq("event_id"), ckpt).awaitTermination()
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    Failpoints.hook = (l, d) =>
      if (l == "ingest:post" && d == ckpt && hits.incrementAndGet() == 2)
        throw new RuntimeException("injected crash at ingest:post")
    val crashed =
      try { run(); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
      finally { Failpoints.hook = (_, _) => () }
    assert(crashed)
    run()
    assert(store.read("events").count() == Tables(spark, sf).events.count(),
      "replayed ingest duplicated or lost rows")
  }

  test("ingestStreamBucketed: crash after the MERGE replays idempotently") {
    import spark.implicits._
    val dropDir = tmp("cr-ingb")
    val ckpt = tmp("cr-ingb-ckpt")
    val store = new graft.store.BucketedStore(spark, tmp("cr-ingb-store"),
      numBuckets = 8)
    (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(1).write.parquet(s"$dropDir/d1")
    Thread.sleep(1100)
    Seq((5L, "v5b"), (999L, "new")).toDF("id", "v")
      .repartition(1).write.parquet(s"$dropDir/d2")
    def run(): Unit = EventStreams.ingestStreamBucketed(
      spark.readStream.schema("id LONG, v STRING")
        .option("maxFilesPerTrigger", 1).parquet(dropDir + "/*"),
      store, "t", Seq("id"), ckpt).awaitTermination()
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    Failpoints.hook = (l, d) =>
      if (l == "ingestb:post" && d == ckpt && hits.incrementAndGet() == 2)
        throw new RuntimeException("injected crash at ingestb:post")
    val crashed =
      try { run(); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
      finally { Failpoints.hook = (_, _) => () }
    assert(crashed)
    run()
    val rows = store.read("t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 201 && rows(5L) == "v5b" && rows(999L) == "new",
      "replayed bucketed MERGE diverged")
  }
}
