package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.DocStreams

/** The incremental contamination scan converges to the batch q50 result
  * when the training corpus is replayed as a multi-batch file stream. */
class DocStreamsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("streaming contamination scan converges to the q50 batch result") {
    val docs = Tables(spark, sf).documents
    // stage the training split as several files so AvailableNow +
    // maxFilesPerTrigger=1 genuinely exercises multi-batch incremental
    // state, not a single-batch degenerate run
    val stageDir = java.nio.file.Files.createTempDirectory("doc-stream").toString
    docs.filter(col("doc_id") % 50 =!= 0).repartition(3)
      .write.mode("overwrite").parquet(stageDir)

    val stream = DocStreams.readDocumentStream(spark, stageDir,
      maxFilesPerTrigger = Some(1))
    val pairs = DocStreams.contaminationStream(
      stream, docs.filter(col("doc_id") % 50 === 0))
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val q = pairs.writeStream
      .outputMode(OutputMode.Complete())
      .format("memory").queryName("contam_pairs")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 2,
      "expected a multi-batch incremental run, got a single micro-batch")

    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bench_docs"), r.getAs[Long]("max_shared")))).toMap
    val streamed = toMap(DocStreams.contaminationRollup(spark.table("contam_pairs")))
    val batch = toMap(SparkEntry.queries("q50_contamination")(spark, sf))
    assert(streamed == batch,
      "incremental contamination diverged from the batch oracle query")
    assert(batch.nonEmpty, "fixture produced no contaminated docs — vacuous test")
  }

  test("streaming dedup-impact converges to batch d36 under id-ordered drops") {
    // sf0.001 has no exact duplicates — plant cross-source AND
    // intra-drop copies with ids ABOVE every original, so id-ordered
    // arrival makes first-seen == global-min canonical (the equality
    // contract's precondition) and both probe shapes are non-vacuous
    val base = Tables(spark, sf).documents
    val copies = base.filter(col("doc_id").isin(3L, 7L, 11L))
      .select((col("doc_id") + 600L).as("doc_id"), col("text"), col("lang"),
        lit("srcMirror").as("source"), col("n_chars"))
    val intra = {
      import spark.implicits._
      // a brand-new text duplicated WITHIN one drop: exercises the
      // intra-batch canonical (min doc_id in the window), which the
      // known-fp probe alone never reaches
      Seq((800L, "brand new duplicated text", "en", "srcMirror", 25L),
        (801L, "brand new duplicated text", "en", "srcMirror", 25L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    }
    val all = base.unionByName(copies).unionByName(intra)

    val stageDir = java.nio.file.Files.createTempDirectory("imp-stream").toString
    for ((lo, hi) <- Seq((0L, 150L), (150L, 500L), (500L, 10000L))) {
      all.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .repartition(1).write.mode("append").parquet(stageDir)
      Thread.sleep(1100)
    }
    val tmp = java.nio.file.Files.createTempDirectory("imp-state").toString
    val q = DocStreams.dedupImpactStream(
        DocStreams.readDocumentStream(spark, stageDir, maxFilesPerTrigger = Some(1)),
        s"$tmp/fp", s"$tmp/impact")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3, "expected a multi-batch run")

    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("chars_total"), r.getAs[Long]("chars_removed")))).toMap
    val streamed = key(spark.read.parquet(s"$tmp/impact")
      .groupBy("source").agg(sum("n_docs").as("n_docs"),
        sum("n_kept").as("n_kept"), sum("chars_total").as("chars_total"),
        sum("chars_removed").as("chars_removed")))
    val batch = key(graft.queries.TextQ.dedupImpactFrom(all)
      .select("source", "n_docs", "n_kept", "chars_total", "chars_removed"))
    assert(streamed == batch,
      "summed streaming impact deltas diverged from batch d36")
    // mirror: 3 cross-source copies removed + the intra-drop pair keeps
    // exactly its lowest id — 5 docs total, 1 kept
    assert(batch("srcMirror")._1 == 5L && batch("srcMirror")._2 == 1L,
      s"planted dup accounting wrong: ${batch("srcMirror")}")
    // the registry holds exactly one row per distinct text ever seen
    // (fpDir is segment-rolled — read the segment union)
    assert(graft.streaming.RolledSink.read(spark, s"$tmp/fp").count() ==
      all.select("text").distinct().count())

    // plan gate on the probe's scale shape (the soak's one historically
    // rising flow): the registry side must be scanned in place — a
    // broadcast-semi-join probe, with NO exchange/sort of the registry.
    // Wall-clock soaks can't pin this on a noisy box; the plan can.
    // RolledSink.read feeds every segment path into ONE parquet relation,
    // so the rolled registry still probes as a single in-place FileScan.
    val probePlan = DocStreams.knownFpProbe(
      graft.streaming.RolledSink.read(spark, s"$tmp/fp"),
      all.select(unhex(md5(col("text"))).as("fp")).distinct())
      .queryExecution.executedPlan.toString
    assert(probePlan.contains("BroadcastHashJoin") &&
      probePlan.contains("LeftSemi"),
      "registry probe must be a broadcast semi-join\n" + probePlan)
    // the REGISTRY branch (the join's streamed side, printed with ":-"
    // margins) must go scan -> join directly; the batch-fps side is
    // allowed its batch-sized distinct exchange before the broadcast
    val registryBranch = probePlan.linesIterator
      .filter(l => l.contains(":-") || l.contains(":  ")).mkString("\n")
    assert(registryBranch.contains("FileScan parquet"), probePlan)
    assert(!registryBranch.contains("Exchange"),
      "the fingerprint registry must never be shuffled/sorted by the " +
        "probe\n" + probePlan)
  }

  test("dedup-impact fp registry rolls into sealed segments: probe hits " +
       "cross-seal history, accounting and registry content unchanged") {
    // segmentRollBytes = 1 seals the open segment at every batch entry,
    // so the three drops land in three segments — and the third drop's
    // planted copies re-carry FIRST-drop texts, forcing the known-fp
    // probe to find fingerprints that live in a SEALED segment. The
    // convergence test above runs the same flow with the default roll
    // threshold (single open segment); this one pins the rolled layout.
    val base = Tables(spark, sf).documents
    val copies = base.filter(col("doc_id").isin(3L, 7L, 11L))
      .select((col("doc_id") + 600L).as("doc_id"), col("text"), col("lang"),
        lit("srcMirror").as("source"), col("n_chars"))
    val all = base.unionByName(copies)
    val stageDir = java.nio.file.Files.createTempDirectory("imp-roll").toString
    for ((lo, hi) <- Seq((0L, 150L), (150L, 500L), (500L, 10000L))) {
      all.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .repartition(1).write.mode("append").parquet(stageDir)
      Thread.sleep(1100)
    }
    val tmp = java.nio.file.Files.createTempDirectory("imp-roll-state").toString
    val q = DocStreams.dedupImpactStream(
        DocStreams.readDocumentStream(spark, stageDir, maxFilesPerTrigger = Some(1)),
        s"$tmp/fp", s"$tmp/impact", segmentRollBytes = 1L)
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val segs = new java.io.File(s"$tmp/fp").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seg-"))
    assert(segs.length >= 2,
      s"roll threshold never crossed (${segs.length} segments) — vacuous")
    // the segment union holds exactly one row per distinct text: no row
    // lost at a seal, no committed batch re-appended across one
    val reg = graft.streaming.RolledSink.read(spark, s"$tmp/fp")
    assert(reg.count() == all.select("text").distinct().count(),
      "rolled registry row count diverged from distinct texts")
    assert(reg.select("fp").distinct().count() == reg.count(),
      "duplicate fingerprints in the rolled registry")
    // summed impact deltas still reproduce the batch twin — in particular
    // the srcMirror copies were recognized as dups against SEALED history
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept")))).toMap
    val streamed = key(spark.read.parquet(s"$tmp/impact")
      .groupBy("source").agg(sum("n_docs").as("n_docs"),
        sum("n_kept").as("n_kept")))
    val batch = key(graft.queries.TextQ.dedupImpactFrom(all)
      .select("source", "n_docs", "n_kept"))
    assert(streamed == batch,
      "rolled-registry streaming impact diverged from batch d36")
    assert(batch("srcMirror")._2 == 0L,
      s"planted cross-seal dups were not all removed: ${batch("srcMirror")}")
  }

  test("streaming segment dedup converges to the batch d13 operator") {
    val docs = Tables(spark, sf).documents
    // stage three id-ordered drops with distinct mtimes: FileStreamSource
    // processes oldest-first, matching the monotonic-id arrival the
    // incremental operator's equality contract needs
    val stageDir = java.nio.file.Files.createTempDirectory("seg-stream").toString
    for ((lo, hi, i) <- Seq((0L, 150L, 0), (150L, 320L, 1), (320L, 10000L, 2))) {
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .repartition(1).write.mode("append").parquet(stageDir)
      Thread.sleep(1100) // distinct second-granularity mtimes
      val _ = i
    }
    val registryDir = java.nio.file.Files.createTempDirectory("seg-reg").toString + "/r"
    val cleanDir = java.nio.file.Files.createTempDirectory("seg-clean").toString + "/c"
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt2").toString
    val q = DocStreams.segmentDedupStream(
        DocStreams.readDocumentStream(spark, stageDir, maxFilesPerTrigger = Some(1)),
        "doc_id", "text", 3, registryDir, cleanDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3,
      "expected a multi-batch incremental run")
    val streamed = spark.read.parquet(cleanDir)
    val batch = graft.text.Segments.segmentDedup(docs, "doc_id", "text", 3)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streaming segment dedup diverged from the batch operator")
    // the persisted registry is exactly the batch run's kept-segment count
    assert(spark.read.parquet(registryDir).count() ==
      batch.agg(sum(col("n_kept"))).head.getLong(0))
  }

  test("streaming cluster maintenance converges to the monolithic CC rerun") {
    val docs = Tables(spark, sf).documents
    val stageDir = java.nio.file.Files.createTempDirectory("cl-stream").toString
    for ((lo, hi) <- Seq((0L, 150L), (150L, 320L), (320L, 10000L))) {
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .repartition(1).write.mode("append").parquet(stageDir)
      Thread.sleep(1100)
    }
    val base = java.nio.file.Files.createTempDirectory("cl-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cl-ckpt").toString
    val q = DocStreams.clusterMaintStream(
        DocStreams.readDocumentStream(spark, stageDir, maxFilesPerTrigger = Some(1)),
        "doc_id", "text", s"$base/sig", s"$base/bands", s"$base/labels")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3, "expected a multi-batch incremental run")
    val streamed = spark.read.parquet(s"$base/labels")
    val batch = graft.ops.ConnectedComponents.clusters(
        graft.dedup.MinHashLsh.nearDuplicatesMd5(docs, "doc_id", "text",
          minEstJaccard = 0.5),
        "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster_id"))
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streaming cluster labels diverged from the monolithic rerun")
    // sig registry accumulated one signature per doc in >= 0 pairs
    assert(spark.read.parquet(s"$base/sig").count() == docs.count())

    // crash-window recovery: simulate a death between the aside-rename
    // and the swap-in (live labels dir missing, aside holding the
    // previous state) and replay a new drop — the bootstrap must resume
    // from the aside instead of silently resetting cluster state
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$base/labels"),
      new org.apache.hadoop.fs.Path(s"$base/labels__precompact")))
    val stage2 = java.nio.file.Files.createTempDirectory("cl-stream2").toString
    // an empty-pair drop: brand-new docs that near-dup nothing
    docs.filter(col("doc_id") < 0).repartition(1)
      .write.mode("append").parquet(stage2)
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(900001L, "recovery probe solitary text",
          "xx", "srcx", 28L))), DocStreams.documentSchema)
      .repartition(1).write.mode("append").parquet(stage2)
    val ckpt2 = java.nio.file.Files.createTempDirectory("cl-ckpt2").toString
    val q2 = DocStreams.clusterMaintStream(
        DocStreams.readDocumentStream(spark, stage2, maxFilesPerTrigger = Some(1)),
        "doc_id", "text", s"$base/sig", s"$base/bands", s"$base/labels")
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val recovered = spark.read.parquet(s"$base/labels")
    assert(recovered.count() == batch.count(),
      "recovery from the aside lost cluster state")
    assert(recovered.except(batch).isEmpty && batch.except(recovered).isEmpty,
      "recovered labels diverged from the pre-crash state")

    // double-crash window: the first crash hit the rename gap (live
    // missing) and the SECOND crash hit after the new labels were fully
    // committed to the __compacting temp but before its swap-in — only the
    // temp survives. The bootstrap must promote the committed temp, not
    // silently reset cluster history to empty (the r8 ADVICE scenario).
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$base/labels"),
      new org.apache.hadoop.fs.Path(s"$base/labels__compacting")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$base/labels__compacting/_SUCCESS")), "fixture temp lacks commit marker")
    val stage3 = java.nio.file.Files.createTempDirectory("cl-stream3").toString
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(900002L, "second recovery probe lonely text",
          "xx", "srcx", 30L))), DocStreams.documentSchema)
      .repartition(1).write.mode("append").parquet(stage3)
    val ckpt3 = java.nio.file.Files.createTempDirectory("cl-ckpt3").toString
    val q3 = DocStreams.clusterMaintStream(
        DocStreams.readDocumentStream(spark, stage3, maxFilesPerTrigger = Some(1)),
        "doc_id", "text", s"$base/sig", s"$base/bands", s"$base/labels")
      .option("checkpointLocation", ckpt3)
      .trigger(Trigger.AvailableNow())
      .start()
    q3.awaitTermination()
    val recovered2 = spark.read.parquet(s"$base/labels")
    assert(recovered2.count() == batch.count(),
      "recovery from the committed __compacting temp lost cluster state")
    assert(recovered2.except(batch).isEmpty && batch.except(recovered2).isEmpty,
      "temp-promoted labels diverged from the pre-crash state")
  }

  test("streaming curation funnel converges to the batch funnel's survivors") {
    import org.apache.spark.sql.expressions.Window
    import graft.text.{QualityClassifier, Segments, TextMetrics}
    val docs = Tables(spark, sf).documents
    val model = QualityClassifier.seededModel()
    val stageDir = java.nio.file.Files.createTempDirectory("cf-stream").toString
    for ((lo, hi) <- Seq((0L, 150L), (150L, 320L), (320L, 10000L))) {
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .repartition(1).write.mode("append").parquet(stageDir)
      Thread.sleep(1100) // distinct second-granularity mtimes
    }
    val fpReg = java.nio.file.Files.createTempDirectory("cf-fp").toString + "/r"
    val segReg = java.nio.file.Files.createTempDirectory("cf-seg").toString + "/r"
    val cleanDir = java.nio.file.Files.createTempDirectory("cf-clean").toString + "/c"
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt4").toString
    val q = DocStreams.curationFunnelStream(
        DocStreams.readDocumentStream(spark, stageDir, maxFilesPerTrigger = Some(1)),
        "doc_id", "text", 3, model, 0L, fpReg, segReg, cleanDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3, "expected a multi-batch incremental run")

    // the batch twin, composed from the same public stages the d25 census
    // aggregates: gate -> min-id-per-fingerprint -> corpus-wide segment
    // dedup -> keep docs retaining at least half their segments
    val gated = QualityClassifier.gate(docs, "text", model, 0L)
      .withColumn("__fp", TextMetrics.fingerprint(col("text")))
    val surv = gated
      .withColumn("__canon", min(col("doc_id")).over(Window.partitionBy(col("__fp"))))
      .filter(col("doc_id") === col("__canon"))
      .select("doc_id", "source", "text")
    val expected = Segments.segmentDedup(surv, "doc_id", "text", 3)
      .filter(col("n_kept") * 2 >= col("n_segs"))
      .join(surv.select("doc_id", "source"), Seq("doc_id"))
      .select("doc_id", "source", "n_segs", "n_kept", "text_clean")
    val streamed = spark.read.parquet(cleanDir)
    assert(expected.count() > 0, "vacuous: batch funnel kept nothing")
    assert(streamed.count() == expected.count())
    assert(streamed.except(expected).isEmpty && expected.except(streamed).isEmpty,
      "streaming curation funnel diverged from the batch composition")
  }

  test("streaming media dedup keeps exactly m06's cluster representatives") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    // the m06 corpus as binary payloads (pattern PNGs seeded by text length)
    val media = Tables(spark, sf).documents
      .select(col("doc_id"), length(col("text").cast("binary")).as("n"))
      .as[(Long, Long)]
      .map { case (id, n) =>
        (id, Multimodal.CompressedImage.renderPattern(n, (n % 13).toInt + 4,
          ((n / 13) % 11).toInt + 4)) }
      .toDF("doc_id", "payload")
    // two drops in ascending id ranges: stream-kept (first hash arrival,
    // min id within a drop) == global min id per hash == m06's cluster
    // representative set
    val stageDir = java.nio.file.Files.createTempDirectory("md-stream").toString
    for ((lo, hi) <- Seq((0L, 250L), (250L, 100000L))) {
      media.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .repartition(1).write.mode("append").parquet(stageDir)
      Thread.sleep(1100)
    }
    val registryDir = java.nio.file.Files.createTempDirectory("md-reg").toString + "/r"
    val keptDir = java.nio.file.Files.createTempDirectory("md-kept").toString + "/k"
    val ckpt = java.nio.file.Files.createTempDirectory("md-ckpt").toString
    val q = DocStreams.mediaDedupStream(
        spark.readStream.schema("doc_id LONG, payload BINARY").parquet(stageDir),
        registryDir, keptDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamedKept = spark.read.parquet(keptDir)
      .select("doc_id").as[Long].collect().toSet
    val batchReps = graft.queries.MultimodalQ.imagePhash(spark, sf)
      .filter(col("doc_id") === col("cluster_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(streamedKept == batchReps)
    assert(streamedKept.size < media.count(), "vacuous: no perceptual dups")
    // the registry is exactly the corpus's distinct hash set
    assert(spark.read.parquet(registryDir).distinct().count() ==
      batchReps.size.toLong)
  }

  test("streaming video clip dedup converges to the batch m14 result") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    // the m10/m11/m14 corpus as real AVI payloads (seed = text byte length)
    val media = Tables(spark, sf).documents
      .select(col("doc_id"), length(col("text").cast("binary")).as("n"))
      .as[(Long, Long)]
      .map { case (id, n) =>
        (id, Multimodal.MjpegAvi.renderAvi(n, (n % 5).toInt + 2,
          (n % 13).toInt + 4, ((n / 13) % 11).toInt + 4)) }
      .toDF("doc_id", "payload")
    val stageDir = java.nio.file.Files.createTempDirectory("vc-stream").toString
    for ((lo, hi) <- Seq((0L, 250L), (250L, 100000L))) {
      media.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .repartition(1).write.mode("append").parquet(stageDir)
      Thread.sleep(1100)
    }
    val registryDir = java.nio.file.Files.createTempDirectory("vc-reg").toString + "/r"
    val pairsDir = java.nio.file.Files.createTempDirectory("vc-pairs").toString + "/p"
    val ckpt = java.nio.file.Files.createTempDirectory("vc-ckpt").toString
    val q = DocStreams.videoClipStream(
        spark.readStream.schema("doc_id LONG, payload BINARY")
          .option("maxFilesPerTrigger", 1).parquet(stageDir),
        registryDir, pairsDir)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // closing rollup: each (pair, triple) is emitted exactly once by the
    // drop carrying its later endpoint — the per-pair SUM must equal the
    // monolithic m14 rerun's distinct-shared-triple count
    val streamed = spark.read.parquet(pairsDir)
      .groupBy("id_a", "id_b").agg(sum(col("n_shared")).as("n_shared"))
    val batch = graft.queries.MultimodalQ.videoClipDedup(spark, sf)
    assert(batch.count() > 0, "vacuous: no clip pairs in the fixture")
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streaming clip pairs diverged from the batch m14 rerun")
  }

  test("streaming ngram contamination converges to the batch q57 result") {
    val docs = Tables(spark, sf).documents.select("doc_id", "text", "lang",
      "source", "n_chars")
    val train = docs.filter(col("doc_id") % 50 =!= 0)
    val evalDocs = docs.filter(col("doc_id") % 50 === 0)
    val registryDir = java.nio.file.Files.createTempDirectory("ng-reg").toString + "/r"
    DocStreams.buildNgramRegistry(train, "doc_id", "text", 5, registryDir)

    // eval docs arrive in two drops
    val stageDir = java.nio.file.Files.createTempDirectory("ng-stream").toString
    for ((lo, hi) <- Seq((0L, 250L), (250L, 100000L))) {
      evalDocs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .repartition(1).write.mode("append").parquet(stageDir)
      Thread.sleep(1100)
    }
    val outDir = java.nio.file.Files.createTempDirectory("ng-out").toString + "/o"
    val ckpt = java.nio.file.Files.createTempDirectory("ng-ckpt").toString
    val q = DocStreams.ngramContaminationStream(
        DocStreams.readDocumentStream(spark, stageDir, maxFilesPerTrigger = Some(1)),
        "doc_id", "text", 5, registryDir, outDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.read.parquet(outDir)
    val batch = graft.queries.PipelineQ.ngramContamination(spark, sf)
    assert(streamed.count() > 0, "vacuous: no eval doc carried a 5-gram")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed contamination fractions diverged from the batch q57 query")
  }

  test("streaming drift histogram converges to the batch d39 report") {
    val docs = Tables(spark, sf).documents
    val newDocs = docs.filter(col("doc_id") % 2 === 1)
    // the new drop arrives in three chunks
    val stageDir = java.nio.file.Files.createTempDirectory("dr-stream").toString
    for ((lo, hi) <- Seq((0L, 150L), (150L, 320L), (320L, 100000L))) {
      newDocs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .repartition(1).write.mode("append").parquet(stageDir)
      Thread.sleep(1100)
    }
    val histDir = java.nio.file.Files.createTempDirectory("dr-hist").toString + "/h"
    val ckpt = java.nio.file.Files.createTempDirectory("dr-ckpt").toString
    // a report taken BEFORE any drop lands reads pure reference
    // occupancy (readOr seam), never throws on the missing delta dir
    val ref = graft.store.Registries.driftHistogram(spark, sf)
    val pre = DocStreams.driftReport(spark, ref, histDir)
    assert(pre.count() == ref.count())
    assert(pre.agg(sum(col("n_new"))).head().getLong(0) == 0L)
    DocStreams.driftHistStream(
        DocStreams.readDocumentStream(spark, stageDir, maxFilesPerTrigger = Some(1)),
        histDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()

    val report = DocStreams.driftReport(spark,
      graft.store.Registries.driftHistogram(spark, sf), histDir)
    val batch = SparkEntry.queries("d39_snapshot_drift")(spark, sf)
    assert(report.count() > 0)
    assert(report.except(batch).isEmpty && batch.except(report).isEmpty,
      "streamed drift report diverged from the batch d39 PSI")
  }

  test("streaming source census converges to the stored census registry") {
    val docs = Tables(spark, sf).documents
    val stageDir = java.nio.file.Files.createTempDirectory("sc-stream").toString
    for ((lo, hi) <- Seq((0L, 150L), (150L, 320L), (320L, 100000L))) {
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .repartition(1).write.mode("append").parquet(stageDir)
      Thread.sleep(1100)
    }
    val censusDir = java.nio.file.Files.createTempDirectory("sc-out").toString + "/c"
    val ckpt = java.nio.file.Files.createTempDirectory("sc-ckpt").toString
    DocStreams.sourceCensusStream(
        DocStreams.readDocumentStream(spark, stageDir, maxFilesPerTrigger = Some(1)),
        censusDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()

    val summed = spark.read.parquet(censusDir).groupBy("source")
      .agg(sum(col("n_chars_src")).as("n_chars_src"),
        sum(col("n_docs_src")).as("n_docs_src"))
    val batch = graft.store.Registries.sourceCensus(spark, sf)
    assert(summed.count() > 0)
    assert(summed.except(batch).isEmpty && batch.except(summed).isEmpty,
      "summed census deltas diverged from the stored census registry")
  }

  test("streaming repeated-regions converges to per-prefix full reruns") {
    import graft.text.Winnowing
    val docs = Tables(spark, sf).documents.select("doc_id", "text")
    val ranges = Seq((0L, 150L), (150L, 320L), (320L, 10000L))
    val stageDir = java.nio.file.Files.createTempDirectory("rr-stream").toString
    for ((lo, hi) <- ranges) {
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .repartition(1).write.mode("append").parquet(stageDir)
      Thread.sleep(1100) // distinct second-granularity mtimes
    }
    val registryDir = java.nio.file.Files.createTempDirectory("rr-reg").toString + "/r"
    val regionsDir = java.nio.file.Files.createTempDirectory("rr-out").toString + "/o"
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt3").toString
    val q = DocStreams.repeatedRegionsStream(
        DocStreams.readDocumentStream(spark, stageDir, maxFilesPerTrigger = Some(1)),
        "doc_id", "text", registryDir, regionsDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3, "expected a multi-batch incremental run")

    // batch i's streamed regions must equal the FULL rerun over everything
    // seen up to batch i, restricted to batch i's ids (the incremental
    // operator's contract, replayed through the stream's registry state)
    val streamed = spark.read.parquet(regionsDir)
    val expected = ranges.map { case (lo, hi) =>
      Winnowing.repeatedRegions(
          docs.filter(col("doc_id") < hi), "doc_id", "text",
          k = 7, w = 4, gapMax = 10, minFps = 2)
        .filter(col("doc_id") >= lo)
    }.reduce(_ unionByName _)
    assert(expected.count() > 0, "vacuous: fixture produced no regions")
    assert(streamed.except(expected).isEmpty && expected.except(streamed).isEmpty,
      "streaming repeated-regions diverged from the per-prefix full reruns")
    // the registry is the corpus's full distinct-fingerprint set
    assert(spark.read.parquet(registryDir).count() ==
      Winnowing.fingerprintRows(docs, "doc_id", "text", 7, 4)
        .select("fp").distinct().count())
  }
}
