package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Long-horizon streaming soak (dev): drive each registry-maintaining
  * foreachBatch flow for N drops and record per-batch wall time plus the
  * sink's file/row counts — the steady-state evidence the crash matrix
  * cannot give. Flat per-batch wall and O(keys)/O(corpus) registry growth
  * are the pass; any super-linear drift here is a scale bug the sf-curve
  * harness would only catch much later.
  *
  *   sbt "runMain graft.tools.StreamSoak /root/testdata/sf0.1 100 docs/soak_r11.jsonl"
  *
  * Each drop is a full sf-table copy under shifted ids (drop k's doc gets
  * id k*OFFSET+id), odd-id texts mutated per drop so exact-dedup keeps a
  * realistic ~50% duplicate rate at every drop; embeddings keep their
  * vectors (cell assignment is id-independent). Drops are staged as one
  * file each; maxFilesPerTrigger=1 makes one micro-batch per drop.
  */
object StreamSoak {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nDrops = args.lift(1).map(_.toInt).getOrElse(100)
    val outPath = args.lift(2).getOrElse("docs/soak.jsonl")
    // optional 4th arg: run only the named flow (re-measuring one flow's
    // trend costs a fraction of the full sweep — staging for the unused
    // table is skipped too)
    val only = args.lift(3)
    def enabled(flow: String): Boolean = only.forall(_ == flow)
    val spark = graft.GraftSession()
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1024")
    val t = graft.Tables(spark, sfDir)
    val out = new java.io.PrintWriter(new java.io.FileWriter(outPath))

    def tmp(tag: String) =
      java.nio.file.Files.createTempDirectory(s"soak-$tag").toString

    // ---- staging: one parquet file per drop, shared across flows --------
    val docFlows = Seq("driftHist", "sourceCensus", "dedupImpact", "packing")
    val embFlows = Seq("cellLabel", "ivfCodesIngest")
    val Offset = 1000000L
    println(s"staging $nDrops drops…")
    val docStage = tmp("docs")
    if (docFlows.exists(enabled)) {
      val docBase = t.documents.cache(); docBase.count()
      for (k <- 0 until nDrops)
        docBase
          .withColumn("doc_id", col("doc_id") + lit(k * Offset))
          // odd ids diverge per drop; even ids repeat verbatim (Offset is
          // even, so parity survives the shift)
          .withColumn("text",
            when(col("doc_id") % 2 === 1, concat(col("text"), lit(s" drop$k")))
              .otherwise(col("text")))
          .coalesce(1).write.mode("append").parquet(docStage)
      docBase.unpersist()
    }
    val embStage = tmp("embs")
    if (embFlows.exists(enabled)) {
      val embBase = t.embeddings.cache(); embBase.count()
      for (k <- 0 until nDrops)
        embBase.withColumn("vec_id", col("vec_id") + lit(k * Offset))
          .coalesce(1).write.mode("append").parquet(embStage)
      embBase.unpersist()
    }
    println("staged.")

    def fileCount(dir: String): Int = {
      val f = new java.io.File(dir)
      if (!f.exists()) 0
      else {
        val top = f.listFiles().toSeq
        // data may sit one level down: cell=/… partition dirs, or a
        // rolled sink's seg-NNNNN segments
        (top ++ top.filter(d => d.isDirectory &&
            (d.getName.contains("=") || d.getName.startsWith("seg-")))
          .flatMap(_.listFiles().toSeq))
          .count(x => x.isFile &&
            (x.getName.endsWith(".parquet") || x.getName.endsWith(".done")))
      }
    }
    def rowCount(dir: String): Long =
      if (!new java.io.File(dir).exists()) 0L
      else try {
        val segs = graft.streaming.RolledSink.dataPaths(spark, dir)
        (if (segs.nonEmpty) spark.read.parquet(segs: _*)
         else spark.read.parquet(dir)).count()
      } catch { case _: Exception => 0L }

    /** Run one flow to completion. Wall times come from the (complete)
      * recentProgress ring; file counts are sampled by a poll thread
      * keyed to the then-current batch id. */
    def soak(flow: String, sinks: Map[String, String])
            (start: String => org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
             stage: String): Unit = if (enabled(flow)) {
      val ckpt = tmp("ckpt")
      val q = start(stage)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      val sampled = scala.collection.mutable.Map.empty[Long, Map[String, Int]]
      // mt contention stamps (see graft.Calib): sampled every ~10 batches
      // so each soak line can carry the parallel-throughput state nearest
      // its batch — r12's soak artifact read a 1.63x ivfCodesIngest rise
      // that was a co-tenant burst, and without per-line stamps the only
      // way to adjudicate it was a full out-of-band quiet re-soak.
      // The probe is itself contention: each spinMt saturates every core
      // for ~0.12 s+ WHILE the streaming query runs, so any batch whose
      // execution window overlapped a spin has its wall inflated by the
      // probe. Each spin's wall-clock interval is recorded and every
      // batch line carries `mt_overlap` — trend analysis must drop (or
      // at least down-weight) the overlapped lines.
      val mtStamps = scala.collection.mutable.Map.empty[Long, Double]
      val spinWindows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      def stamp(key: Long): Unit = {
        val s0 = System.currentTimeMillis()
        mtStamps(key) = graft.Calib.spinMt()
        spinWindows += ((s0, System.currentTimeMillis()))
      }
      stamp(-1L)
      while (!q.awaitTermination(200)) {
        val p = q.lastProgress
        if (p != null) {
          sampled(p.batchId) = sinks.map { case (n, d) => n -> fileCount(d) }
          if (p.batchId % 10 == 0 && !mtStamps.contains(p.batchId))
            stamp(p.batchId)
        }
      }
      stamp(Long.MaxValue)
      // fold this flow's samples into the per-box quiet-reference record
      // (Calib.loadMtRef provenance — a contended soak records high and
      // never becomes the window min)
      graft.Calib.recordMtSamples(mtStamps.values.toSeq)
      def nearestMt(b: Long): Double =
        mtStamps.minBy { case (k, _) =>
          if (k == Long.MaxValue) math.abs(nDrops - b) else math.abs(k - b) }._2
      for (p <- q.recentProgress if p.numInputRows > 0) {
        val files = sampled.getOrElse(p.batchId,
          sinks.map { case (n, d) => n -> fileCount(d) })
        val fjson = files.map { case (n, c) => s""""$n":$c""" }.mkString(",")
        val wall = p.durationMs.get("triggerExecution")
        val bStart = java.time.Instant.parse(p.timestamp).toEpochMilli
        val overlapped = spinWindows.exists { case (s0, s1) =>
          s0 < bStart + wall && s1 > bStart }
        out.println(s"""{"flow":"$flow","batch":${p.batchId},""" +
          s""""wall_ms":$wall,""" +
          f""""calib_mt":${nearestMt(p.batchId)}%.3f,""" +
          s""""mt_overlap":$overlapped,""" +
          s""""files":{$fjson}}""")
      }
      val rows = sinks.map { case (n, d) => s""""$n":${rowCount(d)}""" }
      out.println(s"""{"flow":"$flow","final_rows":{${rows.mkString(",")}},""" +
        s""""final_files":{${sinks.map { case (n, d) => s""""$n":${fileCount(d)}""" }.mkString(",")}}}""")
      out.flush()
      println(s"$flow: done (${q.recentProgress.count(_.numInputRows > 0)} batches)")
    }

    def docStream = graft.streaming.DocStreams
      .readDocumentStream(spark, docStage, maxFilesPerTrigger = Some(1))
    def embStream = graft.streaming.EmbStreams
      .readEmbeddingStream(spark, embStage, maxFilesPerTrigger = Some(1))

    val base = tmp("sinks")
    lazy val cents = {
      val c = graft.store.Registries.kmeansCentroids(spark, sfDir).cache()
      c.count(); c
    }
    lazy val emb0 = t.embeddings.select(col("vec_id").as("id"), col("embedding").as("vec"))
    lazy val ivfCents = graft.similarity.IvfPq.seedCentroids(emb0, nCells = 8)
    lazy val ivfCb = graft.similarity.IvfPq.residualCodebook(emb0, ivfCents,
      dims = 64, m = 8, seedFrom = 8)

    soak("driftHist", Map("hist" -> s"$base/hist"))(
      _ => graft.streaming.DocStreams.driftHistStream(docStream, s"$base/hist"),
      docStage)
    soak("sourceCensus", Map("census" -> s"$base/census"))(
      _ => graft.streaming.DocStreams.sourceCensusStream(docStream, s"$base/census"),
      docStage)
    // rolled sinks: a 1 MB roll threshold makes the soak cross several
    // seal boundaries (sf0.1 drops are ~100 KB of items/labels), so the
    // flat-trend claim is exercised ACROSS segments, not within one open
    // segment that never seals
    val rollBytes = 1L * 1024 * 1024
    soak("dedupImpact", Map("fp" -> s"$base/fp", "impact" -> s"$base/impact"))(
      _ => graft.streaming.DocStreams.dedupImpactStream(
        docStream, s"$base/fp", s"$base/impact",
        segmentRollBytes = rollBytes),
      docStage)
    soak("packing", Map("totals" -> s"$base/totals", "items" -> s"$base/items"))(
      _ => graft.streaming.DocStreams.packingStream(
        docStream, s"$base/totals", s"$base/items",
        segmentRollBytes = rollBytes),
      docStage)
    soak("cellLabel", Map("labels" -> s"$base/labels"))(
      _ => graft.streaming.EmbStreams.cellLabelStream(
        embStream, cents, s"$base/labels", segmentRollBytes = rollBytes),
      embStage)
    soak("ivfCodesIngest", Map("codes" -> s"$base/codes"))(
      _ => graft.streaming.EmbStreams.ivfCodesIngestStream(
        embStream, ivfCents, ivfCb, s"$base/codes"),
      embStage)

    out.close()
    spark.stop()
  }
}
