package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{Calib, GraftSession, SparkEntry}

/** Dev probe over registered queries, on the shared [[GraftSession]]:
  *
  *   sbt "runMain graft.tools.Probe time <sf dir> d07_simhash_dedup e04_centroid_assign"
  *   sbt "runMain graft.tools.Probe stages <sf dir> e19_incr_neardup_adaptive"
  *   sbt --error "runMain graft.tools.Probe plan <sf0.01 dir>" > docs/PLANS.md
  *
  *  - `time`: 3 alternated reps of every named query, each fully
  *    materialized through the noop sink (Bench's method) after a cache
  *    clear, so every run pays its own cache population. Each rep ends
  *    with a `calib_mt` contention stamp; the per-query minimum closes the
  *    output.
  *  - `stages`: one run under a stage listener: per-stage wall, summed
  *    task time, record counts and shuffle/spill bytes — the evidence for
  *    which stage owns a wall before a plan is restructured.
  *  - `plan`: formatted physical plans (AQE initial plans) as markdown;
  *    with no query names, the flagship list docs/PLANS.md holds.
  *
  * The metadata star and the incremental-dedup registries are built
  * first, as in Bench, so stored-registry queries are probed in the
  * steady state a deployment runs in.
  */
object Probe {
  val Reps = 3

  val flagships = Seq("q01_pooling_census", "q02_lineage_join",
    "q37_lineage6_readcount", "q38_lineage7_fastq", "q10_topk_per_group",
    "d04_ngram_jaccard", "e02_cosine_neardup", "q23_events_hourly",
    "q44_asof_attribution", "q45_interval_join", "q46_hash_split",
    "d11_winnow_fps", "d12_langid_trigram", "q51_sessionize",
    "e04_centroid_assign",
    "d13_segment_dedup", "d15_bpe_pairs", "d17_source_overlap",
    "q56_nfc_normalize", "e05_semantic_clusters",
    "d18_curation_funnel", "d19_bigram_fluency",
    "q57_ngram_contamination", "q58_token_fertility", "m06_image_phash",
    "d26b_incr_minhash_stored", "e07b_incr_neardup_stored",
    "q57b_contamination_stored", "e10b_ivfpq_stored",
    "d30b_lexsem_audit_stored", "d25_model_funnel",
    "e11_semdedup_kmeans", "m10_video_decode",
    "d38b_mixture_stored", "d39b_drift_stored", "e17b_cell_drift_stored",
    "m16_image_drift", "d41_sketch_recall")

  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: dir :: names if names.nonEmpty => probe(dir, names)(time(_, dir, names))
    case "stages" :: dir :: name :: Nil => probe(dir, Seq(name))(stages(_, dir, name))
    case "plan" :: dir :: names =>
      val qs = if (names.isEmpty) flagships else names
      probe(dir, qs)(plan(_, dir, qs))
    case _ =>
      System.err.println(
        "usage: Probe time <sf dir> <query...> | stages <sf dir> <query> | plan <sf dir> [query...]")
      sys.exit(2)
  }

  private def probe(dir: String, names: Seq[String])(body: SparkSession => Unit): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = GraftSession()
    try {
      graft.meta.MetadataStar.materialize(spark, dir)
      graft.store.Registries.materialize(spark, dir)
      body(spark)
    } finally spark.stop()
  }

  private def run(spark: SparkSession, dir: String, name: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def time(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    val runs = (1 to Reps).flatMap { _ =>
      val rep = names.map { name =>
        spark.sharedState.cacheManager.clearCache()
        val t = run(spark, dir, name)
        println(f"$name%-28s $t%7.3f s")
        name -> t
      }
      println(f"  [calib_mt ${Calib.spinMt()}%.3f]")
      rep
    }
    names.foreach { name =>
      println(f"min $name%-24s ${runs.collect { case (`name`, t) => t }.min}%7.3f s")
    }
  }

  private def stages(spark: SparkSession, dir: String, name: String): Unit = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val m = si.taskMetrics
        val wall = for {
          s <- si.submissionTime; c <- si.completionTime
        } yield (c - s) / 1000.0
        lines.add(
          f"stage ${si.stageId}%4d ${wall.getOrElse(-1.0)}%8.1fs wall " +
            f"${m.executorRunTime / 1000.0}%9.1fs cpuSum " +
            f"in=${m.inputMetrics.recordsRead}%12d " +
            f"sRead=${m.shuffleReadMetrics.recordsRead}%12d " +
            f"sWrite=${m.shuffleWriteMetrics.recordsWritten}%12d " +
            f"spillMB=${(m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6}%9.0f " +
            f"out=${m.outputMetrics.recordsWritten}%10d  [${si.name.takeWhile(_ != '\n')}]")
        ()
      }
    })
    val secs = run(spark, dir, name)
    Thread.sleep(2000) // let the listener bus drain
    lines.forEach(l => println(l))
    println(f"TOTAL $name $secs%.1f s")
  }

  private def plan(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    val sf = java.nio.file.Paths.get(dir).getFileName
    println(s"# Physical plans ($sf, AQE initial plans)\n")
    println("Generated by `graft.tools.Probe plan`; regenerate after plan-affecting changes.")
    names.foreach { name =>
      val qe = SparkEntry.queries(name)(spark, dir).queryExecution
      print(s"\n## $name\n\n```\n${qe.explainString(FormattedMode)}```\n")
    }
  }
}
