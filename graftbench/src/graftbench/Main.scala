package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Command line of one benchmark run (see run.py, which prepares the
  * inputs and the per-run work directory). */
final case class Conf(workload: String, tables: String, drops: String,
                      seconds: Double, trace: Boolean, cores: Int,
                      setups: Int, work: String, out: String)

object Conf {
  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Conf(req("workload"), req("tables"), m.getOrElse("drops", ""),
      req("seconds").toDouble, req("trace") == "1", req("cores").toInt,
      req("setups").toInt, req("work"), req("out"))
  }
}

/** One op as the client saw it. `phase` is "setup", "window" or "traced". */
final case class OpRec(op: String, kind: String, phase: String, seconds: Double,
                       ok: Boolean, error: String)

object Mixes {
  val lineageReport: Seq[String] = Seq(
    "q01_pooling_census", "q02_lineage_join", "q07_eav_melt", "q08_eav_pivot",
    "q12_running_sum", "q32_seqrun_date", "q35_rollup",
    "q37_lineage6_readcount", "q38_lineage7_fastq", "q39_eav_validated",
    "q40_cosmx_slide_qc", "q42_project_user_runs", "q43_seqrun_stats_json",
    "q44_asof_attribution", "q45_interval_join", "q51_sessionize",
    "q52_cube_census")
  val curationDedup: Seq[String] = Seq(
    "d06_minhash_dedup", "d07_simhash_dedup", "d26b_incr_minhash_stored",
    "d41b_sketch_recall_sampled", "e04_centroid_assign", "m14_video_clip_dedup")
}

object Main {
  def main(args: Array[String]): Unit = {
    val conf = Conf.parse(args)
    val bench = new Bench(conf)
    val code =
      try { bench.run(); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
      finally bench.stop()
    sys.exit(code)
  }
}

/** Closed loop with one client: setups, then a timed window of ops. A
  * traced run splits that window in two halves around a traced window
  * with listeners, then runs the probes. */
final class Bench(conf: Conf) {
  private val work = Paths.get(conf.work)
  private val tracer = new Tracer(conf.trace)
  /** True only in the traced window and the probes after it: every
    * trace-only action (job groups, plan walks, store-tree walks) is gated
    * on it, so the untraced windows of a traced run run as in `--trace 0`. */
  private var tracing = false
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private var spark: SparkSession = _
  private var opSeq = 0
  /** first-pass fingerprint per query kind, the reference for every later op */
  private val reference = mutable.Map.empty[String, String]
  private val notes = mutable.ArrayBuffer.empty[String]

  private val isRead = conf.workload != "drop_ingest"
  private val kinds: Seq[String] = conf.workload match {
    case "lineage_report" => Mixes.lineageReport
    case "curation_dedup" => Mixes.curationDedup
    case "drop_ingest" => Seq("drop")
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  // ---------------------------------------------------------------- session

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", (1 << 21).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.registerAll(s)
    s
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  private def sessionSettings(s: SparkSession): Map[String, String] =
    Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.session.timeZone", "spark.ui.enabled",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
      .map(k => k -> s.conf.getOption(k).orElse(s.sparkContext.getConf.getOption(k)).getOrElse(""))
      .toMap

  // ------------------------------------------------------------- read ops

  /** Order-independent digest over every row and column: row count plus
    * two sums of per-row hashes. Maps are hashed as sorted entry arrays. */
  private def fingerprintDf(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(s"`${f.name}`")))
        case _ => col(s"`${f.name}`")
      }
    }
    df.select(xxhash64(cols: _*).as("h1"), hash(cols: _*).as("h2"))
      .agg(count(lit(1)).as("n"), sum(col("h1").cast(DecimalType(38, 0))).as("s1"),
        sum(col("h2").cast(LongType)).as("s2"))
  }

  private def fingerprintOf(df: DataFrame): (String, Long) = {
    val r = df.collect().head
    (s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}", r.getLong(0))
  }

  private def nextOp(kind: String): String = { opSeq += 1; s"op$opSeq-$kind" }

  private def group(op: String, phase: String): Unit =
    if (tracing) spark.sparkContext.setJobGroup(s"$op:$phase", op, interruptOnCancel = false)

  private def runOp(kind: String, phase: String)(body: String => Unit): Unit = {
    val op = nextOp(kind)
    val t0 = System.nanoTime()
    val err =
      try { tracer.span(op, "op")(body(op)); "" }
      catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400) }
      finally if (tracing) spark.sparkContext.clearJobGroup()
    ops += OpRec(op, kind, phase, (System.nanoTime() - t0) / 1e9, err.isEmpty, err)
  }

  /** A read op: build the query, run it through the fingerprint aggregate
    * (so no column is pruned) and compare with the first pass. */
  private def readOp(dir: String, name: String, phase: String): Unit =
    runOp(name, phase) { op =>
      group(op, "build")
      val df = tracer.span(op, "build")(graft.SparkEntry.queries(name)(spark, dir))
      group(op, "exec")
      val fpDf = fingerprintDf(df)
      val (fp, rows) = tracer.span(op, "exec")(fingerprintOf(fpDf))
      tracer.span(op, "fingerprint") {
        require(reference.get(name).contains(fp),
          s"fingerprint $fp differs from the first pass ${reference.getOrElse(name, "-")}")
      }
      if (tracing) planStats.record(fpDf, rows)
    }

  /** Setup 1's first pass: like a one-shot batch job, write each report
    * to parquet (what the DuckDB check reads); the reference fingerprint
    * is taken from what was written. */
  private def firstPassOp(dir: String, name: String, dump: Path): Unit =
    runOp(name, "setup") { op =>
      val df = tracer.span(op, "build")(graft.SparkEntry.queries(name)(spark, dir))
      val out = dump.resolve(name).toString
      tracer.span(op, "exec")(df.write.mode("overwrite").parquet(out))
      val (fp, _) = tracer.span(op, "fingerprint")(fingerprintOf(fingerprintDf(spark.read.parquet(out))))
      reference(name) = fp
    }

  /** Per-op plan statistics of the final (AQE) plans, traced window only. */
  private object planStats {
    val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var n = 0

    private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }

    def record(df: DataFrame, rows: Long): Unit = {
      val qe = df.queryExecution
      val names = nodes(qe.executedPlan).map(_.getClass.getSimpleName)
      val phases = qe.tracker.phases
      def phase(k: String) = phases.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      n += 1
      def named(prefixes: String*) = names.count(c => prefixes.exists(c.startsWith)).toDouble
      Seq(
        "plans.analysis_s" -> phase("analysis"),
        "plans.optimize_s" -> phase("optimization"),
        "plans.physical_s" -> phase("planning"),
        "plans.exchanges" -> named("ShuffleExchangeExec", "BroadcastExchangeExec"),
        "plans.wscg_stages" -> named("WholeStageCodegenExec"),
        "plans.generates" -> named("GenerateExec"),
        "plans.object_hash_aggs" -> named("ObjectHashAggregateExec"),
        "plans.sort_aggs" -> named("SortAggregateExec"),
        "plans.nested_loop_joins" -> named("BroadcastNestedLoopJoinExec", "CartesianProductExec"),
        "queries.result_rows" -> rows.toDouble
      ).foreach { case (k, v) => counts(k) += v }
    }

    def perOp: Map[String, Double] =
      if (n == 0) Map.empty else counts.map { case (k, v) => k -> v / n }.toMap
  }

  // ------------------------------------------------------------- drop ops

  private lazy val dropDirs: Seq[Path] =
    Files.list(Paths.get(conf.drops)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("drop_")).toSeq.sortBy(_.toString)
  private var nextDrop = 0

  private val streamSchema = StructType(Seq(
    StructField("file_path", StringType), StructField("file_size", LongType),
    StructField("md5", StringType), StructField("n_reads", LongType),
    StructField("run_igf_id", StringType), StructField("read_type", StringType)))

  /** The two stores a drop lands in, seeded from the generated base. */
  private final class Stores(root: Path) {
    val meta = new graft.store.MetadataStore(spark, root.resolve("meta").toString)
    val bucketed = new graft.store.BucketedStore(spark, root.resolve("bucketed").toString)
    val landing: Path = Files.createDirectories(root.resolve("landing"))
    val staging: Path = root.resolve("staging")
    val checkpoint: String = root.resolve("checkpoint").toString
    val storeRoots: Seq[Path] = Seq(root.resolve("meta"), root.resolve("bucketed"))

    def seed(): Unit = {
      val base = Paths.get(conf.drops, "base")
      Seq("experiment", "run", "file", "collection", "collection_group", "run_attribute")
        .foreach(t => meta.create(t, spark.read.parquet(base.resolve(s"$t.parquet").toString)))
      bucketed.create("file", spark.read.parquet(base.resolve("stream_file.parquet").toString),
        Seq("file_path"))
    }
  }
  private var stores: Stores = _

  /** Per-drop layer numbers and the drops of the traced window. */
  private val dropStats = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val tracedDrops = mutable.ArrayBuffer.empty[Path]

  private def treeSize(roots: Seq[Path]): (Long, Long) =
    roots.filter(Files.exists(_)).map { r =>
      val w = Files.walk(r)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
      finally w.close()
    }.foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  private def readTruth(dir: Path): Seq[(String, Long, String, Long)] =
    Files.readAllLines(dir.resolve("truth.tsv"), UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val Array(name, size, md5, reads) = l.split("\t")
        (name, size.toLong, md5, reads.toLong)
      }

  private def requireSame[T](what: String, got: Set[T], want: Set[T]): Unit =
    require(got == want, s"$what differ from the drop: unexpected ${(got diff want).take(2)}, " +
      s"missing ${(want diff got).take(2)}")

  private def dropsLeft: Boolean = nextDrop < dropDirs.size

  private def dropOp(phase: String): Unit = {
    val dir = dropDirs(nextDrop); nextDrop += 1
    val dropName = dir.getFileName.toString
    runOp("drop", phase) { op =>
      val (sheet, info) = tracer.span(op, "parse") {
        (graft.sources.SampleSheet.read(dir.resolve("SampleSheet.csv").toString),
          graft.sources.RunInfoXml.read(dir.resolve("RunInfo.xml").toString))
      }
      val truth = readTruth(dir)
      val nameRe = graft.pipelines.FastqIngestion.fastqNameRe.r
      val sheetSamples = sheet.rows.map(r => r(sheet.columns.indexOf("Sample_Name"))).toSet
      val truthSamples = truth.map(t => nameRe.findFirstMatchIn(t._1).get.group(1)).toSet
      require(sheetSamples == truthSamples,
        s"SampleSheet samples ${sheetSamples.size} != fastq samples ${truthSamples.size}")
      val platform = info.instrument

      val (bytes0, files0) = if (tracing) treeSize(stores.storeRoots) else (0L, 0L)
      val manifest0 = if (tracing) stores.bucketed.manifest("file") else Map.empty[Int, Int]

      group(op, "ingest")
      val enriched = tracer.span(op, "ingest") {
        import graft.pipelines.FastqIngestion._
        val enriched = deriveIds(
          withChecksumAndCounts(spark, withParsedNames(scanFastqDir(spark, dir.resolve("fastq").toString))),
          platform, info.flowcell)
        ingest(stores.meta, enriched)
        enriched
      }

      group(op, "stream")
      val landed = tracer.span(op, "stream") {
        val staged = stores.staging.resolve(dropName)
        enriched.select(streamSchema.fieldNames.map(col).toSeq: _*)
          .coalesce(1).write.parquet(staged.toString)
        val part = Files.list(staged).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        val landedFile = stores.landing.resolve(s"$dropName.parquet")
        Files.move(part, landedFile, StandardCopyOption.ATOMIC_MOVE)
        val q = graft.streaming.EventStreams.ingestStreamBucketed(
          spark.readStream.schema(streamSchema).parquet(stores.landing.toString),
          stores.bucketed, "file", Seq("file_path"), stores.checkpoint)
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        if (tracing) q.recentProgress.foreach { p =>
          val d = p.durationMs.asScala
          def ms(k: String) = d.get(k).map(_.doubleValue / 1e3).getOrElse(0.0)
          dropStats("streaming.batch_s") += ms("triggerExecution")
          dropStats("streaming.add_batch_s") += ms("addBatch")
          dropStats("streaming.wal_commit_s") += ms("walCommit")
          dropStats("streaming.planning_s") += ms("queryPlanning")
        }
        Files.size(landedFile)
      }

      group(op, "readback")
      tracer.span(op, "readback") {
        val expectFiles = truth.map(t => (t._1, t._2, t._3)).toSet
        def base(p: String) = p.substring(p.lastIndexOf('/') + 1)
        val inDrop = col("file_path").contains(s"/$dropName/")
        val metaFiles = stores.meta.read("file").filter(inDrop)
          .select("file_path", "file_size", "md5").collect()
          .map(r => (base(r.getString(0)), r.getLong(1), r.getString(2))).toSet
        requireSame("MetadataStore file rows", metaFiles, expectFiles)
        val streamed = stores.bucketed.read("file").filter(inDrop)
          .select("file_path", "md5", "n_reads").collect()
          .map(r => (base(r.getString(0)), r.getString(1), r.getLong(2))).toSet
        requireSame("BucketedStore file rows", streamed, truth.map(t => (t._1, t._3, t._4)).toSet)
        // R1/R2 read counts per run, as FastqIngestion.deriveIds names runs
        val expectCounts = truth.groupMapReduce { t =>
          val m = nameRe.findFirstMatchIn(t._1).get
          (s"${m.group(1)}_${platform}_${info.flowcell}_${m.group(3).toInt}",
            s"${m.group(4)}_READ_COUNT")
        }(_._4)(_ + _).map { case (k, v) => k -> v.toString }
        val counts = stores.meta.read("run_attribute")
          .filter(col("run_id").contains(s"_${info.flowcell}_"))
          .collect().map(r => (r.getAs[String]("run_id"), r.getAs[String]("attribute_name")) ->
            r.getAs[String]("attribute_value")).toMap
        requireSame("run_attribute read counts", counts.toSet, expectCounts.toSet)
      }

      if (tracing) {
        val (bytes1, files1) = treeSize(stores.storeRoots)
        val manifest1 = stores.bucketed.manifest("file")
        dropStats("store.bytes_written") += (bytes1 - bytes0).toDouble
        dropStats("store.files_written") += (files1 - files0).toDouble
        dropStats("store.write_amp") += (bytes1 - bytes0).toDouble / landed
        dropStats("store.buckets_rewritten") +=
          manifest1.count { case (b, v) => !manifest0.get(b).contains(v) }.toDouble
        tracedDrops += dir
      }
    }
  }

  // ---------------------------------------------------------------- setup

  /** Hard-link copy of the tables, so each setup reads a directory no
    * earlier setup has materialized in this JVM. */
  private def tablesCopy(i: Int): String = {
    val dst = Files.createDirectories(work.resolve(s"tables_$i"))
    Files.list(Paths.get(conf.tables)).iterator().asScala.foreach { p =>
      Files.createLink(dst.resolve(p.getFileName), p)
    }
    dst.toString
  }

  private val setupParts = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private def part[T](name: String, setup: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(setup, name.split('.').last.stripSuffix("_s"))(body)
    finally setupParts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e9
  }

  /** The stored registries the curation mix probes (d26b's signature and
    * band tables), built by the public [[graft.store.Registries]]
    * accessors. */
  private def materializeRegistries(dir: String): Unit = {
    graft.store.Registries.minhashSignatures(spark, dir).head(1)
    graft.store.Registries.minhashBands(spark, dir).head(1)
    ()
  }

  /** One setup: a SparkSession (the first builds the SparkContext, later
    * ones are new sessions on it), the workload's materialization on inputs
    * no earlier setup has seen, and the first pass. Setup 1 is the cold one
    * `setup_s` times; later setups are the untimed warm-up the JIT needs
    * before the window. Only setup 1's first pass writes the reports for
    * the DuckDB check; later first passes fingerprint like timed ops.
    * Returns the wall seconds and input dir. */
  private def setup(i: Int): (Double, String) = {
    val dir = if (isRead) tablesCopy(i) else ""
    val id = s"setup$i"
    val t0 = System.nanoTime()
    tracer.span(id, "setup") {
      spark = part("setup.session_s", id) {
        if (spark == null) newSession()
        else { val s = spark.newSession(); graft.GraftExtensions.registerAll(s); s }
      }
      conf.workload match {
        case "lineage_report" =>
          part("meta.materialize_s", id)(graft.meta.MetadataStar.materialize(spark, dir))
        case "curation_dedup" =>
          part("store.registries_s", id)(materializeRegistries(dir))
        case "drop_ingest" =>
          stores = new Stores(work.resolve(s"stores_$i"))
          part("store.seed_s", id)(stores.seed())
      }
      part("setup.first_pass_s", id) {
        if (!isRead) dropOp("setup")
        else if (i == 1) kinds.foreach(q => firstPassOp(dir, q, work.resolve("dump_1")))
        else kinds.foreach(q => readOp(dir, q, "setup"))
      }
    }
    ((System.nanoTime() - t0) / 1e9, dir)
  }

  // --------------------------------------------------------------- window

  private def window(dir: String, phase: String, seconds: Double): (Double, Seq[OpRec]) = {
    val from = ops.size
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds && (isRead || dropsLeft)) {
      if (isRead) readOp(dir, kinds(i % kinds.size), phase) else dropOp(phase)
      i += 1
    }
    if (!isRead && !dropsLeft) notes += s"the $phase window ran out of drops: generate more"
    ((System.nanoTime() - t0) / 1e9, ops.slice(from, ops.size).toSeq)
  }

  private def json(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def geomeanOfMedians(rs: Seq[OpRec]): Double = {
    val meds = rs.filter(_.ok).groupBy(_.kind).values.map(g => median(g.map(_.seconds))).toSeq
    math.exp(meds.map(math.log).sum / meds.size)
  }

  /** The highest percentile with at least ten samples above it
    * (nearest rank), or the maximum when there are ten samples or fewer;
    * NaN when no op succeeded. */
  private def tail(rs: Seq[OpRec]): (Double, Int) = {
    val s = rs.filter(_.ok).map(_.seconds).sorted
    val n = s.size
    if (n == 0) (Double.NaN, 0)
    else if (n <= 10) (s.last, 100)
    else {
      val p = (100L * (n - 10) / n).toInt
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      (s(rank - 1), p)
    }
  }

  /** Used heap after full GCs. Spark's ContextCleaner frees shuffle and
    * broadcast blocks asynchronously once a GC has found them unreachable,
    * so collect three times with a pause for it between. */
  private def heapLiveMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def jitSeconds(): Double =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  /** (steal, total) jiffies from the first line of /proc/stat. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  private def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def storageMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

  // -------------------------------------------------------------- kernels

  /** rows/s of each dedup/similarity kernel on an enlarged copy of the
    * documents and embeddings tables (median of three noop-sink runs). */
  private def kernels(dir: String): Map[String, Double] = {
    val t = graft.Tables(spark, dir)
    val copies = 20
    val nDocs = t.documents.count()
    val nVecs = t.embeddings.count()
    val docsPath = work.resolve("kernel_docs").toString
    val embPath = work.resolve("kernel_emb").toString
    t.documents.crossJoin(spark.range(copies).withColumnRenamed("id", "r"))
      .select((col("r") * nDocs + col("doc_id")).as("doc_id"), col("text"), col("source"))
      .write.parquet(docsPath)
    t.embeddings.crossJoin(spark.range(copies).withColumnRenamed("id", "r"))
      .select((col("r") * nVecs + col("vec_id")).as("id"), col("embedding").as("vec"))
      .write.parquet(embPath)
    val docs = spark.read.parquet(docsPath)
    val emb = spark.read.parquet(embPath)
    val rowsDocs = nDocs * copies
    val rowsEmb = nVecs * copies
    def rate(name: String, rows: Long)(build: => DataFrame): (String, Double) = {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        tracer.span("kernels", name.stripSuffix("_rows_per_s"))(
          build.write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0) / 1e9
      }
      name -> rows / median(times)
    }
    val cents = graft.similarity.IvfPq.seedCentroids(emb, nCells = 8)
    val cb = graft.similarity.IvfPq.residualCodebook(emb, cents, dims = 64, m = 8, seedFrom = 8)
    Seq(
      rate("functions.md5_minhash_rows_per_s", rowsDocs)(
        graft.dedup.MinHashLsh.signaturesMd5(docs, "doc_id", "text")),
      rate("dedup.simhash_rows_per_s", rowsDocs)(
        graft.dedup.SimHash.simhashes(docs, "doc_id", "text")),
      rate("dedup.minhash_rows_per_s", rowsDocs)(
        graft.dedup.MinHashLsh.signatures(docs, "doc_id", "text")),
      rate("dedup.corpus_overlap_rows_per_s", rowsDocs)(
        graft.dedup.CorpusOverlap.sketchPairJaccard(docs, "source", "text")),
      rate("similarity.ivfpq_encode_rows_per_s", rowsEmb)(
        graft.similarity.IvfPq.encode(emb, cents, cb, dims = 64, m = 8))
    ).toMap
  }

  // ------------------------------------------------------------------ run

  def run(): Unit = {
    val load0 = loadAvg()
    val jiffies0 = cpuJiffies()
    val setups = (1 to conf.setups).map(setup)
    tracer.enabled = false
    val dir = setups.last._2
    val setupS = setups.head._1
    val settings = sessionSettings(spark)
    if (isRead) {
      val oracle = graft.SparkEntry.oracleSql
      val missing = kinds.filterNot(oracle.contains)
      if (missing.nonEmpty) notes += s"no DuckDB oracle for ${missing.mkString(",")}"
      Files.writeString(work.resolve("oracle_sql.json"),
        json(kinds.filter(oracle.contains).map(k => k -> oracle(k)).toMap))
    }
    val persistent0 = spark.sparkContext.getPersistentRDDs.size

    // A traced run puts the traced window between two untraced halves, so
    // that JIT warm-up over the run cancels, to first order, in the
    // tracing overhead.
    val (wall, win, traced) =
      if (!conf.trace) {
        val (w, rs) = window(dir, "window", conf.seconds)
        (w, rs, None)
      } else {
        val (w1, first) = window(dir, "window", conf.seconds / 2)
        val t = tracedWindow(dir, persistent0)
        val (w2, second) = window(dir, "window", conf.seconds / 2)
        (w1 + w2, first ++ second, Some(t))
      }
    val geomean = geomeanOfMedians(win)
    val (tailS, tailP) = tail(win)
    val completed = win.count(_.ok)
    val heapMb = heapLiveMb()
    val jiffies1 = cpuJiffies()
    val layer = traced.map(layerMetrics(_, geomean)).getOrElse(Map.empty)

    val endToEnd = Map(
      "setup_s" -> (setupS, "s"),
      "op_geomean_s" -> (geomean, "s"),
      "op_tail_s" -> (tailS, "s"),
      "ops_per_s" -> (completed / wall, "1/s"),
      "heap_live_mb" -> (heapMb, "MB"))
    val metrics = if (conf.trace) layer else endToEnd
    val rt = Runtime.getRuntime
    val result = Map(
      "workload" -> conf.workload,
      "trace" -> conf.trace,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "attempted" -> ops.size,
      "failed" -> ops.count(!_.ok),
      "failures" -> ops.filterNot(_.ok).take(20).map(o => s"${o.op}: ${o.error}"),
      "tail_percentile" -> tailP,
      "window" -> Map("seconds" -> wall, "ops" -> win.size, "completed" -> completed,
        "per_kind_median_s" -> win.filter(_.ok).groupBy(_.kind)
          .map { case (k, g) => k -> median(g.map(_.seconds)) },
        "per_kind_samples" -> win.groupBy(_.kind).map { case (k, g) => k -> g.size }),
      "setup_s_each" -> setups.map(_._1),
      "setup_parts_s" -> setupParts.map { case (k, v) => k -> v.toSeq },
      "host" -> Map(
        "cores" -> conf.cores,
        "master" -> s"local[${conf.cores}]",
        "available_processors" -> rt.availableProcessors(),
        "max_heap_mb" -> rt.maxMemory() / 1048576.0,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "load_avg_start" -> load0, "load_avg_end" -> loadAvg(),
        "steal_share" -> stealShare(jiffies0, jiffies1)),
      "session" -> settings,
      "notes" -> notes.toSeq,
      "self_time_s" -> tracer.selfTimes)
    Files.writeString(Paths.get(conf.out), json(result))
    if (conf.trace) {
      val spans = tracer.all.map(s => json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      Files.write(Paths.get(conf.out + ".spans.jsonl"), spans.asJava, UTF_8)
    }
  }

  private def stealShare(j0: (Long, Long), j1: (Long, Long)): Double =
    if (j1._2 > j0._2) (j1._1 - j0._1).toDouble / (j1._2 - j0._2) else 0.0

  /** What the traced window leaves for the per-layer metrics. */
  private final case class TracedWindow(
      wall: Double, win: Seq[OpRec], groups: Map[String, GroupCounters],
      codegenCompiles: Long, codegenCompileNs: Long, gcS: Double, jitS: Double,
      steal: Double, persistentAdded: Int, storageMb: Double, dropScans: Long)

  /** The traced window: listeners on and every trace-only action on, for
    * `--seconds`. */
  private def tracedWindow(dir: String, persistent0: Int): TracedWindow = {
    val sc = spark.sparkContext
    val listener = new GroupListener
    val scanListener = new ScanListener(Paths.get(conf.drops).getFileName.toString)
    sc.addSparkListener(listener)
    if (!isRead) spark.listenerManager.register(scanListener)
    val codegen0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compile0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val gc0 = gcSeconds(); val jit0 = jitSeconds(); val j0 = cpuJiffies()
    tracing = true; tracer.enabled = true
    val (wall, win) =
      try window(dir, "traced", conf.seconds)
      finally { tracing = false; tracer.enabled = false }
    listener.drain()
    val codegen1 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compile1 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val gc1 = gcSeconds(); val jit1 = jitSeconds(); val j1 = cpuJiffies()
    val t = TracedWindow(wall, win, listener.groups.asScala.toMap, codegen1 - codegen0,
      compile1 - compile0, gc1 - gc0, jit1 - jit0, stealShare(j0, j1),
      sc.getPersistentRDDs.size - persistent0, storageMb(), scanListener.scans.get)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(scanListener)
    t
  }

  /** Seconds of one md5/read-count pass of [[graft.pipelines.FastqIngestion]]
    * over a drop, as `ingest` builds it, into a noop sink. */
  private def checksumPass(dir: Path): Double = {
    import graft.pipelines.FastqIngestion._
    val t0 = System.nanoTime()
    tracer.span("probes", "checksum") {
      withChecksumAndCounts(spark, withParsedNames(scanFastqDir(spark, dir.resolve("fastq").toString)))
        .write.format("noop").mode("overwrite").save()
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Every per-layer metric: the traced window's counts, setup 1's parts,
    * and the probes, which run here with spans on. */
  private def layerMetrics(t: TracedWindow,
                           untracedGeomean: Double): Map[String, (Double, String)] = {
    tracer.enabled = true
    val kernelRates = kernels(conf.tables)
    if (!setupParts.contains("meta.materialize_s")) {
      // the metadata star is only set up by lineage_report: time it here
      val copy = tablesCopy(0)
      part("meta.materialize_s", "probes")(graft.meta.MetadataStar.materialize(spark, copy))
    }
    val checksumS = median(tracedDrops.toSeq.map(checksumPass))

    val win = t.win
    val nOps = math.max(1, win.size).toDouble
    val winOps = win.map(_.op).toSet
    def sumOf(phases: Set[String])(f: GroupCounters => Double): Double =
      t.groups.collect { case (g, c) if winOps(g.split(':').head) && phases(g.split(':').last) => f(c) }.sum
    val execPhases = Set("exec", "ingest", "stream", "readback")
    def exec(f: GroupCounters => Double) = sumOf(execPhases)(f)
    def perOp(v: Double) = v / nOps
    val skews = t.groups.collect { case (g, c) if winOps(g.split(':').head) => c.skews.asScala }.flatten.toSeq
    val execWall = tracer.total("exec", winOps) + (if (isRead) 0.0 else tracer.total("op", winOps))
    val taskRun = exec(_.runMs.sum / 1e3)
    val scanRows = exec(_.inputRows.sum.toDouble)
    val plans = planStats.perOp
    val resultRows = plans.getOrElse("queries.result_rows", 0.0)
    val dropScans = if (isRead) 0.0 else perOp(t.dropScans.toDouble)
    val dropS = median(win.filter(_.ok).map(_.seconds))
    // setup 1's part: the cold setup that setup_s times
    def first(name: String) = setupParts.get(name).map(_.head).getOrElse(0.0)

    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, unit: String, v: Double): Unit = layer(name) = (v, unit)
    put("setup.session_s", "s", first("setup.session_s"))
    put("meta.materialize_s", "s", first("meta.materialize_s"))
    put("store.registries_s", "s", first("store.registries_s"))
    put("store.seed_s", "s", first("store.seed_s"))
    put("setup.first_pass_s", "s", first("setup.first_pass_s"))
    put("queries.build_s", "s", perOp(tracer.total("build", winOps)))
    put("queries.build_jobs", "count", perOp(sumOf(Set("build"))(_.jobs.sum.toDouble)))
    put("queries.exec_s", "s", perOp(tracer.total("exec", winOps)))
    put("queries.jobs", "count", perOp(exec(_.jobs.sum.toDouble)))
    put("queries.stages", "count", perOp(exec(_.stages.sum.toDouble)))
    put("queries.tasks", "count", perOp(exec(_.tasks.sum.toDouble)))
    put("queries.task_run_s", "s", perOp(taskRun))
    put("queries.task_cpu_s", "s", perOp(exec(_.cpuNs.sum / 1e9)))
    put("queries.task_gc_s", "s", perOp(exec(_.gcMs.sum / 1e3)))
    put("queries.core_util", "ratio", if (execWall > 0) taskRun / (execWall * conf.cores) else 0.0)
    put("queries.stage_skew", "ratio", if (skews.isEmpty) 0.0 else skews.sum / skews.size)
    put("queries.shuffle_write_bytes", "bytes", perOp(exec(_.shuffleWrite.sum.toDouble)))
    put("queries.shuffle_read_bytes", "bytes", perOp(exec(_.shuffleRead.sum.toDouble)))
    put("queries.shuffle_fetch_wait_s", "s", perOp(exec(_.fetchWaitMs.sum / 1e3)))
    put("queries.spill_bytes", "bytes", perOp(exec(_.spill.sum.toDouble)))
    put("queries.scan_rows", "count", perOp(scanRows))
    put("queries.scan_bytes", "bytes", perOp(exec(_.inputBytes.sum.toDouble)))
    put("queries.result_rows", "count", resultRows)
    put("queries.rows_per_result", "ratio",
      if (resultRows > 0) perOp(scanRows) / resultRows else 0.0)
    Seq("plans.analysis_s", "plans.optimize_s", "plans.physical_s").foreach(k =>
      put(k, "s", plans.getOrElse(k, 0.0)))
    put("plans.codegen_compiles", "count", perOp(t.codegenCompiles.toDouble))
    put("plans.codegen_compile_s", "s", perOp(t.codegenCompileNs / 1e9))
    Seq("plans.exchanges", "plans.wscg_stages", "plans.generates", "plans.object_hash_aggs",
      "plans.sort_aggs", "plans.nested_loop_joins").foreach(k => put(k, "count", plans.getOrElse(k, 0.0)))
    kernelRates.toSeq.sortBy(_._1).foreach { case (k, v) => put(k, "rows/s", v) }
    put("cache.persistent_rdds_added", "count", t.persistentAdded.toDouble)
    put("cache.storage_mb", "MB", t.storageMb)
    put("sources.parse_s", "s", perOp(tracer.total("parse", winOps)))
    put("pipelines.ingest_s", "s", perOp(tracer.total("ingest", winOps)))
    put("pipelines.ingest_jobs", "count", perOp(sumOf(Set("ingest"))(_.jobs.sum.toDouble)))
    put("pipelines.drop_scans", "count", dropScans)
    put("pipelines.checksum_s", "s", if (isRead) 0.0 else checksumS)
    put("pipelines.checksum_share", "ratio",
      if (isRead || !(dropS > 0)) 0.0 else checksumS * dropScans / dropS)
    val drops = math.max(1, tracedDrops.size).toDouble
    Seq("store.bytes_written" -> "bytes", "store.write_amp" -> "ratio",
      "store.files_written" -> "count", "store.buckets_rewritten" -> "count").foreach {
      case (k, u) => put(k, u, dropStats(k) / drops)
    }
    put("store.readback_s", "s", perOp(tracer.total("readback", winOps)))
    Seq("streaming.batch_s", "streaming.add_batch_s", "streaming.wal_commit_s",
      "streaming.planning_s").foreach(k => put(k, "s", dropStats(k) / drops))
    put("jvm.gc_s", "s", perOp(t.gcS))
    put("jvm.jit_s", "s", perOp(t.jitS))
    put("host.steal_share", "ratio", t.steal)
    put("trace.ops", "count", win.size.toDouble)
    put("trace.window_s", "s", t.wall)
    put("trace.overhead_share", "ratio", geomeanOfMedians(win) / untracedGeomean - 1.0)
    layer.toMap
  }
}
