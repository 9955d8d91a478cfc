package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.Store

/** Fastq ingestion lifecycle (SURVEY §3.1,
  * collect_seqrun_fastq_to_db.py:52-82).
  *
  * The reference walks the run directory, then per file shells out
  * `zcat | wc -l` and md5 sequentially, then probes the DB per row. Here:
  *
  *  - the file inventory is a `binaryFile` scan projected to (path, length)
  *    — content is never loaded into rows;
  *  - md5 + read counts stream through one `mapPartitions` task per
  *    partition of paths (Hadoop FS streams + DigestInputStream, constant
  *    memory per file — the only byte-heavy data-parallel stage, SURVEY §4);
  *  - existence checks become `insertIfAbsent` anti-joins (one shuffle
  *    total, not N+1 queries);
  *  - derived ids follow the reference grammar:
  *    experiment_igf_id = {sample}_{platform},
  *    run_igf_id = {experiment}_{flowcell}_{lane}.
  */
object FastqIngestion {

  /** Illumina fastq filename grammar (collect_seqrun_fastq_to_db.py:146-172):
    * {Sample_Name}_S{n}_L{lane:03d}_{R1|R2}_{chunk:03d}.fastq.gz */
  val fastqNameRe: String = "([^/]+)_S(\\d+)_L(\\d{3})_(R[12])_(\\d{3})\\.fastq(?:\\.gz)?$"

  /** File inventory: (file_path, file_size) — metadata-only scan. */
  def scanFastqDir(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.fastq*")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path").as("file_path"), col("length").as("file_size"))

  /** Parse the filename grammar into columns; unparseable files are kept
    * with null sample_name so callers can route them to an error frame. */
  def withParsedNames(inventory: DataFrame): DataFrame =
    inventory
      .withColumn("sample_name", regexp_extract(col("file_path"), fastqNameRe, 1))
      .withColumn("lane", regexp_extract(col("file_path"), fastqNameRe, 3).cast("int").cast("string"))
      .withColumn("read_type", regexp_extract(col("file_path"), fastqNameRe, 4))
      .withColumn("chunk", regexp_extract(col("file_path"), fastqNameRe, 5))
      .withColumn("sample_name", when(col("sample_name") === "", lit(null)).otherwise(col("sample_name")))

  /** Distributed md5 + read counting: one streamed pass per file inside
    * mapPartitions (fastq_utils.py:95-138 / :318-337, parallelized). Read
    * count = line count / 4; gz is detected by suffix and streamed, never
    * materialized. */
  def withChecksumAndCounts(spark: SparkSession, inventory: DataFrame): DataFrame = {
    import spark.implicits._
    val paths = inventory.select(col("file_path")).as[String]
    val computed = paths.mapPartitions { it =>
      val conf = new org.apache.hadoop.conf.Configuration()
      it.map { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(conf)
        val md = java.security.MessageDigest.getInstance("MD5")
        val base = new java.security.DigestInputStream(fs.open(hp), md)
        val in: java.io.InputStream =
          if (p.endsWith(".gz")) new java.util.zip.GZIPInputStream(base) else base
        var lines = 0L
        val buf = new Array[Byte](65536)
        try {
          var n = in.read(buf)
          while (n > 0) {
            var i = 0
            while (i < n) { if (buf(i) == '\n') lines += 1; i += 1 }
            n = in.read(buf)
          }
        } finally in.close()
        // md5 of the COMPRESSED bytes (what lands on disk), as the reference
        // computes; read count from the decompressed stream.
        val md5hex = md.digest().map("%02x".format(_)).mkString
        (p, md5hex, lines / 4)
      }
    }.toDF("file_path", "md5", "n_reads")
    inventory.join(computed, Seq("file_path"))
  }

  /** Derived lineage ids (collect_seqrun_fastq_to_db.py:294-348). */
  def deriveIds(df: DataFrame, platformName: String, flowcellId: String): DataFrame =
    df.withColumn("experiment_igf_id",
        concat_ws("_", col("sample_name"), lit(platformName)))
      .withColumn("run_igf_id",
        concat_ws("_", col("experiment_igf_id"), lit(flowcellId), col("lane")))

  /** Store stage: experiments → runs → files → collections → groups, each
    * an idempotent insert-if-absent; per-run R1/R2 read-count attributes are
    * refreshed via MERGE (the reference's update path for existing runs,
    * collect_seqrun_fastq_to_db.py:646-674). Returns inserted-file count. */
  def ingest(store: Store, enriched: DataFrame): Long = {
    val experiments = enriched.select("experiment_igf_id", "sample_name").distinct()
    store.insertIfAbsent("experiment", experiments, Seq("experiment_igf_id"))

    val runs = enriched.select("run_igf_id", "experiment_igf_id", "lane").distinct()
    store.insertIfAbsent("run", runs, Seq("run_igf_id"))

    val files = enriched.select("file_path", "file_size", "md5").distinct()
    val inserted = store.insertIfAbsent("file", files, Seq("file_path"))

    val collections = enriched
      .select(col("run_igf_id").as("name"), lit("demultiplexed_fastq").as("type"),
        lit("run").as("table"))
      .distinct()
    store.insertIfAbsent("collection", collections, Seq("name", "type"))

    val groups = enriched.select(col("run_igf_id").as("name"), col("file_path")).distinct()
    store.insertIfAbsent("collection_group", groups, Seq("name", "file_path"))

    val readCounts = enriched
      .groupBy(col("run_igf_id").as("run_id"), col("read_type"))
      .agg(sum(col("n_reads")).as("attribute_value"))
      .select(col("run_id"),
        concat(col("read_type"), lit("_READ_COUNT")).as("attribute_name"),
        col("attribute_value").cast("string"))
    store.upsert("run_attribute", readCounts, Seq("run_id", "attribute_name"))
    inserted
  }
}
