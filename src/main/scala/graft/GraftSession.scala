package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds its Spark session: every main and the test
  * suite call this factory, so their configs cannot drift apart.
  *
  *  - `local[cpus]` with one shuffle partition per core
  *  - AQE on unless `SPARK_GRAFT_AQE=false` (the AQE-off differential sweep)
  *  - UTC session time zone (the oracle's timestamps are UTC)
  *  - an effectively-off sort-based fallback for object hash aggregates:
  *    every TypedImperativeAggregate in graft keeps an O(k)-bounded buffer
  *    (CappedCollect, TopKRows, MinHashSig, SimHashSig), so the 128-key
  *    default only costs (measured 2-5x on the posting-list dedup paths)
  *    without protecting anything
  *  - no UI, WARN logging, and graft's functions, optimizer rule and
  *    planner strategy registered (idempotently, so a second call returns
  *    the same session with each hook once)
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM may use (`nproc`). */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 21)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.registerAll(spark)
    spark
  }
}
