package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Bucketed persistence for co-located joins.
  *
  * A fact table bucketed by its join key joins another table bucketed the
  * same way with NO shuffle on either side — at 100 TB that turns the
  * recurring lineage joins (runs↔files↔collections) from shuffle-bound
  * into scan-bound. Bucket metadata lives in the session catalog, so this
  * layer uses `saveAsTable` rather than path-based parquet; bucket counts
  * must match across join partners (BucketingSpec asserts the
  * exchange-free plan).
  */
object Bucketing {

  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, sortBy: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, key)
    sortBy.fold(w)(s => w.sortBy(s)).saveAsTable(table)
  }
}
