package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one-bucket [[BucketedStore]]: every commit writes the whole table
  * as the next snapshot — the store for dimension-sized tables, where an
  * O(table) commit is cheap. Readers never see a half-written table,
  * replays of idempotent merges converge (SURVEY §7.4's answer to the
  * reference's multi-table transactions), racing writers fail loudly
  * instead of losing an update, and old snapshots stay readable through
  * `readAt` until `vacuum`.
  */
final class MetadataStore(spark: SparkSession, root: String)
  extends BucketedStore(spark, root, numBuckets = 1)

object SurrogateKeys {
  /** Stable surrogate ids without a sequential DB (SURVEY §7.4): new rows
    * get max(existing)+row_number over an explicit total order — stable
    * across incremental merges, collision-free by construction (the
    * alternative, hash keys, needs a collision story at 10^12 rows).
    * The global row_number is [[graft.ops.GlobalOrder.withGlobalRank]]
    * (range-partitioned sort + per-partition offsets), not a no-partition
    * window — this op is pitched at 10^12-row tables. */
  def assign(fresh: DataFrame, existingMax: Long, naturalOrder: Seq[String],
             idCol: String): DataFrame =
    graft.ops.GlobalOrder
      .withGlobalRank(fresh, naturalOrder.map(col), idCol)
      .withColumn(idCol, lit(existingMax) + col(idCol))
}
