package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The mutation contract shared by every metadata-store backend — the
  * engine's replacement for the reference's adaptor-layer write surface
  * (baseadaptor.py store/modify/delete records, SURVEY §2.1 sinks, §2.9).
  *
  * Two backends implement it:
  *   - the manifest store, [[BucketedStore]] — versioned parquet buckets
  *     under an atomically swapped manifest (the sanctioned lakehouse
  *     path; maps 1:1 onto Delta/Iceberg MERGE at deployment). One bucket
  *     is the snapshot store of dimension tables, [[MetadataStore]].
  *   - [[JdbcStore]] — a live DBMS over `spark.read/write.jdbc` with
  *     set-based staged MERGE/DELETE, matching the reference's actual
  *     MySQL-backed operation (dbconnect.py:8-165)
  *
  * Pipelines ([[Seeding]], [[graft.pipelines.FastqIngestion]]) bind to
  * this trait, so a deployment picks the backend per table without
  * touching pipeline code.
  */
trait Store {
  def exists(name: String): Boolean
  def read(name: String): DataFrame

  /** Create (or replace) `name` with `df`'s rows; empty strings → null
    * first (baseadaptor.py:39-44). */
  def create(name: String, df: DataFrame): Unit
  def append(name: String, df: DataFrame): Unit

  /** Insert-if-absent on `keys`: ONE set-based anti-probe replaces the
    * reference's N+1 per-row existence checks. Returns rows inserted. */
  def insertIfAbsent(name: String, df: DataFrame, keys: Seq[String]): Long

  /** MERGE: matched rows replaced by the incoming version, unmatched
    * inserted (pipelineadaptor.py:408-494 create_or_update). */
  def upsert(name: String, df: DataFrame, keys: Seq[String]): Unit

  /** DELETE the rows whose `keys` appear in `keysDf` (runadaptor.py:461-483). */
  def delete(name: String, keysDf: DataFrame, keys: Seq[String]): Unit

  /** FK-cascade delete (collectionadaptor.py:694-890): delete parents, then
    * drop each child row whose FK is in the DELETED key set. Scoped to the
    * passed keys on both backends — NOT a global orphan sweep. */
  def deleteCascade(parent: String, keysDf: DataFrame, keys: Seq[String],
                    children: Seq[(String, String)]): Unit
}

object Store {
  /** Empty strings → null before storage (baseadaptor.py:39-44). */
  private[store] def normalize(df: DataFrame): DataFrame =
    df.columns.foldLeft(df) { (d, c) =>
      if (d.schema(c).dataType == org.apache.spark.sql.types.StringType)
        d.withColumn(c, when(col(c) === "", lit(null)).otherwise(col(c)))
      else d
    }
}
