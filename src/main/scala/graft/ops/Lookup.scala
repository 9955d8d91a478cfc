package graft.ops

import org.apache.spark.sql.{DataFrame, Row}

/** Cardinality-checked point lookups — the reference's `output_mode=
  * 'one' / 'one_or_none'` fetch modes (baseadaptor.py:360-382, 450-475).
  *
  * Spark-side rule: never `collect()` to check cardinality — `take(2)` on
  * the filtered plan reads the minimum and pushes the predicate into the
  * scan. The error semantics mirror SQLAlchemy's `.one()`/`.one_or_none()`.
  */
object Lookup {

  /** Exactly one row, else IllegalStateException (`.one()`). */
  def one(df: DataFrame): Row = {
    val rows = df.take(2)
    if (rows.length == 1) rows(0)
    else if (rows.isEmpty) throw new IllegalStateException("no rows found, expected exactly one")
    else throw new IllegalStateException("multiple rows found, expected exactly one")
  }

  /** At most one row (`.one_or_none()`). */
  def oneOrNone(df: DataFrame): Option[Row] = {
    val rows = df.take(2)
    if (rows.length > 1) throw new IllegalStateException("multiple rows found, expected at most one")
    rows.headOption
  }

  /** Existence probe for a single key — the per-row `check_*` adaptor
    * calls. For BATCHES of keys use a left_anti/left_semi join instead
    * (one shuffle, not N probes) — see BucketedStore.insertIfAbsent. */
  def exists(df: DataFrame): Boolean = df.take(1).nonEmpty
}
