package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The bucket-collision pair join every LSH near-dup path shares: rows
  * meet only when they land in the same bucket (equal `keys` — a MinHash
  * band, a SimHash chunk, a video frame triple), so cost is linear in the
  * rows plus quadratic only inside buckets, never all-pairs. Callers keep
  * their own tail (`distinct`, the hamming filter, the shared-key count).
  *
  * Every function is plain DataFrame operators, so Catalyst still plans
  * each caller as a whole; `cap` is separate from the joins so a caller
  * can cache the capped table between them. */
object BucketPairs {

  /** Drop every row whose bucket holds more than `maxRows` rows (`None`:
    * no cap, no window). This is the hot-bucket cap, the 100 TB dial: a
    * bucket holding n rows emits n² candidate pairs, and boilerplate-heavy
    * corpora concentrate there (the all-zero chunk of short docs, a
    * black-card triple). Dropping oversized buckets bounds the blowup;
    * recall only drops for pairs whose EVERY shared bucket is oversized. */
  def cap(df: DataFrame, keys: Seq[String], maxRows: Option[Int]): DataFrame =
    maxRows.fold(df) { n =>
      df.withColumn("__bn", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
        .filter(col("__bn") <= n).drop("__bn")
    }

  /** `df`'s rows as one side of a pair join: the keys, the id as
    * `id_<side>`, and each carried `column -> name` as `name_<side>`. */
  private def side(df: DataFrame, keys: Seq[String], idCol: String,
                   carry: Seq[(String, String)], s: String): DataFrame =
    df.select(keys.map(col) ++ (col(idCol).as(s"id_$s") +:
      carry.map { case (c, name) => col(c).as(s"${name}_$s") }): _*)

  /** Same-bucket pairs of `df` with `id_a < id_b`: (keys, id_a, carried
    * `_a` columns, id_b, carried `_b` columns), one row per bucket the
    * pair shares. */
  def selfPairs(df: DataFrame, keys: Seq[String], idCol: String,
                carry: (String, String)*): DataFrame =
    side(df, keys, idCol, carry, "a")
      .join(side(df, keys, idCol, carry, "b"), keys)
      .filter(col("id_a") < col("id_b"))

  /** The incremental probe: pairs touching at least one row of `fresh`
    * (new×stored and new×new), without ever re-pairing `stored` against
    * itself. `fresh` probes the (stored ∪ fresh) table, capped by
    * [[cap]]; the union reuses the new side's projection instead of
    * re-deriving it. The hot-bucket cap is MORE important here than in
    * the batch path: the daily-crawl flow probes every new row against
    * the whole corpus, and one boilerplate bucket with 10^6 stored
    * members would emit 10^6 pairs per new row landing in it.
    *
    * Output: (id_a = least, id_b = greatest, keys, carried `_n` columns,
    * carried `_o` columns), one row per (probing row, matched row,
    * bucket) with `id_n ≠ id_o` — a new×new pair arrives in both orders
    * and is put in order here, so a caller's `distinct` sees it once. */
  def probePairs(fresh: DataFrame, stored: DataFrame, keys: Seq[String],
                 idCol: String, maxRows: Option[Int],
                 carry: (String, String)*): DataFrame = {
    val bn = side(fresh, keys, idCol, carry, "n")
    val carried = carry.map(_._2)
    val ball = cap(side(stored, keys, idCol, carry, "o").unionByName(
      bn.withColumnsRenamed(("id" +: carried).map(n => s"${n}_n" -> s"${n}_o").toMap)),
      keys, maxRows)
    bn.join(ball, keys)
      .filter(col("id_n") =!= col("id_o"))
      .select((least(col("id_n"), col("id_o")).as("id_a") +:
        greatest(col("id_n"), col("id_o")).as("id_b") +:
        (keys ++ carried.flatMap(n => Seq(s"${n}_n", s"${n}_o"))).map(col)): _*)
  }
}
