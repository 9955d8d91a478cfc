package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Append-only id-space contract for the write-only COUNT registries
  * (source census, drift histogram, cell labels): every batch's ids must
  * sit strictly above every previously committed id.
  *
  * The even/odd history-vs-drop split the batch twins (d36/d38b/d39b/
  * e17b) replay is a CONVENTION real ingest provides — monotonic
  * ingest-assigned ids. This makes it a CHECK: an interleaved or
  * re-delivered id fails the batch loudly instead of silently
  * double-counting occupancy. Unlike the fingerprint registry (d36's
  * drop-lowest canonical protocol, which can dedupe because it stores
  * ids), a census/histogram registry stores per-key SUMS — a duplicate
  * contribution cannot be subtracted after the fact, so the only safe
  * reaction is to refuse the batch.
  *
  * State shape: the watermark dir (a `<sink>__idwm` sibling) holds
  * additive `(k, delta)` rows whose per-`k` SUM, added to the -1 empty
  * baseline, is the max committed id — the same delta convention as the
  * registries it guards, so [[BatchCommit]] exactly-once, compaction
  * sum-folding, and crash replay all apply unchanged. Ids must be >= 0
  * (ingest-assigned ids are; the baseline encodes "nothing committed").
  *
  * Replay: a marker on the watermark dir for this batch id proves the
  * whole batch committed (the watermark delta is every guarded flow's
  * LAST write), so the guard is skipped — re-checking against a watermark
  * that already includes this batch's own delta would spuriously fail.
  */
private[graft] object IdWatermark {

  /** The watermark sibling dir for a guarded sink. */
  def dirFor(sinkDir: String): String = sinkDir + "__idwm"

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("delta", LongType)))

  /** What [[guard]] learned about this batch, consumed by [[commit]]. */
  final case class Token(wm: Long, batchMax: Long, skip: Boolean)

  /** Entry-time contract check (call after the sink rollbacks, before any
    * content write): heals and rolls back a crashed watermark append,
    * reads the committed watermark, and requires min(batch id) >
    * watermark. Throws [[IllegalStateException]] on violation — the
    * batch replays forever until the feed is fixed, which is the point:
    * silent double-counting is the failure being bought out. */
  def guard(batch: DataFrame, idCol: String, sinkDir: String,
            bid: Long): Token = {
    val spark = batch.sparkSession
    val wmDir = dirFor(sinkDir)
    // rollback first: it heals a half-swapped watermark compaction, and
    // markers ride the swap, so the done-marker check below must not run
    // while the live dir is renamed aside (a committed batch would read
    // as uncommitted). Once the marker exists the rollback is a no-op.
    BatchCommit.rollback(spark, wmDir, bid)
    if (BatchCommit.isDone(spark, wmDir, bid))
      return Token(-1L, -1L, skip = true) // whole batch already committed
    val wm = -1L + BatchCommit.readOr(spark, wmDir, schema)
      .agg(coalesce(sum(col("delta")), lit(0L))).head().getLong(0)
    val mm = batch.agg(min(col(idCol)), max(col(idCol))).head()
    if (mm.isNullAt(0)) return Token(wm, wm, skip = true) // empty batch
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    if (lo < 0)
      throw new IllegalStateException(
        s"id-space contract: $sinkDir batch $bid carries negative $idCol " +
          s"$lo — the watermark baseline requires ingest-assigned ids >= 0")
    if (lo <= wm)
      throw new IllegalStateException(
        s"id-space contract violated: $sinkDir batch $bid carries $idCol " +
          s"$lo at-or-below the committed watermark $wm — interleaved or " +
          "re-delivered ids would silently double-count this registry's " +
          "sums; feed drops in id order (or dedupe upstream) and replay")
    Token(wm, hi, skip = false)
  }

  /** Commit this batch's watermark advance — the guarded flow's LAST
    * write (so a watermark marker proves the whole batch landed). Also
    * keeps the watermark dir itself compact (delta rows fold by `k`). */
  def commit(spark: SparkSession, sinkDir: String, bid: Long, t: Token,
             compactAfterFiles: Int): Unit = {
    val wmDir = dirFor(sinkDir)
    if (!t.skip) {
      import scala.jdk.CollectionConverters._
      BatchCommit.append(
        spark.createDataFrame(
          Seq[org.apache.spark.sql.Row](
            org.apache.spark.sql.Row("id", t.batchMax - t.wm)).asJava,
          schema),
        wmDir, bid)
    }
    BatchCommit.maybeCompact(spark, wmDir, compactAfterFiles,
      foldKeys = Seq("k"))
    ()
  }
}
