package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.store.BucketedStore

/** Structured Streaming over the events table — the incremental layer the
  * reference lacks (SURVEY §2.10: its "streaming" is Airflow polling +
  * DB work queues).
  *
  * Design: every streaming aggregation here has a batch twin in
  * [[graft.queries.Events]] with a DuckDB oracle; a streaming run over the
  * same files must converge to the batch result (EventStreamsSpec asserts
  * this), which is how the streaming semantics stay testable without a
  * streaming oracle. File-source + `Trigger.AvailableNow` is also the
  * Spark-native replacement for the reference's poll-directory-then-seed
  * pattern (ongoing_seqrun_processing.py:10-113): each new drop of parquet
  * is discovered, processed exactly once, and checkpointed.
  */
object EventStreams {

  /** events.parquet schema: ts is timestamp[us] without zone (current
    * data drops; see graft.Tables.events for the layout history). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream of events with a proper event-time column; `ts`
    * is normalized to raw Long nanos, the repo-wide batch convention
    * (`ts div 1000` = integer µs), so the streaming twins share
    * expressions with their batch queries verbatim. */
  def readEventStream(spark: SparkSession, dir: String,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(eventSchema)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(dir)
      .withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000"))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
  }

  /** Tumbling 1-hour windowed aggregation with a 2-hour watermark — the
    * streaming twin of q23_events_hourly (same output schema). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "2 hours")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("v"))
      .select(unix_timestamp(col("window.start")).as("hour_ep"),
        col("event_type"), col("n"), col("v"))

  /** Streaming exact dedup: first occurrence of each event_id wins; the
    * watermark bounds the dedup state (events older than the watermark are
    * forgotten — the streaming twin of the batch `dropDuplicates`, with
    * exactly the state-size story a 100 TB stream needs). */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("event_time", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream–stream interval join: purchases attributed to the same user's
    * clicks within the preceding hour. Both sides carry watermarks so the
    * join state is bounded — the canonical funnel-attribution shape. */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("event_time").as("click_time"))
      .withWatermark("click_time", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("value"), col("event_time").as("purchase_time"))
      .withWatermark("purchase_time", "2 hours")
    purchases.join(clicks,
      col("p_user_id") === col("user_id") &&
        col("click_time") <= col("purchase_time") &&
        col("click_time") >= col("purchase_time") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("value"), col("purchase_time"), col("click_time"))
  }

  final case class AsOfRow(user_id: Option[Long], event_id: Option[Long],
                           p_us: Option[Long],
                           c_us: Option[Long], gap_us: Option[Long])

  /** Streaming as-of join — the incremental twin of
    * [[graft.ops.AsOfJoin.backward]]: every purchase is emitted with the
    * same user's most recent prior-or-equal click. Per-user state is ONE
    * long (the latest click time), updated and read via
    * flatMapGroupsWithState; within a micro-batch rows are processed in
    * (time, click-before-purchase) order, matching the batch operator's
    * inclusive tie rule exactly. Across micro-batches the stream must be
    * time-ordered per key (the file source delivers drops in order) — a
    * click arriving late cannot retro-match an already-emitted purchase,
    * which is the standard streaming relaxation; AsOfStreamSpec proves
    * batch equality on an in-order replay.
    *
    * Null semantics match the batch operator (a null can never satisfy a
    * join predicate): clicks with a null user_id or null timestamp are
    * ignored, purchases with a null user_id or null timestamp are emitted
    * unmatched — previously such rows failed the non-nullable encoder and
    * killed the streaming query, a failure mode the batch twin does not
    * have. */
  def asofStream(spark: SparkSession, events: DataFrame): Dataset[AsOfRow] = {
    import spark.implicits._
    val typed = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"),
        col("event_type"))
      .as[(Option[Long], Option[Long], Option[Long], String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Long, AsOfRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[Long]) =>
          val out = Seq.newBuilder[AsOfRow]
          val (timed, untimed) = rows.toSeq.partition(r =>
            uid.isDefined && r._3.isDefined)
          // null-key or null-ts purchases survive unmatched; same-shape
          // clicks carry no usable state and are dropped (join semantics)
          untimed.foreach { case (_, eid, us, t) =>
            if (t != "click") out += AsOfRow(uid, eid, us, None, None)
          }
          // clicks sort before purchases on time ties => inclusive match
          val sorted = timed.sortBy(r => (r._3.get, if (r._4 == "click") 0 else 1))
          var lastClick = state.getOption.getOrElse(Long.MinValue)
          sorted.foreach {
            case (_, _, Some(us), "click") => lastClick = us
            case (_, eid, us, _) =>
              val c = if (lastClick == Long.MinValue) None else Some(lastClick)
              out += AsOfRow(uid, eid, us, c, c.flatMap(cv => us.map(_ - cv)))
          }
          if (lastClick != Long.MinValue) state.update(lastClick)
          out.result().iterator
      }
  }

  final case class SessionState(start_us: Long, last_us: Long, n: Long)
  final case class SessionSummary(user_id: Long, start_us: Long, last_us: Long,
                                  n_events: Long, n_sessions: Long)

  /** Per-user stateful sessionization via mapGroupsWithState
    * (KeyValueGroupedDataset custom state — the §2.10 "work queue consumer"
    * generalized): events more than `gapUs` apart open a new session; the
    * running summary is emitted in update mode. */
  def sessionize(spark: SparkSession, events: DataFrame,
                 gapUs: Long): Dataset[SessionSummary] = {
    import spark.implicits._
    final case class E(user_id: Long, us: Long)
    val typed = events.select(col("user_id"),
      expr("ts div 1000").as("us")).as[(Long, Long)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[(SessionState, Long), SessionSummary](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[(SessionState, Long)]) =>
          val times = rows.map(_._2).toSeq.sorted
          val (init, initSessions) =
            state.getOption.getOrElse((SessionState(times.head, times.head, 0L), 1L))
          var cur = init
          var sessions = initSessions
          times.foreach { t =>
            if (t - cur.last_us > gapUs) {
              sessions += 1
              cur = SessionState(t, t, cur.n + 1)
            } else {
              cur = SessionState(cur.start_us, math.max(cur.last_us, t), cur.n + 1)
            }
          }
          state.update((cur, sessions))
          SessionSummary(uid, cur.start_us, cur.last_us, cur.n, sessions)
      }
  }

  /** Incremental store ingestion: every micro-batch of newly-discovered
    * rows is inserted-if-absent into a manifest-store table via
    * foreachBatch — the full streaming twin of the reference's
    * poll-directory → anti-join → insert loop (ongoing_seqrun_processing
    * .py + pipelineadaptor seeding), with the checkpoint making redelivery
    * idempotent on top of the store's own insert-if-absent. */
  def ingestStream(events: DataFrame, store: BucketedStore,
                   table: String, keys: Seq[String], checkpoint: String)
      : StreamingQuery =
    mergeStream(events, store, table, checkpoint, "ingest:post") { batch =>
      store.insertIfAbsent(table, batch, keys); ()
    }

  /** Incremental MERGE: each micro-batch upserts on `keys`, so on a
    * multi-bucket store keyed by them it rewrites only the hash buckets
    * its keys touch, and ingestion I/O tracks batch size, not table
    * size. */
  def ingestStreamBucketed(events: DataFrame, store: BucketedStore,
                           table: String, keys: Seq[String], checkpoint: String)
      : StreamingQuery =
    mergeStream(events, store, table, checkpoint, "ingestb:post")(
      store.upsert(table, _, keys))

  /** The body both ingest streams share. Replays of a delivered batch
    * converge (insert-if-absent and upsert are idempotent on identical
    * rows) — including the PRE-commit crash window: a crash between
    * claiming a version and swapping the pointer leaves an orphan claim
    * dir that would wedge every replayed commit with
    * ConcurrentModificationException, so stale claims are recovered at
    * each stream (re)start, where the streaming checkpoint guarantees the
    * single-writer assumption recoverStaleClaims requires. */
  private def mergeStream(events: DataFrame, store: BucketedStore, table: String,
                          checkpoint: String, failpoint: String)
                         (merge: DataFrame => Unit): StreamingQuery = {
    store.recoverStaleClaims(table)
    events.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        merge(batch)
        // a crash here replays the batch over the committed merge —
        // CrashRecoverySpec proves both streams converge
        Failpoints.hit(failpoint, checkpoint)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }
}
