package graft.queries

import org.apache.spark.sql.DataFrame

/** One-slot release of the persisted frame a query keeps between calls:
  * repeated calls in a long-lived session pin at most one frame, and the
  * frame each call returns stays fully lazy.
  *
  * [[keep]] unpersists the previous frame unless
  *  - it is the same object;
  *  - its SparkContext has stopped: its cache died with the context, and
  *    unpersisting through a stopped context throws (the slot is
  *    JVM-global, so it outlives any one context);
  *  - it has the same plan: CacheManager keys entries by canonical plan,
  *    so the new persist IS the previous entry, and unpersisting it would
  *    kill the cache this call just registered.
  */
final class OneSlotCache {
  private val slot = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  def keep(df: DataFrame): Unit =
    Option(slot.getAndSet(df))
      .filter(_ ne df)
      .filterNot(_.sparkSession.sparkContext.isStopped)
      .filterNot(_.queryExecution.analyzed.sameResult(df.queryExecution.analyzed))
      .foreach { prev => prev.unpersist(); () }
}
