package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.Bucketing

class BucketingSpec extends AnyFunSuite {
  import SparkTestSession._

  test("bucketed-by-key tables join without a shuffle") {
    val t = Tables(spark, sf)
    // clean both catalog entries and any stale physical locations from a
    // previous JVM (managed-table locations survive the session catalog)
    Seq("b_orders", "b_lineitem").foreach { tb =>
      spark.sql(s"DROP TABLE IF EXISTS $tb")
      val loc = java.nio.file.Paths.get("spark-warehouse", tb)
      if (java.nio.file.Files.exists(loc)) {
        java.nio.file.Files.walk(loc).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
    }
    Bucketing.writeBucketed(t.orders, "b_orders", "o_orderkey", 8,
      sortBy = Some("o_orderkey"))
    Bucketing.writeBucketed(
      t.lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      "b_lineitem", "o_orderkey", 8, sortBy = Some("o_orderkey"))

    val joined = spark.table("b_orders")
      .join(spark.table("b_lineitem"), Seq("o_orderkey"))
      .groupBy("o_orderpriority").agg(sum(col("l_quantity")).as("q"))
    val plan = joined.queryExecution.executedPlan.toString
    // the join itself must not shuffle either side: the only Exchange in
    // the plan belongs to the final aggregation
    val joinPart = plan.split("HashAggregate").last
    assert(!joinPart.contains("Exchange hashpartitioning(o_orderkey"),
      "bucketed join still shuffles on the join key:\n" + plan)
    assert(joined.count() > 0)

    // correctness: identical to the unbucketed join
    val plain = t.orders
      .join(t.lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), Seq("o_orderkey"))
      .groupBy("o_orderpriority").agg(sum(col("l_quantity")).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val bucketed = joined.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(bucketed.keySet == plain.keySet)
    bucketed.foreach { case (k, v) => assert(math.abs(v - plain(k)) < 1e-6) }
  }
}
