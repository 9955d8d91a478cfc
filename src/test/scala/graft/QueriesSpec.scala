package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM fork per sbt test run). */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession(4)
  val sf: String = "/root/testdata/sf0.001"
}

/** Every registered query runs and returns rows on the smoke scale factor;
  * every query key has either an oracle or a documented reason not to. */
class QueriesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for ((name, fn) <- SparkEntry.queries) {
    test(s"$name runs on sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      df.count() // materialize — throws on planning/runtime errors
    }
  }

  test("oracle keys are a subset of query keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracles without queries: $extra")
  }

  test("pooling census bucket counts partition the orders") {
    import org.apache.spark.sql.functions._
    val census = SparkEntry.queries("q01_pooling_census")(spark, sf)
    val totalBuckets = census
      .agg(sum(col("n_pass") + col("n_fail") + col("n_zero"))).head().getLong(0)
    val nOrders = Tables(spark, sf).orders.count()
    assert(totalBuckets == nOrders)
  }
}
