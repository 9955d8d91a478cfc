package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Calib-relative performance regression gate for ten flagship queries.
  *
  * The box's aggregate throughput oscillates day to day (round 9 measured
  * 1.25–1.84x multi-core calib drift at identical single-thread floors),
  * so absolute wall-clock thresholds either flake or sleep through real
  * regressions. This gate times each flagship ALTERNATING with a fixed
  * Spark calibration job in the same JVM (the same-JVM alternation of
  * docs/ROUND9_NOTES.md) and
  * asserts the RATIO query/calib against a recorded reference: a host
  * slowdown inflates numerator and denominator together and cancels; a
  * code regression moves only the numerator and trips the gate.
  *
  * Headroom is 1.7x, not the ~1.15x a dedicated perf rig could hold: the
  * numerator/denominator mix differs (shuffle- vs CPU-bound), sf0.01 in
  * local[4] carries per-job scheduling noise, and the suite shares the
  * box with whatever else the round is running. A deliberate 2x slowdown
  * of any flagship still trips it (validated by hand when the references
  * were recorded — see docs/ROUND10_NOTES.md); a 10% drift does not, and
  * shouldn't — that's what bench_full.json's calib-normalized per-query
  * values are for.
  *
  * Regenerate references on a quiet box with:
  *   GRAFT_REGRESSION_RECORD=true sbt -batch "testOnly graft.RegressionGateSpec"
  * and paste the printed map here.
  */
class RegressionGateSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val dir = "/root/testdata/sf0.01"
  private val headroom = 1.7
  private val record = sys.env.get("GRAFT_REGRESSION_RECORD").contains("true")

  /** query -> reference ratio (query time / calib time): the MINIMUM
    * over three quiet record runs, 2026-08-15, min-of-3 alternated,
    * local[4] @ sf0.01. Min, not mean: the reference is the best-known
    * state, so normal runs sit at 1.0–1.3x ref (observed spread) and a
    * 2x code slowdown lands >= 2x ref from ANY box state — above the
    * 1.7 headroom — while box drift alone never reaches it. */
  private val references: Map[String, Double] = Map(
    "q01_pooling_census" -> 2.64,
    "q02_lineage_join" -> 2.91,
    "d04_ngram_jaccard" -> 2.07,
    "d18_curation_funnel" -> 1.85,
    "d25_model_funnel" -> 3.00,
    "d26_incr_minhash" -> 2.49,
    "e10_ivfpq" -> 4.92,
    "e12_incr_semclusters" -> 3.75,
    "m14_video_clip_dedup" -> 2.94,
    "q48_dup_clusters" -> 2.61)

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
  /** Fixed CPU-bound parallel calibration job — never changes, so its
    * time moves only with the box. */
  private def calibOnce(): Double = time {
    // bit_xor, not sum: 200M hash longs overflow an ANSI sum
    spark.range(200L * 1000 * 1000)
      .select(expr("bit_xor(xxhash64(id))")).collect(); ()
  }
  private def runOnce(n: String): Double = time {
    SparkEntry.queries(n)(spark, dir)
      .write.format("noop").mode("overwrite").save()
  }

  /** min-of-3, each round alternating calib with every flagship. */
  private lazy val measured: (Double, Map[String, Double]) = {
    graft.meta.MetadataStar.materialize(spark, dir)
    graft.store.Registries.materialize(spark, dir)
    references.keys.foreach(runOnce) // warm: JIT, codegen, footer caches
    calibOnce()
    val rounds = (1 to 3).map { _ =>
      (calibOnce(), references.keys.map(n => n -> runOnce(n)).toMap)
    }
    (rounds.map(_._1).min,
      references.keys.map(n => n -> rounds.map(_._2(n)).min).toMap)
  }

  for ((name, ref) <- references.toSeq.sortBy(_._1))
    test(s"$name stays within ${headroom}x of its calib-relative reference") {
      val (calib, times) = measured
      val ratio = times(name) / calib
      info(f"ratio ${ratio}%.2f (ref $ref, calib ${calib}%.3f s, t ${times(name)}%.3f s)")
      if (record) println(f"""    "$name" -> ${ratio}%.2f,""")
      else assert(ratio <= ref * headroom,
        f"$name: ratio ${ratio}%.2f exceeds ref $ref x $headroom — " +
          "a code regression, or record new references on a quiet box " +
          "(see scaladoc) if the plan changed intentionally")
    }
}
