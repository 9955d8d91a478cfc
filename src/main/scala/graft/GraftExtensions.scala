package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.{DoubleDot, PolyHash}

/** SparkSessionExtensions entry point: registers graft's custom Catalyst
  * expressions as SQL functions, so `spark.sql("SELECT double_dot(a, b)")`
  * works for SQL-only users and the expressions participate in codegen
  * exactly like built-ins.
  *
  * [[GraftSession]] registers them on every session graft builds. An
  * outside deployment wires them up with
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, builder) =>
      ext.injectFunction(
        (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
            getClass.getName, name),
          builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategies)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions._

  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "double_dot" -> (cs => DoubleDot(cs(0), cs(1))),
    "poly_hash" -> (cs => PolyHash(cs.head, PolyHash.DefaultBase)),
    // rev_comp as a composed expression tree (sequtils.py:3-15)
    "rev_comp" -> (cs => Reverse(StringTranslate(Upper(cs.head),
      Literal.create("ACGT"), Literal.create("TGCA")))),
    // range-join width hint for SQL users: ... ON p >= s AND
    // p <= bucketed_end(e, 300000000) — identity at runtime, rewritten
    // to the bucketized equi-join by RangeJoinRewrite
    "bucketed_end" -> (cs => graft.functions.BucketedEnd(cs(0), cs(1) match {
      case Literal(w: Long, _) => w
      case Literal(w: Int, _) => w.toLong
      case other => throw new IllegalArgumentException(
        s"bucketed_end width must be an integer literal, got $other")
    })),
    // winnowing fingerprints for SQL users:
    // SELECT doc_id, f.pos, f.fp FROM docs
    // LATERAL VIEW explode(winnow_fps(text, 7, 4)) t AS f
    "winnow_fps" -> (cs => graft.functions.WinnowFps(cs(0),
      intLit(cs(1), "winnow_fps k"), intLit(cs(2), "winnow_fps w"))),
    "shingle_hashes" -> (cs => graft.functions.ShingleHashes(cs(0),
      intLit(cs(1), "shingle_hashes n"), distinct = true)),
    // Unicode normalization, named for DuckDB-compatibility:
    // SELECT nfc_normalize(text) FROM docs  (nfkc via the second form)
    "nfc_normalize" -> (cs => graft.functions.UnicodeNormalize(cs(0), "NFC")),
    "nfkc_normalize" -> (cs => graft.functions.UnicodeNormalize(cs(0), "NFKC")),
    // Misra-Gries heavy hitters for SQL users (the analyzer wraps a bare
    // AggregateFunction in its AggregateExpression):
    // SELECT explode(freq_sketch(seg, 64)) FROM segments
    "freq_sketch" -> (cs => graft.functions.FreqSketch(cs(0),
      intLit(cs(1), "freq_sketch capacity"))))

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Register the same functions AND the range-join rewrite into an
    * ALREADY-RUNNING session (withExtensions only applies at session
    * construction; `experimental.extraOptimizations` is the live-session
    * hook for optimizer rules). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    // idempotent (and quiet about it): callers may invoke per-query. Each
    // concern is gated independently — a session built with
    // spark.sql.extensions=graft.GraftExtensions already has the rule and
    // strategy injected through SparkSessionExtensions (which does NOT touch
    // the experimental hooks), and a caller who added the strategy manually
    // must still get the functions.
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    if (!spark.experimental.extraOptimizations.contains(graft.plans.RangeJoinRewrite) &&
        !spark.sessionState.optimizer.extendedOperatorOptimizationRules
          .contains(graft.plans.RangeJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RangeJoinRewrite
    if (!spark.experimental.extraStrategies.contains(graft.plans.GraftStrategies) &&
        !spark.sessionState.planner.strategies.contains(graft.plans.GraftStrategies))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.GraftStrategies
  }
}
