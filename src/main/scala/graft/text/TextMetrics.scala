package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language-ID, fingerprinting.
  *
  * Everything is built-in `functions._` compositions (array higher-order
  * functions, regex, hashing) — no UDFs, so the whole stage stays inside
  * WholeStageCodegen and runs as a narrow map over the document scan: at
  * 100 TB these are embarrassingly parallel, shuffle-free projections.
  */
object TextMetrics {

  /** Whitespace tokens, empty-safe. */
  def tokens(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => t =!= "")

  /** BPE-ish subword count: letter runs, digit runs, and single
    * non-alphanumeric marks — the classic pre-tokenizer shape. */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Punctuation character count (anything outside alnum/whitespace). */
  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[^a-zA-Z0-9\\s]", ""))

  /** Tiny per-language stopword profiles for the n-gram-heuristic
    * language-ID. Deterministic and SQL-mirrorable; a production profile
    * would be larger but identical in shape. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "de" -> Seq("der", "die", "das", "und", "zu"),
    "fr" -> Seq("le", "la", "de", "et", "que"))

  /** Language-ID over a materialized token array: argmax of profile hit
    * counts, 'und' when all zero. Ties break by profile order (first
    * wins), mirroring a CASE cascade. The cascade references each score
    * several times and Spark does no common-subexpression elimination
    * across them, so the caller materializes the tokens once
    * (`df.withColumn("toks", tokens(c))`). */
  def langIdFromTokens(toks: Column): Column = {
    val scores = langProfiles.map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isin(words.map(lit): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), el) =>
      when(s === best && best > 0, lit(lang)).otherwise(el)
    }
  }

  /** Quality score in [0,1]: penalizes very short docs, high punctuation
    * density, and low stopword ratio (the reference-free heuristics used to
    * filter web scrape). Same double expression on both engines. */
  def qualityScore(c: Column): Column =
    qualityScoreFromTokens(tokens(c), c)

  /** Quality score over a materialized token array (the scale path — the
    * convenience overload re-tokenizes once per sub-term). */
  def qualityScoreFromTokens(toks: Column, c: Column): Column = {
    val n = size(toks).cast("double")
    val vocab = langProfiles.flatMap(_._2).distinct
    val hits = size(filter(toks, t => t.isin(vocab.map(lit): _*)))
    val lenScore  = least(n / lit(50.0), lit(1.0))
    val punctPen  = least(punctCount(c).cast("double") / greatest(length(c).cast("double"), lit(1.0)) * lit(4.0), lit(1.0))
    val stopScore = least(hits.cast("double") / greatest(n, lit(1.0)) * lit(8.0), lit(1.0))
    round((lenScore * lit(0.4) + (lit(1.0) - punctPen) * lit(0.3) + stopScore * lit(0.3)), 9)
  }

  /** Content fingerprint: md5 of the raw text (exact-dedup key — the same
    * md5-per-file idiom as collect_seqrun_fastq_to_db.py:318-337). */
  def fingerprint(c: Column): Column = md5(c.cast("binary"))

  /** Rolling-hash fingerprint set (winnowing shape): polynomial-hash each
    * word k-shingle (codegen'd [[graft.functions.PolyHash]]) and keep the
    * minimum — a compact near-dup key robust to small edits. Pass a
    * materialized tokens column. */
  def rollingFingerprint(toks: Column, k: Int = 4): Column = {
    val shingles = graft.dedup.Shingles.wordShinglesFromTokens(toks, k)
    array_min(transform(shingles,
      s => graft.functions.PolyHash.polyHash(s)))
  }
}
