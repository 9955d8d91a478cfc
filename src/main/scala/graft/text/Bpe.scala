package graft.text

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Byte-pair encoding (Sennrich et al., ACL 2016; the GPT-2 tokenizer
  * family): train a merge table on corpus statistics, encode text into
  * subword tokens.
  *
  * Training is the textbook iterative algorithm, distributed: each round
  * computes adjacent-symbol-pair counts over the weighted word vocabulary
  * (a map-side-combined hash aggregation — the shuffle carries one row per
  * distinct pair, not per occurrence), picks the argmax with a
  * deterministic tie rule (count desc, then pair lexicographic), and
  * rewrites the vocabulary with the merge. The driver holds one
  * (pair, count) row per round and the merge list — never the corpus.
  * Word-frequency weighting makes each round O(|vocab|), not O(corpus):
  * at 100 TB the vocabulary table is the only thing iterated, and it is
  * millions of rows against the corpus's billions.
  *
  * Encoding is the standard greedy lowest-rank merge loop, packaged as a
  * codegen'd Catalyst expression ([[graft.functions.BpeEncode]]) with a
  * per-executor word memo — natural-language corpora repeat words, so
  * amortized cost per token is a hash probe.
  */
object Bpe {

  /** End-of-word marker, its own symbol after a word's last character
    * (the original Sennrich formulation — lets the model distinguish
    * word-final subwords without leaking whitespace into symbols). */
  val Eow = "</w>"

  /** A trained merge list, in merge order, plus the initial-symbol
    * alphabet seen at training time (what makes a stable id vocabulary
    * possible). */
  final case class Model(merges: Seq[(String, String)],
                         alphabet: Seq[String] = Nil) {
    // cached: the per-executor encode memo is keyed by Model, so hashCode
    // runs once per ROW — a case class recomputes the structural hash over
    // the full merge list each call (O(|merges|), noticeable at 30k+ merges)
    @transient override lazy val hashCode: Int =
      scala.util.hashing.MurmurHash3.productHash(this)

    @transient lazy val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.toMap

    /** Token vocabulary: sorted alphabet first (stable across corpora
      * orderings), then merge products in merge order — the GPT-2 vocab
      * layout. Encoding can only ever emit alphabet symbols or merge
      * products, so this is exhaustive for in-alphabet text; symbols
      * containing an UNSEEN character map to [[unkId]]. */
    @transient lazy val vocabulary: Seq[String] =
      (alphabet.sorted ++ merges.map { case (a, b) => a + b }).distinct

    @transient lazy val tokenIds: Map[String, Int] =
      vocabulary.zipWithIndex.toMap

    /** One past the last vocabulary id — the unknown-symbol bucket. */
    def unkId: Int = vocabulary.size

    /** Encode one word (no whitespace) into subword symbols. */
    def encodeWord(word: String): Array[String] = {
      var syms: Array[String] = initialSymbols(word)
      var continue = syms.length > 1
      while (continue) {
        var bestRank = Int.MaxValue
        var i = 0
        while (i < syms.length - 1) {
          val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
          if (r < bestRank) bestRank = r
          i += 1
        }
        if (bestRank == Int.MaxValue) continue = false
        else {
          val (a, b) = merges(bestRank)
          syms = mergePair(syms, a, b)
          if (syms.length < 2) continue = false
        }
      }
      syms
    }
  }

  /** A word's initial symbol sequence: characters (code points), then the
    * end-of-word marker. */
  def initialSymbols(word: String): Array[String] = {
    val out = new ArrayBuffer[String](word.length + 1)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out += Eow
    out.toArray
  }

  /** Replace every non-overlapping adjacent (a,b) with the merged symbol,
    * scanning left to right — the standard BPE application order. */
  def mergePair(syms: Array[String], a: String, b: String): Array[String] = {
    val out = new ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Weighted distinct-word vocabulary: one row per distinct word with its
    * corpus occurrence count. One shuffle, vocabulary-sized output. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextMetrics.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))

  /** Adjacent-symbol-pair counts of the UNMERGED corpus (training round
    * one) — the oracle-friendly view of what each round aggregates.
    * Counts are per word occurrence (weighted by word frequency). */
  def pairCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    // expr-built: the per-character split indexes substring by the lambda
    // variable, which the Column DSL can't express directly
    val counts = wordCounts(df, textCol)
      .select(col("n"), expr(
        s"concat(transform(sequence(1, length(w)), i -> substring(w, i, 1)), array('$Eow'))").as("s"))
      .select(col("n"), expr(
        "transform(sequence(1, size(s) - 1), i -> struct(element_at(s, i) AS l, element_at(s, i + 1) AS r))").as("ps"))
      // explode_OUTER, though ps is never empty (every word has >= 1 char):
      // an inner generate lets InferFiltersFromGenerate synthesize
      // size(ps) > 0, re-inline ps's whole interpreted lambda chain into
      // it, and push it below the word aggregation — where it re-runs per
      // TOKEN OCCURRENCE, not per distinct word (measured 4.5 s of a 4.9 s
      // query at sf0.1; the d12 lesson through a new hole)
      .select(explode_outer(col("ps")).as("p"), col("n"))
      .where(col("p").isNotNull)
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("n")).as("n"))
      .orderBy(col("n").desc, col("l").asc, col("r").asc)
      .limit(k)
    // k rows post-limit — the single-partition window is bounded by k
    counts.withColumn("rnk",
      row_number().over(Window.orderBy(col("n").desc, col("l").asc, col("r").asc)))
  }

  /** Train `numMerges` merges distributed. Stops early when the best pair
    * occurs fewer than `minCount` times. Deterministic: ties break on the
    * pair's lexicographic order, so the same corpus always yields the
    * same model on any cluster layout. */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            minCount: Long = 2): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    var words: Dataset[(Array[String], Long)] = wordCounts(df, textCol)
      .as[(String, Long)]
      .map { case (w, n) => (initialSymbols(w), n) }
      .persist()
    words.count()
    val alphabet = words.flatMap(_._1.iterator).distinct().collect().toSeq
    val merges = ArrayBuffer.empty[(String, String)]
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      val top = words
        .flatMap { case (syms, n) =>
          (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1), n)) }
        .toDF("l", "r", "n")
        .groupBy("l", "r").agg(sum("n").as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).as[(String, String, Long)]
        .collect()
      top match {
        case Array((l, r, n)) if n >= minCount =>
          merges += ((l, r))
          val prev = words
          words = prev.map { case (syms, cnt) => (mergePair(syms, l, r), cnt) }
            .persist()
          // cut lineage periodically: each round otherwise stacks a map
          // stage on the last, and the DAG re-executes from the root on
          // executor loss (the ConnectedComponents lesson)
          if ((round + 1) % 8 == 0) words = words.localCheckpoint(true)
          words.count()
          prev.unpersist(false)
        case _ => done = true
      }
      round += 1
    }
    words.unpersist(false)
    Model(merges.toSeq, alphabet)
  }

  /** The frozen 24-merge model `trainAuto` derives from the synthetic
    * documents corpus (docs/ROUND7_NOTES.md, identical at
    * sf0.01/sf0.1 — the corpus vocabulary is scale-invariant). A FIXED
    * vocabulary is the production posture anyway: a tokenizer is trained
    * once and shipped, then encode runs at corpus scale — and freezing it
    * makes the encode loop fully oracle-able (the d16 SQL replays these
    * merges in rank order as delimiter-guarded string replaces, which is
    * equivalent to the greedy lowest-rank encode loop because a merge's
    * components always have strictly lower ranks than the merge itself). */
  val stableModel: Model = Model(
    merges = Seq(
      ("e", "r"), ("e", Eow), ("n", Eow), ("er", Eow), ("o", "w"),
      ("ow", Eow), ("o", "r"), ("s", "t"), ("h", Eow), ("a", "t"),
      ("l", "u"), ("i", "n"), ("a", Eow), ("g", Eow), ("y", Eow),
      ("a", "r"), ("p", "ar"), ("t", Eow), ("i", "n" + Eow), ("j", "o"),
      ("jo", "in" + Eow), ("a", "s"), ("as", "h" + Eow), ("h", "ash" + Eow)),
    alphabet = Seq(Eow, "a", "b", "c", "d", "e", "f", "g", "h", "i", "j",
      "k", "l", "m", "n", "o", "p", "q", "r", "s", "t", "u", "v", "w", "y"))

  /** Adaptive trainer: BPE rounds only ever look at the DISTINCT-WORD
    * table, so when that table is small enough to collect (it usually is —
    * 10^6 words × ~20 bytes), the driver loop beats `numMerges` Spark
    * jobs by orders of magnitude in scheduling latency alone. Beyond
    * `maxLocalVocab` distinct words it falls back to the distributed
    * loop. Both paths produce identical models (BpeSpec proves it), so
    * this is a pure execution-strategy choice, like a broadcast-join
    * threshold. */
  def trainAuto(df: DataFrame, textCol: String, numMerges: Int,
                minCount: Long = 2, maxLocalVocab: Long = 1L << 20): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val wc = wordCounts(df, textCol)
    val probeLimit = math.min(maxLocalVocab + 1, Int.MaxValue.toLong).toInt
    if (wc.limit(probeLimit).count() <= maxLocalVocab)
      trainLocal(wc.as[(String, Long)].collect().toMap, numMerges, minCount)
    else train(df, textCol, numMerges, minCount)
  }

  /** Driver-side trainer for small vocabularies (spec twin of [[train]] —
    * proven equal; also the honest choice when the distinct-word count
    * fits in driver memory, where 30 Spark rounds would be pure
    * scheduling overhead). */
  def trainLocal(wordCounts: Map[String, Long], numMerges: Int,
                 minCount: Long = 2): Model = {
    var words: Seq[(Array[String], Long)] =
      wordCounts.toSeq.map { case (w, n) => (initialSymbols(w), n) }
    val alphabet = words.iterator.flatMap(_._1).toSeq.distinct
    val merges = ArrayBuffer.empty[(String, String)]
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, n) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + n
      val best = counts.toSeq
        .sortBy { case ((l, r), n) => (-n, l, r) }.headOption
      best match {
        case Some(((l, r), n)) if n >= minCount =>
          merges += ((l, r))
          words = words.map { case (syms, cnt) => (mergePair(syms, l, r), cnt) }
        case _ => done = true
      }
      round += 1
    }
    Model(merges.toSeq, alphabet)
  }
}
