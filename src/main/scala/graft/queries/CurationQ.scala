package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{BpeEncode, UnicodeNormalize}
import graft.text.{Bpe, Fluency, Segments, TextMetrics}

/** Round-6 corpus-curation operators: C4-style segment-level dedup with
  * document reconstruction and boilerplate (heavy-hitter segment)
  * detection. Segments are 3-token windows because the synthetic corpus
  * has no newlines (the operator itself takes any segmentation — see
  * [[graft.text.Segments]]).
  */
object CurationQ {

  private val SegTokens = 3
  private val MinDocs = 3

  /** C4 line-dedup analog: drop every non-first occurrence of a segment
    * corpus-wide, rebuild each document from its survivors. */
  def segmentDedup(s: SparkSession, dir: String): DataFrame =
    // spread: tokenize+segment before the seg shuffle — see Tables.spread
    Segments.segmentDedup(Tables.spread(Tables(s, dir).documents, "doc_id"),
      "doc_id", "text", SegTokens)

  /** Boilerplate list: segments present in >= 3 distinct documents. */
  def boilerplate(s: SparkSession, dir: String): DataFrame =
    Segments.boilerplate(Tables.spread(Tables(s, dir).documents, "doc_id"),
      "doc_id", "text", SegTokens, MinDocs)

  /** Unicode NFC normalization ([[graft.functions.UnicodeNormalize]]).
    * The corpus is ASCII, so the query first derives a decomposed variant
    * (combining acute after every 'e') IDENTICALLY in both engines, then
    * normalizes — composed codepoints shrink the character length, which
    * both outputs report. The oracle is DuckDB's own `nfc_normalize`:
    * two independent implementations of the Unicode standard must agree. */
  def nfcNormalize(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .select(col("doc_id"),
        regexp_replace(col("text"), "e", "e\u0301").as("__dec"))
      .select(col("doc_id"),
        length(col("__dec")).as("len_decomposed"),
        UnicodeNormalize.nfc(col("__dec")).as("text_nfc"))
      .withColumn("len_nfc", length(col("text_nfc")))

  /** BPE training round one: adjacent-symbol-pair counts over the word
    * vocabulary, top 50 with the deterministic (count desc, pair lex)
    * merge-pick order — the exact aggregation every training round runs. */
  def bpePairs(s: SparkSession, dir: String): DataFrame =
    Bpe.pairCounts(Tables(s, dir).documents, "text", k = 50)

  /** BPE encode under the frozen [[Bpe.stableModel]] vocabulary — the
    * production posture (train once, ship the tokenizer, encode at corpus
    * scale) and what makes the row fully oracle-able: the SQL replays the
    * frozen merges in rank order as delimiter-guarded string replaces,
    * equivalent to the greedy lowest-rank loop [[graft.functions.BpeEncode]]
    * runs (a merge's components always rank strictly below it). Distributed
    * TRAINING stays covered by d15's oracled pair counts + BpeSpec's
    * distributed-equals-local proof. Output is per-document subword stats. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val model = Bpe.stableModel
    val toks = TextMetrics.tokens(col("text"))
    docs.select(col("doc_id"), toks.as("__toks"),
        BpeEncode.bpeEncode(col("text"), model).as("__enc"))
      .select(col("doc_id"),
        size(col("__toks")).as("n_words"),
        aggregate(transform(col("__toks"), w => length(w) + 1),
          lit(0), (acc, x) => acc + x).as("n_symbols"),
        size(col("__enc")).as("n_subwords"))
  }

  /** Token fertility per source under the frozen BPE vocabulary — the
    * tokenizer-budget signal a mixture planner reads next to d27: how
    * many subword tokens a source costs per character (terse code-like
    * sources tokenize denser than prose; a source with poor
    * chars-per-token eats budget). One codegen'd encode pass + one
    * source-keyed aggregation. */
  def tokenFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val model = Bpe.stableModel
    docs.select(col("source"),
        length(col("text")).cast("long").as("__chars"),
        size(BpeEncode.bpeEncode(col("text"), model)).cast("long").as("__subwords"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__subwords")).as("n_tokens"),
        sum(col("__chars")).as("n_chars"))
      .withColumn("chars_per_token",
        round(col("n_chars").cast("double") / col("n_tokens").cast("double"), 9))
  }

  /** Token-fertility drift (d40) — q58's tokenizer-budget signal split
    * old-crawl vs new-drop (even/odd doc_ids, d26's convention), per
    * source: chars-per-token of each snapshot in exact integer ppm
    * (decimal floor-division, d27's arithmetic — no cross-engine float
    * hazard) and the delta between them. This is the tokenizer-drift
    * alarm a budget planner reads next to d39: a source whose NEW crawl
    * tokenizes denser (drift_ppm < 0 — e.g. prose giving way to code or
    * boilerplate) silently eats more token budget per planned char than
    * d38's mixture assumed. Same scale shape as q58: one codegen'd
    * encode pass, one source-keyed aggregation with map-side partials;
    * the ppm arithmetic runs on the 20-row aggregate. A source missing a
    * snapshot reports null ppm for it (nullif guard) rather than a
    * divide-by-zero. */
  def fertilityDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val model = Bpe.stableModel
    docs.select(col("source"), (col("doc_id") % 2 === 1).as("__new"),
        length(col("text")).cast("long").as("__chars"),
        size(BpeEncode.bpeEncode(col("text"), model)).cast("long").as("__subwords"))
      .groupBy("source")
      .agg(
        sum(when(!col("__new"), 1L).otherwise(0L)).as("n_docs_old"),
        sum(when(col("__new"), 1L).otherwise(0L)).as("n_docs_new"),
        sum(when(!col("__new"), col("__subwords")).otherwise(0L)).as("tokens_old"),
        sum(when(col("__new"), col("__subwords")).otherwise(0L)).as("tokens_new"),
        sum(when(!col("__new"), col("__chars")).otherwise(0L)).as("chars_old"),
        sum(when(col("__new"), col("__chars")).otherwise(0L)).as("chars_new"))
      .withColumn("cpt_old_ppm",
        expr("(cast(chars_old as decimal(38,0)) * 1000000) div nullif(tokens_old, 0)"))
      .withColumn("cpt_new_ppm",
        expr("(cast(chars_new as decimal(38,0)) * 1000000) div nullif(tokens_new, 0)"))
      .withColumn("drift_ppm", col("cpt_new_ppm") - col("cpt_old_ppm"))
  }

  /** Dataset-level overlap: exact pairwise Jaccard between the 20
    * sources' trigram-shingle sets (the "how much of crawl B is already
    * in crawl A" question). The MinHash sketch twin is bound to this
    * exact result in CorpusOverlapSpec. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame =
    // one-shot query: skip the index persist — materializing the cache
    // dominated the benched time (8.1 s vs 2.8 s quiet), while recomputing
    // the postings for the second consumer is cheaper than caching them
    graft.dedup.CorpusOverlap.exactPairJaccard(
      // spread: tokenization + shingle explode run before the postings
      // shuffle and would otherwise be serial on the single-task scan
      Tables.spread(Tables(s, dir).documents, "doc_id"),
      "source", "text", n = 3, persistIndex = false)

  private val MinQuality = 0.6

  /** End-to-end curation pass as ONE declarative plan, fully
    * oracle-checkable: quality gate (d02's exact scoring) → exact dedup
    * (d03's min-id-per-fingerprint) → segment dedup over the survivors
    * (d13), keeping documents that retain at least half their segments.
    * Output is the per-source funnel census a pipeline owner watches:
    * every stage count is monotone non-increasing. The sketch-based
    * variant of stage 3 (MinHash near-dup removal) lives in
    * [[graft.pipelines.Curation]] — this query is its deterministic twin,
    * so the whole funnel sits behind the cell-exact gate. */
  def curationFunnel(s: SparkSession, dir: String): DataFrame =
    funnelCensus(Tables(s, dir).documents, docs => {
      val toks = TextMetrics.tokens(col("text"))
      docs
        .withColumn("__toks", toks)
        .withColumn("__q",
          TextMetrics.qualityScoreFromTokens(col("__toks"), col("text")))
        .withColumn("qual_ok", col("__q") >= MinQuality)
    })

  /** d18's funnel with the TRAINED-model gate ([[graft.text.QualityClassifier]],
    * d21's broadcast hashed-n-gram scorer) as stage 1 in place of the
    * heuristic score — the production posture: the heuristic bootstraps
    * labels, the model takes over the gate. Same one-plan shape; the gate
    * is a codegen'd shuffle-free projection, so the swap costs nothing at
    * scan time. The composed oracle rebuilds the identical model in SQL
    * (d21's weight CTEs) feeding d18's funnel CTEs — the two stages are
    * verified *composed*, not just individually. */
  def modelFunnel(s: SparkSession, dir: String): DataFrame = {
    val model = graft.text.QualityClassifier.seededModel()
    funnelCensus(Tables(s, dir).documents, docs =>
      docs.withColumn("qual_ok",
        graft.text.QualityClassifier.scoreCol(col("text"), model)
          .getField("score") >= 0L))
  }

  /** The funnel shared by d18 and d25: quality gate (`withGate` adds
    * `qual_ok`) → exact dedup among gate survivors (min-id per
    * fingerprint) → segment dedup → per-source census. Input needs
    * (doc_id, source, text).
    *
    * ONE exchange serves two purposes: the docs are repartitioned on the
    * content fingerprint (explicit count — AQE's byte-based coalescing is
    * exactly wrong for CPU-bound text stages) which BOTH spreads the
    * single-row-group testdata scan across the cluster AND satisfies the
    * fingerprint window's clustering, so no second exchange appears
    * before the window. The gate evaluates POST-exchange (at full
    * parallelism) exactly once; only the cheap md5 fingerprint runs on
    * the raw scan. Replaced the previous spread(doc_id) → gate →
    * window-exchange(__fp) shape: one fewer shuffle stage, same
    * distribution guarantees at any scale. */
  private def funnelCensus(docs: DataFrame,
                           withGate: DataFrame => DataFrame): DataFrame = {
    val flagged = withGate(
        docs.withColumn("__fp", TextMetrics.fingerprint(col("text")))
          .repartition(docs.sparkSession.sparkContext.defaultParallelism,
            col("__fp")))
      .withColumn("__canon",
        min(when(col("qual_ok"), col("doc_id")))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))))
      .withColumn("exact_keep", col("qual_ok") && col("doc_id") === col("__canon"))
    // ONE-PASS census: explode SURVIVOR segments only, with the gate
    // flags carried through, then one per-doc agg feeds one census agg.
    // The gate pipeline (tokenize + quality + fingerprint window)
    // evaluates exactly ONCE; the previous three-consumer shape
    // re-evaluated it per branch (AQE exchange reuse does not dedupe
    // it — measured scans=5), and a join-then-agg restructure measured
    // slower still. Non-survivor docs keep per-doc presence through the
    // explode (text nulled → posexplode_outer emits one null-seg row)
    // but never pay segmentation: their segments are counted nowhere
    // and cannot win the first-occurrence window (survivors sort first,
    // and `keep` requires exact_keep), so dropping them is
    // result-identical — docs/ROUND9_NOTES.md measured the explode-all variant
    // paying a full non-survivor segmentation for nothing (d25
    // 0.87 → 0.60 s; d18 unchanged within noise). The window key is
    // salted with doc_id on null segs so non-survivor rows form
    // singleton partitions instead of one corpus-wide null bucket — the
    // skew that would otherwise appear at real scale. text_clean is
    // never computed — the census only needs counts.
    val segs = Segments.explodeSegments(
      flagged.withColumn("__seg_text", when(col("exact_keep"), col("text"))),
      "doc_id", "__seg_text", SegTokens,
      Seq("source", "qual_ok", "exact_keep"))
    // orderBy needs no exact_keep term: every non-null seg row IS a
    // survivor (non-survivor text was nulled before the explode)
    val firstWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seg"), when(col("seg").isNull, col("doc_id")))
      .orderBy(col("doc_id"), col("seg_idx"))
    val perDoc = segs
      .withColumn("keep",
        col("exact_keep") && col("seg").isNotNull &&
          row_number().over(firstWin) === 1)
      .groupBy("doc_id", "source", "qual_ok", "exact_keep")
      .agg(
        count(when(col("exact_keep"), col("seg"))).as("n_segs"),
        count(when(col("keep"), lit(true))).as("n_kept"))
      .withColumn("final_ok",
        col("exact_keep") && col("n_kept") * 2 >= col("n_segs"))
    perDoc.groupBy("source").agg(
      count(lit(1)).as("n_total"),
      count(when(col("qual_ok"), lit(true))).as("n_quality"),
      count(when(col("exact_keep"), lit(true))).as("n_exact"),
      count(when(col("final_ok"), lit(true))).as("n_final"))
  }

  /** Corpus-statistics fluency (n-gram-LM quality proxy): mean scaled-
    * integer conditional bigram probability per document
    * ([[graft.text.Fluency]]). */
  def bigramFluency(s: SparkSession, dir: String): DataFrame =
    graft.text.Fluency.bigramFluency(
      Tables.spread(Tables(s, dir).documents, "doc_id"), "doc_id", "text")

  private val ChunkSize = 64
  private val ChunkStride = 48

  /** Context-window chunking (64-token windows, stride 48 → 16-token
    * overlap): the prep step that turns curated documents into
    * training-context pieces without losing boundary-straddling spans.
    * [[graft.text.Segments.chunkWithOverlap]]; exact integer slicing, so
    * the oracle replays it verbatim. */
  def chunkOverlap(s: SparkSession, dir: String): DataFrame =
    Segments.chunkWithOverlap(Tables(s, dir).documents, "doc_id", "text",
      ChunkSize, ChunkStride)

  /** Lexical-vs-semantic near-dup DISAGREEMENT audit (d30): the same
    * unordered doc pair surface seen by two independent detectors —
    * d06's MinHash-LSH estimated-Jaccard pairs (lexical) and e02's
    * embedding-cosine pairs (semantic; doc_id ≡ vec_id in the corpus) —
    * full-outer-joined and classified `both` / `lexical_only` /
    * `semantic_only`. The audit a curation owner runs before trusting
    * either pass alone: `semantic_only` pairs are paraphrase/translation
    * duplicates the shingle pass is blind to, `lexical_only` pairs are
    * template/boilerplate twins whose MEANING diverged. Cost: the two
    * (already bounded, never-all-pairs) pair pipelines + one shuffle
    * join on the pair key — linear in PAIR COUNTS at any scale, but the
    * e02 side's pair count itself grows super-linearly (measured
    * sf0.1→sf1 exponent 1.14; the registry-probing twin d30b measures
    * 0.89 — docs/SCALE.md). The
    * oracle composes d06's and e02's full SQL, so the classification is
    * cell-exact, not spot-checked. */
  def lexSemAudit(s: SparkSession, dir: String): DataFrame = {
    val lex = TextQ.minhashDedup(s, dir)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
    val sem = SimilarityQ.cosineNearDup(s, dir)
      .select(col("id_a"), col("id_b"), col("cos"))
    lex.join(sem, Seq("id_a", "id_b"), "full_outer")
      .select(col("id_a"), col("id_b"), col("est_jaccard"), col("cos"),
        when(col("est_jaccard").isNotNull && col("cos").isNotNull, lit("both"))
          .when(col("est_jaccard").isNotNull, lit("lexical_only"))
          .otherwise(lit("semantic_only")).as("agreement"))
  }

  /** d30's registry-shaped production twin (d30b) — the audit as a daily
    * increment actually runs it: the lexical side probes the STORED
    * MinHash band index ([[graft.store.Registries.minhashBands]], d26b's
    * path — history is never re-signed or re-banded), the semantic side
    * probes the STORED LSH bucket registry (e07b's path — same-bucket
    * candidates, exact-decimal rescore), and the two NEW-TOUCHING pair
    * sets full-outer-join on the unordered pair key with d30's
    * classifier verbatim. No broadcast-nested-loop anywhere: both pair
    * generators are banded/bucketed registry joins. Measured sf0.1→sf1
    * exponent 0.89 vs d30's 1.14 (docs/SCALE.md); d30 stays registered as
    * the from-scratch worst-case twin (the d26/d26b convention). SCALE
    * CAVEAT (sf10 rehearsal): the SEMANTIC side inherits e07b's fixed-
    * plane n²/64 candidate growth a decade past its calibration — at true
    * scale the audit composes e19's adaptive-plane pair surface instead
    * (the lexical banded side is corpus-stable). The oracle composes
    * d26b's restricted-rerun SQL and e07b's bucketed-contract SQL with
    * d30's classification tail, CTE-sharing both so the audit cannot
    * drift from the detectors it audits. */
  def lexSemAuditStored(s: SparkSession, dir: String): DataFrame = {
    val lex = TextQ.incrementalMinhashStored(s, dir)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
    val sem = SimilarityQ.incrementalNearDupStored(s, dir)
      .select(col("id_a"), col("id_b"), col("cos"))
    lex.join(sem, Seq("id_a", "id_b"), "full_outer")
      .select(col("id_a"), col("id_b"), col("est_jaccard"), col("cos"),
        when(col("est_jaccard").isNotNull && col("cos").isNotNull, lit("both"))
          .when(col("est_jaccard").isNotNull, lit("lexical_only"))
          .otherwise(lit("semantic_only")).as("agreement"))
  }

  /** SEGMENT-level decontamination (d35) — the passage-granularity
    * action d32's whole-doc drop cannot express: remove from each train
    * document every 3-token segment whose exact text appears anywhere in
    * the eval corpus (verbatim benchmark-passage removal — the document
    * survives, the leaked passage does not). Same single-scan window
    * shape as d32: segments explode once with the split flag carried, a
    * segment-partitioned window max answers "does any eval doc carry
    * this segment", one train-side per-doc rollup — one documents scan,
    * no join; the null-segment key is salted by doc_id (the funnel's
    * skew guard). Per train doc: n_segs, n_dropped, n_kept. */
  def segmentDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = Segments.explodeSegments(
      Tables.spread(Tables(s, dir).documents, "doc_id")
        .withColumn("__train", col("doc_id") % 50 =!= 0),
      "doc_id", "text", SegTokens, Seq("__train"))
    segs.withColumn("__hit",
        max(when(!col("__train") && col("seg").isNotNull, 1).otherwise(0))
          .over(Window.partitionBy(col("seg"),
            when(col("seg").isNull, col("doc_id")))))
      .filter(col("__train"))
      .groupBy("doc_id")
      .agg(count(col("seg")).as("n_segs"),
        sum(when(col("seg").isNotNull, col("__hit")).otherwise(0)).cast("long")
          .as("n_dropped"))
      .withColumn("n_kept", col("n_segs") - col("n_dropped"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d30_lexsem_audit"  -> (lexSemAudit _),
    "d30b_lexsem_audit_stored" -> (lexSemAuditStored _),
    "d35_segment_decontaminate" -> (segmentDecontaminate _),
    "d18_curation_funnel" -> (curationFunnel _),
    "d25_model_funnel"  -> (modelFunnel _),
    "d29_chunk_overlap" -> (chunkOverlap _),
    "d19_bigram_fluency" -> (bigramFluency _),
    "d13_segment_dedup" -> (segmentDedup _),
    "d14_boilerplate"   -> (boilerplate _),
    "d15_bpe_pairs"     -> (bpePairs _),
    "d16_bpe_encode"    -> (bpeEncode _),
    "q58_token_fertility" -> (tokenFertility _),
    "d40_fertility_drift" -> (fertilityDrift _),
    "d17_source_overlap" -> (sourceOverlap _),
    "q56_nfc_normalize" -> (nfcNormalize _))

  /** Shared segment derivation: 3-token chunks of the whitespace token
    * stream, 1-based list slicing in DuckDB mirroring Spark's `slice`. */
  private def segsCte = s"""toks AS (
    |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
    |  FROM documents),
    |segs AS (
    |  SELECT doc_id, CAST(i AS INT) AS seg_idx,
    |         array_to_string(t[(i*$SegTokens+1):(i*$SegTokens+$SegTokens)], ' ') AS seg
    |  FROM toks, UNNEST(generate_series(0, CAST(ceil(len(t) / $SegTokens.0) AS BIGINT) - 1)) AS u(i))""".stripMargin

  /** The frozen-vocabulary BPE encode of one word `w` as a SQL rewrite
    * chain (delimiter-guarded replaces in merge-rank order) — shared by
    * the d16 and q58 oracles so the two replay ONE tokenizer. */
  private def bpeChainSql: String = {
    def wrap(sym: String) = s"chr(1)||'$sym'||chr(2)"
    val rep0 = "array_to_string(list_transform(string_split(w, ''), " +
      s"c -> chr(1)||c||chr(2)), '') || ${wrap(Bpe.Eow)}"
    Bpe.stableModel.merges.foldLeft(rep0) { case (acc, (a, b)) =>
      s"replace($acc, ${wrap(a)}||${wrap(b)}, ${wrap(a + b)})"
    }
  }

  /** d16's oracle: replay [[Bpe.stableModel]]'s merges in rank order as
    * string replaces over a delimiter-guarded symbol encoding — chr(1)/
    * chr(2) wrap every symbol (both absent from the corpus alphabet), so a
    * replace can only ever match a whole adjacent symbol pair, and SQL
    * replace's left-to-right non-overlap scan is exactly
    * [[Bpe.mergePair]]'s. Rank-order replay equals the greedy lowest-rank
    * encode loop because a merge's components rank strictly below it.
    * Verified against an independent greedy-BPE implementation on all 500
    * sf0.001 docs before wiring. */
  private def bpeEncodeOracle: String = {
    val chain = bpeChainSql
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |enc AS (
       |  SELECT doc_id, t, list_transform(t, w -> $chain) AS e FROM toks)
       |SELECT doc_id,
       |       CAST(len(t) AS INT) AS n_words,
       |       CAST(coalesce(list_sum(list_transform(t, w -> length(w) + 1)), 0) AS INT) AS n_symbols,
       |       CAST(coalesce(list_sum(list_transform(e, s -> length(s) - length(replace(s, chr(1), '')))), 0) AS INT) AS n_subwords
       |FROM enc""".stripMargin
  }

  /** The funnel oracles' shared head: documents with the token array. */
  private val funnelToksCte =
    """toks AS (
      |  SELECT doc_id, source, text,
      |         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
      |  FROM documents)""".stripMargin

  /** The funnel oracles' shared tail (mirrors [[funnelCensus]]): consumes a
    * `q(doc_id, source, text, qual_ok)` CTE — d18 and d25 differ only in
    * how `q` is produced, so the two funnels cannot drift. */
  private val funnelTailSql =
    s"""ex AS (
       |  SELECT *, qual_ok AND doc_id = min(CASE WHEN qual_ok THEN doc_id END)
       |           OVER (PARTITION BY md5(text)) AS exact_keep
       |  FROM q),
       |surv AS (SELECT doc_id, source, text FROM ex WHERE exact_keep),
       |stoks AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
       |  FROM surv),
       |segs AS (
       |  SELECT doc_id, CAST(i AS INT) AS seg_idx,
       |         array_to_string(t[(i*$SegTokens+1):(i*$SegTokens+$SegTokens)], ' ') AS seg
       |  FROM stoks, UNNEST(generate_series(0, CAST(ceil(len(t) / $SegTokens.0) AS BIGINT) - 1)) AS u(i)),
       |sflag AS (
       |  SELECT doc_id, seg_idx,
       |         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1 AS keep
       |  FROM segs),
       |sdoc AS (
       |  SELECT doc_id, count(*) AS n_segs,
       |         sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept
       |  FROM sflag GROUP BY 1),
       |fin AS (
       |  SELECT s.source,
       |         count(CASE WHEN 2 * coalesce(d.n_kept, 0) >= coalesce(d.n_segs, 0) THEN 1 END) AS n_final
       |  FROM surv s LEFT JOIN sdoc d USING (doc_id) GROUP BY 1),
       |base AS (
       |  SELECT source, count(*) AS n_total,
       |         count(CASE WHEN qual_ok THEN 1 END) AS n_quality,
       |         count(CASE WHEN exact_keep THEN 1 END) AS n_exact
       |  FROM ex GROUP BY 1)
       |SELECT base.source, n_total, n_quality, n_exact,
       |       coalesce(fin.n_final, 0) AS n_final
       |FROM base LEFT JOIN fin USING (source)""".stripMargin

  val oracles: Map[String, String] = Map(
    // d30: d06's and e02's FULL oracle SQL as nested-WITH CTEs, full
    // outer join on the unordered pair key (both emit id_a < id_b),
    // CASE-classified — the Spark query's twin detectors, composed
    "d30_lexsem_audit" ->
      s"""WITH lex AS (
         |${TextQ.minhashOracle()}
         |), sem AS (
         |${SimilarityQ.nearDupOracle("")}
         |)
         |SELECT coalesce(l.id_a, s.id_a) AS id_a,
         |       coalesce(l.id_b, s.id_b) AS id_b,
         |       l.est_jaccard, s.cos,
         |       CASE WHEN l.id_a IS NOT NULL AND s.id_a IS NOT NULL THEN 'both'
         |            WHEN l.id_a IS NOT NULL THEN 'lexical_only'
         |            ELSE 'semantic_only' END AS agreement
         |FROM lex l FULL OUTER JOIN sem s
         |  ON l.id_a = s.id_a AND l.id_b = s.id_b""".stripMargin,
    // d30b: the registry-shaped audit — d26b's new-touching restricted
    // rerun (lex) × e07b's bucketed-contract pairs (sem), d30's
    // classifier verbatim; both detector SQLs are the single-source
    // strings their own oracles run, so the composition cannot drift
    "d30b_lexsem_audit_stored" ->
      s"""WITH lex AS (
         |${TextQ.minhashOracle(" AND (id_a % 2 = 1 OR id_b % 2 = 1)")}
         |), sem AS (
         |${SimilarityQ.bucketedIncrNearDupOracle}
         |)
         |SELECT coalesce(l.id_a, s.id_a) AS id_a,
         |       coalesce(l.id_b, s.id_b) AS id_b,
         |       l.est_jaccard, s.cos,
         |       CASE WHEN l.id_a IS NOT NULL AND s.id_a IS NOT NULL THEN 'both'
         |            WHEN l.id_a IS NOT NULL THEN 'lexical_only'
         |            ELSE 'semantic_only' END AS agreement
         |FROM lex l FULL OUTER JOIN sem s
         |  ON l.id_a = s.id_a AND l.id_b = s.id_b""".stripMargin,
    // d35: the shared segment CTEs split eval/train; eval's DISTINCT
    // segment set left-joins each train segment occurrence (counting per
    // POSITION, matching the positional explode); zero-segment train
    // docs appear via the documents left join as trivially clean
    "d35_segment_decontaminate" ->
      s"""WITH $segsCte,
         |ev AS (SELECT DISTINCT seg FROM segs WHERE doc_id % 50 = 0),
         |tr AS (SELECT doc_id, seg FROM segs WHERE doc_id % 50 <> 0),
         |agg AS (
         |  SELECT tr.doc_id,
         |         CAST(COUNT(tr.seg) AS BIGINT) AS n_segs,
         |         CAST(SUM(CASE WHEN ev.seg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
         |  FROM tr LEFT JOIN ev ON ev.seg = tr.seg
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |       coalesce(a.n_segs, 0) AS n_segs,
         |       coalesce(a.n_dropped, 0) AS n_dropped,
         |       coalesce(a.n_segs, 0) - coalesce(a.n_dropped, 0) AS n_kept
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
         |LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin,
    "d16_bpe_encode" -> bpeEncodeOracle,
    // q58: d16's tokenizer chain rolled up per source (ASCII corpus:
    // DuckDB length == Spark length)
    "q58_token_fertility" -> {
      val chain = bpeChainSql
      s"""WITH toks AS (
         |  SELECT doc_id, source, text,
         |         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
         |  FROM documents),
         |enc AS (
         |  SELECT doc_id, source, length(text) AS chars,
         |         coalesce(list_sum(list_transform(
         |           list_transform(t, w -> $chain),
         |           s -> length(s) - length(replace(s, chr(1), '')))), 0) AS subwords
         |  FROM toks)
         |SELECT source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(subwords) AS BIGINT) AS n_tokens,
         |       CAST(SUM(chars) AS BIGINT) AS n_chars,
         |       round(CAST(SUM(chars) AS DOUBLE) / CAST(SUM(subwords) AS DOUBLE), 9)
         |         AS chars_per_token
         |FROM enc GROUP BY 1""".stripMargin
    },
    // d40: q58's chain with the even/odd snapshot split; ppm ratios are
    // hugeint floor-division (d27's arithmetic), nullif-guarded
    "d40_fertility_drift" -> {
      val chain = bpeChainSql
      s"""WITH toks AS (
         |  SELECT doc_id, source, text,
         |         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
         |  FROM documents),
         |enc AS (
         |  SELECT doc_id, source, doc_id % 2 = 1 AS nw, length(text) AS chars,
         |         coalesce(list_sum(list_transform(
         |           list_transform(t, w -> $chain),
         |           s -> length(s) - length(replace(s, chr(1), '')))), 0) AS subwords
         |  FROM toks),
         |agg AS (
         |  SELECT source,
         |         CAST(sum(CASE WHEN NOT nw THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_old,
         |         CAST(sum(CASE WHEN nw THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_new,
         |         CAST(sum(CASE WHEN NOT nw THEN subwords ELSE 0 END) AS BIGINT) AS tokens_old,
         |         CAST(sum(CASE WHEN nw THEN subwords ELSE 0 END) AS BIGINT) AS tokens_new,
         |         CAST(sum(CASE WHEN NOT nw THEN chars ELSE 0 END) AS BIGINT) AS chars_old,
         |         CAST(sum(CASE WHEN nw THEN chars ELSE 0 END) AS BIGINT) AS chars_new
         |  FROM enc GROUP BY 1)
         |SELECT source, n_docs_old, n_docs_new, tokens_old, tokens_new,
         |       chars_old, chars_new,
         |       CAST((CAST(chars_old AS HUGEINT) * 1000000)
         |            // nullif(tokens_old, 0) AS BIGINT) AS cpt_old_ppm,
         |       CAST((CAST(chars_new AS HUGEINT) * 1000000)
         |            // nullif(tokens_new, 0) AS BIGINT) AS cpt_new_ppm,
         |       CAST((CAST(chars_new AS HUGEINT) * 1000000) // nullif(tokens_new, 0)
         |          - (CAST(chars_old AS HUGEINT) * 1000000) // nullif(tokens_old, 0)
         |         AS BIGINT) AS drift_ppm
         |FROM agg""".stripMargin
    },
    "d29_chunk_overlap" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
         |  FROM documents),
         |chunks AS (
         |  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |         t[(i*$ChunkStride+1):(i*$ChunkStride+$ChunkSize)] AS c
         |  FROM toks, UNNEST(generate_series(0, (len(t) - 1) // $ChunkStride)) AS u(i)
         |  WHERE len(t) > 0)
         |SELECT doc_id, chunk_idx,
         |       CAST(len(c) AS INT) AS n_chunk_toks,
         |       array_to_string(c, ' ') AS chunk_text
         |FROM chunks""".stripMargin,
    "d13_segment_dedup" ->
      s"""WITH $segsCte,
         |flagged AS (
         |  SELECT doc_id, seg_idx, seg,
         |         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1 AS keep
         |  FROM segs),
         |rebuilt AS (
         |  SELECT doc_id,
         |         count(*) AS n_segs,
         |         count(CASE WHEN keep THEN 1 END) AS n_kept,
         |         coalesce(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY seg_idx), '') AS text_clean
         |  FROM flagged GROUP BY doc_id)
         |SELECT d.doc_id,
         |       coalesce(r.n_segs, 0) AS n_segs,
         |       coalesce(r.n_kept, 0) AS n_kept,
         |       coalesce(r.text_clean, '') AS text_clean
         |FROM documents d LEFT JOIN rebuilt r USING (doc_id)""".stripMargin,
    "d14_boilerplate" ->
      s"""WITH $segsCte
         |SELECT seg, count(DISTINCT doc_id) AS n_docs, count(*) AS n_total
         |FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) >= $MinDocs""".stripMargin,
    "d18_curation_funnel" ->
      s"""WITH $funnelToksCte,
         |sc AS (
         |  SELECT doc_id, source, text, t,
         |         len(list_filter(t, x -> list_contains(
         |           ['the','a','of','and','to','el','la','de','y','que','der','die','das','und','zu','le','et'], x))) AS s_all
         |  FROM toks),
         |q AS (
         |  SELECT doc_id, source, text,
         |         round(least(CAST(len(t) AS DOUBLE) / 50.0, 1.0) * 0.4
         |           + (1.0 - least(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |               / greatest(CAST(length(text) AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.3
         |           + least(CAST(s_all AS DOUBLE) / greatest(CAST(len(t) AS DOUBLE), 1.0) * 8.0, 1.0) * 0.3, 9)
         |           >= $MinQuality AS qual_ok
         |  FROM sc),
         |$funnelTailSql""".stripMargin,
    // the composed model-gated funnel: d21's weight/feature CTEs compute
    // the gate, d18's funnel CTEs consume it — docs the model never scores
    // (no features) carry the bias score 0, matching HashedNgramScore
    "d25_model_funnel" ->
      s"""WITH $funnelToksCte,
         |${TextQ.modelScoreCtes},
         |q AS (
         |  SELECT t0.doc_id, t0.source, t0.text,
         |         coalesce(m.score, 0) >= 0 AS qual_ok
         |  FROM toks t0 LEFT JOIN msc m USING (doc_id)),
         |$funnelTailSql""".stripMargin,
    "d19_bigram_fluency" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
         |  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
         |  WHERE len(t) >= 2),
         |cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
         |cp AS (SELECT w1, count(*) AS cp FROM bg GROUP BY 1),
         |sc AS (
         |  SELECT doc_id, (cb.cb * ${Fluency.Scale}) // cp.cp AS s
         |  FROM bg JOIN cb USING (w1, w2) JOIN cp USING (w1)),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_bigrams,
         |         CAST(sum(s) // count(*) AS BIGINT) AS fluency
         |  FROM sc GROUP BY 1)
         |SELECT d.doc_id,
         |       coalesce(a.n_bigrams, 0) AS n_bigrams,
         |       coalesce(a.fluency, 0) AS fluency
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "d15_bpe_pairs" ->
      s"""WITH toks AS (
         |  SELECT list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
         |  FROM documents),
         |words AS (SELECT u.w AS w, count(*) AS n FROM toks, UNNEST(t) AS u(w) GROUP BY 1),
         |sym AS (
         |  SELECT n, list_transform(generate_series(1, length(w)), i -> substr(w, i, 1))
         |         || ['${Bpe.Eow}'] AS s
         |  FROM words),
         |pairs AS (
         |  SELECT s[i] AS l, s[i + 1] AS r, CAST(sum(n) AS BIGINT) AS n
         |  FROM sym, UNNEST(generate_series(1, len(s) - 1)) AS u(i)
         |  GROUP BY 1, 2)
         |SELECT l, r, n, CAST(rnk AS INT) AS rnk
         |FROM (SELECT *, row_number() OVER (ORDER BY n DESC, l, r) AS rnk FROM pairs)
         |WHERE rnk <= 50""".stripMargin,
    "d17_source_overlap" ->
      """WITH toks AS (
        |  SELECT source, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source AS grp, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
        |  WHERE len(t) >= 3),
        |sizes AS (SELECT grp, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.grp AS grp_a, b.grp AS grp_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.grp < b.grp
        |  GROUP BY 1, 2)
        |SELECT grp_a, grp_b, sa.sz AS n_a, sb.sz AS n_b, n_common,
        |       CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.grp = grp_a
        |JOIN sizes sb ON sb.grp = grp_b""".stripMargin,
    "q56_nfc_normalize" ->
      """WITH dec AS (
        |  SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS d FROM documents)
        |SELECT doc_id,
        |       CAST(length(d) AS INT) AS len_decomposed,
        |       nfc_normalize(d) AS text_nfc,
        |       CAST(length(nfc_normalize(d)) AS INT) AS len_nfc
        |FROM dec""".stripMargin)
}
