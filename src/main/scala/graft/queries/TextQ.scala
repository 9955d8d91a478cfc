package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.{MinHashLsh, Shingles, SimHash}
import graft.text.TextMetrics

/** Text-analysis + deduplication operators over the `documents` table.
  * All oracle-backed since r06: d06/d07 (MinHash-LSH, SimHash) run on the
  * md5-derived hash source ([[MinHashLsh.md5BaseHash]] /
  * [[SimHash.md5TokenHash]] — md5 is the one hash family both engines
  * share), so DuckDB reproduces the full sketch pipeline bit-for-bit:
  * signatures, banding/chunking, candidate pairs, and the agreement
  * estimate. The xxhash64 fast paths stay the production default and are
  * proven equivalent in recall by DedupSpec against d04's exact Jaccard
  * ground truth. */
object TextQ {

  /** Token statistics per document (token array materialized once). */
  def tokenStats(s: SparkSession, dir: String): DataFrame = {
    val lens = transform(col("__toks"), t => length(t))
    Tables(s, dir).documents
      .withColumn("__toks", TextMetrics.tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("__toks")).as("n_tokens"),
        TextMetrics.bpeTokenCount(col("text")).as("n_bpe"),
        TextMetrics.punctCount(col("text")).as("n_punct"),
        round(aggregate(lens, lit(0), (acc, x) => acc + x).cast("double") /
          size(col("__toks")).cast("double"), 9).as("mean_tok_len"))
  }

  /** Language-ID + quality scoring (tokens materialized once — the
    * when-cascade would otherwise re-run the tokenizer per score). */
  def qualityLang(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .withColumn("__toks", TextMetrics.tokens(col("text")))
      .select(
        col("doc_id"), col("lang"),
        TextMetrics.langIdFromTokens(col("__toks")).as("lang_id"),
        TextMetrics.qualityScoreFromTokens(col("__toks"), col("text")).as("quality"))

  /** Exact dedup via content fingerprint: one canonical doc per distinct
    * text, plus the duplicate count. */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .groupBy(TextMetrics.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Exact n-gram Jaccard near-duplicate pairs (the sketch ground truth).
    * Shingles seen in > 64 documents are stop-shingles, removed as
    * preprocessing (mirrored in the oracle); jaccard runs over the
    * filtered shingle space — see [[Shingles.jaccardPairs]] for why sizes
    * must be post-cap too. Exact on this corpus (max DF 25 < 64). */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    // spread: tokenize+shingle before the postings shuffle — see Tables.spread
    Shingles.jaccardPairs(Tables.spread(Tables(s, dir).documents, "doc_id"),
      "doc_id", "text", n = 3, minJaccard = 0.5, maxShingleDf = Some(64))

  /** Per-source length census — the reporting rollup a curation pipeline
    * runs after filtering. */
  def sourceCensus(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  /** Intra-document repetition: duplicate word-trigram ratio, the
    * Gopher-style quality signal that catches boilerplate/looping text a
    * cross-document dedup never sees. Shuffle-free scalar projection over
    * the one-pass ShingleHashes expression (distinct=false), so it runs at
    * scan speed; docs with no trigram (under 3 tokens) are excluded on
    * both sides. */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    val grams = graft.functions.ShingleHashesFn.shingleHashes(
      col("text"), 3, distinct = false)
    Tables(s, dir).documents
      .select(col("doc_id"), grams.as("__g"))
      .filter(size(col("__g")) > 0)
      .select(col("doc_id"),
        size(col("__g")).cast("long").as("n_grams"),
        (size(col("__g")) - size(array_distinct(col("__g")))).cast("long").as("n_dup"))
      .withColumn("dup_ratio",
        round(col("n_dup").cast("double") / col("n_grams").cast("double"), 9))
  }

  /** MinHash+LSH near-dup candidates — oracle-backed md5 hash source. */
  def minhashDedup(s: SparkSession, dir: String): DataFrame =
    // spread: the shingle+signature pass runs before the band shuffle
    MinHashLsh.nearDuplicatesMd5(Tables.spread(Tables(s, dir).documents, "doc_id"),
      "doc_id", "text", minEstJaccard = 0.5)

  /** Sketch-recall audit (d41) — the text-side twin of e14's ANN recall
    * gate: per exact-Jaccard band (floor(jac × 10), 1.0 folded into
    * band 9), what fraction of d04's TRUE near-dup pairs does d06's
    * MinHash banding emit. The S-curve made measurable — the nightly
    * detector-health read that catches a banding/hash regression before
    * a dedup run silently under-merges: band-9 recall collapsing is a
    * bug, band-5 recall being partial is the theory working as priced.
    * Production posture mirrors e14: the truth side is capped to the
    * 4096 md5-lowest pairs (deterministic, oracle-replayed, NON-binding
    * at the test scales so the oracle pins the capped shape) — the
    * exact-Jaccard surface is the expensive side and the audit needs a
    * sample, not a census; the sketch side would be read from the dedup
    * run's persisted pair table in production (recomputed here to keep
    * the query self-contained for the oracle). The cap itself is
    * produced by the bounded top-K aggregate (e14's convention, map-side
    * combine: each partition ships ≤ maxTruthPairs rows), NOT a global
    * row_number window — the uncapped ≥0.5-Jaccard pair surface never
    * lands on one task. */
  def sketchRecall(s: SparkSession, dir: String): DataFrame =
    sketchRecallCapped(s, dir, maxTruthPairs = 4096)

  private[graft] def sketchRecallCapped(s: SparkSession, dir: String,
                                        maxTruthPairs: Int): DataFrame =
    sketchRecallFrom(Tables.spread(Tables(s, dir).documents, "doc_id"),
      maxTruthPairs)

  /** [[sketchRecall]] over an arbitrary (doc_id, text) frame — split out
    * so the spec can drive the full S-curve with PLANTED controlled-
    * Jaccard pairs (the real corpora only populate bands 8–9). */
  private[graft] def sketchRecallFrom(docs: DataFrame,
                                      maxTruthPairs: Int): DataFrame = {
    // bounded top-K (ascending md5 rank, ties by ids — the same total
    // order the oracle's row_number replays): each partition contributes
    // at most maxTruthPairs rows to the final selection, so deriving the
    // cap never funnels the whole pair surface through one task
    // persisted because BOTH probe sides below read it (≤ maxTruthPairs
    // rows — bounded by the heap cap, not a data property); without the
    // persist the whole exact-Jaccard pipeline would evaluate twice
    val truth = graft.ops.WindowOps.topKBounded(
        Shingles.jaccardPairs(docs, "doc_id", "text", n = 3,
            minJaccard = 0.5, maxShingleDf = Some(64))
          .withColumn("__md5", md5(concat_ws(":", col("id_a"), col("id_b")))),
        part = Seq.empty,
        order = Seq(("__md5", false), ("id_a", false), ("id_b", false)),
        k = maxTruthPairs, rankCol = "__rk")
      .select(col("id_a"), col("id_b"),
        least(floor(col("jaccard") * 10), lit(9L)).as("jac_band"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val caught = MinHashLsh.nearDuplicatesMd5(docs, "doc_id", "text",
        minEstJaccard = 0.5)
      .select(col("id_a"), col("id_b"))
    // hit detection STREAMS the corpus-scale sketch pair set against a
    // broadcast of the bounded truth sample — the old left join
    // exchanged+sorted the WHOLE band-emitted pair surface per audit
    // (SortMergeJoin on (id_a, id_b)); pair multiplicity semantics are
    // identical (a duplicated caught pair duplicates the truth row in
    // both shapes). The bounded side then broadcasts back, so the audit
    // plan carries no shuffle at all past the two detector pipelines.
    val hits = caught
      .join(broadcast(truth.select(col("id_a"), col("id_b"))),
        Seq("id_a", "id_b"))
      .withColumn("__hit", lit(1L))
    val out = truth.join(broadcast(hits), Seq("id_a", "id_b"), "left")
      .groupBy("jac_band")
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_caught"))
      .withColumn("recall",
        round(col("n_caught").cast("double") / col("n_true").cast("double"), 9))
    // release the PREVIOUS audit's truth cache: repeated audits in a
    // long-lived session pin at most one ≤4096-row cache entry
    lastTruth.keep(truth)
    out
  }

  private val lastTruth = new OneSlotCache

  /** Sketch-recall audit on a bounded document sample (d41b) — d41's
    * scale path: the same per-band S-curve, measured over the m
    * md5-lowest documents instead of the corpus (an unbiased, engine-
    * stable pseudo-random subset, e14's sampling convention; m from
    * [[sampleCapLaw]]). d41's
    * oracle replays two corpus-wide quadratic chains and is the fair-set
    * outlier at sf1; HERE both the exact-Jaccard truth and the MinHash
    * sketch run over a FIXED-size sample, so the audit (and its oracle)
    * costs the same at sf1 as at sf0.01 — cell-exact at every scale. The
    * detector-health signal survives sampling because recall is a
    * per-band ratio, not a count.
    *
    * The sample cap follows the sqrt(n) LAW (r11's rehearsal finding made
    * code): a FIXED m-doc sample sees within-sample pair density fall as
    * (m/n)² — at 500k docs a 1024-doc sample's truth side was literally
    * empty. With qualifying pairs growing ~linearly in n (the corpus's
    * mutation-copy rate is a constant fraction), expected sampled pairs
    * ≈ P(n)·(m/n)² stays CONSTANT when m ∝ sqrt(n). [[sampleCapLaw]]
    * anchors the constant at the cap's first binding point (1024 docs at
    * n = 5000): below it the floor holds, above it m grows as sqrt so the
    * audit keeps a scale-stable signal at sqrt-bounded cost. The law is
    * plain IEEE double arithmetic (divide, sqrt, multiply, ceil — all
    * correctly rounded), so the DuckDB oracle re-derives the identical
    * cap from COUNT(*) (the e19 convention for data-dependent params). */
  def sketchRecallSampled(s: SparkSession, dir: String): DataFrame =
    sketchRecallSampledCapped(s, dir,
      sampleDocs = sampleCapLaw(Tables(s, dir).documents.count()),
      maxTruthPairs = 4096)

  /** d41b's sample-size law: max(1024, ceil(1024·sqrt(n/5000))). */
  private[graft] def sampleCapLaw(n: Long): Int =
    math.max(1024L,
      math.ceil(1024.0 * math.sqrt(n / 5000.0)).toLong).toInt

  private[graft] def sketchRecallSampledCapped(s: SparkSession, dir: String,
      sampleDocs: Int, maxTruthPairs: Int): DataFrame = {
    val docs = graft.ops.WindowOps.topKBounded(
        Tables(s, dir).documents.select(col("doc_id"), col("text"))
          .withColumn("__md5", md5(col("doc_id").cast("string"))),
        part = Seq.empty,
        order = Seq(("__md5", false), ("doc_id", false)),
        k = sampleDocs, rankCol = "__rk")
      .select("doc_id", "text")
    sketchRecallFrom(Tables.spread(docs, "doc_id"), maxTruthPairs)
  }

  /** SimHash near-dup pairs — oracle-backed md5 hash source. Balanced
    * preset: hamming <= 6 over 8 chunks with the hot-chunk cap on. */
  def simhashDedup(s: SparkSession, dir: String): DataFrame =
    // spread: the per-token hash/vote pass runs before the chunk shuffle
    SimHash.nearDuplicatesMd5(Tables.spread(Tables(s, dir).documents, "doc_id"),
      "doc_id", "text", SimHash.Balanced)

  /** Model-based quality gate (fastText-style hashed-n-gram linear scorer,
    * codegen'd one-pass scoring; seeded md5-derived demo weights so the
    * oracle recomputes the identical model in SQL). */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    graft.text.QualityClassifier.scored(Tables(s, dir).documents,
      "doc_id", "text", graft.text.QualityClassifier.seededModel(), threshold = 0L)

  /** N-gram novelty: the fraction of each document's DISTINCT word
    * trigrams first introduced by that document (first = min doc_id — the
    * ingestion-order contribution score a crawl curator ranks sources by;
    * the complement of d08's intra-doc repetition and d13's cross-doc
    * segment dedup). Linear plan: per-doc shingles dedup map-side
    * (array_distinct before the explode — no distinct exchange), ONE
    * shingle-partitioned window computes the first claimant, one doc-keyed
    * aggregation; no joins, nothing pairwise, hot shingles cost window
    * rows rather than fan-out. */
  def novelty(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.spread(Tables(s, dir).documents, "doc_id")
    // explodeShingles materializes the token array in a prior projection —
    // inlining TextMetrics.tokens into the transform lambda re-runs the
    // regex split per element (the repo's documented interpreted-lambda
    // trap; measured 8.9 s vs 0.5 s at sf0.1). Shingles are already
    // distinct per doc (wordShinglesFromTokens array_distincts).
    val sh = graft.dedup.Shingles.explodeShingles(docs, "doc_id", "text", 3)
    sh.withColumn("__first", min(col("doc_id")).over(Window.partitionBy(col("shingle"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams").cast("double"), 9))
  }

  /** Dedup IMPACT report — the ROI readout a curation pipeline publishes
    * after d03's exact pass: per source, how many documents (and how many
    * characters) exact dedup removes. Canonical choice is GLOBAL (min
    * doc_id across all sources), so a mirror source is charged for copies
    * whose canonical lives elsewhere — the cross-source accounting a
    * per-source dedup report cannot see. Scale shape: the text column is
    * projected away before the shuffle (only the 16-byte fingerprint +
    * three narrow columns move), one fingerprint-partitioned window (the
    * same exchange d03's groupBy pays) tags keep/remove per row, then an
    * ordinary partially-aggregated per-source rollup; no joins, no second
    * scan of the corpus. */
  def dedupImpact(s: SparkSession, dir: String): DataFrame =
    dedupImpactFrom(Tables(s, dir).documents)

  /** [[dedupImpact]] over an arbitrary (doc_id, source, n_chars, text)
    * frame — split out so the spec can pin the global-canonical
    * semantics on a synthetic frame with PLANTED cross-source copies
    * (the driver corpus has none below sf0.1). */
  private[graft] def dedupImpactFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(col("doc_id"), col("source"), col("n_chars"),
        TextMetrics.fingerprint(col("text")).as("__fp"))
      .withColumn("__keep",
        col("doc_id") === min(col("doc_id")).over(Window.partitionBy(col("__fp"))))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_chars")).as("chars_total"),
        sum(when(!col("__keep"), col("n_chars")).otherwise(0L)).as("chars_removed"))
      .withColumn("removed_share",
        round((col("n_docs") - col("n_kept")).cast("double") /
          col("n_docs").cast("double"), 9))
  }

  /** Threshold-CALIBRATION sweep for d21's model gate — the table a
    * curator reads to pick d25's gate threshold: the score axis in fixed
    * 200-point bins; per bin, the document count plus the survivor count
    * and share if the threshold were set at that bin's lower edge. Scale
    * shape: the per-document work is d21's codegen'd one-pass scorer
    * feeding a partially-aggregated groupBy on a narrow derived key; the
    * cumulative-survival window then runs over the AGGREGATED frame
    * (#bins rows — driver-scale), so the global ordering never touches
    * per-document data. */
  def qualityCalibration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = graft.text.QualityClassifier.scored(
        Tables(s, dir).documents, "doc_id", "text",
        graft.text.QualityClassifier.seededModel(), threshold = 0L)
      .groupBy(floor(col("score") / lit(200)).as("score_bin"))
      .agg(count(lit(1)).as("n_docs"))
    binned
      .withColumn("surv_docs",
        sum(col("n_docs")).over(Window.orderBy(col("score_bin").desc)))
      .withColumn("surv_share",
        round(col("surv_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy()).cast("double"), 9))
  }

  /** Snapshot drift audit (d39) — Population Stability Index between two
    * corpus snapshots (even doc_ids = the accumulated crawl, odd = the new
    * drop, d26's convention), per source over fixed 200-char length bins
    * (capped at bin 24 → B = 25 bins): the distribution-shift alarm a
    * curation deployment reads before retraining gates or remixing — PSI
    * > 0.2 on a source means its new crawl no longer looks like history.
    * Laplace-smoothed ((n+1)/(N+B)) so every observed bin is defined even
    * when one snapshot misses it. Engine-portability: every integer factor
    * is cast to double BEFORE multiplying (long→double casts and double
    * multiply/divide are correctly-rounded IEEE ops, identical across
    * engines, and immune to the Long wraparound a raw integer product
    * would hit past ~3e9 rows/bin), so only ln's final ulp differs across
    * engines — rounded away
    * at 6 decimals, and `+ 0.0` normalizes -0.0; the per-source total sums
    * the ROUNDED terms as decimals (order-free), not raw doubles. Scale
    * shape: one scan → one (source × bin) groupBy with map-side partials;
    * the windows run over the aggregated frame (≤ 25 rows/source). */
  def snapshotDrift(s: SparkSession, dir: String): DataFrame =
    snapshotDriftFrom(Tables(s, dir).documents)

  /** [[snapshotDrift]] over an arbitrary (doc_id, source, n_chars) frame —
    * split out so the spec can pin PSI = 0 on identical snapshots and
    * localized positive PSI on a planted length shift. The PSI arithmetic
    * lives in [[graft.ops.Drift]], shared with e17's embedding-cell
    * drift. */
  private[graft] def snapshotDriftFrom(docs: DataFrame): DataFrame = {
    val h = docs
      .groupBy(col("source"),
        least(expr("n_chars div 200"), lit(24L)).as("chars_bin"))
      .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("n_old"),
        sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("n_new"))
    graft.ops.Drift.psi(h, Seq("source"), bins = 25)
      .select("source", "chars_bin", "n_old", "n_new", "psi_term", "psi_total")
  }

  /** Snapshot drift, production shape (d39b) — the same PSI report as
    * [[snapshotDrift]], but history is never re-scanned: the new drop
    * (odd doc_ids) is histogrammed in one pass and full-outer-joined
    * against the STORED reference histogram
    * ([[graft.store.Registries.driftHistogram]], ≤ sources × 25 rows).
    * This is what a daily drift read actually costs — O(drop) + a tiny
    * registry scan — while d39 stays registered as the from-scratch
    * worst-case twin (the d26/d26b convention). Bitwise-equal to d39 by
    * construction (the outer join reproduces exactly the observed-bin
    * row set, counts are the same integers, [[graft.ops.Drift.psi]] is
    * shared), which ScaleInvariants pins as a result-equal pair. The
    * join is a ≤500-row-a-side equi-join on the aggregated frames —
    * nothing here grows with history size. */
  def snapshotDriftStored(s: SparkSession, dir: String): DataFrame = {
    val newHist = Tables(s, dir).documents.filter(col("doc_id") % 2 === 1)
      .groupBy(col("source"),
        least(expr("n_chars div 200"), lit(24L)).as("chars_bin"))
      .agg(count(lit(1)).as("n_new"))
    val h = graft.store.Registries.driftHistogram(s, dir)
      .join(newHist, Seq("source", "chars_bin"), "full_outer")
      .na.fill(0L, Seq("n_old", "n_new"))
    graft.ops.Drift.psi(h, Seq("source"), bins = 25)
      .select("source", "chars_bin", "n_old", "n_new", "psi_term", "psi_total")
  }

  /** Incremental MinHash near-dup — the daily-crawl twin of d06: even
    * doc_ids play the accumulated history (their signature table is what
    * the flow stores), odd doc_ids are today's batch; the batch's bands
    * probe the stored signatures, and only new-touching pairs are scored.
    * Closes the incremental-dedup trilogy (d24 substring, e07 embedding,
    * d26 sketch) — each oracle is its monolithic twin restricted to the
    * new ids. Re-signs history inline (the rebuild worst case): measured
    * sf0.1→sf1 exponent 0.56 vs d26b's 0.47 (docs/SCALE.md). */
  def incrementalMinhash(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val newSig = MinHashLsh.signaturesMd5(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    val storedSig = MinHashLsh.signaturesMd5(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    MinHashLsh.incrementalNearDupFromSig(newSig, storedSig, "doc_id",
      minEstJaccard = 0.5, literalKeys = true)._1
  }

  /** d26's steady-state twin: today's batch probes the STORED band index
    * + signature registry ([[graft.store.Registries.minhashBands]] /
    * [[graft.store.Registries.minhashSignatures]] — parquet on disk,
    * built once like any durable table), so the benched cost is the
    * per-increment probe: one signature pass over the NEW docs, a join
    * against the stored band index (history never re-banded — the
    * registry-growth probe's finding), and id-keyed sig lookups for the
    * estimate. d26 itself recomputes both sides inline (the worst-case
    * rebuild); production runs look like THIS query. Same oracle as d26:
    * the full-rerun SQL restricted to new-touching pairs — the
    * incremental contract is registry-independent. */
  def incrementalMinhashStored(s: SparkSession, dir: String): DataFrame = {
    val newSig = MinHashLsh.signaturesMd5(
      Tables(s, dir).documents.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    MinHashLsh.incrementalNearDupFromIndex(newSig,
      graft.store.Registries.minhashBands(s, dir),
      graft.store.Registries.minhashSignatures(s, dir), "doc_id",
      minEstJaccard = 0.5, literalKeys = true)._1
  }

  /** Incremental CLUSTER MAINTENANCE (d33) — the step after incremental
    * pair detection that every registry-probing dedup flow needs: merge a
    * new day's near-dup pairs into the STORED cluster labels without
    * re-clustering history. The stored (doc_id, cluster_id) rows are
    * replayed as doc→representative edges — they connect exactly the
    * components the old pairs did — unioned with d26b's new-touching
    * pairs, and one connected-components pass over that graph yields the
    * updated labels. Cost: |stored labels| + |new pairs| edges, never the
    * full historical pair set. The oracle IS the full rerun (recursive
    * min-label walk over the whole corpus's MinHash pairs), so the
    * incremental-equals-monolithic contract is the correctness gate
    * itself, not a side spec. */
  def incrementalClusters(s: SparkSession, dir: String): DataFrame = {
    val newPairs = incrementalMinhashStored(s, dir).select("id_a", "id_b")
    val stored = graft.store.Registries.minhashClusters(s, dir)
    val edges = stored.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("id_a"), col("cluster_id").as("id_b"))
      .unionByName(newPairs)
    val cl = graft.ops.ConnectedComponents.clusters(edges, "id_a", "id_b")
      .withColumnRenamed("id", "doc_id")
    val sizes = cl.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    cl.join(sizes, Seq("cluster_id")).select("doc_id", "cluster_id", "n_members")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d33_incr_clusters" -> (incrementalClusters _),
    "d01_token_stats"   -> (tokenStats _),
    "d02_quality_lang"  -> (qualityLang _),
    "d03_exact_dedup"   -> (exactDedup _),
    "d04_ngram_jaccard" -> (ngramJaccard _),
    "d05_source_census" -> (sourceCensus _),
    "d08_repetition"    -> (repetition _),
    "d06_minhash_dedup" -> (minhashDedup _),
    "d41_sketch_recall" -> (sketchRecall _),
    "d41b_sketch_recall_sampled" -> (sketchRecallSampled _),
    "d07_simhash_dedup" -> (simhashDedup _),
    "d21_quality_score" -> (qualityScore _),
    "d22_novelty"       -> (novelty _),
    "d26_incr_minhash"  -> (incrementalMinhash _),
    "d26b_incr_minhash_stored" -> (incrementalMinhashStored _),
    "d36_dedup_impact"  -> (dedupImpact _),
    "d37_quality_calibration" -> (qualityCalibration _),
    "d39_snapshot_drift" -> (snapshotDrift _),
    "d39b_drift_stored" -> (snapshotDriftStored _))

  private[queries] def toksSqlFrom(table: String): String =
    s"""SELECT doc_id, lang, text,
       |       list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
       |FROM $table""".stripMargin
  private[queries] val toksSql = toksSqlFrom("documents")

  /** Shared oracle CTE chain for the capped exact-Jaccard pipeline
    * (tokens → distinct trigram shingles → stop-shingle cap → post-cap
    * sizes → per-pair common counts). d04's oracle and q48's recursive
    * clustering oracle ([[PipelineQ]]) both build on THIS definition, so
    * a semantics change cannot drift between them. Mirrors
    * [[graft.dedup.Shingles.jaccardPairs]] with maxShingleDf=64, n=3. */
  val jaccardOracleCte: String = jaccardOracleCteFrom("documents")
  def jaccardOracleCteFrom(table: String): String =
    s"""toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
      |  FROM $table),
      |sh0 AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
      |  WHERE len(t) >= 3),
      |-- stop-shingle preprocessing mirrors the Spark side: shingles with
      |-- document frequency > 64 are removed from the corpus first, and
      |-- jaccard (n_common AND sizes) runs over the filtered space
      |sh AS (
      |  SELECT * FROM sh0
      |  WHERE shingle IN (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 64)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      |pairs0 AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** hex→bigint in DuckDB (no native hex-parse of 60-bit values): digit
    * positions shifted and summed — exact integer arithmetic. */
  private def hexToBigint(hexExpr: String, nDigits: Int, skip: Int = 0): String =
    s"""list_sum(list_transform(generate_series(1, $nDigits),
       |  i -> CAST(strpos('0123456789abcdef', substr($hexExpr, i + $skip, 1)) - 1 AS BIGINT)
       |       * (CAST(1 AS BIGINT) << (4 * ($nDigits - i)))))""".stripMargin

  /** The full MinHash pipeline as a CTE BODY ending in `mh` (id_a, id_b,
    * est_jaccard ≥ 0.5) — m-prefixed names so it composes with
    * [[jaccardOracleCte]] in one statement (d41 joins the two chains).
    * [[minhashOracle]] wraps it for the standalone d06/d26 family. */
  private[queries] def minhashCtes: String = minhashCtesFrom("documents")
  private[queries] def minhashCtesFrom(table: String): String = {
    val p = MinHashLsh.Params()
    val fam = MinHashLsh.hashFamily(p).zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    val r = p.rowsPerBand
    s"""mtoks AS (${toksSqlFrom(table)}),
       |msh AS (
       |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
       |  FROM mtoks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
       |  WHERE len(t) >= 3),
       |xs AS MATERIALIZED (
       |  SELECT doc_id, ${hexToBigint("md5(shingle)", 15)} % 2147483647 AS x
       |  FROM msh),
       |fam(i, a, b) AS (VALUES $fam),
       |sigv AS (
       |  SELECT xs.doc_id, f.i, MIN((f.a * xs.x + f.b) % 2147483647) AS h
       |  FROM xs, fam f GROUP BY 1, 2),
       |-- MATERIALIZED: referenced three times (banding + both pair ends)
       |sigl AS MATERIALIZED (
       |  SELECT doc_id, list(h ORDER BY i) AS sig FROM sigv GROUP BY 1),
       |bands AS (
       |  SELECT doc_id, b,
       |         array_to_string(list_slice(sig, b * $r + 1, b * $r + $r), ':') AS key
       |  FROM sigl, UNNEST(generate_series(0, ${p.bands - 1})) AS u(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
       |mh0 AS (
       |  SELECT id_a, id_b,
       |         CAST(len(list_filter(generate_series(1, ${p.numHashes}),
       |                i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / ${p.numHashes}.0
       |           AS est_jaccard
       |  FROM cand
       |  JOIN sigl sa ON sa.doc_id = id_a
       |  JOIN sigl sb ON sb.doc_id = id_b),
       |mh AS (SELECT * FROM mh0 WHERE est_jaccard >= 0.5)""".stripMargin
  }

  /** d06's oracle: the full MinHash pipeline in SQL, on the SAME seeded
    * affine family the Spark aggregate uses (rendered as literals). The
    * final WHERE takes an extra conjunct so d26's new-touching restriction
    * cannot drift from the full rerun it must equal. */
  private[queries] def minhashOracle(extraWhere: String = ""): String =
    s"""WITH $minhashCtes
       |SELECT id_a, id_b, est_jaccard FROM mh
       |WHERE TRUE$extraWhere""".stripMargin

  /** d07's oracle: the full SimHash pipeline in SQL — per-token md5 hash
    * split into two 32-bit halves, 64 plane votes, bit assembly, chunk
    * collision join with the hot-chunk cap, hamming filter. */
  private def simhashOracle: String = {
    val preset = SimHash.Balanced
    val planeSums = (0 until 64).map { j =>
      val src = if (j < 32) s"(lo >> $j)" else s"(hi >> ${j - 32})"
      s"SUM(CASE WHEN $src & 1 = 1 THEN 1 ELSE -1 END) AS p$j"
    }.mkString(",\n       |         ").stripMargin
    val loBits = (0 until 32)
      .map(j => s"CASE WHEN p$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END")
      .mkString(" + ")
    val hiBits = (32 until 64)
      .map(j => s"CASE WHEN p$j > 0 THEN (CAST(1 AS BIGINT) << ${j - 32}) ELSE 0 END")
      .mkString(" + ")
    s"""WITH toks AS ($toksSql),
       |tok AS (SELECT doc_id, u.tok AS tok FROM toks, UNNEST(t) AS u(tok)),
       |h AS (
       |  SELECT doc_id,
       |         ${hexToBigint("md5(tok)", 8)} AS hi,
       |         ${hexToBigint("md5(tok)", 8, skip = 8)} AS lo
       |  FROM tok),
       |planes AS (
       |  SELECT doc_id,
       |         $planeSums
       |  FROM h GROUP BY 1),
       |sim AS MATERIALIZED (
       |  SELECT doc_id, $loBits AS lo_sim, $hiBits AS hi_sim FROM planes),
       |chunks AS (
       |  SELECT doc_id, c,
       |         CASE WHEN c < 4 THEN (lo_sim >> (c * 8)) & 255
       |              ELSE (hi_sim >> ((c - 4) * 8)) & 255 END AS cv,
       |         hi_sim, lo_sim
       |  FROM sim, UNNEST(generate_series(0, ${preset.chunks - 1})) AS u(c)),
       |pruned AS (
       |  SELECT * FROM (
       |    SELECT *, count(*) OVER (PARTITION BY c, cv) AS bn FROM chunks)
       |  WHERE bn <= ${preset.maxChunkBucket.get}),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |         bit_count(xor(a.hi_sim, b.hi_sim)) + bit_count(xor(a.lo_sim, b.lo_sim)) AS hamming
       |  FROM pruned a JOIN pruned b
       |    ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
       |FROM pairs WHERE hamming <= ${preset.maxDist}""".stripMargin
  }

  /** The d21 hashed-n-gram linear model as a CTE chain ending in
    * `msc(doc_id, score, n_feats)` — assumes a `toks(doc_id, …, t)` CTE is
    * already in scope. Shared by d21's oracle and d25's composed funnel
    * oracle ([[CurationQ]]), so the model the funnel gates on cannot drift
    * from the one d21 verifies cell-exact. The seeded weight table is
    * recomputed from md5, every uni/bigram feature bucketed by
    * md5-top-60-bits mod dim, integer sum. */
  private[queries] val modelScoreCtes: String = {
    val dim = 1024
    // NB: the weight index must NOT be named `i` — hexToBigint's digit
    // lambda binds `i`, and DuckDB lambda parameters shadow outer columns
    s"""w AS MATERIALIZED (
       |  SELECT wi, ${hexToBigint("md5('w:' || wi)", 8)} % 2001 - 1000 AS wt
       |  FROM UNNEST(generate_series(0, ${dim - 1})) AS g(wi)),
       |uni AS (SELECT doc_id, u.tok AS f FROM toks, UNNEST(t) AS u(tok)),
       |big AS (
       |  SELECT doc_id, t[i] || ' ' || t[i+1] AS f
       |  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
       |  WHERE len(t) >= 2),
       |feats AS (
       |  SELECT doc_id, ${hexToBigint("md5(f)", 15)} % $dim AS b
       |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
       |msc AS (
       |  SELECT f.doc_id, CAST(sum(w.wt) AS BIGINT) AS score,
       |         CAST(count(*) AS INT) AS n_feats
       |  FROM feats f JOIN w ON w.wi = f.b GROUP BY 1)""".stripMargin
  }

  /** d21's oracle: the identical hashed-n-gram linear model in SQL. */
  private def qualityScoreOracle: String =
    s"""WITH toks AS ($toksSql),
       |$modelScoreCtes
       |SELECT doc_id, score, n_feats,
       |       CASE WHEN score >= 0 THEN 1 ELSE 0 END AS keep
       |FROM msc""".stripMargin

  /** d41/d41b oracle: d04's truth chain (md5-rank capped) LEFT JOIN the
    * d06 chain over `table`, per-band recall. `prefix` prepends the
    * sample CTE for the bounded variant; one builder, so the two
    * registered shapes cannot drift. */
  private def sketchRecallOracle(prefix: String, table: String): String =
    s"""WITH $prefix${jaccardOracleCteFrom(table)},
       |truth0 AS (
       |  SELECT id_a, id_b,
       |         least(CAST(floor(CAST(n_common AS DOUBLE)
       |             / CAST(sa.sz + sb.sz - n_common AS DOUBLE) * 10) AS BIGINT),
       |           9) AS jac_band,
       |         row_number() OVER (ORDER BY
       |           md5(CAST(id_a AS VARCHAR) || ':' || CAST(id_b AS VARCHAR)),
       |           id_a, id_b) AS rk
       |  FROM pairs0
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE CAST(n_common AS DOUBLE)
       |        / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.5),
       |truth AS (SELECT id_a, id_b, jac_band FROM truth0 WHERE rk <= 4096),
       |${minhashCtesFrom(table)}
       |SELECT t.jac_band, CAST(count(*) AS BIGINT) AS n_true,
       |       CAST(sum(CASE WHEN mh.id_a IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_caught,
       |       round(CAST(sum(CASE WHEN mh.id_a IS NOT NULL THEN 1 ELSE 0 END)
       |                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 9) AS recall
       |FROM truth t
       |LEFT JOIN mh ON mh.id_a = t.id_a AND mh.id_b = t.id_b
       |GROUP BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    // d33: the MONOLITHIC rerun — d06's full pair SQL → recursive
    // min-label walk over the whole corpus. The incremental Spark path
    // (stored labels + new-touching pairs) must reproduce it cell-exactly,
    // so the incremental contract is enforced by the correctness gate.
    "d33_incr_clusters" ->
      s"""WITH RECURSIVE mp AS (
         |${minhashOracle()}
         |),
         |edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM mp
         |          UNION ALL SELECT id_b, id_a FROM mp),
         |walk(id, r) AS (
         |  SELECT DISTINCT a, a FROM edges
         |  UNION
         |  SELECT w.id, e.b FROM walk w JOIN edges e ON e.a = w.r),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM walk GROUP BY 1)
         |SELECT doc_id, cluster_id,
         |       count(*) OVER (PARTITION BY cluster_id) AS n_members
         |FROM cl""".stripMargin,
    "d06_minhash_dedup" -> minhashOracle(),
    // d41: d04's truth chain (md5-rank capped) LEFT JOIN the d06 chain,
    // per-band recall — both CTE bodies are the shared definitions the
    // standalone oracles build on, so the audit cannot drift from either
    "d41_sketch_recall" -> sketchRecallOracle("", "documents"),
    // d41b: the identical statement over the m md5-lowest documents,
    // where m replays sampleCapLaw from COUNT(*) (max(1024,
    // ceil(1024*sqrt(n/5000))) — correctly-rounded IEEE ops in both
    // engines, the e19 convention); both quadratic chains stay bounded
    // at sqrt(n) cost
    "d41b_sketch_recall_sampled" -> sketchRecallOracle(
      """docs_s AS (
        |  SELECT doc_id, lang, text FROM (
        |    SELECT doc_id, lang, text,
        |           row_number() OVER (
        |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS __srk
        |    FROM documents)
        |  WHERE __srk <= (SELECT greatest(1024,
        |           CAST(ceil(1024 * sqrt(COUNT(*) / 5000.0)) AS BIGINT))
        |         FROM documents)),
        |""".stripMargin, "docs_s"),
    // the incremental run's contract: the monolithic rerun restricted to
    // pairs touching a new (odd-id) doc
    "d26_incr_minhash" -> minhashOracle(" AND (id_a % 2 = 1 OR id_b % 2 = 1)"),
    "d26b_incr_minhash_stored" -> minhashOracle(" AND (id_a % 2 = 1 OR id_b % 2 = 1)"),
    "d07_simhash_dedup" -> simhashOracle,
    "d21_quality_score" -> qualityScoreOracle,
    "d22_novelty" ->
      s"""WITH toks AS ($toksSql),
         |sh AS (
         |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
         |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
         |  WHERE len(t) >= 3),
         |f AS (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY shingle) AS first_doc
         |  FROM sh)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |       round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 9) AS novelty
         |FROM f GROUP BY 1""".stripMargin,
    "d01_token_stats" ->
      s"""WITH toks AS ($toksSql)
         |SELECT doc_id,
         |       CAST(len(t) AS INT) AS n_tokens,
         |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe,
         |       CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS INT) AS n_punct,
         |       round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / CAST(len(t) AS DOUBLE), 9) AS mean_tok_len
         |FROM toks""".stripMargin,
    "d02_quality_lang" ->
      s"""WITH toks AS ($toksSql),
         |sc AS (
         |  SELECT doc_id, lang, text, t,
         |    len(list_filter(t, x -> list_contains(['the','a','of','and','to'], x))) AS s_en,
         |    len(list_filter(t, x -> list_contains(['el','la','de','y','que'], x))) AS s_es,
         |    len(list_filter(t, x -> list_contains(['der','die','das','und','zu'], x))) AS s_de,
         |    len(list_filter(t, x -> list_contains(['le','la','de','et','que'], x))) AS s_fr,
         |    len(list_filter(t, x -> list_contains(['the','a','of','and','to','el','la','de','y','que','der','die','das','und','zu','le','et'], x))) AS s_all
         |  FROM toks)
         |SELECT doc_id, lang,
         |  CASE WHEN s_en = greatest(s_en,s_es,s_de,s_fr) AND greatest(s_en,s_es,s_de,s_fr) > 0 THEN 'en'
         |       WHEN s_es = greatest(s_en,s_es,s_de,s_fr) AND greatest(s_en,s_es,s_de,s_fr) > 0 THEN 'es'
         |       WHEN s_de = greatest(s_en,s_es,s_de,s_fr) AND greatest(s_en,s_es,s_de,s_fr) > 0 THEN 'de'
         |       WHEN s_fr = greatest(s_en,s_es,s_de,s_fr) AND greatest(s_en,s_es,s_de,s_fr) > 0 THEN 'fr'
         |       ELSE 'und' END AS lang_id,
         |  round(
         |    least(CAST(len(t) AS DOUBLE) / 50.0, 1.0) * 0.4
         |    + (1.0 - least(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |        / greatest(CAST(length(text) AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.3
         |    + least(CAST(s_all AS DOUBLE) / greatest(CAST(len(t) AS DOUBLE), 1.0) * 8.0, 1.0) * 0.3, 9) AS quality
         |FROM sc""".stripMargin,
    "d03_exact_dedup" ->
      """SELECT md5(text) AS fp, min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "d04_ngram_jaccard" ->
      s"""WITH $jaccardOracleCte
         |SELECT id_a, id_b, n_common, sa.sz AS n_a, sb.sz AS n_b,
         |       CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
         |FROM pairs0
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.5""".stripMargin,
    "d08_repetition" ->
      s"""WITH toks AS ($toksSql),
         |g AS (
         |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
         |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
         |  WHERE len(t) >= 3)
         |SELECT doc_id, count(*) AS n_grams,
         |       count(*) - count(DISTINCT shingle) AS n_dup,
         |       round(CAST(count(*) - count(DISTINCT shingle) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 9) AS dup_ratio
         |FROM g GROUP BY 1""".stripMargin,
    "d05_source_census" ->
      """SELECT source, lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "d36_dedup_impact" ->
      """WITH f AS (
        |  SELECT source, n_chars,
        |         CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(text))
        |              THEN 1 ELSE 0 END AS keep
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(keep) AS BIGINT) AS n_kept,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_total,
        |       CAST(sum(CASE WHEN keep = 0 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_removed,
        |       round(CAST(count(*) - sum(keep) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 9) AS removed_share
        |FROM f GROUP BY 1""".stripMargin,
    "d37_quality_calibration" ->
      s"""WITH toks AS ($toksSql),
         |$modelScoreCtes,
         |b AS (
         |  SELECT CAST(floor(score / 200) AS BIGINT) AS score_bin,
         |         count(*) AS n_docs
         |  FROM msc GROUP BY 1)
         |SELECT score_bin, n_docs,
         |       CAST(sum(n_docs) OVER (ORDER BY score_bin DESC) AS BIGINT) AS surv_docs,
         |       round(CAST(sum(n_docs) OVER (ORDER BY score_bin DESC) AS DOUBLE)
         |             / CAST(sum(n_docs) OVER () AS DOUBLE), 9) AS surv_share
         |FROM b""".stripMargin,
    // d39: exact-integer probabilities (correctly-rounded IEEE division),
    // ln rounded at 6 decimals, totals summed as decimals — order-free
    "d39_snapshot_drift" ->
      """WITH h AS (
        |  SELECT source, least(n_chars // 200, 24) AS chars_bin,
        |         CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
        |         CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM documents GROUP BY 1, 2),
        |g AS (
        |  SELECT source, chars_bin, n_old, n_new,
        |         CAST(sum(n_old) OVER (PARTITION BY source) AS BIGINT) AS n_o,
        |         CAST(sum(n_new) OVER (PARTITION BY source) AS BIGINT) AS n_n
        |  FROM h),
        |t AS (
        |  SELECT source, chars_bin, n_old, n_new,
        |         round((CAST(n_new + 1 AS DOUBLE) / CAST(n_n + 25 AS DOUBLE)
        |              - CAST(n_old + 1 AS DOUBLE) / CAST(n_o + 25 AS DOUBLE))
        |               * ln(CAST(n_new + 1 AS DOUBLE) * CAST(n_o + 25 AS DOUBLE)
        |                  / (CAST(n_old + 1 AS DOUBLE) * CAST(n_n + 25 AS DOUBLE))), 6) + 0.0
        |           AS psi_term
        |  FROM g)
        |SELECT source, chars_bin, n_old, n_new, psi_term,
        |       CAST(sum(CAST(psi_term AS DECIMAL(18,6))) OVER (PARTITION BY source)
        |            AS DOUBLE) AS psi_total
        |FROM t""".stripMargin,
    // d39b: the stored-registry replay — history histogram and drop
    // histogram built separately, full-outer-joined (exactly the
    // observed-bin row set), then the identical PSI arithmetic
    "d39b_drift_stored" ->
      """WITH old_h AS (
        |  SELECT source, least(n_chars // 200, 24) AS chars_bin,
        |         CAST(count(*) AS BIGINT) AS n_old
        |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |new_h AS (
        |  SELECT source, least(n_chars // 200, 24) AS chars_bin,
        |         CAST(count(*) AS BIGINT) AS n_new
        |  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1, 2),
        |h AS (
        |  SELECT coalesce(o.source, n.source) AS source,
        |         coalesce(o.chars_bin, n.chars_bin) AS chars_bin,
        |         coalesce(o.n_old, 0) AS n_old,
        |         coalesce(n.n_new, 0) AS n_new
        |  FROM old_h o FULL OUTER JOIN new_h n
        |    ON o.source = n.source AND o.chars_bin = n.chars_bin),
        |g AS (
        |  SELECT source, chars_bin, n_old, n_new,
        |         CAST(sum(n_old) OVER (PARTITION BY source) AS BIGINT) AS n_o,
        |         CAST(sum(n_new) OVER (PARTITION BY source) AS BIGINT) AS n_n
        |  FROM h),
        |t AS (
        |  SELECT source, chars_bin, n_old, n_new,
        |         round((CAST(n_new + 1 AS DOUBLE) / CAST(n_n + 25 AS DOUBLE)
        |              - CAST(n_old + 1 AS DOUBLE) / CAST(n_o + 25 AS DOUBLE))
        |               * ln(CAST(n_new + 1 AS DOUBLE) * CAST(n_o + 25 AS DOUBLE)
        |                  / (CAST(n_old + 1 AS DOUBLE) * CAST(n_n + 25 AS DOUBLE))), 6) + 0.0
        |           AS psi_term
        |  FROM g)
        |SELECT source, chars_bin, n_old, n_new, psi_term,
        |       CAST(sum(CAST(psi_term AS DECIMAL(18,6))) OVER (PARTITION BY source)
        |            AS DOUBLE) AS psi_total
        |FROM t""".stripMargin)
}
