package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Segment-level (line-level) corpus operators: C4-style global segment
  * deduplication with document reconstruction, and boilerplate (heavy-
  * hitter segment) detection.
  *
  * The C4 pipeline (Raffel et al., JMLR 2020, §2.2) removes every line
  * that occurs more than once in the corpus, keeping one occurrence, then
  * rebuilds each document from its surviving lines. The same operation is
  * the standard defense against navigation chrome / cookie banners in web
  * scrape. The synthetic `documents` table has no newlines, so a segment
  * here is a fixed-width chunk of the whitespace token stream — the
  * operator is agnostic: any `array<string>` segment column works
  * (newline-split lines, sentence splits, token windows).
  *
  * Scale shape: one shuffle keyed by segment to pick the global first
  * occurrence, one shuffle keyed by document to reconstruct. Both are
  * plain hash exchanges; nothing is quadratic and no window sees more
  * rows than one segment's occurrence list (boilerplate-sized keys are
  * exactly the ones with long lists — at 100 TB dedup by `md5(seg)` so
  * the exchange carries a 32-byte key instead of the segment text; the
  * reconstruction exchange carries each document's own segments only).
  */
object Segments {

  /** Fixed-width token-window segments over a MATERIALIZED token array
    * (see [[graft.dedup.Shingles.wordShinglesFromTokens]] for why the
    * array must be a column reference, not an inlined expression).
    * Last chunk may be shorter; empty input yields an empty array. */
  def tokenSegments(toks: Column, segTokens: Int): Column = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    // sequence(0, -1) yields the DESCENDING [0, -1] — short-circuit empties;
    // coalesce: size(null array) is null (sizeOfNull=false), and a null
    // slipping into the otherwise branch would feed sequence a null bound
    when(coalesce(size(toks), lit(0)) === 0, array().cast("array<string>"))
      .otherwise(
      transform(
        sequence(lit(0),
          floor((size(toks) + (segTokens - 1)) / lit(segTokens)).cast("int") - 1),
        i => array_join(slice(toks, i * segTokens + 1, lit(segTokens)), " ")))
  }

  /** (id, seg_idx, seg) — one row per segment, position-preserving.
    * Documents with no tokens survive as a single (id, null, null) row so
    * downstream reconstruction keeps them (`posexplode_outer` also keeps
    * `InferFiltersFromGenerate` from re-inlining the defining expression
    * below the projection — the round-5 d12 lesson). */
  def explodeSegments(df: DataFrame, idCol: String, textCol: String,
                      segTokens: Int): DataFrame =
    explodeSegments(df, idCol, textCol, segTokens, Nil)

  /** [[explodeSegments]] carrying extra per-doc columns through the
    * explode (each segment row repeats them) — lets a caller that needs
    * doc attributes downstream avoid a second evaluation of its input
    * subtree just to join them back (the d18 lesson: that join re-ran the
    * whole gate pipeline). */
  def explodeSegments(df: DataFrame, idCol: String, textCol: String,
                      segTokens: Int, carryCols: Seq[String]): DataFrame = {
    val carry = carryCols.map(col)
    df.select(col(idCol) +: carry :+ TextMetrics.tokens(col(textCol)).as("__toks"): _*)
      .select(col(idCol) +: carry :+ tokenSegments(col("__toks"), segTokens).as("__segs"): _*)
      .select(col(idCol) +: carry :+ posexplode_outer(col("__segs")).as(Seq("seg_idx", "seg")): _*)
  }

  /** Sliding-window chunking with stride overlap — the context-window
    * prep step before pretraining (every chunk but the last is `size`
    * tokens; consecutive chunks share `size − stride` tokens so no
    * boundary-straddling span is lost). Chunk starts are 0, stride,
    * 2·stride, … while start < n_tokens, so the tail is always covered
    * (the final chunk may be short). One row per chunk:
    * {{{ id | chunk_idx | n_chunk_toks | chunk_text }}}
    * Shuffle-free: a projection + one generator over the materialized
    * token array (the [[explodeSegments]] shape; `slice` on a BOUND column
    * inside the transform is the established safe pattern — the defining
    * expression inlined there would re-tokenize per chunk). */
  def chunkWithOverlap(df: DataFrame, idCol: String, textCol: String,
                       size: Int, stride: Int): DataFrame = {
    require(stride >= 1 && stride <= size,
      s"stride $stride must be in [1, size=$size] — a larger stride skips tokens")
    val chunks = {
      val toks = col("__toks")
      val n = org.apache.spark.sql.functions.size(toks)
      when(n > 0,
        transform(
          // last start index = floor((n−1)/stride) — integer-exact
          // (= ceil(n/stride) − 1 chunks after it, covering the tail)
          sequence(lit(0), floor((n - 1).cast("double") / stride).cast("int")),
          i => array_join(slice(toks, i * stride + 1, lit(size)), " ")))
        .otherwise(array().cast("array<string>"))
    }
    df.select(col(idCol), TextMetrics.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), posexplode_outer(chunks).as(Seq("chunk_idx", "chunk_text")))
      .filter(col("chunk_text").isNotNull)
      .select(col(idCol), col("chunk_idx"),
        org.apache.spark.sql.functions.size(
          split(col("chunk_text"), " ")).as("n_chunk_toks"),
        col("chunk_text"))
  }

  /** C4-style global segment dedup with reconstruction.
    *
    * A segment instance survives iff it is the corpus-wide FIRST
    * occurrence of its text, ordered by (id, seg_idx) — later copies in
    * the same or any other document are dropped. Returns one row per
    * input document:
    * {{{ id | n_segs | n_kept | text_clean }}}
    * where `text_clean` re-joins the surviving segments in original order
    * (empty string when everything was someone else's duplicate).
    *
    * The id column must totally order documents (true for any ingest id);
    * this makes the operator deterministic and append-stable: re-running
    * over a grown corpus never un-picks a previously kept occurrence as
    * long as new ids sort after old ones.
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
                   segTokens: Int = 8): DataFrame = {
    val segs = explodeSegments(df, idCol, textCol, segTokens)
    val firstWin = Window.partitionBy(col("seg"))
      .orderBy(col(idCol), col("seg_idx"))
    val flagged = segs.withColumn(
      "keep", col("seg").isNotNull && row_number().over(firstWin) === 1)
    flagged.groupBy(col(idCol))
      .agg(
        count(col("seg")).as("n_segs"),
        count(when(col("keep"), lit(true))).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("seg_idx"), col("seg"))))),
            s => s.getField("seg")),
          " ").as("text_clean"))
  }

  /** [[segmentDedup]] without the text reconstruction: one row per doc
    * with segment/keep counts only. The funnel queries (d18/d25) consume
    * just the counts, and the reconstruction is the expensive half of the
    * op (collect_list of every surviving segment, array_sort, and string
    * assembly of the entire cleaned corpus) — never compute columns a
    * caller provably drops. Flags are the same plan, so counts here are
    * cell-identical to [[segmentDedup]]'s (SegmentsSpec pins it). */
  def segmentKeepCounts(df: DataFrame, idCol: String, textCol: String,
                        segTokens: Int = 8,
                        carryCols: Seq[String] = Nil): DataFrame = {
    val segs = explodeSegments(df, idCol, textCol, segTokens, carryCols)
    val firstWin = Window.partitionBy(col("seg"))
      .orderBy(col(idCol), col("seg_idx"))
    segs.withColumn(
        "keep", col("seg").isNotNull && row_number().over(firstWin) === 1)
      .groupBy(col(idCol) +: carryCols.map(col): _*)
      .agg(
        count(col("seg")).as("n_segs"),
        count(when(col("keep"), lit(true))).as("n_kept"))
  }

  /** Incremental C4 dedup — the daily-crawl flow: dedup a NEW batch of
    * documents against the registry of segments already kept from earlier
    * batches, without touching the old corpus.
    *
    * `knownSegments` is the stored `(seg_fp)` digest table of every
    * segment kept so far ([[segDigest]] — what a production pipeline
    * materializes anyway, 16 B/row at any segment width). A new batch's
    * segment survives iff it is (a) not in the registry and (b) the first
    * occurrence within the batch. Returns the deduped batch in
    * [[segmentDedup]]'s output shape plus the registry delta to append.
    *
    * Append stability is what makes this EQUAL to re-running the full
    * batch dedup over old ∪ new (SegmentsSpec proves it): the full run's
    * first-occurrence picks for old docs never move when new docs arrive
    * (new ids sort after old), so the registry is exactly the set of
    * segments the full run would have already claimed. Cost per
    * increment: one anti-join of the batch's segments against the
    * registry (shuffled on the segment key) — never a rescan of the
    * accumulated corpus. */
  def incrementalSegmentDedup(newDocs: DataFrame, idCol: String,
                              textCol: String, knownSegments: DataFrame,
                              segTokens: Int = 8): (DataFrame, DataFrame) = {
    val flagged = incrementalFlags(newDocs, idCol, textCol, knownSegments,
      segTokens)
    (rebuildFromFlags(flagged, idCol), registryDelta(flagged))
  }

  /** The registry key: raw 16-byte md5 of the segment text. The registry
    * holds one row per distinct segment ever kept and is re-probed per
    * increment, so the key column's width is the per-drop probe bill —
    * a digest caps it at 16 B where boilerplate segments run to
    * kilobytes (the scaladoc's 100 TB note made code). A 128-bit
    * collision needs ~2^64 distinct segments to become likely. */
  private[graft] def segDigest(seg: Column): Column = unhex(md5(seg))

  /** The shared core of the incremental dedup: one row per segment of the
    * new batch with its survival flag. Both outputs (cleaned docs,
    * registry delta) derive from this plan — a caller consuming both
    * should persist it (the streaming twin does, per micro-batch, and
    * unpersists after its writes so a long-running stream does not
    * accumulate cache entries). */
  private[graft] def incrementalFlags(newDocs: DataFrame, idCol: String,
                                      textCol: String,
                                      knownSegments: DataFrame,
                                      segTokens: Int,
                                      probeBcast: Boolean = true): DataFrame = {
    val segs = explodeSegments(newDocs, idCol, textCol, segTokens)
      .withColumn("__segfp", segDigest(col("seg")))
    val firstWin = Window.partitionBy(col("seg"))
      .orderBy(col(idCol), col("seg_idx"))
    // registry probe, dedupImpactStream's scale shape: the stored digest
    // registry is SCANNED IN PLACE and semi-joined against a broadcast of
    // the batch's distinct digests — the registry (one row per segment
    // ever kept, distinct by construction: a kept segment is __known in
    // every later batch) is never exchanged, sorted, or distinct-ed, so
    // per-increment cost is one co-located scan however old the corpus.
    // The old shape ran distinct() over the WHOLE registry and joined it
    // as the right side of a batch-left join — a registry-wide exchange
    // per drop. The known set is batch-bounded and broadcasts back.
    // probeBcast=false is the anomalous-bulk-drop arm (same joins, no
    // hints — Spark shuffles both sides rather than over-cap broadcast).
    val batchFps = segs.select(col("__segfp"))
      .where(col("__segfp").isNotNull).distinct()
    val known = knownSegments
      .join(if (probeBcast) broadcast(batchFps) else batchFps,
        knownSegments("seg_fp") === batchFps("__segfp"), "left_semi")
      .select(col("seg_fp").as("__segfp"))
      .withColumn("__known", lit(true))
    segs
      .join(if (probeBcast) broadcast(known) else known, Seq("__segfp"), "left")
      .withColumn("keep",
        col("seg").isNotNull && col("__known").isNull &&
          row_number().over(firstWin) === 1)
  }

  /** Rebuild per-document rows from [[incrementalFlags]] output. */
  private[graft] def rebuildFromFlags(flagged: DataFrame,
                                      idCol: String): DataFrame =
    flagged.groupBy(col(idCol))
      .agg(
        count(col("seg")).as("n_segs"),
        count(when(col("keep"), lit(true))).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("seg_idx"), col("seg"))))),
            s => s.getField("seg")),
          " ").as("text_clean"))

  /** The kept segments' digests of this batch — what the registry gains
    * (one 16-byte row per newly-claimed segment, see [[segDigest]]). */
  private[graft] def registryDelta(flagged: DataFrame): DataFrame =
    flagged.filter(col("keep")).select(col("__segfp").as("seg_fp"))

  /** Boilerplate detection: segments occurring in at least `minDocs`
    * distinct documents, with document frequency and total occurrence
    * count. The output is the corpus's navigation-chrome / licence-
    * header list — the input to a removal pass or a stop-segment cap.
    * Single shuffle (segment-keyed aggregation); the result is
    * boilerplate-sized, not corpus-sized. */
  def boilerplate(df: DataFrame, idCol: String, textCol: String,
                  segTokens: Int = 8, minDocs: Int = 3): DataFrame =
    explodeSegments(df, idCol, textCol, segTokens)
      .where(col("seg").isNotNull)
      .groupBy(col("seg"))
      .agg(countDistinct(col(idCol)).as("n_docs"), count(lit(1)).as("n_total"))
      .where(col("n_docs") >= minDocs)
}
