package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextMetrics

/** Word n-gram shingling and exact n-gram Jaccard near-duplicate pairs.
  *
  * Exact Jaccard via a shingle self-join is the *verification* path: it is
  * quadratic in documents-per-shingle, so at 100 TB it only runs on
  * candidate pairs produced by [[MinHashLsh]] / [[SimHash]]. On the test
  * corpus it doubles as the ground truth those sketches are judged against.
  */
object Shingles {

  /** Word n-grams over an ALREADY-MATERIALIZED token array column.
    * Taking the tokens as a column reference matters: expressions inside a
    * `transform` lambda are re-evaluated per element with no common-subexpr
    * elimination, so inlining the tokenizer here re-runs the regex split
    * 3n× per document (measured 10s of a 23s pipeline at sf0.1). */
  def wordShinglesFromTokens(toks: Column, n: Int): Column =
    // size < n must short-circuit: sequence(0, -1) yields [0, -1] (a
    // DESCENDING sequence), whose element_at(toks, 0) throws
    when(size(toks) < n, array().cast("array<string>")).otherwise(
      array_distinct(
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))))

  /** (id, shingle) long table — the explode side of the pipeline. */
  def explodeShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), TextMetrics.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(wordShinglesFromTokens(col("__toks"), n)).as("shingle"))

  /** (id, sh: long) — distinct xxhash64 per word n-gram, via the one-pass
    * [[graft.functions.ShingleHashes]] expression. Bit-identical to
    * `xxhash64` over [[explodeShingles]]'s strings at ~10× less cost; the
    * dedup pipeline evaluates its shingle subtree once per consumer, so the
    * savings multiply. */
  def explodeShingleHashes(df: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame =
    df.select(col(idCol),
      explode(graft.functions.ShingleHashesFn.shingleHashes(
        col(textCol), n, distinct = true)).as("sh"))

  /** All pairs (a < b) with exact Jaccard similarity >= minJaccard.
    *
    * Capped semantics: shingles above the document-frequency cap are
    * removed from the corpus FIRST (stop-shingle preprocessing — boiler-
    * plate shared by everything carries no near-dup signal and is the
    * quadratic fan-out hazard), and jaccard — n_common AND sizes — is
    * computed over the filtered shingle space. Filtering both keeps the
    * metric coherent: a cluster of thousands of near-identical documents
    * has ALL its shared shingles over the cap, and measuring their
    * leftover sizes against pre-cap totals would report jaccard ≈ 0 for
    * pairs that are in fact near-identical (the 8× corpus of
    * docs/ROUND4_NOTES.md demonstrates exactly this; the r3→r4 rewrite briefly got it wrong).
    *
    * Plan (capped, the production path): a THREE-exchange posting-list
    * pipeline. One shuffle builds the inverted index shingle → [doc ids]
    * via the memory-bounded [[graft.functions.CappedCollect]] — over-cap
    * shingles are identified by list saturation and dropped, which
    * simultaneously applies the stop-shingle cap, bounds the per-shingle
    * pair fan-out at C(cap,2), and bounds executor memory on a key shared
    * by 10^8 documents. Pairs are generated INSIDE each posting array (no
    * self-join) and counted in a second shuffle; post-cap sizes are an
    * explode of the same persisted index (third shuffle) joined back on
    * the pair endpoints (AQE chooses broadcast vs shuffle — sizes is one
    * row per doc). The persisted index is what a production dedup keeps
    * materialized anyway. The old formulation self-joined the exploded
    * (id, shingle) table: five exchanges and double the shuffled bytes.
    *
    * Without a cap (ground-truth path, small corpora only): the classic
    * shingle self-join, quadratic in documents-per-shingle by definition.
    *
    * Both paths shuffle an 8-byte xxhash64 of the shingle instead of the
    * ~10n-byte string: distinct-per-doc shingles make the hash a faithful
    * stand-in for set membership (a 64-bit collision would need ~2^32
    * distinct shingles per corpus to become likely).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, minJaccard: Double,
                   maxShingleDf: Option[Int] = None,
                   persistIndex: Boolean = true): DataFrame = {
    val sh = explodeShingleHashes(df, idCol, textCol, n)
    val (sizes, common) = maxShingleDf match {
      case Some(cap) =>
        val postings0 = sh.groupBy(col("sh"))
          .agg(graft.functions.CappedCollect.cappedCollect(col(idCol), cap)
            .as("ids"))
          .filter(size(col("ids")) <= cap)
          // ids sorted ascending => (i < j) <=> (ids[i] < ids[j]): pairs
          // come out already ordered id_a < id_b
          .select(array_sort(col("ids")).as("ids"))
        // cache lifetime: CacheManager keys entries by canonicalized plan,
        // so repeated calls over the same input share ONE entry rather
        // than leaking one per call; callers that want no cached index at
        // all (one-shot jobs managing their own memory) pass
        // persistIndex=false and pay recomputation per consumer instead
        val postings =
          if (persistIndex)
            postings0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          else postings0
        val sizes = postings.select(explode(col("ids")).as(idCol))
          .groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
        // two chained codegen'd generators (posexplode + explode-of-slice)
        // instead of a nested higher-order-function lambda: HOF lambdas are
        // interpreted per element, and at a DF cap of 64 a hot shingle
        // emits C(64,2)=2016 pairs — measured 3× slower interpreted on a
        // heavily-duplicated corpus
        val common = postings.filter(size(col("ids")) >= 2)
          .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id_a")))
          .select(col("id_a"), explode(slice(col("ids"), col("i") + 2,
            size(col("ids")) - col("i") - 1)).as("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
        (sizes, common)
      case None =>
        val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
        val a = sh.select(col(idCol).as("id_a"), col("sh"))
        val b = sh.select(col(idCol).as("id_b"), col("sh"))
        val common = a.join(b, Seq("sh"))
          .filter(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
        (sizes, common)
    }
    // sizes is one row per document: tiny here, 10^8 rows at corpus scale —
    // no broadcast hint; AQE picks broadcast vs shuffle from runtime stats
    common
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("n_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
  }
}
