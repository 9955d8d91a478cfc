package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextMetrics

/** Dataset-level overlap: pairwise Jaccard similarity between the shingle
  * sets of corpus partitions (sources, crawls, snapshots). The curation
  * question it answers: "how much of source B is already in source A?" —
  * the dataset-mixing / decontamination precursor to per-document dedup.
  *
  * Exact path: distinct (source, shingle) → self-join on shingle. The
  * per-shingle fan-out is bounded by the NUMBER OF SOURCES (each shingle
  * contributes at most C(|sources|,2) pairs), so unlike document-level
  * all-pairs this stays safe at any corpus size; the shuffles are
  * (source, shingle)-distinct and shingle-keyed join, both plain hash
  * exchanges. At 100 TB swap the shingle string for its 64-bit hash
  * ([[graft.functions.ShingleHashes]]) to shrink shuffle bytes ~5×; the
  * string form is kept here because the DuckDB oracle must reproduce it.
  *
  * Sketch path: one MinHash signature per source ([[graft.functions
  * .MinHashSig]] over ALL of a source's shingles — signatures merge
  * associatively, so this is a single map-side-combined aggregation) and
  * the standard matching-coordinate estimate. One tiny shuffle, |sources|
  * rows; the estimator's error is checked against the exact path in
  * CorpusOverlapSpec.
  */
object CorpusOverlap {

  /** Exact pairwise Jaccard between all group pairs (grp_a < grp_b) that
    * share at least one shingle.
    *
    * Posting-list plan (the [[Shingles.jaccardPairs]] shape): ONE
    * corpus-sized exchange builds shingle → sorted set of groups —
    * `collect_set` is naturally bounded by the group count, so no cap is
    * needed — then pairs are generated inside each posting array (two
    * chained codegen'd generators, pre-ordered by the sort) and both the
    * pair counts and the per-group sizes aggregate from the persisted
    * vocabulary-sized index. The original two-exchange self-join probed a
    * corpus-sized hash table; this replaces it outright (measured 1.6 s →
    * see ROUND6_NOTES at sf0.1). */
  def exactPairJaccard(df: DataFrame, groupCol: String, textCol: String,
                       n: Int = 3, persistIndex: Boolean = true): DataFrame = {
    val sh = df.select(col(groupCol).as("grp"),
        TextMetrics.tokens(col(textCol)).as("__toks"))
      .select(col("grp"),
        explode(Shingles.wordShinglesFromTokens(col("__toks"), n)).as("shingle"))
    val postings0 = sh.groupBy("shingle")
      .agg(array_sort(collect_set(col("grp"))).as("grps"))
    // same cache contract as Shingles.jaccardPairs: CacheManager keys by
    // canonicalized plan so repeated calls over one input share an entry;
    // one-shot callers managing their own memory pass persistIndex=false
    val postings =
      if (persistIndex)
        postings0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else postings0
    val sizes = postings.select(explode(col("grps")).as("grp"))
      .groupBy("grp").agg(count(lit(1)).as("sz"))
    val inter = postings.filter(size(col("grps")) >= 2)
      .select(col("grps"), posexplode(col("grps")).as(Seq("i", "grp_a")))
      .select(col("grp_a"), explode(slice(col("grps"), col("i") + 2,
        size(col("grps")) - col("i") - 1)).as("grp_b"))
      .groupBy("grp_a", "grp_b").agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("grp").as("grp_a"), col("sz").as("n_a")), Seq("grp_a"))
      .join(sizes.select(col("grp").as("grp_b"), col("sz").as("n_b")), Seq("grp_b"))
      .select(col("grp_a"), col("grp_b"), col("n_a"), col("n_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"))
  }

  /** MinHash-estimated pairwise Jaccard: one signature per group, then a
    * driver-size cross of signature rows. `numHashes` trades accuracy
    * (stderr ≈ 1/sqrt(numHashes)) for signature size. */
  def sketchPairJaccard(df: DataFrame, groupCol: String, textCol: String,
                        n: Int = 3, numHashes: Int = 128,
                        seed: Long = 0x5eedL): DataFrame = {
    val sh = df.select(col(groupCol).as("grp"),
        explode(graft.functions.ShingleHashesFn.shingleHashes(
          col(textCol), n, distinct = true)).as("sh"))
    val sigs = sh.groupBy("grp")
      .agg(graft.functions.MinHashSig.minHashSig(col("sh"), numHashes, seed)
        .as("sig"))
    val est = sigs.as("a").join(sigs.as("b"), col("a.grp") < col("b.grp"))
      .select(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"),
        (size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
          b => b)).cast("double") / lit(numHashes.toDouble)).as("jaccard_est"))
    est
  }
}
