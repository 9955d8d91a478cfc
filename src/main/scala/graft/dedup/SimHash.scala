package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** 64-bit SimHash near-duplicate detection.
  *
  * Each token contributes +1/-1 per bit plane (sign of the corresponding
  * bit of its xxhash64); the document's simhash sets bit j when plane j's
  * sum is positive. Near-dup iff hamming(simhash_a, simhash_b) <= maxDist.
  *
  * Plan shape: token explode → ONE hash aggregation with 64 `sum(when)`
  * columns (map-side combinable, fully codegen'd) → bit-assembly projection.
  * Candidate pairing at scale uses the pigeonhole trick: split 64 bits into
  * `chunks` chunks; any pair within hamming distance < chunks must agree on
  * at least one whole chunk, so a chunk-equality self-join finds all of them
  * without an all-pairs scan.
  */
object SimHash {

  /** (id, simhash: long) per document, via the one-pass
    * [[graft.functions.SimHashSig]] aggregate. */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        // 1-gram, non-distinct: each token occurrence contributes a vote,
        // hashed identically to xxhash64(tok) (see ShingleHashes)
        explode(graft.functions.ShingleHashesFn.shingleHashes(
          col(textCol), 1, distinct = false)).as("h"))
      .groupBy(col(idCol))
      .agg(graft.functions.SimHashSig.simHashSig(col("h")).as("simhash"))

  /** md5-derived 64-bit token hash, assembled from two 32-bit hex halves
    * with bit ops (shifts cannot overflow under ANSI arithmetic) — the
    * ORACLE-COMPATIBLE hash source: DuckDB reproduces every bit from the
    * same md5 hex, where xxhash64 has no SQL twin. */
  def md5TokenHash(tok: Column): Column =
    shiftleft(conv(substring(md5(tok), 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(md5(tok), 9, 8), 16, 10).cast("long"))

  /** [[simhashes]] on the md5 hash source (oracle-backed variant); same
    * one-pass [[graft.functions.SimHashSig]] aggregate. */
  def simhashesMd5(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        explode(graft.text.TextMetrics.tokens(col(textCol))).as("tok"))
      .select(col(idCol), md5TokenHash(col("tok")).as("h"))
      .groupBy(col(idCol))
      .agg(graft.functions.SimHashSig.simHashSig(col("h")).as("simhash"))

  /** k-sum-columns formulation, kept for differential testing. */
  def simhashesColumns(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(graft.text.TextMetrics.tokens(col(textCol))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val planeSums = (0 until 64).map { j =>
      sum(when(expr(s"(h >> $j) & 1") === 1, 1).otherwise(-1)).as(s"p$j")
    }
    val bits = (0 until 64).map { j =>
      when(col(s"p$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }
    toks.groupBy(col(idCol))
      .agg(planeSums.head, planeSums.tail: _*)
      .select(col(idCol), bits.reduce(_ bitwiseOR _).as("simhash"))
  }

  /** The tuning preset with measured behavior on the synthetic documents
    * corpus (sf0.1, 5k docs; precision = confirmed-near-dup fraction of
    * emitted pairs vs the exact-Jaccard ground truth): [[Balanced]]
    * (maxDist 6, chunks 8) is the DedupSpec configuration — recall ≥ 0.9
    * vs exact 0.5-Jaccard ground truth; candidate volume grows with 8-bit
    * chunk collisions, so keep the hot-chunk cap on.
    *
    * Per-corpus guidance: precision falls as documents share format
    * boilerplate (simhash is a whole-document sketch — it cannot separate
    * "same template" from "same content"). On template-heavy corpora
    * either pre-strip boilerplate, or tighten maxDist and verify emitted
    * pairs with exact Jaccard (Curation does exactly that). */
  final case class Preset(maxDist: Int, chunks: Int, maxChunkBucket: Option[Int])
  val Balanced = Preset(6, 8, Some(4096))

  /** Pairs (id_a < id_b) with hamming(simhash) <= maxDist, found via the
    * chunk-collision join. Requires maxDist < chunks for completeness.
    *
    * `maxChunkBucket` is the 100 TB dial: a chunk value shared by n docs
    * emits n² candidates (e.g. the all-zero chunk of short docs) — buckets
    * above the cap are dropped by [[BucketPairs.cap]]. Recall only drops
    * for pairs whose EVERY agreeing chunk is oversized. */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     maxDist: Int = 3, chunks: Int = 4,
                     maxChunkBucket: Option[Int] = None): DataFrame =
    nearDupFromSimhash(simhashes(df, idCol, textCol), idCol,
      maxDist, chunks, maxChunkBucket)

  /** [[nearDuplicates]] on the md5 hash source — the oracle-backed
    * variant; pair discovery and hamming filtering are identical. */
  def nearDuplicatesMd5(df: DataFrame, idCol: String, textCol: String,
                        p: Preset): DataFrame =
    nearDupFromSimhash(simhashesMd5(df, idCol, textCol), idCol,
      p.maxDist, p.chunks, p.maxChunkBucket)

  /** Per-chunk (shift, mask) pairs banding the LOW `bits` bits of a hash
    * into `chunks` contiguous chunks. Banding only the populated bits is
    * what keeps the pigeonhole guarantee for hashes narrower than 64 bits
    * (a 24-bit dHash banded as 4×16 would put every row in the same three
    * all-zero upper chunks: hot-bucket caps then DROP those chunks and
    * silently lose pairs; with no cap they degenerate toward all-pairs). */
  private[graft] def chunkExprs(bits: Int, chunks: Int): Seq[(Int, Long)] = {
    require(bits >= chunks && bits <= 64,
      s"need chunks <= bits <= 64 (got bits=$bits, chunks=$chunks)")
    // even distribution (floor split) so EVERY chunk is non-empty — a
    // ceil-width split can leave the last chunk zero-width, recreating
    // the universal all-zero bucket this function exists to avoid
    (0 until chunks).map { cId =>
      val lo = cId * bits / chunks
      val hi = (cId + 1) * bits / chunks
      (lo, if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1)
    }
  }

  /** A chunk bucket: hashes meet in a pair join only on equal keys. */
  private val ChunkKeys = Seq("chunk", "chunk_val")

  /** (idCol, simhash, chunk, chunk_val) — one row per chunk of each hash. */
  private def chunked(sh: DataFrame, idCol: String, bits: Int,
                      chunks: Int): DataFrame =
    sh.select(col(idCol), col("simhash"),
      posexplode(array(chunkExprs(bits, chunks).map { case (lo, mask) =>
        expr(s"(simhash >> $lo) & $mask") }: _*))
        .as(Seq("chunk", "chunk_val")))

  private def nearDupFromSimhash(sh0: DataFrame, idCol: String,
                                 maxDist: Int, chunks: Int,
                                 maxChunkBucket: Option[Int],
                                 bits: Int = 64): DataFrame = {
    require(maxDist < chunks, "pigeonhole completeness needs maxDist < chunks")
    // cache: the banded self-join consumes the signature table on BOTH
    // sides, and without the cache the whole upstream pipeline (the
    // per-token simhash pass for d07, the codec decode seam for the
    // perceptual callers) evaluates twice — the r15 plan audit found
    // every hash-family pair query paying its feature extraction 2-4x.
    // One (id, simhash) row per doc: tiny, the MinHashLsh sig precedent.
    val sh = sh0.cache()
    val pruned = BucketPairs.cap(chunked(sh, idCol, bits, chunks), ChunkKeys,
      maxChunkBucket)
    BucketPairs.selfPairs(pruned, ChunkKeys, idCol, "simhash" -> "sh")
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Banded hamming near-dup over ANY precomputed ≤64-bit hash column —
    * the chunk-collision join generalized beyond text simhashes
    * (perceptual image hashes from [[graft.multimodal.Multimodal]], audio
    * fingerprints, …). Same completeness contract: all pairs with
    * hamming ≤ maxDist < chunks are found, never an all-pairs join.
    *
    * `bits` is the hash's effective width: pass 24 for the image dHash,
    * 15 for the audio fingerprint. Banding covers only those bits, so the
    * pigeonhole guarantee holds for short hashes (see [[chunkExprs]]). */
  def hammingNearDuplicates(hashes: DataFrame, idCol: String, hashCol: String,
                            maxDist: Int, chunks: Int,
                            maxChunkBucket: Option[Int] = None,
                            bits: Int = 64): DataFrame =
    nearDupFromSimhash(
      hashes.select(col(idCol), col(hashCol).cast("long").as("simhash")),
      idCol, maxDist, chunks, maxChunkBucket, bits)

  /** [[hammingNearDuplicates]] restricted to hamming ≥ 1, banding over
    * DISTINCT hash values and expanding hash-pair hits back to id pairs.
    *
    * Short perceptual hashes over a near-duplicate-heavy corpus collapse
    * hard (a 24-bit dHash over sf0.1's 5 000 synthetic images yields 105
    * distinct values), so the per-row chunk join degenerates: every
    * chunk bucket holds thousands of ids and the candidate set is
    * quadratic in bucket size even though the hash-level work is tiny.
    * Here the chunk join runs over one row per distinct hash — candidate
    * volume is quadratic only in DISTINCT values per bucket — and two
    * broadcast-sized joins fan the surviving hash pairs out to id pairs.
    * Cost: one groupBy for the distinct set, the (tiny) banded join, and
    * joins proportional to the OUTPUT pair count — the lower bound.
    *
    * Hamming-0 pairs (equal hashes) cannot appear — a value never pairs
    * with itself after `distinct()` — which is the contract callers want:
    * equal-hash groups are exact clusters, handled linearly by a window
    * (m06-style), never materialized as quadratic pairs. `maxChunkBucket`
    * now caps distinct VALUES per chunk bucket, the scale-robust form.
    *
    * docs/ROUND8_NOTES.md (200 distinct values, 1-bit-flip neighbors): at 40k docs
    * the per-row path under cap 256 returns 85k of 1.04M true pairs; at
    * 160k docs EVERY bucket exceeds the cap and it returns ZERO — total
    * recall collapse — while this variant returns the complete 16.6M
    * pairs in less time. For collapsing hash families the per-row cap is
    * not a tuning knob, it is the failure mode. */
  def hammingNearDuplicatesGrouped(hashes: DataFrame, idCol: String, hashCol: String,
                                   maxDist: Int, chunks: Int,
                                   maxChunkBucket: Option[Int] = None,
                                   bits: Int = 64,
                                   maxValueDocs: Option[Int] = None): DataFrame = {
    val all = hashes.select(col(idCol).cast("long").as("__id"),
      col(hashCol).cast("long").as("__h"))
    // `maxValueDocs`: pair only the k LOWEST ids carrying each hash value
    // (its representatives). An equal-hash group is already a fully-linked
    // hamming-0 cluster on the linear surface (m06-style window), so for
    // cluster connectivity the full member×member fan-out across value
    // pairs is redundant — members reach their cross-value neighbors
    // through their value's representatives. Without the cap the OUTPUT
    // is quadratic in group size (sf1 measured: one 24-bit dHash value
    // carrying 57% of 50k docs → 10^8 pairs); with it, output per
    // value-pair hit is <= k², independent of corpus growth. Deterministic
    // (order by id) so a SQL oracle replays it with one row_number.
    val h = (maxValueDocs match {
      case Some(k) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("__h").orderBy("__id")
        all.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= k).drop("__rn")
      case None => all
      // cache: three consumers (the distinct hash set and both fan-out
      // joins) would otherwise each re-run the upstream hash pipeline —
      // for m12/m13 that is the full image/audio DECODE, measured 3x in
      // the r15 plan audit. One (id, hash) row per doc.
    }).cache()
    val hashPairs = hammingNearDuplicates(
      h.select(col("__h")).distinct().select(col("__h").as("hid"), col("__h")),
      "hid", "__h", maxDist, chunks, maxChunkBucket, bits)
      .select(col("id_a").as("__ha"), col("id_b").as("__hb"), col("hamming"))
    hashPairs
      .join(h.select(col("__h").as("__ha"), col("__id").as("__da")), Seq("__ha"))
      .join(h.select(col("__h").as("__hb"), col("__id").as("__db")), Seq("__hb"))
      // an id listed under BOTH hashes (duplicate-id input) would emit a
      // self-pair the per-row op's id_a < id_b filter suppresses
      .filter(col("__da") =!= col("__db"))
      .select(least(col("__da"), col("__db")).as("id_a"),
        greatest(col("__da"), col("__db")).as("id_b"),
        col("hamming"))
  }

  /** Incremental hamming near-dup — the daily-crawl twin of
    * [[hammingNearDuplicates]], serving every hash modality (text
    * simhash, image dHash, audio fingerprint) with the incremental-dedup
    * contract shared by the d24/d26/e07 family:
    * `incremental(new, stored) == full(stored ∪ new)` restricted to
    * pairs touching a new id. Only the NEW side's chunks probe the
    * (stored ∪ new) chunk table, so each day's cost is the batch's chunk
    * volume against a bucketed index — never a full-history re-pairing.
    * Output pairs are id_a < id_b like the batch op. */
  def incrementalHammingNearDuplicates(newHashes: DataFrame, storedHashes: DataFrame,
                                       idCol: String, hashCol: String,
                                       maxDist: Int, chunks: Int,
                                       maxChunkBucket: Option[Int] = None,
                                       bits: Int = 64): DataFrame = {
    require(maxDist < chunks, "pigeonhole completeness needs maxDist < chunks")
    def norm(df: DataFrame): DataFrame =
      chunked(df.select(col(idCol).cast("long").as("id"),
        col(hashCol).cast("long").as("simhash")), "id", bits, chunks)
    // the hot-chunk cap guards the PROBED side: a stored chunk value
    // shared by n ids would otherwise fan every matching new id out n ways
    BucketPairs.probePairs(norm(newHashes), norm(storedHashes), ChunkKeys,
        "id", maxChunkBucket, "simhash" -> "sh")
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_n").bitwiseXOR(col("sh_o"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** [[incrementalHammingNearDuplicates]] in the GROUPED form (hamming
    * ≥ 1, like [[hammingNearDuplicatesGrouped]]): the union's DISTINCT
    * hash values band (tiny under perceptual-hash collapse, immune to
    * the per-row cap's recall cliff), and the surviving hash pairs
    * expand only to id pairs touching a new id. Equal-hash (hamming-0)
    * incremental pairs are the registry EQUALITY join every media-dedup
    * flow already does linearly — never quadratic pair output. Contract
    * (spec-pinned): equals the grouped batch op over stored ∪ new
    * restricted to pairs with ≥ 1 new endpoint. */
  def incrementalHammingNearDuplicatesGrouped(newHashes: DataFrame, storedHashes: DataFrame,
                                              idCol: String, hashCol: String,
                                              maxDist: Int, chunks: Int,
                                              maxChunkBucket: Option[Int] = None,
                                              bits: Int = 64): DataFrame = {
    def norm(df: DataFrame, isNew: Boolean): DataFrame =
      df.select(col(idCol).cast("long").as("__id"),
        col(hashCol).cast("long").as("__h"), lit(isNew).as("__new"))
    val all = norm(storedHashes, isNew = false)
      .unionByName(norm(newHashes, isNew = true))
    val hashPairs = hammingNearDuplicates(
      all.select(col("__h")).distinct().select(col("__h").as("hid"), col("__h")),
      "hid", "__h", maxDist, chunks, maxChunkBucket, bits)
      .select(col("id_a").as("__ha"), col("id_b").as("__hb"), col("hamming"))
    hashPairs
      .join(all.select(col("__h").as("__ha"), col("__id").as("__da"),
        col("__new").as("__na")), Seq("__ha"))
      .join(all.select(col("__h").as("__hb"), col("__id").as("__db"),
        col("__new").as("__nb")), Seq("__hb"))
      .filter(col("__na") || col("__nb"))
      // a re-crawled id present in BOTH sides (stored h, new h^1) would
      // otherwise emit (id, id) — the per-row twin filters id_n =!= id_o
      .filter(col("__da") =!= col("__db"))
      .select(least(col("__da"), col("__db")).as("id_a"),
        greatest(col("__da"), col("__db")).as("id_b"),
        col("hamming"))
  }
}
