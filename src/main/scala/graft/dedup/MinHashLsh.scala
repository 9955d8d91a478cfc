package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate detection — the 100 TB dedup path.
  *
  * Pipeline: shingle → k minhashes per doc (one shuffle) → band → bucket
  * self-join (shuffle on band key) → candidate pairs → jaccard estimate from
  * signature agreement; exact verification via [[Shingles.jaccardPairs]] on
  * the candidate set only. Cost is linear in corpus size + quadratic only
  * inside buckets, vs the all-pairs join's global quadratic blowup.
  *
  * Determinism: the hash family is `(a_i * x + b_i) mod p` over
  * `x = xxhash64(shingle) mod p`, with (a_i, b_i) drawn from a seeded PRNG
  * at plan-build time — signatures are reproducible across runs and
  * cluster sizes. p = 2^31-1 keeps `a*x` inside a long (no overflow).
  */
object MinHashLsh {

  final case class Params(
      numHashes: Int = 64,
      bands: Int = 16,
      shingleN: Int = 3,
      seed: Long = 42L) {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def rowsPerBand: Int = numHashes / bands
  }

  private val P = 2147483647L // 2^31 - 1 (prime)

  /** Seeded affine hash family; a in [1, p), b in [0, p). MUST stay in
    * lockstep with [[graft.functions.MinHashSig]]'s family derivation.
    * `private[graft]`: the d06 oracle renders these as SQL literals. */
  private[graft] def hashFamily(p: Params): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(p.seed)
    Seq.fill(p.numHashes)((1L + rnd.nextInt((P - 1).toInt).toLong,
      rnd.nextInt(P.toInt).toLong))
  }

  /** md5-derived base hash, already reduced mod p — the ORACLE-COMPATIBLE
    * hash source: md5 is the one hash family Spark and DuckDB share, so a
    * signature built on it is engine-computable end-to-end (the xxhash64
    * fast path has no SQL twin). 15 hex chars = 60 bits, parsed by
    * codegen'd built-ins (`conv`); ~2x the per-shingle cost of xxhash64 —
    * use the default path when cross-engine parity is not needed. */
  def md5BaseHash(shingle: Column): Column =
    pmod(conv(substring(md5(shingle), 1, 15), 16, 10).cast("long"), lit(P))

  /** (id, sig: array<long>) — k minhashes per document, computed by the
    * one-pass [[graft.functions.MinHashSig]] aggregate (primitive long[k]
    * buffer, map-side combinable). */
  def signatures(df: DataFrame, idCol: String, textCol: String,
                 p: Params = Params()): DataFrame = {
    val sh = Shingles.explodeShingleHashes(df, idCol, textCol, p.shingleN)
    val x = pmod(col("sh"), lit(P))
    sh.groupBy(col(idCol))
      .agg(graft.functions.MinHashSig.minHashSig(x, p.numHashes, p.seed).as("sig"))
  }

  /** Reference formulation with k independent `min` columns — kept for
    * differential testing of the aggregate (MinHashSigSpec). */
  def signaturesColumns(df: DataFrame, idCol: String,
      textCol: String, p: Params = Params()): DataFrame = {
    val sh = Shingles.explodeShingles(df, idCol, textCol, p.shingleN)
      .select(col(idCol), xxhash64(col("shingle")).as("sh"))
    val x = pmod(col("sh"), lit(P))
    val mins = hashFamily(p).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * x + lit(b), lit(P))).as(s"h$i")
    }
    sh.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until p.numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Public builder for the DURABLE band index: the registry a daily-crawl
    * deployment stores alongside the signature table, so each increment
    * probes it directly instead of re-banding the entire history
    * ([[incrementalNearDupFromIndex]]). Measured in the 50-drop growth
    * curve of docs/ROUND9_NOTES.md: re-banding per drop makes the probe
    * cost grow with registry size; a stored index keeps it bounded by the
    * batch's band volume and the matched buckets. At scale, bucket this table by
    * (band, band_sig) so the probe is a co-located join. */
  def bandIndex(sig: DataFrame, idCol: String, p: Params = Params(),
                literalKeys: Boolean = false): DataFrame =
    bandTable(sig, idCol, p, literalKeys)

  /** (id, band, band_sig) — one row per document per band. With
    * `literalKeys` the band signature is the ':'-joined minhash values
    * themselves instead of their xxhash64 — identical pair sets (band
    * equality is all that matters), but engine-computable for the oracle
    * at the cost of wider shuffle keys; the hashed default stays the
    * 100 TB path. */
  private def bandTable(sig: DataFrame, idCol: String, p: Params,
                        literalKeys: Boolean = false): DataFrame = {
    val bandSigs =
      if (literalKeys)
        transform(
          sequence(lit(0), lit(p.bands - 1)),
          bnd => concat_ws(":",
            transform(slice(col("sig"), bnd * p.rowsPerBand + 1, lit(p.rowsPerBand)),
              v => v.cast("string"))).cast("string"))
      else
        transform(
          sequence(lit(0), lit(p.bands - 1)),
          bnd => xxhash64(bnd, slice(col("sig"), bnd * p.rowsPerBand + 1, lit(p.rowsPerBand))))
    sig.select(col(idCol), posexplode(bandSigs).as(Seq("band", "band_sig")))
  }

  /** A band bucket: documents meet in a pair join only on equal keys. */
  private val BandKeys = Seq("band", "band_sig")

  /** Distinct candidate pairs (id_a < id_b) that collide in >= 1 band.
    * The band signature hashes r consecutive minhashes together; the
    * self-join shuffles on (band, bandSig) so only same-bucket docs meet. */
  def candidatePairs(sig: DataFrame, idCol: String,
                     p: Params = Params(),
                     literalKeys: Boolean = false): DataFrame =
    BucketPairs.selfPairs(bandTable(sig, idCol, p, literalKeys), BandKeys, idCol)
      .select("id_a", "id_b").distinct()

  /** Incremental dedup probe — the daily-crawl flow: candidate pairs that
    * involve AT LEAST ONE new document (new×existing and new×new), probed
    * against the stored signature table without ever re-pairing the
    * existing corpus against itself. The existing side is exactly what a
    * production deployment keeps materialized (signatures per doc, same
    * Params + seed — determinism is what makes the stored table
    * reusable); cost per increment is O(new bands) join O(all bands),
    * shuffled on the band key, vs re-running the full self-join.
    * IncrementalDedupSpec proves the result equals the full-corpus
    * candidate set restricted to pairs touching a new doc. */
  def incrementalCandidates(newSig: DataFrame, existingSig: DataFrame,
                            idCol: String, p: Params = Params(),
                            literalKeys: Boolean = false): DataFrame =
    probeCandidates(bandTable(newSig, idCol, p, literalKeys),
      bandTable(existingSig, idCol, p, literalKeys), idCol)

  /** Distinct (id_a, id_b) of the new bands probing stored ∪ new bands. */
  private def probeCandidates(newBands: DataFrame, storedBands: DataFrame,
                              idCol: String): DataFrame =
    BucketPairs.probePairs(newBands, storedBands, BandKeys, idCol, maxRows = None)
      .select("id_a", "id_b").distinct()

  /** Candidates + signature-estimated Jaccard (fraction of agreeing
    * minhashes), filtered at `minEstJaccard`. */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     minEstJaccard: Double,
                     p: Params = Params()): DataFrame =
    nearDupFromSig(signatures(df, idCol, textCol, p), idCol, minEstJaccard, p)

  /** [[nearDuplicates]] on the md5 hash source with literal band keys —
    * the ORACLE-BACKED variant: every stage (base hash, affine family,
    * minima, banding, agreement estimate) is engine-computable, so DuckDB
    * reproduces the full output bit-for-bit (est = n/numHashes is exact
    * binary arithmetic — no float policy needed). Same plan shape as the
    * fast path: one signature shuffle + one band-bucket self-join. */
  def nearDuplicatesMd5(df: DataFrame, idCol: String, textCol: String,
                        minEstJaccard: Double,
                        p: Params = Params()): DataFrame =
    nearDupFromSig(signaturesMd5(df, idCol, textCol, p), idCol,
      minEstJaccard, p, literalKeys = true)

  /** (id, sig) on the md5 base hash — the oracle-reproducible signature
    * table (and what the incremental flow stores between crawls). Since
    * r15 this is the one-pass fused expression
    * ([[graft.functions.Md5MinHashSig]]): per document, ONE codegen'd
    * pass tokenizes, shingles, md5s and folds the affine minima — no
    * shingle-row explosion, no aggregate, no exchange. Bit-identical to
    * the exploded form (Md5MinHashSigSpec pins it, incl. the <n-token
    * absent-row rule the null filter restores). */
  def signaturesMd5(df: DataFrame, idCol: String, textCol: String,
                    p: Params = Params()): DataFrame =
    // the <n-token filter runs BEFORE the projection on the cheap token
    // count, not after it on `sig IS NOT NULL` — a post-projection filter
    // gets pushed through the Project with the alias substituted, and the
    // whole fused signature pass evaluates TWICE (measured: d26b 2.1 →
    // 3.3 s at sf1 with the null-filter form)
    df.where(size(graft.text.TextMetrics.tokens(col(textCol))) >= p.shingleN)
      .select(col(idCol),
        graft.functions.Md5MinHashSigFn.md5MinHashSig(col(textCol),
          p.shingleN, p.numHashes, p.seed).as("sig"))

  /** Incremental near-dup with the agreement estimate — the full daily-
    * crawl MinHash flow: a new batch's signatures probe the STORED
    * signature table ([[incrementalCandidates]] — one band join, the
    * existing corpus is never re-paired), then candidate pairs close with
    * the exact minhash-agreement estimate. Equals the full-corpus
    * [[nearDupFromSig]] restricted to pairs touching a new doc
    * (IncrementalDedupSpec; d26's oracle checks it cell-exact on the md5
    * hash source). It is [[incrementalNearDupFromIndex]] over the stored
    * side's band table. Returns (pairs, signature delta to append) — the
    * delta IS `newSig`, returned for the append-registry symmetry the
    * other incremental twins share. */
  def incrementalNearDupFromSig(newSig: DataFrame, storedSig: DataFrame,
                                idCol: String, minEstJaccard: Double,
                                p: Params = Params(),
                                literalKeys: Boolean = false): (DataFrame, DataFrame) = {
    // cache the stored side: it feeds the band table AND both estimate
    // joins — three evaluations of the history signature pass when the
    // caller computes it inline (d26, the rebuild worst-case twin;
    // measured 11.4 s at sf1, dominated by re-signing history 3x). One
    // (id, sig) row per doc. The registry-probing production path
    // (incrementalNearDupFromIndex called directly) reads stored PARQUET
    // and is untouched.
    val sSig = storedSig.cache()
    val (pairs, (nSig, _)) = incrementalNearDupFromIndex(newSig,
      bandTable(sSig, idCol, p, literalKeys), sSig, idCol, minEstJaccard, p,
      literalKeys)
    (pairs, nSig)
  }

  /** [[incrementalNearDupFromSig]] probing a STORED band index instead of
    * re-banding the stored signature table per increment — the shape the
    * registry-growth probe demands at scale (the stored side's banding
    * work is O(registry) and was being paid every drop). `storedBands`
    * must be [[bandIndex]] of `storedSig` under the same Params/seed;
    * `storedSig` itself is still needed (id-keyed) for the agreement
    * estimate on matched pairs only. Returns (pairs, (sig delta, band
    * delta)) — append both to the registries. */
  def incrementalNearDupFromIndex(newSig: DataFrame, storedBands: DataFrame,
                                  storedSig: DataFrame, idCol: String,
                                  minEstJaccard: Double, p: Params = Params(),
                                  literalKeys: Boolean = false)
      : (DataFrame, (DataFrame, DataFrame)) = {
    val nSig = newSig.cache()
    // band the batch ONCE: the probe projection and the returned band
    // delta share this table, so appending the delta never re-pays the
    // banding pass
    val bnFull = bandTable(nSig, idCol, p, literalKeys)
    val pairs = withEstimate(probeCandidates(bnFull, storedBands, idCol),
      storedSig.unionByName(nSig), idCol, minEstJaccard, p)
    (pairs, (nSig, bnFull))
  }

  private[graft] def nearDupFromSig(sigDf: DataFrame, idCol: String,
                             minEstJaccard: Double, p: Params,
                             literalKeys: Boolean = false): DataFrame = {
    val sig = sigDf.cache()
    withEstimate(candidatePairs(sig, idCol, p, literalKeys), sig, idCol,
      minEstJaccard, p)
  }

  /** Closes candidate pairs with the signature-agreement estimate (the
    * fraction of agreeing minhashes, `est_jaccard`), both ids joined back
    * to `sig`, filtered at `minEstJaccard`. */
  private def withEstimate(cand: DataFrame, sig: DataFrame, idCol: String,
                           minEstJaccard: Double, p: Params): DataFrame = {
    val est = size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
      (m: Column) => m)).cast("double") / lit(p.numHashes.toDouble)
    cand
      .join(sig.select(col(idCol).as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sig.select(col(idCol).as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard", est)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("id_a", "id_b", "est_jaccard")
  }
}
