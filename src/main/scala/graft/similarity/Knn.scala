package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the correctness baseline: broadcast the
  * (small) query set against the corpus — a shuffle-free map-side cross
  * join — then one window per query for top-k. The scale path is
  * [[lshBuckets]]: random-hyperplane signatures bucket the corpus so each
  * query only scores its bucket (probing neighbor buckets for recall).
  *
  * Numeric policy: dot products accumulate in DECIMAL over the float
  * values (exact, order-independent — see graft.ops.Exact) and close in
  * double, so results are reproducible across partitionings and engines.
  */
object Knn {

  // Quantization: each float element becomes the INTEGER
  // half-even-round(double(x) · 1e9). Both engines compute the identical
  // IEEE double product and then the identical half-even integer (Spark
  // `bround`, DuckDB `round_even`; the exact expansion of a double is
  // .5-fractional only when the double IS n+0.5, where both go even), so
  // the quantized elements are bit-identical BY CONSTRUCTION. The previous
  // formulation cast double → DECIMAL(_, 9) and inherited each engine's
  // cast rounding mode — Spark HALF_UP, DuckDB half-even — which diverged
  // on dyadic floats landing exactly on .5 at the 9th decimal (found at
  // sf0.1: embedding element 0.1494140625 → e04 cos off by 4e-11 on one
  // row; latent in e01/e02 whose outputs happened not to touch a boundary
  // element).
  //
  // Dots are then EXACT integer sums (scaled by 1e18): products fit
  // DECIMAL(37,0), the 64-term sum ≤ ~8e18 fits DECIMAL(38,0) with every
  // addition exact. Cosine divides the scale away, so no 1e-18 closure
  // ever happens — the only float ops are one decimal→double per sum
  // (correctly rounded; the DuckDB oracle routes hugeint→double through
  // VARCHAR to match) and the same sqrt/divide IEEE closing in both
  // engines.
  /** Exact integer-scaled dot product of two float arrays (value = true
    * dot · 1e18), closed as double. Scale cancels in [[cosine]]; callers
    * needing the unscaled dot divide by 1e18 once.
    *
    * Since r06 this is the codegen'd [[graft.functions.Q9Dot]] — the
    * correctly-rounded double of the exact integer sum, bit-identical to
    * the earlier interpreted `zip_with`/`aggregate` DECIMAL(38,0)
    * formulation (whose closing cast was BigDecimal.doubleValue, also
    * correctly rounded) but inside whole-stage codegen: no per-row
    * allocation, no interpreted lambdas on any similarity hot path. */
  def dotExact(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.q9Dot(a, b)

  /** Cosine similarity via exact scaled dots — the 1e18 scale cancels:
    * dot·1e18 / (sqrt(n2a·1e18)·sqrt(n2b·1e18)); same IEEE closing both
    * engines. */
  def cosine(a: Column, b: Column): Column =
    dotExact(a, b) / (sqrt(dotExact(a, a)) * sqrt(dotExact(b, b)))

  /** Fast double dot product via the codegen'd [[graft.functions.DoubleDot]]
    * expression (a zip_with/aggregate formulation stays interpreted and
    * allocates per row — ~50× slower on all-pairs joins). Same left-to-right
    * summation order; accurate to ~1e-15 relative. Used to prefilter before
    * exact rescoring and on approximate (non-oracle) paths. */
  def dotFast(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.doubleDot(a, b)

  /** Fast double cosine (approximate paths). */
  def cosineFast(a: Column, b: Column): Column =
    dotFast(a, b) / (sqrt(dotFast(a, a)) * sqrt(dotFast(b, b)))

  /** Fast-vs-exact cosine divergence bound. The codegen'd double dot is
    * within ~n·ulp relative of the exact decimal value (~1e-13 for
    * thousand-dim unit-scale embeddings); 2e-8 is that bound with five
    * orders of margin. Used to make the two-phase prefilter SOUND: any
    * vector whose exact cosine could reach the top-k must sit within this
    * distance of the kth fast score. */
  val FastCosEps = 2e-8

  /** Sound |code-cosine − exact cosine| bound for the int16 unit codes
    * ([[graft.functions.FloatVecCode16]]). With the CONSTANT per-element
    * radius δ = 0.5/32767 on both unit vectors (û_i = c_i/32767,
    * |û_i − u_i| ≤ δ — no clamping: |x_i| ≤ ‖x‖ keeps every code in
    * range), for d ≤ 64:
    *
    *   |⟨û,v̂⟩ − ⟨u,v⟩| ≤ Σ|û_i−u_i||v̂_i| + Σ|u_i||v̂_i−v_i|
    *                    ≤ δ(Σ|v_i| + dδ) + δΣ|u_i| ≤ 2√d·δ + d·δ²
    *                    = 2.4415e-4 (d = 64)
    *
    * (Σ|u_i| ≤ √d by Cauchy–Schwarz). 2.5e-4 adds margin for the fast
    * double norm inside the code (relative error ~1e-13, so its
    * contribution is ~1e-13 absolute). A CONSTANT — not a per-pair
    * bound riding every candidate row — because the bound must pass
    * through the kth-threshold machinery as a plan literal: an 8 B/row
    * eps column on the slim candidate exchange measurably cost more
    * than the probe-side byte saving it enabled (sf10: +2.2 GB on the
    * 302M-row exchange vs −3.3 GB on the probe side, plus 2.3× the
    * survivors). */
  val Code16CosEps = 2.5e-4

  /** Brute-force top-k cosine neighbors for each query vector.
    * `queries`/`corpus`: (id, vec). Self-matches excluded.
    *
    * Quadratic in |queries|·|corpus| by design (the correctness baseline):
    * `maxQueryRows` refuses oversized query sets — route those through
    * [[approxKnn]] / [[Ivf]] instead, or raise the cap deliberately. */
  def bruteForceKnn(queries: DataFrame, corpus: DataFrame, k: Int,
                    maxQueryRows: Long = 100000): DataFrame = {
    val nq = queries.count()
    require(nq <= maxQueryRows,
      s"bruteForceKnn: $nq query rows exceeds maxQueryRows=$maxQueryRows — " +
        "this path broadcasts the queries and scores |q|*|corpus| pairs; " +
        "use approxKnn/Ivf at scale or raise the cap explicitly")
    val q = queries.select(col("id").as("qid"), col("vec").as("qvec"))
    val c = corpus.select(col("id").as("vec_id"), col("vec").as("cvec"))
    // Phase 1: rank all pairs by the codegen'd double cosine. The candidate
    // set keeps every row within FastCosEps of the kth fast score — a
    // PROVABLY sufficient margin (exact >= fast - eps and kth_exact <=
    // kth_fast + eps), so near-ties beyond any fixed rank margin survive.
    // Phase 2: exact decimal rescore + exact ranking of the candidates —
    // output identical to the all-exact plan the oracle mirrors.
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        cosineFast(col("qvec"), col("cvec")).as("cos_fast"))
    exactTopK(scored,
      q.withColumn("qnrm", sqrt(dotExact(col("qvec"), col("qvec")))),
      c.withColumn("cnrm", sqrt(dotExact(col("cvec"), col("cvec")))), k)
  }

  /** Phase 2 of the two-phase top-k: given approximately-scored SLIM
    * candidate pairs `(qid, vec_id, cos_fast)` — no vectors attached —
    * keep every row whose exact cosine COULD reach the top-k, re-join
    * the ~k survivors per query to their vectors by id, rescore with the
    * exact decimal cosine, and rank exactly — output identical to an
    * all-exact plan over the same pair set.
    *
    * Selection is branch-and-bound on score intervals with a CONSTANT
    * sound radius `eps` on |cos_fast − cos_exact| ([[FastCosEps]] for
    * double-dot scores, [[Code16CosEps]] for int16-code scores): every
    * row's exact cosine lies in [cos_fast − eps, cos_fast + eps]. The
    * kth largest LOWER bound per query is kth(cos_fast) − eps, and
    * kth_exact is at least it (k rows have exact >= their lower bound);
    * any row whose UPPER bound cos_fast + eps falls below cannot be in
    * the exact top-k — the filter keeps cos_fast >= kth − 2·eps, a
    * provable superset of the top-k at any sound eps.
    *
    * The input MUST be slim: the per-query rank window sorts the whole
    * candidate frame, and a sort row that carries two 64-float vectors is
    * ~20× the bytes of (qid, vec_id, cos_fast). Measured at sf10 (500k
    * vectors, 240M multi-probe candidates) the vector-attached sort
    * spilled ~70 GB and filled the disk; the slim sort fits in memory and
    * the survivors' vector re-join is |queries|·~k rows against the n-row
    * vector table (docs/SCALE.md Addendum 4).
    *
    * `qVecs`/`cVecs` carry (qid|vec_id, qvec|cvec, qnrm|cnrm) with the
    * exact norms computed once per VECTOR, not per pair (the e04 lesson);
    * sqrt-then-multiply is the identical IEEE closing the oracle uses. */
  private[graft] def exactTopK(scored: DataFrame, qVecs: DataFrame,
                               cVecs: DataFrame, k: Int,
                               eps: Column = lit(FastCosEps)): DataFrame = {
    // ONE slim column set for BOTH consumers of the qid exchange: `eps`
    // must be a literal (or derived from these columns), never a
    // materialized per-row column — (a) column pruning runs per consumer
    // branch, and branches consuming different column sets get different
    // Projects under their exchanges: semantically distinct exchanges
    // that ReuseExchange (and AQE stage reuse) can no longer dedup,
    // silently running the whole probe join twice; (b) even carried
    // identically, 8 B/row on the candidate exchange outweighs what a
    // tighter per-pair bound saves elsewhere (both measured at sf10
    // during the r14 rework; the e18 plan gate pins the shape).
    val slim = scored.select(col("qid"), col("vec_id"), col("cos_fast"))
    // Candidate selection is TWO PASSES over the slim frame, neither of
    // which sorts it. The r12 shape ranked with a per-query row_number
    // window — a full shuffle+sort of every candidate row, and at sf10
    // (302M candidates) that sort WAS the query: 192 s of a ~200 s wall.
    // Only the kth fast score per query is actually needed, and a
    // k-bounded heap aggregate ([[graft.functions.TopKRows]]) produces
    // it without ordering anything beyond each group's k-row heap.
    //
    // The slim frame is repartitioned by qid ONCE, and that exchange is
    // the plan's sharing point: the heap aggregate runs directly on it
    // (child partitioning satisfies the aggregate's distribution, so no
    // partial/final split and no second exchange), the kth join probes
    // it co-located, and ReuseExchange makes both consumers read the
    // same shuffle files — the candidate-generating probe join executes
    // exactly once. Aggregating BEFORE a qid exchange is also a heap
    // hazard, not just a wasted partial: a pre-shuffle partition sees
    // candidates of every query, so a partial ObjectHashAggregate would
    // hold |queries| k-row heaps per task (measured OOM at sf10: 500k
    // heaps × 32 tasks in an 8 GB driver); after the exchange each task
    // holds |queries|/partitions of them.
    //
    // Pass 2 keeps rows by VALUE (upper bound >= kth lower bound L) —
    // a superset of the ranked filter at every sound eps. The kth side
    // joins SHUFFLE_HASH: per-partition it hash-builds
    // |queries|/partitions narrow rows (bounded at any scale — 1B
    // queries is ~16 B each; a broadcast would cap |queries| at the
    // driver's memory, and a sort-merge would re-sort the candidates).
    val slimQ = slim.repartition(col("qid"))
    val kth = slimQ.groupBy(col("qid"))
      .agg(graft.functions.TopKRows.topKRows(
        struct(col("cos_fast"), col("vec_id")), k, Seq(true, false)).as("__tk"))
      .select(col("qid"),
        // groups smaller than k have no kth score: keep them whole below
        when(size(col("__tk")) === k,
          element_at(col("__tk"), k).getField("cos_fast")).as("__kth"))
    // branch-and-bound with a constant radius: every exact cosine lies
    // in [cos_fast − eps, cos_fast + eps], so the kth LOWER bound is
    // __kth − eps and any row whose UPPER bound reaches it survives —
    // cos_fast >= __kth − 2·eps, a provable superset of the top-k
    val cand = slimQ.join(kth.hint("shuffle_hash"), Seq("qid"))
      .filter(col("__kth").isNull ||
        col("cos_fast") >= col("__kth") - eps * lit(2))
      .select(col("qid"), col("vec_id"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    cand
      .join(qVecs.select(col("qid"), col("qvec"), col("qnrm")), Seq("qid"))
      .join(cVecs.select(col("vec_id"), col("cvec"), col("cnrm")), Seq("vec_id"))
      .select(col("qid"), col("vec_id"),
        (dotExact(col("qvec"), col("cvec")) / (col("qnrm") * col("cnrm"))).as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** All pairs (id_a < id_b) with cosine >= minCos — embedding near-dup.
    * All-pairs is quadratic: `maxRows` (overridable, or bypass with
    * `allowQuadratic = true`) refuses corpora where the cross join would be
    * a scale accident — a 100 TB caller lands on [[lshBuckets]] / Ivf
    * unless they opt in deliberately. */
  def nearDupPairs(emb: DataFrame, minCos: Double,
                   maxRows: Long = 200000,
                   allowQuadratic: Boolean = false): DataFrame = {
    if (!allowQuadratic) {
      val n = emb.count()
      require(n <= maxRows,
        s"nearDupPairs: $n rows exceeds maxRows=$maxRows — all-pairs cosine " +
          "is O(n^2); use lshBuckets/Ivf for the candidate step, or pass " +
          "allowQuadratic=true to opt in")
    }
    // Phase 1: double-math prefilter over all pairs (codegen'd, cheap) with
    // a 1e-6 safety margin — double dots are within ~1e-15 relative of the
    // exact value, so no qualifying pair can be lost.
    // Phase 2: exact decimal rescore + exact threshold on the tiny survivor
    // set, so the output is bit-identical to the all-exact plan (and the
    // oracle). ~100× less decimal work at any scale.
    val withNorm = emb.select(col("id"), col("vec"),
      sqrt(dotExact(col("vec"), col("vec"))).as("nrm"),
      sqrt(dotFast(col("vec"), col("vec"))).as("nrm_fast"))
    // The streamed side of the nested-loop join inherits the scan's
    // partitioning — a single-file input would run every pair dot product
    // on ONE core; spread it (see graft.Tables.spread).
    val a = graft.Tables.spread(withNorm, "id")
      .select(col("id").as("id_a"), col("vec").as("va"),
        col("nrm").as("na"), col("nrm_fast").as("nfa"))
    val b = withNorm.select(col("id").as("id_b"), col("vec").as("vb"),
      col("nrm").as("nb"), col("nrm_fast").as("nfb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(dotFast(col("va"), col("vb")) / (col("nfa") * col("nfb")) >= minCos - 1e-6)
      .select(col("id_a"), col("id_b"),
        (dotExact(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Seeded random hyperplanes, pre-quantized to integers (rint(w·1e3)):
    * the shared plane matrix for [[lshBuckets]] and the DuckDB oracle's
    * SQL literal rendering. Quantizing the plane changes only WHICH random
    * hyperplane is used (they're random anyway); what it buys is an exact
    * integer sign test both engines compute identically. */
  def quantPlanes(dim: Int, nPlanes: Int, seed: Long = 42L): Seq[Seq[Int]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(math.rint(rnd.nextGaussian() * 1e3).toInt))
  }

  /** Random-hyperplane LSH signature (`nPlanes`-bit long) per vector —
    * the bucketing key for approximate search. Planes are drawn from a
    * seeded PRNG at plan-build time (deterministic, identical on every
    * executor, no data shipping) and quantized to integers so bit j is an
    * EXACT long sign test Σ q9(x)·w — bit-identical across engines, and
    * one codegen'd loop per row ([[graft.functions.QuantLshBucket]]) with
    * no interpreted lambdas (PlanQualitySpec pins this). */
  def lshBuckets(emb: DataFrame, dim: Int, nPlanes: Int = 16,
                 seed: Long = 42L): DataFrame = {
    require(nPlanes <= 62, "signature must fit a long")
    emb.select(col("id"), col("vec"),
      graft.functions.VectorExpressions
        .quantLshBucket(col("vec"), quantPlanes(dim, nPlanes, seed)).as("bucket"))
  }

  /** Approximate top-k: score only within LSH buckets. Recall/cost dial is
    * nPlanes (fewer planes → bigger buckets → higher recall, more work).
    * Within a bucket the result is EXACT (two-phase fast prefilter + exact
    * decimal rescore, same soundness argument as [[bruteForceKnn]]), and
    * bucket assignment is exact integer math — so the full output is
    * deterministic and oracle-checkable despite being "approximate" w.r.t.
    * the global top-k. */
  def approxKnn(emb: DataFrame, dim: Int, k: Int, nPlanes: Int = 8,
                seed: Long = 42L): DataFrame = {
    // norms once per vector, not per pair — both the fast prefilter norm
    // and the exact rescore norm are carried through the bucket join
    val bucketed = lshBuckets(emb, dim, nPlanes, seed)
      .withColumn("nrm", sqrt(dotExact(col("vec"), col("vec"))))
      .withColumn("nrm_f", sqrt(dotFast(col("vec"), col("vec"))))
    val a = bucketed.select(col("bucket"), col("id").as("qid"),
      col("vec").as("qvec"), col("nrm_f").as("qnrm_f"))
    val b = bucketed.select(col("bucket"), col("id").as("vec_id"),
      col("vec").as("cvec"), col("nrm_f").as("cnrm_f"))
    // the fast score is computed AT the bucket join and the vectors are
    // projected away in the same select — only slim (qid, vec_id,
    // cos_fast) rows reach exactTopK's rank window
    val scored = a.join(b, Seq("bucket"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        (dotFast(col("qvec"), col("cvec")) / (col("qnrm_f") * col("cnrm_f")))
          .as("cos_fast"))
    exactTopK(scored,
      bucketed.select(col("id").as("qid"), col("vec").as("qvec"),
        col("nrm").as("qnrm")),
      bucketed.select(col("id").as("vec_id"), col("vec").as("cvec"),
        col("nrm").as("cnrm")), k)
  }

  /** Multi-probe LSH top-k: [[approxKnn]] plus probing every bucket at
    * hamming distance ≤ `nFlip` of the query's signature (the standard
    * recall dial — a vector near a hyperplane lands on either side with
    * near-equal probability, so flipping low-margin bits recovers most
    * misses at (nPlanes choose ≤nFlip)× the candidate cost instead of
    * halving nPlanes, which would square bucket sizes). nFlip=0 IS
    * [[approxKnn]]; KnnSpec proves the candidate set is a superset and
    * recall vs brute force is monotone in nFlip. Only the QUERY side fans
    * out (one row per probed bucket) — the corpus index is untouched, so
    * the stored bucket table / registry stays the single-signature one. */
  def approxKnnMultiProbe(emb: DataFrame, dim: Int, k: Int, nPlanes: Int = 8,
                          seed: Long = 42L, nFlip: Int = 1): DataFrame = {
    require(nFlip >= 0 && nFlip <= 2, "nFlip beyond 2 costs more than more planes")
    // spread: the probe fan-out below inherits the scan's partitioning —
    // from a single-file input the code-carrying explode would run on
    // one core (the measured e19 lesson, bucketedNearDupProbe)
    val bucketed = lshBuckets(graft.Tables.spread(emb, "id"), dim, nPlanes, seed)
      .withColumn("nrm", sqrt(dotExact(col("vec"), col("vec"))))
      .withColumn("code", graft.functions.VectorExpressions.code16(
        col("vec"), sqrt(dotFast(col("vec"), col("vec")))))
    // probed buckets = signature with ≤ nFlip bits flipped, as a literal
    // array expression over the bucket column (no lambdas, codegen'd)
    val flips1 = (0 until nPlanes).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
    val flips2 =
      if (nFlip < 2) Seq.empty
      else for { i <- 0 until nPlanes; j <- (i + 1) until nPlanes }
        yield col("bucket").bitwiseXOR(lit((1L << i) | (1L << j)))
    val probeBuckets =
      if (nFlip == 0) array(col("bucket"))
      else array(Seq(col("bucket")) ++ flips1 ++ flips2: _*)
    // Probe rows carry a 128 B int16 CODE ([[graft.functions
    // .FloatVecCode16]]), not the ~280 B float vector: the fanned probe
    // side moves n·(1 + p + C(p,2)) rows through the bucket exchange,
    // and at the third decade that byte volume IS the query (sf30
    // measured 95 GB raw / exp 1.60 with vectors attached — SCALE.md
    // Addendum 6; the int16 cut measured ~2.2× fewer compressed probe
    // bytes at sf10). The approximate score is computed AT the bucket
    // join and the output goes slim (qid, vec_id, cos_fast) in the same
    // select; the CONSTANT sound radius [[Code16CosEps]] rides the plan
    // as a literal, and only survivors of the branch-and-bound kth
    // filter — a provable superset of the top-k — fetch their full
    // vectors for the exact rescore inside [[exactTopK]]. The registry
    // side is SHUFFLE_HASH-hinted: per bucket-join partition it builds a
    // hash of corpus/numPartitions code rows (sized to fit memory at any
    // deployment scale), while the ~p²/2-fanned probe side streams
    // through unsorted.
    val a = bucketed.select(explode(probeBuckets).as("bucket"),
      col("id").as("qid"), col("code").as("qcode"))
    val b = bucketed.select(col("bucket"), col("id").as("vec_id"),
      col("code").as("ccode"))
    val scored = a.join(b.hint("shuffle_hash"), Seq("bucket"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorExpressions.code16Dot(col("qcode"), col("ccode"))
          .as("cos_fast"))
    // NO pair dedup needed: a query's probe buckets are pairwise-distinct
    // (XOR with distinct ≤nFlip-bit masks), and a corpus vector sits in
    // exactly one bucket — so each (qid, vec_id) candidate matches exactly
    // one probe row. KnnSpec pins the uniqueness; dropping the distinct
    // removes a full candidate-frame shuffle (measured at sf10: a 302M-row
    // exchange + 38 GB of spill for zero semantic effect).
    exactTopK(scored,
      bucketed.select(col("id").as("qid"), col("vec").as("qvec"),
        col("nrm").as("qnrm")),
      bucketed.select(col("id").as("vec_id"), col("vec").as("cvec"),
        col("nrm").as("cnrm")), k, eps = lit(Code16CosEps))
  }

  /** Incremental [[nearDupPairs]] — the daily-crawl flow in embedding
    * space (the [[graft.text.Winnowing.incrementalRepeatedRegions]] /
    * [[graft.dedup.MinHashLsh.incrementalCandidates]] pattern): all
    * near-dup pairs TOUCHING at least one new vector. Old-old pairs were
    * yesterday's output and are never recomputed — per increment the pair
    * space is n_new × n_total, not n_total², and the result equals the
    * full rerun restricted to pairs with a new member (KnnSpec proves it;
    * e07's oracle checks it cell-exact against the monolithic SQL).
    *
    * Same two-phase numeric contract as [[nearDupPairs]] (codegen'd double
    * prefilter with 1e-6 margin, exact decimal rescore), same quadratic
    * opt-in guard. Pairs are emitted id-ordered (id_a < id_b) regardless
    * of which side is new, so outputs union cleanly across increments.
    * This is the exact baseline; the bucketed scale path is
    * [[incrementalBucketCandidates]]. */
  def incrementalNearDupPairs(newEmb: DataFrame, oldEmb: DataFrame,
                              minCos: Double, maxRows: Long = 200000,
                              allowQuadratic: Boolean = false): DataFrame = {
    if (!allowQuadratic) {
      val nNew = newEmb.count()
      val nAll = nNew + oldEmb.count()
      require(nNew * nAll <= maxRows * maxRows,
        s"incrementalNearDupPairs: $nNew x $nAll candidate pairs exceed " +
          s"maxRows^2 — use incrementalBucketCandidates for the candidate " +
          "step, or pass allowQuadratic=true to opt in")
    }
    // spread: the union is the STREAMED side of the nested-loop join (the
    // new side broadcasts — plan-gated), and it inherits the scans' file
    // partitioning; at sf1 a 2-file embeddings fixture ran the whole
    // n_new × n_total dot-product loop on 2 of 32 cores (measured 178 s
    // vs e02's 47 s for the same pair count — the nearDupPairs comment's
    // lesson, missed on this path)
    val tagged = graft.Tables.spread(
      oldEmb.select(col("id"), col("vec"), lit(false).as("__new"))
        .unionByName(newEmb.select(col("id"), col("vec"), lit(true).as("__new"))),
      "id")
    val b = tagged.select(col("id").as("id_b"), col("vec").as("vb"),
      col("__new").as("bnew"),
      sqrt(dotExact(col("vec"), col("vec"))).as("nb"),
      sqrt(dotFast(col("vec"), col("vec"))).as("nfb"))
    val a = newEmb.select(col("id").as("id_a"), col("vec").as("va"),
      sqrt(dotExact(col("vec"), col("vec"))).as("na"),
      sqrt(dotFast(col("vec"), col("vec"))).as("nfa"))
    // new-old pairs appear once (a is always the new side); new-new pairs
    // are kept only in id order so each is emitted once
    a.crossJoin(b)
      .filter(!col("bnew") || col("id_a") < col("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(dotFast(col("va"), col("vb")) / (col("nfa") * col("nfb")) >= minCos - 1e-6)
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        (dotExact(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Multi-probe variant of [[incrementalBucketCandidates]]: a candidate
    * is any pair (new, stored) or (new, new) whose SIGNATURES differ in at
    * most `nFlip` bits — equivalently, the stored bucket lies inside the
    * new vector's probe set, since hamming distance is symmetric. Only the
    * new side fans out (one row per probed bucket, 1 + p + C(p,2) probes
    * at nFlip=2); the registry keeps one row per vector. With the plane
    * count chosen by the e18 law against the HISTORY size, expected
    * candidates per new vector stay under the fixed budget at every
    * corpus size — the property the fixed-plane registry loses a decade
    * past its calibration (measured: e07b sf0.1→sf1 exp 0.97, then the
    * sf10 candidate count grows ~100× for 10× data). The pair-symmetric
    * hamming rule is what makes the contract oracle-expressible:
    * bit_count(xor(sig_a, sig_b)) <= nFlip needs no probe-set replay. */
  def adaptiveBucketCandidates(newEmb: DataFrame, storedBuckets: DataFrame,
                               dim: Int, nPlanes: Int, nFlip: Int = 2,
                               seed: Long = 42L): DataFrame = {
    require(nFlip >= 0 && nFlip <= 2, "nFlip beyond 2 costs more than more planes")
    val newBuckets = lshBuckets(newEmb, dim, nPlanes, seed)
      .select(col("id"), col("bucket"))
    val flips1 = (0 until nPlanes).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
    val flips2 =
      if (nFlip < 2) Seq.empty
      else for { i <- 0 until nPlanes; j <- (i + 1) until nPlanes }
        yield col("bucket").bitwiseXOR(lit((1L << i) | (1L << j)))
    val probeBuckets =
      if (nFlip == 0) array(col("bucket"))
      else array(Seq(col("bucket")) ++ flips1 ++ flips2: _*)
    val probes = newBuckets.select(col("id").as("id_a"),
      explode(probeBuckets).as("bucket"))
    // b side: the stored history registry plus today's own exact buckets
    // (new-new pairs obey the same hamming rule; each such pair is found
    // from both directions and deduped by the id-ordered distinct)
    val bSide = storedBuckets.select(col("id").as("id_b"), col("bucket"))
      .unionByName(newBuckets.select(col("id").as("id_b"), col("bucket")))
    probes.join(bSide, Seq("bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
  }

  /** Fused bucket-probe near-dup: candidate generation, double prefilter,
    * pair dedup, and exact rescore in ONE pipeline ordered for scale. The
    * r11 shape ([[adaptiveBucketCandidates]] then a vector re-join) ran
    * the pair-dedup shuffle over EVERY candidate and then attached
    * vectors with two sort-merge joins whose second sort carried a
    * 64-float array per row — at sf10 that meant sorting 187M
    * vector-attached rows when only ~1% survive the prefilter. Here the
    * vectors ride the BUCKET join (the probe fan-out carries the new
    * vector; the registry side attaches its vector by a per-VECTOR id
    * join, one row each, before the fan-in), the codegen'd double
    * prefilter runs at the join output BEFORE any further shuffle, and
    * only the surviving ~1% reach the pair-dedup distinct and the exact
    * rescore's id joins.
    *
    * Output is bit-identical to candidates-then-[[graft.queries
    * .SimilarityQ]]-rescore: the prefilter predicate (fast cosine >=
    * minCos - 1e-6, sound by [[FastCosEps]]) is deterministic, so
    * filtering each candidate occurrence before dedup keeps exactly the
    * pairs the deduped-then-filtered plan keeps, and the exact close is
    * the same norms-once decimal arithmetic. nFlip=0 probes only the
    * vector's own bucket — the fixed-registry (e07b) same-bucket
    * contract; nFlip=2 is the adaptive multi-probe (e19) hamming<=2
    * contract. Pairs touching at least one new vector, id-ordered. */
  def bucketedNearDupProbe(newEmb: DataFrame, storedBuckets: DataFrame,
                           vectors: DataFrame, dim: Int, nPlanes: Int,
                           minCos: Double, nFlip: Int,
                           seed: Long = 42L): DataFrame = {
    require(nFlip >= 0 && nFlip <= 2, "nFlip beyond 2 costs more than more planes")
    // spread BEFORE the fan-out: the probe explode inherits the scan's
    // partitioning, and a single-file input would serialize the whole
    // 100×-fanned vector-carrying probe frame on ONE core (measured at
    // sf10: a 38.5M-row explode stage at 316 s wall == 318 s cpu — the
    // entire e19 wall — against 8 s for the join it feeds)
    val newBuckets = lshBuckets(graft.Tables.spread(newEmb, "id"),
      dim, nPlanes, seed)
    val flips1 = (0 until nPlanes).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
    val flips2 =
      if (nFlip < 2) Seq.empty
      else for { i <- 0 until nPlanes; j <- (i + 1) until nPlanes }
        yield col("bucket").bitwiseXOR(lit((1L << i) | (1L << j)))
    val probeBuckets =
      if (nFlip == 0) array(col("bucket"))
      else array(Seq(col("bucket")) ++ flips1 ++ flips2: _*)
    val probes = newBuckets
      .withColumn("nfa", sqrt(dotFast(col("vec"), col("vec"))))
      .select(explode(probeBuckets).as("bucket"), col("id").as("id_a"),
        col("vec").as("va"), col("nfa"))
    // registry side: stored history ∪ today's own exact buckets (new-new
    // pairs obey the same rule, found from both directions and deduped by
    // the id-ordered distinct); the vector attaches ONCE PER VECTOR here,
    // never once per candidate
    val vecs = vectors.select(col("id").as("id_b"), col("vec").as("vb"),
      sqrt(dotFast(col("vec"), col("vec"))).as("nfb"))
    val bSide = storedBuckets.select(col("id").as("id_b"), col("bucket"))
      .unionByName(newBuckets.select(col("id").as("id_b"), col("bucket")))
      .join(vecs, Seq("id_b"))
    // SHUFFLE_HASH on the registry side: per bucket-join partition it
    // builds a hash of corpus/numPartitions vectors (partitions are sized
    // to fit memory at any scale), and the fanned-out probe side streams
    // through UNSORTED — a sort-merge join would sort probes×vector rows
    // per increment for no benefit
    val survivors = probes.join(bSide.hint("shuffle_hash"), Seq("bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(dotFast(col("va"), col("vb")) / (col("nfa") * col("nfb"))
        >= minCos - 1e-6)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    // exact decimal rescore on the deduped survivors only — norms once
    // per vector, the identical IEEE closing the oracles replay
    val ea = vectors.select(col("id").as("id_a"), col("vec").as("xva"),
      sqrt(dotExact(col("vec"), col("vec"))).as("na"))
    val eb = vectors.select(col("id").as("id_b"), col("vec").as("xvb"),
      sqrt(dotExact(col("vec"), col("vec"))).as("nb"))
    survivors.join(ea, Seq("id_a")).join(eb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (dotExact(col("xva"), col("xvb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** The bucketed scale path for incremental near-dup: new vectors'
    * LSH signatures probe the STORED bucket registry (the `(id, bucket)`
    * table each increment appends — history's vectors are never re-read,
    * never re-hashed). Returns (candidate pairs touching a new vector,
    * registry delta to append). Candidates equal the full corpus-wide
    * bucket self-join restricted to new-touching pairs (KnnSpec), so
    * downstream exact rescoring (join vectors back by id, then the
    * [[nearDupPairs]] phase-2 arithmetic) inherits e03's determinism.
    * One equi-join on the signature — at 100 TB the registry is bucketed
    * on `bucket`, making each day's probe a co-located join. */
  def incrementalBucketCandidates(newEmb: DataFrame, storedBuckets: DataFrame,
                                  dim: Int, nPlanes: Int = 8,
                                  seed: Long = 42L): (DataFrame, DataFrame) = {
    val newBuckets = lshBuckets(newEmb, dim, nPlanes, seed)
      .select(col("id"), col("bucket"))
    val old = storedBuckets.select(col("id").as("id_b"), col("bucket"))
    val newOld = newBuckets.select(col("id").as("id_a"), col("bucket"))
      .join(old, Seq("bucket"))
    val nn = newBuckets.select(col("id").as("id_a"), col("bucket"))
      .join(newBuckets.select(col("id").as("id_b"), col("bucket")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
    val candidates = newOld.unionByName(nn)
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    (candidates, newBuckets)
  }
}
