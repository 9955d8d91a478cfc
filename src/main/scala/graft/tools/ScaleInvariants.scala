package graft.tools

import org.apache.spark.sql.functions._

/** Scale-rehearsal twin checker (dev harness): asserts the result-equal
  * twin pairs — stored-registry probe == from-scratch rebuild, and
  * incremental == monolithic — at ANY scale factor, with no DuckDB in
  * the loop (the quadratic oracle SQLs are the bottleneck at sf1, not
  * the engine; the twins gate each other instead). Equality is multiset
  * equality via (row count, sum of per-row xxhash64 over all columns,
  * null-marked, column-order-normalized).
  *
  *   sbt "runMain graft.tools.ScaleInvariants /root/repo/testdata_sf1"
  *
  * `--linear-only` (the sf10 rehearsal mode) skips the three checks whose
  * LEFT side is a documented quadratic worst-case monolith (e07, d30, e12
  * — hours at sf10 by design; their production twins still run): every
  * check that remains is at-or-below linear, so the gate itself scales.
  */
object ScaleInvariants {
  def main(args: Array[String]): Unit = {
    val linearOnly = args.contains("--linear-only")
    val dir = args.filterNot(_.startsWith("--")).headOption
      .getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession()
    graft.meta.MetadataStar.materialize(spark, dir)
    graft.store.Registries.materialize(spark, dir)

    // RESULT-EQUAL twins: worst-case / from-scratch / monolithic on the
    // left, stored-registry / incremental production shape on the right
    val pairs = Seq(
      "d26_incr_minhash" -> "d26b_incr_minhash_stored",
      "e10_ivfpq" -> "e10b_ivfpq_stored",
      "e10_ivfpq" -> "e15_ivfpq_incr",
      "q57_ngram_contamination" -> "q57b_contamination_stored",
      "d39_snapshot_drift" -> "d39b_drift_stored",
      "e17_cell_drift" -> "e17b_cell_drift_stored",
      "d38_temperature_mix" -> "d38b_mixture_stored")
    // RECALL-BOUNDED twins: the bucketed/banded registry probe emits a
    // SUBSET of the exact twin's pair keys (its contract is the bucketed
    // one); equality would be wrong, containment is the invariant
    val subsets = if (linearOnly) Seq() else Seq(
      "e07b_incr_neardup_stored" -> "e07_incr_neardup",
      "d30b_lexsem_audit_stored" -> "d30_lexsem_audit")

    // ONE row-hash signature (null-marked, separator-delimited, column-
    // order-normalized) for both the named-query and raw-frame forms —
    // two copies let the discipline drift once (the d33 block shipped
    // with an empty separator that hashed ("12","3") equal to ("1","23"))
    def sigDf(df: org.apache.spark.sql.DataFrame): (Long, BigDecimal) = {
      val cols = df.columns.sorted
        .map(c => coalesce(col(c).cast("string"), lit("\u0000")))
      val r = df.select(xxhash64(concat_ws("\u0001", cols.toIndexedSeq: _*)).as("h"))
        .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).collect()(0)
      (r.getLong(0),
        if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }
    def sig(name: String): (Long, BigDecimal) =
      sigDf(graft.SparkEntry.queries(name)(spark, dir))

    var fail = 0
    pairs.foreach { case (a, b) =>
      val t0 = System.nanoTime()
      val (sa, sb) = (sig(a), sig(b))
      val secs = (System.nanoTime() - t0) / 1e9
      val ok = sa == sb
      if (!ok) fail += 1
      println(f"${if (ok) "PASS" else "FAIL"}%s $a == $b  rows=${sa._1}%d vs ${sb._1}%d  (${secs}%.1f s)")
    }
    def q(n: String) = graft.SparkEntry.queries(n)(spark, dir)

    subsets.foreach { case (small, big) =>
      val t0 = System.nanoTime()
      val s = q(small).select("id_a", "id_b")
      val extra = s.join(q(big).select("id_a", "id_b"),
        Seq("id_a", "id_b"), "left_anti").count()
      val nSmall = s.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val ok = extra == 0
      if (!ok) fail += 1
      println(f"${if (ok) "PASS" else "FAIL"}%s $small subsetOf $big  " +
        f"pairs=$nSmall%d extra=$extra%d  (${secs}%.1f s)")
    }

    // REFINEMENT twin: e12b's bucketed clusters must refine e12's exact
    // clusters — every e12b node exists in e12, and each e12b cluster
    // lands wholly inside ONE e12 cluster (bucketed edges are a subset of
    // exact edges, so connected components can only split, never merge)
    if (!linearOnly) {
      val t0 = System.nanoTime()
      val a = q("e12_incr_semclusters")
        .select(col("vec_id"), col("cluster_id").as("ca"))
      val b = q("e12b_incr_semclusters_stored")
        .select(col("vec_id"), col("cluster_id").as("cb"))
      val j = b.join(a, Seq("vec_id"), "left")
      val orphans = j.filter(col("ca").isNull).count()
      val splitAcross = j.groupBy("cb")
        .agg(countDistinct(col("ca")).as("n")).filter(col("n") > 1).count()
      val secs = (System.nanoTime() - t0) / 1e9
      val ok = orphans == 0 && splitAcross == 0
      if (!ok) fail += 1
      println(f"${if (ok) "PASS" else "FAIL"}%s e12b refines e12  " +
        f"orphans=$orphans%d crossClusters=$splitAcross%d  (${secs}%.1f s)")
    }

    // d33's monolithic twin is CC over the FULL MinHash pair set (d06's
    // detector — NOT q48, whose exact-Jaccard detector coincides with
    // MinHash clustering only on toy corpora; sf1 exposed the difference)
    locally {
      val t0 = System.nanoTime()
      val mono = graft.ops.ConnectedComponents.clusters(
          q("d06_minhash_dedup").select(col("id_a"), col("id_b")), "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      val sizes = mono.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
      val monoFull = mono.join(sizes, Seq("cluster_id"))
        .select("doc_id", "cluster_id", "n_members")
      val (sa, sb) = (sigDf(q("d33_incr_clusters")), sigDf(monoFull))
      val secs = (System.nanoTime() - t0) / 1e9
      val ok = sa == sb
      if (!ok) fail += 1
      println(f"${if (ok) "PASS" else "FAIL"}%s d33_incr_clusters == CC(d06 full pairs)  " +
        f"rows=${sa._1}%d vs ${sb._1}%d  (${secs}%.1f s)")
    }

    // e19 (adaptive-plane incremental near-dup) carries a DuckDB oracle at
    // driver scales (its hamming contract is pair-symmetric SQL), but past
    // them the oracle is the d06-convention quadratic — so the rehearsal
    // gate mirrors e18's: recall over the truth pairs INSIDE THE REGISTRY'S
    // PROMISE RADIUS at its current plane count must clear the floor. The
    // truth side is a <=64-query broadcast sweep (O(n) at any scale);
    // threshold = max(0.4, promiseCos) because e19 emits nothing below 0.4.
    locally {
      val t0 = System.nanoTime()
      val all = graft.Tables(spark, dir).embeddings
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val p = graft.store.Registries.adaptiveEmbPlanes(spark, dir)
      def pLe2(q: Double): Double = (0 to 2).map { k =>
        var c = 1.0
        for (i <- 0 until k) c = c * (p - i) / (i + 1)
        c * math.pow(q, k) * math.pow(1 - q, p - k)
      }.sum
      val qStar = {
        var (lo, hi) = (0.0, 1.0)
        for (_ <- 0 until 40) {
          val m = (lo + hi) / 2
          if (pLe2(m) >= 0.75) lo = m else hi = m
        }
        lo
      }
      val threshold = math.max(0.4, math.cos(math.Pi * qStar))
      val e19 = q("e19_incr_neardup_adaptive").select(col("id_a"), col("id_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e19.count()
      val odd = all.filter(col("id") % 2 === 1)
      val sampledIds: Seq[Any] = graft.ops.WindowOps.topKBounded(
        odd.select("id").withColumn("__smp", md5(col("id").cast("string"))),
        part = Seq(), order = Seq("__smp" -> false, "id" -> false), k = 64)
        .select("id").collect().toSeq.map(_.get(0))
      import graft.similarity.Knn
      val sample = broadcast(odd.filter(col("id").isin(sampledIds: _*))
        .select(col("id").as("id_a"), col("vec").as("va"),
          sqrt(Knn.dotFast(col("vec"), col("vec"))).as("na")))
      // two-phase truth, same policy as the queries themselves: fast
      // prefilter at threshold - FastCosEps, exact decimal rescore at the
      // threshold. e19 thresholds on the EXACT cosine at 0.4, so a
      // fast-only truth set counts float-boundary pairs (fast >= 0.4,
      // exact < 0.4) as truth that e19 is correct to omit — the gate must
      // measure probe recall, not boundary noise.
      val truth = sample
        .crossJoin(all.select(col("id").as("id_b"), col("vec").as("vb"),
          sqrt(Knn.dotFast(col("vec"), col("vec"))).as("nb")))
        .filter(col("id_a") =!= col("id_b"))
        .filter(Knn.dotFast(col("va"), col("vb")) / (col("na") * col("nb"))
          >= threshold - Knn.FastCosEps)
        .filter(Knn.cosine(col("va"), col("vb")) >= threshold)
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
        .distinct().persist()
      val nTrue = truth.count()
      val nHit =
        if (nTrue == 0) 0L
        else truth.join(e19, Seq("id_a", "id_b"), "left_semi").count()
      truth.unpersist(); e19.unpersist()
      val r = if (nTrue == 0) 1.0 else nHit.toDouble / nTrue
      val floor = 0.55
      val secs = (System.nanoTime() - t0) / 1e9
      val ok = r >= floor
      if (!ok) fail += 1
      println(f"${if (ok) "PASS" else "FAIL"}%s e19 in-promise pair recall " +
        f"(p=$p%d cos>=$threshold%.3f)  recall=$r%.3f " +
        f"floor=$floor%.2f n_true=$nTrue%d sample=${sampledIds.size}%d  (${secs}%.1f s)")
    }

    // e16's best column must be EXACTLY e04's assignment at any scale —
    // both run the two-phase exact-rescore policy, so (cid, cos) equality
    // is bitwise, and any divergence means one side's pruning band lost
    // the true argmax
    locally {
      val t0 = System.nanoTime()
      val a = q("e04_centroid_assign")
        .select(col("vec_id"), col("cid"), col("cos"))
      val b = q("e16_assign_margin")
        .select(col("vec_id"), col("cid1").as("cid"), col("cos1").as("cos"))
      val nA = a.count()
      val matched = a.join(b, Seq("vec_id", "cid", "cos")).count()
      val nB = b.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val ok = nA == nB && matched == nA
      if (!ok) fail += 1
      println(f"${if (ok) "PASS" else "FAIL"}%s e16 best == e04 assignment  " +
        f"rows=$nA%d matched=$matched%d  (${secs}%.1f s)")
    }

    // e18 (adaptive-plane multi-probe ANN) has no static oracle — the
    // plane count is data-dependent — so its per-scale gate lives here:
    // recall over the truth pairs INSIDE THE INDEX'S PROMISE RADIUS must
    // clear a pinned floor. An LSH index at p planes with 2-flip probing
    // promises retrieval of pairs whose per-bit mismatch rate q = θ/π
    // keeps P(Binom(p,q) <= 2) >= 0.75 — i.e. cos(θ) >= promiseCos(p),
    // computed below from the same (p, nFlip) the query runs. That is
    // the honest contract: recall over the FULL isotropic top-10 decays
    // with n at any fixed candidate budget (measured: 1.00 at sf0.01 →
    // 0.10 at sf1 — no sublinear index can retrieve cos~0.4 "neighbors"
    // of isotropic data), while promise-radius recall is scale-stable by
    // construction. At p <= 2 the promise covers ALL pairs (the probes
    // are exhaustive → recall 1.0: sf0.001/sf0.01); at sf1's p=14 it is
    // cos >= ~0.92 — exactly the generator's planted near-copies. A
    // scale whose sample holds no in-promise pairs passes vacuously with
    // n_true=0 printed (sf0.1's isotropic background tops out at 0.60);
    // the sf0.001/sf1 runs keep the truth side provably non-empty.
    // Truth is a <=128-query broadcast brute force — O(n) at any scale —
    // and the e18 side is the registered query itself, so a plane-count
    // or probe-set regression trips this at every rehearsed scale.
    locally {
      val t0 = System.nanoTime()
      val all = graft.Tables(spark, dir).embeddings
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val p = graft.queries.SimilarityQ.adaptivePlanes(all.count())
      // largest per-bit mismatch q with P(Binom(p,q) <= nFlip=2) >= 0.75,
      // by bisection; promiseCos = cos(pi * q)
      def pLe2(q: Double): Double = (0 to 2).map { k =>
        var c = 1.0
        for (i <- 0 until k) c = c * (p - i) / (i + 1)
        c * math.pow(q, k) * math.pow(1 - q, p - k)
      }.sum
      val qStar = {
        var (lo, hi) = (0.0, 1.0)
        for (_ <- 0 until 40) {
          val m = (lo + hi) / 2
          if (pLe2(m) >= 0.75) lo = m else hi = m
        }
        lo
      }
      val promiseCos = math.cos(math.Pi * qStar)
      val e18 = q("e18_ann_adaptive").select(col("qid"), col("vec_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sampledQids: Seq[Any] = graft.ops.WindowOps.topKBounded(
        e18.select("qid").distinct()
          .withColumn("__smp", md5(col("qid").cast("string"))),
        part = Seq(), order = Seq("__smp" -> false, "qid" -> false), k = 128)
        .select("qid").collect().toSeq.map(_.get(0))
      val truth = graft.similarity.Knn.bruteForceKnn(
        all.filter(col("id").isin(sampledQids: _*)), all, k = 10)
        .filter(col("cos") >= promiseCos)
        .select(col("qid"), col("vec_id")).persist()
      val nTrue = truth.count()
      val nHit =
        if (nTrue == 0) 0L
        else truth.join(e18, Seq("qid", "vec_id"), "left_semi").count()
      truth.unpersist(); e18.unpersist()
      val r = if (nTrue == 0) 1.0 else nHit.toDouble / nTrue
      val floor = 0.55 // promise is >= 0.75 per pair; margin for variance
      val secs = (System.nanoTime() - t0) / 1e9
      val ok = r >= floor
      if (!ok) fail += 1
      println(f"${if (ok) "PASS" else "FAIL"}%s e18 in-promise recall " +
        f"(p=$p%d cos>=${math.max(promiseCos, -1.0)}%.3f)  recall=$r%.3f " +
        f"floor=$floor%.2f n_true=$nTrue%d sample=${sampledQids.size}%d  (${secs}%.1f s)")
    }

    val total = pairs.size + subsets.size + (if (linearOnly) 4 else 5)
    println(s"${total - fail}/$total twin invariants hold at $dir")
    spark.stop()
    if (fail > 0) sys.exit(1)
  }
}
