package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ModelArgmin

/** The literal-model argmin expressions must equal the join + min(struct)
  * formulations they replaced BIT-FOR-BIT on adversarial random data —
  * including distance ties (the lower-id rule) and the half-even
  * quantization boundary. Each equivalence is checked against an
  * in-Spark reference built exactly like the r14 operators. */
class ModelArgminSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** Random float vectors with repeated values so distance ties happen. */
  private def randomVecs(n: Int, dims: Int, seed: Int): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      // coarse grid (multiples of 0.25) → many exact ties across vectors,
      // plus exact .5/1024 boundaries exercising half-even rounding
      (i.toLong, Seq.fill(dims)((rnd.nextInt(17) - 8) * 0.25f +
        (if (rnd.nextInt(4) == 0) 0.5f / 1024f else 0f)))
    }
  }

  private def vecsDf(vs: Seq[(Long, Seq[Float])]): DataFrame =
    vs.toDF("id", "vec")

  test("quantizeVec equals transform+bround bit-for-bit (incl. half-even " +
       "boundaries and negatives)") {
    val vs = randomVecs(500, 16, seed = 3)
    val df = vecsDf(vs)
    val got = df.select(col("id"), ModelArgmin.quantizeVec(col("vec")).as("q"))
    val ref = df.select(col("id"),
      transform(col("vec"), x => bround(x.cast("double") * 1024).cast("long"))
        .as("q"))
    val g = got.collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
    val e = ref.collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
    assert(g.toSeq == e.toSeq)
  }

  test("quantArgminId equals crossJoin+min(struct(d,cid)) incl. ties to " +
       "the lower cid") {
    val vs = randomVecs(400, 8, seed = 7)
    // duplicate centroid vectors under different cids force exact ties
    val centVecs = randomVecs(3, 8, seed = 8).map(_._2)
    val cents = (centVecs ++ centVecs).zipWithIndex
      .map { case (v, i) => (i, v) }.toDF("cid", "cvec")
      .select(col("cid"),
        transform(col("cvec"), x => bround(x.cast("double") * 1024).cast("long"))
          .as("cq"))
    val pts = graft.similarity.KMeansExact.quantize(vecsDf(vs))
    val got = graft.similarity.KMeansExact.assignIds(pts, cents)
      .select("id", "cid").collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    val ref = pts.crossJoin(broadcast(cents))
      .withColumn("d", graft.functions.VectorExpressions
        .intVecSqDist(col("q"), col("cq")))
      .groupBy(col("id"))
      .agg(min(struct(col("d"), col("cid"))).as("best"))
      .select(col("id"), col("best.cid").as("cid"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(got.toSeq == ref.toSeq)
    // ties must exist for this test to prove anything: with duplicated
    // centroid vectors every best distance has two candidate cids
    assert(got.forall(_._2 < 3), "tie rule violated: a duplicate-cid (>=3) won")
  }

  test("pq encodePerSub equals the subspaceSplit+join+min(struct) chain " +
       "incl. code ties") {
    val vs = randomVecs(300, 16, seed = 11)
    val df = vecsDf(vs)
    val cb0 = graft.similarity.Pq.seedCodebook(df, dims = 16, m = 4, k = 6)
    // duplicate codewords under higher code ids force exact ties
    val cb = cb0.unionByName(cb0.withColumn("code", col("code") + 6))
    val got = graft.similarity.Pq.encodePerSub(df, cb, dims = 16, m = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    val ref = graft.similarity.Pq.subspaceSplit(
        graft.similarity.KMeansExact.quantize(df), "q", 16, 4, keep = Seq("id"))
      .join(broadcast(cb), Seq("sub"))
      .withColumn("d", graft.functions.VectorExpressions
        .intVecSqDist(col("subq"), col("cq")))
      .groupBy(col("id"), col("sub"))
      .agg(min(struct(col("d"), col("code"))).as("best"))
      .select(col("id"), col("sub"), col("best.code").as("code"),
        col("best.d").as("d"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == ref.toSeq)
    assert(got.forall(_._3 < 6), "tie rule violated: a duplicate code (>=6) won")
  }

  test("ivfpq encode equals the assignResiduals+subspaceSplit+join+" +
       "min(struct) chain") {
    val vs = randomVecs(300, 16, seed = 13)
    val df = vecsDf(vs)
    val cents = graft.similarity.IvfPq.seedCentroids(df, nCells = 4)
    val cb = graft.similarity.IvfPq.residualCodebook(df, cents, dims = 16,
      m = 4, seedFrom = 4)
    val got = graft.similarity.IvfPq.encode(df, cents, cb, dims = 16, m = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .sortBy(t => (t._1, t._3))
    val ref = graft.similarity.Pq.subspaceSplit(
        graft.similarity.IvfPq.assignResiduals(df, cents), "r", 16, 4,
        keep = Seq("id", "cell"))
      .join(broadcast(cb), Seq("sub"))
      .withColumn("d", graft.functions.VectorExpressions
        .intVecSqDist(col("subq"), col("cq")))
      .groupBy(col("id"), col("cell"), col("sub"))
      .agg(min(struct(col("d"), col("code"))).as("best"))
      .select(col("id"), col("cell"), col("sub"), col("best.code").as("code"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .sortBy(t => (t._1, t._3))
    assert(got.toSeq == ref.toSeq)
  }

  test("pq encode folds code_str/recon_err per row identically to the " +
       "grouped formulation") {
    val vs = randomVecs(200, 16, seed = 17)
    val df = vecsDf(vs)
    val cb = graft.similarity.Pq.seedCodebook(df, dims = 16, m = 4, k = 6)
    val got = graft.similarity.Pq.encode(df, cb, dims = 16, m = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    val ref = graft.similarity.Pq.encodePerSub(df, cb, dims = 16, m = 4)
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("code")))).as("sc"),
        sum(col("d")).as("recon_err"))
      .select(col("id").as("vec_id"),
        array_join(transform(col("sc"), x => x.getField("code").cast("string")),
          "-").as("code_str"),
        col("recon_err"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.toSeq == ref.toSeq)
  }

  test("collectModel refuses an id outside the int range instead of wrapping it") {
    val model = Seq((1L, Seq(0L, 1L)), (2147483648L, Seq(2L, 3L))).toDF("cid", "cq")
    val e = intercept[IllegalArgumentException](
      ModelArgmin.collectModel(model, "cid", "cq"))
    assert(e.getMessage.contains("model column cid holds 2147483648"), e.getMessage)
  }

  test("quantizeVec rejects a non-float array at analysis, naming the expected type") {
    val df = Seq((1L, Seq(0.5, 1.0))).toDF("id", "vec")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      df.select(ModelArgmin.quantizeVec(col("vec"))))
    assert(e.getMessage.contains("needs an array<float> column, got array<double>"),
      e.getMessage)
  }
}
