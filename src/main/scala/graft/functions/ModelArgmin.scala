package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Model-as-literal argmin expressions for the k-means / PQ / IVF+PQ
  * family.
  *
  * The r14 plans showed the assignment/encode operators paying a
  * corpus-scale `crossJoin(broadcast(model)) → groupBy(id) →
  * min(struct(d, cid))` per model pass: `min` over a struct cannot
  * hash-aggregate (the buffer is not mutable fixed-width), so every
  * assignment planned as Sort + SortAggregate + Exchange + Sort +
  * SortAggregate over n·k exploded rows. But the model side of each of
  * these joins is k rows by contract (the scaladocs already pin it
  * broadcast-small, and [[graft.similarity.IvfPq.searchStored]] already
  * collects the probed cells the same way), so the whole pass is really
  * a per-row function of the vector — these expressions take the model
  * as a plan literal (the [[QuantLshBucket]] planes precedent) and
  * compute the argmin in one codegen'd integer loop: zero exchanges,
  * zero sorts, zero row explosion, and the n·k distance arithmetic that
  * remains is the same arithmetic [[IntVecSqDist]] did, in the same
  * order.
  *
  * Tie semantics are preserved EXACTLY: candidates are iterated in
  * ascending id/code order with a strict `<` update, which is the
  * `min(struct(d, cid))` rule — smallest distance, then lowest id.
  * Distances accumulate in longs over the same `min(length)` element
  * window as [[IntVecSqDist]], so every value is bit-identical to the
  * join formulation and the DuckDB oracles replay unchanged.
  */
object ModelArgmin {

  /** Column wrapper: codegen'd scale-1024 half-even quantization
    * (array<float> → array<long>), bit-identical to
    * `transform(vec, x => bround(x.cast(double) * 1024).cast(long))`. */
  def quantizeVec(vec: Column): Column =
    Bridge.column(QuantizeVec(Bridge.expression(vec)))

  /** Column wrapper: argmin centroid id over a literal model (ties to
    * the lower id). `model` must be sorted ascending by id. */
  def quantArgminId(q: Column, ids: Seq[Int], cands: Seq[Seq[Long]]): Column =
    Bridge.column(QuantArgminId(Bridge.expression(q), ids, cands))

  /** Column wrapper: per-subspace PQ encode against a literal codebook —
    * array<struct<sub:int, code:int, d:long>>, one entry per subspace. */
  def pqEncodeVec(q: Column, subdim: Int, codeIds: Seq[Seq[Int]],
                  cbs: Seq[Seq[Seq[Long]]]): Column =
    Bridge.column(PqEncodeVec(Bridge.expression(q), subdim, codeIds, cbs))

  /** Column wrapper: fused IVF cell assignment + residual PQ encode —
    * array<struct<cell:int, sub:int, code:int>>, one entry per subspace
    * (the cell repeats per entry exactly as the exploded rows repeat it). */
  def ivfPqEncodeVec(q: Column, cells: Seq[Int], cents: Seq[Seq[Long]],
                     subdim: Int, codeIds: Seq[Seq[Int]],
                     cbs: Seq[Seq[Seq[Long]]]): Column =
    Bridge.column(IvfPqEncodeVec(Bridge.expression(q), cells, cents,
      subdim, codeIds, cbs))

  /** Column wrapper: exact-cosine top-k (k ≤ 2) against literal
    * centroids — array<struct<cid:long, cos:double>>, rank order
    * (cos desc, cid asc), Q9Dot arithmetic bit-for-bit. */
  def q9CosTop(vec: Column, cids: Seq[Long], cents: Seq[Seq[Float]],
               cnrms: Seq[Double], k: Int): Column =
    Bridge.column(Q9CosTopCents(Bridge.expression(vec), cids, cents, cnrms, k))

  /** A model id collected as long, refused unless it fits in an int: an
    * `as int` cast wraps an id >= 2^31 silently with ANSI off, and fails
    * without naming the column with ANSI on. */
  private def intId(v: Long, column: String): Int = {
    require(v.isValidInt, s"model column $column holds $v, outside the int range")
    v.toInt
  }

  /** Collect a (id, vec) model DataFrame to sorted parallel arrays — the
    * bounded driver-scale contract point shared by every argmin caller. */
  def collectModel(df: org.apache.spark.sql.DataFrame, idCol: String,
                   vecCol: String): (Seq[Int], Seq[Seq[Long]]) = {
    val rows = df.selectExpr(s"cast($idCol as long)", vecCol).collect()
      .map(r => (intId(r.getLong(0), idCol), r.getSeq[Long](1).toIndexedSeq))
      .sortBy(_._1).toIndexedSeq
    require(rows.nonEmpty, s"empty model frame ($idCol, $vecCol)")
    (rows.map(_._1), rows.map(_._2))
  }

  /** Collect a (sub, code, cq) codebook DataFrame to per-sub sorted
    * parallel arrays; subs must be exactly 0..m-1 (the subspaceSplit
    * contract — fail loudly on a malformed codebook). */
  def collectCodebook(df: org.apache.spark.sql.DataFrame, m: Int)
      : (Seq[Seq[Int]], Seq[Seq[Seq[Long]]]) = {
    val bySub = df.selectExpr("cast(sub as long)", "cast(code as long)", "cq")
      .collect()
      .map(r => (intId(r.getLong(0), "sub"), intId(r.getLong(1), "code"),
        r.getSeq[Long](2).toIndexedSeq))
      .groupBy(_._1)
    require(bySub.keySet == (0 until m).toSet,
      s"codebook subs ${bySub.keySet.toSeq.sorted} != 0..${m - 1}")
    val perSub = (0 until m).map(s => bySub(s).sortBy(_._2).toIndexedSeq)
    (perSub.map(_.map(_._2)), perSub.map(_.map(_._3)))
  }
}

/** Scale-1024 half-even quantization of a float vector as one codegen'd
  * loop. Replaces the interpreted `transform` HOF (allocates a lambda
  * frame per element and falls out of whole-stage codegen) on the hot
  * path every assignment/encode query takes. rint == bround: both are
  * IEEE round-half-even on the exact double x·1024 (1024 is a power of
  * two, the product is exact). Null elements pass through as nulls,
  * matching `transform`. Any input but `array<float>` fails at analysis
  * (the kernel reads `getFloat`). */
case class QuantizeVec(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"quantize_vec needs an array<float> column, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(LongType,
    child.dataType.asInstanceOf[ArrayType].containsNull)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = v.isNullAt(i); i += 1 }
    if (!hasNull) {
      val out = new Array[Long](n)
      i = 0
      while (i < n) {
        out(i) = Math.rint(v.getFloat(i).toDouble * 1024.0).toLong
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        if (!v.isNullAt(i))
          out(i) = Math.rint(v.getFloat(i).toDouble * 1024.0).toLong
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val hasNull = ctx.freshName("hasNull")
      val o = ctx.freshName("o")
      val j = ctx.freshName("j")
      s"""
         |int $n = $v.numElements();
         |boolean $hasNull = false;
         |long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($v.isNullAt($i)) { $hasNull = true; break; }
         |  $out[$i] = (long) java.lang.Math.rint((double) $v.getFloat($i) * 1024.0);
         |}
         |if (!$hasNull) {
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         |} else {
         |  Object[] $o = new Object[$n];
         |  for (int $j = 0; $j < $n; $j++) {
         |    if (!$v.isNullAt($j)) {
         |      $o[$j] = java.lang.Long.valueOf((long) java.lang.Math.rint((double) $v.getFloat($j) * 1024.0));
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($o);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Argmin centroid id of an integer-quantized vector over a literal
  * model: one codegen'd loop over k·dims longs, ties to the lower id
  * (`ids` sorted ascending + strict `<` — the min(struct(d, cid)) rule).
  * Per-candidate distance uses the [[IntVecSqDist]] min-length window. */
case class QuantArgminId(child: Expression, ids: Seq[Int],
                         cands: Seq[Seq[Long]]) extends UnaryExpression {

  require(ids.nonEmpty && ids.length == cands.length,
    s"model mismatch: ${ids.length} ids vs ${cands.length} vectors")

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  @transient private lazy val idArr: Array[Int] = ids.toArray
  @transient private lazy val candArr: Array[Array[Long]] =
    cands.map(_.toArray).toArray

  override protected def nullSafeEval(input: Any): Any = {
    val q = input.asInstanceOf[ArrayData]
    val qn = q.numElements()
    var bestD = Long.MaxValue
    var bestId = idArr(0)
    var j = 0
    while (j < candArr.length) {
      val c = candArr(j)
      val n = math.min(qn, c.length)
      var s = 0L
      var i = 0
      while (i < n) {
        val d = q.getLong(i) - c(i)
        s += d * d
        i += 1
      }
      if (s < bestD) { bestD = s; bestId = idArr(j) }
      j += 1
    }
    bestId
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, q => {
      val idsRef = ctx.addReferenceObj("ids", idArr, "int[]")
      val candsRef = ctx.addReferenceObj("cands", candArr, "long[][]")
      val qn = ctx.freshName("qn")
      val bestD = ctx.freshName("bestD")
      val bestId = ctx.freshName("bestId")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |int $qn = $q.numElements();
         |long $bestD = Long.MAX_VALUE;
         |int $bestId = $idsRef[0];
         |for (int $j = 0; $j < $candsRef.length; $j++) {
         |  long[] $c = $candsRef[$j];
         |  int $n = java.lang.Math.min($qn, $c.length);
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $d = $q.getLong($i) - $c[$i];
         |    $s += $d * $d;
         |  }
         |  if ($s < $bestD) { $bestD = $s; $bestId = $idsRef[$j]; }
         |}
         |${ev.value} = $bestId;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-subspace PQ encode of an integer-quantized vector against a
  * literal codebook: array<struct<sub, code, d>>, one entry per
  * subspace, code ties to the lower id, d the exact integer squared
  * distance — element-for-element what the subspaceSplit → broadcast
  * join → min(struct(d, code)) chain produced, with the n·m exploded
  * rows and the SortAggregate gone. */
case class PqEncodeVec(child: Expression, subdim: Int,
                       codeIds: Seq[Seq[Int]], cbs: Seq[Seq[Seq[Long]]])
    extends UnaryExpression {

  require(subdim > 0 && cbs.nonEmpty && codeIds.length == cbs.length &&
    codeIds.zip(cbs).forall { case (a, b) => a.nonEmpty && a.length == b.length })

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sub", IntegerType, nullable = false),
    StructField("code", IntegerType, nullable = false),
    StructField("d", LongType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true

  @transient private lazy val codeArr: Array[Array[Int]] =
    codeIds.map(_.toArray).toArray
  @transient private lazy val cbArr: Array[Array[Array[Long]]] =
    cbs.map(_.map(_.toArray).toArray).toArray

  override protected def nullSafeEval(input: Any): Any = {
    val q = input.asInstanceOf[ArrayData]
    val qn = q.numElements()
    val m = cbArr.length
    val out = new Array[Any](m)
    var sub = 0
    while (sub < m) {
      val base = sub * subdim
      val cb = cbArr(sub)
      var bestD = Long.MaxValue
      var bestCode = codeArr(sub)(0)
      var j = 0
      while (j < cb.length) {
        val c = cb(j)
        var s = 0L
        var i = 0
        while (i < subdim && i < c.length && base + i < qn) {
          val d = q.getLong(base + i) - c(i)
          s += d * d
          i += 1
        }
        if (s < bestD) { bestD = s; bestCode = codeArr(sub)(j) }
        j += 1
      }
      out(sub) = InternalRow(sub, bestCode, bestD)
      sub += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, q => {
      val codesRef = ctx.addReferenceObj("codeIds", codeArr, "int[][]")
      val cbRef = ctx.addReferenceObj("cbs", cbArr, "long[][][]")
      val qn = ctx.freshName("qn")
      val out = ctx.freshName("out")
      val sub = ctx.freshName("sub")
      val base = ctx.freshName("base")
      val cb = ctx.freshName("cb")
      val bestD = ctx.freshName("bestD")
      val bestCode = ctx.freshName("bestCode")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |int $qn = $q.numElements();
         |Object[] $out = new Object[$cbRef.length];
         |for (int $sub = 0; $sub < $cbRef.length; $sub++) {
         |  int $base = $sub * $subdim;
         |  long[][] $cb = $cbRef[$sub];
         |  long $bestD = Long.MAX_VALUE;
         |  int $bestCode = $codesRef[$sub][0];
         |  for (int $j = 0; $j < $cb.length; $j++) {
         |    long[] $c = $cb[$j];
         |    long $s = 0L;
         |    for (int $i = 0; $i < $subdim && $i < $c.length && $base + $i < $qn; $i++) {
         |      long $d = $q.getLong($base + $i) - $c[$i];
         |      $s += $d * $d;
         |    }
         |    if ($s < $bestD) { $bestD = $s; $bestCode = $codesRef[$sub][$j]; }
         |  }
         |  $out[$sub] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{java.lang.Integer.valueOf($sub), java.lang.Integer.valueOf($bestCode), java.lang.Long.valueOf($bestD)});
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused IVF cell assignment + residual PQ encode of an integer-
  * quantized vector against literal models: argmin cell (ties to the
  * lower cell id), residual against that centroid computed inline, then
  * per-subspace codeword argmin on the residual (ties to the lower
  * code). array<struct<cell, sub, code>> — exactly the rows
  * assignResiduals → subspaceSplit → join → min(struct) produced, in
  * ONE map-side loop. */
case class IvfPqEncodeVec(child: Expression, cells: Seq[Int],
                          cents: Seq[Seq[Long]], subdim: Int,
                          codeIds: Seq[Seq[Int]], cbs: Seq[Seq[Seq[Long]]])
    extends UnaryExpression {

  require(cells.nonEmpty && cells.length == cents.length && subdim > 0 &&
    cbs.nonEmpty && codeIds.length == cbs.length &&
    codeIds.zip(cbs).forall { case (a, b) => a.nonEmpty && a.length == b.length })

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("sub", IntegerType, nullable = false),
    StructField("code", IntegerType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true

  @transient private lazy val cellArr: Array[Int] = cells.toArray
  @transient private lazy val centArr: Array[Array[Long]] =
    cents.map(_.toArray).toArray
  @transient private lazy val codeArr: Array[Array[Int]] =
    codeIds.map(_.toArray).toArray
  @transient private lazy val cbArr: Array[Array[Array[Long]]] =
    cbs.map(_.map(_.toArray).toArray).toArray

  override protected def nullSafeEval(input: Any): Any = {
    val q = input.asInstanceOf[ArrayData]
    val qn = q.numElements()
    // argmin cell
    var bestD = Long.MaxValue
    var bestJ = 0
    var j = 0
    while (j < centArr.length) {
      val c = centArr(j)
      val n = math.min(qn, c.length)
      var s = 0L
      var i = 0
      while (i < n) {
        val d = q.getLong(i) - c(i)
        s += d * d
        i += 1
      }
      if (s < bestD) { bestD = s; bestJ = j }
      j += 1
    }
    val cell = cellArr(bestJ)
    val cent = centArr(bestJ)
    // per-sub codeword argmin on the residual q - cent, computed inline
    val m = cbArr.length
    val out = new Array[Any](m)
    var sub = 0
    while (sub < m) {
      val base = sub * subdim
      val cb = cbArr(sub)
      var bd = Long.MaxValue
      var bc = codeArr(sub)(0)
      var k = 0
      while (k < cb.length) {
        val c = cb(k)
        var s = 0L
        var i = 0
        while (i < subdim && i < c.length && base + i < qn &&
               base + i < cent.length) {
          val d = (q.getLong(base + i) - cent(base + i)) - c(i)
          s += d * d
          i += 1
        }
        if (s < bd) { bd = s; bc = codeArr(sub)(k) }
        k += 1
      }
      out(sub) = InternalRow(cell, sub, bc)
      sub += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, q => {
      val cellsRef = ctx.addReferenceObj("cells", cellArr, "int[]")
      val centsRef = ctx.addReferenceObj("cents", centArr, "long[][]")
      val codesRef = ctx.addReferenceObj("codeIds", codeArr, "int[][]")
      val cbRef = ctx.addReferenceObj("cbs", cbArr, "long[][][]")
      val qn = ctx.freshName("qn")
      val bestD = ctx.freshName("bestD")
      val bestJ = ctx.freshName("bestJ")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val cell = ctx.freshName("cell")
      val cent = ctx.freshName("cent")
      val out = ctx.freshName("out")
      val sub = ctx.freshName("sub")
      val base = ctx.freshName("base")
      val cb = ctx.freshName("cb")
      val bd = ctx.freshName("bd")
      val bc = ctx.freshName("bc")
      val k = ctx.freshName("k")
      val c2 = ctx.freshName("c2")
      val s2 = ctx.freshName("s2")
      val i2 = ctx.freshName("i2")
      val d2 = ctx.freshName("d2")
      s"""
         |int $qn = $q.numElements();
         |long $bestD = Long.MAX_VALUE;
         |int $bestJ = 0;
         |for (int $j = 0; $j < $centsRef.length; $j++) {
         |  long[] $c = $centsRef[$j];
         |  int $n = java.lang.Math.min($qn, $c.length);
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $d = $q.getLong($i) - $c[$i];
         |    $s += $d * $d;
         |  }
         |  if ($s < $bestD) { $bestD = $s; $bestJ = $j; }
         |}
         |int $cell = $cellsRef[$bestJ];
         |long[] $cent = $centsRef[$bestJ];
         |Object[] $out = new Object[$cbRef.length];
         |for (int $sub = 0; $sub < $cbRef.length; $sub++) {
         |  int $base = $sub * $subdim;
         |  long[][] $cb = $cbRef[$sub];
         |  long $bd = Long.MAX_VALUE;
         |  int $bc = $codesRef[$sub][0];
         |  for (int $k = 0; $k < $cb.length; $k++) {
         |    long[] $c2 = $cb[$k];
         |    long $s2 = 0L;
         |    for (int $i2 = 0; $i2 < $subdim && $i2 < $c2.length
         |         && $base + $i2 < $qn && $base + $i2 < $cent.length; $i2++) {
         |      long $d2 = ($q.getLong($base + $i2) - $cent[$base + $i2]) - $c2[$i2];
         |      $s2 += $d2 * $d2;
         |    }
         |    if ($s2 < $bd) { $bd = $s2; $bc = $codesRef[$sub][$k]; }
         |  }
         |  $out[$sub] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{java.lang.Integer.valueOf($cell), java.lang.Integer.valueOf($sub), java.lang.Integer.valueOf($bc)});
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Exact-cosine top-k (k ≤ 2) of a float vector against literal
  * centroids — the e04/e16 assignment as ONE codegen'd loop.
  *
  * Arithmetic is [[Q9Dot]]'s, element for element: both sides quantize to
  * rint(x·1e9) (the centroid side pre-quantized at plan-build), products
  * split hi/lo for exact 128-bit accumulation, the closing is the same
  * correctly-rounded double, and the cosine closes as
  * dot / (sqrt(selfdot) · cnrm) with `cnrm` COLLECTED from the same Spark
  * expression the join formulation broadcast (sqrt(dotExact(c, c))) — so
  * every cosine is bit-identical to the crossJoin + window + exact-rescore
  * chain it replaces. Ranking is (cos desc, cid asc) with Spark's
  * NaN-greatest double ordering, via ascending-cid iteration + strict
  * rank-before — the max(struct)/row_number tie rule.
  *
  * The replaced shape paid an n·k nested-loop join, a window exchange +
  * sort over the n·k scored rows, and a final n-row SortAggregate; this
  * is a pure map. The fast-prefilter band (FastCosEps) existed to bound
  * the interpreted-decimal rescore count — pointless once the exact dot
  * is a codegen'd integer loop: scoring all k centroids exactly here is
  * cheaper than the fast pass alone was. */
case class Q9CosTopCents(child: Expression, cids: Seq[Long],
                         cents: Seq[Seq[Float]], cnrms: Seq[Double], k: Int)
    extends UnaryExpression {

  require(k >= 1 && k <= 2 && cids.length >= k &&
    cids.length == cents.length && cids.length == cnrms.length,
    s"model mismatch: ${cids.length} cids, ${cents.length} cents, " +
      s"${cnrms.length} cnrms, k=$k")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true

  @transient private lazy val cidArr: Array[Long] = cids.toArray
  @transient private lazy val qcArr: Array[Array[Long]] =
    cents.map(_.map(f => Math.rint(f.toDouble * 1e9).toLong).toArray).toArray
  @transient private lazy val cnrmArr: Array[Double] = cnrms.toArray

  // Spark's descending double ordering: NaN ranks before (above) any
  // non-NaN; equal values keep the earlier (lower-cid) entry.
  private def rankBefore(a: Double, b: Double): Boolean =
    (java.lang.Double.isNaN(a) && !java.lang.Double.isNaN(b)) ||
      (!java.lang.Double.isNaN(a) && !java.lang.Double.isNaN(b) && a > b)

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val va = new Array[Long](n)
    var i = 0
    while (i < n) {
      va(i) = Math.rint(v.getFloat(i).toDouble * 1e9).toLong
      i += 1
    }
    var sHi = 0L; var sLo = 0L
    i = 0
    while (i < n) {
      val p = va(i) * va(i)
      sHi += (p >> 32); sLo += (p & 0xffffffffL)
      i += 1
    }
    sHi += (sLo >> 32); sLo &= 0xffffffffL
    val nrm = Math.sqrt(sHi.toDouble * 4294967296.0 + sLo.toDouble)
    var c1 = 0.0; var id1 = 0L; var c2 = 0.0; var id2 = 0L; var m = 0
    var j = 0
    while (j < qcArr.length) {
      val qc = qcArr(j)
      val d = math.min(n, qc.length)
      var hi = 0L; var lo = 0L
      i = 0
      while (i < d) {
        val p = va(i) * qc(i)
        hi += (p >> 32); lo += (p & 0xffffffffL)
        i += 1
      }
      hi += (lo >> 32); lo &= 0xffffffffL
      val dot = hi.toDouble * 4294967296.0 + lo.toDouble
      val cos = dot / (nrm * cnrmArr(j))
      if (m == 0) { c1 = cos; id1 = cidArr(j); m = 1 }
      else if (rankBefore(cos, c1)) {
        if (k == 2) { c2 = c1; id2 = id1; m = 2 }
        c1 = cos; id1 = cidArr(j)
      } else if (k == 2 && (m < 2 || rankBefore(cos, c2))) {
        c2 = cos; id2 = cidArr(j); m = 2
      }
      j += 1
    }
    val out = new Array[Any](k)
    out(0) = InternalRow(id1, c1)
    if (k == 2) out(1) = InternalRow(id2, c2)
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cidsRef = ctx.addReferenceObj("cids", cidArr, "long[]")
      val qcRef = ctx.addReferenceObj("qc", qcArr, "long[][]")
      val cnrmRef = ctx.addReferenceObj("cnrms", cnrmArr, "double[]")
      val n = ctx.freshName("n")
      val va = ctx.freshName("va")
      val i = ctx.freshName("i")
      val sHi = ctx.freshName("sHi")
      val sLo = ctx.freshName("sLo")
      val p = ctx.freshName("p")
      val nrm = ctx.freshName("nrm")
      val c1 = ctx.freshName("c1")
      val id1 = ctx.freshName("id1")
      val c2 = ctx.freshName("c2")
      val id2 = ctx.freshName("id2")
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val qc = ctx.freshName("qcj")
      val d = ctx.freshName("d")
      val hi = ctx.freshName("hi")
      val lo = ctx.freshName("lo")
      val i2 = ctx.freshName("i2")
      val p2 = ctx.freshName("p2")
      val dot = ctx.freshName("dot")
      val cos = ctx.freshName("cos")
      val out = ctx.freshName("out")
      // rankBefore(a, b) inlined: NaN ranks above any non-NaN; strict >
      def rb(a: String, b: String): String =
        s"((Double.isNaN($a) && !Double.isNaN($b)) || " +
          s"(!Double.isNaN($a) && !Double.isNaN($b) && $a > $b))"
      val top2 =
        if (k == 2)
          s"""
             |  else if ($m == 0) { $c1 = $cos; $id1 = $cidsRef[$j]; $m = 1; }
             |  else if (${rb(cos, c1)}) {
             |    $c2 = $c1; $id2 = $id1; $c1 = $cos; $id1 = $cidsRef[$j]; $m = 2;
             |  } else if ($m < 2 || ${rb(cos, c2)}) {
             |    $c2 = $cos; $id2 = $cidsRef[$j]; $m = 2;
             |  }
           """.stripMargin
        else
          s"""
             |  else if ($m == 0 || ${rb(cos, c1)}) { $c1 = $cos; $id1 = $cidsRef[$j]; $m = 1; }
           """.stripMargin
      val emit =
        if (k == 2)
          s"""
             |Object[] $out = new Object[2];
             |$out[0] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
             |  new Object[]{java.lang.Long.valueOf($id1), java.lang.Double.valueOf($c1)});
             |$out[1] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
             |  new Object[]{java.lang.Long.valueOf($id2), java.lang.Double.valueOf($c2)});
           """.stripMargin
        else
          s"""
             |Object[] $out = new Object[1];
             |$out[0] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
             |  new Object[]{java.lang.Long.valueOf($id1), java.lang.Double.valueOf($c1)});
           """.stripMargin
      s"""
         |int $n = $v.numElements();
         |long[] $va = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $va[$i] = (long) java.lang.Math.rint((double) $v.getFloat($i) * 1.0E9);
         |}
         |long $sHi = 0L; long $sLo = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $p = $va[$i] * $va[$i];
         |  $sHi += ($p >> 32); $sLo += ($p & 0xffffffffL);
         |}
         |$sHi += ($sLo >> 32); $sLo &= 0xffffffffL;
         |double $nrm = java.lang.Math.sqrt((double) $sHi * 4294967296.0 + (double) $sLo);
         |double $c1 = 0.0; long $id1 = 0L; double $c2 = 0.0; long $id2 = 0L; int $m = 0;
         |for (int $j = 0; $j < $qcRef.length; $j++) {
         |  long[] $qc = $qcRef[$j];
         |  int $d = java.lang.Math.min($n, $qc.length);
         |  long $hi = 0L; long $lo = 0L;
         |  for (int $i2 = 0; $i2 < $d; $i2++) {
         |    long $p2 = $va[$i2] * $qc[$i2];
         |    $hi += ($p2 >> 32); $lo += ($p2 & 0xffffffffL);
         |  }
         |  $hi += ($lo >> 32); $lo &= 0xffffffffL;
         |  double $dot = (double) $hi * 4294967296.0 + (double) $lo;
         |  double $cos = $dot / ($nrm * $cnrmRef[$j]);
         |  if (false) {}
         |  $top2
         |}
         |$emit
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
