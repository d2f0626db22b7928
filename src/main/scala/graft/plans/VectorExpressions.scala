package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, IntegerType, LongType, StructField, StructType}

/** Native Catalyst expression for the vector dot product over
  * `array<float>` / `array<double>` columns.
  *
  * The DataFrame-API formulation (`aggregate(zip_with(a, b, _*_), 0d, _+_)`)
  * is a higher-order function: Spark evaluates HOFs interpreted (closure
  * call + boxing per element) and they fence off whole-stage codegen.
  * This expression generates a tight primitive loop instead — the §3
  * "custom Expression where built-ins can't express it efficiently" path —
  * and is the hot inner kernel of every cosine-similarity operator.
  *
  * Semantics are EXACTLY the HOF fold's: each element is widened to double,
  * products are accumulated left-to-right from index 0, so results are
  * bit-identical to both the HOF version and the DuckDB oracle's
  * `list_sum(list_transform(...))`.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isVec(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(left.dataType) && isVec(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float|double> inputs, got ${left.dataType} / ${right.dataType}")

  override def dataType: DataType = DoubleType

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = isFloat(left)
    val rf = isFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      def get(arr: String, e: Expression): String =
        if (isFloat(e)) s"((double) $arr.getFloat($i))" else s"$arr.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${get(a, left)} * ${get(b, right)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Packed random-hyperplane signature of a vector: bit k of the result is
  * `sign(dot(vec, planes(k)))`, packed little-endian into `array<long>`
  * (`ceil(nBits/64)` words).
  *
  * This is the LSH sketching kernel: one pass over the vector computes ALL
  * bucket and ranking bits. The naive Column formulation —
  * `when(dot(vec, lit(plane_k)) >= 0, 1L << k)` summed over k — materializes
  * one expression tree per plane; at 240 planes that's 240 generated loops
  * and a Janino compile-time blowup (the measured §3 pitfall). Here the
  * plane matrix rides along as ONE constant reference object and the
  * generated code is two nested primitive loops, so signature width can
  * scale with log(corpus) freely.
  */
case class HyperplaneSig(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {

  private def nBits: Int = planes.length
  private def nWords: Int = (nBits + 63) / 64

  private def isVec(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hyperplane_sig expects array<float|double> input, got ${child.dataType}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val out = new Array[Long](nWords)
    var b = 0
    while (b < nBits) {
      val p = planes(b)
      val n = math.min(x.numElements(), p.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += (if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)) * p(i)
        i += 1
      }
      if (acc >= 0) out(b >>> 6) |= 1L << (b & 63)
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val p = ctx.freshName("p")
      val acc = ctx.freshName("acc")
      val get = if (isFloat) s"((double) $v.getFloat($i))" else s"$v.getDouble($i)"
      s"""
         |long[] $out = new long[$nWords];
         |for (int $b = 0; $b < $nBits; $b++) {
         |  double[] $p = $planesRef[$b];
         |  int $n = java.lang.Math.min($v.numElements(), $p.length);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $get * $p[$i];
         |  }
         |  if ($acc >= 0) $out[$b >>> 6] |= 1L << ($b & 63);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** BEST-FLIP multi-probe companion of [[HyperplaneSig]]: for each of the
  * `planes.length / nPlanes` tables, the table's B-bit bucket with its
  * LEAST-CONFIDENT bit flipped — bucket XOR (1 << argmin_b |dot(vec,
  * plane_b)|), ties toward the lower bit (deterministic). This is
  * classic query-directed multi-probe (Lv et al., VLDB'07, the 1-probe
  * case): the plane with the smallest |margin| is the one most likely to
  * disagree between two near vectors, so probing that single flipped
  * bucket roughly doubles per-table capture for ~2× candidate volume —
  * against B extra buckets for full 1-bit probing. Same deterministic
  * plane matrix as the signature pass (one constant reference object,
  * two primitive loops, whole-stage codegen). Output: `array<long>` of
  * nTables × nFlips flip buckets — the first nTables entries are the
  * best-flip buckets (index-aligned with the unpacked lane array), and
  * with `nFlips = 2` (round 13, the recall-over-cost probe depth) the
  * next nTables entries flip the SECOND-least-confident bit instead —
  * probing the two most plausible 1-bit neighborhoods per table. */
case class HyperplaneFlips(child: Expression, planes: Array[Array[Double]],
    nPlanes: Int, nFlips: Int = 1) extends UnaryExpression {

  require(nPlanes >= 1 && planes.length % nPlanes == 0,
    s"planes length ${planes.length} must be a multiple of nPlanes=$nPlanes")
  require(nFlips == 1 || (nFlips == 2 && nPlanes >= 2),
    s"nFlips must be 1 or 2 (with >=2 planes), got $nFlips at nPlanes=$nPlanes")
  private def nTables: Int = planes.length / nPlanes

  private def isVec(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hyperplane_flips expects array<float|double> input, got ${child.dataType}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val out = new Array[Long](nTables * nFlips)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var weakBit = 0
      var weakAbs = Double.MaxValue
      var weak2Bit = 0
      var weak2Abs = Double.MaxValue
      var b = 0
      while (b < nPlanes) {
        val p = planes(t * nPlanes + b)
        val n = math.min(x.numElements(), p.length)
        var acc = 0.0
        var i = 0
        while (i < n) {
          acc += (if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)) * p(i)
          i += 1
        }
        if (acc >= 0) bucket |= 1L << b
        val a = math.abs(acc)
        if (a < weakAbs) {
          weak2Abs = weakAbs; weak2Bit = weakBit
          weakAbs = a; weakBit = b
        } else if (a < weak2Abs) { weak2Abs = a; weak2Bit = b }
        b += 1
      }
      out(t) = bucket ^ (1L << weakBit)
      if (nFlips == 2) out(nTables + t) = bucket ^ (1L << weak2Bit)
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val p = ctx.freshName("p")
      val acc = ctx.freshName("acc")
      val bucket = ctx.freshName("bucket")
      val weakBit = ctx.freshName("weakBit")
      val weakAbs = ctx.freshName("weakAbs")
      val a = ctx.freshName("a")
      val weak2Bit = ctx.freshName("weak2Bit")
      val weak2Abs = ctx.freshName("weak2Abs")
      val get = if (isFloat) s"((double) $v.getFloat($i))" else s"$v.getDouble($i)"
      val secondOut =
        if (nFlips == 2) s"$out[$nTables + $t] = $bucket ^ (1L << $weak2Bit);" else ""
      s"""
         |long[] $out = new long[${nTables * nFlips}];
         |for (int $t = 0; $t < $nTables; $t++) {
         |  long $bucket = 0L;
         |  int $weakBit = 0;
         |  double $weakAbs = Double.MAX_VALUE;
         |  int $weak2Bit = 0;
         |  double $weak2Abs = Double.MAX_VALUE;
         |  for (int $b = 0; $b < $nPlanes; $b++) {
         |    double[] $p = $planesRef[$t * $nPlanes + $b];
         |    int $n = java.lang.Math.min($v.numElements(), $p.length);
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $acc += $get * $p[$i];
         |    }
         |    if ($acc >= 0) $bucket |= 1L << $b;
         |    double $a = java.lang.Math.abs($acc);
         |    if ($a < $weakAbs) {
         |      $weak2Abs = $weakAbs; $weak2Bit = $weakBit;
         |      $weakAbs = $a; $weakBit = $b;
         |    } else if ($a < $weak2Abs) { $weak2Abs = $a; $weak2Bit = $b; }
         |  }
         |  $out[$t] = $bucket ^ (1L << $weakBit);
         |  $secondOut
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Multi-probe variant of [[ElectLane]]: the probe side reaches a posted
  * bucket either exactly (`slanes(t) == dlanes(t)`) or through its
  * best-flip probe (`sflips(t) == dlanes(t)`, see [[HyperplaneFlips]]).
  * When `sflips` carries 2×nTables entries (the nFlips=2 probe depth),
  * the second-flip bucket `sflips(nTables + t)` is a third way to reach
  * table t — nTables is taken from `dlanes`' length, so the same kernel
  * serves both depths. Returns the smallest table index where any probe
  * matches AND the posted-side survival bit is set (−1 if none). A pair
  * generated by k probe rows across tables survives the `elect == t`
  * filter exactly once: per table at most ONE of the probes can equal
  * the posted bucket (the flips differ from the exact bucket and from
  * each other by construction — distinct flipped bits), and election is
  * deterministic across tables. */
case class ElectLaneMp(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  private def isLongVec(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongVec(first.dataType) && isLongVec(second.dataType) &&
        isLongVec(third.dataType) && fourth.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_elect_lane_mp expects (array<bigint>, array<bigint>, array<bigint>, bigint), " +
        s"got ${first.dataType} / ${second.dataType} / ${third.dataType} / ${fourth.dataType}")

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any = {
    val sl = a.asInstanceOf[ArrayData]
    val sf = b.asInstanceOf[ArrayData]
    val dl = c.asInstanceOf[ArrayData]
    val m = d.asInstanceOf[Long]
    val n = math.min(math.min(sl.numElements(), sf.numElements()), dl.numElements())
    val deep = sf.numElements() >= 2 * n // nFlips=2: second-flip entries present
    var i = 0
    var res = -1
    while (i < n && res < 0) {
      val dv = dl.getLong(i)
      if (((m >>> i) & 1L) == 1L &&
          (sl.getLong(i) == dv || sf.getLong(i) == dv ||
            (deep && sf.getLong(n + i) == dv))) res = i
      i += 1
    }
    res
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val res = ctx.freshName("res")
      val dv = ctx.freshName("dv")
      val deep = ctx.freshName("deep")
      s"""
         |int $n = java.lang.Math.min(java.lang.Math.min($a.numElements(),
         |  $b.numElements()), $c.numElements());
         |boolean $deep = $b.numElements() >= 2 * $n;
         |int $res = -1;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $dv = $c.getLong($i);
         |  if ((($d >>> $i) & 1L) == 1L &&
         |      ($a.getLong($i) == $dv || $b.getLong($i) == $dv ||
         |       ($deep && $b.getLong($n + $i) == $dv))) {
         |    $res = $i;
         |    break;
         |  }
         |}
         |${ev.value} = $res;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

/** Top-N nearest centroids of a vector by cosine: returns
  * `array<struct<cell:int, cos:double>>` of the `topN` best cells, cosine
  * descending, ties broken toward the LOWER cell index (deterministic).
  * `cents` must be L2-NORMALIZED rows (the builder normalizes), so
  * `cos = dot(v, c) / |v|` needs only the row vector's own norm, computed
  * in the same pass. Zero vectors score 0 against every cell.
  *
  * This is the IVF coarse-quantizer kernel the round-4 verdict asked for:
  * the K-struct-literal formulation (`sort_array(array(struct(dot(v,
  * lit(c1))...)))`) embeds K expression trees — Janino compile time and
  * codegen size grow with K, the measured §3 blowup — while here the
  * centroid matrix rides along as ONE constant reference object
  * (`ctx.addReferenceObj`, a broadcast-equivalent plan constant) and the
  * generated code is two primitive loops plus a topN insertion, so K can
  * scale to thousands of cells with CONSTANT compile time. Runtime is
  * K×Dim multiply-adds per row, fully inside whole-stage codegen, zero
  * exchanges. */
case class NearestCells(child: Expression, cents: Array[Array[Double]], topN: Int)
    extends UnaryExpression {

  require(topN >= 1, "topN must be >= 1")

  private def isVec(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_cells expects array<float|double> input, got ${child.dataType}")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("cell", IntegerType, nullable = false),
      StructField("cos", DoubleType, nullable = false))),
    containsNull = false)

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def k: Int = cents.length
  private def outN: Int = math.min(topN, k)

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    var vn = 0.0
    var i = 0
    val nd = x.numElements()
    while (i < nd) {
      val xv = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      vn += xv * xv
      i += 1
    }
    vn = math.sqrt(vn)
    val bestS = Array.fill(outN)(Double.NegativeInfinity)
    val bestI = new Array[Int](outN)
    var c = 0
    while (c < k) {
      val cent = cents(c)
      val n = math.min(nd, cent.length)
      var acc = 0.0
      var j = 0
      while (j < n) {
        acc += (if (isFloat) x.getFloat(j).toDouble else x.getDouble(j)) * cent(j)
        j += 1
      }
      val score = if (vn == 0.0) 0.0 else acc / vn
      // strict > : on ties the earlier (lower-index) cell keeps its slot
      var pos = outN
      while (pos > 0 && score > bestS(pos - 1)) pos -= 1
      if (pos < outN) {
        var m = outN - 1
        while (m > pos) { bestS(m) = bestS(m - 1); bestI(m) = bestI(m - 1); m -= 1 }
        bestS(pos) = score
        bestI(pos) = c
      }
      c += 1
    }
    val rows: Array[Any] = Array.tabulate(outN) { r =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](bestI(r), bestS(r)))
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val vn = ctx.freshName("vn")
      val nd = ctx.freshName("nd")
      val i = ctx.freshName("i")
      val bestS = ctx.freshName("bestS")
      val bestI = ctx.freshName("bestI")
      val c = ctx.freshName("c")
      val cent = ctx.freshName("cent")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val j = ctx.freshName("j")
      val score = ctx.freshName("score")
      val pos = ctx.freshName("pos")
      val m = ctx.freshName("m")
      val rows = ctx.freshName("rows")
      val r = ctx.freshName("r")
      def get(idx: String): String =
        if (isFloat) s"((double) $v.getFloat($idx))" else s"$v.getDouble($idx)"
      s"""
         |int $nd = $v.numElements();
         |double $vn = 0.0;
         |for (int $i = 0; $i < $nd; $i++) { $vn += ${get(i)} * ${get(i)}; }
         |$vn = java.lang.Math.sqrt($vn);
         |double[] $bestS = new double[$outN];
         |int[] $bestI = new int[$outN];
         |java.util.Arrays.fill($bestS, java.lang.Double.NEGATIVE_INFINITY);
         |for (int $c = 0; $c < $k; $c++) {
         |  double[] $cent = $centsRef[$c];
         |  int $n = java.lang.Math.min($nd, $cent.length);
         |  double $acc = 0.0;
         |  for (int $j = 0; $j < $n; $j++) { $acc += ${get(j)} * $cent[$j]; }
         |  double $score = ($vn == 0.0) ? 0.0 : $acc / $vn;
         |  int $pos = $outN;
         |  while ($pos > 0 && $score > $bestS[$pos - 1]) $pos--;
         |  if ($pos < $outN) {
         |    for (int $m = $outN - 1; $m > $pos; $m--) {
         |      $bestS[$m] = $bestS[$m - 1]; $bestI[$m] = $bestI[$m - 1];
         |    }
         |    $bestS[$pos] = $score;
         |    $bestI[$pos] = $c;
         |  }
         |}
         |Object[] $rows = new Object[$outN];
         |for (int $r = 0; $r < $outN; $r++) {
         |  $rows[$r] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{java.lang.Integer.valueOf($bestI[$r]), java.lang.Double.valueOf($bestS[$r])});
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($rows);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQ8 scalar quantization: `array<float|double>` → 1 signed byte per
  * dimension of the L2-NORMALIZED vector (`round(127 * v_i / |v|)`), as a
  * BINARY column.
  *
  * For unit vectors, `Int8Dot(q8(a), q8(b)) / 127²` approximates cos(a,b)
  * to ~±0.003 — sharp enough to rank near-neighbors whose cosines differ
  * by 0.01, where a few hundred LSH sign bits (σ≈0.09 in cosine units)
  * cannot. The quantized payload is DIM bytes (8× smaller than float32),
  * which is what makes carrying it through the candidate stream affordable
  * at 100 TB. Zero vectors quantize to all-zero bytes. */
case class QuantizeVec(child: Expression) extends UnaryExpression {

  private def isVec(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_quantize expects array<float|double> input, got ${child.dataType}")

  override def dataType: DataType = BinaryType

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) {
      val xi = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      ss += xi * xi
      i += 1
    }
    val inv = if (ss > 0) 127.0 / math.sqrt(ss) else 0.0
    val out = new Array[Byte](n)
    i = 0
    while (i < n) {
      val xi = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      out(i) = math.rint(xi * inv).toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val ss = ctx.freshName("ss")
      val inv = ctx.freshName("inv")
      val out = ctx.freshName("out")
      val xi = ctx.freshName("xi")
      val get = if (isFloat) s"((double) $v.getFloat($i))" else s"$v.getDouble($i)"
      s"""
         |int $n = $v.numElements();
         |double $ss = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $get;
         |  $ss += $xi * $xi;
         |}
         |double $inv = $ss > 0 ? 127.0 / java.lang.Math.sqrt($ss) : 0.0;
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = (byte) java.lang.Math.rint($get * $inv);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Integer dot product of two SQ8-quantized vectors (BINARY columns from
  * [[QuantizeVec]]): Σ aᵢ·bᵢ as INT. Monotone in approximate cosine for
  * normalized inputs, so shortlists rank on it directly. */
case class Int8Dot(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_int8_dot expects binary inputs, got ${left.dataType} / ${right.dataType}")

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    val n = math.min(x.length, y.length)
    var acc = 0
    var i = 0
    while (i < n) { acc += x(i) * y(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.length, $b.length);
         |int $acc = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a[$i] * $b[$i];
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact Jaccard similarity |a∩b| / |a∪b| of two SORTED-ascending
  * `array<long>` set encodings, as one merge pass.
  *
  * `size(array_intersect(a,b)) / size(array_union(a,b))` builds a hash set
  * per PAIR per operation (~2×|a∪b| inserts + probes, plus two array
  * materializations) — the dominant cost of the pairwise dedup operators.
  * Sorting each doc's hash set ONCE upstream (`sort_array` at set build)
  * lets every pair comparison be a linear merge with zero allocation.
  * Inputs are assumed deduplicated (set semantics), as produced by
  * `sort_array(collect_set(...))`. Returns null if either side is null;
  * two empty sets yield 0.0 (matching size(∩)/size(∪) = 0/0 → null guard:
  * the callers filter empty shingle sets upstream). */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isLongVec(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongVec(left.dataType) && isLongVec(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sorted_jaccard expects array<bigint> inputs, got ${left.dataType} / ${right.dataType}")

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var both = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { both += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    val union = nx + ny - both
    if (union == 0) 0.0 else both.toDouble / union
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val both = ctx.freshName("both")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val union = ctx.freshName("union")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0, $j = 0, $both = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $both++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; }
         |  else { $j++; }
         |}
         |int $union = $nx + $ny - $both;
         |${ev.value} = $union == 0 ? 0.0 : ((double) $both) / $union;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact CONTAINMENT |a∩b| / min(|a|,|b|) of two SORTED-ascending
  * `array<long>` set encodings — the asymmetric near-dup score: a short
  * document fully quoted inside a long one scores 1.0 here while its
  * Jaccard stays near |short|/|long|. Same zero-allocation merge pass as
  * [[SortedJaccard]]; two empty sets yield 0.0 (callers drop empty
  * shingle sets upstream). */
case class SortedContainment(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isLongVec(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongVec(left.dataType) && isLongVec(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sorted_containment expects array<bigint> inputs, got ${left.dataType} / ${right.dataType}")

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var both = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { both += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    val mn = math.min(nx, ny)
    if (mn == 0) 0.0 else both.toDouble / mn
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val both = ctx.freshName("both")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val mn = ctx.freshName("mn")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0, $j = 0, $both = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $both++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; }
         |  else { $j++; }
         |}
         |int $mn = $nx < $ny ? $nx : $ny;
         |${ev.value} = $mn == 0 ? 0.0 : ((double) $both) / $mn;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd |a ∩ b| over two SORTED array<long> sets (one merge pass,
  * the [[SortedContainment]] walk returning the raw COUNT) — the exact
  * confirm of the perceptual video lane: candidates come from a
  * df-windowed inverted frame-hash join, so the shared-hash count must
  * be recomputed from the FULL per-doc hash sets, not from join-row
  * counting (r17). */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isLongVec(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongVec(left.dataType) && isLongVec(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sorted_intersect_count expects array<bigint> inputs, got ${left.dataType} / ${right.dataType}")

  override def dataType: DataType = LongType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var both = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { both += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    both
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val both = ctx.freshName("both")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0, $j = 0;
         |long $both = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $both++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; }
         |  else { $j++; }
         |}
         |${ev.value} = $both;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Product-quantization ENCODER (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011): the L2-normalized input vector is
  * split into `M = books.length` contiguous subvectors and each subvector
  * is assigned to its nearest (squared-L2) centroid in that subspace's
  * codebook — `M × log₂(K)` bits per vector (8 bytes at M=8, K=16 vs 256
  * bytes of float32: the compression that lets 100 TB of embeddings fit a
  * serving tier's RAM). Returns `struct<codes: array<int>, err: double>`
  * where `err` is the total squared reconstruction error (quantization
  * distortion) — callers project the struct ONCE and read both fields from
  * the materialized column.
  *
  * Same plan-constant design as [[NearestCells]]: the `M×K×subDim` codebook
  * tensor rides along as ONE reference object, generated code is three
  * primitive loops — constant codegen size in M and K, fully inside
  * whole-stage codegen, zero exchanges. Ties break toward the lower
  * centroid index; zero vectors encode against the raw (unnormalizable)
  * zeros. Input dimension is validated per row (`length == M×subDim`,
  * mirroring NearestCells' contract): a wrong-dimension corpus fails
  * loudly at encode time instead of zero-padding / truncating into
  * silently degraded recall. */
case class PqEncode(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression {

  private def m: Int = books.length
  private def kk: Int = books.head.length
  private def subDim: Int = books.head.head.length

  private def isVec(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_pq_encode expects array<float|double> input, got ${child.dataType}")

  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("err", DoubleType, nullable = false)))

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val nd = x.numElements()
    if (nd != m * subDim) throw PqAdc.dimError("graft_pq_encode", nd, m, subDim)
    var ss = 0.0
    var i = 0
    while (i < nd) {
      val xi = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      ss += xi * xi
      i += 1
    }
    val inv = if (ss > 0) 1.0 / math.sqrt(ss) else 1.0
    val codes = new Array[Int](m)
    var err = 0.0
    var mm = 0
    while (mm < m) {
      val book = books(mm)
      val base = mm * subDim
      var bestK = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < kk) {
        val cent = book(c)
        var dist = 0.0
        var j = 0
        while (j < subDim) {
          val idx = base + j
          val xv = if (idx < nd) {
            (if (isFloat) x.getFloat(idx).toDouble else x.getDouble(idx)) * inv
          } else 0.0
          val dlt = xv - cent(j)
          dist += dlt * dlt
          j += 1
        }
        // strict < : ties keep the lower centroid index
        if (dist < bestD) { bestD = dist; bestK = c }
        c += 1
      }
      codes(mm) = bestK
      err += bestD
      mm += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      new org.apache.spark.sql.catalyst.util.GenericArrayData(codes), err))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("books", books, "double[][][]")
    nullSafeCodeGen(ctx, ev, v => {
      val nd = ctx.freshName("nd")
      val ss = ctx.freshName("ss")
      val inv = ctx.freshName("inv")
      val i = ctx.freshName("i")
      val codes = ctx.freshName("codes")
      val err = ctx.freshName("err")
      val mm = ctx.freshName("mm")
      val book = ctx.freshName("book")
      val base = ctx.freshName("base")
      val bestK = ctx.freshName("bestK")
      val bestD = ctx.freshName("bestD")
      val c = ctx.freshName("c")
      val cent = ctx.freshName("cent")
      val dist = ctx.freshName("dist")
      val j = ctx.freshName("j")
      val idx = ctx.freshName("idx")
      val xv = ctx.freshName("xv")
      val dlt = ctx.freshName("dlt")
      val xi = ctx.freshName("xi")
      def get(at: String): String =
        if (isFloat) s"((double) $v.getFloat($at))" else s"$v.getDouble($at)"
      s"""
         |int $nd = $v.numElements();
         |if ($nd != ${m * subDim}) throw graft.plans.PqAdc.dimError("graft_pq_encode", $nd, $m, $subDim);
         |double $ss = 0.0;
         |for (int $i = 0; $i < $nd; $i++) { double $xi = ${get(i)}; $ss += $xi * $xi; }
         |double $inv = $ss > 0 ? 1.0 / java.lang.Math.sqrt($ss) : 1.0;
         |int[] $codes = new int[$m];
         |double $err = 0.0;
         |for (int $mm = 0; $mm < $m; $mm++) {
         |  double[][] $book = $booksRef[$mm];
         |  int $base = $mm * $subDim;
         |  int $bestK = 0;
         |  double $bestD = java.lang.Double.POSITIVE_INFINITY;
         |  for (int $c = 0; $c < $kk; $c++) {
         |    double[] $cent = $book[$c];
         |    double $dist = 0.0;
         |    for (int $j = 0; $j < $subDim; $j++) {
         |      int $idx = $base + $j;
         |      double $xv = $idx < $nd ? ${get(idx)} * $inv : 0.0;
         |      double $dlt = $xv - $cent[$j];
         |      $dist += $dlt * $dlt;
         |    }
         |    if ($dist < $bestD) { $bestD = $dist; $bestK = $c; }
         |  }
         |  $codes[$mm] = $bestK;
         |  $err += $bestD;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{new org.apache.spark.sql.catalyst.util.GenericArrayData($codes),
         |               java.lang.Double.valueOf($err)});
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ADC lookup-table builder (the query-side half of PQ serving): for the
  * L2-normalized input vector, the squared L2 distance from each of its M
  * subvectors to EVERY centroid of that subspace's codebook, flattened to
  * `array<double>` of length M×K (`lut[m*K + k]`). One narrow map over the
  * (tiny) query set; [[PqAdc]] then scores a corpus row with M array reads
  * — no float vector is touched at scan time, which is the point of PQ. */
case class PqLut(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression {

  private def m: Int = books.length
  private def kk: Int = books.head.length
  private def subDim: Int = books.head.head.length

  private def isVec(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_pq_lut expects array<float|double> input, got ${child.dataType}")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val nd = x.numElements()
    if (nd != m * subDim) throw PqAdc.dimError("graft_pq_lut", nd, m, subDim)
    var ss = 0.0
    var i = 0
    while (i < nd) {
      val xi = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      ss += xi * xi
      i += 1
    }
    val inv = if (ss > 0) 1.0 / math.sqrt(ss) else 1.0
    val out = new Array[Double](m * kk)
    var mm = 0
    while (mm < m) {
      val book = books(mm)
      val base = mm * subDim
      var c = 0
      while (c < kk) {
        val cent = book(c)
        var dist = 0.0
        var j = 0
        while (j < subDim) {
          val idx = base + j
          val xv = if (idx < nd) {
            (if (isFloat) x.getFloat(idx).toDouble else x.getDouble(idx)) * inv
          } else 0.0
          val dlt = xv - cent(j)
          dist += dlt * dlt
          j += 1
        }
        out(mm * kk + c) = dist
        c += 1
      }
      mm += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("books", books, "double[][][]")
    nullSafeCodeGen(ctx, ev, v => {
      val nd = ctx.freshName("nd")
      val ss = ctx.freshName("ss")
      val inv = ctx.freshName("inv")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val out = ctx.freshName("out")
      val mm = ctx.freshName("mm")
      val book = ctx.freshName("book")
      val base = ctx.freshName("base")
      val c = ctx.freshName("c")
      val cent = ctx.freshName("cent")
      val dist = ctx.freshName("dist")
      val j = ctx.freshName("j")
      val idx = ctx.freshName("idx")
      val xv = ctx.freshName("xv")
      val dlt = ctx.freshName("dlt")
      def get(at: String): String =
        if (isFloat) s"((double) $v.getFloat($at))" else s"$v.getDouble($at)"
      s"""
         |int $nd = $v.numElements();
         |if ($nd != ${m * subDim}) throw graft.plans.PqAdc.dimError("graft_pq_lut", $nd, $m, $subDim);
         |double $ss = 0.0;
         |for (int $i = 0; $i < $nd; $i++) { double $xi = ${get(i)}; $ss += $xi * $xi; }
         |double $inv = $ss > 0 ? 1.0 / java.lang.Math.sqrt($ss) : 1.0;
         |double[] $out = new double[${m * kk}];
         |for (int $mm = 0; $mm < $m; $mm++) {
         |  double[][] $book = $booksRef[$mm];
         |  int $base = $mm * $subDim;
         |  for (int $c = 0; $c < $kk; $c++) {
         |    double[] $cent = $book[$c];
         |    double $dist = 0.0;
         |    for (int $j = 0; $j < $subDim; $j++) {
         |      int $idx = $base + $j;
         |      double $xv = $idx < $nd ? ${get(idx)} * $inv : 0.0;
         |      double $dlt = $xv - $cent[$j];
         |      $dist += $dlt * $dlt;
         |    }
         |    $out[$mm * $kk + $c] = $dist;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Asymmetric distance computation: approximate squared L2 distance of a
  * PQ-coded corpus vector ([[PqEncode]] `codes`, array<int> of length M)
  * from the query behind a [[PqLut]] table (array<double> of length M×K) —
  * `Σₘ lut[m*K + codes[m]]`. K is recovered as `lut.length / codes.length`,
  * so one registered function serves any (M, K) geometry. For normalized
  * vectors squared L2 is `2 − 2·cos`: ADC ascending IS approximate cosine
  * descending. M array reads per corpus row — the memory-bound scan rate
  * PQ serving is chosen for.
  *
  * Geometry is validated per row (lut length divisible by M, every code in
  * [0, K)): mismatched or corrupt inputs raise a descriptive error naming
  * the expected M×K shape instead of a silently-truncated K or an opaque
  * index error inside generated code. */
case class PqAdc(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_adc expects (array<int> codes, array<double> lut), got ${left.dataType} / ${right.dataType}")
  }

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val lut = b.asInstanceOf[ArrayData]
    val m = codes.numElements()
    if (m == 0) 0.0
    else {
      val nLut = lut.numElements()
      if (nLut % m != 0) {
        throw PqAdc.geometryError(m, nLut)
      }
      val k = nLut / m
      var acc = 0.0
      var mm = 0
      while (mm < m) {
        val code = codes.getInt(mm)
        if (code < 0 || code >= k) throw PqAdc.codeError(mm, code, m, k)
        acc += lut.getDouble(mm * k + code)
        mm += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m = ctx.freshName("m")
      val nLut = ctx.freshName("nLut")
      val k = ctx.freshName("k")
      val acc = ctx.freshName("acc")
      val mm = ctx.freshName("mm")
      val code = ctx.freshName("code")
      s"""
         |int $m = $a.numElements();
         |double $acc = 0.0;
         |if ($m > 0) {
         |  int $nLut = $b.numElements();
         |  if ($nLut % $m != 0) throw graft.plans.PqAdc.geometryError($m, $nLut);
         |  int $k = $nLut / $m;
         |  for (int $mm = 0; $mm < $m; $mm++) {
         |    int $code = $a.getInt($mm);
         |    if ($code < 0 || $code >= $k) throw graft.plans.PqAdc.codeError($mm, $code, $m, $k);
         |    $acc += $b.getDouble($mm * $k + $code);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Smallest-shared-POSTED-lane election for multi-table LSH candidate
  * generation: given the probing vector's per-table bucket array `first`,
  * the posted vector's bucket array `second`, and a bitmask `third` whose
  * bit t says "the posted vector survived posting truncation in table t",
  * returns the smallest table index where both buckets agree AND the
  * posting bit is set (−1 if none — unreachable for rows produced by the
  * bucket equi-join, which guarantees at least the joining table
  * qualifies).
  *
  * This is the batch form of the StreamDedup/StreamEmbDedup band-election
  * rule: a pair colliding in k of 16 tables is generated k times by the
  * bucket join; filtering on `elect == t` keeps exactly the one copy from
  * the elected table, deterministically, with NO dedup shuffle — a
  * map-side filter replaces `dropDuplicates` over the ~16×-inflated
  * candidate stream. The posted-mask argument keeps the election honest
  * under posting truncation: electing a lane where the posted side was
  * truncated would drop the pair entirely, so only posted lanes are
  * eligible — the surviving pair set is IDENTICAL to the dedup-based
  * formulation's. Sixteen long compares per candidate row, codegen'd. */
case class ElectLane(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  private def isLongVec(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongVec(first.dataType) && isLongVec(second.dataType) &&
        third.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_elect_lane expects (array<bigint>, array<bigint>, bigint), got " +
        s"${first.dataType} / ${second.dataType} / ${third.dataType}")

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val m = c.asInstanceOf[Long]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    var res = -1
    while (i < n && res < 0) {
      if (((m >>> i) & 1L) == 1L && x.getLong(i) == y.getLong(i)) res = i
      i += 1
    }
    res
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val res = ctx.freshName("res")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $res = -1;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ((($c >>> $i) & 1L) == 1L && $a.getLong($i) == $b.getLong($i)) {
         |    $res = $i;
         |    break;
         |  }
         |}
         |${ev.value} = $res;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object PqAdc {
  /** Descriptive errors shared by the interpreted and generated paths —
    * geometry problems must name the expected M×K shape, not surface as an
    * ArrayIndexOutOfBoundsException inside Janino output. */
  def geometryError(m: Int, nLut: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"graft_pq_adc: LUT length $nLut is not a multiple of M=$m codes — " +
        s"expected an M×K table (length divisible by $m); codes and LUT come " +
        "from different PQ geometries or a corrupt row")

  def codeError(pos: Int, code: Int, m: Int, k: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"graft_pq_adc: code $code at position $pos is outside [0, K=$k) for the " +
        s"M=$m × K=$k LUT — codes were encoded against a different codebook " +
        "or the row is corrupt")

  def dimError(fn: String, got: Int, m: Int, subDim: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"$fn: input vector has $got dims but the codebook expects exactly " +
        s"M=$m × subDim=$subDim = ${m * subDim} — wrong-dimension corpus " +
        "(train and encode must share one embedding space)")
}

object VectorExpressions {
  /** Column-API entry point: dot(a, b) over array<float|double> columns. */
  def floatDot(a: Column, b: Column): Column =
    Bridge.column(FloatVecDot(Bridge.expression(a), Bridge.expression(b)))

  /** Column-API entry point: packed hyperplane-sign signature (array<long>). */
  def hyperplaneSig(v: Column, planes: Array[Array[Double]]): Column =
    Bridge.column(HyperplaneSig(Bridge.expression(v), planes))

  /** Column-API entry point: SQ8 quantization of a normalized vector. */
  def quantize(v: Column): Column =
    Bridge.column(QuantizeVec(Bridge.expression(v)))

  /** Column-API entry point: integer dot of two SQ8 binary vectors. */
  def int8Dot(a: Column, b: Column): Column =
    Bridge.column(Int8Dot(Bridge.expression(a), Bridge.expression(b)))

  /** Column-API entry point: Jaccard of two sorted array<long> sets. */
  def sortedJaccard(a: Column, b: Column): Column =
    Bridge.column(SortedJaccard(Bridge.expression(a), Bridge.expression(b)))

  /** Column-API entry point: smallest shared POSTED lane of two per-table
    * bucket arrays — the multi-table LSH pair-election kernel. */
  def electLane(slanes: Column, dlanes: Column, postedMask: Column): Column =
    Bridge.column(ElectLane(Bridge.expression(slanes), Bridge.expression(dlanes),
      Bridge.expression(postedMask)))

  /** Column-API entry point: per-table best-flip probe buckets (the
    * 1-probe multi-probe kernel); `nFlips = 2` appends the second-best
    * flips as entries nTables..2·nTables−1. Plane matrix is a plan
    * constant. */
  def hyperplaneFlips(v: Column, planes: Array[Array[Double]], nPlanes: Int,
      nFlips: Int = 1): Column =
    Bridge.column(HyperplaneFlips(Bridge.expression(v), planes, nPlanes, nFlips))

  /** Column-API entry point: [[electLane]] with the probe side also
    * reaching through its best-flip bucket. */
  def electLaneMp(slanes: Column, sflips: Column, dlanes: Column,
      postedMask: Column): Column =
    Bridge.column(ElectLaneMp(Bridge.expression(slanes), Bridge.expression(sflips),
      Bridge.expression(dlanes), Bridge.expression(postedMask)))

  /** Column-API entry point: containment |∩|/min(|a|,|b|) of two sorted
    * array<long> sets. */
  def sortedContainment(a: Column, b: Column): Column =
    Bridge.column(SortedContainment(Bridge.expression(a), Bridge.expression(b)))

  /** Column-API entry point: |∩| of two sorted array<long> sets. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectCount(Bridge.expression(a), Bridge.expression(b)))

  /** Column-API entry point: top-N nearest (normalized) centroids by
    * cosine — array<struct<cell, cos>>, cosine desc, low index on ties.
    * Constructor-parameterized like [[hyperplaneSig]] (the matrix is a plan
    * constant), so Column-API-only. */
  def nearestCells(v: Column, cents: Array[Array[Double]], topN: Int): Column =
    Bridge.column(NearestCells(Bridge.expression(v), cents, topN))

  /** Column-API entry point: PQ encoding — struct<codes, err>. Codebook
    * tensor is a plan constant, so Column-API-only. */
  def pqEncode(v: Column, books: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqEncode(Bridge.expression(v), books))

  /** Column-API entry point: PQ ADC lookup table — array<double>, M×K. */
  def pqLut(v: Column, books: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqLut(Bridge.expression(v), books))

  /** Column-API entry point: ADC score of PQ codes against a LUT. */
  def pqAdc(codes: Column, lut: Column): Column =
    Bridge.column(PqAdc(Bridge.expression(codes), Bridge.expression(lut)))

  /** Register `graft_dot` in the session's function registry so plain
    * `spark.sql("SELECT graft_dot(a, b) ...")` reaches the native kernel. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => FloatVecDot(exprs.head, exprs(1)), "built-in")
}

/** Session extension: injects every graft kernel into the SQL function
  * registry, so a cluster configured with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or a builder using
  * `.withExtensions(new GraftExtensions)`) exposes them to plain SQL users:
  *
  *   - `graft_dot(a, b)`            — [[FloatVecDot]], array<float|double>
  *   - `graft_quantize(v)`          — [[QuantizeVec]], SQ8 bytes
  *   - `graft_int8_dot(a, b)`       — [[Int8Dot]], integer dot of SQ8
  *   - `graft_sorted_jaccard(a, b)` — [[SortedJaccard]], sorted-set Jaccard
  *
  * ([[HyperplaneSig]] is constructor-parameterized by its plane matrix, so
  * it stays a Column-API-only kernel.) This is the
  * `SparkSessionExtensions` integration path of §3's custom-operator
  * ladder — expressions first, injected properly, no UDFs.
  *
  * It also routes the context's `file:` scheme through
  * [[graft.io.ForkFreeLocalFs]], so checkpoint, state and replica files
  * cost no process fork; other schemes are untouched. And it sizes Spark's
  * codegen cache for the whole operator library
  * ([[GraftExtensions.installCodegenCache]]), so repeated `graft_run` calls
  * in one session stop recompiling: Spark's 100-entry default evicts most
  * of a 10-key mix's classes between calls. It also lets later sessions
  * share the executor's class loader, so a query compiled in one session is
  * a cache hit in every other, and it names generated classes without their
  * stage id, so a stage that AQE numbers differently in another run is a
  * cache hit too ([[GraftExtensions.installContextDefaults]]). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    // spark.sql.extensions applies this once the context is up, before the
    // session's first file: lookup; Builder.withExtensions applies it at
    // once, maybe before any context exists — never create one here
    // (those builders pass GraftExtensions.sparkConf instead).
    val env = org.apache.spark.SparkEnv.get
    if (env != null && env.executorId == "driver") { // SparkContext.DRIVER_IDENTIFIER
      val sc = org.apache.spark.SparkContext.getOrCreate()
      graft.io.ForkFreeLocalFs.install(sc.hadoopConfiguration)
      GraftExtensions.installCodegenCache(sc)
      GraftExtensions.installContextDefaults(sc)
    }
    def info(name: String, usage: String) =
      new ExpressionInfo(classOf[GraftExtensions].getName, name, usage)
    ext.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - left-to-right double dot product of two float/double arrays"),
      (exprs: Seq[Expression]) => FloatVecDot(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("graft_quantize"),
      info("graft_quantize", "graft_quantize(v) - SQ8 scalar quantization of an L2-normalized vector"),
      (exprs: Seq[Expression]) => QuantizeVec(exprs.head)))
    ext.injectFunction((FunctionIdentifier("graft_int8_dot"),
      info("graft_int8_dot", "graft_int8_dot(a, b) - integer dot product of two SQ8 binary vectors"),
      (exprs: Seq[Expression]) => Int8Dot(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("graft_sorted_jaccard"),
      info("graft_sorted_jaccard", "graft_sorted_jaccard(a, b) - exact Jaccard of two sorted array<bigint> sets"),
      (exprs: Seq[Expression]) => SortedJaccard(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("graft_sorted_containment"),
      info("graft_sorted_containment", "graft_sorted_containment(a, b) - |intersection| / min(|a|,|b|) of two sorted array<bigint> sets"),
      (exprs: Seq[Expression]) => SortedContainment(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("graft_pq_adc"),
      info("graft_pq_adc", "graft_pq_adc(codes, lut) - asymmetric PQ distance: sum of lut[m*K + codes[m]]"),
      (exprs: Seq[Expression]) => PqAdc(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("graft_ntokens"),
      info("graft_ntokens", "graft_ntokens(s) - space-separated segment count, = size(split(s, ' ')), zero-allocation"),
      (exprs: Seq[Expression]) => SpaceSegCount(exprs.head)))
    // The SERVING surface for the whole operator library: graft_run('name')
    // is a table-valued function splicing the named operator's LOGICAL plan
    // into the calling query (the Greenplum poll-and-SELECT role of the
    // reference demo). Predicates and projections written around it still
    // optimize into the scans; the plan is built once per session, key and
    // data state (GraftSql.run). The data dir comes from the
    // spark.graft.dataDir conf unless passed as a second argument.
    ext.injectTableFunction((FunctionIdentifier("graft_run"),
      info("graft_run",
        "graft_run(name[, dir]) - table of the named graft operator's output over dir (default conf spark.graft.dataDir)"),
      (exprs: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        def arg(i: Int, what: String): String = {
          val e = exprs(i)
          require(e.foldable, s"graft_run: $what must be a literal, got $e")
          String.valueOf(e.eval())
        }
        val name = arg(0, "operator name")
        val dir =
          if (exprs.lengthCompare(2) >= 0) arg(1, "data dir")
          else spark.conf.getOption(graft.GraftSql.DataDirConf).getOrElse(
            throw new IllegalArgumentException(
              s"graft_run('$name'): set ${graft.GraftSql.DataDirConf} or pass a directory argument"))
        graft.GraftSql.run(spark, name, dir)
      }))
  }
}

object GraftExtensions extends org.apache.spark.internal.Logging {
  import org.apache.spark.sql.internal.SQLConf.{ARTIFACTS_SESSION_ISOLATION_ENABLED,
    WHOLESTAGE_CODEGEN_USE_ID_IN_CLASS_NAME}
  import org.apache.spark.sql.internal.StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES

  /** Codegen cache entries for the whole operator library: one pass over the
    * registry compiles 2 581 classes at sf0.01 (`ann_*` left out). */
  val CodegenCacheEntries = 4000

  /** Keys graft sets in the context's conf where they are unset, so every
    * session built afterwards copies them; a deployment's own value is kept.
    *   - Artifact isolation off: sessions built afterwards (`newSession()`,
    *     a stream's `cloneSession()`, a server's per-connection sessions) run
    *     their tasks under the executor's default class loader. The JVM-wide
    *     codegen cache is keyed by that loader: with isolation on, each
    *     session's tasks get a loader of their own and recompile every class.
    *     graft adds no per-session artifacts.
    *   - Stage ids out of class names: every whole-stage class is named
    *     `GeneratedIterator`. The codegen cache is keyed by the class source,
    *     and AQE numbers a query's stages in the order it re-plans finished
    *     ones, so the same stage got another name, and compiled again, in a
    *     later run of the same query. The cost: a stack trace no longer names
    *     the stage. */
  private val contextDefaults = Map(
    ARTIFACTS_SESSION_ISOLATION_ENABLED.key -> "false",
    WHOLESTAGE_CODEGEN_USE_ID_IN_CLASS_NAME.key -> "false")

  /** Session-builder options of graft's own mains: the fork-free `file:`
    * filesystem, the sized codegen cache, the shared class loader and stable
    * class names, all in the context's conf from its start. */
  val sparkConf: Map[String, String] =
    graft.io.ForkFreeLocalFs.sparkConf + (CODEGEN_CACHE_MAX_ENTRIES.key -> CodegenCacheEntries.toString) ++
      contextDefaults

  private val warned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Puts [[CodegenCacheEntries]] into the context's conf, which the next
    * session's static SQL conf copies, where the key is unset: a
    * deployment's own value always wins. `CodeGenerator` sizes its cache
    * from the first compiling session's conf, once per JVM, so the entry is
    * only set while no session has been built on `sc` and nothing has been
    * compiled; otherwise one warning per JVM says how to set it. */
  private[plans] def installCodegenCache(sc: org.apache.spark.SparkContext): Unit = {
    val key = CODEGEN_CACHE_MAX_ENTRIES.key
    if (!sc.getConf.contains(key)) {
      if (!Bridge.sessionBuilt(sc) &&
          org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount == 0)
        Bridge.setContextConf(sc, key, CodegenCacheEntries.toString)
      else if (warned.compareAndSet(false, true))
        logWarning(s"graft: $key is unset and cannot be sized any more: a session was built or code " +
          s"was compiled before graft's extensions were applied, so warm graft_run calls may " +
          s"recompile. Set $key=$CodegenCacheEntries in spark-defaults or as a session-builder " +
          s"option (README, \"SQL usage\").")
    }
  }

  private[plans] def installContextDefaults(sc: org.apache.spark.SparkContext): Unit =
    contextDefaults.foreach { case (k, v) => if (!sc.getConf.contains(k)) Bridge.setContextConf(sc, k, v) }
}
