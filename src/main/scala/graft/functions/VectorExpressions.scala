package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, Decimal, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over `array<float>`
  * embedding columns, with full whole-stage codegen (`doGenCode` emits a
  * tight primitive loop — no ArrayData boxing, no HOF interpretation).
  *
  * Numerics: accumulates in double in element order, exactly like the
  * HOF formulation `aggregate(zip_with(a,b,(x,y)->x*y),0D,+)` — results
  * are bit-identical to it, so swapping implementations never changes
  * oracle hashes. ~10× faster per row than the interpreted HOF chain on
  * 64-dim vectors.
  */
case class CosineSimF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_f32"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native dot product over numeric arrays (`array<float>` or
  * `array<double>` on either side, mixed freely), double accumulation in
  * element order, full codegen. Used for LSH hyperplane signatures where
  * the embedding is float and the plane literal is double.
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemOk(t: DataType) = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  override def prettyName: String = "array_dot"

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = isFloat(left); val rf = isFloat(right)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val i = ctx.freshName("i")
      val getX = if (isFloat(left)) s"(double) $a.getFloat" else s"$a.getDouble"
      val getY = if (isFloat(right)) s"(double) $b.getFloat" else s"$b.getDouble"
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ($getX($i)) * ($getY($i));
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native product-quantization ENCODER over an `array<float>` embedding:
  * per subspace m, the argmin-L2 sub-centroid id (ties to the smaller
  * cid via strict `<`), emitted as one `array<tinyint>` code (unsigned
  * 8-bit cids wrapped into signed bytes — `toByte` IS the wrap; the ADC
  * decode applies the matching +256). The codebook rides the expression
  * as a reference object (mSub·kCent·sub doubles — parameter-bounded),
  * so encoding a corpus is ONE narrow codegen'd projection: no
  * subspace explode, no broadcast join, no pair of hash aggregates —
  * the r12 replacement for the pqDists/pqArgmin/collect_list encode
  * pipeline on the persisted-index paths (s23 build, st12 generation
  * augment, delta encode), worth ~2 shuffles per build. Distances are
  * the plain running Σ(v−c)² — NOT pqDists's 6-dp-rounded expansion:
  * the rounding exists so s11's in-memory demo matches its SQL oracle
  * CTE-for-CTE; a persisted index has no SQL oracle to replay, and
  * rounding before an argmin only manufactures 1e-6 knife-edge ties.
  * Deterministic per (vector, codebook) either way.
  */
case class PqEncodeF32(child: Expression,
    cents: Seq[Seq[Seq[Double]]]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> input, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)

  override def prettyName: String = "pq_encode_f32"

  // [ss][cid][j] — compiled once per task from the (small) Seq form the
  // tree carries for equality/explain
  @transient private lazy val table: Array[Array[Array[Double]]] =
    cents.map(_.map(_.toArray).toArray).toArray

  private def encode(x: ArrayData): Array[Byte] = {
    val mSub = table.length
    val sub = table(0)(0).length
    val code = new Array[Byte](mSub)
    var m = 0
    while (m < mSub) {
      val cb = table(m)
      var best = 0
      var bestD = Double.PositiveInfinity
      var cid = 0
      while (cid < cb.length) {
        val c = cb(cid)
        var d = 0.0
        var j = 0
        while (j < sub) {
          val diff = x.getFloat(m * sub + j).toDouble - c(j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = cid }
        cid += 1
      }
      code(m) = best.toByte
      m += 1
    }
    code
  }

  override def nullSafeEval(a: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(encode(a.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val tbl = ctx.addReferenceObj("pqTable", table, "double[][][]")
      val mSub = table.length
      val sub = table(0)(0).length
      val code = ctx.freshName("code")
      val m = ctx.freshName("m")
      val cb = ctx.freshName("cb")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val cid = ctx.freshName("cid")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val j = ctx.freshName("j")
      val diff = ctx.freshName("diff")
      s"""
         |byte[] $code = new byte[$mSub];
         |for (int $m = 0; $m < $mSub; $m++) {
         |  double[][] $cb = $tbl[$m];
         |  int $best = 0; double $bestD = Double.POSITIVE_INFINITY;
         |  for (int $cid = 0; $cid < $cb.length; $cid++) {
         |    double[] $c = $cb[$cid];
         |    double $d = 0.0;
         |    for (int $j = 0; $j < $sub; $j++) {
         |      double $diff = ((double) $a.getFloat($m * $sub + $j)) - $c[$j];
         |      $d += $diff * $diff;
         |    }
         |    if ($d < $bestD) { $bestD = $d; $best = $cid; }
         |  }
         |  $code[$m] = (byte) $best;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($code);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** An `array<float>` vector scaled to unit length: each element widened
  * to double, divided by max(‖x‖, 1e-30) and narrowed back to float,
  * ‖x‖ the square root of [[ArrayDot]]'s self dot, computed ONCE per
  * vector (the `transform` lambda form re-evaluates the norm per element,
  * and Catalyst inlines a norm projected beneath it). Bit-identical to
  * `transform(x, e -> CAST(e / greatest(sqrt(array_dot(x, x)), 1e-30) AS
  * float))`; zero vectors pass through, null elements stay null.
  * Generated code calls [[unit]], the one implementation.
  */
case class UnitF32(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> input, got ${other.simpleString}")
  }

  override def dataType: DataType = child.dataType

  override def prettyName: String = "unit_f32"

  /** The unit vector of `x`. */
  def unit(x: ArrayData): ArrayData = {
    val n = x.numElements()
    var dot = 0.0
    for (i <- 0 until n) { val v = x.getFloat(i).toDouble; dot += v * v }
    val norm = math.max(math.sqrt(dot), 1e-30)
    val out = new Array[Float](n)
    for (i <- 0 until n) out(i) = (x.getFloat(i).toDouble / norm).toFloat
    if ((0 until n).exists(x.isNullAt))
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.tabulate[Any](n)(i => if (x.isNullAt(i)) null else out(i)))
    else org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def nullSafeEval(a: Any): Any = unit(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("unitF32", this, classOf[UnitF32].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $self.unit($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native PQ asymmetric-distance LOOKUP TABLE of one `array<float>` unit
  * query vector: entry `ss·kCent + cid` is the 6-dp rounded squared L2
  * distance between the query's subspace-`ss` slice and sub-centroid
  * `cid` — the table ADC sums per code. Arithmetic is the explode ×
  * broadcast-codebook × `collect_list` formulation it replaces, step for
  * step, so tables are bit-identical to it: the float slice widened to
  * double, ‖v‖² − 2·v·c + ‖c‖² from three element-order dots
  * ([[ArrayDot]]'s accumulation), then `round(.., 6)` HALF_UP through
  * `BigDecimal.valueOf` (Spark's double `round`). The codebook rides
  * the expression as a reference object ([ss][cid][j], parameter-bounded
  * like [[PqEncodeF32]]'s), so a query's table is one codegen'd
  * projection: no subspace explode, no shuffle. Generated code calls
  * [[lookup]], the one implementation of that arithmetic.
  */
case class PqAdcTable(child: Expression,
    cents: Seq[Seq[Seq[Double]]]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> input, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "pq_adc_table"

  @transient private lazy val table: Array[Array[Array[Double]]] =
    cents.map(_.map(_.toArray).toArray).toArray

  /** The lookup table of one unit vector `x`. */
  def lookup(x: ArrayData): ArrayData = {
    val kCent = table(0).length
    val sub = table(0)(0).length
    val out = new Array[Double](table.length * kCent)
    for (m <- table.indices) {
      var vv = 0.0
      for (j <- 0 until sub) { val v = x.getFloat(m * sub + j).toDouble; vv += v * v }
      for (cid <- 0 until kCent) {
        val c = table(m)(cid)
        var vc = 0.0
        for (j <- 0 until sub) vc += x.getFloat(m * sub + j).toDouble * c(j)
        var cc = 0.0
        for (j <- 0 until sub) cc += c(j) * c(j)
        val d = vv - 2.0 * vc + cc
        out(m * kCent + cid) =
          if (d.isNaN || d.isInfinite) d
          else java.math.BigDecimal.valueOf(d)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def nullSafeEval(a: Any): Any = lookup(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqAdcTable", this, classOf[PqAdcTable].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $self.lookup($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native PQ asymmetric DISTANCE of one code against one query's
  * [[PqAdcTable]] table: Σᵢ dtab(i·kCent + cidᵢ), cidᵢ the unsigned value
  * of code byte i. It returns what the fixed-order DECIMAL fold it
  * replaces returns, for every input —
  * `CAST(aggregate(transform(code, (c, i) -> element_at(dtab, i·kCent +
  * (CAST(c AS INT) + 256) % 256 + 1)), 0BD, (acc, x) -> CAST(acc + CAST(x
  * AS DECIMAL(18,6)) AS DECIMAL(18,6))) AS DOUBLE)`:
  *  - each entry enters as its DECIMAL(18,6) unscaled long: for a 6-dp
  *    entry below 1e8 (every [[PqAdcTable]] entry) that is
  *    `Math.round(x·1e6)`, checked by dividing back; any other entry
  *    goes through Spark's own `Decimal(x).toPrecision(18, 6)`, so NaN
  *    and infinities are null and a too-large entry overflows, as the
  *    cast does;
  *  - the long sum is exact, as a sum of 6-dp decimals is, and a partial
  *    sum past DECIMAL(18,6) overflows as the fold's cast does;
  *  - the result is `BigDecimal.valueOf(sum, 6).doubleValue`, which is
  *    Spark's `Decimal.toDouble`;
  *  - a null code, a null code element, a null table (over a non-empty
  *    code) or a null entry gives null; an index past the table fails
  *    like ANSI `element_at` — before any cast, as `transform` looks
  *    every entry up first — or is null with ANSI off.
  * The fold is four HOF lambdas evaluated interpreted per row
  * (CodegenFallback); this is one codegen'd call. The expression is a
  * reference object, so neither kCent nor the table enters generated
  * code: one compiled class serves every generation. Generated code
  * calls [[dist]], the one implementation, with NaN as its null (the
  * fold's value is a finite decimal, never NaN).
  */
case class PqAdcDist(code: Expression, dtab: Expression, kCent: Int,
    failOnError: Boolean = SQLConf.get.ansiEnabled) extends BinaryExpression {

  override def left: Expression = code
  override def right: Expression = dtab

  override def checkInputDataTypes(): TypeCheckResult = (code.dataType, dtab.dataType) match {
    case (ArrayType(ByteType, _), ArrayType(DoubleType, _)) if kCent >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case (c, t) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<tinyint> and array<double> inputs and kCent >= 1, " +
        s"got ${c.simpleString} / ${t.simpleString} / $kCent")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "pq_adc_dist"

  /** Past this unscaled magnitude a sum is no DECIMAL(18,6). */
  private val MaxUnscaled = 1000000000000000000L

  /** The distance of code `c` over table `t` (null allowed); NaN is null. */
  def dist(c: ArrayData, t: ArrayData): Double = {
    val n = c.numElements()
    if (t == null) return if (n == 0) 0.0 else Double.NaN
    val size = t.numElements()
    def at(i: Int) = if (c.isNullAt(i)) -1 else i * kCent + (c.getByte(i) & 0xff)
    var i = 0
    while (failOnError && i < n) {
      if (at(i) >= size) throw Shim.elementAtIndexError(at(i) + 1, size)
      i += 1
    }
    var sum = 0L
    i = 0
    while (i < n) {
      val j = at(i)
      if (j < 0 || j >= size || t.isNullAt(j)) return Double.NaN
      val x = t.getDouble(j)
      val r = Math.round(x * 1e6)
      if (Math.abs(x) < 1e8 && r / 1e6 == x) sum += r
      else {
        val d = try Decimal(x) catch { case _: NumberFormatException => null }
        val u = if (d == null) null else Shim.toPrecision(d, 18, 6, failOnError)
        if (u == null) return Double.NaN
        sum += u.toUnscaledLong
      }
      if (sum <= -MaxUnscaled || sum >= MaxUnscaled) {
        Shim.toPrecision(Decimal(sum, 19, 6), 18, 6, failOnError)
        return Double.NaN
      }
      i += 1
    }
    java.math.BigDecimal.valueOf(sum, 6).doubleValue
  }

  override def eval(input: InternalRow): Any = {
    val c = code.eval(input)
    if (c == null) null
    else {
      val d = dist(c.asInstanceOf[ArrayData], dtab.eval(input).asInstanceOf[ArrayData])
      if (d.isNaN) null else d
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqAdcDist", this, classOf[PqAdcDist].getName)
    val c = code.genCode(ctx)
    val t = dtab.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${t.code}
      |boolean ${ev.isNull} = true;
      |double ${ev.value} = -1.0;
      |if (!${c.isNull}) {
      |  ${ev.value} = $self.dist(${c.value}, ${t.isNull} ? null : ${t.value});
      |  ${ev.isNull} = Double.isNaN(${ev.value});
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(code = newLeft, dtab = newRight)
}

object VectorExpressions {
  /** Column API for [[CosineSimF32]]. */
  def cosineF32(a: Column, b: Column): Column =
    Shim.column(CosineSimF32(Shim.expression(a), Shim.expression(b)))

  /** Column API for [[PqEncodeF32]] — `cents` in the `pqTrain` layout
    * (ss, cid, centroid), regrouped here to the [ss][cid][j] table.
    */
  def pqEncodeF32(a: Column, cents: Seq[(Long, Long, Seq[Double])]): Column =
    Shim.column(PqEncodeF32(Shim.expression(a), byCid(cents)))

  private def byCid(cents: Seq[(Long, Long, Seq[Double])]): Seq[Seq[Seq[Double]]] =
    cents.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rows) => rows.sortBy(_._2).map(_._3) }

  /** Column API for [[PqAdcTable]] — `cents` in the `pqTrain` layout,
    * regrouped like [[pqEncodeF32]]'s.
    */
  def pqAdcTable(a: Column, cents: Seq[(Long, Long, Seq[Double])]): Column =
    Shim.column(PqAdcTable(Shim.expression(a), byCid(cents)))

  /** Column API for [[PqAdcDist]]: `code` over the [[PqAdcTable]] `dtab`. */
  def pqAdcDist(code: Column, dtab: Column, kCent: Int): Column =
    Shim.column(PqAdcDist(Shim.expression(code), Shim.expression(dtab), kCent))

  /** Column API for [[UnitF32]]. */
  def unitF32(a: Column): Column = Shim.column(UnitF32(Shim.expression(a)))

  /** Column API for [[ArrayDot]]. */
  def arrayDot(a: Column, b: Column): Column =
    Shim.column(ArrayDot(Shim.expression(a), Shim.expression(b)))

  /** Make the native expressions callable from SQL text
    * (`SELECT cosine_f32(a, b)`); idempotent per session.
    */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit = {
    Shim.registerFunction(spark, "cosine_f32", es => CosineSimF32(es(0), es(1)))
    Shim.registerFunction(spark, "array_dot", es => ArrayDot(es(0), es(1)))
    // second arg must be a literal chunk count (it shapes the output
    // type, which is fixed at analysis time) — reject non-foldable or
    // null counts with an analysis error instead of an opaque runtime NPE
    Shim.registerFunction(spark, "sha256_chunks", es => {
      val n = if (es.length == 2 && es(1).foldable) es(1).eval(null) else null
      n match {
        case num: Number if num.intValue >= 1 && num.intValue <= 4 =>
          Sha256Chunks(es(0), num.intValue)
        case num: Number => throw Shim.analysisException(
          s"sha256_chunks(expr, n): the chunk count must be in [1, 4] " +
            s"(60 bits per chunk from a 256-bit digest), got ${num.intValue}")
        case _ => throw Shim.analysisException(
          "sha256_chunks(expr, n): the chunk count must be a non-null " +
            "integer literal (it fixes the output array length at plan time)")
      }
    })
  }
}
