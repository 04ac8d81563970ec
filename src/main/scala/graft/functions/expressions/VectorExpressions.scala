package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types._

/** Native vector/uint256 expressions.
  *
  * `cosine_sim` replaces a ~200-node zip_with/aggregate lambda tree with
  * one fused loop — same left-to-right double accumulation, so results are
  * bit-identical to the column-function form (and to the DuckDB DOUBLE[]
  * oracle), but codegen compiles a 3-line call instead of a page of lambda
  * plumbing.
  *
  * `uint256_add`/`uint256_sub` expose the reference's 256-bit big-endian
  * arithmetic kernel (erigon_extract.c:665-682, without the intentional
  * ±1 of its delta coding) as SQL-level functions over 32-byte binary.
  */
object VectorExpressions {

  def dot(a: ArrayData, b: ArrayData, floats: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    if (floats) while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1
    } else while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  def cosine(a: ArrayData, b: ArrayData, floats: Boolean): Double = {
    val d = dot(a, b, floats)
    val nn = math.sqrt(dot(a, a, floats)) * math.sqrt(dot(b, b, floats))
    if (nn == 0.0) 0.0 else d / nn
  }

  /** 256-bit big-endian add/sub over 32-byte arrays (mod 2^256). */
  def u256(aa: Array[Byte], bb: Array[Byte], sub: Boolean): Array[Byte] = {
    require(aa.length == 32 && bb.length == 32,
      s"uint256 needs 32-byte inputs, got ${aa.length}/${bb.length}")
    val out = new Array[Byte](32)
    var carry = 0
    var i = 31
    if (sub) while (i >= 0) {
      val d = (aa(i) & 0xff) - (bb(i) & 0xff) - carry
      carry = if (d < 0) 1 else 0
      out(i) = d.toByte
      i -= 1
    } else while (i >= 0) {
      val s = (aa(i) & 0xff) + (bb(i) & 0xff) + carry
      carry = if (s >= 256) 1 else 0
      out(i) = s.toByte
      i -= 1
    }
    out
  }

  /** Sign bits of `v` against per-dimension thresholds, PACKED 64 per
    * long (bit d of word d>>>6) — the binary-quantization storage layout:
    * 8 bytes per 512 dims instead of 64 boolean array slots. Semantics
    * identical to the boolean `zip_with(v, mu, x > m)` form (asserted in
    * OperatorSpec); only the layout and the per-row cost change.
    */
  def bqPack(v: ArrayData, mu: Array[Double], floats: Boolean): ArrayData = {
    val n = mu.length
    if (v.numElements() != n)
      throw new IllegalArgumentException(
        s"bq_pack_bits: expected $n-dim vector, got ${v.numElements()}")
    val words = new Array[Long]((n + 63) >>> 6)
    var i = 0
    while (i < n) {
      val x = if (floats) v.getFloat(i).toDouble else v.getDouble(i)
      if (x > mu(i)) words(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(words)
  }

  /** Hamming distance between two packed sign-bit vectors: Σ popcount of
    * the per-word XOR — one Long.bitCount per 64 dimensions, vs 64
    * boolean compares in the interpreted `zip_with` form it replaces.
    */
  def hammingPacked(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"hamming_packed: word counts differ: $n vs ${b.numElements()}")
    var s = 0L
    var i = 0
    while (i < n) {
      s += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    s
  }

  /** `v[off, off + row.length) · row` in the column form's order
    * (ascending index, `x.toDouble * row(i)` from 0.0): bit-identical.
    */
  def dotAt(v: ArrayData, off: Int, row: Array[Double],
            floats: Boolean): Double = {
    var s = 0.0
    var i = 0
    if (floats) while (i < row.length) {
      s += v.getFloat(off + i).toDouble * row(i); i += 1
    } else while (i < row.length) { s += v.getDouble(off + i) * row(i); i += 1 }
    s
  }

  /** Raises unless `v` is `dims` wide (`Similarity.guardDims`' message);
    * true when an element is null, which nulls every dot, as `x * s`
    * does in the column form.
    */
  private def hasNullElement(v: ArrayData, dims: Int): Boolean = {
    if (v == null || v.numElements() != dims)
      throw new IllegalArgumentException(s"graft: expected $dims-dim " +
        s"vector, got ${if (v == null) "null" else v.numElements()}")
    var i = 0
    while (i < dims && !v.isNullAt(i)) i += 1
    i < dims
  }

  /** `v · m(r)` for every matrix row r, in [[dotAt]]'s order. */
  def literalDots(v: ArrayData, m: Array[Array[Double]],
                  floats: Boolean): ArrayData =
    if (hasNullElement(v, m(0).length))
      new GenericArrayData(new Array[Any](m.length))
    else {
      val out = new Array[Double](m.length)
      var r = 0
      while (r < m.length) { out(r) = dotAt(v, 0, m(r), floats); r += 1 }
      UnsafeArrayData.fromPrimitiveArray(out)
    }

  /** Bit b set when `v · planes(b) > 0` under Spark's double order, which
    * puts NaN above every number (so a NaN dot sets its bit, as
    * `when(dot > 0, ...)` does); a null element clears every bit.
    */
  def hyperplaneSigns(v: ArrayData, planes: Array[Array[Double]],
                      floats: Boolean): Long = {
    var bits = 0L
    if (!hasNullElement(v, planes(0).length)) {
      var b = 0
      while (b < planes.length) {
        val d = dotAt(v, 0, planes(b), floats)
        if (d > 0.0 || d.isNaN) bits |= 1L << b
        b += 1
      }
    }
    bits
  }

  /** PQ code assignment — the codegen form of the per-subspace argmax
    * (2·v_sub·c − ‖c‖², ties to the HIGHER codeword id): one fused
    * m×k×subLen loop per row instead of an interpreted HOF tree
    * re-sorting k structs per subspace. Arithmetic order matches the
    * column form exactly: ascending-index double dots, ‖c‖² accumulated
    * ascending driver-side, score = dot·2 − c2 — so codes are
    * bit-identical (and the DuckDB oracle re-derives them
    * independently either way).
    */
  def pqAssign(v: ArrayData, books: Array[Array[Array[Double]]],
               c2: Array[Array[Double]], floats: Boolean): ArrayData = {
    val m = books.length
    val subLen = books(0)(0).length
    if (v.numElements() != m * subLen)
      throw new IllegalArgumentException(
        s"pq_codes: expected ${m * subLen}-dim vector, got ${v.numElements()}")
    val out = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      val cws = books(sub)
      val off = sub * subLen
      var best = Double.NegativeInfinity
      var bestCw = 0
      var j = 0
      while (j < cws.length) {
        val s = dotAt(v, off, cws(j), floats) * 2.0 - c2(sub)(j)
        if (s >= best) { best = s; bestCw = j } // >= : ties to higher cw
        j += 1
      }
      out(sub) = bestCw
      sub += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** ADC sum — codegen form of Σ_sub tables(sub)(codes(sub)), the
    * per-candidate-pair kernel: m array lookups accumulated in subspace
    * order (left-to-right, same as the interpreted aggregate it
    * replaces).
    */
  def adcSum(codes: ArrayData, tables: ArrayData): Double = {
    val m = codes.numElements()
    if (tables.numElements() != m)
      throw new IllegalArgumentException(
        s"adc_score: $m codes vs ${tables.numElements()} tables")
    var s = 0.0
    var i = 0
    while (i < m) {
      s += tables.getArray(i).getDouble(codes.getInt(i))
      i += 1
    }
    s
  }

  def literal_dots(vec: Column, matrix: Array[Array[Double]]): Column =
    Bridge.column(
      LiteralDotsExpr(Bridge.expression(vec), matrix, signs = false))

  def hyperplane_bucket(vec: Column, planes: Array[Array[Double]]): Column =
    Bridge.column(
      LiteralDotsExpr(Bridge.expression(vec), planes, signs = true))

  def pq_codes(vec: Column, books: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqCodesExpr(Bridge.expression(vec), books))

  def adc_score(codes: Column, tables: Column): Column =
    Bridge.column(
      AdcScoreExpr(Bridge.expression(codes), Bridge.expression(tables)))

  def bq_pack_bits(vec: Column, mu: Array[Double]): Column =
    Bridge.column(BqPackBitsExpr(Bridge.expression(vec), mu))

  def hamming_packed(a: Column, b: Column): Column =
    Bridge.column(
      HammingPackedExpr(Bridge.expression(a), Bridge.expression(b)))

  def cosine_sim(a: Column, b: Column): Column =
    Bridge.column(CosineSimExpr(Bridge.expression(a), Bridge.expression(b)))

  def uint256_add(a: Column, b: Column): Column =
    Bridge.column(
      Uint256Expr(Bridge.expression(a), Bridge.expression(b), sub = false))

  def uint256_sub(a: Column, b: Column): Column =
    Bridge.column(
      Uint256Expr(Bridge.expression(a), Bridge.expression(b), sub = true))
}

case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorKernel.isVector(left.dataType) && left.dataType == right.dataType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim needs two array<float>|array<double>, got " +
        s"${left.dataType}/${right.dataType}")

  private def floats: Boolean = VectorKernel.floats(left.dataType)

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorExpressions.cosine(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], floats)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expressions.VectorExpressions" +
        s".cosine($a, $b, $floats);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CosineSimExpr = copy(left = l, right = r)
}

/** A kernel over one array<float>|array<double> vector and a plan-time
  * constant; `emptyConstant` names that constant when it is empty.
  */
trait VectorKernel extends UnaryExpression {
  protected def emptyConstant: Option[String]

  override def checkInputDataTypes(): TypeCheckResult = emptyConstant match {
    case Some(c) => TypeCheckResult.TypeCheckFailure(s"$prettyName needs $c")
    case None if VectorKernel.isVector(child.dataType) =>
      TypeCheckResult.TypeCheckSuccess
    case None => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<float>|array<double>, got ${child.dataType}")
  }

  protected def floats: Boolean = VectorKernel.floats(child.dataType)
}

object VectorKernel {
  def isVector(t: DataType): Boolean = PartialFunction.cond(t) {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true }
  def floats(t: DataType): Boolean =
    PartialFunction.cond(t) { case ArrayType(FloatType, _) => true }
}

/** literal_dots(vec, matrix): `vec` dotted with every row of a plan-time
  * matrix; hyperplane_bucket(vec, planes) (`signs`): their sign bits as a
  * bigint. One codegen'd loop where Spark's `aggregate`/`zip_with` are
  * interpreted (`CodegenFallback`). A null or mis-sized vector raises.
  */
case class LiteralDotsExpr(child: Expression, matrix: Array[Array[Double]],
                           signs: Boolean)
    extends VectorKernel {

  protected def emptyConstant: Option[String] =
    Option.when(matrix == null || matrix.isEmpty)("a matrix")
  override def nullable: Boolean = false
  override def dataType: DataType =
    if (signs) LongType else ArrayType(DoubleType, containsNull = true)
  override def prettyName: String =
    if (signs) "hyperplane_bucket" else "literal_dots"
  // the matrix prints by value: plans show it, the same in every run
  override def stringArgs: Iterator[Any] = Iterator(child,
    matrix.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]"))

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input).asInstanceOf[ArrayData]
    if (signs) VectorExpressions.hyperplaneSigns(v, matrix, floats)
    else VectorExpressions.literalDots(v, matrix, floats)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val m = ctx.addReferenceObj("litMatrix", matrix, "double[][]")
    val fn = if (signs) "hyperplaneSigns" else "literalDots"
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.expressions.VectorExpressions.$fn(
          ${c.isNull} ? null : ${c.value}, $m, $floats);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): LiteralDotsExpr =
    copy(child = c)
}

/** pq_codes(vec): per-subspace PQ codeword assignment against plan-time
  * codebooks (the fitted training product — codegen reference objects,
  * not per-row plan work).
  */
case class PqCodesExpr(child: Expression,
                       books: Array[Array[Array[Double]]])
    extends VectorKernel {

  protected def emptyConstant: Option[String] = Option.when(
    books == null || books.isEmpty || books.exists(_.isEmpty))("codebooks")

  // ‖c‖² per codeword, accumulated ascending — identical to the column
  // form's driver-side c.map(x => x*x).sum
  @transient private lazy val c2: Array[Array[Double]] =
    books.map(_.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    })

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"

  override def nullSafeEval(v: Any): Any =
    VectorExpressions.pqAssign(v.asInstanceOf[ArrayData], books, c2, floats)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    val c2Ref = ctx.addReferenceObj("pqC2", c2, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.VectorExpressions" +
        s".pqAssign($c, $booksRef, $c2Ref, $floats);")
  }

  override protected def withNewChildInternal(c: Expression): PqCodesExpr =
    copy(child = c)
}

/** adc_score(codes, tables): the per-candidate ADC kernel. */
case class AdcScoreExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"adc_score needs (array<int>, array<array<double>>), got $l/$r")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_score"

  override def nullSafeEval(codes: Any, tables: Any): Any =
    VectorExpressions.adcSum(codes.asInstanceOf[ArrayData],
      tables.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expressions.VectorExpressions" +
        s".adcSum($a, $b);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): AdcScoreExpr =
    copy(left = l, right = r)
}

/** bq_pack_bits(vec): packed sign-bit vector against plan-time
  * per-dimension thresholds (the fitted BQ "training" product — plan
  * metadata like the centroid/codebook literals, entering codegen as one
  * reference object, not per-row work).
  */
case class BqPackBitsExpr(child: Expression, mu: Array[Double])
    extends VectorKernel {

  protected def emptyConstant: Option[String] =
    Option.when(mu == null || mu.isEmpty)("thresholds")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bq_pack_bits"

  override def nullSafeEval(v: Any): Any =
    VectorExpressions.bqPack(v.asInstanceOf[ArrayData], mu, floats)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val muRef = ctx.addReferenceObj("bqMu", mu, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.VectorExpressions" +
        s".bqPack($c, $muRef, $floats);")
  }

  override protected def withNewChildInternal(c: Expression): BqPackBitsExpr =
    copy(child = c)
}

/** hamming_packed(a, b): XOR+popcount hamming distance over packed
  * sign-bit vectors — the BQ candidate kernel.
  */
case class HammingPackedExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  private def longArr(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (longArr(left.dataType) && longArr(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hamming_packed needs two array<bigint>, got " +
        s"${left.dataType}/${right.dataType}")

  override def dataType: DataType = LongType
  override def prettyName: String = "hamming_packed"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorExpressions.hammingPacked(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expressions.VectorExpressions" +
        s".hammingPacked($a, $b);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): HammingPackedExpr =
    copy(left = l, right = r)
}

case class Uint256Expr(left: Expression, right: Expression, sub: Boolean)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"uint256 ops need binary, got ${left.dataType}/${right.dataType}")

  override def dataType: DataType = BinaryType
  override def prettyName: String = if (sub) "uint256_sub" else "uint256_add"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorExpressions.u256(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Array[Byte]], sub)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expressions.VectorExpressions" +
        s".u256($a, $b, $sub);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Uint256Expr = copy(left = l, right = r)
}
