package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Affine dequantization of a uint8 tensor payload:
  * `out[i] = scale * (bytes[i] - zeroPoint)`.
  *
  * Capability parity with the reference quantized tensor type
  * (`/root/reference/src/fenix/ex/arrow/quint8/quint8.py:52-87`): Spark has
  * no unsigned byte type, so quantized tensors travel as `binary` (one
  * uint8 per element) with `{shape, scale, zeroPoint}` in column metadata
  * (see [[graft.types.Tensors]]) and this expression decodes on demand —
  * codegen'd, allocation = one float array per row.
  */
case class Dequantize(child: Expression, scale: Float, zeroPoint: Float)
    extends UnaryExpression {
  // NaN/Infinity params are reachable from SQL (`graft_dequantize(b,
  // double('nan'), 0)`) and would interpolate as uncompilable Java in
  // doGenCode — fail at analysis time instead of falling back to
  // interpreted eval that silently produces NaNs.
  require(java.lang.Float.isFinite(scale) && java.lang.Float.isFinite(zeroPoint),
    s"graft_dequantize: scale/zeroPoint must be finite, got ($scale, $zeroPoint)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_dequantize expects binary, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "graft_dequantize"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val out = new Array[Float](bytes.length)
    var i = 0
    while (i < bytes.length) {
      out(i) = scale * ((bytes(i) & 0xFF) - zeroPoint)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val out = ctx.freshName("out")
      val i = ctx.freshName("idx")
      s"""
         |float[] $out = new float[$b.length];
         |for (int $i = 0; $i < $b.length; $i++) {
         |  $out[$i] = ${scale}f * (($b[$i] & 0xFF) - ${zeroPoint}f);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Affine quantization of a float/double array to a uint8 payload — the
  * codegen'd inverse of [[Dequantize]] and the hot-path twin of
  * `Tensors.quantizeUdf` (bit-identical rounding, asserted in tests):
  * `out[i] = clamp(round(x[i] / scale + zeroPoint), 0, 255)`, computed in
  * double so the rounding boundary is exact — the SQL `graft_quantize`.
  * (The SQ8 index encodes with [[QuantizePerCellDim]].)
  */
case class Quantize(child: Expression, scale: Float, zeroPoint: Float)
    extends UnaryExpression {
  // see Dequantize: non-finite params would render as `NaNf`/`Infinityf`
  // in the generated Java; a zero scale silently divides to ±Infinity
  require(java.lang.Float.isFinite(scale) && scale != 0f &&
      java.lang.Float.isFinite(zeroPoint),
    s"graft_quantize: scale must be finite non-zero and zeroPoint finite, " +
      s"got ($scale, $zeroPoint)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_quantize expects array<float|double>, got ${other.catalogString}")
  }

  // lazy: the child is unresolved (NullType) at construction time
  private lazy val childIsFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_quantize"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      // a null ELEMENT would silently encode as garbage — fail loudly
      // (ingest-time shape enforcement should have caught it upstream)
      if (arr.isNullAt(i)) throw new IllegalArgumentException(
        s"graft_quantize: null element at index $i — quantize needs dense vectors")
      val x = if (childIsFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      val q = math.round(x / scale + zeroPoint)
      out(i) = math.max(0L, math.min(255L, q)).toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      val i = ctx.freshName("idx")
      val n = ctx.freshName("n")
      val q = ctx.freshName("q")
      val get = if (childIsFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "graft_quantize: null element at index " + $i +
         |      " — quantize needs dense vectors");
         |  }
         |  long $q = Math.round($get / ((double) ${scale}f) + ((double) ${zeroPoint}f));
         |  $out[$i] = (byte) Math.max(0L, Math.min(255L, $q));
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The one parameter layout of the per-dimension quantizer kernels
  * ([[QuantizePerCellDim]], [[DequantizePerCellDim]],
  * [[PackSignBitsPerCell]], [[DequantizeSignBitsPerCell]]): `cells` is
  * the SORTED list of cell ids the params were fitted on, and each flat
  * param array holds one `dim`-long block per cell in that order plus
  * one trailing GLOBAL block. A row whose cell is not in `cells` (a cell
  * the build never saw, possible after incremental sync) reads the
  * global block, exactly as its encode did. A global codec is this
  * layout with no cells: every row reads the one block. Params ride the
  * plan as `IndexedSeq`s so case-class equality stays structural (array
  * fields compare by reference and defeat Catalyst subexpression
  * elimination); eval and codegen read flat arrays.
  */
object CellBlocks {
  /** The block length of a layout, refusing a malformed one. */
  def dim(kernel: String, cells: IndexedSeq[Long], params: IndexedSeq[_]*): Int = {
    val n = params.head.length
    require(n > 0 && params.forall(_.length == n),
      s"$kernel: param arrays must be non-empty and of one length, got " +
        params.map(_.length).mkString(", "))
    require(n % (cells.length + 1) == 0,
      s"$kernel: $n params not divisible into ${cells.length + 1} blocks " +
        "(cells + global fallback)")
    require(cells.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
      s"$kernel: cell ids must be strictly sorted")
    n / (cells.length + 1)
  }

  /** Offset of `cell`'s block in the flat params. Generated code calls it
    * too. */
  def base(cells: Array[Long], cell: Long, dim: Int): Int = {
    val i = java.util.Arrays.binarySearch(cells, cell)
    (if (i >= 0) i else cells.length) * dim
  }

  /** The Java expression of [[base]] in generated code. */
  private[functions] def baseCode(cells: String, cell: String, dim: Int): String =
    s"graft.functions.CellBlocks.base($cells, $cell, $dim)"
}

/** Per-(cell, dimension) affine quantization, the SQ8 tier's encode:
  * `out[i] = clamp(round(x[i] / scales[b + i] + zeroPoints[b + i]), 0, 255)`
  * with `b` the offset of the row's block ([[CellBlocks]]). One (scale,
  * zeroPoint) pair PER DIMENSION is the standard scalar-quantizer
  * formulation: an outlier element in one dimension cannot collapse the
  * others' resolution. Per-cell blocks are the SemDeDup setting:
  * heterogeneous clusters whose per-dimension ranges are disjoint, where
  * one shared range wastes most of the 8 bits on BETWEEN-cluster spread.
  * Computed in double, so the rounding boundary is exact. A vector whose
  * length is not the block length encodes garbage, so it throws.
  */
case class QuantizePerCellDim(child: Expression, cell: Expression,
    cells: IndexedSeq[Long], scales: IndexedSeq[Float],
    zeroPoints: IndexedSeq[Float])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  private val dim = CellBlocks.dim("per-cell quantize", cells, scales, zeroPoints)
  // non-finite params would render as `NaNf`/`Infinityf`; a zero scale
  // silently divides to ±Infinity
  require(scales.forall(s => java.lang.Float.isFinite(s) && s != 0f) &&
      zeroPoints.forall(java.lang.Float.isFinite),
    "per-cell quantize: every scale must be finite non-zero and every zeroPoint finite")

  @transient private lazy val cellsArr: Array[Long] = cells.toArray
  @transient private lazy val scalesArr: Array[Float] = scales.toArray
  @transient private lazy val zpArr: Array[Float] = zeroPoints.toArray

  override def left: Expression = child
  override def right: Expression = cell

  override def checkInputDataTypes(): TypeCheckResult = (child.dataType, cell.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), LongType) => TypeCheckResult.TypeCheckSuccess
    case (c, l) => TypeCheckResult.TypeCheckFailure(
      s"per-cell quantize expects (array<float|double>, bigint), got " +
        s"(${c.catalogString}, ${l.catalogString})")
  }

  // lazy: the child is unresolved (NullType) at construction time
  private lazy val childIsFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_quantize_cell_dims"

  override def nullSafeEval(input: Any, cellAny: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"graft_quantize_cell_dims: vector has $n dims but params have $dim")
    val base = CellBlocks.base(cellsArr, cellAny.asInstanceOf[Long], dim)
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) throw new IllegalArgumentException(
        s"graft_quantize_cell_dims: null element at index $i")
      val x = if (childIsFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      val q = math.round(x / scalesArr(base + i) + zpArr(base + i))
      out(i) = math.max(0L, math.min(255L, q)).toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, c) => {
      val cl = ctx.addReferenceObj("cells", cellsArr, "long[]")
      val s = ctx.addReferenceObj("scales", scalesArr, "float[]")
      val z = ctx.addReferenceObj("zeroPoints", zpArr, "float[]")
      val out = ctx.freshName("out"); val i = ctx.freshName("idx")
      val n = ctx.freshName("n"); val q = ctx.freshName("q")
      val base = ctx.freshName("base")
      val get = if (childIsFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($n != $dim) {
         |  throw new IllegalArgumentException(
         |    "graft_quantize_cell_dims: vector has " + $n + " dims but params have $dim");
         |}
         |final int $base = ${CellBlocks.baseCode(cl, c, dim)};
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "graft_quantize_cell_dims: null element at index " + $i);
         |  }
         |  long $q = Math.round($get / ((double) $s[$base + $i]) + ((double) $z[$base + $i]));
         |  $out[$i] = (byte) Math.max(0L, Math.min(255L, $q));
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, cell = newRight)
}

/** Per-(cell, dimension) affine dequantization — the inverse of
  * [[QuantizePerCellDim]] over the same layout:
  * `out[i] = scales[b + i] * (bytes[i] - zeroPoints[b + i])`. */
case class DequantizePerCellDim(child: Expression, cell: Expression,
    cells: IndexedSeq[Long], scales: IndexedSeq[Float],
    zeroPoints: IndexedSeq[Float])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  private val dim = CellBlocks.dim("per-cell dequantize", cells, scales, zeroPoints)
  require(scales.forall(java.lang.Float.isFinite) &&
      zeroPoints.forall(java.lang.Float.isFinite),
    "per-cell dequantize: every scale and zeroPoint must be finite")

  @transient private lazy val cellsArr: Array[Long] = cells.toArray
  @transient private lazy val scalesArr: Array[Float] = scales.toArray
  @transient private lazy val zpArr: Array[Float] = zeroPoints.toArray

  override def left: Expression = child
  override def right: Expression = cell

  override def checkInputDataTypes(): TypeCheckResult = (child.dataType, cell.dataType) match {
    case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
    case (c, l) => TypeCheckResult.TypeCheckFailure(
      s"per-cell dequantize expects (binary, bigint), got " +
        s"(${c.catalogString}, ${l.catalogString})")
  }

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "graft_dequantize_cell_dims"

  override def nullSafeEval(input: Any, cellAny: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    if (bytes.length != dim) throw new IllegalArgumentException(
      s"graft_dequantize_cell_dims: payload has ${bytes.length} dims but params have $dim")
    val base = CellBlocks.base(cellsArr, cellAny.asInstanceOf[Long], dim)
    val out = new Array[Float](bytes.length)
    var i = 0
    while (i < bytes.length) {
      out(i) = scalesArr(base + i) * ((bytes(i) & 0xFF) - zpArr(base + i))
      i += 1
    }
    // the floats as they are: a generic array would box each one
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, c) => {
      val cl = ctx.addReferenceObj("cells", cellsArr, "long[]")
      val s = ctx.addReferenceObj("scales", scalesArr, "float[]")
      val z = ctx.addReferenceObj("zeroPoints", zpArr, "float[]")
      val out = ctx.freshName("out"); val i = ctx.freshName("idx")
      val base = ctx.freshName("base")
      s"""
         |if ($b.length != $dim) {
         |  throw new IllegalArgumentException(
         |    "graft_dequantize_cell_dims: payload has " + $b.length +
         |    " dims but params have $dim");
         |}
         |final int $base = ${CellBlocks.baseCode(cl, c, dim)};
         |float[] $out = new float[$b.length];
         |for (int $i = 0; $i < $b.length; $i++) {
         |  $out[$i] = $s[$base + $i] * (($b[$i] & 0xFF) - $z[$base + $i]);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, cell = newRight)
}
