package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Sign-bit packing of a float vector against per-(cell, dimension)
  * thresholds: bit `i` is set iff `x[i] > thresholds[b + i]`, with `b`
  * the offset of the row's block ([[CellBlocks]]), packed MSB-first into
  * `ceil(d/8)` bytes — the 1-bit code of the IVF+BQ tier (32× smaller
  * than float32). With thresholds at the per-dimension mean this is the
  * classic one-bit-per-dimension code whose Hamming distance tracks
  * angular/L2 proximity (sign-random-projection family, Charikar 2002,
  * here with the identity "projection" and mean-centering). Per-cell
  * thresholds make the bits encode WITHIN-cell (residual) variation:
  * under a clustered corpus a globally-centered sign code degenerates
  * into a cluster id (every member shares the sign pattern of its
  * cluster offset), carrying no information about a query's true
  * neighbors, which all live in the same cells. MSB-first packing keeps
  * the code a pure function of the input; the SQL `pack_sign_bits(v,
  * dims)` is this kernel with no cells and zero thresholds. */
case class PackSignBitsPerCell(child: Expression, cell: Expression,
    cells: IndexedSeq[Long], thresholds: IndexedSeq[Double])
    extends BinaryExpression {
  private val dim = CellBlocks.dim("per-cell pack", cells, thresholds)
  require(thresholds.forall(java.lang.Double.isFinite),
    "per-cell pack: every threshold must be finite")

  @transient private lazy val cellsArr: Array[Long] = cells.toArray
  @transient private lazy val thrArr: Array[Double] = thresholds.toArray

  override def left: Expression = child
  override def right: Expression = cell

  override def checkInputDataTypes(): TypeCheckResult = (child.dataType, cell.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), LongType) => TypeCheckResult.TypeCheckSuccess
    case (c, l) => TypeCheckResult.TypeCheckFailure(
      s"per-cell pack expects (array<float|double>, bigint), got " +
        s"(${c.catalogString}, ${l.catalogString})")
  }

  private lazy val childIsFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def dataType: DataType = BinaryType
  // with no cells this is the SQL `pack_sign_bits`: it keeps that
  // function's name, and its constant cell stays out of the SQL text
  override def prettyName: String =
    if (cells.isEmpty) "graft_pack_sign_bits" else "graft_pack_sign_bits_cell"
  override def sql: String =
    if (cells.isEmpty) s"$prettyName(${child.sql})" else super.sql

  override def nullSafeEval(input: Any, cellAny: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"$prettyName: vector has $n dims but thresholds have $dim")
    val base = CellBlocks.base(cellsArr, cellAny.asInstanceOf[Long], dim)
    val out = new Array[Byte]((n + 7) / 8)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) throw new IllegalArgumentException(
        s"$prettyName: null element at index $i — needs dense vectors")
      val x = if (childIsFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      if (x > thrArr(base + i)) out(i >> 3) = (out(i >> 3) | (0x80 >> (i & 7))).toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, c) => {
      val cl = ctx.addReferenceObj("cells", cellsArr, "long[]")
      val t = ctx.addReferenceObj("thresholds", thrArr, "double[]")
      val out = ctx.freshName("out"); val i = ctx.freshName("idx")
      val n = ctx.freshName("n"); val base = ctx.freshName("base")
      val get = if (childIsFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($n != $dim) {
         |  throw new IllegalArgumentException(
         |    "$prettyName: vector has " + $n + " dims but thresholds have $dim");
         |}
         |final int $base = ${CellBlocks.baseCode(cl, c, dim)};
         |byte[] $out = new byte[($n + 7) / 8];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "$prettyName: null element at index " + $i + " — needs dense vectors");
         |  }
         |  if ($get > $t[$base + $i]) {
         |    $out[$i >> 3] = (byte) ($out[$i >> 3] | (0x80 >> ($i & 7)));
         |  }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, cell = newRight)
}

/** Asymmetric decode of a packed sign-bit code over the
  * [[PackSignBitsPerCell]] layout: each bit reconstructs to its side's
  * CONDITIONAL MEAN, `out[i] = bit_i ? hi[b + i] : lo[b + i]` — the
  * optimal (MMSE) 1-bit scalar dequantizer given the build-time split.
  * Ranking `vector_distance(reconstruction, query)` keeps the query at
  * full float precision and per-dimension magnitudes in the ranking,
  * while the corpus-side scan still reads only ceil(d/8) bytes per
  * row. */
case class DequantizeSignBitsPerCell(child: Expression, cell: Expression,
    cells: IndexedSeq[Long], lo: IndexedSeq[Float], hi: IndexedSeq[Float])
    extends BinaryExpression {
  private val dim = CellBlocks.dim("per-cell sign decode", cells, lo, hi)
  require(lo.forall(java.lang.Float.isFinite) && hi.forall(java.lang.Float.isFinite),
    "per-cell sign decode: every reconstruction level must be finite")

  @transient private lazy val cellsArr: Array[Long] = cells.toArray
  @transient private lazy val loArr: Array[Float] = lo.toArray
  @transient private lazy val hiArr: Array[Float] = hi.toArray

  override def left: Expression = child
  override def right: Expression = cell

  override def checkInputDataTypes(): TypeCheckResult = (child.dataType, cell.dataType) match {
    case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
    case (c, l) => TypeCheckResult.TypeCheckFailure(
      s"per-cell sign decode expects (binary, bigint), got " +
        s"(${c.catalogString}, ${l.catalogString})")
  }

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "graft_dequantize_sign_bits_cell"

  override def nullSafeEval(input: Any, cellAny: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    if (bytes.length != (dim + 7) / 8) throw new IllegalArgumentException(
      s"graft_dequantize_sign_bits_cell: code has ${bytes.length} bytes for $dim dims")
    val base = CellBlocks.base(cellsArr, cellAny.asInstanceOf[Long], dim)
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      out(i) = if ((bytes(i >> 3) & (0x80 >> (i & 7))) != 0) hiArr(base + i)
        else loArr(base + i)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, c) => {
      val cl = ctx.addReferenceObj("cells", cellsArr, "long[]")
      val l = ctx.addReferenceObj("loLevels", loArr, "float[]")
      val h = ctx.addReferenceObj("hiLevels", hiArr, "float[]")
      val out = ctx.freshName("out"); val i = ctx.freshName("idx")
      val base = ctx.freshName("base")
      s"""
         |if ($b.length != ($dim + 7) / 8) {
         |  throw new IllegalArgumentException(
         |    "graft_dequantize_sign_bits_cell: code has " + $b.length + " bytes for $dim dims");
         |}
         |final int $base = ${CellBlocks.baseCode(cl, c, dim)};
         |float[] $out = new float[$dim];
         |for (int $i = 0; $i < $dim; $i++) {
         |  $out[$i] = (($b[$i >> 3] & (0x80 >> ($i & 7))) != 0) ? $h[$base + $i] : $l[$base + $i];
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, cell = newRight)
}

/** Hamming distance between two packed sign-bit code columns (both
  * binary, as [[PackSignBitsPerCell]] packs them): popcount of the
  * bytewise XOR — the SQL `hamming_distance`. Integer and exactly
  * deterministic. */
case class HammingDistancePair(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hamming_pair expects (binary, binary), got (${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_hamming_pair"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[Array[Byte]]
    val b = r.asInstanceOf[Array[Byte]]
    if (a.length != b.length) throw new IllegalArgumentException(
      s"graft_hamming_pair: code lengths differ (${a.length} vs ${b.length})")
    var acc = 0
    var i = 0
    while (i < a.length) {
      acc += java.lang.Integer.bitCount((a(i) ^ b(i)) & 0xff)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("idx")
      s"""
         |if ($a.length != $b.length) {
         |  throw new IllegalArgumentException(
         |    "graft_hamming_pair: code lengths differ (" + $a.length + " vs " + $b.length + ")");
         |}
         |int $acc = 0;
         |for (int $i = 0; $i < $a.length; $i++) {
         |  $acc += java.lang.Integer.bitCount(($a[$i] ^ $b[$i]) & 0xff);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}
