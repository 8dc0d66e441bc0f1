package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.core.Metrics

/** Pairwise vector distance as a native Catalyst expression (codegen'd).
  *
  * Capability parity with the reference's distance kernel
  * (`/root/reference/src/fenix/io/coder/coder.py:38-50` and the per-batch
  * Arrow UDF `/root/reference/src/fenix/io/index/index.py:133-159`) but
  * implemented as a whole-stage-codegen-friendly `Expression`: the generated
  * Java loop reads both `ArrayData` backing buffers directly — no boxing, no
  * per-row allocation, stays inside `WholeStageCodegen`.
  *
  * `metric` must already be canonical ("l2" | "cosine" | "dot"); use
  * [[graft.functions.functions.vector_distance]] which canonicalizes.
  * Accumulates in double precision; accepts float or double arrays on either
  * side independently (no array-widening cast is inserted, so float columns
  * are read in place).
  */
case class VectorDistance(left: Expression, right: Expression, metric: String)
    extends BinaryExpression {

  private def vecType(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _                                                  => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (vecType(left.dataType) && vecType(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>/array<double> inputs, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_distance"

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // what nullSafeEval dispatches on, resolved once rather than per row
  // (lazy: the children are unresolved at construction time)
  @transient private lazy val leftFloat = isFloat(left)
  @transient private lazy val rightFloat = isFloat(right)
  @transient private lazy val kernel: Int = metric match {
    case "l2" => 0
    case "cosine" => 1
    case "dot" => 2
  }

  override def nullSafeEval(uAny: Any, vAny: Any): Any = {
    val u = uAny.asInstanceOf[ArrayData]
    val v = vAny.asInstanceOf[ArrayData]
    val n = u.numElements()
    if (v.numElements() != n)
      throw new IllegalArgumentException(
        s"vector_distance: dim mismatch ${n} vs ${v.numElements()}")
    val uf = leftFloat; val vf = rightFloat
    var c = 0
    while (c < n) {
      if (u.isNullAt(c) || v.isNullAt(c))
        throw new IllegalArgumentException("vector_distance: null vector element")
      c += 1
    }
    @inline def ue(i: Int): Double = if (uf) u.getFloat(i).toDouble else u.getDouble(i)
    @inline def ve(i: Int): Double = if (vf) v.getFloat(i).toDouble else v.getDouble(i)
    kernel match {
      case 0 =>
        var acc = 0.0; var i = 0
        while (i < n) { val d = ue(i) - ve(i); acc += d * d; i += 1 }
        math.sqrt(acc)
      case 1 =>
        var dot = 0.0; var nu = 0.0; var nv = 0.0; var i = 0
        while (i < n) {
          val a = ue(i); val b = ve(i)
          dot += a * b; nu += a * a; nv += b * b; i += 1
        }
        0.5 - 0.5 * (dot / math.sqrt(nu * nv))
      case _ =>
        var dot = 0.0; var i = 0
        while (i < n) { dot += ue(i) * ve(i); i += 1 }
        -dot
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (u, v) => {
      // every local is freshName'd: this code can be inlined into methods
      // whose parameters use common names (UnsafeProjection's row is `i`)
      val n = ctx.freshName("n")
      val idx = ctx.freshName("idx")
      val uGet = if (isFloat(left)) s"(double) $u.getFloat($idx)" else s"$u.getDouble($idx)"
      val vGet = if (isFloat(right)) s"(double) $v.getFloat($idx)" else s"$v.getDouble($idx)"
      val check =
        s"""
           |final int $n = $u.numElements();
           |if ($v.numElements() != $n) {
           |  throw new IllegalArgumentException(
           |    "vector_distance: dim mismatch " + $n + " vs " + $v.numElements());
           |}
           |for (int $idx = 0; $idx < $n; $idx++) {
           |  if ($u.isNullAt($idx) || $v.isNullAt($idx)) {
           |    throw new IllegalArgumentException("vector_distance: null vector element");
           |  }
           |}
         """.stripMargin
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val dotV = ctx.freshName("dot")
      val nu = ctx.freshName("nu")
      val nv = ctx.freshName("nv")
      val a = ctx.freshName("a")
      val b = ctx.freshName("b")
      val body = metric match {
        case "l2" =>
          s"""
             |double $acc = 0.0;
             |for (int $idx = 0; $idx < $n; $idx++) {
             |  final double $d = $uGet - $vGet;
             |  $acc += $d * $d;
             |}
             |${ev.value} = Math.sqrt($acc);
           """.stripMargin
        case "cosine" =>
          s"""
             |double $dotV = 0.0; double $nu = 0.0; double $nv = 0.0;
             |for (int $idx = 0; $idx < $n; $idx++) {
             |  final double $a = $uGet; final double $b = $vGet;
             |  $dotV += $a * $b; $nu += $a * $a; $nv += $b * $b;
             |}
             |${ev.value} = 0.5 - 0.5 * ($dotV / Math.sqrt($nu * $nv));
           """.stripMargin
        case "dot" =>
          s"""
             |double $dotV = 0.0;
             |for (int $idx = 0; $idx < $n; $idx++) { $dotV += $uGet * $vGet; }
             |${ev.value} = -$dotV;
           """.stripMargin
      }
      check + body
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
