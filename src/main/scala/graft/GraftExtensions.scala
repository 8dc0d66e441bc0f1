package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Metrics
import graft.functions.{Dequantize, HammingDistancePair, PackSignBitsPerCell, Quantize, VectorDistance, VectorNorm, VectorNormalize, WinnowFingerprints}

/** SQL-surface registration.
  *
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `Graft.register(spark)` on an existing session) exposes the engine's
  * native expressions to SQL:
  *
  * {{{
  *   SELECT vector_distance(embedding, other, 'cosine') FROM t
  *   SELECT graft_dequantize(payload, 0.5, 128) FROM media
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.inject(ext)
}

object GraftExtensions {
  private def strArg(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case other =>
      throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  private def numArg(e: Expression, what: String): Double = e match {
    case Literal(v, _) if v != null => v.toString.toDouble
    case other =>
      throw new IllegalArgumentException(s"$what must be a numeric literal, got $other")
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vector_distance"),
      new ExpressionInfo(classOf[VectorDistance].getName, "vector_distance",
        "vector_distance(u, v, metric) - distance between two float/double arrays " +
          "under metric in (cosine|dot|inner_product|l2|euclidean); smaller = nearer"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "vector_distance(u, v, metric)")
        VectorDistance(args(0), args(1), Metrics.canonical(strArg(args(2), "metric")))
      }),
    (FunctionIdentifier("maxsim"),
      new ExpressionInfo(classOf[graft.functions.MaxSim].getName, "maxsim",
        "maxsim(docTokens, queryTokens, metric) - late-interaction (ColBERT) " +
          "MaxSim distance between two array<array<float|double>> token sets " +
          "under metric in (dot|cosine): -sum over query tokens of the max " +
          "per-doc-token similarity; smaller = nearer"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "maxsim(docTokens, queryTokens, metric)")
        graft.functions.MaxSim(args(0), args(1), strArg(args(2), "metric"))
      }),
    (FunctionIdentifier("vector_norm"),
      new ExpressionInfo(classOf[VectorNorm].getName, "vector_norm",
        "vector_norm(v) - L2 norm of a float/double array"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "vector_norm(v)")
        VectorNorm(args(0))
      }),
    (FunctionIdentifier("vector_normalize"),
      new ExpressionInfo(classOf[VectorNormalize].getName, "vector_normalize",
        "vector_normalize(v) - L2-normalize a float/double array to unit length"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "vector_normalize(v)")
        VectorNormalize(args(0))
      }),
    (FunctionIdentifier("graft_dequantize"),
      new ExpressionInfo(classOf[Dequantize].getName, "graft_dequantize",
        "graft_dequantize(bytes, scale, zeroPoint) - affine-dequantize a uint8 " +
          "tensor payload to array<float>: scale * (x - zeroPoint)"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_dequantize(bytes, scale, zeroPoint)")
        Dequantize(args(0),
          numArg(args(1), "scale").toFloat, numArg(args(2), "zeroPoint").toFloat)
      }),
    (FunctionIdentifier("graft_quantize"),
      new ExpressionInfo(classOf[Quantize].getName, "graft_quantize",
        "graft_quantize(v, scale, zeroPoint) - affine-quantize a float/double " +
          "array to a uint8 payload: clamp(round(x / scale + zeroPoint), 0, 255)"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_quantize(v, scale, zeroPoint)")
        Quantize(args(0),
          numArg(args(1), "scale").toFloat, numArg(args(2), "zeroPoint").toFloat)
      }),
    (FunctionIdentifier("pack_sign_bits"),
      new ExpressionInfo(classOf[PackSignBitsPerCell].getName, "pack_sign_bits",
        "pack_sign_bits(v, dims) - pack a float/double array's sign bits " +
          "(x > 0) MSB-first into ceil(dims/8) bytes; the 1-bit binary- " +
          "quantization code (library paths threshold at the per-dim mean)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "pack_sign_bits(v, dims)")
        // the sign-pack kernel with no cells: one zero-threshold block
        PackSignBitsPerCell(args(0), Literal(0L), IndexedSeq.empty,
          IndexedSeq.fill(numArg(args(1), "dims").toInt)(0.0))
      }),
    (FunctionIdentifier("hamming_distance"),
      new ExpressionInfo(classOf[HammingDistancePair].getName, "hamming_distance",
        "hamming_distance(a, b) - popcount of the bytewise XOR of two " +
          "equal-length binary codes (sign-bit Hamming distance)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "hamming_distance(a, b)")
        HammingDistancePair(args(0), args(1))
      }),
    (FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[graft.functions.JaroWinkler].getName,
        "jaro_winkler",
        "jaro_winkler(a, b) - Jaro-Winkler similarity in [0, 1] between " +
          "two strings (prefix-boosted above jaro 0.7, cap 4, scale 0.1)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "jaro_winkler(a, b)")
        graft.functions.JaroWinkler(args(0), args(1))
      }),
    (FunctionIdentifier("winnow_fingerprints"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fingerprints",
        "winnow_fingerprints(text, k, window) - distinct MOSS winnowing " +
          "fingerprints (array<bigint>) of the k-gram code-point rolling " +
          "hashes, minimum per sliding window"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "winnow_fingerprints(text, k, window)")
        WinnowFingerprints(args(0),
          numArg(args(1), "k").toInt, numArg(args(2), "window").toInt)
      }),
  )

  def inject(ext: SparkSessionExtensions): Unit =
    functions.foreach(ext.injectFunction)
}

/** Session-level registration for already-running sessions. */
object Graft {
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      registry.registerFunction(ident, info, builder)
    }
  }
}
