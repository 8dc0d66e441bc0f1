package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, index), so Spark executors and the driver-side oracles
  * regenerate exactly the same inputs without shipping them around.
  * The graph is a Spark expression; its oracles read the collected
  * edges. */
object Gen {
  /** SplitMix64 finalizer over (seed, x): a well-mixed 64-bit stream
    * key for `java.util.Random`. */
  def mix(seed: Long, x: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + x * 0xD1B54A32D192ED03L + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, x: Long): java.util.Random =
    new java.util.Random(mix(mix(seed, stream), x))

  // ——— vectors: the reference fixture shape (clustered float32 rows;
  // consecutive blocks of `ClusterSize` ids share a centre 10x the
  // per-row spread). The centres are the same for every seed and the
  // rows around them follow the seed: the IVF layout, which sets what a
  // probed search costs, then keeps one shape across seeds ———

  val ClusterSize = 1000

  def vector(seed: Long, id: Long, dim: Int): Array[Float] = {
    val center = rng(0L, 1, id / ClusterSize)
    val own = rng(seed, 2, id)
    Array.tabulate(dim)(_ =>
      (center.nextGaussian() * 10.0 + own.nextGaussian()).toFloat)
  }

  /** A query near corpus row `id`: the row plus small seeded noise, so
    * its source is its exact nearest neighbour and no two queries are
    * identical. */
  def queryNear(seed: Long, stream: Long, id: Long, base: Array[Float]): Array[Double] = {
    val r = rng(seed, stream, id)
    base.map(x => x.toDouble + r.nextGaussian() * 0.05)
  }

  // ——— documents: Zipf-like vocabulary, near-duplicates injected with
  // known sources ———

  final case class Docs(ids: Array[Long], texts: Array[String],
      /** (duplicate id, source id) for every injected near-duplicate */
      injected: Array[(Long, Long)])

  def docs(seed: Long, n: Int, vocab: Int, dupShare: Double): Docs = {
    val r = rng(seed, 3, 0)
    // Zipf(s = 1.1) by inverse CDF over a precomputed table
    val w = Array.tabulate(vocab)(i => 1.0 / math.pow(i + 1, 1.1))
    val cdf = w.scanLeft(0.0)(_ + _).tail
    val total = cdf.last
    def term(): String = {
      val u = r.nextDouble() * total
      var lo = 0; var hi = vocab - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
      "t" + lo
    }
    val nDup = (n * dupShare).toInt
    val nOrig = n - nDup
    val texts = new Array[String](n)
    for (i <- 0 until nOrig)
      texts(i) = Array.fill(40 + r.nextInt(40))(term()).mkString(" ")
    val injected = new Array[(Long, Long)](nDup)
    for (j <- 0 until nDup) {
      val src = r.nextInt(nOrig)
      val toks = texts(src).split(" ")
      // two substituted tokens keep word-3-shingle Jaccard above ~0.75
      for (_ <- 0 until 2) toks(r.nextInt(toks.length)) = term()
      texts(nOrig + j) = toks.mkString(" ")
      injected(j) = ((nOrig + j).toLong, src.toLong)
    }
    Docs(Array.tabulate(n)(_.toLong), texts, injected)
  }

  // ——— graph: the shape of graft.Bench's `graph_pagerank_2m` at a
  // smaller size: edge i runs from node i % nodes; every 200th edge
  // points at the hub (node 0), the rest at a hashed node, with the
  // seed mixed into the hash; self-loops are dropped ———

  def edges(spark: SparkSession, seed: Long, nEdges: Long, nNodes: Long): DataFrame =
    spark.range(nEdges).select(
      (col("id") % nNodes).as("src"),
      when(col("id") % 200 === 0, lit(0L)).otherwise(
        pmod(hash(col("id") * 2654435761L, lit(seed)), lit(nNodes))).as("dst"))
      .filter(col("src") =!= col("dst"))
}
