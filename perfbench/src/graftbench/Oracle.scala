package graftbench

/** Plain-Scala reference answers, computed from the generated inputs
  * alone (never from graft's outputs). */
object Oracle {
  def l2(a: Array[Double], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i).toDouble; acc += d * d; i += 1 }
    math.sqrt(acc)
  }

  /** Exact top-k ids by l2 over `corpus` (row index = id). */
  def topK(corpus: Array[Array[Float]], q: Array[Double], k: Int): Array[Long] = {
    val ids = Array.fill(k)(-1L)
    val ds = Array.fill(k)(Double.PositiveInfinity)
    var i = 0
    while (i < corpus.length) {
      val d = l2(q, corpus(i))
      if (d < ds(k - 1)) {
        var j = k - 1
        while (j > 0 && ds(j - 1) > d) { ds(j) = ds(j - 1); ids(j) = ids(j - 1); j -= 1 }
        ds(j) = d; ids(j) = i
      }
      i += 1
    }
    ids.filter(_ >= 0)
  }

  /** Checks one top-k answer: `k` distinct ids, ascending distances that
    * equal the true distances, and `source` at rank 1. Returns the
    * failure, if any. */
  def checkTopK(corpus: Array[Array[Float]], q: Array[Double], k: Int,
      ids: Seq[Long], dists: Seq[Double], source: Long): Option[String] = {
    if (ids.length != math.min(k, corpus.length))
      return Some(s"expected $k results, got ${ids.length}")
    if (ids.distinct.length != ids.length) return Some("duplicate ids")
    if (ids.exists(id => id < 0 || id >= corpus.length))
      return Some("id outside the corpus")
    if (dists.zip(dists.drop(1)).exists { case (a, b) => a > b })
      return Some("distances not ascending")
    val bad = ids.zip(dists).find { case (id, d) =>
      math.abs(l2(q, corpus(id.toInt)) - d) > 1e-6 * (1.0 + d)
    }
    if (bad.isDefined) return Some(s"wrong distance for id ${bad.get._1}")
    if (ids.head != source) Some(s"rank 1 is ${ids.head}, expected $source") else None
  }

  // ——— graph oracles ———

  /** Connected-component count by union-find over the undirected edges. */
  def componentCount(edges: Array[(Long, Long)]): Int = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.count(k => find(k) == k)
  }

  /** Exact triangle count by the forward algorithm (Schank & Wagner
    * 2005): orient each edge from its (degree, id)-smaller endpoint and
    * intersect sorted out-neighbour lists. */
  def triangleCount(edges: Array[(Long, Long)]): Long = {
    val und = edges.iterator.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val deg = scala.collection.mutable.HashMap.empty[Long, Int].withDefaultValue(0)
    und.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    def before(x: Long, y: Long) = deg(x) < deg(y) || (deg(x) == deg(y) && x < y)
    val out = und.toSeq.map { case (a, b) => if (before(a, b)) (a, b) else (b, a) }
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).sorted.toArray }
    val empty = Array.empty[Long]
    var t = 0L
    out.foreach { case (u, nu) =>
      nu.foreach { v =>
        val nv = out.getOrElse(v, empty)
        var i = 0; var j = 0
        while (i < nu.length && j < nv.length) {
          if (nu(i) == nv(j)) { t += 1; i += 1; j += 1 }
          else if (nu(i) < nv(j)) i += 1 else j += 1
        }
      }
    }
    t
  }

  /** Top-k (node, rank) of fixed-point PageRank by power iteration, in
    * the integer arithmetic `graft.ext.Graph.pageRank` documents:
    * contributions `rank div out_deg`, `rank' = base + (damp * in) div
    * 1000`, dangling mass dropped. Ties break on the smaller id. */
  def pageRankTop(edges: Array[(Long, Long)], iterations: Int, dampPerMille: Long,
      scale: Long, k: Int): Seq[(Long, Long)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val outDeg = e.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    val init = scale / nodes.length
    val base = ((1000L - dampPerMille) * init) / 1000L
    var rank = nodes.map(_ -> init).toMap
    for (_ <- 1 to iterations) {
      val in = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      e.foreach { case (s, d) => in(d) += rank(s) / outDeg(s) }
      rank = nodes.map(v => v -> (base + (dampPerMille * in(v)) / 1000L)).toMap
    }
    rank.toSeq.sortBy { case (v, r) => (-r, v) }.take(k)
  }

  /** Word-3-shingle Jaccard, the similarity near-dup pairs must meet. */
  def jaccard(a: String, b: String, n: Int): Double = {
    def sh(s: String): Set[String] = {
      val t = s.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (t.length < n) Set(t.mkString(" ")) else t.sliding(n).map(_.mkString(" ")).toSet
    }
    val (sa, sb) = (sh(a), sh(b))
    val union = (sa ++ sb).size
    if (union == 0) 1.0 else sa.count(sb.contains).toDouble / union
  }
}
