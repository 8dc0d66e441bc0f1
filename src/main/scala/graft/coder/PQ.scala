package graft.coder

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Metrics

/** Product quantization (Jégou, Douze & Schmid, "Product Quantization for
  * Nearest Neighbor Search", IEEE TPAMI 2011).
  *
  * Complements the engine's IVF coder (full-dim codebooks, reference
  * `/root/reference/src/fenix/io/coder/coder.py`) with the other classic
  * compression axis: the vector is split into `m` contiguous subvectors,
  * each quantized against its own `k`-centroid codebook, giving an m-byte
  * code per vector (k ≤ 256). At 100 TB this is the memory story — a
  * 256-d float corpus compresses ~128× into codes that fit a fraction of
  * executor RAM, and the ADC scan reads ONLY (id, code) columns.
  *
  * Search is asymmetric distance computation (ADC): a per-query m×k
  * lookup table of exact subspace distances to every centroid is computed
  * driver-side (tiny), broadcast inside a codegen'd expression
  * ([[graft.functions.PQAdcScore]]), and each row's approximate distance
  * is m table lookups — no float vector is touched until the exact
  * rerank of the top `candidates` rows.
  *
  * Metric handling:
  *   - l2: codebooks on raw vectors; ADC table = squared subspace l2;
  *     approx dist = sqrt(Σ).
  *   - cosine: vectors l2-normalized before encode; table = subspace dot
  *     vs the normalized query; approx dist = 0.5 − 0.5·Σ (the engine's
  *     cosine-distance convention, `coder.py:38-50`).
  *   - dot: raw vectors; table = subspace dot; approx dist = −Σ.
  * Encode always picks the subspace-l2-nearest centroid (the standard
  * asymmetric scheme — only the query side changes per metric).
  */
object PQ {

  /** @param opqIters 0 = classic PQ. >0 enables Optimized Product
    *   Quantization (Ge, He, Ke & Sun, "Optimized Product Quantization",
    *   CVPR 2013, non-parametric variant): that many alternating
    *   iterations of (train codebooks on rotated sample) ↔ (solve the
    *   orthogonal Procrustes problem R = U·Vᵀ from SVD(XᵀY)) learn a
    *   d×d rotation applied before the subspace split, re-balancing
    *   variance across subspaces. Pure win on anisotropic data
    *   (correlated dims straddling subspace boundaries); a no-op in
    *   expectation on isotropic data. */
  case class PQConfig(
      numSubspaces: Int = 8,
      codebookSize: Int = 256,
      metric: String = "l2",
      sampleSize: Int = 8192,
      iters: Int = 15,
      seed: Long = 42L,
      opqIters: Int = 0) {
    require(codebookSize >= 2 && codebookSize <= 256,
      s"codebookSize must be in [2, 256] (one byte per subspace), got $codebookSize")
    require(numSubspaces >= 1, "numSubspaces must be >= 1")
    require(opqIters >= 0, "opqIters must be >= 0")
  }

  /** Trained codebooks: `centroids(sub)(code)` is a subDim-length array.
    * `residual = true` marks codebooks trained on cell residuals
    * (x − anchor(cell)) — search must then build per-cell ADC tables on
    * the query residual (see [[graft.index.Index.searchIvfPq]]); `anchors`
    * carries the per-cell anchor points (empirical cell means). */
  /** @param rotation optional row-major d×d OPQ rotation (entry (t, d) at
    *   `t*dim + d`); applied to every encode/ADC input AFTER metric
    *   normalization, v'(d) = Σₜ v(t)·R(t,d). Orthogonal, so l2 / dot /
    *   cosine are all preserved and the residual decomposition commutes
    *   with it (anchors stay in the original space). */
  case class PQCodebooks(config: PQConfig, dim: Int,
      centroids: Array[Array[Array[Double]]], residual: Boolean = false,
      anchors: Map[Long, Array[Double]] = Map.empty,
      rotation: Option[Array[Double]] = None) {
    val m: Int = config.numSubspaces
    val k: Int = config.codebookSize
    require(dim % m == 0, s"dim $dim not divisible by numSubspaces $m")
    require(rotation.forall(_.length == dim * dim),
      s"rotation must be a flat $dim×$dim matrix")
    val subDim: Int = dim / m
    def canonicalMetric: String = Metrics.canonical(config.metric)

    /** Flat [m*k*subDim] copy for the codegen expression. */
    def flat: Array[Double] = {
      val out = new Array[Double](m * k * subDim)
      for (j <- 0 until m; i <- 0 until k)
        System.arraycopy(centroids(j)(i), 0, out, (j * k + i) * subDim, subDim)
      out
    }

    /** Flat cosine codebooks live on the unit sphere, so encode/ADC
      * normalize their input. Residual codebooks train on residuals of
      * ALREADY-normalized vectors (cosine ⇒ unit-sphere l2), so the
      * residual input must pass through untouched. */
    private def maybeNormalize(v: Array[Double]): Array[Double] =
      if (canonicalMetric == "cosine" && !residual) {
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0.0) v else v.map(_ / n)
      } else v

    /** OPQ rotation, loop order matching [[graft.functions.PQEncode]]'s
      * generated code bit-for-bit (accumulate over t for each output d). */
    private[coder] def maybeRotate(v: Array[Double]): Array[Double] =
      rotation.fold(v) { rot =>
        val out = new Array[Double](dim)
        var d = 0
        while (d < dim) {
          var acc = 0.0; var t = 0
          while (t < dim) { acc += rot(t * dim + d) * v(t); t += 1 }
          out(d) = acc; d += 1
        }
        out
      }

    /** Driver-side encode (the distributed path is [[encodeExpr]]). */
    def encode(vRaw: Array[Double]): Array[Byte] = {
      require(vRaw.length == dim, s"expected $dim dims, got ${vRaw.length}")
      val v = maybeRotate(maybeNormalize(vRaw))
      val code = new Array[Byte](m)
      var j = 0
      while (j < m) {
        var best = 0; var bestD = Double.MaxValue
        var i = 0
        while (i < k) {
          val c = centroids(j)(i)
          var acc = 0.0; var t = 0
          while (t < subDim) {
            val dlt = c(t) - v(j * subDim + t); acc += dlt * dlt; t += 1
          }
          if (acc < bestD) { bestD = acc; best = i }
          i += 1
        }
        code(j) = best.toByte
        j += 1
      }
      code
    }

    /** Per-query ADC lookup table, flat [m*k]: entry (j,i) is subspace j's
      * exact contribution of centroid i against the query. */
    def adcTable(targetRaw: Array[Double]): Array[Double] = {
      require(targetRaw.length == dim, s"expected $dim dims, got ${targetRaw.length}")
      val q = maybeRotate(maybeNormalize(targetRaw))
      val table = new Array[Double](m * k)
      val metric = canonicalMetric
      for (j <- 0 until m; i <- 0 until k) {
        val c = centroids(j)(i)
        var acc = 0.0; var t = 0
        metric match {
          case "l2" =>
            while (t < subDim) { val d = c(t) - q(j * subDim + t); acc += d * d; t += 1 }
          case _ => // cosine | dot: subspace dot product
            while (t < subDim) { acc += c(t) * q(j * subDim + t); t += 1 }
        }
        table(j * k + i) = acc
      }
      table
    }
  }

  // ——— training ———

  /** Train per-subspace codebooks with plain seeded Lloyd iterations over
    * a bounded sample. Driver-side on purpose: the training input is
    * capped at `sampleSize` rows (PQ codebooks need only a sketch of the
    * distribution — Jégou et al. train on ~100k samples for billion-scale
    * corpora), so training cost is independent of corpus size; the
    * corpus-scale passes (encode, ADC scan) are distributed. */
  def train(df: DataFrame, column: String, cfg: PQConfig): PQCodebooks = {
    // a row with no vector has no code: it trains nothing
    val rows = df.filter(col(column).isNotNull)
      .select(col(column).cast("array<double>"))
      .limit(cfg.sampleSize).collect()
      .map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "PQ.train: empty input")
    val dim = rows.head.length
    rows.iterator.zipWithIndex.foreach { case (v, i) =>
      require(v.length == dim,
        s"PQ.train: ragged input — sample row $i has ${v.length} elements, " +
          s"expected $dim (enforce a fixed tensor shape at ingest)")
    }
    val m = cfg.numSubspaces
    require(dim % m == 0, s"dim $dim not divisible by numSubspaces $m")
    val subDim = dim / m
    val metric = Metrics.canonical(cfg.metric)
    val data: Array[Array[Double]] =
      if (metric == "cosine") rows.map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0.0) v else v.map(_ / n)
      } else rows
    val k = math.min(cfg.codebookSize, data.length)

    if (cfg.opqIters <= 0) {
      PQCodebooks(cfg.copy(codebookSize = k), dim,
        trainSubspaces(data, m, subDim, k, cfg.iters, cfg.seed))
    } else {
      val (rot, rotated) = learnRotation(data, dim, m, subDim, k, cfg)
      PQCodebooks(cfg.copy(codebookSize = k), dim,
        trainSubspaces(rotated, m, subDim, k, cfg.iters, cfg.seed),
        rotation = Some(rot))
    }
  }

  /** Per-subspace codebooks over a (possibly rotated) sample — subspaces
    * are independent, so train them on parallel driver threads
    * (m·iters·sample·k·subDim flops; ~8e9 at reference scale). */
  private def trainSubspaces(data: Array[Array[Double]], m: Int, subDim: Int,
      k: Int, iters: Int, seed: Long): Array[Array[Array[Double]]] = {
    import scala.collection.parallel.CollectionConverters._
    (0 until m).par.map { j =>
      val sub = data.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      lloyd(sub, k, iters, seed + j)
    }.toArray
  }

  /** Non-parametric OPQ (Ge et al. 2013, Algorithm 2): alternate between
    * training sub-codebooks on the rotated sample and solving the
    * orthogonal Procrustes problem — R = U·Vᵀ from SVD(Xᵀ·Y), where Y is
    * the quantized reconstruction of X·R — which is the closed-form
    * rotation minimizing ‖X·R − Y‖_F. Driver-side on the bounded training
    * sample (n ≤ sampleSize, d×d SVD via the Spark distribution's breeze).
    * Deterministic: seeded Lloyd + LAPACK. Returns (flat row-major R,
    * X·R rows) so the caller trains final codebooks on the rotated data. */
  private def learnRotation(data: Array[Array[Double]], dim: Int, m: Int,
      subDim: Int, k: Int, cfg: PQConfig): (Array[Double], Array[Array[Double]]) = {
    import breeze.linalg.{svd, DenseMatrix}
    import scala.collection.parallel.CollectionConverters._
    val n = data.length
    val x = DenseMatrix.tabulate(n, dim)((i, j) => data(i)(j))
    var r = DenseMatrix.eye[Double](dim)
    // inner codebook refits need only track the rotation, not converge —
    // the final full-iteration training runs after R is fixed
    val innerIters = math.max(4, cfg.iters / 3)
    var it = 0
    while (it < cfg.opqIters) {
      val xr = x * r
      val rows = Array.tabulate(n)(i => Array.tabulate(dim)(j => xr(i, j)))
      val cents = trainSubspaces(rows, m, subDim, k, innerIters, cfg.seed)
      val y = DenseMatrix.zeros[Double](n, dim)
      (0 until m).par.foreach { j =>
        val cs = cents(j)
        var i = 0
        while (i < n) {
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < cs.length) {
            var acc = 0.0; var t = 0
            while (t < subDim) {
              val dl = cs(c)(t) - xr(i, j * subDim + t); acc += dl * dl; t += 1
            }
            if (acc < bestD) { bestD = acc; best = c }
            c += 1
          }
          val bc = cs(best)
          var t = 0
          while (t < subDim) { y(i, j * subDim + t) = bc(t); t += 1 }
          i += 1
        }
      }
      val svd.SVD(u, _, vt) = svd(x.t * y)
      r = u * vt
      it += 1
    }
    val xrF = x * r
    (Array.tabulate(dim * dim)(e => r(e / dim, e % dim)),
      Array.tabulate(n)(i => Array.tabulate(dim)(j => xrF(i, j))))
  }

  /** Standard Lloyd k-means (seeded init from distinct sample points;
    * empty clusters re-seeded from the farthest point). */
  private def lloyd(xs: Array[Array[Double]], k: Int, iters: Int, seed: Long): Array[Array[Double]] = {
    val d = xs.head.length
    val rnd = new scala.util.Random(seed)
    val init = rnd.shuffle(xs.indices.toVector).take(k)
    var cents = init.map(i => xs(i).clone()).toArray
    val assign = new Array[Int](xs.length)
    var it = 0
    while (it < iters) {
      // assignment
      var i = 0
      while (i < xs.length) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var acc = 0.0; var t = 0
          while (t < d) { val dl = cents(c)(t) - xs(i)(t); acc += dl * dl; t += 1 }
          if (acc < bestD) { bestD = acc; best = c }
          c += 1
        }
        assign(i) = best
        i += 1
      }
      // update
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Int](k)
      i = 0
      while (i < xs.length) {
        val a = assign(i); counts(a) += 1
        var t = 0
        while (t < d) { sums(a)(t) += xs(i)(t); t += 1 }
        i += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) xs(rnd.nextInt(xs.length)).clone()
        else { val out = sums(c); var t = 0; while (t < d) { out(t) /= counts(c); t += 1 }; out }
      }
      it += 1
    }
    cents
  }

  // ——— persistence (cache alongside the store root) ———

  /** JSON round-trip (the persistence format; callers pick the filesystem). */
  def toJsonBytes(cb: PQCodebooks): Array[Byte] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val payload = mapper.createObjectNode()
    payload.put("dim", cb.dim)
    payload.put("metric", cb.config.metric)
    payload.put("numSubspaces", cb.config.numSubspaces)
    payload.put("codebookSize", cb.config.codebookSize)
    payload.put("sampleSize", cb.config.sampleSize)
    payload.put("iters", cb.config.iters)
    payload.put("seed", cb.config.seed)
    payload.put("opqIters", cb.config.opqIters)
    payload.put("residual", cb.residual)
    payload.set("centroids", mapper.valueToTree(cb.centroids))
    cb.rotation.foreach { rot =>
      payload.set[com.fasterxml.jackson.databind.JsonNode](
        "rotation", mapper.valueToTree(rot))
    }
    val anchorsNode = payload.putObject("anchors")
    cb.anchors.foreach { case (cell, a) =>
      anchorsNode.set[com.fasterxml.jackson.databind.JsonNode](
        cell.toString, mapper.valueToTree(a))
      ()
    }
    mapper.writeValueAsBytes(payload)
  }

  def fromJsonBytes(bytes: Array[Byte]): PQCodebooks = parse("(bytes)", bytes)

  /** Reads codebooks back; malformed ones (truncated, a field missing or
    * mistyped) refuse as state, naming `path`, the field and the builder. */
  private[graft] def parse(path: String, bytes: Array[Byte]): PQCodebooks = {
    import com.fasterxml.jackson.databind.JsonNode
    def refuse(what: String): Nothing = throw new IllegalStateException(
      s"malformed PQ sidecar $path: $what — rebuild with buildPq")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = try mapper.readTree(bytes)
      catch { case e: java.io.IOException => refuse(s"unreadable JSON (${e.getMessage})") }
    def opt(f: String): Option[JsonNode] = Option(n).flatMap(x => Option(x.get(f)))
    def field(f: String, ok: JsonNode => Boolean): JsonNode =
      opt(f).filter(ok).getOrElse(refuse(s"no valid '$f'"))
    def int(f: String): Int = field(f, _.isIntegralNumber).asInt()
    try {
      val cfg = PQConfig(numSubspaces = int("numSubspaces"),
        codebookSize = int("codebookSize"),
        metric = field("metric", _.isTextual).asText(),
        sampleSize = int("sampleSize"), iters = int("iters"),
        seed = field("seed", _.isIntegralNumber).asLong(),
        opqIters = opt("opqIters").map(_.asInt()).getOrElse(0))
      val cents = mapper.treeToValue(field("centroids", _.isArray),
        classOf[Array[Array[Array[Double]]]])
      val residual = opt("residual").exists(_.asBoolean(false))
      val rotation = opt("rotation").map(mapper.treeToValue(_, classOf[Array[Double]]))
      val anchors: Map[Long, Array[Double]] = opt("anchors").map { an =>
        val b = Map.newBuilder[Long, Array[Double]]
        an.fields().forEachRemaining { e =>
          b += e.getKey.toLongOption.getOrElse(refuse(s"anchor cell '${e.getKey}'")) ->
            mapper.treeToValue(e.getValue, classOf[Array[Double]])
        }
        b.result()
      }.getOrElse(Map.empty)
      PQCodebooks(cfg, int("dim"), cents, residual, anchors, rotation)
    } catch {
      // a non-numeric array, or values the codebooks reject
      case e @ (_: IllegalArgumentException | _: java.io.IOException) => refuse(e.getMessage)
    }
  }

  /** Local-file save/load so repeated Verify/Bench runs skip retraining. */
  def save(path: String, cb: PQCodebooks): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, toJsonBytes(cb),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  def load(path: String): PQCodebooks =
    parse(path, Files.readAllBytes(Paths.get(path)))

  /** Load iff the cached codebooks were trained under `cfg` (codebookSize
    * may have been reduced to the sample size at training time); a stale
    * or mismatched cache retrains instead of silently serving the old
    * subspace layout / metric. */
  def trainOrLoad(cachePath: String, df: DataFrame, column: String, cfg: PQConfig): PQCodebooks = {
    if (Files.exists(Paths.get(cachePath))) {
      val cb = load(cachePath)
      val c = cb.config
      if (c.numSubspaces == cfg.numSubspaces && c.metric == cfg.metric &&
          c.sampleSize == cfg.sampleSize && c.iters == cfg.iters &&
          c.seed == cfg.seed && c.opqIters == cfg.opqIters &&
          c.codebookSize <= cfg.codebookSize)
        return cb
    }
    val cb = train(df, column, cfg)
    save(cachePath, cb)
    cb
  }

  // ——— distributed encode + search ———

  /** Codes column (binary, m bytes/row) — the one corpus-scale encode pass. */
  def encodeExpr(vec: Column, cb: PQCodebooks): Column =
    org.apache.spark.sql.GraftShims.column(
      graft.functions.PQEncode(
        org.apache.spark.sql.GraftShims.expression(vec), cb))

  /** Residual column x − anchor(cell), all codegen'd built-ins: a map
    * literal of cell → anchor feeds a `zip_with` subtraction. Literal size
    * = numCells·dim doubles — callers gate on the residual cell cap. */
  def residualExpr(vec: Column, cell: Column,
      anchors: Map[Long, Array[Double]]): Column = {
    val lit: Map[Long, Seq[Double]] = anchors.map { case (c, a) => c -> a.toSeq }
    org.apache.spark.sql.functions.zip_with(
      vec.cast("array<double>"),
      org.apache.spark.sql.functions.element_at(typedLit(lit), cell),
      (a, b) => a - b)
  }

  /** Per-cell ADC over residual codes: one table per probed cell, selected
    * per row by its cell id. Cells the build never saw (possible probe
    * targets, impossible scan rows) fall back to `fallbackAnchor`.
    *
    * Table math per metric (x ≈ anchor(cell) + r, r quantized per
    * subspace; for cosine both sides live on the unit sphere):
    *   - l2:     ‖q−x‖ = ‖(q−anchor) − r‖ ⇒ squared-l2 tables of the
    *             QUERY RESIDUAL vs codewords, finish = sqrt.
    *   - cosine: 0.5 − 0.5·(q̂·x̂) = 0.5 − 0.5·q̂·anchor − 0.5·q̂·r ⇒
    *             −0.5·dot tables of the (normalized) query slices vs
    *             codewords, per-cell constant folded into subspace 0.
    *   - dot:    −q·x = −q·anchor − q·r ⇒ −dot tables + folded constant.
    * At zero quantization error every formula recovers the exact
    * distance, so the only approximation is the codebooks' — uniformly
    * across the reference's 5 metrics (`flight.py:254-256`).
    */
  def adcScoreCellsExpr(codes: Column, cell: Column, cb: PQCodebooks,
      target: Array[Double], cells: Array[Long],
      fallbackAnchor: Long => Array[Double]): Column = {
    require(cb.residual, "per-cell ADC tables are the residual-PQ search path")
    val metric = cb.canonicalMetric
    val q = if (metric == "cosine") Metrics.normalize(target) else target
    val mk = cb.m * cb.k
    val sorted = cells.sorted // binary-searched per row in the expression
    val (tables, consts) = metric match {
      case "l2" =>
        // The query RESIDUAL differs per cell in every entry, so l2 needs
        // one m×k table per probed cell. probes·m·k doubles ride the plan
        // to every task — gate so a huge probe list fails loudly instead
        // of shipping a silent multi-GB ref.
        require(sorted.length.toLong * mk <= (1L << 24),
          s"ADC tables for ${sorted.length} probed cells × m=${cb.m} × " +
            s"k=${cb.k} exceed the 16M-entry cap — probe fewer cells or " +
            "shrink the codebooks")
        val ts = new Array[Double](sorted.length * mk)
        var i = 0
        while (i < sorted.length) {
          val anchor = cb.anchors.getOrElse(sorted(i), fallbackAnchor(sorted(i)))
          val qRes = new Array[Double](q.length)
          var t = 0
          while (t < q.length) { qRes(t) = q(t) - anchor(t); t += 1 }
          System.arraycopy(cb.adcTable(qRes), 0, ts, i * mk, mk)
          i += 1
        }
        (ts, Array.emptyDoubleArray)
      case _ => // cosine | dot: the dot table is loop-invariant across
        // cells (score = const(cell) + Σ_j w·(q_j·c_j(code_j))), so ship
        // ONE shared m×k table + one scalar per probed cell — m·k + probes
        // doubles instead of probes·m·k.
        val dots = cb.adcTable(q) // subspace dots q_j · c_j(i), computed once
        val w = if (metric == "cosine") -0.5 else -1.0
        val ts = new Array[Double](mk)
        var e = 0
        while (e < mk) { ts(e) = w * dots(e); e += 1 }
        val cs = new Array[Double](sorted.length)
        var i = 0
        while (i < sorted.length) {
          val anchor = cb.anchors.getOrElse(sorted(i), fallbackAnchor(sorted(i)))
          var qa = 0.0; var t = 0
          while (t < q.length) { qa += q(t) * anchor(t); t += 1 }
          cs(i) = if (metric == "cosine") 0.5 - 0.5 * qa else -qa
          i += 1
        }
        (ts, cs)
    }
    org.apache.spark.sql.GraftShims.column(
      graft.functions.PQAdcScoreCells(
        org.apache.spark.sql.GraftShims.expression(codes),
        org.apache.spark.sql.GraftShims.expression(cell),
        sorted, tables, consts, cb.m, cb.k, sqrtFinish = metric == "l2"))
  }

  /** Approximate (ADC) distance of a codes column to `target`. */
  def adcScoreExpr(codes: Column, cb: PQCodebooks, target: Array[Double]): Column =
    org.apache.spark.sql.GraftShims.column(
      graft.functions.PQAdcScore(
        org.apache.spark.sql.GraftShims.expression(codes),
        cb.adcTable(target), cb.m, cb.k, cb.canonicalMetric))

  /** Whether [[adcLut]] tables finish with a sqrt (l2) or a plain sum. */
  def adcSqrtFinish(cb: PQCodebooks): Boolean = cb.canonicalMetric == "l2"

  /** Per-(query, cell) unified ADC lookup table for the BATCH join
    * ([[graft.index.Index.pqKnnJoin]]): m·k entries such that a row's
    * coarse score is `sqrt(Σ)` under l2 and `Σ` otherwise
    * ([[adcSqrtFinish]]) — the same per-metric math as [[adcScoreExpr]]
    * (flat codebooks; `cell` ignored) and [[adcScoreCellsExpr]]
    * (residual codebooks), with the additive constant folded into
    * subspace 0's entries (every row sums exactly one entry per
    * subspace, so the constant lands exactly once). Computed once per
    * (query, cell) on the broadcast query side — never per corpus
    * row. */
  def adcLut(cb: PQCodebooks, fallbackAnchor: Long => Array[Double],
      target: Array[Double], cell: Long): Array[Double] = {
    val metric = cb.canonicalMetric
    val mk = cb.m * cb.k
    def negate(table: Array[Double], w: Double, const: Double): Array[Double] = {
      val out = new Array[Double](mk)
      var e = 0
      while (e < mk) { out(e) = w * table(e); e += 1 }
      var i = 0
      while (i < cb.k) { out(i) += const; i += 1 }
      out
    }
    if (!cb.residual) metric match {
      case "l2"     => cb.adcTable(target) // squared subspace l2; sqrt finish
      case "cosine" => negate(cb.adcTable(target), -0.5, 0.5)
      case _        => negate(cb.adcTable(target), -1.0, 0.0)
    } else {
      // residual (IVFADC): anchors live in the ORIGINAL space; cosine
      // residuals are taken on the unit sphere (adcTable's own
      // normalization is identity for residual codebooks) — mirrors
      // adcScoreCellsExpr term for term
      val q = if (metric == "cosine") Metrics.normalize(target) else target
      val anchor = cb.anchors.getOrElse(cell, fallbackAnchor(cell))
      metric match {
        case "l2" =>
          val qRes = new Array[Double](q.length)
          var t = 0
          while (t < q.length) { qRes(t) = q(t) - anchor(t); t += 1 }
          cb.adcTable(qRes)
        case _ =>
          var qa = 0.0; var t = 0
          while (t < q.length) { qa += q(t) * anchor(t); t += 1 }
          if (metric == "cosine")
            negate(cb.adcTable(q), -0.5, 0.5 - 0.5 * qa)
          else negate(cb.adcTable(q), -1.0, -qa)
      }
    }
  }

  /** Two-stage PQ search: ADC coarse top-`candidates` over codes only,
    * then exact rerank on the raw vectors. With `candidates` ≥ corpus
    * size this equals brute-force search (the oracle contract); bounded
    * candidates trade recall for a scan that never touches vectors.
    *
    * @param tieBreak deterministic ordering under distance ties (applies
    *                 to both stages).
    */
  def search(
      dfWithCodes: DataFrame,
      vecCol: String,
      codesCol: String,
      cb: PQCodebooks,
      target: Array[Double],
      k: Int,
      candidates: Int,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(!cb.residual,
      "residual codebooks need per-cell ADC tables — search them via " +
        "Index.searchIvfPq, not the flat PQ.search path")
    val coarse = dfWithCodes
      .withColumn("__ADC__", adcScoreExpr(col(codesCol), cb, target))
      .orderBy(col("__ADC__").asc_nulls_last +: tieBreak.map(col(_).asc): _*)
      .limit(candidates)
    coarse
      .withColumn(graft.api.Search.DistCol,
        graft.functions.functions.vector_distance(
          col(vecCol), typedLit(target.toSeq), cb.canonicalMetric))
      .drop("__ADC__")
      .orderBy(col(graft.api.Search.DistCol).asc_nulls_last +: tieBreak.map(col(_).asc): _*)
      .limit(k)
  }
}
