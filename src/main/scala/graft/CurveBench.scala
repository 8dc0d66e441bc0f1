package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Engine
import graft.coder.CoderConfig
import graft.coder.PQ.PQConfig

/** Recall-vs-rerank-budget curves (default 250k × 256-d in-bench;
  * `GRAFT_CURVE_VECTORS` to override; 0 skips), averaged over 8 query
  * points (single-query recall at these budgets is high-variance):
  *
  *  - IVF+PQ at the LEGACY m=16 config (16 bytes/row — recorded so the
  *    bits-vs-recall trade stays visible: it delivered 0.73@4k at 1M)
  *    and at the RECOMMENDED scale config m=128 (128 bytes/row, 2
  *    bits/dim — measured 1.00@4k, 1.00@1k, 0.80@100 at 1M; still half
  *    of SQ8's footprint). Headline `pq_recall_*` keys = m128.
  *  - IVF+SQ8 (budget-independent near-exact coarse ranking).
  *  - The batch kNN joins ([[graft.index.Index.ivfKnnJoin]]/`sqKnnJoin`)
  *    at the same probes/candidates budgets, against a brute-force join
  *    baseline — the round-5 verdict asked for the joins' recall to be
  *    recorded next to the single-target numbers.
  *
  * STRUCTURE (the round-16 lesson): the work is split into independent
  * sub-phases — [[build]], [[pqCurves]], [[bitTierCurves]],
  * [[joinCurves]], [[bqLowRankCurves]], [[maxsimCurves]] — each run by
  * [[Bench]] under its OWN BenchGuard budget, all reusing the ONE
  * engine [[build]] creates. Round 16 ran everything (4 PQ builds, 2 BQ
  * builds, a second corpus, the maxsim fixture) as a single 600s phase
  * at 1M vectors: green locally, but a ~1.25× slower driver machine
  * tipped it past the budget and failed the round's bench. The in-bench
  * default is now 250k (each sub-phase ≤ a small fraction of its
  * budget even on a slow machine); the 1M curves are a standalone soak
  * artifact — `GRAFT_CURVE_VECTORS=1000000 runMain graft.Soak
  * curve_soak_1m` — folded into bench_summary.json like every soak's.
  */
object CurveBench {
  val NumVectors: Long = sys.env.getOrElse("GRAFT_CURVE_VECTORS", "250000").toLong

  /** Everything the recall phases share: the ONE built engine (IVF+SQ
    * synced), the 8 probe points, and the brute-force ground truth. */
  final class Ctx(val engine: Engine,
      val queryIds: Seq[Long],
      val targets: Map[Long, Array[Double]],
      val queries: DataFrame,
      val brute: Map[Long, Set[Long]]) {
    def avgRecall(per: Long => Set[Long]): Double = {
      val rs = queryIds.map(q => brute(q).count(per(q).contains) / 10.0)
      rs.sum / rs.length
    }
    def recallPq(candidates: Int): Double = avgRecall { q =>
      engine.searchPq("vectors", "vector", targets(q), coding = "c",
          probes = 16, candidates = candidates, idCol = "vec_id", k = 10,
          tieBreak = Seq("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    def recallSq(candidates: Int): Double = avgRecall { q =>
      engine.searchSq("vectors", "vector", targets(q), coding = "c",
          probes = 16, candidates = candidates, idCol = "vec_id", k = 10,
          metric = Some("l2"), tieBreak = Seq("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    def recallBq(candidates: Int): Double = avgRecall { q =>
      engine.searchBq("vectors", "vector", targets(q), coding = "c",
          probes = 16, candidates = candidates, idCol = "vec_id", k = 10,
          metric = Some("l2"), tieBreak = Seq("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    def joinRecall(df: DataFrame): Double = {
      val got = df.select("q_id", "vec_id").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      avgRecall(q => got.getOrElse(q, Set.empty))
    }
  }

  /** The `curve_soak_1m` body for [[Soak]] (1M vectors via
    * `GRAFT_CURVE_VECTORS=1000000`): all phases in sequence over one
    * engine plus the wall time, as one-line JSON. [[Bench]] instead
    * calls each phase under its own budget. */
  def soak(spark: SparkSession): String = {
    val t0 = System.nanoTime()
    val out = build(spark).fold(Seq.empty[(String, Double)]) { ctx =>
      val curves = Seq("curve_vectors" -> NumVectors.toDouble) ++
        pqCurves(ctx) ++ bitTierCurves(ctx) ++ joinCurves(ctx) ++
        bqLowRankCurves(spark, ctx.engine) ++
        maxsimCurves(spark, ctx.engine) ++
        advisorCurve(ctx)
      cleanup(ctx)
      curves
    }
    val wallSec = (System.nanoTime() - t0) / 1e9
    (out.map { case (k, v) => f""""$k":$v%.4f""" } :+
      f""""wall_sec":$wallSec%.1f""").mkString("{", ",", "}")
  }

  /** Standalone/soak-only phase (NOT in the driver bench's budgeted
    * phase list — the advisor's brute ground-truth pass belongs in the
    * evidence artifact, not the gate): [[Engine.recommendProbes]] at
    * corpus scale. Emits the advised probe count + its recall for a
    * 0.95 target, plus the full measured ladder — at-scale validation
    * that the advisor's answer is sane (recall at the advised probes ≥
    * target, full-probe tail = 1.0). */
  def advisorCurve(ctx: Ctx): Seq[(String, Double)] = {
    val advice = ctx.engine.recommendProbes("c", "vectors", "vector",
      "vec_id", k = 10, targetRecall = 0.95, sampleQueries = 32)
    // candidate-budget advisor for ALL FOUR reranked tiers at the
    // advised probe count — the SAME truth discipline answering the
    // OTHER serving knob ([[Engine.recommendCandidates]]); the sq tier
    // typically reaches the target within a k-scale budget while bq
    // needs orders more, which is exactly why it is measured per tier.
    // At this point in [[soak]] the live artifacts are the RECOMMENDED
    // configs: pq = the m=128 scale config ([[pqCurves]] builds it
    // last), bq = per-cell thresholds + asymmetric scoring
    // ([[bitTierCurves]] leaves that one in place) — the advice
    // describes the tiers a deployment should actually run.
    val candAdvice = Seq("sq", "bq", "pq", "rerank").map { tier =>
      tier -> ctx.engine.recommendCandidates("c", "vectors", "vector",
        "vec_id", tier, probes = advice.probes, k = 10,
        targetRecall = 0.95, sampleQueries = 32, maxCandidates = 4096)
    }
    // the bq tier's DEPLOYABLE regime is the low-effective-rank corpus
    // ([[bqLowRankCurves]]' fixture, left in place for this phase): on
    // the iid corpus bq ceilings below target at any budget
    // (rate-distortion, not candidates), while the low-rank curve
    // saturates at 1.0 around 16k — ladder up to there so the advice
    // can honestly REACH instead of reporting the iid ceiling
    val bqCell =
      if (!ctx.engine.listTables().contains("vectors_lr")) Nil
      else {
        val a = ctx.engine.recommendCandidates("clr", "vectors_lr",
          "vector", "vec_id", "bq", probes = 16, k = 10,
          targetRecall = 0.95, sampleQueries = 32, maxCandidates = 16384)
        Seq(
          "advisor_bq_cell_cand_r95" -> a.candidates.toDouble,
          "advisor_bq_cell_recall_at_cand" -> a.recall,
          "advisor_bq_cell_reached" -> (if (a.reachedTarget) 1.0 else 0.0))
      }
    // the rerank tier's cell-rank coarse cannot discriminate inside one
    // cell, so `advisor_rerank_reached = 0` at the advised probe count
    // is a diagnosis of the TIER — the deployable advice is the joint
    // (probes, candidates) frontier ([[Engine.adviseRerankFrontier]]),
    // started at the IVF-advised probe budget (a distance-ranked coarse
    // already needed that many cells; the rank-only coarse never needs
    // fewer). The ladder must clear ONE CELL'S ROW MASS (corpus/cells ≈
    // 15.6k at the 1M soak): within a probed cell the coarse selects by
    // id, so the recall ceiling at budget c is ≈ c/cellsize until the
    // top cell is fully covered — 4096 measured 0.216 ≈ 4096/15625,
    // exactly that arithmetic. 32768 ≥ 2 cells' mass lets the frontier
    // honestly REACH instead of reporting the sub-cell ceiling.
    val fr = ctx.engine.adviseRerankFrontier("c", "vectors", "vector",
      "vec_id", k = 10, targetRecall = 0.95, sampleQueries = 32,
      maxCandidates = 32768, startProbes = advice.probes)
    Seq(
      "advisor_cells" -> advice.numCells.toDouble,
      "advisor_probes_r95" -> advice.probes.toDouble,
      "advisor_recall_at_advised" -> advice.recall) ++
      advice.curve.map { case (p, r) => s"advisor_recall_at_p$p" -> r } ++
      candAdvice.flatMap { case (tier, a) => Seq(
        s"advisor_${tier}_cand_r95" -> a.candidates.toDouble,
        s"advisor_${tier}_recall_at_cand" -> a.recall,
        s"advisor_${tier}_reached" -> (if (a.reachedTarget) 1.0 else 0.0))
      } ++ Seq(
        "advisor_rerank_frontier_probes" -> fr.probes.toDouble,
        "advisor_rerank_frontier_cand" -> fr.candidates.toDouble,
        "advisor_rerank_frontier_recall" -> fr.recall,
        "advisor_rerank_frontier_reached" ->
          (if (fr.reachedTarget) 1.0 else 0.0)
      ) ++ bqCell
  }

  /** Phase 1: scratch engine + corpus + coder + IVF + SQ8, and the
    * brute-force top-10 ground truth (one codes-light kNN join pass). */
  def build(spark: SparkSession): Option[Ctx] = {
    if (NumVectors <= 0L) return None
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_curvebench"
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val engine = new Engine(spark, root)
    engine.makeTable("vectors", RefBench.corpus(spark, NumVectors))
    // one 64-centroid codebook (not 8×8 product cells): the corpus has 64
    // planted clusters, and per-cell quantizer params (SQ/BQ residual
    // blocks) are only as good as the cell↔cluster match — product cells
    // slice clusters apart and mute exactly the effect the per-cell
    // curves measure
    engine.makeCoder("c", "vectors", "vector",
      CoderConfig(metric = "l2", codebookSize = 64, numCodebooks = 1,
        batchSize = 2560, numEpochs = 3, maxStepsPerEpoch = 5))
    engine.syncIndex("c", "vectors", "vector")
    engine.makeSqIndex("c", "vectors", "vector")

    val queryIds = Seq(0L, 1L, 2L, 3L, 7L, 11L, 13L, 17L)
    val corpus = engine.readTable(Seq("vectors"))
    val queries = corpus.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"),
        col("vector").cast("array<double>").as("q_vec"))
    val targets = queries.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // brute top-10 per query in ONE corpus pass (the codes-light join)
    val brute: Map[Long, Set[Long]] = graft.api.Search.knnJoin(
        corpus.select("vec_id", "vector"), "vector", queries, "q_id", "q_vec",
        "l2", k = 10, tieBreak = Seq("vec_id"), idCol = Some("vec_id"))
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    Some(new Ctx(engine, queryIds, targets, queries, brute))
  }

  def cleanup(ctx: Ctx): Unit = ctx.engine.remove()

  /** Phase 2: the four PQ configs on the iid corpus. Each makePqIndex
    * replaces the previous config's artifact — the recalls read the one
    * just built. */
  def pqCurves(ctx: Ctx): Seq[(String, Double)] = {
    val engine = ctx.engine
    // legacy PQ config (the round-4/5 curve): m=16, 16 bytes/row
    engine.makePqIndex("c", "vectors", "vector",
      PQConfig(numSubspaces = 16, codebookSize = 256, metric = "l2",
        sampleSize = 8192))
    val pq16 = Seq(
      "pq16_recall_at_10_at_100" -> ctx.recallPq(100),
      "pq16_recall_at_10_at_4k" -> ctx.recallPq(4000))

    // compact scale config: m=32, 32 bytes/row. On THIS corpus (iid
    // unit-variance 256-d residuals) 256 bits is rate-distortion-limited
    // — measured 0.84@4k at 1M, and OPQ cannot help because the residual
    // is already isotropic (probed: m32opq8 0.83@4k). The deployable
    // regime for the compact tier is the low-rank corpus
    // (pq{16,32}_lowrank_*), exactly like the BQ tier's iid-vs-lowrank
    // split.
    engine.makePqIndex("c", "vectors", "vector",
      PQConfig(numSubspaces = 32, codebookSize = 256, metric = "l2",
        sampleSize = 8192))
    val pq32 = Seq(
      "pq32_bytes_per_vector" -> 32.0,
      "pq32_recall_at_10_at_100" -> ctx.recallPq(100),
      "pq32_recall_at_10_at_4k" -> ctx.recallPq(4000))

    // 4-bit probe of the compact tier: 64 subspaces × 16 codes = 256
    // bits/row — the SAME rate as pq32 (32 B nibble-packed; the stored
    // codes are byte-per-subspace, so on-disk it is 64 B until packed),
    // spent on 2× the subspaces with 16× smaller codebooks. Answers
    // whether the iid rate-distortion ceiling (pq32 ≈ 0.84@4k) is about
    // WHERE the bits go or how MANY there are. MEASURED (1M): the finer
    // split LOSES in both regimes — iid 0.69@4k vs pq32's 0.84,
    // low-rank 0.73@4k vs pq32's 1.00 — a 16-entry codebook per 4-d
    // subspace under-fits its marginal far more than independence costs
    // across 8-d subspaces, so at 256 bits the 8-bit-codebook split
    // dominates and pq32 stays the compact-tier recommendation (no
    // nibble-packing work is warranted).
    engine.makePqIndex("c", "vectors", "vector",
      PQConfig(numSubspaces = 64, codebookSize = 16, metric = "l2",
        sampleSize = 8192))
    val pq4bit = Seq(
      "pq64x4_recall_at_10_at_100" -> ctx.recallPq(100),
      "pq64x4_recall_at_10_at_4k" -> ctx.recallPq(4000))

    // recommended scale config: m=128, 2 bits/dim (half of SQ8's bytes)
    engine.makePqIndex("c", "vectors", "vector",
      PQConfig(numSubspaces = 128, codebookSize = 256, metric = "l2",
        sampleSize = 8192))
    val pq128 = Seq(
      "pq_bytes_per_vector" -> 128.0,
      "pq_recall_at_10_at_100" -> ctx.recallPq(100),
      "pq_recall_at_10_at_4k" -> ctx.recallPq(4000))
    pq16 ++ pq32 ++ pq4bit ++ pq128
  }

  /** Phase 3: SQ8 recalls (index from [[build]]) + the two BQ configs.
    * Leaves the PER-CELL BQ artifact in place — [[joinCurves]]' bq join
    * runs against it (the recommended config). */
  def bitTierCurves(ctx: Ctx): Seq[(String, Double)] = {
    val engine = ctx.engine
    val sq = Seq(
      "sq_recall_at_10_at_100" -> ctx.recallSq(100),
      "sq_recall_at_10_at_4k" -> ctx.recallSq(4000))
    // 1-bit tier, global thresholds first (recorded to keep the
    // bits-vs-structure trade visible: on this clustered corpus global
    // sign bits degenerate into a cluster id)
    engine.makeBqIndex("c", "vectors", "vector")
    val bqGlobal = Seq(
      "bq_recall_at_10_at_100" -> ctx.recallBq(100),
      "bq_recall_at_10_at_4k" -> ctx.recallBq(4000))
    // per-cell (residual) thresholds: the recommended config — bits
    // encode within-cell variation; the batch join below runs against it
    engine.makeBqIndex("c", "vectors", "vector", perCell = true)
    val bqCell = Seq(
      "bq_cell_recall_at_10_at_100" -> ctx.recallBq(100),
      "bq_cell_recall_at_10_at_4k" -> ctx.recallBq(4000))
    sq ++ bqGlobal ++ bqCell
  }

  /** Phase 4: the batch kNN joins at the same budgets (requires
    * [[bitTierCurves]] to have run — the bq join reads the per-cell
    * artifact it leaves behind). */
  def joinCurves(ctx: Ctx): Seq[(String, Double)] = {
    val engine = ctx.engine
    val queries = ctx.queries
    Seq(
      "ivf_join_recall_at_10_probes_16" -> ctx.joinRecall(
        graft.index.Index.ivfKnnJoin(engine.store, "c", "vectors", "vector",
          queries, "q_id", "q_vec", k = 10, probes = 16, idCol = "vec_id",
          metric = Some("l2"), tieBreak = Seq("vec_id"))),
      "sq_join_recall_at_10_probes_16_cand_100" -> ctx.joinRecall(
        graft.index.Index.sqKnnJoin(engine.store, "c", "vectors", "vector",
          queries, "q_id", "q_vec", k = 10, probes = 16, candidates = 100,
          idCol = "vec_id", metric = Some("l2"), tieBreak = Seq("vec_id"))),
      "bq_join_recall_at_10_probes_16_cand_4k" -> ctx.joinRecall(
        graft.index.Index.bqKnnJoin(engine.store, "c", "vectors", "vector",
          queries, "q_id", "q_vec", k = 10, probes = 16, candidates = 4000,
          idCol = "vec_id", metric = Some("l2"), tieBreak = Seq("vec_id"))))
  }

  /** BQ recall on an EFFECTIVE-RANK-32 corpus at the same scale. The main
    * curve corpus has iid unit-variance residuals in 256-d — the worst
    * case for any 1-bit code (neighbor contrast vanishes as dims grow
    * independent, so per-dim sign information is ~nothing; SQ8 survives
    * only because 8 bits/dim keeps ranking error below the tiny
    * contrast). Real embedding spaces are low-effective-rank; here the
    * residual is a fixed 256×32 mixing of a 32-d latent, so the 256
    * correlated bits oversample 32 effective dims — the regime binary
    * embedding search actually deploys in. Recorded next to the iid
    * numbers so the artifact states WHEN the 1-bit tier is usable
    * instead of a single number that averages both regimes away. */
  private[graft] def bqLowRankCurves(spark: SparkSession,
      engine: Engine): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions.udf
    val gen = udf { (id: Long) =>
      val rnd = new java.util.Random(id * 0x9E3779B97F4A7C15L + 7L)
      val cluster = (id % 64).toInt
      val crnd = new java.util.Random(cluster * 7919L + 3L)
      val offset = Array.fill(256)(crnd.nextGaussian().toFloat * 10f)
      val z = Array.fill(32)(rnd.nextGaussian())
      Array.tabulate(256) { i =>
        val brnd = new java.util.Random(i * 1000003L + 11L)
        var acc = 0.0
        var j = 0
        while (j < 32) { acc += brnd.nextGaussian() * z(j); j += 1 }
        (acc / math.sqrt(32.0) + offset(i)).toFloat
      }
    }
    engine.makeTable("vectors_lr", spark.range(NumVectors).toDF("vec_id")
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("vector", gen(col("vec_id"))))
    engine.makeCoder("clr", "vectors_lr", "vector",
      CoderConfig(metric = "l2", codebookSize = 64, numCodebooks = 1,
        batchSize = 2560, numEpochs = 3, maxStepsPerEpoch = 5))
    engine.makeBqIndex("clr", "vectors_lr", "vector", perCell = true)
    val corpus = engine.readTable(Seq("vectors_lr"))
    val queryIds = Seq(0L, 1L, 2L, 3L, 7L, 11L, 13L, 17L)
    val queries = corpus.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"),
        col("vector").cast("array<double>").as("q_vec"))
    val targets = queries.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val brute: Map[Long, Set[Long]] = graft.api.Search.knnJoin(
        corpus.select("vec_id", "vector"), "vector", queries, "q_id", "q_vec",
        "l2", k = 10, tieBreak = Seq("vec_id"), idCol = Some("vec_id"))
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def recall(candidates: Int): Double = {
      val rs = queryIds.map { q =>
        val got = engine.searchBq("vectors_lr", "vector", targets(q),
            coding = "clr", probes = 16, candidates = candidates,
            idCol = "vec_id", k = 10, metric = Some("l2"),
            tieBreak = Seq("vec_id"))
          .select("vec_id").collect().map(_.getLong(0)).toSet
        brute(q).count(got.contains) / 10.0
      }
      rs.sum / rs.length
    }
    // compact PQ tiers in the SAME deployable regime: 256 correlated
    // dims over a 32-d latent leave plenty of structure for 16-32 B/row
    // codes (measured at 1M: m16 0.99@4k, m32 1.00@4k / 0.98@1k) — the
    // regime answer to the iid pq16/pq32 worst-case numbers above.
    def recallPqLr(candidates: Int): Double = {
      val rs = queryIds.map { q =>
        val got = engine.searchPq("vectors_lr", "vector", targets(q),
            coding = "clr", probes = 16, candidates = candidates,
            idCol = "vec_id", k = 10, tieBreak = Seq("vec_id"))
          .select("vec_id").collect().map(_.getLong(0)).toSet
        brute(q).count(got.contains) / 10.0
      }
      rs.sum / rs.length
    }
    engine.makePqIndex("clr", "vectors_lr", "vector",
      graft.coder.PQ.PQConfig(numSubspaces = 16, codebookSize = 256,
        metric = "l2", sampleSize = 8192))
    val pq16Lr = Seq(
      "pq16_lowrank_recall_at_10_at_1k" -> recallPqLr(1000),
      "pq16_lowrank_recall_at_10_at_4k" -> recallPqLr(4000))
    engine.makePqIndex("clr", "vectors_lr", "vector",
      graft.coder.PQ.PQConfig(numSubspaces = 32, codebookSize = 256,
        metric = "l2", sampleSize = 8192))
    val pq32Lr = Seq(
      "pq32_lowrank_recall_at_10_at_1k" -> recallPqLr(1000),
      "pq32_lowrank_recall_at_10_at_4k" -> recallPqLr(4000))
    // the 4-bit split (same 256-bit rate as pq32) in the deployable regime
    engine.makePqIndex("clr", "vectors_lr", "vector",
      graft.coder.PQ.PQConfig(numSubspaces = 64, codebookSize = 16,
        metric = "l2", sampleSize = 8192))
    val pq4bitLr = Seq(
      "pq64x4_lowrank_recall_at_10_at_1k" -> recallPqLr(1000),
      "pq64x4_lowrank_recall_at_10_at_4k" -> recallPqLr(4000))
    // vectors_lr/clr are intentionally LEFT in place: [[advisorCurve]]
    // (the soak-only phase that runs after this one) ladders the bq
    // candidate advisor against this per-cell artifact — the deployable
    // regime. [[cleanup]]'s engine.remove() reclaims everything.
    Seq(
      "bq_lowrank_recall_at_10_at_100" -> recall(100),
      "bq_lowrank_recall_at_10_at_4k" -> recall(4000),
      // where the 1-bit curve saturates (~1.6% of the probed corpus)
      "bq_lowrank_recall_at_10_at_16k" -> recall(16000)) ++
      pq16Lr ++ pq32Lr ++ pq4bitLr
  }

  /** Late-interaction recall + throughput at scale: NumVectors/8 docs × 8
    * tokens × 64-d with HIERARCHICAL structure — 64 theme centers, a
    * per-doc offset (1σ), then per-token jitter (1σ): token =
    * theme + doc + jitter. Random grouping would make mean pooling
    * vacuous; themes WITHOUT doc offsets make within-theme pooled ranking
    * a coin flip (every same-theme doc pools to the same point ± noise) —
    * both fixture artifacts, not engine properties. With doc offsets the
    * pooled signal (1σ) dominates pooled token noise (σ/√8), which is the
    * structure real corpora have. Queries are 4 existing docs' token sets.
    * Records pooled-prefilter recall vs candidates, the indexed
    * (IVF-probed) path's recall, and brute vs indexed wall time (the
    * indexed path pays 3 fixed job latencies vs brute's 1 — it wins past
    * the corpus size where brute's scan dominates, ~1M docs at local[32]). */
  private[graft] def maxsimCurves(spark: SparkSession,
      engine: Engine): Seq[(String, Double)] = {
    import graft.functions.functions.pooled_tokens
    val numDocs = math.max(NumVectors / 8, 1000L)
    val gen = udf { (docId: Long) =>
      val theme = (docId % 64).toInt
      val trnd = new java.util.Random(theme * 7919L + 1L)
      val center = Array.fill(64)(trnd.nextGaussian().toFloat * 10f)
      val rnd = new java.util.Random(docId * 0x9E3779B97F4A7C15L + 11L)
      val docOff = Array.fill(64)(rnd.nextGaussian().toFloat)
      Array.tabulate(8)(_ =>
        Array.tabulate(64)(i => center(i) + docOff(i) + rnd.nextGaussian().toFloat))
    }
    engine.makeTable("msdocs", spark.range(numDocs).toDF("doc")
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("tokens", gen(col("doc")))
      .withColumn("pool", pooled_tokens(col("tokens"))))
    engine.makeIndex("cms", "msdocs", "pool",
      CoderConfig(metric = "cosine", codebookSize = 8, numCodebooks = 2,
        batchSize = 2560, numEpochs = 2, maxStepsPerEpoch = 5))
    val docs = engine.readTable(Seq("msdocs"))
    val queryIds = Seq(0L, 3L, 17L, 130L)
    val qTokens: Map[Long, Seq[Seq[Double]]] = docs
      .filter(col("doc").isin(queryIds: _*))
      .select(col("doc"), col("tokens").cast("array<array<double>>"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[scala.collection.Seq[Double]](1).toSeq.map(_.toSeq)).toMap
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def top(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc").collect().map(_.getLong(0)).toSet
    // brute baseline per query (also the recall ground truth)
    val bruteTimed = queryIds.map { q =>
      time(top(graft.api.Search.maxsimSearch(docs, "tokens", qTokens(q),
        "cosine", k = 10, tieBreak = Seq("doc"))))
    }
    val brute = queryIds.zip(bruteTimed.map(_._1)).toMap
    def avgRecall(per: Long => Set[Long]): Double = {
      val rs = queryIds.map(q => brute(q).count(per(q).contains) / 10.0)
      rs.sum / rs.length
    }
    def pooled(candidates: Int): Double = avgRecall { q =>
      top(graft.api.Search.maxsimSearch(docs, "tokens", qTokens(q), "cosine",
        k = 10, candidates = candidates, tieBreak = Seq("doc"),
        poolCol = Some("pool")))
    }
    val ivfTimed = queryIds.map { q =>
      time(top(engine.maxsimSearch("msdocs", "tokens", qTokens(q), "cosine",
        k = 10, candidates = 1000, poolCol = Some("pool"),
        coding = Some("cms"), probes = Some(16), idCol = Some("doc"),
        tieBreak = Seq("doc"))))
    }
    val ivfRecall = avgRecall(queryIds.zip(ivfTimed.map(_._1)).toMap)
    Seq(
      "maxsim_docs" -> numDocs.toDouble,
      "maxsim_pooled_recall_at_10_cand_100" -> pooled(100),
      "maxsim_pooled_recall_at_10_cand_1k" -> pooled(1000),
      "maxsim_ivf_recall_at_10_probes_16_cand_1k" -> ivfRecall,
      "maxsim_brute_sec" -> bruteTimed.map(_._2).min,
      "maxsim_ivf_sec" -> ivfTimed.map(_._2).min)
  }
}
