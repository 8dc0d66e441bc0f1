package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics for corpus curation — host/URL-graph centrality
  * is a standard quality prior for web-crawl corpora (Page et al. 1999;
  * Common Crawl publishes host-level ranks for exactly this use).
  *
  * Computed in FIXED-POINT integer arithmetic: ranks are longs scaled by
  * `Scale`, every update is integer multiply/divide, so the result is
  * bit-exact regardless of partitioning, summation order, or engine —
  * the property that lets a DuckDB chained-CTE mirror hash-match it,
  * which no double-summed PageRank can do (FP addition is
  * order-dependent across a shuffle).
  */
object Graph {

  /** Rank unit: 10^12 per unit of probability mass. Room for 10^6-node
    * per-rank precision loss while staying far from Long overflow
    * (total mass = Scale, per-node ranks ≤ Scale). */
  val Scale: Long = 1000000000000L

  /** Lineage cut for the iterative loops. `durable = false` is the
    * local[n] default: eager `localCheckpoint`, no distributed write.
    * On a REAL cluster localCheckpoint is not fault-tolerant — the
    * checkpointed partitions live only in executor storage, so one lost
    * executor invalidates them and (lineage having been cut) kills a
    * multi-hour job. `durable = true` writes each iteration's frame to
    * the configured `sparkContext.setCheckpointDir` (HDFS/object store)
    * instead — one distributed write per iteration buys executor-loss
    * survival; same results either way.
    *
    * An `observe` riding the frame (the loops' per-round counts) sees
    * ONE computation on either branch: on Spark 4.1 an eager reliable
    * `checkpoint()` reports the same observed metrics as
    * `localCheckpoint` (measured — a second computation for the file
    * write would double them). GraphSpec pins it: the durable loop takes
    * the local loop's round count. */
  private[ext] def cut(df: DataFrame, durable: Boolean): DataFrame =
    if (!durable) df.localCheckpoint(true)
    else {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "durableCheckpoint requires sparkContext.setCheckpointDir(...)")
      df.checkpoint()
    }

  /** Free the executor-storage blocks behind a frame produced by
    * [[cut]]. Iterative loops call this on each SUPERSEDED frame as soon
    * as its successor has materialized — without it, every iteration's
    * localCheckpoint stays pinned in BlockManager storage until GC +
    * ContextCleaner get around to it, which at 10M+ nodes is gigabytes
    * of dead storage per call and, in a long-lived server, per request
    * (the round-12 serving-latency regression). The RESULT a public
    * operator returns is still backed by its final checkpoint (the
    * lineage was cut, the blocks are the only copy); callers that want
    * storage back to baseline immediately after consuming the result
    * call this on it — otherwise the ContextCleaner reclaims it on GC. */
  def release(df: DataFrame): Unit =
    org.apache.spark.sql.GraftShims.releaseCheckpoint(df)

  /** Plan-evidence hook: the iterative operators EXECUTE their joins
    * during construction (eager checkpoints), so a caller-side
    * `explain` only ever sees the final LogicalRDD — when
    * `GRAFT_PLAN_DIR` is set, the interesting INTERNAL plans (the
    * per-iteration contribution join, the wedge/closing joins) are
    * written there as formatted-explain files instead. Inert (one env
    * probe) otherwise. */
  private val dumpedPlans =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[ext] def dumpPlan(df: DataFrame, name: String): Unit =
    sys.env.get("GRAFT_PLAN_DIR").foreach { dir =>
      // once per plan name per JVM: a soak loop with the env set would
      // otherwise rewrite the file and pay the explain cost on EVERY
      // invocation (triangles had no iteration gate of its own)
      if (dumpedPlans.add(name)) {
        val p = java.nio.file.Paths.get(dir)
        java.nio.file.Files.createDirectories(p)
        java.nio.file.Files.write(p.resolve(s"$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
      }
    }

  /** Out-degrees over the DISTINCT edge set. */
  def outDegrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).as("v"), col(dstCol).as("w")).distinct()
      .groupBy("v").agg(count(lit(1)).as("out_deg"))

  /** Fixed-iteration PageRank over the distinct directed edge set.
    *
    * Per iteration: every node sends `rank div out_deg` to each
    * out-neighbor (integer division — the remainder, < out_deg units of
    * 10^-12, is dropped, identically in the mirror), and
    * `rank' = base + damp·Σcontribs div 1000` with
    * `damp = dampPerMille/1000` and
    * `base = ((1000 − dampPerMille) · (Scale div n)) div 1000`.
    * Dangling-node mass is dropped, not redistributed (ranks sum to
    * slightly under Scale) — the standard simplification, mirrored
    * exactly.
    *
    * Scale shape: each iteration is one shuffle join (edges ⋈ ranks on
    * src — ranks are (id, long) pairs, never wider) plus one partial-agg
    * groupBy on dst; lineage is cut every iteration with an eager
    * localCheckpoint so the plan stays O(1) deep (the round-10
    * cascade-rescan lesson). Node count `n` is one bounded driver
    * action. Skewed in-degree (everyone links to one hub) partial-
    * aggregates map-side — the hot key receives one partial sum per
    * partition, not one row per in-edge. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, dampPerMille: Long = 850L,
      durableCheckpoint: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(dampPerMille >= 0 && dampPerMille <= 1000,
      s"dampPerMille must be in [0, 1000], got $dampPerMille")
    // Partitioning is established ONCE and reused every iteration:
    // edges hash-partitioned on src, the rank frame on v (and
    // checkpointing preserves partitioning), so the per-iteration
    // src==v join runs exchange-free — the only shuffle per round is
    // the partial-aggregated in-mass groupBy on dst.
    // repartition BEFORE distinct: HashPartitioning(src) satisfies the
    // distinct aggregate's ClusteredDistribution(src, dst) (partition
    // keys ⊆ grouping keys), so the dedup runs exchange-free on the
    // already-placed rows — ONE shuffle of the edge set, not two
    val e = cut(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src")).distinct(), durableCheckpoint)
    val nodes = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
    val deg = e.groupBy(col("src").as("v")).agg(count(lit(1)).as("out_deg"))
    // out_deg rides IN the rank frame (nullable for dangling nodes), so
    // no per-iteration degree join
    var ranks = cut(nodes.join(deg, Seq("v"), "left")
      .repartition(col("v")), durableCheckpoint)
    val n = ranks.count()
    require(n > 0, "pageRank needs a non-empty edge set")
    val init = Scale / n
    val base = ((1000L - dampPerMille) * init) / 1000L
    var prev = ranks
    ranks = cut(ranks.withColumn("rank", lit(init)), durableCheckpoint)
    release(prev)

    for (it <- 1 to iterations) {
      // `div` (not `/`): Spark's `/` on longs is DOUBLE division, whose
      // rounding would diverge from the oracle's integer `//`
      // shuffle_hash on the rank side: both sides are already placed on
      // the join key, but the default sort-merge would re-SORT the full
      // edge set EVERY iteration (the checkpoint preserves partitioning,
      // not ordering) — hashing the node-count side instead streams the
      // edges sort-free (guide §3.1; build side = ranks ≪ edges)
      val contribs = e
        .join(ranks.filter(col("out_deg").isNotNull).hint("shuffle_hash"),
          col("src") === col("v"))
        .select(col("dst").as("v"), expr("rank div out_deg").as("c"))
        .groupBy("v").agg(sum(col("c")).as("in_mass"))
      if (it == 1) dumpPlan(contribs, "graph_pagerank_iter")
      prev = ranks
      ranks = cut(ranks.drop("rank")
        .join(contribs.hint("shuffle_hash"), Seq("v"), "left")
        .withColumn("in_mass", coalesce(col("in_mass"), lit(0L)))
        .select(col("v"), col("out_deg"),
          expr(s"$base + ($dampPerMille * in_mass) div 1000").as("rank")),
        durableCheckpoint)
      release(prev)
    }
    release(e)
    ranks.select("v", "rank")
  }

  /** Weighted PageRank: each out-edge carries a positive integer weight
    * (link count, co-citation frequency — already-integer quantities, or
    * caller-scaled fixed-point), and a node's rank divides over its
    * out-edges proportionally: contribution along (u→v, w) is
    * `(rank·w) div W_u` with `W_u` = total out-weight of u. Same
    * fixed-point arithmetic and mirror-exactness argument as
    * [[pageRank]] (one extra integer multiply in the contribution term),
    * same per-iteration plan (the weight and W_u ride the frames the
    * join already carries).
    *
    * Parallel edges must be pre-aggregated by the caller (duplicate
    * (src, dst) rows are rejected); `rank·w` stays in Long because
    * rank ≤ Scale = 10^12 and w ≤ `maxWeight` = 4·10^6 (checked — scale
    * weights down if the sum of a node's link counts exceeds it). */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iterations: Int = 5, dampPerMille: Long = 850L,
      durableCheckpoint: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(dampPerMille >= 0 && dampPerMille <= 1000,
      s"dampPerMille must be in [0, 1000], got $dampPerMille")
    val maxWeight = 4000000L
    // Integral input REQUIRED statically: a double weight silently
    // truncated by cast("long") would pass the range check yet divide
    // rank mass by the wrong totals. Free (schema-only) check.
    edges.schema(weightCol).dataType match {
      case org.apache.spark.sql.types.ByteType
         | org.apache.spark.sql.types.ShortType
         | org.apache.spark.sql.types.IntegerType
         | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"pageRankWeighted: weight column '$weightCol' must be an integral " +
          s"type (tinyint/smallint/int/bigint), got ${other.catalogString} — " +
          "scale fractional weights to fixed-point integers first")
    }
    val e = cut(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w"))
      .repartition(col("src")), durableCheckpoint)
    // ONE bounded setup job guards overflow, positivity, NULL weights,
    // and parallel edges: min/max SKIP nulls (so count(w) must equal
    // count(*) — a NULL weight would otherwise slip the range check and
    // silently leak that edge's rank mass), and count(*) >
    // count(distinct (src,dst)) ⇔ duplicates exist.
    val g = e.agg(max(col("w")).as("mx"), min(col("w")).as("mn"),
      count(lit(1)).as("cnt"), count(col("w")).as("cntw"),
      countDistinct(col("src"), col("dst")).as("cntd")).head()
    if (g.getLong(2) > 0) {
      require(g.getLong(3) == g.getLong(2),
        s"pageRankWeighted: ${g.getLong(2) - g.getLong(3)} NULL weight(s) — " +
          "every edge needs a weight in [1, " + maxWeight + "]")
      require(g.getLong(1) >= 1 && g.getLong(0) <= maxWeight,
        s"pageRankWeighted: weights must be in [1, $maxWeight] " +
          s"(got [${g.getLong(1)}, ${g.getLong(0)}]) — rank·w must fit a Long")
      require(g.getLong(4) == g.getLong(2),
        "pageRankWeighted: duplicate (src, dst) edges — pre-aggregate weights")
    }
    val nodes = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
    val wdeg = e.groupBy(col("src").as("v")).agg(sum(col("w")).as("out_w"))
    var ranks = cut(nodes.join(wdeg, Seq("v"), "left")
      .repartition(col("v")), durableCheckpoint)
    val n = ranks.count()
    require(n > 0, "pageRankWeighted needs a non-empty edge set")
    val init = Scale / n
    val base = ((1000L - dampPerMille) * init) / 1000L
    var prev = ranks
    ranks = cut(ranks.withColumn("rank", lit(init)), durableCheckpoint)
    release(prev)

    for (_ <- 1 to iterations) {
      // shuffle_hash: stream the edges sort-free, hash the node side
      // (see [[pageRank]]'s iteration join)
      val contribs = e
        .join(ranks.filter(col("out_w").isNotNull).hint("shuffle_hash"),
          col("src") === col("v"))
        .select(col("dst").as("v"), expr("(rank * w) div out_w").as("c"))
        .groupBy("v").agg(sum(col("c")).as("in_mass"))
      prev = ranks
      ranks = cut(ranks.drop("rank")
        .join(contribs.hint("shuffle_hash"), Seq("v"), "left")
        .withColumn("in_mass", coalesce(col("in_mass"), lit(0L)))
        .select(col("v"), col("out_w"),
          expr(s"$base + ($dampPerMille * in_mass) div 1000").as("rank")),
        durableCheckpoint)
      release(prev)
    }
    release(e)
    ranks.select("v", "rank")
  }

  /** Personalized PageRank: the teleport vector is uniform over `seeds`
    * instead of all nodes — mass flows OUT from a trusted seed set, so a
    * node ranks high only by proximity to seeds. The seed-propagation
    * quality prior of web-corpus curation (a crawl host scores by how
    * reachable it is from vetted hosts), same fixed-point integer
    * arithmetic as [[pageRank]]: init = `Scale div |S|` on seeds, 0
    * elsewhere; per iteration `rank' = seedBase(v) + damp·Σcontribs
    * div 1000` where seedBase is nonzero only on seeds. Dangling mass
    * drops, mirrored exactly. `seeds` must be a subset of the graph's
    * nodes (extra ids are ignored via the inner join). */
  def pageRankSeeded(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      iterations: Int = 5, dampPerMille: Long = 850L,
      durableCheckpoint: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(dampPerMille >= 0 && dampPerMille <= 1000,
      s"dampPerMille must be in [0, 1000], got $dampPerMille")
    // same reused-partitioning shape as [[pageRank]]: edges on src,
    // the rank frame (carrying out_deg + is_seed) on v; repartition
    // before distinct = one edge shuffle (see [[pageRank]])
    val e = cut(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src")).distinct(), durableCheckpoint)
    val nodes = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
    val seedSet = seeds.select(col(seedCol).as("v")).distinct()
      .withColumn("is_seed", lit(true))
    val deg = e.groupBy(col("src").as("v")).agg(count(lit(1)).as("out_deg"))
    var ranks = cut(nodes.join(seedSet, Seq("v"), "left")
      .withColumn("is_seed", coalesce(col("is_seed"), lit(false)))
      .join(deg, Seq("v"), "left")
      .repartition(col("v")), durableCheckpoint)
    val nSeeds = ranks.filter(col("is_seed")).count()
    require(nSeeds > 0, "pageRankSeeded needs at least one seed in the graph")
    val init = Scale / nSeeds
    val base = ((1000L - dampPerMille) * init) / 1000L
    var prev = ranks
    ranks = cut(ranks.withColumn("rank",
      when(col("is_seed"), lit(init)).otherwise(lit(0L))), durableCheckpoint)
    release(prev)

    for (_ <- 1 to iterations) {
      // shuffle_hash: stream the edges sort-free, hash the node side
      // (see [[pageRank]]'s iteration join)
      val contribs = e
        .join(ranks.filter(col("out_deg").isNotNull).hint("shuffle_hash"),
          col("src") === col("v"))
        .select(col("dst").as("v"), expr("rank div out_deg").as("c"))
        .groupBy("v").agg(sum(col("c")).as("in_mass"))
      prev = ranks
      ranks = cut(ranks.drop("rank")
        .join(contribs.hint("shuffle_hash"), Seq("v"), "left")
        .withColumn("in_mass", coalesce(col("in_mass"), lit(0L)))
        .select(col("v"), col("is_seed"), col("out_deg"),
          (when(col("is_seed"), lit(base)).otherwise(lit(0L)) +
            expr(s"($dampPerMille * in_mass) div 1000")).as("rank")),
        durableCheckpoint)
      release(prev)
    }
    release(e)
    ranks.select("v", "rank")
  }

  /** Connected components over an undirected view of the edge set:
    * (v, component) where component = the minimum node id reachable
    * from v.
    *
    * Algorithm: alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — NOT one-hop min-label propagation, whose round count
    * is the component DIAMETER (a redirect/citation chain of length
    * 10⁹ would need 10⁹ rounds). Each round:
    *
    *  - large-star: every node u connects its strictly-larger neighbors
    *    to `m(u) = min(Γ(u) ∪ u)`;
    *  - small-star: keyed by the larger endpoint, every node connects
    *    its smaller neighbors (and itself) to the minimum.
    *
    * Both preserve connectivity, never increase the edge count, and
    * converge to per-component stars rooted at the minimum id in
    * O(log² n) rounds (O(log n) in practice) — so `maxIter` = 50 covers
    * any physically storable graph. If the edge set has NOT stabilized
    * at `maxIter`, this THROWS rather than returning silently wrong
    * labels.
    *
    * Per round: two self-aggregating joins on the (shrinking) edge set,
    * each map-side combinable; state is the edge set itself, lineage cut
    * per round (`durableCheckpoint` = executor-loss-safe variant, see
    * [[cut]]). The min-label loop remains in
    * [[Dedup.duplicateGroups]] for near-dup clusters (diameter ≤ 2 by
    * construction), where its single narrower join wins per-round. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50, durableCheckpoint: Boolean = false): DataFrame = {
    val raw = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    val nodes = raw.select(col("u").as("id"))
      .union(raw.select(col("v").as("id"))).distinct()
    // canonical (big, small) form; self-loops don't affect connectivity
    var e = cut(raw.where(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct(), durableCheckpoint)
    var eCount = e.count()
    var converged = eCount == 0L
    var it = 0
    while (!converged && it < maxIter) {
      // large-star: symmetrize, m = min(neighbors ∪ self), re-point every
      // LARGER neighbor at m. (v > u ≥ m, so no self-edges arise.)
      // One explicit placement on u serves BOTH the min-agg and the
      // re-point join exchange-free (HashPartitioning(u) satisfies each
      // side's clustered distribution); same for the small-star stage
      // below — 3 shuffles per round instead of ~6.
      val nbrs = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
      val minsL = nbrs.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // shuffle_hash on the per-node min side: the neighbor frame
      // streams sort-free (guide §3.1; same rationale as [[pageRank]])
      val large = nbrs.join(minsL.hint("shuffle_hash"), Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .repartition(col("u")).distinct()
      // small-star: keyed by the larger endpoint (canonical form), point
      // every smaller neighbor AND the node itself at the minimum.
      val minsS = large.groupBy("u").agg(min(col("v")).as("m"))
      val small = large.join(minsS.hint("shuffle_hash"), Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(minsS.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()
      if (it == 0) dumpPlan(small, "graph_components_round")
      // the round's edge count rides the checkpoint materialization as
      // an Observation — the r20 loop paid a second full count() job
      // per round for it (guide §2.6: fewer driver round-trips)
      val obs = new org.apache.spark.sql.Observation()
      val next = cut(small.observe(obs, count(lit(1)).as("n")),
        durableCheckpoint)
      val nextCount = Option(obs.get("n"))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      // set equality = equal counts + empty one-sided anti join; a
      // stable set is additionally verified to BE min-rooted stars
      // (children and roots disjoint, one root per child) before the
      // labels are trusted — belt-and-braces against a non-star
      // fixpoint of the composed round ever existing. The three probes
      // union into ONE violation frame checked with a single head-1
      // action (was 3 separate jobs), and only run at all once the
      // count says the set MIGHT be stable — the common non-final
      // round pays nothing.
      converged = nextCount == eCount &&
        next.join(e, Seq("u", "v"), "left_anti")
          .select(lit(1).as("viol"))
          .unionAll(next.select("u").intersect(next.select("v"))
            .select(lit(1).as("viol")))
          .unionAll(next.groupBy("u").agg(count(lit(1)).as("c"))
            .where(col("c") > 1).select(lit(1).as("viol")))
          .isEmpty
      release(e) // superseded round's edge set — next is materialized
      e = next
      eCount = nextCount
      it += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: edge set still changing after $maxIter " +
        "large-star/small-star rounds — raise maxIter (convergence is " +
        "O(log² n) rounds, so this indicates n beyond any configured bound)")
    // fixpoint = stars rooted at each component's min: every non-root
    // node has exactly one (node, root) edge; roots/singletons label
    // themselves
    nodes.join(e.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id").as("v"),
        coalesce(col("v"), col("id")).as("component"))
  }

  /** Top-k nodes by rank with a deterministic id tiebreak. */
  def topRanked(ranks: DataFrame, k: Int): DataFrame =
    ranks.orderBy(col("rank").desc, col("v").asc).limit(k)

  /** Exact global triangle count via degree-ordered edge orientation
    * (Suri & Vassilvitskii, WWW 2011 — the MapReduce-scale algorithm):
    * orient every undirected edge from its (degree, id)-smaller
    * endpoint, enumerate wedges from each source's out-neighborhood,
    * and close them against the oriented edge set. The orientation
    * bounds every out-degree by O(√m), so the wedge set is O(m^{3/2})
    * REGARDLESS of skew — a naive neighbor self-join on a hub node of
    * degree d materializes d² wedges; oriented, the hub is the
    * (deg,id)-LARGEST endpoint of nearly all its edges and emits
    * almost none. Each triangle {a,b,c} ordered by (deg,id) appears
    * exactly once, as wedge (a; b,c) closed by b→c.
    *
    * Self-loops are dropped; parallel/bidirectional inputs collapse
    * via the canonical (least, greatest) distinct. Ids need only be
    * orderable (long, string, …) — the orientation compares
    * `struct(deg, id)` tuples, which an external engine mirrors as a
    * row comparison.
    *
    * Scale shape: one distinct + one degree agg + two degree joins to
    * orient; the oriented frame is placed on `u` ONCE and checkpointed,
    * so the wedge self-join's both sides share that exchange; the
    * closing join matches wedges against the (u, v) oriented edges —
    * BROADCAST when the exact edge count (free from the guard agg) is
    * ≤ `maxBroadcastClosingEdges`, so the O(m^1.5) wedge set is never
    * shuffled, else a shuffled join on the (v1, v2) pair. No
    * driver-side collect; output is one row.
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String,
      durableCheckpoint: Boolean = false,
      maxWedges: Long = 2000000000L,
      maxBroadcastClosingEdges: Long = 500000L): DataFrame = {
    require(maxWedges >= 1, "maxWedges must be >= 1")
    val e0 = edges.filter(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
    val deg = e0.select(col("a").as("n"))
      .unionAll(e0.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = e0
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
    val aFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val o = cut(withDeg.select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"),
        when(aFirst, col("db")).otherwise(col("da")).as("dv"))
      .repartition(col("u")), durableCheckpoint)
    // Wedge-volume guard: the wedge set is O(m^1.5) — bounded under
    // any skew, but still superlinear (the sf0.1 fixture's 1.2M-edge
    // graph makes ~41M wedges; 10× the edges makes ~1.3B). One cheap
    // agg over the ALREADY-CHECKPOINTED oriented frame computes the
    // EXACT wedge count (Σ_u c_u·(c_u−1)/2 over out-degrees); past
    // `maxWedges` the count is REFUSED loudly rather than silently
    // launching a shuffle join orders of magnitude bigger than the
    // caller expects — the same fail-don't-degrade discipline as the
    // TF-IDF candidate guard and the minhash star cap.
    val guardRow = o.groupBy("u")
      .agg(count(lit(1)).cast("double").as("c"))
      .agg(sum(col("c") * (col("c") - 1) / 2), sum(col("c"))).head()
    val wedgeCount = if (guardRow.isNullAt(0)) 0.0 else guardRow.getDouble(0)
    val edgeCount = if (guardRow.isNullAt(1)) 0L else guardRow.getDouble(1).toLong
    if (wedgeCount > maxWedges.toDouble) {
      release(o)
      throw new IllegalArgumentException(
        f"triangleCount: the oriented wedge set has $wedgeCount%.3g " +
          s"entries, over maxWedges=$maxWedges — the closing join would " +
          "shuffle that many rows. Subsample or partition the edge set, " +
          "or raise maxWedges deliberately.")
    }
    val x = o.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
    val y = o.select(col("u"), col("v").as("v2"), col("dv").as("d2"))
    // shuffle_hash: both sides are the checkpointed frame already placed
    // on u, but sort-merge would SORT each 1x the edge set before the
    // merge (the checkpoint preserves partitioning, not ordering); a
    // per-partition hash build over m/parts rows streams the other side
    // sort-free (guide §3.1)
    val wedges = x.join(y.hint("shuffle_hash"), Seq("u"))
      .filter(struct(col("d1"), col("v1")) < struct(col("d2"), col("v2")))
      .select("v1", "v2")
    // Closing join: the wedge side is the superlinear one (O(m^1.5)
    // rows), the edge side is just m rows — for SMALL edge sets,
    // BROADCAST the edges so the wedges stream through a hash lookup
    // in the same stage they're generated in, instead of being
    // shuffle-written, sorted and shuffle-read for a merge join. The
    // exact edge count is already in hand from the guard agg. The
    // default threshold is MEASURED, not guessed: at sf0.1 (1.2M
    // oriented edges, 41M wedges) broadcast and shuffle are a wash —
    // the single-threaded 1.2M-row hash-relation build (~2s) eats
    // exactly what the 41M-row exchange costs at 32 threads (probed
    // 3 runs each: broadcast 4.4-5.8s, shuffle 3.9-5.2s for the wedge
    // phase) — so only clearly-under-the-build-cost edge sets take the
    // broadcast path; everything else keeps the shuffled join, which
    // also stays the right plan at the 10M-edge soak scale.
    val closingEdges = o.select(col("u").as("v1"), col("v").as("v2"))
    // non-broadcast path: shuffle_hash instead of sort-merge — the
    // O(m^1.5) wedge side must cross the wire either way, but hashing
    // the m-row edge side (m/parts rows per task) removes the SORT of
    // the wedge set, the dominant cost of the merge plan (guide §3.1)
    val closed = wedges.join(
      if (edgeCount <= maxBroadcastClosingEdges) broadcast(closingEdges)
      else closingEdges.hint("shuffle_hash"),
      Seq("v1", "v2"))
    dumpPlan(closed, "graph_triangles_closing")
    val n = closed.agg(count(lit(1)).as("t")).head().getLong(0)
    release(o) // consumed; storage back to baseline (round-13 contract)
    val spark = edges.sparkSession
    import spark.implicits._
    Seq(n).toDF("triangles")
  }
}
