package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off scale probe for the fixed-point PageRank loop: 1M edges over
  * 200k nodes (deterministic hash-derived multigraph with hubs — node 0
  * receives ~0.5% of all edges, the skew shape a web graph has), 5
  * iterations, wall time + top-rank sanity recorded. Run by [[Soak]] as
  * `graph_soak_1m`. */
object GraphSoak {
  def run(spark: SparkSession): String = {
    import spark.implicits._

    // splitmix-style mix keeps src/dst deterministic and uncorrelated;
    // every 200th edge points at hub node 0
    def edges(nEdges: Long, nNodes: Long) = spark.range(nEdges).select(
        (col("id") % nNodes).as("src"),
        when(col("id") % 200 === 0, lit(0L)).otherwise(
          // pmod, not abs(...)%: abs(Int.MinValue) throws under ANSI
          // mode — a ~0.2%-per-10M-rows nondeterministic soak failure
          pmod(hash(col("id") * 2654435761L), lit(nNodes))).as("dst"))
      .filter(col("src") =!= col("dst"))
    def pageRank(nEdges: Long, nNodes: Long): (Double, Boolean, Long, Int) = {
      val t0 = System.nanoTime()
      val ranks = graft.ext.Graph.pageRank(edges(nEdges, nNodes), "src", "dst",
        iterations = 5)
      val top = graft.ext.Graph.topRanked(ranks, 10)
        .as[(Long, Long)].collect()
      val secs = (System.nanoTime() - t0) / 1e9
      // storage hygiene at soak scale: after release, nothing of this
      // call may stay pinned in executor storage (round-13 contract)
      graft.ext.Graph.release(ranks)
      (secs, top.headOption.exists(_._1 == 0L),
        top.headOption.map(_._2).getOrElse(0L),
        spark.sparkContext.getPersistentRDDs.size)
    }
    val (s1, hub1, rank1, p1) = pageRank(1000000L, 200000L)
    val (s10, hub10, _, p10) = pageRank(10000000L, 2000000L)

    // Triangle count at 10M edges: the wedge guard's one-agg estimate
    // plus the O(m^1.5) closing join at a scale 10× the bench fixture —
    // the degree-ordered orientation must keep the hub (≈50k raw
    // degree) from exploding the wedge set.
    def triangles(nEdges: Long, nNodes: Long): (Double, Long, Int) = {
      val t0 = System.nanoTime()
      val n = graft.ext.Graph.triangleCount(edges(nEdges, nNodes), "src", "dst",
        maxWedges = 4000000000L).head().getLong(0)
      val secs = (System.nanoTime() - t0) / 1e9
      (secs, n, spark.sparkContext.getPersistentRDDs.size)
    }
    val (ts10, tri10, tp10) = triangles(10000000L, 2000000L)

    f"""{"n_edges":1000000,"n_nodes":200000,"iterations":5,"pagerank_sec":$s1%.1f,"hub_is_top":${if (hub1) 1 else 0},"top_rank":$rank1,"persistent_rdds_after_release":$p1,"pagerank_10m_edges_sec":$s10%.1f,"hub_is_top_10m":${if (hub10) 1 else 0},"persistent_rdds_after_release_10m":$p10,"triangles_10m_edges_sec":$ts10%.1f,"triangles_10m":$tri10,"persistent_rdds_after_triangles":$tp10}"""
  }
}
