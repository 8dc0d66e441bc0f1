package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Graph

/** Fixed-point PageRank. */
class GraphSpec extends SparkSuite {
  import spark.implicits._

  test("2-cycle is the stationary fixed point: ranks stay Scale/2 exactly") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val got = Graph.pageRank(edges, "src", "dst", iterations = 5)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> Graph.Scale / 2, "b" -> Graph.Scale / 2), got)
  }

  test("star graph: the center out-ranks every leaf; dangling mass drops") {
    // leaves point at the center AND back, center -> leaves: cycles so
    // iterations matter
    val leaves = (1 to 4).map(i => s"l$i")
    val edges = (leaves.map(l => (l, "hub")) ++ leaves.map(l => ("hub", l)))
      .toDF("src", "dst")
    val ranks = Graph.pageRank(edges, "src", "dst", iterations = 5)
      .as[(String, Long)].collect().toMap
    assert(leaves.forall(l => ranks("hub") > ranks(l)), ranks)
    // total mass ≤ Scale (integer truncation only removes mass)
    assert(ranks.values.sum <= Graph.Scale)
    // all leaves symmetric → identical ranks
    assert(leaves.map(ranks).distinct.size == 1, ranks)
  }

  test("deterministic across partitionings and repeated runs") {
    val edges = (0 until 400).map(i => (s"n${i % 37}", s"n${(i * 7 + 3) % 37}"))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val a = Graph.pageRank(edges.repartition(1), "src", "dst", 4)
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    val b = Graph.pageRank(edges.repartition(13), "src", "dst", 4)
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(a == b)
  }

  test("hand-computed two-hop chain after one iteration") {
    // a -> b -> c: n=3, init=Scale/3, base=(150*init)//1000
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val init = Graph.Scale / 3
    val base = (150L * init) / 1000L
    val got = Graph.pageRank(edges, "src", "dst", iterations = 1)
      .as[(String, Long)].collect().toMap
    assert(got("a") == base)
    assert(got("b") == base + (850L * init) / 1000L)
    assert(got("c") == base + (850L * init) / 1000L)
  }

  test("seeded PageRank: mass stays near seeds, non-seeds get no teleport") {
    // two disjoint 2-cycles; seed only in the first
    val edges = Seq(("a", "b"), ("b", "a"), ("x", "y"), ("y", "x"))
      .toDF("src", "dst")
    val seeds = Seq("a", "zzz_not_in_graph").toDF("v")
    val got = Graph.pageRankSeeded(edges, "src", "dst", seeds, "v", 5)
      .as[(String, Long)].collect().toMap
    assert(got("x") == 0L && got("y") == 0L,
      s"unreachable component must hold zero mass: $got")
    assert(got("a") > 0L && got("b") > 0L, got)
    // a 2-cycle oscillates between the endpoints (damped by 0.85/step);
    // the exact 5-step values are the recurrence a' = .15 + .85 b,
    // b' = .85 a from (1, 0), in integer fixed point
    var (ra, rb) = (Graph.Scale, 0L)
    for (_ <- 1 to 5) {
      val (na, nb) = ((150L * (Graph.Scale / 1)) / 1000L + (850L * rb) / 1000L,
        (850L * ra) / 1000L)
      ra = na; rb = nb
    }
    assert(got("a") == ra && got("b") == rb, s"$got vs ($ra, $rb)")
    // single in-graph seed → init mass = Scale, conserved up to div loss
    assert(got("a") + got("b") <= Graph.Scale)
  }

  test("seeded PageRank refuses an empty in-graph seed set") {
    val edges = Seq(("a", "b")).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      Graph.pageRankSeeded(edges, "src", "dst", Seq("nope").toDF("v"), "v", 2)
    }
  }

  test("seeded PageRank refuses a damping factor outside [0, 1000] per mille") {
    // past 1000 the seeds' teleport base goes negative; below 0 the
    // propagated mass does
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    for (damp <- Seq(-1L, 1001L)) {
      val e = intercept[IllegalArgumentException] {
        Graph.pageRankSeeded(edges, "src", "dst", Seq("a").toDF("v"), "v", 2,
          dampPerMille = damp)
      }
      assert(e.getMessage.contains("dampPerMille must be in [0, 1000]"), e.getMessage)
    }
  }

  test("connectedComponents labels disjoint chains with their min node") {
    val edges = Seq(("b", "c"), ("a", "b"), ("x", "y")).toDF("src", "dst")
    val got = Graph.connectedComponents(edges, "src", "dst")
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"), got)
  }

  test("connectedComponents converges on a high-diameter chain in " +
      "O(log n) rounds where min-label propagation cannot") {
    // path graph v000-v001-…-v060: diameter 60 > the min-label default
    // of 20 rounds; zero-padded ids keep lexicographic order = numeric
    val chain = (0 until 60)
      .map(i => (f"v$i%03d", f"v${i + 1}%03d")).toDF("src", "dst")
    // LSS labels the whole chain with its min in ≤ 50 rounds (actually ~6)
    val got = Graph.connectedComponents(chain, "src", "dst")
      .as[(String, String)].collect()
    assert(got.length == 61 && got.forall(_._2 == "v000"), got.take(5).toSeq)
    // the one-hop loop exits unconverged at the same diameter — and now
    // says so loudly instead of returning wrong labels
    val nodes = chain.select(col("src").as("id"))
      .union(chain.select(col("dst").as("id"))).distinct()
    val ex = intercept[IllegalStateException] {
      graft.ext.Dedup.duplicateGroups(nodes, "id", chain, "src", "dst",
        maxIter = 20).collect()
    }
    assert(ex.getMessage.contains("connectedComponents"), ex.getMessage)
  }

  test("connectedComponents handles self-loops, isolated-by-self-loop " +
      "nodes, and a clique") {
    val edges = Seq(("a", "a"), ("q", "q"), // self-loops (q isolated)
      ("b", "c"), ("c", "d"), ("b", "d"), ("a", "b")).toDF("src", "dst")
    val got = Graph.connectedComponents(edges, "src", "dst")
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "q" -> "q"), got)
  }

  test("durableCheckpoint variants produce identical results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"))
      .toDF("src", "dst")
    val prLocal = Graph.pageRank(edges, "src", "dst", 3)
      .as[(String, Long)].collect().toMap
    val prDurable = Graph.pageRank(edges, "src", "dst", 3,
        durableCheckpoint = true)
      .as[(String, Long)].collect().toMap
    assert(prLocal == prDurable)
    val ccLocal = Graph.connectedComponents(edges, "src", "dst")
      .as[(String, String)].collect().toMap
    val ccDurable = Graph.connectedComponents(edges, "src", "dst",
        durableCheckpoint = true)
      .as[(String, String)].collect().toMap
    assert(ccLocal == ccDurable)
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    val dgDurable = graft.ext.Dedup.duplicateGroups(nodes, "id",
        edges, "src", "dst", durableCheckpoint = true)
      .as[(String, String)].collect().toMap
    assert(dgDurable == ccLocal.map { case (k, v) => k -> v })
  }

  test("durable checkpoints observe each round once: components take " +
      "the same rounds as the local path") {
    // the per-round edge count is an Observation riding the checkpoint;
    // if the durable (reliable) checkpoint computed its plan twice, the
    // count would double, an already-converged star would need a second
    // round, and maxIter = the local round count would throw
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-ckpt-rounds").toString)
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (5L, 4L))
      .toDF("src", "dst")
    val rounds = (1 to 5).find { m =>
      scala.util.Try(Graph.connectedComponents(edges, "src", "dst",
        maxIter = m)).isSuccess
    }.get
    val local = Graph.connectedComponents(edges, "src", "dst",
        maxIter = rounds)
      .as[(Long, Long)].collect().toMap
    val durable = Graph.connectedComponents(edges, "src", "dst",
        maxIter = rounds, durableCheckpoint = true)
      .as[(Long, Long)].collect().toMap
    assert(durable == local)
  }

  test("weighted PageRank: heavier edge carries proportionally more " +
      "mass, and weight-1 edges reduce to plain PageRank") {
    // a → b (w 3), a → c (w 1): b gets 3/4 of a's mass, c gets 1/4
    val w = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("src", "dst", "w")
    val got = Graph.pageRankWeighted(w, "src", "dst", "w", iterations = 1)
      .as[(String, Long)].collect().toMap
    val init = Graph.Scale / 3
    val base = (150L * init) / 1000L
    assert(got("b") == base + (850L * ((init * 3) / 4)) / 1000L, got)
    assert(got("c") == base + (850L * ((init * 1) / 4)) / 1000L, got)
    // all-ones weights == unweighted (same integer ops)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
      .toDF("src", "dst")
    val ones = edges.withColumn("w", lit(1L))
    val a = Graph.pageRank(edges, "src", "dst", 4)
      .as[(String, Long)].collect().toMap
    val b = Graph.pageRankWeighted(ones, "src", "dst", "w", 4)
      .as[(String, Long)].collect().toMap
    assert(a == b)
  }

  test("weighted PageRank rejects nonpositive weights and parallel edges") {
    intercept[IllegalArgumentException] {
      Graph.pageRankWeighted(Seq(("a", "b", 0L)).toDF("src", "dst", "w"),
        "src", "dst", "w")
    }
    intercept[IllegalArgumentException] {
      Graph.pageRankWeighted(
        Seq(("a", "b", 1L), ("a", "b", 2L)).toDF("src", "dst", "w"),
        "src", "dst", "w")
    }
  }

  test("iterative loops release superseded checkpoints: executor storage " +
      "does not grow with the iteration count") {
    // Every iteration localCheckpoints a frame; before round 13 each of
    // them stayed pinned in BlockManager storage until GC (≈ iter+3
    // persistent RDDs per call — the round-12 serving-latency culprit).
    // Now only the RESULT's final checkpoint may remain, and
    // Graph.release frees that too. Bounds are deliberately loose (≤3,
    // not ==1) because suites share the SparkContext and can checkpoint
    // concurrently — a LEAK would show up as 10+ new entries.
    val sc = spark.sparkContext
    val edges = (0 until 3000).map(i => (s"n${i % 211}", s"n${(i * 13 + 5) % 211}"))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val before = sc.getPersistentRDDs.keySet
    val ranks = Graph.pageRank(edges, "src", "dst", iterations = 8)
    ranks.count()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 3,
      s"pageRank(8 iters) left ${leaked.size} persistent RDDs — " +
        "superseded checkpoints are not being released")
    Graph.release(ranks)
    val after = sc.getPersistentRDDs.keySet -- before
    assert(after.size < leaked.size || leaked.isEmpty,
      s"Graph.release(result) freed nothing: $after")

    // connectedComponents: same contract on its per-round edge frames
    val ccBefore = sc.getPersistentRDDs.keySet
    val cc = Graph.connectedComponents(edges, "src", "dst")
    cc.count()
    val ccLeaked = sc.getPersistentRDDs.keySet -- ccBefore
    assert(ccLeaked.size <= 3,
      s"connectedComponents left ${ccLeaked.size} persistent RDDs")
    Graph.release(cc)
  }

  test("edge setup dedups exchange-free on the src partitioning: ONE " +
      "shuffle of the edge set, not two") {
    // HashPartitioning(src) satisfies distinct's ClusteredDistribution
    // (src, dst) — partition keys ⊆ grouping keys — so the aggregate
    // must not add its own Exchange on top of the repartition
    val edges = (0 until 500).map(i => (s"n${i % 37}", s"n${(i * 7 + 3) % 37}"))
      .toDF("src", "dst")
    val plan = edges.select(col("src"), col("dst"))
      .repartition(col("src")).distinct()
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 Exchange, got $exchanges:\n$plan")
  }

  test("weighted PageRank rejects NULL and fractional-typed weights") {
    // a NULL weight slips min/max (which skip NULLs) — must fail loudly
    val withNull = Seq(("a", "b", Some(2L)), ("b", "a", None))
      .toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      Graph.pageRankWeighted(withNull, "src", "dst", "w")
    }
    // a double weight would be silently truncated by the long cast —
    // rejected statically on the schema, no job launched
    val frac = Seq(("a", "b", 1.5)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      Graph.pageRankWeighted(frac, "src", "dst", "w")
    }
    // integer (non-long) weights are fine
    val ints = Seq(("a", "b", 2), ("b", "a", 3)).toDF("src", "dst", "w")
    assert(Graph.pageRankWeighted(ints, "src", "dst", "w", 2).count() == 2)
  }

  test("topRanked breaks rank ties by id") {
    val ranks = Seq(("z", 5L), ("a", 5L), ("m", 9L)).toDF("v", "rank")
    val got = Graph.topRanked(ranks, 2).as[(String, Long)].collect().toSeq
    assert(got == Seq(("m", 9L), ("a", 5L)))
  }

  test("triangleCount: hand-built graph, duplicate/reversed/self edges " +
      "collapse, storage released") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // K4 on {1,2,3,4} (4 triangles) + pendant 5-1 + disjoint triangle
    // {6,7,8} + noise: reversed duplicate 2->1, self-loop 3-3
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 1L), (6L, 7L), (7L, 8L), (6L, 8L),
      (2L, 1L), (3L, 3L)).toDF("src", "dst")
    val n = Graph.triangleCount(edges, "src", "dst").head().getLong(0)
    assert(n == 5L, s"expected 5 triangles, got $n")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "triangleCount left checkpoints pinned")
    // triangle-free bipartite graph → 0
    val bip = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)).toDF("src", "dst")
    assert(Graph.triangleCount(bip, "src", "dst").head().getLong(0) == 0L)
    // string ids: one triangle, orientation on (deg, id) tuples
    val strs = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
      .toDF("src", "dst")
    assert(Graph.triangleCount(strs, "src", "dst").head().getLong(0) == 1L)
  }

  test("triangleCount refuses past the wedge-volume bound, releasing " +
      "its checkpoint, and admits the same graph under a higher bound") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // K4: oriented out-degrees (3,2,1,0) -> wedges C(3,2)+C(2,2)+0+0 = 4
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Graph.triangleCount(edges, "src", "dst", maxWedges = 3L)
    }
    assert(e.getMessage.contains("wedge"), e.getMessage)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "refusal path left checkpoints pinned")
    val n = Graph.triangleCount(edges, "src", "dst", maxWedges = 4L)
      .head().getLong(0)
    assert(n == 4L, s"expected 4 triangles in K4, got $n")
  }

  test("triangleCount equals the naive ordered 3-cycle join on a " +
      "random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .toDF("src", "dst")
    val fast = Graph.triangleCount(edges, "src", "dst").head().getLong(0)
    val e0 = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    val naive = e0.as("e1")
      .join(e0.as("e2"), col("e2.a") === col("e1.a") && col("e2.b") > col("e1.b"))
      .join(e0.as("e3"), col("e3.a") === col("e1.b") && col("e3.b") === col("e2.b"))
      .count()
    assert(fast == naive, s"oriented $fast vs naive $naive")
    assert(fast > 0L, "degenerate test graph — no triangles at all")
  }
}
