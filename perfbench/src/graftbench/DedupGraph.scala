package graftbench

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Graph}

/** `dedup_graph`: the training-data path. Each timed pass runs
  * `Dedup.nearDupPairsMinhash` and `Dedup.duplicateGroups` over a
  * seeded corpus with injected near-duplicates, then
  * `Graph.triangleCount`, `Graph.pageRank` (5 iterations) and
  * `Graph.connectedComponents` over a seeded graph of the shape of
  * graft.Bench's `graph_pagerank_2m`. */
object DedupGraph {
  val Docs = 4000
  val Vocab = 5000
  val DupShare = 0.05
  /** edges and nodes in the ratio of `graph_pagerank_2m` (2M : 200k) */
  val Edges = 20000L
  val Nodes = 2000L
  val Iterations = 5
  val Damp = 850L
  /** least share of injected near-duplicates grouped with their source */
  val DupRecallFloor = 0.9
  val Threshold = 0.5
  /** set-up here is a one-second ingest, so it is repeated more often
    * than the vector store's to steady its median */
  val Setups = 4
  /** a pass takes most of a 12 s timed phase, so the phase runs on
    * until this many passes are done and `p50_ms` never rests on one */
  val MinPasses = 2

  def run(run: Run): Unit = {
    val seed = run.args.seed
    val spark = run.spark
    import spark.implicits._
    val docs = Gen.docs(seed, Docs, Vocab, DupShare)
    val edges = Gen.edges(spark, seed, Edges, Nodes).as[(Long, Long)].collect()
    val textOf = docs.ids.zip(docs.texts).toMap

    // set-up: ingest both inputs into the store, several times
    var engine: graft.api.Engine = null
    val setups = (0 until Setups).map { i =>
      if (engine != null) Run.deleteDir(engine.root)
      val root = s"${run.args.work}/store-$i"
      Run.deleteDir(root)
      engine = new graft.api.Engine(spark, root)
      run.tracer.tag(s"${Tracer.TagPrefix}setup$i-create")
      run.secs {
        engine.makeTable("docs", docs.ids.zip(docs.texts).toSeq.toDF("id", "text").repartition(run.nproc))
        engine.makeTable("edges", edges.toSeq.toDF("src", "dst").repartition(run.nproc))
      }._2
    }
    run.put("setup_s", setups)
    run.put("create_table_s", setups)
    val e = engine

    // reference answers, from the generated inputs alone
    val wantComponents = Oracle.componentCount(edges)
    val wantTriangles = Oracle.triangleCount(edges)
    val wantTop = Oracle.pageRankTop(edges, Iterations, Damp, Graph.Scale, 10)

    def dedup(): (Array[(Long, Long, Double)], Map[Long, Long]) = {
      val d = e.readTable(Seq("docs"))
      val pairs = run.tracer.span("ext.minhash_pairs")(
        Dedup.nearDupPairsMinhash(d, "id", "text", threshold = Threshold)
          .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect())
      val reps = run.tracer.span("ext.dup_groups") {
        val pdf = pairs.toSeq.toDF("id_a", "id_b", "jaccard")
        Dedup.duplicateGroups(d.select("id"), "id", pdf, "id_a", "id_b")
          .select(col("id"), col("rep")).as[(Long, Long)].collect().toMap
      }
      (pairs, reps)
    }
    def triangles(): Long = run.tracer.span("ext.triangles")(
      Graph.triangleCount(e.readTable(Seq("edges")), "src", "dst").head().getLong(0))
    def top(): Seq[(Long, Long)] = run.tracer.span("ext.pagerank") {
      val ranks = Graph.pageRank(e.readTable(Seq("edges")), "src", "dst",
        iterations = Iterations, dampPerMille = Damp)
      try Graph.topRanked(ranks, 10).as[(Long, Long)].collect().toSeq
      finally Graph.release(ranks)
    }
    def components(): Long = run.tracer.span("ext.components")(
      Graph.connectedComponents(e.readTable(Seq("edges")), "src", "dst")
        .agg(countDistinct(col("component"))).head().getLong(0))

    def pass(warm: Boolean = false): Unit = {
      val op = run.newOp("pass", warm)
      op.items = Docs + edges.length
      val out = run.timed(op) {
        val (pairs, reps) = dedup()
        (pairs, reps, triangles(), top(), components())
      }
      if (!warm) out.foreach { case (pairs, reps, triangles, top0, components) =>
        val top = if (run.forceWrong()) top0.reverse else top0
        def fail(why: String): Unit = op.fail(why, check = true)
        pairs.find { case (a, b, _) =>
          a >= b || Oracle.jaccard(textOf(a), textOf(b), 3) < Threshold
        }.foreach(p => fail(s"pair $p is not a near-duplicate"))
        val grouped = docs.injected.map { case (dup, src) =>
          reps.get(dup).exists(r => reps.get(src).contains(r))
        }
        val recall = grouped.count(identity).toDouble / grouped.length
        if (recall < DupRecallFloor) fail(f"near-dup recall $recall%.3f under the floor")
        if (triangles != wantTriangles) fail(s"triangles $triangles, expected $wantTriangles")
        if (components != wantComponents) fail(s"components $components, expected $wantComponents")
        if (top != wantTop) fail("pagerank top-10 differs from power iteration")
        run.addRecall(grouped.indices.filter(grouped(_)).map(_.toLong), grouped.indices.map(_.toLong))
      }
    }

    // warm-up: two passes side by side, so the code paths of two passes
    // are compiled in less time than two passes one after the other
    val (_, warmSecs) = run.secs(Run.inParallel(Seq.fill(2)(() => pass(warm = true))))
    run.put("warmup_s", warmSecs)
    val t0 = System.nanoTime()
    run.put("t0_ns", t0)
    val deadline = t0 + (run.args.seconds * 1e9).toLong
    var passes = 0
    while (System.nanoTime() < deadline || passes < MinPasses) { pass(); passes += 1 }

    val (bytes, files) = Run.dirBytes(e.root)
    run.put("stored_bytes", bytes)
    run.put("stored_files", files)
    run.put("raw_bytes", docs.texts.map(_.length.toLong).sum + edges.length * 16L)
    run.put("table_bytes", bytes)
  }
}
