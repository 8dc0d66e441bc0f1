package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.{Engine, Search}
import graft.coder.{Coder, CoderConfig}
import graft.core.Metrics
import graft.functions.functions._

trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config(s"spark.hadoop.fs.${FaultFs.Scheme}.impl", classOf[FaultFs].getName)
    .getOrCreate()
  override def afterAll(): Unit = { /* shared across suites; do not stop */ }
  def sf(dir: String, table: String) =
    spark.read.parquet(s"/root/testdata/$dir/$table.parquet")

  /** Spark jobs started on this thread while `f` runs. */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try f
    finally {
      sc.clearJobGroup()
      // listener delivery is asynchronous: drain the bus before reading
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  /** Runs `f` with `store`'s driver-residency budget
    * ([[graft.store.Store.ResidentBytes]]) used up by a filler entry, so
    * a tier not already resident is served from parquet — the plan a
    * tier over the cap gets — then gives the budget back. */
  def overCap[A](store: graft.store.Store)(f: => A): A = {
    import spark.implicits._
    // one row of (null cell, bytes): an UnsafeRow of 8 (null bits) +
    // 2 × 8 (fixed slots) + the bytes, rounded up to a word
    val free = graft.store.Store.ResidentBytes - store.residentBytes
    val filler = Seq((Option.empty[Long], new Array[Byte]((free - 24).toInt)))
      .toDF("cell", "bytes")
    val key = s"/graft-over-cap-${System.nanoTime()}"
    assert(store.memo(key)(new store.Resident(filler, "cell")).cells.nonEmpty)
    assert(store.residentBytes == graft.store.Store.ResidentBytes)
    try f finally store.forget(key)
  }

  /** Asserts the batch-kNN-join scale contract: the corpus side never
    * shuffles by its id column — the rerank reads it through a
    * broadcast of the survivor ids, so the only hash exchanges in the
    * plan partition by the QUERY id (the per-query windows). */
  def assertNoCorpusIdShuffle(planStr: String, idCol: String = "id"): Unit = {
    val idShuffles = planStr.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") &&
        l.contains(s"($idCol#")).toSeq
    assert(idShuffles.isEmpty,
      s"corpus shuffles by $idCol:\n${idShuffles.mkString("\n")}\nin:\n$planStr")
  }
}

class MetricsSpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(7)
  private def vec(d: Int) = Array.fill(d)(rnd.nextDouble() * 2 - 1)

  test("metric identities") {
    for (_ <- 1 to 50) {
      val u = vec(16); val v = vec(16)
      assert(Metrics.dist(u, u, "l2") == 0.0)
      assert(math.abs(Metrics.dist(u, u, "cosine")) < 1e-12)
      assert(Metrics.dist(u, v, "l2") == Metrics.dist(v, u, "l2"))
      val c = Metrics.dist(u, v, "cosine")
      assert(c >= -1e-12 && c <= 1.0 + 1e-12, s"cosine out of [0,1]: $c")
      val dot = u.zip(v).map { case (a, b) => a * b }.sum
      assert(math.abs(Metrics.dist(u, v, "dot") + dot) < 1e-9)
    }
  }

  test("aliases and validation") {
    assert(Metrics.canonical("EUCLIDEAN") == "l2")
    assert(Metrics.canonical("inner_product") == "dot")
    intercept[IllegalArgumentException](Metrics.canonical("manhattan"))
  }
}

class VectorDistanceSpec extends SparkSuite {
  test("expression matches scala reference on float corpus (codegen path)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(64)((rnd.nextLong().abs, Seq.fill(8)(rnd.nextFloat())))
    val df = rows.toDF("id", "vec")
    val target = Seq.fill(8)(rnd.nextFloat().toDouble)
    for (m <- Metrics.All) {
      val got = df.withColumn("d", vector_distance(col("vec"), typedLit(target), m))
        .select("id", "d").as[(Long, Double)].collect().toMap
      rows.foreach { case (id, v) =>
        val want = Metrics.dist(v.map(_.toDouble).toArray, target.toArray, m)
        assert(math.abs(got(id) - want) < 1e-12, s"metric $m id $id")
      }
    }
  }

  test("dim mismatch throws") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq(1.0f, 2.0f))).toDF("vec")
    val ex = intercept[Exception] {
      df.select(vector_distance(col("vec"), typedLit(Seq(1.0, 2.0, 3.0)), "l2")).collect()
    }
    assert(ex.getMessage != null)
  }
}

class EngineSpec extends SparkSuite {
  private lazy val root = Files.createTempDirectory("graft-engine").toString
  private lazy val engine = new Engine(spark, root)
  private val dim = 64

  private def targetVec(): Array[Double] = {
    sf("sf0.001", "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .collect()(0).getSeq[Double](0).toArray
  }

  test("table round-trip preserves data") {
    val emb = sf("sf0.001", "embeddings")
    engine.makeTable("emb", emb)
    val back = engine.readTable(Seq("emb"))
    assert(back.count() == emb.count())
    assert(back.schema.fieldNames.sorted.sameElements(emb.schema.fieldNames.sorted))
    // exact content equality
    assert(back.exceptAll(emb).isEmpty && emb.exceptAll(back).isEmpty)
  }

  test("multi-source load unions") {
    val emb = sf("sf0.001", "embeddings")
    engine.makeTable("emb_lo", emb.filter(col("vec_id") < 250))
    engine.makeTable("emb_hi", emb.filter(col("vec_id") >= 250))
    assert(engine.readTable(Seq("emb_lo", "emb_hi")).count() == emb.count())
  }

  test("coder trains sane centroids for every metric") {
    for (metric <- Seq("l2", "cosine", "dot")) {
      val cfg = CoderConfig(metric = metric, codebookSize = 4, numCodebooks = 2,
        batchSize = 128, numEpochs = 2)
      val coding = Coder.train(sf("sf0.001", "embeddings"), "embedding", cfg)
      assert(coding.n == 2 && coding.k == 4 && coding.dim == dim)
      assert(coding.centroids.flatten.flatten.forall(d => !d.isNaN && !d.isInfinite))
      if (metric == "cosine")
        coding.centroids.flatten.foreach { c =>
          val norm = math.sqrt(c.map(x => x * x).sum)
          assert(math.abs(norm - 1.0) < 1e-9, s"cosine centroid norm $norm")
        }
    }
  }

  test("index build partitions by cell and probed search at full probes = brute force") {
    val cfg = CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2,
      batchSize = 128, numEpochs = 3)
    engine.makeIndex("c1", "emb", "embedding", cfg)
    val indexed = engine.readTable(Seq("emb"), coding = Some(("c1", "embedding")))
    val cells = indexed.select(Search.CodeCol).distinct()
      .collect().map(_.getLong(0))
    assert(cells.forall(c => c >= 0 && c < 16))
    assert(indexed.count() == 500)

    val t = targetVec()
    val brute = engine.search("emb", "embedding", t, metric = Some("l2"),
      k = 10, tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val probedAll = engine.search("emb", "embedding", t, coding = Some("c1"),
      probes = Some(16), k = 10, tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(probedAll == brute, "probes = numCells must equal brute force")

    val probed4 = engine.search("emb", "embedding", t, coding = Some("c1"),
      probes = Some(4), k = 10, tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = brute.count(probed4.contains) / 10.0
    info(s"recall@10 at 4/16 probes: $recall")
    assert(recall >= 0.3, s"suspiciously low recall $recall")
  }

  test("probed search defaults metric from coding config") {
    val t = targetVec()
    val df = engine.search("emb", "embedding", t, coding = Some("c1"),
      probes = Some(16), k = 5)
    assert(df.columns.contains(Search.DistCol))
    assert(df.count() == 5)
  }

  test("probe advisor: deterministic, target-meeting, exact at full probes") {
    val advice = engine.recommendProbes("c1", "emb", "embedding", "vec_id",
      k = 10, targetRecall = 0.9, sampleQueries = 8)
    assert(advice.numCells == 16)
    assert(advice.probes >= 1 && advice.probes <= 16)
    assert(advice.recall >= 0.9 || advice.probes == 16,
      s"advice below target without exhausting cells: $advice")
    // curve is the measured ladder: positive probes, recalls in [0, 1],
    // strictly increasing probe counts
    assert(advice.curve.nonEmpty)
    assert(advice.curve.forall { case (p, r) => p >= 1 && r >= 0.0 && r <= 1.0 })
    assert(advice.curve.map(_._1) == advice.curve.map(_._1).sorted.distinct)
    // the full-probe ladder step equals exact search → recall exactly 1.0
    // (guaranteed termination: a 1.0 target is always eventually met)
    val full = engine.recommendProbes("c1", "emb", "embedding", "vec_id",
      k = 10, targetRecall = 1.0, sampleQueries = 8)
    assert(full.recall == 1.0, s"full-probe recall ${full.recall}")
    // deterministic: the same call advises identically
    val again = engine.recommendProbes("c1", "emb", "embedding", "vec_id",
      k = 10, targetRecall = 0.9, sampleQueries = 8)
    assert(again == advice)
  }

  test("candidate advisor: per-tier ladder, exact at full budget, probe-bound ceiling honest") {
    engine.makeSqIndex("c1", "emb", "embedding")
    engine.makeBqIndex("c1", "emb", "embedding")
    engine.makePqIndex("c1", "emb", "embedding",
      graft.coder.PQ.PQConfig(numSubspaces = 8, codebookSize = 16,
        metric = "l2"))
    for (tier <- Seq("sq", "bq", "pq", "rerank")) {
      // full probes + candidates up to corpus size: 1.0 reachable
      val a = engine.recommendCandidates("c1", "emb", "embedding",
        "vec_id", tier, probes = 16, k = 10, targetRecall = 1.0,
        sampleQueries = 8, maxCandidates = 512)
      assert(a.tier == tier && a.probes == 16)
      assert(a.reachedTarget && a.recall == 1.0,
        s"$tier at full probes/budget: $a")
      assert(a.curve.map(_._1) == a.curve.map(_._1).sorted.distinct)
      // deterministic
      val again = engine.recommendCandidates("c1", "emb", "embedding",
        "vec_id", tier, probes = 16, k = 10, targetRecall = 1.0,
        sampleQueries = 8, maxCandidates = 512)
      assert(again == a)
    }
    // probe-bound regime: 1 probe of 16 cannot reach recall 1.0 no
    // matter the candidate budget — the advisor must terminate at
    // maxCandidates and SAY so rather than advise a budget it never
    // measured to work
    val bound = engine.recommendCandidates("c1", "emb", "embedding",
      "vec_id", "sq", probes = 1, k = 10, targetRecall = 1.0,
      sampleQueries = 8, maxCandidates = 128)
    if (bound.recall < 1.0)
      assert(!bound.reachedTarget && bound.candidates == 128,
        s"probe-bound advice must report the ceiling: $bound")
    // bogus tier refused
    intercept[IllegalArgumentException] {
      engine.recommendCandidates("c1", "emb", "embedding", "vec_id",
        "flat", probes = 16)
    }
    // persisted: adviseCandidates round-trips the sidecar, keyed per
    // (coding, tier, probes) — a different probe count is a different
    // key, and freshness follows the probe-advice contract
    val pc = engine.adviseCandidates("c1", "emb", "embedding", "vec_id",
      "sq", probes = 16, k = 10, targetRecall = 1.0, sampleQueries = 8,
      maxCandidates = 512)
    assert(engine.loadCandidateAdvice("c1", "sq", 16).contains(pc))
    assert(engine.freshCandidateAdvice("c1", "sq", 16) == pc)
    assert(engine.loadCandidateAdvice("c1", "sq", 8).isEmpty)
    intercept[NoSuchElementException] {
      engine.freshCandidateAdvice("c1", "bq", 16)
    }
    // serving: candidates = Engine.Advised equals the explicit call at
    // the persisted budget; an unadvised (tier, probes) key refuses
    val t = targetVec()
    val viaAdvice = engine.searchSq("emb", "embedding", t, "c1",
        probes = 16, candidates = Engine.Advised, idCol = "vec_id",
        k = 5, tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val explicitC = engine.searchSq("emb", "embedding", t, "c1",
        probes = 16, candidates = pc.advice.candidates, idCol = "vec_id",
        k = 5, tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(viaAdvice == explicitC, "advised candidates must equal the " +
      "explicit search at the persisted budget")
    intercept[NoSuchElementException] {
      engine.searchBq("emb", "embedding", t, "c1", probes = 16,
        candidates = Engine.Advised, idCol = "vec_id", k = 5)
    }
    // k beyond the advice's measured k refuses (compat gate)
    intercept[IllegalArgumentException] {
      engine.resolveAdvisedCandidates("c1", "sq", 16, "emb", "embedding",
        k = 11, metric = None)
    }
    // advice that never REACHED its target refuses to serve: a ceiling
    // budget measured to miss is a diagnosis, not a serving budget
    val unreached = Engine.PersistedCandidateAdvice(
      Engine.CandidateAdvice("sq", 2, 128, 0.8, List((128, 0.8)),
        reachedTarget = false),
      "emb", "embedding", "vec_id", 10, 0.95, 8, 128,
      engine.store.sourceStamp("emb"))
    engine.store.saveAdvice("c1", "sq_p2",
      unreached.toJson.getBytes("UTF-8"), engine.store.codingStamp("c1"))
    val miss = intercept[IllegalArgumentException] {
      engine.resolveAdvisedCandidates("c1", "sq", 2, "emb", "embedding",
        k = 10, metric = None)
    }
    assert(miss.getMessage.contains("REACHED"), miss.getMessage)
    engine.store.dropAdvice("c1", "sq_p2")
    // multi-source unions refuse the sentinel (a different corpus)
    intercept[IllegalArgumentException] {
      engine.searchSqMulti(Seq("emb", "emb_lo"), "embedding", t, "c1",
        probes = 16, candidates = Engine.Advised, idCol = "vec_id", k = 5)
    }
  }

  test("persisted probe advice: Advised sentinel explicit, exact default, stale/incompat refuse") {
    val p = engine.adviseProbes("c1", "emb", "embedding", "vec_id",
      k = 10, targetRecall = 1.0, sampleQueries = 8)
    // round-trips the sidecar byte-exactly
    val loaded = engine.loadProbeAdvice("c1")
    assert(loaded.contains(p), s"$loaded vs $p")
    // fresh: stamp still matches
    assert(engine.freshProbeAdvice("c1") == p)
    val t = targetVec()
    // a coding with NO probes stays EXACT brute force even with advice
    // persisted (approximation is never a silent default): the brute
    // path demands a metric, the advice is not consulted
    intercept[IllegalArgumentException] {
      engine.search("emb", "embedding", t, coding = Some("c1"), k = 5)
    }
    // the Advised sentinel opts in explicitly and equals the explicit
    // probed search at the persisted budget
    val viaAdvice = engine.search("emb", "embedding", t,
      coding = Some("c1"), probes = Some(Engine.Advised), k = 5,
      tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val explicit = engine.search("emb", "embedding", t,
      coding = Some("c1"), probes = Some(p.advice.probes), k = 5,
      tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(viaAdvice == explicit, "advised serving must equal the " +
      "explicit probed search at the advised budget")
    // sentinel without a coding refused (no coding → no advice key)
    intercept[IllegalArgumentException] {
      engine.search("emb", "embedding", t, metric = Some("l2"),
        probes = Some(Engine.Advised), k = 5)
    }
    // compatibility gates (checked before any listing IO): k beyond
    // the advice's measured k, a metric override differing from the
    // coding's, and a different (source, column) all refuse; the
    // coding's own metric passes
    intercept[IllegalArgumentException] {
      engine.resolveAdvisedProbes("c1", "emb", "embedding", k = 11,
        metric = None)
    }
    intercept[IllegalArgumentException] {
      engine.resolveAdvisedProbes("c1", "emb", "embedding", k = 10,
        metric = Some("cosine"))
    }
    assert(engine.resolveAdvisedProbes("c1", "emb", "embedding", k = 10,
      metric = Some("l2")) == p.advice.probes)
    intercept[IllegalArgumentException] {
      engine.resolveAdvisedProbes("c1", "emb_lo", "embedding", k = 10,
        metric = None)
    }
    // never-advised coding → loud refusal with the remedy named, from
    // the search call itself. A drop shows on the next call of the
    // engine that read the advice, and of a FRESH engine.
    engine.store.dropAdvice("c1", "probes")
    intercept[NoSuchElementException] {
      engine.resolveAdvisedProbes("c1", "emb", "embedding", k = 10,
        metric = None)
    }
    val e = intercept[NoSuchElementException] {
      new Engine(spark, root).search("emb", "embedding", t,
        coding = Some("c1"), probes = Some(Engine.Advised), k = 5)
    }
    assert(e.getMessage.contains("adviseProbes"))
    // stale: re-advise, then change the corpus listing. Every resolve
    // re-verifies freshness, through any engine over the root
    engine.adviseProbes("c1", "emb", "embedding", "vec_id",
      k = 10, targetRecall = 1.0, sampleQueries = 8)
    val sp = engine.spark; import sp.implicits._
    Seq((9999L, Seq.fill(dim)(9.0f))).toDF("vec_id", "embedding")
      .write.mode("append").parquet(engine.store.tablePath("emb"))
    val eager = new Engine(spark, root)
    val stale = intercept[IllegalStateException] {
      eager.search("emb", "embedding", t, coding = Some("c1"),
        probes = Some(Engine.Advised), k = 5)
    }
    assert(stale.getMessage.contains("STALE") &&
      stale.getMessage.contains("adviseProbes"))
    intercept[IllegalStateException] { eager.freshProbeAdvice("c1") }
    // re-advising heals (through the other engine too)
    engine.adviseProbes("c1", "emb", "embedding", "vec_id",
      k = 10, targetRecall = 1.0, sampleQueries = 8)
    assert(engine.freshProbeAdvice("c1").sourceStamp ==
      engine.store.sourceStamp("emb"))
    assert(eager.resolveAdvisedProbes("c1", "emb", "embedding", k = 10,
      metric = None) >= 1)
    engine.store.dropAdvice("c1", "probes")
  }

  test("rerank frontier advisor: finds a reaching (probes, candidates) " +
      "pair, persists it, serves it; unreachable persists nothing") {
    // fold the 9999 append from the probe-advice test into the index so
    // the brute ground truth and the served corpus agree
    engine.syncIndex("c1", "emb", "embedding")
    val fr = engine.adviseRerankFrontier("c1", "emb", "embedding",
      "vec_id", k = 5, targetRecall = 1.0, sampleQueries = 8,
      maxCandidates = 512)
    // maxCandidates >= corpus and the probe ladder ends at all cells,
    // where the rerank tier is exact — the frontier always terminates
    // with a reaching pair under these bounds
    assert(fr.reachedTarget, s"frontier never reached: ${fr.frontier}")
    assert(fr.recall == 1.0 && fr.candidates <= 512)
    assert(fr.frontier.nonEmpty &&
      fr.frontier.last == ((fr.probes, fr.candidates, fr.recall)))
    // the winning pair is persisted under its probe key and served by
    // the Advised sentinel at exactly that probe count
    val t = targetVec()
    val served = engine.searchRerank("emb", "embedding", t, "c1",
        candidates = Engine.Advised, idCol = "vec_id", k = 5,
        probes = Some(fr.probes), tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val explicit = engine.searchRerank("emb", "embedding", t, "c1",
        candidates = fr.candidates, idCol = "vec_id", k = 5,
        probes = Some(fr.probes), tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(served == explicit,
      "advised rerank serving must equal the explicit frontier pair")
    engine.store.dropAdvice("c1", s"rerank_p${fr.probes}")
    // an unreachable frontier (candidate cap at k: the cell-rank coarse
    // truncated to 5 rows by id cannot recover the true top-5) reports
    // the measured ceilings and persists NO advice key
    val miss = engine.adviseRerankFrontier("c1", "emb", "embedding",
      "vec_id", k = 5, targetRecall = 1.0, sampleQueries = 8,
      maxCandidates = 5)
    assert(!miss.reachedTarget,
      s"k-capped frontier unexpectedly reached: ${miss.frontier}")
    assert(miss.frontier.forall(_._3 < 1.0))
    assert(engine.loadCandidateAdvice("c1", "rerank", miss.probes).isEmpty,
      "unreachable frontier must not persist a serving budget")
  }

  test("cellProfile: per-cell anchor distances match a full recomputation") {
    val coding = engine.store.loadCoding("c1")
    val prof = engine.cellProfile("c1", "emb", "embedding")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // occupancy covers the whole indexed corpus, cells are in range
    val total = engine.readTable(Seq("emb")).count()
    assert(prof.values.map(_._1).sum == total, s"${prof.values.map(_._1).sum} != $total")
    assert(prof.keys.forall(c => c >= 0 && c < coding.numCells))
    // full recomputation from the indexed rows + Coding.anchor
    val rows = engine.readTable(Seq("emb"), coding = Some(("c1", "embedding")))
      .select(col(Search.CodeCol), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val byCell = rows.groupBy(_._1)
    assert(byCell.keySet == prof.keySet)
    for ((cell, vs) <- byCell) {
      val anchor = coding.anchor(cell)
      val ds = vs.map { case (_, v) => Metrics.dist(v, anchor, "l2") }
      val (n, mean, mx) = prof(cell)
      assert(n == vs.length)
      assert(math.abs(mean - BigDecimal(ds.sum / ds.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"cell $cell mean $mean vs ${ds.sum / ds.length}")
      assert(mx == ds.max, s"cell $cell max $mx vs ${ds.max}")
    }
  }

  test("serving knobs validate counts: >= 1 or the Advised sentinel only") {
    val t = targetVec()
    // -1 ("disabled/unbounded" in enough other libraries) must NEVER
    // mean advised serving — it refuses as an invalid count, as do 0
    // and any other non-positive value; the sentinel is Engine.Advised
    // alone (and the "advised" string on the wire)
    for (bad <- Seq(0, -1, -7)) {
      val e1 = intercept[IllegalArgumentException] {
        engine.search("emb", "embedding", t, coding = Some("c1"),
          probes = Some(bad), k = 5)
      }
      assert(e1.getMessage.contains("invalid probes"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        engine.searchSq("emb", "embedding", t, "c1", probes = 16,
          candidates = bad, idCol = "vec_id", k = 5)
      }
      assert(e2.getMessage.contains("invalid candidates"), e2.getMessage)
      val e3 = intercept[IllegalArgumentException] {
        engine.searchRerank("emb", "embedding", t, "c1", candidates = bad,
          idCol = "vec_id", k = 5, probes = Some(4))
      }
      assert(e3.getMessage.contains("invalid candidates"), e3.getMessage)
      // every candidate tier validates its probe count too — single,
      // multi-source and batch forms alike
      val qs = spark.createDataFrame(Seq((0L, t.toSeq))).toDF("q", "qv")
      val probed: Seq[(String, () => Any)] = Seq(
        "searchSq" -> (() => engine.searchSq("emb", "embedding", t, "c1",
          probes = bad, candidates = 64, idCol = "vec_id", k = 5)),
        "searchSqMulti" -> (() => engine.searchSqMulti(Seq("emb"),
          "embedding", t, "c1", probes = bad, candidates = 64,
          idCol = "vec_id", k = 5)),
        "searchBq" -> (() => engine.searchBq("emb", "embedding", t, "c1",
          probes = bad, candidates = 64, idCol = "vec_id", k = 5)),
        "searchBqMulti" -> (() => engine.searchBqMulti(Seq("emb"),
          "embedding", t, "c1", probes = bad, candidates = 64,
          idCol = "vec_id", k = 5)),
        "searchPq" -> (() => engine.searchPq("emb", "embedding", t, "c1",
          probes = bad, candidates = 64, idCol = "vec_id", k = 5)),
        "searchPqMulti" -> (() => engine.searchPqMulti(Seq("emb"),
          "embedding", t, "c1", probes = bad, candidates = 64,
          idCol = "vec_id", k = 5)),
        "searchRerank" -> (() => engine.searchRerank("emb", "embedding", t,
          "c1", candidates = 64, idCol = "vec_id", k = 5,
          probes = Some(bad))),
        "searchRerankMulti" -> (() => engine.searchRerankMulti(Seq("emb"),
          "embedding", t, "c1", candidates = 64, idCol = "vec_id", k = 5,
          probes = Some(bad))),
        "knnJoinIvf" -> (() => engine.knnJoinIvf("c1", "emb", "embedding",
          qs, "q", "qv", k = 5, probes = bad, idCol = "vec_id")),
        "knnJoinSq" -> (() => engine.knnJoinSq("c1", "emb", "embedding",
          qs, "q", "qv", k = 5, probes = bad, candidates = 64,
          idCol = "vec_id")),
        "knnJoinBq" -> (() => engine.knnJoinBq("c1", "emb", "embedding",
          qs, "q", "qv", k = 5, probes = bad, candidates = 64,
          idCol = "vec_id")),
        "knnJoinPq" -> (() => engine.knnJoinPq("c1", "emb", "embedding",
          qs, "q", "qv", k = 5, probes = bad, candidates = 64,
          idCol = "vec_id")),
        "knnJoinRerank" -> (() => engine.knnJoinRerank("c1", "emb",
          "embedding", qs, "q", "qv", k = 5, probes = bad,
          candidates = 64, idCol = "vec_id")))
      for ((name, call) <- probed) {
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains("invalid probes"), s"$name: ${e.getMessage}")
      }
    }
    // brute path (no coding): a stray negative probe count refuses too
    assert(intercept[IllegalArgumentException] {
      engine.search("emb", "embedding", t, metric = Some("l2"),
        probes = Some(-1), k = 5)
    }.getMessage.contains("invalid probes"))
    // an empty source list refuses with the same message on every
    // multi-source form, probed or brute
    val noSources: Seq[(String, () => Any)] = Seq(
      "searchMulti probed" -> (() => engine.searchMulti(Nil, "embedding", t,
        coding = Some("c1"), probes = Some(4), k = 5)),
      "searchMulti brute" -> (() => engine.searchMulti(Nil, "embedding", t,
        metric = Some("l2"), k = 5)),
      "searchSqMulti" -> (() => engine.searchSqMulti(Nil, "embedding", t,
        "c1", probes = 4, candidates = 64, idCol = "vec_id", k = 5)),
      "searchBqMulti" -> (() => engine.searchBqMulti(Nil, "embedding", t,
        "c1", probes = 4, candidates = 64, idCol = "vec_id", k = 5)),
      "searchPqMulti" -> (() => engine.searchPqMulti(Nil, "embedding", t,
        "c1", probes = 4, candidates = 64, idCol = "vec_id", k = 5)),
      "searchRerankMulti" -> (() => engine.searchRerankMulti(Nil,
        "embedding", t, "c1", candidates = 64, idCol = "vec_id", k = 5)))
    for ((name, call) <- noSources) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("at least one source"), s"$name: ${e.getMessage}")
    }
  }

  test("admin: list and drop") {
    assert(engine.listTables().contains("emb"))
    assert(engine.listCodings().contains("c1"))
    assert(engine.store.listIndexes().contains(("emb", "embedding", "c1")))
    // advisor sidecars must die with their coding (probe + candidate)
    engine.store.saveAdvice("c1", "probes", "{}".getBytes("UTF-8"),
      engine.store.codingStamp("c1"))
    engine.store.saveAdvice("c1", "bq_p4", "{}".getBytes("UTF-8"),
      engine.store.codingStamp("c1"))
    engine.dropIndex("c1")
    assert(!engine.listCodings().contains("c1"))
    assert(engine.store.listIndexes().isEmpty, "drop-index must not leak sidecars")
    assert(engine.store.loadAdvice("c1", "probes")(identity).isEmpty &&
      engine.store.loadAdvice("c1", "bq_p4")(identity).isEmpty,
      "drop-index must drop the coding's advisor sidecars")
    engine.dropTable("emb_lo")
    assert(!engine.listTables().contains("emb_lo"))
    engine.remove()
    assert(engine.listTables().isEmpty)
  }
}

class MetricsPropertySpec extends AnyFunSuite {
  import org.scalacheck.{Gen, Prop}
  import org.scalacheck.Prop.forAll
  import org.scalatest.prop.Configuration

  private val vecGen: Gen[Array[Double]] =
    Gen.containerOfN[Array, Double](16, Gen.choose(-100.0, 100.0))
      .suchThat(_.exists(_ != 0.0))

  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("l2: identity, symmetry, triangle inequality") {
    check(forAll(vecGen, vecGen, vecGen) { (a, b, c) =>
      val ab = Metrics.dist(a, b, "l2"); val ba = Metrics.dist(b, a, "l2")
      val ac = Metrics.dist(a, c, "l2"); val cb = Metrics.dist(c, b, "l2")
      Metrics.dist(a, a, "l2") == 0.0 && ab == ba && ab <= ac + cb + 1e-9
    })
  }

  test("cosine: range [0,1], scale invariance") {
    check(forAll(vecGen, vecGen, Gen.choose(0.1, 10.0)) { (a, b, s) =>
      val d = Metrics.dist(a, b, "cosine")
      val dScaled = Metrics.dist(a.map(_ * s), b, "cosine")
      d >= -1e-12 && d <= 1.0 + 1e-12 && math.abs(d - dScaled) < 1e-9
    })
  }

  test("dot: negating one side negates the distance") {
    check(forAll(vecGen, vecGen) { (a, b) =>
      math.abs(Metrics.dist(a.map(-_), b, "dot") + Metrics.dist(a, b, "dot")) < 1e-9
    })
  }

  test("assignTopP head equals assign") {
    val rnd = new scala.util.Random(3)
    val cfg = CoderConfig(metric = "l2", codebookSize = 3, numCodebooks = 2)
    val centroids = Array.fill(2, 3, 8)(rnd.nextGaussian())
    val coding = graft.coder.Coding(centroids, cfg)
    for (_ <- 1 to 50) {
      val v = Array.fill(8)(rnd.nextGaussian())
      val top = coding.assignTopP(v, 3)
      assert(top.length == 3 && top.distinct.length == 3)
      assert(top.head == coding.assign(v),
        "nearest ranked cell must equal the k=1 assignment")
    }
  }
}

class VecSumAggSpec extends SparkSuite {
  import spark.implicits._

  test("element-wise vector-sum UDAF works in groupBy aggregations") {
    val vecSum = udaf(graft.coder.VecSumAgg)
    val df = Seq(
      ("a", Array(1.0, 2.0)), ("a", Array(3.0, 4.0)), ("b", Array(5.0, 6.0)),
    ).toDF("k", "v")
    val got = df.groupBy("k").agg(vecSum($"v").as("s"))
      .as[(String, Seq[Double])].collect().toMap
    assert(got("a") == Seq(4.0, 6.0) && got("b") == Seq(5.0, 6.0))
  }
}

class CoderMathSpec extends SparkSuite {
  import spark.implicits._

  test("one Lloyd step reproduces the hand-computed update (old centroid included)") {
    // 4 points in 1-D-ish 2-D space, 1 codebook, k=2, one epoch, one step,
    // batch covers everything (deterministic: single batch = all rows).
    val pts = Seq(
      Seq(0.0f, 0.0f), Seq(0.0f, 2.0f),    // cluster A around y in {0,2}
      Seq(10.0f, 0.0f), Seq(10.0f, 2.0f),  // cluster B
    ).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = pts.toDF("id", "vec")
    val cfg = CoderConfig(metric = "l2", codebookSize = 2, numCodebooks = 1,
      batchSize = 8, numEpochs = 1, maxStepsPerEpoch = 1, seed = 123L)
    val coding = graft.coder.Coder.train(df, "vec", cfg)
    assert(coding.n == 1 && coding.k == 2 && coding.dim == 2)
    val Array(c0, c1) = coding.centroids(0)
    // each centroid must be the mean of its assigned points PLUS the old
    // centroid (init = 2 sampled corpus points): with these well-separated
    // clusters each final centroid must sit strictly inside one cluster's
    // x-range and be the average of 2 cluster points + 1 init point (which
    // is itself a cluster point) => x in {0, 10} exactly
    val xs = Seq(c0(0), c1(0)).sorted
    assert(xs(0) == 0.0 && xs(1) == 10.0,
      s"centroids must converge to cluster x positions, got $xs")
    // y must be the mean of {0, 2} values seen (including old centroid,
    // which is one of the corpus points): possible exact values are
    // means of subsets of {0,2} with one repeated => in [0, 2]
    Seq(c0(1), c1(1)).foreach(y => assert(y >= 0.0 && y <= 2.0))
    // assignment maps each point to its nearest final centroid
    val assigns = pts.map { case (_, v) =>
      coding.assign(v.map(_.toDouble).toArray)
    }
    assert(assigns(0) == assigns(1) && assigns(2) == assigns(3)
      && assigns(0) != assigns(2), s"cluster co-assignment violated: $assigns")
  }
}

class FloatTargetSpec extends SparkSuite {
  test("float target matches double target and keeps float corpus uncast") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = Seq.tabulate(200)(i => (i.toLong, Seq.fill(16)(rnd.nextFloat())))
    val df = rows.toDF("id", "vec")
    val root = Files.createTempDirectory("graft-float").toString
    val engine = new Engine(spark, root)
    engine.makeTable("fvecs", df)
    val tF: Array[Float] = rows.head._2.toArray
    val tD: Array[Double] = tF.map(_.toDouble)
    // float→double widening is exact, so results must be bit-identical
    for (m <- Seq("l2", "cosine", "dot")) {
      val gotF = engine.search("fvecs", "vec", tF, metric = Some(m),
        k = 10, tieBreak = Seq("id")).select("id").as[Long].collect().toSeq
      val gotD = engine.search("fvecs", "vec", tD, metric = Some(m),
        k = 10, tieBreak = Seq("id")).select("id").as[Long].collect().toSeq
      assert(gotF == gotD, s"float/double target mismatch under $m")
    }
    // the float corpus column must reach the distance expression uncast
    val plan = engine.search("fvecs", "vec", tF, metric = Some("l2"), k = 5)
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("cast(vec"), s"corpus cast found:\n$plan")
    engine.remove()
  }
}

class ImportSpec extends SparkSuite {
  test("csv and json import with explicit schema; malformed input failfasts") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-import")
    Files.writeString(dir.resolve("t.csv"), "1,alpha\n2,beta\n")
    Files.writeString(dir.resolve("t.json"),
      """{"id":3,"name":"gamma"}
        |{"id":4,"name":"delta"}""".stripMargin)
    val root = Files.createTempDirectory("graft-import-root").toString
    val engine = new Engine(spark, root)
    engine.importTable("from_csv", dir.resolve("t.csv").toString, "csv", "id LONG, name STRING")
    engine.importTable("from_json", dir.resolve("t.json").toString, "json", "id LONG, name STRING")
    val all = engine.readTable(Seq("from_csv", "from_json"))
    assert(all.count() == 4)
    assert(all.select("name").collect().map(_.getString(0)).sorted
      .sameElements(Array("alpha", "beta", "delta", "gamma")))
    // malformed CSV row (wrong arity) fails the import, not silently nulls
    Files.writeString(dir.resolve("bad.csv"), "1,alpha\nnot-a-long,beta,extra\n")
    intercept[Exception] {
      engine.importTable("bad", dir.resolve("bad.csv").toString, "csv", "id LONG, name STRING")
    }
    intercept[IllegalArgumentException] {
      engine.importTable("nope", dir.resolve("t.csv").toString, "xml", "id LONG")
    }
    engine.remove()
  }

  test("csv/jsonl export round-trips through import") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-export")
    val engine = new Engine(spark, dir.resolve("root").toString)
    import spark.implicits._
    val src = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("id", "name")
    engine.makeTable("exp_src", src)
    // JSONL: one object per line, shard count bounded
    val nj = engine.exportTable("exp_src", dir.resolve("out_json").toString,
      "json", shards = 1)
    assert(nj == 3L)
    val jsonFiles = Files.list(dir.resolve("out_json")).toArray
      .map(_.toString).filter(_.endsWith(".json"))
    assert(jsonFiles.length == 1, "shards=1 must produce one data file")
    val lines = scala.io.Source.fromFile(jsonFiles(0)).getLines().toSeq
    assert(lines.size == 3 && lines.forall(_.startsWith("{")))
    engine.importTable("exp_back_j", dir.resolve("out_json").toString,
      "json", "id LONG, name STRING")
    assert(engine.readTable(Seq("exp_back_j")).as[(Long, String)]
      .collect().toSet == src.as[(Long, String)].collect().toSet)
    // CSV with header
    engine.exportTable("exp_src", dir.resolve("out_csv").toString,
      "csv", options = Map("header" -> "true"), shards = 1)
    engine.importTable("exp_back_c", dir.resolve("out_csv").toString,
      "csv", "id LONG, name STRING", Map("header" -> "true"))
    assert(engine.readTable(Seq("exp_back_c")).as[(Long, String)]
      .collect().toSet == src.as[(Long, String)].collect().toSet)
    intercept[IllegalArgumentException] {
      engine.exportTable("exp_src", dir.resolve("nope").toString, "xml")
    }
    engine.remove()
  }

  test("arrow ipc stream import round-trips schema and rows exactly") {
    import java.nio.file.Files
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.{BigIntVector, Float4Vector, VarCharVector, VectorSchemaRoot}
    import org.apache.arrow.vector.complex.ListVector
    import org.apache.arrow.vector.ipc.ArrowStreamWriter
    import org.apache.arrow.vector.types.FloatingPointPrecision
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}

    val dir = Files.createTempDirectory("graft-arrow")
    val file = dir.resolve("t.arrow").toFile
    val alloc = new RootAllocator()
    val embChild = new Field("item",
      FieldType.nullable(new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)), null)
    val schema = new Schema(java.util.List.of(
      new Field("id", FieldType.nullable(new ArrowType.Int(64, true)), null),
      new Field("name", FieldType.nullable(new ArrowType.Utf8()), null),
      new Field("emb", FieldType.nullable(new ArrowType.List()),
        java.util.List.of(embChild))))
    val root = VectorSchemaRoot.create(schema, alloc)
    val out = new java.io.FileOutputStream(file)
    val writer = new ArrowStreamWriter(root, null, out.getChannel)
    writer.start()
    // two batches, to exercise batch iteration; one null name
    def fillBatch(startId: Long, n: Int, nullAt: Int): Unit = {
      root.allocateNew()
      val idV = root.getVector("id").asInstanceOf[BigIntVector]
      val nameV = root.getVector("name").asInstanceOf[VarCharVector]
      val embV = root.getVector("emb").asInstanceOf[ListVector]
      val w = embV.getWriter
      for (i <- 0 until n) {
        idV.setSafe(i, startId + i)
        if (i == nullAt) nameV.setNull(i)
        else nameV.setSafe(i, s"doc_${startId + i}".getBytes("UTF-8"))
        w.setPosition(i)
        w.startList()
        w.float4().writeFloat4((startId + i).toFloat)
        w.float4().writeFloat4(0.5f)
        w.endList()
      }
      root.setRowCount(n)
      writer.writeBatch()
    }
    fillBatch(0L, 3, nullAt = 1)
    fillBatch(10L, 2, nullAt = -1)
    writer.end(); writer.close(); out.close(); root.close(); alloc.close()

    val rootDir = Files.createTempDirectory("graft-arrow-root").toString
    val engine = new Engine(spark, rootDir)
    engine.importTable("from_arrow", file.toString, "arrow",
      "id BIGINT, name STRING, emb ARRAY<FLOAT>")
    val got = engine.readTable(Seq("from_arrow"))
    assert(got.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("id", "bigint"), ("name", "string"), ("emb", "array<float>")))
    val rows = got.orderBy("id").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 10L, 11L))
    assert(rows(1).isNullAt(1) && rows(0).getString(1) == "doc_0")
    assert(rows(3).getSeq[Float](2) == Seq(10.0f, 0.5f))
    // declared schema mismatch refuses
    intercept[IllegalArgumentException] {
      engine.importTable("bad_arrow", file.toString, "arrow", "id INT, name STRING")
    }
    engine.remove()
  }

  test("arrow ipc stream export round-trips back through the importer") {
    import java.nio.file.Files
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("score", DoubleType, nullable = true),
      StructField("flag", BooleanType, nullable = true),
      StructField("payload", BinaryType, nullable = true),
      StructField("emb", ArrayType(FloatType, containsNull = true), nullable = true)))
    val rows = Seq(
      Row(1L, "alpha", 0.5, true, Array[Byte](1, 2), Seq(1.0f, 2.0f)),
      Row(2L, null, null, null, null, null),
      Row(3L, "gamma", -2.25, false, Array.emptyByteArray, Seq(0.0f, -1.5f)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val rootDir = Files.createTempDirectory("graft-arrow-export").toString
    val engine = new Engine(spark, rootDir)
    engine.makeTable("t", df)
    val file = Files.createTempDirectory("graft-arrow-out").resolve("t.arrow")
    // batch size 2 forces multiple record batches over 3 rows
    assert(engine.exportArrow("t", file.toString, maxRecordsPerBatch = 2) == 3L)
    val back = graft.sources.ArrowIpc.readStream(spark, file.toString)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      schema.map(f => (f.name, f.dataType)))
    val got = back.orderBy("id").collect()
    val want = df.orderBy("id").collect()
    assert(got.length == 3)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0))
      assert(g.isNullAt(1) == w.isNullAt(1))
      if (!g.isNullAt(1)) assert(g.getString(1) == w.getString(1))
      if (!g.isNullAt(2)) assert(g.getDouble(2) == w.getDouble(2))
      if (!g.isNullAt(3)) assert(g.getBoolean(3) == w.getBoolean(3))
      if (!g.isNullAt(4))
        assert(java.util.Arrays.equals(g.getAs[Array[Byte]](4), w.getAs[Array[Byte]](4)))
      if (!g.isNullAt(5)) assert(g.getSeq[Float](5) == w.getSeq[Float](5))
    }
    engine.remove()
  }
}
