package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, ResidentScan, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.api.Engine
import graft.coder.CoderConfig
import graft.index.Index

/** A resident tier's probed rows sit behind a [[ResidentScan]], whose
  * rows no Catalyst rule walks; `ResidentScan.finish` evaluates the
  * search on the driver, so the only `LocalRelation` a warm search
  * plans holds its result. */
class ResidentScanSpec extends SparkSuite {
  import spark.implicits._

  // 4 cells over 2,000 rows: a probe of 2 reads about 1,000 of them
  private val Cells4 = CoderConfig(metric = "l2", codebookSize = 2, numCodebooks = 2)
  private val target = Array.tabulate(8)(d => if (d == 1) 3.0 else 0.2)

  private def rows(ids: Range): DataFrame =
    ids.map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, i % 5, Array.tabulate(8)(d =>
        ((i % 4) * 3.0 * (if (d == i % 4) 1 else 0) + r.nextGaussian()).toFloat).toSeq)
    }.toDF("id", "grp", "vec")

  /** The largest `LocalRelation`, in rows, the optimizer sees while `f`
    * runs, read by a rule that changes nothing. */
  private def largestLocal(f: => Unit): Int = {
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val probe = new Rule[LogicalPlan] {
      override def apply(plan: LogicalPlan): LogicalPlan = {
        plan.foreach {
          case r: LocalRelation => seen.accumulateAndGet(r.data.size, math.max)
          case _ => ()
        }
        plan
      }
    }
    val methods = spark.experimental
    val before = methods.extraOptimizations
    methods.extraOptimizations = before :+ probe
    try f finally methods.extraOptimizations = before
    seen.get
  }

  private def probed(e: Engine, tier: String, probes: Int): Long = {
    val coding = e.store.loadCoding("c")
    val leaf = Index.probedLeaf(e.store, "c", "t", "vec", tier,
      coding.rankCells(target, probes), coding.numCells)
    assert(leaf.queryExecution.analyzed.isInstanceOf[ResidentScan], s"$tier is resident")
    leaf.count()
  }

  test("the optimizer sees no more rows than a warm resident search returns") {
    val root = Files.createTempDirectory("graft-resident-rows").toString
    val e = new Engine(spark, root)
    e.makeTable("t", rows(0 until 2000))
    e.makeIndex("c", "t", "vec", Cells4)
    e.makeSqIndex("c", "t", "vec")
    val (k, candidates) = (10, 50)
    def ivf = e.search("t", "vec", target, coding = Some("c"), probes = Some(2),
      k = k, tieBreak = Seq("id")).collect()
    def sq = e.searchSq("t", "vec", target, "c", probes = 2,
      candidates = candidates, idCol = "id", k = k, tieBreak = Seq("id")).collect()
    val (coldIvf, coldSq) = (ivf, sq) // reads both tiers
    assert(probed(e, "ivf", 2) > 500 && probed(e, "sq", 2) > 500)
    var (warmIvf, warmSq) = (Array.empty[Row], Array.empty[Row])
    val ivfRows = largestLocal { warmIvf = ivf }
    val sqRows = largestLocal { warmSq = sq }
    assert(ivfRows <= k, s"a warm IVF search planned $ivfRows local rows")
    assert(sqRows <= math.max(k, candidates), s"a warm SQ8 search planned $sqRows local rows")
    assert(warmIvf.toSeq == coldIvf.toSeq && warmIvf.length == k)
    assert(warmSq.toSeq == coldSq.toSeq && warmSq.length == k)
    e.remove()
  }

  test("a frame over the leaf that the evaluator does not finish runs " +
      "through the planner strategy, in a session without GraftExtensions") {
    val session = spark.newSession()
    assert(!session.conf.getOption("spark.sql.extensions").exists(_.contains("GraftExtensions")))
    assert(!session.experimental.extraStrategies.contains(ResidentScan.Strategy))
    val root = Files.createTempDirectory("graft-resident-strategy").toString
    val e = new Engine(session, root)
    new Engine(session, root)
    assert(session.experimental.extraStrategies.count(_ == ResidentScan.Strategy) == 1,
      "each store registers the strategy once per session")
    e.makeTable("t", rows(0 until 2000))
    e.makeIndex("c", "t", "vec", Cells4)
    val coding = e.store.loadCoding("c")
    for (probes <- Seq(1, 2, 4)) {
      val cells = coding.rankCells(target, probes)
      e.search("t", "vec", target, coding = Some("c"), probes = Some(probes)).collect()
      val leaf = Index.probedLeaf(e.store, "c", "t", "vec", "ivf", cells, coding.numCells)
      assert(leaf.queryExecution.analyzed.isInstanceOf[ResidentScan])
      val counts = leaf.groupBy(Index.CodeCol).count()
      assert(ResidentScan.finish(counts) eq counts, "an aggregate is not evaluated")
      val plan = counts.queryExecution.executedPlan.toString
      assert(plan.contains("LocalTableScan"), plan)
      val parquet = Index.pruneToCells(Index.load(e.store, "c", "t", "vec"), cells,
        coding.numCells).groupBy(Index.CodeCol).count()
      def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(sorted(counts) == sorted(parquet), s"probes=$probes")
    }
    e.remove()
  }

  test("no frame a public search returns has a ResidentScan leaf") {
    val root = Files.createTempDirectory("graft-resident-public").toString
    val e = new Engine(spark, root)
    e.makeTable("t", rows(0 until 600))
    e.makeTable("u", rows(600 until 1200))
    e.makeIndex("c", "t", "vec", Cells4)
    e.syncIndex("c", "u", "vec")
    for (s <- Seq("t", "u")) {
      e.makeSqIndex("c", s, "vec")
      e.makeBqIndex("c", s, "vec")
      e.makePqIndex("c", s, "vec", graft.coder.PQ.PQConfig(numSubspaces = 2, codebookSize = 8))
    }
    val both = Seq("t", "u")
    val filter = Some($"grp" =!= 2)
    val select = Some(Seq("id"))
    val searches: Seq[(String, () => DataFrame)] = Seq(
      "search" -> (() => e.search("t", "vec", target, coding = Some("c"),
        probes = Some(2), filter = filter, select = select, tieBreak = Seq("id"))),
      "searchMulti" -> (() => e.searchMulti(both, "vec", target, coding = Some("c"),
        probes = Some(2), select = select, tieBreak = Seq("id"))),
      "searchSq" -> (() => e.searchSq("t", "vec", target, "c", 2, 40, "id",
        filter = filter, tieBreak = Seq("id"))),
      "searchSqMulti" -> (() => e.searchSqMulti(both, "vec", target, "c", 2, 40, "id",
        select = select, tieBreak = Seq("id"))),
      "searchBq" -> (() => e.searchBq("t", "vec", target, "c", 2, 40, "id")),
      "searchBqMulti" -> (() => e.searchBqMulti(both, "vec", target, "c", 2, 40, "id")),
      "searchPq" -> (() => e.searchPq("t", "vec", target, "c", 2, 40, "id")),
      "searchPqMulti" -> (() => e.searchPqMulti(both, "vec", target, "c", 2, 40, "id")),
      "searchRerank" -> (() => e.searchRerank("t", "vec", target, "c", 40, "id",
        probes = Some(2), tieBreak = Seq("id"))),
      "searchRerankMulti" -> (() => e.searchRerankMulti(both, "vec", target, "c", 40, "id",
        probes = Some(2), tieBreak = Seq("id"))),
      "Index.searchProbed" -> (() => Index.searchProbed(e.store, "c", "t", "vec",
        target, 10, 2, filter = filter)),
      "Index.searchSq" -> (() => Index.searchSq(e.store, "c", "t", "vec", target,
        10, 2, 40, "id")),
      "Index.searchBq" -> (() => Index.searchBq(e.store, "c", "t", "vec", target,
        10, 2, 40, "id")),
      "Index.searchIvfPq" -> (() => Index.searchIvfPq(e.store, "c", "t", "vec", target,
        10, 2, 40, "id")),
      "Index.searchRerank" -> (() => Index.searchRerank(e.store, "c", "t", "vec", target,
        10, 40, "id", Some(2))))
    searches.foreach(_._2().collect()) // reads every tier
    assert(e.store.residentBytes > 0)
    for ((name, search) <- searches) {
      var df: DataFrame = null
      assert(jobsOf { df = search(); df.collect() } == 0, s"$name ran a job")
      val leaves = df.queryExecution.analyzed.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LocalRelation]),
        s"$name: ${df.queryExecution.analyzed}")
    }
    e.remove()
  }
}
