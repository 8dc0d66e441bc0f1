package graft

import java.nio.file.Files

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, GraftShims, ResidentScan, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions.col

import graft.api.{Engine, Search}
import graft.coder.CoderConfig
import graft.index.Index

/** The Store memo behind served search: a coding, a tier's resolved
  * relation and its codec sidecar are opened once and reused while their
  * on-disk stamps hold. Every tier write must show up in the next search,
  * on the engine that wrote it and on any other engine over the root. */
class StoreMemoSpec extends SparkSuite {
  import spark.implicits._

  private val Cells64 = CoderConfig(metric = "l2", codebookSize = 8, numCodebooks = 2)
  private val Cells4 = CoderConfig(metric = "l2", codebookSize = 2, numCodebooks = 2)

  /** 8 clusters in 8-d, `ids` rows, the vector a function of (id, shift). */
  private def rows(ids: Range, shift: Double = 0.0): DataFrame =
    ids.map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Array.tabulate(8)(d =>
        ((i % 8) * 3.0 * (if (d == i % 8) 1 else 0) + r.nextGaussian() + shift).toFloat).toSeq)
    }.toDF("id", "vec")

  private val target = Array.tabulate(8)(d => if (d == 3) 9.0 else 0.3)

  /** Rows of a search, or how it refused. */
  private def answer(df: => DataFrame): Either[String, Seq[(Long, Double)]] =
    Try(df.select("id", Search.DistCol).as[(Long, Double)].collect().toSeq)
      .toEither.left.map(e => s"${e.getClass.getName}: ${e.getMessage}")

  private def ivf(e: Engine) = answer(e.search("t", "vec", target,
    coding = Some("c"), probes = Some(3), k = 8, tieBreak = Seq("id")))

  private def sq(e: Engine) = answer(e.searchSq("t", "vec", target, "c",
    probes = 3, candidates = 40, idCol = "id", k = 8, tieBreak = Seq("id")))

  test("a second engine serves the coding another engine retrained") {
    val root = Files.createTempDirectory("graft-memo-coding").toString
    val a = new Engine(spark, root)
    val b = new Engine(spark, root)
    a.makeTable("t", rows(0 until 400))
    a.makeIndex("c", "t", "vec", Cells64)
    assert(ivf(a).exists(_.nonEmpty))
    // b retrains c from 64 cells to 4 and rebuilds the index under it
    b.makeIndex("c", "t", "vec", Cells4)
    val want = ivf(b)
    assert(want.exists(_.size == 8), want)
    assert(ivf(a) == want)
    assert(ivf(new Engine(spark, root)) == want)
    a.remove()
  }

  test("the memo follows every tier write, on the writer and on a second engine") {
    val root = Files.createTempDirectory("graft-memo-writes").toString
    val w = new Engine(spark, root)
    val r = new Engine(spark, root)
    w.makeTable("t", rows(0 until 600))
    w.makeIndex("c", "t", "vec", Cells64)
    w.makeSqIndex("c", "t", "vec")
    // rows next to the target: an append the index sees changes the answer
    def appendNear(ids: Range): Unit =
      ids.map { i =>
        val r = new scala.util.Random(i)
        (i.toLong, target.map(x => (x + r.nextGaussian() * 0.01).toFloat).toSeq)
      }.toDF("id", "vec").write.mode("append").parquet(w.store.tablePath("t"))
    def compact(tier: String): Unit =
      assert(w.compactIndex("c", "t", "vec", maxFilesPerCell = 1, tier = tier)
        .cellsCompacted > 0, s"nothing to compact in $tier")
    // (write, the answers it must change: i = IVF, s = SQ8)
    val writes: Seq[(String, String, () => Unit)] = Seq(
      ("append + syncIncremental", "i", { () =>
        appendNear(600 until 606)
        Index.syncIncremental(w.store, "c", "t", "vec", "id")
      }),
      ("syncSqIndex", "s", () => w.syncSqIndex("c", "t", "vec", "id")),
      ("compactCells ivf", "", () => compact("ivf")),
      ("compactCells sq", "", () => compact("sq")),
      ("source rewrite + repair", "i", { () =>
        w.makeTable("t", rows(0 until 700, shift = 0.5))
        w.repairIndex("c", "t", "vec")
      }),
      ("repairTier sq", "s", () => w.repairIndex("c", "t", "vec", tier = "sq")),
      ("makeSqIndex rebuild", "", () => w.makeSqIndex("c", "t", "vec", perCell = true)),
      ("append + syncIndex", "i", { () =>
        appendNear(700 until 706)
        w.syncIndex("c", "t", "vec")
      }),
      ("dropIndex", "is", () => w.dropIndex("c")))
    var before = (ivf(w), sq(w))
    assert(before._1.exists(_.size == 8) && before._2.exists(_.size == 8), before)
    assert((ivf(r), sq(r)) == before)
    for ((name, changes, write) <- writes) {
      write()
      val fresh = { val f = new Engine(spark, root); (ivf(f), sq(f)) }
      assert((ivf(w), sq(w)) == fresh, s"writer after $name")
      assert((ivf(r), sq(r)) == fresh, s"second engine after $name")
      if (changes.contains('i')) assert(fresh._1 != before._1, s"$name: IVF answer")
      if (changes.contains('s')) assert(fresh._2 != before._2, s"$name: SQ8 answer")
      before = fresh
    }
    assert(before._1.isLeft && before._2.isLeft, before)
    w.remove()
  }

  test("a warm served search plans with no Spark job; a resident IVF search runs none") {
    val root = Files.createTempDirectory("graft-memo-jobs").toString
    val e = new Engine(spark, root)
    e.makeTable("t", rows(0 until 400))
    e.makeIndex("c", "t", "vec", Cells64)
    e.makeSqIndex("c", "t", "vec")
    def ivfFrame = e.search("t", "vec", target, coding = Some("c"),
      probes = Some(3), k = 8, tieBreak = Seq("id"))
    def sqFrame = e.searchSq("t", "vec", target, "c", probes = 3,
      candidates = 40, idCol = "id", k = 8, tieBreak = Seq("id"))
    // the coding and the tiers' relations resolved, their rows not yet
    // read (with the budget taken, planning reads no rows)
    e.store.loadCoding("c")
    Index.load(e.store, "c", "t", "vec")
    overCap(e.store)(sqFrame)
    assert(jobsOf(overCap(e.store)(sqFrame)) == 0,
      "planning an IVF+SQ8 search over a tier past the cap")
    assert(e.store.residentBytes == 0)
    assert(jobsOf(ivfFrame) == 1, "a cold probed IVF search reads the tier")
    val ivfBytes = e.store.residentBytes
    assert(ivfBytes > 0)
    assert(jobsOf(sqFrame) == 1, "a cold probed IVF+SQ8 search reads the tier")
    assert(e.store.residentBytes > ivfBytes)
    assert(ivf(e).isRight && sq(e).isRight)
    assert(jobsOf(ivfFrame) == 0, "planning a probed IVF search")
    assert(jobsOf(sqFrame) == 0, "planning an IVF+SQ8 search")
    val (i, s) = (ivfFrame, sqFrame)
    assert(jobsOf(i.collect()) == 0, "running a resident probed IVF search")
    assert(jobsOf(s.collect()) == 0, "running a resident IVF+SQ8 search")
    // a write replaces the SQ8 tier's entry: the first search after it
    // reads the new rows in one job, as a cold IVF search does
    e.makeTable("t", rows(0 until 400, shift = 0.5))
    e.syncIndex("c", "t", "vec")
    e.makeSqIndex("c", "t", "vec")
    e.store.loadCoding("c")
    Index.load(e.store, "c", "t", "vec")
    overCap(e.store)(sqFrame)
    assert(jobsOf(sqFrame) == 1, "the first IVF+SQ8 search after a write")
    assert(jobsOf(sqFrame.collect()) == 0, "and the next one runs none")
    assert(sq(e) == sq(new Engine(spark, root)))
    e.remove()
  }

  test("resident rows are given back when their tier is rewritten or dropped") {
    val root = Files.createTempDirectory("graft-memo-resident").toString
    val e = new Engine(spark, root)
    // the heap the IVF copy's rows take: what a resident tier counts
    def tier: Long = GraftShims.collectInternal(Index.load(e.store, "c", "t", "vec"))
      .map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum
    for (cycle <- 0 until 3) {
      e.makeTable("t", rows(0 until 400, shift = cycle))
      e.makeIndex("c", "t", "vec", Cells64)
      val built = ivf(e)
      assert(built.exists(_.size == 8), built)
      assert(e.store.residentBytes == tier, s"cycle $cycle: the tier is resident")
      // a rewrite replaces the memo entry: its rows are re-read, the old
      // ones given back
      e.makeTable("t", rows(0 until 400, shift = cycle + 0.5))
      e.syncIndex("c", "t", "vec")
      val rebuilt = ivf(e)
      assert(rebuilt == ivf(new Engine(spark, root)), s"cycle $cycle")
      assert(rebuilt != built, s"cycle $cycle: served from the new rows")
      assert(e.store.residentBytes == tier, s"cycle $cycle: one tier held")
      e.dropIndex("c")
      assert(e.store.residentBytes == 0, s"cycle $cycle: dropIndex")
    }
    e.makeIndex("c", "t", "vec", Cells64)
    assert(ivf(e).isRight)
    e.dropTable("t")
    e.dropIndex("c")
    assert(e.store.residentBytes == 0)
    e.remove()
  }

  test("one query body: a resident leaf and the parquet leaf give the same rows") {
    val root = Files.createTempDirectory("graft-memo-identity").toString
    val e = new Engine(spark, root)
    val cells16 = CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2)
    // 150 vectors in 8 clusters, each stored twice under two ids (ties);
    // `grp` follows the vector, so a filter keeps both copies or neither;
    // three rows have no vector, so no cell
    val base = (0 until 150).map { b =>
      val r = new scala.util.Random(b)
      Array.tabulate(8)(d => (b % 8) * 2.0 * (if (d == b % 8) 1 else 0) + r.nextGaussian())
    }
    val corpus = ((0 until 300).map { i =>
      val v = base(i % 150)
      (i.toLong, (i % 150) % 5, s"row-$i", Option(v.map(_.toFloat).toSeq), Option(v.toSeq))
    } ++ (300 until 303).map(i => (i.toLong, i % 5, s"row-$i", None, None)))
      .toDF("id", "grp", "label", "vf", "vd")
    e.makeTable("t", corpus)
    e.makeIndex("cf", "t", "vf", cells16)
    e.makeIndex("cd", "t", "vd", cells16)
    def resident(coding: String, column: String, cells: Array[Long]) = {
      val leaf = Index.probedLeaf(e.store, coding, "t", column, "ivf", cells, 16)
      assert(leaf.queryExecution.analyzed.collectLeaves()
        .forall(_.isInstanceOf[ResidentScan]), s"$coding: the tier is resident")
      leaf
    }
    def parquet(coding: String, column: String, cells: Array[Long]) =
      Index.pruneToCells(Index.load(e.store, coding, "t", column), cells, 16)
    // leaf by leaf: every single cell, then all of them (where the rows
    // with no cell join in, as the parquet leaf skips its cell filter)
    for ((column, coding) <- Seq("vf" -> "cf", "vd" -> "cd");
         cells <- (0L until 16L).map(Array(_)) :+ (0L until 16L).toArray) {
      def ids(leaf: DataFrame) = leaf.select("id").as[Long].collect().sorted.toSeq
      val want = ids(parquet(coding, column, cells))
      assert(ids(resident(coding, column, cells)) == want, s"$coding cells ${cells.toSeq}")
      assert(want.exists(_ >= 300) == (cells.length == 16), s"$coding cells ${cells.toSeq}")
    }
    val q = Array.tabulate(8)(d => if (d == 2) 4.0 else 0.2)
    val k = 12
    var ties = 0
    for {
      (column, coding) <- Seq("vf" -> "cf", "vd" -> "cd")
      metric <- Seq("l2", "cosine", "dot")
      probes <- Seq(1, 4, 16)
      filter <- Seq(None, Some(col("grp") =!= 2))
      select <- Seq(None, Some(Seq("label")), Some(Seq("id", "label", column)))
      tieBreak <- Seq(Nil, Seq("id"))
    } {
      val what = s"$column $metric probes=$probes filter=$filter select=$select tieBreak=$tieBreak"
      val cells = e.store.loadCoding(coding).rankCells(q, probes)
      def run(leaf: DataFrame) = Index.probedQuery(leaf, column, q, k, metric,
        filter, select, tieBreak).collect().toSeq
      val want = run(parquet(coding, column, cells))
      var got: Seq[Row] = Nil
      val leaf = resident(coding, column, cells)
      assert(jobsOf { got = run(leaf) } == 0, s"$what: a resident search ran a job")
      assert(want.nonEmpty, what)
      def bits(rows: Seq[Row]) = rows.map(r => Option(r.getAs[java.lang.Double](Search.DistCol))
        .map(java.lang.Double.doubleToLongBits(_)))
      assert(bits(got) == bits(want), what)
      // the vectorless rows (in the leaf at full probes only) sort last:
      // never in a top-12 with 270+ vectors to rank
      assert(!bits(want).contains(None), what)
      if (bits(want).distinct.size < want.size) ties += 1
      if (tieBreak.nonEmpty) assert(got == want, what)
      else {
        // without a tie-break the order inside a tie is unspecified (Spark's
        // TakeOrdered is not a stable sort): the same rows at each distance,
        // save the last, where a tie across the k-th place may keep either
        // copy (`bits` already holds the count there)
        def dist(r: Row) = Option(r.getAs[java.lang.Double](Search.DistCol))
        def byDistance(rows: Seq[Row]) =
          rows.filterNot(r => want.lastOption.map(dist).contains(dist(r)))
            .groupBy(dist).view.mapValues(_.map(_.toString).sorted).toMap
        assert(byDistance(got) == byDistance(want), what)
      }
    }
    assert(ties > 0, "the corpus produced no tie")
    e.remove()
  }

  test("one two-pass body: every candidate tier gives the same rows from both leaves") {
    val root = Files.createTempDirectory("graft-memo-twopass").toString
    val e = new Engine(spark, root)
    val cells16 = CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2)
    // the identity corpus above: 150 vectors stored twice (ties), `grp`
    // following the vector, three rows with no vector
    val base = (0 until 150).map { b =>
      val r = new scala.util.Random(b)
      Array.tabulate(8)(d => (b % 8) * 2.0 * (if (d == b % 8) 1 else 0) + r.nextGaussian())
    }
    val corpus = ((0 until 300).map { i =>
      val v = base(i % 150)
      (i.toLong, (i % 150) % 5, s"row-$i", Option(v.map(_.toFloat).toSeq), Option(v.toSeq))
    } ++ (300 until 303).map(i => (i.toLong, i % 5, s"row-$i", None, None)))
      .toDF("id", "grp", "label", "vf", "vd")
    e.makeTable("t", corpus)
    e.makeIndex("cf", "t", "vf", cells16)
    e.makeIndex("cd", "t", "vd", cells16)
    // global codecs on the float column, per-cell ones on the double one
    e.makeSqIndex("cf", "t", "vf")
    e.makeSqIndex("cd", "t", "vd", perCell = true)
    e.makeBqIndex("cf", "t", "vf")
    e.makeBqIndex("cd", "t", "vd", perCell = true)
    val pqCfg = graft.coder.PQ.PQConfig(numSubspaces = 2, codebookSize = 8)
    e.makePqIndex("cf", "t", "vf", pqCfg)
    e.makePqIndex("cd", "t", "vd", pqCfg)
    val q = Array.tabulate(8)(d => if (d == 2) 4.0 else 0.2)
    val k = 12
    type TwoPass = (String, String, String, Option[Int], Int, Option[Column],
      Option[Seq[String]], Seq[String]) => DataFrame
    // (tier, metrics, search: coding, column, metric, probes, candidates,
    // filter, select, tieBreak)
    val tiers: Seq[(String, Seq[String], TwoPass)] = Seq(
      ("sq", Seq("l2", "cosine", "dot"), (c, v, m, p, n, f, s, t) =>
        Index.searchSq(e.store, c, "t", v, q, k, p.get, n, "id", Some(m), f, s, t)),
      ("bq", Seq("l2", "cosine", "dot"), (c, v, m, p, n, f, s, t) =>
        Index.searchBq(e.store, c, "t", v, q, k, p.get, n, "id", Some(m), f, s, t)),
      ("pq", Seq("l2"), (c, v, m, p, n, f, s, t) =>
        Index.searchIvfPq(e.store, c, "t", v, q, k, p.get, n, "id", Some(m), f, s, t)),
      ("rerank", Seq("l2", "cosine", "dot"), (c, v, m, p, n, f, s, t) =>
        Index.searchRerank(e.store, c, "t", v, q, k, n, "id", p, Some(m), f, s, t)))
    val filters = Seq(None, Some(col("grp") =!= 2))
    val cases = for {
      (tier, metrics, search) <- tiers
      (column, coding) <- Seq("vf" -> "cf", "vd" -> "cd")
      metric <- metrics
      (probes, at) <- Seq(Some(1), Some(4), Some(16)).zipWithIndex
      candidates <- Seq(20, 1000)
      tieBreak <- Seq(Nil, Seq("id"))
      // without a tie-break the rerank tier's coarse pass (a cell rank,
      // tied across a cell) keeps an unspecified subset on both leaves
      if tier != "rerank" || tieBreak.nonEmpty || candidates >= 303
    } yield {
      val n = at * 4 + (candidates / 1000) * 2 + tieBreak.size
      val filter = filters(n % 2)
      val select = Seq(None, Some(Seq("label")), Some(Seq("id", "label", column)))(n / 2 % 3)
      (s"$tier $column $metric probes=$probes candidates=$candidates " +
        s"filter=$filter select=$select tieBreak=$tieBreak",
        () => search(coding, column, metric,
          if (tier == "rerank" && probes.contains(16)) None else probes,
          candidates, filter, select, tieBreak),
        tieBreak)
    }
    def run(df: DataFrame) = (df.schema, df.collect().toSeq)
    // the budget taken: every tier is served from parquet
    val parquet = overCap(e.store)(cases.map(c => run(c._2())))
    assert(e.store.residentBytes == 0)
    cases.foreach(c => run(c._2())) // reads each tier once
    for ((coding, column) <- Seq("cf" -> "vf", "cd" -> "vd"); tier <- Seq("ivf", "sq", "bq", "pq"))
      assert(Index.probedLeaf(e.store, coding, "t", column, tier, Array(0L), 16)
        .queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[ResidentScan]),
        s"$coding $tier is resident")
    // both passes over resident tiers finish on the driver
    val resident = cases.map { case (what, search, _) =>
      var got: (org.apache.spark.sql.types.StructType, Seq[Row]) = null
      val jobs = jobsOf { got = run(search()) }
      assert(jobs == 0, s"$what: $jobs jobs\n${search().queryExecution.optimizedPlan}")
      got
    }
    def dist(r: Row) = Option(r.getAs[java.lang.Double](Search.DistCol))
    def bits(rows: Seq[Row]) = rows.map(dist(_).map(java.lang.Double.doubleToLongBits(_)))
    var ties = 0
    for (((what, _, tieBreak), (wantSchema, want), (gotSchema, got)) <-
        cases.lazyZip(parquet).lazyZip(resident)) {
      assert(gotSchema == wantSchema, what)
      assert(want.nonEmpty, what)
      assert(bits(got) == bits(want), what)
      assert(!bits(want).contains(None), s"$what: a null distance in the top-k")
      if (bits(want).distinct.size < want.size) ties += 1
      if (tieBreak.nonEmpty) assert(got == want, what)
      else {
        // without a tie-break the order inside a tie is unspecified: the
        // same rows at each distance, save the last
        def byDistance(rows: Seq[Row]) =
          rows.filterNot(r => want.lastOption.map(dist).contains(dist(r)))
            .groupBy(dist).view.mapValues(_.map(_.toString).sorted).toMap
        assert(byDistance(got) == byDistance(want), what)
      }
    }
    assert(ties > 0, "the corpus produced no tie")
    e.remove()
  }

  test("a tier whose rows outgrow the cap in memory is served from parquet") {
    val root = Files.createTempDirectory("graft-memo-heap").toString
    val e = new Engine(spark, root)
    // a 32 KiB text repeated on every row: small on disk (dictionary
    // encoded), about 12 MiB as rows
    val text = "graft " * 5461
    e.makeTable("t", rows(0 until 400).withColumn("text", org.apache.spark.sql.functions.lit(text)))
    e.makeIndex("c", "t", "vec", Cells64)
    assert(Index.load(e.store, "c", "t", "vec").queryExecution.analyzed
      .stats.sizeInBytes < graft.store.Store.ResidentBytes, "stored under the cap")
    e.store.loadCoding("c")
    def search = e.search("t", "vec", target, coding = Some("c"),
      probes = Some(3), k = 8, select = Some(Seq("id", "text")), tieBreak = Seq("id"))
    var cold: Seq[Row] = Nil
    assert(jobsOf { cold = search.collect().toSeq } == 2, "one read, then the parquet plan")
    assert(e.store.residentBytes == 0, "the rows were given back")
    var warm: Seq[Row] = Nil
    assert(jobsOf { warm = search.collect().toSeq } == 1, "no second read")
    assert(warm == cold && cold.size == 8 && cold.forall(_.getString(1) == text))
    e.remove()
  }
}
