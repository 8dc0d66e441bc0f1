package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

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

  /** Spark jobs started on this thread while `f` runs. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"memo-jobs-${System.nanoTime()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "memo job count")
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

  test("a warm served search plans with no Spark job; the IVF action is one job") {
    val root = Files.createTempDirectory("graft-memo-jobs").toString
    val e = new Engine(spark, root)
    e.makeTable("t", rows(0 until 400))
    e.makeIndex("c", "t", "vec", Cells64)
    e.makeSqIndex("c", "t", "vec")
    assert(ivf(e).isRight && sq(e).isRight)
    def ivfFrame = e.search("t", "vec", target, coding = Some("c"),
      probes = Some(3), k = 8, tieBreak = Seq("id"))
    assert(jobsOf(ivfFrame) == 0, "planning a probed IVF search")
    assert(jobsOf(e.searchSq("t", "vec", target, "c", probes = 3,
      candidates = 40, idCol = "id", k = 8, tieBreak = Seq("id"))) == 0,
      "planning an IVF+SQ8 search")
    val frame = ivfFrame
    assert(jobsOf(frame.collect()) == 1, "running a probed IVF search")
    e.remove()
  }
}
