package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.Engine
import graft.coder.CoderConfig

/** Every store write under an injected fault at each of its renames and
  * deletes in turn ([[FaultFs]]): after the fault, a reader — the same
  * engine, and a fresh one over the same root (a restart) — sees exactly
  * the old state or the new one, listings show only names the writer
  * meant, and re-running the writer after a restart, from the state the
  * fault left, reaches the new state. */
class CommitSpec extends SparkSuite {
  import spark.implicits._

  /** One writer: `setup` builds the state it starts from, `run` is the
    * write, `observe` what readers see, `tables`/`indexes` the names a
    * listing may show. */
  private case class Writer(name: String, setup: Engine => Unit,
      run: Engine => Unit, observe: Engine => Any,
      tables: Set[String] = Set("t"),
      indexes: Set[(String, String, String)] = Set.empty)

  private def text(i: Int) = f"row $i%04d of the text corpus"
  private def docs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, text(i))).toDF("doc_id", "t")

  private def vectors(ids: Range): DataFrame = {
    val rnd = new scala.util.Random(7)
    val centers = Seq.fill(4)(Array.fill(8)(rnd.nextDouble() * 20 - 10))
    ids.map { i =>
      (i.toLong, i % 7, centers(i % 4).map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    }.toDF("id", "k", "vec")
  }

  private def append(e: Engine, df: DataFrame): Unit =
    df.coalesce(1).write.mode("append").parquet(e.store.tablePath("t"))

  private def rows(e: Engine): Seq[String] =
    if (!e.store.tableExists("t")) Nil
    else e.readTable(Seq("t")).collect().map(_.toString).toSeq.sorted

  private val cfg = CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 1)
  private val target = Array.fill(8)(0.5)
  private val ivf = Set(("t", "vec", "c"))

  private def withIvf(e: Engine): Unit = {
    e.makeTable("t", vectors(0 until 40).coalesce(1))
    e.makeIndex("c", "t", "vec", cfg)
  }

  private def ivfRows(e: Engine): Seq[String] =
    e.readTable(Seq("t"), coding = Some(("c", "vec")))
      .select("id", "__CODED_ID__").collect().map(_.toString).toSeq.sorted

  private def advise(e: Engine, k: Int): Unit =
    e.adviseProbes("c", "t", "vec", "id", k = k, targetRecall = 1.0, sampleQueries = 8)

  private def sqIds(e: Engine): Seq[Long] =
    e.searchSq("t", "vec", target, "c", probes = 4, candidates = 1000,
      idCol = "id", k = 1000, tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq

  /** What a text query serves: the BM25 answer, or that the lexical
    * tier refused a stale artifact; the fuzzy answer served stale on
    * request, and whether the artifact reads fresh. */
  private def served(tier: TextTierCase, e: Engine): Any =
    if (tier == TextTierCase.fuzzy)
      (e.fuzzyLookup("t", "t", text(13), allowStale = true).collect().map(_.toString).toSeq,
        e.fuzzyIndexIsFresh("t", "t"))
    else
      try Right(e.searchBm25("t", "t", Seq("0013", "row"), k = 100)
        .collect().map(_.toString).toSeq)
      catch {
        case x: IllegalArgumentException if x.getMessage.contains("STALE") =>
          Left("stale")
      }

  private def textWriters(tier: TextTierCase): Seq[Writer] = {
    val n = tier.name
    def build(e: Engine) = { e.makeTable("t", docs(0 until 12)); tier.build(e, "t", "t", 1) }
    Seq(
      Writer(s"$n build over an existing artifact",
        build,
        e =>
          if (tier == TextTierCase.lexical)
            e.buildLexicalIndex("t", "doc_id", "t", buckets = 1, positional = true)
          else e.buildFuzzyIndex("t", "doc_id", "t", maxDist = 1, buckets = 1),
        e => (served(tier, e),
          if (tier == TextTierCase.lexical)
            scala.util.Try(e.searchPhrase("t", "t", Seq("row", "0007")).count()).toOption
          else None)),
      Writer(s"$n sync",
        e => { build(e); append(e, docs(12 until 24)) },
        e => tier.sync(e, "t", "t"),
        e => served(tier, e)),
      Writer(s"$n compaction",
        e => {
          build(e)
          for (lo <- Seq(12, 16, 20)) { append(e, docs(lo until lo + 4)); tier.sync(e, "t", "t") }
        },
        e => tier.compact(e, "t", "t", maxFilesPerBucket = 1),
        e => served(tier, e)))
  }

  private lazy val writers: Seq[Writer] = Seq(
    Writer("replace over an existing table",
      e => e.makeTable("t", docs(0 until 12)),
      e => e.store.replaceTable("t", docs(5 until 30)),
      rows),
    Writer("create of a new table",
      e => e.makeTable("u", docs(0 until 3)),
      e => e.makeTable("t", docs(0 until 20)),
      e => (rows(e), e.readTable(Seq("u")).count()),
      tables = Set("t", "u")),
    Writer("compact",
      e => { e.makeTable("t", docs(0 until 10)); append(e, docs(10 until 20)) },
      e => e.store.compact("t", 1),
      rows),
    Writer("optimizeLayout",
      e => { e.makeTable("t", docs(0 until 10)); append(e, docs(10 until 20)) },
      e => e.store.optimizeLayout("t", "doc_id", 2),
      rows),
    Writer("zorderLayout",
      e => e.makeTable("t", vectors(0 until 30)),
      e => e.store.zorderLayout("t", Seq("id", "k"), 2),
      rows),
    Writer("IVF build over an existing tier",
      e => { withIvf(e); e.store.replaceTable("t", vectors(0 until 60)) },
      e => e.syncIndex("c", "t", "vec"),
      ivfRows, indexes = ivf),
    Writer("SQ8 build over an existing tier",
      e => {
        withIvf(e)
        e.makeSqIndex("c", "t", "vec")
        e.store.replaceTable("t", vectors(0 until 60))
      },
      e => e.makeSqIndex("c", "t", "vec", perCell = true),
      sqIds, indexes = ivf),
    Writer("repair",
      e => {
        withIvf(e)
        append(e, vectors(40 until 50))
        // an in-place rewrite of the first source file: new vectors
        val src = new org.apache.hadoop.fs.Path(e.store.tablePath("t"))
        val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val first = fs.listStatus(src).map(_.getPath)
          .filter(_.getName.startsWith("part-")).minBy(_.getName)
        val local = Paths.get(first.toUri.getPath)
        val scratch = Files.createTempDirectory("graft-commit-mod")
        spark.read.parquet(local.toString).withColumn("vec", reverse(col("vec")))
          .coalesce(1).write.mode("overwrite").parquet(scratch.resolve("d").toString)
        val part = Files.list(scratch.resolve("d")).iterator.asScala
          .find(_.getFileName.toString.startsWith("part-")).get
        Files.move(part, local, StandardCopyOption.REPLACE_EXISTING)
      },
      e => e.repairIndex("c", "t", "vec"),
      ivfRows, indexes = ivf),
    Writer("compactIndex",
      e => {
        withIvf(e)
        for (lo <- Seq(40, 45, 50)) {
          append(e, vectors(lo until lo + 5))
          graft.index.Index.syncIncremental(e.store, "c", "t", "vec", "id")
        }
      },
      e => e.compactIndex("c", "t", "vec", maxFilesPerCell = 1),
      ivfRows, indexes = ivf),
    Writer("syncIncremental",
      e => { withIvf(e); append(e, vectors(40 until 55)) },
      e => graft.index.Index.syncIncremental(e.store, "c", "t", "vec", "id"),
      ivfRows, indexes = ivf),
    Writer("adviseProbes over existing advice",
      e => { withIvf(e); advise(e, k = 5) },
      e => advise(e, k = 10),
      e => (scala.util.Try(e.freshProbeAdvice("c")).toEither.left.map(_.toString),
        scala.util.Try(e.resolveAdvisedProbes("c", "t", "vec", 5, None))
          .toEither.left.map(_.toString)),
      indexes = ivf)
  ) ++ TextTierCase.both.flatMap(textWriters)

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator.asScala.foreach { p =>
      Files.copy(p, to.resolve(from.relativize(p).toString),
        StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  private def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
  }

  private def engineAt(dir: Path) = new Engine(spark, s"${FaultFs.Scheme}:$dir")

  /** Task attempts started and not yet ended, as the listener bus
    * delivered their events. */
  private val running = java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()
  private val tasks = new SparkListener {
    override def onTaskStart(e: SparkListenerTaskStart): Unit = running.add(e.taskInfo.taskId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = running.remove(e.taskInfo.taskId)
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(tasks)
  }

  override def afterAll(): Unit =
    try spark.sparkContext.removeSparkListener(tasks) finally super.afterAll()

  /** Waits until every task attempt started so far has ended: a
    * straggler of a failed job must not write once the fault is
    * disarmed, nor remove its attempt directory while the crash state is
    * copied. The scheduler posts a task's start before the failure of
    * its job reaches the caller, and its end once the task (its abort
    * included) is over; draining the listener bus after each check makes
    * [[running]] hold exactly the tasks not yet over. */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    def delivered(): Unit = bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    delivered()
    while (!running.isEmpty) {
      assert(System.nanoTime() < deadline, s"tasks that never ended: $running")
      Thread.sleep(10)
      delivered()
    }
  }

  test("a quantized tier's sync sweeps first: after a rebuild cut short " +
      "between its renames it syncs the rebuilt tier instead of refusing") {
    val dir = Files.createTempDirectory("graft-commit")
    val template = dir.resolve("template")
    val setup = engineAt(template)
    withIvf(setup)
    setup.makeSqIndex("c", "t", "vec")
    setup.store.replaceTable("t", vectors(0 until 60))
    def tier(root: Path) = Paths.get(engineAt(root).store.sqIndexPath("t", "vec", "c")
      .stripPrefix(s"${FaultFs.Scheme}:"))
    // the first fault that leaves the tier dir renamed aside
    val root = Iterator.from(1).take(50).map { k =>
      val root = dir.resolve(s"k$k")
      copyTree(template, root)
      FaultFs.arm(k)
      scala.util.Try(engineAt(root).makeSqIndex("c", "t", "vec"))
      drain()
      assert(FaultFs.disarm(), s"the rebuild completed before its tier went aside")
      root
    }.find(r => !Files.exists(tier(r))).get
    val e = engineAt(root)
    assert(e.syncSqIndex("c", "t", "vec", "id") == 0L)
    assert(sqIds(e).sorted == (0L until 60L))
    deleteTree(dir)
  }

  for (w <- writers)
    test(s"a fault at any rename or delete of a write leaves the old state or " +
        s"the new one, and a re-run converges: ${w.name}") {
      val dir = Files.createTempDirectory("graft-commit")
      val template = dir.resolve("template")
      val setup = engineAt(template)
      w.setup(setup)
      val old = w.observe(engineAt(template))
      val newDir = dir.resolve("new")
      copyTree(template, newDir)
      w.run(engineAt(newDir))
      val fresh = w.observe(engineAt(newDir))
      deleteTree(newDir)

      def check(e: Engine, what: String): Unit = {
        val seen = w.observe(e)
        assert(seen == old || seen == fresh,
          s"$what: neither old nor new:\n$seen\nold $old\nnew $fresh")
        val tables = e.listTables().toSet
        assert(tables.subsetOf(w.tables), s"$what: phantom tables $tables")
        val indexes = e.store.listIndexes().toSet
        assert(indexes.subsetOf(w.indexes), s"$what: phantom indexes $indexes")
      }

      var k = 0
      var fired = true
      while (fired) {
        k += 1
        assert(k <= 200, s"${w.name}: no end to fault points")
        val root = dir.resolve(s"k$k")
        copyTree(template, root)
        val e = engineAt(root)
        FaultFs.arm(k)
        val outcome = scala.util.Try(w.run(e))
        drain()
        fired = FaultFs.disarm()
        if (!fired) {
          assert(outcome.isSuccess, s"${w.name}: failed with no fault: $outcome")
          assert(w.observe(e) == fresh, s"${w.name}: unfaulted run")
        } else {
          // the re-run starts from the crash state as it was left, before
          // any reader swept it
          val crashed = dir.resolve(s"k$k-crashed")
          copyTree(root, crashed)
          check(e, s"${w.name}, fault $k, same engine")
          check(engineAt(root), s"${w.name}, fault $k, restart")
          w.run(engineAt(crashed))
          assert(w.observe(engineAt(crashed)) == fresh,
            s"${w.name}, fault $k: re-run did not converge")
          deleteTree(crashed)
        }
        deleteTree(root)
      }
      info(s"${w.name}: ${k - 1} fault points")
      deleteTree(dir)
    }
}
