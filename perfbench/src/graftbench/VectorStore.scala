package graftbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{Engine, TargetVector}
import graft.coder.CoderConfig
import graft.index.Index

/** An [[Engine]] that lets a served request join the client's trace:
  * the client registers its operation under the request's target
  * vector, and the search call on the server's thread picks it up,
  * tags its Spark work and records the `api.plan` span. */
final class BenchEngine(spark: SparkSession, root: String, tracer: Tracer)
    extends Engine(spark, root) {
  val pending = new ConcurrentHashMap[Integer, (String, Long, Boolean)]()

  def expect(target: Array[Double], op: String, parent: Long, traced: Boolean): Unit =
    pending.put(java.util.Arrays.hashCode(target), (op, parent, traced))

  private def served[A](target: TargetVector)(f: => A): A =
    Option(pending.remove(java.util.Arrays.hashCode(target.doubles))) match {
      case Some((op, parent, traced)) =>
        tracer.adopt(op, parent, traced)
        try tracer.span("api.plan")(f) finally tracer.leave()
      case None => f
    }

  override def searchMulti(sources: Seq[String], column: String,
      target: TargetVector, metric: Option[String], coding: Option[String],
      probes: Option[Int], k: Int, filter: Option[Column],
      select: Option[Seq[String]], tieBreak: Seq[String]): DataFrame =
    served(target)(super.searchMulti(sources, column, target, metric, coding,
      probes, k, filter, select, tieBreak))

  override def searchSqMulti(sources: Seq[String], column: String,
      target: TargetVector, coding: String, probes: Int, candidates: Int,
      idCol: String, k: Int, metric: Option[String], filter: Option[Column],
      select: Option[Seq[String]], tieBreak: Seq[String]): DataFrame =
    served(target)(super.searchSqMulti(sources, column, target, coding, probes,
      candidates, idCol, k, metric, filter, select, tieBreak))
}

/** The vector store every vector workload starts from: a seeded
  * clustered corpus ingested with `makeTable`, an l2 coding with
  * 8 x 2 codebooks (64 cells), the IVF copy and the IVF+SQ8 copy. */
object VectorStore {
  /** corpus rows and dimensions */
  val N = 10000
  val Dim = 64
  val Table = "vectors"
  val Col = "vector"
  val Coding = "c"
  val Config: CoderConfig = CoderConfig(metric = "l2", codebookSize = 8, numCodebooks = 2)

  def rows(spark: SparkSession, seed: Long, parts: Int): DataFrame = {
    val gen = udf((id: Long) => Gen.vector(seed, id, Dim))
    spark.range(0, N, 1, parts).select(col("id"), gen(col("id")).as(Col))
  }

  def corpus(seed: Long): Array[Array[Float]] =
    Array.tabulate(N)(i => Gen.vector(seed, i, Dim))

  /** set-ups per run; `setup_s` takes their median. The first is cold
    * (about 14 s on 4 cores, the later ones about 4 s); a third would
    * not fit beside the serve warm-up in the time a run may take. */
  val Setups = 2

  /** Builds the store [[Setups]] times, each on a fresh root, and
    * keeps the last. `after` runs at the end of each setup (a server
    * start) and is timed with it. Records the per-setup timings. */
  def setups(run: Run)(after: BenchEngine => Unit): BenchEngine = {
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    val keys = Seq("setup_s", "create_table_s", "coder_train_s",
      "coder_driver_cpu_s", "ivf_build_s", "sq_build_s", "start_s")
    val rec = keys.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    var engine: BenchEngine = null
    for (i <- 0 until Setups) {
      if (engine != null) Run.deleteDir(engine.root)
      val root = s"${run.args.work}/store-$i"
      Run.deleteDir(root)
      val e = new BenchEngine(run.spark, root, run.tracer)
      def step[A](name: String)(f: => A): Double = {
        run.tracer.tag(s"${Tracer.TagPrefix}setup$i-$name")
        run.secs(f)._2
      }
      val create = step("create")(e.makeTable(Table, rows(run.spark, run.args.seed, run.nproc)))
      val cpu0 = threads.getCurrentThreadCpuTime
      val coder = step("coder")(e.makeCoder(Coding, Table, Col, Config))
      rec("coder_driver_cpu_s") += (threads.getCurrentThreadCpuTime - cpu0) / 1e9
      val ivf = step("ivf")(e.syncIndex(Coding, Table, Col))
      val sq = step("sq")(e.makeSqIndex(Coding, Table, Col))
      val start = step("start")(after(e))
      Seq("create_table_s" -> create, "coder_train_s" -> coder, "ivf_build_s" -> ivf,
        "sq_build_s" -> sq, "start_s" -> start,
        "setup_s" -> (create + coder + ivf + sq + start)).foreach { case (k, v) => rec(k) += v }
      engine = e
    }
    keys.foreach(k => run.put(k, rec(k).toSeq))
    engine
  }

  /** Bytes and files per tier under the engine root. */
  def storeFacts(run: Run, e: Engine): Unit = {
    val (total, files) = Run.dirBytes(e.root)
    run.put("stored_bytes", total)
    run.put("stored_files", files)
    run.put("raw_bytes", N * Dim * 4L)
    run.put("table_bytes", Run.dirBytes(e.store.tablePath(Table))._1)
    run.put("ivf_bytes", Run.dirBytes(e.store.indexPath(Table, Col, Coding))._1)
    run.put("sq_bytes", Run.dirBytes(e.store.sqIndexPath(Table, Col, Coding))._1)
    run.put("corpus_rows", N)
  }

  /** Direct calls into single layers on the finished store, timed
    * several times each (traced runs only): coding and stamp reads, a
    * scan of the IVF copy, cell ranking, and the distance and cell
    * assignment kernels. The kernels run over a cached copy repeated
    * to `KernelRows` rows (no scan), and their time is net of the same
    * aggregate without the kernel, so job overhead cancels. */
  def probes(run: Run, e: Engine, probeTarget: Array[Double]): Unit = {
    val spark = run.spark
    run.tracer.tag(s"${Tracer.TagPrefix}probe")
    def med(reps: Int)(f: => Unit): Double = Run.median((1 to reps).map(_ => run.secs(f)._2))
    run.put("probe.load_coding_ms", med(20)(e.store.loadCoding(Coding)) * 1e3)
    run.put("probe.source_stamp_ms", med(20)(e.store.sourceStamp(Table)) * 1e3)
    val coding = e.store.loadCoding(Coding)
    run.put("probe.rank_cells_us", med(200)(coding.rankCells(probeTarget, 4)) * 1e6)
    val loaded = Index.load(e.store, Coding, Table, Col)
    val rows = loaded.count().toDouble
    run.put("probe.scan_ns_per_row",
      med(5)(loaded.agg(sum(size(col(Col)))).collect()) * 1e9 / rows)
    val copies = math.max(1L, KernelRows / rows.toLong)
    val cached = loaded.select(col(Col)).crossJoin(spark.range(copies)).select(col(Col))
      .repartition(run.nproc).cache()
    val n = cached.count().toDouble
    val base = med(5)(cached.agg(sum(size(col(Col)))).collect())
    val t = typedLit(probeTarget.toSeq)
    val dist = med(5)(cached.agg(sum(graft.functions.functions.vector_distance(
      col(Col), t, "l2"))).collect()) - base
    run.put("probe.distance_ns_per_row", math.max(0.0, dist) * 1e9 / n)
    run.put("probe.distance_gb_per_s", if (dist > 0) n * probeTarget.length * 4 / dist / 1e9 else 0.0)
    val assign = med(5)(cached.agg(sum(Index.assignExpr(col(Col), coding))).collect()) - base
    run.put("probe.assign_ns_per_row", math.max(0.0, assign) * 1e9 / n)
    cached.unpersist(true)
  }

  /** rows the kernel probes run over */
  val KernelRows = 400000L
}
