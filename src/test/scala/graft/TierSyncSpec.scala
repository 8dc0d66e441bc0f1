package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.coder.{CoderConfig, PQ}
import graft.index.Index
import graft.store.Store

/** Incremental sync of every index tier takes the source listing before
  * it reads the source: a file that lands while a sync runs leaves the
  * tier not fresh, never stamped fresh with that file's rows missing.
  * A rebuild racing a sync or repair of the same tier never leaves rows
  * encoded under a codec the tier no longer carries. */
class TierSyncSpec extends SparkSuite {
  import spark.implicits._

  private def rows(ids: Range): DataFrame = {
    val rnd = new scala.util.Random(ids.start)
    ids.map(i => (i.toLong, Seq.fill(4)(rnd.nextFloat() * 10))).toDF("id", "vec")
  }

  /** A store whose next `loadTable` appends ten source rows right after
    * resolving its frame: a writer racing the sync. */
  private class RacingStore(dir: String) extends Store(spark, dir) {
    var raceFrom: Option[Int] = None
    override def loadTable(names: String*): DataFrame = {
      val df = super.loadTable(names: _*)
      raceFrom.foreach { from =>
        raceFrom = None
        rows(from until from + 10).coalesce(1).write.mode("append")
          .parquet(tablePath(names.head))
      }
      df
    }
  }

  test("a file landing mid-sync leaves each tier not fresh or complete") {
    val store = new RacingStore(
      Files.createTempDirectory("graft-tier-sync").toString)
    store.createTable("t", rows(0 until 100).coalesce(2))
    store.makeCoder("c", "t", "vec", CoderConfig(metric = "l2",
      codebookSize = 2, numCodebooks = 1, batchSize = 64, numEpochs = 2))
    Index.build(store, "c", "t", "vec")
    Index.buildSq(store, "c", "t", "vec")
    Index.buildBq(store, "c", "t", "vec")
    Index.buildPq(store, "c", "t", "vec", PQ.PQConfig(numSubspaces = 2,
      codebookSize = 4, metric = "l2", sampleSize = 100))
    val paths = Map(
      "ivf" -> store.indexPath("t", "vec", "c"),
      "sq" -> store.sqIndexPath("t", "vec", "c"),
      "bq" -> store.bqIndexPath("t", "vec", "c"),
      "pq" -> store.pqIndexPath("t", "vec", "c"))
    var next = 100
    val wronglyFresh = for (tier <- Seq("ivf", "sq", "bq", "pq")) yield {
      // an append the sync reads, then one that lands while it runs
      rows(next until next + 10).coalesce(1).write.mode("append")
        .parquet(store.tablePath("t"))
      store.raceFrom = Some(next + 10)
      next += 20
      assert(Index.syncIncremental(store, "c", "t", "vec", "id", tier) >= 10L)
      val indexed = spark.read.parquet(paths(tier)).count()
      val source = store.loadTable("t").count()
      Option.when(Index.tierFresh(store, "c", "t", "vec", tier) && indexed != source)(
        s"$tier reads fresh with $indexed of $source source rows indexed")
    }
    assert(wronglyFresh.flatten.isEmpty, wronglyFresh.flatten.mkString("; "))
    store.remove()
  }

  /** A store whose next read of the SQ8 sidecar first reads it, then runs
    * `race` before handing the bytes back: a rebuild of the tier landing
    * right after a maintenance step read the codec. */
  private class CodecRaceStore(dir: String) extends Store(spark, dir) {
    var race: Option[() => Unit] = None
    override def readSidecar(path: String): Array[Byte] = {
      val bytes = super.readSidecar(path)
      if (path.endsWith("_sq_params.json")) race.foreach { r => race = None; r() }
      bytes
    }
  }

  /** The SQ8 codec in a sidecar, as the per-cell kernel's layout: sorted
    * cell ids, then (scales, zeroPoints) with one block per cell and the
    * global block last. */
  private def sqLayout(store: Store, sidecar: String)
      : (IndexedSeq[Long], IndexedSeq[Float], IndexedSeq[Float]) = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(store.readSidecar(sidecar))
    val cells = Option(root.get("cells")).toSeq
      .flatMap(_.fieldNames().asScala.map(_.toLong)).sorted.toIndexedSeq
    val blocks = cells.map(c => root.get("cells").get(c.toString)) :+ root
    def field(f: String) = blocks.flatMap(b => (0 until b.get(f).size()).map(b.get(f).get(_).floatValue()))
    (cells, field("scales"), field("zeroPoints"))
  }

  test("a per-cell SQ8 build racing a sync or repair leaves every row encoded " +
      "under the installed codec") {
    // four far-apart clusters: a cell's affine block differs from the global one
    def clustered(ids: Range): DataFrame = {
      val rnd = new scala.util.Random(ids.start)
      ids.map(i => (i.toLong, Seq.tabulate(4)(d =>
        ((i % 4) * 40 + d * (i % 4) + rnd.nextFloat()).toFloat))).toDF("id", "vec")
    }
    for (op <- Seq("sync", "repair")) {
      val store = new CodecRaceStore(
        Files.createTempDirectory(s"graft-codec-race-$op").toString)
      store.createTable("t", clustered(0 until 120).coalesce(2))
      store.makeCoder("c", "t", "vec", CoderConfig(metric = "l2",
        codebookSize = 2, numCodebooks = 2, batchSize = 64, numEpochs = 2))
      Index.buildSq(store, "c", "t", "vec")
      val sidecar = s"${store.sqIndexPath("t", "vec", "c")}/_sq_params.json"
      var failure: Option[Throwable] = None
      val builder = new Thread(() =>
        try Index.buildSq(store, "c", "t", "vec", perCell = true)
        catch { case e: Throwable => failure = Some(e) })
      store.race = Some { () =>
        builder.start()
        // the build runs to its end, unless it waits on the tier's lock —
        // held by the step that read the codec
        def waitsOnLock = builder.getState == Thread.State.BLOCKED &&
          builder.getStackTrace.exists(_.getMethodName == "withArtifactLock")
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (builder.isAlive && !waitsOnLock && System.nanoTime() < deadline)
          Thread.sleep(20)
        // rows for the step to encode
        clustered(120 until 140).coalesce(1).write.mode("append")
          .parquet(store.tablePath("t"))
      }
      if (op == "sync") Index.syncIncremental(store, "c", "t", "vec", "id", "sq")
      else Index.repair(store, "c", "t", "vec", "sq")
      builder.join()
      failure.foreach(throw _)
      assert(store.race.isEmpty, s"$op: the codec was never read")
      val (cells, scales, zps) = sqLayout(store, sidecar)
      assert(cells.nonEmpty, s"$op: the per-cell build did not land")
      import org.apache.spark.sql.GraftShims.{column => kernel, expression => ex}
      val mixed = spark.read.parquet(store.sqIndexPath("t", "vec", "c"))
        .filter(col(Index.SqCol) =!= kernel(graft.functions.QuantizePerCellDim(
          ex(col("vec")), ex(col(Index.CodeCol).cast("long")), cells, scales, zps)))
        .select("id").as[Long].collect().sorted
      assert(mixed.isEmpty,
        s"$op: rows ${mixed.mkString(", ")} are not encoded under the installed codec")
      store.remove()
    }
  }
}
