package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.coder.{CoderConfig, PQ}
import graft.index.Index
import graft.store.Store

/** Incremental sync of every index tier takes the source listing before
  * it reads the source: a file that lands while a sync runs leaves the
  * tier not fresh, never stamped fresh with that file's rows missing. */
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
}
