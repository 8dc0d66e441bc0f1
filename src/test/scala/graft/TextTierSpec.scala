package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.Engine
import graft.index.Index
import graft.store.Store

/** A text index tier as the lifecycle specs drive it, over a stored table
  * of (doc_id, `textCol`) rows: `known` is its known-id frame and
  * `bucketed`/`partCol` one of its bucket-partitioned dirs. */
final case class TextTierCase(name: String, known: String, bucketed: String,
    partCol: String) {
  private def lexical = name == "lexical"

  def base(e: Engine, table: String, textCol: String): String =
    if (lexical) e.store.lexIndexPath(table, textCol)
    else e.store.fuzzyIndexPath(table, textCol)

  def build(e: Engine, table: String, textCol: String, buckets: Int): Unit =
    if (lexical) e.buildLexicalIndex(table, "doc_id", textCol, buckets = buckets)
    else e.buildFuzzyIndex(table, "doc_id", textCol, maxDist = 2,
      buckets = buckets)

  def sync(e: Engine, table: String, textCol: String): Long =
    if (lexical) e.syncLexicalIndex(table, "doc_id", textCol)
    else e.syncFuzzyIndex(table, textCol)

  def compact(e: Engine, table: String, textCol: String,
      maxFilesPerBucket: Int): (Long, Long) =
    if (lexical) e.compactLexicalIndex(table, textCol, maxFilesPerBucket)
    else e.compactFuzzyIndex(table, textCol, maxFilesPerBucket)

  /** What the tier serves for query text `q`, in served order: (id, BM25
    * score) for every doc sharing a term, or (id, edit distance) for
    * every doc within the build's distance. */
  def serve(e: Engine, table: String, textCol: String,
      q: String): Seq[(Long, Double)] = {
    val df =
      if (lexical) e.searchBm25(table, textCol,
        q.toLowerCase.split(" ").filter(_.nonEmpty).toSeq, k = 100000)
      else e.fuzzyLookup(table, textCol, q)
    df.collect().map(r => (r.getLong(0), r.get(1).toString.toDouble)).toSeq
  }

  /** Whether the artifact's recorded source stamp matches the source. */
  def fresh(e: Engine, table: String, textCol: String): Boolean =
    Index.recordedStamp(e.store, base(e, table, textCol))
      .contains(e.store.sourceStamp(table))

  /** Documents in the known-id frame. */
  def indexed(e: Engine, table: String, textCol: String): Long =
    e.spark.read.parquet(s"${base(e, table, textCol)}/$known").count()
}

object TextTierCase {
  val lexical = TextTierCase("lexical", "doclens", "postings", "__TERM_BUCKET__")
  val fuzzy = TextTierCase("fuzzy", "base", "segs", "__SEG_BUCKET__")
  val both = Seq(lexical, fuzzy)
}

/** The one text-tier lifecycle, run for both tiers by the same script:
  * build, freshness, loud refusal of a stale artifact, incremental sync,
  * and a source write racing the sync. */
class TextTierSpec extends SparkSuite {
  import spark.implicits._

  private def text(i: Int) = f"row $i%04d of the text corpus"
  private def rows(ids: Range): DataFrame =
    ids.map(i => (i.toLong, text(i))).toDF("doc_id", "t")

  /** An engine whose store's next `loadTable` appends ten source rows
    * right after resolving its frame: a writer racing the sync. */
  private class RacingEngine(root: String) extends Engine(spark, root) {
    var raceFrom: Option[Int] = None
    override val store: Store = new Store(spark, root) {
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
  }

  for (tier <- TextTierCase.both)
    test(s"${tier.name} lifecycle: build is fresh; an unsynced append and " +
        "an in-place rewrite refuse as STALE; sync serves the new docs and " +
        "re-syncs append 0; a file landing mid-sync leaves the tier stale") {
      val e = new RacingEngine(
        Files.createTempDirectory(s"graft-text-${tier.name}").toString)
      def append(ids: Range): Unit = rows(ids).coalesce(1)
        .write.mode("append").parquet(e.store.tablePath("td"))
      def sourceRows = e.store.loadTable("td").count()
      def refusesStale(): Unit = {
        val ex = intercept[IllegalArgumentException](
          tier.serve(e, "td", "t", text(3)))
        assert(ex.getMessage.contains("STALE"), ex.getMessage)
      }
      e.makeTable("td", rows(0 until 30).coalesce(2))
      tier.build(e, "td", "t", buckets = 8)
      assert(tier.fresh(e, "td", "t"))
      assert(tier.serve(e, "td", "t", text(3)).exists(_._1 == 3L))

      // append without a sync: refused, never served short
      append(30 until 40)
      assert(!tier.fresh(e, "td", "t"))
      refusesStale()
      assert(tier.sync(e, "td", "t") == 10L)
      assert(tier.fresh(e, "td", "t"))
      assert(tier.indexed(e, "td", "t") == sourceRows)
      assert(tier.serve(e, "td", "t", text(35)).exists(_._1 == 35L))
      assert(tier.sync(e, "td", "t") == 0L)

      // an append the sync reads, then one that lands while it runs
      append(40 until 50)
      e.raceFrom = Some(50)
      assert(tier.sync(e, "td", "t") >= 10L)
      val (indexed, source) = (tier.indexed(e, "td", "t"), sourceRows)
      assert(!(tier.fresh(e, "td", "t") && indexed != source),
        s"reads fresh with $indexed of $source source rows indexed")
      assert(tier.sync(e, "td", "t") == 10L)
      assert(tier.fresh(e, "td", "t"))
      assert(tier.indexed(e, "td", "t") == sourceRows)

      // an in-place rewrite: refused until a rebuild
      e.store.replaceTable("td", rows(0 until 60)
        .withColumn("t", concat(col("t"), lit(" v2"))))
      assert(!tier.fresh(e, "td", "t"))
      refusesStale()
      tier.build(e, "td", "t", buckets = 8)
      assert(tier.serve(e, "td", "t", text(3) + " v2").exists(_._1 == 3L))
      e.remove()
    }
}
