package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

import graft.ext.Dedup

/** One-off 1M-document near-dup soak — validates the bucket-cap/star
  * discipline of [[Dedup.nearDupPairsMinhash]] at the scale the cap
  * exists for, which no sf-scale bench number can show.
  *
  * Corpus: 1M docs of 30-token synthetic text —
  *   - ids [0, 100k): one identical boilerplate text (the "error page"
  *     cluster every web crawl contains). Uncapped, the band self-join
  *     would emit 8 × C(100k, 2) ≈ 4·10¹⁰ candidate rows from this
  *     cluster alone — the pre-round-10 scale-killer. Capped, it must
  *     emit exactly a 99,999-pair min-id star;
  *   - ids [100k, 1M): unique random text; every 20th doc is instead a
  *     one-word edit of another base doc (trigram Jaccard ≈ 0.81), the
  *     injected near-dup population whose banding hit rate ≈ 0.99
  *     (1 − (1 − 0.81⁴)⁸; see NearDupBench's gate docstring).
  *
  * Measures: signature+pair wall time, total pairs, the star shape
  * (cluster pairs all anchored at the min id), injected-dup recall, and
  * a [[Dedup.duplicateGroups]] pass showing the cluster consolidates to
  * ONE component (star and clique give identical components).
  *
  * Run by [[Soak]] as `dedup_soak_1m`.
  */
object DedupSoak1M {
  val N = 1000000L
  val Cluster = 100000L
  val Boilerplate: String =
    (0 until 30).map(i => "boiler" + (i % 7)).mkString(" ")

  private def text(seed: Long): String = {
    val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 13L)
    Array.fill(30)("w" + rnd.nextInt(50000)).mkString(" ")
  }

  /** base doc for injected near-dup `id` (never itself injected). */
  private def baseOf(id: Long): Long = {
    val b = Cluster + ((id * 17L) % (N - Cluster))
    if (b % 20L == 0L) b + 1L else b
  }

  def run(spark: SparkSession): String = {
    import Soak.time

    val n = N; val cluster = Cluster
    val gen = udf { (id: Long) =>
      if (id < cluster) Boilerplate
      else if (id % 20L == 0L) {
        val toks = text(baseOf(id)).split(" ")
        toks(7) = "CHANGED"
        toks.mkString(" ")
      } else text(id)
    }
    val docs = spark.range(n).toDF("doc_id")
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("text", gen(col("doc_id")))

    val (tPairs, pairs) = time {
      val p = Dedup.nearDupPairsMinhash(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.5).cache()
      p.count()
      p
    }
    val nPairs = pairs.count()
    // star shape: every within-cluster pair is anchored at the min id
    val clusterPairs = pairs.filter(col("id_b") < cluster)
    val nClusterPairs = clusterPairs.count()
    val starAnchored = clusterPairs.filter(col("id_a") === 0L).count()
    // injected recall, measured distributed (no driver-side loop): the
    // expected pair set from the generator arithmetic, semi-joined
    // against the found pairs
    val baseUdf = udf { (id: Long) => baseOf(id) }
    val expected = spark.range(n).toDF("inj")
      .filter(col("inj") >= cluster && col("inj") % 20L === 0L)
      .withColumn("base", baseUdf(col("inj")))
      .select(least(col("inj"), col("base")).as("id_a"),
        greatest(col("inj"), col("base")).as("id_b"))
    val nExpected = expected.count()
    val nFound = expected.join(pairs, Seq("id_a", "id_b"), "left_semi").count()
    val recall = nFound.toDouble / nExpected

    val (tGroups, groups) = time {
      val g = Dedup.duplicateGroups(docs.select("doc_id"), "doc_id",
        pairs, "id_a", "id_b").cache()
      g.count()
      g
    }
    // the boilerplate cluster must be ONE component rooted at id 0
    val clusterComponents = groups.filter(col("doc_id") < cluster)
      .select("rep").distinct().count()

    // full curation pipeline at the same scale: exact dedup + the capped
    // near-dup stage + decontamination (tiny synthetic benchmark) +
    // quality/language maps in the one-pass assembly. The synthetic
    // "w####" tokens carry no stopwords, so the stopword rule and the
    // language filter are relaxed — this measures the PLAN at 1M, not
    // the English heuristics.
    val bench = spark.range(5).toDF("bench_id")
      .withColumn("text", udf { (id: Long) => text(2 * n + id) }.apply(col("bench_id")))
    val (tCurate, nCurated) = time {
      graft.ext.Curate.curate(docs, "doc_id", "text", bench,
        "bench_id", "text",
        graft.ext.Curate.Config(jaccardThreshold = 0.5,
          minWords = 10, maxWords = 100, minStopwords = 0,
          dropUnknownLang = false)).count()
    }

    // the FULL pipeline with every tier on, at 1M: unicode
    // normalization + cross-doc line strip + surgical span
    // decontamination + all five doc-level stages in the one-pass
    // assembly — the composed plan must not reintroduce the
    // cascade-rescan blowup the id-set design exists to prevent
    val navDocs0 = docs.withColumn("text",
      concat(lit("nav home products contact\n"), col("text")))
    val (tFull, nFull) = time {
      graft.ext.Curate.curate(navDocs0, "doc_id", "text", bench,
        "bench_id", "text",
        graft.ext.Curate.Config(jaccardThreshold = 0.5,
          minWords = 10, maxWords = 100, minStopwords = 0,
          dropUnknownLang = false,
          normalizeUnicode = true,
          stripSegmentsMinDocs = Some(1000),
          contamStripSpans = true)).count()
    }

    // cross-doc common-line strip at 1M: a nav line shared by ALL 1M
    // docs (the hottest possible distinct-doc-count key) plus the
    // cluster's body line shared by 100k docs — both must strip (the
    // cluster docs empty out), every unique body must survive. The hot
    // keys partial-combine map-side; no per-key occurrence list exists
    // anywhere in the plan.
    val navDocs = docs.withColumn("text",
      concat(lit("nav home products contact\n"), col("text")))
    val (tSeg, seg) = time {
      val s = Dedup.stripCommonSegments(navDocs, "doc_id", "text",
        minDocs = 1000).cache()
      s.count()
      s
    }
    val segEmptied = seg.filter(col("n_kept") === 0L).count()
    val segKeptOne = seg.filter(col("n_kept") === 1L).count()

    // span-level decontamination at 1M: a 100-doc synthetic benchmark
    // whose docs are verbatim copies of corpus docs (guaranteed leaks)
    // — the leaked corpus docs must empty out, everything else must
    // pass untouched. Bench grams collapse to a distinct set before the
    // join, so the corpus-side work is one narrow span map + one
    // hash-pair join regardless of benchmark size.
    val benchIds = (0 until 100).map(i => cluster + 1L + i * 9001L)
    val benchSpan = spark.createDataFrame(
        benchIds.map(i => (i, text(i)))).toDF("bench_id", "text")
    val (tSpanDecon, spanStats) = time {
      val s = Dedup.stripContaminatedSpans(docs, "doc_id", "text",
        benchSpan, "bench_id", "text", k = 8).cache()
      s.count()
      s
    }
    val deconEmptied = spanStats.filter(col("n_kept") === 0L).count()
    val deconTouched = spanStats.filter(col("n_kept") =!= col("n_tokens")).count()

    f"""{"n_docs":$n,"cluster_size":$cluster,""" +
        f""""pairs_sec":$tPairs%.1f,"n_pairs":$nPairs,""" +
        f""""cluster_pairs":$nClusterPairs,"cluster_star_anchored":$starAnchored,""" +
        f""""injected_expected":$nExpected,"injected_found":$nFound,""" +
        f""""injected_recall":$recall%.4f,""" +
        f""""groups_sec":$tGroups%.1f,"cluster_components":$clusterComponents,""" +
        f""""curate_sec":$tCurate%.1f,"curate_survivors":$nCurated,""" +
        f""""curate_full_sec":$tFull%.1f,"curate_full_survivors":$nFull,""" +
        f""""seg_strip_sec":$tSeg%.1f,"seg_docs_emptied":$segEmptied,""" +
        f""""seg_docs_kept_one":$segKeptOne,""" +
        f""""span_decon_sec":$tSpanDecon%.1f,""" +
        f""""span_decon_emptied":$deconEmptied,""" +
        f""""span_decon_touched":$deconTouched}"""
  }
}
