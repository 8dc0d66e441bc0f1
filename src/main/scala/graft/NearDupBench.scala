package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** LSH-vs-exact near-dup benchmark at the reference corpus scale
  * (100k × 256-d, the `test_flight.py` fixture size): the regime where
  * the O(n²) exact baseline visibly loses to the banded-LSH scale path.
  *
  * The corpus is ISOTROPIC base vectors plus 5% injected near-duplicates
  * (base + small noise) — deliberately not the clustered RefBench corpus,
  * where every within-cluster pair sits inside any useful threshold and
  * "near-dup recall" stops meaning anything. At threshold 0.1 random
  * 256-d pairs sit at cosine distance ≈ 0.5, so the exact pair set is
  * exactly the injected duplicates.
  *
  * LSH parameters follow Dedup.nearDupPairsCosineLsh's own guidance for
  * tight thresholds: more planes (16) to shrink buckets, p^b stays high
  * for genuinely close pairs (p ≈ 0.98 at the injected noise level).
  */
object NearDupBench {
  val NumVectors: Int = sys.env.getOrElse("GRAFT_NEARDUP_VECTORS", "100000").toInt
  /** 64-d (the sf embeddings shape), not 256: the LSH-vs-n² asymptotics
    * this bench demonstrates are about PAIR COUNT, which scales with rows
    * (100k → 5·10⁹ ordered pairs), not dimensionality — and a 256-d exact
    * baseline (~15 min, ×3-6 machine noise) would make the per-round
    * bench unrunnable. Measured at 20k/256-d the gap is the same shape
    * (exact 37.2s vs LSH 6.9s, recall 1.0). */
  val Dim = 64
  def numDups: Int = NumVectors / 20

  /** Deterministic corpus, generated distributed: ids ≥ NumVectors-numDups
    * replay the base RNG of (id - offset) plus σ=0.05 noise. */
  def corpus(spark: SparkSession): DataFrame = {
    val n = NumVectors; val dups = numDups; val dim = Dim
    val gen = udf { (id: Long) =>
      val baseId = if (id >= n - dups) id - (n - dups) else id
      val rnd = new java.util.Random(baseId * 0x9E3779B97F4A7C15L + 7L)
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      if (id >= n - dups) {
        val nrnd = new java.util.Random(id * 31L + 5L)
        v.map(x => x + 0.05f * nrnd.nextGaussian().toFloat)
      } else v
    }
    spark.range(n.toLong).toDF("vec_id")
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("vec", gen(col("vec_id")))
  }

  /** Runs exact once and LSH once on the same cached corpus; returns
    * (wall-times + pair counts + recall) for the bench quality block. */
  def run(spark: SparkSession): Seq[(String, Double)] = {
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val df = corpus(spark).cache()
    df.count() // materialize: measure the operators, not corpus generation

    val (exactPairs, tExact) = time {
      Dedup.nearDupPairsCosineExact(df, "vec_id", "vec", maxDist = 0.1,
          maxRows = NumVectors.toLong)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val (lshPairs, tLsh) = time {
      Dedup.nearDupPairsCosineLsh(df, "vec_id", "vec", maxDist = 0.1,
          numPlanes = 16, numTables = 16)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    df.unpersist(blocking = false)
    val recall =
      if (exactPairs.isEmpty) 1.0
      else exactPairs.count(lshPairs.contains).toDouble / exactPairs.size
    Seq(
      s"cosine_exact_${NumVectors}_sec" -> tExact,
      s"cosine_lsh_${NumVectors}_sec" -> tLsh,
      s"cosine_exact_pairs" -> exactPairs.size.toDouble,
      s"cosine_lsh_recall" -> recall)
  }

  /** Text ingest-gate at the same row scale: a NumVectors-doc corpus'
    * minhash signatures built ONCE (the persistable artifact), then
    * NumVectors/20 arrivals — half injected near-dups of corpus docs
    * (one word changed out of 30), half novel — gated against them
    * ([[graft.streaming.Streams.nearDupAgainstSignatures]]). Records the
    * one-time signature cost, the per-wave gate cost, and the injected
    * hit rate. Expected hit rate ≈ 0.99, NOT 1.0: a 1-word edit out of
    * 30 has trigram Jaccard ≈ 0.81, and the 8-band × 4-row banding
    * matches such a pair with probability 1 − (1 − 0.81⁴)⁸ ≈ 0.99 —
    * the exact-Jaccard verify only sees candidates some band surfaced,
    * so ~1% of injected dups are banding misses. Do not assert 1.0. */
  def gateRun(spark: SparkSession): Seq[(String, Double)] = {
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val n = NumVectors.toLong; val nArr = n / 20
    def text(seed: Long): String = {
      val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 13L)
      Array.fill(30)("w" + rnd.nextInt(50000)).mkString(" ")
    }
    val corpusGen = udf { (id: Long) => text(id) }
    val arrivalGen = udf { (id: Long) =>
      if (id % 2 == 0) { // near-dup of a corpus doc: one word swapped
        val base = (id * 17L) % n
        val toks = text(base).split(" ")
        toks(7) = "CHANGED"
        toks.mkString(" ")
      } else text(n + id * 31L + 1L) // novel
    }
    val corpusDf = spark.range(n).toDF("ref_id")
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("ref_text", corpusGen(col("ref_id")))
    val arrivals = spark.range(nArr).toDF("doc_id")
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("text", arrivalGen(col("doc_id")))
    val (sigs, tSigs) = time {
      val s = Dedup.minhashSignatures(corpusDf, "ref_id", "ref_text").cache()
      s.count()
      s
    }
    val (flagged, tGate) = time {
      graft.streaming.Streams.nearDupAgainstSignatures(
          arrivals, "doc_id", "text", sigs, corpusDf, threshold = 0.5)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    }
    sigs.unpersist(blocking = false)
    val injected = (0L until nArr).filter(_ % 2 == 0).toSet
    val hitRate =
      if (injected.isEmpty) 1.0
      else injected.count(flagged.contains).toDouble / injected.size
    Seq(
      s"gate_corpus_sigs_${NumVectors}_sec" -> tSigs,
      s"gate_arrivals_${nArr}_sec" -> tGate,
      "gate_injected_hit_rate" -> hitRate,
      "gate_flagged" -> flagged.size.toDouble)
  }

  /** Broadcast-vs-bloom decontamination at 100k corpus docs × a 20k-doc
    * benchmark (~0.6 M distinct grams): measures the Bloom scale tier
    * ([[graft.ext.TextAnalysis.containmentWithBloom]]) against the
    * broadcast path on identical inputs and VERIFIES the outputs are
    * row-identical (the tier's contract: fpp tunes shuffle volume, never
    * the answer). Half the benchmark docs are verbatim 15-word spans of
    * corpus docs (containment 1.0), half novel. */
  def deconRun(spark: SparkSession): Seq[(String, Double)] = {
    import graft.ext.TextAnalysis
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val n = NumVectors.toLong; val nBench = (n / 5).toInt
    def text(seed: Long): String = {
      val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 13L)
      Array.fill(30)("w" + rnd.nextInt(50000)).mkString(" ")
    }
    val corpusGen = udf { (id: Long) => text(id) }
    val benchGen = udf { (id: Long) =>
      if (id % 2 == 0) text((id * 13L) % n).split(" ").take(15).mkString(" ")
      else text(2L * n + id * 7L + 3L)
    }
    val par = spark.sparkContext.defaultParallelism
    val corpusDf = spark.range(n).toDF("ref_id").repartition(par)
      .withColumn("ref_text", corpusGen(col("ref_id")))
    val bench = spark.range(nBench.toLong).toDF("bench_id").repartition(par)
      .withColumn("btext", benchGen(col("bench_id")))
    val (bcRows, tBroadcast) = time {
      TextAnalysis.ngramContainment(corpusDf, "ref_id", "ref_text",
        bench, "bench_id", "btext", 2, 0.8).count()
    }
    val (grams, tArtifact) = time {
      val g = TextAnalysis.benchGrams(bench, "bench_id", "btext", 2).cache()
      g.count(); g
    }
    val (bloom, tBloom) = time { TextAnalysis.buildGramBloom(grams, 1e-3) }
    val (blRows, tScore) = time {
      TextAnalysis.containmentWithBloom(corpusDf, "ref_id", "ref_text",
        grams, "bench_id", 2, 0.8, bloom).count()
    }
    // row-identical, not just count-identical
    val a = TextAnalysis.ngramContainment(corpusDf, "ref_id", "ref_text",
      bench, "bench_id", "btext", 2, 0.8)
    val b = TextAnalysis.containmentWithBloom(corpusDf, "ref_id", "ref_text",
      grams, "bench_id", 2, 0.8, bloom)
    val equal = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty &&
      bcRows == blRows
    grams.unpersist(blocking = false)
    Seq(
      s"decon_broadcast_${NumVectors}_sec" -> tBroadcast,
      "decon_bloom_artifact_sec" -> tArtifact,
      "decon_bloom_build_sec" -> tBloom,
      "decon_bloom_score_sec" -> tScore,
      "decon_rows" -> bcRows.toDouble,
      "decon_paths_equal" -> (if (equal) 1.0 else 0.0))
  }
}
