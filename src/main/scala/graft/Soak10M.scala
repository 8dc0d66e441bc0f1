package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** 10M × 256-d serving-tier soak: one full pass of
  * ingest → train → IVF/SQ8/PQ build → brute/probed/SQ/PQ search →
  * batch SQ kNN join → 1% append + incremental sync on all three tiers,
  * with wall-times and recall@10 recorded.
  *
  * The point is driver-bound safety at 10× the CurveBench scale: every
  * driver-side collect on these paths is bounded (probe unions ≤ 32k,
  * per-cell agg rows ≤ numCells, candidate ids ≤ the explicit budget),
  * so a 10M corpus must complete with no OOM and no cap refusal, and the
  * SQ8/PQ recalls must hold their 1M values (SQ8 coarse ranking is
  * near-exact per element; PQ's budget scales with rows-per-cell,
  * `candidates = n/100` ⇒ the same candidates/cell-size ratio at every
  * n, so recall is scale-stable by construction).
  *
  * Run by [[Soak]] as `soak_10m`; [[Bench]] folds that block into
  * `bench_summary.json` so the artifact carries the soak evidence
  * without re-running a 10M pass per bench. Scale via
  * `GRAFT_SOAK_VECTORS` (default 10,000,000).
  */
object Soak10M {
  val NumVectors: Long =
    sys.env.getOrElse("GRAFT_SOAK_VECTORS", "10000000").toLong

  def run(spark: SparkSession): String = {
    import Soak.time
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_soak10m"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val engine = new graft.api.Engine(spark, root)
    val n = NumVectors

    val (tIngest, _) = time(engine.makeTable("vectors", RefBench.corpus(spark, n)))
    val cfg = graft.coder.CoderConfig(metric = "l2", codebookSize = 8,
      numCodebooks = 2, batchSize = 2560, numEpochs = 5, maxStepsPerEpoch = 5)
    val (tTrain, _) = time(engine.makeCoder("c", "vectors", "vector", cfg))
    val (tIndex, _) = time(engine.syncIndex("c", "vectors", "vector"))
    val (tSqBuild, _) = time(engine.makeSqIndex("c", "vectors", "vector"))
    // the RECOMMENDED scale config (m=128, 2 bits/dim — CurveBench's
    // headline pq_recall keys), not the legacy m=16: the soak's claim is
    // that the deployable tier holds its 1M recall at 10M
    val (tPqBuild, _) = time(engine.makePqIndex("c", "vectors", "vector",
      graft.coder.PQ.PQConfig(numSubspaces = 128, codebookSize = 256,
        metric = "l2", sampleSize = 8192)))

    val target = engine.readTable(Seq("vectors")).filter(col("vec_id") === 0)
      .select(col("vector").cast("array<double>"))
      .collect()(0).getSeq[Double](0).toArray
    val (tBrute, brute) = time {
      engine.search("vectors", "vector", target, metric = Some("l2"), k = 10,
        tieBreak = Seq("vec_id")).select("vec_id")
        .collect().map(_.getLong(0)).toSet
    }
    val (tProbed, probed) = time {
      engine.search("vectors", "vector", target, coding = Some("c"),
        probes = Some(16), k = 10, tieBreak = Seq("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    val pqCand = math.max(4000L, n / 100L).toInt
    val (tPqSearch, pqIds) = time {
      engine.searchPq("vectors", "vector", target, coding = "c", probes = 16,
        candidates = pqCand, idCol = "vec_id", k = 10, tieBreak = Seq("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    val (tSqSearch, sqIds) = time {
      engine.searchSq("vectors", "vector", target, coding = "c", probes = 16,
        candidates = 100, idCol = "vec_id", k = 10, metric = Some("l2"),
        tieBreak = Seq("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    // batch join on the SQ tier: 8 queries amortize one pruned corpus pass
    val queries = engine.readTable(Seq("vectors")).filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"),
        col("vector").cast("array<double>").as("q_emb"))
    val (tJoin, joinRows) = time {
      engine.knnJoinSq("c", "vectors", "vector", queries, "q_id", "q_emb",
        k = 10, probes = 16, candidates = 100, idCol = "vec_id",
        metric = Some("l2"), tieBreak = Seq("vec_id")).count()
    }
    // cluster organization over the full 10M build: per-cell occupancy +
    // distance-to-anchor stats (broadcast anchors, one scalar shuffle) —
    // the corpus-profiling view a curriculum/domain pass starts from
    val (tCellProfile, cellRows) = time {
      engine.cellProfile("c", "vectors", "vector").count()
    }
    // 1% append, then the incremental delta path on all three tiers
    val extra = RefBench.corpus(spark, n / 100)
      .withColumn("vec_id", col("vec_id") + n)
    extra.write.mode("append").parquet(engine.store.tablePath("vectors"))
    val (tSyncIvf, _) = time(engine.syncIndex("c", "vectors", "vector"))
    val (tSyncSq, _) =
      time(engine.syncSqIndex("c", "vectors", "vector", "vec_id"))
    val (tSyncPq, _) =
      time(engine.syncPqIndex("c", "vectors", "vector", "vec_id"))

    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    Seq(
      "vectors" -> n.toDouble,
      "ingest" -> tIngest, "coder_train" -> tTrain, "index_build" -> tIndex,
      "sq_index_build" -> tSqBuild, "pq_index_build" -> tPqBuild,
      "knn_l2_brute" -> tBrute, "search_probed_16" -> tProbed,
      "probed_recall_at_10" -> brute.count(probed.contains) / 10.0,
      "search_ivf_pq" -> tPqSearch, "pq_candidates" -> pqCand.toDouble,
      "pq_recall_at_10" -> brute.count(pqIds.contains) / 10.0,
      "search_sq" -> tSqSearch,
      "sq_recall_at_10" -> brute.count(sqIds.contains) / 10.0,
      "knn_join_sq_8q" -> tJoin, "knn_join_rows" -> joinRows.toDouble,
      "cell_profile_sec" -> tCellProfile,
      "cell_profile_cells" -> cellRows.toDouble,
      "sync_append_ivf" -> tSyncIvf, "sync_append_sq" -> tSyncSq,
      "sync_append_pq" -> tSyncPq)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
      .mkString("{", ",", "}")
  }
}
