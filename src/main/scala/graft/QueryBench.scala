package graft

import scala.jdk.CollectionConverters._

/** Targeted per-query timer for optimization work: times a NAMED subset
  * of [[SparkEntry.queries]] under the exact Bench session config and
  * methodology (best-of-N `df.count()` + checkpoint release, knn_l2
  * warmup) so numbers are comparable with bench_summary.json without
  * paying for the full 230-entry sweep per iteration. Each query's
  * slowest stages (wall + executor cpu) go to stderr. Not part of the
  * driver contract — the driver runs [[Bench]].
  *
  * Usage: sbt "runMain graft.QueryBench q1_agg graph_triangles"
  * e.g. the batch-kNN-join A/B:
  * `SPARK_GRAFT_QB_RUNS=3 sbt "runMain graft.QueryBench knn_join knn_join_ivf knn_join_sq knn_l2"`
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_QB_RUNS. */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_QB_RUNS", "2").toInt
    val spark = BenchSession.create()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.GraftShims.quietCheckpointLogs()
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // stage profile: wall-clock per stage (submission → completion)
    // plus executor cpu sum, top-N per query — attributes a slow query to
    // its stages without the (disabled) UI
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Double)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val wall = (for { s <- i.submissionTime; c <- i.completionTime }
            yield (c - s) / 1e3).getOrElse(0.0)
          stages.add((i.name.takeWhile(_ != '\n').take(90), wall,
            i.taskMetrics.executorRunTime / 1e3))
        }
      })
    SparkEntry.queries("knn_l2")(spark, sfDir).count() // warmup
    val out = args.toSeq.map { name =>
      stages.clear()
      spark.sparkContext.setJobDescription(s"qbench: $name")
      val fn = SparkEntry.queries(name)
      val secs = (1 to runs).map { _ =>
        time {
          val df = fn(spark, sfDir)
          df.count()
          org.apache.spark.sql.GraftShims.releaseCheckpoint(df)
        }
      }
      System.err.println(f"[qbench] $name: ${secs.map(s => f"$s%.3f").mkString(", ")}")
      val all = stages.asScala.toSeq
      System.err.println(f"[qbench]   stages=${all.size} " +
        f"wallSum=${all.map(_._2).sum}%.2f cpuSum=${all.map(_._3).sum}%.2f")
      all.sortBy(-_._2).take(8).foreach { case (n, w, c) =>
        System.err.println(f"[qbench]   $w%6.2fs wall $c%7.2fs cpu  $n")
      }
      name -> secs.min
    }
    println(out.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}"))
    spark.stop()
  }
}
