package graft

/** Writes `.explain("formatted")` for named [[SparkEntry.queries]] to
  * plans/<tag>/<name>_<suffix>.txt under the Bench session config at the
  * bench scale factor, so plan-shape claims in OPTIMIZATION notes and
  * PLANS.md are reproducible artifacts. The query name `all` dumps every
  * query. Not part of the driver contract.
  *
  * Usage: sbt "runMain graft.PlanDump r20 before q1_agg graph_triangles"
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <tag> <suffix> <query>...|all")
    val tag = args(0); val suffix = args(1)
    val names = args.drop(2).toSeq.flatMap {
      case "all" => SparkEntry.queries.keys.toSeq.sorted
      case name => Seq(name)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(dir)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(dir.resolve(s"${name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote plans/$tag/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
