package graft

import org.apache.spark.sql.SparkSession

/** THE session config for every runnable main — [[Bench]], [[Verify]],
  * [[QueryBench]], [[PlanDump]], [[Soak]] and [[server.Serve]] — so
  * bench numbers, plan artifacts, soak artifacts and the served engine
  * all run under one config and can never drift apart. One builder, one
  * source of truth:
  *
  *  - `local[$SPARK_GRAFT_CPUS]` — the driver VARIES the core count to
  *    measure scaling, so the master is never hard-coded; unset, it is
  *    the JVM's available processors (the machine's own size, not a
  *    guess at a bigger box);
  *  - `spark.sql.shuffle.partitions = cpus` — scale-adaptive with the
  *    session size (AQE coalescing handles the rest), not a constant
  *    tuned for either local mode or a cluster;
  *  - everything else at Spark defaults (AQE on), so the bench measures
  *    the code, not a config tune. */
object BenchSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def create(): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      .getOrCreate()
}
