package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its raw record (operations, checks,
  * facts, spans, Spark counts) as JSON to `--out`; `run.py` turns the
  * record into metrics.
  *
  * {{{
  * graftbench.Main --workload serve --seed 1 --seconds 8 --trace 0
  *   --out results.json --work scratch-dir [--fault none|wrong|timeout]
  * }}}
  */
object Main {
  val Workloads: Map[String, Run => Unit] = Map(
    "serve" -> Serve.run,
    "dedup_graph" -> DedupGraph.run)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("out"), need("work"), m.getOrElse("fault", "none"))
    require(Workloads.contains(a.workload),
      s"unknown workload '${a.workload}' (${Workloads.keys.toSeq.sorted.mkString(", ")})")
    require(Set("none", "wrong", "timeout").contains(a.fault), s"unknown fault '${a.fault}'")
    require(a.seconds > 0, "seconds > 0")
    a
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"graftbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionSecs = (System.nanoTime() - t0) / 1e9
    try {
      val run = new Run(args, spark, new Tracer(spark, args.trace))
      Workloads(args.workload)(run)
      val env = Map(
        "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
        "trace" -> args.trace, "fault" -> args.fault,
        "nproc" -> nproc, "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "session_s" -> sessionSecs)
      val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
      mapper.writeValue(new java.io.File(args.out), run.report() + ("env" -> env))
    } finally spark.stop()
  }
}
