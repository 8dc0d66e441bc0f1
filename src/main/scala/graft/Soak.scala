package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The one runner for the standalone scale soaks — workloads too large
  * to run per bench, whose one-line JSON artifacts [[Bench]] folds into
  * bench_summary.json instead.
  *
  * Each soak is a body `SparkSession => String` returning its one-line
  * JSON; the frame owns everything around it: ONE session
  * ([[BenchSession]]), the machine canary before AND after the body
  * ([[MachineCanary.splice]]), the normalized delta against the
  * artifact it overwrites, and the write to `<name>.json` (cwd). The
  * name is both the artifact's file stem and its key in
  * bench_summary.json.
  *
  * Usage: sbt "runMain graft.Soak asof_soak_1m graph_soak_1m"
  * With no names it prints the canary alone — run it a few times on a
  * new builder box and record the midpoint as
  * [[MachineCanary.ReferenceSec]]. */
object Soak {
  /** (name, body) in bench_summary.json key order. */
  val soaks: Seq[(String, SparkSession => String)] = Seq(
    "soak_10m" -> (spark => Soak10M.run(spark)),
    "dedup_soak_1m" -> (spark => DedupSoak1M.run(spark)),
    "graph_soak_1m" -> (spark => GraphSoak.run(spark)),
    "asof_soak_1m" -> (spark => AsofSoak.run(spark)),
    "editdist_soak_1m" -> (spark => EditDistSoak.run(spark)),
    "jw_soak_1m" -> (spark => JwSoak.run(spark)),
    // 1M vectors: GRAFT_CURVE_VECTORS=1000000 (the in-bench default is 250k)
    "curve_soak_1m" -> (spark => CurveBench.soak(spark)),
    "fuzzy_soak_10m" -> (spark => FuzzySoak10M.run(spark)))

  def names: Seq[String] = soaks.map(_._1)

  /** (seconds, result) of one evaluation — the soak bodies' timer. */
  private[graft] def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime(); val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  def main(args: Array[String]): Unit = {
    val bodies = soaks.toMap
    val unknown = args.filterNot(bodies.contains)
    require(unknown.isEmpty, s"unknown soak(s): ${unknown.mkString(", ")} " +
      s"(known: ${names.mkString(", ")})")
    val spark = BenchSession.create()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.GraftShims.quietCheckpointLogs()
    try {
      if (args.isEmpty) {
        val sec = MachineCanary.measureSec(spark)
        println(f"[canary] measured=$sec%.3f " +
          f"(reference=${MachineCanary.ReferenceSec}%.3f)")
      }
      args.foreach { name =>
        val pre = MachineCanary.measureSec(spark) / MachineCanary.ReferenceSec
        val json = bodies(name)(spark)
        val sec = MachineCanary.measureSec(spark)
        val path = Paths.get(s"$name.json")
        val prior = if (Files.exists(path)) Files.readString(path).trim else ""
        val line = MachineCanary.splice(json, sec,
          sec / MachineCanary.ReferenceSec, pre, prior)
        Files.writeString(path, line + "\n")
        println(s"[soak] $name: $line")
      }
    } finally spark.stop()
  }
}
