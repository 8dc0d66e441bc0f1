package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Machine-speed probe for the SOAK artifacts — the bench's
  * [[RegressionGate]] canary derives machine speed from the suite's own
  * baseline medians, but a standalone soak has no baseline map to
  * median over, and its numbers drifted 10-40% across rounds purely
  * with machine state. This probe runs a FIXED synthetic workload
  * (4.3G `xxhash64` + map-side partial sum over exactly 32 input
  * partitions — CPU/memory-bandwidth bound, no shuffle, so the number
  * does not depend on the session's shuffle-partition setting) and
  * reports both the raw seconds and the factor vs [[ReferenceSec]],
  * the builder box that recorded the current soak baselines. A
  * cross-round soak comparison divides the wall times by the factor
  * the same way the bench gate normalizes by its canary. */
object MachineCanary {

  /** [[measureSec]] on the round-19 builder box (best-of-3 observed
    * 0.75-0.90 across repeated JVMs; midpoint recorded). */
  val ReferenceSec: Double = 0.82

  def measureSec(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      // fixed 32 input partitions: comparable numbers from any session
      // config (core count, shuffle partitions and default parallelism
      // all vary)
      // double sum: a long sum of the hashes overflows under ANSI mode
      spark.range(0L, 1L << 32, 1L, 32)
        .select(sum(xxhash64(col("id")).cast("double"))).head()
      (System.nanoTime() - t0) / 1e9
    }
    (1 to 3).map(_ => once()).min
  }

  /** Pure assembly of a soak's canary-annotated artifact line (testable
    * without a session): the [[Soak]] frame probes the machine before
    * the body (`pre`, a factor) and after it (`sec`/`factor`), because
    * one end-of-run probe cannot represent a host that oscillates WITHIN
    * a long soak (observed 0.8↔2.4 swings inside 15 minutes on the
    * round-20 builder) — a pre/post pair that disagrees says "do not
    * trust this run's normalized_delta" (the normalization assumes ONE
    * machine speed across the run). When `prior` is the PRIOR run's
    * artifact (the file this run is about to overwrite), a
    * `normalized_delta` object is spliced in too: per-key
    * canary-normalized current/prior ratios for every shared `*_sec`
    * field plus their median — the soak twin of the bench gate's
    * canary-normalized comparison, so cross-round soak deltas are
    * machine-corrected in the artifact itself instead of eyeballed from
    * raw wall times. */
  private[graft] def splice(json: String, sec: Double, factor: Double,
      pre: Double, prior: String): String = {
    require(json.endsWith("}"), s"not a one-line JSON object: $json")
    val delta = if (prior.isEmpty) "" else deltaFragment(json, prior, factor)
    json.stripSuffix("}") +
      f""","canary_sec":$sec%.3f,"canary_factor":$factor%.3f""" +
      f""","canary_factor_pre":$pre%.3f""" + delta + "}"
  }

  /** [[Soak10M]]'s wall-time keys predate the `*_sec` suffix
    * convention and are pinned by cross-round history in
    * bench_summary.json, so the delta matcher names them explicitly
    * instead of renaming the artifact fields. */
  private[graft] val UnsuffixedTimingKeys: Set[String] = Set(
    "ingest", "coder_train", "index_build", "sq_index_build",
    "pq_index_build", "knn_l2_brute", "search_probed_16",
    "search_ivf_pq", "search_sq", "knn_join_sq_8q",
    "sync_append_ivf", "sync_append_sq", "sync_append_pq")

  /** Pure core of the soak delta (testable without a session): for
    * every positive numeric `*_sec` field shared by the current and
    * prior artifacts (the probe's own `canary_sec` excluded, the
    * unsuffixed [[Soak10M]] wall-time keys included),
    * `(cur / curFactor) / (prior / priorFactor)` — machine drift
    * normalizes away, real regressions survive. Returns the leading
    * `,"normalized_delta":…` fragment, or "" when the prior artifact
    * is unparsable, carries no positive `canary_factor`, or shares no
    * timing keys. */
  private[graft] def deltaFragment(curJson: String, priorJson: String,
      curFactor: Double): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed =
      try Some((mapper.readTree(curJson), mapper.readTree(priorJson)))
      catch { case _: Exception => None }
    parsed.fold("") { case (cur, prior) =>
      val pf = Option(prior.get("canary_factor"))
        .filter(_.isNumber).map(_.asDouble()).filter(_ > 0.0)
      pf.fold("") { priorFactor =>
        val it = cur.fieldNames()
        val deltas = scala.collection.mutable.ListBuffer.empty[(String, Double)]
        while (it.hasNext) {
          val k = it.next()
          if ((k.endsWith("_sec") || UnsuffixedTimingKeys(k)) &&
              k != "canary_sec") {
            val c = cur.get(k); val p = prior.get(k)
            if (c != null && p != null && c.isNumber && p.isNumber &&
                c.asDouble() > 0.0 && p.asDouble() > 0.0)
              deltas += k ->
                ((c.asDouble() / curFactor) / (p.asDouble() / priorFactor))
          }
        }
        if (deltas.isEmpty) ""
        else {
          val sorted = deltas.map(_._2).sorted
          val n = sorted.size
          val median =
            if (n % 2 == 1) sorted(n / 2)
            else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
          deltas.map { case (k, v) => f""""$k":$v%.3f""" }
            .mkString(""","normalized_delta":{""", ",",
              f"""},"normalized_median_delta":$median%.3f""")
        }
      }
    }
  }
}
