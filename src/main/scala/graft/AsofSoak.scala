package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off skew probe for the bucketed as-of join: 1M right rows + 200k
  * left probes where ONE key holds 90% of all rows (the pathological
  * hot-instrument shape that serializes the plain per-key ASOF window
  * into a single task). Records wall time for both variants plus an
  * exact row-by-row equality count. Run by [[Soak]] as `asof_soak_1m`. */
object AsofSoak {
  def run(spark: SparkSession): String = {
    val nRight = 1000000L
    val nLeft = 200000L
    val horizon = 50000000L // ~578 days of seconds
    // 90% of rows on key 0; ts = deterministic mix, unique per row id
    // (coprime stride), so the per-(key, ts) tie precondition holds
    val right = spark.range(nRight).select(
      when(col("id") % 10 =!= 0, lit(0L))
        .otherwise(col("id") % 97 + 1).as("k"),
      ((col("id") * 49999991L) % horizon).as("rts"),
      (col("id") % 1000).cast("double").as("v"))
    val left = spark.range(nLeft).select(
      col("id").as("eid"),
      when(col("id") % 10 =!= 0, lit(0L))
        .otherwise(col("id") % 97 + 1).as("k"),
      ((col("id") * 31415927L + 17L) % horizon).as("ts"))

    import Soak.time
    // force the carried column: a bare count() lets Catalyst prune the
    // window away entirely (the filter only needs the origin tag), which
    // would time the scan instead of the asof
    def consume(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(count(col("v")).as("n")).head().getLong(0)
    val (sPlain, plainCnt) = time {
      consume(graft.ext.Temporal.asofJoin(left, right, "k", "ts", "rts", Seq("v")))
    }
    // day buckets: the hot key spreads over horizon/86400 ≈ 578 tasks
    val (sBucketed, _) = time {
      consume(graft.ext.Temporal.asofJoinBucketed(left, right, "k", "ts", "rts",
        Seq("v"), bucketSecs = 86400L))
    }
    // exact equality of the two variants on the full hot-key workload
    val a = graft.ext.Temporal.asofJoin(left, right, "k", "ts", "rts", Seq("v"))
      .select(col("eid"), col("v"))
    val b = graft.ext.Temporal.asofJoinBucketed(left, right, "k", "ts", "rts",
        Seq("v"), bucketSecs = 86400L)
      .select(col("eid"), col("v").as("vb"))
    val matches = a.join(b, Seq("eid"))
      .filter(col("v") <=> col("vb")).count()

    // 10M tier: the plain variant's hot key is ONE ~9M-row window task;
    // the bucketed variant spreads it over ~578 day buckets
    val right10 = spark.range(10000000L).select(
      when(col("id") % 10 =!= 0, lit(0L))
        .otherwise(col("id") % 97 + 1).as("k"),
      ((col("id") * 49999991L) % horizon).as("rts"),
      (col("id") % 1000).cast("double").as("v"))
    val left10 = spark.range(2000000L).select(
      col("id").as("eid"),
      when(col("id") % 10 =!= 0, lit(0L))
        .otherwise(col("id") % 97 + 1).as("k"),
      ((col("id") * 31415927L + 17L) % horizon).as("ts"))
    val (sPlain10, _) = time {
      consume(graft.ext.Temporal.asofJoin(left10, right10, "k", "ts", "rts",
        Seq("v")))
    }
    val (sBucketed10, _) = time {
      consume(graft.ext.Temporal.asofJoinBucketed(left10, right10, "k", "ts",
        "rts", Seq("v"), bucketSecs = 86400L))
    }

    f"""{"n_right":$nRight,"n_left":$nLeft,"hot_key_share":0.9,"plain_sec":$sPlain%.1f,"bucketed_sec":$sBucketed%.1f,"rows_with_match":$plainCnt,"bucketed_matches_plain":$matches,"plain_sec_10m":$sPlain10%.1f,"bucketed_sec_10m":$sBucketed10%.1f}"""
  }
}
