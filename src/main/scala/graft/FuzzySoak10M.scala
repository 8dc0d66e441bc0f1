package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** One-off TEXT-index serving soak at the SAME scale tier as the
  * vector tiers in [[Soak10M]]: the persisted fuzzy (edit-distance)
  * artifact's full lifecycle over a 10M-string corpus — build, +1M
  * append + incremental sync, a single bucket-pruned lookup, and a
  * 1k-query batch join whose queries are PLANTED one-edit copies of
  * known corpus strings, so join recall has an exact expected answer
  * (the method is exact: recall must be 1.0, and any accidental extra
  * match would need ≥38 of 40 hex chars to agree — ~impossible).
  * Records wall times + recall (the [[JwSoak]]/[[EditDistSoak]]
  * pattern). The 1M evidence lives in editdist_soak_1m.json; this
  * pins the 10× tier.
  * Run: SPARK_DRIVER_MEM=48g sbt "runMain graft.Soak fuzzy_soak_10m". */
object FuzzySoak10M {
  def run(spark: SparkSession): String = {
    val n = 10000000L
    // 40 hex chars, deterministic per id — any two distinct ids' strings
    // are far apart (an accidental ed≤2 pair needs ≥38 matching
    // positions of 40), so the only sub-threshold neighbors are planted
    def baseStr(id: Column): Column =
      substring(concat(md5(id.cast("string")),
        md5((id + 1000003L).cast("string"))), 1, 40)
    val rows = spark.range(n).select(col("id"), baseStr(col("id")).as("t"))

    import Soak.time

    val root = java.nio.file.Files
      .createTempDirectory("graft-fzsoak").toString
    val e = new graft.api.Engine(spark, root)
    e.makeTable("fzdocs", rows)
    val (buildSec, _) = time {
      e.buildFuzzyIndex("fzdocs", "id", "t", maxDist = 2, buckets = 512)
    }
    // +10% append, incremental sync (the delta path, not a rebuild)
    val extra = spark.range(n, n + n / 10).select(col("id"),
      baseStr(col("id")).as("t"))
    extra.write.mode("append").parquet(e.store.tablePath("fzdocs"))
    val (syncSec, synced) = time { e.syncFuzzyIndex("fzdocs", "t") }

    // single lookup: one-substitution copy of row 424243's string —
    // bucket-pruned constant work regardless of corpus size. Cold AND
    // warm: the first call pays JIT/codegen/FileStatusCache once per
    // JVM; warm is the serving steady state (round-19 probe: the
    // pre-fix 3.2s warm constant was ~85% partition discovery, now
    // pruned to explicit hit-bucket leaf paths)
    val src = rows.filter(col("id") === 424243L).head().getString(1)
    val probe = src.substring(0, 7) + "z" + src.substring(8)
    val (lookupSec, lookupRows) = time {
      e.fuzzyLookup("fzdocs", "t", probe).count()
    }
    val (lookupWarmSec, _) = time {
      e.fuzzyLookup("fzdocs", "t", probe).count()
    }

    // 1k-query batch join, every query a planted one-edit copy of a
    // known corpus string (source id qid·9973): recall is exact
    val p = (col("id") % 37L + 1L).cast("int") // edit position 1..37
    val srcT = baseStr(col("id") * 9973L)
    val queries = spark.range(1000L).select(col("id").as("qid"),
      concat(substring(srcT, lit(1), p - 1), lit("z"),
        substring(srcT, p + 1, lit(40))).as("qt"))
    val (joinSec, joined) = time {
      e.fuzzyJoin("fzdocs", "t", queries, "qid", "qt")
        .localCheckpoint(true)
    }
    val joinRows = joined.count()
    // second identical join: steady-state serving (plan/codegen warm)
    val (joinWarmSec, joined2) = time {
      e.fuzzyJoin("fzdocs", "t", queries, "qid", "qt")
        .localCheckpoint(true)
    }
    org.apache.spark.sql.GraftShims.releaseCheckpoint(joined2)
    // recall: each qid must match its own source id (dist 1)
    val found = joined.filter(col("id_b") === col("id_a") * 9973L &&
      col("dist") === 1L).count()
    org.apache.spark.sql.GraftShims.releaseCheckpoint(joined)
    e.remove()

    f"""{"n_strings":$n,"str_len":40,"max_dist":2,"buckets":512,"index_build_sec":$buildSec%.1f,"sync_rows":$synced,"sync_sec":$syncSec%.1f,"lookup_sec":$lookupSec%.2f,"lookup_warm_sec":$lookupWarmSec%.2f,"lookup_rows":$lookupRows,"join_1k_sec":$joinSec%.1f,"join_1k_warm_sec":$joinWarmSec%.1f,"join_rows":$joinRows,"join_expected":1000,"join_found":$found,"join_recall":${found / 1000.0}%.4f}"""
  }
}
