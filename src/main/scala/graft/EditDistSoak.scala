package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** One-off scale probe for the PassJoin edit-distance dedup
  * ([[graft.ext.Dedup.editDistancePairsBlocked]]): 1M 40-char strings
  * (random hex — base-corpus pairs are all far apart) with 100k PLANTED
  * near-duplicates: 50k single-substitution copies and 50k
  * single-insertion copies (the insertion shifts every following
  * character, exercising the ±k probe window, not just same-offset
  * matching). The method is exact, so planted recall must be 100%.
  * Records wall time, pair counts, and planted recall. Run by [[Soak]]
  * as `editdist_soak_1m`. */
object EditDistSoak {
  def run(spark: SparkSession): String = {
    val n = 1000000L
    // 40 hex chars, deterministic per id: two md5 halves → far apart
    // for ANY two distinct ids (an accidental ed≤2 pair needs ≥38
    // matching positions of 40)
    def baseStr(id: Column): Column =
      substring(concat(md5(id.cast("string")),
        md5((id + 1000003L).cast("string"))), 1, 40)
    // deterministic in-bounds edit position 1..37
    val p = (col("id") % 37L + 1L).cast("int")
    val src = baseStr(col("id") - 1L) // planted rows copy id−1's string
    val sub = concat(substring(src, lit(1), p - 1), lit("z"),
      substring(src, p + 1, lit(40)))
    val ins = concat(substring(src, lit(1), p - 1), lit("z"),
      substring(src, p, lit(41)))
    val rows = spark.range(n).select(col("id"),
      when(col("id") % 20L === 0L && col("id") > 0L, sub)
        .when(col("id") % 20L === 10L, ins)
        .otherwise(baseStr(col("id"))).as("t"))

    import Soak.time
    val (sec, pairs) = time {
      graft.ext.Dedup.editDistancePairsBlocked(rows, "id", "t", maxDist = 2)
        .localCheckpoint(true)
    }
    val nPairs = pairs.count()
    // planted pairs are (id−1, id) with id%20 ∈ {0, 10}, dist 1
    val planted = pairs.filter(col("id_b") - col("id_a") === 1L &&
      (col("id_b") % 20L === 0L || col("id_b") % 20L === 10L) &&
      col("dist") === 1L).count()
    val expected = (n / 20L - 1L) + n / 20L // id=0 can't copy id=−1
    org.apache.spark.sql.GraftShims.releaseCheckpoint(pairs)

    // ——— Persisted fuzzy-index LIFECYCLE at the same scale: build the
    // artifact over the 1M corpus, append 100k rows + incremental sync,
    // then serve a single lookup (bucket-pruned constant work) and a
    // 1k-query batch join (artifact frames + persisted guard counts,
    // per-call cost scales with the query side). The evidence that the
    // serving tier — not just the pair operator — holds at soak scale. ———
    val root = java.nio.file.Files
      .createTempDirectory("graft-edsoak").toString
    val e = new graft.api.Engine(spark, root)
    e.makeTable("soakdocs", rows)
    val (buildSec, _) = time {
      e.buildFuzzyIndex("soakdocs", "id", "t", maxDist = 2, buckets = 256)
    }
    val extra = spark.range(n, n + 100000L).select(col("id"),
      baseStr(col("id")).as("t"))
    extra.write.mode("append").parquet(e.store.tablePath("soakdocs"))
    val (syncSec, synced) = time { e.syncFuzzyIndex("soakdocs", "t") }
    // lookup: a planted near-dup's text, one edit from row 199's string
    val probe = rows.filter(col("id") === 200L)
      .select("t").head().getString(0)
    val (lookupSec, lookupRows) = time {
      e.fuzzyLookup("soakdocs", "t", probe).count()
    }
    val queries = spark.range(1000L).select((col("id") * 997L).as("qid"),
      baseStr(col("id") * 997L).as("qt")) // 1k exact corpus strings
    val (joinSec, joinRows) = time {
      e.fuzzyJoin("soakdocs", "t", queries, "qid", "qt").count()
    }
    e.remove()

    f"""{"n_strings":$n,"str_len":40,"max_dist":2,"pairs_sec":$sec%.1f,"n_pairs":$nPairs,"planted_expected":$expected,"planted_found":$planted,"planted_recall":${planted.toDouble / expected}%.4f,"index_build_sec":$buildSec%.1f,"sync_100k_sec":$syncSec%.1f,"sync_rows":$synced,"lookup_sec":$lookupSec%.2f,"lookup_rows":$lookupRows,"join_1k_sec":$joinSec%.1f,"join_rows":$joinRows}"""
  }
}
