package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe for blocked Jaro-Winkler in its TARGET regime — the one
  * the operator's scaladoc claims it wins: short names over a large,
  * skewed (Zipfian) alphabet, the record-linkage shape of CJK person/
  * organization registries. This is the regime character-granularity
  * prefix blocking is selective in, because each record's rarest-first
  * prefix lands in the alphabet's long TAIL: candidate volume is
  * Θ(Σ_e c_e²), and with prefix length p the even-spread floor is
  * ≈ (p·n)²/E over E effective tail elements — blocking beats the n²/2
  * exact loop iff E ≫ 2p² (a 26-letter corpus has E ~ 10², hence the
  * round-15 refusal on prose; a 4000-char alphabet has room for 10³-10⁴).
  *
  * Fixture: 1M org-style names — 2 region chars (Zipf over 200), 4-6
  * body chars (Zipf(0.8) over 4000), 2 suffix chars (10 very common
  * "corp/ltd"-like markers). Rarest-first ordering must push the
  * boilerplate suffix OUT of every prefix. 100k planted near-dups
  * (single substitution past the Winkler prefix of the previous row's
  * name, jw ≥ 0.955 at the shortest length) must come back at recall
  * 1.0 — blocking is sound, so anything less is a bug, not a tuning
  * knob. Also pins blocked == exact on a 40k sampled slice (the exact
  * broadcast loop is feasible there: 8·10⁸ pairs) and records the
  * measured candidate volume against n²/2.
  *
  * Run by [[Soak]] as `jw_soak_1m`. */
object JwSoak {
  private val MinSim = 0.94

  // deterministic Zipf sampler: cumulative table + per-id RNG
  private final class Zipf(offset: Int, size: Int, exponent: Double)
      extends Serializable {
    private val cum: Array[Double] = {
      val w = Array.tabulate(size)(r => math.pow(r + 1.0, -exponent))
      val s = w.sum
      val c = new Array[Double](size)
      var acc = 0.0
      var i = 0
      while (i < size) { acc += w(i) / s; c(i) = acc; i += 1 }
      c(size - 1) = 1.0
      c
    }
    def sample(u: Double): Char = {
      var lo = 0; var hi = cum.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cum(mid) < u) lo = mid + 1 else hi = mid
      }
      (0x4E00 + offset + lo).toChar
    }
  }

  private val region = new Zipf(0, 200, 1.0)
  private val body = new Zipf(200, 4000, 0.8)
  private val suffix = new Zipf(4200, 10, 0.0)

  /** The base name of one id — deterministic (seeded by the id). */
  private def gen(id: Long): String = {
    val rnd = new java.util.Random(id * 0x9E3779B97F4A7C15L + 11L)
    val k = 4 + (id % 3L).toInt // 4-6 body chars -> lengths 8-10
    val sb = new java.lang.StringBuilder(k + 4)
    sb.append(region.sample(rnd.nextDouble()))
    sb.append(region.sample(rnd.nextDouble()))
    var i = 0
    while (i < k) { sb.append(body.sample(rnd.nextDouble())); i += 1 }
    sb.append(suffix.sample(rnd.nextDouble()))
    sb.append(suffix.sample(rnd.nextDouble()))
    sb.toString
  }

  /** One substitution at position 5 (0-based; past the 4-char Winkler
    * prefix, so the boost survives): jw ≥ 0.6·J + 0.4 ≥ 0.955 at the
    * shortest length 8 — safely above [[MinSim]]. */
  private def mutate(s: String, id: Long): String = {
    val rnd = new java.util.Random(id * 0x9E3779B97F4A7C15L + 77L)
    val repl = body.sample(rnd.nextDouble())
    val c = if (repl == s.charAt(5)) (repl + 1).toChar else repl
    s.substring(0, 5) + c + s.substring(6)
  }

  def run(spark: SparkSession): String = {
    val n = 1000000L
    import spark.implicits._

    val nameUdf = udf { (id: Long) =>
      if (id % 10L == 7L && id > 0L) mutate(gen(id - 1L), id) else gen(id)
    }
    val rows = spark.range(n).select(col("id"), nameUdf(col("id")).as("t"))
      .localCheckpoint(true) // generation runs once, not per downstream pass

    import Soak.time
    // the regime measurement the verdict asked for: candidate volume
    // vs the n²/2 bound, from the guard's own estimator
    val (estSec, volume) = time {
      graft.ext.Dedup.jaroWinklerCandidateVolume(rows, "id", "t", MinSim)
    }
    val quadratic = n.toDouble * (n - 1).toDouble / 2.0

    val (blockedSec, pairs) = time {
      graft.ext.Dedup.jaroWinklerPairsBlocked(rows, "id", "t", MinSim,
        maxCandidates = math.max(volume * 1.2, 1e8).toLong)
    }
    val nPairs = pairs.count()
    // planted pairs are (id−1, id) with id%10 == 7. Ground truth is
    // their DIRECTLY EVALUATED jw (one linear self-join on id): a
    // substitution past the Winkler prefix usually lands ≥ 0.95, but
    // on a Zipfian alphabet repeated characters near the edit can
    // force a transposition-heavy greedy matching (m+1 matches, t
    // up to 3) that dips BELOW the threshold for ~0.3% of plants —
    // so the honest recall denominator is the evaluated truth, and
    // against it the sound blocking owes exactly 1.0.
    val mut = rows.filter(col("id") % 10L === 7L && col("id") > 0L)
      .select((col("id") - 1L).as("id_a"), col("id").as("id_b"),
        col("t").as("__tb"))
    val src = rows.select(col("id").as("id_a"), col("t").as("__ta"))
    val expected = mut.join(src, Seq("id_a"))
      .filter(graft.functions.functions
        .jaro_winkler(col("__ta"), col("__tb")) >= MinSim)
      .count()
    val planted = pairs.filter(col("id_b") - col("id_a") === 1L &&
      col("id_b") % 10L === 7L).count()

    // blocked == exact parity on a sampled slice where the exact
    // broadcast nested loop is feasible
    val parityN = math.min(n, 40000L)
    val slice = rows.filter(col("id") < parityN).localCheckpoint(true)
    val (exactSec, exact) = time {
      graft.ext.Dedup.jaroWinklerPairsExact(slice, "id", "t", MinSim,
          maxRows = parityN)
        .localCheckpoint(true)
    }
    val (blockedSliceSec, blockedSlice) = time {
      graft.ext.Dedup.jaroWinklerPairsBlocked(slice, "id", "t", MinSim,
        maxCandidates = math.max(volume * 1.2, 1e8).toLong)
    }
    val exactSet = exact.select("id_a", "id_b").as[(Long, Long)]
      .collect().toSet
    val blockedSet = blockedSlice.select("id_a", "id_b").as[(Long, Long)]
      .collect().toSet
    val parityEqual = exactSet == blockedSet

    // ——— The LOSING direction of the crossover rule, measured in the
    // same artifact: realistic mixed-case Latin names with digits and
    // punctuation offer only E ~ 10² effective tail symbols, so with
    // prefix length p ≈ 3 the candidate floor ≈ (p·n)²/E lands at or
    // above n²/2 — blocking must NOT be used there and the default
    // guard refuses. The volume RATIO is n-independent (both sides
    // scale n²), so a 200k estimate pins the regime at any scale. ———
    val latinUdf = udf { (id: Long) =>
      val rnd = new java.util.Random(id * 0x9E3779B97F4A7C15L + 5L)
      val lower = "etaoinshrdlcumwfgypbvkjxqz" // frequency-ordered
      def zc(): Char = { // Zipf-ish pick over the 26 letters
        val u = rnd.nextDouble()
        lower.charAt(math.min(25, (u * u * 26).toInt))
      }
      val first = (0 until 5 + rnd.nextInt(3)).map(_ => zc()).mkString
      val last = (0 until 6 + rnd.nextInt(3)).map(_ => zc()).mkString
      s"${first.capitalize} ${last.capitalize}-${1900 + rnd.nextInt(100)}"
    }
    val nLatin = math.min(n, 200000L)
    val latinRows = spark.range(nLatin)
      .select(col("id"), latinUdf(col("id")).as("t"))
      .localCheckpoint(true)
    val (latinEstSec, latinVolume) = time {
      graft.ext.Dedup.jaroWinklerCandidateVolume(latinRows, "id", "t",
        MinSim)
    }
    val latinQuad = nLatin.toDouble * (nLatin - 1).toDouble / 2.0
    val latinRatio = latinVolume / latinQuad

    // a tiny-n run can legitimately plant zero evaluable pairs;
    // 0/0 would format NaN into the JSON and break the Bench soak fold
    val plantedRecall = if (expected == 0L) 1.0
      else planted.toDouble / expected
    f"""{"n":$n,"min_sim":$MinSim,"alphabet":4210,"name_len":"8-10","estimate_sec":$estSec%.1f,"candidate_volume":$volume%.4g,"n2_over_2":$quadratic%.4g,"volume_ratio":${volume / quadratic}%.6f,"blocked_sec":$blockedSec%.1f,"n_pairs":$nPairs,"planted_expected":$expected,"planted_found":$planted,"planted_recall":$plantedRecall%.4f,"parity_rows":$parityN,"parity_equal":$parityEqual,"exact_slice_sec":$exactSec%.1f,"blocked_slice_sec":$blockedSliceSec%.1f,"latin_n":$nLatin,"latin_estimate_sec":$latinEstSec%.1f,"latin_candidate_volume":$latinVolume%.4g,"latin_volume_ratio":$latinRatio%.4f}"""
  }
}
