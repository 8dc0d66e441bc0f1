package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[RegressionGate]] spec'd with synthetic runs — the r16/r17 failure
  * mode (a uniformly slower driver machine grazing the absolute 2×
  * gate on untouched queries) replayed without running a bench. */
class RegressionGateSpec extends AnyFunSuite {

  /** 40 synthetic baseline entries spanning 0.05s..8s — a mix of
    * sub-gate jitter entries and solid multi-second queries, like the
    * real per-query ledger. */
  private val base: Map[String, Double] =
    (1 to 40).map(i => s"q$i" -> (0.05 * i)).toMap

  private def scaled(f: Double): Map[String, Double] =
    base.view.mapValues(_ * f).toMap

  test("uniformly 1.4x slower machine: canary ~1.4, zero regressions") {
    val cur = scaled(1.4)
    val c = RegressionGate.canary(cur, base)
    assert(math.abs(c - 1.4) < 1e-9)
    val regs = base.keys.filter(k =>
      RegressionGate.isRegression(cur(k), base(k), c))
    assert(regs.isEmpty)
    // …but the absolute gate would have fired on nothing either at
    // 1.4× (needs >2×); at 2.2× uniform it fires on every solid entry
    val cur22 = scaled(2.2)
    val c22 = RegressionGate.canary(cur22, base)
    assert(math.abs(c22 - 2.2) < 1e-9)
    assert(base.keys.forall(k =>
      !RegressionGate.isRegression(cur22(k), base(k), c22)))
    val absOver = base.keys.count(k =>
      RegressionGate.isAbsoluteOver(cur22(k), base(k)))
    assert(absOver > 0) // the warning channel still sees it
  }

  test("genuine 3x regression on a slowed machine still flags") {
    val cur = scaled(1.4) + ("q30" -> base("q30") * 1.4 * 3.0)
    val c = RegressionGate.canary(cur, base)
    // one outlier among 40 entries barely moves the median
    assert(c < 1.5)
    assert(RegressionGate.isRegression(cur("q30"), base("q30"), c))
    assert((base.keySet - "q30").forall(k =>
      !RegressionGate.isRegression(cur(k), base(k), c)))
  }

  test("faster machine tightens the gate: a code-caused 1.8x on a 0.7x box flags") {
    // machine runs 0.7× baseline speed… er, 0.7× the TIME — faster.
    // q20 (1.0s baseline) regressed 2.6× in code → 0.7·2.6 = 1.82×
    // observed: under the absolute gate it hides; the canary catches it.
    val cur = scaled(0.7) + ("q20" -> base("q20") * 0.7 * 2.6)
    val c = RegressionGate.canary(cur, base)
    assert(math.abs(c - 0.7) < 1e-9)
    assert(!RegressionGate.isAbsoluteOver(cur("q20"), base("q20")))
    assert(RegressionGate.isRegression(cur("q20"), base("q20"), c))
  }

  test("canary falls back to 1.0 with too few solid entries") {
    val tiny = Map("a" -> 1.0, "b" -> 2.0) // < MinEntries qualifying
    assert(RegressionGate.canary(tiny.view.mapValues(_ * 1.5).toMap,
      tiny) === 1.0)
    assert(RegressionGate.canary(Map.empty, Map.empty) === 1.0)
  }

  test("canary ignores sub-0.25s baseline entries and missing currents") {
    // 10 jittery tiny entries at 5x + 9 solid entries at 1.1x: the
    // canary must track the solid set
    val b = (1 to 10).map(i => s"t$i" -> 0.05).toMap ++
      (1 to 10).map(i => s"s$i" -> (1.0 + i)).toMap
    val cur = b.map { case (k, v) =>
      k -> (if (k.startsWith("t")) v * 5 else v * 1.1) }
    val c = RegressionGate.canary(cur, b)
    assert(math.abs(c - 1.1) < 1e-9)
    // entries absent from current (pruned/errored) don't blow up
    val c2 = RegressionGate.canary(cur - "s1" - "s2", b)
    assert(math.abs(c2 - 1.1) < 1e-9)
  }

  test("canary clamps to [0.5, 3.0]") {
    assert(RegressionGate.canary(scaled(5.0), base) === 3.0)
    assert(RegressionGate.canary(scaled(0.1), base) === 0.5)
  }

  test("sub-quarter-second absolute deltas never flag (either gate)") {
    assert(!RegressionGate.isRegression(0.3, 0.1, 1.0)) // 3x but +0.2s
    assert(!RegressionGate.isAbsoluteOver(0.3, 0.1))
    assert(RegressionGate.isRegression(0.9, 0.1, 1.0)) // 9x and +0.8s
  }

  test("a 0.000 baseline gates nothing (would be factor = Infinity)") {
    // a sub-millisecond query rounded to 0.000 by the baseline writer:
    // every cur > MinSec used to flag, with Infinity in the JSON
    assert(!RegressionGate.isRegression(5.0, 0.0, 1.0))
    assert(!RegressionGate.isAbsoluteOver(5.0, 0.0))
    assert(!RegressionGate.isRegression(5.0, -1.0, 1.0))
  }

  test("canary alert threshold sits between observed-clean and the clamp") {
    // observed clean-environment canaries to date: 1.0-1.41; the median
    // normalization stays trusted up to the 3.0 clamp — the alert line
    // must separate the two regimes
    assert(RegressionGate.CanaryAlertHi > 1.41)
    assert(RegressionGate.CanaryAlertHi < RegressionGate.CanaryHi)
  }

  test("soak normalized delta: machine drift divides out, regressions survive") {
    // prior recorded on a 1.0× box; current run on a 2.0× (slower) box.
    // build_sec doubled purely with the box → delta 1.0; lookup_sec
    // went 6× wall → genuinely 3× after normalization. Non-_sec and
    // canary_sec fields never enter the delta.
    val prior = """{"build_sec":100.0,"lookup_sec":2.0,"join_recall":1.0,""" +
      """"canary_sec":0.82,"canary_factor":1.0}"""
    val cur = """{"build_sec":200.0,"lookup_sec":12.0,"join_recall":0.5,""" +
      """"canary_sec":1.64}"""
    val frag = MachineCanary.deltaFragment(cur, prior, 2.0)
    assert(frag.contains(""""build_sec":1.000"""), frag)
    assert(frag.contains(""""lookup_sec":3.000"""), frag)
    assert(frag.contains(""""normalized_median_delta":2.000"""), frag)
    assert(!frag.contains("join_recall") && !frag.contains("canary_sec"), frag)
    // unparsable prior / missing canary_factor → no fragment (first
    // run of a fresh artifact stays a plain canary line)
    assert(MachineCanary.deltaFragment(cur, "not json", 2.0) == "")
    assert(MachineCanary.deltaFragment(cur,
      """{"build_sec":100.0}""", 2.0) == "")
    // the fragment splices into a VALID one-line JSON object
    val line = cur.stripSuffix("}") +
      ""","canary_factor":2.0""" + frag + "}"
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line)
    assert(node.get("normalized_delta").get("lookup_sec").asDouble() == 3.0)
    assert(node.get("normalized_median_delta").asDouble() == 2.0)
  }

  test("soak normalized delta: Soak10M's unsuffixed wall-time keys enter") {
    // Soak10M predates the *_sec suffix convention (its key names are
    // pinned by bench_summary cross-round history); the delta matcher
    // must pick them up by allowlist or the flagship soak silently
    // emits no delta at all — the round-20 gap this test pins.
    val prior = """{"vectors":1.0E7,"index_build":100.0,"search_sq":2.0,""" +
      """"pq_recall_at_10":1.0,"canary_sec":0.82,"canary_factor":1.0}"""
    val cur = """{"vectors":1.0E7,"index_build":200.0,"search_sq":12.0,""" +
      """"pq_recall_at_10":1.0,"canary_sec":1.64}"""
    val frag = MachineCanary.deltaFragment(cur, prior, 2.0)
    assert(frag.contains(""""index_build":1.000"""), frag)
    assert(frag.contains(""""search_sq":3.000"""), frag)
    // counts and recalls stay out even when numeric and shared
    assert(!frag.contains("vectors") && !frag.contains("pq_recall"), frag)
    assert(MachineCanary.UnsuffixedTimingKeys.contains("sync_append_pq"))
  }

  test("canary pre/post pair: both factors are spliced") {
    val line = MachineCanary.splice("""{"build_sec":10.0}""",
      sec = 1.64, factor = 2.0, pre = 0.95, prior = "")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line)
    assert(node.get("canary_factor").asDouble() == 2.0)
    assert(node.get("canary_factor_pre").asDouble() == 0.95)
  }
}
