#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Builds graft and the benchmark from source on first use (perfbench/build.py),
runs the workload in one JVM, checks every answer there, and prints as the
last line of stdout one JSON object with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. The line before it stamps the run's environment. A traced
run also writes its spans and per-layer table under <build>/traces/.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import stats  # noqa: E402

# Seconds the measuring JVM may take before it is killed.
JVM_TIMEOUT_S = 165
HEAP = "2g"
K = 10

# Workloads and metric lists (name, unit, better) are the ones
# BENCHMARK.json declares.
with open(os.path.join(build.ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]

SELF_LAYERS = ("bench", "server", "api", "ext", "spark")
SEARCH_KINDS = ("ivf", "sq")


def end_to_end(raw):
    ops, facts = raw["ops"], raw["facts"]
    attempted, failed, _ = stats.accounting(ops)
    return {
        "items_per_s": stats.throughput(ops, facts["t0_ns"]),
        "p50_ms": stats.median(o["lat_ms"] for o in ops),
        "recall": stats.recall([(r["got"], r["exact"]) for r in raw["recall"]])
        if raw["recall"] else 0.0,
        "ok_share": 1.0 - failed / attempted,
        "setup_s": stats.median(facts["setup_s"]) + facts["warmup_s"],
        "stored_bytes_ratio": facts["stored_bytes"] / facts["raw_bytes"],
    }


def overhead(raw, baseline):
    """Tracing overhead in percent, and what it was measured against:
    the median latency of the traced operations against that of the
    --trace 0 run of the same seed when its record is at hand, else
    against the untraced operations of this run. The Spark listeners
    are registered for the whole traced run, so the second form leaves
    their cost out."""
    lt = stats.median(o["lat_ms"] for o in raw["ops"] if o["traced"])
    if baseline is not None:
        lu = stats.median(o["lat_ms"] for o in baseline["ops"])
        basis = ("the --trace 0 run of the same seed (listener cost included,"
                 " and so is the drift between runs)")
    else:
        lu = stats.median(o["lat_ms"] for o in raw["ops"] if not o["traced"])
        basis = "the untraced operations of this run (Spark listener cost excluded)"
    return ((lt / lu - 1.0) * 100.0 if lt and lu else 0.0), basis


def per_layer(raw, spans, self_ns, overhead_pct):
    ops, facts = raw["ops"], raw["facts"]
    traced = [o for o in ops if o["traced"]]
    per_op = {}
    for s in spans:
        per_op.setdefault(s["op"], []).append(s)

    def total(o, name):
        return sum(s["end_ns"] - s["start_ns"] for s in per_op.get(o["id"], ()) if s["name"] == name)

    def sp(o, key):
        return o["spark"].get(key, 0.0)

    def med_ms(name):
        return stats.median(total(o, name) / 1e6 for o in traced if total(o, name) > 0)

    roots = [s for s in spans if s["parent"] == 0 and s["name"] == "server.request"]
    search = [o for o in traced if o["kind"] in SEARCH_KINDS]
    rows = facts.get("corpus_rows", 0)
    n = max(1, len(traced))
    setup_spark = raw.get("setup_spark", {}).get(
        f"gb-setup{len(facts['setup_s']) - 1}-coder", {})
    m = {
        "server.http_overhead_ms": stats.median(self_ns[s["id"]] / 1e6 for s in roots),
        "server.response_bytes": stats.mean(o["response_bytes"] for o in ops if o["response_bytes"]),
        "api.plan_ms": med_ms("api.plan"),
        "api.action_ms": med_ms("spark.sql"),
        "api.sql_actions_per_op": stats.mean(sp(o, "sql_actions") for o in traced),
        "api.planning_ms_per_op": stats.mean(sp(o, "planning_ms") for o in traced),
        "store.load_coding_ms": facts.get("probe.load_coding_ms", 0.0),
        "store.source_stamp_ms": facts.get("probe.source_stamp_ms", 0.0),
        "store.scan_ns_per_row": facts.get("probe.scan_ns_per_row", 0.0),
        "store.create_table_s": stats.median(facts.get("create_table_s", [])),
        "store.bytes_on_disk": facts.get("stored_bytes", 0),
        "store.files_on_disk": facts.get("stored_files", 0),
        "store.table_bytes": facts.get("table_bytes", 0),
        "store.ivf_bytes": facts.get("ivf_bytes", 0),
        "store.sq_bytes": facts.get("sq_bytes", 0),
        "coder.train_s": stats.median(facts.get("coder_train_s", [])),
        "coder.train_cpu_s": (facts["coder_driver_cpu_s"][-1] if facts.get("coder_driver_cpu_s") else 0.0)
        + setup_spark.get("executor_cpu_ms", 0.0) / 1e3,
        "coder.rank_cells_us": facts.get("probe.rank_cells_us", 0.0),
        "index.ivf_build_s": stats.median(facts.get("ivf_build_s", [])),
        "index.sq_build_s": stats.median(facts.get("sq_build_s", [])),
        "index.rows_scanned_per_result":
            sum(sp(o, "input_rows") for o in search) / max(1, sum(o["items"] * K for o in search)),
        "index.probed_share": stats.mean(sp(o, "input_rows") / rows for o in search) if rows else 0.0,
        "functions.distance_ns_per_row": facts.get("probe.distance_ns_per_row", 0.0),
        "functions.distance_gb_per_s": facts.get("probe.distance_gb_per_s", 0.0),
        "functions.assign_ns_per_row": facts.get("probe.assign_ns_per_row", 0.0),
    }
    for stage in ("minhash_pairs", "dup_groups", "triangles", "pagerank", "components"):
        m[f"ext.{stage}_s"] = med_ms(f"ext.{stage}") / 1e3
    for key in ("jobs", "stages", "tasks", "executor_cpu_ms", "executor_run_ms", "gc_ms",
                "input_bytes", "shuffle_write_bytes", "spill_bytes", "slot_wait_ms"):
        m[f"spark.{key}_per_op"] = stats.mean(sp(o, key) for o in traced)
    m["spark.task_skew"] = stats.median(sp(o, "task_skew") for o in traced if o["spark"])
    traced_ids = {o["id"] for o in traced}
    for layer in SELF_LAYERS:
        m[f"self.{layer}_ms_per_op"] = sum(
            self_ns[s["id"]] for s in spans
            if s["op"] in traced_ids and stats.layer_of(s["name"]) == layer) / 1e6 / n
    m["trace.overhead_pct"] = overhead_pct
    m["trace.spans"] = len(spans)
    return m


def result(ops, metrics, specs):
    """The last line: correct when operations were attempted and none
    failed. A failure is a failed check, an error or a timeout."""
    attempted, failed, _ = stats.accounting(ops)
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in specs},
    }


def stamp(raw, load_before, load_after, steal):
    ops = raw["ops"]
    lats = [o["lat_ms"] for o in ops]
    t = stats.tail(lats)
    kinds = sorted({o["kind"] for o in ops})
    return dict(raw["env"], **{
        "git_commit": git_commit(),
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        "cpu_steal_share": steal,
        "samples": len(lats),
        "tail": {"level": t[0], "ms": t[1], "samples": len(lats)} if t else None,
        "p50_ms_by_kind": {k: stats.median(o["lat_ms"] for o in ops if o["kind"] == k) for k in kinds},
        "samples_by_kind": {k: sum(1 for o in ops if o["kind"] == k) for k in kinds},
        "failed_share": stats.failed_share(ops),
        "wrong_answers": stats.accounting(ops)[2],
        "errors": sorted({o["err"] for o in ops if not o["ok"]})[:5],
        "setup_runs_s": raw["facts"].get("setup_s"),
        "warmup_s": raw["facts"].get("warmup_s"),
        "warmup_requests": raw["facts"].get("warmup_requests"),
        "warmup_rates": raw["facts"].get("warmup_rates"),
    })


def layer_table(metrics, spans, self_ns, basis, traced_ids):
    lines = [f"{'metric':<36} {'value':>16}  unit"]
    for m in BENCH["per_layer"]:
        lines.append(f"{m['name']:<36} {metrics[m['name']]:>16.4f}  {m['unit']}")
    by_layer = {}
    for s in (s for s in spans if s["op"] in traced_ids):
        by_layer[stats.layer_of(s["name"])] = by_layer.get(stats.layer_of(s["name"]), 0) + self_ns[s["id"]]
    lines.append("")
    lines.append("self time by layer over the traced operations (span minus child spans;"
                 " parallel Spark jobs each count):")
    for layer, ns in sorted(by_layer.items(), key=lambda kv: -kv[1]):
        lines.append(f"  {layer:<10} {ns / 1e6:>12.1f} ms")
    lines.append(f"tracing overhead: traced operations' median latency is "
                 f"{metrics['trace.overhead_pct']:+.1f}% against {basis}")
    return "\n".join(lines)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def cpu_times():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
        return xs[7], sum(xs)
    except (OSError, ValueError, IndexError):
        return None


def steal_share(before, after):
    """Share of CPU time taken by other guests on the host between two
    cpu_times() readings; a contended run shows a high share."""
    if not before or not after or after[1] <= before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def git_commit():
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(build.ROOT))
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classes, jars, argv, log_path):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(os.path.dirname(log_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes] + jars), "graftbench.Main"] + argv
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--fault", default="none", choices=("none", "wrong", "timeout"),
                    help="force one wrong answer or one timeout, to see it counted")
    a = ap.parse_args()

    load_before, cpu_before = loadavg(), cpu_times()
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(build.build_dir(), "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    log_path = os.path.join(work, "jvm.log")
    try:
        try:
            rc = run_jvm(classes, jars, [
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", raw_path, "--work", work,
                "--fault", a.fault], log_path)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        if rc != 0 or not os.path.exists(raw_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            print(f"[perfbench] workload {a.workload} failed (exit {rc})", file=sys.stderr)
            return 1
        with open(raw_path) as f:
            raw = json.load(f)
        results = os.path.join(build.build_dir(), "results")
        os.makedirs(results, exist_ok=True)
        shutil.copy(raw_path, os.path.join(results, f"{tag}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        spans = stats.assign_parents(raw["spans"])
        self_ns = stats.self_times(spans)
        baseline = None
        if a.fault == "none":
            try:
                with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace0.json")) as f:
                    baseline = json.load(f)
            except (OSError, ValueError):
                pass
        pct, basis = overhead(raw, baseline)
        metrics = per_layer(raw, spans, self_ns, pct)
        out = os.path.join(build.build_dir(), "traces", tag)
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, "spans.json"), "w") as f:
            json.dump([dict(s, self_ns=self_ns[s["id"]]) for s in spans], f)
        table = layer_table(metrics, spans, self_ns, basis,
                            {o["id"] for o in raw["ops"] if o["traced"]})
        within, within_basis = overhead(raw, None)
        table += (f"\n  and {within:+.1f}% against {within_basis}" if baseline is not None
                  else "\n  (run --trace 0 with this seed first to include the listener cost)")
        with open(os.path.join(out, "layers.txt"), "w") as f:
            f.write(table + "\n")
        print(table)
        print(f"[perfbench] spans and layer table written to {os.path.relpath(out, build.ROOT)}")
        specs = BENCH["per_layer"]
    else:
        metrics = end_to_end(raw)
        specs = BENCH["end_to_end"]
    steal = steal_share(cpu_before, cpu_times())
    print(json.dumps({"stamp": stamp(raw, load_before, loadavg(), steal)}))
    print(json.dumps(result(raw["ops"], metrics, specs)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
