#!/usr/bin/env python3
"""graft benchmark: one command for every workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds graft and the harness if needed
(perfbench/build.py), runs the workload in its own JVM under a scratch dir
that is removed afterwards, checks every result against DuckDB
(perfbench/check.py), prints each metric with its unit, and prints as its
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Full metrics, per-operation records and spans
go to .bench_out/<workload>_seed<n>_cpus<c>_trace<t>_<time>.jsonl.
Exits non-zero when any operation failed or gave a wrong result.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("kwwhat_dag_sf0.1", "gates_sf0.1")
JVM_TIMEOUT_S = 150  # a run must end within 180 s; the check follows the JVM
HEAP = "4g"
# java.base packages Spark needs opened on JDK 17 (as build.sbt sets them)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty sample."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_q(n):
    """0.9, or the highest quantile that still has ten samples beyond it."""
    return max(0.5, min(0.9, 1 - 10 / n))


def op_time(o):
    return o["construct_s"] + o["action_s"]


def end_to_end(res, passes):
    lat = [op_time(o) for p in passes for o in p["ops"]]
    q = tail_q(len(lat))
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "query_p50_s": (quantile(lat, 0.5), "s"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MB"),
    }, {"query_samples": len(lat), "query_tail_s": quantile(lat, q), "query_tail_quantile": q}


DAG_STAGES = ["stg_frames", "status_changes", "transactions", "visits",
              "faulted_outages", "offline_gaps", "uptime_daily", "interval_data"]
GATE_FAMILIES = ("kwwhat", "curation", "stream", "extra")


def per_layer(res, untraced, traced, units):
    """Per-pass means over the traced passes: the metrics named in `units`,
    and the full set."""
    def mean(f):
        return sum(f(p) for p in traced) / len(traced)

    def counter(k):
        return mean(lambda p: p["counters"].get(k, 0.0))

    def ops_sum(f, pred):
        return mean(lambda p: sum(f(o) for o in p["ops"] if pred(o)))

    full = {k: counter(k) for k in sorted({k for p in traced for k in p["counters"]})}
    for stage in DAG_STAGES + ["metric_layer"]:
        prefix = "metrics.query" if stage == "metric_layer" else f"operators.{stage}"
        full[f"{prefix}.s"] = ops_sum(op_time, lambda o, s=stage: o["name"] == s)
        for k in ("rows_out", "shuffle_bytes", "spill_bytes", "tasks"):
            full[f"{prefix}.{k}"] = full.pop(f"scope.{stage}.{k}", 0.0)
    gate = lambda o: o["family"] in GATE_FAMILIES  # noqa: E731
    full["gates.construct_s"] = ops_sum(lambda o: o["construct_s"], gate)
    full["gates.action_s"] = ops_sum(lambda o: o["action_s"], gate)
    for fam in GATE_FAMILIES[:-1]:
        full[f"gates.{fam}_s"] = ops_sum(op_time, lambda o, f=fam: o["family"] == f)
    full["spark.core_idle_s"] = (mean(lambda p: p["wall_s"]) * res["cpus"]
                                 - counter("spark.task_run_s"))
    trig = [t for p in traced for t in p["triggers_ms"]]
    full["streaming.trigger_p50_ms"] = quantile(trig, 0.5) if trig else 0.0
    full["streaming.trigger_p90_ms"] = quantile(trig, tail_q(len(trig))) if trig else 0.0
    full["streaming.commit_ms"] = (counter("streaming.walCommit_ms")
                                   + counter("streaming.commitOffsets_ms"))
    full["trace.overhead_ratio"] = (statistics.median(p["wall_s"] for p in traced)
                                    / statistics.median(p["wall_s"] for p in untraced))
    full["trace.unattributed_s"] = unattributed(res["spans"])
    return {k: (full.get(k, 0.0), unit) for k, unit in units.items()}, full


def unattributed(spans):
    """Mean self time of the pass spans: wall time no operation covers."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    selfs = [(s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)) / 1e9
             for s in spans if s["layer"] == "pass"]
    return sum(selfs) / len(selfs) if selfs else 0.0


def load_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def jvm_command(classpath, args, run_dir):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap: no resizing, so peak RSS and GC repeat from run to run
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss16m", "-XX:-UsePerfData"] + opens
            + [f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", classpath, "perfbench.Main"] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--extra-gate", default="",
                    help="comma-separated gate keys appended to gates_sf0.1 "
                         "(the benchmark's own test injects an unknown key)")
    a = ap.parse_args()

    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py",
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the root of a graft checkout")
    e2e_units, layer_units = load_units()

    import build
    import check
    classpath = build.build()

    cpus = len(os.sched_getaffinity(0))
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    tag = f"{a.workload}_seed{a.seed}_cpus{cpus}_trace{a.trace}_{stamp}_{os.getpid()}"
    run_dir = os.path.join(ROOT, ".bench_run", tag)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    result_file = os.path.join(run_dir, "result.json")
    try:
        args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), run_dir,
                result_file, a.extra_gate]
        t0 = time.monotonic()
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            proc = subprocess.Popen(jvm_command(classpath, args, run_dir), cwd=run_dir,
                                    env=env, stdout=log, stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                die(f"JVM did not finish within {JVM_TIMEOUT_S} s")
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if proc.returncode != 0 or not os.path.exists(result_file):
            with open(os.path.join(run_dir, "jvm.log")) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            die(f"JVM exited with {proc.returncode}")
        with open(result_file) as fh:
            res = json.load(fh)
        t1 = time.monotonic()
        checks = check.run_checks(ROOT, res["data_dir"], res["checks"], res["oracle_sql"],
                                  cpus, os.path.join(run_dir, "duckdb"))
        t2 = time.monotonic()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    passes = res["passes"]
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    ops = [o for p in passes for o in p["ops"]] + res["warmup"]["ops"]
    failed_ops = [o for o in ops if not o["ok"]]
    failed_checks = [c for c in checks if not c[1]]
    attempted = len(ops)
    failed = len(failed_ops) + len(failed_checks)

    e2e, e2e_extra = end_to_end(res, untraced)
    shown, metrics = e2e, {k: e2e[k] for k in e2e_units}
    full = {k: v for k, (v, _) in e2e.items()}
    full.update(e2e_extra)
    full["failed_ratio"] = failed / attempted
    if a.trace:
        layer, layer_full = per_layer(res, untraced, traced, layer_units)
        shown = metrics = layer
        full.update(layer_full)

    out_file = os.path.join(out_dir, tag + ".jsonl")
    with open(out_file, "w") as fh:
        def rec(**kw):
            fh.write(json.dumps(kw) + "\n")
        rec(type="summary", workload=a.workload, seed=a.seed, cpus=cpus, trace=a.trace,
            seconds=a.seconds, sf=res["sf"], rows=res["rows"], setup_s=res["setup_s"],
            warmup_s=res["warmup"]["wall_s"], jvm_s=t1 - t0, check_s=t2 - t1,
            attempted=attempted, failed=failed,
            metrics=full)
        for o in res["warmup"]["ops"]:
            rec(type="op", passIndex="warmup", traced=False, **o)
        for i, p in enumerate(passes):
            rec(type="pass", index=i, traced=p["traced"], wall_s=p["wall_s"],
                counters=p["counters"])
            for o in p["ops"]:
                rec(type="op", passIndex=i, traced=p["traced"], **o)
        for name, ok, detail in checks:
            rec(type="check", name=name, ok=ok, detail=detail)
        for s in res["spans"]:
            rec(type="span", **s)

    for o in failed_ops:
        print(f"FAILED {o['name']}: {o['error']}")
    for name, _, detail in failed_checks:
        print(f"WRONG {name}: {detail}")
    print(f"{a.workload} seed={a.seed} cpus={cpus} passes={len(untraced)}+{len(traced)} "
          f"traced, records in {os.path.relpath(out_file, ROOT)}")
    print(f"failed_ratio = {full['failed_ratio']} ({failed}/{attempted})")
    for k, (v, unit) in shown.items():
        print(f"{k} = {v} {unit}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}},
        separators=(",", ":")))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
