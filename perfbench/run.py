#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 24 --trace 0

Builds the engine from source (perfbench/build.py), then runs the named
workload in a closed loop with one client thread (perfbench/scala/Harness):
one cold pass over the workload's keys, about --seconds of warm passes,
and a check pass whose outputs are compared with DuckDB
(perfbench/NOTES.md). The seed only permutes key order within each pass.
The last line of stdout is one JSON object:
with --trace 0 it carries the end-to-end metrics, with --trace 1 the
per-layer ones. The full report (posture, every pass and query, per-key
AQE-final plan shapes, sample counts) and, when traced, the spans are
written to .bench_out/.
"""
import argparse
import collections
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(BENCH))
import build  # noqa: E402

JVM_TIMEOUT_S = 150
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# smaller than the -Xmx8g build.sbt gives the engine's own runs: with a
# fixed 8 GB heap, peak RSS follows how much young generation G1 chooses
# to touch, not the engine (perfbench/NOTES.md has the measurements)
XMX = "2g"


def launch_jvm(cp: str, scratch: Path, flags: list, keys: list) -> dict:
    """Runs the harness once; returns its JSON record."""
    out = scratch / "harness.json"
    out.unlink(missing_ok=True)
    (scratch / "tmp").mkdir(parents=True, exist_ok=True)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed-size heap: G1 resizing otherwise moves peak RSS between
    # runs of the same work; a fixed set of JIT compiler threads, so the
    # harness can read their CPU time; no perf-data file outside the checkout
    cmd = (["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-XX:-UsePerfData", *opens,
            f"-Djava.io.tmpdir={scratch / 'tmp'}", f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-cp", cp, "graft.perfbench.Harness", "--scratch", str(scratch), "--out", str(out)]
           + flags + ["--launched", repr(time.time())] + keys)
    t0 = time.time()
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: harness did not finish within {JVM_TIMEOUT_S} s")
    if r.returncode != 0 or not out.exists():
        sys.exit(f"perfbench: harness failed (exit {r.returncode})")
    print(f"[perfbench] harness process {time.time() - t0:.1f} s", file=sys.stderr)
    return json.loads(out.read_text())


def tail(latencies: list) -> float:
    """The upper quartile. A run holds 56 (catalog) or 20 (kernels)
    measured queries: fourteen or five lie beyond it; no higher percentile
    keeps ten samples beyond it on both."""
    return statistics.quantiles(latencies, n=4)[2]


def dir_bytes(d: Path) -> int:
    return sum(f.stat().st_size for f in d.rglob("*") if f.is_file()) if d.exists() else 0


def check_outputs(root: Path, fixture: Path, rec: dict, check_dir: Path) -> dict:
    """Key -> mismatch message, for keys whose check-pass output is wrong:
    oracle keys are compared with DuckDB by tools/verify_local.py's rules,
    no-oracle keys must return rows."""
    spec = importlib.util.spec_from_file_location("verify_local", root / "tools" / "verify_local.py")
    vl = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(vl)
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for t in vl.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    bad = dict(rec["check_errors"])
    for key, sql in rec["oracle_sql"].items():
        if key in bad:
            continue
        try:
            err = vl.compare(key, pd.read_parquet(check_dir / key), con.execute(sql).fetchdf())
        except Exception as e:  # noqa: BLE001
            err = f"EXC {type(e).__name__}: {e}"
        if err is not None and not err.startswith("WARN"):
            bad[key] = err
    for key in rec["no_oracle"]:
        if key not in bad and len(pd.read_parquet(check_dir / key)) == 0:
            bad[key] = "no rows"
    con.close()
    return bad


def end_to_end(rec: dict, traced: bool = False) -> dict:
    """Warm metrics over the measured untraced (or, with traced=True, the
    traced) passes."""
    warm = [p for p in rec["passes"] if p["measured"] and p["traced"] == traced]
    measured = {p["pass"] for p in warm}
    queries = [q for q in rec["queries"] if q["pass"] in measured]
    return {
        "setup_s": (rec["setup_s"], "s"),
        "pass_s": (statistics.median(p["wall"] for p in warm), "s"),
        "query_p50_s": (statistics.median(q["latency"] for q in queries), "s"),
        "query_tail_s": (tail([q["latency"] for q in queries]), "s"),
        "cpu_s_per_pass": (statistics.median(p["cpu"] for p in warm), "s"),
        "rss_peak_mb": (rec["rss_peak_mb"], "MB"),
    }


def per_layer(rec: dict, tmp_left: int, untraced: dict) -> tuple:
    """Per-layer metrics, and wall and task CPU per owning module (a module
    with no key in the workload would read a constant 0 s, so those go to
    the report, not the metrics)."""
    cores = rec["cores"]
    traced = sorted({q["pass"] for q in rec["queries"] if q["traced"]})
    per_pass = []
    for p in traced:
        sums = collections.Counter()
        for q in rec["queries"]:
            if q["pass"] != p:
                continue
            for k, v in q["layers"].items():
                sums[k] = max(sums[k], v) if k == "exec.peak_mem_bytes" else sums[k] + v
            for k, v in q["plan"].items():
                sums[f"plan.{k}"] += v
            mod = rec["module"][q["key"]]
            sums[f"module.{mod}.wall_s"] += q["latency"]
            sums[f"module.{mod}.task_cpu_s"] += (q["layers"]["construct.task_cpu_s"]
                                                 + q["layers"]["exec.task_cpu_s"])
        wall = sums["exec.wall_s"]
        sums["exec.cpu_util"] = sums["exec.task_cpu_s"] / (wall * cores) if wall > 0 else 0.0
        per_pass.append(sums)
    out = {}
    for k in sorted({k for s in per_pass for k in s}):
        vals = [s[k] for s in per_pass]
        out[k] = max(vals) if k == "exec.peak_mem_bytes" else statistics.median(vals)
    modules = {k: out.pop(k) for k in list(out) if k.startswith("module.")}
    out["writers.tmp_bytes_left"] = float(tmp_left)
    # tracing overhead: traced warm passes minus the untraced ones of the
    # same run (set-up: the listener install, timed alone)
    traced_e2e = end_to_end(rec, traced=True)
    for k in ("pass_s", "query_p50_s", "query_tail_s", "cpu_s_per_pass"):
        out[f"overhead.{k}"] = traced_e2e[k][0] - untraced[k][0]
    out["overhead.setup_s"] = rec["trace_install_s"]
    return out, modules


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixture", default=str(BENCH / "data" / "sf0.1"),
                    help="fixture directory (default: the vendored sf0.1 tables)")
    args = ap.parse_args()

    root = Path.cwd()
    workloads = json.loads((BENCH / "workloads.json").read_text())
    if args.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; have {sorted(workloads)}")
    keys = workloads[args.workload]["keys"]
    fixture = Path(args.fixture).resolve()
    if not (fixture / "lineitem.parquet").exists():
        sys.exit(f"perfbench: no fixture tables in {fixture}")
    cp = build.build(root)

    outdir = root / ".bench_out"
    scratch = outdir / f"run-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    try:
        rec = launch_jvm(cp, scratch, [
            "--fixture", str(fixture), "--seconds", str(args.seconds),
            "--pass-s", str(workloads[args.workload]["warm_pass_s"]),
            "--seed", str(args.seed), "--trace", str(args.trace),
            "--spans", str(outdir / f"{tag}-spans.json")], keys)
        t0 = time.time()
        bad = check_outputs(root, fixture, rec, scratch / "check")
        print(f"[perfbench] output compare {time.time() - t0:.1f} s", file=sys.stderr)
        tmp_left = sum(dir_bytes(scratch / d) for d in ("tmp", "spark-local", "warehouse"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    timed_errors = [q for q in rec["queries"] if q["error"]]
    failed_keys = sorted(set(bad) | {q["key"] for q in timed_errors})
    attempted = len(rec["queries"]) + len(keys)
    failed = len(timed_errors) + len(bad)
    e2e = end_to_end(rec)
    warm = [p for p in rec["passes"] if p["measured"] and not p["traced"]]
    notes = {"cold_pass_s": rec["passes"][0]["wall"], "measured_passes": len(warm),
             # the part of cpu_s_per_pass the JIT compiler threads used
             "jit_cpu_s_per_pass": statistics.median(
                 p["jitTicks"] for p in warm) / os.sysconf("SC_CLK_TCK"),
             "query_samples": len(warm) * len(keys)}
    modules = {}
    if args.trace:
        layers, modules = per_layer(rec, tmp_left, e2e)
        metrics = {k: (v, unit(k)) for k, v in layers.items()}
    else:
        metrics = e2e
    plans = {q["key"]: q["plan"] for q in rec["queries"] if q["traced"]}
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "keys": keys,
        "posture": {"confs": rec["confs"], "xmx": XMX, "xmx_mb": rec["xmx_mb"],
                    "nproc": rec["cores"], "java.io.tmpdir": rec["tmpdir"]},
        "error_rate": len(failed_keys) / len(keys), "failed_keys": failed_keys,
        "mismatches": bad, "end_to_end": {k: v[0] for k, v in e2e.items()}, "notes": notes,
        "metrics": {k: v[0] for k, v in metrics.items()}, "modules": modules,
        "aqe_final_plans": plans,
        "passes": rec["passes"],
        "queries": [{k: q[k] for k in ("key", "pass", "traced", "latency", "error")}
                    for q in rec["queries"]],
    }
    outdir.mkdir(exist_ok=True)
    (outdir / f"{tag}.json").write_text(json.dumps(report, indent=1))
    for k, (v, u) in sorted(metrics.items()):
        print(f"{args.workload:8s} {k:34s} {v:14.6g} {u}", file=sys.stderr)
    # not gated (perfbench/NOTES.md), printed so one command shows all eight
    print(f"{args.workload:8s} {'cold_pass_s':34s} {notes['cold_pass_s']:14.6g} s", file=sys.stderr)
    print(f"{args.workload:8s} {'jit_cpu_s_per_pass':34s} {notes['jit_cpu_s_per_pass']:14.6g} s",
          file=sys.stderr)
    print(f"{args.workload:8s} {'error_rate':34s} {report['error_rate']:14.6g} ratio "
          f"({len(failed_keys)}/{len(keys)} keys) {failed_keys}", file=sys.stderr)
    print(json.dumps({
        "correct": not failed_keys, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def unit(name: str) -> str:
    if name.endswith("_s") or name.startswith("overhead."):
        return "s"
    if name.endswith("_bytes") or name.endswith(".bytes") or name.endswith("bytes_left"):
        return "bytes"
    if name == "exec.cpu_util":
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
