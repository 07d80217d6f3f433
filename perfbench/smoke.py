#!/usr/bin/env python3
"""Smoke check of the benchmark on the tiny sf0.001 fixture.

Usage, from the root of a checkout:

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json it runs perfbench/run.py untraced and
traced with --seconds 0 (one cold pass, three warm passes, one check pass),
and asserts that the outputs check out and that every metric BENCHMARK.json
names is emitted, with its unit, and nothing else. Exits non-zero on the
first failure.
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def main() -> None:
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    for wl in spec["workloads"]:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = [sys.executable, str(BENCH / "run.py"), "--workload", wl["name"],
                   "--seed", "0", "--seconds", "0", "--trace", str(trace),
                   "--fixture", str(BENCH / "data" / "sf0.001")]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=900)
            assert r.returncode == 0, f"{wl['name']} trace={trace}: exit {r.returncode}"
            res = json.loads(r.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0, f"{wl['name']}: outputs wrong"
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (f"{wl['name']} trace={trace}: missing "
                                 f"{sorted(set(want) - set(got))}, extra "
                                 f"{sorted(set(got) - set(want))}, units "
                                 f"{[(k, got[k], want[k]) for k in got if k in want and got[k] != want[k]]}")
            assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
            print(f"ok {wl['name']} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} queries")


if __name__ == "__main__":
    main()
