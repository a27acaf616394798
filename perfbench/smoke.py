"""Smoke check of the benchmark itself, on the tiny sf0.001 configuration.

    python3 perfbench/smoke.py [--workloads query_mix ingest_roundtrip]

For each workload (default: those in BENCHMARK.json) it makes three runs
with one seed:

1. ``--trace 0``: correct, and every end-to-end metric of BENCHMARK.json
   is emitted with its unit and nothing else;
2. ``--trace 1``: correct, and every per-layer metric is emitted with its
   unit and nothing else;
3. ``--trace 1 --corrupt-expected``: a deliberately wrong expected count
   must show up as failures, and every count metric must repeat run 2's
   exactly (the flag changes what is expected, not what runs).

It then prints the tracing overhead: the traced pass/round time of run 2
against the untraced one of run 1. Exits non-zero on the first problem.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "0", "--trace", str(trace),
           "--scale", "smoke", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                          timeout=300)
    if proc.returncode != 0:
        sys.exit(f"FAIL {' '.join(cmd[1:])}: exit {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    return {"record": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def _check_metrics(workload: str, run: dict, spec: list[dict]) -> None:
    got = run["result"]["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    if set(got) != set(want):
        sys.exit(f"FAIL {workload}: metrics differ from BENCHMARK.json: "
                 f"missing {sorted(set(want) - set(got))}, "
                 f"extra {sorted(set(got) - set(want))}")
    for name, unit in want.items():
        m = got[name]
        if m.get("unit") != unit or not isinstance(m.get("value"),
                                                   (int, float)):
            sys.exit(f"FAIL {workload}: {name} = {m}, want unit {unit}")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()
    for workload in args.workloads:
        plain = _run(workload, 0)
        traced = _run(workload, 1)
        wrong = _run(workload, 1, "--corrupt-expected")
        for run, metrics in ((plain, spec["end_to_end"]),
                             (traced, spec["per_layer"])):
            _check_metrics(workload, run, metrics)
            if not run["result"]["correct"]:
                sys.exit(f"FAIL {workload}: {run['record']['failures']}")
        res = wrong["result"]
        if res["correct"] or res["failed"] < 1:
            sys.exit(f"FAIL {workload}: a wrong expected count went unseen")
        counts = [m["name"] for m in spec["per_layer"] if m["unit"] == "count"]
        drift = {n: (traced["result"]["metrics"][n]["value"],
                     res["metrics"][n]["value"]) for n in counts
                 if traced["result"]["metrics"][n]["value"]
                 != res["metrics"][n]["value"]}
        if drift:
            sys.exit(f"FAIL {workload}: counts did not repeat: {drift}")
        base = plain["result"]["metrics"]["roundtrip_s"]["value"]
        with_trace = traced["result"]["metrics"]["trace.pass_s"]["value"]
        print(f"ok {workload}: {len(spec['end_to_end'])} end-to-end and "
              f"{len(spec['per_layer'])} per-layer metrics, wrong count seen "
              f"({res['failed']} failed), counts repeat; tracing overhead "
              f"{with_trace - base:+.3f}s on a {base:.3f}s pass "
              f"({traced['result']['metrics']['trace.overhead_s']['value']:.3f}s"
              f" in the tracer)")


if __name__ == "__main__":
    main()
