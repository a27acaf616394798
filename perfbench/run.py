"""Lakehouse benchmark: one command runs one workload with one seed.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``; with
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics. The line before it is a record of the
run: workload, seed, machine, versions, source digest and any failures.

This process is only the launcher. It makes a private temp root inside the
checkout (cwd, TMPDIR, SPARK_LOCAL_DIRS, JVM tmpdir, checkpoints and landing
directories all live there), puts the package on the Python path of Spark's
workers, runs the benchmark body in a child process of its own process
group, stops every process of that group, removes the temp root, and counts
as a failure any bytes left in it and any file of the checkout that the run
created, changed or removed.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "redpanda_iceberg_duckdb_spark"
TMP_PARENT = os.path.join(ROOT, ".perfbench_tmp")
_MB = 1024 * 1024
DEADLINE_S = 170  # a listed workload must end within 180 s

# name -> (kind, data directory or None, deadline seconds). iterative_mix
# runs but is not in BENCHMARK.json: one run needs 2-4 minutes (see
# perfbench/README.md).
WORKLOADS = {
    "query_mix": ("mix", "sf0.01", DEADLINE_S),
    "iterative_mix": ("mix", "sf0.01", 600),
    "ingest_roundtrip": ("roundtrip", None, DEADLINE_S),
}

# --scale smoke: the tiny configuration perfbench/smoke.py runs (query data
# directory, then trades and landing files per ingest round).
SCALES = {
    "full": {"data": None, "trades": 20_000, "files": 5},
    "smoke": {"data": "sf0.001", "trades": 2_000, "files": 4},
}


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="shift one expected count by one, so a correct "
                         "program must show failures (smoke check)")
    ap.add_argument("--child", metavar="RUN_ROOT", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


# -- launcher ------------------------------------------------------------------

def _source_digest() -> str:
    h = hashlib.sha256()
    for base, dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(base, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def _group_alive(pgid: int) -> list[int]:
    """Live (non-zombie) processes of process group ``pgid``."""
    alive = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z" and int(fields[2]) == pgid:
            alive.append(int(pid))
    return alive


def _stop_group(pgid: int) -> None:
    for sig, wait_s in ((signal.SIGTERM, 20), (signal.SIGKILL, 10)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while _group_alive(pgid) and time.monotonic() < end:
            time.sleep(0.1)


def _tree_state(root: str) -> dict[str, tuple[int, int] | None]:
    """Every file of the checkout with its (size, mtime), and every
    directory (None), except VCS metadata, Python bytecode caches and the
    benchmark's temp root. Ignored paths such as ``spark-warehouse/`` are
    included: a run must not leave them either."""
    skip = {".git", "__pycache__", os.path.basename(TMP_PARENT)}
    state: dict[str, tuple[int, int] | None] = {}
    for base, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d not in skip]
        for d in dirs:
            state[os.path.relpath(os.path.join(base, d), root)] = None
        for f in files:
            path = os.path.join(base, f)
            try:
                st = os.lstat(path)
            except OSError:
                continue
            state[os.path.relpath(path, root)] = (st.st_size, st.st_mtime_ns)
    return state


def _steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over CPUs (0 where
    /proc/stat has no such field). Recorded so that noise is visible."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _tree_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total


def launch(args: argparse.Namespace, argv: list[str]) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found beside perfbench/",
              file=sys.stderr)
        return 2
    before = _tree_state(ROOT)
    run_root = os.path.join(TMP_PARENT, f"{args.workload}-{args.seed}-"
                                        f"{os.getpid()}")
    for sub in ("cwd", "tmp", "spark-local", "work"):
        os.makedirs(os.path.join(run_root, sub))
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(run_root, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_root, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": os.environ.get(
            "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))),
    })
    t0, steal0 = time.monotonic(), _steal_s()
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv,
         "--child", run_root],
        cwd=os.path.join(run_root, "cwd"), env=env, stdout=sys.stderr,
        start_new_session=True)
    deadline = WORKLOADS[args.workload][2]
    code, result = None, None
    # A launcher stopped from outside still stops the child's group.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = child.wait(timeout=deadline)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {deadline}s", file=sys.stderr)
    finally:
        _stop_group(child.pid)
        child.wait()
        result_path = os.path.join(run_root, "result.json")
        if code == 0 and os.path.exists(result_path):
            with open(result_path) as fh:
                result = json.load(fh)
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(TMP_PARENT)
        except OSError:
            pass
    if result is None:
        print(f"perfbench: benchmark body failed (exit {code})",
              file=sys.stderr)
        return 1
    record, out = result["record"], result["result"]
    left = _tree_bytes(run_root) if os.path.exists(run_root) else 0
    after = _tree_state(ROOT)
    touched = sorted(p for p in before.keys() | after.keys()
                     if before.get(p, 0) != after.get(p, 0))
    if left or touched:
        out["failed"] += 1
        out["correct"] = False
        record["failures"].append(
            f"left behind: {left} bytes in the temp root; created, changed "
            f"or removed in the checkout: {touched[:20]}")
    record["env"].update(commit=_commit(), source_sha256=_source_digest(),
                         wall_s=time.monotonic() - t0,
                         cpu_steal_s=_steal_s() - steal0)
    print(json.dumps(record))
    print(json.dumps(out))
    return 0


# -- benchmark body (child process) ---------------------------------------------

def _memory_mb(spark) -> tuple[float, dict[str, float]]:
    """The program's memory in MB, and its parts. The figure adds the
    driver Python's peak RSS, the JVM's peak non-heap use (code cache,
    metaspace) and the JVM heap still in use after a full collection at
    the end of the run. Used bytes, not the JVM's RSS, which follows how far
    the heap was grown rather than what the program needed. The heap's peak
    use is among the parts but not in the figure: with the package's heap
    settings it depends on when G1 collects and how large it makes the
    young generation, and it moved by a quarter to a third between runs of
    the same program."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    parts = {"python_peak_rss": resource.getrusage(
        resource.RUSAGE_SELF).ru_maxrss / 1024}
    for kind in ("HEAP", "NON_HEAP"):
        parts[f"jvm_{kind.lower()}_peak"] = sum(
            p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
            if p.getType().name() == kind) / _MB
    # Python's cycle collector first: objects it has not yet freed still
    # hold JVM objects through py4j, by an amount that varied run to run.
    gc.collect()
    jvm.System.gc()
    parts["jvm_heap_retained"] = (
        mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / _MB)
    figure = (parts["python_peak_rss"] + parts["jvm_non_heap_peak"]
              + parts["jvm_heap_retained"])
    return figure, parts


def _p90(values: list[float]) -> float:
    """90th percentile, linear between samples ('inclusive' method)."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def body(args: argparse.Namespace) -> None:
    import pyspark

    import spans
    import workloads

    run_root = args.child
    scale = SCALES[args.scale]
    tr = spans.Tracer(on=bool(args.trace))
    if tr.on:
        from redpanda_iceberg_duckdb_spark import tables
        tr.wrap_load_table(tables)
    from redpanda_iceberg_duckdb_spark.registry import all_queries
    from redpanda_iceberg_duckdb_spark.session import get_spark

    queries = all_queries()  # import the operator modules before any timing
    # The JVM keeps the package's own heap and GC settings; the options only
    # keep its temp files and perf-data file out of the shared /tmp.
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_root, 'tmp')} "
            "-XX:-UsePerfData",
    }
    # Set-up is what a caller pays once per process: the launching
    # get_spark (JVM start with its memory and Java options) and a first job.
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    spark.range(1).collect()
    setup_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    workloads._log(f"set-up {setup_s:.3f}s")
    tr.attach(spark)

    kind, data, _ = WORKLOADS[args.workload]
    if kind == "mix":
        names = (sorted(n for n, q in queries.items() if q.bench)
                 if args.workload == "query_mix" else workloads.ITERATIVE)
        data_dir = os.path.join(HERE, "data", scale["data"] or data)
        out = workloads.run_mix(spark, tr, names=names, data_dir=data_dir,
                                seed=args.seed, seconds=args.seconds,
                                corrupt_expected=args.corrupt_expected)
    else:
        out = workloads.run_roundtrip(
            spark, tr, work_dir=os.path.join(run_root, "work"),
            seed=args.seed, seconds=args.seconds, trades=scale["trades"],
            files=scale["files"],
            corrupt_expected=args.corrupt_expected)

    mem, mem_parts = _memory_mb(spark)
    med = statistics.median
    failed = len(out.failures)
    ok = (out.attempted - failed) / out.attempted
    if args.trace:
        per_unit = {u: tr.unit_metrics(u) for u in out.warm_units}
        metrics = {}
        for name in tr.unit_metrics(out.cold_unit):
            vals = [m[name] for m in per_unit.values()] or [0.0]
            metrics[name] = med(vals)
        metrics["operators.warm_build_jobs"] = metrics["operators.build_jobs"]
        metrics["operators.build_jobs"] = \
            tr.unit_metrics(out.cold_unit)["operators.build_jobs"]
        metrics["session.get_spark_s"] = get_spark_s
    else:
        q = out.query_s or [0.0]
        metrics = {
            "setup_s": setup_s,
            "cold_pass_s": out.cold_s,
            "query_p50_s": med(q),
            "query_p90_s": _p90(q),
            "queries_per_s": len(out.query_s) / sum(q) if sum(q) else 0.0,
            "roundtrip_s": med(out.unit_s or [0.0]),
            "ok_ratio": ok,
            "mem_mb": mem,
        }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale": args.scale, "seconds": args.seconds,
        "env": {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "spark.driver.memory": spark.conf.get("spark.driver.memory"),
            "spark": pyspark.__version__,
            "python": sys.version.split()[0],
        },
        "units": {"warm": len(out.warm_units),
                  "queries_timed": len(out.query_s)},
        "ingest_rows_per_s": (med(out.ingest_rows_per_s)
                              if out.ingest_rows_per_s else None),
        "failed_ratio": failed / out.attempted,
        "memory_mb": mem_parts,
        "seconds_by_name": out.by_name,
        "failures": out.failures,
    }
    result = {
        "correct": failed == 0,
        "attempted": out.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }
    with open(os.path.join(run_root, "result.json"), "w") as fh:
        json.dump({"record": record, "result": result}, fh)
    spark.stop()


def main(argv: list[str]) -> int:
    args = _args(argv)
    if args.child:
        body(args)
        return 0
    return launch(args, argv)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
