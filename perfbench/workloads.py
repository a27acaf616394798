"""The benchmark's workloads. Each one is a closed loop with one client:
the next operation starts only after the previous one returned.

``query_mix`` / ``iterative_mix`` run a fixed list of registered queries in
a new seeded order each pass. In the first (cold) pass the rows of each
query are checked against its DuckDB oracle with the test suite's
``oracle_harness.run_compare``, outside the timed window; every later run
must return the row count of the checked cold run.

``ingest_roundtrip`` runs the reference's bidirectional cycle once per
round: seeded trades as JSON lines with injected malformed lines ->
streaming ingest with dead letters -> Q1-shape analytics -> keyed-JSON
publish -> re-ingest -> Q4 re-aggregation -> compaction.

Each workload returns an ``Outcome``; the tracer holds the per-layer view.
Package modules are imported inside the functions, so that run.py can wrap
``tables.load_table`` before any operator module binds it.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field, replace

ITERATIVE = [
    "pagerank_trade_graph", "label_propagation_sizes",
    "kcore_degree_histogram", "personalized_pagerank_seeds",
    "clustering_coefficient_parts",
    "bpe_train_merges", "pq_trained_distortion", "kmeans_train_converged",
    "ivm_stream_refresh_replay", "funnel_stream_replay",
    "dedup_stream_tws_replay",
]


@dataclass
class Outcome:
    cold_s: float = 0.0
    unit_s: list[float] = field(default_factory=list)      # timed units
    query_s: list[float] = field(default_factory=list)     # timed queries
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    cold_unit: str = "cold"
    warm_units: list[str] = field(default_factory=list)
    # ingest only: trade rows landed per second of streaming ingest
    ingest_rows_per_s: list[float] = field(default_factory=list)
    # per query or round step: cold seconds, then each timed run's
    by_name: dict[str, list[float]] = field(
        default_factory=lambda: defaultdict(list))


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _first_line(exc: Exception) -> str:
    return (str(exc).splitlines() or [""])[0][:200]


# -- query mixes ---------------------------------------------------------------

@dataclass
class _Finished:
    """A finished query result, with the two DataFrame members that
    ``oracle_harness.run_compare`` reads."""
    columns: list[str]
    rows: list

    def collect(self) -> list:
        return self.rows


def run_mix(spark, tr, *, names: list[str], data_dir: str, seed: int,
            seconds: float, corrupt_expected: bool = False) -> Outcome:
    from redpanda_iceberg_duckdb_spark.registry import all_queries
    from tests import oracle_harness

    queries = all_queries()
    rng = random.Random(seed)
    out = Outcome()
    verified: dict[str, int] = {}

    def one(name: str, check_oracle: bool) -> float | None:
        q = queries[name]
        out.attempted += 1
        try:
            with tr.span("op", query=name) as op:
                with tr.span("operators.build", jobs=True):
                    df = q.fn(spark, data_dir)
                rows = tr.collect(df)
            tr.settle()
            spark.catalog.clearCache()
            if check_oracle:
                # The test suite's own oracle comparison, outside the timed
                # window, on the rows this cold run returned (the query it
                # is handed returns them instead of running again). It
                # raises AssertionError on a mismatch.
                done = _Finished(df.columns, rows)
                oracle_harness.run_compare(
                    spark, replace(q, fn=lambda *_: done),
                    data_dir)
                verified[name] = len(rows) + (1 if corrupt_expected
                                              and name == names[0] else 0)
                why = None
            else:
                why = (None if len(rows) == verified.get(name) else
                       f"{len(rows)} rows, verified {verified.get(name)}")
        except Exception as exc:  # counted, and the run carries on
            traceback.print_exc()
            why = f"{type(exc).__name__}: {_first_line(exc)}"
            spark.catalog.clearCache()
        if why:
            out.failures.append(f"{tr.unit} {name}: {why}")
            _log(f"FAIL {tr.unit} {name}: {why}")
            return None
        return op["end"] - op["start"]

    def one_pass(unit: str, check_oracle: bool) -> tuple[float, float]:
        """Returns (seconds in successful queries, wall seconds)."""
        tr.unit = unit
        t0 = time.perf_counter()
        with tr.span("generator"):
            order = list(names)
            rng.shuffle(order)
        total = 0.0
        for name in order:
            t = one(name, check_oracle)
            if t is not None:
                total += t
                out.by_name[name].append(t)
                if not check_oracle:
                    out.query_s.append(t)
        tr.sample_storage("end")
        return total, time.perf_counter() - t0

    out.cold_s = one_pass("cold", check_oracle=True)[0]
    _log(f"cold pass {out.cold_s:.3f}s")
    timed = 0.0
    while not out.warm_units or timed < seconds:
        unit = f"pass-{len(out.warm_units)}"
        out.warm_units.append(unit)
        t, wall = one_pass(unit, check_oracle=False)
        out.unit_s.append(t)
        timed += wall
        _log(f"{unit} {t:.3f}s")
    return out


# -- ingest round trip ---------------------------------------------------------

BAD_SHARE = 0.01  # malformed share of each round's lines

def _analytics_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("symbol", T.StringType()),
        T.StructField("trade_count", T.LongType()),
        T.StructField("avg_price", T.DoubleType()),
        T.StructField("min_price", T.DoubleType()),
        T.StructField("max_price", T.DoubleType()),
        T.StructField("total_volume", T.LongType()),
        T.StructField("buy_count", T.LongType()),
        T.StructField("sell_count", T.LongType()),
        T.StructField("first_trade_time", T.StringType()),
        T.StructField("last_trade_time", T.StringType()),
    ])


def _malformed(line: str, i: int) -> str:
    """Three kinds of bad record, each of which must become one dead
    letter: a truncated object, a mistyped required field, and a line that
    is not JSON at all."""
    kind = i % 3
    if kind == 0:
        return line[: len(line) // 2]
    if kind == 1:
        rec = json.loads(line)
        rec["price"] = "n/a"
        return json.dumps(rec)
    return f"#corrupt record {i}"


def generate_round(root: str, seed: int, rnd: int, *, trades: int,
                   files: int) -> dict:
    """Write one round's landing files and return what a correct round
    must produce. Deterministic in (seed, rnd)."""
    from redpanda_iceberg_duckdb_spark.generator import generate_trades

    rng = random.Random(seed * 1_000_003 + rnd)
    rows = generate_trades(trades, seed=rng.randrange(2**31))
    bad = set(rng.sample(range(trades), round(trades * BAD_SHARE)))
    lines, good = [], []
    for i, r in enumerate(rows):
        line = json.dumps({**r, "ts_event": r["ts_event"].isoformat() + "Z"})
        if i in bad:
            line = _malformed(line, i)
        else:
            good.append(r)
        lines.append(line)
    landing = os.path.join(root, "landing")
    os.makedirs(landing)
    per = (trades + files - 1) // files
    for k in range(files):
        with open(os.path.join(landing, f"part-{k:03d}.json"), "w") as fh:
            fh.write("\n".join(lines[k * per:(k + 1) * per]) + "\n")
    expected = defaultdict(lambda: dict(trade_count=0, total_volume=0,
                                        buy_count=0, sell_count=0,
                                        min_price=None, max_price=None))
    for r in good:
        e = expected[r["symbol"]]
        e["trade_count"] += 1
        e["total_volume"] += r["qty"]
        e["buy_count" if r["side"] == "BUY" else "sell_count"] += 1
        e["min_price"] = min(r["price"], e["min_price"] or r["price"])
        e["max_price"] = max(r["price"], e["max_price"] or r["price"])
    return {"landing": landing, "good": len(good), "dead": len(bad),
            "lines": trades,
            "input_bytes": sum(len(line) + 1 for line in lines),
            "symbols": dict(expected)}


def _drain(spark, landing: str, out_path: str, ckpt: str, *, dead: bool,
           max_files: int | None):
    from redpanda_iceberg_duckdb_spark.generator import TRADE_SCHEMA
    from redpanda_iceberg_duckdb_spark.streaming import ingest

    raw = ingest.read_json_stream(spark, landing, TRADE_SCHEMA,
                                  max_files_per_trigger=max_files)
    required = [f.name for f in TRADE_SCHEMA.fields if not f.nullable]
    good, bad = ingest.validate_stream(raw, required)
    q = ingest.start_ingest(bad if dead else good, out_path=out_path,
                            checkpoint=ckpt, available_now=True)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))


def _q1(trades):
    """The reference's Q1: per-symbol trade analytics."""
    from pyspark.sql import functions as F

    from redpanda_iceberg_duckdb_spark.functions import davg, iso_ts

    return trades.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("trade_count"),
        davg("price", "avg_price"),
        F.round(F.min("price"), 2).alias("min_price"),
        F.round(F.max("price"), 2).alias("max_price"),
        F.sum("qty").alias("total_volume"),
        F.count(F.when(F.col("side") == "BUY", 1)).alias("buy_count"),
        F.count(F.when(F.col("side") == "SELL", 1)).alias("sell_count"),
        iso_ts(F.min("ts_event"), "first_trade_time"),
        iso_ts(F.max("ts_event"), "last_trade_time"))


def _count(tr, df) -> int:
    return tr.collect(df.groupBy().count(), query=True)[0][0]


def _round(spark, tr, root: str, exp: dict, *, corrupt_expected: bool
           ) -> tuple[list[str], list[float], float]:
    """One round trip. Returns (problems, query latencies, ingest seconds)."""
    from pyspark.sql import functions as F

    from redpanda_iceberg_duckdb_spark.maintenance import (
        compact_small_files, dataset_file_stats)
    from redpanda_iceberg_duckdb_spark.sources.kafka import encode_keyed_json
    from redpanda_iceberg_duckdb_spark.streaming.ingest import (
        ingest_kafka_shaped)

    p = {k: os.path.join(root, k) for k in (
        "trades", "dead", "ck_trades", "ck_dead", "wire", "analytics",
        "compacted")}
    problems: list[str] = []
    want_dead = exp["dead"] + (1 if corrupt_expected else 0)

    def check(ok: bool, what: str) -> None:
        if not ok:
            problems.append(what)

    with tr.span("streaming.ingest", jobs=True, action=True,
                 lines=exp["lines"], input_bytes=exp["input_bytes"]) as ing:
        _drain(spark, exp["landing"], p["trades"], p["ck_trades"],
               dead=False, max_files=1)
        _drain(spark, exp["landing"], p["dead"], p["ck_dead"],
               dead=True, max_files=None)
    ing["sink_files"], ing["sink_bytes"] = dataset_file_stats(p["trades"])
    ingest_s = ing["end"] - ing["start"]

    trades = spark.read.parquet(p["trades"])
    landed = _count(tr, trades)
    check(landed == exp["good"], f"landed {landed} != {exp['good']}")
    dead = _count(tr, spark.read.parquet(p["dead"]))
    ing["dead_letters"] = dead
    check(dead == want_dead, f"dead letters {dead} != injected {want_dead}")

    analytics = _q1(trades)
    q1 = {r.symbol: r for r in tr.collect(analytics, query=True)}
    check(len(q1) == 8, f"Q1 has {len(q1)} symbols, not 8")
    for sym, e in exp["symbols"].items():
        got = q1.get(sym)
        got = {k: getattr(got, k) for k in e} if got else None
        check(got == e, f"Q1 {sym}: {got} != {e}")

    with tr.span("sources.publish", jobs=True, action=True):
        encode_keyed_json(analytics, "symbol").write.parquet(p["wire"])
    with tr.span("sources.decode", jobs=True, action=True):
        good, bad = ingest_kafka_shaped(spark.read.parquet(p["wire"]),
                                        _analytics_schema())
        good.write.parquet(p["analytics"])
        wire_bad = bad.count()
    check(wire_bad == 0, f"{wire_bad} wire records failed to decode")

    a = spark.read.parquet(p["analytics"])
    q4 = tr.collect(a.agg(F.count(F.lit(1)).alias("rows"),
                          F.sum("trade_count").alias("total")), query=True)[0]
    check(q4.rows == 8 and q4.total == exp["good"],
          f"Q4 rows={q4.rows} total={q4.total}, want 8 and {exp['good']}")
    q5 = tr.collect(a.select("symbol", "total_volume")
                    .orderBy(F.desc("total_volume"), "symbol").limit(5),
                    query=True)
    vols = [r.total_volume for r in q5]
    want = sorted((e["total_volume"] for e in exp["symbols"].values()),
                  reverse=True)[:5]
    check(vols == want, f"Q5 volumes {vols} != {want}")

    files_in, bytes_in = dataset_file_stats(p["trades"])
    with tr.span("maintenance.compact", jobs=True, action=True,
                 files_in=files_in) as comp:
        compact_small_files(spark, p["trades"], p["compacted"])
    comp["files_out"], comp["bytes_rewritten"] = \
        dataset_file_stats(p["compacted"])
    # Q1 again, after compaction: a second heavy read per round, so the
    # round's p90 falls among the Q1 runs instead of between two clusters.
    q1c = {r.symbol: r
           for r in tr.collect(_q1(spark.read.parquet(p["compacted"])),
                               query=True)}
    check(q1c == q1, "Q1 over the compacted table differs from Q1")
    check(comp["files_out"] == 1, f"compaction wrote {comp['files_out']} files")

    queries = [s["end"] - s["start"] for s in tr.spans
               if s.get("query") is True and s["start"] >= ing["start"]]
    return problems, queries, ingest_s


def run_roundtrip(spark, tr, *, work_dir: str, seed: int, seconds: float,
                  trades: int, files: int,
                  corrupt_expected: bool = False) -> Outcome:
    """Round 0 is the cold round; later rounds are timed until ``seconds``
    have passed (at least one). Every timed round counts for the per-layer
    view; only correct ones give latencies."""
    out = Outcome(cold_unit="round-0")
    timed = 0.0
    rnd = 0
    while rnd < 2 or timed < seconds:
        unit = f"round-{rnd}"
        tr.unit = unit
        root = os.path.join(work_dir, unit)
        with tr.span("generator"):
            exp = generate_round(root, seed, rnd, trades=trades, files=files)
        out.attempted += 1
        problems, queries, ingest_s = [], [], 0.0
        t0 = time.perf_counter()
        try:
            with tr.span("op", round=rnd):
                problems, queries, ingest_s = _round(
                    spark, tr, root, exp, corrupt_expected=corrupt_expected)
        except Exception as exc:  # counted, and the run carries on
            traceback.print_exc()
            problems = [f"{type(exc).__name__}: {_first_line(exc)}"]
        t = time.perf_counter() - t0
        tr.settle()
        tr.sample_storage("end")
        shutil.rmtree(root, ignore_errors=True)
        if rnd > 0:
            timed += t
            out.warm_units.append(unit)
        if problems:
            out.failures.append(f"{unit}: {'; '.join(problems)}")
            _log(f"FAIL {unit}: {problems}")
        else:
            _log(f"{unit} {t:.3f}s (ingest {ingest_s:.3f}s)")
            if rnd == 0:
                out.cold_s = t
            else:
                out.unit_s.append(t)
                out.query_s.extend(queries)
                out.ingest_rows_per_s.append(exp["good"] / ingest_s)
        rnd += 1
    return out
