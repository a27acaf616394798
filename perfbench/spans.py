"""Spans and Spark-side counters for the benchmark.

Every call the benchmark makes into a layer of the package is wrapped in a
span (name, start, end, parent, unit). With tracing off a span is only two
``perf_counter`` reads; the end-to-end metrics come from those. With tracing
on, spans that run Spark jobs also record the job-id range they covered, and
``settle()`` resolves each range into jobs, stages, tasks and bytes from
Spark's status store. Catalyst phase times come from the collected
DataFrame's ``QueryPlanningTracker``; streaming micro-batches come from a
``StreamingQueryListener``, so replays started inside queries are seen too.

Jobs are attributed by id range: the benchmark is one client in one
process, so every job that starts between a span's start and end belongs
to it (including streaming jobs, whose job group the stream thread sets
itself).
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

_MB = 1024 * 1024


class _Progress(StreamingQueryListener):
    """Collects one record per micro-batch, tagged with the tracer's unit."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.tracer.batches.append({
            "unit": self.tracer.unit,
            "query": str(p.id),
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self.batches: list[dict] = []
        self.storage: list[tuple[str, str, float]] = []  # (unit, when, MB)
        self.unit = "setup"
        self.self_s: dict[str, float] = {}
        self._stack: list[int] = []
        self._pending: list[dict] = []
        self._sc = None

    # -- wiring -------------------------------------------------------------

    def attach(self, spark) -> None:
        """Start watching ``spark``: register the streaming listener."""
        self._sc = spark.sparkContext
        if self.on:
            spark.streams.addListener(_Progress(self))

    def wrap_load_table(self, tables) -> None:
        """Replace ``tables.load_table`` with a spanned wrapper. Must run
        before the operator modules are imported, because they bind the
        function by name (``from ..tables import load_table``)."""
        inner = tables.load_table

        def load_table(spark, sf_dir, name):
            with self.span("tables.load_table", jobs=True, table=name):
                return inner(spark, sf_dir, name)

        tables.load_table = load_table

    # -- spans --------------------------------------------------------------

    def _next_job(self) -> int:
        return self._sc._jsc.sc().dagScheduler().nextJobId()

    @contextmanager
    def span(self, name: str, *, jobs: bool = False, **attrs):
        rec = {"name": name, "unit": self.unit,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        track = jobs and self.on
        if track:
            rec["job0"] = self._next_job()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if track:
                rec["job1"] = self._next_job()
                self._pending.append(rec)
            self._stack.pop()

    def collect(self, df, name: str = "action", **attrs) -> list:
        """``df.collect()`` inside a job-tracking span; with tracing on the
        span also gets the Catalyst phase times of ``df``'s own plan."""
        with self.span(name, jobs=True, action=True, **attrs) as rec:
            rows = df.collect()
        if self.on:
            t0 = time.perf_counter()
            rec["catalyst"] = _phases(df)
            self._charge(t0)
        return rows

    def settle(self) -> None:
        """Resolve pending job ranges and sample cached storage (tracing
        on only). Waits for Spark's listener bus first, so the status store
        and the streaming listener have seen every event so far."""
        if not self.on:
            return
        t0 = time.perf_counter()
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        for rec in self._pending:
            rec["stats"] = self._job_stats(rec["job0"], rec["job1"])
        self._pending = []
        self.sample_storage("op")
        self._charge(t0)

    def sample_storage(self, when: str) -> None:
        if self.on:
            infos = self._sc._jsc.sc().getRDDStorageInfo()
            mb = sum(i.memSize() + i.diskSize() for i in infos) / _MB
            self.storage.append((self.unit, when, mb))

    def _charge(self, t0: float) -> None:
        self.self_s[self.unit] = (self.self_s.get(self.unit, 0.0)
                                  + time.perf_counter() - t0)

    def _job_stats(self, job0: int, job1: int) -> dict:
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        stage_ids: set[int] = set()
        for job in range(job0, job1):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict(jobs=job1 - job0, stages=0, tasks=0, failed_tasks=0,
                   input_bytes=0, shuffle_read_bytes=0,
                   shuffle_write_bytes=0, spill_bytes=0)
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the status store
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    # -- per-layer metrics ----------------------------------------------------

    def unit_metrics(self, unit: str) -> dict[str, float]:
        """Per-layer metrics of one unit (a pass over a query mix, or one
        ingest round)."""
        spans = [s for s in self.spans if s["unit"] == unit]

        def dur(pred):
            return sum(s["end"] - s["start"] for s in spans if pred(s))

        def jobs(pred, key="jobs"):
            return sum(s.get("stats", {}).get(key, 0) for s in spans if pred(s))

        def named(name):
            return lambda s: s["name"] == name

        is_action = lambda s: s.get("action", False)  # noqa: E731
        m: dict[str, float] = {}
        m["tables.load_calls"] = len([s for s in spans
                                      if s["name"] == "tables.load_table"])
        m["tables.load_s"] = dur(named("tables.load_table"))
        m["tables.load_jobs"] = jobs(named("tables.load_table"))
        build_s = dur(named("operators.build"))
        action_s = dur(is_action)
        m["operators.build_s"] = build_s
        m["operators.build_jobs"] = jobs(named("operators.build"))
        m["operators.build_share"] = (build_s / (build_s + action_s)
                                      if build_s + action_s else 0.0)
        mbs = [mb for u, _, mb in self.storage if u == unit]
        m["operators.cached_mb_peak"] = max(mbs, default=0.0)
        m["operators.cached_mb_retained"] = mbs[-1] if mbs else 0.0
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_ms"] = sum(
                s.get("catalyst", {}).get(phase, 0) for s in spans)
        m["action.s"] = action_s
        for key in ("jobs", "stages", "tasks", "failed_tasks", "input_bytes",
                    "shuffle_read_bytes", "shuffle_write_bytes",
                    "spill_bytes"):
            m[f"action.{key}"] = jobs(is_action, key)
        m.update(self._streaming(unit))
        ingest = [s for s in spans if s["name"] == "streaming.ingest"]
        m["streaming.sink_files"] = sum(s.get("sink_files", 0) for s in ingest)
        in_bytes = sum(s.get("input_bytes", 0) for s in ingest)
        m["streaming.sink_bytes_per_input_byte"] = (
            sum(s.get("sink_bytes", 0) for s in ingest) / in_bytes
            if in_bytes else 0.0)
        m["sources.decode_s"] = dur(named("sources.decode"))
        lines = sum(s.get("lines", 0) for s in ingest)
        m["sources.dead_letter_ratio"] = (
            sum(s.get("dead_letters", 0) for s in ingest) / lines
            if lines else 0.0)
        compact = [s for s in spans if s["name"] == "maintenance.compact"]
        m["maintenance.compact_s"] = dur(named("maintenance.compact"))
        for key in ("files_in", "files_out", "bytes_rewritten"):
            m[f"maintenance.{key}"] = sum(s.get(key, 0) for s in compact)
        m["generator.gen_s"] = dur(named("generator"))
        m["trace.overhead_s"] = self.self_s.get(unit, 0.0)
        m["trace.pass_s"] = dur(lambda s: s["name"] == "op"
                                and s["parent"] is None)
        return m

    def _streaming(self, unit: str) -> dict[str, float]:
        bs = [b for b in self.batches if b["unit"] == unit]

        def total(*keys):
            return sum(b["ms"].get(k, 0) for b in bs for k in keys)

        last_state: dict[str, int] = {}
        for b in bs:
            last_state[b["query"]] = b["state_rows"]
        trigger = [b["ms"].get("triggerExecution", 0) for b in bs]
        return {
            "streaming.batches": len(bs),
            "streaming.empty_batches": len([b for b in bs if b["rows"] == 0]),
            "streaming.batch_ms_p50": statistics.median(trigger) if bs else 0.0,
            "streaming.add_batch_ms": total("addBatch"),
            "streaming.commit_ms": total("walCommit", "commitOffsets"),
            "streaming.planning_ms": total("queryPlanning"),
            "streaming.offsets_ms": total("latestOffset", "getBatch"),
            "streaming.input_rows": sum(b["rows"] for b in bs),
            "streaming.state_rows": sum(last_state.values()),
        }


def _phases(df) -> dict[str, int]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() if opt.isDefined() else 0
    return out
