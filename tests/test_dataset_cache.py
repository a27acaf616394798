"""dataset_cache.memo: the package's one cache for dataset-derived values
(graph edge tables and layouts, vertex counts, trained models, broadcast
query blocks), and the guard that keeps it the only one."""

from __future__ import annotations

import ast
import pathlib
import re
from types import SimpleNamespace

from redpanda_iceberg_duckdb_spark import dataset_cache
from redpanda_iceberg_duckdb_spark.dataset_cache import MEMO_SLOTS, memo
from redpanda_iceberg_duckdb_spark.operators import graph_iterate
from redpanda_iceberg_duckdb_spark.registry import all_queries

_PKG = pathlib.Path(dataset_cache.__file__).parent


class _Builds:
    """A build callable that counts its calls and returns a fresh object."""

    def __init__(self):
        self.calls = 0

    def __call__(self):
        self.calls += 1
        return object()


def test_memo_builds_once_per_application(spark):
    build = _Builds()
    v1 = memo(spark, ("t_memo_once", "ds"), build)
    assert memo(spark, ("t_memo_once", "ds"), build) is v1
    assert build.calls == 1
    # another Spark application misses: checkpoint blocks and broadcasts
    # of a stopped application must never be served
    other = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="another-app"))
    assert memo(other, ("t_memo_once", "ds"), build) is not v1
    assert build.calls == 2


def test_memo_stores_nothing_when_build_raises(spark):
    def failing():
        raise RuntimeError("no convergence")

    try:
        memo(spark, ("t_memo_raise", "ds"), failing)
    except RuntimeError:
        pass
    build = _Builds()
    memo(spark, ("t_memo_raise", "ds"), build)
    assert build.calls == 1


def test_memo_lru_is_bounded_per_name(spark):
    other = _Builds()
    kept = memo(spark, ("t_lru_other", "ds"), other)
    build = _Builds()
    first = memo(spark, ("t_lru", 0), build)
    for i in range(1, MEMO_SLOTS + 1):
        memo(spark, ("t_lru", i), build)
    # the least recently used entry of this name was evicted ...
    assert memo(spark, ("t_lru", 0), build) is not first
    assert build.calls == MEMO_SLOTS + 2
    # ... while another name's entry is untouched by this name's inserts
    assert memo(spark, ("t_lru_other", "ds"), other) is kept
    assert other.calls == 1


def test_evicted_broadcast_is_unpersisted(spark, monkeypatch):
    bc = memo(spark, ("t_bc", 0), lambda: spark.sparkContext.broadcast([1]))
    calls = []
    real = bc.unpersist
    monkeypatch.setattr(bc, "unpersist",
                        lambda *a, **k: (calls.append(1), real(*a, **k)))
    for i in range(1, MEMO_SLOTS):
        memo(spark, ("t_bc", i), lambda: spark.sparkContext.broadcast([i]))
    assert calls == []                         # still live
    memo(spark, ("t_bc", MEMO_SLOTS),
         lambda: spark.sparkContext.broadcast([0]))
    assert calls == [1]                        # evicted -> unpersisted


class _Edges:
    """Stands in for an edge DataFrame: counts how often its distinct
    vertex count is computed, without running a Spark job."""

    def __init__(self, n: int):
        self.n, self.counts = n, 0

    def select(self, _key):
        return self

    def distinct(self):
        return self

    def count(self) -> int:
        self.counts += 1
        return self.n


def test_vertex_counts_survive_inserts_under_other_names(spark):
    """The graph-loop gate's vertex count for one graph stays live while
    many other graphs' counts are inserted (the old capped dict wiped
    every live count once it held 64)."""
    live = _Edges(10)
    key = ("t_vc_live", "ds")
    assert graph_iterate.vertex_count(spark, live, "src", key) == 10
    for i in range(80):
        graph_iterate.vertex_count(spark, _Edges(i), "src",
                                   (f"t_vc_other{i}", "ds"))
    assert graph_iterate.vertex_count(spark, live, "src", key) == 10
    assert live.counts == 1


def test_alternating_graphs_keep_their_layouts(spark, sf_smoke, monkeypatch):
    """Above the broadcast gate each graph's partitioned edge layout is
    paid once: a co-purchase loop, then the trade-graph SSSP, then the
    co-purchase loop again reuses the same partitioned frame (the old
    single-slot cache rebuilt it every time two graphs took turns)."""
    from redpanda_iceberg_duckdb_spark.operators.graph10d import (
        copurchase_join_strategy)

    monkeypatch.setenv("SPARK_GRAFT_ITERATE_BROADCAST_BOUND", "0")
    first, _ = copurchase_join_strategy(spark, sf_smoke)
    all_queries()["sssp_cheapest_paths"].fn(spark, sf_smoke)
    again, _ = copurchase_join_strategy(spark, sf_smoke)
    assert again is first


def test_dataset_cache_is_the_only_cache_mechanism():
    """Exactly one cache mechanism: no package module other than
    dataset_cache.py reads applicationId or keeps a module-level
    ``_*_CACHE`` container — a new derived-table cache goes through
    dataset_cache.memo instead of re-implementing key/check/evict."""
    cache_name = re.compile(r"_[A-Z0-9_]*CACHE")
    offenders = []
    for path in sorted(_PKG.rglob("*.py")):
        if path.name == "dataset_cache.py":
            continue
        src = path.read_text()
        rel = path.relative_to(_PKG.parent)
        if "applicationId" in src:
            offenders.append(f"{rel}: reads applicationId")
        for node in ast.parse(src).body:
            targets = (node.targets if isinstance(node, ast.Assign) else
                       [node.target] if isinstance(node, ast.AnnAssign)
                       else [])
            for t in targets:
                if isinstance(t, ast.Name) and cache_name.fullmatch(t.id):
                    offenders.append(f"{rel}: module-level {t.id}")
    assert offenders == [], offenders
