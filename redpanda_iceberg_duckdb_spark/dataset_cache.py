"""The package's one cache for dataset-derived values: ``memo`` keyed by
(Spark application, caller key), and ``data_fingerprint`` to put the data
itself into that key.

Expensive values that depend only on a dataset — checkpointed graph edge
tables and their partitioned layouts, vertex counts, trained k-means /
PQ / BPE models, broadcast query blocks — are built once per Spark
application and dataset and shared by every query that needs them:

    memo(spark, ("copurchase_edges",
                 data_fingerprint(sf_dir, "orders", "lineitem")),
         lambda: ...)

The first key element is the entry's *name*. Each name keeps at most
``MEMO_SLOTS`` entries, least recently used evicted first, so two datasets
(or two graphs) taking turns never rebuild each other's entries and one
name's inserts never evict another name's. An evicted ``Broadcast`` is
unpersisted; any other evicted value is just dropped, and Spark's
ContextCleaner frees its checkpoint blocks once nothing references it.
Nothing is persisted across runs.

Why a separate module (and not tables.py): the verification manifest
fingerprints each query as (defining module + one level of intra-package
imports); tables.py is a dependency of every operator module, so a change
there would invalidate every fingerprint at once. Only the memo users
import this module.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from typing import Callable, TypeVar

from pyspark.broadcast import Broadcast

T = TypeVar("T")

# Live entries per name: room for two datasets (or a dataset and its
# in-place rewrite) taking turns, plus headroom for the handful of
# distinct broadcast query blocks.
MEMO_SLOTS = 4

# (applicationId, name, *rest) -> value, least recently used first.
_entries: OrderedDict[tuple, object] = OrderedDict()


def memo(spark, key: tuple, build: Callable[[], T]) -> T:
    """The value memoized under ``key`` (a tuple whose first element names
    the entry) for this Spark application, running ``build()`` only on a
    miss. Nothing is stored if ``build()`` raises."""
    full = (spark.sparkContext.applicationId, *key)
    if full in _entries:
        _entries.move_to_end(full)
        return _entries[full]
    value = build()
    _entries[full] = value
    same_name = [k for k in _entries if k[1] == key[0]]
    for k in same_name[:-MEMO_SLOTS]:
        _release(_entries.pop(k))
    return value


def clear() -> None:
    """Drop every entry (evicted broadcasts are unpersisted)."""
    while _entries:
        _release(_entries.popitem()[1])


def _release(value: object) -> None:
    if isinstance(value, Broadcast):
        try:
            value.unpersist()
        except Exception:   # pragma: no cover — already-stopped context
            pass


def data_fingerprint(sf_dir: str, *names: str) -> str:
    """Cheap driver-side fingerprint of the named parquet tables under
    ``sf_dir``, for keying ``memo`` entries: per file (path, inode,
    mtime_ns, size) plus the parquet footer length+magic tail bytes.

    Why: a key of (applicationId, sf_dir) alone silently serves stale
    checkpointed blocks if the parquet under an sf_dir is REWRITTEN within
    one Spark application — exactly what bench demos do with tmp dirs
    (round-9 advice). Folding the files' stat signature into the key makes
    a rewrite a cache miss instead of a correctness hazard. st_ino + the
    8-byte parquet tail (footer length || 'PAR1') close the round-10
    ADVICE #2 residual: a same-size rewrite landing within a coarse
    filesystem's mtime granularity still changes the inode on any
    atomic-rename writer, and a true in-place rewrite still moves the
    footer offset. O(#files) stat calls + one 8-byte read per file, no
    data scan. Never empty when at least one name is given."""
    parts = []
    for name in sorted(names):
        root = os.path.join(sf_dir, f"{name}.parquet")
        paths = [root]
        if os.path.isdir(root):
            paths = [os.path.join(root, f)
                     for f in sorted(os.listdir(root))] or paths
        for p in paths:
            try:
                st = os.stat(p)
                tail = b""
                if st.st_size >= 8:
                    with open(p, "rb") as fh:
                        fh.seek(-8, os.SEEK_END)
                        tail = fh.read(8)
                parts.append(f"{p}:{st.st_ino}:{st.st_mtime_ns}"
                             f":{st.st_size}:{tail.hex()}")
            except OSError:
                parts.append(f"{p}:absent")
    return "|".join(parts)
