"""Tracing from outside the package: spans around wrapped functions, and
Spark's AppStatusStore diffed around each job's call and action.

Nothing in ``gridmr_spark`` is edited. ``Tracer.install`` rebinds chosen
functions (and ``ManifestTable`` methods) to timing wrappers in every
``gridmr_spark`` module that imported them, and ``uninstall`` puts the
originals back.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module, attribute) pairs wrapped in a traced run. Only driver-side
# functions: anything shipped to Python workers must stay unwrapped, since
# the wrapper closes over the tracer, which does not pickle.
WRAPPED_FUNCTIONS = (
    ("gridmr_spark.catalog", "load_table"),
    ("gridmr_spark.operators.text", "word_count"),
    ("gridmr_spark.operators.dedup", "word_shingles"),
    ("gridmr_spark.operators.dedup", "minhash_signatures_from_shingles"),
    ("gridmr_spark.operators.dedup", "lsh_candidate_pairs"),
    ("gridmr_spark.operators.dedup", "minhash_dedup_pairs"),
    ("gridmr_spark.operators.dedup", "minhash_dedup_incremental"),
    ("gridmr_spark.operators.dedup", "verify_jaccard_pairs"),
    ("gridmr_spark.operators.graph", "connected_components"),
    ("gridmr_spark.operators.graph", "incremental_components"),
)
WRAPPED_METHODS = (
    ("gridmr_spark.sources.table_format", "ManifestTable",
     ("commit", "merge_by_key", "delete_where", "read", "read_pruned", "compact_small")),
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    result: object = None  # the wrapped call's return value (kept for counts)


class Tracer:
    """Keeps spans in memory. The parent of a new span is the innermost
    open span of the same thread, or else the open job span: so spans from
    ``operators.parallel.run_parallel`` threads hang off their job."""

    def __init__(self, keep_results: tuple[str, ...] = ()) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._job: int | None = None
        self._undo: list[tuple[object, str, object]] = []
        self._keep = set(keep_results)

    def _open(self, name: str) -> int:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._job
        with self._lock:
            self.spans.append(Span(name, time.perf_counter(), parent=parent))
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._local.stack.pop()

    @contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield self.spans[idx]
        finally:
            self._close(idx)

    @contextmanager
    def job(self, name: str):
        """A top-level span; worker-thread spans without an open parent
        of their own attach here."""
        self._job = self._open(name)
        try:
            yield self.spans[self._job]
        finally:
            self._close(self._job)
            self._job = None

    def wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            idx = tracer._open(name)
            try:
                out = fn(*args, **kwargs)
                if name in tracer._keep:
                    tracer.spans[idx].result = out
                return out
            finally:
                tracer._close(idx)

        return functools.wraps(fn)(traced)

    def install(self) -> None:
        """Rebind every function in WRAPPED_FUNCTIONS wherever a
        ``gridmr_spark`` module holds it, and wrap the table methods."""
        originals: dict[int, tuple[object, str]] = {}
        for mod_name, attr in WRAPPED_FUNCTIONS:
            fn = getattr(importlib.import_module(mod_name), attr)
            originals[id(fn)] = (fn, f"{mod_name.removeprefix('gridmr_spark.')}.{attr}")
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("gridmr_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    self._undo.append((mod, attr, val))
                    setattr(mod, attr, self.wrap(val, hit[1]))
        for mod_name, cls_name, methods in WRAPPED_METHODS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            for m in methods:
                orig = cls.__dict__[m]
                self._undo.append((cls, m, orig))
                setattr(cls, m, self.wrap(orig, f"table_format.{m}"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover
    (children that overlap each other, as parallel threads do, count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = []
    for i, sp in enumerate(spans):
        kids = [(max(s, sp.start), min(e, sp.end)) for s, e in children.get(i, [])]
        out.append((sp.end - sp.start) - _union_length([k for k in kids if k[1] > k[0]]))
    return out


def outermost(spans: list[Span], name: str) -> list[Span]:
    """Spans called ``name`` that have no ancestor of the same name (so a
    method calling itself is not counted twice)."""
    out = []
    for sp in spans:
        if sp.name != name:
            continue
        p = sp.parent
        while p is not None and spans[p].name != name:
            p = spans[p].parent
        if p is None:
            out.append(sp)
    return out


# ---------------------------------------------------------------------------
# AppStatusStore
# ---------------------------------------------------------------------------

STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "jvmGcTime", "inputBytes", "shuffleWriteBytes", "shuffleReadBytes",
    "memoryBytesSpilled", "diskBytesSpilled",
)


@dataclass
class StageRec:
    key: tuple[int, int]  # (stageId, attemptId)
    status: str
    metrics: dict[str, int] = field(default_factory=dict)


def new_stages(records, seen: set[tuple[int, int]]) -> list[StageRec]:
    """The records whose (stage, attempt) key is not in ``seen``; adds
    them to ``seen``. Skipped stages never ran and are dropped."""
    out = []
    for r in records:
        if r.key in seen:
            continue
        seen.add(r.key)
        if r.status != "SKIPPED":
            out.append(r)
    return out


class StatusStore:
    """Reads the driver's AppStatusStore over py4j with the same
    five-argument ``stageList`` call ``gridmr_spark/plans/shuffle.py``
    uses, and reports what appeared since the previous ``diff``."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._seen: set[tuple[int, int]] = set()
        self._jobs_seen: set[int] = set()
        self.diff()  # everything before now is history

    def _drain(self) -> None:
        # the store is fed asynchronously by the listener bus
        self._jsc.listenerBus().waitUntilEmpty(10_000)

    def _stage_records(self, stop_at: set[tuple[int, int]]):
        jvm = self._sc._jvm
        stages = self._store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            self._sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            key = (s.stageId(), s.attemptId())
            if key in stop_at:
                # the list runs newest first: the rest was seen before
                return
            yield StageRec(key, s.status().toString(), {f: getattr(s, f)() for f in STAGE_FIELDS})

    def diff(self) -> tuple[list[StageRec], int]:
        """(new stages, number of new Spark jobs) since the last call."""
        self._drain()
        stages = new_stages(list(self._stage_records(self._seen)), self._seen)
        jobs = self._store.jobsList(None)
        n_new = 0
        it = jobs.iterator()
        while it.hasNext():
            jid = it.next().jobId()
            if jid in self._jobs_seen:
                break
            self._jobs_seen.add(jid)
            n_new += 1
        return stages, n_new
