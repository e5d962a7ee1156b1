"""The traced passes and the per-layer metrics computed from them.

Time and count metrics are per pass: the total over the traced passes
divided by their number. A layer a workload never calls reads 0.
"""

from __future__ import annotations

import os
import statistics

from spans import StatusStore, Tracer, outermost, self_times

MB = float(1 << 20)

# Every per-layer metric, in print order: (name, unit).
PER_LAYER = (
    ("session.get_spark_s", "s"), ("session.first_job_s", "s"),
    ("queries.call_s", "s"), ("queries.action_s", "s"),
    ("compat.run_job.call_s", "s"), ("compat.run_job.action_s", "s"),
    ("compat.pipe_job.call_s", "s"), ("compat.pipe_job.action_s", "s"),
    ("compat.spark_jobs_per_job", "count"), ("compat.shuffle_write_mb", "MB"),
    ("operators.text.word_count.call_s", "s"), ("operators.text.word_count.action_s", "s"),
    ("operators.dedup.minhash_dedup_pairs.self_s", "s"),
    ("operators.dedup.verify_jaccard_pairs.call_s", "s"),
    ("operators.dedup.lsh_precision", "ratio"),
    ("operators.graph.connected_components.self_s", "s"),
    ("operators.graph.incremental_components.self_s", "s"),
    ("catalog.load_table.calls", "count"), ("catalog.load_table_s", "s"),
    ("table_format.commit_s", "s"), ("table_format.merge_by_key_s", "s"),
    ("table_format.delete_where_s", "s"), ("table_format.read_s", "s"),
    ("table_format.read_pruned_s", "s"), ("table_format.compact_small_s", "s"),
    ("table_format.group_opens", "count"), ("table_format.files_live", "count"),
    ("table_format.bytes_written_mb", "MB"), ("table_format.prune_ratio", "ratio"),
    ("table_format.write_p50_s", "s"), ("table_format.read_p50_s", "s"),
    ("table_format.bytes_stored_per_user_byte", "ratio"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.single_task_stages", "count"),
    ("spark.tasks", "count"), ("spark.failed_tasks", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.idle_core_frac", "ratio"), ("spark.input_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
    ("python.boundary_frac", "ratio"),
    ("jvm.peak_rss_mb", "MB"), ("driver.peak_rss_mb", "MB"),
    ("trace_overhead_frac", "ratio"),
)

_LSH = "operators.dedup.lsh_candidate_pairs"
_VERIFY = "operators.dedup.verify_jaccard_pairs"
_TABLE_METHODS = ("commit", "merge_by_key", "delete_where", "read", "read_pruned", "compact_small")


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


def per_job(records: list[dict]) -> dict[str, dict]:
    """Median call, action and CPU seconds of every job in ``records``."""
    by: dict[str, list[dict]] = {}
    for r in records:
        by.setdefault(r["job"], []).append(r)
    return {
        name: {
            "call_s": statistics.median(r["call_s"] for r in rs),
            "action_s": statistics.median(r["action_s"] for r in rs),
            "cpu_s": statistics.median(r["cpu_s"] for r in rs),
            "n": len(rs),
        }
        for name, rs in sorted(by.items())
    }


class LayerView:
    def __init__(self, cpus: int) -> None:
        self.cpus = cpus
        self.walls: list[float] = []
        self.records: list[dict] = []
        self.spans = []
        self.table: dict[str, float] = {}
        self.lsh_precision = 0.0
        self.write_lat: list[float] = []
        self.read_lat: list[float] = []

    def metrics(self, get_spark_s, first_job_s, jvm_mb, drv_mb, plain_walls) -> dict:
        n = len(self.walls)
        recs = self.records
        m: dict[str, float] = {"session.get_spark_s": get_spark_s, "session.first_job_s": first_job_s}

        def layer_sum(layer: str, key: str) -> float:
            return sum(r[key] for r in recs if r["layer"] == layer) / n

        m["queries.call_s"] = layer_sum("queries", "call_s")
        m["queries.action_s"] = layer_sum("queries", "action_s")
        for leg in ("compat.run_job", "compat.pipe_job", "operators.text.word_count"):
            m[f"{leg}.call_s"] = layer_sum(leg, "call_s")
            m[f"{leg}.action_s"] = layer_sum(leg, "action_s")
        compat = [r for r in recs if r["layer"].startswith("compat.")]
        m["compat.spark_jobs_per_job"] = (
            sum(r["call_jobs"] + r["action_jobs"] for r in compat) / len(compat) if compat else 0.0
        )
        m["compat.shuffle_write_mb"] = sum(
            s.metrics["shuffleWriteBytes"] for r in compat for s in r["call_stages"] + r["action_stages"]
        ) / MB / n

        spans, selfs = self.spans, self_times(self.spans)

        def self_sum(name: str) -> float:
            return sum(t for sp, t in zip(spans, selfs) if sp.name == name) / n

        def outer_sum(name: str) -> float:
            return sum(sp.end - sp.start for sp in outermost(spans, name)) / n

        m["operators.dedup.minhash_dedup_pairs.self_s"] = self_sum("operators.dedup.minhash_dedup_pairs")
        m["operators.dedup.verify_jaccard_pairs.call_s"] = outer_sum(_VERIFY)
        m["operators.dedup.lsh_precision"] = self.lsh_precision
        m["operators.graph.connected_components.self_s"] = self_sum("operators.graph.connected_components")
        m["operators.graph.incremental_components.self_s"] = self_sum("operators.graph.incremental_components")
        m["catalog.load_table.calls"] = sum(sp.name == "catalog.load_table" for sp in spans) / n
        m["catalog.load_table_s"] = outer_sum("catalog.load_table")
        for meth in _TABLE_METHODS:
            m[f"table_format.{meth}_s"] = outer_sum(f"table_format.{meth}")
        m["table_format.group_opens"] = self.table.get("group_opens", 0.0) / n
        m["table_format.files_live"] = self.table.get("files_live", 0.0)
        m["table_format.bytes_written_mb"] = self.table.get("bytes_written", 0.0) / MB / n
        m["table_format.prune_ratio"] = self.table.get("prune_ratio", 0.0)
        m["table_format.write_p50_s"] = statistics.median(self.write_lat) if self.write_lat else 0.0
        m["table_format.read_p50_s"] = statistics.median(self.read_lat) if self.read_lat else 0.0
        m["table_format.bytes_stored_per_user_byte"] = self.table.get("stored_per_user", 0.0)

        stages = [s for r in recs for s in r["call_stages"] + r["action_stages"]]

        def st(field: str) -> float:
            return float(sum(s.metrics[field] for s in stages))

        run_s, cpu_s = st("executorRunTime") / 1e3, st("executorCpuTime") / 1e9
        m["spark.jobs"] = sum(r["call_jobs"] + r["action_jobs"] for r in recs) / n
        m["spark.stages"] = len(stages) / n
        m["spark.single_task_stages"] = sum(s.metrics["numTasks"] == 1 for s in stages) / n
        m["spark.tasks"] = st("numTasks") / n
        m["spark.failed_tasks"] = st("numFailedTasks") / n
        m["spark.executor_run_s"] = run_s / n
        m["spark.executor_cpu_s"] = cpu_s / n
        m["spark.gc_s"] = st("jvmGcTime") / 1e3 / n
        m["spark.idle_core_frac"] = 1.0 - run_s / (sum(self.walls) * self.cpus)
        m["spark.input_mb"] = st("inputBytes") / MB / n
        m["spark.shuffle_write_mb"] = st("shuffleWriteBytes") / MB / n
        m["spark.shuffle_read_mb"] = st("shuffleReadBytes") / MB / n
        m["spark.spill_mb"] = st("diskBytesSpilled") / MB / n
        m["python.boundary_frac"] = 1.0 - cpu_s / run_s if run_s > 0 else 0.0
        m["jvm.peak_rss_mb"] = jvm_mb
        m["driver.peak_rss_mb"] = drv_mb
        m["trace_overhead_frac"] = statistics.median(self.walls) / statistics.median(plain_walls) - 1.0
        return {name: (float(m[name]), unit) for name, unit in PER_LAYER}


def traced_passes(run, spark, wl, first_idx: int, n: int) -> LayerView:
    """Run ``n`` traced passes and collect the per-layer view; the tracer
    is removed again before returning."""
    view = LayerView(run.cpus)
    tracer = Tracer(keep_results=(_LSH, _VERIFY))
    store = StatusStore(spark)
    tops = wl.tops
    n_before = len(run.records)
    tracer.install()
    try:
        for i in range(first_idx, first_idx + n):
            if tops is not None:
                files0, opens0 = _files(tops.table.root), tops.table.group_opens
            view.walls.append(run.timed_pass(wl.passes(i), spark, tracer, store)[0])
            if tops is not None:
                new = {p: s for p, s in _files(tops.table.root).items() if p not in files0}
                view.table["bytes_written"] = view.table.get("bytes_written", 0) + sum(new.values())
                view.table["group_opens"] = (
                    view.table.get("group_opens", 0) + tops.table.group_opens - opens0
                )
            if i == first_idx:
                first_pass_spans = len(tracer.spans)
    finally:
        tracer.uninstall()
    view.records = [r for r in run.records[n_before:] if r["traced"]]
    view.spans = tracer.spans
    # Useful outcomes per attempt of the LSH stage, counted on the first
    # traced pass after timing: verified pairs / candidate pairs.
    first = tracer.spans[:first_pass_spans]
    cand = sum(sp.result.count() for sp in first if sp.name == _LSH and sp.result is not None)
    verified = sum(sp.result.count() for sp in first if sp.name == _VERIFY and sp.result is not None)
    view.lsh_precision = verified / cand if cand else 0.0
    timed = [r for r in run.records if r["kind"]]
    view.write_lat = [r["call_s"] + r["action_s"] for r in timed if r["kind"] == "write"]
    view.read_lat = [r["call_s"] + r["action_s"] for r in timed if r["kind"] == "read"]
    if tops is not None:
        t = tops.table
        lo, hi, version = tops.last_range
        live = list(t.snapshot_stats(version))
        live_bytes = sum(os.path.getsize(f) for f in live)
        scanned = sum(os.path.getsize(f) for f in t.pruned_files(col="k", lo=lo, hi=hi, version=version))
        view.table["files_live"] = len(live)
        view.table["prune_ratio"] = scanned / live_bytes if live_bytes else 0.0
        stored = sum(_files(t.root).values())
        view.table["stored_per_user"] = stored / tops.model.user_bytes()
    return view
