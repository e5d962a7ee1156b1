"""Unit tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import threading
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import pytest  # noqa: E402

import layers  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

# ---------------------------------------------------------------------------
# status-store diff
# ---------------------------------------------------------------------------


class _Str:
    def __init__(self, s):
        self.s = s

    def toString(self):
        return self.s


class _Stage:
    def __init__(self, sid, status="COMPLETE", attempt=0, **metrics):
        self._sid, self._attempt, self._status = sid, attempt, status
        self._m = {f: 0 for f in spans.STAGE_FIELDS} | metrics

    def stageId(self):
        return self._sid

    def attemptId(self):
        return self._attempt

    def status(self):
        return _Str(self._status)

    def __getattr__(self, name):
        if name in spans.STAGE_FIELDS:
            return lambda: self._m[name]
        raise AttributeError(name)


class _Job:
    def __init__(self, jid):
        self._jid = jid

    def jobId(self):
        return self._jid


class _Iter:
    def __init__(self, items, reads):
        self.items, self.i, self.reads = items, 0, reads

    def hasNext(self):
        return self.i < len(self.items)

    def next(self):
        self.i += 1
        self.reads.append(self.items[self.i - 1])
        return self.items[self.i - 1]


class _Seq:
    def __init__(self, items, reads):
        self.items, self.reads = items, reads

    def iterator(self):
        return _Iter(self.items, self.reads)


class _FakeStore:
    """Newest-first stage and job lists, as the AppStatusStore returns them."""

    def __init__(self):
        self.stages: list[_Stage] = []
        self.jobs: list[_Job] = []
        self.reads: list = []

    def stageList(self, *args):
        assert len(args) == 5
        return _Seq(sorted(self.stages, key=lambda s: -s.stageId()), self.reads)

    def jobsList(self, statuses):
        return _Seq(sorted(self.jobs, key=lambda j: -j.jobId()), self.reads)


def _fake_status_store(store: _FakeStore) -> spans.StatusStore:
    class _Bus:
        def waitUntilEmpty(self, ms):
            return True

    class _Java:
        def statusStore(self):
            return store

        def listenerBus(self):
            return _Bus()

    class _Jvm:
        class java:
            class util:
                ArrayList = list

        double = float

    class _Gateway:
        def new_array(self, typ, n):
            return []

    class _Sc:
        _jvm = _Jvm()
        _gateway = _Gateway()

        class _jsc:
            @staticmethod
            def sc():
                return _Java()

    class _Spark:
        sparkContext = _Sc()

    return spans.StatusStore(_Spark())


def test_stage_diff_reports_only_new_stages_and_jobs():
    store = _FakeStore()
    store.stages = [_Stage(0), _Stage(1)]
    store.jobs = [_Job(0)]
    ss = _fake_status_store(store)  # history: stages 0-1, job 0
    store.stages += [_Stage(2, shuffleWriteBytes=100), _Stage(3, status="SKIPPED"), _Stage(4, numTasks=1)]
    store.jobs += [_Job(1), _Job(2)]
    store.reads.clear()
    new, n_jobs = ss.diff()
    assert sorted(s.key for s in new) == [(2, 0), (4, 0)]  # skipped stage 3 dropped
    assert n_jobs == 2
    assert {s.key: s.metrics["shuffleWriteBytes"] for s in new}[(2, 0)] == 100
    # the newest-first list is read only down to the first stage seen before
    assert [s.stageId() for s in store.reads if isinstance(s, _Stage)] == [4, 3, 2, 1]
    assert ss.diff() == ([], 0)


def test_new_stages_keeps_a_retry_attempt():
    seen = {(5, 0)}
    recs = [spans.StageRec((5, 1), "COMPLETE"), spans.StageRec((5, 0), "COMPLETE")]
    assert [r.key for r in spans.new_stages(recs, seen)] == [(5, 1)]
    assert seen == {(5, 0), (5, 1)}


# ---------------------------------------------------------------------------
# spans and self time
# ---------------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    S = spans.Span
    sp = [
        S("job", 0.0, 10.0),
        S("a", 1.0, 4.0, parent=0),
        S("b", 3.0, 6.0, parent=0),  # overlaps a: union 1..6 = 5
        S("c", 2.0, 3.0, parent=1),
        S("d", 9.0, 12.0, parent=0),  # runs past its parent: clipped to 9..10
    ]
    assert spans.self_times(sp) == pytest.approx([10.0 - 5.0 - 1.0, 2.0, 3.0, 1.0, 3.0])


def test_outermost_skips_nested_same_name():
    S = spans.Span
    sp = [S("read", 0, 5), S("x", 1, 4, parent=0), S("read", 2, 3, parent=1), S("read", 6, 7)]
    assert [s.start for s in spans.outermost(sp, "read")] == [0, 6]


def test_thread_spans_attach_to_the_open_job():
    tr = spans.Tracer()

    def worker():
        with tr.span("in-thread"):
            pass

    with tr.job("job"):
        with tr.span("call"):
            th = threading.Thread(target=worker)
            th.start()
            th.join(timeout=10)
    assert not th.is_alive()
    by_name = {s.name: s for s in tr.spans}
    assert by_name["in-thread"].parent == 0
    assert by_name["call"].parent == 0


def test_install_wraps_and_uninstall_restores():
    import gridmr_spark.catalog as catalog
    import gridmr_spark.operators.dedup as dedup

    before = (catalog.load_table, dedup.verify_jaccard_pairs)
    tr = spans.Tracer()
    tr.install()
    try:
        assert catalog.load_table.__wrapped__ is before[0]
        assert dedup.verify_jaccard_pairs.__wrapped__ is before[1]
    finally:
        tr.uninstall()
    assert (catalog.load_table, dedup.verify_jaccard_pairs) == before


# ---------------------------------------------------------------------------
# percentiles, names, RSS
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("n,want", [(5, None), (19, None), (20, 50.0), (39, 50.0),
                                    (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0),
                                    (200, 95.0), (1000, 99.0), (10_000, 99.9)])
def test_tail_percentile_leaves_ten_samples_beyond(n, want):
    p = stats.tail_percentile(n)
    assert p == want
    if p is not None:
        values = list(range(n))
        beyond = [v for v in values if v > stats.percentile(values, p)]
        assert len(beyond) >= 10


def test_metric_names_and_units():
    for good in ("setup_s", "spark.idle_core_frac", "a-b.c_d9"):
        stats.check_metric(good, "s")
    for bad in ("", "_x", "sp ace", "x/y", "é", "a" * 65):
        with pytest.raises(ValueError):
            stats.check_metric(bad, "s")
    with pytest.raises(ValueError):
        stats.check_metric("ok", "m s")
    for name, unit in layers.PER_LAYER:
        stats.check_metric(name, unit)


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(layers.PER_LAYER)
    assert {m["name"] for m in spec["end_to_end"]} == {"setup_s", "pass_cpu_s"}
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    import run

    for w in workloads.WORKLOADS:
        args = run.parse(["--workload", w, "--seed", "1", "--seconds", str(spec["run_seconds"])])
        assert args.workload == w and args.trace == 0
    for m in spec["end_to_end"] + spec["per_layer"]:
        stats.check_metric(m["name"], m["unit"])


def test_rss_readers():
    assert stats.parse_vmhwm_kb("Name:\tjava\nVmHWM:\t  2048 kB\nVmRSS:\t1 kB\n") == 2048
    with pytest.raises(ValueError):
        stats.parse_vmhwm_kb("Name:\tjava\n")
    assert stats.jvm_peak_rss_mb(os.getpid()) > 1
    assert stats.driver_peak_rss_mb() > 1


def test_busy_cpu_leaves_out_idle_iowait_and_steal():
    # user nice system idle iowait irq softirq steal guest guest_nice
    line = "cpu  100 2 30 5000 40 5 6 700 9 0\n"
    assert stats.parse_busy_jiffies(line) == 100 + 2 + 30 + 5 + 6
    with pytest.raises(ValueError):
        stats.parse_busy_jiffies("cpu0 1 2 3 4 5 6 7 8 9 0")
    t0 = stats.busy_cpu_s()
    sum(i * i for i in range(300_000))
    assert stats.busy_cpu_s() >= t0


def test_timed_pass_count_is_fixed_by_the_run_length():
    import run

    assert run.n_passes(21, 10.0) == 3
    assert run.n_passes(21, 7.0) == 3
    assert run.n_passes(1, 7.0) == run.MIN_PASSES


# ---------------------------------------------------------------------------
# the correctness gate
# ---------------------------------------------------------------------------


def test_gate_catches_one_word_count_off_by_one():
    tally = Counter({"spark": 3, "gridmr": 2, "map": 1})
    good = ["spark\t3", "gridmr\t2", "map\t1"]
    assert workloads.check_tab_counts(good, tally, "run_job") == []
    # a reducer that splits one key over two output lines still sums right
    assert workloads.check_tab_counts(["spark\t1", "spark\t2", "gridmr\t2", "map\t1"], tally, "x") == []
    bad = ["spark\t3", "gridmr\t3", "map\t1"]
    problems = workloads.check_tab_counts(bad, tally, "run_job")
    assert len(problems) == 1 and "gridmr" in problems[0]
    assert workloads.check_pair_counts([("spark", 3), ("gridmr", 2)], tally, "word_count")


def test_text_generator_tally_matches_the_reference_tokenizer(tmp_path):
    import re

    import gen

    tally = gen.make_text_shards(str(tmp_path), seed=5, total_bytes=40_000, n_shards=2)
    got: Counter = Counter()
    for name in sorted(os.listdir(tmp_path)):
        with open(tmp_path / name, encoding="ascii") as fh:
            for line in fh:
                got.update(re.sub(r"[^a-zA-Z0-9]+", " ", line).lower().split())
    assert got == tally
    assert sorted(os.listdir(tmp_path)) == ["input-000.txt", "input-001.txt"]
    again = gen.make_text_shards(str(tmp_path / "again"), seed=5, total_bytes=40_000, n_shards=2)
    assert again == tally


def test_documents_keep_out_of_the_lsh_grey_zone(tmp_path):
    import pandas as pd

    import gen

    gen.write_documents(str(tmp_path), seed=3, n_docs=400)
    texts = pd.read_parquet(tmp_path / "documents.parquet")["text"].tolist()
    pairs = gen.jaccard_pairs(texts, 0.3)
    assert pairs and min(pairs.values()) >= 0.9
