"""The two workloads: their inputs, job mixes and correctness checks.

A job is one call into the program plus, when the call returns a
DataFrame, the action that executes it (a ``noop`` write). Every job has a
check the gate pass runs once per run, untimed.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

import gen

HERE = os.path.dirname(os.path.abspath(__file__))

# The TPC-H shapes in the olap mix: scan + aggregate (q1, q6), a 6-way
# join (q5) and an outer join under a two-level aggregate (q13). The other
# 18 registry shapes are left out so a run fits its time budget (see
# BENCHMARK.md).
TPCH_QUERIES = (
    "q1_pricing_summary", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q13_order_distribution",
)
# The near-dup job: MinHash+LSH pairs verified by exact Jaccard, then
# connected components (covers the operators of dedup_minhash_lsh too).
DEDUP_QUERIES = ("dedup_minhash_clusters",)

# Input sizes (see BENCHMARK.md for why these and not larger).
TEXT_BYTES, TEXT_SHARDS = 400_000, 4
N_DOCS = 200
TPCH_SF = 0.01
BATCH_ROWS, FILL_BATCHES = 1_000, 3


@dataclass
class Job:
    name: str
    layer: str  # the per-layer group its call/action times land in
    call: Callable[[], object]
    check: Callable[[object], list[str]]
    kind: str = ""  # "write" / "read" for table operations


@dataclass
class Workload:
    input_desc: str
    passes: Callable[[int], list[Job]]  # pass index -> jobs, in run order
    nominal_pass_s: float  # wall s of a pass on a 4-vCPU VM; sizes the timed pass count
    final_checks: list[Callable[[], list[str]]] = field(default_factory=list)
    tops: TableOps | None = None  # the table part, if the workload has one


def _counter_diff(got: Counter, want: Counter, what: str) -> list[str]:
    if got == want:
        return []
    bad = sorted(set(got) ^ set(want) | {w for w in got.keys() & want.keys() if got[w] != want[w]})
    sample = [(w, got.get(w), want.get(w)) for w in bad[:5]]
    return [f"{what}: {len(bad)} words differ (word, got, want) e.g. {sample}"]


def check_tab_counts(rows: list[str], tally: Counter, what: str) -> list[str]:
    """Compare ``word\\tcount`` output lines with the generator's tally."""
    got: Counter = Counter()
    for line in rows:
        word, _, cnt = line.partition("\t")
        got[word] += int(cnt)
    return _counter_diff(got, tally, what)


def check_pair_counts(rows: list[tuple[str, int]], tally: Counter, what: str) -> list[str]:
    got: Counter = Counter()
    for word, cnt in rows:
        got[word] += int(cnt)
    return _counter_diff(got, tally, what)


# ---------------------------------------------------------------------------
# registry queries checked against their DuckDB oracles
# ---------------------------------------------------------------------------


def _duckdb_views(data_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def registry_jobs(spark, data_dir: str, names, con) -> list[Job]:
    from gridmr_spark.queries import load_all
    from gridmr_spark.testing import compare_query

    reg = load_all()
    jobs = []
    for name in names:
        q = reg[name]
        if q.oracle is None:
            raise ValueError(f"{name} has no oracle to check against")
        jobs.append(Job(
            name=name, layer="queries",
            call=lambda fn=q.fn: fn(spark, data_dir),
            check=lambda df, sql=q.oracle: compare_query(df, con, sql),
        ))
    return jobs


# ---------------------------------------------------------------------------
# mr_neardup: GridMR's own dataflow (three legs over the same bytes) plus
# the near-dup registry queries
# ---------------------------------------------------------------------------


def mr_neardup(spark, root: str, seed: int) -> Workload:
    from gridmr_spark.compat.mapreduce import (
        pipe_job, run_job, wordcount_map, wordcount_reduce,
    )
    from gridmr_spark.operators.text import word_count

    text_dir = os.path.join(root, "text")
    tally = gen.make_text_shards(text_dir, seed, TEXT_BYTES, TEXT_SHARDS)
    data_dir = os.path.join(root, "data")
    gen.write_documents(data_dir, seed, N_DOCS)
    con = _duckdb_views(data_dir, ["documents"])
    src = text_dir  # a directory of shards: one input split per shard
    map_cmd = f"awk -f {os.path.join(HERE, 'map.awk')}"
    red_cmd = f"awk -f {os.path.join(HERE, 'reduce.awk')}"

    def lines(df) -> list[str]:
        return [r[0] for r in df.collect()]

    mr = [
        Job("compat.run_job", "compat.run_job",
            lambda: run_job(spark, src, wordcount_map, wordcount_reduce, n_reducers=4),
            lambda df: check_tab_counts(lines(df), tally, "run_job")),
        Job("compat.pipe_job", "compat.pipe_job",
            lambda: pipe_job(spark, src, map_cmd, red_cmd, n_reducers=4),
            lambda df: check_tab_counts(lines(df), tally, "pipe_job")),
        Job("operators.text.word_count", "operators.text.word_count",
            lambda: word_count(spark.read.text(src), text_col="value"),
            lambda df: check_pair_counts([tuple(r) for r in df.collect()], tally, "word_count")),
    ]
    dedup = registry_jobs(spark, data_dir, DEDUP_QUERIES, con)

    def passes(i: int) -> list[Job]:
        jobs = mr + dedup
        random.Random(seed * 1000 + i).shuffle(jobs)
        return jobs

    size = sum(os.path.getsize(os.path.join(text_dir, f)) for f in os.listdir(text_dir))
    desc = f"text {size / 1e6:.2f} MB in {TEXT_SHARDS} shards; {N_DOCS} documents"
    return Workload(desc, passes, 10.0)


# ---------------------------------------------------------------------------
# olap_ingest: TPC-H shapes plus a versioned table taking writes and reads
# ---------------------------------------------------------------------------


class TableModel:
    """What the table must hold: key -> (g, v, s), kept in step with every
    write the workload makes."""

    def __init__(self) -> None:
        self.rows: dict[int, tuple[int, int, str]] = {}
        self.next_key = 0
        self.low_key = 0

    def apply(self, pdf) -> None:
        for k, g, v, s in pdf.itertuples(index=False):
            self.rows[int(k)] = (int(g), int(v), s)

    def delete_below(self, bound: int) -> None:
        for k in [k for k in self.rows if k < bound]:
            del self.rows[k]
        self.low_key = bound

    def user_bytes(self) -> int:
        # logical size of the live rows as written: 8 + 4 + 8 bytes of
        # numbers plus the payload string
        return sum(20 + len(s) for _, _, s in self.rows.values())


def _rows_of(df) -> dict[int, tuple[int, int, str]]:
    return {int(r["k"]): (int(r["g"]), int(r["v"]), r["s"]) for r in df.collect()}


def _expect(got: dict, want: dict, what: str) -> list[str]:
    if got == want:
        return []
    bad = sorted(set(got) ^ set(want) | {k for k in got.keys() & want.keys() if got[k] != want[k]})
    return [f"{what}: {len(bad)} keys differ (e.g. {bad[:5]}); got {len(got)} rows, want {len(want)}"]


class TableOps:
    """The table half of olap_ingest. ``jobs(i)`` is the write/read mix of
    pass ``i``; the same seed gives the same batches, keys and ranges."""

    def __init__(self, spark, root: str, seed: int) -> None:
        from gridmr_spark.sources.table_format import ManifestTable

        self.spark = spark
        self.table = ManifestTable(os.path.join(root, "table"))
        self.model = TableModel()
        self.rng = np.random.default_rng(seed + 7)
        self.tag = 0
        self.snapshots: dict[int, dict] = {}  # version -> expected rows
        self.last_range = (0, 0, 0)  # (lo, hi, version) of the latest range read

    def _df(self, pdf):
        return self.spark.createDataFrame(pdf)

    def _batch(self):
        keys = np.arange(self.model.next_key, self.model.next_key + BATCH_ROWS)
        self.model.next_key += BATCH_ROWS
        self.tag += 1
        return gen.table_rows(self.rng, keys, self.tag)

    def fill(self) -> None:
        """One commit of FILL_BATCHES batches: the steady table size."""
        import pandas as pd

        pdf = pd.concat([self._batch() for _ in range(FILL_BATCHES)], ignore_index=True)
        self.table.commit(self._df(pdf))
        self.model.apply(pdf)

    def remember(self) -> None:
        """Record the current version's expected rows for time travel."""
        self.snapshots[self.table.current_version()] = dict(self.model.rows)

    def jobs(self, i: int) -> list[Job]:
        t, m, spark = self.table, self.model, self.spark
        rng = self.rng
        ok = lambda _: []  # noqa: E731 - writes are checked by the reads and the final checks

        def commit():
            pdf = self._batch()
            v = t.commit(self._df(pdf))
            m.apply(pdf)
            return v

        def merge():
            live = np.fromiter(m.rows, dtype=np.int64)
            keys = np.sort(rng.choice(live, size=BATCH_ROWS // 4, replace=False))
            self.tag += 1
            pdf = gen.table_rows(rng, keys, self.tag)
            v = t.merge_by_key(spark, self._df(pdf), key="k")
            m.apply(pdf)
            return v

        def delete():
            bound = m.low_key + BATCH_ROWS
            v = t.delete_where(spark, f"k < {bound}", mode="dv" if i % 2 == 0 else "cow")
            m.delete_below(bound)
            return v

        def compact():
            return t.compact_small(spark)

        point_key = int(rng.integers(m.low_key + BATCH_ROWS, m.next_key))
        lo = int(rng.integers(m.low_key + BATCH_ROWS, m.next_key - BATCH_ROWS))
        hi = lo + BATCH_ROWS // 2

        def read_range():
            self.last_range = (lo, hi, t.current_version())
            return t.read_pruned(spark, col="k", lo=lo, hi=hi)

        def check_point(df):
            want = {k: r for k, r in m.rows.items() if k == point_key}
            return _expect(_rows_of(df), want, f"read_pruned k={point_key}")

        def check_range(df):
            want = {k: r for k, r in m.rows.items() if lo <= k <= hi}
            return _expect(_rows_of(df), want, f"read_pruned k in [{lo}, {hi}]")

        def agg():
            from pyspark.sql import functions as F

            return t.read(spark).groupBy("g").agg(
                F.count("*").alias("n"), F.sum("v").alias("sv")
            )

        def check_agg(df):
            want: dict[int, list[int]] = {}
            for g, v, _ in m.rows.values():
                acc = want.setdefault(g, [0, 0])
                acc[0] += 1
                acc[1] += v
            got = {int(r["g"]): [int(r["n"]), int(r["sv"])] for r in df.collect()}
            return [] if got == want else [f"read+group-by: got {len(got)} groups, want {len(want)}; differ"]

        # compact_small ends every pass, so every pass starts from the same
        # layout: one compacted file set
        return [
            Job("table.commit", "table_format", commit, ok, "write"),
            Job("table.merge_by_key", "table_format", merge, ok, "write"),
            Job("table.delete_where", "table_format", delete, ok, "write"),
            Job("table.read_pruned_point", "table_format",
                lambda: t.read_pruned(spark, col="k", lo=point_key, hi=point_key), check_point, "read"),
            Job("table.read_pruned_range", "table_format", read_range, check_range, "read"),
            Job("table.read_group_by", "table_format", agg, check_agg, "read"),
            Job("table.compact_small", "table_format", compact, ok, "write"),
        ]

    def final_checks(self) -> list[str]:
        """The latest snapshot and every remembered version, read back."""
        problems = _expect(_rows_of(self.table.read(self.spark)), self.model.rows, "final snapshot")
        for v, want in self.snapshots.items():
            problems += _expect(_rows_of(self.table.read(self.spark, version=v)), want, f"version {v}")
        return problems


def olap_ingest(spark, root: str, seed: int) -> Workload:
    data_dir = os.path.join(root, "data")
    rows = gen.write_tpch(data_dir, seed, TPCH_SF)
    con = _duckdb_views(data_dir, list(rows))
    olap = registry_jobs(spark, data_dir, TPCH_QUERIES, con)
    tops = TableOps(spark, root, seed)
    tops.fill()
    tops.remember()

    def passes(i: int) -> list[Job]:
        jobs = list(olap)
        random.Random(seed * 1000 + i).shuffle(jobs)
        return jobs + tops.jobs(i)

    desc = (
        f"TPC-H shapes at sf{TPCH_SF} ({rows['lineitem']} lineitem rows); table of "
        f"{FILL_BATCHES * BATCH_ROWS} live rows, {BATCH_ROWS}-row batches"
    )
    return Workload(desc, passes, 7.0, [tops.final_checks], tops)


WORKLOADS = {"mr_neardup": mr_neardup, "olap_ingest": olap_ingest}
