r"""MapReduce-compat job API — the reference's user-facing contract on Spark.

GridMR's entire execution model (SURVEY.md §2.A) is: split text input ->
stream lines through a user *mapper* (stdout lines `key\tvalue`) ->
hash-partition keys into R buckets -> materialize -> stream each bucket
through a user *reducer* -> concatenate reducer outputs. This module keeps
that contract bug-for-bug while running on Spark's shuffle:

- Tab codec: key = prefix before the FIRST tab, value = the remainder;
  lines with no tab are silently dropped (mapper.cc:87-90).
- Reducer input is the WHOLE partition as an unsorted line stream — GridMR
  byte-concatenates the map outputs with no sort and no grouping
  (reducer.cc:56-66), so a compat reducer must do its own accumulation
  (as cpp/worker/reduce.cc:10-22 does with a hash map).
- Output is the UNION ALL of reducer outputs (final.txt concat,
  ControlServiceImpl.java:397-427); order across partitions is undefined,
  matching the reference's nondeterministic output order.
- ``pipe_job`` runs actual executables over stdin/stdout via RDD.pipe —
  the literal binary contract (mapper.cc:45-103), minus the
  compile-on-worker step (ship prebuilt binaries via sc.addFile).

Only key CO-LOCATION is contractual, not bucket assignment: GridMR uses
impl-defined std::hash (SURVEY.md §7.2 explicitly rejects reproducing it),
so we use Spark's portable_hash.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.rdd import RDD
from pyspark.sql import DataFrame, SparkSession


def parse_tab_kv(lines: Iterable[str]) -> Iterator[tuple[str, str]]:
    """`key\tvalue` codec with tabless-line drop (mapper.cc:87-90 parity)."""
    for line in lines:
        line = line.rstrip("\n")
        idx = line.find("\t")
        if idx == -1:
            continue  # silently dropped, as the reference does
        yield line[:idx], line[idx + 1 :]


def format_tab_kv(pairs: Iterable[tuple[str, str]]) -> Iterator[str]:
    for k, v in pairs:
        yield f"{k}\t{v}"


# Declared, not inferred: inferring runs an extra Spark job over the reducer
# output, and fails with "RDD is empty" when the reducers emit nothing
# (GridMR writes an empty final.txt then).
_OUT_SCHEMA = "value string"


def _as_lines_rdd(spark: SparkSession, source: DataFrame | RDD | str) -> RDD:
    if isinstance(source, str):
        return spark.sparkContext.textFile(source)
    if isinstance(source, DataFrame):
        if len(source.columns) != 1:
            raise ValueError("line-oriented input needs exactly one string column")
        return source.rdd.map(lambda r: r[0])
    return source


def run_job(
    spark: SparkSession,
    source: DataFrame | RDD | str,
    map_fn: Callable[[str], Iterable[str]],
    reduce_fn: Callable[[Iterator[str]], Iterable[str]],
    n_reducers: int = 4,
) -> DataFrame:
    """Run a GridMR-shaped job with Python callables.

    map_fn: line -> iterable of output lines (tab-separated KV).
    reduce_fn: iterator over ONE partition's lines (unsorted, ungrouped —
    the concat-stream contract) -> iterable of output lines.
    Returns DataFrame[value: string] = UNION ALL of reducer outputs.
    """
    lines = _as_lines_rdd(spark, source)
    kv = lines.flatMap(map_fn).mapPartitions(parse_tab_kv)
    # partitionBy guarantees key co-location (A5); values stay unsorted (A8).
    partitioned = kv.partitionBy(max(1, n_reducers))
    out = partitioned.mapPartitions(
        lambda it: reduce_fn(iter(f"{k}\t{v}" for k, v in it))
    )
    return out.map(lambda line: (line,)).toDF(_OUT_SCHEMA)


def pipe_job(
    spark: SparkSession,
    source: DataFrame | RDD | str,
    map_cmd: str,
    reduce_cmd: str,
    n_reducers: int = 4,
) -> DataFrame:
    """Run a GridMR job with actual executables over the stdin/stdout pipe
    contract (A3/A4/A9 parity). Commands run once per partition; stdout
    lines are parsed with the same tab codec. Ship binaries to executors
    with spark.sparkContext.addFile + SparkFiles.get when not on a shared FS.
    """
    lines = _as_lines_rdd(spark, source)
    kv = lines.pipe(map_cmd).mapPartitions(parse_tab_kv)
    partitioned = kv.partitionBy(max(1, n_reducers))
    out = partitioned.map(lambda kvp: f"{kvp[0]}\t{kvp[1]}").pipe(reduce_cmd)
    return out.map(lambda line: (line,)).toDF(_OUT_SCHEMA)


def wordcount_map(line: str) -> Iterator[str]:
    """Reference mapper (cpp/worker/map.cc:12-21): normalize, tokenize,
    emit `word\t1`."""
    import re

    for tok in re.sub(r"[^a-zA-Z0-9]+", " ", line).lower().split():
        yield f"{tok}\t1"


def wordcount_reduce(lines: Iterator[str]) -> Iterator[str]:
    """Reference reducer (cpp/worker/reduce.cc:10-22): hash-map accumulate
    over the unsorted partition stream, emit `word\tsum`."""
    acc: dict[str, int] = {}
    for k, v in parse_tab_kv(lines):
        acc[k] = acc.get(k, 0) + int(v)
    for k, s in acc.items():
        yield f"{k}\t{s}"
