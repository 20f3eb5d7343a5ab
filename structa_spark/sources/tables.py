"""Loaders for the test-data star schema (TESTDATA.md).

``events.parquet`` stores nanosecond timestamps, which Spark's parquet
reader rejects by default (PARQUET_TYPE_ILLEGAL). We flip the session
to ``spark.sql.legacy.parquet.nanosAsLong`` for the read and convert
nanos -> microsecond timestamps ourselves (truncating division — the
same truncation DuckDB applies when it reads ns into its us-precision
TIMESTAMP), restoring the flag afterwards so the rest of the session
is unaffected.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_NANOS_TS = {"events": ["ts"]}

_NANOS_FLAG = "spark.sql.legacy.parquet.nanosAsLong"


@contextmanager
def _nanos_as_long(spark: SparkSession):
    old = spark.conf.get(_NANOS_FLAG, "false")
    spark.conf.set(_NANOS_FLAG, "true")
    try:
        yield
    finally:
        spark.conf.set(_NANOS_FLAG, old)


def _normalize_ts(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to TIMESTAMP.

    Parquet ``timestamp[us]`` with isAdjustedToUTC=false reads as
    TIMESTAMP_NTZ, which rejects ``cast("double")`` and diverges from
    DuckDB's plain-TIMESTAMP view of the same file. Normalizing here,
    once, keeps every downstream consumer (window queries, the
    analyzer, user code) on the session-tz TIMESTAMP type.

    The cast reinterprets the wall-clock value in the SESSION
    timezone, so epoch equivalence with a naive-as-UTC reader holds
    only under ``spark.sql.session.timeZone=UTC`` — which every
    session builder in this repo (bench, tests, CLI) pins.
    """
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# ---------------------------------------------------------------------------
# Scale-adaptive read parallelism.
#
# A parquet file is only as parallel as its ROW GROUPS: Spark splits a
# file into byte ranges, but every row group is read whole by the one
# split holding its midpoint, so a single-row-group file scans as ONE
# task no matter how many cores the session has. The testdata tables
# are exactly that shape (one row group each), which serializes every
# query's scan -> project -> partial-aggregate / mapInPandas segment
# on one core while the other N-1 idle.
#
# The remedy is the standard one for unsplittable inputs (optimization
# guide §2.5 "input skew": "one huge unsplittable file ... repartition
# immediately after the read"): one cheap id-keyed exchange of the
# base rows right after the scan, AND ONLY when the footer proves the
# scan cannot reach the session's parallelism by itself. The gate is
# derived from the file's own metadata (row-group count vs
# defaultParallelism, row count vs a rows-per-task floor), never from
# a constant tuned to this box: a production dataset made of many
# files / row groups fails the `n_row_groups < defaultParallelism`
# test and is returned untouched, so nothing is ever re-shuffled at
# 100 TB, while a toy single-row-group file is spread across however
# many cores the current session actually has. Filters and column
# pruning push through Repartition (PushPredicateThroughNonJoin /
# ColumnPruning both handle RepartitionOperation), so pushdown
# semantics at the scan are unchanged — verified by the plan audit.
#
# WHICH tables may spread is a floating-point determinism question,
# not a performance one. Every oracle-gated aggregate over the
# corpus/embedding pipelines rounds its terms onto a 6-dp grid BEFORE
# summing (the repo-wide replay discipline), so their sums agree with
# the DuckDB oracle under ANY partitioning / partial-merge order. The
# relational fact tables (lineitem / orders / events / ...) are
# different: queries like q1 or daily_event_drift sum RAW doubles and
# round once at the end, and those sums were only ever bit-identical
# to the oracle because a single-task scan added values in file order
# on both engines. Splitting them would make the final merge order
# nondeterministic and let `round()` flip on decimal midpoints
# (observed: daily_event_drift's round(avg(value), 4) at sf0.001).
# So only the grid-disciplined tables spread, and they spread BY ID:
# hash partitioning keeps every per-document / per-vector group in
# one map partition, so per-id aggregations still produce exactly one
# deterministic partial each.
_SPREAD_KEYS = {"documents": "doc_id", "embeddings": "vec_id"}

_SPREAD_MIN_ROWS = 256  # below this a single scan task is trivially cheap

_FOOTER_CACHE: dict = {}


def _parquet_footer(path: str):
    """(num_rows, num_row_groups) from the local parquet footer,
    cached per path; (None, None) when unreadable (directory
    datasets, object stores) — the spread gate then stays off."""
    if path not in _FOOTER_CACHE:
        stats = (None, None)
        try:
            if os.path.isfile(path):
                import pyarrow.parquet as pq

                md = pq.ParquetFile(path).metadata
                stats = (md.num_rows, md.num_row_groups)
        except Exception:
            pass
        _FOOTER_CACHE[path] = stats
    return _FOOTER_CACHE[path]


def _spread(spark: SparkSession, df: DataFrame, path: str,
            name: str, spread: bool) -> DataFrame:
    # CONSUMER opt-in (measured in optimization round 11): the
    # exchange pays off only when the downstream per-row work is
    # heavy (codec inflate/parse, many-hash shingling) — for cheap
    # scans, and especially for driver-loop shapes that re-execute
    # the base relation per round, the extra exchange + 32-task
    # stages COST more than the parallelism buys (same-session A/B:
    # unigram vocab trainer 2.4x slower spread, epub codec 2x faster
    # spread). The per-row cost varies ~1000x across consumers, so no
    # table-level rows-per-task floor can decide this; the call site
    # that knows the work opts in.
    if not spread:
        return df
    key = _SPREAD_KEYS.get(name)
    if key is None:
        return df
    rows, rgs = _parquet_footer(path)
    if rows is None or rows < _SPREAD_MIN_ROWS:
        return df
    par = spark.sparkContext.defaultParallelism
    if rgs >= par:
        return df
    return df.repartition(par, F.col(key))


def load_table(spark: SparkSession, sf_dir: str, name: str,
               spread: bool = False) -> DataFrame:
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name in _NANOS_TS:
        with _nanos_as_long(spark):
            df = spark.read.parquet(path)
            # force analysis within the flag scope
            df.schema
        for col in _NANOS_TS[name]:
            if dict(df.dtypes).get(col) == "bigint":
                # integer `div`, NOT `/`: float division of ~1.7e18 ns
                # loses precision past double's 53-bit mantissa and
                # lands a microsecond off DuckDB's truncation
                df = df.withColumn(
                    col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        return _spread(spark, _normalize_ts(df), path, name, spread)
    return _spread(spark, _normalize_ts(spark.read.parquet(path)),
                   path, name, spread)

