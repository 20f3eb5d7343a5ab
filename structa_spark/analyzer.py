"""The Spark-first structure-inference engine.

The reference analyzes a fully-materialized Python object tree by
recursive descent, re-walking the raw data once per level
(reference: structa/analyzer.py:400-492, O(depth x N)). This engine
instead:

1. **Plans** leaf extraction from the DataFrame schema: leaves sharing
   the same repetition context (chain of array/map explosions) are
   grouped so each context is profiled by one set of jobs.
2. Runs **phase A**, a wide aggregation per context computing, for
   every leaf at once: counts, null/empty counts, min/max, string
   length ranges, quartiles (mergeable KLL sketches,
   ``kll_sketch_agg_double``) and distinct cardinality (DataSketches
   HLL, ``hll_sketch_agg``) — fully JVM-side, map-side partial
   aggregation, no shuffle of row data (only the scalar agg state).
3. Builds per context ONE frequency-compressed ``(leaf, value,
   count)`` relation — structa's native column multiset,
   ``groupBy(leaf, value).count()`` — over the leaves whose phase-A
   HLL estimate says their values repeat (in exact mode also every
   string leaf). It is persisted, and its consumers read each
   DISTINCT value once instead of once per occurrence:

   * phase B: the failure count of every candidate string conversion
     (bool word pairs, int bases o/d/x, float, datetime formats);
   * top-k / bottom-k frequency samples;
   * per-position character sets of fixed-width strings, feeding the
     CharClass induction in :mod:`structa_spark.chars`;
   * exact-mode lexicographic string quartiles.

   The relation runs no job of its own: the consumers are submitted
   as soon as phase A lands, and their concurrent jobs build the
   cached relation once. Near-unique leaves stream phase B and the
   char-set job over the input instead. So does every leaf of a
   context whose relation holds fewer than ``_SHARED_RELATION_MIN``
   values: on a small input the cache costs more than it saves, so
   the relation is not persisted and only top-k and the quartiles
   read it.
4. Classifies each leaf **driver-side from the aggregates** (KB-sized)
   using the reference's threshold semantics: ``bad_threshold`` over
   occurrences, ``empty_threshold`` for blank strings,
   ``null_threshold`` for nulls, the numeric tower Bool < Int < Float,
   the numeric-timestamp heuristic over min/max, and the
   record-vs-table ``field_threshold`` duality.

A small file input is first repartitioned and copied to the executors
as a lazy local checkpoint (:func:`_prepare_input`): the repartition
runs as one job, and the first phase-A jobs fill the copy while they
aggregate, so no job only builds a cache. Per context that is then two
waves of Spark jobs — phase A, and the relation's consumers with the
streaming phase B — all submitted to one worker pool, so the contexts
overlap; char patterns of streaming leaves and tuple induction follow
on the calling thread. Every query is sent as SQL text (``selectExpr``,
``where``, ``F.expr``), not as a Column tree that costs a py4j round
trip per function call, and every job is described as ``analyze:
<phase>``.
None of this materializes data on the driver: every job reduces to
per-leaf scalars. The relation is persisted on the executors with one
row per distinct value of its leaves; the HLL gate admits a leaf with
under 90% distinct values, so a leaf just under the gate puts nearly
all of its occurrences into the relation's shuffle.
"""

from __future__ import annotations

import datetime as _dt
from contextlib import contextmanager
from dataclasses import dataclass, field as dc_field, fields as dc_fields, replace
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from . import conversions
from .chars import induce_pattern
from .conversions import sql_str
from .model import (
    BoolT, DateTimeT, Empty, FieldT, FloatT, IntT, ListT, Node, RecordT,
    StrReprT, StrT, TableT, TupleT, URLT, ValueAny, merge, record_similarity,
    NumReprT,
)
from .stats import LengthStats, Stats


@dataclass(frozen=True)
class AnalyzerConfig:
    """Inference thresholds (reference: structa/analyzer.py:119-145).

    Thresholds are measured over *occurrences*, not distinct values
    (reference: structa/conversions.py:38-44).
    """

    bad_threshold: float = 0.02     # tolerated conversion failures
    empty_threshold: float = 0.98   # tolerated blank strings
    null_threshold: float = 0.99    # tolerated nulls
    field_threshold: int = 20       # record vs table distinct-key gate
    merge_threshold: float = 0.5    # record-collapse similarity gate
    max_numeric_len: int = 30       # only try conversions on short strings
    strip_whitespace: bool = False  # trim strings before analysis
    exact: bool = False             # exact quartiles/distincts (oracle mode)
    # plan wide homogeneous structs (> field_threshold fields, one
    # common type) as ONE unpivoted (key, value) context instead of
    # per-field contexts; False forces the per-field plan (the
    # record-vs-table decision then happens at assembly time via
    # _maybe_table — same result, unboundedly many jobs on wide docs)
    unpivot_tables: bool = True
    # numeric-timestamp heuristic window (reference analyzer.py:742-770)
    epoch: str = "unix"             # unix | excel | custom
    epoch_base: Optional[_dt.datetime] = None   # base for epoch='custom'
    scale: float = 1.0              # units -> seconds multiplier
    min_timestamp: Optional[_dt.datetime] = None   # default: now - 20y
    max_timestamp: Optional[_dt.datetime] = None   # default: now + 10y


_TOP_K = 3                  # top-k / bottom-k frequency sample size
_MAX_PATTERN_LEN = 64       # induce char patterns up to this width
# KLL-doubles sketch parameter for the mergeable quantile summary
# carried in Stats.qsketches (k=200 -> ~1.65% worst-case rank error,
# ~3 KB serialized); sketch-mode quartiles read from the same sketch,
# so merge_profiles folds the very numbers shown
_KLL_K = 200
# target relative standard error of the DataSketches HLL distinct
# estimate in sketch mode (sets its lgK, see _hll_lg_k). Tight (0.5%)
# because the uniqueness flag is derived from it: a loose 5% sketch
# can't distinguish "unique" from "2% duplicated" at all. ~32 KB of
# registers per column sketch — still negligible against executor
# memory.
_DISTINCT_RSD = 0.005


# ---------------------------------------------------------------------------
# extraction planning
# ---------------------------------------------------------------------------

@dataclass
class _Leaf:
    path: Tuple[str, ...]       # logical path from the root
    key: str                    # unique agg-column prefix
    expr: str                   # column expression within the context df
    dtype: T.DataType
    role: str = "value"         # value | map_key


@dataclass
class _Context:
    """One repetition context == one Spark job."""

    id: int
    df: DataFrame
    leaves: List[_Leaf] = dc_field(default_factory=list)
    # container length leaves: size(col) stats computed in the parent
    # context (path, key, expr producing an INT size)
    length_leaves: List[_Leaf] = dc_field(default_factory=list)


def _wide_table_struct(dtype: T.DataType,
                       cfg: AnalyzerConfig) -> Optional[T.DataType]:
    """A struct wider than ``field_threshold`` whose fields all share
    one Spark type is going to collapse to a table anyway
    (reference: structa/analyzer.py:422-443 — the record-vs-table
    duality). Detect it at PLAN time so it can be profiled via
    unpivot: one (key, value) repetition context instead of one
    context per field. A real USN database (~6000 advisory keys)
    plans 2 jobs instead of thousands; the combined value column also
    matches the reference's re-analysis of merged samples
    (analyzer.py:354-360) more closely than merging per-field
    summaries would.

    Returns the common field type, or None when the struct should be
    profiled field-by-field (narrow, heterogeneous, or all-null).
    """
    if not cfg.unpivot_tables:
        return None
    if not isinstance(dtype, T.StructType):
        return None
    if len(dtype.fields) <= cfg.field_threshold:
        return None
    common = {f.dataType.simpleString() for f in dtype.fields}
    if len(common) != 1:
        return None
    val_dt = dtype.fields[0].dataType
    if isinstance(val_dt, T.NullType):
        return None
    return val_dt


def _plan(df: DataFrame, cfg: AnalyzerConfig):
    contexts: List[_Context] = []
    # array column sources for the tuple-induction pass:
    # path -> (ctx id, array expr, element dtype)
    array_srcs: Dict[Tuple[str, ...], Tuple[int, str, T.DataType]] = {}
    # wide homogeneous structs profiled as tables via unpivot:
    # path -> common value dtype
    table_structs: Dict[Tuple[str, ...], T.DataType] = {}
    counter = [0]

    def new_context(cdf: DataFrame) -> _Context:
        ctx = _Context(id=len(contexts), df=cdf)
        contexts.append(ctx)
        return ctx

    root = new_context(df)

    def walk(ctx: _Context, expr: str, dtype: T.DataType,
             path: Tuple[str, ...]):
        counter[0] += 1
        key = f"c{counter[0]}"
        if isinstance(dtype, T.StructType):
            val_dt = _wide_table_struct(dtype, cfg)
            if val_dt is not None:
                # unpivot: entries = [(field name, field value), ...],
                # null values dropped — a missing key in one document
                # reads as a null field after schema union, exactly
                # the rows the reference's per-document key walk
                # would never see. (A literal JSON ``null`` value is
                # indistinguishable from an absent key here; the
                # reference can tell them apart.)
                fexprs = [
                    f"{expr}.`{f.name}`" if expr else f"`{f.name}`"
                    for f in dtype.fields
                ]
                table_structs[path] = val_dt
                size_expr = (
                    "size(filter(array({}), x -> x is not null))"
                    .format(", ".join(fexprs)))
                if expr:
                    # a NULL struct must yield a NULL length (like
                    # size() of a NULL map), not 0 — otherwise its
                    # card counts every row and the field is never
                    # marked optional
                    size_expr = (f"case when {expr} is null then null "
                                 f"else {size_expr} end")
                ctx.length_leaves.append(_Leaf(
                    path, key + "_len", size_expr, T.IntegerType()))
                entries = [
                    F.struct(F.lit(f.name).alias("k"),
                             F.expr(fe).alias("v"))
                    for f, fe in zip(dtype.fields, fexprs)
                ]
                child_df = (
                    ctx.df
                    .select(F.explode(F.array(*entries)).alias("__p__"))
                    .select(F.col("__p__.k").alias("__key__"),
                            F.col("__p__.v").alias("__val__"))
                    .where(F.col("__val__").isNotNull()))
                child = new_context(child_df)
                walk(child, "`__key__`", T.StringType(), path + ("{k}",))
                for leaf in child.leaves:
                    if leaf.path == path + ("{k}",):
                        leaf.role = "map_key"
                walk(child, "`__val__`", val_dt, path + ("{v}",))
                return
            for f in dtype.fields:
                walk(ctx, f"{expr}.`{f.name}`" if expr else f"`{f.name}`",
                     f.dataType, path + (f.name,))
        elif isinstance(dtype, T.ArrayType):
            ctx.length_leaves.append(
                _Leaf(path, key + "_len", f"size({expr})", T.IntegerType()))
            array_srcs[path] = (ctx.id, expr, dtype.elementType)
            child_df = ctx.df.select(
                F.explode(F.expr(expr)).alias("__elem__"))
            child = new_context(child_df)
            walk(child, "`__elem__`", dtype.elementType, path + ("[]",))
        elif isinstance(dtype, T.MapType):
            ctx.length_leaves.append(
                _Leaf(path, key + "_len", f"size({expr})", T.IntegerType()))
            child_df = ctx.df.select(
                F.explode(F.expr(expr)).alias("__key__", "__val__"))
            child = new_context(child_df)
            walk(child, "`__key__`", dtype.keyType, path + ("{k}",))
            for leaf in child.leaves:
                if leaf.path == path + ("{k}",):
                    leaf.role = "map_key"
            walk(child, "`__val__`", dtype.valueType, path + ("{v}",))
        else:
            ctx.leaves.append(_Leaf(path, key, expr, dtype))

    # walk the whole schema as one struct so a wide homogeneous ROOT
    # (a document object keyed by ids) takes the unpivot path too
    walk(root, "", df.schema, ())
    return contexts, array_srcs, table_structs


# ---------------------------------------------------------------------------
# the wide aggregation
# ---------------------------------------------------------------------------

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)


def _agg_exprs(leaf: _Leaf, cfg: AnalyzerConfig) -> List[str]:
    """Hash-aggregable phase-A aggregates (count/sum + min/max over
    MUTABLE buffer types). A min/max over a STRING column carries a
    UTF8String aggregation buffer, which HashAggregate cannot hold —
    one such expression demotes the WHOLE agg to an un-codegen'd
    SortAggregate — so string min/max ride the sketch job
    (:func:`_string_minmax_exprs`) and everything here stays inside
    WholeStageCodegen."""
    c, k = leaf.expr, leaf.key
    exprs = [f"count({c}) AS `{k}__card`",
             f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS `{k}__nulls`"]

    dt = leaf.dtype
    if isinstance(dt, (T.BooleanType, *_NUMERIC, T.TimestampType,
                       T.TimestampNTZType, T.DateType)):
        exprs += [f"min({c}) AS `{k}__min`", f"max({c}) AS `{k}__max`"]
    elif isinstance(dt, T.StringType):
        url = sql_str(conversions.URL_REGEX)
        exprs += [
            f"sum(CASE WHEN {c} = '' THEN 1 ELSE 0 END) AS `{k}__empty`",
            f"min(length({c})) AS `{k}__lmin`",
            f"max(length({c})) AS `{k}__lmax`",
            f"sum(CASE WHEN {c} RLIKE {url} THEN 0 ELSE 1 END)"
            f" AS `{k}__url_fail`",
        ]
    elif isinstance(dt, T.BinaryType):
        exprs += [f"min(length({c})) AS `{k}__lmin`",
                  f"max(length({c})) AS `{k}__lmax`"]
    return exprs


def _string_minmax_exprs(leaf: _Leaf, cfg: AnalyzerConfig) -> List[str]:
    """String min/max — immutable aggregation buffers, so they ride the
    imperative sketch job and never demote the hash-aggregable job
    out of codegen."""
    if not isinstance(leaf.dtype, T.StringType):
        return []
    c, k = leaf.expr, leaf.key
    return [f"min({c}) AS `{k}__min`", f"max({c}) AS `{k}__max`"]


_HLL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
              T.StringType, T.BinaryType)


def _hll_lg_k(rsd: float) -> int:
    """DataSketches HLL log2(registers) for a target relative standard
    error: rse ~= 1.04 / sqrt(2^lgK)."""
    import math
    return min(21, max(8, math.ceil(2 * math.log2(1.04 / rsd))))


_QUARTILES = "array(0.25D, 0.5D, 0.75D)"


def _sketch_agg_exprs(leaf: _Leaf, cfg: AnalyzerConfig) -> List[str]:
    """Imperative (ObjectHashAggregate) phase-A aggregates: distinct
    sketches and quartiles. Kept in their own job so the codegen-able
    aggregates above stay inside whole-stage codegen — one
    ImperativeAggregate in an agg forces the WHOLE aggregation into
    interpreted ObjectHashAggregate.

    Distincts use the DataSketches HLL (``hll_sketch_agg``), NOT
    ``approx_count_distinct``: the latter is a fixed-width
    ImperativeAggregate whose buffer schema is one LONG column per
    HLL register word (~6k columns per sketch at rsd=0.005), so a
    24-leaf job generates a multi-MB aggregate class and several such
    compiles exhaust the JVM heap — the round-2 wide-record OOM.
    hll_sketch_agg is a TypedImperativeAggregate with ONE binary
    buffer per leaf; its generated code is O(leaves), not
    O(leaves x registers)."""
    c, k = leaf.expr, leaf.key
    if cfg.exact:
        exprs = [f"count(DISTINCT {c}) AS `{k}__distinct`"]
    else:
        hc = c
        if not isinstance(leaf.dtype, _HLL_TYPES):
            # hll_sketch_agg accepts integral/string/binary only. For
            # any other type feed it xxhash64(value): HLL hashes its
            # input anyway, so pre-hashing leaves the estimate's
            # statistics unchanged (64-bit collisions are negligible
            # next to the sketch's own error) and the codegen'd hash
            # is far cheaper than rendering doubles/timestamps to
            # strings. Guard nulls: xxhash64(NULL) is the seed, not
            # NULL, and distinct counts must ignore nulls.
            hc = f"CASE WHEN {c} IS NOT NULL THEN xxhash64({c}) END"
        exprs = [f"hll_sketch_estimate(hll_sketch_agg("
                 f"{hc}, {_hll_lg_k(_DISTINCT_RSD)})) AS `{k}__distinct`"]

    dt = leaf.dtype
    qc = None
    if isinstance(dt, _NUMERIC):
        qc = c
    elif isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        qc = f"CAST(CAST({c} AS TIMESTAMP) AS DOUBLE)"
    if qc is not None:
        if cfg.exact:
            exprs.append(f"percentile({qc}, {_QUARTILES}) AS `{k}__q`")
        else:
            # ONE quantile aggregate per leaf: the displayed quartiles
            # read from the same mergeable KLL sketch that
            # merge_profiles folds (Spark collapses the semantically
            # identical aggregate into one buffer, so the sketch is
            # built once) — not a parallel percentile_approx doing the
            # same imperative work twice. KLL k=200 carries ~1.65%
            # rank error, the sketch's documented accuracy for both
            # the single-shard and the shard-fold path.
            sk = f"kll_sketch_agg_double(CAST({qc} AS DOUBLE), {_KLL_K})"
            # the count() gate keeps an all-null column from calling
            # get_quantile on an empty sketch (which raises); the
            # CaseWhen branch is lazy, so the result stays NULL like
            # percentile_approx's
            exprs.append(f"CASE WHEN count({qc}) > 0 THEN "
                         f"kll_sketch_get_quantile_double({sk}, {_QUARTILES})"
                         f" END AS `{k}__q`")
            exprs.append(f"{sk} AS `{k}__qsk`")
    return exprs


def _candidate_agg_exprs(key: str, c: str, weight: str, row: Dict,
                         cfg: AnalyzerConfig) -> List[str]:
    """Phase-B aggregation: conversion-candidate failure counts for one
    length-eligible string leaf ``key`` whose values are the SQL
    expression ``c``, each value weighing ``weight`` occurrences
    (reference only attempts conversions when max length <= 30,
    structa/analyzer.py:642-669). Candidates whose length range cannot
    overlap the column's phase-A ``lmin``/``lmax`` are skipped
    entirely — a long-text column costs zero regex evaluations, and
    e.g. a 1-char flag column never attempts any datetime parse."""
    lmin = row.get(f"{key}__lmin") or 0
    lmax = row.get(f"{key}__lmax")
    nonblank = f"{c} IS NOT NULL AND {c} != ''"
    exprs: List[str] = []
    numeric_alive = False
    for cand in conversions.candidates():
        if not cand.possible(lmin, lmax):
            continue
        exprs.append(
            f"sum(CASE WHEN {nonblank} AND NOT ({cand.test(c)}) "
            f"THEN {weight} ELSE 0 END) AS `{key}__fail__{cand.name}`")
        if cand.kind in ("int", "float"):
            numeric_alive = True
    if numeric_alive:
        # numeric min/max for str-of-number stats + timestamp heuristic
        dnum = f"CASE WHEN {nonblank} THEN try_cast({c} AS DOUBLE) END"
        exprs += [f"min({dnum}) AS `{key}__nmin`",
                  f"max({dnum}) AS `{key}__nmax`"]
    return exprs


def _length_agg_exprs(leaf: _Leaf, cfg: AnalyzerConfig) -> List[str]:
    c, k = leaf.expr, leaf.key
    return [f"count({c}) AS `{k}__card`", f"min({c}) AS `{k}__min`",
            f"max({c}) AS `{k}__max`"]


# ---------------------------------------------------------------------------
# driver-side classification
# ---------------------------------------------------------------------------

def _classify_leaf(leaf: _Leaf, row: Dict, cfg: AnalyzerConfig,
                   total_rows: int) -> Node:
    k = leaf.key
    card = row.get(f"{k}__card") or 0
    nulls = row.get(f"{k}__nulls") or 0
    n = card + nulls
    if n == 0:
        return Empty()
    # too many nulls -> give up (reference analyzer.py:615-621)
    if nulls and (nulls / n) > cfg.null_threshold:
        return ValueAny()
    if card == 0:
        return Empty()

    distinct = row.get(f"{k}__distinct")
    # sketch mode: the HLL estimate of a truly-unique column lies
    # within 3*rsd of card with ~99.9% probability, so flag unique at
    # estimate >= (1 - 3*rsd)*card; a column more than ~6*rsd
    # duplicated cannot cross that bar. (exact mode compares equality)
    stats = Stats(
        card=card, distinct=distinct,
        min=row.get(f"{k}__min"), max=row.get(f"{k}__max"),
        unique=bool(distinct == card) if cfg.exact else
        bool(distinct
             and distinct >= (1.0 - 3 * _DISTINCT_RSD) * card),
    )
    q = row.get(f"{k}__q")
    if q is not None:
        stats = replace(stats, q1=q[0], q2=q[1], q3=q[2])
    sk = row.get(f"{k}__qsk")
    if sk is not None:
        stats = replace(stats, qsketches=(bytes(sk),))

    dt = leaf.dtype
    if isinstance(dt, T.BooleanType):
        return BoolT(stats=stats)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        if q is not None:
            stats = replace(
                stats,
                q1=_from_epoch(q[0]), q2=_from_epoch(q[1]),
                q3=_from_epoch(q[2]))
        return DateTimeT(stats=stats)
    if isinstance(dt, _NUMERIC):
        is_int = isinstance(
            dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
        node = IntT(stats=stats) if is_int else FloatT(stats=stats)
        return _maybe_numeric_timestamp(node, cfg)
    if isinstance(dt, T.StringType):
        return _classify_string(leaf, row, cfg, stats)
    if isinstance(dt, T.BinaryType):
        lengths = LengthStats(card=card, min=row.get(f"{k}__lmin"),
                              max=row.get(f"{k}__lmax"))
        return StrT(stats=stats, lengths=lengths)
    return ValueAny()


def _classify_string(leaf: _Leaf, row: Dict, cfg: AnalyzerConfig,
                     stats: Stats) -> Node:
    k = leaf.key
    card = stats.card
    empties = row.get(f"{k}__empty") or 0
    if empties:
        if empties / card > cfg.empty_threshold:
            return StrT(stats=stats, lengths=LengthStats(
                card=card, min=row.get(f"{k}__lmin"),
                max=row.get(f"{k}__lmax")))
        card_ne = card - empties
    else:
        card_ne = card
    if card_ne == 0:
        return StrT(stats=stats, lengths=LengthStats(card=card, min=0, max=0))

    budget = cfg.bad_threshold * card_ne
    # when blanks were dropped, they must not count as failures — every
    # fail counter includes only non-blank values by construction
    lengths = LengthStats(card=card, min=row.get(f"{k}__lmin"),
                          max=row.get(f"{k}__lmax"))

    fixed = (lengths.fixed and empties == 0)
    for cand in conversions.candidates():
        if cand.kind == "datetime" and cand.fixed_len and not fixed:
            continue
        fails = row.get(f"{k}__fail__{cand.name}")
        if fails is None or fails > budget:
            continue
        if cand.kind == "bool":
            inner: Node = BoolT(stats=Stats(card=card_ne))
        elif cand.kind == "int":
            inner = IntT(stats=_numeric_stats(row, k, card_ne, int))
            inner = _maybe_numeric_timestamp(inner, cfg)
        elif cand.kind == "float":
            inner = FloatT(stats=_numeric_stats(row, k, card_ne, float))
            inner = _maybe_numeric_timestamp(inner, cfg)
        else:
            inner = DateTimeT(stats=Stats(card=card_ne))
        return StrReprT(inner=inner, pattern=cand.pattern)

    url_fail = row.get(f"{k}__url_fail") or 0
    if url_fail <= budget:
        return URLT(stats=stats, lengths=lengths)
    return StrT(stats=stats, lengths=lengths)


def _numeric_stats(row: Dict, k: str, card: int, typ) -> Stats:
    lo, hi = row.get(f"{k}__nmin"), row.get(f"{k}__nmax")
    try:
        lo = typ(lo) if lo is not None else None
        hi = typ(hi) if hi is not None else None
    except (TypeError, ValueError, OverflowError):
        lo = hi = None
    return Stats(card=card, min=lo, max=hi)


_UNIX = _dt.datetime(1970, 1, 1)
_EXCEL = _dt.datetime(1899, 12, 30)


def _epoch_base(cfg: AnalyzerConfig) -> _dt.datetime:
    if cfg.epoch == "custom" and cfg.epoch_base is not None:
        return cfg.epoch_base
    return _EXCEL if cfg.epoch == "excel" else _UNIX


def _from_epoch(v):
    """Decode a quartile of a NATIVE timestamp column: percentiles of
    timestamps are epoch seconds by Spark's definition, so the Unix
    epoch is always the right base here. (Custom/excel epoch bases
    only apply to NUMERIC columns holding encoded timestamps — those
    decode via _maybe_numeric_timestamp's cfg-aware `conv`.)"""
    if v is None:
        return None
    return _UNIX + _dt.timedelta(seconds=float(v))


def _maybe_numeric_timestamp(node: Node, cfg: AnalyzerConfig) -> Node:
    """Ints/floats whose min & max both decode to plausible timestamps
    become ``NumReprT(DateTimeT)`` (reference analyzer.py:742-770)."""
    if not isinstance(node, (IntT, FloatT)):
        return node
    lo, hi = node.stats.min, node.stats.max
    if lo is None or hi is None:
        return node
    now = _dt.datetime.now()
    min_ts = cfg.min_timestamp or (now - _dt.timedelta(days=20 * 365))
    max_ts = cfg.max_timestamp or (now + _dt.timedelta(days=10 * 365))
    base = _epoch_base(cfg)
    scale = cfg.scale if cfg.epoch != "excel" else 86400.0
    try:
        lo_dt = base + _dt.timedelta(seconds=float(lo) * scale)
        hi_dt = base + _dt.timedelta(seconds=float(hi) * scale)
    except (OverflowError, ValueError):
        return node
    if min_ts <= lo_dt and hi_dt <= max_ts:
        pat = "d" if isinstance(node, IntT) else "f"

        def conv(v):
            return (base + _dt.timedelta(seconds=float(v) * scale)
                    if v is not None else None)

        inner = DateTimeT(stats=Stats(
            card=node.stats.card, distinct=node.stats.distinct,
            min=lo_dt, max=hi_dt, unique=node.stats.unique,
            q1=conv(node.stats.q1), q2=conv(node.stats.q2),
            q3=conv(node.stats.q3)))
        return NumReprT(inner=inner, pattern=pat,
                        epoch=cfg.epoch, scale=scale,
                        epoch_offset=(base - _UNIX).total_seconds())
    return node


# ---------------------------------------------------------------------------
# auxiliary jobs: top-k samples and pattern induction
# ---------------------------------------------------------------------------

def _key_in(keys) -> str:
    """SQL filter: the leaf key ``k`` is one of ``keys``."""
    return "k IN ({})".format(", ".join(map(sql_str, keys)))


def _unpivot(df: DataFrame, keys: Dict[str, _Leaf]) -> DataFrame:
    """``(k, v)`` rows: one per non-null occurrence of each given leaf,
    the value rendered as a string."""
    pairs = ", ".join(
        f"named_struct('k', {sql_str(key)}, 'v', CAST({leaf.expr} AS STRING))"
        for key, leaf in keys.items())
    return df.selectExpr(f"inline(array({pairs}))").where("v IS NOT NULL")


def _counted_values(ctx: _Context, keys: Dict[str, _Leaf]) -> DataFrame:
    """The frequency relation ``(k, v, n)``: one row per DISTINCT
    (leaf, value) across the given leaves, ``n`` its occurrence count
    (structa's frequency-compressed column, PAPER.md §1.1). Every
    consumer below reads a projection of it."""
    return _unpivot(ctx.df, keys).groupBy("k", "v").agg(
        F.expr("count(1) AS n"))


def _topk_query(counted: DataFrame, keys: Dict[str, _Leaf]) -> DataFrame:
    """Top-k AND bottom-k values by count of every leaf in ``keys``
    (the reference's sample display shows the 3 most and 3 least
    frequent values, types.py:142-163) as ``(side, k, v, n)`` rows.
    Each side is its own single-window ``row_number() <= _TOP_K``
    query: a lone rank filter lets Spark plan a partial
    WindowGroupLimit below the exchange, so each map task ships at
    most ``_TOP_K`` rows per leaf and side. One filter over two windows
    (``rt <= k OR rb <= k``) cannot be limited that way."""
    counted = counted.where(_key_in(keys))
    sides = [
        counted.selectExpr(
            "k", "v", "n",
            f"row_number() OVER (PARTITION BY k ORDER BY {order}) AS r")
        .where(f"r <= {_TOP_K}")
        .selectExpr(f"'{side}' AS side", "k", "v", "n")
        for side, order in (("top", "n DESC, v ASC"),
                            ("bottom", "n ASC, v DESC"))]
    return sides[0].unionByName(sides[1])


def _collect_topk(counted: DataFrame, keys: Dict[str, _Leaf]
                  ) -> Tuple[Dict[str, List[Tuple[str, int]]],
                             Dict[str, List[Tuple[str, int]]]]:
    """ONE job for all sampled leaves of a context: top-k and bottom-k
    samples, both in most-common order (like the tail of
    ``Counter.most_common()``)."""
    out: Dict[str, List[Tuple[str, int]]] = {}
    bot: Dict[str, List[Tuple[str, int]]] = {}
    for r in _topk_query(counted, keys).collect():
        side = out if r["side"] == "top" else bot
        side.setdefault(r["k"], []).append((r["v"], r["n"]))
    for v in (*out.values(), *bot.values()):
        v.sort(key=lambda t: (-t[1], t[0]))
    return out, bot


def _collect_string_quartiles(
        counted: DataFrame, string_keys: Dict[str, _Leaf]
) -> Dict[str, Tuple[str, str, str]]:
    """Lexicographic q1/q2/q3 for string leaves — the reference
    computes quartiles for ANY sortable type by a sorted-distinct
    cumulative walk (reference: structa/types.py:182-207); this is
    that walk as ONE distributed job for all string leaves of a
    context over the frequency relation: per-leaf cumulative count
    over the value ordering -> first value whose preceding-cumulative
    reaches each quartile index (remainder falls back to max, exactly
    the reference's tail rule).

    The cumulative window partitions by leaf, so one extremely-high-
    cardinality column serializes into one task; exact mode is the
    oracle path — sketch mode skips string quartiles (numeric ones
    use the mergeable KLL sketch instead)."""
    cum = counted.where(_key_in(string_keys)).selectExpr(
        "k", "v",
        "coalesce(sum(n) OVER (PARTITION BY k ORDER BY v ROWS BETWEEN "
        "UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS `before`",
        "sum(n) OVER (PARTITION BY k) AS total")
    # reference index rule: idx_k = (k*card)//4; quartile = first
    # value with before >= idx_k, else max
    agg = cum.groupBy("k").agg(*[
        F.expr(f"coalesce(min(CASE WHEN `before` >= floor(total * {i} / 4)"
               f" THEN v END), max(v)) AS q{i}")
        for i in (1, 2, 3)])
    return {r["k"]: (r["q1"], r["q2"], r["q3"]) for r in agg.collect()}


def _collect_patterns(values: DataFrame) -> Dict[str, list]:
    """ONE job: per-position char sets of the fixed-width string leaves
    in ``(k, v)`` rows (posexplode + collect_set; reference
    analyzer.py:685-719). The sets are the same whether ``values``
    holds every occurrence or each distinct value once."""
    chars = (values
             .selectExpr("k", "posexplode(split(v, '')) AS (pos, ch)")
             .where("ch != ''")
             .groupBy("k", "pos").agg(F.expr("collect_set(ch) AS chars")))
    out: Dict[str, list] = {}
    for r in chars.collect():
        out.setdefault(r["k"], []).append((r["pos"], set(r["chars"])))
    return out


# Values (phase-A cards) a context's value-count relation must hold to
# be persisted and shared by phase B and the char sets; see
# _relation_leaves.
_SHARED_RELATION_MIN = 100_000


def _relation_leaves(ctx: _Context, row: Dict, cfg: AnalyzerConfig
                     ) -> Tuple[Dict[str, _Leaf], Dict[str, _Leaf], bool]:
    """``(sampled, relation, shared)`` for a context after its phase
    A: the leaves worth a top-k sample; the leaves of its value-count
    relation — the sampled ones plus, in exact mode, every string
    leaf (for its lexicographic quartiles); and whether the relation
    is big enough to share. A shared relation is persisted and also
    feeds phase B and the char sets of its leaves; below
    ``_SHARED_RELATION_MIN`` values the per-job cost of a wave of its
    own outweighs what it saves, so top-k and quartiles each
    recompute it and every leaf streams phase B and the char sets."""
    def worth_sampling(leaf: _Leaf) -> bool:
        # a frequency sample only means something when values repeat;
        # skipping near-unique columns (key columns) by their HLL
        # estimate keeps the relation proportional to the REPEATED
        # values only — at 100 TB this is the difference between
        # shuffling every key once and shuffling a few hundred
        # distinct values
        card = row.get(f"{leaf.key}__card") or 0
        distinct = row.get(f"{leaf.key}__distinct") or 0
        return card <= 10_000 or distinct < 0.9 * card

    sampled = {
        leaf.key: leaf for leaf in ctx.leaves
        if isinstance(leaf.dtype, (T.StringType, T.BooleanType,
                                   T.LongType, T.IntegerType))
        and worth_sampling(leaf)
    }
    relation = dict(sampled)
    if cfg.exact:
        relation.update({leaf.key: leaf for leaf in ctx.leaves
                         if isinstance(leaf.dtype, T.StringType)})
    values = sum(row.get(f"{k}__card") or 0 for k in relation)
    return sampled, relation, bool(relation) and values >= _SHARED_RELATION_MIN


def _fixed_width(strings: Dict[str, _Leaf], row: Dict) -> Dict[str, _Leaf]:
    """The string leaves whose phase-A lengths are one width in
    ``(0, _MAX_PATTERN_LEN]`` — the pattern-induction candidates."""
    out = {}
    for key, leaf in strings.items():
        lmin = row.get(f"{key}__lmin")
        if (lmin and lmin == row.get(f"{key}__lmax")
                and lmin <= _MAX_PATTERN_LEN):
            out[key] = leaf
    return out


# ---------------------------------------------------------------------------
# assembly: leaves -> summary tree
# ---------------------------------------------------------------------------

class Profile:
    """The result of :func:`analyze`: the inferred summary tree plus
    access to per-path nodes and renderings."""

    def __init__(self, root: Node, row_count: int, cfg: AnalyzerConfig):
        self.root = root
        self.row_count = row_count
        self.config = cfg

    def render(self, opts=None) -> str:
        out = self.root.render(opts)
        if not self.config.exact and self._has_quartile_less_string():
            # sketch mode computes numeric quartiles with mergeable KLL
            # sketches, but lexicographic string quartiles have no
            # mergeable sketch — they are exact-mode only, so say so
            # instead of leaving the range silently bare
            out += ("\n# note: string q1-q3 omitted (sketch mode; "
                    "rerun with exact=True for lexicographic quartiles)")
        return out

    def _has_quartile_less_string(self) -> bool:
        from .model import StrT, walk_nodes
        return any(
            isinstance(n, StrT) and n.stats.card and n.stats.q1 is None
            for n in walk_nodes(self.root))

    def __repr__(self) -> str:
        return f"Profile({self.render()})"

    # compilation helpers live in structa_spark.plans
    def to_schema(self):
        from .plans import to_spark_schema
        return to_spark_schema(self.root)

    def validation_predicate(self):
        from .plans import validation_predicate
        return validation_predicate(self.root)

    def decode(self, df: DataFrame) -> DataFrame:
        """Apply the compiled cast chains: every Repr-typed column is
        replaced by its logical value (str-of-int -> bigint, ...)."""
        from .plans import apply_casts
        return apply_casts(df, self.root)

    def to_dict(self) -> dict:
        """JSON-able tree of the inferred summary (programmatic twin
        of :meth:`render`)."""
        from .model import node_to_dict
        return {"row_count": self.row_count,
                "root": node_to_dict(self.root)}

    def save(self, path: str) -> None:
        """Persist the full summary (lossless JSON) for reuse without
        re-scanning — see structa_spark.serialize."""
        from .serialize import save_profile
        save_profile(self, path)

    @staticmethod
    def load(path: str) -> "Profile":
        from .serialize import load_profile
        return load_profile(path)


# max leaves per agg() job: Janino compiles one generated class per
# aggregation, and its size grows with the expression count — a
# 120-leaf context compiled as ONE agg is a multi-MB class, and
# several of those compiling concurrently exhausts the JVM heap
# (observed on the 40-field USN shape). Bounded chunks keep every
# generated class small; every chunk is an independent pool task, so
# the WORKER-POOL BOUND (not per-context sequencing) is what caps
# concurrent compiles at n_workers bounded-size classes.
_CHUNK_LEAVES = 24


def _chunked(seq: List, n: int):
    for i in range(0, len(seq), n):
        yield seq[i:i + n]


def _phase_a_jobs(leaves: List[_Leaf], length_leaves: List[_Leaf],
                  cfg: AnalyzerConfig) -> List[List[str]]:
    """Phase A as the SQL aggregate expressions of each job, in TWO job
    families:

    * one whole-stage-codegen family — the scalar aggregates
      (counts/min/max) AND the container-length aggregates chunk
      together, since both carry mutable fixed-width buffers;
    * one ObjectHashAggregate family — the HLL/KLL sketches AND the
      string min/max aggregates. A UTF8String min/max buffer would
      demote the CODEGEN job to SortAggregate, which is why it never
      rides there; the sketch job is already imperative
      (ObjectHashAggregate), so the string min/max rides it for free.

    Each job covers <= _CHUNK_LEAVES leaves so no generated class is
    ever huge; the first job also counts the rows. A job is one
    ``selectExpr`` call: the driver sends its expressions as text, one
    py4j round trip each, where a Column tree costs one per function
    call."""
    codegen = ([_agg_exprs(lf, cfg) for lf in leaves]
               + [_length_agg_exprs(lf, cfg) for lf in length_leaves])
    sketch = [_sketch_agg_exprs(lf, cfg) + _string_minmax_exprs(lf, cfg)
              for lf in leaves]
    jobs = [[e for exprs in chunk for e in exprs]
            for family in (codegen, sketch)
            for chunk in _chunked(family, _CHUNK_LEAVES)] or [[]]
    jobs[0].insert(0, "count(1) AS `__rows__`")
    return jobs


def _agg_row(df: DataFrame, exprs: List[str]) -> Dict:
    """Run one global aggregation given as SQL text; its one row."""
    return df.selectExpr(*exprs).collect()[0].asDict()


def _phase_a_row(df: DataFrame, leaves: List[_Leaf],
                 length_leaves: List[_Leaf],
                 cfg: AnalyzerConfig) -> Dict:
    """Phase A over one DataFrame, run sequentially (used by the
    auxiliary single-context paths, e.g. tuple induction)."""
    row: Dict = {}
    for exprs in _phase_a_jobs(leaves, length_leaves, cfg):
        row.update(_agg_row(df, exprs))
    return row


def _phase_b_chunks(leaves: List[_Leaf], row: Dict, cfg: AnalyzerConfig):
    """The string leaves phase B scores — non-empty, max length <=
    ``max_numeric_len`` — in chunks: candidate counts are regex-heavy
    (~15 exprs per leaf), so chunk tighter than phase A to keep the
    generated classes bounded."""
    eligible = []
    for leaf in leaves:
        if not isinstance(leaf.dtype, T.StringType):
            continue
        card = row.get(f"{leaf.key}__card") or 0
        lmax = row.get(f"{leaf.key}__lmax")
        if card and lmax is not None and lmax <= cfg.max_numeric_len:
            eligible.append(leaf)
    return _chunked(eligible, max(1, _CHUNK_LEAVES // 2))


def _phase_b_row(df: DataFrame, leaves: List[_Leaf], row: Dict,
                 cfg: AnalyzerConfig) -> Dict:
    """Phase B over the input rows, one candidate test per occurrence;
    returns the extra scalar columns ({} when no string leaf is
    eligible)."""
    out: Dict = {}
    for chunk in _phase_b_chunks(leaves, row, cfg):
        exprs = [e for leaf in chunk for e in _candidate_agg_exprs(
            leaf.key, leaf.expr, "1", row, cfg)]
        if exprs:
            out.update(_agg_row(df, exprs))
    return out


def _phase_b_counted(counted: DataFrame, leaves: List[_Leaf], row: Dict,
                     cfg: AnalyzerConfig) -> Dict:
    """Phase B over the frequency relation: each distinct value is
    tested once and a failure weighs its count ``n``, so every sum
    equals :func:`_phase_b_row`'s per-occurrence count."""
    out: Dict = {}
    for chunk in _phase_b_chunks(leaves, row, cfg):
        exprs = [e for leaf in chunk for e in _candidate_agg_exprs(
            leaf.key, f"CASE WHEN k = {sql_str(leaf.key)} THEN v END",
            "n", row, cfg)]
        if exprs:
            mine = counted.where(_key_in(lf.key for lf in chunk))
            out.update(_agg_row(mine, exprs))
    return out


def _run_leaf_stats(df: DataFrame, leaves: List[_Leaf],
                    length_leaves: List[_Leaf],
                    cfg: AnalyzerConfig) -> Dict:
    """Phase A + phase B over one DataFrame (merged scalar row)."""
    row = _phase_a_row(df, leaves, length_leaves, cfg)
    row.update(_phase_b_row(df, leaves, row, cfg))
    return row


_ATOMIC = (T.BooleanType, T.StringType, T.TimestampType,
           T.TimestampNTZType, T.DateType, T.BinaryType) + _NUMERIC


def _induce_tuples(contexts, array_srcs, length_stats, cfg):
    """Fixed-width short arrays become positional tuples (reference
    analyzer.py:576-588: all sub-lists the same length, shorter than
    field_threshold, fewer than the outer count — 'table-like input
    from a language without tuples'). One extra job per qualifying
    array column, per-index stats via ``element_at``."""
    tuple_nodes: Dict[Tuple[str, ...], Node] = {}
    for path, (ctx_id, expr, elem_dt) in array_srcs.items():
        ls = length_stats.get(path)
        if ls is None or not ls.card or ls.min is None:
            continue
        width = ls.min
        if not (ls.fixed and 0 < width < cfg.field_threshold
                and ls.card > width):
            continue
        if not isinstance(elem_dt, _ATOMIC):
            continue
        elem = "element_at({}, {})"
        if cfg.strip_whitespace and isinstance(elem_dt, T.StringType):
            elem = "trim(element_at({}, {}))"
        leaves = [
            _Leaf(path + (str(i),), f"e{i}", elem.format(expr, i + 1),
                  elem_dt)
            for i in range(width)
        ]
        row = _run_leaf_stats(contexts[ctx_id].df, leaves, [], cfg)
        fields = []
        for i, leaf in enumerate(leaves):
            node = _classify_leaf(leaf, row, cfg, row["__rows__"])
            card = row.get(f"{leaf.key}__card") or 0
            fields.append(FieldT(key=i, value=node, count=card,
                                 optional=bool(card < ls.card)))
        tuple_nodes[path] = TupleT(fields=tuple(fields), lengths=ls)
    return tuple_nodes


def _input_bytes(df: DataFrame) -> Optional[int]:
    """Total size of the df's local input files, or None when the
    input is not a local file scan (remote FS, in-memory, streaming)."""
    import os
    from urllib.parse import unquote, urlparse
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            return None
        try:
            total += os.path.getsize(unquote(u.path))
        except OSError:
            return None
    return total


# Inputs up to this many bytes of local files are copied before
# analysis (see _prepare_input); the gate makes the copy self-disabling
# at scale: a 100 TB table streams, a 10 MB file decodes once instead
# of once per job.
_CACHE_INPUT_MAX_BYTES = 1 << 30


def _hashable(dt: T.DataType) -> bool:
    """Can ``xxhash64`` take a value of this type? Spark refuses a map
    or a variant anywhere inside it (DATATYPE_MISMATCH.HASH_MAP_TYPE,
    HASH_VARIANT_TYPE)."""
    if isinstance(dt, (T.MapType, T.VariantType)):
        return False
    if isinstance(dt, T.ArrayType):
        return _hashable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_hashable(f.dataType) for f in dt.fields)
    return True


@contextmanager
def _job_phase(spark, phase: str):
    """Describe the Spark jobs this thread submits as ``analyze:
    <phase>`` (their description in the UI and the status store); the
    caller's description comes back after, its job group is kept."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"analyze: {phase}")
    try:
        yield
    finally:
        sc.setJobDescription(prev)


def _prepare_input(df: DataFrame):
    """Size-gated copy of the analyzer's input: the profile makes
    several passes, so a small file set is repartitioned to the
    session's parallelism (single-row-group parquet otherwise pins
    every pass to one scan task) and checkpointed on the executors;
    anything big, remote or non-file streams unchanged. Returns
    ``(df, rdd)``, ``rdd`` the checkpointed JVM RDD to release, or None.

    The copy is a lazy ``localCheckpoint``: no job of its own fills
    it. The first phase-A jobs write its row blocks while they
    aggregate, and every later job reads them. Like any local
    checkpoint (see ``operators.graph.connected_components``), the
    copy has no lineage to recompute a block from, so a lost executor
    fails the jobs that read it."""
    nbytes = _input_bytes(df)
    if nbytes is None or nbytes > _CACHE_INPUT_MAX_BYTES:
        return df, None
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    with _job_phase(spark, "input"):
        if df.rdd.getNumPartitions() < par:
            # hash-repartition on a deterministic key of every column
            # that can be hashed instead of round-robin: a keyless
            # repartition(n) first LOCALLY SORTS its input so retried
            # tasks reproduce the same row placement
            # (spark.sql.execution.sortBeforeRepartition, optimization
            # guide §2.5) — on the one scan task holding a
            # single-row-group file that is a full sort of every row
            # before the exchange (~1s of the profile at sf0.1). Hash
            # placement is deterministic per ROW VALUE, so it needs no
            # such sort, and the rendered profile is partition-order
            # independent (verified identical at sf0.01/0.1 over
            # lineitem/documents/events).
            keys = [f"`{f.name.replace('`', '``')}`"
                    for f in df.schema.fields if _hashable(f.dataType)]
            df = (df.repartition(
                par, F.expr(f"xxhash64({', '.join(keys)})"))
                if keys else df.repartition(par))
        # the exchange above runs here, as its own job
        copy = df.localCheckpoint(eager=False)
    return copy, copy._jdf.logicalPlan().rdd()


def analyze(df: DataFrame, config: Optional[AnalyzerConfig] = None,
            **kwargs) -> Profile:
    """Profile a DataFrame into a typed summary tree.

    Per repetition context: the phase-A aggregate jobs, one
    value-count relation and its consumer jobs (top-k samples, phase
    B, char patterns, exact string quartiles); leaves outside the
    relation, and every leaf of a small context, stream phase B and
    char patterns over the input. Every job is described as
    ``analyze: <phase>``.
    """
    cfg = config or AnalyzerConfig(**kwargs)
    prep, copy = _prepare_input(df)
    try:
        return _analyze(prep, cfg)
    finally:
        if copy is not None:
            copy.unpersist(False)


def _analyze(df: DataFrame, cfg: AnalyzerConfig) -> Profile:
    contexts, array_srcs, table_structs = _plan(df, cfg)

    # whitespace stripping (reference analyzer.py:633-638) applies to
    # every string leaf uniformly: stats, conversion candidates, top-k
    # samples and pattern induction all see the trimmed value
    if cfg.strip_whitespace:
        for ctx in contexts:
            for leaf in ctx.leaves:
                if isinstance(leaf.dtype, T.StringType):
                    leaf.expr = f"trim({leaf.expr})"

    rows: Dict[int, Dict] = {}
    topk: Dict[str, List[Tuple[str, int]]] = {}
    botk: Dict[str, List[Tuple[str, int]]] = {}
    str_q: Dict[str, Tuple[str, str, str]] = {}
    patterns: Dict[str, list] = {}
    in_relation: set = set()
    # every value-count relation persisted for its consumers;
    # unpersisted once the pool has drained, also when a job failed
    relations: List[DataFrame] = []
    from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor
    from concurrent.futures import wait as _fwait

    # cap concurrency: each agg job compiles a generated class, and
    # compiling many simultaneously can exhaust the JVM heap. Phase A
    # chunks every context to <= _CHUNK_LEAVES leaves per job and
    # every chunk is its own pool task, so the in-flight compile
    # count never exceeds the worker count while chunks of one
    # context still overlap with each other and with other contexts;
    # scale the pool down when the plan is unusually wide (belt and
    # braces for single-JVM local mode, where driver and executors
    # share one heap).
    widest = max((len(c.leaves) + len(c.length_leaves)
                  for c in contexts), default=0)
    n_workers = 2 if (widest > 128 or len(contexts) > 64) else 4
    spark = df.sparkSession

    # Every job runs as a task of ONE pool, fanned out by this thread
    # as the results it depends on land — no task waits on another, so
    # a context's wall-clock is its own critical path (phase A ->
    # relation consumers) and the contexts overlap. `landed` maps a
    # pending future to the callback that folds its result in; the
    # callbacks all run on this thread.
    landed = {}
    remaining: Dict[int, int] = {}
    try:
        with ThreadPoolExecutor(max_workers=n_workers) as pool:

            def submit(then, phase, fn, *args):
                def task():
                    with _job_phase(spark, phase):
                        return fn(*args)
                # pool threads run with the caller's Spark local
                # properties (job group, description, scheduler
                # pool). A fresh capture per task: the wrapper
                # installs its one Properties copy as the thread's
                # own, and concurrent queries writing their SQL
                # execution id into a shared copy would clobber each
                # other.
                inherit = inheritable_thread_target(spark)
                if inherit is not spark:    # pinned-thread mode is on
                    task = inherit(task)
                landed[pool.submit(task)] = then

            def topk_landed(top_bottom):
                topk.update(top_bottom[0])
                botk.update(top_bottom[1])

            def phase_a_landed(ctx, part):
                rows[ctx.id].update(part)
                remaining[ctx.id] -= 1
                if remaining[ctx.id]:
                    return
                # this context's phase A is complete: fan out its
                # dependent jobs without waiting for other contexts.
                # The tasks read a snapshot, as this thread keeps
                # folding phase-B results into rows[ctx.id].
                row = dict(rows[ctx.id])
                sampled, keys, shared = _relation_leaves(ctx, row, cfg)
                if shared:
                    in_relation.update(keys)
                streaming = [lf for lf in ctx.leaves
                             if lf.key not in in_relation]
                submit(rows[ctx.id].update, "phase B", _phase_b_row,
                       ctx.df, streaming, row, cfg)
                if not keys:
                    return
                rel = _counted_values(ctx, keys)
                if shared:
                    # no job of its own: the consumers' concurrent
                    # jobs build the cached relation once
                    rel = rel.persist()
                    relations.append(rel)
                strings = {k: lf for k, lf in keys.items()
                           if isinstance(lf.dtype, T.StringType)}
                if sampled:
                    submit(topk_landed, "top-k", _collect_topk, rel, sampled)
                if strings and cfg.exact:
                    submit(str_q.update, "string quartiles",
                           _collect_string_quartiles, rel, strings)
                if not shared:
                    return
                if strings:
                    submit(rows[ctx.id].update, "phase B", _phase_b_counted,
                           rel, list(strings.values()), row, cfg)
                fixed = _fixed_width(strings, row)
                if fixed:
                    submit(patterns.update, "char patterns",
                           _collect_patterns, rel.where(_key_in(fixed)))

            # phase A of every context launches at once, also on the
            # unfilled input copy: concurrent jobs on it still fill
            # each block once
            for ctx in contexts:
                jobs = _phase_a_jobs(ctx.leaves, ctx.length_leaves, cfg)
                remaining[ctx.id] = len(jobs)
                rows[ctx.id] = {}
                for exprs in jobs:
                    submit(lambda part, ctx=ctx: phase_a_landed(ctx, part),
                           "phase A", _agg_row, ctx.df, exprs)
            while landed:
                done, _ = _fwait(landed, return_when=FIRST_COMPLETED)
                for fut in done:
                    landed.pop(fut)(fut.result())
    finally:
        # the `with` exit has waited for every running task, so no
        # job reads a relation any more
        for rel in relations:
            rel.unpersist()

    # classify every leaf
    leaf_nodes: Dict[Tuple[str, ...], Node] = {}
    leaf_by_path: Dict[Tuple[str, ...], _Leaf] = {}
    length_stats: Dict[Tuple[str, ...], LengthStats] = {}
    for ctx in contexts:
        row = rows[ctx.id]
        for leaf in ctx.leaves:
            node = _classify_leaf(leaf, row, cfg, row["__rows__"])
            if leaf.key in topk and isinstance(node, (StrT, BoolT, IntT)):
                node = replace(node, stats=replace(
                    node.stats, sample=tuple(topk[leaf.key]),
                    bottom=tuple(botk.get(leaf.key, ()))))
            # lexicographic quartiles apply only when the leaf stayed a
            # plain string (reprs carry converted-domain stats instead)
            if (leaf.key in str_q and isinstance(node, StrT)
                    and node.stats.q1 is None):
                q1, q2, q3 = str_q[leaf.key]
                node = replace(node, stats=replace(
                    node.stats, q1=q1, q2=q2, q3=q3))
            leaf_nodes[leaf.path] = node
            leaf_by_path[leaf.path] = leaf
        for leaf in ctx.length_leaves:
            k = leaf.key
            length_stats[leaf.path] = LengthStats(
                card=row.get(f"{k}__card") or 0,
                min=row.get(f"{k}__min"), max=row.get(f"{k}__max"))

    # char patterns apply to fixed-width plain strings only: relation
    # leaves already have their char sets; the others stream now
    for ctx in contexts:
        fixed = {}
        for leaf in ctx.leaves:
            node = leaf_nodes.get(leaf.path)
            if (isinstance(node, StrT) and not isinstance(node, URLT)
                    and node.lengths.fixed and node.lengths.min
                    and 0 < node.lengths.min <= _MAX_PATTERN_LEN):
                fixed[leaf.key] = leaf
        stream = {k: lf for k, lf in fixed.items() if k not in in_relation}
        if stream:
            with _job_phase(spark, "char patterns"):
                patterns.update(_collect_patterns(_unpivot(ctx.df, stream)))
        for key, leaf in fixed.items():
            if key in patterns:
                leaf_nodes[leaf.path] = replace(
                    leaf_nodes[leaf.path],
                    pattern=tuple(induce_pattern(patterns[key])))

    # tuple induction: fixed-width short arrays -> positional tuples
    with _job_phase(spark, "tuples"):
        tuple_nodes = _induce_tuples(contexts, array_srcs, length_stats,
                                     cfg)

    # assemble the tree from the schema
    row0 = rows[0]

    def build(dtype: T.DataType, path: Tuple[str, ...],
              parent_card: int) -> Node:
        if isinstance(dtype, T.StructType):
            if path in table_structs:
                # wide homogeneous struct profiled via unpivot: its
                # key/value leaves live in the child context under
                # {k}/{v}, exactly like a MapType
                key = build(T.StringType(), path + ("{k}",), parent_card)
                val = build(table_structs[path], path + ("{v}",),
                            parent_card)
                return TableT(key=key, value=val,
                              lengths=length_stats.get(
                                  path, LengthStats()))
            fields = []
            for f in dtype.fields:
                child_path = path + (f.name,)
                child_card = _node_card(
                    leaf_nodes, length_stats, child_path)
                value = build(f.dataType, child_path, parent_card)
                fields.append(FieldT(
                    key=f.name, value=value, count=child_card,
                    optional=bool(child_card < parent_card)))
            rec = RecordT(fields=tuple(fields))
            return _maybe_table(rec, cfg)
        if isinstance(dtype, T.ArrayType):
            if path in tuple_nodes:
                return tuple_nodes[path]
            elem = build(dtype.elementType, path + ("[]",), parent_card)
            return ListT(element=elem,
                         lengths=length_stats.get(path, LengthStats()))
        if isinstance(dtype, T.MapType):
            key = build(dtype.keyType, path + ("{k}",), parent_card)
            val = build(dtype.valueType, path + ("{v}",), parent_card)
            return TableT(key=key, value=val,
                          lengths=length_stats.get(path, LengthStats()))
        return leaf_nodes.get(path, Empty())

    total = row0["__rows__"]
    # the root is just the schema struct at path () — build() handles
    # the record case (with _maybe_table), and the wide-homogeneous
    # case when the root itself took the unpivot path
    root = build(df.schema, (), total)
    return Profile(root=root, row_count=total, cfg=cfg)


def _node_card(leaf_nodes, length_stats, path) -> int:
    node = leaf_nodes.get(path)
    if node is not None and hasattr(node, "stats"):
        return node.stats.card
    ls = length_stats.get(path)
    if ls is not None:
        return ls.card
    # containers/structs: max of child cards
    cards = [
        _stats_card(n) for p, n in leaf_nodes.items()
        if p[:len(path)] == path
    ]
    return max(cards, default=0)


def _stats_card(node: Node) -> int:
    if hasattr(node, "stats"):
        return node.stats.card
    if isinstance(node, (StrReprT, NumReprT)):
        return _stats_card(node.inner)
    return 0


def _maybe_table(rec: RecordT, cfg: AnalyzerConfig) -> Node:
    """The record-vs-table duality: a record with more distinct keys
    than ``field_threshold`` whose field values merge compatibly
    collapses to a table keyed by the induced key type
    (reference: structa/analyzer.py:422-443, 599-613)."""
    if len(rec.fields) <= cfg.field_threshold:
        return rec
    merged: Node = Empty()
    for f in rec.fields:
        merged = merge(merged, f.value)
        if isinstance(merged, ValueAny):
            return rec       # incompatible values: keep the record
    key_node = classify_values([str(f.key) for f in rec.fields], cfg)
    return TableT(key=key_node, value=merged,
                  lengths=LengthStats(card=len(rec.fields),
                                      min=len(rec.fields),
                                      max=len(rec.fields)))


# ---------------------------------------------------------------------------
# driver-side mini classifier (for tiny key lists, e.g. struct field
# names during record->table collapse; mirrors the scalar ladder)
# ---------------------------------------------------------------------------

def classify_values(values: Sequence[str], cfg: AnalyzerConfig) -> Node:
    import re

    n = len(values)
    if n == 0:
        return Empty()
    budget = cfg.bad_threshold * n
    stats = Stats(card=n, distinct=len(set(values)),
                  min=min(values), max=max(values),
                  unique=len(set(values)) == n)

    def fails(rx):
        return sum(1 for v in values if not re.match(rx, v))

    if fails(r"^[-+]?[0-9]+$") <= budget:
        ints = [int(v) for v in values if re.match(r"^[-+]?[0-9]+$", v)]
        return StrReprT(
            inner=IntT(stats=Stats(card=n, min=min(ints), max=max(ints),
                                   distinct=len(set(ints)),
                                   unique=len(set(ints)) == len(ints))),
            pattern="d")
    if fails(r"^[-+]?(0[xX])?[0-9a-fA-F]+$") <= budget:
        return StrReprT(inner=IntT(stats=Stats(card=n)), pattern="x")
    if fails(r"^[-+]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][-+]?[0-9]+)?$") <= budget:
        return StrReprT(inner=FloatT(stats=Stats(card=n)), pattern="f")

    # datetime formats (the reference re-matches collapsed-table keys
    # with the full scalar ladder, analyzer.py:354-360) — driver-side
    # strptime over the tiny key list
    for disp, _java, rx, *_ in conversions._DT_FORMATS:
        n_bad, parsed = 0, []
        for v in values:
            try:
                parsed.append(_dt.datetime.strptime(v, disp))
            except ValueError:
                n_bad += 1
                if n_bad > budget:
                    break
        if parsed and n_bad <= budget:
            return StrReprT(
                inner=DateTimeT(stats=Stats(
                    card=n, distinct=len(set(parsed)),
                    min=min(parsed), max=max(parsed),
                    unique=len(set(parsed)) == len(parsed))),
                pattern=disp)

    lens = {len(v) for v in values}
    pattern = None
    if len(lens) == 1 and 0 < next(iter(lens)) <= _MAX_PATTERN_LEN:
        width = next(iter(lens))
        pos_sets = [(i, {v[i] for v in values}) for i in range(width)]
        pattern = tuple(induce_pattern(pos_sets))
    return StrT(stats=stats,
                lengths=LengthStats(card=n, min=min(lens), max=max(lens)),
                pattern=pattern)


# ---------------------------------------------------------------------------
# merge pass (fixpoint) — reference analyzer.py:290-398, ui/cli.py:256-264
# ---------------------------------------------------------------------------

def merge_pass(node: Node, cfg: AnalyzerConfig) -> Node:
    """One merge sweep: collapse records whose field values are
    structurally similar containers into a single table entry."""
    if isinstance(node, RecordT):
        new_fields = tuple(
            replace(f, value=merge_pass(f.value, cfg)) for f in node.fields)
        rec = RecordT(fields=new_fields, lengths=node.lengths)
        return _collapse_similar(rec, cfg)
    if isinstance(node, TableT):
        return TableT(key=merge_pass(node.key, cfg),
                      value=merge_pass(node.value, cfg),
                      lengths=node.lengths)
    if isinstance(node, ListT):
        return ListT(element=merge_pass(node.element, cfg),
                     lengths=node.lengths)
    if isinstance(node, TupleT):
        return TupleT(fields=tuple(
            replace(f, value=merge_pass(f.value, cfg))
            for f in node.fields), lengths=node.lengths)
    if isinstance(node, (StrReprT, NumReprT)):
        return replace(node, inner=merge_pass(node.inner, cfg))
    return node


def _collapse_similar(rec: RecordT, cfg: AnalyzerConfig) -> Node:
    """If every field value of a record is a container and all are
    pairwise similar above ``merge_threshold``, collapse the record to
    a table (reference analyzer.py:310-374)."""
    if len(rec.fields) < 2:
        return rec
    vals = [f.value for f in rec.fields]
    if not all(isinstance(v, (RecordT, TableT, ListT, TupleT))
               for v in vals):
        return rec
    # only structurally equal containers collapse (reference
    # analyzer.py:345-353): mixed kinds — e.g. a PyPI doc's 'info'
    # record next to its version-keyed 'releases' table — stay a record
    if len({type(v) for v in vals}) > 1:
        return rec
    if all(isinstance(v, RecordT) for v in vals):
        for i in range(len(vals) - 1):
            if record_similarity(vals[i], vals[i + 1]) < cfg.merge_threshold:
                return rec
    merged: Node = Empty()
    for v in vals:
        merged = merge(merged, v)
        if isinstance(merged, ValueAny):
            return rec
    key_node = classify_values([str(f.key) for f in rec.fields], cfg)
    return TableT(key=key_node, value=merged,
                  lengths=LengthStats(card=len(rec.fields)))


def merge_to_fixpoint(node: Node, cfg: AnalyzerConfig,
                      max_iter: int = 20) -> Node:
    """Drive merge passes until the summary size stops shrinking
    (reference ui/cli.py:256-264)."""
    size = node.size
    for _ in range(max_iter):
        node = merge_pass(node, cfg)
        if node.size >= size:
            break
        size = node.size
    return node


def merge_profiles(a: Profile, b: Profile) -> Profile:
    """Merge two independently-computed profiles (multi-file analysis:
    ``unionByName`` semantics driver-side, reference types.py:674-679).

    At scale prefer analyzing the union DataFrame instead; this is the
    associative summary combine for pre-computed profiles. Numeric /
    datetime quartiles are resolved from the mergeable KLL sketches
    each shard profile carries (``Stats.qsketches``) through ONE tiny
    JVM job, so folded quartiles match the whole-dataset profile
    within the sketch's rank-error bound instead of the
    weighted-midpoint approximation ``Stats.__add__`` falls back to
    (the fallback remains when no SparkSession is active or a column
    carries no sketches — strings, exact mode)."""
    root = merge(a.root, b.root)
    root = _resolve_quantile_sketches(root)
    return Profile(root=root, row_count=a.row_count + b.row_count,
                   cfg=a.config)


def _resolve_quantile_sketches(root: Node) -> Node:
    """Replace midpoint-approximated quartiles with KLL-merged values
    for every Stats in the tree holding >= 2 pending sketches; the
    pending list collapses to the one merged sketch. All columns
    resolve in a single driver-data job (rows = columns, KB each)."""
    from pyspark.sql import SparkSession

    pending: List[Stats] = []

    def collect(node: Node) -> None:
        st = getattr(node, "stats", None)
        if isinstance(st, Stats) and len(st.qsketches) >= 2:
            pending.append(st)
        for f in dc_fields(node):
            v = getattr(node, f.name)
            if isinstance(v, Node):
                collect(v)
            elif isinstance(v, tuple):
                for x in v:
                    if isinstance(x, Node):
                        collect(x)

    collect(root)
    spark = SparkSession.getActiveSession()
    if not pending or spark is None:
        return root

    rows = [(i, [bytearray(s) for s in st.qsketches])
            for i, st in enumerate(pending)]
    qcols = [F.kll_sketch_get_quantile_double("msk", F.lit(p))
             .alias(f"q{j}") for j, p in enumerate((0.25, 0.5, 0.75))]
    got = {r.i: r for r in
           (spark.createDataFrame(rows, "i int, sks array<binary>")
            .select("i", F.explode("sks").alias("sk"))
            .groupBy("i")
            .agg(F.kll_merge_agg_double("sk").alias("msk"))
            .select("i", *qcols, "msk").collect())}
    resolved = {}
    for i, st in enumerate(pending):
        r = got.get(i)
        if r is None or r.msk is None:
            continue
        resolved[id(st)] = (replace(
            st, q1=r.q0, q2=r.q1, q3=r.q2,
            qsketches=(bytes(r.msk),)))

    def rebuild(node: Node) -> Node:
        changes = {}
        for f in dc_fields(node):
            v = getattr(node, f.name)
            if isinstance(v, Node):
                nv = rebuild(v)
                if nv is not v:
                    changes[f.name] = nv
            elif isinstance(v, tuple) and any(
                    isinstance(x, Node) for x in v):
                nv = tuple(rebuild(x) if isinstance(x, Node) else x
                           for x in v)
                if any(x is not y for x, y in zip(nv, v)):
                    changes[f.name] = nv
            elif isinstance(v, Stats) and id(v) in resolved:
                st = resolved[id(v)]
                if isinstance(node, DateTimeT):
                    # the sketch summarizes epoch seconds; surface
                    # datetimes like the single-shard classify path
                    st = replace(st, q1=_from_epoch(st.q1),
                                 q2=_from_epoch(st.q2),
                                 q3=_from_epoch(st.q3))
                changes[f.name] = st
        return replace(node, **changes) if changes else node

    return rebuild(root)
