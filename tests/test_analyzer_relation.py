"""The analyzer's job fan-out: the per-context (leaf, value, count)
relation against the streaming per-occurrence path, the lifetime of
what a profile persists, and the Spark local properties of the jobs
its worker pool submits."""

import datetime as dt
import functools
import random
from collections import Counter

import pytest

from pyspark.sql import types as T

import structa_spark.analyzer as A
from structa_spark import analyze
from structa_spark.model import (
    BoolT, DateTimeT, FloatT, IntT, StrReprT, StrT, TableT, URLT, node_to_dict)

# more rows than the sampling gate's 10,000-occurrence floor, so the
# unique `uid` and `serial` columns stay off the relation in sketch
# mode (their HLL estimate says near-unique); every other column
# repeats its values
N = 12_000

_COLS = ["d_int", "o_int", "x_int", "flt", "bool_w", "dt_fixed", "dt_zone",
         "blank_lo", "blank_hi", "with_nulls", "noise_under", "noise_over",
         "code", "url", "uid", "serial"]
_NEAR_UNIQUE = {("uid",), ("serial",)}


def _row(i: int, rng: random.Random):
    t = dt.datetime(2015, 1, 1) + dt.timedelta(
        seconds=rng.randrange(3000) * 86_399)
    d = str(rng.randrange(5000))
    return (
        # 1% padded: a parse failure unless strip_whitespace
        f" {d} " if i % 100 == 0 else d,
        f"0o{rng.randrange(4096):o}",
        f"0x{rng.randrange(4096):x}",
        f"{rng.randrange(-5000, 5000) / 100:.2f}",
        rng.choice(["yes", "no"]),
        t.strftime("%Y-%m-%d %H:%M:%S"),
        t.strftime("%Y-%m-%dT%H:%M:%S") + rng.choice(["Z", "+01:00",
                                                      "-0530"]),
        "" if rng.random() < 0.5 else str(rng.randrange(100)),
        "" if rng.random() < 0.99 else str(rng.randrange(100)),
        None if rng.random() < 0.3 else rng.choice(["red", "green", "blue"]),
        "n/a" if i % 200 < 3 else str(i % 5000),     # 1.5% noise
        "n/a" if i % 200 < 5 else str(i % 5000),     # 2.5% noise
        f"{rng.choice('ABC')}{rng.choice('XYZ')}-{rng.randrange(1000):03d}",
        f"https://example.org/item/{rng.randrange(40)}",
        f"u{i:07d}",
        str(100_000 + i),
        rng.randrange(50),
    )


@functools.lru_cache(maxsize=None)
def _mixed_rows():
    rng = random.Random(11)
    return [_row(i, rng) for i in range(N)]


@pytest.fixture(scope="module")
def mixed_table(spark, tmp_path_factory):
    """A parquet file (so the analyzer caches its input) with one
    column per classification path of the scalar ladder."""
    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in _COLS]
        + [T.StructField("qty", T.LongType())])
    path = str(tmp_path_factory.mktemp("mixed") / "mixed.parquet")
    (spark.createDataFrame(_mixed_rows(), schema)
     .coalesce(1).write.parquet(path))
    return path


def _reference_quartiles(name, strip):
    """The reference's sorted-distinct cumulative walk (structa
    types.py:182-207) over the fixture column in Python: quartile i is
    the first value whose preceding count reaches (i*card)//4, else
    the max."""
    col = _COLS.index(name)
    vals = [r[col] for r in _mixed_rows() if r[col] is not None]
    if strip:
        vals = [v.strip() for v in vals]
    counts = Counter(vals)
    qs, before = [None] * 3, 0
    for v in sorted(counts):
        for i in (1, 2, 3):
            if qs[i - 1] is None and before >= len(vals) * i // 4:
                qs[i - 1] = v
        before += counts[v]
    return tuple(max(counts) if q is None else q for q in qs)


def _recording(monkeypatch, name, record):
    orig = getattr(A, name)

    def wrapped(*args, **kwargs):
        out = orig(*args, **kwargs)
        record(args, out)
        return out

    monkeypatch.setattr(A, name, wrapped)


def _profile(spark, path, monkeypatch, stream_all=False, share=True, **kw):
    """(fields by name, paths scored by _phase_b_row, paths scored from
    the shared relation); ``stream_all`` keeps every leaf off the
    relation, ``share=False`` keeps it below the size that is shared
    with phase B and the char sets"""
    streamed, related = set(), set()
    if not share:
        monkeypatch.setattr(A, "_SHARED_RELATION_MIN", 10**18)
    _recording(monkeypatch, "_phase_b_row",
               lambda args, out: streamed.update(lf.path for lf in args[1]))
    if stream_all:
        monkeypatch.setattr(A, "_relation_leaves",
                            lambda *a: ({}, {}, False))
    _recording(monkeypatch, "_relation_leaves",
               lambda args, out: related.update(
                   lf.path for lf in out[1].values() if out[2]))
    p = analyze(spark.read.parquet(path), **kw)
    monkeypatch.undo()
    return {f.key: f.value for f in p.root.fields}, streamed, related


# the fixture's relation is big enough to share; in the last two cases
# it is not, and only top-k and the quartiles read it
@pytest.mark.parametrize("exact,strip,share", [
    (False, False, True), (True, False, True), (False, True, True),
    (True, True, True), (False, False, False), (True, True, False)])
def test_relation_path_matches_streaming_path(spark, mixed_table,
                                              monkeypatch, exact, strip,
                                              share):
    rel, streamed, related = _profile(
        spark, mixed_table, monkeypatch, exact=exact, strip_whitespace=strip,
        share=share)
    ref, streamed_ref, related_ref = _profile(
        spark, mixed_table, monkeypatch, exact=exact, strip_whitespace=strip,
        stream_all=True)

    # the shared relation carries every repeated leaf, and in exact
    # mode every string leaf; the other string leaves stream, and no
    # leaf it carries does
    everything = {(c,) for c in _COLS + ["qty"]}
    shared = everything if exact else everything - _NEAR_UNIQUE
    assert related == (shared if share else set())
    assert not streamed & related
    assert {(c,) for c in _COLS} - related <= streamed
    assert not related_ref
    assert {(c,) for c in _COLS} <= streamed_ref

    # type, Repr pattern, stats, lengths and char pattern agree;
    # samples are only collected on the relation path. Exact string
    # quartiles come only from the relation: without it a plain
    # string has none, and with it they equal the reference walk
    assert list(rel) == list(ref)
    plain = []
    for name in rel:
        got, want = node_to_dict(rel[name]), node_to_dict(ref[name])
        if exact and isinstance(rel[name], StrT):
            plain.append(name)
            qs = tuple(got["stats"].pop(q) for q in ("q1", "q2", "q3"))
            assert qs == _reference_quartiles(name, strip), name
            assert [want["stats"].pop(q) for q in ("q1", "q2", "q3")] \
                == [None] * 3, name
        assert got == want, name
    assert rel["code"].stats.sample and not ref["code"].stats.sample

    # the fixture reaches the classification paths it was built for
    kinds = {name: (type(n), getattr(n, "pattern", None))
             for name, n in rel.items()}
    assert kinds["d_int"] == (StrReprT, "d")
    assert kinds["o_int"] == (StrReprT, "o")
    assert kinds["x_int"] == (StrReprT, "x")
    assert kinds["flt"] == (StrReprT, "f")
    assert kinds["bool_w"] == (StrReprT, "no|yes")
    assert kinds["dt_fixed"] == (StrReprT, "%Y-%m-%d %H:%M:%S")
    assert kinds["dt_zone"] == (StrReprT, "%Y-%m-%dT%H:%M:%S%z")
    assert kinds["blank_lo"] == (StrReprT, "d")
    assert kinds["noise_under"] == (StrReprT, "d")
    assert isinstance(rel["dt_fixed"].inner, DateTimeT)
    assert isinstance(rel["bool_w"].inner, BoolT)
    assert isinstance(rel["flt"].inner, FloatT)
    assert isinstance(rel["d_int"].inner, IntT)
    assert kinds["serial"] == (StrReprT, "d")
    for name in ("blank_hi", "with_nulls", "noise_over", "code", "uid"):
        assert type(rel[name]) is StrT, name
    assert type(rel["url"]) is URLT
    assert rel["code"].pattern and rel["uid"].pattern
    assert rel["with_nulls"].pattern is None      # not fixed width
    if exact:
        assert set(plain) == {"blank_hi", "with_nulls", "noise_over",
                              "code", "url", "uid"}


def _persisted_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_analyze_leaves_nothing_persisted(spark, mixed_table, monkeypatch):
    monkeypatch.setattr(A, "_SHARED_RELATION_MIN", 0)  # persist them all
    before = _persisted_rdds(spark)
    analyze(spark.read.parquet(mixed_table), exact=True)
    assert _persisted_rdds(spark) == before

    # a failing relation consumer still reaches the caller, and the
    # cached input and the relation are released all the same
    def fail(*args, **kwargs):
        raise RuntimeError("top-k consumer failed")

    monkeypatch.setattr(A, "_collect_topk", fail)
    with pytest.raises(RuntimeError, match="top-k consumer failed"):
        analyze(spark.read.parquet(mixed_table))
    assert _persisted_rdds(spark) == before


# the phases an analyzer job is described by
_PHASES = ("input", "phase A", "phase B", "top-k", "char patterns",
           "string quartiles", "tuples")


def test_pool_jobs_carry_callers_job_group(spark, tmp_path):
    # several repetition contexts (array, map, nested array, a
    # fixed-width array for tuple induction), read from a file so the
    # input is cached: most jobs run on the analyzer's pool threads
    rows = [(i, [f"t{i % 7}", "x"], {"k": str(i % 3)},
             (f"a{i % 5}", [i % 4] * (1 + i % 3)), [i, i + 1])
            for i in range(300)]
    schema = ("id long, tags array<string>, attrs map<string,string>, "
              "rec struct<a: string, b: array<int>>, pair array<long>")
    path = str(tmp_path / "nested.parquet")
    # one file: the input is repartitioned, in a job of its own
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    group = "structa-analyze-under-test"
    lo = int(jsc.dagScheduler().numTotalJobs())
    sc.setJobGroup(group, "profile")
    try:
        p = analyze(df)
        after = sc.getLocalProperty("spark.job.description")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    hi = int(jsc.dagScheduler().numTotalJobs())
    assert "pair" in {f.key for f in p.root.fields}

    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    groups, phases = {}, {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if lo <= int(j.jobId()) < hi:
            g, d = j.jobGroup(), j.description()
            groups[int(j.jobId())] = g.get() if g.isDefined() else None
            phases[int(j.jobId())] = d.get() if d.isDefined() else None
    assert len(groups) == hi - lo > 8
    assert {g for g in groups.values()} == {group}, groups
    # ... and each is described by the analyzer phase that ran it
    assert set(phases.values()) <= {f"analyze: {p}" for p in _PHASES}, phases
    assert {"analyze: input", "analyze: phase A", "analyze: phase B",
            "analyze: top-k", "analyze: tuples"} <= set(phases.values())
    # the caller's own description comes back after the profile
    assert after == "profile"


def test_map_typed_input_is_hash_partitioned(spark, tmp_path,
                                             monkeypatch):
    # xxhash64 refuses a map, so the input copy hashes the columns
    # that hold none instead of falling back to a keyless repartition,
    # which sorts every input partition first
    path = str(tmp_path / "maps.parquet")
    (spark.createDataFrame([(i, {"k": str(i % 3)}) for i in range(200)],
                           "id long, m map<string,string>")
     .coalesce(1).write.parquet(path))
    df = spark.read.parquet(path)
    keys = []
    repartition = type(df).repartition

    def spy(self, n, *cols):
        keys.append([str(c) for c in cols])
        return repartition(self, n, *cols)

    monkeypatch.setattr(type(df), "repartition", spy)
    fields = {f.key: f.value for f in analyze(df).root.fields}
    assert keys == [["Column<'xxhash64(`id`)'>"]]
    assert isinstance(fields["m"], TableT)
    assert fields["id"].stats.card == 200
