"""Golden-structure tests for the inference engine, mirroring the
reference's test strategy (SURVEY §5) on the FIXTURES.md shapes."""

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from structa_spark import analyze, merge_to_fixpoint
from structa_spark.model import (
    BoolT, DateTimeT, FieldT, FloatT, IntT, ListT, NumReprT, RecordT,
    StrReprT, StrT, TableT, URLT, ValueAny,
)


def df_of(spark, values, dtype=T.StringType()):
    schema = T.StructType([T.StructField("v", dtype)])
    return spark.createDataFrame([(x,) for x in values], schema)


def leaf(profile):
    [field] = profile.root.fields
    return field.value


# -- F1/F2: str-nums with and without noise --------------------------------

def test_str_of_int(spark):
    p = analyze(df_of(spark, [str(i) for i in range(1000)]), exact=True)
    node = leaf(p)
    assert isinstance(node, StrReprT) and node.pattern == "d"
    assert isinstance(node.inner, IntT)
    assert node.inner.stats.min == 0 and node.inner.stats.max == 999


def test_bad_nums_within_threshold(spark):
    vals = [str(i) for i in range(1000)] + ["foo"]
    node = leaf(analyze(df_of(spark, vals), exact=True))
    assert isinstance(node, StrReprT) and node.pattern == "d"


def test_bad_nums_zero_threshold(spark):
    vals = [str(i) for i in range(1000)] + ["foo"]
    node = leaf(analyze(df_of(spark, vals), exact=True, bad_threshold=0.0))
    assert isinstance(node, StrT) and not isinstance(node, StrReprT)


@pytest.mark.parametrize("exact", [True, False])
def test_int_strings_with_overflowing_float_bound(spark, exact):
    # "0001e999" reads as a float that overflows to inf, so the max no
    # int can hold: the column still classifies, and its bounds are
    # dropped like any other unconvertible bound
    vals = [f"{i:08d}" for i in range(1000)] + ["0001e999"]
    node = leaf(analyze(df_of(spark, vals), exact=exact))
    assert isinstance(node, StrReprT) and node.pattern == "d"
    assert isinstance(node.inner, IntT)
    assert node.inner.stats.min is None and node.inner.stats.max is None


# -- F3: mostly-blank ------------------------------------------------------

def test_mostly_blank_default(spark):
    vals = [str(i % 100) for i in range(300)] + [""] * 700
    node = leaf(analyze(df_of(spark, vals), exact=True))
    assert isinstance(node, StrReprT) and node.pattern == "d"


def test_mostly_blank_low_threshold(spark):
    vals = [str(i % 100) for i in range(300)] + [""] * 700
    node = leaf(analyze(df_of(spark, vals), exact=True,
                        empty_threshold=0.5))
    assert isinstance(node, StrT) and not isinstance(node, StrReprT)


# -- F4: mixed types -------------------------------------------------------

def test_nulls_over_threshold_give_value(spark):
    vals = ["z"] * 5 + [None] * 5
    node = leaf(analyze(df_of(spark, vals), exact=True,
                        null_threshold=0.0))
    assert isinstance(node, ValueAny)


def test_nulls_within_threshold_dropped(spark):
    # 'z' deliberately: single chars a-f are valid base-16 ints and
    # classify as str-of-int, faithful to the reference's int(x, 16)
    vals = ["z"] * 5 + [None] * 5
    node = leaf(analyze(df_of(spark, vals), exact=True))
    assert isinstance(node, StrT)


# -- F9: scalar ladder -----------------------------------------------------

def test_native_types(spark):
    p = analyze(df_of(spark, [True, False] * 10, T.BooleanType()),
                exact=True)
    assert isinstance(leaf(p), BoolT)
    p = analyze(df_of(spark, list(range(100)), T.LongType()), exact=True)
    assert isinstance(leaf(p), IntT)
    p = analyze(df_of(spark, [float(i) for i in range(100)],
                      T.DoubleType()), exact=True)
    assert isinstance(leaf(p), FloatT)


def test_bool_strings(spark):
    node = leaf(analyze(df_of(spark, ["true", "false"] * 50), exact=True))
    assert isinstance(node, StrReprT)
    assert node.pattern == "false|true"
    assert isinstance(node.inner, BoolT)


def test_hex_int_strings(spark):
    vals = [hex(i * 37) for i in range(500)]
    node = leaf(analyze(df_of(spark, vals), exact=True))
    assert isinstance(node, StrReprT) and node.pattern == "x"


def test_float_strings(spark):
    vals = [f"{i / 7:.4f}" for i in range(500)]
    node = leaf(analyze(df_of(spark, vals), exact=True))
    assert isinstance(node, StrReprT) and node.pattern == "f"


def test_datetime_strings(spark):
    vals = [f"2023-05-{(i % 28) + 1:02d} 12:{i % 60:02d}:00"
            for i in range(200)]
    node = leaf(analyze(df_of(spark, vals), exact=True))
    assert isinstance(node, StrReprT)
    assert node.pattern == "%Y-%m-%d %H:%M:%S"
    assert isinstance(node.inner, DateTimeT)


@pytest.mark.parametrize("fmt", [
    "%Y-%m-%d %H:%M", "%Y-%m-%dT%H:%M",            # minute precision
    "%Y-%m-%d %H:%M:%S.%f%z", "%Y-%m-%dT%H:%M:%S.%f%z",
    "%Y-%m-%d %H:%M%z", "%Y-%m-%dT%H:%M%z",
    "%a, %d %b %Y %H:%M:%S", "%a, %d %b %Y %H:%M:%S %Z",  # RFC-1123
])
def test_datetime_format_parity(spark, fmt):
    # reference analyzer.py:64-82 format set: every pattern must be
    # DETECTED (StrReprT with that pattern) and DECODE to the right
    # instants through the compiled cast chain
    import datetime as dt
    base = dt.datetime(2023, 5, 1, 8, 30, 0, 250000,
                       tzinfo=dt.timezone.utc)
    vals = [(base + dt.timedelta(hours=i)).strftime(fmt)
            for i in range(120)]
    # .%f%z values are 31+ chars — over the reference's own 30-char
    # conversion gate (reference analyzer.py:658), so raise it the
    # same way a reference user would
    node = leaf(analyze(df_of(spark, vals), exact=True,
                        max_numeric_len=40))
    assert isinstance(node, StrReprT), (fmt, node)
    assert node.pattern == fmt
    assert isinstance(node.inner, DateTimeT)
    # decode through plans.cast_expr (one spot check)
    from structa_spark.plans import cast_expr
    got = (df_of(spark, vals[:1])
           .select(cast_expr(node, F.col("v")).alias("ts"))
           .collect()[0].ts)
    assert got is not None
    assert (got.hour, got.minute) == (8, 30)


def test_string_quartiles_reference_walk(spark):
    # reference types.py:182-207: sorted-distinct cumulative walk;
    # quartile k = first value whose preceding-cumulative >= (k*card)//4,
    # remainder falls back to max
    def quartiles(vals):
        node = leaf(analyze(df_of(spark, vals), exact=True))
        return (node.stats.q1, node.stats.q2, node.stats.q3)

    # skewed head: [red x4, blue] -> walk gives q1=q2=q3=red
    assert quartiles(["red"] * 4 + ["blue"]) == ("red", "red", "red")
    # skewed tail: [red, blue x4] -> all red as well
    assert quartiles(["red"] + ["blue"] * 4) == ("red", "red", "red")
    # uniform 8 -> idx (2,4,6)
    assert quartiles(list(
        ["ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen"])) \
        == ("cat", "elk", "gnu")


def test_string_quartiles_skipped_in_sketch_mode(spark):
    node = leaf(analyze(df_of(spark, ["red", "blue", "green"] * 10),
                        exact=False))
    assert node.stats.q1 is None


def test_url_detection(spark):
    vals = [f"https://example.com/p/{i}" for i in range(50)] \
        + [f"http://other.org/{i}" for i in range(50)]
    node = leaf(analyze(df_of(spark, vals), exact=True))
    assert isinstance(node, URLT)


def test_epoch_seconds_heuristic(spark):
    import time
    now = time.time()
    vals = [now + i * 3600.0 for i in range(200)]
    node = leaf(analyze(df_of(spark, vals, T.DoubleType()), exact=True))
    assert isinstance(node, NumReprT) and node.pattern == "f"
    assert isinstance(node.inner, DateTimeT)


def test_out_of_range_epoch_stays_float(spark):
    vals = [float(i) for i in range(200)]     # 1970 era: out of window
    node = leaf(analyze(df_of(spark, vals, T.DoubleType()), exact=True))
    assert isinstance(node, FloatT)


def test_fixed_width_pattern(spark):
    vals = [f"id {i % 1000:03d}" for i in range(1000)]
    node = leaf(analyze(df_of(spark, vals), exact=True))
    assert isinstance(node, StrT)
    from structa_spark.chars import pattern_str
    assert pattern_str(node.pattern) == "id ddd"


def test_free_text_is_plain_str(spark):
    vals = [f"the quick brown fox {i} jumps over it" for i in range(50)]
    node = leaf(analyze(df_of(spark, vals), exact=True))
    assert isinstance(node, StrT) and node.pattern is None


# -- containers ------------------------------------------------------------

def test_fixed_width_array_becomes_tuple(spark):
    # fixed short width + more rows than width -> positional tuple
    # (reference analyzer.py:576-588)
    schema = T.StructType([T.StructField(
        "v", T.ArrayType(T.LongType()))])
    df = spark.createDataFrame(
        [([i, i + 1, i + 2],) for i in range(100)], schema)
    node = leaf(analyze(df, exact=True))
    from structa_spark.model import TupleT
    assert isinstance(node, TupleT)
    assert len(node.fields) == 3
    assert all(isinstance(f.value, IntT) for f in node.fields)
    assert node.fields[0].value.stats.min == 0
    assert node.fields[0].value.stats.max == 99
    assert node.fields[2].value.stats.max == 101
    assert node.lengths.min == 3 and node.lengths.max == 3


def test_variable_width_array_stays_list(spark):
    schema = T.StructType([T.StructField(
        "v", T.ArrayType(T.LongType()))])
    df = spark.createDataFrame(
        [([j for j in range(i % 4 + 1)],) for i in range(100)], schema)
    node = leaf(analyze(df, exact=True))
    assert isinstance(node, ListT)
    assert isinstance(node.element, IntT)
    assert node.lengths.min == 1 and node.lengths.max == 4


def test_map_column_is_table(spark):
    schema = T.StructType([T.StructField(
        "v", T.MapType(T.StringType(), T.DoubleType()))])
    df = spark.createDataFrame(
        [({f"k{i}": float(i)},) for i in range(100)], schema)
    node = leaf(analyze(df, exact=True))
    assert isinstance(node, TableT)
    assert isinstance(node.value, FloatT)


def test_wide_struct_collapses_to_table(spark):
    # 30 fields > field_threshold=20, homogeneous values
    fields = [T.StructField(f"f{i:02d}", T.LongType()) for i in range(30)]
    schema = T.StructType([T.StructField("v", T.StructType(fields))])
    df = spark.createDataFrame(
        [(tuple(range(30)),) for _ in range(50)], schema)
    node = leaf(analyze(df, exact=True))
    assert isinstance(node, TableT)
    assert isinstance(node.value, IntT)


def test_narrow_struct_stays_record(spark):
    schema = T.StructType([T.StructField("v", T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
    ]))])
    df = spark.createDataFrame([((i, str(i)),) for i in range(50)], schema)
    node = leaf(analyze(df, exact=True))
    assert isinstance(node, RecordT)
    assert [f.key for f in node.fields] == ["a", "b"]


def test_optional_field_detection(spark):
    schema = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
    ])
    rows = [(i, "x") for i in range(99)] + [(99, None)]
    p = analyze(spark.createDataFrame(rows, schema), exact=True)
    fields = {f.key: f for f in p.root.fields}
    assert not fields["a"].optional
    assert fields["b"].optional


def test_merge_fixpoint_collapses_similar_records(spark):
    import json
    data = [json.dumps({"recs": {
        f"id{i}": {"code": f"id{i}", "n": i} for i in range(6)
    }})]
    df = spark.read.json(spark.sparkContext.parallelize(data))
    p = analyze(df, exact=True)
    merged = merge_to_fixpoint(p.root, p.config)
    recs = {f.key: f for f in merged.fields}["recs"].value
    assert isinstance(recs, TableT)
    assert isinstance(recs.value, RecordT)
    assert merged.size < p.root.size


def test_validation_predicate_roundtrip(spark):
    df = df_of(spark, [str(i) for i in range(100)])
    p = analyze(df, exact=True)
    assert df.where(~p.validation_predicate()).count() == 0
    bad = df_of(spark, ["zzz"] * 10)
    assert bad.where(p.validation_predicate()).count() == 0


def test_strip_whitespace(spark):
    df = spark.createDataFrame(
        [(f"  {i} ",) for i in range(60)], "v: string")
    node = leaf(analyze(df, exact=True, strip_whitespace=True))
    assert isinstance(node, StrReprT)
    assert node.pattern == "d"
    assert node.inner.stats.min == 0 and node.inner.stats.max == 59
    # without stripping the padded strings stay plain strings
    node = leaf(analyze(df, exact=True))
    assert isinstance(node, StrT)


def test_decode_applies_cast_chains(spark):
    df = spark.createDataFrame(
        [(str(i), f"2023-01-{(i % 28) + 1:02d}") for i in range(100)],
        "n: string, d: string")
    p = analyze(df, exact=True)
    dec = p.decode(df)
    assert dict(dec.dtypes) == {"n": "bigint", "d": "timestamp"}
    assert dec.agg(F.sum("n")).collect()[0][0] == sum(range(100))


def test_profile_to_dict(spark):
    df = spark.createDataFrame(
        [(i, str(i)) for i in range(50)], "a: long, b: string")
    d = analyze(df, exact=True).to_dict()
    assert d["row_count"] == 50
    fields = {f["key"]: f for f in d["root"]["fields"]}
    assert fields["a"]["value"]["type"] == "int"
    assert fields["a"]["value"]["stats"]["max"] == 49
    assert fields["b"]["value"]["type"] == "strrepr"
    assert fields["b"]["value"]["of"]["type"] == "int"


# -- robustness edges ------------------------------------------------------

def test_zero_row_dataframe(spark):
    df = spark.createDataFrame([], "a: long, b: string")
    p = analyze(df, exact=True)
    assert p.row_count == 0
    from structa_spark.model import Empty
    assert all(isinstance(f.value, Empty) for f in p.root.fields)


def test_all_null_column(spark):
    df = spark.createDataFrame([(i, None) for i in range(50)],
                               "a: long, b: string")
    p = analyze(df, exact=True)
    fields = {f.key: f for f in p.root.fields}
    assert isinstance(fields["a"].value, IntT)
    assert isinstance(fields["b"].value, ValueAny)


def test_all_empty_strings(spark):
    df = spark.createDataFrame([("",) for _ in range(50)], "v: string")
    node = leaf(analyze(df, exact=True))
    assert isinstance(node, StrT)
    assert node.lengths.max == 0


def test_empty_arrays(spark):
    df = spark.createDataFrame([([],) for _ in range(20)],
                               "v: array<long>")
    node = leaf(analyze(df, exact=True))
    from structa_spark.model import Empty
    assert isinstance(node, ListT)
    assert isinstance(node.element, Empty)
    assert node.lengths.max == 0


def test_single_row(spark):
    df = spark.createDataFrame([(1, "x")], "a: long, b: string")
    p = analyze(df, exact=True)
    assert p.row_count == 1


def test_uniqueness_flag_exact_sketch_agree(spark):
    # clearly-unique and clearly-repeated columns must agree across
    # exact and sketch modes (the sketch bound is 3*rsd of HLL error)
    uniq = [f"user-{i:06d}" for i in range(5000)]
    rep = [f"tag-{i % 40}" for i in range(5000)]
    near = [f"id-{i if i % 10 else 0:06d}" for i in range(5000)]  # 10% dup
    for vals, want in ((uniq, True), (rep, False), (near, False)):
        for exact in (True, False):
            node = leaf(analyze(df_of(spark, vals), exact=exact))
            assert node.stats.unique is want, (vals[0], exact, want)
