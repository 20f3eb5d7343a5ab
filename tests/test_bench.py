"""Bench harness guardrail: the per-round BENCH gate once zeroed out
because one query crashed the whole run. This executes bench.py
end-to-end (toy scale, one pass) and pins the contract the round
driver depends on: rc 0, one parseable JSON line, every suite entry
timed, no errors."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_end_to_end_toy_scale(tmp_path):
    medians = tmp_path / "BENCH_medians.json"
    full = tmp_path / "BENCH_local.json"
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_CPUS="8",
               SPARK_GRAFT_BENCH_RUNS="1",
               # keep the toy-scale artifacts out of the repo root —
               # the driver's real run owns those files
               SPARK_GRAFT_MEDIANS_PATH=str(medians),
               SPARK_GRAFT_FULL_PATH=str(full),
               # the toy run must not climb to the local sf1 fixture
               SPARK_GRAFT_BENCH_LADDER_UP="0",
               # toy-scale fast path: the warm-up/fingerprint pass and
               # the doclen ladder measure the box, not the contract
               # this test pins (rc 0, one JSON line, every query
               # timed, artifacts written) — the driver's real run
               # keeps both. Round 9's only red was this test timing
               # out at 900 s with them on (772 s standalone, an 83%
               # duty cycle any co-tenant load tipped over).
               SPARK_GRAFT_BENCH_WARMUP="0",
               SPARK_GRAFT_BENCH_DOCLEN="0")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, timeout=1800, env=env,
        cwd=REPO)
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = proc.stdout.strip().splitlines()[-1]
    out = json.loads(line)
    assert out["metric"] == "headline_suite_seconds"
    assert out["unit"] == "sec"
    assert isinstance(out["value"], (int, float))
    assert "errors" not in out, out.get("errors")
    missing = [q for q, t in out["queries"].items() if t is None]
    assert not missing, f"untimed queries: {missing}"
    assert len(out["queries"]) >= 20
    # the medians artifact carries the same per-query numbers
    side = json.loads(medians.read_text())
    assert side["queries"] == out["queries"]
    # the full-result artifact is the stdout JSON, byte-equivalent —
    # stdout truncation can no longer lose the medians/ladder blocks
    assert json.loads(full.read_text()) == out


def test_suite_is_declared_once_in_the_registry(spark):
    # the suite is built from the bench labels in structa_spark/queries.py
    # without running any entry; it keeps every query of the committed
    # round-12 artifact, and a label cannot be declared a second time
    import bench
    from structa_spark import queries
    suite = bench.make_suite(spark, "/root/testdata/sf0.001")
    with open(os.path.join(REPO, "BENCH_r12.json")) as fh:
        committed = json.load(fh)["parsed"]["queries"]
    assert len(committed) == 114
    assert set(committed) <= set(suite), sorted(set(committed) - set(suite))
    label = next(iter(suite))
    with pytest.raises(ValueError, match="declared twice"):
        queries.register("not_a_query", bench=label)(lambda spark, sf: None)
    assert "not_a_query" not in queries.REGISTRY
    with pytest.raises(ValueError, match="declared twice"):
        queries.bench_only(label)(lambda spark, sf: None)
    with pytest.raises(ValueError, match="registered twice"):
        queries.register(next(iter(queries.REGISTRY)))(lambda spark, sf: None)
    assert set(queries.BENCH) == set(suite)


def test_plan_fingerprint_ignores_session_counters(spark):
    # lambda variable names carry a session-wide counter, so without
    # normalization a query's fingerprint depended on how many
    # higher-order functions the queries before it had built
    import bench
    from pyspark.sql import functions as F

    def build():
        return spark.range(3).select(
            F.transform(F.array("id"), lambda x: x + 1).alias("a"))

    first = bench._plan_fingerprint(build())
    assert bench._plan_fingerprint(build()) == first

    # a consumer of a persisted relation reads the same before and
    # after the relation has run (its adaptive plan then prints query
    # stages), here also with the relation cached inside another one
    inner = (spark.range(50).groupBy((F.col("id") % 5).alias("k"))
             .agg(F.sum("id").alias("s")).persist())
    outer = (inner.join(spark.range(10).withColumnRenamed("id", "k"), "k")
             .groupBy("s").count().persist())
    try:
        def consumer():
            return outer.where("s > 0").join(
                inner.select(F.col("k").alias("kk")),
                F.col("s") == F.col("kk"))

        cold = bench._plan_fingerprint(consumer())
        inner.count()
        outer.count()
        assert bench._plan_fingerprint(consumer()) == cold
    finally:
        outer.unpersist()
        inner.unpersist()
