"""Physical-plan audits: the scale discipline, enforced by CI.

Every registered query's executed plan is rendered and checked for
the properties that keep it viable at 100 TB:

* no CartesianProduct / BroadcastNestedLoopJoin anywhere except the
  explicitly-labeled quadratic oracle paths;
* dimension joins on the fact table broadcast their small side;
* parquet scans under a selective query push their filters.

A regression that silently turns a bucketed join into a cross
product, or un-pushes a filter, fails here long before it melts a
cluster.
"""

import pytest

from pyspark.sql import functions as F

from structa_spark.operators import dedup, sampling, text
from structa_spark.queries import REGISTRY
from structa_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"

# queries whose SEMANTICS are a labeled all-pairs comparison (oracle
# or verification modes over bounded subsets) — the quadratic shape
# is the point, the bound is the doc-id filter
_QUADRATIC_OK = {
    "ngram_jaccard_pairs",       # exact-Jaccard ground truth, doc_id<150
    "split_leakage_report",      # rides the same labeled exact-Jaccard
                                 # slice; scale path is LSH candidates
    "near_dup_groups",           # exact edge mode vs recursive-CTE oracle
    "dup_cluster_histogram",     # rides the same labeled exact slice
    "cosine_topk",               # brute-force baseline: queries x corpus
    "cosine_topk_vectorized",    # same, Arrow path
    "hard_negative_topk",        # labeled broadcast(anchors) x corpus;
                                 # scale path is ANN candidates into
                                 # the same filter + window tail
    "embedding_neardup_pairs",   # exact mode over 2k vectors
    "range_join_purchase_views",  # inequality residual on equality key
    "asof_purchase_click",       # union-merge window
    "pq_adc_topk",               # corpus x broadcast(queries): every
                                 # corpus row IS scored per query (the
                                 # point of ADC is each score is m
                                 # lookups, not a dim-length dot)
    "int8_topk_search",          # same shape: stage-1 integer-dot
                                 # scan IS corpus x broadcast(queries)
                                 # on 4x-smaller codes
    "hybrid_rrf_topk",           # fuses two of the above scans;
                                 # inherits their labeled shape
    "ivf_recall_at_k",           # the ground-truth side IS the
                                 # labeled exact scan (recall is
                                 # measured against brute force, paid
                                 # once per tuning run on a bounded
                                 # query sample)
    "pq_recall_at_k",            # same shape: exact dot ground truth
                                 # for the ADC candidate set
    "matryoshka_recall_at_k",    # both sides are the labeled
                                 # broadcast(queries) x corpus exact
                                 # scan (prefix-truncated vs full);
                                 # the tuning-run evaluation shape
    "bitext_margin_pairs",       # broadcast(X-shard) x Y scan — the
                                 # per-shard-pair mining pass; at
                                 # corpus scale the scored relation
                                 # comes from ANN candidates into
                                 # the identical margin fold
}

# queries whose nested-loop join is a 1-ROW scalar broadcast (a
# corpus-wide total folded into the expression) — constant work per
# row, not an all-pairs shape
_SCALAR_BROADCAST_OK = {
    "unigram_nll",               # broadcast(total token count)
    "bigram_nll",                # broadcast(vocabulary size V)
    "reflm_nll",                 # broadcast(reference vocabulary V)
    "ccnet_perplexity_buckets",  # same reference-LM scoring relation
                                 # (broadcast V), tertile cutoffs are
                                 # a #langs-row broadcast on top
    "kn_bigram_nll",             # broadcast(bigram-type total B)
    "dsir_logweights",           # broadcast(corpus/target totals)
    "dsir_resample_topk",        # same weights, noised top-k
    "source_token_jsd",          # broadcast(corpus token total)
    "oov_rate_by_vocab_size",    # broadcast(total token mass) onto
                                 # the 1-row coverage relation
    "unimax_lang_allocation",    # broadcast(total+group count) and
                                 # broadcast(water level) onto the
                                 # #langs-row allocation relation
    "host_pagerank",             # broadcast(node count N) and
                                 # broadcast(dangling mass) — two
                                 # 1-row scalars folded into every
                                 # power iteration
    "host_policy_v2",            # composes host_pagerank's ranks:
                                 # inherits the same two 1-row
                                 # scalar broadcasts
    "host_hits_scores",          # broadcast(L1 norm total) — one
                                 # 1-row scalar folded into every
                                 # half-iteration
    "heaps_vocab_growth",        # broadcast(min/max doc id) — one
                                 # 1-row bounds relation folded into
                                 # the bucket expression
    "doremi_domain_weights",     # composes unigram_logprob: inherits
                                 # its broadcast(total token count)
                                 # 1-row scalar
    "bm25_topk",                 # broadcast(N, avgdl) — one 1-row
                                 # corpus-stats scalar folded into
                                 # the idf and length-norm terms
    "alpha_lang_weights",        # broadcast(power-sum total) — one
                                 # 1-row normalizer folded onto the
                                 # #langs-row relation
    "zorder_layout_keys",        # broadcast(min/max bounds) — one
                                 # 1-row quantization-bounds scalar
                                 # folded into the key projection
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_unlabeled_cartesian(spark, name):
    fn, _ = REGISTRY[name]
    plan = _plan(fn(spark, SF))
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        if (bad in plan and name not in _QUADRATIC_OK
                and name not in _SCALAR_BROADCAST_OK):
            raise AssertionError(
                f"{name}: {bad} in executed plan — an unlabeled "
                f"all-pairs shape would be quadratic at scale:\n"
                f"{plan[:2000]}")


def test_q5_broadcasts_dimensions(spark):
    fn, _ = REGISTRY["q5_nation_revenue"]
    plan = _plan(fn(spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:1500]
    # the fact table must not be the broadcast side: no exchange
    # should materialize lineitem for broadcast (heuristic: the plan
    # keeps at least one shuffle-free broadcast join)
    assert "BroadcastExchange" in plan


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = (load_table(spark, SF, "lineitem")
          .where(F.col("l_shipdate") < "1996-01-01")
          .select("l_orderkey", "l_extendedprice"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "LessThan" in plan, \
        plan[:1500]
    # column pruning: the scan must read only the referenced columns
    lower = plan[plan.index("ReadSchema"):][:300]
    assert "l_comment" not in lower and "l_quantity" not in lower


def test_profile_jobs_stay_whole_stage_codegen(spark):
    # the analyzer's scalar phase-A job must stay inside
    # WholeStageCodegen: one imperative aggregate in the same agg
    # would force the whole thing interpreted
    import structa_spark.analyzer as A
    df = load_table(spark, SF, "lineitem")
    cfg = A.AnalyzerConfig()
    contexts, _arrs, _tabs = A._plan(df, cfg)
    ctx = contexts[0]
    jobs = A._phase_a_jobs(ctx.leaves, ctx.length_leaves, cfg)
    scalar_job = df.selectExpr(*jobs[0])
    scalar_job.collect()          # resolve AQE to the final plan
    plan = scalar_job._jdf.queryExecution().executedPlan().toString()
    # invariants: no imperative sketch leaked into the scalar job
    # (ObjectHashAggregate), no string buffer demoted it to
    # SortAggregate, and the HashAggregate runs inside whole-stage
    # codegen (the `*(n)` prefix in the executed-plan string)
    assert "ObjectHashAggregate" not in plan, plan[:1500]
    assert "SortAggregate" not in plan, plan[:1500]
    assert "HashAggregate" in plan, plan[:1500]
    assert "*(" in plan, "no WholeStageCodegen span:\n" + plan[:1500]


def test_profile_topk_limits_before_the_exchange(spark):
    # each side of the analyzer's top-k / bottom-k query is a single
    # `row_number() <= top_k` window, so Spark plans a PARTIAL
    # WindowGroupLimit under the exchange: every map task ships at
    # most top_k rows per leaf instead of every distinct value
    import structa_spark.analyzer as A
    df = load_table(spark, SF, "lineitem")
    contexts, _arrs, _tabs = A._plan(df, A.AnalyzerConfig())
    ctx = contexts[0]
    keys = {lf.key: lf for lf in ctx.leaves}
    q = A._topk_query(A._counted_values(ctx, keys), keys)
    q.collect()                   # resolve AQE to the final plan
    plan = q._jdf.queryExecution().executedPlan().toString()
    lines = plan.split("== Initial Plan ==")[0].split("\n")
    partial = [i for i, ln in enumerate(lines)
               if "WindowGroupLimit" in ln and "Partial" in ln]
    assert len(partial) == 2, "\n".join(lines)

    def depth(ln):
        return len(ln) - len(ln.lstrip(" :+-"))

    for i in partial:
        # the nearest shallower Exchange above the partial limit is
        # its ancestor in the tree string
        above = [j for j in range(i) if "Exchange" in lines[j]
                 and depth(lines[j]) < depth(lines[i])]
        assert above, "no exchange above the partial limit:\n" + \
            "\n".join(lines)


def test_phase_a_builders_match_eager_jobs(spark):
    # the phase-A job layout is pinned INDEPENDENTLY of the code that
    # lays it out (ADVICE r11): the job count comes from the chunk
    # math, the expressions from a per-leaf reconstruction of the two
    # job families — never from a function that delegates to the
    # same layout
    import math

    from pyspark.sql import types as _T

    import structa_spark.analyzer as A
    df = load_table(spark, SF, "lineitem")
    cfg = A.AnalyzerConfig()
    contexts, _arrs, _tabs = A._plan(df, cfg)
    ctx = contexts[0]
    n_leaves = len(ctx.leaves)
    assert n_leaves >= 8           # lineitem: one leaf per column
    n_codegen_items = n_leaves + len(ctx.length_leaves)
    expected_count = (math.ceil(n_codegen_items / A._CHUNK_LEAVES)
                      + math.ceil(n_leaves / A._CHUNK_LEAVES))
    jobs = A._phase_a_jobs(ctx.leaves, ctx.length_leaves, cfg)
    assert len(jobs) == expected_count
    # independent reconstruction: the codegen family (scalar +
    # length aggregates chunked together), then the sketch family
    # with the string min/max riding each string leaf's sketch job
    items = ([(A._agg_exprs, lf) for lf in ctx.leaves]
             + [(A._length_agg_exprs, lf)
                for lf in ctx.length_leaves])
    expected = []
    for i in range(0, len(items), A._CHUNK_LEAVES):
        job = []
        for fn, lf in items[i:i + A._CHUNK_LEAVES]:
            job.extend(fn(lf, cfg))
        expected.append(job)
    for i in range(0, n_leaves, A._CHUNK_LEAVES):
        job = []
        for lf in ctx.leaves[i:i + A._CHUNK_LEAVES]:
            job.extend(A._sketch_agg_exprs(lf, cfg))
            if isinstance(lf.dtype, _T.StringType):
                job.extend(A._string_minmax_exprs(lf, cfg))
        expected.append(job)
    expected[0] = ["count(1) AS `__rows__`"] + expected[0]
    assert jobs == expected
    flat = [s for job in jobs for s in job]
    assert len([s for s in flat if "__rows__" in s]) == 1
    # every job is one aggregation over the table, each expression a
    # named output column
    for job in jobs:
        names = df.selectExpr(*job).columns
        assert len(names) == len(job)
        assert all(s.endswith(f"AS `{n}`") for s, n in zip(job, names))


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    # write both sides bucketed by the join key: the sort-merge join
    # must read co-located buckets — no Exchange for either side (the
    # per-bucket Sort remains: multi-file buckets don't carry usable
    # sortedness; see sources/bucketing.py)
    from structa_spark.sources.bucketing import (
        bucketed_join, write_bucketed)
    orders = load_table(spark, SF, "orders")
    lineitem = load_table(spark, SF, "lineitem")
    write_bucketed(orders.withColumnRenamed("o_orderkey", "okey"),
                   "b_orders", ["okey"], 8,
                   path=str(tmp_path / "b_orders"))
    write_bucketed(lineitem.withColumnRenamed("l_orderkey", "okey"),
                   "b_lineitem", ["okey"], 8,
                   path=str(tmp_path / "b_lineitem"))
    # at sf0.001 the planner would (rightly) broadcast the tiny
    # side, which bypasses bucketing entirely; disable broadcast so
    # the test exercises the layout the helper exists for — the
    # big-big join where broadcasting is impossible
    thr = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(thr)
    spark.conf.set(thr, "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem",
                               ["okey"])
        rows = joined.collect()            # finalize THIS df's plan
        assert len(rows) == lineitem.count()   # FK join: all match
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:1500]
        assert "Exchange" not in plan, (
            "bucketed join still shuffles:\n" + plan[:2000])
    finally:
        spark.conf.set(thr, old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def _final_scans(df) -> list:
    """The FileScan lines of the plan AQE settles on once ``df`` has
    run. A relation that several consumers share through a reused
    exchange is scanned once; no plan may read a cache."""
    df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert "InMemoryTableScan" not in plan, plan
    return [ln for ln in plan.split("\n") if "FileScan" in ln]


def test_scrub_spans_tokenizes_corpus_once(spark):
    # scrub_contaminated_spans derives token positions, span grams AND
    # per-doc counts from ONE (id, __toks) projection — every consumer
    # must reuse its exchange, not recompile its own corpus scan +
    # split (three full text scans at 100 TB). The corpus side is the
    # scan with the doc_id >= 20 filter.
    fn, _ = REGISTRY["scrub_eval_spans"]
    scans = _final_scans(fn(spark, SF))
    assert len([ln for ln in scans if ">= 20)" in ln]) == 1, scans


_CORPUS = f"{SF}/documents.parquet"

# (operator over (corpus, other input), expected scans of each)
_READS = {
    "kn_bigram_logprob": (
        lambda c, o: text.kn_bigram_logprob(c), 1, 0),
    # self mode: the bigrams, plus the vocabulary count V
    "bigram_logprob_self": (
        lambda c, o: text.bigram_logprob(c), 2, 0),
    # cross mode: the model's bigrams and V each read train_df
    "bigram_logprob_cross": (
        lambda c, o: text.bigram_logprob(c, train_df=o), 1, 2),
    "token_js_divergence": (
        lambda c, o: text.token_js_divergence(c, group_col="source"),
        1, 0),
    "dsir_logweights": (
        lambda c, o: sampling.dsir_logweights(c, o), 1, 1),
    "scrub_contaminated_spans": (
        lambda c, o: dedup.scrub_contaminated_spans(c, o), 1, 1),
    # its three consumers read different columns of the projection
    "bm25_topk": (
        lambda c, o: text.bm25_topk(c, [("q", ["the", "data"])]), 3, 0),
}


@pytest.mark.parametrize("name", sorted(_READS))
def test_operator_reads_each_input_once_per_relation(spark, tmp_path,
                                                     name):
    # each operator shares its intermediate relations through Spark's
    # exchange reuse: the corpus is read once per relation the
    # operator really needs, never once per consumer
    build, n_corpus, n_other = _READS[name]
    other = str(tmp_path / "other")
    spark.read.parquet(_CORPUS).where(F.col("doc_id") < 50) \
        .write.parquet(other)
    scans = _final_scans(
        build(spark.read.parquet(_CORPUS), spark.read.parquet(other)))
    assert sum(_CORPUS in ln for ln in scans) == n_corpus, scans
    assert sum(other in ln for ln in scans) == n_other, scans


def test_decontamination_broadcasts_eval_side(spark):
    # the 100 TB posture of every decontamination shape: the bounded
    # eval side must broadcast so the corpus never shuffles to find
    # hits
    for name in ("contamination_check", "scrub_eval_spans",
                 "fuzzy_contamination_pairs"):
        fn, _ = REGISTRY[name]
        plan = _plan(fn(spark, SF))
        assert "BroadcastHashJoin" in plan, f"{name}:\n{plan[:1500]}"


def test_gopher_filter_binds_each_struct_once(spark):
    # a filter on the verdict is pushed below the flags projection;
    # each let-bound struct must enter it once, not once per rule
    # that reads a field of it (7 token rules, 2 line rules)
    from structa_spark.operators import text
    df = spark.createDataFrame([(1, "the cat and the dog\nline two ...")],
                               "doc_id long, text string")
    q = text.gopher_quality_flags(df).where(F.col("gopher_quality_keep"))
    plan = q._jdf.queryExecution().optimizedPlan().toString()
    pushed = [ln for ln in plan.split("\n") if "Filter" in ln]
    assert len(pushed) == 1, plan
    # one alphabetic-word rlike per token struct, one bullet rlike
    # per line struct
    assert pushed[0].count("[A-Za-z]") == 1, pushed[0]
    assert pushed[0].count("^\\s*[-*") == 1, pushed[0]
