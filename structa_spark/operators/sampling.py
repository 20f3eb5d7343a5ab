"""Deterministic sampling / quota operators for training-data
pipelines.

A 100 TB corpus is never trained on whole: it is sampled, balanced
across languages/sources, and re-sampled on every pipeline iteration.
``df.sample`` is seed-dependent on partitioning (a repartition or a
file-split change reshuffles which rows are picked), which makes
pipeline runs unreproducible. Everything here keys the decision on a
HASH OF THE ROW KEY instead: the same document is selected by every
run, on every engine, at every partitioning — and the selection is
expressible in ANSI SQL, so each operator carries an exact oracle.

All hot-path expressions are built-in functions (JVM-side, codegen);
the only shuffle is the window in :func:`cap_per_group`.
"""

from __future__ import annotations

from typing import Dict, NamedTuple, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long

#: hash-space modulus for sampling decisions; 1e6 gives ~0.0001%
#: fraction granularity while staying far from int64 overflow
SAMPLE_MOD = 1_000_000


def sample_key(key: Column, salt: str = "") -> Column:
    """Deterministic per-row draw in [0, SAMPLE_MOD): the md5-derived
    int64 of (key || salt) reduced mod SAMPLE_MOD. Changing the salt
    produces an independent re-draw — distinct pipeline stages (e.g.
    train/holdout splits) use distinct salts."""
    return md5_long(F.concat(key.cast("string"), F.lit(salt))) \
        % F.lit(SAMPLE_MOD)


def deterministic_sample(df: DataFrame, fraction: float,
                         key_col: str, salt: str = "") -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by key hash — reproducible
    across runs, engines and partitionings (unlike ``df.sample``).
    Scale shape: a scan-local filter, no shuffle, pushed after the
    columnar read."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction out of range: {fraction}")
    thr = int(round(fraction * SAMPLE_MOD))
    return df.where(sample_key(F.col(key_col), salt) < F.lit(thr))


def stratified_sample(df: DataFrame, fractions: Dict[str, float],
                      group_col: str, key_col: str,
                      default_fraction: float = 0.0,
                      salt: str = "") -> DataFrame:
    """Per-group deterministic sampling (language/source balancing):
    group g keeps ~``fractions[g]`` of its rows; unlisted groups keep
    ``default_fraction``. Same scan-local no-shuffle shape — the
    per-group threshold is a CASE expression, not a join."""
    thr: Column = F.lit(int(round(default_fraction * SAMPLE_MOD)))
    for g, frac in sorted(fractions.items()):
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction out of range for {g!r}: {frac}")
        thr = F.when(F.col(group_col) == g,
                     F.lit(int(round(frac * SAMPLE_MOD)))).otherwise(thr)
    return df.where(sample_key(F.col(key_col), salt) < thr)


def cap_per_group(df: DataFrame, group_col: str, n: int,
                  key_col: str, order_col: Optional[str] = None,
                  salt: str = "") -> DataFrame:
    """At most ``n`` rows per group, deterministically chosen: rows
    rank within their group by (order_col or key hash, key) and ranks
    above ``n`` drop. The hash order makes the quota a uniform
    subsample of the group rather than a prefix of some storage
    order. ONE shuffle (the window partition); at 100 TB a skewed
    group serializes into one task's sort, which is exactly the
    degenerate case the hash order keeps bounded: the sort is
    O(group), not O(corpus)."""
    from pyspark.sql.window import Window

    order = (F.col(order_col) if order_col
             else sample_key(F.col(key_col), salt))
    w = Window.partitionBy(group_col).orderBy(order, F.col(key_col))
    return (df.withColumn("__rn__", F.row_number().over(w))
            .where(F.col("__rn__") <= n)
            .drop("__rn__"))


def resample_to_mix(df: DataFrame, rates: DataFrame,
                    group_col: str = "source",
                    key_col: str = "doc_id",
                    salt: str = "mix") -> DataFrame:
    """Realize per-group sampling rates (e.g. from
    ``text.mixing_weights`` — temperature-scaled mixture balancing)
    by deterministic replication: every row emits ``floor(rate)``
    copies plus one more when its md5 draw falls under the
    fractional remainder; ``rate < 1`` therefore downsamples (0 or 1
    copies). Output rows carry ``copy_idx`` so downstream packing /
    shuffling can distinguish replicas.

    The draw is the same md5 key-hash as ``deterministic_sample``,
    so the realized mix is invariant under repartitioning, reruns
    and engines — resampling twice with the same salt yields the
    byte-identical corpus (change the salt for an independent
    epoch).

    Scale shape: ``rates`` is #groups rows — broadcast; the explode
    multiplies rows by ~E[rate] with no shuffle; everything
    pipelines into the scan.
    """
    # left join + explicit error: an inner join would silently DROP
    # every row whose group is absent from `rates` (or null) — a
    # stale rates table must fail the job, not shrink the corpus
    joined = (df.join(
        F.broadcast(rates.select(group_col, "sample_rate")),
        group_col, "left")
        .withColumn(
            "sample_rate",
            F.when(F.col("sample_rate").isNotNull(),
                   F.col("sample_rate"))
            .otherwise(F.raise_error(F.concat(
                F.lit("resample_to_mix: no sample_rate for group "),
                F.col(group_col).cast("string"))))))
    n_full = F.floor("sample_rate").cast("int")
    frac = F.col("sample_rate") - F.floor("sample_rate")
    u = sample_key(F.col(key_col), salt) / F.lit(float(SAMPLE_MOD))
    copies = (n_full + F.when(u < frac, 1).otherwise(0)).cast("int")
    seq = F.when(copies >= 1,
                 F.sequence(F.lit(0), copies - 1)) \
        .otherwise(F.array().cast("array<int>"))
    return (joined.withColumn("copy_idx", F.explode(seq))
            .drop("sample_rate"))


def split_corpus(df: DataFrame, weights=(0.9, 0.05, 0.05),
                 labels=("train", "val", "test"),
                 key_col: str = "doc_id",
                 salt: str = "split",
                 out_col: str = "split") -> DataFrame:
    """Deterministic disjoint train/val/test split: each row's md5
    draw lands in exactly one cumulative-weight band, so the split
    is exhaustive, non-overlapping, and invariant under
    repartitioning, reruns and engines — the property that keeps a
    training set stable across pipeline re-executions and prevents
    leakage when the corpus is re-split after incremental updates
    (a given document NEVER migrates between splits unless the salt
    changes).

    Scale shape: a scan-local CASE expression on the hash — no
    shuffle, no state; stratification comes free because the draw is
    independent of any grouping column."""
    if len(weights) != len(labels):
        raise ValueError("weights and labels must align")
    total = float(sum(weights))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    u = sample_key(F.col(key_col), salt)
    cum = 0.0
    expr = None
    for w, lab in zip(weights[:-1], labels[:-1]):
        cum += w / total
        thr = int(round(cum * SAMPLE_MOD))
        cond = u < F.lit(thr)
        expr = (F.when(cond, F.lit(lab)) if expr is None
                else expr.when(cond, F.lit(lab)))
    expr = (expr.otherwise(F.lit(labels[-1])) if expr is not None
            else F.lit(labels[-1]))
    return df.withColumn(out_col, expr)


def curriculum_shards(df: DataFrame, n_shards: int = 4,
                      score_col: str = "n_chars",
                      approx: bool = False,
                      accuracy: int = 10000) -> DataFrame:
    """Curriculum sharding: assign every row to one of ``n_shards``
    ordered difficulty buckets by score quantiles (shard 0 = lowest
    scores) — the classic short-to-long / easy-to-hard training-order
    stage, realized as a deterministic column.

    Scale shape: ONE percentile aggregation hands the driver n-1
    cutoff scalars; assignment is then a literal comparison per row —
    no global sort and no single-partition ``ntile`` window (the
    quadratic-ish oracle shape this operator deliberately avoids).
    Rows exactly at a cutoff go to the lower shard (strict ``>``), so
    the split is reproducible across engines computing the same
    interpolated quantiles.

    The default EXACT percentile buffers O(distinct scores) in the
    aggregation — fine for length-like integer scores and required
    for the bit-exact DuckDB oracle replay. For a high-cardinality
    float score at 100 TB pass ``approx=True``: a bounded-memory
    ``percentile_approx`` (Greenwald-Khanna) sketch whose rank error
    is ≤ 1/``accuracy`` of the row count, trading cutoff exactness
    for O(accuracy·log n) state per partial.
    """
    if n_shards < 2:
        raise ValueError(f"n_shards must be >= 2: {n_shards}")
    ps = [i / n_shards for i in range(1, n_shards)]
    if approx:
        agg = F.percentile_approx(F.col(score_col), F.lit(ps),
                                  F.lit(accuracy))
    else:
        agg = F.percentile(F.col(score_col), F.lit(ps))
    cuts = df.agg(agg.alias("c")).collect()[0].c
    if cuts is None:
        # no rows, or every score null: there is nothing to rank —
        # everything (if anything) sits in the first shard
        return df.withColumn("shard", F.lit(0).cast("int"))
    shard = None
    for c in cuts:
        step = F.when(F.col(score_col) > F.lit(float(c)), 1) \
            .otherwise(0)
        shard = step if shard is None else shard + step
    return df.withColumn("shard", shard.cast("int"))


def _hashed_ngram_buckets(df: DataFrame, n_buckets: int,
                          id_col: Optional[str],
                          text_col: str) -> DataFrame:
    """One exploded row per hashed n-gram (unigram + bigram)
    occurrence — THE DSIR feature pipeline, defined once so the
    pre-aggregated and occurrence-join consumers can never diverge.
    Tokens are lowered, whitespace-split and empty-filtered; features
    hash to ``md5_long(feat) % n_buckets`` (the repo's frozen
    cross-engine hash, so feature vectors never drift between runs or
    engines)."""
    from .text import tokens, word_ngrams

    arr = F.filter(tokens(F.lower(F.col(text_col))),
                   lambda t: t != "")
    feats = F.concat(arr, word_ngrams(arr, 2))
    # md5_long of a non-null string is never null; the coalesce says
    # so to Spark, which then infers no null filter on the bucket key
    # that would differ between the consumers of one feature relation
    bucket = F.coalesce(
        (md5_long(F.col("feat")) % F.lit(n_buckets)).cast("int"),
        F.lit(0))
    keys = [F.col(id_col)] if id_col else []
    return df.select(*keys, F.explode(feats).alias("feat")) \
             .select(*keys, bucket.alias("bucket"))


def _hashed_ngram_counts(df: DataFrame, n_buckets: int,
                         id_col: Optional[str],
                         text_col: str) -> DataFrame:
    """Aggregated hashed-feature counts. With ``id_col`` the result
    is per-document ``(id, bucket, c)``; with ``id_col=None`` it is
    the corpus-level bucket histogram ``(bucket, c)`` — the model
    side.

    Scale shape: explode → one aggregation keyed by (doc, bucket) —
    the (doc, bucket) key kills the natural feature hot-key ("of
    the") exactly like the LM operators' tf relations, and rows out
    are bounded by |docs| × n_buckets."""
    ex = _hashed_ngram_buckets(df, n_buckets, id_col, text_col)
    group = ([id_col, "bucket"] if id_col else ["bucket"])
    return ex.groupBy(*group).agg(F.count(F.lit(1)).alias("c"))


def dsir_logweights(df: DataFrame, target_df: DataFrame,
                    n_buckets: int = 1024,
                    id_col: str = "doc_id",
                    text_col: str = "text",
                    alpha: float = 1.0) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR — Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): score every raw document by how much more likely
    its hashed-n-gram features are under a small TARGET corpus (the
    clean seed you wish the whole corpus looked like) than under the
    raw corpus itself:

    ``logw(doc) = Σ_b c_doc(b) · [ln p̂_t(b) − ln p̂_r(b)]``

    with add-alpha smoothed bucket unigram models
    ``p̂(b) = (c(b) + α) / (T + α·B)`` estimated over B hashed
    feature buckets. High ``logw`` = looks like the target; the
    companion :func:`dsir_resample` turns the weights into a
    deterministic Gumbel-top-k selection.

    Documents with no features (empty text) have no feature mass and
    are absent from the output — they carry no evidence either way.

    Scale shape: both models are ≤ B-row relations (B is a few
    thousand) that fold into the scoring join as ONE broadcast; the
    raw model is an aggregation OF the per-doc feature counts, so the
    corpus tokenizes ONCE: the model branch and the scoring branch
    read the same (doc, bucket, c) columns, and the bucket key is
    never null, so no join adds a filter below the relation's
    exchange and Spark reuses it for both. The target corpus is small
    by construction (a hand-curated seed) and scans once, its counts
    shared the same way by their total and the model join. No
    all-pairs anything: three bounded shuffles — the (doc, bucket)
    aggregation, the bucket-keyed model aggregation over those
    counts, and the final per-doc sum."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2: {n_buckets}")
    if alpha <= 0:
        # alpha=0 makes unseen-in-target buckets ln(0) -> NULL and
        # every touching document's logw silently NULL
        raise ValueError(f"alpha must be > 0: {alpha}")
    fc = _hashed_ngram_counts(df, n_buckets, id_col, text_col)
    cr = fc.groupBy("bucket").agg(F.sum("c").alias("cr"))
    ct = _hashed_ngram_counts(target_df, n_buckets, None, text_col) \
        .withColumnRenamed("c", "ct")
    tr = cr.agg(F.sum("cr").cast("double").alias("__tr__"))
    tt = ct.agg(F.sum("ct").cast("double").alias("__tt__"))
    a = float(alpha)
    ab = F.lit(a * n_buckets)
    # every bucket a document hits exists in cr by construction, so a
    # left join to the target model is exhaustive; unseen-in-target
    # buckets fall back to pure smoothing mass (ct -> 0)
    # a zero-feature target (empty target_df, or all-empty text)
    # would make tt NULL and every logw NULL — dsir_resample would
    # then silently "select" the k smallest doc_ids. A mis-filtered
    # seed slice must fail the job, not fabricate a corpus (the same
    # contract as resample_to_mix's missing-rate error).
    tt_val = F.when(F.col("__tt__").isNotNull(), F.col("__tt__")) \
        .otherwise(F.raise_error(F.lit(
            "dsir_logweights: target corpus has no features "
            "(empty target_df or all-empty text)")))
    lr = (F.log(F.coalesce(F.col("ct"), F.lit(0)) + F.lit(a))
          - F.log(tt_val + ab)
          - F.log(F.col("cr") + F.lit(a))
          + F.log(F.col("__tr__") + ab))
    model = (cr.join(ct, "bucket", "left")
             .join(F.broadcast(tr)).join(F.broadcast(tt))
             .select("bucket", lr.alias("lr")))
    return (fc.join(F.broadcast(model), "bucket")
            .groupBy(id_col)
            .agg(F.sum("c").cast("long").alias("n_feats"),
                 F.round(F.sum(F.col("c") * F.col("lr")), 4)
                 .alias("logw")))


def dsir_resample(df: DataFrame, target_df: DataFrame, k: int,
                  tau: float = 1.0,
                  n_buckets: int = 1024,
                  id_col: str = "doc_id",
                  text_col: str = "text",
                  alpha: float = 1.0,
                  salt: str = "dsir") -> DataFrame:
    """The selection half of DSIR: draw ``k`` documents without
    replacement with probability ∝ ``exp(logw / tau)`` via the
    Gumbel-top-k trick — ``score = logw/tau + Gumbel(0,1)`` and take
    the k largest. ``tau`` interpolates between hard top-k filtering
    (tau → 0 keeps only the most target-like text) and uniform
    sampling (tau → ∞ keeps diversity); the paper's insight is that
    the NOISED selection beats hard top-k because it preserves
    coverage of the target distribution's tails.

    The Gumbel noise is the repo's deterministic md5 draw — not
    ``rand()`` — mapped through ``-ln(-ln(u))`` with
    ``u = (draw + 1) / (SAMPLE_MOD + 1) ∈ (0, 1)``: the same document
    receives the same noise on every run, engine and partitioning, so
    the selected corpus is byte-reproducible (change ``salt`` for an
    independent epoch).

    Scale shape: weights come from :func:`dsir_logweights` (two
    shuffles, broadcast models); the global top-k is a
    TakeOrdered-style bounded selection, never a full sort."""
    if tau <= 0:
        raise ValueError(f"tau must be > 0: {tau}")
    lw = dsir_logweights(df, target_df, n_buckets=n_buckets,
                         id_col=id_col, text_col=text_col,
                         alpha=alpha)
    u = ((sample_key(F.col(id_col), salt) + F.lit(1))
         / F.lit(float(SAMPLE_MOD + 1)))
    score = (F.col("logw") / F.lit(float(tau))
             - F.log(-F.log(u)))
    return (lw.select(id_col, "n_feats", "logw",
                      F.round(score, 4).alias("score"))
            .orderBy(F.desc("score"), F.asc(id_col))
            .limit(k))


class DsirModel(NamedTuple):
    """A trained DSIR model: the per-bucket smoothed log-ratio
    relation (a LOCAL ≤ B-row DataFrame with zero corpus lineage),
    the scalar fallback for buckets neither corpus produced, and the
    bucket count the features were hashed with — carried WITH the
    model so scoring can never silently hash into a different
    feature space than training did."""

    buckets: DataFrame          # (bucket int, lr double)
    default_lr: float           # ln(tr + aB) - ln(tt + aB)
    n_buckets: int
    alpha: float


def dsir_model(df: DataFrame, target_df: DataFrame,
               n_buckets: int = 1024,
               text_col: str = "text",
               alpha: float = 1.0) -> DsirModel:
    """Train a reusable DSIR model — the train-once / score-many
    (and score-a-STREAM) counterpart of the one-shot
    :func:`dsir_logweights`.

    Unlike the one-shot path (which only ever scores documents drawn
    from the raw corpus itself, so an inner join on raw buckets is
    exhaustive), a model scoring NEW documents must cover three
    cases: buckets seen in both corpora, buckets seen in only one,
    and buckets seen in neither —
    ``default_lr = ln(tr + αB) − ln(tt + αB)``, the pure smoothing
    mass ratio, which :func:`dsir_score` coalesces with.

    Each corpus scans exactly ONCE: the ≤ B-row bucket histograms are
    collected to the driver (the same bounded collect as nb_train's
    class list — B is a few thousand), the totals and log-ratios are
    computed driver-side, and the model is re-created as a LOCAL
    relation with no corpus lineage. That last property is the point
    for streaming: a lineage-bearing model would re-tokenize both
    corpora on every micro-batch of a stream-static scoring plan; the
    local relation costs one broadcast, ever. A zero-feature corpus
    on either side raises rather than minting a model whose every
    score is NULL."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2: {n_buckets}")
    if alpha <= 0:
        # alpha=0 makes one-sided buckets ln(0) -> NULL, which the
        # scoring coalesce would silently misread as never-seen
        raise ValueError(f"alpha must be > 0: {alpha}")
    import math

    crd = {r.bucket: r.c for r in _hashed_ngram_counts(
        df, n_buckets, None, text_col).collect()}
    ctd = {r.bucket: r.c for r in _hashed_ngram_counts(
        target_df, n_buckets, None, text_col).collect()}
    if not ctd:
        raise ValueError(
            "dsir_model: target corpus has no features "
            "(empty target_df or all-empty text)")
    if not crd:
        raise ValueError(
            "dsir_model: raw corpus has no features "
            "(empty df or all-empty text)")
    tr, tt = sum(crd.values()), sum(ctd.values())
    a = float(alpha)
    ab = a * n_buckets
    base = math.log(tr + ab) - math.log(tt + ab)
    rows = [(b, math.log(ctd.get(b, 0) + a)
             - math.log(crd.get(b, 0) + a) + base)
            for b in sorted(crd.keys() | ctd.keys())]
    spark = df.sparkSession
    model = spark.createDataFrame(rows, "bucket int, lr double")
    return DsirModel(model, base, n_buckets, a)


def dsir_score(df: DataFrame, model: DsirModel,
               id_col: str = "doc_id",
               text_col: str = "text",
               pre_aggregate: bool = True) -> DataFrame:
    """Score documents against a batch-trained :func:`dsir_model` —
    returns ``(id, n_feats, logw)`` like :func:`dsir_logweights`, but
    against a FROZEN model, which is what a production selection
    pipeline does (train the models on this month's corpus snapshot,
    score every new shard against them) and what makes the operator
    STREAMABLE: with ``pre_aggregate=False`` the plan is explode →
    stream-static broadcast join → ONE aggregation, which Structured
    Streaming accepts unchanged (the default pre-aggregated path
    compresses to (doc, bucket) counts first — cheaper batch-side,
    but a second aggregation a stream plan cannot chain).

    Buckets absent from the model fold in as ``default_lr`` — unseen
    text degrades to the smoothing-mass ratio instead of dropping
    features or nulling the score. The model carries its own
    ``n_buckets``, so scoring always hashes into the feature space
    the model was trained in."""
    lr = F.coalesce(F.col("lr"), F.lit(float(model.default_lr)))
    rel = F.broadcast(model.buckets)
    if pre_aggregate:
        fc = _hashed_ngram_counts(df, model.n_buckets, id_col,
                                  text_col)
        return (fc.join(rel, "bucket", "left")
                .groupBy(id_col)
                .agg(F.sum("c").cast("long").alias("n_feats"),
                     F.round(F.sum(F.col("c") * lr), 4)
                     .alias("logw")))
    ex = _hashed_ngram_buckets(df, model.n_buckets, id_col, text_col)
    return (ex.join(rel, "bucket", "left")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_feats"),
                 F.round(F.sum(lr), 4).alias("logw")))


def shuffle_order(df: DataFrame, n_shards: int = 64,
                  key_col: str = "doc_id",
                  salt: str = "shuffle") -> DataFrame:
    """Deterministic global training-order shuffle: every row gets a
    ``(shard, pos)`` coordinate — shard by key-hash modulus, position
    by rank of the full 60-bit hash within the shard — so the
    training order is uniformly random-looking yet byte-reproducible
    across runs, engines and partitionings (``df.orderBy(rand())``
    is neither), and resumable mid-epoch from any (shard, pos)
    checkpoint. Change the salt for a fresh epoch order.

    Scale shape: no global sort — each shard ranks independently
    (ONE window shuffle, O(corpus / n_shards) per task); the hash is
    effectively collision-free at corpus scale and the (hash, key)
    order is total, so `pos` is dense and unambiguous. Size
    ``n_shards`` to the downstream reader parallelism."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1: {n_shards}")
    from pyspark.sql.window import Window

    h = md5_long(F.concat(F.col(key_col).cast("string"),
                          F.lit(salt)))
    w = Window.partitionBy("shard").orderBy("__h__", key_col)
    return (df.withColumn("__h__", h)
            .withColumn("shard", (F.col("__h__") % n_shards)
                        .cast("int"))
            .withColumn("pos",
                        (F.row_number().over(w) - 1).cast("long"))
            .drop("__h__"))


def alpha_sampling_weights(df: DataFrame, alpha: float = 0.3,
                           group_col: str = "lang",
                           text_col: str = "text") -> DataFrame:
    """Temperature ("alpha") sampling weights — the multilingual
    mixing rule of mBERT/XLM-R/mT5 (Xue et al. 2021, arXiv:
    2010.11934): sample group g with probability proportional to
    ``n_tokens(g) ** alpha``, flattening the head so tail languages
    are seen at all (alpha=1 is proportional, alpha=0 uniform; 0.3
    is the mT5 setting). The historical baseline UniMax replaced —
    ship both and let the manifest choose (:func:`unimax_allocation`
    documents why temperature over-epochs the tail).

    Determinism: the power is 6-dp micro-quantized on the binary
    double (``floor(pow(n,alpha)*1e6+0.5)`` as int64 — the one libm
    call per group dies in the rounding), the normalizer is an EXACT
    integer sum of those micros, and the final weight is one
    int-derived double division rounded 6-dp — so weights are
    engine-identical and sum-stable under any aggregation order.

    Scale shape: one #groups-row aggregation off the corpus scan
    (checkpointed — it feeds both the total and the output), the
    total folded back as a 1-row broadcast."""
    from .text import token_count

    per = (df.groupBy(F.col(group_col).alias("grp"))
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(token_count(F.col(text_col))).cast("long")
                .alias("n_tokens"))
           .select("grp", "n_docs", "n_tokens",
                   F.floor(F.pow(F.col("n_tokens").cast("double"),
                                 F.lit(float(alpha)))
                           * F.lit(1000000.0) + F.lit(0.5))
                   .cast("long").alias("pow_micros"))
           .localCheckpoint(eager=False))
    tot = per.agg(F.sum("pow_micros").cast("long").alias("__tot"))
    return (per.crossJoin(F.broadcast(tot))
            .select(F.col("grp").alias(group_col), "n_docs",
                    "n_tokens",
                    (F.floor(F.col("pow_micros").cast("double")
                             / F.col("__tot")
                             * F.lit(1000000.0) + F.lit(0.5))
                     / F.lit(1000000.0)).alias("weight")))


def unimax_allocation(df: DataFrame, budget_frac: float = 0.8,
                      max_epochs: float = 1.0,
                      group_col: str = "lang",
                      text_col: str = "text") -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, arXiv:2304.09151):
    spread a total token budget as UNIFORMLY as possible across
    groups (languages/sources), capping each group at ``max_epochs``
    passes over its own data — the allocator that replaced
    temperature sampling for mT5/umT5 because temperature both
    over-epochs tail languages and still under-trains them.

    The exact water-filling closed form: with groups ascending by
    capacity ``c_i = max_epochs * tokens_i``, the water level is
    ``t = (B - prefix_c(k-1)) / (L - k + 1)`` at the first rank k
    where that candidate dips under ``c_k``; every group below t
    is consumed whole, every group above gets exactly t. Budget
    ``B = floor(budget_frac * total_tokens)``.

    Returns ``(group, n_docs, n_tokens, allocation, epochs_used)``.

    Scale shape: one #groups-row aggregation off the corpus scan;
    the ranking window, prefix sums and the water-level pick all run
    on that #groups-sized relation (languages/sources number in the
    dozens), with the total and the water level folded back as 1-row
    broadcasts. Deterministic: ties in capacity order break on the
    group name, and the one order-dependent prefix sum runs in that
    pinned order in any engine."""
    from pyspark.sql.window import Window

    from .text import token_count

    per = (df.groupBy(F.col(group_col).alias("grp"))
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(token_count(F.col(text_col))).cast("long")
                .alias("n_tokens"))
           # the #groups-row relation feeds the total, the ranking
           # AND the water-level pick — without this barrier each
           # consumer re-runs the corpus scan that produced it
           .localCheckpoint(eager=False))
    tot = per.agg(F.sum("n_tokens").cast("double").alias("__t"),
                  F.count(F.lit(1)).cast("long").alias("__L"))
    cap = (F.col("n_tokens").cast("double")
           * F.lit(float(max_epochs)))
    w = Window.orderBy("capacity", "grp")
    ranked = (per.withColumn("capacity", cap)
              .join(F.broadcast(tot))
              .withColumn("__r", F.row_number().over(w))
              .withColumn("__pre", F.coalesce(
                  F.sum("capacity").over(
                      w.rowsBetween(Window.unboundedPreceding, -1)),
                  F.lit(0.0)))
              .withColumn("__B", F.floor(F.col("__t")
                                         * F.lit(float(budget_frac)))
                          .cast("double"))
              .withColumn("__cand",
                          (F.col("__B") - F.col("__pre"))
                          / (F.col("__L") - F.col("__r") + 1)))
    level = (ranked.where(F.col("__cand") <= F.col("capacity"))
             .agg(F.min_by("__cand", "__r").alias("__wl")))
    alloc = F.least(F.col("capacity"),
                    F.coalesce(F.col("__wl"), F.col("capacity")))
    return (ranked.join(F.broadcast(level))
            .select(F.col("grp").alias(group_col), "n_docs",
                    "n_tokens",
                    F.round(alloc, 4).alias("allocation"),
                    F.round(F.when(F.col("n_tokens") > 0,
                                   alloc / F.col("n_tokens"))
                            .otherwise(F.lit(0.0)), 4)
                    .alias("epochs_used")))


def doremi_weights(nll_df: DataFrame, group_col: str = "source",
                   nll_col: str = "avg_nll",
                   tokens_col: str = "n_tokens",
                   tau: float = 1.0) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023) reduced to
    its closed-form single step: each domain's mixture weight is its
    token share scaled by ``exp(excess / tau)``, where ``excess`` is
    the domain's token-weighted mean NLL above the corpus-wide mean,
    hinged at zero (the Group-DRO clip — only domains the proxy finds
    HARD get upweighted, never the easy ones downweighted past their
    share). The full method alternates proxy training with these
    updates; the one-step form is the standard cheap approximation
    when the proxy is a fixed reference LM (here: any per-document
    ``(group, n_tokens, avg_nll)`` relation, e.g.
    ``text.unigram_logprob`` joined with a source column).

    Returns ``(group, n_tokens, mean_nll, excess_nll,
    doremi_weight)``; weights sum to 1 at 6 decimals.

    Determinism: the per-group mean rounds to 4 dp before the
    reference fold, the reference and hinge round to 4 dp before the
    exp, and the raw weight rounds to 6 dp before normalizing — so a
    SQL oracle replays every stage. Scale shape: one small-key agg
    (domains number in the tens) + global-window folds over that
    #domains-row relation; nothing after the first agg grows with the
    corpus."""
    from pyspark.sql.window import Window

    w = Window.partitionBy()
    per = (nll_df.groupBy(group_col)
           .agg(F.sum(tokens_col).cast("long").alias("n_tokens"),
                F.round(F.sum(F.col(nll_col) * F.col(tokens_col))
                        / F.sum(tokens_col), 4).alias("mean_nll")))
    per = (per
           .withColumn("__tot__", F.sum("n_tokens").over(w))
           .withColumn("__ref__", F.round(
               F.sum(F.col("mean_nll")
                     * F.col("n_tokens")).over(w)
               / F.col("__tot__"), 4)))
    per = per.withColumn(
        "excess_nll",
        F.round(F.greatest(F.lit(0.0),
                           F.col("mean_nll") - F.col("__ref__")), 4))
    per = per.withColumn(
        "__raw__",
        F.round((F.col("n_tokens").cast("double") / F.col("__tot__"))
                * F.exp(F.col("excess_nll") / F.lit(float(tau))), 6))
    return (per.withColumn(
        "doremi_weight",
        F.round(F.col("__raw__") / F.sum("__raw__").over(w), 6))
        .select(group_col, "n_tokens", "mean_nll", "excess_nll",
                "doremi_weight"))


def fim_split_coords(df: DataFrame, rate: float = 0.5,
                     id_col: str = "doc_id",
                     text_col: str = "text",
                     salt: str = "fim") -> DataFrame:
    """Fill-in-the-middle split coordinates (Bavarian et al. 2022,
    "Efficient Training of Language Models to Fill in the Middle"):
    decide PER DOCUMENT whether it trains as FIM (a hash draw against
    ``rate``) and, when it does, pick the two character split points
    that carve (prefix, middle, suffix) — the document is then
    reassembled as prefix+suffix+middle with sentinels by the pack
    stage. Only the COORDS are computed here (the transform is a
    substring shuffle the packer applies); keeping them separate
    makes the decision auditable and exactly reproducible.

    Determinism: both the draw and the split points key on
    ``md5(id || salt)`` exactly like the engine's samplers, so the
    decision is invariant under repartitioning, reruns and engine
    swaps — an external SQL oracle replays every row bit-for-bit.
    Split arithmetic: on a document of length n >= 2, two raw draws
    in [0, n) sort into lo <= hi, giving prefix [0, lo), middle
    [lo, hi), suffix [hi, n) — any of which may be empty, as in the
    reference implementation. Documents shorter than 2 chars never
    flip (nothing to split).

    Returns ``(id, n_chars, do_fim, prefix_len, middle_len,
    suffix_len)``; the three lengths are null when ``do_fim`` is
    false. One codegen'd projection, no shuffle."""
    n = F.length(F.col(text_col))
    draw = md5_long(F.concat(F.col(id_col).cast("string"),
                             F.lit(":" + salt))) % 1000
    s1 = md5_long(F.concat(F.col(id_col).cast("string"),
                           F.lit(":" + salt + ":s1"))) % n
    s2 = md5_long(F.concat(F.col(id_col).cast("string"),
                           F.lit(":" + salt + ":s2"))) % n
    lo, hi = F.least(s1, s2), F.greatest(s1, s2)
    do = (n >= 2) & (draw < F.lit(int(rate * 1000)))
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_chars"),
        do.alias("do_fim"),
        F.when(do, lo).cast("long").alias("prefix_len"),
        F.when(do, hi - lo).cast("long").alias("middle_len"),
        F.when(do, n - hi).cast("long").alias("suffix_len"))


def preference_pairs(scored: DataFrame, score_col: str,
                     group_col: str = "source",
                     id_col: str = "doc_id",
                     min_margin: float = 0.0,
                     round_to: int = 4) -> DataFrame:
    """Build chosen/rejected preference pairs for DPO-style training
    from a scored corpus: within each group, rank documents by score
    and pair the i-th best with the i-th worst (best-vs-worst
    matching maximizes the score margin per pair, the signal a
    preference optimizer trains on).

    Scores are rounded to ``round_to`` decimals BEFORE ranking and
    ties break on ``id_col``, so the ranking — and therefore every
    emitted pair — is deterministic across engines, partitionings
    and float summation orders. Pairs with margin below
    ``min_margin`` are dropped (near-ties teach nothing). Odd
    groups leave their median document unpaired.

    Output: ``group_col``, ``pair_idx`` (1-based), ``chosen_<id>``,
    ``rejected_<id>``, ``margin``.

    Scale shape: two window passes over the scored relation and ONE
    join keyed (group, rank) — pairs never exceed half the corpus,
    and the corpus text itself is not carried, only ids and scores.
    """
    from pyspark.sql.window import Window

    q = F.round(F.col(score_col), round_to)
    w = Window.partitionBy(group_col).orderBy(
        q.desc(), F.col(id_col))
    ranked = scored.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("__id"), q.alias("__q"),
        F.row_number().over(w).alias("__r"),
        F.count(F.lit(1)).over(
            Window.partitionBy(group_col)).alias("__n"))
    chosen = (ranked.where(F.col("__r") <= F.col("__n") / 2)
              .select(F.col("__g"), F.col("__r").alias("pair_idx"),
                      F.col("__id").alias(f"chosen_{id_col}"),
                      F.col("__q").alias("__cq"),
                      (F.col("__n") + 1 - F.col("__r"))
                      .alias("__partner")))
    rejected = ranked.select(
        F.col("__g").alias("__g2"), F.col("__r").alias("__r2"),
        F.col("__id").alias(f"rejected_{id_col}"),
        F.col("__q").alias("__rq"))
    pairs = chosen.join(
        rejected,
        (F.col("__g") == F.col("__g2"))
        & (F.col("__partner") == F.col("__r2")))
    margin = F.round(F.col("__cq") - F.col("__rq"), round_to)
    return (pairs
            .where(margin >= F.lit(min_margin))
            .select(F.col("__g").alias(group_col), "pair_idx",
                    f"chosen_{id_col}", f"rejected_{id_col}",
                    margin.alias("margin")))


def weighted_sample_wor(df: DataFrame, k: int, weight_col: str,
                        key_col: str = "doc_id",
                        group_col: Optional[str] = None,
                        salt: str = "wsample",
                        round_to: int = 9) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis A-ES): every row draws
    ``u = (hash(key||salt) + 1) / (SAMPLE_MOD + 1)`` and scores
    ``ln(u) / w`` — taking the ``k`` LARGEST scores samples exactly
    with probability proportional to weight, without replacement
    (the classic exponential-race argument; ``u^(1/w)`` in log
    space). Rows with non-positive weight never qualify.

    The hash-keyed draw makes the sample a pure function of the row
    key: stable across runs, engines and partitionings — df.sample
    with weights is none of those. The score is rounded to
    ``round_to`` decimals with a ``key_col`` tie-break, so the libm
    ``ln`` ulp cannot reorder the boundary between two engines.

    Output: the sampled keys with ``weight``, ``sample_score`` and
    ``sample_rank`` (1..k per group; one global group when
    ``group_col`` is None).

    Scale shape: one projection + one top-k window (rank partitions
    = groups). For a global sample at corpus scale, the window's
    single partition is the bottleneck — pre-filter with a loose
    score threshold first (the same trick TakeOrdered uses) or pass
    a group column and re-rank the tiny union.
    """
    from pyspark.sql.window import Window

    u = ((sample_key(F.col(key_col), salt) + 1).cast("double")
         / F.lit(float(SAMPLE_MOD + 1)))
    w = F.col(weight_col).cast("double")
    score = F.round(F.log(u) / w, round_to)
    part = [group_col] if group_col else []
    win = Window.partitionBy(*part).orderBy(
        F.col("__score").desc(), F.col(key_col))
    scored = (df.where(w > 0)
              .select(*part, F.col(key_col),
                      w.alias("weight"), score.alias("__score")))
    return (scored
            .withColumn("sample_rank", F.row_number().over(win))
            .where(F.col("sample_rank") <= k)
            .select(*part, key_col, "weight",
                    F.col("__score").alias("sample_score"),
                    "sample_rank"))


def length_bucket_batches(df: DataFrame, length_col: str,
                          batch_budget: int,
                          key_col: str = "doc_id",
                          min_bucket: int = 64,
                          salt: str = "batchorder") -> DataFrame:
    """Dynamic-batching coordinates: bucket every row to the
    power-of-two padded length >= its true length (floor
    ``min_bucket``), shuffle deterministically within the bucket
    (md5-keyed order — the same sequence on every run and engine),
    and pack ``floor(batch_budget / bucket_len)`` rows per batch.
    This is the padded-batch shape sequence trainers and servers
    use: every batch holds same-bucket rows, so padding waste is
    bounded by 2x and batch token count never exceeds the budget.

    Output: ``key_col``, true length, ``bucket_len``, ``batch_idx``
    (0-based within bucket) and ``pos_in_batch``.

    Scale shape: one projection + one window partitioned by bucket
    (~log2(max_len) partitions). At extreme scale a single bucket's
    window is one task — salt the partition key with a coarse hash
    prefix and renumber batches per shard if that ever binds.
    """
    from pyspark.sql.window import Window

    n = F.col(length_col).cast("long")
    eff = F.greatest(n, F.lit(min_bucket))
    # 2^k is exact in double far past any real length, so pow-based
    # bucket sizing is bit-stable (shiftleft needs a literal count)
    bucket = F.pow(F.lit(2.0),
                   F.ceil(F.log2(eff)).cast("int")).cast("long")
    # a row longer than the whole budget forms its own batch
    cap = F.greatest(
        F.floor(F.lit(batch_budget) / F.col("bucket_len"))
        .cast("long"), F.lit(1).cast("long"))
    order_key = md5_long(
        F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    win = Window.partitionBy("bucket_len").orderBy(
        F.col("__ord"), F.col(key_col))
    rn = F.row_number().over(win) - 1
    return (df.where(n > 0)
            .select(F.col(key_col), n.alias("length"),
                    bucket.alias("bucket_len"),
                    order_key.alias("__ord"))
            .withColumn("__rn", rn)
            .select(key_col, "length", "bucket_len",
                    F.floor(F.col("__rn") / cap).alias("batch_idx"),
                    (F.col("__rn") % cap).alias("pos_in_batch")))
