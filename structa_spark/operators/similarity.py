"""Similarity search over embedding columns (``array<float>``).

* :func:`cosine_topk` — brute-force exact top-k: dot products via
  ``zip_with`` + ``aggregate`` (JVM-side, no UDF), query side
  broadcast. This is the correctness baseline and is already the
  right plan when one side is small (the common "N queries vs corpus"
  shape): broadcast-hash-join, no shuffle of the corpus, AQE-sized
  output.
* :func:`lsh_topk` — random-hyperplane (SRP) LSH bucketing: each
  vector gets a b-bit signature from fixed hyperplanes; candidates
  join on signature bucket, exact cosine re-ranks only candidates.
  Sub-quadratic all-pairs / large-query-set path.
* :func:`ivf_assign` / :func:`ivf_topk` — IVF-style coarse
  quantization: assign vectors to nearest centroid, probe ``nprobe``
  lists. Centroids come from a driver-provided list (e.g. sampled
  k-means run offline); partitioning by list id co-locates each probe.

Deterministic hyperplanes are derived from the frozen universal-hash
parameters, so signatures are reproducible across engines/rounds.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rows import round_half_up
from .dedup import ensure_parallelism


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product in double — deterministic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        a, F.lit(0.0),
        lambda acc, v: acc + v.cast("double") * v.cast("double")))


def _score_matrix(arrs, cents):
    """Per-row dot-product scores against every centroid, with the
    expression fold's exact semantics: a NULL or length-mismatched
    vector never scores against that centroid (-inf sentinel, scored
    mask False), present vectors accumulate in the fold's sequential
    per-element order (:func:`seq_dot_rows` — bit-identical). Shared
    by :func:`ivf_assign` and the fused k-means iteration pass."""
    import numpy as np

    n = len(arrs)
    scores = np.full((n, len(cents) or 1), -np.inf)
    scored = np.zeros((n, len(cents) or 1), dtype=bool)
    for j, c in enumerate(cents):
        d = len(c)
        idx = [i for i, a in enumerate(arrs)
               if a is not None and a.shape[0] == d]
        if idx:
            x = np.stack([arrs[i] for i in idx])
            scores[idx, j] = seq_dot_rows(x, c)
            scored[idx, j] = True
    return scores, scored


def seq_dot_rows(x: "object", c: Sequence[float]) -> "object":
    """Vectorized-across-rows dot product with the EXACT sequential
    per-element accumulation order of :func:`dot`'s fold: for a row
    matrix ``x`` (n x d, float64) and coefficient vector ``c``,
    ``acc_i := fl(acc_i + fl(x_id * c_d))`` left to right — each
    numpy elementwise op rounds exactly like the scalar IEEE op the
    interpreted fold performs, so the result is bit-identical per
    row while running at numpy speed across rows."""
    import numpy as np
    acc = np.zeros(x.shape[0], dtype=np.float64)
    for t in range(x.shape[1]):
        acc = acc + x[:, t] * c[t]
    return acc


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# Per-group pairwise-matmul memory bound (optimization guide §5,
# §2.2): the bucket/cluster verdicts below compute an all-pairs
# cosine matrix per Arrow group, which is O(B^2) doubles in ONE task
# for a B-row group — fine for healthy buckets, an executor OOM for
# a degenerate one (a hot signature or giant cluster at 100 TB).
# Groups up to _PAIR_SINGLE_BLOCK rows keep today's single full
# matmul (bit-identical arithmetic, the oracle-verified path); larger
# groups stream the SAME comparisons in row blocks sized so one
# block's score matrix never exceeds ~_PAIR_BLOCK_ELEMS doubles
# (256 MB) — peak memory O(block x B) instead of O(B^2), identical
# pair semantics.
_PAIR_SINGLE_BLOCK = 4096
_PAIR_BLOCK_ELEMS = 1 << 25


def _pair_block_rows(n: int) -> int:
    """Row-block size for a chunked n x n pairwise matmul: the whole
    matrix while n <= _PAIR_SINGLE_BLOCK (today's exact code path),
    else blocks bounded to _PAIR_BLOCK_ELEMS score cells."""
    if n <= _PAIR_SINGLE_BLOCK:
        return n
    return max(256, _PAIR_BLOCK_ELEMS // n)


def _pairwise_hits(v, nrm, thr):
    """Row-blocked all-pairs cosine threshold: yields, per block,
    (ii, jj, c6) — the GLOBAL row indices ``i < j`` whose
    half-away-from-zero 6-dp-rounded cosine meets ``thr``, plus those
    rounded values. For n <= _PAIR_SINGLE_BLOCK this is exactly one
    full ``v @ v.T`` (the oracle-verified arithmetic); larger groups
    stream the same comparisons in bounded row blocks so one task's
    score matrix peaks at O(block x n) doubles, never O(n^2). NaN
    cosines (zero-norm vectors) compare False, matching SQL."""
    import numpy as np

    n = v.shape[0]
    cols = np.arange(n)
    step = _pair_block_rows(n)
    with np.errstate(divide="ignore", invalid="ignore"):
        for r0 in range(0, n, step):
            r1 = min(r0 + step, n)
            c = (v[r0:r1] @ v.T) / np.outer(nrm[r0:r1], nrm)
            c6 = np.sign(c) * np.floor(np.abs(c) * 1e6 + 0.5) / 1e6
            hit = ((c6 >= thr)
                   & (cols[None, :] > np.arange(r0, r1)[:, None]))
            ii, jj = np.nonzero(hit)
            yield r0 + ii, jj, c6[ii, jj]


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k neighbors of each query vector (excluding self-id).

    Plan shape: broadcast(queries) x corpus -> windowed top-k. The
    corpus is never shuffled for the join; the only shuffle is the
    rank window keyed by query id (cardinality = |queries| * k after
    partial filtering).
    """
    q = queries.select(F.col(id_col).alias(query_id_col),
                       F.col(vec_col).alias("__qv__"))
    joined = ensure_parallelism(corpus).join(
        F.broadcast(q), F.col(id_col) != F.col(query_id_col))
    scored = joined.select(
        query_id_col, id_col,
        F.round(cosine(F.col(vec_col), F.col("__qv__")), 6)
        .alias("cosine"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def hard_negative_mining(corpus: DataFrame, queries: DataFrame,
                         k: int = 5, ceiling: float = 0.95,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         label_col: str = "label",
                         query_id_col: str = "query_id") -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector, the top-k MOST similar corpus vectors that carry a
    DIFFERENT label and sit BELOW the near-duplicate ceiling — the
    highest-loss true negatives. The ceiling guards the classic
    false-negative trap: a vector cosine-indistinguishable from the
    anchor is a disguised positive (a near-dup the dedup stage
    missed), and training against it as a negative poisons the loss.
    Both gates apply to the 6-dp-ROUNDED cosine, so the boundary is
    engine-exact.

    Plan shape: the labeled evaluation shape —
    broadcast(anchors) x corpus, then one rank window keyed by
    anchor. At production volume the scored relation comes from ANN
    candidates (IVF probe / LSH buckets) feeding the identical
    filter + window tail, exactly like the margin-mining path."""
    q = queries.select(F.col(id_col).alias(query_id_col),
                       F.col(vec_col).alias("__qv__"),
                       F.col(label_col).alias("__ql__"))
    joined = ensure_parallelism(corpus).join(
        F.broadcast(q), F.col(id_col) != F.col(query_id_col))
    scored = joined.select(
        query_id_col, id_col, label_col, F.col("__ql__"),
        F.round(cosine(F.col(vec_col), F.col("__qv__")), 6)
        .alias("cosine"))
    cand = scored.where((F.col(label_col) != F.col("__ql__"))
                        & (F.col("cosine") < ceiling))
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col))
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(query_id_col, id_col, label_col, "cosine",
                    "rank"))


# -- SRP-LSH ---------------------------------------------------------------

def _hyperplanes(dim: int, n_bits: int,
                 seed: int = 88172645463325252) -> List[List[float]]:
    """Deterministic pseudo-random unit-free hyperplanes via a tiny
    LCG (no numpy dependency at plan-build time, reproducible)."""
    planes = []
    state = seed
    for _ in range(n_bits):
        row = []
        for _ in range(dim):
            # xorshift64
            state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
            state ^= state >> 7
            state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
            row.append(((state % 2000003) / 1000001.5) - 1.0)
        planes.append(row)
    return planes


def srp_signature(vec: Column, dim: int, n_bits: int = 16,
                  table: int = 0) -> Column:
    """Sign-random-projection signature as an int (bit j = dot with
    hyperplane j > 0). Pure column expressions; hyperplanes are plan
    literals broadcast with the task binary — nothing to ship.
    ``table`` selects an independent hyperplane set (multi-table LSH)."""
    planes = _hyperplanes(dim, n_bits,
                          seed=88172645463325252 + 7919 * table)
    acc = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        d = dot(vec, F.array(*[F.lit(x) for x in plane]))
        acc = acc + F.when(d > 0, F.lit(1 << j).cast("long")) \
                     .otherwise(F.lit(0))
    return acc


def srp_signatures_pandas(df: DataFrame, vec_col: str = "embedding",
                          dim: int = 64, n_bits: int = 8,
                          n_tables: int = 1,
                          out_col: str = "__sigs__") -> DataFrame:
    """All SRP table signatures at once as one Arrow-batched numpy
    matmul (``V @ P.T``) — the vectorized twin of :func:`srp_signature`
    for wide vectors / many tables, where the expression form costs
    n_tables * n_bits * dim interpreted ops per row. Appends
    ``out_col: array<bigint>`` (one signature per table), no shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    planes = [
        np.array(_hyperplanes(dim, n_bits,
                              seed=88172645463325252 + 7919 * t))
        for t in range(n_tables)
    ]
    weights = 1 << np.arange(n_bits, dtype=np.int64)
    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, T.ArrayType(T.LongType()))])

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            sigs = [((v @ p.T) > 0) @ weights for p in planes]
            pdf = pdf.copy()
            pdf[out_col] = pd.Series(
                np.stack(sigs, axis=1).tolist(), index=pdf.index)
            yield pdf

    return df.mapInPandas(run, schema)


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int = 64, n_bits: int = 8, n_tables: int = 4,
             query_id_col: str = "query_id") -> DataFrame:
    """Approximate top-k: candidates share an SRP bucket in ANY of
    ``n_tables`` hash tables (independent hyperplane sets), exact
    cosine re-ranks candidates only. More tables / fewer bits =>
    higher recall, more candidates; with unrelated vectors a bucket
    collides with probability 2^-n_bits per table, so candidate count
    ~= |corpus| * n_tables / 2^n_bits per query."""

    def sigs(vec):
        return F.array(*[
            srp_signature(vec, dim, n_bits, table=t)
            for t in range(n_tables)])

    sig_c = ensure_parallelism(corpus).select(
        "*", F.posexplode(sigs(F.col(vec_col))).alias("__tbl__", "__sig__"))
    sig_q = (queries.select(F.col(id_col).alias(query_id_col),
                            F.col(vec_col).alias("__qv__"))
             .select("*", F.posexplode(sigs(F.col("__qv__")))
                     .alias("__tbl__", "__sig__")))
    joined = (sig_c.join(F.broadcast(sig_q), ["__tbl__", "__sig__"])
              .where(F.col(id_col) != F.col(query_id_col))
              .dropDuplicates([query_id_col, id_col]))
    scored = joined.select(
        query_id_col, id_col,
        F.round(cosine(F.col(vec_col), F.col("__qv__")), 6)
        .alias("cosine"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


# -- IVF -------------------------------------------------------------------

def ivf_assign(df: DataFrame, centroids: Sequence[Sequence[float]],
               vec_col: str = "embedding",
               out_col: str = "list_id",
               score_col: str = None) -> DataFrame:
    """Assign each vector to its nearest centroid (max dot product —
    use normalized centroids for cosine). Centroid count is small
    (sqrt(n) typical), so the argmin is an unrolled expression —
    shuffle-free; repartitioning by ``list_id`` afterwards co-locates
    each inverted list for probing."""
    # Arrow-vectorized assignment (optimization guide §4.2): the
    # prior when-chain argmax nested each step's best-so-far twice,
    # so the k-th centroid's CodegenFallback dot fold re-evaluated
    # interpreted up to 2^(k-1) times per row (13 s single-task at
    # sf0.1 through ivf_topk); and a codegen unroll would inline the
    # centroid doubles into fresh generated source on every
    # kmeans_refine iteration, re-paying Janino each step. Here each
    # batch computes all dots with the fold's EXACT sequential
    # accumulation order (seq_dot_rows — bit-identical scores) and
    # the argmax keeps the fold's semantics: first index of the max
    # (lowest-centroid ties, NaN wins as in Spark's ordering), a
    # length-mismatched or NULL vector never wins and falls to
    # centroid 0 when nothing scores — exactly the old NULL-fold
    # behavior.
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cents = [[float(x) for x in c] for c in centroids]
    fields = (list(df.schema.fields)
              + [T.StructField(out_col, T.IntegerType(), False)])
    if score_col is not None:
        # the winning dot product falls out of the same score matrix
        # (bit-identical to the dot() fold via seq_dot_rows), so
        # callers that need member-centroid similarity skip a second
        # interpreted per-row fold over the assignment
        fields.append(T.StructField(score_col, T.DoubleType(), True))
    out_schema = T.StructType(fields)

    def assign(batches):
        for pdf in batches:
            n = len(pdf)
            best = np.zeros(n, dtype=np.int32)
            scores = np.full((n, len(cents) or 1), -np.inf)
            scored = np.zeros((n, len(cents) or 1), dtype=bool)
            if n and cents:
                arrs = [None if e is None else
                        np.asarray(e, dtype=np.float64)
                        for e in pdf[vec_col]]
                scores, scored = _score_matrix(arrs, cents)
                best = np.argmax(scores, axis=1).astype(np.int32)
            out = pdf.copy()
            out[out_col] = best
            if score_col is not None:
                rows = np.arange(n)
                won = scores[rows, best] if n else \
                    np.zeros(0, dtype=np.float64)
                ok = scored[rows, best] if n else \
                    np.zeros(0, dtype=bool)
                # a NULL/length-mismatched vector never scored: its
                # similarity is NULL (what the expression fold
                # returned), never the -inf sentinel; NaN/inf from
                # pathological but PRESENT vectors pass through
                out[score_col] = pd.array(
                    [float(s) if k else None
                     for s, k in zip(won, ok)], dtype="Float64")
            yield out

    return df.mapInPandas(assign, out_schema)


def ivf_topk(corpus: DataFrame, queries: DataFrame,
             centroids: Sequence[Sequence[float]], k: int = 5,
             nprobe: int = 2, id_col: str = "vec_id",
             vec_col: str = "embedding",
             query_id_col: str = "query_id") -> DataFrame:
    """IVF search: probe the ``nprobe`` nearest lists per query."""
    c_assigned = ivf_assign(corpus, centroids, vec_col)

    # per-query list ranking (small: |queries| x |centroids|)
    q = queries.select(F.col(id_col).alias(query_id_col),
                       F.col(vec_col).alias("__qv__"))
    probes = []
    for i, c in enumerate(centroids):
        probes.append(F.struct(
            F.lit(i).alias("list_id"),
            dot(F.col("__qv__"),
                F.lit([float(x) for x in c])).alias("score")))
    q_lists = (q.withColumn("__p__", F.explode(F.array(*probes)))
               .select(query_id_col, "__qv__", "__p__.list_id",
                       "__p__.score"))
    # deterministic probe order: score ties resolve to the lowest
    # centroid id (the oracle replays the same ORDER BY ... DESC, cid)
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc("list_id"))
    q_probe = (q_lists.withColumn("pr", F.row_number().over(w))
               .where(F.col("pr") <= nprobe)
               .select(query_id_col, "__qv__", "list_id"))

    joined = c_assigned.join(F.broadcast(q_probe), "list_id")
    joined = joined.where(F.col(id_col) != F.col(query_id_col))
    scored = joined.select(
        query_id_col, id_col,
        F.round(cosine(F.col(vec_col), F.col("__qv__")), 6)
        .alias("cosine"))
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= k))


# -- Product quantization --------------------------------------------------

def pq_codebooks(vectors: Sequence[Sequence[float]], m: int = 8) \
        -> List[List[List[float]]]:
    """Split ``k`` full vectors into ``m`` per-subspace codebooks
    (codebook[m][k] = subvector m of vector k) — the deterministic
    stand-in for per-subspace k-means run offline, same convention as
    the IVF centroids."""
    dim = len(vectors[0])
    sub = dim // m
    return [[list(map(float, v[mi * sub:(mi + 1) * sub]))
             for v in vectors] for mi in range(m)]


def pq_encode(df: DataFrame, codebooks: List[List[List[float]]],
              vec_col: str = "embedding",
              out_col: str = "pq_codes") -> DataFrame:
    """Product-quantization encode: per subspace, the index of the
    L2-nearest codeword (squared distance; strict ``<`` keeps the
    LOWEST index on ties — deterministic). A 64-dim vector with
    m=8, k=4 collapses to 8 small ints: a 32x memory cut that makes
    a 100 TB corpus index RAM-resident per executor.

    Codebooks are plan literals (m*k*sub_dim floats); the encode is
    an unrolled whole-stage-codegen expression — shuffle-free,
    pipelines into the scan."""
    sub = len(codebooks[0][0])

    def sq_l2(a: Column, lits: Sequence[float]) -> Column:
        diff = F.zip_with(
            a, F.lit([float(x) for x in lits]),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y))
        return F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v)

    # distance ARRAY + first-position-of-min per subspace, not a
    # when-chain argmin: the chain nested best-so-far twice per
    # codeword so earlier codewords' CodegenFallback distance folds
    # re-evaluated interpreted up to 2^(k-1) times; here each
    # distance evaluates once, and array_position's first-index
    # semantics reproduce the strict-< lowest-index tie-break
    # (NULL distances never win, and the all-NULL edge keeps
    # codeword 0, both as before).
    codes = []
    for mi, cbook in enumerate(codebooks):
        subv = F.slice(F.col(vec_col), mi * sub + 1, sub)
        darr = F.array(*[sq_l2(subv, cw) for cw in cbook])
        codes.append(F.coalesce(
            (F.array_position(darr, F.array_min(darr)) - 1)
            .cast("int"), F.lit(0)))
    return df.withColumn(out_col, F.array(*codes))


def pq_adc_topk(corpus: DataFrame, queries: DataFrame,
                codebooks: List[List[List[float]]], k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id") -> DataFrame:
    """Asymmetric-distance top-k over PQ codes (dot-product metric):
    each query precomputes an m x k lookup table of subspace dot
    products driver-side (queries are the small, collected side —
    same contract as :func:`cosine_topk_pandas`); a corpus row's
    score is then m table lookups and adds instead of a dim-length
    dot product. With dot as the metric this equals the dot product
    against the RECONSTRUCTED (codeword-concatenated) vector, which
    is what the oracle replays.

    Plan: encode is shuffle-free; the LUTs broadcast with the tiny
    query table; the only shuffle is the final top-k window keyed by
    query id."""
    sub = len(codebooks[0][0])
    coded = pq_encode(corpus, codebooks, vec_col)

    def lut_for(qvec):
        return [[sum(float(qvec[mi * sub + j]) * cw[j]
                     for j in range(sub))
                 for cw in cbook]
                for mi, cbook in enumerate(codebooks)]

    qrows = queries.select(id_col, vec_col).collect()
    spark = corpus.sparkSession
    q_lut = spark.createDataFrame(
        [(int(r[0]), lut_for(r[1])) for r in qrows],
        f"{query_id_col} long, __lut__ array<array<double>>")

    joined = (ensure_parallelism(coded)
              .join(F.broadcast(q_lut),
                    F.col(id_col) != F.col(query_id_col)))
    score = F.aggregate(
        F.zip_with(F.col("pq_codes"), F.col("__lut__"),
                   lambda c, row: F.element_at(row, c + 1)),
        F.lit(0.0), lambda acc, v: acc + v)
    scored = joined.select(
        query_id_col, id_col, F.round(score, 6).alias("adc_score"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("adc_score"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def cosine_topk_pandas(corpus: DataFrame, queries: DataFrame, k: int = 5,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       query_id_col: str = "query_id") -> DataFrame:
    """Arrow-batched brute-force top-k: the vectorized twin of
    :func:`cosine_topk`.

    The query matrix (small side) ships to every task once; each
    Arrow batch computes ALL query scores as one numpy matmul and
    emits only its per-batch top-k per query, so the shuffle carries
    O(batches * |queries| * k) candidate rows, not |corpus| * |queries|.
    A final window picks the global top-k. Prefer this over the
    expression form when |queries| is large (the matmul amortizes);
    the expression form wins for a handful of queries."""
    import numpy as np
    import pandas as pd

    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vn = v / np.linalg.norm(v, axis=1, keepdims=True)
            s = vn @ qn.T                       # |batch| x |queries|
            out_q, out_i, out_c = [], [], []
            for qi in range(len(qids)):
                col = s[:, qi]
                order = np.argsort(-col)
                taken = 0
                for row in order:
                    if ids[row] == qids[qi]:
                        continue
                    out_q.append(qids[qi])
                    out_i.append(ids[row])
                    out_c.append(col[row])
                    taken += 1
                    if taken >= k:
                        break
            yield pd.DataFrame({
                query_id_col: np.array(out_q, dtype=np.int64),
                id_col: np.array(out_i, dtype=np.int64),
                "cosine": np.round(np.array(out_c), 6),
            })

    cand = ensure_parallelism(corpus).mapInPandas(
        score, schema=f"{query_id_col} long, {id_col} long, cosine double")
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col))
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def embedding_near_duplicates(df: DataFrame, threshold: float = 0.95,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              dim: int = 64,
                              use_lsh: bool = True) -> DataFrame:
    """All pairs with cosine >= threshold. LSH-bucketed by default
    (near-dups almost always share the SRP bucket at high
    thresholds); exact quadratic join when ``use_lsh=False``.

    The LSH path computes each bucket's pairwise cosines as ONE
    numpy matmul inside an Arrow batch (optimization guide §4.2):
    the prior formulation self-joined the signature relation, which
    re-ran the signature MapInPandas on BOTH sides (two full corpus
    scans) and evaluated the 6-dp cosine as an interpreted
    CodegenFallback fold per candidate pair inside the join. One
    signature pass + one bucket-keyed shuffle replaces both; pair
    semantics are unchanged (id_a < id_b within a bucket,
    length-mismatched or NULL vectors never pair — the old
    ``zip_with`` NULL-fold behavior — and the half-away-from-zero
    6-dp round precedes the threshold compare)."""
    if not use_lsh:
        a, b = df.alias("a"), df.alias("b")
        cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        return (a.join(b, cond)
                .select(F.col(f"a.{id_col}").alias("id_a"),
                        F.col(f"b.{id_col}").alias("id_b"),
                        F.round(cosine(F.col(f"a.{vec_col}"),
                                       F.col(f"b.{vec_col}")), 6)
                        .alias("cosine"))
                .where(F.col("cosine") >= threshold))

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    s = (srp_signatures_pandas(
            ensure_parallelism(df), vec_col, dim, n_bits=8)
         .withColumn("__sig__", F.element_at("__sigs__", 1))
         .select(F.col(id_col), F.col(vec_col), "__sig__")
         .where(F.col("__sig__").isNotNull()
                & F.col(id_col).isNotNull()))
    id_type = s.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField("id_a", id_type),
        T.StructField("id_b", id_type),
        T.StructField("cosine", T.DoubleType()),
    ])
    thr = float(threshold)

    def verdict(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col, kind="mergesort",
                              ignore_index=True)
        ids = pdf[id_col].to_numpy()
        out_a, out_b, out_c = [], [], []
        arrs = [None if e is None else np.asarray(e, dtype=np.float64)
                for e in pdf[vec_col]]
        by_len = {}
        for i, a in enumerate(arrs):
            if a is not None and a.shape[0] > 0:
                by_len.setdefault(a.shape[0], []).append(i)
        for idx in by_len.values():
            if len(idx) < 2:
                continue
            v = np.stack([arrs[i] for i in idx])
            with np.errstate(divide="ignore", invalid="ignore"):
                nrm = np.sqrt((v * v).sum(axis=1))
            # row-blocked pairwise matmul (_pairwise_hits): one full
            # matrix for healthy buckets — today's exact arithmetic —
            # bounded blocks for a degenerate one so peak task memory
            # is O(block x B), never O(B^2); pair rule unchanged
            # (i < j within the bucket, 6-dp round before compare)
            for ii, jj, c6 in _pairwise_hits(v, nrm, thr):
                for x, y, cv in zip(ii, jj, c6):
                    out_a.append(ids[idx[x]])
                    out_b.append(ids[idx[y]])
                    out_c.append(cv)
        return pd.DataFrame({"id_a": out_a, "id_b": out_b,
                             "cosine": out_c}).astype(
            {"id_a": ids.dtype, "id_b": ids.dtype, "cosine": "float64"})

    return s.groupBy("__sig__").applyInPandas(verdict, out_schema)


def group_centroids(df: DataFrame, dim: int,
                    group_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-group mean vector (the IVF-training / class-prototype
    primitive): ONE hash-aggregated shuffle of ``dim`` scalar
    partial sums per group — no explode (which would shuffle
    ``dim``x the rows) and no vector UDAF. ``element_at`` keeps the
    per-dimension averages inside whole-stage codegen; the centroid
    is reassembled as an array afterwards."""
    # try_element_at, not element_at: under ANSI mode a single ragged
    # vector (fewer than `dim` elements) would otherwise fail the
    # whole aggregation instead of averaging the present dimensions
    dims = [F.avg(F.try_element_at(F.col(vec_col), F.lit(i + 1))
                  .cast("double"))
            .alias(f"__c{i}") for i in range(dim)]
    agg = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_vecs"),
                                    *dims)
    centroid = F.array(*[F.col(f"__c{i}") for i in range(dim)])
    return agg.select(group_col, "n_vecs", centroid.alias("centroid"))


def kmeans_refine(df: DataFrame, centroids: Sequence[Sequence[float]],
                  dim: int, iters: int = 1, round_to: int = 6,
                  vec_col: str = "embedding"):
    """Lloyd's k-means refinement from explicit seed centroids:
    assign every vector to its nearest centroid (max dot product,
    ties to the lowest centroid id — the ``ivf_assign`` convention),
    then recompute each centroid as the member mean. Clusters that
    lose all members keep their previous centroid.

    Centroid coordinates are rounded to ``round_to`` decimals after
    each averaging so the refined centroids are bit-identical across
    engines and summation orders — the property that lets an external
    oracle replay the iteration exactly.

    Scale shape: per round, ONE shuffle-free assignment projection
    plus one ``dim``-scalar-partial-sums aggregation
    (:func:`group_centroids` — no explode, no vector UDAF), and a
    k-row collect: the same driver-sided centroid exchange every
    distributed k-means (including Spark MLlib's) performs.
    """
    from pyspark import StorageLevel

    cur = [[float(x) for x in c] for c in centroids]
    # every iteration reads the SAME vector projection twice (assign
    # + per-cluster averages); persist it for the duration of the call
    # so the 2*iters jobs read the in-memory columnar relation instead
    # of re-running the scan + spread each time. The call is eager
    # and returns plain lists, so nothing it persisted outlives it.
    # Projecting to just the vector column first shrinks what is
    # cached and read (guide §2.3: project before heavy reuse). The
    # iteration source then folds to a rows-per-task floor: each
    # round's per-vector work is one short dot-product row, so tiny
    # cached partitions pay more in task launches than in math —
    # coalesce cannot RAISE a partition count, so at real scale
    # (many full partitions) this is a no-op. Averages round to
    # `round_to` decimals after the division, which is what already
    # makes them stable across summation orders (docstring above).
    cached = df.select(vec_col).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _kmeans_iterate(cached, cur, dim, iters, round_to,
                               vec_col)
    finally:
        cached.unpersist(False)


def _kmeans_iterate(src: DataFrame, cur, dim: int, iters: int,
                    round_to: int, vec_col: str):
    """The Lloyd's iterations of :func:`kmeans_refine` over its
    persisted vector projection ``src``."""
    n_rows = src.count()
    src = src.coalesce(max(1, min(src.rdd.getNumPartitions(),
                                  (n_rows + 2047) // 2048)))

    # Each iteration is ONE fused Arrow pass (guide §4.2): assignment
    # (the exact _score_matrix/argmax semantics of ivf_assign) and
    # the per-cluster per-dimension partial sums/counts compute in
    # the same batch, and only k x dim partial rows per batch reach a
    # constant-size (4-column) aggregation. The prior shape ran
    # ivf_assign THEN a dim-wide avg aggregation whose 64
    # try_element_at averages cost ~0.5 s of Catalyst analysis per
    # iteration — more than the data work. Semantics preserved from
    # group_centroids: a vector contributes to the dimensions it has
    # (per-dimension counts), clusters with no members emit no rows
    # and keep their previous centroid, and the mean rounds half-up
    # AFTER the division — the property that already makes it stable
    # across summation orders.
    import numpy as np
    import pandas as pd

    k = len(cur)

    def _iter_partials(cents):
        def f(batches):
            for pdf in batches:
                arrs = [None if e is None else
                        np.asarray(e, dtype=np.float64)
                        for e in pdf[vec_col]]
                if not arrs or not cents:
                    continue
                scores, _ = _score_matrix(arrs, cents)
                best = np.argmax(scores, axis=1)
                sums = np.zeros((k, dim))
                cnts = np.zeros((k, dim), dtype=np.int64)
                seen = np.zeros(k, dtype=bool)
                for i, a in enumerate(arrs):
                    j = int(best[i])
                    seen[j] = True
                    if a is None:
                        continue
                    d = min(a.shape[0], dim)
                    if d:
                        sums[j, :d] += a[:d]
                        cnts[j, :d] += 1
                ks = np.repeat(np.arange(k), dim)[np.repeat(seen, dim)]
                ps = np.tile(np.arange(dim), k)[np.repeat(seen, dim)]
                yield pd.DataFrame({
                    "__k__": ks.astype(np.int32),
                    "__p__": ps.astype(np.int32),
                    "__s__": sums[seen].ravel(),
                    "__c__": cnts[seen].ravel(),
                })
        return f

    for _ in range(iters):
        part = src.mapInPandas(
            _iter_partials([list(c) for c in cur]),
            "__k__ int, __p__ int, __s__ double, __c__ long")
        rows = (part.groupBy("__k__", "__p__")
                .agg(F.sum("__s__").alias("s"),
                     F.sum("__c__").alias("c"))
                .collect())
        by_k: dict = {}
        for r in rows:
            by_k.setdefault(r["__k__"], {})[r["__p__"]] = \
                (r["s"], r["c"])
        nxt = [list(c) for c in cur]
        for kid, dims in by_k.items():
            nxt[kid] = [
                round_half_up(float(dims[t][0] / dims[t][1]), round_to)
                if dims.get(t, (0.0, 0))[1]
                else float(None)        # NULL dimension: same
                                        # TypeError the avg path threw
                for t in range(dim)]
        cur = nxt
    return cur


def _r6col(x: Column) -> Column:
    """floor(x * 1e6 + 0.5) / 1e6 — the repo's binary-double half-up
    rounding, as a column expression any SQL engine replays."""
    return F.floor(x * F.lit(1000000.0) + F.lit(0.5)) \
        / F.lit(1000000.0)


def embedding_health(df: DataFrame, dim: int,
                     vec_col: str = "embedding") -> DataFrame:
    """One-pass health screen of an embedding corpus — the checks an
    embedding-backed pipeline (retrieval, SemDeDup, clustering) runs
    before trusting the vectors:

    * ``min/max/mean_norm`` — degenerate encoders emit near-zero or
      exploding norms; a tight band is healthy,
    * ``frac_zero_norm`` — all-zero vectors (failed encodes) poison
      cosine math downstream,
    * ``mean_sq_norm`` and ``isotropy`` — the anisotropy proxy
      ``||mean(x)||^2 / mean(||x||^2)`` in [0, 1]: ~0 for a
      centered, spread-out cloud, ->1 as vectors collapse to a
      common direction (the "cone effect" that breaks cosine
      ranking).

    Cross-engine determinism: per-vector norms fold in array order
    (deterministic), round 6-dp before any aggregate; the
    order-sensitive sums (norm mean, per-dim means, mu^2) round
    AFTER the division/fold so summation-order ulps die below the
    rounding resolution — the pHash discipline throughout.

    Scale shape: ONE wide aggregation (dim + 6 scalar aggregates,
    map-side partials; the profiler's wide-agg shape) over one
    projection; the result is a single row."""
    v = F.col(vec_col)
    nsq_raw = F.aggregate(
        v, F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"))
    pre = df.select(
        _r6col(F.sqrt(nsq_raw)).alias("__nrm"),
        _r6col(nsq_raw).alias("__nsq"),
        v.alias("__v"))
    aggs = [F.count(F.lit(1)).cast("long").alias("n"),
            F.min("__nrm").alias("mn"), F.max("__nrm").alias("mx"),
            F.sum("__nrm").alias("snrm"),
            F.sum(F.when(F.col("__nrm") == 0.0, 1).otherwise(0))
            .alias("nz"),
            F.sum("__nsq").alias("snsq")]
    aggs += [F.sum(F.element_at("__v", i + 1).cast("double"))
             .alias(f"s{i}") for i in range(dim)]
    a = pre.agg(*aggs)
    n = F.col("n")
    mu2 = _r6col(sum(
        (lambda m: m * m)(_r6col(F.col(f"s{i}") / n))
        for i in range(dim)))
    msq = _r6col(F.col("snsq") / n)
    return a.select(
        n.alias("n_vectors"),
        F.lit(dim).cast("int").alias("dim"),
        F.col("mn").alias("min_norm"), F.col("mx").alias("max_norm"),
        (F.floor(F.col("snrm") / n * F.lit(10000.0) + F.lit(0.5))
         / F.lit(10000.0)).alias("mean_norm"),
        _r6col(F.col("nz") / n).alias("frac_zero_norm"),
        msq.alias("mean_sq_norm"),
        F.when(msq != 0.0, _r6col(mu2 / msq))
        .otherwise(F.lit(0.0)).alias("isotropy"))


def semantic_dedup(df: DataFrame,
                   centroids: Sequence[Sequence[float]],
                   threshold: float = 0.95,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then drop any
    vector whose cosine similarity to a LOWER-id vector in the same
    cluster meets ``threshold`` — keep-first within each semantic
    neighborhood. Returns the per-vector verdict
    ``(id, cluster, dropped)``.

    Scale shape: the point of clustering first is that the quadratic
    candidate comparison runs only WITHIN a cluster — with
    k ≈ n/1000 clusters the per-cluster pair expansion is bounded,
    and the verdict's only shuffle is the cluster-keyed exchange of
    the assigned vectors. Assignment itself is a shuffle-free
    unrolled-argmax projection (:func:`ivf_assign`). The pairwise
    comparison runs as ONE numpy matmul per cluster inside an Arrow
    batch (optimization guide §4.2) — the prior self-join evaluated
    the cosine as an interpreted per-pair HOF fold inside the join
    condition, which measured 10+ minutes single-task at sf0.1
    where the matmul takes well under a second; the 6-dp
    round-before-compare keeps the verdict engine-replayable
    exactly as before."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    assigned = ivf_assign(df, centroids, vec_col, out_col="cluster")
    out_schema = T.StructType([
        assigned.schema[id_col],
        assigned.schema["cluster"],
        T.StructField("dropped", T.BooleanType(), False),
    ])

    def verdict(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col, kind="mergesort",
                              ignore_index=True)
        n = len(pdf)
        dropped = np.zeros(n, dtype=bool)
        if n > 1:
            v = np.array([np.asarray(e, dtype=np.float64)
                          for e in pdf[vec_col]])
            if v.ndim == 2 and v.shape[1] > 0:
                with np.errstate(divide="ignore", invalid="ignore"):
                    nrm = np.sqrt((v * v).sum(axis=1))
                # row-blocked pairwise matmul (_pairwise_hits): one
                # full matrix for healthy clusters — today's exact
                # arithmetic, 6-dp half-away-from-zero round before
                # the compare — bounded blocks for a degenerate giant
                # cluster so peak task memory is O(block x n), not
                # O(n^2). Rows are sorted by id: pair (i < j) drops j.
                for _, jj, _c in _pairwise_hits(v, nrm, threshold):
                    dropped[jj] = True
        return pd.DataFrame({
            id_col: pdf[id_col],
            "cluster": pdf["cluster"],
            "dropped": dropped,
        })

    return (assigned.select(id_col, "cluster", vec_col)
            .groupBy("cluster").applyInPandas(verdict, out_schema))


def quantize_embeddings(df: DataFrame, scale: float,
                        vec_col: str = "embedding",
                        out_col: str = "qvec") -> DataFrame:
    """Symmetric int8 scalar quantization with a FIXED scale:
    ``code = round(clamp(x/scale, -1, 1) * 127)`` — the standard 4x
    storage compression (float32 -> int8) for large embedding
    stores; ANN pre-filters run on the codes and only the re-rank
    touches floats. A caller-chosen scale (e.g. the training-time
    3-sigma bound) keeps the transform STATELESS — no data-dependent
    calibration pass, so codes are reproducible across shards, days
    and engines.

    Pure ``transform`` expression: no shuffle, pipelines into the
    scan."""
    code = lambda x: F.round(
        F.greatest(F.least(x.cast("double") / F.lit(float(scale)),
                           F.lit(1.0)),
                   F.lit(-1.0)) * 127, 0).cast("int")
    return df.withColumn(out_col,
                         F.transform(F.col(vec_col), code))


def dequantize_embeddings(df: DataFrame, scale: float,
                          code_col: str = "qvec",
                          out_col: str = "dqvec") -> DataFrame:
    """Inverse of :func:`quantize_embeddings`:
    ``x ≈ code / 127 * scale``. Max per-dimension error is bounded
    by ``scale/254`` inside the clamp range."""
    return df.withColumn(
        out_col,
        F.transform(F.col(code_col),
                    lambda c: c.cast("double") / 127.0
                    * F.lit(float(scale))))


def int8_topk(corpus: DataFrame, queries: DataFrame, scale: float,
              k: int = 3, shortlist: int = 10,
              id_col: str = "vec_id", vec_col: str = "embedding",
              query_id_col: str = "query_id") -> DataFrame:
    """Two-stage retrieval over int8-quantized codes: stage 1 scores
    EVERY corpus vector against each query with the integer dot
    product of their codes (exact int64 arithmetic — no float
    nondeterminism — and 4x less memory traffic than floats), keeps a
    ``shortlist`` per query, and stage 2 re-ranks only the shortlist
    with exact float cosine. The serving pattern for a quantized
    embedding store: the full scan never touches floats.

    Scale shape: broadcast(queries') codes x corpus projection, one
    window per stage; the float re-rank touches ``shortlist`` rows
    per query."""
    qc = quantize_embeddings(corpus, scale, vec_col, "__qc__")
    qq = quantize_embeddings(queries, scale, vec_col, "__qq__")
    q = qq.select(F.col(id_col).alias(query_id_col),
                  F.col(vec_col).alias("__qv__"), "__qq__")
    joined = (ensure_parallelism(qc)
              .join(F.broadcast(q),
                    F.col(id_col) != F.col(query_id_col)))
    int_dot = F.aggregate(
        F.zip_with("__qc__", "__qq__",
                   lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    w1 = Window.partitionBy(query_id_col).orderBy(
        F.desc("int_score"), F.asc(id_col))
    short = (joined.withColumn("int_score", int_dot)
             .withColumn("__r1__", F.row_number().over(w1))
             .where(F.col("__r1__") <= shortlist))
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col))
    return (short.withColumn(
        "cosine", F.round(cosine(F.col(vec_col), F.col("__qv__")), 6))
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "int_score", "cosine", "rank"))


def rrf_fuse(rankings, k: int = 60, out_k: int = 5,
             query_col: str = "query_id",
             id_col: str = "vec_id") -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of any
    number of per-query rankings: ``score = sum over lists of
    1/(k + rank)`` — the standard zero-tuning way to combine
    lexical, dense and quantized retrieval signals. Each input
    DataFrame needs (query_col, id_col, rank).

    Deterministic by construction: each (query, candidate) sums a
    handful of exact reciprocals and ties break on the id. One
    union + one aggregation keyed by (query, candidate), then a
    per-query top-``out_k`` window."""
    if not rankings:
        raise ValueError("rrf_fuse: rankings must be non-empty")
    parts = [r.select(query_col, id_col,
                      (1.0 / (F.lit(float(k)) + F.col("rank")))
                      .alias("__s__"))
             for r in rankings]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = (u.groupBy(query_col, id_col)
             .agg(F.round(F.sum("__s__"), 6).alias("rrf_score"),
                  F.count(F.lit(1)).cast("int").alias("n_lists")))
    w = Window.partitionBy(query_col).orderBy(
        F.desc("rrf_score"), F.asc(id_col))
    return (fused.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= out_k))


def margin_knn_pairs(x_df: DataFrame, y_df: DataFrame, k: int = 4,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019 — the
    LASER/CCMatrix criterion): score a candidate pair not by raw
    cosine but by the RATIO margin

        margin(x, y) = cos(x, y) /
            (0.5 * (avg_k cos(x, NN_k(x in Y))
                  + avg_k cos(y, NN_k(y in X))))

    which normalizes away hubness — a y that is everyone's neighbor
    has a high denominator and stops winning every x. Returns each
    x's best y by margin: ``(x_id, y_id, cosine, margin)``,
    tie-broken (margin desc, y_id asc). Cosines round to 6 dp before
    any fold and both k-NN means and the margin round to 6 dp, so an
    external SQL oracle replays every stage.

    Scale shape: mining runs per (shard_X x shard_Y) pair — X ships
    as a broadcast onto the Y scan (one labeled evaluation-shaped
    pass, the cosine_topk posture), both k-NN folds are windowed
    top-k over that one scored relation, and nothing shuffles except
    the |X|*|Y|-row score relation keyed by x/y id. At corpus scale
    the scored relation comes from ANN candidates instead
    (srp/ivf), with the identical margin fold downstream."""
    x = x_df.select(F.col(id_col).alias("x_id"),
                    F.col(vec_col).alias("__xv__"))
    y = ensure_parallelism(y_df).select(F.col(id_col).alias("y_id"),
                                        F.col(vec_col).alias("__yv__"))
    # No id-inequality filter: X and Y are two DIFFERENT corpora with
    # independent id spaces, so a gold pair whose source and target
    # happen to share an id value must still be scoreable. (The
    # cosine_topk self-join posture, where ids coincide by
    # construction, does not apply here.)
    scored = (y.crossJoin(F.broadcast(x))
              .select("x_id", "y_id",
                      F.round(cosine(F.col("__yv__"),
                                     F.col("__xv__")), 6)
                      .alias("cosine")))
    wx = Window.partitionBy("x_id").orderBy(F.desc("cosine"),
                                            F.asc("y_id"))
    wy = Window.partitionBy("y_id").orderBy(F.desc("cosine"),
                                            F.asc("x_id"))
    ranked = (scored
              .withColumn("__rx__", F.row_number().over(wx))
              .withColumn("__ry__", F.row_number().over(wy)))
    ax = (ranked.where(F.col("__rx__") <= k).groupBy("x_id")
          .agg(F.round(F.avg("cosine"), 6).alias("__ax__")))
    ay = (ranked.where(F.col("__ry__") <= k).groupBy("y_id")
          .agg(F.round(F.avg("cosine"), 6).alias("__ay__")))
    m = (scored.join(ax, "x_id").join(ay, "y_id")
         .select("x_id", "y_id", "cosine",
                 F.round(F.col("cosine")
                         / (0.5 * (F.col("__ax__")
                                   + F.col("__ay__"))), 6)
                 .alias("margin")))
    wbest = Window.partitionBy("x_id").orderBy(F.desc("margin"),
                                               F.asc("y_id"))
    return (m.withColumn("__r__", F.row_number().over(wbest))
            .where(F.col("__r__") == 1)
            .select("x_id", "y_id", "cosine", "margin"))
