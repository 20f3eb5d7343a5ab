"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, and embedding-cosine near-dup.

Scale design (the point of doing this on Spark):

* **exact**: hash-groupBy on a 64-bit content hash — one shuffle keyed
  by the hash, perfectly balanced unless the corpus is one document
  repeated (AQE skew-join handles that).
* **minhash_lsh**: signatures are computed *without any shuffle*
  (``transform`` + ``array_min`` over the shingle array per row);
  the only shuffle is the band-bucket self-join, whose key cardinality
  (band_id, band_hash) is ~n_docs x n_bands with tiny groups — the
  classic sub-quadratic candidate generation. Candidate verification
  re-checks true Jaccard only on candidate pairs.
* **simhash**: 32-bit signature per row, again shuffle-free to
  compute; near-dups join on rotated prefix buckets.
* **ngram_jaccard**: exact pairwise Jaccard via shingle-explode +
  co-occurrence join — quadratic in the worst case, provided as the
  ground-truth/oracle operator; use minhash_lsh at scale.
* **embedding near-dup**: cosine > tau via either brute-force
  (broadcast one side) or LSH bucketing from
  :mod:`structa_spark.operators.similarity`.

Everything is built-in column expressions — no Python UDFs anywhere.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import (
    MERSENNE_P, MINHASH_PARAMS, md5_long, universal_hash,
)


# a physical plan node that runs Spark jobs before its first task can
# be scheduled: a shuffle or broadcast exchange, or the adaptive wrapper
# (present only over exchanges and subqueries)
_SHUFFLED = re.compile(r"^[\s:+-]*(?:AdaptiveSparkPlan|\w*Exchange)\b",
                       re.MULTILINE)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a low-partition input (one small file) across the
    cluster's cores before CPU-heavy per-row work. A no-op whenever the
    input already yields >= defaultParallelism partitions — i.e. at any
    real scale — so this only rescues the small-file case where one
    task would otherwise do all the hashing.

    Scale shape: deciding launches no Spark job when every leaf of the
    plan has a size estimate (file scans, ranges, local relations).
    Without an exchange in the physical plan, the partition count is
    the scan's split count (read without running anything). With one,
    counting would run every AQE query stage upstream and throw the
    result away, so the post-shuffle count is predicted the way AQE
    sizes it: the optimizer's size estimate over the session's advisory
    partition size. A leaf whose estimate is at least
    ``spark.sql.defaultSizeInBytes`` counts as unsized, since it would
    predict "huge" for any input: an RDD-backed relation such as
    ``createDataFrame`` over a Python list reports exactly that value,
    and a checkpoint keeps the estimate of the plan it cut, which
    inner-join estimates can push past it (the family labels of a
    3-document corpus report more than 2^63 B). Such a plan is counted
    by running it."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    conf = spark._jsparkSession.sessionState().conf()
    qe = df._jdf.queryExecution()
    plan = qe.optimizedPlan()
    leaves = plan.collectLeaves()
    sized = all(int(str(leaves.apply(i).stats().sizeInBytes()))
                < conf.defaultSizeInBytes() for i in range(leaves.size()))
    if sized and _SHUFFLED.search(qe.executedPlan().toString()):
        advisory = conf.getConf(spark._jvm.org.apache.spark.sql.internal
                                .SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES())
        n = -(-int(str(plan.stats().sizeInBytes())) // advisory)
    else:
        n = df.rdd.getNumPartitions()
    if n < cores:
        return df.repartition(cores)
    return df


def normalize_text(text: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Groups of identical (normalized) documents.

    Returns one row per duplicate *group* with ``dup_count >= 2`` and
    the keeper (min id). One shuffle on the content hash.
    """
    h = md5_long(normalize_text(F.col(text_col)))
    return (df.select(F.col(id_col), h.alias("content_hash"))
            .groupBy("content_hash")
            .agg(F.count("*").alias("dup_count"),
                 F.min(id_col).alias("keep_id"))
            .where(F.col("dup_count") >= 2))


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (min id) per normalized content hash."""
    h = md5_long(normalize_text(F.col(text_col)))
    w = df.withColumn("__h__", h)
    keep = (w.groupBy("__h__").agg(F.min(id_col).alias(id_col))
            .select(id_col))
    # broadcast-free: semi join co-partitioned on id after the agg
    return w.join(keep, on=id_col, how="left_semi").drop("__h__")


# ---------------------------------------------------------------------------
# shingles
# ---------------------------------------------------------------------------

def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles of the normalized text (array<string>).
    Documents shorter than k words yield their full text as the only
    shingle. Built on text.word_ngrams — one n-gram expression to
    maintain, so tokenization fixes cannot diverge between the dedup
    and repetition pipelines."""
    from .text import word_ngrams

    # Let-bind the normalized token array: the split/normalize runs
    # ONCE per row, and everything downstream (the n-gram transform,
    # the size gate, the short-doc fallback) reads the cheap bound
    # variable. `concat_ws(" ", toks)` reconstructs normalize_text's
    # output exactly (single-space separators by construction); the
    # isNotNull gate preserves the [null] result for null text.
    def build(tv):
        grams = word_ngrams(tv, k)
        return F.when(F.size(tv) >= k, grams).otherwise(
            F.array(F.when(tv.isNotNull(), F.concat_ws(" ", tv))))

    sh = _bind(F.split(normalize_text(text), " "), build)
    return F.array_distinct(sh)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(shingles: Column,
                      params: Optional[List[Tuple[int, int]]] = None
                      ) -> List[Column]:
    """One min-hash per (a,b) parameter pair — an array_min over the
    shingle array per hash function: computed in the projection, no
    shuffle, no UDF."""
    params = params or MINHASH_PARAMS

    def hasher(a, b):
        # closure factory: a default-arg lambda would change the
        # lambda arity Spark sees for the higher-order function
        return lambda s: universal_hash(md5_long(s), a, b)

    return [F.array_min(F.transform(shingles, hasher(a, b)))
            for a, b in params]


def _bind(value: Column, fn) -> Column:
    """Evaluate ``value`` once and pass it to ``fn`` — a let-binding
    via a singleton-array transform. Without this, referencing an
    expensive expression (e.g. the md5'd shingle array) from k places
    in one projection evaluates it k times: Spark's subexpression
    elimination does not reach into separate higher-order lambdas."""
    return F.get(F.transform(F.array(value), fn), 0)


def _char_grams(tv: Column, k: int) -> Column:
    """All k-char grams of a BOUND string column (lambda variable or
    attribute) as array<string>. Splits into a code-point array once
    and builds each gram as an O(k) array slice — NOT
    ``substr``-per-position, whose per-call code-point seek from the
    string head makes gram building quadratic in string length.
    Matches substr semantics exactly: strings shorter than ``k``
    yield their whole text as the only gram, null yields ``[null]``
    (regex split respects code points, so the slice/rejoin output is
    byte-identical to ``substr(i, k)``)."""
    def from_chars(chars):
        return F.transform(
            F.sequence(F.lit(1),
                       F.greatest(F.length(tv) - (k - 1), F.lit(1))),
            lambda i: F.concat_ws("", F.slice(chars, i, k)))

    return F.when(tv.isNotNull(), _bind(F.split(tv, ""), from_chars)) \
            .otherwise(F.array(F.lit(None).cast("string")))


def minhash_signature_array(shingles: Column,
                            params: Optional[List[Tuple[int, int]]] = None
                            ) -> Column:
    """The full signature as ONE array<bigint> column with the md5 of
    each shingle computed exactly once (let-bound), then k cheap
    universal hashes over the int array. This is the form every
    at-scale consumer should use."""
    params = params or MINHASH_PARAMS
    hashed = F.transform(shingles, md5_long)

    def sig(h):
        cols = []
        for a, b in params:
            cols.append(F.array_min(F.transform(
                h, (lambda a_, b_: lambda x: universal_hash(x, a_, b_)
                    )(a, b))))
        return F.array(*cols)

    return _bind(hashed, sig)


def minhash_signature_df(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         shingle_k: int = 3) -> DataFrame:
    """(id, signature array<bigint>) via shingle-explode + codegen'd
    min-aggregates.

    Same math as :func:`minhash_signature_array`, different physical
    shape: higher-order lambdas run INTERPRETED per array element in
    Spark, while exploded rows feed whole-stage-codegen'd ``min``
    aggregates with map-side partial aggregation — the shuffle carries
    one partial signature per (doc, partition), not the shingles. This
    is the at-scale path; the expression form remains for single-row/
    oracle use."""
    sh = (ensure_parallelism(df)
          .select(F.col(id_col),
                  F.explode(word_shingles(F.col(text_col), shingle_k))
                  .alias("__s__"))
          .withColumn("__h__", md5_long(F.col("__s__"))))
    aggs = [F.min(universal_hash(F.col("__h__"), a, b)).alias(f"__m{i}")
            for i, (a, b) in enumerate(MINHASH_PARAMS)]
    return (sh.groupBy(id_col).agg(*aggs)
            .select(F.col(id_col),
                    F.array(*[f"__m{i}"
                              for i in range(len(MINHASH_PARAMS))])
                    .alias("signature")))


def minhash_bands(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", shingle_k: int = 3,
                  n_bands: int = 4) -> DataFrame:
    """(id, band, band_key) rows: the LSH bucketing relation.

    band_key concatenates rows_per_band signature values; two docs
    share a bucket iff one band matches exactly. Signatures come from
    the codegen path (:func:`minhash_signature_df`); banding is a
    cheap unnest of the 16-element signature."""
    sig = minhash_signature_df(df, text_col, id_col, shingle_k)
    return (sig.select(F.col(id_col),
                       F.explode(_bands_of(F.col("signature"), n_bands))
                       .alias("bb"))
            .select(id_col, "bb.band", "bb.band_key"))


def _bands_of(sig: Column, n_bands: int) -> Column:
    """``array<struct<band, band_key>>`` of a MinHash signature
    array: band ``b``'s key joins its ``rows_per_band`` signature
    values with ``_``. The batch index (:func:`minhash_bands`) and
    the streaming probe (``neardup_candidates_stream``) share it, so
    their keys join exactly."""
    rows_per_band = len(MINHASH_PARAMS) // n_bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.concat_ws("_", F.transform(
                F.slice(sig, b * rows_per_band + 1, rows_per_band),
                lambda v: v.cast("string"))).alias("band_key")))


def minhash_candidates(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", shingle_k: int = 3,
                       n_bands: int = 4,
                       max_bucket: int = 10_000) -> DataFrame:
    """Distinct candidate near-dup pairs (a < b) from LSH banding.

    Shape: ONE shuffle (groupBy bucket) computing the signatures a
    single time, then in-bucket pair expansion from the collected id
    list — no self-join, so the expensive signature projection is
    never duplicated. Buckets larger than ``max_bucket`` are dropped
    (logged degenerate keys, e.g. empty documents): a B-sized bucket
    emits B^2/2 pairs, and a degenerate key would otherwise emit the
    whole corpus squared."""
    bands = minhash_bands(df, text_col, id_col, shingle_k, n_bands)
    grouped = (bands.groupBy("band", "band_key")
               .agg(F.collect_list(id_col).alias("ids"))
               .where(F.size("ids").between(2, max_bucket)))
    # the grouped bucket rows are BYTE-small but their pair expansion
    # is CPU-quadratic per bucket; AQE coalesces the post-shuffle
    # stage by bytes and would run the whole expansion in one task —
    # a round-robin respread keeps it parallel (each bucket row is
    # self-contained, so no key is needed)
    # sort each bucket BEFORE the respread exchange: past it, the
    # generator and the slice both reference the shuffled column, so
    # the sort runs once per bucket — inlined after the exchange it
    # would re-evaluate on every posexplode output row (O(B^2 log B)
    # comparisons per bucket)
    grouped = (grouped
               .select(F.array_sort("ids").alias("ids"))
               .repartition(
                   df.sparkSession.sparkContext.defaultParallelism))
    # two-step expansion: posexplode to one row per member, then each
    # row pairs only with its LATER bucket-mates (slice past its own
    # 1-based position). Peak memory per row is O(bucket), never the
    # O(bucket^2) a nested-transform pair array would materialize —
    # at max_bucket=10k that is the difference between ~10^4 and
    # ~10^8 structs in one row buffer.
    members = grouped.select("ids",
                             F.posexplode("ids").alias("i", "id_a"))
    return (members.select(
        "id_a",
        F.explode(F.slice(F.col("ids"), F.col("i") + 2,
                          F.size("ids"))).alias("id_b"))
        .distinct())


def _pair_intersections(df: DataFrame, text_col: str, id_col: str,
                        shingle_k: int,
                        candidates: Optional[DataFrame]) -> DataFrame:
    """(id_a, id_b, n_inter, n_a, n_b) — the shared pair-intersection
    machinery under :func:`jaccard_pairs` and
    :func:`containment_pairs`; only the score formula differs
    between them. With ``candidates``: verify exactly those pairs
    via two id-keyed joins + ``array_intersect`` (the scale path).
    Without: all co-occurring pairs via the exploded shingle
    equi-join (the labeled quadratic oracle path)."""
    if candidates is not None:
        # join the RAW text to the pair list first and tokenize
        # AFTER the join: shingle computation then runs over
        # O(candidate pairs), not the corpus — at 100 TB the
        # difference between re-tokenizing everything twice and
        # touching a few thousand joined rows. Writing the shingle
        # expression post-join (instead of semi-joining a tokenized
        # corpus) also keeps `candidates` referenced exactly ONCE,
        # so its LSH-producing DAG runs once with no materialization
        # tricks needed.
        da = df.select(F.col(id_col).alias("id_a"),
                       F.col(text_col).alias("__t_a__"))
        db = df.select(F.col(id_col).alias("id_b"),
                       F.col(text_col).alias("__t_b__"))
        paired = (candidates.select("id_a", "id_b")
                  .join(da, "id_a").join(db, "id_b")
                  .select("id_a", "id_b",
                          word_shingles(F.col("__t_a__"), shingle_k)
                          .alias("sh_a"),
                          word_shingles(F.col("__t_b__"), shingle_k)
                          .alias("sh_b")))
        return paired.select(
            "id_a", "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"))
    sh = df.select(F.col(id_col),
                   word_shingles(F.col(text_col), shingle_k)
                   .alias("shingles"))
    sizes = sh.select(id_col, F.size("shingles").alias("n_sh"))
    ex = sh.select(id_col, F.explode("shingles").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (a.join(b, (F.col("a.s") == F.col("b.s"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                      F.col(f"b.{id_col}").alias("id_b"))
             .agg(F.count("*").alias("n_inter")))
    sa = sizes.select(F.col(id_col).alias("id_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"),
                      F.col("n_sh").alias("n_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def jaccard_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", shingle_k: int = 3,
                  threshold: float = 0.5,
                  candidates: Optional[DataFrame] = None) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs above ``threshold``.

    Without ``candidates``: all-pairs via shingle co-occurrence
    (explode -> join on shingle -> count distinct shared shingles) —
    the oracle path, quadratic in the worst case.

    With ``candidates`` (e.g. from :func:`minhash_candidates`): the
    candidate pair list is joined to the per-doc shingle *arrays*
    (two id-keyed joins) and intersections are computed with
    ``array_intersect`` per pair — the all-pairs co-occurrence join is
    never built, so the verification cost is O(|candidates| x
    shingles/doc), not O(co-occurring pairs). This is the scale path.
    """
    pairs = _pair_intersections(df, text_col, id_col, shingle_k,
                                candidates)
    return (pairs.withColumn(
        "jaccard",
        F.round(F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# 48 bits (md5_long provides 60): with pigeonhole blocking at
# max_hamming=3 the signature splits into 4 blocks, so block width is
# bits/4 — at 32 bits that is 8-bit blocks (256 possible values), and
# a corpus of templated documents degenerates into a handful of huge
# buckets whose pair expansion is quadratic and single-task; 12-bit
# blocks (4096 values) keep the bucket join spread and drop the
# random-collision rate 16x while staying well inside bigint
SIMHASH_BITS = 48


def simhash(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """Charikar simhash over whitespace tokens: bit j of the signature
    is the sign of sum over tokens of (+1 if bit j of h(token) else
    -1). All in one projection expression tree (shuffle-free, exactly
    reproducible in ANSI SQL for the oracle)."""
    toks = F.split(normalize_text(text), " ")
    th = F.transform(toks, lambda t: md5_long(t))

    def voter(j):
        return lambda s, h: s + F.when(
            F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1,
            F.lit(1)).otherwise(F.lit(-1))

    def sig(bound_th):
        acc = F.lit(0).cast("long")
        for j in range(bits):
            vote = F.aggregate(bound_th, F.lit(0).cast("long"), voter(j))
            acc = acc + F.when(
                vote >= 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0))
        return acc

    # let-bind the hashed token array: otherwise every one of the
    # `bits` votes re-evaluates the md5 of every token
    return _bind(th, sig)


def hamming_distance(a: Column, b: Column,
                     bits: int = SIMHASH_BITS) -> Column:
    """Popcount of XOR via the native ``bit_count`` expression — a
    single codegen'd Long.bitCount per pair (two's-complement over
    the full long, identical counts to the binary-string-repr
    popcount it replaces, at none of the string-materialize +
    regexp cost)."""
    x = a.bitwiseXOR(b)
    return F.bit_count(x).cast("int")


def connected_components(edges: DataFrame, id_col: str = "doc_id",
                         max_iter: int = 50) -> DataFrame:
    """Connected components of an undirected (id_a, id_b) edge list as
    (id, label) with label = min node id of the component.

    Min-label propagation with **pointer doubling** run to an actual
    fixpoint: each round takes (a) the min label over graph neighbors
    and (b) the label *of* the current label (label(label(v))), which
    doubles the distance a component-minimum travels per round — so a
    diameter-D component converges in O(log2 D) rounds, not D. A
    per-round changed-label count detects the fixpoint; ``max_iter``
    (default 50 => diameter ~2^50) is only a runaway guard, and
    non-convergence raises rather than returning silently split
    groups. Lineage is truncated each round (localCheckpoint) so the
    plan doesn't grow exponentially across iterations. Only nodes
    that appear in an edge are processed.
    """
    sym = (edges.select(F.col("id_a").alias("src"),
                        F.col("id_b").alias("dst"))
           .union(edges.select(F.col("id_b").alias("src"),
                               F.col("id_a").alias("dst"))))
    # checkpoint the edge relation FIRST and derive the seed labels
    # from the checkpointed copy: checkpointing labels before sym
    # evaluated the full upstream edge DAG twice (each eager
    # localCheckpoint runs its own job), which doubled every decode/
    # tokenize pipeline feeding the component step
    sym = sym.localCheckpoint()
    labels = (sym.select("src").distinct()
              .select(F.col("src").alias("id"),
                      F.col("src").alias("label"))
              .localCheckpoint())
    for _ in range(max_iter):
        # ONE join + agg computes the neighbor-min step: self-loop
        # edges (v, v) ride along with the graph edges, so
        # min(label) over the group is min(own label, neighbor
        # labels) directly — the prior shape aggregated neighbors
        # alone and needed a second id-keyed join to fold the node's
        # own label back in. The self-loop row doubles as the
        # carrier of the PRE-round label (__old__), making the
        # fixpoint check a shuffle-free filter-count over the
        # checkpointed round output instead of an old-vs-new join.
        withself = sym.union(labels.select(
            F.col("id").alias("src"), F.col("id").alias("dst")))
        stepped = (withself.join(labels, withself.dst == labels.id)
                   .groupBy("src")
                   .agg(F.min("label").alias("label"),
                        F.min(F.when(F.col("dst") == F.col("src"),
                                     F.col("label"))).alias("__old__"))
                   .select(F.col("src").alias("id"), "label",
                           "__old__"))
        # pointer doubling: label <- min(label, label(label))
        lbl2 = stepped.select(F.col("id").alias("lid"),
                              F.col("label").alias("llabel"))
        # LAZY checkpoint: the fixpoint count below scans every
        # partition, so it both materializes the checkpoint and
        # computes `changed` in a single job (an eager checkpoint
        # would run its own materialization job first)
        jumped = (stepped.join(lbl2, stepped.label == lbl2.lid, "left")
                  .select(F.col("id"), F.col("__old__"),
                          F.least(F.col("label"),
                                  F.coalesce(F.col("llabel"),
                                             F.col("label")))
                          .alias("label"))
                  .localCheckpoint(eager=False))
        changed = (jumped
                   .where(F.col("label") != F.col("__old__"))
                   .count())
        labels = jumped.select("id", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"rounds — component diameter exceeds 2^{max_iter}?")
    return labels


def _family_labels(df: DataFrame, text_col: str, id_col: str,
                   shingle_k: int, jaccard_threshold: float,
                   use_lsh: bool, max_iter: int = 50) -> DataFrame:
    """``(id, label)`` for every document with at least one verified
    near-dup edge, label = the family's minimum id: LSH candidates ->
    exact Jaccard verification -> :func:`connected_components`. The
    relation is checkpointed, so a plan built on it does not repeat
    ``df``'s plan."""
    cand = (minhash_candidates(df, text_col, id_col, shingle_k)
            if use_lsh else None)
    edges = (jaccard_pairs(df, text_col, id_col, shingle_k,
                           threshold=jaccard_threshold, candidates=cand)
             .select("id_a", "id_b"))
    return connected_components(edges, id_col, max_iter)


def near_duplicate_groups(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", shingle_k: int = 3,
                          jaccard_threshold: float = 0.5,
                          max_iter: int = 50,
                          use_lsh: bool = True) -> DataFrame:
    """End-to-end near-dup dedup decision: LSH candidates -> exact
    Jaccard verification -> connected components -> (id, group_id)
    with group_id = min doc id of the component.

    Components come from :func:`connected_components` (pointer-doubled
    min-label propagation, iterated to a checked fixpoint — chain-
    shaped families of any diameter resolve to ONE group). Singletons
    never enter the label loop: only docs with at least one verified
    edge are relabeled, so the iterative work is proportional to the
    duplicate subset, not the corpus."""
    labels = _family_labels(df, text_col, id_col, shingle_k,
                            jaccard_threshold, use_lsh, max_iter)
    dup_groups = labels.select(F.col("id").alias(id_col),
                               F.col("label").alias("group_id"))
    # singletons keep their own id as group
    return (df.select(id_col).join(dup_groups, id_col, "left")
            .select(id_col,
                    F.coalesce("group_id", F.col(id_col))
                    .alias("group_id")))


def simhash_df(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id",
               bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, simhash) via token-explode + codegen'd vote sums — same
    math as the :func:`simhash` expression (bit-for-bit), but the
    ``bits`` per-token votes run inside whole-stage codegen with
    map-side partial aggregation instead of interpreted array
    lambdas (~3x faster, and the shuffle carries one 32-vote partial
    per (doc, partition))."""
    toks = (ensure_parallelism(df)
            .select(F.col(id_col),
                    F.explode(F.split(normalize_text(F.col(text_col)),
                                      " ")).alias("__t__"))
            .withColumn("__h__", md5_long(F.col("__t__"))))
    aggs = [
        F.sum(F.when(F.shiftright("__h__", j).bitwiseAND(F.lit(1)) == 1,
                     1).otherwise(-1)).alias(f"__v{j}")
        for j in range(bits)
    ]
    sig = toks.groupBy(id_col).agg(*aggs)
    acc = F.lit(0).cast("long")
    for j in range(bits):
        acc = acc + F.when(F.col(f"__v{j}") >= 0,
                           F.lit(1 << j).cast("long")).otherwise(F.lit(0))
    return sig.select(F.col(id_col), acc.alias("sh"))


def simhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            max_hamming: int = 3,
                            bits: int = SIMHASH_BITS,
                            max_bucket: int = 10_000) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance.

    Pigeonhole bucketing: the ``bits``-wide signature is split into
    ``max_hamming + 1`` contiguous blocks; two signatures within
    Hamming distance ``max_hamming`` differ in at most ``max_hamming``
    blocks, so they agree exactly on at least one block — FULL recall
    over every bucket that is actually expanded. Each doc is exploded
    into one (block_idx, block_val) bucket row per block, then ONE
    shuffle groups the buckets and pairs are expanded from the
    collected (id, sh) lists — the same shape as
    :func:`minhash_candidates`, so the expensive signature
    aggregation runs once (a self-join would recompute it per side).
    Candidates are verified with the exact popcount and deduped
    across blocks.

    Recall caveat: buckets larger than ``max_bucket`` are dropped —
    a B-sized bucket emits B^2/2 pairs, and one degenerate block
    value (e.g. every near-empty document hashing to signature 0)
    would otherwise emit the corpus squared. Pairs whose ONLY shared
    block lives in a dropped bucket are lost; raise ``max_bucket``
    (or pre-filter degenerate documents) when that tail matters."""
    s = simhash_df(df, text_col, id_col, bits)
    return hamming_near_duplicates(s, id_col=id_col, sig_col="sh",
                                   max_hamming=max_hamming, bits=bits,
                                   max_bucket=max_bucket)


def hamming_near_duplicates(sig_df: DataFrame, id_col: str = "doc_id",
                            sig_col: str = "sh",
                            max_hamming: int = 3,
                            bits: int = SIMHASH_BITS,
                            max_bucket: int = 10_000) -> DataFrame:
    """Near-dup pairs among PRECOMPUTED ``bits``-wide signatures by
    Hamming distance — the pigeonhole core of
    :func:`simhash_near_duplicates`, factored so any signature family
    (text simhash, image dhash, audio fingerprints) reuses the same
    full-recall bucketing, capped expansion and exact popcount
    verification. Input: one ``(id, signature)`` row per item."""
    n_blocks = max_hamming + 1
    block_size = -(-bits // n_blocks)  # ceil
    s = sig_df.select(F.col(id_col), F.col(sig_col).alias("sh"))
    mask = (1 << block_size) - 1
    blocks = F.array(*[
        F.struct(F.lit(j).alias("blk"),
                 F.shiftrightunsigned(F.col("sh"), j * block_size)
                 .bitwiseAND(F.lit(mask)).alias("blk_val"))
        for j in range(n_blocks)])
    bucketed = (s.select(F.col(id_col), F.col("sh"),
                         F.explode(blocks).alias("b"))
                .select(id_col, "sh", "b.blk", "b.blk_val"))
    grouped = (bucketed.groupBy("blk", "blk_val")
               .agg(F.collect_list(
                   F.struct(F.col(id_col).alias("id"),
                            F.col("sh"))).alias("members"))
               .where(F.size("members").between(2, max_bucket)))
    # respread the byte-small bucket rows so the CPU-quadratic
    # per-bucket expansion is not coalesced into one task by AQE,
    # then expand via posexplode + slice-past-self so peak memory
    # per row is O(bucket), not O(bucket^2) (see minhash_candidates).
    # array_sort runs BEFORE the exchange so it evaluates once per
    # bucket, not once per exploded member row.
    grouped = (grouped
               .select(F.array_sort("members").alias("mem"))
               .repartition(
                   sig_df.sparkSession.sparkContext
                   .defaultParallelism))
    members = grouped.select("mem",
                             F.posexplode("mem").alias("i", "a"))
    return (members.select(
        F.col("a"),
        F.explode(F.slice(F.col("mem"), F.col("i") + 2,
                          F.size("mem"))).alias("b"))
        .select(F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                hamming_distance(F.col("a.sh"), F.col("b.sh"))
                .alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct())


def framewise_hamming_pairs(sig_df: DataFrame,
                            id_col: str = "media_id",
                            frame_col: str = "frame_idx",
                            sig_col: str = "dhash",
                            max_hamming: int = 3,
                            bits: int = 48,
                            max_bucket: int = 10_000) -> DataFrame:
    """Frame-ALIGNED near-dup pairs among per-frame signatures — the
    video twin of :func:`hamming_near_duplicates`: input is one
    ``(id, frame, signature)`` row per sampled frame, and candidates
    only form between the SAME frame index of two different videos
    (frame 3 of A vs frame 3 of B — alignment is what makes the
    per-frame distances composable into a whole-video verdict).
    Implementation is the identical full-recall pigeonhole with the
    frame index added to the bucket key, so buckets stay small even
    when every video shares a popular hash at some OTHER index; one
    bucket shuffle, capped expansion, exact popcount verify. Returns
    distinct ``(id_a, id_b, frame, hamming)`` rows with
    ``id_a < id_b``."""
    n_blocks = max_hamming + 1
    block_size = -(-bits // n_blocks)  # ceil
    s = sig_df.select(F.col(id_col), F.col(frame_col).alias("frm"),
                      F.col(sig_col).alias("sh"))
    mask = (1 << block_size) - 1
    blocks = F.array(*[
        F.struct(F.lit(j).alias("blk"),
                 F.shiftrightunsigned(F.col("sh"), j * block_size)
                 .bitwiseAND(F.lit(mask)).alias("blk_val"))
        for j in range(n_blocks)])
    bucketed = (s.select(F.col(id_col), F.col("frm"), F.col("sh"),
                         F.explode(blocks).alias("b"))
                .select(id_col, "frm", "sh", "b.blk", "b.blk_val"))
    grouped = (bucketed.groupBy("frm", "blk", "blk_val")
               .agg(F.collect_list(
                   F.struct(F.col(id_col).alias("id"),
                            F.col("sh"))).alias("members"))
               .where(F.size("members").between(2, max_bucket)))
    grouped = (grouped
               .select(F.col("frm"),
                       F.array_sort("members").alias("mem"))
               .repartition(
                   sig_df.sparkSession.sparkContext
                   .defaultParallelism))
    members = grouped.select(F.col("frm"), F.col("mem"),
                             F.posexplode("mem").alias("i", "a"))
    return (members.select(
        F.col("frm"),
        F.col("a"),
        F.explode(F.slice(F.col("mem"), F.col("i") + 2,
                          F.size("mem"))).alias("b"))
        .select(F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("frm").alias(frame_col),
                hamming_distance(F.col("a.sh"), F.col("b.sh"))
                .alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct())


def dedup_corpus(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", shingle_k: int = 3,
                 jaccard_threshold: float = 0.5,
                 use_lsh: bool = True) -> DataFrame:
    """The end-user dedup endpoint: keep exactly one document per
    near-duplicate family — the group's minimum id, a deterministic
    canonical choice — and every singleton; rows with a null id are
    dropped. The returned DataFrame carries ALL original columns.

    Scale shape: the family labels are a checkpointed (id, label)
    relation over the documents that have an edge — two longs per
    duplicate, tiny next to the corpus. A document survives unless its
    family's minimum id is not its own, so the result is ONE anti-join
    of the corpus against the labelled losers: ``df`` appears once in
    the returned plan, and only ids move, never text."""
    labels = _family_labels(df, text_col, id_col, shingle_k,
                            jaccard_threshold, use_lsh)
    # the label IS the family's minimum id (connected_components'
    # min-label invariant), so every other labelled member is a loser
    losers = (labels.where(F.col("label") != F.col("id"))
              .select(F.col("id").alias(id_col)))
    return (df.where(F.col(id_col).isNotNull())
            .join(losers, id_col, "left_anti"))


def tune_lsh_params(threshold: float, n_perm: int = 16,
                    fp_weight: float = 0.5):
    """Pick the (n_bands, rows_per_band) factorization of ``n_perm``
    whose LSH S-curve best separates pairs around the Jaccard
    ``threshold`` — the standard banding-parameter optimization
    (Leskovec/Rajaraman/Ullman, *Mining of Massive Datasets* ch. 3;
    the same search datasketch ships): candidate probability at
    similarity s is ``1 - (1 - s^r)^b``; minimize
    ``fp_weight * FP_area + (1 - fp_weight) * FN_area`` over the
    integral below/above the threshold.

    Driver-side arithmetic only — call once, then pass ``n_bands``
    to :func:`minhash_bands`/:func:`minhash_candidates`.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold out of range: {threshold}")
    if n_perm < 1:
        raise ValueError(f"n_perm must be >= 1: {n_perm}")
    best = None
    steps = 200
    for b in range(1, n_perm + 1):
        if n_perm % b:
            continue
        r = n_perm // b
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s ** r) ** b
            if s < threshold:
                fp += p / steps
            else:
                fn += (1.0 - p) / steps
        err = fp_weight * fp + (1.0 - fp_weight) * fn
        if best is None or err < best[0]:
            best = (err, b, r)
    return best[1], best[2]


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", shingle_k: int = 3,
                      threshold: float = 0.8,
                      candidates: Optional[DataFrame] = None
                      ) -> DataFrame:
    """ASYMMETRIC containment (Broder 1997's second resemblance
    measure): ``max(|A∩B|/|A|, |A∩B|/|B|)`` — catches a short
    document embedded verbatim in a much longer one, which symmetric
    Jaccard structurally misses (the union is dominated by the long
    side). The classic boilerplate-inclusion / quote detector.

    Returns (id_a, id_b, containment) for pairs at or above
    ``threshold`` (id_a < id_b; the score is the max direction).
    Same two execution shapes as :func:`jaccard_pairs` — both ride
    :func:`_pair_intersections`.
    """
    pairs = _pair_intersections(df, text_col, id_col, shingle_k,
                                candidates)
    score = F.round(
        F.greatest(F.col("n_inter") / F.col("n_a"),
                   F.col("n_inter") / F.col("n_b")), 6)
    return (pairs.withColumn("containment", score)
            .where(F.col("containment") >= threshold)
            .select("id_a", "id_b", "containment"))


def _span_grams(df: DataFrame, n: int, id_col,
                text_col: str, keep_empty: bool = False) -> DataFrame:
    """(id, pos, g): the ONE span derivation every span operator
    shares — lowercased whitespace tokens, word n-grams joined with
    single spaces, null text coalesced to empty. Centralized so the
    batch signal, the removal pass, the persisted index and the
    incremental scorer can never silently diverge on tokenization or
    gram joining. ``keep_empty`` keeps one (id, null, null) row for
    documents with no spans (posexplode_outer) so per-doc aggregates
    retain them."""
    from .text import tokens as _tokens
    from .text import word_ngrams as _word_ngrams

    txt = F.coalesce(F.col(text_col), F.lit(""))
    grams = _word_ngrams(_tokens(F.lower(F.trim(txt))), n)
    ex = (F.posexplode_outer(grams) if keep_empty
          else F.posexplode(grams))
    lead = [F.col(id_col)] if id_col is not None else []
    return df.select(*lead, ex.alias("pos", "g"))


def span_dup_per_doc(df: DataFrame, n: int = 5,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """The aggregation core of :func:`duplicate_span_coverage`:
    (id, n_spans, n_dup_spans) for documents that HAVE spans —
    zero-span documents are absent. Composed pipelines that already
    left-join per-doc signals onto a spine (e.g. the per-source
    curation report) should use this directly and coalesce, instead
    of paying duplicate_span_coverage's restore-join (an extra
    corpus scan) just to re-drop the restored rows."""
    grams = _span_grams(df, n, id_col, text_col).drop("pos")
    tf = grams.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("tf"))
    nd = tf.groupBy("g").agg(F.count(F.lit(1)).alias("nd"))
    return (tf.join(nd, "g")
            .groupBy(id_col)
            .agg(F.sum("tf").cast("long").alias("n_spans"),
                 F.sum(F.when(F.col("nd") >= 2, F.col("tf"))
                       .otherwise(0)).cast("long")
                 .alias("n_dup_spans")))


def duplicate_span_coverage(df: DataFrame, n: int = 5,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Substring-level duplication signal (the span-dedup idea of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL 2022, re-expressed relationally): for every document,
    how much of it is covered by word ``n``-gram spans that ALSO
    occur in at least one OTHER document. Sits between exact
    doc-level dedup and passage dedup — it catches boilerplate
    headers, license blocks and quoted chunks that duplicate across
    otherwise-distinct documents.

    Returns (id, n_spans, n_dup_spans, dup_frac): total span
    positions (n_tokens - n + 1), positions whose span occurs in >=2
    distinct documents, and their ratio. Documents shorter than n
    tokens have no spans and report 0 / 0 / 0.0. Note the metric is
    CROSS-document only; the removal twin
    :func:`drop_duplicated_spans` defaults to also dropping
    within-document repeats (its ``cross_doc_only=True`` mode
    matches this signal exactly).

    Scale shape: span frequencies aggregate on (doc, span) FIRST —
    the doc id in the key absorbs boilerplate hot-spans before any
    join — then one span-keyed join against the distinct-doc counts
    (AQE skew split covers the head); the finale is a doc-keyed agg.
    No Python, no all-pairs: cost is linear in corpus token count.
    The suffix-array formulation of the paper finds arbitrary-length
    duplicated substrings; fixed-n spans are the bounded-state
    relational variant (run several n if needed).
    """
    per = span_dup_per_doc(df, n, id_col, text_col)
    return (df.select(id_col).join(per, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
                F.coalesce("n_dup_spans", F.lit(0))
                .alias("n_dup_spans"),
                F.when(F.coalesce("n_spans", F.lit(0)) > 0,
                       F.round(F.col("n_dup_spans")
                               / F.col("n_spans"), 4))
                .otherwise(F.lit(0.0)).alias("dup_frac")))


def drop_duplicated_spans(df: DataFrame, n: int = 5,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          cross_doc_only: bool = False) -> DataFrame:
    """Remove duplicated word ``n``-gram spans from the corpus,
    keeping each span's globally FIRST occurrence (lowest
    ``(doc, position)``) — the fixed-n relational form of Lee et
    al.'s substring dedup. Matching is case-insensitive; the
    surviving original-case tokens reassemble space-joined
    (whitespace is normalized — run after text normalization, not
    before). A token is dropped when ANY removed span occurrence
    covers it, so overlapping duplicated runs collapse wholesale.
    Null text is treated as an empty document.

    By default ANY repeated span qualifies — including repeats
    WITHIN one document (the paper's behavior, which also flattens
    degenerate "a b c a b c" self-repetition). This is deliberately
    BROADER than :func:`duplicate_span_coverage`, whose dup_frac
    counts only spans seen in >= 2 distinct documents; pass
    ``cross_doc_only=True`` to key removal on distinct-document
    counts and match the signal exactly (within-doc repeats then
    survive).

    Returns (id, text_dedup, n_tokens_before, n_tokens_after); fully
    deduplicated documents come back with an empty string, keeping
    join cardinality stable for downstream stages.

    Scale shape: span occurrences aggregate per span key into
    (count, first-occurrence) — an agg, not a window, so AQE's skew
    split covers boilerplate hot-spans — then one span-keyed join
    marks removable occurrences, coverage explodes to (doc, token
    position) pairs, and an anti-join keeps surviving tokens. All
    keys carry the doc id except the span agg; reassembly sorts
    within each document only. First-occurrence keying packs (doc,
    pos) into one int64, which bounds the domain: pos < 2^20 tokens
    per document AND 0 <= id < 2^43 (both beyond sane training
    corpora with sequential ids; 64-bit HASH ids need remapping
    first) — out-of-range rows raise rather than silently corrupt
    the first-occurrence ordering.
    """
    from .text import tokens as _tokens

    posmax = 1 << 20
    idmax = 1 << 43
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks_arr = _tokens(F.trim(txt))
    toks = df.select(
        F.col(id_col), F.posexplode(toks_arr).alias("pos", "tok"))
    spans = _span_grams(df, n, id_col, text_col)
    # out-of-range (doc, pos) packs to NULL here rather than tripping
    # the ANSI overflow check: plan-internal evaluation order is not
    # guaranteed, and the user-facing error must be the explicit
    # raise_error guard below, which always executes at action time
    enc = F.when((F.col(id_col) >= 0) & (F.col(id_col) < idmax)
                 & (F.col("pos") < posmax),
                 F.col(id_col) * posmax + F.col("pos")).alias("enc")
    occ = spans.select(id_col, "pos", "g", enc)
    if cross_doc_only:
        # distinct-document span counts: matches the
        # duplicate_span_coverage signal
        keyed = occ.groupBy("g").agg(
            F.count_distinct(F.col(id_col)).alias("cnt"),
            F.min("enc").alias("first_enc"))
    else:
        keyed = occ.groupBy("g").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("enc").alias("first_enc"))
    removed = (occ.join(keyed, "g")
               .where((F.col("cnt") >= 2)
                      & (F.col("enc") != F.col("first_enc"))))
    covered = (removed.select(
        id_col,
        F.explode(F.sequence(F.col("pos"),
                             F.col("pos") + (n - 1))).alias("pos"))
        .distinct())
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.count(F.lit(1)).cast("long")
                    .alias("n_tokens_after"),
                    F.concat_ws(" ", F.transform(
                        F.sort_array(F.collect_list(
                            F.struct("pos", "tok"))),
                        lambda s: s.tok)).alias("text_dedup")))
    before = df.select(
        F.col(id_col),
        F.size(toks_arr).cast("long").alias("n_tokens_before"))
    # guard the (doc, pos) packing before any of the above executes;
    # size() over the coalesced text is never null, so a null-text
    # row lands in the n_tokens_before == 0 branch, not the guard
    guarded = before.select(
        id_col, F.when((F.col("n_tokens_before") < posmax)
                       & (F.col(id_col) >= 0)
                       & (F.col(id_col) < idmax),
                       F.col("n_tokens_before"))
        .otherwise(F.raise_error(F.lit(
            "drop_duplicated_spans: document exceeds 2^20 tokens "
            "or doc id outside [0, 2^43) — the int64 (doc, pos) "
            "packing would corrupt first-occurrence ordering")))
        .alias("n_tokens_before"))
    return (guarded.join(rebuilt, id_col, "left")
            .select(id_col, "n_tokens_before",
                    F.coalesce("n_tokens_after", F.lit(0))
                    .alias("n_tokens_after"),
                    F.coalesce("text_dedup", F.lit(""))
                    .alias("text_dedup")))


def scrub_contaminated_spans(corpus: DataFrame, eval_df: DataFrame,
                             n: int = 5, id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """SURGICAL test-set decontamination: remove from each corpus
    document every word ``n``-gram span that also occurs anywhere in
    the held-out evaluation set, and keep the rest of the document —
    the applied form of the GPT-3/PaLM n-gram-overlap hygiene rule
    (Brown et al. 2020 appendix C scrub contaminated *spans*, not
    whole documents, so one quoted benchmark sentence no longer costs
    the entire page). Matching is case-insensitive; surviving
    original-case tokens reassemble space-joined, like
    :func:`drop_duplicated_spans`. Null text is an empty document.

    Returns ``(id, n_tokens_before, n_tokens_after, n_hit_spans,
    text_clean)`` — every corpus row with a non-null id is present,
    untouched documents ride through with ``n_hit_spans = 0``. Rows
    with a null id are dropped (as :func:`dedup_corpus` drops them):
    no join could carry their scrubbed text back to them.

    Scale shape: the eval side is a benchmark — tiny by nature next
    to a 100 TB corpus — so its DISTINCT span set broadcasts and the
    corpus side never shuffles to find hits; hit spans explode to
    (doc, token position) coverage, one doc-keyed anti-join keeps the
    surviving tokens, and reassembly sorts within each document only.
    The corpus is read and tokenized ONCE: the three consumers
    (original-case token positions, lowercased span grams, per-doc
    token counts) all read one ``(id, __toks)`` projection that ends
    in a ``repartition`` by id, and Spark reuses that exchange for
    every consumer. It can because each consumer reads the same
    columns and none adds a filter Spark would push below the
    exchange: null ids go before it, and positions come from
    ``posexplode_outer``, which infers no non-empty-array filter.
    Grams lowercase the bound token array, which is byte-identical to
    tokenizing lowercased text (lowercasing never creates or removes
    whitespace), so tokenization cannot drift from the span-dedup
    family's shared :func:`_span_grams`.
    """
    from .text import tokens as _tokens
    from .text import word_ngrams as _word_ngrams

    txt = F.coalesce(F.col(text_col), F.lit(""))
    base = (corpus.where(F.col(id_col).isNotNull())
            .select(F.col(id_col), _tokens(F.trim(txt)).alias("__toks"))
            .repartition(id_col))
    toks = (base.select(F.col(id_col),
                        F.posexplode_outer("__toks").alias("pos", "tok"))
            .where(F.col("pos").isNotNull()))
    ev = _span_grams(eval_df, n, None, text_col).select("g").distinct()
    grams = _word_ngrams(F.transform(F.col("__toks"), F.lower), n)
    spans = base.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "g"))
    hits = spans.join(F.broadcast(ev), "g")
    covered = (hits.select(
        id_col,
        F.explode(F.sequence(F.col("pos"),
                             F.col("pos") + (n - 1))).alias("pos"))
        .distinct())
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.count(F.lit(1)).cast("long")
                    .alias("n_tokens_after"),
                    F.concat_ws(" ", F.transform(
                        F.sort_array(F.collect_list(
                            F.struct("pos", "tok"))),
                        lambda s: s.tok)).alias("text_clean")))
    n_hits = (hits.groupBy(id_col)
              .agg(F.count(F.lit(1)).cast("long").alias("n_hit_spans")))
    before = base.select(
        F.col(id_col),
        F.size("__toks").cast("long").alias("n_tokens_before"))
    # a missing rebuilt row means ZERO surviving tokens (untouched
    # docs always rebuild — their kept set is their full token set),
    # so absent joins coalesce to the empty document
    return (before.join(rebuilt, id_col, "left")
            .join(n_hits, id_col, "left")
            .select(id_col, "n_tokens_before",
                    F.coalesce("n_tokens_after", F.lit(0))
                    .alias("n_tokens_after"),
                    F.coalesce("n_hit_spans", F.lit(0))
                    .alias("n_hit_spans"),
                    F.coalesce("text_clean", F.lit(""))
                    .alias("text_clean")))


def build_span_index(df: DataFrame, n: int = 5,
                     text_col: str = "text") -> DataFrame:
    """Distinct 64-bit span hashes of a corpus's word ``n``-grams —
    the persisted index side of :func:`incremental_span_coverage`
    (in production: yesterday's corpus, fingerprinted once, written
    as a narrow parquet table). One explode + one distinct; spans
    themselves never leave the executors."""
    from ..functions.hashing import md5_long

    return (_span_grams(df, n, None, text_col)
            .select(md5_long(F.col("g")).alias("span_h"))
            .distinct())


def incremental_span_coverage(incoming: DataFrame, index: DataFrame,
                              n: int = 5, id_col: str = "doc_id",
                              text_col: str = "text",
                              assume_distinct: bool = True
                              ) -> DataFrame:
    """Span-level boilerplate coverage of an INCOMING batch against
    an existing corpus's span index — the incremental production
    shape of :func:`duplicate_span_coverage` (yesterday's corpus is
    already fingerprinted via :func:`build_span_index`; only the
    delta is scanned). Per incoming document: total span positions,
    positions whose span already exists in the index, and their
    ratio — the "how much of this new crawl is old boilerplate"
    admission signal.

    Scale shape: ONE explode + ONE hash-keyed left join against the
    narrow index + ONE doc-keyed aggregation — a single aggregation
    over stream-static joins, so the SAME operator runs over a
    STREAMING ``incoming`` against the static index (see the
    streaming test). Null/short documents report 0/0/0.0.

    PRECONDITION (``assume_distinct=True``, the default): ``index``
    must hold DISTINCT span_h values — :func:`build_span_index`'s
    contract. Duplicate index rows (e.g. a union of per-day indexes
    that was never re-deduplicated) would inflate BOTH counts via
    join multiplicity; pass ``assume_distinct=False`` to pay one
    defensive ``.distinct()`` — but note that on a stream the static
    side re-executes per microbatch, so at scale deduplicate the
    index ONCE when writing it instead.
    """
    from ..functions.hashing import md5_long

    grams = _span_grams(incoming, n, id_col, text_col,
                        keep_empty=True)
    hashed = grams.withColumn(
        "span_h", F.when(F.col("g").isNotNull(),
                         md5_long(F.col("g"))))
    idx = index.select("span_h")
    if not assume_distinct:
        idx = idx.distinct()
    idx = idx.withColumn("__hit__", F.lit(1))
    j = hashed.join(idx, "span_h", "left")
    n_spans = F.count("g").cast("long")
    n_dup = F.sum(F.when(F.col("__hit__").isNotNull(), 1)
                  .otherwise(0)).cast("long")
    return (j.groupBy(id_col)
            .agg(n_spans.alias("n_spans"),
                 n_dup.alias("n_dup_spans"))
            .select(id_col, "n_spans", "n_dup_spans",
                    F.when(F.col("n_spans") > 0,
                           F.round(F.col("n_dup_spans")
                                   / F.col("n_spans"), 4))
                    .otherwise(F.lit(0.0)).alias("dup_frac")))


def duplicate_span_ladder(df: DataFrame, min_n: int = 8,
                          rounds: int = 3,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          threshold: Optional[int] = None
                          ) -> DataFrame:
    """VARIABLE-LENGTH exact substring dedup probe — the
    longest-duplicate formulation of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), which their suffix
    array computes exactly and fixed-n span dedup
    (:func:`duplicate_span_coverage`) cannot see: a document whose
    LONGEST duplicated run is 50 tokens is a far stronger
    memorization risk than one with scattered 8-token matches, even
    at equal dup_frac.

    Measures each document's longest duplicated exact token run on a
    geometric ladder of window lengths ``n_r = min_n * 2^r``
    (r < rounds): a run of length L >= n_r is duplicated iff some
    ``n_r``-token window occurs at least twice corpus-wide (any
    repeat, including within-document at a different position — the
    :func:`drop_duplicated_spans` default), so the largest ladder
    tier with a hit BRACKETS the true longest duplicate:
    ``max_dup_span <= L < 2 * max_dup_span`` (when below the top
    tier). log2(max/min) tiers replace the suffix array — each tier
    is one relational pass, no global ordering.

    Returns one row per document: ``(id, n_tokens, n_min_windows,
    n_dup_min_windows, max_dup_span, drop_doc)`` — the min-tier window
    counts link back to the coverage signal; ``max_dup_span`` is 0
    when no tier hits; ``drop_doc`` flags documents at or beyond
    ``threshold`` (default ``min_n * 2``) for the keep/drop surgery
    (:func:`drop_long_dup_docs`). Documents shorter than ``min_n``
    tokens report zero windows. Spans derive from the SAME shared
    expression as every span operator (:func:`_span_grams`), so
    tokenization cannot drift.

    Scale shape: per tier, ONE span-keyed aggregation (map-side
    partials absorb repeats; AQE skew split covers boilerplate
    hot-spans) and one doc-keyed agg — higher tiers shrink
    geometrically, so the ladder costs ~2x the base tier, not
    rounds-x. No suffix array, no global sort, no Python."""
    from .text import tokens as _tokens

    if rounds < 1:
        raise ValueError(f"rounds must be >= 1: {rounds}")
    threshold = threshold if threshold is not None else min_n * 2

    txt = F.coalesce(F.col(text_col), F.lit(""))
    spine = df.select(
        F.col(id_col),
        F.size(_tokens(F.lower(F.trim(txt)))).cast("long")
        .alias("n_tokens"))

    tiers = None
    for r in range(rounds):
        n_r = min_n << r
        grams = _span_grams(df, n_r, id_col, text_col)
        occ = grams.groupBy("g").agg(F.count(F.lit(1)).alias("k"))
        tier = (grams.join(occ, "g")
                .groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("n_windows"),
                     F.sum(F.when(F.col("k") >= 2, 1).otherwise(0))
                     .alias("n_dup"))
                .select(F.col(id_col), F.lit(n_r).alias("tier_n"),
                        "n_windows", "n_dup"))
        tiers = tier if tiers is None else tiers.unionByName(tier)

    agg = (tiers.groupBy(id_col).agg(
        F.max(F.when(F.col("n_dup") > 0, F.col("tier_n")))
        .alias("max_dup"),
        F.sum(F.when(F.col("tier_n") == min_n, F.col("n_windows")))
        .alias("w0"),
        F.sum(F.when(F.col("tier_n") == min_n, F.col("n_dup")))
        .alias("d0")))
    return (spine.join(agg, id_col, "left")
            .select(
                F.col(id_col), F.col("n_tokens"),
                F.coalesce("w0", F.lit(0)).cast("long")
                .alias("n_min_windows"),
                F.coalesce("d0", F.lit(0)).cast("long")
                .alias("n_dup_min_windows"),
                F.coalesce("max_dup", F.lit(0)).cast("int")
                .alias("max_dup_span"),
                (F.coalesce("max_dup", F.lit(0)) >= threshold)
                .alias("drop_doc")))


def incremental_dup_span_ladder(incoming: DataFrame,
                                indexes,
                                min_n: int = 8,
                                id_col: str = "doc_id",
                                text_col: str = "text",
                                threshold: Optional[int] = None
                                ) -> DataFrame:
    """The PRODUCTION shape of :func:`duplicate_span_ladder`: probe
    an INCOMING batch's tiered windows against per-tier persisted
    span indexes (yesterday's corpus, each tier built once with
    :func:`build_span_index` at ``n = min_n * 2^r``) instead of
    re-laddering the whole corpus per batch. ``indexes`` maps tier
    length -> its distinct span-hash relation.

    Per incoming document: ``max_dup_span`` = the largest tier whose
    some window hash appears in that tier's index (0 if none), plus
    the min-tier window/hit counts and the ``drop_doc`` verdict at
    ``threshold`` (default ``min_n * 2``) — the
    :func:`incremental_span_coverage` contract lifted to the
    variable-length ladder. Matching is index-only (a run repeated
    only WITHIN the incoming batch does not flag — exactly the
    incremental contract).

    Scale shape: per tier ONE explode + ONE hash-keyed left join
    against the distinct narrow index (static side — a bounded
    corpus slice broadcasts; at full scale it is a bucketed parquet
    table and the join co-locates), unioned into a SINGLE doc-keyed
    aggregation — the :func:`incremental_span_coverage` discipline
    (one stateful agg over stream-static joins), so the SAME plan
    runs over a STREAMING ``incoming`` (see tests/test_streaming.py).
    The min tier keeps a null-window row per zero-span document
    (posexplode_outer), so short/null docs report zeros instead of
    vanishing. Returns ``(id, n_min_windows, n_dup_min_windows,
    max_dup_span, drop_doc)``."""
    from ..functions.hashing import md5_long

    if not indexes:
        raise ValueError("indexes must map tier length -> index")
    threshold = threshold if threshold is not None else min_n * 2

    rows = None
    for n_r in sorted(indexes):
        idx = (indexes[n_r].select(F.col("span_h")).distinct()
               .withColumn("__hit", F.lit(1)))
        grams = _span_grams(incoming, n_r, id_col, text_col,
                            keep_empty=(n_r == min_n))
        hashed = grams.select(
            F.col(id_col), F.lit(n_r).alias("tier_n"),
            F.col("g").isNotNull().alias("has_g"),
            F.when(F.col("g").isNotNull(),
                   md5_long(F.col("g"))).alias("span_h"))
        tier = hashed.join(F.broadcast(idx), "span_h", "left")
        rows = tier if rows is None else rows.unionByName(tier)

    hit = F.col("__hit").isNotNull()
    is_min = F.col("tier_n") == min_n
    agg = (rows.groupBy(id_col).agg(
        F.max(F.when(hit, F.col("tier_n"))).alias("max_dup"),
        F.sum(F.when(is_min & F.col("has_g"), 1).otherwise(0))
        .alias("w0"),
        F.sum(F.when(is_min & hit, 1).otherwise(0)).alias("d0")))
    return agg.select(
        F.col(id_col),
        F.col("w0").cast("long").alias("n_min_windows"),
        F.col("d0").cast("long").alias("n_dup_min_windows"),
        F.coalesce("max_dup", F.lit(0)).cast("int")
        .alias("max_dup_span"),
        (F.coalesce("max_dup", F.lit(0)) >= threshold)
        .alias("drop_doc"))


def drop_long_dup_docs(df: DataFrame, min_n: int = 8,
                       rounds: int = 3,
                       threshold: Optional[int] = None,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """The keep/drop surgery terminating the ladder: remove every
    document whose longest duplicated exact run reaches ``threshold``
    (default ``min_n * 2``) — the document-level analogue of
    :func:`drop_duplicated_spans`' span excision, for pipelines that
    drop memorization-risk documents wholesale rather than editing
    them. One id-only anti-join; the corpus rows never shuffle."""
    flagged = (duplicate_span_ladder(
        df, min_n=min_n, rounds=rounds, id_col=id_col,
        text_col=text_col, threshold=threshold)
        .where(F.col("drop_doc")).select(id_col))
    return df.join(flagged, id_col, "left_anti")


def winnow_fingerprints(df: DataFrame, k: int = 8, w: int = 4,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003): hash every ``k``-char gram of the normalized text,
    slide a window of ``w`` consecutive gram hashes, and select the
    minimum of each window (rightmost on ties). The selected set is
    the fingerprint index, with the paper's two guarantees:

    * any shared substring of length >= ``w + k - 1`` between two
      documents yields at least one shared fingerprint (no false
      negatives for long matches), and
    * expected density is 2 / (w + 1) — the index stores a provable
      FRACTION of the gram stream, which is exactly what makes a
      substring index feasible at 100 TB where the all-shingles span
      index (:func:`span_dup_per_doc`) stores every position.

    Returns (id, pos, fp): 1-based char position of the selected
    gram and its hash. Selection is a pure per-row expression
    (sequence + transform + array_min over ``struct(hash, -pos)``,
    giving the rightmost-minimum tie-break) — no shuffle, no Python;
    cost O(n * w) per document inside whole-stage codegen. Documents
    shorter than ``k`` chars fingerprint their whole text;
    normalization (lowercase, whitespace collapse) matches
    :func:`structa_spark.operators.text.fingerprint`, which is the
    degenerate w = #grams single-window case of this operator.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1: {k}/{w}")
    t = F.lower(F.regexp_replace(
        F.coalesce(F.col(text_col), F.lit("")), r"\s+", " "))

    # The gram builder let-binds the normalized text (normalization
    # runs once, not per gram) and slices a code-point array rather
    # than substr-per-position (whose seek is quadratic in string
    # length).
    def hs_of(tv):
        return F.transform(_char_grams(tv, k), lambda g: universal_hash(
            md5_long(g), 1664525, 1013904223))

    # materialize the hash array as its own projection: the window
    # pass below reads it via element_at O(n*w) times, and an
    # INLINED expression would re-derive the whole md5 array per
    # access (higher-order functions evaluate interpreted, with no
    # subexpression cache) — O(n^2 * w) md5 calls per document.
    # CollapseProject keeps the projection because the alias is
    # non-cheap and referenced more than once.
    hashed = ensure_parallelism(df).select(
        F.col(id_col), _bind(t, hs_of).alias("__hs"))
    hs = F.col("__hs")
    n_grams = F.size(hs)
    starts = F.sequence(F.lit(1),
                        F.greatest(n_grams - (w - 1), F.lit(1)))
    # per window: min of (hash, position) packed into ONE bigint —
    # fp < 2^31 and pos < 2^32, so fp*2^32 + (2^32-1-pos) is
    # loss-free and its numeric min is exactly the paper's
    # tie-break (smallest hash, then RIGHTMOST position), which
    # maximizes fingerprint overlap between documents sharing
    # repetitive text. Packing (rather than a struct) also keeps
    # array_distinct on its O(n) primitive-type hash path: over
    # array<struct> it falls back to pairwise comparison — quadratic
    # in fingerprint count, the dominant cost on long documents.
    P = F.lit(4294967296)  # 2^32
    sel = F.transform(starts, lambda j: F.array_min(F.transform(
        F.sequence(j, F.least(j + (w - 1), n_grams)),
        lambda i: F.element_at(hs, i) * P + (P - 1 - i))))
    p = F.col("p")
    return (hashed.select(F.col(id_col),
                          F.explode(F.array_distinct(sel)).alias("p"))
            .select(id_col,
                    (F.lit(4294967295) - (p % P)).cast("int").alias("pos"),
                    F.shiftright(p, 32).alias("fp")))


def winnow_overlap_pairs(df: DataFrame, k: int = 8, w: int = 4,
                         min_shared: int = 2,
                         max_postings: int = 10_000,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Candidate locally-overlapping document pairs from a winnowing
    fingerprint index: (doc_a, doc_b, n_shared) where ``n_shared``
    counts distinct shared fingerprints and ``doc_a < doc_b``. By
    the winnowing guarantee, any pair sharing a substring of length
    >= ``w + k - 1`` appears (with ``min_shared=1``) — PROVIDED the
    region's fingerprints survive the posting cap: a region whose
    fingerprints are all posted in more than ``max_postings``
    documents (corpus-wide boilerplate) drops with them, the same
    stop-gram trade as :func:`minhash_candidates`'s ``max_bucket``.
    ``n_shared`` scales with the total length of shared regions, so
    thresholding it separates real boilerplate/quotation overlap
    from single-gram coincidence. This is the plagiarism/
    local-overlap complement to MinHash (whole-document
    resemblance): a page quoting one paragraph of another scores
    near zero Jaccard but shares that paragraph's full fingerprint
    run.

    Shape mirrors :func:`minhash_candidates`: ONE shuffle groups the
    fingerprint index by fingerprint into per-doc-distinct posting
    sets (``collect_set`` dedups repeated (doc, fp) occurrences
    inside the same fp-keyed aggregation — a separate ``distinct``
    first would exchange the whole index twice); lists longer than
    ``max_postings`` are dropped (a boilerplate gram posted in B
    documents expands to B^2/2 pairs, and hot grams carry no
    overlap signal); pair expansion is posexplode + slice (peak
    O(postings) memory per row, never O(postings^2)), then one
    (a, b)-keyed count. A round-robin respread keeps the
    CPU-quadratic expansion parallel after AQE's byte-based
    coalesce.
    """
    fp = winnow_fingerprints(df, k, w, id_col, text_col)
    posts = (fp.groupBy("fp")
             .agg(F.collect_set(id_col).alias("ids"))
             .where(F.size("ids").between(2, max_postings)))
    posts = (posts
             .select(F.array_sort("ids").alias("ids"))
             .repartition(
                 df.sparkSession.sparkContext.defaultParallelism))
    members = posts.select("ids",
                           F.posexplode("ids").alias("i", "doc_a"))
    pairs = members.select(
        "doc_a",
        F.explode(F.slice(F.col("ids"), F.col("i") + 2,
                          F.size("ids"))).alias("doc_b"))
    return (pairs.groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
            .where(F.col("n_shared") >= min_shared))


def dedup_corpus_best(df: DataFrame, score_col: str,
                      text_col: str = "text",
                      id_col: str = "doc_id", shingle_k: int = 3,
                      jaccard_threshold: float = 0.5,
                      use_lsh: bool = True) -> DataFrame:
    """Quality-aware dedup endpoint: keep the BEST-scoring member of
    each near-duplicate family (ties and null scores fall back to
    the lowest id) — the variant of :func:`dedup_corpus` a curation
    pipeline actually wants, where the survivor should be the
    longest / cleanest / highest-quality copy rather than whichever
    id happens to be smallest.

    Null scores are coalesced to -inf, so a null-scored document
    survives only when its whole group is null-scored.

    Scale shape: as :func:`dedup_corpus`, plus one (id, score)
    projection joined to the labelled documents only — singletons are
    never scored. The per-family argmax is ONE aggregation
    (``max_by`` on a (score, -id) struct: no per-group window sort),
    and the corpus is anti-joined against the labelled losers, so
    ``df`` appears twice in the returned plan and only ids and scores
    move, never text."""
    groups = (_family_labels(df, text_col, id_col, shingle_k,
                             jaccard_threshold, use_lsh)
              .select(F.col("id").alias(id_col),
                      F.col("label").alias("group_id")))
    keep = keep_best_per_group(
        groups, df.select(id_col, score_col), id_col=id_col,
        score_col=score_col).select(F.col("keep_id").alias(id_col))
    losers = groups.join(keep, id_col, "left_anti").select(id_col)
    return (df.where(F.col(id_col).isNotNull())
            .join(losers, id_col, "left_anti"))


def keep_best_per_group(groups: DataFrame, scores: DataFrame,
                        id_col: str = "doc_id",
                        group_col: str = "group_id",
                        score_col: str = "score") -> DataFrame:
    """Survivor selection for ANY dup-group relation — text, image
    or audio families alike: join a per-item score onto the
    (item, group) relation and return one ``(group_col, keep_id)``
    row per group, the highest-scoring member with ties and null
    scores falling back to the LOWEST id (nulls coalesce to -inf, so
    a null-scored item survives only in an all-null group).

    Scale shape: the per-group argmax is ONE aggregation — ``max_by``
    on a (score, -id) struct, no per-group window sort; inputs and
    output are id/score columns only, payloads never move."""
    s = F.coalesce(F.col(score_col).cast("double"),
                   F.lit(float("-inf")))
    scored = groups.join(scores.select(id_col, score_col), id_col)
    return (scored.groupBy(group_col)
            .agg(F.max_by(
                F.col(id_col),
                F.struct(s.alias("s"),
                         (-F.col(id_col)).alias("neg_id")))
                .alias("keep_id")))


# ---------------------------------------------------------------------------
# Bloom-filter membership gate (the Dolma "BFF" decontamination shape)
# ---------------------------------------------------------------------------

BLOOM_BITS = 1 << 16
BLOOM_HASHES = 4


def bloom_positions(key: Column, n_hashes: int = BLOOM_HASHES,
                    m_bits: int = BLOOM_BITS,
                    params: Optional[List[Tuple[int, int]]] = None
                    ) -> List[Column]:
    """The ``n_hashes`` Bloom bit positions of a string key:
    universal hashes of ``md5_long(key)`` reduced mod ``m_bits``.
    Every term is exact int64 arithmetic in Spark AND DuckDB, so an
    external oracle can replay membership bit-for-bit (false
    positives included)."""
    params = list(params or MINHASH_PARAMS)[:n_hashes]
    x = md5_long(key)
    return [universal_hash(x, a, b) % F.lit(m_bits) for a, b in params]


def bloom_fp_rate(n_keys: int, m_bits: int = BLOOM_BITS,
                  n_hashes: int = BLOOM_HASHES) -> float:
    """Expected false-positive rate (1 - e^(-kn/m))^k — the standard
    sizing formula; callers pick m_bits so this stays acceptable."""
    import math
    if n_keys <= 0:
        return 0.0
    return (1.0 - math.exp(-n_hashes * n_keys / m_bits)) ** n_hashes


def build_bloom(keys: DataFrame, key_col: str = "key",
                n_hashes: int = BLOOM_HASHES,
                m_bits: int = BLOOM_BITS) -> List[int]:
    """Build the Bloom bitset over a key relation (e.g. every shingle
    of an eval benchmark) and return it as ``m_bits/64`` SIGNED int64
    words — the form :func:`bloom_member` probes with ``getbit``.

    Scale shape: the distributed side is one projection + a distinct
    on bit positions; the driver-side collect is bounded by
    ``m_bits`` rows of ints (64 KiB of longs at the default 2^16) no
    matter how many keys feed the build — the whole point of a Bloom
    filter is that its size is fixed by the chosen m, not by n.
    """
    pos = (keys.select(F.explode(F.array(
               *bloom_positions(F.col(key_col), n_hashes, m_bits)))
               .alias("p"))
           .distinct())
    words = [0] * ((m_bits + 63) // 64)
    for r in pos.collect():  # bounded: <= m_bits rows
        p = int(r["p"])
        words[p >> 6] |= 1 << (p & 63)
    # two's-complement into signed int64 so the list is a valid
    # array<bigint> literal; getbit reads the raw bit pattern, so
    # bit 63 round-trips
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def merge_blooms(a: List[int], b: List[int]) -> List[int]:
    """Union of two Bloom bitsets built with the same (m, k, params):
    the bitwise OR of their words — how an incremental ingest folds
    each new batch's filter into the standing one without touching
    old data (membership in the union == membership in either, with
    the fp rate of the combined key count). Mismatched sizes mean
    mismatched m and would silently corrupt membership — rejected."""
    if len(a) != len(b):
        raise ValueError(
            f"bloom word counts differ ({len(a)} vs {len(b)}) — "
            f"filters built with different m_bits cannot merge")
    return [x | y for x, y in zip(a, b)]


def bloom_member(key: Column, words: List[int],
                 n_hashes: int = BLOOM_HASHES,
                 m_bits: int = BLOOM_BITS,
                 params: Optional[List[Tuple[int, int]]] = None
                 ) -> Column:
    """Boolean Bloom membership of ``key`` against a built bitset:
    AND of ``n_hashes`` ``getbit`` probes into the array<bigint>
    literal. The bitset travels inside the plan (one copy per task,
    like any broadcast), so gating a 100 TB corpus is a pure
    projection — no join, no shuffle, no Python.

    Both the literal array and the md5 of the key are let-bound
    (:func:`_bind`) so each occurs ONCE in the expression tree, not
    once per probe."""
    params = list(params or MINHASH_PARAMS)[:n_hashes]
    arr = F.lit(list(words)).cast("array<bigint>")

    def probes(w, x):
        cond = None
        for a, b in params:
            pos = universal_hash(x, a, b) % F.lit(m_bits)
            word = F.element_at(w, F.shiftright(pos, 6).cast("int")
                                + F.lit(1))
            hit = F.getbit(word, pos.bitwiseAND(F.lit(63))) == 1
            cond = hit if cond is None else cond & hit
        return cond

    return _bind(arr, lambda w: _bind(md5_long(key),
                                      lambda x: probes(w, x)))


def bloom_flag_docs(corpus: DataFrame, words: List[int],
                    n_hashes: int = BLOOM_HASHES,
                    m_bits: int = BLOOM_BITS, k: int = 3,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Per-document Bloom contamination flags: how many of the
    document's distinct word ``k``-shingles probe all-set in a Bloom
    built over a held-out set (Soldaini et al. 2024's Dolma "BFF"
    dedup/decontamination gate; Bloom 1970). Returns ``(id,
    n_shingles, n_hits, contaminated)`` for EVERY corpus document —
    including null-text documents, which carry zero shingles (the
    ``[null]`` placeholder word_shingles yields for null text is
    filtered out, so the contract is corpus-independent and an
    oracle's unnest-then-regroup can replay it with a left join).

    vs :func:`~.text.contamination_hits` (broadcast-join on the
    exact eval shingle set): the Bloom admits a sized false-positive
    rate (:func:`bloom_fp_rate`) in exchange for a fixed-size,
    join-free gate — the variant an ingest stream or a 1000-executor
    map-only pass wants. Membership is deterministic given (m, k,
    params), so an oracle replays it exactly, false positives and
    all.

    Scale shape: ONE projection over the corpus — shingles are
    let-bound and probed in place (no explode, no join, no shuffle);
    the result aggregates nothing."""
    sh = F.filter(word_shingles(F.col(text_col), k),
                  lambda s: s.isNotNull())

    def stats(shv):
        hits = F.filter(
            shv, lambda s: bloom_member(s, words, n_hashes, m_bits))
        return F.struct(F.size(shv).cast("long").alias("n_shingles"),
                        F.size(hits).cast("long").alias("n_hits"))

    st = _bind(sh, stats)
    return (corpus
            .select(F.col(id_col), st.alias("__st"))
            .select(id_col,
                    F.col("__st.n_shingles").alias("n_shingles"),
                    F.col("__st.n_hits").alias("n_hits"),
                    (F.col("__st.n_hits") > 0).alias("contaminated")))
