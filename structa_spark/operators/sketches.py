"""Relational Count-Min Sketch (Cormode & Muthukrishnan 2005) — the
frequency sketch beside the profiler's KLL (quantiles) and HLL
(distinct counts).

Spark ships a binary ``count_min_sketch`` aggregate, but its sketch
bytes are engine-private (xxhash seeds) and unverifiable from
outside. This build keeps the sketch RELATIONAL — d x w counters as
(row, bucket, c) rows from the same md5/universal-hash family every
other hash-derived operator uses — so an external SQL oracle can
replay both the build and every estimate bit-for-bit, and the
counters merge across partitions/batches by plain addition (the
mergeability that makes CMS a one-pass distributed/streaming
structure).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_PARAMS, md5_long, universal_hash

CMS_DEPTH = 4
CMS_WIDTH = 1 << 10


def cms_bucket(key: Column, row: int, width: int = CMS_WIDTH,
               params: Optional[List[Tuple[int, int]]] = None
               ) -> Column:
    """The sketch bucket of a string key in counter row ``row``:
    universal hash of ``md5_long(key)`` mod width — exact int64 in
    Spark and DuckDB."""
    a, b = (params or MINHASH_PARAMS)[row]
    return universal_hash(md5_long(key), a, b) % F.lit(width)


def cms_build(df: DataFrame, key_col: str = "key",
              weight_col: Optional[str] = None,
              depth: int = CMS_DEPTH,
              width: int = CMS_WIDTH) -> DataFrame:
    """Build the d x w counter relation ``(row, bucket, c)`` over a
    key (optionally weighted) relation. At most ``depth * width``
    rows regardless of input size — the fixed-memory property.

    Scale shape: one projection fans each key into ``depth``
    (row, bucket) cells (an inline array explode — no join), then
    ONE aggregation with map-side partials; the hot-bucket skew a
    heavy hitter creates is absorbed by exactly that partial
    aggregation. Counter relations from different shards/batches
    merge by unioning and re-aggregating — plain addition."""
    w = (F.col(weight_col).cast("long") if weight_col
         else F.lit(1).cast("long"))
    cells = F.array(*[
        F.struct(F.lit(i).cast("int").alias("row"),
                 cms_bucket(F.col(key_col), i, width).alias("bucket"))
        for i in range(depth)])
    return (df.select(w.alias("__w"),
                      F.explode(cells).alias("__cell"))
            .groupBy(F.col("__cell.row").alias("row"),
                     F.col("__cell.bucket").alias("bucket"))
            .agg(F.sum("__w").alias("c")))


def cms_estimate(queries: DataFrame, counters: DataFrame,
                 key_col: str = "key", depth: int = CMS_DEPTH,
                 width: int = CMS_WIDTH,
                 out_col: str = "cms_estimate") -> DataFrame:
    """Point-frequency estimates for a key relation against a built
    counter relation: the MIN over the key's ``depth`` counter
    cells. CMS never underestimates — estimate >= true count, with
    the overshoot bounded by (e/width) * total mass at probability
    1 - e^-depth.

    Scale shape: the probe side fans into depth cells and joins the
    counter relation on (row, bucket) — at most depth * width rows,
    which broadcasts; absent cells count 0 (an empty counter cell
    is a true zero, and min() ignoring it would inflate the
    estimate)."""
    cells = F.array(*[
        F.struct(F.lit(i).cast("int").alias("row"),
                 cms_bucket(F.col(key_col), i, width).alias("bucket"))
        for i in range(depth)])
    probes = (queries.select(F.col(key_col),
                             F.explode(cells).alias("__cell"))
              .select(key_col, F.col("__cell.row").alias("row"),
                      F.col("__cell.bucket").alias("bucket")))
    return (probes.join(F.broadcast(counters), ["row", "bucket"],
                        "left")
            .groupBy(key_col)
            .agg(F.min(F.coalesce(F.col("c"), F.lit(0)))
                 .cast("long").alias(out_col)))


class CmsStreamFold:
    """Standing Count-Min counters folded over a stream's
    micro-batches — the ``foreachBatch`` ingest monitor that
    completes the Bloom/CMS pair (the Bloom gate answers "have we
    seen this key?", this answers "roughly how often?" — the
    heavy-hitter alarm an ingest pipeline watches).

    Each micro-batch builds its OWN counter relation with
    :func:`cms_build` (distributed, map-side partials absorb the hot
    keys) and the fold adds it into the standing counters. Addition
    is associative and commutative, so the standing sketch after any
    prefix of batches is IDENTICAL to ``cms_build`` over those
    batches' union — stream-vs-batch estimate parity is exact, not
    approximate (pinned in tests/test_streaming.py).

    The standing state is at most ``depth * width`` counters (the
    CMS fixed-memory property, ~64 KiB at the defaults) — that bound,
    not the stream length, is what the per-batch ``collect`` and the
    driver-held dict cost, the same discipline as the Bloom gate's
    m_bits-bounded word list.

    Usage::

        fold = CmsStreamFold(key_col="token", width=1 << 10)
        q = (keys.writeStream.foreachBatch(fold.foreach_batch())
             .trigger(availableNow=True).start())
        q.awaitTermination()
        estimates = cms_estimate(probes, fold.counters(spark))
    """

    def __init__(self, depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
                 key_col: str = "key",
                 weight_col: Optional[str] = None):
        self.depth = depth
        self.width = width
        self.key_col = key_col
        self.weight_col = weight_col
        self.n_batches = 0
        self._counters: dict = {}

    def foreach_batch(self):
        """The ``foreachBatch`` callback: build the batch's counter
        relation and fold it into the standing state by addition."""

        def fold(batch_df: DataFrame, _batch_id: int) -> None:
            rows = cms_build(batch_df, self.key_col, self.weight_col,
                             self.depth, self.width).collect()
            for r in rows:
                k = (r["row"], r["bucket"])
                self._counters[k] = self._counters.get(k, 0) + r["c"]
            self.n_batches += 1

        return fold

    def counters(self, spark) -> DataFrame:
        """The standing counter relation ``(row, bucket, c)`` —
        drop-in for :func:`cms_estimate`'s ``counters`` side."""
        rows = [(r, b, c)
                for (r, b), c in sorted(self._counters.items())]
        return spark.createDataFrame(
            rows, "row int, bucket bigint, c bigint")
