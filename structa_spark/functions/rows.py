"""One Arrow row mapper for the per-row Python operators.

Decoders, document extractors and subword encoders are pure per-row
Python functions; :func:`map_rows` is the one distributed shape they
share. It runs ``mapInArrow``, so the payload bytes stay
executor-side in Arrow batches, and it builds each output batch
column by column against the declared schema with ``pyarrow``: a
nullable ``long`` never passes through a pandas float64 column,
where a hash above 2^53 would round. Every decode failure passes
through here, which makes this the place to count them.

:func:`round_half_up` is the Python-float twin of the repo's
``floor(x * 10^d + 0.5) / 10^d`` rounding.
"""

from __future__ import annotations

import math
from typing import Callable, Iterable, Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def map_rows(df: DataFrame, fn: Callable[..., Iterable[tuple]],
             schema: Union[str, T.StructType], in_cols: Sequence[str],
             id_col: str) -> DataFrame:
    """Map each row of ``df`` to zero or more output rows.

    ``fn`` receives the Python values of ``in_cols`` (``None`` for a
    null) and returns an iterable of tuples; each tuple becomes one
    output row with the row's ``id_col`` value prepended. ``schema``
    (a ``StructType`` or a DDL string) declares the output columns in
    that order, the id first. ``fn`` owns its degrade rule: an
    undecodable payload can yield a null row, no row, or a partly
    null one. NaN in a float column becomes null, as it did through
    pandas.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    in_cols = list(in_cols)

    def batches(it):
        for batch in it:
            ids = batch.column(id_col).to_pylist()
            cols = [batch.column(c).to_pylist() for c in in_cols]
            rows = [(key, *out) for key, *vals in zip(ids, *cols)
                    for out in fn(*vals)]
            columns = zip(*rows) if rows else [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type, from_pandas=True)
                 for c, f in zip(columns, arrow_schema)],
                schema=arrow_schema)

    # only the columns fn reads cross into the Python worker
    return df.select(id_col, *in_cols).mapInArrow(batches, schema)


def round_half_up(x: float, digits: int) -> float:
    """``floor(x * 10^digits + 0.5) / 10^digits`` on the binary
    double: three IEEE ops any SQL engine replays verbatim (Python's
    ``round`` is half-to-even, and a shortest-repr detour can round a
    boundary-straddling value differently from the binary one)."""
    scale = 10.0 ** digits
    return math.floor(x * scale + 0.5) / scale
