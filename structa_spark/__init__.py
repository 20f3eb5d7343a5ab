"""structa_spark — a PySpark-native structure-inference and
data-profiling engine with the capabilities of waveform80/structa,
re-expressed Spark-first, plus large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal
plumbing).

Quick start::

    from structa_spark import analyze
    profile = analyze(spark.read.parquet(path))
    print(profile.render())           # structa-style summary
    profile.to_schema()               # compiled StructType
    profile.validation_predicate()    # data-quality Column
"""

from .analyzer import (
    AnalyzerConfig,
    Profile,
    analyze,
    merge_profiles,
    merge_to_fixpoint,
)
from .diff import diff_profiles, render_diff
from .model import (
    BoolT, DateTimeT, Empty, FieldT, FloatT, IntT, ListT, Node, NumReprT,
    RecordT, StrReprT, StrT, TableT, TupleT, URLT, ValueAny, merge,
)
from .stats import LengthStats, Stats

__version__ = "0.1.0"


def registered_cells() -> dict:
    """Persisted relations the operators hold between calls, by name:
    none. Each operator shares its intermediate relations within the
    plan it returns (Spark reuses the identical exchanges), so no
    call keeps state for a later one."""
    return {}


__all__ = [
    "AnalyzerConfig", "Profile", "analyze", "merge_profiles",
    "merge_to_fixpoint", "merge", "diff_profiles", "render_diff",
    "registered_cells",
    "Stats", "LengthStats",
    "BoolT", "DateTimeT", "Empty", "FieldT", "FloatT", "IntT", "ListT",
    "Node", "NumReprT", "RecordT", "StrReprT", "StrT", "TableT", "TupleT",
    "URLT", "ValueAny", "__version__",
]
