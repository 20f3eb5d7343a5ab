"""Candidate string-representation conversions as Spark SQL text.

The reference tries conversions one-by-one per type candidate,
re-walking the data each time (reference: structa/analyzer.py:722-740,
structa/conversions.py:16-54). Here every candidate's *failure count*
is computed in a single wide aggregation pass (JVM-side, whole-stage
codegen) and the driver then picks the first candidate whose failures
fall within ``bad_threshold`` — occurrences, not distinct values.

Each candidate carries:

* ``name``      - stable agg-column suffix
* ``pattern``   - the display pattern (structa-style: base char, bool
                  word pair, or strptime-ish datetime format)
* ``ok``        - SQL template of a BOOLEAN expression, does the value
                  ``{v}`` parse? (see :meth:`Candidate.test`)
* ``kind``      - 'bool' | 'int' | 'float' | 'datetime'

The logical-value expression of a chosen pattern (the compiled cast
chain) lives in :func:`structa_spark.plans.cast_expr`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import List, Optional, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_str(s: str) -> str:
    """SQL text of the string literal ``s``, read the same under either
    value of ``spark.sql.parser.escapedStringLiterals``. That setting
    changes what a backslash or a doubled quote inside quotes means
    (and breaks ``R'...'`` raw literals), so both characters are
    spelled ``chr(92)`` / ``chr(39)`` outside any quotes and joined to
    the plain runs by a ``concat`` of literals, which the optimizer
    folds back into one literal."""
    pieces = [f"chr({ord(p)})" if p in ("\\", "'") else f"'{p}'"
              for p in re.split(r"([\\'])", s) if p]
    if len(pieces) == 1:
        return pieces[0]
    return f"concat({', '.join(pieces)})" if pieces else "''"


@dataclass(frozen=True)
class Candidate:
    name: str
    pattern: str
    kind: str
    ok: str
    fixed_len: bool = False
    # length range a value must have to possibly parse — lets the
    # analyzer skip whole candidates per column from min/max(length)
    # alone, so e.g. a long-text column never evaluates any of them
    min_len: int = 1
    max_len: int | None = None

    def possible(self, col_lmin: int, col_lmax: int) -> bool:
        """Could ANY value of a column with this length range parse?"""
        if col_lmax < self.min_len:
            return False
        if self.max_len is not None and max(col_lmin, 1) > self.max_len:
            return False
        return True

    def test(self, value: str) -> str:
        """SQL text: does the value of the SQL expression ``value``
        parse?"""
        return self.ok.replace("{v}", value)


# -- bool word pairs (false|true ordered) — reference analyzer.py:54-62
_BOOL_PAIRS = [
    ("0", "1"),
    ("f", "t"),
    ("n", "y"),
    ("false", "true"),
    ("no", "yes"),
    ("off", "on"),
    ("", "x"),
]


def _bool_candidates() -> List[Candidate]:
    out = []
    for false_w, true_w in _BOOL_PAIRS:
        pat = f"{false_w}|{true_w}"
        words = [w for w in (false_w, true_w)]
        out.append(Candidate(
            name="bool_" + (false_w or "blank") + "_" + true_w,
            pattern=pat,
            kind="bool",
            ok="lower({v}) IN (%s)" % ", ".join(map(sql_str, words)),
            min_len=min((len(w) for w in words if w), default=1),
            max_len=max(len(w) for w in words),
        ))
    return out


# -- int bases and float: (name, display pattern, kind, regex,
#    max_len) — reference analyzer.py:63, types.py:784-801
_NUMBER_FORMATS = [
    ("int_o", "o", "int", r"^[-+]?0?[oO]?[0-7]+$", 24),
    ("int_d", "d", "int", r"^[-+]?[0-9]+$", 20),
    ("int_x", "x", "int", r"^[-+]?(0[xX])?[0-9a-fA-F]+$", 19),
    ("float_f", "f", "float",
     r"^[-+]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][-+]?[0-9]+)?$", 30),
]

_NUMBER_CANDIDATES = [
    Candidate(name=name, pattern=pattern, kind=kind,
              ok="{v} RLIKE " + sql_str(regex), max_len=max_len)
    for name, pattern, kind, regex, max_len in _NUMBER_FORMATS]


# -- datetime formats: (display strptime-ish pattern, Spark/Java
#    format, prefilter regex, fixed_len) — reference analyzer.py:64-82
#    tries 7 fixed-length and a set of variable-length formats; this is
#    the equivalent set. The prefilter regex matters for throughput:
#    ``try_to_timestamp`` failures are exception-driven in the JVM
#    (~us each), so the cheap regex gates the parse and non-datetime
#    columns never pay for parse attempts at all.
_D2 = r"\d{2}"
_D4 = r"\d{4}"
_TZ = r"(Z|[+-]\d{2}:?\d{2})"
_DOW = r"(Mon|Tue|Wed|Thu|Fri|Sat|Sun)"
_MON = r"(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)"
_DT_FORMATS = [
    ("%Y-%m-%d %H:%M:%S", "yyyy-MM-dd HH:mm:ss",
     rf"^{_D4}-{_D2}-{_D2} {_D2}:{_D2}:{_D2}$", True, 19, 19),
    ("%Y-%m-%dT%H:%M:%S", "yyyy-MM-dd'T'HH:mm:ss",
     rf"^{_D4}-{_D2}-{_D2}T{_D2}:{_D2}:{_D2}$", True, 19, 19),
    ("%Y-%m-%d %H:%M", "yyyy-MM-dd HH:mm",
     rf"^{_D4}-{_D2}-{_D2} {_D2}:{_D2}$", True, 16, 16),
    ("%Y-%m-%dT%H:%M", "yyyy-MM-dd'T'HH:mm",
     rf"^{_D4}-{_D2}-{_D2}T{_D2}:{_D2}$", True, 16, 16),
    ("%Y-%m-%d %H:%M:%S.%f", "yyyy-MM-dd HH:mm:ss.SSSSSS",
     rf"^{_D4}-{_D2}-{_D2} {_D2}:{_D2}:{_D2}\.\d{{6}}$", True, 26, 26),
    ("%Y-%m-%dT%H:%M:%S.%f", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
     rf"^{_D4}-{_D2}-{_D2}T{_D2}:{_D2}:{_D2}\.\d{{6}}$", True, 26, 26),
    ("%Y-%m-%d", "yyyy-MM-dd", rf"^{_D4}-{_D2}-{_D2}$", True, 10, 10),
    ("%Y%m%d", "yyyyMMdd", rf"^{_D4}{_D2}{_D2}$", True, 8, 8),
    ("%H:%M:%S", "HH:mm:ss", rf"^{_D2}:{_D2}:{_D2}$", True, 8, 8),
    ("%Y-%m-%d %H:%M:%S.%f%z", "yyyy-MM-dd HH:mm:ss.SSSSSSXXX",
     rf"^{_D4}-{_D2}-{_D2} {_D2}:{_D2}:{_D2}\.\d{{6}}{_TZ}$",
     False, 27, 32),
    ("%Y-%m-%dT%H:%M:%S.%f%z", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
     rf"^{_D4}-{_D2}-{_D2}T{_D2}:{_D2}:{_D2}\.\d{{6}}{_TZ}$",
     False, 27, 32),
    ("%Y-%m-%d %H:%M:%S%z", "yyyy-MM-dd HH:mm:ssXXX",
     rf"^{_D4}-{_D2}-{_D2} {_D2}:{_D2}:{_D2}{_TZ}$", False, 20, 25),
    ("%Y-%m-%dT%H:%M:%S%z", "yyyy-MM-dd'T'HH:mm:ssXXX",
     rf"^{_D4}-{_D2}-{_D2}T{_D2}:{_D2}:{_D2}{_TZ}$", False, 20, 25),
    ("%Y-%m-%d %H:%M%z", "yyyy-MM-dd HH:mmXXX",
     rf"^{_D4}-{_D2}-{_D2} {_D2}:{_D2}{_TZ}$", False, 17, 22),
    ("%Y-%m-%dT%H:%M%z", "yyyy-MM-dd'T'HH:mmXXX",
     rf"^{_D4}-{_D2}-{_D2}T{_D2}:{_D2}{_TZ}$", False, 17, 22),
    # RFC-1123: day-of-week text ('EEE') is unparseable in Spark >= 3.0
    # datetime patterns, so java_fmt is None and parsing strips the
    # weekday (and a GMT/UTC name) by regex first — see datetime_cast.
    # (reference analyzer.py:64-82 includes both variants)
    ("%a, %d %b %Y %H:%M:%S", None,
     rf"^{_DOW}, {_D2} {_MON} {_D4} {_D2}:{_D2}:{_D2}$", True, 25, 25),
    ("%a, %d %b %Y %H:%M:%S %Z", None,
     rf"^{_DOW}, {_D2} {_MON} {_D4} {_D2}:{_D2}:{_D2} (GMT|UTC)$",
     True, 29, 29),
    ("%d/%m/%Y", "dd/MM/yyyy", rf"^{_D2}/{_D2}/{_D4}$", False, 10, 10),
    ("%m/%d/%Y", "MM/dd/yyyy", rf"^{_D2}/{_D2}/{_D4}$", False, 10, 10),
    ("%Y/%m/%d", "yyyy/MM/dd", rf"^{_D4}/{_D2}/{_D2}$", False, 10, 10),
]

_RFC1123_JAVA = "dd MMM yyyy HH:mm:ss"


def _dt_parse(disp: str) -> Optional[Tuple[str, List[Tuple[str, str]],
                                            str]]:
    """How one display pattern maps onto Spark parsing: the gate regex,
    the ``regexp_replace`` rewrites applied before parsing, and the
    Java format; None for a pattern outside the ladder. The single
    description read by both renderings below."""
    row = next((t for t in _DT_FORMATS if t[0] == disp), None)
    if row is None:
        return None
    _, java_fmt, rx, *_ = row
    if java_fmt is None:                      # RFC-1123 family
        return rx, [(rf"^{_DOW}, ", ""), (r" (GMT|UTC)$", "")], _RFC1123_JAVA
    if disp.endswith("%z"):
        # strptime %z accepts +HHMM *and* +HH:MM; Java XXX only the
        # colon form — normalize the offset before parsing
        return rx, [(r"([+-]\d{2})(\d{2})$", "$1:$2")], java_fmt
    return rx, [], java_fmt


def datetime_cast(disp: str, col: Column) -> Column:
    """The Spark parse expression for one display pattern as a Column
    (used by plans.cast_expr); :func:`_datetime_sql` is the same
    expression as SQL text."""
    spec = _dt_parse(disp)
    if spec is None:
        return F.try_to_timestamp(col)
    rx, rewrites, java_fmt = spec
    clean = col
    for pat, rep in rewrites:
        clean = F.regexp_replace(clean, pat, rep)
    return F.when(col.rlike(rx), F.try_to_timestamp(clean, F.lit(java_fmt)))


def _datetime_sql(disp: str, value: str) -> str:
    """SQL text of :func:`datetime_cast` over the SQL expression
    ``value``, for a pattern of the ladder."""
    rx, rewrites, java_fmt = _dt_parse(disp)
    clean = value
    for pat, rep in rewrites:
        clean = f"regexp_replace({clean}, {sql_str(pat)}, {sql_str(rep)})"
    return (f"CASE WHEN {value} RLIKE {sql_str(rx)} "
            f"THEN try_to_timestamp({clean}, {sql_str(java_fmt)}) END")


def _dt_candidates() -> List[Candidate]:
    return [Candidate(name=f"dt_{i}", pattern=disp, kind="datetime",
                      ok=f"({_datetime_sql(disp, '{v}')}) IS NOT NULL",
                      fixed_len=fixed, min_len=lmin, max_len=lmax)
            for i, (disp, _java, _rx, fixed, lmin, lmax)
            in enumerate(_DT_FORMATS)]


URL_REGEX = r"^https?://"


def candidates() -> List[Candidate]:
    """All candidates in priority order: bool pairs, int bases, float,
    datetimes (the reference's ladder order, analyzer.py:622-640)."""
    return _bool_candidates() + _NUMBER_CANDIDATES + _dt_candidates()
