"""The analyzer's queries as SQL text: string literals that read the
same under either parser setting, and the driver round trips a
profile costs."""

import threading

import pytest

from conftest import SF_SMOKE
from structa_spark import analyze, conversions as C
from structa_spark.sources.tables import load_table


def _literals():
    """Every regex, rewrite and datetime format of the conversion
    ladder, the URL regex and the bool words, plus strings built to
    break a naive quoting."""
    out = {C.URL_REGEX, C._RFC1123_JAVA, "", "'", "\\", "''", "\\'",
           "a'b\\c", "{v}"}
    out.update(w for pair in C._BOOL_PAIRS for w in pair)
    out.update(rx for _n, _p, _k, rx, _m in C._NUMBER_FORMATS)
    for disp, java_fmt, rx, *_ in C._DT_FORMATS:
        out.update(s for s in (java_fmt, rx) if s is not None)
        for pat, rep in C._dt_parse(disp)[1]:
            out.update((pat, rep))
    return sorted(out)


@pytest.mark.parametrize("escaped", ["false", "true"])
@pytest.mark.parametrize("text", _literals())
def test_sql_str_reads_back_under_both_parsers(spark, text, escaped):
    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        got = spark.sql(f"SELECT {C.sql_str(text)} AS s").collect()[0].s
    finally:
        spark.conf.set(key, prev)
    assert got == text


def test_profile_ignores_escaped_string_literals(spark):
    # the same profile under either parser setting: every regex and
    # format the candidate ladder sends reaches Spark unchanged
    rows = [(str(i), f"{i / 7:.3f}",
             f"2021-03-{1 + i % 28:02d}T10:00:0{i % 10}",
             f"2021-03-{1 + i % 28:02d} 10:00:00+0{i % 5}00",
             "https://x.org/" + str(i), "yes" if i % 2 else "no")
            for i in range(60)]
    df = spark.createDataFrame(rows, "d string, f string, t string, "
                                     "z string, u string, b string")
    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key)
    renders = []
    try:
        for escaped in ("false", "true"):
            spark.conf.set(key, escaped)
            renders.append(analyze(df).render())
    finally:
        spark.conf.set(key, prev)
    assert renders[0] == renders[1]
    assert "str of int" in renders[0] and "%Y-%m-%dT%H:%M:%S" in renders[0]
    assert "%Y-%m-%d %H:%M:%S%z" in renders[0]


def test_profile_round_trips_are_bounded(spark, monkeypatch):
    # each analyzer query is sent as SQL text, about one py4j round
    # trip per expression (~480 for this profile); a query built as
    # Column trees pays one per function call (~4,000). Counts vary by
    # a few dozen between runs (pool timing), so the bound is loose.
    from py4j.clientserver import ClientServerConnection

    df = load_table(spark, SF_SMOKE, "lineitem")
    send = ClientServerConnection.send_command
    lock = threading.Lock()
    sent = [0]

    def counting(self, command):
        with lock:
            sent[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    p = analyze(df)
    monkeypatch.undo()
    assert p.row_count == df.count()
    assert 0 < sent[0] <= 1000, sent[0]
