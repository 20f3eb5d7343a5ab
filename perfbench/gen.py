"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: it writes
files under the directory it is given and returns a description of
what it wrote (rows, bytes, files) plus the ground truth the output
checks need. The library under test only ever sees the files.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


# ---------------------------------------------------------------------------
# profile_table: a lineitem-shaped flat table
# ---------------------------------------------------------------------------

_DAY0 = datetime(1995, 1, 2)
_SHIP_DAYS = 2498          # 1995-01-02 .. 2001-11-04, as in TPC-H lineitem


def lineitem(out_dir: str, rows: int, seed: int) -> dict:
    """Write ``lineitem.parquet``: the eleven TPC-H lineitem columns
    with their value ranges and cardinalities (keys, 50 quantities,
    11 discounts, 9 taxes, 3x2 flag/status pairs, ~2500 ship dates),
    plus a few nulls in ``l_tax`` and ``l_returnflag``."""
    rng = np.random.default_rng(seed)
    qty = rng.integers(1, 51, rows).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2100.0, rows), 2)
    days = rng.integers(0, _SHIP_DAYS, rows)
    ship = (np.datetime64(_DAY0, "us")
            + days.astype("timedelta64[D]").astype("timedelta64[us]"))
    table = pa.table({
        "l_orderkey": rng.integers(0, max(rows // 4, 1), rows),
        "l_partkey": rng.integers(0, 20_000, rows),
        "l_suppkey": rng.integers(0, 1_000, rows),
        "l_linenumber": rng.integers(1, 8, rows).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": rng.integers(0, 11, rows) / 100.0,
        "l_tax": pa.array(rng.integers(0, 9, rows) / 100.0,
                          mask=rng.random(rows) < 0.01),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, rows)], mask=rng.random(rows) < 0.002),
        "l_linestatus": pa.array(np.array(["O", "F"])[
            rng.integers(0, 2, rows)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "lineitem.parquet")
    pq.write_table(table, path)
    return {"rows": rows, "bytes": _bytes([path]), "files": 1,
            "path": path}


# ---------------------------------------------------------------------------
# curate_ccnet: a multi-language document corpus
# ---------------------------------------------------------------------------

_STOP = ["the", "of", "and", "to", "with"]
_STEMS = ["spark", "table", "query", "filter", "window", "stream",
          "batch", "column", "vector", "merge", "order", "value",
          "group", "scan", "hash", "join", "sort", "customer", "line",
          "part", "data", "small", "big", "fast", "slow", "row", "key"]


def _lang_vocab(lang: str) -> list:
    # one vocabulary per language (CCNet trains one LM per language);
    # the shared English stopwords keep the Gopher screen passable
    return _STOP + [s if lang == "en" else s + lang for s in _STEMS]


def _write_ndjson(path: str, records) -> None:
    with open(path, "w", encoding="utf-8") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


def corpus(out_dir: str, base_docs: int, copies: int, seed: int,
           langs, n_eval: int = 15) -> dict:
    """Write ``documents.json`` (NDJSON of doc_id, text, lang, source,
    n_chars) built like ``scripts/gen_sf1.py``: one seeded base corpus
    and ``copies`` copies of it, each with a per-copy permutation of
    every language vocabulary, so exact and near duplicates stay
    within their copy and cross-copy shingle sets are disjoint.

    The base corpus holds ordinary documents, exact and near
    duplicates of earlier documents, and low-quality documents built
    to fail the Gopher screen (too short, or symbol-heavy); their ids
    are returned as ``gopher_fail``. ``eval.json`` holds ``n_eval``
    ordinary documents of the corpus as the held-out set to
    decontaminate against."""
    rng = np.random.default_rng(seed)
    vocab = {lang: _lang_vocab(lang) for lang in langs}
    base = []                              # (text, lang, source, bad)
    for i in range(base_docs):
        r = rng.random()
        if base and r < 0.10:              # exact duplicate
            base.append(base[int(rng.integers(0, len(base)))])
            continue
        if base and r < 0.25:              # near duplicate: a few edits
            text, lang, src, bad = base[int(rng.integers(0, len(base)))]
            words = text.split(" ")
            for _ in range(max(1, len(words) // 25)):
                words[int(rng.integers(0, len(words)))] = str(
                    rng.choice(vocab[lang][len(_STOP):]))
            base.append((" ".join(words), lang, src, bad))
            continue
        lang = str(rng.choice(langs))
        src = f"src{int(rng.integers(0, 20))}"
        if r < 0.31:                       # too short for the screen
            words = list(rng.choice(vocab[lang], int(rng.integers(3, 8))))
            base.append((" ".join(words), lang, src, True))
            continue
        words = list(rng.choice(vocab[lang], int(rng.integers(40, 120))))
        if r < 0.36:                       # symbol-heavy
            words = [w if k % 3 else "#" + w for k, w in enumerate(words)]
            base.append((" ".join(words), lang, src, True))
            continue
        base.append((" ".join(words), lang, src, False))

    docs, fail = [], set()
    for c in range(copies):
        # stopwords map to themselves, so Gopher verdicts carry over
        perm = {}
        for k, (lang, v) in enumerate(vocab.items()):
            stems = v[len(_STOP):]
            if c:
                stems = list(np.random.default_rng(
                    [seed, c, k]).permutation(stems))
            perm[lang] = dict(zip(v, _STOP + stems))
        for i, (text, lang, src, bad) in enumerate(base):
            m = perm[lang]
            t = " ".join(("#" + m[w[1:]]) if w.startswith("#") else m[w]
                         for w in text.split(" "))
            docs.append({"doc_id": c * base_docs + i, "text": t,
                         "lang": lang, "source": src, "n_chars": len(t)})
            if bad:
                fail.add(c * base_docs + i)
    good = [d for d in docs if d["doc_id"] not in fail]
    evals = [good[int(i)]["text"]
             for i in rng.choice(len(good), n_eval, replace=False)]
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.json")
    eval_path = os.path.join(out_dir, "eval.json")
    _write_ndjson(path, docs)
    _write_ndjson(eval_path, ({"text": t} for t in evals))
    return {"rows": len(docs), "bytes": _bytes([path]), "files": 1,
            "path": path, "eval_path": eval_path, "eval_texts": evals,
            "gopher_fail": fail,
            "texts": {d["doc_id"]: d["text"] for d in docs}}
