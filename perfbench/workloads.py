"""The benchmark workloads.

Each workload generates its inputs from the seed, runs one operation
through the library's public functions, and checks the outputs. A
``span(name)`` context manager wraps every call into a library layer;
it does nothing in the timed passes and records a trace span in the
traced pass.
"""

from __future__ import annotations

import os
from contextlib import nullcontext
from functools import reduce

import gen


class ProfileTable:
    """analyze() + merge_to_fixpoint() + Profile.render() on a flat
    lineitem-shaped parquet table (the paper's core path)."""

    name = "profile_table"
    rows = 400_000
    warm_rows = 50_000
    # the first full-size profile after a session start runs ~20% slow;
    # the median of three is the second
    min_ops = 3

    def generate(self, work: str, seed: int) -> dict:
        inputs = gen.lineitem(os.path.join(work, "table"), self.rows, seed)
        inputs["dir"] = os.path.dirname(inputs["path"])
        inputs["warm_dir"] = os.path.dirname(gen.lineitem(
            os.path.join(work, "warm"), self.warm_rows, seed + 1)["path"])
        return inputs

    def warm_up(self, spark, inputs: dict) -> None:
        self._profile(spark, inputs["warm_dir"], no_span)

    def op(self, spark, inputs: dict, span) -> dict:
        return self._profile(spark, inputs["dir"], span)

    @staticmethod
    def _profile(spark, table_dir: str, span) -> dict:
        from structa_spark import (AnalyzerConfig, Profile, analyze,
                                   merge_to_fixpoint)
        from structa_spark.sources.tables import load_table

        cfg = AnalyzerConfig()
        with span("sources.load_table"):
            df = load_table(spark, table_dir, "lineitem")
        with span("analyzer.analyze"):
            profile = analyze(df, cfg)
        with span("analyzer.merge_to_fixpoint"):
            root = merge_to_fixpoint(profile.root, cfg)
        with span("analyzer.render"):
            text = Profile(root, profile.row_count, cfg).render()
        return {"render": text, "row_count": profile.row_count,
                "root": root}

    def check(self, inputs: dict, results: list) -> dict:
        """Renders byte-identical across ops; row count and per-column
        min / max / non-null count equal a DuckDB scan of the table."""
        import duckdb

        con = duckdb.connect()
        try:
            path = inputs["path"].replace("'", "''")
            cols = [r[0] for r in con.execute(
                f"DESCRIBE SELECT * FROM '{path}'").fetchall()]
            sel = ", ".join(f"min({c}), max({c}), count({c})" for c in cols)
            row = con.execute(
                f"SELECT count(*), {sel} FROM '{path}'").fetchone()
        finally:
            con.close()
        fails = {}
        for k, r in enumerate(results):
            msgs = []
            if r["render"] != results[0]["render"]:
                msgs.append("render differs from the first op's")
            if r["row_count"] != row[0]:
                msgs.append(f"row count {r['row_count']} != {row[0]}")
            fields = {f.key: f.value for f in getattr(r["root"], "fields", ())}
            for i, c in enumerate(cols):
                want = tuple(row[1 + 3 * i: 4 + 3 * i])
                stats = getattr(fields.get(c), "stats", None)
                got = (stats.min, stats.max, stats.card) if stats else None
                if got is None or tuple(map(_naive, got)) != want:
                    msgs.append(f"{c}: min/max/non-null {got} != {want}")
            if msgs:
                fails[k] = msgs
        return fails


class CurateCcnet:
    """The CCNet-ordered curation ladder of PIPELINE.md over a seeded
    two-language corpus: open -> Gopher screen -> dedup -> per-language
    Kneser-Ney perplexity screen -> decontamination -> packing -> one
    action."""

    name = "curate_ccnet"
    base_docs = 300
    copies = 2
    langs = ["en", "de"]
    budget = 512
    min_ops = 1

    def generate(self, work: str, seed: int) -> dict:
        return gen.corpus(os.path.join(work, "corpus"), self.base_docs,
                          self.copies, seed, langs=self.langs)

    def warm_up(self, spark, inputs: dict) -> None:
        # a batch ladder pays JIT and planner warm-up on every run, so
        # set-up only opens the corpus and screens it once; the timed
        # ladder is the first in the JVM
        from pyspark.sql import functions as F

        from structa_spark.operators import text
        from structa_spark.sources.reader import open_source

        docs = open_source(spark, inputs["path"])
        text.gopher_quality_flags(docs).where(
            F.col("gopher_quality_keep")).count()

    def op(self, spark, inputs: dict, span) -> dict:
        from pyspark.sql import functions as F

        from structa_spark.operators import dedup, text
        from structa_spark.sources.reader import open_source

        with span("sources.open_source"):
            docs = open_source(spark, inputs["path"])
            evals = open_source(spark, inputs["eval_path"])
        with span("operators.text.gopher_quality_flags"):
            flags = text.gopher_quality_flags(
                docs, word_count_range=(10, 100_000), min_stopword_hits=1)
        clean = docs.join(flags.where(F.col("gopher_quality_keep"))
                          .select("doc_id"), "doc_id", "left_semi")
        with span("operators.dedup.dedup_corpus"):
            kept = dedup.dedup_corpus(clean, jaccard_threshold=0.5)
        screened = []
        for lang in self.langs:
            # CCNet keeps the head and middle perplexity tertiles of
            # each language, scored by that language's own model
            part = kept.where(F.col("lang") == lang)
            with span("operators.text.kn_bigram_logprob"):
                nll = text.kn_bigram_logprob(part)
            cut = nll.agg(F.percentile("avg_nll", F.lit(2.0 / 3.0))
                          .alias("cut"))
            head = nll.join(F.broadcast(cut), F.col("avg_nll") <= F.col("cut"))
            screened.append(part.join(head.select("doc_id"), "doc_id",
                                      "left_semi"))
        screened = reduce(lambda a, b: a.unionByName(b), screened)
        with span("operators.text.contamination_hits"):
            hits = text.contamination_hits(screened, evals, k=8)
        train = screened.join(hits.select("doc_id"), "doc_id", "left_anti")
        with span("operators.text.pack_sequences"):
            packed = text.pack_sequences(train, budget=self.budget)
        with span("operators.action"):
            rows = packed.collect()
        return {"packs": sorted((r["doc_id"], r["lang"], r["n_tokens"],
                                 r["pack_id"]) for r in rows)}

    def check(self, inputs: dict, results: list) -> dict:
        """Survivors identical across ops and non-empty; every survivor
        passed the Gopher screen, no two are exact duplicates, none
        shares an 8-gram with the eval set; every document starts
        inside its pack's token budget."""
        texts = inputs["texts"]
        eval_grams = {g for t in inputs["eval_texts"] for g in _grams(t, 8)}
        fails = {}
        for k, r in enumerate(results):
            msgs = []
            ids = [p[0] for p in r["packs"]]
            if r["packs"] != results[0]["packs"]:
                msgs.append("survivors differ from the first op's")
            if not ids:
                msgs.append("no survivors")
            if set(ids) & inputs["gopher_fail"]:
                msgs.append("survivors that fail the Gopher screen")
            if len({texts[i] for i in ids}) != len(ids):
                msgs.append("exact duplicates survived")
            if any(_grams(texts[i], 8) & eval_grams for i in ids):
                msgs.append("survivors share 8-grams with the eval set")
            offset = {}
            for doc_id, lang, n_tok, pack_id in r["packs"]:
                before = offset.get(lang, 0)
                if (n_tok != len(texts[doc_id].split())
                        or before // self.budget != pack_id):
                    msgs.append(f"doc {doc_id} outside its pack")
                    break
                offset[lang] = before + n_tok
            if msgs:
                fails[k] = msgs
        return fails


WORKLOADS = {w.name: w for w in (ProfileTable(), CurateCcnet())}


def no_span(name):
    """The span of the timed passes: records nothing."""
    return nullcontext()


def _naive(v):
    # the profile's datetimes carry the session time zone (UTC);
    # DuckDB returns naive UTC datetimes for parquet timestamps
    if getattr(v, "tzinfo", None) is not None:
        v = v.replace(tzinfo=None)
    return v


def _grams(text: str, k: int) -> set:
    w = text.lower().split()
    return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}
