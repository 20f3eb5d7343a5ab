"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are built-in ``pyspark.sql.functions``
(JVM-side, whole-stage codegen) — no Python UDFs. Each operator adds
columns to a documents DataFrame; nothing shuffles until the caller
aggregates, so these compose into a single scan at 100 TB.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import md5_long, universal_hash

# Tiny per-language function-word lists for the n-gram/stopword
# language heuristic. Deliberately small and frozen: the heuristic is
# the operator; swap in real fastText/CLD offline models via the same
# column contract when available.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "dans"],
    "es": ["el", "la", "de", "que", "y", "los", "es", "en", "un"],
}

STOPWORDS_EN = LANG_STOPWORDS["en"] + [
    "this", "with", "as", "on", "be", "by", "are", "was", "at", "or",
]

_WS = r"\s+"


def tokens(text: Column) -> Column:
    """Whitespace tokenization (empty string -> empty array).

    ``F.trim`` strips SPACES only, so text with leading/trailing
    tabs or newlines would leave boundary ""-tokens after the
    ``\\s+`` split — which the DuckDB oracles' ``list_filter(...,
    t -> t <> '')`` form never sees. ``array_remove`` drops them
    (codegen'd, no lambda; interior empties are impossible — the
    regex split consumes whitespace runs whole), keeping both
    engines byte-identical on multi-line/tabbed input, not just the
    single-spaced fixtures."""
    t = F.trim(text)
    return F.when(t == "", F.array().cast("array<string>")) \
            .otherwise(F.array_remove(F.split(t, _WS), ""))


def bpe_ish_tokens(text: Column) -> Column:
    """A BPE-ish sub-word split: runs of letters, runs of digits, or a
    single other non-space char — the classic pre-tokenizer regex."""
    return F.regexp_extract_all(
        text, F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"), 1)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def char_ratio(text: Column, char_class_regex: str) -> Column:
    """Fraction of characters matching a regex character class,
    computed as length-delta (identical semantics in any engine)."""
    n = F.length(text)
    stripped = F.length(F.regexp_replace(text, char_class_regex, ""))
    return F.when(n > 0, (n - stripped) / n).otherwise(F.lit(0.0))


def with_text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add token/character quality-score features.

    One projection, no shuffle; at 100 TB this pipelines into the
    parquet scan with column pruning (only ``text`` is read).
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    stop_hits = F.size(F.filter(
        toks, lambda x: F.lower(x).isin(STOPWORDS_EN)))
    return (df
            .withColumn("n_tokens", n_tok)
            .withColumn("n_chars_m", F.length(t))
            .withColumn("avg_token_len",
                        F.when(n_tok > 0,
                               (F.length(F.concat_ws("", toks)) / n_tok))
                        .otherwise(F.lit(0.0)))
            .withColumn("digit_ratio", char_ratio(t, r"[0-9]"))
            .withColumn("punct_ratio",
                        char_ratio(t, r"[!-/:-@\[-`{-~]"))
            .withColumn("space_ratio", char_ratio(t, r"\s"))
            .withColumn("stopword_ratio",
                        F.when(n_tok > 0, stop_hits / n_tok)
                        .otherwise(F.lit(0.0))))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """A composite [0,1] quality score from the features — the shape
    of C4/Gopher-style filters (length, symbol ratios, stopword
    presence), tuned to be monotone and cheap."""
    feat = with_text_features(df, text_col)
    score = (
        F.least(F.col("n_tokens") / F.lit(50.0), F.lit(1.0)) * 0.4
        + (1.0 - F.least(F.col("punct_ratio") * 4, F.lit(1.0))) * 0.2
        + (1.0 - F.least(F.col("digit_ratio") * 4, F.lit(1.0))) * 0.2
        + F.least(F.col("stopword_ratio") * 5, F.lit(1.0)) * 0.2
    )
    # an empty/whitespace-only document is quality 0, not "no
    # punctuation" credit
    score = F.when(F.col("n_tokens") > 0, score).otherwise(F.lit(0.0))
    return feat.withColumn("quality_score", F.round(score, 4))


def c4_rule_flags(df: DataFrame, text_col: str = "text",
                  min_words: int = 5,
                  mean_word_len_range=(3.0, 10.0)) -> DataFrame:
    """The classic C4/RedPajama heuristic rule set as one projection
    of boolean flag columns plus the combined ``keep`` verdict
    (Raffel et al. 2020 §2.2's page filters, minus the line-level
    rules, which need newline-preserving ingestion):

    * ``ends_terminal`` — text ends with terminal punctuation
      (``. ! ? "``), the "complete sentence" proxy;
    * ``has_brace`` — contains ``{`` (code/templating leak);
    * ``has_lorem`` — contains "lorem ipsum";
    * ``has_policy`` — boilerplate legalese ("terms of use",
      "privacy policy", "cookie policy", "all rights reserved");
    * ``enough_words`` — at least ``min_words`` whitespace tokens;
    * ``sane_word_len`` — mean word length inside
      ``mean_word_len_range`` (symbol soup / minified-text guard);
    * ``keep`` — the conjunction C4 applies.

    One scan, no shuffle, no Python — flags compose with
    quality_score/lang_id in the same projection at 100 TB."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    low = F.lower(t)
    toks = tokens(t)
    n_tok = F.size(toks)
    mean_len = F.when(
        n_tok > 0,
        F.length(F.concat_ws("", toks)) / n_tok).otherwise(F.lit(0.0))
    lo, hi = mean_word_len_range
    flags = {
        "ends_terminal": F.trim(t).rlike(r'[.!?"]$'),
        "has_brace": t.contains("{"),
        "has_lorem": low.contains("lorem ipsum"),
        "has_policy": (low.contains("terms of use")
                       | low.contains("privacy policy")
                       | low.contains("cookie policy")
                       | low.contains("all rights reserved")),
        "enough_words": n_tok >= min_words,
        "sane_word_len": (mean_len >= lo) & (mean_len <= hi),
    }
    out = df
    for name, c in flags.items():
        out = out.withColumn(name, c)
    keep = (F.col("ends_terminal") & ~F.col("has_brace")
            & ~F.col("has_lorem") & ~F.col("has_policy")
            & F.col("enough_words") & F.col("sane_word_len"))
    return out.withColumn("keep", keep)


def c4_clean_lines(df: DataFrame, text_col: str = "text",
                   min_words_per_line: int = 5,
                   min_sentences: int = 3) -> DataFrame:
    """C4's LINE-level rules (Raffel et al. 2020 §2.2 — the half
    :func:`c4_rule_flags` leaves out because it needs
    newline-preserving ingestion): split the page on newlines, keep
    only lines that

    * end in a terminal punctuation mark (``. ! ? "``);
    * contain at least ``min_words_per_line`` whitespace words
      (default 5, the figure Raffel et al. 2020 §2.2 uses — "only
      retained lines that ... contained at least 5 words");
    * do not mention "javascript" (case-insensitive);

    reassemble the survivors with newlines, and gate the page on
    having at least ``min_sentences`` sentences afterwards
    (sentences approximated as terminal punctuation marks in the
    cleaned text — C4 runs a sentence splitter; the punctuation
    count is the engine-portable stand-in).

    Adds ``n_lines``, ``n_kept_lines``, ``text_clean``,
    ``n_sentences`` and ``page_keep``. A whitespace-only line never
    passes the word gate, so blank separators drop; null text is an
    empty page (one empty line, zero kept). Cleaning precedes the
    page verdict exactly as in C4 — a page of boilerplate lines dies
    on ``min_sentences`` even if every line LOOKED like a sentence
    before cleaning.

    Scale shape: ONE projection, no shuffle, no Python — the line
    split runs once per row (let-bound), the keep-filter and the
    reassembly see only bounded lambda variables, and the whole
    battery composes with :func:`c4_rule_flags` / quality / lang-id
    flags in the same scan at 100 TB; being a pure per-row
    expression it also runs stateless on a stream, append-mode.
    """
    from .dedup import _bind

    t = F.coalesce(F.col(text_col), F.lit(""))

    def keep_line(ln):
        return (ln.rlike(r'[.!?"]\s*$')
                & (F.regexp_count(ln, F.lit(r"\S+"))
                   >= F.lit(min_words_per_line))
                & ~F.lower(ln).contains("javascript"))

    def build(lv):
        def with_kept(kv):
            def with_clean(cl):
                ns = F.regexp_count(cl, F.lit(r"[.!?]"))
                return F.struct(
                    F.size(lv).alias("n_lines"),
                    F.size(kv).alias("n_kept_lines"),
                    cl.alias("text_clean"),
                    ns.alias("n_sentences"),
                    (ns >= F.lit(min_sentences)).alias("page_keep"))
            return _bind(F.concat_ws("\n", kv), with_clean)
        return _bind(F.filter(lv, keep_line), with_kept)

    s = _bind(F.split(t, r"\n"), build)
    return (df.withColumn("__c4", s)
            .select(*df.columns, "__c4.n_lines", "__c4.n_kept_lines",
                    "__c4.text_clean", "__c4.n_sentences",
                    "__c4.page_keep"))


def lang_scores(text: Column):
    """Per-language stopword-hit counts (the n-gram heuristic)."""
    toks = tokens(F.lower(text))

    def member(words):
        return lambda x: x.isin(list(words))

    return {
        lang: F.size(F.filter(toks, member(words)))
        for lang, words in LANG_STOPWORDS.items()
    }


def lang_id(df: DataFrame, text_col: str = "text",
            out_col: str = "lang_pred") -> DataFrame:
    """Argmax language by stopword hits; deterministic tiebreak on
    language code; 'und' (undetermined) when no hits at all.

    Both the token array AND the per-language score array are
    let-bound: the naive expression (each score referenced from the
    greatest() and every tie-break branch) re-ran the tokenizing
    split ~25x per row. Same scores, same tie order, identical
    predictions."""
    from .dedup import _bind

    langs = sorted(LANG_STOPWORDS)   # deterministic tie order

    def member(words):
        return lambda x: x.isin(list(words))

    def build(tv):
        score_arr = F.array(*[
            F.size(F.filter(tv, member(LANG_STOPWORDS[lang])))
            for lang in langs])

        def pick(sa):
            best = F.array_max(sa)
            pred = F.lit("und")
            for i in range(len(langs) - 1, -1, -1):  # earlier wins
                pred = F.when(F.element_at(sa, i + 1) == best,
                              F.lit(langs[i])).otherwise(pred)
            return F.when(best > 0, pred).otherwise(F.lit("und"))

        return _bind(score_arr, pick)

    return df.withColumn(
        out_col, _bind(tokens(F.lower(F.col(text_col))), build))


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams of a token array as space-joined strings
    (empty array when fewer than n tokens). Pure expression — the
    shared primitive under both the repetition signals here and
    dedup's word shingles.

    The input is let-bound (``_bind``) INSIDE this function: Spark
    evaluates higher-order-function lambdas interpreted with no
    subexpression cache, so a raw ``tokens(lower(text))`` expression
    passed as ``toks`` would otherwise be re-derived at every gram
    position — quadratic in document length (measured 115x on
    2000-token docs). Binding here makes every call site linear by
    construction; callers may pass attributes or arbitrary
    expressions interchangeably."""
    from .dedup import _bind

    def build(tv):
        m = F.size(tv)
        return F.when(m >= n, F.transform(
            F.sequence(F.lit(1), m - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tv, i, n)))) \
            .otherwise(F.array().cast("array<string>"))

    return _bind(toks, build)


def repetition_signals(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition features, per doc:

    * ``n_tokens`` — whitespace token count;
    * ``distinct_token_frac`` — type/token ratio (1.0 = no repeated
      word; low values flag degenerate keyword-stuffing documents);
    * ``top_bigram_count`` / ``top_bigram_frac`` — occurrences of the
      most frequent word bigram and the fraction of tokens it covers
      (the "fraction of text in the most common n-gram" filter).
      Bigrams overlap, so 2*count can exceed the token count on
      degenerate runs ("a a a a"); the fraction is capped at 1.0 to
      stay a fraction.

    Scale: the type/token ratio is a pure expression
    (``array_distinct``, no shuffle). The bigram mode needs two
    aggregations keyed by document — explode to (doc, gram), count,
    then max per doc — so the shuffle key includes the doc id: no
    global hot key, map-side partial aggregation applies, and AQE
    coalesces the small tail. No Python UDFs anywhere.
    """
    toks = tokens(F.lower(F.col(text_col)))
    n_tok = F.size(toks)
    base = (df.select(
        F.col(id_col),
        toks.alias("__toks"),
        n_tok.cast("long").alias("n_tokens"),
        F.round(F.when(n_tok > 0,
                       F.size(F.array_distinct(toks)) / n_tok)
                .otherwise(F.lit(0.0)), 4).alias("distinct_token_frac")))
    grams = base.select(
        id_col, "n_tokens", "distinct_token_frac",
        F.explode_outer(word_ngrams(F.col("__toks"), 2)).alias("gram"))
    cnt = (grams.groupBy(id_col, "n_tokens", "distinct_token_frac",
                         "gram")
           .agg(F.count(F.lit(1)).alias("c")))
    top = (cnt.groupBy(id_col, "n_tokens", "distinct_token_frac")
           .agg(F.coalesce(
               F.max(F.when(F.col("gram").isNotNull(), F.col("c"))),
               F.lit(0)).alias("top_bigram_count")))
    return top.select(
        id_col, "n_tokens", "distinct_token_frac", "top_bigram_count",
        F.round(F.when(F.col("n_tokens") > 0,
                       F.least(2.0 * F.col("top_bigram_count")
                               / F.col("n_tokens"), F.lit(1.0)))
                .otherwise(F.lit(0.0)), 4).alias("top_bigram_frac"))


def top_ngram_fracs(df: DataFrame, ns=(2, 3, 4),
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Gopher's "fraction of text in the most common n-gram" filter
    for EVERY requested n, long format: one row per (doc, n) with
    the top n-gram's occurrence count and the capped token-coverage
    fraction ``min(n * count / n_tokens, 1)``.
    :func:`repetition_signals` carries the n=2 case inline; training
    pipelines thresholding several n at once (the paper uses 2-4)
    read this one relation instead of three scans. Every document
    appears for every n — too-short documents with count 0 — so
    downstream joins need no restore pass.

    Scale shape: ONE corpus explode — the per-n gram arrays
    concatenate as (n, gram) structs over the once-materialized
    token array, so adding an n does not add a scan. Counts
    aggregate keyed (doc, n, gram) — no global hot key, map-side
    partials apply — the per-(doc, n) max is a second small agg,
    and a column-pruned (doc, n_tokens) x ns spine restores the
    too-short documents at 0. No Python, no window."""
    ns = sorted(set(int(n) for n in ns))
    base = df.select(
        F.col(id_col),
        tokens(F.lower(F.col(text_col))).alias("__toks"))
    base = base.select(
        id_col, "__toks",
        F.size("__toks").cast("long").alias("n_tokens"))

    def tagger(n_):
        return lambda g: F.struct(
            F.lit(n_).cast("int").alias("n"), g.alias("gram"))

    tagged = F.concat(*[
        F.transform(word_ngrams(F.col("__toks"), n), tagger(n))
        for n in ns])
    ex = (base.select(F.col(id_col), F.explode(tagged).alias("t"))
          .select(id_col, F.col("t.n").alias("n"),
                  F.col("t.gram").alias("gram")))
    cnt = (ex.groupBy(id_col, "n", "gram")
           .agg(F.count(F.lit(1)).alias("c")))
    top = (cnt.groupBy(id_col, "n")
           .agg(F.max("c").cast("long").alias("top_count")))
    spine = base.select(
        id_col, "n_tokens",
        F.explode(F.array(*[F.lit(n).cast("int") for n in ns]))
        .alias("n"))
    joined = (spine.join(top, [id_col, "n"], "left")
              .withColumn("top_count",
                          F.coalesce("top_count", F.lit(0))))
    frac = F.when(
        F.col("n_tokens") > 0,
        F.least(F.col("n") * F.col("top_count") / F.col("n_tokens"),
                F.lit(1.0))).otherwise(F.lit(0.0))
    return joined.select(id_col, "n", "n_tokens", "top_count",
                         F.round(frac, 4).alias("top_frac"))


#: One-to-one typographic normalizations (codepoint -> ASCII):
#: curly quotes, dashes, NBSP. Kept 1:1 so a single ``translate``
#: call handles them all; the 1->3 ellipsis lives in its own replace.
TYPOGRAPHY_SRC = "“”„‘’‚–— "
TYPOGRAPHY_DST = "\"\"\"'''-- "

#: Latin-1/Latin-Extended accent folding (codepoint -> base letter),
#: both cases — the fold dedup canonicalization wants so "café" and
#: "cafe" collapse. 1:1 by construction (``translate``-safe).
ACCENT_SRC = ("àáâãäå"
              "èéêëìíîï"
              "òóôõöùúûü"
              "ýÿçñ"
              "ÀÁÂÃÄÅ"
              "ÈÉÊËÌÍÎÏ"
              "ÒÓÔÕÖÙÚÛÜ"
              "ÝŸÇÑ")
ACCENT_DST = ("aaaaaa" "eeeeiiii" "ooooouuuu" "yycn"
              "AAAAAA" "EEEEIIII" "OOOOOUUUU" "YYCN")
assert len(ACCENT_SRC) == len(ACCENT_DST)


def clean_typography(text: Column) -> Column:
    """Fold typographic punctuation to its ASCII form: curly
    single/double quotes, en/em dashes, non-breaking spaces (all
    1:1, one ``translate``) and the 1->3 horizontal ellipsis. The
    canonicalization step before hashing/shingling so re-encoded
    copies of one document ("smart quotes" vs straight) collapse in
    dedup. Pure expression, engine-portable (DuckDB has the same
    translate/replace semantics)."""
    t = F.translate(text, TYPOGRAPHY_SRC, TYPOGRAPHY_DST)
    return F.regexp_replace(t, "…", "...")


def strip_accents(text: Column) -> Column:
    """Fold Latin-1 accented letters to their base letters (both
    cases) — the "café == cafe" canonicalization. A fixed 1:1
    ``translate`` (NOT full Unicode NFKD, which Spark has no builtin
    for — this covers the Latin-1/Extended range web text actually
    carries; anything outside the map passes through unchanged)."""
    return F.translate(text, ACCENT_SRC, ACCENT_DST)


def normalize_typography(df: DataFrame, text_col: str = "text",
                         out_col: str = "text_norm") -> DataFrame:
    """Apply :func:`clean_typography` + :func:`strip_accents` and
    flag rows the normalization changed. One projection, no shuffle,
    no Python — composes with the quality batteries in the same scan
    and runs stateless on a stream. Null text stays null (nothing to
    normalize; the flag reads false)."""
    t = F.col(text_col)
    norm = strip_accents(clean_typography(t))
    return (df.withColumn(out_col, norm)
            .withColumn("norm_changed",
                        F.coalesce(t != F.col(out_col), F.lit(False))))


def _class_count(t: Column, char_class: str) -> Column:
    """Occurrences of a single-character regex class: length minus
    length-after-removal — identical semantics in Spark
    (``regexp_replace`` replaces all) and DuckDB (``'g'`` flag), so
    an oracle replays it verbatim with no dialect-specific counting
    function."""
    return (F.length(t)
            - F.length(F.regexp_replace(t, char_class, "")))


def script_mix_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Encoding-health + script-mix screen — the multilingual
    curation stage between raw ingest and language ID: a crawl
    snapshot always carries double-encoded mojibake ("Ã©" where "é"
    was meant), U+FFFD replacement chars from decode failures, and
    stray control bytes; and a document whose character scripts
    don't match its declared language is mislabeled or spam. One
    projection per document:

    * ``n_chars`` and per-script fractions (``latin_frac``,
      ``digit_frac``, ``cyrillic_frac`` U+0400-U+04FF, ``cjk_frac``
      U+4E00-U+9FFF) — explicit codepoint ranges, NOT ``\\p{...}``
      classes, so Java-regex and RE2 engines count identically;
    * ``mojibake_hits`` — occurrences of the three classic UTF-8-
      read-as-Latin-1 markers: "Ã" (the double-encoding prefix every
      Latin-1 accent maps into), the "â€" prefix (smart punctuation
      mojibake), and U+FFFD;
    * ``control_count`` — C0 control chars excluding tab/newline/CR;
    * ``encoding_ok`` — no mojibake and no control bytes.

    Counting is length-difference arithmetic (exact integers; the
    "â€" substring via replace-length over 2), fractions round to
    4 dp — everything replays in any SQL engine. Null text yields
    zero counts and ``encoding_ok`` true (nothing bad seen). Pure
    JVM expressions, no shuffle, composes into the quality batteries'
    single scan and streams stateless."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(t)

    def frac(c):
        return F.round(F.when(n > 0, c / n)
                       .otherwise(F.lit(0.0)), 4)

    moji = (_class_count(t, "[Ã�]")
            + (F.length(t)
               - F.length(F.replace(t, F.lit("â€"), F.lit(""))))
            / F.lit(2))
    ctrl = _class_count(
        t, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]")
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_chars"),
        frac(_class_count(t, "[A-Za-z]")).alias("latin_frac"),
        frac(_class_count(t, "[0-9]")).alias("digit_frac"),
        frac(_class_count(t, "[Ѐ-ӿ]"))
        .alias("cyrillic_frac"),
        frac(_class_count(t, "[一-鿿]")).alias("cjk_frac"),
        moji.cast("long").alias("mojibake_hits"),
        ctrl.cast("long").alias("control_count"),
        ((moji == 0) & (ctrl == 0)).alias("encoding_ok"))


def source_vocab_overlap(df: DataFrame, group_col: str = "source",
                         text_col: str = "text") -> DataFrame:
    """Pairwise vocabulary overlap between corpus slices — the
    cross-source redundancy dashboard beside
    :func:`token_js_divergence`'s distributional drift: two sources
    whose token SETS are near-identical are candidates for
    cross-source dedup (mirrors, re-crawls), where JSD only says
    their frequencies differ. Returns one row per unordered slice
    pair that shares at least one token: ``(source_a, source_b,
    n_a, n_b, n_common, jaccard)`` with exact set Jaccard
    ``|A∩B| / (|A|+|B|-|A∩B|)`` rounded to 4 dp (exact-integer
    operands — any engine replays the division).

    Scale shape: the corpus collapses to the DISTINCT (slice, token)
    relation first — bounded by vocabulary x slices, not corpus
    length — so the token self-join fans out at most #slices rows
    per token and the result is #slice-pairs rows; per-slice set
    sizes fold in as a broadcast. No slice's raw text ever joins."""
    st = (df.select(F.col(group_col).alias("g"),
                    F.explode(tokens(F.lower(F.col(text_col))))
                    .alias("token"))
          .distinct())
    counts = st.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    a = st.select(F.col("g").alias("source_a"), "token")
    b = st.select(F.col("g").alias("source_b"), "token")
    inter = (a.join(b, "token")
             .where(F.col("source_a") < F.col("source_b"))
             .groupBy("source_a", "source_b")
             .agg(F.count(F.lit(1)).cast("long").alias("n_common")))
    ca = counts.select(F.col("g").alias("source_a"),
                       F.col("n").alias("n_a"))
    cb = counts.select(F.col("g").alias("source_b"),
                       F.col("n").alias("n_b"))
    return (inter.join(F.broadcast(ca), "source_a")
            .join(F.broadcast(cb), "source_b")
            .select("source_a", "source_b",
                    F.col("n_a").cast("long").alias("n_a"),
                    F.col("n_b").cast("long").alias("n_b"),
                    "n_common",
                    F.round(F.col("n_common")
                            / (F.col("n_a") + F.col("n_b")
                               - F.col("n_common")), 4)
                    .alias("jaccard")))


#: Gopher's required-stopword set (Rae et al. 2021, Table A1): a page
#: must contain at least 2 distinct of these to pass the stopword rule.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have",
                    "with"]


def gopher_quality_flags(df: DataFrame, text_col: str = "text",
                         word_count_range=(50, 100_000),
                         mean_word_len_range=(3.0, 10.0),
                         max_symbol_ratio: float = 0.1,
                         max_bullet_line_frac: float = 0.9,
                         max_ellipsis_line_frac: float = 0.3,
                         min_alpha_word_frac: float = 0.8,
                         min_stopword_hits: int = 2) -> DataFrame:
    """Gopher's page-QUALITY rule battery (Rae et al. 2021, Table A1
    — the non-repetition half; pair with
    :func:`gopher_dup_fractions` / :func:`top_ngram_fracs` for the
    full filter): one projection of per-rule value columns, boolean
    flags, and the combined ``gopher_quality_keep`` verdict.

    * ``n_words`` in ``word_count_range`` (50..100k);
    * ``mean_word_len`` in ``mean_word_len_range`` (3..10);
    * ``symbol_ratio`` — ``#`` and ellipsis occurrences per word,
      <= ``max_symbol_ratio``;
    * ``bullet_line_frac`` — lines starting with a bullet mark,
      <= ``max_bullet_line_frac``;
    * ``ellipsis_line_frac`` — lines ending with an ellipsis,
      <= ``max_ellipsis_line_frac``;
    * ``alpha_word_frac`` — words containing at least one [A-Za-z]
      (the ASCII reading of the paper's "alphabetic character" —
      right for the English corpora Gopher filters),
      >= ``min_alpha_word_frac``;
    * ``stopword_hits`` — distinct :data:`GOPHER_STOPWORDS` present,
      >= ``min_stopword_hits``.

    Ratio rules on an empty page read 0 (vacuously passing); the
    word-count floor is what rejects empty/near-empty pages, exactly
    as in the paper. Fractions round to 4 dp BEFORE thresholding so
    cross-engine replays can never straddle a gate on float dust.

    Scale shape: ONE projection, no shuffle, no Python — the token
    and line arrays are each let-bound (split runs once per row; the
    per-word/per-line predicates see only lambda variables), and the
    battery composes with the C4 flags in the same scan at 100 TB.
    Pure per-row expressions, so it also runs stateless on a stream.
    """
    from .dedup import _bind

    t = F.coalesce(F.col(text_col), F.lit(""))
    wlo, whi = word_count_range
    mlo, mhi = mean_word_len_range

    def with_toks(tv):
        n = F.size(tv)
        mean_len = F.when(
            n > 0, F.round(F.length(F.concat_ws("", tv)) / n, 4)) \
            .otherwise(F.lit(0.0))
        n_sym = (F.regexp_count(t, F.lit(r"#"))
                 + F.regexp_count(t, F.lit(r"\.\.\."))
                 + F.regexp_count(t, F.lit("…")))
        sym_ratio = F.when(n > 0, F.round(n_sym / n, 4)) \
            .otherwise(F.lit(0.0))
        alpha = F.when(
            n > 0,
            F.round(F.size(F.filter(
                tv, lambda w: w.rlike("[A-Za-z]"))) / n, 4)) \
            .otherwise(F.lit(0.0))
        stops = F.size(F.array_intersect(
            F.array_distinct(F.transform(tv, F.lower)),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])))
        return _bind(F.struct(
            n.cast("long").alias("n_words"),
            mean_len.alias("mean_word_len"),
            sym_ratio.alias("symbol_ratio"),
            alpha.alias("alpha_word_frac"),
            stops.cast("int").alias("stopword_hits")), tok_keep)

    # each bound struct carries its own part of the verdict, computed
    # from its bound fields: a filter on the verdict then inlines each
    # struct once, not once per rule that reads it
    def tok_keep(v):
        return v.withField("keep", (
            (v["n_words"] >= wlo) & (v["n_words"] <= whi)
            & (v["mean_word_len"] >= mlo) & (v["mean_word_len"] <= mhi)
            & (v["symbol_ratio"] <= max_symbol_ratio)
            & (v["alpha_word_frac"] >= min_alpha_word_frac)
            & (v["stopword_hits"] >= min_stopword_hits)))

    def line_keep(v):
        return v.withField("keep", (
            (v["bullet_line_frac"] <= max_bullet_line_frac)
            & (v["ellipsis_line_frac"] <= max_ellipsis_line_frac)))

    def with_lines(lv):
        nl = F.size(lv)
        bullet = F.size(F.filter(
            lv, lambda l: l.rlike(r"^\s*[-*•‣▪]")))
        ell = F.size(F.filter(
            lv, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
        return _bind(F.struct(
            F.when(nl > 0, F.round(bullet / nl, 4))
            .otherwise(F.lit(0.0)).alias("bullet_line_frac"),
            F.when(nl > 0, F.round(ell / nl, 4))
            .otherwise(F.lit(0.0)).alias("ellipsis_line_frac")), line_keep)

    return (df.withColumn("__w", _bind(tokens(t), with_toks))
            .withColumn("__ln", _bind(F.split(t, r"\n"), with_lines))
            .select(*df.columns,
                    "__w.n_words", "__w.mean_word_len",
                    "__w.symbol_ratio", "__w.alpha_word_frac",
                    "__w.stopword_hits",
                    "__ln.bullet_line_frac", "__ln.ellipsis_line_frac",
                    (F.col("__w.keep") & F.col("__ln.keep"))
                    .alias("gopher_quality_keep")))


def gopher_dup_fractions(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         max_line_frac: float = 0.30,
                         max_para_frac: float = 0.30,
                         max_line_char_frac: float = 0.20,
                         max_para_char_frac: float = 0.20
                         ) -> DataFrame:
    """Gopher's duplicate-line / duplicate-paragraph repetition
    signals (Rae et al. 2021, Table A1 — the structural half that
    :func:`repetition_signals` / :func:`top_ngram_fracs` don't
    cover): per document,

    * ``dup_line_frac`` — fraction of lines that are repeats of an
      earlier line (occurrences beyond each distinct line's first);
    * ``dup_line_char_frac`` — fraction of line characters inside
      those repeated occurrences;
    * ``dup_para_frac`` / ``dup_para_char_frac`` — the same at
      paragraph granularity (paragraphs split on blank-line runs,
      i.e. two or more consecutive newlines);
    * ``gopher_keep`` — the paper's thresholds applied (drop when
      line/para frac > 0.30 or char frac > 0.20), evaluated on the
      4-dp rounded fractions so replays across engines can never
      straddle a threshold on float dust.

    Units are trimmed before comparison and whitespace-only units
    drop first — a blank separator line is not a "duplicate line".
    A document with no units reports all-zero fractions and keeps.

    Scale shape: ONE projection, no shuffle, no Python — each
    granularity let-binds its unit array once, derives beyond-first
    repeat counts as ``size(arr) - size(array_distinct(arr))`` and
    repeated characters as the same difference over summed lengths,
    and the whole battery composes with the other quality flags in
    the same scan at 100 TB. Being a pure per-row expression it also
    runs stateless on a stream, append-mode.
    """
    from .dedup import _bind

    t = F.coalesce(F.col(text_col), F.lit(""))
    zero = F.lit(0).cast("long")

    def chars(av):
        return F.aggregate(av, zero,
                           lambda acc, x: acc + F.length(x))

    def fracs(sep_regex, prefix):
        units = F.filter(
            F.transform(F.split(t, sep_regex), lambda x: F.trim(x)),
            lambda x: x != "")

        def build(av):
            def with_distinct(dv):
                n = F.size(av)
                tot = chars(av)
                uf = F.when(
                    n > 0, F.round((n - F.size(dv)) / n, 4)) \
                    .otherwise(F.lit(0.0))
                cf = F.when(
                    tot > 0, F.round((tot - chars(dv)) / tot, 4)) \
                    .otherwise(F.lit(0.0))
                return F.struct(uf.alias(f"dup_{prefix}_frac"),
                                cf.alias(f"dup_{prefix}_char_frac"))
            return _bind(F.array_distinct(av), with_distinct)

        return _bind(units, build)

    out = (df.withColumn("__l", fracs(r"\n", "line"))
           .withColumn("__p", fracs(r"\n{2,}", "para"))
           .select(*df.columns,
                   "__l.dup_line_frac", "__l.dup_line_char_frac",
                   "__p.dup_para_frac", "__p.dup_para_char_frac"))
    keep = ((F.col("dup_line_frac") <= max_line_frac)
            & (F.col("dup_para_frac") <= max_para_frac)
            & (F.col("dup_line_char_frac") <= max_line_char_frac)
            & (F.col("dup_para_char_frac") <= max_para_char_frac))
    return out.withColumn("gopher_keep", keep)


def chunk_passages(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", k: int = 32) -> DataFrame:
    """Chunk each document into consecutive ``k``-token passages —
    the chunking step of a passage-level training pipeline. Returns
    ``(id, chunk_idx, passage)``; a document shorter than ``k``
    tokens yields one short passage; an empty document yields none.

    Pure expression + ``posexplode``: no shuffle, pipelines into the
    scan. Output row count ≈ total tokens / k.
    """
    from .dedup import _bind

    # Let-bind the token array: the per-chunk slice lambda reads the
    # bound variable instead of re-tokenizing per chunk.
    def build(tv):
        n = F.size(tv)
        n_chunks = F.ceil(n / F.lit(float(k))).cast("int")
        idxs = F.when(n > 0, F.sequence(F.lit(0), n_chunks - 1)) \
                .otherwise(F.array().cast("array<int>"))
        return F.transform(
            idxs, lambda i: F.concat_ws(
                " ", F.slice(tv, i * k + 1, k)))

    chunks = _bind(tokens(F.lower(F.col(text_col))), build)
    return df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "passage"))


def dedup_passages(chunks: DataFrame, id_col: str = "doc_id",
                   passage_col: str = "passage") -> DataFrame:
    """Corpus-wide passage dedup: keep only the FIRST occurrence of
    each distinct passage (ordered by ``(id, chunk_idx)``) — the
    repeated-boilerplate removal step between chunking and training.

    One shuffle, partitioned by (passage hash, passage): the 8-byte
    hash leads the key so almost every comparison stops at a
    fixed-width compare, while the passage column — already in every
    shuffled row — disambiguates the rare 60-bit collision, so two
    DIFFERENT passages can never dedup each other. Ties inside a
    group resolve by the deterministic (id, chunk_idx) order. At
    100 TB the hash key is uniform by construction — no skew.
    """
    from pyspark.sql.window import Window
    h = md5_long(F.col(passage_col))
    w = Window.partitionBy("__h", passage_col) \
              .orderBy(id_col, "chunk_idx")
    return (chunks.withColumn("__h", h)
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__h", "__rn"))


def corpus_vocabulary(df: DataFrame,
                      text_col: str = "text") -> DataFrame:
    """Corpus-wide vocabulary: ``(token, token_count)``. One shuffle
    on the token; map-side partial aggregation collapses each
    partition's repeats first, so the shuffle volume is bounded by
    (distinct tokens per partition), not corpus length."""
    return (df.select(F.explode(tokens(F.lower(F.col(text_col))))
                      .alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("token_count")))


def rare_token_stats(df: DataFrame, min_count: int = 100,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-document rare-token (out-of-vocabulary) fraction — the
    cheap stand-in for a perplexity quality filter: documents made of
    tokens the corpus rarely uses are flagged high.

    The vocabulary is "tokens with corpus count >= min_count", which
    is BOUNDED by total_tokens/min_count entries regardless of corpus
    size — so it broadcasts, the fact side never shuffles for the
    membership test, and the frequent-token skew that would sink a
    shuffle join on the token never materializes. The only shuffles
    are the vocabulary build and the final doc-keyed aggregation."""
    vocab = (corpus_vocabulary(df, text_col)
             .where(F.col("token_count") >= min_count)
             .select("token", F.lit(1).alias("__in_vocab")))
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
    joined = toks.join(F.broadcast(vocab), "token", "left")
    n_rare = F.sum(F.when(F.col("__in_vocab").isNull(), 1)
                   .otherwise(0))
    return (joined.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                 n_rare.cast("long").alias("n_rare"))
            .withColumn("rare_frac",
                        F.round(F.col("n_rare") / F.col("n_tokens"), 4)))


def tfidf_top_terms(df: DataFrame, k: int = 3,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Top-k characteristic terms per document by tf-idf
    (idf = ln(N/df), the classic unsmoothed form) — keyword
    extraction for corpus exploration and topic labeling.

    Scale shape: term frequencies aggregate on (doc, token) — the doc
    id in the key kills token skew; document frequencies aggregate on
    the token but are BOUNDED by vocabulary size after the per-doc
    distinct, and the resulting idf table broadcasts (same bound
    argument as :func:`rare_token_stats`), so the fact side joins
    without a shuffle. The final top-k is one window keyed by doc.
    Ties break on (tfidf desc, token asc), deterministic in any
    engine."""
    n_docs = df.count()
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
    tf = (toks.groupBy(id_col, "token")
          .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = (toks.select(id_col, "token").distinct()
             .groupBy("token")
             .agg(F.count(F.lit(1)).alias("df")))
    idf = dfreq.select(
        "token", F.log(F.lit(float(n_docs)) / F.col("df")).alias("idf"))
    scored = (tf.join(F.broadcast(idf), "token")
              .select(id_col, "token",
                      F.round(F.col("tf") * F.col("idf"), 6)
                      .alias("tfidf")))
    from pyspark.sql.window import Window
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("token"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def bm25_topk(df: DataFrame, queries, k: int = 5,
              k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Okapi BM25 top-k retrieval over a document corpus for a small
    set of keyword queries — the lexical half of a hybrid retrieval
    stack (the dense half is :mod:`operators.similarity`; fuse with
    ``hybrid_rrf_topk``). ``queries`` is ``[(query_id, [terms...]),
    ...]``; returns ``(query_id, doc_id, score_micros, rank)`` with
    ``rank <= k`` per query.

    Cross-engine determinism: the per-term idf takes ``ln`` FIRST
    and then rounds on the binary double (``floor(x*1e6+0.5)/1e6``),
    each term's score converts to integer micro-units the same way,
    and the per-document score is a SUM OF INT64s — addition-order
    independent, so Spark's partial aggregation and any SQL engine
    agree bit-for-bit (the same trick as the sketch counters).

    Scale shape: term frequencies explode ONLY query-term hits (the
    ``isin`` inside the lambda compiles to an InSet probe, constant
    per token), so the exploded relation is bounded by postings of
    the query terms, never the corpus token count; doc length rides
    along from the same projection, so no join back to the corpus.
    Corpus stats (N, avgdl) are one 1-row scalar broadcast; idf is
    a #terms-row broadcast. The final top-k is one window keyed by
    query id — at production query volume the per-query partitions
    are small because postings, not documents, bound the candidates
    (cap postings per term for stop-word-ish queries, the same knob
    as the LSH posting cap)."""
    spark = df.sparkSession
    qrows = [(qid, t) for qid, terms in queries for t in terms]
    qterms = spark.createDataFrame(
        qrows, "query_id string, token string")
    all_terms = sorted({t for _, t in qrows})

    toks = tokens(F.lower(F.col(text_col)))
    # ONE tokenize pass: uncached, the three consumers below (term
    # frequencies, document frequencies via tf, corpus stats) each
    # re-ran the full lower+regexp-split scan of the corpus — three
    # tokenizations per execution. The per-doc projection is
    # byte-small (an int plus the query-term hit array, bounded by
    # postings), so it one-deep caches like the LM tf relations.
    proj = df.select(
        F.col(id_col), F.size(toks).alias("dl"),
        F.filter(toks, lambda x: x.isin(all_terms)).alias("__hits__"))
    proj = _evict_then_cache(_BM25_DOCS_CACHE, proj)
    hits = proj.select(
        F.col(id_col), F.col("dl"),
        F.explode("__hits__").alias("token"))
    tf = (hits.groupBy(id_col, "token")
          .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")))

    stats = proj.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"))
    stats = stats.select(
        "n_docs",
        (F.col("sum_dl").cast("double") / F.col("n_docs"))
        .alias("avgdl"))

    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
    ratio = ((F.col("n_docs") - F.col("df_t") + F.lit(0.5))
             / (F.col("df_t") + F.lit(0.5)))
    idf = (dfreq.crossJoin(F.broadcast(stats))
           .select("token", "avgdl",
                   (F.floor(F.log(ratio + F.lit(1.0))
                            * F.lit(1000000.0) + F.lit(0.5))
                    / F.lit(1000000.0)).alias("idf6")))

    norm = (F.col("tf")
            + F.lit(k1) * (F.lit(1.0) - F.lit(b)
                           + F.lit(b) * (F.col("dl")
                                         / F.col("avgdl"))))
    term_score = (F.col("idf6")
                  * (F.col("tf") * F.lit(k1 + 1.0) / norm))
    scored = (tf.join(F.broadcast(idf), "token")
              .join(F.broadcast(qterms), "token")
              .select("query_id", id_col,
                      F.floor(term_score * F.lit(1000000.0)
                              + F.lit(0.5)).cast("long")
                      .alias("term_micros")))
    totals = (scored.groupBy("query_id", id_col)
              .agg(F.sum("term_micros").alias("score_micros")))
    from pyspark.sql.window import Window
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micros"), F.asc(id_col))
    return (totals.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def hashed_doc_vectors(df: DataFrame, n_buckets: int = 16,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Feature-hashing ("hashing trick") document vectors: each token
    maps to ``md5_long(token) % n_buckets`` and the document becomes
    sparse (id, bucket, weight) rows with l1-normalized term weights —
    a model-free embedding that feeds the similarity pillar (cosine /
    LSH / PQ) when no learned encoder is available.

    The md5-derived bucket is deterministic across engines, runs and
    partitionings (no feature drift between pipeline executions —
    the property that makes hashed features cacheable at 100 TB).
    One aggregation keyed by (doc, bucket): no token hot key, rows
    out are bounded by |docs| * n_buckets."""
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
    bucket = (md5_long(F.col("token")) % n_buckets).cast("int")
    counts = (toks.select(id_col, bucket.alias("bucket"))
              .groupBy(id_col, "bucket")
              .agg(F.count(F.lit(1)).alias("c")))
    from pyspark.sql.window import Window
    total = F.sum("c").over(Window.partitionBy(id_col))
    return counts.select(
        id_col, "bucket",
        F.round(F.col("c") / total, 6).alias("weight"))


#: Conservative PII patterns, written to behave identically under
#: Java regex (Spark) and RE2 (DuckDB): no backrefs, no lookarounds.
#: Order matters for redaction: emails first (an email contains no
#: phone/ip match but redacting digits first could split one).
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}"
              r"|\([0-9]{3}\) [0-9]{3}-[0-9]{4}"
              r"|[0-9]{3}-[0-9]{3}-[0-9]{4}"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
]


def pii_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII hit counts (``n_email``/``n_phone``/
    ``n_ipv4``) — the detection half of a scrubbing pipeline. Pure
    ``regexp_count`` expressions: no shuffle, pipelines into the
    scan."""
    t = F.col(text_col)
    out = df
    for name, pat in PII_PATTERNS:
        out = out.withColumn(
            f"n_{name}", F.regexp_count(t, F.lit(pat)).cast("long"))
    return out


def redact_pii(df: DataFrame, text_col: str = "text",
               out_col: str = "text_redacted") -> DataFrame:
    """Replace every PII match with a typed placeholder
    (``<EMAIL>``/``<PHONE>``/``<IPV4>``) — the scrub half. A chain of
    ``regexp_replace`` expressions, applied in PII_PATTERNS order so
    overlapping classes resolve deterministically."""
    c = F.col(text_col)
    for name, pat in PII_PATTERNS:
        c = F.regexp_replace(c, pat, f"<{name.upper()}>")
    return df.withColumn(out_col, c)


def fingerprint(df: DataFrame, text_col: str = "text",
                k: int = 8, out_col: str = "fingerprint") -> DataFrame:
    """Winnowing-style document fingerprint: the minimum universal
    hash over all k-char grams of the normalized text — one int64 per
    doc, shift-invariant to small edits away from the minimizing gram.
    JVM-side: sequence + transform + array_min, no shuffle."""
    from .dedup import _bind, _char_grams

    # Let-bind the normalized text (normalization runs once, not per
    # gram); grams come from the code-point-array builder, since
    # substr's per-position seek is quadratic in string length.
    t = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))

    def build(tv):
        hashes = F.transform(_char_grams(tv, k), lambda g: universal_hash(
            md5_long(g), 1664525, 1013904223))
        return F.when(F.length(tv) >= k, F.array_min(hashes)).otherwise(
            universal_hash(md5_long(tv), 1664525, 1013904223))

    return df.withColumn(out_col, _bind(t, build))


def contamination_hits(corpus: DataFrame, eval_df: DataFrame,
                       k: int = 3, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Test-set decontamination: per corpus document, how many of its
    distinct word ``k``-shingles also occur anywhere in the held-out
    evaluation set — the n-gram-overlap contamination check of
    GPT-3/PaLM-style training-data hygiene (Brown et al. 2020,
    arXiv:2005.14165 appendix C). Only contaminated documents (>= 1 hit) are
    returned, so the result is bounded by the overlap, not the
    corpus.

    Scale shape: the eval side is an *evaluation benchmark* — tiny by
    nature next to a 100 TB corpus — so its distinct shingle set
    broadcasts and the corpus side NEVER shuffles: explode shingles,
    broadcast-hash-join, aggregate on (doc id), which carries no hot
    key. The corpus-side explode is the same expression the dedup
    pipeline uses (``dedup.word_shingles``), so tokenization cannot
    drift between dedup and decontamination.
    """
    from .dedup import ensure_parallelism, word_shingles
    ev = (eval_df.select(
            F.explode(word_shingles(F.col(text_col), k)).alias("s"))
          .distinct())
    # shingling is CPU-heavy per row: spread a one-file toy input
    # across cores first (no-op at real scale, where the scan already
    # yields >= defaultParallelism splits)
    co = ensure_parallelism(corpus).select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), k)).alias("s"))
    return (co.join(F.broadcast(ev), "s")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))


def fuzzy_contamination(corpus: DataFrame, eval_df: DataFrame,
                        threshold: float = 0.2, k: int = 3,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """FUZZY test-set decontamination: corpus documents whose word
    ``k``-shingle Jaccard against some individual eval document
    reaches ``threshold`` — the paraphrase/near-duplicate overlap
    that :func:`contamination_hits` (raw shared-shingle counts) and
    exact-span scrubbing both under-report when the benchmark text
    was lightly rewritten. Returns ``(id, eval_id, jaccard)`` per
    qualifying pair, so the caller can drop, down-weight, or audit
    per-benchmark.

    EXACT Jaccard, not MinHash: the eval side is a benchmark —
    bounded by nature — so its exploded shingle set broadcasts and
    the corpus-side cost is one broadcast-hash lookup per shingle
    plus one aggregation keyed (corpus doc, eval doc), bounded by
    actual overlap. LSH would only re-approximate what this computes
    exactly at the same corpus-side cost (the quadratic LSH avoids is
    corpus x corpus, not corpus x tiny-eval). No corpus shuffle
    beyond the hit aggregation; shingles come from the same
    expression the dedup pipeline uses."""
    from .dedup import ensure_parallelism, word_shingles

    ev_sh = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("s"))
    ev_sz = (eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.size(word_shingles(F.col(text_col), k)).alias("n_ev")))
    co = ensure_parallelism(corpus).select(
        F.col(id_col), word_shingles(F.col(text_col), k).alias("__sh"))
    co_ex = co.select(id_col, F.size("__sh").alias("n_co"),
                      F.explode("__sh").alias("s"))
    inter = (co_ex.join(F.broadcast(ev_sh), "s")
             .groupBy(id_col, "n_co", "eval_id")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    j = F.col("n_inter") / (F.col("n_co") + F.col("n_ev")
                            - F.col("n_inter"))
    return (inter.join(F.broadcast(ev_sz), "eval_id")
            .where(j >= threshold)
            .select(F.col(id_col), F.col("eval_id"),
                    F.round(j, 6).alias("jaccard")))


def pack_sequences(df: DataFrame, budget: int,
                   part_cols=("lang",), order_col: str = "doc_id",
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Streaming sequence packing: concatenate documents in
    ``order_col`` order within each partition-key group and chop the
    stream into packs of ``budget`` tokens. Each document is assigned
    the pack where its FIRST token lands (documents are not split
    across the returned mapping — the trainer pads/overflows the
    tail), i.e. ``pack_id = floor(tokens_before_me / budget)``.

    Returns ``(id, *part_cols, n_tokens, pack_id)``.

    Scale shape: one window (`sum` over an ordered frame) per group —
    a single shuffle on the partition columns. Parallelism equals the
    number of groups, so at 100 TB the caller includes a deterministic
    shard column (e.g. ``doc_id % n_shards``) in ``part_cols``:
    packing is order-dependent only WITHIN a shard, and shards are
    independent training streams anyway.
    """
    from pyspark.sql.window import Window
    part_cols = list(part_cols)
    n_tok = token_count(F.col(text_col)).cast("long")
    w = (Window.partitionBy(*part_cols).orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # order_col must survive the projection for the window to order
    # by it; keep it under an alias and drop it unless the caller's
    # id/partition columns already expose it
    keep = [F.col(id_col), *part_cols, n_tok.alias("n_tokens")]
    extra_order = order_col not in {id_col, *part_cols}
    if extra_order:
        keep.append(F.col(order_col))
    base = df.select(*keep)
    cum = F.sum("n_tokens").over(w)
    out = base.withColumn(
        "pack_id",
        F.floor((cum - F.col("n_tokens")) / F.lit(budget))
        .cast("long"))
    return out.drop(order_col) if extra_order else out


def unigram_logprob(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Per-document average negative log-likelihood under the
    corpus's own unigram language model — the classic cheap
    perplexity proxy for quality filtering (documents of improbable
    tokens score high; degenerate repeats score low).

    ``avg_nll = sum(tf(t) * -ln(count(t)/total)) / n_tokens`` over
    the document's tokens, scored against the full corpus counts.

    Scale shape: term frequencies aggregate on (doc, token) FIRST —
    the doc id in the key kills the natural token hot-key ("the")
    before any join — then join the per-(doc,token) rows to the
    corpus count table on the token. The count side is one row per
    distinct token; the probe side is now at most one row per (doc,
    token), so the residual skew is bounded by document count per
    token and AQE's skew-join split handles the head tokens. Total
    token mass is a scalar agg broadcast into the expression.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf"))
    # cnt and total both derive from tf, so the expensive
    # scan+explode+first-aggregation subtree is IDENTICAL across all
    # three branches and Catalyst's exchange reuse materializes it
    # once; the scalar total folds in as a 1-row broadcast cross
    # join — no driver collect, nothing runs until the caller acts
    cnt = tf.groupBy("token").agg(F.sum("tf").alias("c"))
    total = cnt.agg(F.sum("c").cast("double").alias("__total__"))
    nll = F.col("tf") * -F.log(F.col("c") / F.col("__total__"))
    return (tf.join(cnt, "token")
            .join(F.broadcast(total))
            .groupBy(id_col)
            .agg(F.sum("tf").cast("long").alias("n_tokens"),
                 F.round(F.sum(nll) / F.sum("tf"), 4)
                 .alias("avg_nll")))


def token_entropy(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-document Shannon entropy of the token distribution —
    ``H = -sum((tf/n) * ln(tf/n))`` over the document's own token
    frequencies — plus the type count and the type-normalized
    entropy ``H / ln(n_types)``. Low raw entropy flags degenerate /
    template / keyword-stuffed documents that length and
    distinct-token-fraction miss (a doc can have many types yet
    concentrate all mass on one); near-1 normalized entropy means the
    doc uses its vocabulary evenly. A standard cheap quality signal
    alongside the Gopher ratios.

    Documents with no tokens produce no row (there is no
    distribution to score) — callers left-join if they need them.

    Scale shape: entropy decomposes over sums — ``H = ln(n) -
    sum(tf*ln(tf))/n`` — so the whole thing is ONE (doc, token)
    aggregation (the doc id in the key kills the natural token hot
    key) followed by one per-doc aggregation, both map-side partial.
    No join: unlike :func:`unigram_logprob`, the model here is the
    document itself."""
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf"))
    n = F.sum("tf").cast("double")
    h = F.log(n) - F.sum(F.col("tf") * F.log("tf")) / n
    return (tf.groupBy(id_col)
            .agg(F.sum("tf").cast("long").alias("n_tokens"),
                 F.count(F.lit(1)).cast("long").alias("n_types"),
                 F.round(h, 4).alias("entropy"),
                 F.round(F.when(F.count(F.lit(1)) > 1,
                                h / F.log(F.count(F.lit(1))
                                          .cast("double")))
                         .otherwise(F.lit(0.0)), 4)
                 .alias("entropy_norm")))


def sentences(text: Column) -> Column:
    """Sentence segmentation as runs of non-terminators plus their
    trailing ``.!?`` terminators, trimmed, empties dropped — a
    lookbehind-free pattern (RE2-and-Java safe) so external oracles
    replay the split exactly."""
    raw = F.regexp_extract_all(text, F.lit(r"[^.!?]+[.!?]*"), 0)
    return F.filter(F.transform(raw, lambda s: F.trim(s)),
                    lambda s: s != "")


def sentence_chunks(df: DataFrame, max_tokens: int = 128,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Sentence-aware chunking for retrieval/RAG corpora: pack
    CONSECUTIVE sentences greedily into chunks of at most
    ``max_tokens`` whitespace tokens, never splitting mid-sentence
    (a single over-long sentence becomes its own over-budget chunk
    rather than being cut). The fixed-stride alternative
    (chunk_windows) keeps budgets exact but severs sentences; this
    keeps retrieval units semantically whole.

    Returns one row per (id, chunk_idx): sentence count, token
    count, and the 64-bit hash of the space-joined chunk text
    (chunks feed dedup/indexing by hash; reassembly is
    deterministic).

    Scale shape: the greedy fold is ONE expression (``aggregate``
    over the PRE-COMPUTED token-count array — per-sentence
    tokenization runs exactly once, in its own transform, never
    inside the fold's lambda body); the only shuffle keys on
    (doc, chunk), which carries no hot key. Documents with no
    sentences produce no rows."""
    sents = sentences(F.col(text_col))
    # sentences() already trims and drops empties, so the count is a
    # bare split on the lambda variable (the HOF-audit-sanctioned
    # shape — no trim/tokenize re-derivation inside any lambda)
    counts = F.transform(
        sents, lambda s: F.size(F.array_remove(F.split(s, _WS), "")))
    init = F.struct(
        F.lit(None).cast("array<int>").alias("asg"),
        F.lit(0).alias("idx"), F.lit(0).alias("cur"))

    def fold(acc, n):
        fresh = (acc["cur"] > 0) & (acc["cur"] + n > max_tokens)
        idx2 = F.when(fresh, acc["idx"] + 1).otherwise(acc["idx"])
        cur2 = F.when(fresh, n).otherwise(acc["cur"] + n)
        return F.struct(
            F.concat(F.coalesce(acc["asg"],
                                F.array().cast("array<int>")),
                     F.array(idx2)).alias("asg"),
            idx2.alias("idx"), cur2.alias("cur"))

    asg = F.aggregate(counts, init, fold)["asg"]
    zipped = F.zip_with(
        F.zip_with(sents, counts,
                   lambda s, n: F.struct(s.alias("s"),
                                         n.alias("n"))),
        asg,
        lambda sn, a: F.struct(sn["s"].alias("s"), a.alias("a"),
                               sn["n"].alias("n")))
    ex = df.select(
        F.col(id_col),
        F.posexplode(zipped).alias("i", "sa"))
    return (ex.groupBy(id_col, F.col("sa.a").alias("chunk_idx"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_sentences"),
                 F.sum("sa.n").cast("long").alias("n_tokens"),
                 md5_long(F.concat_ws(" ", F.transform(
                     F.sort_array(F.collect_list(
                         F.struct(F.col("i").alias("i"),
                                  F.col("sa.s").alias("s")))),
                     lambda x: x["s"]))).alias("chunk_hash")))


def tokenizer_fertility(df: DataFrame, group_col: str = "lang",
                        text_col: str = "text") -> DataFrame:
    """Tokenizer fertility per group: subword tokens emitted per
    whitespace word — the standard metric for how well a tokenizer
    fits each language/source (high fertility = the tokenizer
    fragments that group's text, inflating its effective sequence
    lengths and training cost). Subwords come from the BPE-ish
    pre-tokenizer split (:func:`bpe_ish_tokens`), words from the
    shared whitespace tokenizer — the same two expressions the BPE
    and quality pipelines use, so the ratio cannot drift from them.

    Scale shape: two array-size expressions in ONE projection over
    one scan, then a #groups-row aggregation — nothing grows with
    corpus size."""
    lt = F.lower(F.col(text_col))
    n_words = F.size(tokens(lt))
    n_sub = F.size(bpe_ish_tokens(lt))
    return (df.groupBy(group_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum(n_words).cast("long").alias("n_words"),
                 F.sum(n_sub).cast("long").alias("n_subwords"))
            .withColumn(
                "fertility",
                F.round(F.when(F.col("n_words") > 0,
                               F.col("n_subwords")
                               / F.col("n_words"))
                        .otherwise(F.lit(0.0)), 4)))


def oov_rate_curve(df: DataFrame,
                   sizes: Tuple[int, ...] = (1000, 2000, 4000,
                                             8000, 16000),
                   text_col: str = "text") -> DataFrame:
    """Out-of-vocabulary token-mass rate as a function of vocabulary
    size — the curve a tokenizer/vocab design reads to pick V: for
    each candidate size, the share of corpus token occurrences NOT
    covered by the top-V tokens (by corpus count, ties broken
    lexicographically). Returns one row per candidate size.

    Scale shape: corpus counts are one (token) aggregation with
    map-side partials; the head is a distributed TakeOrdered of
    max(sizes) rows (orderBy+limit never global-sorts the vocab
    relation), the rank window then runs on that bounded head; total
    mass is a scalar agg folded in as a 1-row broadcast. The corpus
    itself is scanned once."""
    from pyspark.sql.window import Window

    cnt = (df.select(F.explode(tokens(F.lower(F.col(text_col))))
                     .alias("token"))
           .groupBy("token").agg(F.count(F.lit(1)).alias("c"))
           # the vocab relation feeds both the head and the total
           # mass — materialize so the corpus scans once
           .localCheckpoint(eager=False))
    total = cnt.agg(F.sum("c").cast("double").alias("__m"))
    head = (cnt.orderBy(F.desc("c"), F.asc("token"))
            .limit(max(sizes))
            .withColumn("__r", F.row_number().over(
                Window.orderBy(F.desc("c"), F.asc("token")))))
    covered = [
        F.sum(F.when(F.col("__r") <= v, F.col("c"))
              .otherwise(F.lit(0))).cast("long").alias(f"__cov{v}")
        for v in sizes]
    wide = head.agg(*covered).join(F.broadcast(total))
    rows = [
        F.struct(F.lit(v).cast("long").alias("vocab_size"),
                 F.col(f"__cov{v}").alias("covered_tokens"),
                 F.round(F.lit(1.0) - F.col(f"__cov{v}")
                         / F.col("__m"), 6).alias("oov_rate"))
        for v in sizes]
    return (wide.select(F.explode(F.array(*rows)).alias("__s"))
            .select("__s.vocab_size", "__s.covered_tokens",
                    "__s.oov_rate"))


def flesch_reading_ease(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Flesch reading ease per document (Flesch 1948):
    ``206.835 - 1.015 * words/sentences - 84.6 * syllables/words``
    with the standard vowel-group syllable heuristic (runs of
    ``[aeiouy]`` per lowercased token, floored at one per word) —
    the classic readability screen an educational-quality filter
    baselines against. Sentences come from the shared segmenter,
    floored at one so punctuation-free text still scores.

    Returns ``(id, n_words, n_sentences, n_syllables, flesch)``;
    documents with no words produce no row.

    Scale shape: ONE projection — the token array is let-bound, the
    per-token syllable count is a regexp on the lambda variable
    (never a re-tokenization), and the sums fold in an aggregate
    expression; no shuffle at all beyond the scan."""
    from .dedup import _bind

    def build(tv):
        syll = F.aggregate(
            F.transform(tv, lambda t: F.greatest(
                F.size(F.regexp_extract_all(
                    t, F.lit("[aeiouy]+"), 0)), F.lit(1))),
            F.lit(0), lambda acc, x: acc + x)
        return F.struct(F.size(tv).alias("w"), syll.alias("sy"))

    st = _bind(tokens(F.lower(F.col(text_col))), build)
    n_sents = F.greatest(F.size(sentences(F.col(text_col))),
                         F.lit(1))
    w = F.col("__st.w").cast("double")
    sy = F.col("__st.sy").cast("double")
    ns = F.col("n_sentences").cast("double")
    score = (F.lit(206.835) - F.lit(1.015) * w / ns
             - F.lit(84.6) * sy / w)
    return (df.select(F.col(id_col), st.alias("__st"),
                      n_sents.cast("long").alias("n_sentences"))
            .where(F.col("__st.w") > 0)
            .select(id_col,
                    F.col("__st.w").cast("long").alias("n_words"),
                    "n_sentences",
                    F.col("__st.sy").cast("long")
                    .alias("n_syllables"),
                    F.round(score, 4).alias("flesch")))


def zipf_fit(df: DataFrame, top_n: int = 1000,
             text_col: str = "text") -> DataFrame:
    """Zipf-law fit of the corpus vocabulary head: least-squares
    slope of ln(count) against ln(rank) over the ``top_n`` most
    frequent tokens. Natural language sits near alpha = 1
    (Zipf 1949); a corpus that drifts far off — template spam,
    boilerplate floods, synthetic word soup — shows it here before
    any per-document filter fires. Returns one row:
    ``(n_points, alpha, intercept, r2)`` with alpha = -slope.

    Scale shape: one token aggregation (map-side partial), a
    distributed TakeOrdered head of ``top_n`` rows (the vocabulary
    relation is never global-sorted), the rank window on that
    bounded head, and a single closed-form regression aggregation —
    five scalar sums, no iteration."""
    from pyspark.sql.window import Window

    cnt = (df.select(F.explode(tokens(F.lower(F.col(text_col))))
                     .alias("token"))
           .groupBy("token").agg(F.count(F.lit(1)).alias("c")))
    head = (cnt.orderBy(F.desc("c"), F.asc("token")).limit(top_n)
            .withColumn("__r", F.row_number().over(
                Window.orderBy(F.desc("c"), F.asc("token")))))
    x = F.log(F.col("__r").cast("double"))
    y = F.log(F.col("c").cast("double"))
    agg = head.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    # Zero-variance guards so the engines agree: a single-point head
    # zeroes var(x) (slope undefined), a uniform-count head zeroes
    # var(y) (r2 undefined) — Spark's non-ANSI x/0 is NULL but IEEE
    # engines give inf, so both sides NULL explicitly. The guard
    # tests the variance ROUNDED to 6 dp, because an analytically-
    # zero variance leaves an O(1e-12) summation residue whose exact
    # value (even its being 0.0) depends on the engine's summation
    # order — the rounded gate lands on the same side in both.
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    cov = n * sxy - sx * sy
    slope = F.when(F.round(varx, 6) != 0, cov / varx)
    intercept = (sy - slope * sx) / n
    # r2 = corr^2 of (x, y) = cov^2 / (var(x) * var(y))
    r2 = F.when(F.round(varx * vary, 6) != 0,
                (cov * cov) / (varx * vary))
    # + 0.0 normalizes IEEE negative zero: an analytically-zero
    # slope rounds to -0.0 or +0.0 depending on the engine's (and
    # run's) summation-residue sign, and a hash compare distinguishes
    # them; NULL + 0.0 stays NULL
    return agg.select(
        F.col("n").cast("long").alias("n_points"),
        (F.round(-slope, 4) + 0.0).alias("alpha"),
        (F.round(intercept, 4) + 0.0).alias("intercept"),
        (F.round(r2, 4) + 0.0).alias("r2"))


def heaps_fit(df: DataFrame, n_buckets: int = 10,
              id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Heaps'/Herdan's-law fit of vocabulary GROWTH — the companion
    diagnostic to :func:`zipf_fit`'s frequency head: natural text
    grows its vocabulary as ``V = K * T^beta`` with beta ~ 0.4-0.6
    (Heaps 1978); template spam saturates early (beta -> 0) and
    synthetic word soup with a closed vocabulary flattens once the
    vocabulary is exhausted, while id-soup (every token fresh) reads
    beta -> 1. Returns one row ``(n_points, beta, intercept, r2)``
    from the least-squares fit of ln(V) on ln(T) over ``n_buckets``
    corpus prefixes (equal-width id bands in document-id order — the
    deterministic, shuffle-free stand-in for ingestion order).

    Scale shape: one (bucket, token) projection feeds BOTH the
    per-bucket occurrence totals and the per-token first-bucket agg
    (token key carries no hot key — the doc explode is bucket-keyed
    first); everything after is ≤ ``n_buckets`` rows — the
    cumulative window, the five-sum regression, the output. The id
    bounds fold in as a 1-row broadcast. Zero-variance guards follow
    the :func:`zipf_fit` discipline (6-dp-rounded gates, NULL on
    degenerate fits)."""
    from pyspark.sql.window import Window

    toks = df.select(F.col(id_col).alias("d"),
                     F.explode(tokens(F.lower(F.col(text_col))))
                     .alias("token"))
    bounds = df.agg(F.min(id_col).cast("long").alias("__lo"),
                    F.max(id_col).cast("long").alias("__hi"))
    bt = (toks.join(F.broadcast(bounds))
          .select(F.floor((F.col("d") - F.col("__lo"))
                          * F.lit(n_buckets)
                          / (F.col("__hi") - F.col("__lo") + 1))
                  .cast("int").alias("b"), "token"))
    occ = bt.groupBy("b").agg(F.count(F.lit(1)).alias("o"))
    first = bt.groupBy("token").agg(F.min("b").alias("fb"))
    vnew = first.groupBy("fb").agg(F.count(F.lit(1)).alias("v"))
    w = (Window.orderBy("b")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    pts = (occ.join(vnew, occ["b"] == vnew["fb"], "left")
           .select(occ["b"].alias("b"), "o",
                   F.coalesce("v", F.lit(0)).alias("v"))
           .select(F.log(F.sum("o").over(w).cast("double"))
                   .alias("x"),
                   F.log(F.sum("v").over(w).cast("double"))
                   .alias("y")))
    agg = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    cov = n * sxy - sx * sy
    slope = F.when(F.round(varx, 6) != 0, cov / varx)
    intercept = (sy - slope * sx) / n
    r2 = F.when(F.round(varx * vary, 6) != 0,
                (cov * cov) / (varx * vary))
    # + 0.0: negative-zero normalization, see zipf_fit
    return agg.select(
        F.col("n").cast("long").alias("n_points"),
        (F.round(slope, 4) + 0.0).alias("beta"),
        (F.round(intercept, 4) + 0.0).alias("intercept"),
        (F.round(r2, 4) + 0.0).alias("r2"))


def mixing_weights(df: DataFrame, alpha: float = 0.5,
                   group_col: str = "source",
                   text_col: str = "text") -> DataFrame:
    """Temperature-scaled data-mixture weights per corpus source:
    ``w_s = tokens_s**alpha / sum(tokens**alpha)`` — the standard
    multinomial-sampling temperature (alpha < 1 upsamples small
    sources) used to balance heterogeneous training mixes. Returns
    ``(group, n_docs, n_tokens, weight, sample_rate)`` where
    ``sample_rate`` is the per-document inclusion rate that realizes
    the weight against a uniform token draw (weight / token_share).

    Scale shape: one small-key aggregation (sources number in the
    hundreds) + a scalar normalizer folded into the projection —
    nothing here grows with corpus size except the single scan.
    """
    per = (df.groupBy(group_col)
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(token_count(F.col(text_col))).cast("long")
                .alias("n_tokens")))
    powed = per.withColumn(
        "__p__", F.pow(F.col("n_tokens").cast("double"), F.lit(alpha)))
    from pyspark.sql.window import Window
    w = Window.partitionBy()
    tot_p = F.sum("__p__").over(w)
    tot_t = F.sum("n_tokens").over(w)
    return (powed.select(
        group_col, "n_docs", "n_tokens",
        F.round(F.col("__p__") / tot_p, 6).alias("weight"),
        F.round((F.col("__p__") / tot_p)
                / (F.col("n_tokens") / tot_t), 6)
        .alias("sample_rate")))


def incremental_dedup(incoming: DataFrame, index: DataFrame,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Incremental exact dedup of an incoming batch against an
    EXISTING corpus index — the production shape where yesterday's
    corpus is already fingerprinted and only the delta is scanned.

    The index side needs only ``(content_hash, id)`` — in production
    that's the persisted fingerprint table, here derived on the fly.
    Verdicts per incoming doc: ``dup_of`` = the lowest-id index match
    (null when novel), plus ``is_new``. Also dedups WITHIN the batch:
    an incoming doc whose hash matches a lower-id incoming doc is not
    new either.

    Scale shape: one shuffle on the 64-bit content hash (uniform by
    construction); the index side carries two narrow columns, not
    document text. No broadcast assumption — the index is as big as
    the corpus.
    """
    from ..functions.hashing import md5_long
    from .dedup import normalize_text
    h = md5_long(normalize_text(F.col(text_col)))
    idx = (index.select(h.alias("__h__"),
                        F.col(id_col).alias("__idx_id__"))
           .groupBy("__h__")
           .agg(F.min("__idx_id__").alias("dup_of")))
    inc = incoming.select(F.col(id_col), h.alias("__h__"))
    from pyspark.sql.window import Window
    w = (Window.partitionBy("__h__").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    inc = inc.withColumn("__prev__", F.min(id_col).over(w))
    joined = inc.join(idx, "__h__", "left")
    return joined.select(
        id_col,
        F.coalesce("dup_of", "__prev__").alias("dup_of"),
        (F.col("dup_of").isNull() & F.col("__prev__").isNull())
        .alias("is_new"))


def bpe_pair_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-weighted adjacent-symbol pair counts — the inner step
    of BPE tokenizer training (Sennrich et al. 2016,
    arXiv:1508.07909 — the merge rule is argmax over exactly
    this table; iterating merge->recount yields the full BPE
    vocabulary). Returns ``(pair, pair_count)`` where pair_count sums
    each token's corpus frequency over its adjacent character pairs.

    Scale shape: the pair scan runs over the VOCABULARY (one row per
    distinct token, weighted by its corpus count), not the corpus —
    the standard trick that makes BPE training corpus-size-
    independent after one counting pass. Two shuffles total: the
    vocabulary build and the pair aggregation, both with map-side
    partials and no hot key (pairs distribute across the alphabet).
    """
    vocab = corpus_vocabulary(df, text_col)
    t = F.col("token")
    n = F.length(t)
    pairs = F.when(n >= 2, F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: t.substr(i, F.lit(2)))) \
        .otherwise(F.array().cast("array<string>"))
    ex = vocab.select(F.explode(pairs).alias("pair"),
                      F.col("token_count"))
    return (ex.groupBy("pair")
            .agg(F.sum("token_count").cast("long")
                 .alias("pair_count")))


# End-of-word sentinel: U+E000 (private use). A printable sentinel
# like "</w>" can COLLIDE with a learned symbol when the corpus
# itself contains those characters (HTML-ish data trains merges
# ("<","/"),("</","w"),("</w",">") whose product is string-equal to
# the sentinel), corrupting both the rank table and detokenization.
# No real corpus word carries private-use codepoints, so BPE_EOW is
# unambiguous; downstream detokenizers split on it.
BPE_EOW = "\ue000"


def _bpe_merge_word(symbols, ranks):
    """Greedy BPE inference over one word's symbol list: repeatedly
    merge the adjacent pair with the LOWEST learned rank (Sennrich
    2016's inference loop). Pure Python — runs executor-side inside
    Arrow batches."""
    symbols = list(symbols)
    while len(symbols) > 1:
        best = None
        for i in range(len(symbols) - 1):
            r = ranks.get((symbols[i], symbols[i + 1]))
            if r is not None and (best is None or r < best[0]):
                best = (r, symbols[i], symbols[i + 1])
        if best is None:
            break
        _, a, b = best
        out, i = [], 0
        while i < len(symbols):
            if (i < len(symbols) - 1 and symbols[i] == a
                    and symbols[i + 1] == b):
                out.append(a + b)
                i += 2
            else:
                out.append(symbols[i])
                i += 1
        symbols = out
    return symbols


def bpe_train(df: DataFrame, n_merges: int = 200,
              text_col: str = "text", max_vocab: int = 50_000,
              min_frequency: int = 2):
    """Learn an ordered BPE merge list from the corpus (Sennrich et
    al. 2016). Returns ``[(left, right), ...]`` — rank = position.

    Scale shape: ONE distributed job (the vocabulary aggregation,
    capped to the ``max_vocab`` most frequent words — ties broken by
    token so the cap is deterministic); the merge loop then runs
    driver-side over that frequency-weighted vocabulary, which makes
    training corpus-size-independent after the single scan — the
    standard trick, of which :func:`bpe_pair_counts` is the
    distributed single-step twin. Words are split to characters plus
    the ``BPE_EOW`` end-of-word sentinel; each iteration merges the
    highest-count pair (ties to the lexicographically greatest pair,
    so retraining is deterministic) and stops early below
    ``min_frequency``.
    """
    from collections import Counter

    rows = (corpus_vocabulary(df, text_col)
            .orderBy(F.desc("token_count"), "token")
            .limit(max_vocab).collect())
    words = {}
    for r in rows:
        syms = tuple(r.token) + (BPE_EOW,)
        words[syms] = words.get(syms, 0) + int(r.token_count)
    merges = []
    for _ in range(n_merges):
        counts = Counter()
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += c
        if not counts:
            break
        pair, cnt = max(counts.items(), key=lambda kv: (kv[1], kv[0]))
        if cnt < min_frequency:
            break
        merges.append(pair)
        a, b = pair
        nxt = {}
        for syms, c in words.items():
            if a in syms:
                out, i = [], 0
                while i < len(syms):
                    if (i < len(syms) - 1 and syms[i] == a
                            and syms[i + 1] == b):
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = tuple(out)
            nxt[syms] = nxt.get(syms, 0) + c
        words = nxt
    return merges


def bpe_encode(df: DataFrame, merges,
               text_col: str = "text", id_col: str = "doc_id",
               out_col: str = "bpe_tokens") -> DataFrame:
    """Apply a learned BPE merge list to the corpus: lowercased
    whitespace words -> characters + ``BPE_EOW`` -> greedy lowest-rank
    merges -> subword tokens, concatenated in document order.

    Scale shape: the merge table is vocabulary-sized and ships once
    per task inside the serialized closure (the broadcast pattern);
    rows never shuffle — encoding is a pure Arrow-batched map over
    the scan. A per-batch word cache collapses repeated words, so
    cost tracks DISTINCT words per batch, not token count.
    """
    import pandas as pd

    ranks = {tuple(p): i for i, p in enumerate(merges)}
    out_field = T.StructField(out_col, T.ArrayType(T.StringType()))
    schema = T.StructType(
        [f for f in df.schema.fields
         if f.name in (id_col,)] + [out_field])

    def batches(it):
        for pdf in it:
            cache = {}

            def enc_word(w):
                got = cache.get(w)
                if got is None:
                    got = _bpe_merge_word(tuple(w) + (BPE_EOW,), ranks)
                    cache[w] = got
                return got

            toks = []
            for text in pdf[text_col]:
                parts = []
                for w in (text or "").lower().split():
                    parts.extend(enc_word(w))
                toks.append(parts)
            yield pd.DataFrame({id_col: pdf[id_col], out_col: toks})

    return df.mapInPandas(batches, schema=schema)


WORDPIECE_CONT = "##"


def _wp_symbols_expr(token, n):
    """Column expression: a token's WordPiece symbol array — first
    character plain, every continuation character prefixed ``##``
    (the BERT convention, Wu et al. 2016)."""
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.when(i == 1, token.substr(i, F.lit(1)))
        .otherwise(F.concat(F.lit(WORDPIECE_CONT),
                            token.substr(i, F.lit(1)))))


def wordpiece_pair_scores(df: DataFrame,
                          text_col: str = "text") -> DataFrame:
    """Corpus-weighted WordPiece merge scores — the inner step of
    WordPiece tokenizer training (Wu et al. 2016; Schuster &
    Nakajima 2012): where BPE merges the most FREQUENT adjacent
    pair, WordPiece merges the pair maximizing the likelihood gain
    ``score(a,b) = count(ab) / (count(a) * count(b))`` — a rare but
    strongly-glued pair ("q","##u") beats a frequent-by-accident
    one. Returns ``(left_sym, right_sym, pair_count, score)`` over
    character symbols in the ``##`` continuation convention; the
    score is one exact-integer division (no rounding needed — both
    operands are exact counts, so any engine reproduces the double
    bit-for-bit).

    Scale shape: like :func:`bpe_pair_counts`, the pair scan runs
    over the VOCABULARY (one row per distinct token, weighted by
    corpus count), not the corpus; the symbol-count relation is
    alphabet-sized and broadcasts into the score join. Three
    shuffles total (vocabulary, pair agg, symbol agg), all with
    map-side partials."""
    vocab = corpus_vocabulary(df, text_col)
    t = F.col("token")
    n = F.length(t)
    v = vocab.select(F.col("token_count"),
                     _wp_symbols_expr(t, n).alias("syms"))
    sym_counts = (v.select(F.explode("syms").alias("symbol"),
                           "token_count")
                  .groupBy("symbol")
                  .agg(F.sum("token_count").cast("long")
                       .alias("sym_count")))
    m = F.size(F.col("syms"))
    pair_arr = F.when(m >= 2, F.transform(
        F.sequence(F.lit(1), m - 1),
        lambda i: F.struct(
            F.element_at(F.col("syms"), i).alias("left_sym"),
            F.element_at(F.col("syms"), i + 1).alias("right_sym")))) \
        .otherwise(F.array().cast(
            "array<struct<left_sym:string,right_sym:string>>"))
    pairs = (v.select(F.explode(pair_arr).alias("p"), "token_count")
             .groupBy(F.col("p.left_sym").alias("left_sym"),
                      F.col("p.right_sym").alias("right_sym"))
             .agg(F.sum("token_count").cast("long")
                  .alias("pair_count")))
    lc = sym_counts.select(F.col("symbol").alias("left_sym"),
                           F.col("sym_count").alias("__lc"))
    rc = sym_counts.select(F.col("symbol").alias("right_sym"),
                           F.col("sym_count").alias("__rc"))
    return (pairs.join(F.broadcast(lc), "left_sym")
            .join(F.broadcast(rc), "right_sym")
            .select("left_sym", "right_sym", "pair_count",
                    (F.col("pair_count")
                     / (F.col("__lc") * F.col("__rc")))
                    .alias("score")))


def wordpiece_train(df: DataFrame, vocab_size: int = 200,
                    text_col: str = "text", max_vocab: int = 50_000,
                    min_frequency: int = 2):
    """Learn a WordPiece vocabulary from the corpus (Wu et al. 2016)
    — the third production tokenizer family beside :func:`bpe_train`
    (frequency-argmax merges) and :func:`unigram_train`
    (Viterbi-EM): each step merges the adjacent symbol pair with the
    highest likelihood gain ``count(ab) / (count(a) * count(b))``,
    ties to the lexicographically greatest pair so retraining is
    deterministic. Returns ``(vocab, merges)`` — ``vocab`` is the
    ordered piece list (sorted base symbols, then merged pieces in
    creation order, the id assignment), ``merges`` the pair list.

    Scale shape: the :func:`bpe_train` discipline — ONE distributed
    job (the capped frequency-weighted vocabulary aggregation), then
    a driver-side merge loop over at most ``max_vocab`` short words,
    corpus-size-independent after the single scan;
    :func:`wordpiece_pair_scores` is its distributed single-step
    twin."""
    from collections import Counter

    rows = (corpus_vocabulary(df, text_col)
            .orderBy(F.desc("token_count"), "token")
            .limit(max_vocab).collect())
    words = {}
    for r in rows:
        chars = tuple(r.token)
        syms = (chars[0],) + tuple(WORDPIECE_CONT + c
                                   for c in chars[1:])
        words[syms] = words.get(syms, 0) + int(r.token_count)
    base = sorted({s for syms in words for s in syms})
    vocab = list(base)
    seen = set(vocab)
    merges = []
    while len(vocab) < vocab_size:
        pair_c = Counter()
        sym_c = Counter()
        for syms, c in words.items():
            for s in syms:
                sym_c[s] += c
            for i in range(len(syms) - 1):
                pair_c[(syms[i], syms[i + 1])] += c
        if not pair_c:
            break
        pair, cnt = max(
            pair_c.items(),
            key=lambda kv: (kv[1] / (sym_c[kv[0][0]]
                                     * sym_c[kv[0][1]]), kv[0]))
        if pair_c[pair] < min_frequency:
            break
        a, b = pair
        new_sym = a + b[len(WORDPIECE_CONT):]
        merges.append(pair)
        if new_sym not in seen:
            vocab.append(new_sym)
            seen.add(new_sym)
        nxt = {}
        for syms, c in words.items():
            if a in syms:
                out, i = [], 0
                while i < len(syms):
                    if (i < len(syms) - 1 and syms[i] == a
                            and syms[i + 1] == b):
                        out.append(new_sym)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = tuple(out)
            nxt[syms] = nxt.get(syms, 0) + c
        words = nxt
    return vocab, merges


def _wordpiece_encode_word(w, pieces, max_len, unk):
    """Greedy longest-match-first WordPiece segmentation of one word
    (the BERT inference rule): take the longest vocabulary prefix at
    each position (continuation pieces carry ``##``); any position
    with no match makes the WHOLE word ``unk`` — partial prefixes
    are discarded, not emitted. Pure Python — runs executor-side
    inside Arrow batches and directly under property tests."""
    out, i, n = [], 0, len(w)
    while i < n:
        j = min(n, i + max_len)
        piece = None
        while j > i:
            cand = w[i:j] if i == 0 else WORDPIECE_CONT + w[i:j]
            if cand in pieces:
                piece = cand
                break
            j -= 1
        if piece is None:
            return [unk]
        out.append(piece)
        i = j
    return out


def wordpiece_encode(df: DataFrame, vocab,
                     text_col: str = "text", id_col: str = "doc_id",
                     out_col: str = "wp_tokens",
                     unk: str = "[UNK]") -> DataFrame:
    """Apply a learned WordPiece vocabulary: lowercased whitespace
    words segment by GREEDY LONGEST-MATCH-FIRST (the BERT inference
    rule — take the longest vocabulary prefix, continuation pieces
    carry ``##``); a word with no full segmentation becomes the
    single ``unk`` token (whole-word UNK, the BERT convention —
    partial prefixes are discarded, not emitted).

    Scale shape: the vocabulary set ships once per task inside the
    serialized closure (the broadcast pattern); rows never shuffle —
    encoding is a pure Arrow-batched map with a per-batch word cache,
    so cost tracks DISTINCT words per batch."""
    import pandas as pd

    pieces = set(vocab)
    max_len = max((len(p) - (len(WORDPIECE_CONT)
                             if p.startswith(WORDPIECE_CONT) else 0)
                   for p in pieces), default=1)
    out_field = T.StructField(out_col, T.ArrayType(T.StringType()))
    schema = T.StructType(
        [f for f in df.schema.fields
         if f.name in (id_col,)] + [out_field])

    def batches(it):
        for pdf in it:
            cache = {}
            toks = []
            for text in pdf[text_col]:
                parts = []
                for w in (text or "").lower().split():
                    got = cache.get(w)
                    if got is None:
                        got = _wordpiece_encode_word(
                            w, pieces, max_len, unk)
                        cache[w] = got
                    parts.extend(got)
                toks.append(parts)
            yield pd.DataFrame({id_col: pdf[id_col], out_col: toks})

    return df.mapInPandas(batches, schema=schema)


def _r6(x: float) -> float:
    """Half-up-toward-+inf rounding to 6 dp on the BINARY double —
    ``floor(x * 1e6 + 0.5) / 1e6``, three IEEE ops any SQL engine
    replays verbatim (the pHash rounding discipline)."""
    import math
    return math.floor(x * 1000000.0 + 0.5) / 1000000.0


def _unigram_viterbi(word, logp, max_piece_len):
    """Best segmentation of ``word`` under a unigram piece model:
    maximize the sum of (pre-rounded) piece log-probs; ties prefer
    FEWER pieces, then the lexicographically smallest piece sequence
    — a total, engine-replayable order (the SQL twin sorts candidate
    extensions by (score DESC, n_pieces ASC, path ASC) and takes the
    first). Returns the piece list, or None if some character has no
    vocabulary entry (unreachable)."""
    n = len(word)
    # dp[i] = (score, n_pieces, path) for the prefix word[:i]
    dp = [None] * (n + 1)
    dp[0] = (0.0, 0, ())
    for i in range(1, n + 1):
        best = None
        for j in range(max(0, i - max_piece_len), i):
            if dp[j] is None:
                continue
            lp = logp.get(word[j:i])
            if lp is None:
                continue
            cand = (dp[j][0] + lp, dp[j][1] + 1,
                    dp[j][2] + (word[j:i],))
            key = (-cand[0], cand[1], cand[2])
            if best is None or key < best[0]:
                best = (key, cand)
        if best is not None:
            dp[i] = best[1]
    return list(dp[n][2]) if dp[n] is not None else None


def unigram_train(df: DataFrame, vocab_size: int = 200,
                  seed_size: int = 1000, max_piece_len: int = 8,
                  max_vocab: int = 10_000, max_word_len: int = 16,
                  n_iters: int = 2, text_col: str = "text"):
    """Train a unigram-LM (SentencePiece-style) tokenizer vocabulary
    — the Kudo 2018 counterpart to :func:`bpe_train`, here as the
    deterministic HARD-EM (Viterbi-EM) variant: seed with frequent
    substrings, iterate (best-segmentation E-step -> count M-step),
    prune to ``vocab_size``. Returns ``[(piece, n_uses, logp), ...]``
    ordered by (n_uses DESC, piece).

    The recipe, every step engine-replayable:

    1. Corpus vocabulary capped to the ``max_vocab`` most frequent
       words (ties by token), words longer than ``max_word_len``
       dropped — the :func:`bpe_train` discipline that makes training
       corpus-size-independent after ONE distributed scan.
    2. Seed = every substring of length 2..``max_piece_len`` of those
       words, scored ``occurrences x length`` (frequency-weighted,
       occurrences counted per position), top ``seed_size`` kept —
       plus ALL single characters, so every word stays segmentable.
    3. Initial piece log-prob: ln(score / total score), rounded to
       6 dp on the binary double (floor(x*1e6+0.5)/1e6) so Viterbi
       comparisons are over identical doubles in any engine.
    4. E-step: Viterbi best segmentation per word (ties: fewer
       pieces, then lexicographically smallest sequence); M-step:
       piece uses weighted by word count, plus add-one smoothing on
       single characters (SentencePiece keeps the character alphabet
       alive unconditionally; the +1 is its deterministic stand-in).
       Multi-char pieces with zero uses prune; re-estimate log-probs
       and repeat ``n_iters`` times.
    5. Final vocabulary: all single characters + the top
       ``vocab_size - n_chars`` multi-char pieces by (uses DESC,
       piece); logp renormalized over the final vocabulary.

    Scale shape: identical to bpe_train — ONE distributed
    vocabulary aggregation with a deterministic TakeOrdered cap; the
    EM loop is driver-side over <= max_vocab short words, so cost is
    independent of corpus size after the single scan.
    """
    import math

    rows = (corpus_vocabulary(df, text_col)
            .orderBy(F.desc("token_count"), "token")
            .limit(max_vocab).collect())
    words = [(r.token, int(r.token_count)) for r in rows
             if len(r.token) <= max_word_len]

    # 2. seed scores: per-position substring occurrences
    freq = {}
    for w, c in words:
        L = len(w)
        for i in range(L):
            for j in range(i + 1, min(i + max_piece_len, L) + 1):
                s = w[i:j]
                freq[s] = freq.get(s, 0) + c
    chars = sorted(s for s in freq if len(s) == 1)
    multi = sorted((s for s in freq if len(s) > 1),
                   key=lambda s: (-freq[s] * len(s), s))[:seed_size]
    scores = {s: freq[s] * len(s) for s in chars}
    scores.update({s: freq[s] * len(s) for s in multi})

    def logp_of(weights):
        total = float(sum(weights.values()))
        return {s: _r6(math.log(v / total))
                for s, v in weights.items()}

    logp = logp_of(scores)
    counts = {}
    for _ in range(max(1, n_iters)):
        counts = {}
        for w, c in words:
            seg = _unigram_viterbi(w, logp, max_piece_len)
            for p in seg or ():
                counts[p] = counts.get(p, 0) + c
        # add-one smoothing keeps the character alphabet alive;
        # unused multi-char pieces prune (they're absent from counts)
        for ch in chars:
            counts[ch] = counts.get(ch, 0) + 1
        logp = logp_of(counts)

    kept_multi = sorted(
        (s for s in counts if len(s) > 1),
        key=lambda s: (-counts[s], s))[:max(0, vocab_size - len(chars))]
    final = {s: counts[s] for s in chars}
    final.update({s: counts[s] for s in kept_multi})
    flogp = logp_of(final)
    out = [(s, final[s], flogp[s]) for s in final]
    out.sort(key=lambda t: (-t[1], t[0]))
    return out


def unigram_encode(df: DataFrame, model,
                   text_col: str = "text", id_col: str = "doc_id",
                   out_col: str = "unigram_tokens",
                   max_piece_len: int = 8) -> DataFrame:
    """Viterbi-encode the corpus with a trained unigram vocabulary
    (:func:`unigram_train` output, or any ``[(piece, _, logp)]``):
    lowercased whitespace words segment into the max-likelihood piece
    sequence; a word containing a character outside the vocabulary
    emits the single ``<unk>`` piece (the SentencePiece convention).

    Scale shape: the model is vocabulary-sized and ships once per
    task inside the closure (the broadcast pattern); rows never
    shuffle — Arrow-batched map with a per-batch word cache, so cost
    tracks DISTINCT words per batch (the bpe_encode discipline)."""
    import pandas as pd

    logp = {p: lp for p, _n, lp in model}
    out_field = T.StructField(out_col, T.ArrayType(T.StringType()))
    schema = T.StructType(
        [f for f in df.schema.fields
         if f.name in (id_col,)] + [out_field])

    def batches(it):
        for pdf in it:
            cache = {}

            def enc_word(w):
                got = cache.get(w)
                if got is None:
                    got = _unigram_viterbi(w, logp, max_piece_len)
                    got = got if got is not None else ["<unk>"]
                    cache[w] = got
                return got

            toks = []
            for text in pdf[text_col]:
                parts = []
                for w in (text or "").lower().split():
                    parts.extend(enc_word(w))
                toks.append(parts)
            yield pd.DataFrame({id_col: pdf[id_col], out_col: toks})

    return df.mapInPandas(batches, schema=schema)


# one-deep caches of persisted shared relations, owned by the
# central registry (operators/_cache.py — clear_caches() releases
# them all); the eviction lives with the NEXT call through a cell
from ._cache import LOCK as _CACHE_LOCK
from ._cache import evict_then_cache as _evict_then_cache
from ._cache import register_cell as _register_cell

_BIGRAM_TF_CACHE = _register_cell("text.bigram_tf")
_BIGRAM_SCORED_TF_CACHE = _register_cell("text.bigram_scored_tf")
# self-mode bigram-TYPE table (bg, cb, w1): two consumers, persisted
# so neither re-aggregates the full tf relation (round 12)
_BIGRAM_PTAB_CACHE = _register_cell("text.bigram_ptab")
_JSD_GT_CACHE = _register_cell("text.jsd_gt")
_JSD_NG_CACHE = _register_cell("text.jsd_ng")
_BM25_DOCS_CACHE = _register_cell("text.bm25_docs")


def bigram_logprob(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   alpha: float = 0.5,
                   persist: bool = True,
                   train_df: DataFrame = None) -> DataFrame:
    """Per-document average negative log-likelihood under a BIGRAM
    language model with add-alpha smoothing — the conditional upgrade
    of :func:`unigram_logprob`:
    ``p(w2|w1) = (c(w1 w2) + alpha) / (c_left(w1) + alpha * V)``
    where ``c_left(w1)`` sums bigram counts starting with ``w1`` and
    ``V`` is the distinct-token vocabulary size. Repetitive or
    formulaic text scores low; token-salad scores high — a sharper
    quality signal than unigram because it sees word ORDER.

    By default the model trains on ``df`` itself (self-perplexity).
    Pass ``train_df`` to train on a REFERENCE corpus and score ``df``
    against it — the classic CCNet/GPT-style quality filter ("keep
    what looks like the clean corpus"): bigrams and left contexts the
    reference never saw fall back to the pure smoothing mass
    (``c -> 0``, ``c_left -> 0``) instead of silently dropping out,
    so out-of-domain text scores HIGH rather than vanishing.

    Scale shape mirrors unigram_logprob: (doc, bigram) frequencies
    aggregate FIRST, killing the natural bigram hot-key ("of the")
    before any join; the bigram-count table joins on the bigram key
    (AQE skew split covers the head), the left-context table is
    token-vocabulary-sized, and V folds in as a 1-row broadcast.
    Documents with fewer than two tokens have no bigram and are
    absent from the output (score them with the unigram model).
    """
    arr = tokens(F.lower(F.col(text_col)))
    bg = df.select(F.col(id_col),
                   F.explode(word_ngrams(arr, 2)).alias("bg"))
    # w1 lives INSIDE the tf relation so cb and cl are plain
    # aggregations of it. Column pruning specializes each consumer's
    # aggregate, which defeats exchange reuse — without a persist the
    # three consumers (cb, cl, scoring join) recompile to separate
    # tokenize+explode scans of the corpus. tf is the
    # frequency-compressed form, orders of magnitude smaller than the
    # token stream, so it is persisted (memory, spilling to disk) and
    # all three branches read ONE materialization. SQL cache entries
    # are NOT garbage-collected by the ContextCleaner (the
    # CacheManager holds them until an explicit unpersist), and this
    # function returns a LAZY plan, so it cannot unpersist eagerly
    # itself; instead each call evicts the PREVIOUS call's cached tf
    # (a one-deep cache), bounding the session's footprint at one
    # relation instead of leaking one per call. Unpersisting the
    # previous relation is always safe — a still-live older plan just
    # recomputes. `persist=False` opts back into the stateless
    # recompute-per-branch plan.
    tf = (bg.groupBy(id_col, "bg")
          .agg(F.count(F.lit(1)).alias("tf")))

    # Model statistics join at the bigram-TYPE level (optimization
    # round 11): cb and cl attach to the DISTINCT scored bigrams
    # first, and that (bg, cb, cl) table is the only thing the big
    # (doc, bigram) relation ever joins — one model join by `bg`
    # instead of one by `bg` plus one by `w1`. Under auto-broadcast
    # the old shape also re-scanned the cached tf inside each build
    # side; past the broadcast threshold it re-shuffled the full
    # doc-bigram relation per join.
    if train_df is None:
        # self mode: tf feeds the type table AND the scoring join
        if persist:
            tf = _evict_then_cache(_BIGRAM_TF_CACHE, tf)
        ptab = (tf.groupBy("bg").agg(F.sum("tf").alias("cb"))
                .withColumn("w1", F.split("bg", " ").getItem(0)))
        if persist:
            # the (bg, cb, w1) type table has TWO consumers (the cl
            # aggregation and the scoring join): column pruning
            # specializes each consumer's bg-aggregate, which defeats
            # exchange reuse, so without a persist each consumer
            # re-aggregates the full cached tf — one extra tf-sized
            # shuffle here, N extra at 100 TB. The type table is
            # vocabulary-sized; persist it once (guide §2.4).
            ptab = _evict_then_cache(_BIGRAM_PTAB_CACHE, ptab)
        cl = ptab.groupBy("w1").agg(F.sum("cb").alias("cl"))
        ptab = ptab.join(cl, "w1").select("bg", "cb", "cl")
        v_src = df.select(
            F.explode(tokens(F.lower(F.col(text_col)))).alias("t"))
    else:
        # cross mode: the model's bigram-count table feeds cb and
        # cl; the scored corpus's distinct bigram types LEFT join
        # them so unseen bigram/context falls back to the smoothing
        # mass. tf gains a second consumer (the type table), so it
        # persists through its own one-deep cell. NOTE (round 12):
        # persisting the train slice's token ARRAYS so tb and v
        # share one tokenize pass was A/B'd exactly as VERDICT r11
        # item 5 asked and measured a WASH locally (interleaved
        # min-of-6: ccnet 2.82 vs 2.80 s, reflm 1.91 vs 1.76 s, the
        # OLD shape slightly ahead) — the persist's array
        # materialization costs what the second filter-pushdown scan
        # costs, and at 100 TB storing the train slice's token
        # arrays per query call is strictly worse than re-scanning
        # with lang pushed to the parquet footer. Kept as two scans.
        t_arr = tokens(F.lower(F.col(text_col)))
        tb = (train_df.select(
            F.explode(word_ngrams(t_arr, 2)).alias("bg"))
            .groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
            .withColumn("w1", F.split("bg", " ").getItem(0)))
        if persist:
            tb = _evict_then_cache(_BIGRAM_TF_CACHE, tb)
            tf = _evict_then_cache(_BIGRAM_SCORED_TF_CACHE, tf)
        cl = tb.groupBy("w1").agg(F.sum("cb").alias("cl"))
        stypes = (tf.groupBy("bg").agg(F.count(F.lit(1)))
                  .withColumn("w1", F.split("bg", " ").getItem(0)))
        ptab = (stypes.join(tb.select("bg", "cb"), "bg", "left")
                .join(cl, "w1", "left")
                .select("bg", "cb", "cl"))
        v_src = train_df.select(
            F.explode(tokens(F.lower(F.col(text_col)))).alias("t"))
    v = (v_src
         .where(F.col("t") != "")
         .agg(F.count_distinct("t").cast("double").alias("__v__")))
    a = F.lit(float(alpha))
    cbv = F.coalesce(F.col("cb"), F.lit(0))
    clv = F.coalesce(F.col("cl"), F.lit(0))
    p = (cbv + a) / (clv + a * F.col("__v__"))
    nll = F.col("tf") * -F.log(p)
    return (tf.join(ptab, "bg")
            .join(F.broadcast(v))
            .groupBy(id_col)
            .agg(F.sum("tf").cast("long").alias("n_bigrams"),
                 F.round(F.sum(nll) / F.sum("tf"), 4)
                 .alias("avg_nll")))


def kn_bigram_logprob(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", d: float = 0.75,
                      persist: bool = True) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity (Kneser & Ney 1995;
    Chen & Goodman 1999's interpolated form) — the smoothing KenLM
    ships and CCNet's quality filter actually runs, upgrading the
    add-alpha stand-in of :func:`bigram_logprob`:

    ``P(w2|w1) = max(c(w1 w2) - d, 0) / c(w1)
                 + (d * N1+(w1 *) / c(w1)) * N1+(* w2) / B``

    with discount ``d``, ``N1+(w1 *)`` the distinct continuations of
    ``w1``, ``N1+(* w2)`` the distinct predecessors of ``w2`` (the
    continuation probability that makes "Francisco" unlikely outside
    "San"), and ``B`` the number of distinct bigram types. Self
    mode: the model trains on the scored corpus itself, so every
    scored bigram has counts and ``P > 0`` by construction (counts
    >= 1 > d). Returns (id, n_bigrams, avg_nll); documents with
    fewer than two tokens are absent, like bigram_logprob.

    Scale shape: the (doc, bigram) tf relation aggregates FIRST and
    persists (one-deep module cache); the model side collapses to
    ONE bigram-TYPE table ``(bg, cb, cl, n1p_fw, n1p_bw)`` — bgc is
    aggregated once and the context/predecessor statistics join it
    at the TYPE level, so the big (doc, bigram) relation is touched
    by exactly one model join (by ``bg``) plus the doc-keyed finale
    instead of three model joins; B folds in as a 1-row broadcast.
    (The prior shape joined tf by bg, then w1, then w2: under
    auto-broadcast each build side re-scanned the cached tf and
    re-derived bgc, and past the broadcast threshold it re-shuffled
    the full doc-bigram relation twice more.) No token hot-key
    anywhere: every aggregation is keyed by bigram, w1 or w2 AFTER
    the (doc, bigram) compression, and P(w2|w1) is evaluated once
    per bigram TYPE, not once per (doc, bigram) row.
    """
    if not 0.0 < d < 1.0:
        raise ValueError(f"discount d must be in (0, 1): {d}")
    arr = tokens(F.lower(F.col(text_col)))
    bg = df.select(F.col(id_col),
                   F.explode(word_ngrams(arr, 2)).alias("bg"))
    tf = (bg.groupBy(id_col, "bg")
          .agg(F.count(F.lit(1)).alias("tf")))
    if persist:
        tf = _evict_then_cache(_KN_TF_CACHE, tf)
    bgc = (tf.groupBy("bg")
           .agg(F.sum("tf").alias("cb"))
           .withColumn("w1", F.split("bg", " ").getItem(0))
           .withColumn("w2", F.split("bg", " ").getItem(1)))
    if persist:
        # bgc has FOUR consumers (ctx, pred, btot, the ptab join);
        # column pruning specializes each one's bg-aggregate, which
        # defeats exchange reuse, so without a persist every consumer
        # re-aggregates the full cached tf — the round-11 plan showed
        # 5 InMemoryTableScans of tf. The type table is
        # vocabulary-sized; persist it once and the big relation is
        # aggregated exactly once (guide §2.4).
        bgc = _evict_then_cache(_KN_BGC_CACHE, bgc)
    ctx = (bgc.groupBy("w1")
           .agg(F.sum("cb").alias("cl"),
                F.count(F.lit(1)).alias("n1p_fw")))
    pred = (bgc.groupBy("w2")
            .agg(F.count(F.lit(1)).alias("n1p_bw")))
    btot = bgc.agg(F.count(F.lit(1)).cast("double").alias("__b__"))
    dd = F.lit(float(d))
    p = (F.greatest(F.col("cb") - dd, F.lit(0.0)) / F.col("cl")
         + (dd * F.col("n1p_fw") / F.col("cl"))
         * (F.col("n1p_bw") / F.col("__b__")))
    ptab = (bgc.join(ctx, "w1").join(pred, "w2")
            .join(F.broadcast(btot))
            .select("bg", (-F.log(p)).alias("__nll1__")))
    nll = F.col("tf") * F.col("__nll1__")
    return (tf.join(ptab, "bg")
            .groupBy(id_col)
            .agg(F.sum("tf").cast("long").alias("n_bigrams"),
                 F.round(F.sum(nll) / F.sum("tf"), 4)
                 .alias("avg_nll")))


# one-deep caches for kn_bigram_logprob's tf and its bigram-TYPE
# relation (see operators/_cache)
_KN_TF_CACHE = _register_cell("text.kn_tf")
_KN_BGC_CACHE = _register_cell("text.kn_bgc")


def token_js_divergence(df: DataFrame, group_col: str = "source",
                        text_col: str = "text",
                        persist: bool = True) -> DataFrame:
    """Jensen-Shannon divergence (bits) between each corpus slice's
    unigram token distribution and the WHOLE corpus's — the
    information-theoretic drift score of training-data mixture
    monitoring (Lin 1991, "Divergence measures based on the Shannon
    entropy"): 0 = the slice reads like the corpus. Because Q is
    the WHOLE corpus (slice included), the upper bound depends on
    the slice's mass share: a disjoint-vocabulary slice holding
    fraction f of the corpus scores below 1, approaching 1 only as
    f -> 0 (a half-corpus disjoint slice scores ~0.311 — compare
    against slice-vs-REST if the full 0..1 range is needed).
    Slice on source to rank feeds by distinctiveness,
    on ingestion day to alarm on drift, on dedup survivors vs drops
    to see what dedup removes.

    Returns (group, n_tokens, jsd_bits) with
    ``JSD = KL(P||M)/2 + KL(Q||M)/2``, ``M = (P+Q)/2``, P the slice
    distribution and Q the corpus distribution. Only tokens present
    in the slice need rows: for a token absent from the slice
    ``p = 0`` and its KL(Q||M) term is ``q*log2(q/(q/2)) = q``, so
    the out-of-slice tail folds into the closed form
    ``1 - sum(q over slice tokens)`` — no full-vocabulary outer join.

    Scale shape: ONE corpus scan aggregates (group, token) counts;
    that compressed relation feeds the corpus token counts, the
    per-group totals AND the scoring join, so it is persisted via
    the one-deep module cache (column pruning would otherwise
    specialize each consumer into its own corpus scan —
    ``persist=False`` opts into stateless recompute). The token-keyed
    join carries at most one row per (group, token), so skew is
    bounded by the group count per token; group totals and the
    corpus total are broadcast.
    """
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
    # drop empty-string tokens: text starting with a TAB/newline
    # trims to a leading \s+ separator and split yields "" — the
    # same guard bigram_logprob's vocabulary count applies
    gt = (toks.where(F.col("token") != "")
          .groupBy("grp", "token").agg(
              F.count(F.lit(1)).alias("c")))
    if persist:
        gt = _evict_then_cache(_JSD_GT_CACHE, gt)
    ct = gt.groupBy("token").agg(F.sum("c").alias("ctot"))
    ng = gt.groupBy("grp").agg(F.sum("c").alias("ngrp"))
    if persist:
        # ng (one row per group) has TWO consumers — the corpus
        # total and the scoring join; persisting it aggregates the
        # cached (group, token) relation once, not twice (round 12,
        # the LM type-table discipline)
        ng = _evict_then_cache(_JSD_NG_CACHE, ng)
    tot = ng.agg(F.sum("ngrp").cast("double").alias("__n__"))
    p = F.col("c") / F.col("ngrp")
    q = F.col("ctot") / F.col("__n__")
    m = (p + q) / 2
    per = (gt.join(ct, "token")
           .join(F.broadcast(ng), "grp")
           .join(F.broadcast(tot))
           .groupBy("grp")
           .agg(F.max("ngrp").cast("long").alias("n_tokens"),
                F.sum(p * F.log2(p / m)).alias("klp"),
                F.sum(q * F.log2(q / m)).alias("klq_in"),
                F.sum(q).alias("qmass")))
    return per.select(
        F.col("grp").alias(group_col), "n_tokens",
        F.round(0.5 * F.col("klp")
                + 0.5 * (F.col("klq_in") + (1 - F.col("qmass"))),
                6).alias("jsd_bits"))


#: One pattern, two capture groups: href then anchor text. No
#: backrefs/lookarounds (Java- and RE2-safe); the anchor class
#: ``[^<]*`` stops at the first nested tag, the crude-but-auditable
#: convention of this module.
_LINK_RX = r'<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'


def extract_links(col: Column) -> Column:
    """Anchor links from an HTML column:
    ``array<struct<href string, anchor string>>`` — the step that
    turns a web crawl into the link graph feeding host-level
    curation (:func:`host_of` -> ``graph.pagerank`` / HITS, the
    RefinedWeb source-reputation stage). Two ``regexp_extract_all``
    passes over the SAME pattern zipped positionally (the match
    sequences are identical by construction), so the whole
    extraction is JVM-side codegen in the scan projection: no
    Python, no shuffle, and at 100 TB only the (src, dst) edge rows
    the caller aggregates ever leave the scan. An ``<a>`` without an
    ``href`` is not a link and never matches."""
    hrefs = F.regexp_extract_all(col, F.lit(_LINK_RX), 1)
    anchors = F.regexp_extract_all(col, F.lit(_LINK_RX), 2)
    return F.zip_with(
        hrefs, anchors,
        lambda h, a: F.struct(h.alias("href"), a.alias("anchor")))


#: Bead penalties for :func:`align_sentences` — the Gale-Church
#: prior flattened to small integers so the DP is exact integer
#: arithmetic (deterministic in any engine, no erf/log).
_BEAD_PENALTY = {"1:1": 0, "2:1": 2, "1:2": 2, "1:0": 4, "0:1": 4}


def align_sentences(df: DataFrame, src_col: str = "src_sents",
                    tgt_col: str = "tgt_sents",
                    id_col: str = "doc_id") -> DataFrame:
    """Length-based bitext sentence alignment (the Gale-Church 1993
    algorithm with its Gaussian prior flattened to integer bead
    penalties): dynamic programming over sentence pairs with 1:1,
    2:1, 1:2 beads and 1:0 / 0:1 deletions, bead cost =
    ``|src_tokens - tgt_tokens| + penalty``. The producer of
    training bitext from document-aligned corpora — margin mining
    (:mod:`operators.similarity`) finds the parallel DOCUMENTS,
    this extracts the parallel SENTENCES. Integer costs make the
    optimum engine-exact; cost ties resolve in the fixed bead order
    1:1, 2:1, 1:2, 1:0, 0:1 (backtrack preference), so the
    alignment is unique and reproducible. Emits one row per bead:
    ``(id, bead_no, bead, src_text, tgt_text, cost)`` with the
    bead's sentences space-joined (deletion sides empty).

    Scale shape: both sentence lists of a document pair live in ONE
    row, so the DP is local to the Arrow batch — no shuffle, O(n*m)
    per pair with n, m in the tens; only bead rows enter the plan."""
    import pandas as pd

    BEADS = [("1:1", 1, 1), ("2:1", 2, 1), ("1:2", 1, 2),
             ("1:0", 1, 0), ("0:1", 0, 1)]

    def batches(it):
        for pdf in it:
            out = []
            for mid, src, tgt in zip(pdf[id_col], pdf[src_col],
                                     pdf[tgt_col]):
                s = [str(x) for x in (src if src is not None else [])]
                t = [str(x) for x in (tgt if tgt is not None else [])]
                sl = [len(x.split()) for x in s]
                tl = [len(x.split()) for x in t]
                n, m = len(s), len(t)
                INF = 1 << 60
                d = [[INF] * (m + 1) for _ in range(n + 1)]
                back = [[None] * (m + 1) for _ in range(n + 1)]
                d[0][0] = 0
                for i in range(n + 1):
                    for j in range(m + 1):
                        if i == 0 and j == 0:
                            continue
                        best, arg = INF, None
                        for bead, di, dj in BEADS:
                            if i < di or j < dj:
                                continue
                            prev = d[i - di][j - dj]
                            if prev >= INF:
                                continue
                            c = (abs(sum(sl[i - di:i])
                                     - sum(tl[j - dj:j]))
                                 + _BEAD_PENALTY[bead])
                            # strict < keeps the FIRST bead in the
                            # preference order on ties
                            if prev + c < best:
                                best, arg = prev + c, (bead, di, dj, c)
                        d[i][j], back[i][j] = best, arg
                beads = []
                i, j = n, m
                while (i, j) != (0, 0) and back[i][j] is not None:
                    bead, di, dj, c = back[i][j]
                    beads.append((bead,
                                  " ".join(s[i - di:i]),
                                  " ".join(t[j - dj:j]), c))
                    i, j = i - di, j - dj
                beads.reverse()
                for k, (bead, st, tt, c) in enumerate(beads):
                    out.append((int(mid), k, bead, st, tt, c))
            yield pd.DataFrame(
                out, columns=[id_col, "bead_no", "bead", "src_text",
                              "tgt_text", "cost"])

    return df.mapInPandas(
        batches, schema=(f"{id_col} long, bead_no int, bead string, "
                         f"src_text string, tgt_text string, "
                         f"cost int"))


#: One full UTF-8 byte-sequence, written as the Latin-1 characters
#: those bytes decode to — including the RFC 3629 exclusions
#: (overlongs, surrogates, > U+10FFFF), so a match set that passes
#: this grammar is GUARANTEED to re-decode: the repair can never
#: throw. Continuation chars (U+0080-BF) are disjoint from every
#: lead class, so the parse is unambiguous left-to-right.
_UTF8_AS_LATIN1 = (
    "(?:[\u00C2-\u00DF][\u0080-\u00BF]"
    "|\u00E0[\u00A0-\u00BF][\u0080-\u00BF]"
    "|[\u00E1-\u00EC][\u0080-\u00BF]{2}"
    "|\u00ED[\u0080-\u009F][\u0080-\u00BF]"
    "|[\u00EE-\u00EF][\u0080-\u00BF]{2}"
    "|\u00F0[\u0090-\u00BF][\u0080-\u00BF]{2}"
    "|[\u00F1-\u00F3][\u0080-\u00BF]{3}"
    "|\u00F4[\u0080-\u008F][\u0080-\u00BF]{2})")


def is_mojibake(col: Column) -> Column:
    """True when the text is the classic double-encoding defect —
    UTF-8 bytes mistakenly decoded as Latin-1 ('café' shipped as
    'cafÃ©') — and provably repairable: it contains at least one
    valid UTF-8-as-Latin-1 cluster AND nothing non-ASCII outside
    such clusters, so ``encode(latin-1) -> decode(utf-8)`` is total.
    The strictness is the point: a stray 'Ã' before a space is NOT
    flagged (it would make the re-decode throw), and genuinely
    French/German Latin-1 prose almost never forms valid lead +
    continuation runs."""
    residue = F.regexp_replace(col, _UTF8_AS_LATIN1, "")
    return (col.rlike(_UTF8_AS_LATIN1)
            & ~residue.rlike("[^\u0000-\u007F]"))


def fix_mojibake(col: Column) -> Column:
    """Repair double-encoded text (the ftfy staple): where
    :func:`is_mojibake` holds, re-encode as Latin-1 and re-decode as
    UTF-8 — recovering the original 'café — naïve' from
    'cafÃ© â naÃ¯ve'; everything else passes through
    byte-identical. The gate guarantees the decode cannot throw
    (ANSI mode errors on malformed UTF-8 by design), and the CASE
    branch keeps the charset round-trip off the common path. Pure
    codegen expressions: an encoding-repair pass over a 100 TB
    crawl is one scan projection, no Python, no shuffle."""
    repaired = F.decode(F.encode(col, "ISO-8859-1"), "UTF-8")
    return F.when(is_mojibake(col), repaired).otherwise(col)


#: 1:1 compatibility mappings (F.translate): the 94 fullwidth ASCII
#: forms U+FF01-FF5E, ideographic space, NBSP, curly single/double
#: quotes, en/em dashes, minus sign. Multi-char expansions
#: (ellipsis, fi/fl ligatures) go through regexp_replace instead.
_COMPAT_SRC = ("".join(chr(0xFF01 + i) for i in range(94))
               + "　 ‘’“”"
               + "–—−")
_COMPAT_DST = ("".join(chr(0x21 + i) for i in range(94))
               + "  ''\"\"---")


def compat_normalize(col: Column) -> Column:
    """Unicode compatibility normalization (the NFKC subset that
    matters for corpus text, without an ICU dependency): fullwidth
    ASCII forms fold to ASCII, ideographic/no-break spaces to plain
    space, curly quotes to straight, en/em dashes and the minus sign
    to hyphen, the ellipsis to three dots, fi/fl ligatures expand —
    the normalization pass that runs BEFORE tokenization and hashing
    so 'ＧＰＵ' and 'GPU' dedup together. One ``translate`` (1:1,
    single pass over the string) plus two anchored
    ``regexp_replace`` for the expanding forms: pure codegen, one
    scan projection at 100 TB, no Python."""
    out = F.translate(col, _COMPAT_SRC, _COMPAT_DST)
    out = F.regexp_replace(out, "…", "...")
    return F.regexp_replace(
        F.regexp_replace(out, "ﬁ", "fi"), "ﬂ", "fl")


def parse_robots_rules(col: Column, agent: str = "*") -> Column:
    """Parse a robots.txt column into the Allow/Disallow rule list
    that applies to ``agent``:
    ``array<struct<allow boolean, prefix string>>`` — the crawl-
    politeness half of host curation (RFC 9309 semantics: ``#``
    comments stripped, field names case-insensitive, consecutive
    ``User-agent`` lines share one group, an empty rule value is a
    no-op). The whole parse is one ``F.aggregate`` fold over the
    split lines — a line-state machine (current-group-applies +
    was-previous-line-a-UA-line) expressed entirely in codegen'd
    struct updates: no Python in the hot path, no shuffle, and at
    crawl scale the robots relation is one row per host, parsed in
    the scan projection."""
    lines = F.split(col, "\n")
    empty = F.array().cast(
        "array<struct<allow:boolean,prefix:string>>")
    init = F.struct(F.lit(False).alias("grp"),
                    F.lit(False).alias("ua"),
                    empty.alias("rules"))

    def step(acc, raw):
        line = F.trim(F.regexp_replace(raw, "#.*", ""))
        key = F.lower(F.trim(F.regexp_extract(line, "^([^:]*):", 1)))
        val = F.trim(F.regexp_extract(line, "^[^:]*:(.*)$", 1))
        is_ua = key == "user-agent"
        is_rule = (key == "allow") | (key == "disallow")
        hit = val == agent
        grp = (F.when(is_ua & acc["ua"], acc["grp"] | hit)
               .when(is_ua, hit)
               .otherwise(acc["grp"]))
        rules = (F.when(
            is_rule & grp & (val != ""),
            F.concat(acc["rules"], F.array(F.struct(
                (key == "allow").alias("allow"),
                val.alias("prefix"))).cast(
                "array<struct<allow:boolean,prefix:string>>")))
            .otherwise(acc["rules"]))
        return F.struct(grp.alias("grp"), is_ua.alias("ua"),
                        rules.alias("rules"))

    return F.aggregate(lines, init, step, lambda acc: acc["rules"])


def robots_allowed(rules: Column, path: Column) -> Column:
    """RFC 9309 rule evaluation: among the rules whose prefix matches
    the path, the LONGEST prefix wins; an allow/disallow tie at equal
    length resolves to allow; no matching rule means allowed. Pure
    array expressions (filter -> keyed max), so the verdict for a
    frontier of candidate URLs is a codegen'd projection against the
    per-host rule arrays — no join, no Python."""
    m = F.filter(rules, lambda r: F.startswith(path, r["prefix"]))
    keyed = F.transform(m, lambda r: F.struct(
        F.length(r["prefix"]).alias("l"),
        r["allow"].cast("int").alias("a")))
    return (F.when(F.size(m) == 0, F.lit(True))
            .otherwise(F.array_max(keyed)["a"] == 1))


def html_visible_text(col: Column) -> Column:
    """Visible text from an HTML column: drop the head and
    script/style blocks and comments, strip tags, unescape the common entities, collapse
    whitespace. Pure built-in regexp/replace expressions — the whole
    extraction stays JVM-side in the scan projection (whole-stage
    codegen), which is what lets it run over a 100 TB crawl without a
    Python worker in the hot path. Deliberately the crude-but-
    scalable extractor: boilerplate (nav/footer) removal is a
    downstream quality-model concern, and no backreferences or
    lookarounds are used so the same patterns replay on RE2-based
    engines (the DuckDB oracle)."""
    t = F.regexp_replace(col, r"(?is)<head[^>]*>.*?</head>", " ")
    t = F.regexp_replace(t, r"(?is)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"(?s)<[^>]+>", " ")
    for ent, rep in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                     ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")):
        t = F.replace(t, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def canonicalize_url(url: Column) -> Column:
    """Canonical URL for URL-level dedup and grouping: lowercase the
    scheme+host, drop the fragment, strip the common tracking
    parameters (``utm_*``/``fbclid``/``gclid``/``ref``), repair the
    separators that stripping leaves behind, and drop a trailing
    slash. Pure regexp/substring expressions, RE2-and-Java safe (no
    backreferences, no lookarounds), so the same chain replays on
    other engines; non-URL strings pass through trimmed. Port
    normalization (``:80``/``:443``) is deliberately out of scope —
    it needs replacement backreferences whose syntax differs across
    engines."""
    base = F.regexp_replace(url, "#.*$", "")
    sh = F.regexp_extract(base, r"(?i)^(https?://[^/?]+)", 1)
    rest = F.substr(base, F.length(sh) + 1)
    # Tracking params are anchored to their separator ('?' or '&') and
    # stop at '?' as well as '&'/'#', so '?href=...' and Amazon-style
    # path segments '/ref=sr_1_1?k=1' are never touched — an unanchored
    # match here collapses DISTINCT urls to one key and silently drops
    # documents in URL-level dedup. Two passes instead of one
    # backreferenced pattern keeps the chain RE2-replayable.
    rest = F.regexp_replace(
        rest, r"\?(utm_[a-zA-Z]+|fbclid|gclid|ref)=[^&#?]*", "?")
    rest = F.regexp_replace(
        rest, r"&(utm_[a-zA-Z]+|fbclid|gclid|ref)=[^&#?]*", "")
    rest = F.regexp_replace(rest, r"&&+", "&")
    rest = F.regexp_replace(rest, r"\?&", "?")
    rest = F.regexp_replace(rest, r"[?&]+$", "")
    # ALL trailing slashes, not one: '/p//' must reach the same
    # fixpoint as '/p/' in a single pass or URL dedup keys split
    rest = F.regexp_replace(rest, r"/+$", "")
    return F.when(sh == "", F.trim(url)) \
        .otherwise(F.concat(F.lower(sh), rest))


def host_of(url: Column) -> Column:
    """Lowercased network host of a URL — the grouping key of
    host-level curation (the RefinedWeb/C4 source-reputation stage
    runs BEFORE content filters). Strips userinfo, the port, one
    leading ``www.`` label and a trailing root dot; a string with no
    ``http(s)://`` scheme yields the empty string (callers treat
    those as host-less documents, never as a shared '' reputation
    bucket — filter them out before aggregating). Pure
    regexp/substring chain, RE2-and-Java safe, one projection."""
    h = F.lower(F.regexp_extract(url, r"(?i)^https?://([^/?#]+)", 1))
    h = F.regexp_replace(h, r"^[^@/]*@", "")
    h = F.regexp_replace(h, r":[0-9]+$", "")
    h = F.regexp_replace(h, r"^www\.", "")
    return F.regexp_replace(h, r"\.$", "")


# The common two-level public suffixes. A full public-suffix-list
# lookup is a broadcast dict in production; the regexp covers the
# high-traffic ccTLD registries and keeps the operator a pure
# expression (and therefore identically replayable in the oracle).
_SLD_RX = (r"([^.]+\.(?:co|com|org|net|ac|gov|or|ne|edu)"
           r"\.(?:uk|jp|au|nz|in|br|mx|cn|tw|kr|za))$")
_APEX_RX = r"([^.]+\.[^.]+)$"


def registered_domain(host: Column) -> Column:
    """eTLD+1 approximation for reputation grouping: the last two
    host labels, or the last three when the trailing two form a
    common two-level public suffix (``co.uk``, ``com.au``, ...), so
    ``a.example.co.uk`` and ``b.example.co.uk`` share the key
    ``example.co.uk`` instead of the useless ``co.uk``. A host with
    fewer labels passes through unchanged."""
    sld = F.regexp_extract(host, _SLD_RX, 1)
    apex = F.regexp_extract(host, _APEX_RX, 1)
    return F.when(sld != "", sld) \
        .when(apex != "", apex).otherwise(host)


def host_boilerplate_removal(df: DataFrame, host_col: str = "host",
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             min_frac: float = 0.6,
                             min_pages: int = 3) -> DataFrame:
    """Host-level template-chrome removal (the RefinedWeb/CCNet line
    dedup stage): a line occurring on at least ``min_frac`` of a
    host's pages — nav menus, cookie banners, copyright footers — is
    site template, not content; drop it from EVERY page of that host
    and reassemble the rest in original order. Hosts with fewer than
    ``min_pages`` pages are left untouched (no statistical basis).
    Returns ``(id, clean_text, n_lines, n_removed)``; a page whose
    every line is template comes back as the empty string, not a
    dropped row (removal is surgery, not a filter).

    Scale shape: lines explode once; the page-per-host count is a
    #hosts-row agg, the line-frequency agg keys on (host, line) —
    the host in the key keeps global template lines ("Home") from
    becoming one hot key — and the boilerplate relation back-joins
    the line relation on the same (host, line) key as a LEFT ANTI
    (no row widening). Reassembly is one id-keyed agg whose
    collect_list is bounded by lines-per-page, the same bound as
    c4_clean_lines. Nothing quadratic; the corpus text shuffles
    once, as (host, line) rows."""
    if not 0 < min_frac <= 1:
        raise ValueError(f"min_frac must be in (0, 1]: {min_frac}")
    lines = df.select(
        F.col(host_col), F.col(id_col),
        F.size(F.split(F.col(text_col), "\n")).alias("n_lines"),
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("line_no", "line"))
    pages = df.groupBy(host_col).agg(
        F.count(F.lit(1)).alias("n_pages"))
    freq = (lines.select(host_col, id_col, "line").distinct()
            .groupBy(host_col, "line")
            .agg(F.count(F.lit(1)).alias("n_docs_with")))
    boiler = (freq.join(pages, host_col)
              .where((F.col("n_pages") >= min_pages)
                     & (F.col("n_docs_with")
                        >= F.col("n_pages") * F.lit(min_frac)))
              .select(host_col, "line"))
    kept = lines.join(boiler, [host_col, "line"], "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.max("n_lines").alias("n_lines"),
                    F.count(F.lit(1)).alias("n_kept"),
                    F.concat_ws(
                        "\n",
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("line_no", "line"))),
                            lambda s: s["line"]))
                    .alias("clean_text")))
    return (df.select(id_col,
                      F.size(F.split(F.col(text_col), "\n"))
                      .alias("n_lines_all"))
            .join(rebuilt, id_col, "left")
            .select(id_col,
                    F.coalesce("clean_text", F.lit(""))
                    .alias("clean_text"),
                    F.col("n_lines_all").alias("n_lines"),
                    (F.col("n_lines_all")
                     - F.coalesce(F.col("n_kept"), F.lit(0)))
                    .cast("int").alias("n_removed")))


def host_reputation(df: DataFrame, host_col: str = "host",
                    keep_col: str = "keep",
                    text_col: str = "text") -> DataFrame:
    """Per-host curation statistics — the aggregation behind a
    source-reputation gate: ``n_docs``, ``keep_rate`` (mean of the
    page-level keep verdict) and ``dup_rate`` (1 - distinct
    normalized-content hashes / docs, the within-host mirror-page
    fraction). ONE host-keyed aggregation over flags the caller
    already computed in the document scan; the result is #hosts
    rows — small enough to broadcast back onto the corpus, which is
    the point: the corpus itself never shuffles for the host stage.
    """
    from .dedup import normalize_text

    h = md5_long(normalize_text(F.col(text_col)))
    n = F.count(F.lit(1))
    return (df.groupBy(F.col(host_col).alias("host"))
            .agg(n.cast("long").alias("n_docs"),
                 F.round(F.avg(F.col(keep_col).cast("double")), 4)
                 .alias("keep_rate"),
                 F.round(1.0 - F.countDistinct(h) / n, 4)
                 .alias("dup_rate")))


def host_policy_verdict(reputation: DataFrame,
                        blocklist=(), allowlist=(),
                        min_keep_rate: float = 0.0,
                        max_dup_rate: float = 1.0) -> DataFrame:
    """Per-host ``host_keep`` verdict from :func:`host_reputation`
    output plus explicit lists: allowlisted hosts always pass;
    otherwise a host passes iff it is not blocklisted, its page-keep
    rate clears ``min_keep_rate`` and its dup rate stays under
    ``max_dup_rate`` — the RefinedWeb-style reputation gate. The
    lists are literal ``isin`` sets (curated lists are thousands of
    entries, driver-side literals broadcast with the plan); the
    verdict relation stays #hosts rows."""
    block = (F.col("host").isin(list(blocklist)) if blocklist
             else F.lit(False))
    allow = (F.col("host").isin(list(allowlist)) if allowlist
             else F.lit(False))
    keep = allow | (~block & (F.col("keep_rate") >= min_keep_rate)
                    & (F.col("dup_rate") <= max_dup_rate))
    return reputation.select("host", keep.alias("host_keep"))


def apply_host_policy(df: DataFrame, verdict: DataFrame,
                      host_col: str = "host") -> DataFrame:
    """Gate a document relation on a :func:`host_policy_verdict`
    relation: broadcast the #hosts-row verdict and left-join it onto
    the corpus (a host absent from the verdict — e.g. filtered out
    before reputation ran — fails closed). Adds ``host_keep``; the
    corpus side never shuffles."""
    v = F.broadcast(verdict.withColumnRenamed("host", host_col))
    out = df.join(v, host_col, "left")
    return out.withColumn(
        "host_keep", F.coalesce(F.col("host_keep"), F.lit(False)))


def host_policy_verdict_v2(reputation: DataFrame,
                           authority: DataFrame,
                           blocklist=(), allowlist=(),
                           min_keep_rate: float = 0.0,
                           max_dup_rate: float = 1.0,
                           min_rank: float = 0.0) -> DataFrame:
    """Two-signal host gate: content reputation
    (:func:`host_reputation`) COMPOSED with link-graph authority
    (:func:`structa_spark.operators.graph.pagerank` output as
    ``(host, rank)``). The v1 rule drops any host whose page-keep
    rate dips below threshold; but a heavily-linked host with a
    borderline content score is usually worth keeping (Common
    Crawl's own host ranking exists for exactly this), while the
    reverse — unlinked AND low-quality — is the classic spam-farm
    signature. So the drop condition becomes conjunctive:

    allowlisted hosts always pass; otherwise a host passes iff it is
    not blocklisted, its dup rate stays under ``max_dup_rate``
    (mirror farms are dropped regardless of who links them), and
    EITHER its keep rate clears ``min_keep_rate`` OR its authority
    clears ``min_rank``. A host absent from the link graph (no edges
    either way) carries rank 0 and must stand on content alone —
    fail-closed on the authority side.

    Returns ``(host, n_docs, keep_rate, dup_rate, rank, host_keep)``
    — still #hosts rows; both inputs are host-keyed relations
    orders of magnitude smaller than the corpus, so the join is
    trivially broadcastable and the corpus never shuffles."""
    block = (F.col("host").isin(list(blocklist)) if blocklist
             else F.lit(False))
    allow = (F.col("host").isin(list(allowlist)) if allowlist
             else F.lit(False))
    rank = F.coalesce(F.col("rank"), F.lit(0.0))
    keep = allow | (~block & (F.col("dup_rate") <= max_dup_rate)
                    & ((F.col("keep_rate") >= min_keep_rate)
                       | (rank >= min_rank)))
    return (reputation
            .join(F.broadcast(authority.select("host", "rank")),
                  "host", "left")
            .select("host", "n_docs", "keep_rate", "dup_rate",
                    rank.alias("rank"), keep.alias("host_keep")))


def nb_train(df: DataFrame, label_col: str = "lang",
             text_col: str = "text"):
    """'Train' a multinomial Naive Bayes document classifier — the
    counting-based quality/domain classifier of classic corpus
    curation (the pre-fasttext baseline of CCNet-style filtering):
    training is ONE aggregation pass, no iteration, no optimizer.

    Returns ``(cond, classes)``:

    * ``cond`` — (label, token, c): class-conditional token counts.
    * ``classes`` — (label, n_docs, n_tokens): per-class document
      and token totals (priors and smoothing denominators derive
      from these plus the corpus vocabulary size at predict time).

    Rows with a NULL label are ignored — an unlabeled document
    cannot define a class (and a null class name would poison the
    collected model at predict time).

    Scale shape: both outputs are pure groupBy counts over the
    (label, token) explosion — map-side partial aggregation absorbs
    the token hot-keys, and the model is vocabulary x classes, small
    enough to broadcast for any real label set.
    """
    labeled = df.where(F.col(label_col).isNotNull())
    toks = labeled.select(
        F.col(label_col).alias("label"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
    cond = toks.groupBy("label", "token").agg(
        F.count(F.lit(1)).alias("c"))
    classes = (labeled.groupBy(F.col(label_col).alias("label"))
               .agg(F.count(F.lit(1)).alias("n_docs"))
               .join(cond.groupBy("label")
                     .agg(F.sum("c").alias("n_tokens")),
                     "label", "left")
               .fillna(0, ["n_tokens"]))
    return cond, classes


_NB_COND_CACHE = _register_cell("text.nb_cond")


def nb_predict(df: DataFrame, cond: DataFrame, classes: DataFrame,
               id_col: str = "doc_id",
               text_col: str = "text",
               pre_aggregate: bool = True) -> DataFrame:
    """Score every document against a :func:`nb_train` model and
    pick the add-1-smoothed maximum-likelihood class:

    ``score(d, l) = ln(n_docs_l / N) - n_tok_d * ln(T_l + V)
                    + sum_t tf(d,t) * ln(c(l,t) + 1)``

    (the usual form regrouped so unseen tokens contribute ``ln(1)=0``
    and the unseen mass folds into the closed-form
    ``-n_tok * ln(T_l + V)`` term).

    The model's SMALL side (class priors/totals, vocabulary size) is
    collected eagerly — K rows plus two scalars, model-sized at any
    corpus scale — and folds into the expressions as literals; the
    vocabulary-sized conditional table pivots to one row per token
    (K count columns) and joins on the token key. Scoring is then
    ONE token-keyed join plus ONE doc-keyed aggregation, and the
    argmax is an ``array_min`` over per-class structs (round to 4
    decimals first, ties to the smallest label) — no window, no
    self-join, so the SAME plan runs on a STREAMING ``df`` against
    the static model (the production shape: train batch, score the
    stream). ``pre_aggregate=True`` (default) compresses tokens to
    (doc, token, tf) before the model join — the batch hot-key
    shape; pass ``False`` to join per token occurrence instead,
    keeping the plan to a single aggregation as Structured
    Streaming requires. Null text scores like an empty document
    (class-prior argmax). Returns (id, pred_label, score).
    """
    import math

    from pyspark import StorageLevel

    # cond is consumed three times (the classes totals it feeds, the
    # vocabulary count, and the pivot at score time), and each is a
    # full pass over the training explosion when cond is the lazy
    # nb_train plan — persist it so model derivation costs ONE
    # corpus pass. One-deep module cache, same lifecycle pattern as
    # bigram_logprob's tf relation (SQL cache entries are not
    # GC-cleaned; the next call evicts this one's).
    # drain the one-deep cache — EXCEPT when the cached relation is
    # this very cond (the train-once-score-many shape: unpersisting
    # it would throw away the materialization and recompute the
    # training explosion per call). A previous DIFFERENT model, or
    # one left behind while the caller pre-cached cond themselves,
    # is evicted so the bound holds.
    with _CACHE_LOCK:
        keep = None
        while _NB_COND_CACHE:
            prev = _NB_COND_CACHE.pop()
            if prev is cond:
                keep = prev
                continue
            try:
                prev.unpersist(False)
            except Exception:
                pass
        if keep is not None:
            _NB_COND_CACHE.append(keep)
        elif not cond.is_cached:
            cond = cond.persist(StorageLevel.MEMORY_AND_DISK)
            _NB_COND_CACHE.append(cond)

    cls_rows = sorted(classes.collect(), key=lambda r: r.label)
    if not cls_rows:
        raise ValueError("nb_predict: empty class table")
    labels = [r.label for r in cls_rows]
    n_total = float(sum(r.n_docs for r in cls_rows))
    # max(V, 1): an all-empty training corpus must not put ln(0)
    # (-> null scores) into every expression
    v = max(float(cond.select("token").distinct().count()), 1.0)
    wide = (cond.groupBy("token").pivot("label", labels)
            .agg(F.first("c"))
            .toDF("token", *[f"__c{i}" for i in range(len(labels))]))

    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = df.select(
        F.col(id_col),
        F.explode_outer(tokens(F.lower(txt))).alias("token"))
    if pre_aggregate:
        rel = toks.groupBy(id_col, "token").agg(
            F.count("token").alias("tf"))
    else:
        rel = toks.withColumn(
            "tf", F.when(F.col("token").isNotNull(),
                         F.lit(1)).otherwise(F.lit(0)))
    j = rel.join(wide, "token", "left")
    aggs = [F.sum("tf").alias("n_tok")]
    for i in range(len(labels)):
        aggs.append(
            F.sum(F.col("tf")
                  * F.log(F.coalesce(F.col(f"__c{i}"), F.lit(0)) + 1))
            .alias(f"__s{i}"))
    per = j.groupBy(id_col).agg(*aggs)

    structs = []
    for i, (lab, row) in enumerate(zip(labels, cls_rows)):
        prior = math.log(row.n_docs / n_total)
        denom = math.log(float(row.n_tokens) + v)
        score = F.round(F.lit(prior)
                        - F.col("n_tok") * F.lit(denom)
                        + F.col(f"__s{i}"), 4)
        structs.append(F.struct((-score).alias("neg"),
                                F.lit(lab).alias("lab"),
                                score.alias("sc")))
    pick = F.array_min(F.array(*structs))
    return per.select(F.col(id_col),
                      pick["lab"].alias("pred_label"),
                      pick["sc"].alias("score"))


def code_quality_flags(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       max_line_len: int = 1000,
                       max_avg_line_len: int = 100,
                       min_alnum_frac: float = 0.25) -> DataFrame:
    """StarCoder/BigCode-style source-file quality screen — the
    line-geometry battery a CODE-corpus pipeline runs where a prose
    pipeline runs C4/Gopher: machine-generated and minified files
    betray themselves by line shape (one 40 kB line, or thousands of
    uniform 800-char lines) and by symbol soup (low alphanumeric
    fraction), long before any learned filter.

    Per document: ``n_lines`` (newline-split, empty lines count),
    ``max_line_len``, ``avg_line_len`` (sum of line lengths over
    line count, 4 dp — newlines excluded from both sides),
    ``alnum_frac`` / ``alpha_frac`` (ASCII-class character fractions
    of the whole text, 6 dp), and ``code_keep`` = within all three
    thresholds (empty text keeps: no evidence). Pure split /
    transform / aggregate / regexp expressions — one codegen
    projection, no shuffle, no Python; every count is integer-exact
    so the SQL oracle replays the fractions digit for digit."""
    from .dedup import _bind

    def build(lines):
        lens = F.transform(lines, F.length)
        n_lines = F.size(lines)
        total = F.aggregate(lens, F.lit(0).cast("long"),
                            lambda acc, x: acc + x)
        return F.struct(
            n_lines.cast("int").alias("n_lines"),
            F.array_max(lens).cast("int").alias("max_line_len"),
            F.round(total / n_lines, 4).alias("avg_line_len"),
        )

    geo = _bind(F.split(F.col(text_col), "\n"), build)
    t = F.col(text_col)
    n_chars = F.length(t)
    alnum = F.length(F.regexp_replace(t, "[^A-Za-z0-9]", ""))
    alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    alnum_frac = F.when(n_chars > 0,
                        F.round(alnum.cast("double") / n_chars, 6)) \
        .otherwise(F.lit(0.0))
    alpha_frac = F.when(n_chars > 0,
                        F.round(alpha.cast("double") / n_chars, 6)) \
        .otherwise(F.lit(0.0))
    keep = F.when(
        n_chars == 0, F.lit(True)).otherwise(
        (geo["max_line_len"] <= F.lit(max_line_len))
        & (geo["avg_line_len"] <= F.lit(float(max_avg_line_len)))
        & (alnum_frac >= F.lit(float(min_alnum_frac))))
    return df.select(
        F.col(id_col),
        geo["n_lines"].alias("n_lines"),
        geo["max_line_len"].alias("max_line_len"),
        geo["avg_line_len"].alias("avg_line_len"),
        alnum_frac.alias("alnum_frac"),
        alpha_frac.alias("alpha_frac"),
        keep.alias("code_keep"))


def luhn_card_scan(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Payment-card PII scan with Luhn validation — the high-stakes
    scrubbing class beside :func:`pii_signals`'s email/phone/IP
    (a 16-digit run is usually an id or a hash; only a LUHN-VALID
    run is treated as a card): extract every 13-19 digit run, apply
    the Luhn mod-10 checksum to each, and report
    ``(id, n_digit_runs, n_luhn_valid, has_card)``.

    The checksum is a pure higher-order-function fold (sequence +
    aggregate over digit positions: double every second digit from
    the right, subtract 9 above 9, sum mod 10) — integer arithmetic
    end to end inside one codegen projection, no shuffle, no Python,
    and the identical fold replays in the SQL oracle's list lambda.
    Candidate runs are MAXIMAL digit runs (the text splits on
    non-digits), so a 20-digit run contains no card — the standard
    false-positive guard — and adjacent runs separated by one
    delimiter are both seen."""
    t = F.col(text_col)
    runs = F.split(t, "[^0-9]+")
    cands = F.filter(runs, lambda s: (F.length(s) >= 13)
                     & (F.length(s) <= 19))

    def luhn_valid(s):
        n = F.length(s)

        def contrib(i):
            d = F.ascii(F.substr(s, i, F.lit(1))) - 48
            doubled = d * 2
            return F.when(((n - i) % 2) == 1,
                          F.when(doubled > 9, doubled - 9)
                          .otherwise(doubled)).otherwise(d)

        total = F.aggregate(F.sequence(F.lit(1), n), F.lit(0),
                            lambda acc, i: acc + contrib(i))
        return (total % 10) == 0

    valid = F.filter(cands, luhn_valid)
    return df.select(
        F.col(id_col),
        F.size(cands).cast("int").alias("n_digit_runs"),
        F.size(valid).cast("int").alias("n_luhn_valid"),
        (F.size(valid) > 0).alias("has_card"))


def iban_scan(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """IBAN PII scan with the ISO 13616 mod-97 checksum — the
    bank-account class beside :func:`luhn_card_scan`'s payment
    cards (an IBAN-shaped token is usually a reference id; only a
    checksum-valid one is an account): extract every
    country-code + check-digit + BBAN candidate, rearrange (first 4
    chars to the end), expand letters to two-digit values (A=10 ..
    Z=35), and fold ``acc = (acc*10 + digit) % 97`` over the digit
    stream — valid iff the residue is 1. Reports
    ``(id, n_candidates, n_valid, has_iban)``.

    The whole validation is higher-order-function integer
    arithmetic (transform + aggregate over the candidate's chars)
    inside one codegen projection — no shuffle, no Python, and the
    identical fold replays in a SQL list_reduce. Candidates are
    MAXIMAL [A-Z0-9] runs of plausible IBAN length (15-34) starting
    with two letters + two digits, so substrings of longer
    alphanumeric ids never half-match."""
    t = F.col(text_col)
    runs = F.split(t, "[^A-Z0-9]+")
    cands = F.filter(
        runs, lambda s: (F.length(s) >= 15) & (F.length(s) <= 34)
        & s.rlike("^[A-Z]{2}[0-9]{2}[A-Z0-9]+$"))

    def mod97_valid(s):
        rearranged = F.concat(F.substr(s, F.lit(5)),
                              F.substr(s, F.lit(1), F.lit(4)))

        def step(acc, i):
            a = F.ascii(F.substr(rearranged, i, F.lit(1)))
            v = a - 55
            # digit: one fold step; letter: its two digits (v in
            # 10..35, no overflow before the single mod — acc stays
            # < 97, so the pre-mod maximum is 9 639)
            return (F.when(a <= 57, (acc * 10 + (a - 48)) % 97)
                    .otherwise(((acc * 10
                                 + F.floor(v / 10).cast("int")) * 10
                                + v % 10) % 97))

        total = F.aggregate(
            F.sequence(F.lit(1), F.length(rearranged)), F.lit(0),
            step)
        return total == 1

    valid = F.filter(cands, mod97_valid)
    return df.select(
        F.col(id_col),
        F.size(cands).cast("int").alias("n_candidates"),
        F.size(valid).cast("int").alias("n_valid"),
        (F.size(valid) > 0).alias("has_iban"))


def _round6(x: float) -> float:
    """Half-away-from-zero rounding to 6 dp on the binary double —
    the ROUND semantics of both Spark SQL and DuckDB (Python's
    built-in ``round`` is banker's and would drift at exact
    boundaries)."""
    import math
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6


def _r6v(v):
    """Vectorized half-away-from-zero 6-dp round — the same three IEEE
    ops as :func:`_round6` / Spark ROUND, elementwise."""
    import numpy as np
    return np.copysign(np.floor(np.abs(v) * 1e6 + 0.5), v) / 1e6


def _sigmoid(z):
    """Elementwise logistic ``1 / (1 + e^-z)`` over a float64 array.
    The exponent is clipped at the float64 limit (about 709.78): past
    it ``e^-z`` overflows to inf, and numpy warns, while the clipped
    value is below 1e-308 and rounds to the same 0.0 on the 6-dp
    grid."""
    import numpy as np
    limit = np.log(np.finfo(np.float64).max)
    return 1.0 / (1.0 + np.exp(np.minimum(-z, limit)))


def _hashed_lift_features(df: DataFrame, n_buckets: int,
                          id_col: str, text_col: str) -> DataFrame:
    """Hashed-token "bucket lift" features for the logistic quality
    filter: ``x = round(n_buckets * tf_bucket / n_tokens, 6)`` —
    the L1-normalized share scaled by the bucket count, so a
    uniformly-spread document reads 1.0 in every active bucket.
    The scaling matters for training dynamics: with raw L1 shares
    the per-bucket gradient is ~1/n_buckets of the bias gradient
    and no single learning rate serves both; lift equalizes them.
    ``n_buckets`` must be a power of two so the scale factor is
    exact in binary and the SQL replay (which multiplies before
    dividing, same op order) is bit-compatible."""
    if n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets must be a power of two: "
                         f"{n_buckets}")
    # the per-document normalizer is simply the token count, known
    # BEFORE the explode from the array size — riding it through the
    # (id, bucket) aggregation as a grouping-constant saves the
    # window pass (a second exchange + sort by id) the prior shape
    # paid to re-derive it as sum(c) over partitionBy(id)
    base = df.select(
        F.col(id_col),
        tokens(F.lower(F.col(text_col))).alias("__toks__"))
    toks = base.select(
        F.col(id_col),
        F.size("__toks__").alias("__n__"),
        F.explode("__toks__").alias("token"))
    bucket = (md5_long(F.col("token")) % n_buckets).cast("int")
    counts = (toks.select(id_col, "__n__", bucket.alias("bucket"))
              .groupBy(id_col, "bucket")
              .agg(F.count(F.lit(1)).alias("c"),
                   F.max("__n__").alias("__n__")))
    return counts.select(
        id_col, "bucket",
        F.round(F.lit(float(n_buckets)) * F.col("c")
                / F.col("__n__"), 6)
        .alias("x"))


def logistic_quality_train(df: DataFrame, label_col: str = "label",
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           n_buckets: int = 256, iters: int = 12,
                           lr: float = 2.0):
    """Train the DCLM/fastText-shape discriminative quality filter —
    a logistic scorer over hashed n-gram (here: hashed-token)
    features, the industry-standard page-quality gate trained on
    "good reference pages vs raw crawl" labels — by a FIXED number of
    deterministic full-batch gradient steps. Returns ``(weights,
    bias)``: a ``n_buckets``-long list plus a float, model-sized at
    any corpus scale.

    Determinism contract (what lets an external SQL oracle replay
    every update, the ``pagerank``-unrolled-iterations discipline):
    features are :func:`_hashed_lift_features` (md5 buckets, 6-dp
    bucket-lift values); each step rounds per-term products, the
    per-document margin, the sigmoid, the per-bucket gradient and
    the updated weights to 6 dp, half away from zero, in the
    identical order on both engines. Weights start at zero (the
    first sigmoid is exactly 0.5 everywhere), so step 1 is
    engine-independent by construction. Documents with no tokens
    carry no feature rows and drop from training (they provide no
    gradient signal beyond the bias, and keeping them would make N
    depend on null-text semantics).

    Scale shape (reworked in optimization round 11): the feature
    relation folds to ONE cached row per document — ``(id, y,
    features: array<struct<bucket,x>>)``, bucket-sorted, bounded by
    ``n_buckets`` elements — so each step is a single pass over the
    doc-row cache: the margin is a per-row fold over the feature
    array (no doc-keyed aggregation, no join), the per-bucket
    gradient is one explode into a map-side partial aggregation
    whose exchange carries <= partitions x n_buckets rows, the bias
    gradient is a scan-level sum, and the step's ONE action collects
    <= n_buckets + 1 rows — the driver only ever holds the model
    (the unigram-EM posture). The prior shape (per-step doc-keyed
    agg + co-keyed join over (doc, bucket) feature rows; two collect
    actions per step) paid ~6 stages and two full feature shuffles
    per step because AQE hides cached partitioning from downstream
    exchanges-reuse.
    """
    from pyspark import StorageLevel

    labels = df.select(
        F.col(id_col),
        F.col(label_col).cast("double").alias("__y__"))
    sfx = F.sort_array(F.collect_list(
        F.struct(F.col("bucket"), F.col("x"))))
    # the cache holds the bucket ids and lift values as PRIMITIVE
    # arrays (bucket-sorted, parallel) so each step's Arrow pass
    # reads two contiguous buffers instead of a list-of-structs
    feats = (_hashed_lift_features(df, n_buckets, id_col, text_col)
             .groupBy(id_col)
             .agg(sfx.alias("__s__"))
             .select(
                 F.col(id_col),
                 F.transform("__s__", lambda s: s["bucket"])
                 .alias("__fb__"),
                 F.transform("__s__", lambda s: s["x"])
                 .alias("__fxv__"))
             .join(labels, id_col)
             .select("__fb__", "__fxv__", "__y__")
             .persist(StorageLevel.MEMORY_AND_DISK))
    n = feats.count()
    if n == 0:
        feats.unpersist()
        raise ValueError("logistic_quality_train: no labeled "
                         "documents with tokens")
    # The training loop launches one scan of this cache per gradient
    # step; a step's per-document work is a few hundred float ops, so
    # on a small corpus the cache's inherited partition count (the
    # session's parallelism) leaves every step paying ~partitions
    # task launches for microseconds of math each. Fold the cached
    # rows to a rows-per-task floor — a no-op whenever the cache is
    # already at or below that many partitions (any real scale, where
    # coalesce cannot raise the count and per-partition work is
    # real). Partial-merge order changes are immaterial here: every
    # summed term is on the 6-dp grid (the oracle-replay property the
    # step already relies on).
    step_src = feats.coalesce(max(1, min(
        feats.rdd.getNumPartitions(), (n + 2047) // 2048)))

    import numpy as np
    import pandas as pd

    w = [0.0] * n_buckets
    b = 0.0
    for _ in range(iters):
        # ONE Arrow pass per step (optimization guide §4.2): margin,
        # sigmoid, residual and the per-bucket gradient PARTIALS all
        # evaluate vectorized per batch; only (n_buckets + 1) partial
        # rows per batch reach the final bucket-keyed aggregation,
        # and the step's single action collects <= n_buckets + 1
        # rows. Every rounded quantity replays the identical ladder
        # (per-term round -> margin round -> sigmoid round); the
        # sums are sums of 6-dp-grid terms, which round identically
        # under ANY association order — the property the DuckDB
        # oracle (which aggregates in its own order) already relies
        # on. The prior shape paid an interpreted CodegenFallback
        # fold per document for the margin plus a full explode of
        # the feature rows per step.
        wv = np.array(w, dtype=np.float64)
        bias = float(b)

        def partials(batches, wv=wv, bias=bias):
            for pdf in batches:
                nb = len(pdf)
                if not nb:
                    continue
                bl = pdf["__fb__"]
                xl = pdf["__fxv__"]
                y = pdf["__y__"].to_numpy(dtype=np.float64)
                lens = np.fromiter((len(a) for a in bl), dtype=np.int64,
                                   count=nb)
                flatb = (np.concatenate(list(bl)) if lens.sum()
                         else np.zeros(0, dtype=np.int64)).astype(np.int64)
                flatx = (np.concatenate(list(xl)) if lens.sum()
                         else np.zeros(0, dtype=np.float64)).astype(np.float64)
                terms = _r6v(wv[flatb] * flatx)
                offs = np.zeros(nb, dtype=np.int64)
                np.cumsum(lens[:-1], out=offs[1:])
                msum = np.add.reduceat(terms, offs) if len(terms) \
                    else np.zeros(nb)
                msum = np.where(lens > 0, msum, 0.0)
                m = _r6v(msum)
                p = _r6v(_sigmoid(m + bias))
                r = p - y
                rterms = _r6v(np.repeat(r, lens) * flatx)
                g = np.bincount(flatb, weights=rterms,
                                minlength=n_buckets)
                yield pd.DataFrame({
                    "bucket": np.concatenate(
                        [np.arange(n_buckets, dtype=np.int64),
                         np.array([-1], dtype=np.int64)]),
                    "gs": np.concatenate([g, [float(r.sum())]]),
                })

        g = (step_src.mapInPandas(partials, "bucket long, gs double")
             .groupBy("bucket")
             .agg(F.round(F.sum("gs") / n, 6).alias("g")))
        rows = {r["bucket"]: r["g"] for r in g.collect()}
        bg = rows.pop(-1, 0.0)
        w = [_round6(wi - lr * rows.get(bi, 0.0))
             for bi, wi in enumerate(w)]
        b = _round6(b - lr * bg)
    feats.unpersist()
    return w, b


def logistic_quality_scores(df: DataFrame, weights, bias: float,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            threshold: float = 0.5) -> DataFrame:
    """Score every document under a :func:`logistic_quality_train`
    model: ``(id, qc_margin, qc_score, qc_keep)`` with the same 6-dp
    rounding ladder as training (margin -> sigmoid -> threshold).
    The model ships as LITERALS inside one projection (broadcast by
    value with the plan — no join for the weights); scoring is the
    feature aggregation plus one doc-keyed left join back to the
    corpus so token-less documents score at the bias prior instead
    of dropping.

    STREAMING twin: on a streaming ``df`` the same call switches to
    a pure-projection higher-order-function path — per document, the
    bucket array folds to the margin with the IDENTICAL rounding
    ladder (per-bucket lift -> per-term product -> margin, all 6 dp)
    but zero aggregations, so it runs append-mode with no state (the
    production "train batch, score the stream" shape). Token-less
    documents score at the bias prior on both paths. The fold visits
    each distinct bucket once and counts it with an array filter —
    O(distinct_buckets x tokens) per document, the right trade for a
    stateless stream operator."""
    n_buckets = len(weights)
    warr = F.lit([float(wi) for wi in weights])
    if df.isStreaming:
        from .dedup import _bind

        def margin_of(toks):
            barr = F.transform(
                toks,
                lambda t: (md5_long(t) % n_buckets).cast("int"))
            n = F.size(barr)

            def build(b):
                tf = F.size(F.filter(barr, lambda e: e == b))
                x = F.round(F.lit(float(n_buckets)) * tf / n, 6)
                return F.round(F.element_at(warr, b + 1) * x, 6)

            return F.when(
                n > 0,
                F.round(F.aggregate(F.array_distinct(barr),
                                    F.lit(0.0),
                                    lambda acc, b: acc + build(b)),
                        6)).otherwise(F.lit(0.0))

        m = _bind(tokens(F.lower(F.col(text_col))), margin_of)
        score = F.round(
            F.lit(1.0) / (F.lit(1.0)
                          + F.exp(-(m + F.lit(float(bias))))), 6)
        return df.select(F.col(id_col), m.alias("qc_margin"),
                         score.alias("qc_score"),
                         (score >= F.lit(float(threshold)))
                         .alias("qc_keep"))
    feats = _hashed_lift_features(df, n_buckets, id_col, text_col)
    term = F.round(F.element_at(warr, F.col("bucket") + 1)
                   * F.col("x"), 6)
    per_doc = (feats.groupBy(id_col)
               .agg(F.round(F.sum(term), 6).alias("__m__")))
    m = F.coalesce(F.col("__m__"), F.lit(0.0))
    score = F.round(F.lit(1.0) / (F.lit(1.0)
                                  + F.exp(-(m + F.lit(float(bias))))),
                    6)
    return (df.select(id_col).join(per_doc, id_col, "left")
            .select(F.col(id_col), m.alias("qc_margin"),
                    score.alias("qc_score"),
                    (score >= F.lit(float(threshold)))
                    .alias("qc_keep")))


def chunk_windows(df: DataFrame, size: int = 32, stride: int = 16,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Sliding-window chunking with overlap — the context-window
    builder of LLM training and RAG indexing (``stride < size``
    gives overlapping windows so no span is ever split across a
    boundary without also appearing whole in some window;
    ``stride == size`` degrades to :func:`chunk_passages`).

    Returns ``(id, win_idx, start_tok, n_win_tokens, passage)``:
    window ``i`` starts at token ``i * stride`` and carries up to
    ``size`` tokens; trailing windows may be short (callers filter
    ``n_win_tokens`` if they need full windows only). An empty
    document yields no windows.

    Pure expression + ``posexplode`` — no shuffle, pipelines into
    the scan; output rows ≈ total tokens / stride.
    """
    if size < 1 or stride < 1:
        raise ValueError(f"size and stride must be >= 1: "
                         f"{size}/{stride}")
    from .dedup import _bind

    # Let-bind the token array (and with it the size n): the
    # per-window struct lambda otherwise re-tokenizes — and
    # re-derives n — once per window.
    def build(tv):
        n = F.size(tv)
        starts = F.when(n > 0, F.sequence(
            F.lit(0), n - 1, F.lit(stride))) \
            .otherwise(F.array().cast("array<int>"))
        return F.transform(starts, lambda s: F.struct(
            s.alias("start_tok"),
            F.least(F.lit(size), n - s).alias("n_win_tokens"),
            F.concat_ws(" ", F.slice(tv, s + 1, size))
            .alias("passage")))

    wins = _bind(tokens(F.lower(F.col(text_col))), build)
    return (df.select(F.col(id_col),
                      F.posexplode(wins).alias("win_idx", "w"))
            .select(id_col, "win_idx",
                    F.col("w.start_tok").cast("int").alias("start_tok"),
                    F.col("w.n_win_tokens").cast("int")
                    .alias("n_win_tokens"),
                    F.col("w.passage").alias("passage")))


def blocklist_screen(df: DataFrame, terms, text_col: str = "text",
                     id_col: str = "doc_id",
                     max_hit_frac: float = 0.01) -> DataFrame:
    """Lexicon blocklist screen — the standard safety/NSFW gate of
    web-corpus pipelines (C4 dropped pages containing any
    "bad-words-list" term; RefinedWeb/Dolma keep per-document hit
    RATES so borderline pages are tunable rather than binary): count
    lowercase whitespace tokens that appear in ``terms`` and flag
    documents whose hit fraction exceeds ``max_hit_frac`` (any hit
    fails when ``max_hit_frac`` is 0.0 — the strict C4 rule).

    Returns ``(id, n_tokens, n_hits, hit_frac, blocklist_keep)``;
    ``hit_frac`` rounds to 6 dp, empty documents keep (no evidence).

    Scale shape: the lexicon (thousands of terms at most) ships as an
    ``isin`` predicate that Catalyst rewrites to ``InSet`` — a
    hash-set membership probe, O(1) per token regardless of lexicon
    size, carried as one set reference rather than inlined
    per-element comparisons (no codegen bloat at thousands of
    terms); no join, no shuffle — the screen stays one scan like the
    other quality batteries and composes with them in the same
    pass."""
    term_list = sorted({str(t).lower() for t in terms})
    toks = tokens(F.lower(F.col(text_col)))
    if term_list:
        hits = F.size(F.filter(toks, lambda t: t.isin(*term_list)))
    else:
        hits = F.lit(0)
    n = F.size(toks)
    frac = F.when(n > 0, F.round(hits.cast("double") / n, 6)) \
        .otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        hits.cast("long").alias("n_hits"),
        frac.alias("hit_frac"),
        (frac <= F.lit(float(max_hit_frac))).alias("blocklist_keep"))


def markdown_visible_text(col: Column) -> Column:
    """Visible text from a Markdown column — the GitHub/docs-dump
    twin of :func:`html_visible_text`: drop fenced code blocks and
    inline code, strip images, unwrap links to their anchor text,
    remove heading/emphasis/blockquote/list markers and table pipes
    and horizontal rules, collapse whitespace. Pure built-in
    regexp/replace expressions (JVM-side, whole-stage codegen, no
    Python in the hot path), no backreferences or lookarounds, so
    the same chain replays on RE2-based engines (the DuckDB oracle).
    Deliberately the crude-but-scalable extractor — rendering
    fidelity is not the goal, token recovery for the quality/dedup
    ladder is."""
    # fenced code blocks first (``` ... ```), then inline code spans
    t = F.regexp_replace(col, r"(?s)```.*?```", " ")
    t = F.regexp_replace(t, r"`[^`]*`", " ")
    # images entirely, links to their anchor text: two passes —
    # capture-free deletes of the url half keep it RE2-replayable
    t = F.regexp_replace(t, r"!\[[^\]]*\]\([^)]*\)", " ")
    t = F.regexp_replace(t, r"\]\([^)]*\)", " ")
    t = F.regexp_replace(t, r"\[", " ")
    t = F.regexp_replace(t, r"\]", " ")
    # heading / blockquote / list markers at line starts; hrules;
    # table pipes; emphasis runs
    t = F.regexp_replace(t, r"(?m)^[ \t]*#{1,6}[ \t]*", " ")
    t = F.regexp_replace(t, r"(?m)^[ \t]*>[ \t]*", " ")
    t = F.regexp_replace(t, r"(?m)^[ \t]*[-*+][ \t]+", " ")
    t = F.regexp_replace(t, r"(?m)^[ \t]*[0-9]+\.[ \t]+", " ")
    t = F.regexp_replace(t, r"(?m)^[ \t]*([-*_][ \t]*){3,}$", " ")
    t = F.regexp_replace(t, r"\|", " ")
    t = F.regexp_replace(t, r"[*_]{1,3}", "")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


#: Environments whose BODY is dropped whole by latex_visible_text
#: (math, floats, verbatim code): rendered content is not prose.
_LATEX_DROP_ENVS = ("equation", "align", "eqnarray", "gather",
                    "figure", "table", "tabular", "verbatim",
                    "lstlisting", "tikzpicture")

#: Commands whose braced argument is NOT prose (labels, keys, paths,
#: preamble) — dropped argument and all.
_LATEX_DROP_CMDS = ("documentclass|usepackage|label|ref|eqref|"
                    "pageref|cite[a-zA-Z]*|bibliographystyle|"
                    "bibliography|includegraphics|input|include|"
                    "vspace|hspace|newcommand|renewcommand|"
                    "setlength")


def latex_visible_text(col: Column) -> Column:
    """Visible text from a LaTeX column — the arXiv-dump twin of
    :func:`markdown_visible_text`, the crude-but-scalable extractor a
    pretraining pipeline runs over paper sources: drop comments, math
    (``$...$``, ``$$...$$``, ``\\[...\\]``, ``\\(...\\)`` and the
    math/float/verbatim environments), drop non-prose command
    arguments (labels, cite keys, graphics paths, preamble), unwrap
    every other command to its braced argument (``\\section{Intro}``
    -> ``Intro``), honor ``\\%`` / ``\\$`` / ``\\&`` / ``\\_`` /
    ``\\#`` escapes, collapse whitespace. Escaped ``%`` and ``$``
    detour through control-character placeholders so the comment and
    math passes cannot eat them — no lookbehinds, no backreferences,
    so the identical patterns replay on RE2 engines (the DuckDB
    oracle). Pure JVM regexp chain in one codegen projection."""
    # escaped % and $ out of the way of the comment/math passes
    t = F.regexp_replace(col, r"\\%", "\u0001")
    t = F.regexp_replace(t, r"\\\$", "\u0002")
    t = F.regexp_replace(t, r"(?m)%[^\n]*", " ")
    for env in _LATEX_DROP_ENVS:
        t = F.regexp_replace(
            t, rf"(?s)\\begin\{{{env}\*?\}}.*?\\end\{{{env}\*?\}}",
            " ")
    t = F.regexp_replace(t, r"(?s)\$\$.*?\$\$", " ")
    t = F.regexp_replace(t, r"(?s)\\\[.*?\\\]", " ")
    t = F.regexp_replace(t, r"\$[^$\n]*\$", " ")
    t = F.regexp_replace(t, r"(?s)\\\(.*?\\\)", " ")
    t = F.regexp_replace(
        t, rf"\\({_LATEX_DROP_CMDS})(\[[^\]]*\])?\{{[^{{}}]*\}}", " ")
    t = F.regexp_replace(t, r"\\(begin|end)\{[a-zA-Z*]+\}", " ")
    t = F.regexp_replace(t, r"\\\\", " ")
    t = F.regexp_replace(t, r"\\&", "&")
    t = F.regexp_replace(t, r"\\_", "_")
    t = F.regexp_replace(t, r"\\#", "#")
    t = F.regexp_replace(t, r"\\[a-zA-Z]+\*?(\[[^\]]*\])?", " ")
    t = F.regexp_replace(t, r"[{}]", "")
    t = F.regexp_replace(t, r"~", " ")
    t = F.regexp_replace(t, "\u0001", "%")
    # "$" is a group reference in Java replacement strings: escape it
    t = F.regexp_replace(t, "\u0002", "\\$")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def compression_ratio_screen(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id",
                             min_ratio: float = 0.25,
                             level: int = 6) -> DataFrame:
    """zlib compression-ratio quality screen — the repetitiveness
    proxy web-corpus pipelines run beside the n-gram signals (a page
    that deflates to a tiny fraction of itself is boilerplate,
    keyword stuffing or generator spam; natural prose compresses to
    roughly 0.3-0.5): ``ratio = compressed_len / utf8_len`` at a
    fixed deflate ``level``, flagged against ``min_ratio``.

    Returns ``(id, n_bytes, n_compressed, ratio, compression_keep)``;
    ``ratio`` rounds to 6 dp, empty documents keep (no evidence).
    zlib's output is deterministic for a fixed level and library
    version; the unit tests pin crafted repetitive-vs-natural
    orderings, and the registry entry hash-checks against a
    fixture-time sidecar of expected byte counts (DuckDB exposes no
    deflate, so ``scripts/gen_compression_sidecar.py`` precomputes
    them once with this same pinned call).

    Scale shape: one Arrow-batched projection (deflate is CPU-bound
    per row, exactly the decompress_payloads posture), no shuffle."""
    import zlib

    import pandas as pd

    def batches(it):
        for pdf in it:
            out = []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                raw = (txt or "").encode("utf-8")
                n = len(raw)
                if n == 0:
                    out.append((int(i), 0, 0, 0.0, True))
                    continue
                c = len(zlib.compress(raw, level))
                import math
                ratio = math.floor(c / n * 1e6 + 0.5) / 1e6
                out.append((int(i), n, c, ratio,
                            ratio >= float(min_ratio)))
            yield pd.DataFrame(
                out, columns=[id_col, "n_bytes", "n_compressed",
                              "ratio", "compression_keep"])

    return df.mapInPandas(
        batches, schema=(f"{id_col} long, n_bytes long, "
                         "n_compressed long, ratio double, "
                         "compression_keep boolean"))


# ---------------------------------------------------------------------------
# subtitle (SRT / WebVTT) cue parsing — the video/speech landing zone
# ---------------------------------------------------------------------------

_SUBTITLE_ARROW = r"-->"
# optional hours (WebVTT allows MM:SS.mmm), comma or dot millis
_SUBTITLE_TIME = (r"(?:(\d{1,2}):)?(\d{2}):(\d{2})[.,](\d{3})"
                  r"\s*-->\s*"
                  r"(?:(\d{1,2}):)?(\d{2}):(\d{2})[.,](\d{3})")


def _subtitle_ms(hh: Column, mm: Column, ss: Column,
                 mmm: Column) -> Column:
    """Clock fields -> milliseconds; absent hours (the short WebVTT
    form) count as zero. regexp_extract yields '' for an unmatched
    optional group, so try_cast + coalesce, never cast."""
    h = F.coalesce(hh.try_cast("long"), F.lit(0))
    return ((h * 3600 + mm.try_cast("long") * 60
             + ss.try_cast("long")) * 1000
            + mmm.try_cast("long"))


def subtitle_cues(df: DataFrame, col: str = "text",
                  keep_cols=("doc_id",)) -> DataFrame:
    """Parse SRT / WebVTT subtitle documents into timed cues — the
    ingest step a video-speech pipeline runs before aligning
    transcripts with audio segments (:func:`~.multimodal
    .audio_vad_segments` is the signal-side twin).

    One row per cue: ``keep_cols`` passthrough, ``cue_idx``
    (0-based, file order), ``start_ms``/``end_ms``, ``cue_text``
    (multi-line payload, newlines preserved). Handled per spec:
    the ``WEBVTT`` header and ``NOTE`` comment blocks (no ``-->``,
    filtered before numbering), SRT's numeric counter line and
    WebVTT's optional cue-id line (both stripped by the
    up-to-timing-line cut), comma (SRT) or dot (VTT) millisecond
    separators, and hour-less WebVTT timestamps.

    Scale shape: split -> array ``filter`` -> ``posexplode`` ->
    regexp projections, all JVM codegen — a shard of subtitle files
    flattens to a cue relation with zero shuffles and no Python.
    """
    blocks = F.split(F.col(col), r"\r?\n[ \t]*\r?\n")
    cues = F.filter(blocks,
                    lambda b: b.rlike(_SUBTITLE_ARROW))
    base = df.select(*keep_cols,
                     F.posexplode(cues).alias("cue_idx", "__b"))
    b = F.col("__b")
    # cut everything through the end of the timing line (non-greedy:
    # stops at the FIRST -->), leaving the payload lines
    payload = F.regexp_replace(b, r"(?s)^.*?-->[^\n]*\n?", "")
    g = [F.regexp_extract(b, _SUBTITLE_TIME, i) for i in range(9)]
    return base.select(
        *keep_cols, "cue_idx",
        _subtitle_ms(g[1], g[2], g[3], g[4]).alias("start_ms"),
        _subtitle_ms(g[5], g[6], g[7], g[8]).alias("end_ms"),
        payload.alias("cue_text"),
    )


# ---------------------------------------------------------------------------
# code-corpus license screen (SPDX tag + header-phrase fallback)
# ---------------------------------------------------------------------------

_SPDX_RE = r"SPDX-License-Identifier:\s*([A-Za-z0-9.+-]+)"


def license_screen(df: DataFrame, col: str = "text",
                   keep_cols=("doc_id",),
                   head_chars: int = 2000) -> DataFrame:
    """The-Stack-style license gate for code corpora: read the SPDX
    tag when present, else classify the header comment by license
    phrase, and keep only permissively-licensed files.

    Output per file: ``keep_cols``, ``spdx_id`` (null when untagged),
    ``license_family`` in {permissive, weak_copyleft, copyleft,
    proprietary, unknown} and ``license_ok`` (the permissive-only
    allowlist verdict the Stack/StarCoder pipelines apply).

    Only the first ``head_chars`` characters are scanned for the
    phrase fallback — license headers live at the top of the file,
    and bounding the scan keeps the screen linear in files, not
    bytes. Single-scan codegen projection: no join, no shuffle, no
    Python; at 100 TB this is a mapper fused into the ingest scan.
    """
    spdx = F.nullif(F.regexp_extract(F.col(col), _SPDX_RE, 1),
                    F.lit(""))
    head = F.lower(F.substring(F.col(col), 1, head_chars))
    fam = (
        F.when(spdx.rlike(r"(?i)^(MIT|ISC|0BSD|Zlib|Unlicense"
                          r"|BSD-[23]-Clause|Apache-2\.0)"),
               F.lit("permissive"))
        .when(spdx.rlike(r"(?i)^(LGPL|MPL|EPL)"),
              F.lit("weak_copyleft"))
        .when(spdx.rlike(r"(?i)^(GPL|AGPL|SSPL|CC-BY-SA)"),
              F.lit("copyleft"))
        .when(spdx.isNotNull(), F.lit("unknown"))
        .when(head.contains("apache license")
              | head.contains("mit license")
              | head.contains("bsd license"),
              F.lit("permissive"))
        .when(head.contains("gnu lesser general public license")
              | head.contains("mozilla public license"),
              F.lit("weak_copyleft"))
        .when(head.contains("gnu general public license")
              | head.contains("gnu affero"),
              F.lit("copyleft"))
        .when(head.contains("all rights reserved"),
              F.lit("proprietary"))
        .otherwise(F.lit("unknown")))
    return df.select(
        *keep_cols,
        spdx.alias("spdx_id"),
        fam.alias("license_family"),
        (fam == "permissive").alias("license_ok"),
    )


# ---------------------------------------------------------------------------
# SFT conversation shaping (chat-template render + structure checks)
# ---------------------------------------------------------------------------

def render_chat(turns: Column, start_tok: str = "<|im_start|>",
                end_tok: str = "<|im_end|>",
                add_generation_prompt: bool = False) -> Column:
    """Render an ``array<struct<role,content>>`` conversation into
    the flat training string (ChatML-shaped by default): each turn
    becomes ``start_tok + role + '\\n' + content + end_tok + '\\n'``,
    concatenated in turn order; ``add_generation_prompt`` appends
    the opening of an assistant turn (the inference-time form).
    One ``transform`` + ``concat_ws`` — JVM codegen, no Python, no
    shuffle: template rendering fuses into the ingest scan."""
    body = F.concat_ws("", F.transform(
        turns, lambda t: F.concat(
            F.lit(start_tok), t["role"], F.lit("\n"),
            t["content"], F.lit(end_tok), F.lit("\n"))))
    if add_generation_prompt:
        body = F.concat(body, F.lit(start_tok + "assistant\n"))
    return body


def chat_stats(df: DataFrame, turns_col: str = "turns",
               keep_cols=("doc_id",)) -> DataFrame:
    """Structural screen for SFT conversations: ``n_turns``, total
    content characters, and the well-formedness checks an SFT
    pipeline gates on — ``roles_ok`` (every role in
    system/user/assistant, system only first), ``alternation_ok``
    (no two consecutive turns share a role) and ``ends_assistant``
    (the loss-bearing last turn). All array HOFs over the turn
    structs; single-scan projection."""
    t = F.col(turns_col)
    roles = F.transform(t, lambda x: x["role"])
    n = F.size(t)
    # sequence(1, 0) would DESCEND in Spark, so every pairwise scan
    # is guarded on n > 1 instead of relying on an empty range
    consec = F.exists(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.try_element_at(roles, i + 1)
        == F.try_element_at(roles, i))
    known = F.forall(
        roles, lambda r: r.isin("system", "user", "assistant"))
    sys_mid = F.exists(
        F.sequence(F.lit(2), n),
        lambda i: F.try_element_at(roles, i) == F.lit("system"))
    return df.select(
        *keep_cols,
        n.alias("n_turns"),
        F.aggregate(t, F.lit(0).cast("long"),
                    lambda acc, x: acc + F.length(x["content"]))
        .alias("content_chars"),
        (known & ~F.when(n > 1, sys_mid).otherwise(F.lit(False)))
        .alias("roles_ok"),
        F.when(n > 1, ~consec).otherwise(F.lit(True))
        .alias("alternation_ok"),
        F.coalesce(F.try_element_at(roles, F.lit(-1))
                   == F.lit("assistant"), F.lit(False))
        .alias("ends_assistant"),
    )


# ---------------------------------------------------------------------------
# Unicode-confusable (homoglyph) spoofing screen
# ---------------------------------------------------------------------------

#: most-abused Cyrillic/Greek homoglyphs -> their Latin skeletons
#: (a deliberately small, auditable table — the Unicode confusables
#: list is thousands of rows; these are the ones spam actually uses)
CONFUSABLE_FROM = "аеорсхуіѕјοαν"
CONFUSABLE_TO = "aeopcxyisjoav"


def confusable_skeleton(col: Column) -> Column:
    """Fold the common Cyrillic/Greek homoglyphs onto their Latin
    skeleton — the canonical form used to catch visually-identical
    spoofed tokens ('pаypаl' with Cyrillic а) before dedup,
    blocklists or URL screens, which all operate on exact bytes.
    One ``translate`` call: JVM codegen, position-independent."""
    return F.translate(col, CONFUSABLE_FROM, CONFUSABLE_TO)


def confusable_screen(df: DataFrame, text_col: str = "text",
                      keep_cols=("doc_id",)) -> DataFrame:
    """Homoglyph-spoofing screen: per document, the Latin-skeleton
    text, the count of confusable characters, and the count of
    SPOOFED words — words mixing Latin letters with confusables,
    the signature of intentional obfuscation (a fully-Cyrillic word
    is just Russian; 'bаnk' with one Cyrillic а is not). Single
    codegen scan: translate + regexp counts + one array filter over
    the whitespace words; no shuffle, no Python."""
    t = F.col(text_col)
    cls = f"[{CONFUSABLE_FROM}]"
    n_conf = (F.length(t)
              - F.length(F.regexp_replace(t, cls, ""))).cast("long")
    words = F.split(t, r"\s+")
    spoofed = F.size(F.filter(
        words, lambda w: w.rlike("[a-zA-Z]") & w.rlike(cls))) \
        .cast("long")
    return df.select(
        *keep_cols,
        confusable_skeleton(t).alias("skeleton"),
        n_conf.alias("n_confusable"),
        spoofed.alias("n_spoofed_words"),
    )


def html_tables(df: DataFrame, html_col: str = "html",
                keep_cols=("doc_id",)) -> DataFrame:
    """Explode HTML <table> markup into a typed cell relation —
    the table-corpus ingest step beside :func:`html_visible_text`
    (which flattens tables into prose): one row per cell with
    ``table_idx`` / ``row_idx`` / ``col_idx`` document-order
    coordinates, an ``is_header`` flag (<th> vs <td>) and the
    cleaned cell text (tags stripped, common entities unescaped,
    whitespace collapsed — the html_visible_text treatment scoped
    to the cell).

    Three nested regexp_extract_all + posexplode stages, all JVM
    codegen with no backreferences (RE2-replayable); the tag name
    rides alongside the body via a zipped second extract of the
    same pattern, so header detection never re-parses. No shuffle,
    no Python: a crawl shard flattens to a cell relation at scan
    speed.
    """
    tbl_re = r"(?is)<table[^>]*>(.*?)</table>"
    row_re = r"(?is)<tr[^>]*>(.*?)</tr>"
    cell_re = r"(?is)<(t[dh])[^>]*>(.*?)</t[dh]>"
    tables = df.select(
        *keep_cols,
        F.posexplode(
            F.regexp_extract_all(F.col(html_col), F.lit(tbl_re),
                                 F.lit(1)))
        .alias("table_idx", "__t"))
    rows = tables.select(
        *keep_cols, "table_idx",
        F.posexplode(
            F.regexp_extract_all(F.col("__t"), F.lit(row_re),
                                 F.lit(1)))
        .alias("row_idx", "__r"))
    cells = rows.select(
        *keep_cols, "table_idx", "row_idx",
        F.posexplode(F.arrays_zip(
            F.regexp_extract_all(F.col("__r"), F.lit(cell_re),
                                 F.lit(1)).alias("tag"),
            F.regexp_extract_all(F.col("__r"), F.lit(cell_re),
                                 F.lit(2)).alias("body")))
        .alias("col_idx", "__c"))
    body = F.col("__c")["body"]
    clean = F.regexp_replace(body, r"(?s)<[^>]+>", " ")
    for ent, rep in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                     ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")):
        clean = F.replace(clean, F.lit(ent), F.lit(rep))
    clean = F.trim(F.regexp_replace(clean, r"\s+", " "))
    return cells.select(
        *keep_cols, "table_idx", "row_idx", "col_idx",
        (F.lower(F.col("__c")["tag"]) == "th").alias("is_header"),
        clean.alias("cell_text"),
    )
