"""Text analysis operators: language-ID, quality scoring, token
counting, document fingerprinting.

Green-field capabilities for training-data pipelines (BASELINE.json
north star). Everything is built-in string/regex/array expressions —
whole-stage codegen, no python in the row path — so a 100 TB corpus is
one narrow scan.
"""

from __future__ import annotations

import operator
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tablite_spark.functions.tokens import (
    alnum_words, collapsed, collapsed_words, ngrams, nonempty, py_words,
    windows, words,
)
from tablite_spark.operators.groupby import top_k_per_group
from tablite_spark.plans.hints import respread
from tablite_spark.plans.lifecycle import is_expensive, pin

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

# tiny per-language stopword lists for the n-gram/stopword language
# heuristic; deterministic and dependency-free.
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "la", "que", "los", "es"),
}


def text_statistics(df: DataFrame, text_col: str) -> DataFrame:
    """chars, tokens, distinct tokens, avg token length — one projection."""
    c = F.col(text_col)
    toks = words(c)
    return df.withColumns({
        "n_chars_computed": F.length(c),
        "n_tokens": F.size(toks),
        "n_uniq_tokens": F.size(F.array_distinct(toks)),
        "avg_token_len": (F.length(F.regexp_replace(F.trim(c), r"\s", ""))
                          / F.size(toks)),
    }).filter(F.length(F.trim(c)) > 0)


def token_count(df: DataFrame, text_col: str,
                mode: str = "whitespace", *,
                vocab: dict | None = None,
                merges: list | None = None) -> DataFrame:
    """Token counting: whitespace, BPE-ish regex pieces, or exact
    byte-level BPE (``mode="bpe"`` with a GPT-2-style vocab+merges —
    see pipeline/bpe.py)."""
    c = F.col(text_col)
    if mode == "whitespace":
        n = F.size(words(c))
    elif mode == "bpe_ish":
        # word pieces + digits + punctuation as separate tokens —
        # a cheap proxy for BPE token counts
        n = F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|\d+|[^\sA-Za-z\d]"), 0))
    elif mode == "bpe":
        if vocab is None or merges is None:
            raise ValueError("mode='bpe' needs vocab= and merges= "
                             "(load with BPETokenizer.from_files)")
        from tablite_spark.pipeline.bpe import token_count_bpe
        return token_count_bpe(df, text_col, vocab, merges)
    else:
        raise ValueError(f"unknown token mode {mode!r}")
    return df.withColumn("n_tokens", n)


def fingerprint(df: DataFrame, text_col: str) -> DataFrame:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercase, alphanumerics+spaces only). Content-addressed identity
    for exact dedup across shards."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9 ]", "")
    return df.withColumn("fp", F.md5(norm))


def quality_scores(df: DataFrame, text_col: str) -> DataFrame:
    """Heuristic quality: token volume + stopword density (a proxy for
    natural-language-ness). Pure arithmetic; thresholds tunable."""
    c = F.col(text_col)
    toks = words(F.lower(c))
    n_tok = F.size(toks).cast("double")
    sw = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
    stop_ratio = sw / F.greatest(n_tok, F.lit(1.0))
    quality = (F.least(F.lit(1.0), n_tok / F.lit(100.0)) * 0.5
               + F.least(stop_ratio * 5, F.lit(1.0)) * 0.5)
    return (df.filter(F.length(F.trim(c)) > 0)
            .withColumns({"n_tok": n_tok, "stopword_ratio": stop_ratio,
                          "quality": quality}))


def gopher_rules(df: DataFrame, text_col: str, id_col: str = "doc_id",
                 min_words: int = 50,
                 max_words: int = 100_000) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021,
    arXiv:2112.11446 Appendix A, public — the recipe MassiveText and
    most open-data pipelines reuse): per-document structural rules
    whose conjunction is the keep/drop signal.

    Every rule is evaluated as an INTEGER cross-multiplication
    (e.g. mean word length in [3,10] ⇔ 3·n_words ≤ total_chars ≤
    10·n_words), so the output is exact under any summation order and
    replayable bit-for-bit by an independent SQL engine — no float
    ratios anywhere. Pure built-in expressions over one scan: no
    shuffle, no UDF, trivially 100 TB-safe.

    Rules: word count bounds; mean word length 3-10; symbol-to-word
    ratio ≤ 0.1 ('#' and ellipsis); ≤ 90% of lines bullet-led; ≤ 30%
    of lines ellipsis-ended; ≥ 80% of words with an alphabetic char;
    ≥ 2 distinct English function words present."""
    cols = _gopher_columns(text_col, min_words, max_words)
    return df.select(F.col(id_col),
                     *[v.alias(k) for k, v in cols.items()])


def _gopher_columns(text_col: str, min_words: int,
                    max_words: int) -> dict:
    """The Gopher rule expressions as named Columns (ordered dict) —
    shared by :func:`gopher_rules` and :func:`pretrain_filter`, which
    inlines ``passes`` on its base scan instead of joining."""
    c = F.col(text_col)
    ws = nonempty(words(c))
    lines = F.split(c, "\n")
    n_words = F.size(ws).cast("long")
    n_lines = F.size(lines).cast("long")
    total_chars = F.aggregate(ws, F.lit(0).cast("long"),
                              lambda a, w: a + F.length(w))
    # replace-based occurrence counts — identical non-overlapping
    # leftmost semantics in Spark and DuckDB
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ell = ((F.length(c) - F.length(F.replace(c, F.lit("..."),
                                               F.lit("")))) / F.lit(3)
             + F.length(c) - F.length(F.replace(c, F.lit("…"),
                                                F.lit("")))).cast("long")
    n_sym = (n_hash + n_ell).cast("long")
    bullet = F.size(F.filter(
        lines, lambda l: F.ltrim(l).startswith("-")
        | F.ltrim(l).startswith("*")
        | F.ltrim(l).startswith("•"))).cast("long")
    ell_end = F.size(F.filter(
        lines, lambda l: F.rtrim(l).endswith("...")
        | F.rtrim(l).endswith("…"))).cast("long")
    alpha = F.size(F.filter(
        ws, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    func_words = ("the", "be", "to", "of", "and", "that", "have",
                  "with")
    n_func = F.size(F.array_distinct(F.filter(
        ws, lambda w: F.lower(w).isin(*func_words)))).cast("long")
    rules = {
        "r_word_count": (n_words >= min_words) & (n_words <= max_words),
        "r_mean_word_len": (3 * n_words <= total_chars)
        & (total_chars <= 10 * n_words),
        "r_symbol_ratio": 10 * n_sym <= n_words,
        "r_bullet_lines": 10 * bullet <= 9 * n_lines,
        "r_ellipsis_lines": 10 * ell_end <= 3 * n_lines,
        "r_alpha_words": 10 * alpha >= 8 * n_words,
        "r_func_words": n_func >= 2,
    }
    passes = None
    for r in rules.values():
        passes = r if passes is None else (passes & r)
    out = {"n_words": n_words, "n_lines": n_lines}
    out.update(rules)
    out["passes"] = passes
    return out


def gopher_repetition(df: DataFrame, text_col: str,
                      id_col: str = "doc_id") -> DataFrame:
    """Gopher repetition-removal signals (Rae et al. 2021,
    arXiv:2112.11446 Appendix A1, public): within-document duplicate
    line / paragraph fractions (by count and by character mass) and
    the top word-{2,3,4}-gram character fractions, with the paper's
    thresholds evaluated as INTEGER cross-multiplications (0.30 /
    0.30 / 0.20 / 0.20 / 0.20 / 0.18 / 0.16) — no float ratios, so an
    independent SQL engine replays every number bit-for-bit.

    Plan shape: one scan, zero shuffles. The line/paragraph census is
    array expressions; the top-n-gram search is per-document
    independent, so it runs as one Arrow-batched struct column (same
    ASCII whitespace tokenization as ``gopher_dup_ngram_coverage``).
    The top gram is the max by (count, gram length), the product the
    lexicographic (count, len, gram) tie-break returns. n-gram char
    mass uses ``count * len(gram)`` over a ``length(text)``
    denominator — the common public reading of the paper's "fraction
    of characters contained within" phrasing."""
    cols = _repetition_columns(text_col)
    return df.select(F.col(id_col),
                     *[v.alias(k) for k, v in cols.items()])


def _repetition_columns(text_col: str) -> dict:
    """The Gopher repetition census and rule expressions as named
    Columns (ordered dict) — shared by :func:`gopher_repetition` and
    :func:`pretrain_filter`, which inlines ``passes``."""
    c = F.col(text_col)
    lines = F.split(c, "\n")
    paras = F.split(c, "\n\n")

    def _chars(arr):
        return F.aggregate(arr, F.lit(0).cast("long"),
                           lambda a, x: a + F.length(x))

    tc = _top_ngram_census(text_col)
    out = {
        "n_lines": F.size(lines).cast("long"),
        "n_uniq_lines": F.size(F.array_distinct(lines)).cast("long"),
        "line_chars": _chars(lines),
        "uniq_line_chars": _chars(F.array_distinct(lines)),
        "n_paras": F.size(paras).cast("long"),
        "n_uniq_paras": F.size(F.array_distinct(paras)).cast("long"),
        "para_chars": _chars(paras),
        "uniq_para_chars": _chars(F.array_distinct(paras)),
        "n_chars": F.length(c).cast("long"),
        **{f"top{n}_chars": tc.getField(f"top{n}_chars")
           for n in (2, 3, 4)},
    }
    rules = {
        # dup_frac <= 0.30  <=>  10*(n - uniq) <= 3*n
        "r_dup_lines": 10 * (out["n_lines"] - out["n_uniq_lines"])
        <= 3 * out["n_lines"],
        "r_dup_paras": 10 * (out["n_paras"] - out["n_uniq_paras"])
        <= 3 * out["n_paras"],
        # char_frac <= 0.20  <=>  5*(chars - uniq_chars) <= chars
        "r_dup_line_chars": 5 * (out["line_chars"]
                                 - out["uniq_line_chars"])
        <= out["line_chars"],
        "r_dup_para_chars": 5 * (out["para_chars"]
                                 - out["uniq_para_chars"])
        <= out["para_chars"],
        # 0.20 / 0.18 / 0.16 over length(text)
        "r_top2": 5 * out["top2_chars"] <= out["n_chars"],
        "r_top3": 50 * out["top3_chars"] <= 9 * out["n_chars"],
        "r_top4": 25 * out["top4_chars"] <= 4 * out["n_chars"],
    }
    out.update(rules)
    out["passes"] = reduce(operator.and_, rules.values())
    return out


def _top_ngram_census(text_col: str):
    """Arrow-batched per-document top word-{2,3,4}-gram char mass
    (count x gram length of the (count, len)-max gram) — scan-local,
    zero shuffle; tokenizes with ``tokens.py_words`` (Java's ASCII \\s
    class, the split the DuckDB oracle uses). Null/short docs report 0."""
    @F.pandas_udf("struct<top2_chars:long,top3_chars:long,"
                  "top4_chars:long>")
    def _t(s: "pd.Series") -> "pd.DataFrame":
        out = {f"top{n}_chars": [] for n in (2, 3, 4)}
        for text in s:
            ws = [] if text is None else py_words(text)
            for n in (2, 3, 4):
                best = 0
                if len(ws) >= n:
                    cnt: dict = {}
                    for j in range(len(ws) - n + 1):
                        g = " ".join(ws[j:j + n])
                        cnt[g] = cnt.get(g, 0) + 1
                    c, l = max((c, len(g)) for g, c in cnt.items())
                    best = c * l
                out[f"top{n}_chars"].append(best)
        return pd.DataFrame(out)

    return _t(F.col(text_col))


def gopher_dup_ngram_coverage(df: DataFrame, text_col: str,
                              id_col: str = "doc_id",
                              n_values: tuple = (5, 6, 7, 8, 9, 10)
                              ) -> DataFrame:
    """The other half of Gopher's repetition table (Rae et al. 2021
    Appendix A1): for each n in 5..10, the fraction of characters
    covered by word n-grams that occur MORE THAN ONCE within the same
    document (thresholds 0.15/0.14/0.13/0.12/0.11/0.10). "Covered" is
    positional — a word position inside ANY duplicated n-gram window
    counts once, exactly the mark-the-characters reading public
    implementations use — so the numerator is the char mass of
    covered word positions, an integer both engines compute
    identically (inter-word whitespace excluded). Thresholds are
    integer cross-multiplications.

    Plan shape: the census is per-document independent, so it runs as
    one Arrow-batched struct column over the text — one scan, zero
    shuffles, and at 100 TB it moves no data."""
    cols = _dup_ngram_columns(text_col, n_values)
    return df.select(F.col(id_col),
                     *[v.alias(k) for k, v in cols.items()])


def _dup_ngram_columns(text_col: str,
                       n_values: tuple = (5, 6, 7, 8, 9, 10)) -> dict:
    """The dup-n-gram census and rule expressions as named Columns
    (ordered dict) — shared by :func:`gopher_dup_ngram_coverage` and
    :func:`pretrain_filter`, which inlines ``passes``."""
    cc = _dup_ngram_census(text_col, n_values)
    # thresholds 0.15 .. 0.10: frac <= t  <=>  100*dup <= 100t*chars
    th = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}
    out = {"word_chars": cc.getField("word_chars"),
           **{f"dup{n}_chars": cc.getField(f"dup{n}_chars")
              for n in n_values}}
    rules = {f"r_dup{n}": 100 * out[f"dup{n}_chars"]
             <= th[n] * out["word_chars"] for n in n_values}
    out.update(rules)
    out["passes"] = reduce(operator.and_, rules.values())
    return out


def _dup_ngram_census(text_col: str, n_values: tuple):
    """Arrow-batched per-document duplicated-n-gram census: returns a
    struct column (word_chars, dup{n}_chars...) computed scan-local
    over ``tokens.py_words`` (Java's ASCII \\s, as in the oracle)."""
    fields = ", ".join(["word_chars: long"]
                       + [f"dup{n}_chars: long" for n in n_values])
    schema = "struct<" + fields.replace(": ", ":") + ">"

    @F.pandas_udf(schema)
    def _census(s: "pd.Series") -> "pd.DataFrame":
        out = {"word_chars": [],
               **{f"dup{n}_chars": [] for n in n_values}}
        for text in s:
            if text is None:
                # null text -> null word census (rules evaluate to
                # null), dup counts 0
                out["word_chars"].append(None)
                for n in n_values:
                    out[f"dup{n}_chars"].append(0)
                continue
            ws = py_words(text)
            lens = [len(w) for w in ws]
            out["word_chars"].append(sum(lens))
            nw = len(ws)
            for n in n_values:
                seen: dict = {}
                for j in range(nw - n + 1):
                    seen.setdefault(tuple(ws[j:j + n]), []).append(j)
                cov: set = set()
                for js in seen.values():
                    if len(js) > 1:
                        for j in js:
                            cov.update(range(j, j + n))
                out[f"dup{n}_chars"].append(
                    sum(lens[p] for p in cov))
        return pd.DataFrame(out)

    return _census(F.col(text_col))


def c4_rules(df: DataFrame, text_col: str, id_col: str = "doc_id",
             min_kept_lines: int = 3) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020, arXiv:1910.10683 §2.2,
    public): keep only lines that end in terminal punctuation, have
    >= 3 words, and don't mention javascript; drop the whole page
    when fewer than ``min_kept_lines`` lines survive, or the RAW page
    contains "lorem ipsum" or a curly brace (the paper's
    code/boilerplate tells).

    Output: (id_col, text_clean, n_lines_kept, keep_page). Pure
    built-in higher-order expressions over one scan — no shuffle, no
    UDF; every predicate is exact string arithmetic an independent
    SQL engine replays bit-for-bit."""
    cols = _c4_columns(text_col, min_kept_lines)
    return df.select(F.col(id_col),
                     *[v.alias(k) for k, v in cols.items()])


def _c4_columns(text_col: str, min_kept_lines: int) -> dict:
    """The C4 cleaning expressions as named Columns — shared by
    :func:`c4_rules` and :func:`pretrain_filter`."""
    c = F.col(text_col)
    lines = F.split(c, "\n")

    def _kept(l):
        t = F.rtrim(l)
        endp = (t.endswith(".") | t.endswith("!") | t.endswith("?")
                | t.endswith('"'))
        return (endp & (F.size(nonempty(words(l))) >= 3)
                & ~F.lower(l).contains("javascript"))

    kept_lines = F.filter(lines, _kept)
    n_kept = F.size(kept_lines).cast("long")
    page_ok = ((n_kept >= min_kept_lines)
               & ~F.lower(c).contains("lorem ipsum")
               & ~c.contains("{"))
    return {"text_clean": F.concat_ws("\n", kept_lines),
            "n_lines_kept": n_kept, "keep_page": page_ok}


def pretrain_filter(df: DataFrame, text_col: str,
                    id_col: str = "doc_id",
                    stages: tuple = ("gopher", "repetition",
                                     "dup_ngrams"),
                    min_words: int = 50) -> DataFrame:
    """One-call pretraining quality gate: the conjunction of the
    rule families this module implements — ``gopher``
    (:func:`gopher_rules`), ``repetition``
    (:func:`gopher_repetition`), ``dup_ngrams``
    (:func:`gopher_dup_ngram_coverage`) and optionally ``c4``
    (:func:`c4_rules` page filter; off by default because it
    requires line structure). Returns (id, keep, reason) where
    ``reason`` names the FIRST failing stage in ``stages`` order
    (null when kept) — the per-stage attrition report every
    data-pipeline dashboard wants.

    Plan shape: EVERY stage's passes column is narrow — gopher and c4 as pure expressions, repetition
    and dup_ngrams as zero-shuffle Arrow-batched struct columns — so
    the whole composed gate is ONE scan with zero joins and zero
    exchanges at any corpus size (plan-gated in
    tests/test_plans.py::test_pretrain_filter_scan_only). Measured
    sf0.1: 1.6 s steady vs 7.6 s for the join-composed form."""
    narrow = {
        "gopher": lambda: _gopher_columns(
            text_col, min_words, 100_000)["passes"],
        "c4": lambda: _c4_columns(text_col, 3)["keep_page"],
        "dup_ngrams": lambda: _dup_ngram_columns(text_col)["passes"],
        "repetition": lambda: _repetition_columns(text_col)["passes"],
    }
    unknown = [s for s in stages if s not in narrow]
    if unknown:
        raise ValueError(f"unknown pretrain_filter stages: {unknown}")
    out = df.select(
        id_col, *[narrow[s]().alias(f"__p_{s}__") for s in stages])
    keep = None
    reason = None
    for s in reversed(stages):
        p = F.coalesce(F.col(f"__p_{s}__"), F.lit(False))
        keep = p if keep is None else (p & keep)
        reason = F.when(~p, F.lit(s)).otherwise(reason)
    return out.select(id_col, keep.alias("keep"),
                      reason.alias("reason"))


def language_id(df: DataFrame, text_col: str) -> DataFrame:
    """Stopword-marker language heuristic: score = count of language
    markers among tokens; predicted = argmax (ties → language order)."""
    toks = words(F.lower(F.col(text_col)))

    def _marker_pred(markers):
        # single-arg lambda: PySpark HOF binds one Column per parameter,
        # so the marker tuple must be captured by closure, not default arg
        return lambda t: t.isin(*markers)

    scores = []
    for lang, markers in LANG_MARKERS.items():
        s = F.size(F.filter(toks, _marker_pred(markers)))
        scores.append(F.struct(s.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    out = df.withColumn("lang_pred",
                        F.when(best.getField("score") > 0, best.getField("lang"))
                        .otherwise(F.lit("unknown")))
    return out


# conservative, deterministic PII patterns — Spark and DuckDB share
# RE2-compatible syntax for these (no lookarounds, no backrefs)
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"\+?\d[\d\-\s]{7,}\d",
}


TRACKING_PARAMS = r"utm_[A-Za-z0-9_]+|fbclid|gclid|msclkid|mc_eid"


def canonicalize_urls(df: DataFrame, url_col: str,
                      out_col: str = "url_canon") -> DataFrame:
    """URL canonicalization for web-corpus dedup: byte-different URLs
    that address the same resource must compare equal before URL-level
    dedup or domain statistics.

    Steps (all RE2-safe chained expressions — one scan, codegen'd,
    reproducible by any RE2-class engine):
      1. strip the fragment (``#…``)
      2. lowercase scheme+authority ONLY (path/query stay case-exact)
      3. drop default ports (``:80`` for http, ``:443`` for https)
      4. remove tracking parameters (utm_*, fbclid, gclid, …)
      5. clean dangling ``?``/``&`` and collapse ``?&`` → ``?``
      6. strip trailing slashes from the path
    """
    c = F.col(url_col)
    c = F.regexp_replace(c, r"#.*$", "")
    head = F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)", 1)
    rest = F.regexp_replace(c, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*", "")
    c = F.concat(F.lower(head), rest)
    c = F.regexp_replace(c, r"^(http://[^/?#:]*):80(/|\?|$)", r"$1$2")
    c = F.regexp_replace(c, r"^(https://[^/?#:]*):443(/|\?|$)", r"$1$2")
    # anchored to a [?&] boundary so ?myfbclid=… / ?xutm_source=… are
    # NOT clipped; the separator is kept ($1) and duplicates collapsed,
    # which also handles consecutive tracking params (non-overlapping
    # matches can't reuse a consumed trailing '&')
    c = F.regexp_replace(c, rf"([?&])({TRACKING_PARAMS})=[^&#]*", r"$1")
    c = F.regexp_replace(c, r"&{2,}", "&")
    c = F.regexp_replace(c, r"\?&", "?")
    c = F.regexp_replace(c, r"[?&]+$", "")
    c = F.regexp_replace(c, r"/+$", "")
    return df.withColumn(out_col, c)


def normalize_text(df: DataFrame, text_col: str, out_col: str = "text_norm",
                   form: str = "NFC", lower: bool = True,
                   collapse_ws: bool = True,
                   strip_accents: bool = False) -> DataFrame:
    """Canonical text normalization — the first stage of every dedup /
    fingerprint pipeline (byte-different but canonically-equal texts
    must hash identically): Unicode normalization (NFC/NFKC/NFD/NFKD),
    optional casefold, whitespace collapse, optional accent stripping.

    Unicode normalization has no JVM builtin, so it runs as ONE
    Arrow-batched pandas UDF (``Series.str.normalize`` — vectorized,
    no per-row Python); the case/whitespace steps stay JVM-side
    expressions. Accent stripping = NFD + drop combining marks
    (U+0300–U+036F), applied inside the same UDF batch.
    """
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s: "pd.Series") -> "pd.Series":
        out = s.str.normalize(form)
        if strip_accents:
            out = (out.str.normalize("NFD")
                   .str.replace("[\u0300-\u036f]", "", regex=True)
                   .str.normalize(form))
        return out

    c = _norm(F.col(text_col))
    if lower:
        c = F.lower(c)
    if collapse_ws:
        c = collapsed(c)
    return df.withColumn(out_col, c)


def redact_pii(df: DataFrame, text_col: str,
               kinds: list[str] | None = None,
               out_col: str | None = None) -> DataFrame:
    """Redact emails / URLs / phone-like spans with ``[KIND]`` tokens —
    the standard pre-training scrub pass. Chained ``regexp_replace``
    (whole-stage codegen, one scan); patterns are deliberately
    lookaround-free so any RE2-class engine reproduces them."""
    kinds = kinds or list(PII_PATTERNS)
    c = F.col(text_col)
    for k in kinds:
        c = F.regexp_replace(c, PII_PATTERNS[k], f"[{k.upper()}]")
    return df.withColumn(out_col or text_col, c)


def repetition_metrics(df: DataFrame, text_col: str, n: int = 2) -> DataFrame:
    """Within-document repetition (Gopher-style repetition filters):
    fraction of duplicate tokens and duplicate token n-grams. High
    values flag boilerplate/spam for removal before training. Pure
    array expressions over one projection — no shuffle, no python."""
    toks = words(F.lower(F.col(text_col)))
    n_tok = F.size(toks).cast("double")
    uniq_tok = F.size(F.array_distinct(toks)).cast("double")
    grams = ngrams(toks, n)
    n_gr = F.size(grams).cast("double")
    uniq_gr = F.size(F.array_distinct(grams)).cast("double")
    return (df.filter(F.length(F.trim(F.col(text_col))) > 0)
            .withColumns({
                "dup_token_frac": (n_tok - uniq_tok) / F.greatest(n_tok, F.lit(1.0)),
                "dup_ngram_frac": (n_gr - uniq_gr) / F.greatest(n_gr, F.lit(1.0)),
            }))


def top_k_ngrams(df: DataFrame, text_col: str, n: int = 1,
                 k: int = 100) -> DataFrame:
    """Corpus vocabulary: top-k token n-grams by document-spanning
    count. Explode → hash-agg (map-side partial) → top-k; the classic
    two-shuffle vocabulary build that scales linearly with tokens."""
    toks = words(F.lower(F.col(text_col)))
    grams = toks if n == 1 else ngrams(toks, n)
    ex = df.select(F.explode(grams).alias("ngram")).filter(F.col("ngram") != "")
    counts = ex.groupBy("ngram").agg(F.count(F.lit(1)).alias("cnt"))
    return (counts.orderBy(F.col("cnt").desc(), F.col("ngram").asc())
            .limit(k))


def chunk_documents(df: DataFrame, text_col: str, id_col: str,
                    chunk_tokens: int = 512,
                    overlap: int = 0) -> DataFrame:
    """Split documents into token-bounded chunks with optional overlap
    — the pre-tokenization packing step of an LLM data pipeline.

    One projection: token array → per-chunk slices via sequence +
    transform → posexplode. Output: (id, chunk_id, chunk_text,
    chunk_tokens). No shuffle; a 100 TB corpus chunks in a single
    scan and rows stay in their input partitions.
    """
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("overlap must be in [0, chunk_tokens)")
    stride = chunk_tokens - overlap
    toks = words(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int"), F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * stride + 1, chunk_tokens)))
    return (df.filter(F.length(F.trim(F.col(text_col))) > 0)
            .select(F.col(id_col),
                    F.posexplode(chunks).alias("chunk_id", "chunk_text"))
            .withColumn("chunk_tokens",
                        F.size(F.split(F.col("chunk_text"), r"\s+"))))


def contamination_check(df: DataFrame, probes: DataFrame, text_col: str,
                        id_col: str, probe_text_col: str,
                        probe_id_col: str, n: int = 8) -> DataFrame:
    """Benchmark-decontamination scan: for each (document, probe) pair
    that shares at least one token n-gram, the fraction of the probe's
    n-grams contained in the document.

    Scale shape: both sides reduce each n-gram to a 64-bit hash of its
    token window — postings are (long, id), never materialized 8-token
    strings — and meet in a hash join on the gram hash: candidate pairs
    only, never documents × probes. The probe side (a benchmark suite)
    is small by construction, so its postings are BROADCAST: the doc
    postings never shuffle at all — the whole scan is one pass
    over the corpus plus a tiny aggregation of the rare hits. With long
    n-grams (n=8 default) shared grams are rare, so the join output
    stays near-linear; a contaminated pair surfaces with overlap ≈ 1.0.
    (64-bit gram hashing: collisions at ~n_grams²/2⁶⁴ — immaterial
    against real contamination, which shares hundreds of grams.)
    """
    doc_g = respread(df).select(
        F.col(id_col).alias("doc_id_"),
        F.explode(_gram_hashes(F.col(text_col), n)).alias("g"))
    # r14 optimization round (guide §2.1): the probe-gram frame feeds
    # the size table AND the exploded postings broadcast — unpinned,
    # each reference re-scanned the text-heavy probe source and
    # re-tokenized. One pin of the (probe suite)-bounded grams.
    probe_grams = pin(probes.select(
        F.col(probe_id_col).alias("probe_id_"),
        _gram_hashes(F.col(probe_text_col), n).alias("gs")), eager=True)
    return _confirm_overlap(doc_g, probe_grams, id_col, probe_id_col)


def _gram_hashes(c, n: int):
    """Distinct 64-bit hashes of the lowercased word n-gram windows of
    ``c``: the n token fields of each window hash directly, with no
    string concat (same as dedup.shingle_minhash)."""
    return F.array_distinct(F.transform(
        windows(words(F.lower(c)), n),
        lambda w: F.xxhash64(*[w[f"t{i}"] for i in range(n)])))


def _confirm_overlap(doc_g: DataFrame, probe_grams: DataFrame,
                     id_col: str, probe_id_col: str) -> DataFrame:
    """Shared exact-confirm tail: join candidate doc grams against the
    probe postings, count shared grams, normalize by probe size."""
    probe_sizes = probe_grams.select("probe_id_",
                                     F.size("gs").alias("n_probe_grams"))
    probe_g = F.broadcast(probe_grams.select(
        "probe_id_", F.explode("gs").alias("g")))
    hits = (doc_g.join(probe_g, "g")
            .groupBy("doc_id_", "probe_id_")
            .agg(F.count(F.lit(1)).alias("shared_grams")))
    return (hits.join(F.broadcast(probe_sizes), "probe_id_")
            .select(F.col("doc_id_").alias(id_col),
                    F.col("probe_id_").alias(probe_id_col),
                    "shared_grams",
                    (F.col("shared_grams")
                     / F.col("n_probe_grams").cast("double")).alias("overlap")))


def bloom_decontaminate(df: DataFrame, probes: DataFrame, text_col: str,
                        id_col: str, probe_text_col: str,
                        probe_id_col: str, n: int = 8,
                        bits_per_gram: int = 12,
                        num_hashes: int = 7) -> DataFrame:
    """``contamination_check`` with a broadcast **Bloom prefilter** —
    the output is IDENTICAL (exact): the Bloom filter only prunes,
    false positives are removed by the exact confirm join and false
    negatives are impossible (every probe gram is in the filter).

    Why it exists: ``contamination_check`` explodes EVERY corpus gram
    into the broadcast join — one row per token per document crosses
    the operator even though shared grams are vanishingly rare. Here
    the probe suite's distinct gram hashes (driver-bounded: a
    benchmark suite, like the PQ codebook sample) build an m-bit Bloom
    filter (``bits_per_gram``·grams bits rounded to a power of two;
    with 12 bits/gram and 7 probes FP ≈ 1e-3). The filter broadcasts
    as raw bits — 1B probe grams ≈ 1.5 GB of bitmap vs 8+ GB of
    join-side hash table — and each document filters its gram ARRAY
    through it in one Arrow-vectorized numpy pass BEFORE exploding.
    The explode then emits only true hits plus ~0.1% FPs, and the
    exact join runs over that sliver. At 100 TB this converts the
    dominant cost (shuffle-exploding ~10¹³ gram rows into a join)
    into a map-side array filter with near-zero join input.

    Double hashing (Kirsch–Mitzenmacher): position_i = h₁ + i·h₂ mod m
    over the gram's single xxhash64 — no extra hash passes.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # pinned once (see contamination_check): the grams feed the Bloom
    # gset collect, the size table and the postings broadcast — three
    # text re-scans without the pin
    probe_grams = pin(probes.select(
        F.col(probe_id_col).alias("probe_id_"),
        _gram_hashes(F.col(probe_text_col), n).alias("gs")), eager=True)
    gset = (probe_grams.select(F.explode("gs").alias("g")).distinct()
            .toPandas()["g"].to_numpy())
    m = 64
    while m < max(len(gset), 1) * bits_per_gram:
        m <<= 1
    mask = np.uint64(m - 1)
    bits = np.zeros(m // 8, dtype=np.uint8)
    h = gset.astype(np.uint64)
    h1, h2 = h & mask, (h >> np.uint64(33)) | np.uint64(1)
    for i in range(num_hashes):
        pos = (h1 + np.uint64(i) * h2) & mask
        np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64),
                         (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)))
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(bits.tobytes())
    k = num_hashes

    @pandas_udf("array<long>")
    def _bloom_keep(gs: pd.Series) -> pd.Series:
        bm = np.frombuffer(bc.value, dtype=np.uint8)
        lens = gs.map(lambda a: 0 if a is None else len(a)).to_numpy()
        if lens.sum() == 0:
            return pd.Series([[] for _ in lens])
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in gs if a is not None
             and len(a)]).astype(np.uint64)
        f1, f2 = flat & mask, (flat >> np.uint64(33)) | np.uint64(1)
        keep = np.ones(len(flat), dtype=bool)
        for i in range(k):
            pos = (f1 + np.uint64(i) * f2) & mask
            keep &= (bm[(pos >> np.uint64(3)).astype(np.int64)]
                     >> (pos & np.uint64(7)).astype(np.uint8)) & 1 == 1
        flat_signed = flat.astype(np.int64)
        offs = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=offs[1:])
        return pd.Series([flat_signed[offs[j]:offs[j + 1]][
            keep[offs[j]:offs[j + 1]]].tolist() for j in range(len(lens))])

    doc_g = respread(df).select(
        F.col(id_col).alias("doc_id_"),
        F.explode(_bloom_keep(_gram_hashes(F.col(text_col), n))).alias("g"))
    return _confirm_overlap(doc_g, probe_grams, id_col, probe_id_col)


def pack_chunks(chunks: DataFrame, tokens_col: str,
                budget: int, by: list[str] | None = None,
                order_by: list[str] | None = None) -> DataFrame:
    """Assign chunks to fixed-token-budget packs (sequence packing for
    training batches): running token total in deterministic order →
    pack_id = floor(cumsum_before / budget). Greedy in-order packing —
    each pack holds consecutive chunks totalling <= ~budget (a chunk
    larger than the budget gets its own pack).

    Scale shape: the window partitions by ``by`` (e.g. source shard),
    so packing distributes across groups; within a group the running
    sum is the standard prefix-scan window. Deterministic given
    ``order_by``. Like any running sum, a group's rows serialize
    through one task (AQE cannot split window partitions) — choose
    ``by`` so groups are shard-sized, or pre-split a hot group on a
    derived sub-shard key and offset pack_ids per sub-shard.
    """
    from pyspark.sql import Window
    by = by or []
    order_by = order_by or []
    if not order_by:
        raise ValueError("pack_chunks needs order_by for determinism")
    w = (Window.partitionBy(*by).orderBy(*order_by)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum(F.col(tokens_col)).over(w)
    before = cum - F.col(tokens_col)
    return chunks.withColumn(
        "pack_id", F.floor(before / F.lit(budget)).cast("long"))


def pack_sequences(df: DataFrame, ids_col: str, id_col: str,
                   seq_len: int, eos_id: int | None = None,
                   drop_last: bool = True,
                   boundaries: bool = False,
                   mask_col: str | None = None,
                   eos_mask: int = 0) -> DataFrame:
    """Concat-and-chunk sequence packing — the GPT-pretraining
    layout: documents (token-id arrays, e.g. from
    ``bpe.tokenize_bpe``) are concatenated in ascending ``id_col``
    order (optionally with ``eos_id`` appended to each document) and
    the resulting token stream is cut into EXACT ``seq_len`` windows,
    documents crossing window boundaries. Maximal utilization, zero
    padding; the final partial window is dropped when ``drop_last``
    (the standard recipe) else kept short. Returns
    (seq_id, input_ids array<int>, n_docs) where ``n_docs`` counts
    the documents contributing to the window. With
    ``boundaries=True`` an extra ``doc_starts array<int>`` column
    lists the within-window offsets where a NEW document begins
    (ascending; excludes offset 0 when the window opens mid-doc) —
    exactly what block-diagonal attention masking / position-id reset
    needs during training. Computed in the SAME combinable
    aggregation, no extra shuffle. With ``mask_col`` (a per-doc
    array the SAME length as ``ids_col``, e.g. an SFT loss mask with
    0 over prompt tokens and 1 over completion tokens) an aligned
    ``loss_mask array<int>`` rides the same explode/groupBy —
    appended EOS slots get ``eos_mask`` — so instruction-tuning
    batches pack with their masks in one pass.

    Plan shape at 100 TB: a two-phase distributed prefix sum whose
    bucketing is a PURE FUNCTION of the id value. Spark's own range
    exchange cannot anchor a two-job prefix sum: the RangePartitioner
    seeds its bound-sampling with the RDD id, so two evaluations of
    the same plan draw DIFFERENT bounds (a 1M-doc validation run
    reproduced mis-stitched windows). Instead the driver computes
    range bounds once (one approxQuantile pass for numeric ids, a
    seeded sample otherwise), derives ``__pid__`` deterministically
    from ``id_col``, and ``buckets.prefix_sums`` gives each document
    its token-stream end: a window PARTITIONED BY the bucket (hash
    exchange — deterministic, unlike range) plus per-bucket
    cumulative bases from one |buckets|-row collect. The only
    token-volume exchanges are that bucket exchange and the output
    groupBy on dense sequence ids — both inherent. Assumes non-null,
    unique ``id_col`` (ties would make stream positions ambiguous —
    the same assumption any total order needs)."""
    from tablite_spark.functions.buckets import (
        prefix_sums, with_range_bucket,
    )
    spark = df.sparkSession
    cols = [F.col(id_col), F.col(ids_col)]
    if mask_col is not None:
        cols.append(F.col(mask_col))
    base = df.select(*cols)
    if eos_id is not None:
        base = base.withColumn(
            ids_col, F.concat(F.col(ids_col),
                              F.array(F.lit(int(eos_id)).cast("int"))))
        if mask_col is not None:
            base = base.withColumn(
                mask_col, F.concat(F.col(mask_col),
                                   F.array(F.lit(int(eos_mask))
                                           .cast("int"))))
    # r14 optimization round (guide §2.1): the token frame is read
    # THREE times — the range-bound quantile pass, the per-bucket
    # token-total agg, and the final pack — and each read replayed
    # the whole upstream plan (for pretrain_e2e: the gate + dedup
    # join chain, measured as ~2/3 of the query). Pin it once when
    # that upstream is actually expensive to recompute; a plain
    # pruned file scan skips the pin — re-scanning is cheaper than a
    # cache fill (the spearman_corr discipline).
    if is_expensive(base):
        base = pin(base, eager=True)
    tagged = with_range_bucket(base, id_col, "__pid__").withColumn(
        "__nt__", F.size(ids_col))
    tagged, totals = prefix_sums(tagged, "__pid__", [id_col],
                                 {"__end__": F.col("__nt__")})
    total = totals["__end__"]
    out_schema = ("seq_id long, input_ids array<int>, n_docs long")
    if total == 0:
        return spark.createDataFrame([], out_schema)
    pos = F.col("__start__") + F.col("__i__")
    toks = (tagged.withColumn("__start__",
                              F.col("__end__") - F.col("__nt__"))
            .select("__start__",
                    F.posexplode(
                        F.arrays_zip(F.col(ids_col), F.col(mask_col))
                        if mask_col is not None else
                        F.transform(F.col(ids_col),
                                    lambda t: F.struct(t.alias("t"))))
                    .alias("__i__", "__z__"))
            .select(pos.alias("__pos__"),
                    F.col("__z__")[ids_col if mask_col is not None
                                   else "t"].alias("__tok__"),
                    (F.col("__z__")[mask_col] if mask_col is not None
                     else F.lit(None).cast("int")).alias("__msk__"),
                    (F.col("__i__") == 0).alias("__ds__")))
    # n_docs without countDistinct: docs are CONTIGUOUS in the
    # stream, so distinct docs in a window = docs STARTING in it
    # (their first token, __ds__) + 1 if the window opens mid-doc
    # (its first slot, pos % seq_len == 0, is a non-first token).
    # countDistinct would plan a second full-token-volume exchange
    # on (seq, doc) — this form stays a one-exchange combinable agg
    # and doc_id never enters the shuffle payload.
    seqs = (toks.withColumn(
                "__seq__",
                F.floor(F.col("__pos__") / F.lit(seq_len)).cast("long"))
            .groupBy("__seq__")
            .agg(F.array_sort(F.collect_list(
                     F.struct("__pos__", "__tok__", "__msk__")))
                  .alias("__ts__"),
                 F.sum(F.when(F.col("__ds__"), 1).otherwise(0))
                  .alias("__nstart__"),
                 F.max(F.when((F.col("__pos__") % seq_len == 0)
                              & ~F.col("__ds__"), 1).otherwise(0))
                  .alias("__open__"),
                 F.array_sort(F.collect_list(F.when(
                     F.col("__ds__"),
                     (F.col("__pos__") % seq_len).cast("int"))))
                  .alias("__dstarts__"))
            .select(F.col("__seq__").alias("seq_id"),
                    F.transform("__ts__",
                                lambda s: s.getField("__tok__"))
                     .alias("input_ids"),
                    (F.col("__nstart__") + F.col("__open__"))
                    .cast("long").alias("n_docs"),
                    F.col("__dstarts__").alias("doc_starts"),
                    F.transform("__ts__",
                                lambda z: z.getField("__msk__"))
                     .alias("loss_mask")))
    if not boundaries:
        seqs = seqs.drop("doc_starts")
    if mask_col is None:
        seqs = seqs.drop("loss_mask")
    if drop_last and total % seq_len:
        seqs = seqs.filter(F.col("seq_id") < total // seq_len)
    return seqs


def _char_ngrams(norm_col, n: int):
    """Overlapping char n-grams in ONE linear regex pass: the
    lookahead captures n chars at every position, the consumed "."
    advances by one. O(len) per row JVM-side.  (Two rejected shapes:
    ``transform(sequence, i -> substr(norm, i, n))`` is O(len^2) —
    every substr re-scans UTF-8 boundaries from the string start —
    and element_at over ``split(norm, '')`` is worse because
    CollapseProject re-inlines the split into every element access.)"""
    return F.regexp_extract_all(
        norm_col, F.lit(f"(?=(.{{{n}}}))."), 1)


def char_ngram_model(df: DataFrame, text_col: str, n: int = 3) -> DataFrame:
    """Character n-gram counts over normalized text — the model side
    of ``perplexity_score`` (CCNet / Wenzek et al. 2020 train a KenLM
    on clean text and filter by perplexity; a char-n-gram model is the
    self-contained analogue). One scan → one combinable groupBy; the
    model is at most |alphabet|^n rows, always broadcastable.

    At 100 TB: train on a clean sample (`df.sample`), score the full
    corpus — exactly the CCNet recipe."""
    norm = collapsed(F.lower(F.col(text_col)))
    grams = (df.select(norm.alias("norm"))
             .filter(F.length("norm") >= n)
             .select(F.explode(_char_ngrams(F.col("norm"), n))
                     .alias("gram")))
    return grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))


def lm_vocab_size(model: DataFrame) -> int:
    """Distinct characters across a ``char_ngram_model``'s grams (the
    smoothing denominator's V). Reads the MODEL, not the corpus:
    every char of a doc long enough to produce n-grams appears in at
    least one gram, so the distinct chars over gram positions equal
    the corpus alphabet — and the model is at most |alphabet|^n rows,
    orders of magnitude smaller than an O(corpus) char-explode."""
    return (model.select(F.explode(F.split(F.col("gram"), "")).alias("ch"))
            .filter(F.col("ch") != "")
            .agg(F.countDistinct("ch")).first()[0])


def perplexity_score(df: DataFrame, text_col: str,
                     id_col: str = "doc_id", n: int = 3,
                     alpha: float = 0.5,
                     model: DataFrame | None = None,
                     vocab_size: int | None = None,
                     broadcast_max_rows: int = 10_000_000) -> DataFrame:
    """Char-n-gram LM quality score per document: the add-alpha
    smoothed conditional log-likelihood sum, quantized to millinats
    (``floor(1000 * ln p)``) so the result is an exact integer —
    order-independent under distributed summation and replayable by
    an independent SQL engine (no float-associativity drift).

    Output: (id_col, n_ngrams, millinats). Lower |millinats|/n_ngrams
    = more predictable text (CCNet keeps the low-perplexity tail).

    Plan shape: explode n-grams (one scan, no UDF) → join the gram
    and prefix count tables → one combinable groupBy per doc. The
    join is broadcast when the model fits (|alphabet|^3 for
    alphabetic scripts: thousands-to-millions of rows), but GATED on
    a measured row count: a CJK corpus has a ~20k-char alphabet whose
    char-trigram census can exceed 10^8 rows, and broadcasting that
    would OOM the driver and every executor. Above
    ``broadcast_max_rows`` the hint is dropped for BOTH the gram and
    the prefix joins, and both run as shuffle joins (the prefix
    table, |alphabet|^2, is usually far smaller, but it shares the
    gate for safety rather than keeping its own). Self-trains on
    ``df`` when
    ``model`` is None; pass a ``char_ngram_model`` of a clean sample
    for the real CCNet recipe. Unseen grams/prefixes degrade smoothly
    via the same add-alpha formula."""
    # pin the (bounded-size) model so the corpus is scanned once for
    # training: the row-count gate, the vocab aggregate and the join
    # all read the materialized counts, not a re-run (a user-passed
    # model too, whose plan would otherwise re-run 3x)
    model = pin(char_ngram_model(df, text_col, n) if model is None
                else model, eager=True)
    n_model_rows = model.count()
    if vocab_size is None:
        vocab_size = lm_vocab_size(model)
    prefixes = (model.groupBy(F.col("gram").substr(1, n - 1).alias("pfx"))
                .agg(F.sum("cnt").alias("pcnt")))
    if n_model_rows <= broadcast_max_rows:
        model, prefixes = F.broadcast(model), F.broadcast(prefixes)
    else:
        import logging
        logging.getLogger(__name__).warning(
            "perplexity_score: model has %d rows (> broadcast_max_rows"
            "=%d); falling back to shuffle joins", n_model_rows,
            broadcast_max_rows)
    norm = collapsed(F.lower(F.col(text_col)))
    grams = (df.select(F.col(id_col), norm.alias("norm"))
             .filter(F.length("norm") >= n)
             .select(id_col, F.explode(_char_ngrams(F.col("norm"), n))
                     .alias("gram")))
    scored = (grams
              .join(model, "gram", "left")
              .join(prefixes,
                    grams["gram"].substr(1, n - 1) == F.col("pfx"),
                    "left"))
    p = ((F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(alpha))
         / (F.coalesce(F.col("pcnt"), F.lit(0))
            + F.lit(alpha) * F.lit(float(vocab_size))))
    milli = F.floor(F.lit(1000.0) * F.log(p))
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_ngrams"),
                 F.sum(milli).cast("long").alias("millinats")))


def vocab_divergence(df_a: DataFrame, df_b: DataFrame, text_col: str,
                     alpha: float = 0.5) -> DataFrame:
    """Token-distribution drift between two corpus snapshots — the
    Jensen-Shannon divergence over whitespace-token frequencies with
    add-alpha smoothing, the standard monitoring signal for "did this
    month's crawl change under me".  Per-token JS terms are quantized
    to integer micronats (floor(1e6·x)) before summation so the
    distributed sum is order-independent and SQL-replayable, like
    ``perplexity_score``.

    Output: one row (vocab_a, vocab_b, vocab_union, n_tokens_a,
    n_tokens_b, js_micronats).

    Plan shape: each side is one scan → explode → combinable token
    count; the union is a full outer join on the token (bounded by
    vocabulary, not corpus, size); scalars (totals, union size) are
    one aggregate row; the final term sum is a second combinable
    aggregate. No UDFs, no windows, nothing driver-side but three
    scalars."""
    def counts(df, name):
        toks = collapsed_words(F.lower(F.col(text_col)))
        return (df.select(F.explode(toks).alias("tok"))
                .filter(F.col("tok") != "")
                .groupBy("tok").agg(F.count(F.lit(1)).alias(name)))
    joined = counts(df_a, "ca").join(counts(df_b, "cb"), "tok", "full_outer") \
        .select(F.coalesce("ca", F.lit(0)).alias("ca"),
                F.coalesce("cb", F.lit(0)).alias("cb"))
    # pin: the scalar pass and the term sum both read the joined
    # vocabulary table (bounded by vocab size) instead of re-running
    # the two corpus scans
    joined = pin(joined, eager=True)
    tot = joined.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb"),
        F.sum((F.col("ca") > 0).cast("long")).alias("va"),
        F.sum((F.col("cb") > 0).cast("long")).alias("vb"),
        F.count(F.lit(1)).alias("vu")).first()
    na, nb, vu = float(tot["na"]), float(tot["nb"]), int(tot["vu"])
    pa = (F.col("ca") + F.lit(alpha)) / F.lit(na + alpha * vu)
    pb = (F.col("cb") + F.lit(alpha)) / F.lit(nb + alpha * vu)
    m = (pa + pb) / F.lit(2.0)
    term = F.lit(0.5) * (pa * F.log(pa / m) + pb * F.log(pb / m))
    return joined.agg(
        F.lit(tot["va"]).alias("vocab_a"),
        F.lit(tot["vb"]).alias("vocab_b"),
        F.lit(vu).cast("long").alias("vocab_union"),
        F.lit(int(na)).cast("long").alias("n_tokens_a"),
        F.lit(int(nb)).cast("long").alias("n_tokens_b"),
        F.sum(F.floor(F.lit(1e6) * term)).cast("long")
         .alias("js_micronats"))


def tfidf_keywords(df: DataFrame, text_col: str, id_col: str,
                   k: int = 3) -> DataFrame:
    """Top-``k`` keywords per document by tf-idf — the classic
    corpus-statistics summarizer (salient-term extraction for
    dataset cards, topic tagging, retrieval debugging).

    ``score_micro = tf · floor(1e6 · ln((N+1)/(df+1)))`` — the idf is
    quantized to integer micronats once per TERM, so per-doc scores
    are exact integers, order-independent, and replayable by an
    independent SQL engine (the vocab_divergence / DSIR discipline).
    Terms are ``tokens.alnum_words`` (the DSIR tokenizer); add-1
    smoothing keeps corpus-wide terms finite. Rank ties break on the
    term string.

    Plan shape: one scan → explode → combinable groupBy(doc, term)
    for tf; df(term) AND N (tokenized-doc count) are lazy aggregates
    OVER THE TF FRAME, so all three consumers hang off tf's single
    shuffle and Spark's ReusedExchange materializes the corpus
    scan + explode + partial-agg EXACTLY ONCE per job (the previous
    eager ``df.count()`` was a separate job that re-scanned the
    source, and the un-shared dft branch re-tokenized the corpus a
    second time inside the main job — ADVICE r9). The
    ``F.when(tf >= 1, id)`` forms below are pruning barriers:
    ``tf >= 1`` always holds, but the column reference stops
    Catalyst pruning a different column set into each branch's copy
    of the tf subplan — canonical-plan equality is what ReusedExchange
    keys on (verified: 0 extra Generate materializations, plan-gated
    in tests). The idf join is term-keyed (merge-hinted on the
    corpus-scaling tf side — the explode-fan-out broadcast trap);
    the final top-k is the window ``top_k_per_group`` partitioned by
    DOC — millions of small partitions, no hot key, payload
    (doc, term, score) only.

    N counts TOKENIZED documents (≥ 1 term); a doc whose text
    normalizes to nothing contributes no tf rows and is likewise
    outside the df() universe, so idf stays self-consistent.
    """
    tf = (df.select(F.col(id_col),
                    F.explode(alnum_words(F.col(text_col))).alias("term"))
          .groupBy(id_col, "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    barrier = F.when(F.col("tf") >= 1, F.col(id_col))
    dft = tf.groupBy("term").agg(F.count(barrier).alias("dfc"))
    nd = tf.agg(F.count_distinct(barrier).alias("nd"))
    idf = dft.crossJoin(F.broadcast(nd)).select(
        "term",
        F.floor(F.lit(1e6) * F.log(
            (F.col("nd") + F.lit(1)).cast("double")
            / (F.col("dfc") + F.lit(1)).cast("double")))
        .cast("long").alias("idf_micro"))
    scored = (tf.hint("merge").join(idf, "term")
              .select(id_col, "term",
                      (F.col("tf") * F.col("idf_micro"))
                      .alias("score_micro")))
    return (top_k_per_group(scored, [id_col],
                            [F.col("score_micro").desc(),
                             F.col("term").asc()], k)
            .select(id_col, "term", "score_micro", "rank"))


def bigram_lm_scores(df: DataFrame, text_col: str, id_col: str,
                     k: float = 0.5) -> DataFrame:
    """Train an add-k smoothed bigram language model on the corpus
    and score every document by its mean bigram log-probability
    ln((c(w1,w2)+k) / (c(w1)+k·V)) — the classic cheap fluency /
    domain-fit signal (a corpus-trained counterpart of the unigram
    perplexity scorer). Returns (id, n_bigrams, avg_logprob); docs
    with <2 tokens drop (no bigram evidence). Beyond-reference.

    Scale shape: bigrams build ROW-LOCALLY (``tokens.windows`` with
    k=2 — no analytic window, no posexplode self-join); the model is two
    combinable censuses (bigram counts, unigram counts) + one scalar
    vocab count; scoring joins the exploded corpus bigrams to the
    censuses on their natural keys (corpus-scaling side carries the
    shuffle; census sides merge keyed or AQE-broadcast at small SF)
    and folds per-doc in one groupBy. The vocab scalar rides a
    broadcast 1-row crossJoin.
    """
    if k <= 0:
        raise ValueError("add-k smoothing requires k > 0")
    toks = nonempty(words(F.lower(F.col(text_col))))
    base = (df.select(F.col(id_col).alias("__id__"),
                      toks.alias("__t__"))
            .filter(F.size("__t__") >= 2))
    big = (base.select("__id__", F.explode(windows(F.col("__t__"), 2))
                       .alias("__p__"))
           .select("__id__", F.col("__p__.t0").alias("w1"),
                   F.col("__p__.t1").alias("w2")))
    bg_cnt = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("__cbg__"))
    # unigram counts over ALL token positions (the bigram history
    # distribution is over positions 1..n-1, but add-k smoothing
    # only needs a consistent c(w1) — full counts keep the oracle
    # a plain census)
    uni = (df.select(F.explode(toks).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("__cu__")))
    vocab = uni.agg(F.countDistinct("w").alias("__v__"))
    scored = (big
              .join(bg_cnt, ["w1", "w2"])
              .join(uni.withColumnRenamed("w", "w1"), ["w1"])
              .crossJoin(F.broadcast(vocab)))
    lp = F.log((F.col("__cbg__") + F.lit(k))
               / (F.col("__cu__") + F.lit(k) * F.col("__v__")))
    return (scored.groupBy(F.col("__id__").alias(id_col))
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.avg(lp).alias("avg_logprob")))


def pmi_collocations(df: DataFrame, text_col: str, k: int = 50,
                     min_count: int = 5) -> DataFrame:
    """Top-k collocations (adjacent word pairs) by pointwise mutual
    information PMI = ln(N·c(w1,w2) / (c(w1)·c(w2))) — the classic
    phrase-mining signal (NLTK/Church-Hanks), with a ``min_count``
    support floor so rare pairs don't dominate. Deterministic
    (PMI DESC, w1, w2) ranking. Returns (w1, w2, pair_count, pmi).

    Scale shape: the bigram_lm_scores censuses reused — pairs build
    ROW-LOCALLY (``tokens.windows``), counts are two
    combinable groupBys, N rides a 1-row broadcast; the join keys
    are the vocab-bounded censuses themselves (never the corpus);
    top-k cuts a census-sized frame. PMI's log argument is a ratio
    of exact integer counts — cross-engine deterministic.
    """
    if k < 1 or min_count < 1:
        raise ValueError("k and min_count must be >= 1")
    toks = nonempty(words(F.lower(F.col(text_col))))
    base = (df.select(toks.alias("__t__"))
            .filter(F.size("__t__") >= 2))
    big = (base.select(F.explode(windows(F.col("__t__"), 2))
                       .alias("__p__"))
           .select(F.col("__p__.t0").alias("w1"),
                   F.col("__p__.t1").alias("w2")))
    bg = (big.groupBy("w1", "w2")
          .agg(F.count(F.lit(1)).alias("pair_count"))
          .filter(F.col("pair_count") >= min_count))
    uni = (df.select(F.explode(toks).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("__cu__")))
    tot = uni.agg(F.sum("__cu__").alias("__n__"))
    scored = (bg
              .join(uni.select(F.col("w").alias("w1"),
                               F.col("__cu__").alias("__c1__")),
                    "w1")
              .join(uni.select(F.col("w").alias("w2"),
                               F.col("__cu__").alias("__c2__")),
                    "w2")
              .crossJoin(F.broadcast(tot)))
    pmi = F.log(F.col("__n__").cast("double") * F.col("pair_count")
                / (F.col("__c1__").cast("double") * F.col("__c2__")))
    return (scored.select("w1", "w2", "pair_count",
                          pmi.alias("pmi"))
            .orderBy(F.col("pmi").desc(), "w1", "w2")
            .limit(k))


def char_entropy(df: DataFrame, text_col: str,
                 id_col: str) -> DataFrame:
    """Per-document character-level Shannon entropy — the classic
    gibberish/binary screen (near-zero entropy = repeated filler,
    abnormally high = random bytes/base64; natural language sits in
    a narrow band). Counts CODE POINTS via a regex '[^\\n]'
    extraction — the one newline-excluding class both engines
    interpret identically (Java's '.' excludes ALL line terminators
    \\r/\\u0085/\\u2028/\\u2029 while RE2's '.' excludes only \\n, so
    '.' silently diverges on CRLF corpora; '[^\\n]' matches \\r and
    the unicode terminators in BOTH), so an SQL oracle
    (regexp_extract_all(text, '[^\\n]')) sees the identical census.
    Documents with no countable characters are omitted.

    Returns (id_col, n_chars_counted, n_distinct_chars, entropy)
    with entropy in nats: H = ln(n) − Σ c·ln(c) / n over the
    per-character counts c.

    Scale shape: explode → two combinable groupBys keyed by
    (doc, char) then (doc) — all JVM-side, partial aggregation
    absorbs the per-doc fan-out map-side; no window, no Python in
    the row path.
    """
    ch = (df.select(F.col(id_col),
                    F.explode(F.regexp_extract_all(
                        F.col(text_col), F.lit("[^\n]"), 0))
                    .alias("__ch__"))
          .groupBy(id_col, "__ch__")
          .agg(F.count(F.lit(1)).alias("__c__")))
    c = F.col("__c__").cast("double")
    return (ch.groupBy(id_col)
            .agg(F.sum("__c__").alias("__n__"),
                 F.count(F.lit(1)).alias("n_distinct_chars"),
                 F.sum(c * F.log(c)).alias("__clc__"))
            .select(F.col(id_col),
                    F.col("__n__").alias("n_chars_counted"),
                    "n_distinct_chars",
                    (F.log(F.col("__n__").cast("double"))
                     - F.col("__clc__") / F.col("__n__"))
                    .alias("entropy")))
