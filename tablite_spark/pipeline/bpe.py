"""Byte-level BPE tokenizer — exact token counts for the budget and
packing operators (``token_budget_cap`` / ``pack_chunks`` consume the
``n_tokens`` column that ``token_count`` produces; with this hook the
column is real BPE instead of the regex proxy).

Implements the public byte-level BPE scheme (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units", and the
GPT-2 byte-to-unicode variant) from scratch:

* ``BPETokenizer`` — loads a GPT-2-style ``vocab.json`` (token -> id)
  + ``merges.txt`` (ranked merge pairs) and encodes exactly: byte ->
  unicode remap, pre-tokenize, greedy lowest-rank merges.
* ``train_bpe`` — the classic training loop (iterated best-pair
  merge over a word-frequency table), driver-side for sample-level
  training (industry practice often trains on <=10 GB samples).
* ``train_bpe_distributed`` — the same algorithm with the corpus
  census AND the merge loop distributed (one combinable word count
  over the corpus, then per merge one pair-count groupBy over the
  distinct-word table + a row-local merge fold); learns from the
  ENTIRE corpus and is asserted merge-for-merge equal to
  ``train_bpe``.

The container has no tiktoken/tokenizers wheel, so exactness against
a published vocab is exercised with vocabularies produced by
``train_bpe`` (the algorithm, not a fixture, is the contract). A real
GPT-2-format vocab/merges pair loads unchanged (same file format),
and since round 6 segmentation is EXACT: ``_pretok()`` expands the
published pattern's ``\\p{L}``/``\\p{N}`` classes from
``unicodedata`` (stdlib ``re`` has none), so pre-token boundaries —
and therefore counts fed to ``token_budget_cap``/``pack_chunks`` —
are byte-identical to the published GPT-2 pre-tokenizer, including
its quirks (lowercase-only contractions, combining marks splitting
Indic clusters, 'No'-category characters like '²' tokenizing as
numbers). Adversarial non-Latin/contraction fixtures + a
full-Unicode-plane lossless fuzz pin this. Within a vocab produced
by ``train_bpe`` the encode/decode round-trip is exact
(fuzz-tested).

No reference analogue: tablite has no tokenizer (this is part of the
LLM-pipeline extension surface).
"""
from __future__ import annotations

import json
import re
from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tablite_spark.plans.lifecycle import pin, release


@lru_cache(maxsize=None)
def _char_class(prefix: str) -> str:
    """Regex character-class body matching every codepoint whose
    Unicode general category starts with ``prefix`` ('L' → ``\\p{L}``,
    'N' → ``\\p{N}``), generated from ``unicodedata`` as contiguous
    ranges — stdlib ``re`` has no ``\\p{}`` classes, so this is how
    the published pattern becomes expressible exactly."""
    import sys
    import unicodedata
    ranges: list[tuple[int, int]] = []
    start = prev = None
    for cp in range(sys.maxunicode + 1):
        if unicodedata.category(chr(cp)).startswith(prefix):
            if start is None:
                start = prev = cp
            elif cp == prev + 1:
                prev = cp
            else:
                ranges.append((start, prev))
                start = prev = cp
    ranges.append((start, prev))
    return "".join(
        re.escape(chr(a)) if a == b
        else f"{re.escape(chr(a))}-{re.escape(chr(b))}"
        for a, b in ranges)


@lru_cache(maxsize=1)
def _pretok() -> re.Pattern:
    """The EXACT published GPT-2 pre-tokenizer pattern
    (``'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+|
    ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+``) with the ``\\p{}``
    classes expanded from ``unicodedata`` — upgraded in round 6 from
    a ``\\w``-based approximation that mis-classed ``No``/``Nl``
    characters ('²', '½', 'Ⅻ') as letters. Lowercase-only
    contractions ARE the published behavior (the GPT-2 pattern is
    case-sensitive; "CAN'T" splits as CAN / ' / T there too).
    Combining marks (category M) fall to the punctuation branch —
    also the published behavior for e.g. Devanagari. Compiled
    lazily: the one-time Unicode table scan costs ~0.35 s per
    interpreter, paid only when BPE is actually used."""
    letters, numbers = _char_class("L"), _char_class("N")
    return re.compile(
        r"'(?:[sdmt]|ll|ve|re)"
        rf"| ?[{letters}]+"
        rf"| ?[{numbers}]+"
        rf"| ?[^\s{letters}{numbers}]+"
        r"|\s+(?!\S)|\s+")


def __getattr__(name: str):
    # keep `from bpe import _PRETOK` working without paying the
    # Unicode scan at module import (PEP 562 lazy attribute)
    if name == "_PRETOK":
        return _pretok()
    raise AttributeError(name)


@lru_cache(maxsize=1)
def bytes_to_unicode() -> dict[int, str]:
    """GPT-2's reversible byte->printable-unicode remap: printable
    latin bytes map to themselves, the rest shift to 256+."""
    bs = (list(range(ord("!"), ord("~") + 1))
          + list(range(ord("\xa1"), ord("\xac") + 1))
          + list(range(ord("\xae"), ord("\xff") + 1)))
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, (chr(c) for c in cs)))


def _pairs(word: tuple[str, ...]) -> set[tuple[str, str]]:
    return set(zip(word, word[1:]))


class BPETokenizer:
    """Exact byte-level BPE encode/decode/count."""

    def __init__(self, vocab: dict[str, int],
                 merges: list[tuple[str, str]]):
        self.vocab = vocab
        self.inv_vocab = {i: t for t, i in vocab.items()}
        self.ranks = {pair: i for i, pair in enumerate(merges)}
        self._b2u = bytes_to_unicode()
        self._u2b = {u: b for b, u in self._b2u.items()}
        self._cache: dict[str, list[str]] = {}

    @classmethod
    def from_files(cls, vocab_path: str, merges_path: str) -> "BPETokenizer":
        """GPT-2 format: vocab.json `{token: id}`; merges.txt one
        space-separated pair per line (optional `#version` header)."""
        with open(vocab_path, encoding="utf-8") as f:
            vocab = json.load(f)
        merges = []
        with open(merges_path, encoding="utf-8") as f:
            for line in f:
                line = line.rstrip("\n")
                if not line or line.startswith("#"):
                    continue
                a, b = line.split(" ")
                merges.append((a, b))
        return cls(vocab, merges)

    def _bpe(self, token: str) -> list[str]:
        cached = self._cache.get(token)
        if cached is not None:
            return cached
        word = tuple(token)
        while len(word) > 1:
            best = min(_pairs(word),
                       key=lambda p: self.ranks.get(p, float("inf")))
            if best not in self.ranks:
                break
            a, b = best
            merged, i = [], 0
            while i < len(word):
                if i < len(word) - 1 and word[i] == a and word[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(word[i])
                    i += 1
            word = tuple(merged)
        out = list(word)
        if len(self._cache) < 65536:
            self._cache[token] = out
        return out

    def encode(self, text: str) -> list[int]:
        ids = []
        unk = self.vocab.get("<unk>")
        for m in _pretok().findall(text):
            mapped = "".join(self._b2u[b] for b in m.encode("utf-8"))
            for piece in self._bpe(mapped):
                i = self.vocab.get(piece, unk)
                if i is None:
                    raise KeyError(
                        f"piece {piece!r} not in vocab and no <unk>")
                ids.append(i)
        return ids

    def decode(self, ids: list[int]) -> str:
        text = "".join(self.inv_vocab[i] for i in ids)
        return bytes(self._u2b[u] for u in text).decode(
            "utf-8", errors="replace")

    def count(self, text: str) -> int:
        return len(self.encode(text))


def train_bpe(texts, vocab_size: int) -> tuple[dict[str, int],
                                               list[tuple[str, str]]]:
    """Classic BPE training: start from the 256-byte alphabet, then
    repeatedly merge the most frequent adjacent pair (ties broken
    lexicographically for determinism) until ``vocab_size`` tokens.
    Driver-side over a sample corpus — see module docstring for the
    100 TB division of labour."""
    b2u = bytes_to_unicode()
    word_freq: dict[tuple[str, ...], int] = {}
    for text in texts:
        for m in _pretok().findall(text):
            w = tuple(b2u[b] for b in m.encode("utf-8"))
            word_freq[w] = word_freq.get(w, 0) + 1
    vocab_toks = [b2u[b] for b in range(256)]
    merges: list[tuple[str, str]] = []
    while len(vocab_toks) < vocab_size:
        counts: dict[tuple[str, str], int] = {}
        for w, f in word_freq.items():
            for p in zip(w, w[1:]):
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        best = max(counts, key=lambda p: (counts[p], (-len(p[0] + p[1]),
                                                      p[0], p[1])))
        a, b = best
        merges.append(best)
        vocab_toks.append(a + b)
        nxt: dict[tuple[str, ...], int] = {}
        for w, f in word_freq.items():
            merged, i = [], 0
            while i < len(w):
                if i < len(w) - 1 and w[i] == a and w[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(w[i])
                    i += 1
            t = tuple(merged)
            nxt[t] = nxt.get(t, 0) + f
        word_freq = nxt
    vocab = {t: i for i, t in enumerate(vocab_toks)}
    return vocab, merges


def tokenize_bpe(df: DataFrame, text_col: str,
                 vocab: dict[str, int],
                 merges: list[tuple[str, str]],
                 out_col: str = "token_ids") -> DataFrame:
    """Full BPE encoding → ``out_col`` array<int> (the trainer-facing
    sibling of :func:`token_count_bpe`, same Arrow-batched transport
    and per-executor tokenizer reuse). NULL text encodes to an empty
    array. Feed the result to ``text.pack_sequences`` for the
    concat-and-chunk training layout."""
    state: dict[str, BPETokenizer] = {}

    @F.pandas_udf("array<int>")
    def _ids(s: pd.Series) -> pd.Series:
        tok = state.get("t")
        if tok is None:
            tok = state["t"] = BPETokenizer(vocab, merges)
        return s.map(lambda v: [] if v is None else tok.encode(v))

    return df.withColumn(out_col, _ids(F.col(text_col)))


def token_count_bpe(df: DataFrame, text_col: str,
                    vocab: dict[str, int],
                    merges: list[tuple[str, str]]) -> DataFrame:
    """Exact BPE ``n_tokens`` via an Arrow-batched pandas UDF.  The
    vocab+merges dicts ship once per executor in the UDF closure
    (typically ~1-2 MB — the same order as a broadcast); the merge
    loop runs C-speed-ish on the worker with an LRU word cache, so
    throughput is bounded by tokenization itself, not transfer."""
    state: dict[str, BPETokenizer] = {}

    @F.pandas_udf("int")
    def _n(s: pd.Series) -> pd.Series:
        tok = state.get("t")
        if tok is None:
            tok = state["t"] = BPETokenizer(vocab, merges)
        return s.map(lambda v: 0 if v is None else tok.count(v))

    return df.withColumn("n_tokens", _n(F.col(text_col)))


def save_bpe_files(vocab: dict[str, int],
                   merges: list[tuple[str, str]],
                   vocab_path: str, merges_path: str) -> None:
    """Write a (vocab, merges) pair — e.g. from :func:`train_bpe` —
    in the standard GPT-2 file format ``BPETokenizer.from_files``
    (and the HF/tiktoken ecosystem) reads back: ``vocab.json`` as
    ``{token: id}``, ``merges.txt`` one space-separated pair per
    line under a ``#version`` header."""
    with open(vocab_path, "w", encoding="utf-8") as f:
        json.dump(vocab, f, ensure_ascii=False)
    with open(merges_path, "w", encoding="utf-8") as f:
        f.write("#version: 0.2\n")
        for a, b in merges:
            f.write(f"{a} {b}\n")


def train_bpe_distributed(df: DataFrame, text_col: str, n_merges: int,
                          min_word_freq: int = 1) -> DataFrame:
    """Distributed BPE vocabulary training — the 100 TB path that
    ``train_bpe`` (driver-side, sample-level) documents but doesn't
    provide: learn the merge table from the ENTIRE corpus, not a
    sample.

    Same algorithm and the same determinism contract as
    :func:`train_bpe` (GPT-2 byte→unicode remap + exact ``_pretok``
    segmentation; ties broken max-count, then SHORTEST merged string,
    then lexicographically LARGEST pair — asserted equal in
    ``tests/test_pipeline.py``). Returns a DataFrame
    ``(merge_rank, mleft, mright, pair_count)`` with one row per
    learned merge, in merge order.

    Scale shape — the classic division BPE training admits:

    * ONE corpus-sized pass: pre-tokenize (Arrow-batched pandas UDF,
      the exact GPT-2 regex has no Java-regex equivalent) + one
      combinable ``groupBy(word)`` count. 100 TB of text reduces to
      a word-frequency table bounded by the DISTINCT word count
      (~10⁶–10⁷ rows for natural language — Heaps' law), which is
      what every later step runs on; corpus text is never re-read.
    * Per merge: one combinable pair-count ``groupBy`` over the word
      table (adjacent symbol pairs weighted by word freq — partial
      aggregation absorbs hot pairs map-side), ONE argmax row to the
      driver (``orderBy().first()`` = TakeOrdered, no full sort),
      and a row-local ``F.aggregate`` fold applying the merge
      leftmost-greedy inside each word (whole-symbol equality, so a
      token produced by this merge never re-matches as its own left
      side — byte-identical to the serial pass). The word table is
      ``localCheckpoint``-pinned each round with deterministic
      release of the previous round's blocks (the pagerank pattern),
      so plans and executor storage stay O(1) in ``n_merges``.

    The merge loop is inherently sequential (each argmax depends on
    the previous merge) — like the classifier's GD, cost is
    ~(1 pair-census job + 1 checkpoint) × n_merges over the SMALL
    word table, independent of corpus size after the first pass.
    ``min_word_freq`` prunes the word-table tail (hapaxes can't win
    merges over a real corpus but can triple the table size).
    """
    b2u = bytes_to_unicode()

    @F.pandas_udf("array<string>")
    def _words(s: pd.Series) -> pd.Series:
        pat = _pretok()
        return s.map(lambda t: [] if t is None else
                     ["".join(b2u[b] for b in m.encode("utf-8"))
                      for m in pat.findall(t)])

    words = (df.select(F.explode(_words(F.col(text_col))).alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("freq")))
    if min_word_freq > 1:
        words = words.filter(F.col("freq") >= min_word_freq)
    # symbols start as single characters of the remapped word
    words = words.select(
        "freq",
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.col("w").substr(i, F.lit(1))).alias("sym"))
    words = pin(words, eager=True)

    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, n_merges + 1):
        pairs = (words
                 .filter(F.size("sym") > 1)
                 .select("freq", F.explode(F.transform(
                     F.sequence(F.lit(1), F.size("sym") - 1),
                     lambda i: F.struct(
                         F.element_at("sym", i).alias("l"),
                         F.element_at("sym", i + F.lit(1)).alias("r"))))
                     .alias("p"))
                 .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                 .agg(F.sum("freq").alias("c")))
        best = (pairs.orderBy(F.col("c").desc(),
                              F.length(F.concat("l", "r")).asc(),
                              F.col("l").desc(), F.col("r").desc())
                .first())
        if best is None:
            break
        a, b, cnt = best["l"], best["r"], int(best["c"])
        merges.append((r, a, b, cnt))
        ab = a + b
        fold = F.aggregate(
            "sym", F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1),
                         F.array(F.lit(ab)))
            ).otherwise(F.concat(acc, F.array(x))))
        nxt = pin(words.select("freq", fold.alias("sym")), eager=True)
        release(words)
        words = nxt
    release(words)
    spark = df.sparkSession
    return spark.createDataFrame(
        merges, "merge_rank int, mleft string, mright string, "
                "pair_count long")
