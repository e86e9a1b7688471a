"""The engine's tokenizers: each rule written once as a Column
expression, beside the Python twin that Arrow-side UDFs and
driver-side parsing must match.

- ``words``: whitespace words, ``split(trim(c), '\\s+')``; keeps the
  ``""`` that split yields for empty text or a leading ``\\n``/``\\t``.
- ``collapsed`` / ``collapsed_words``: whitespace runs folded to one
  space and trimmed, and its ``' '`` split (no leading ``""``; ``[""]``
  for empty or whitespace-only text).
- ``alnum_words``: maximal runs of ``[a-z0-9]`` in ``lower(c)``; never
  an empty token.
- ``nonempty`` drops the ``""`` tokens; ``windows`` and ``ngrams``
  build k-token windows (structs ``t0..t{k-1}``) and space-joined
  n-gram strings from any token array.

Java's ``\\s`` — the class behind Spark's regex functions — is ASCII
only, ``[ \\t\\n\\x0b\\f\\r]``: NBSP and the other Unicode spaces are word
characters to every rule here. Python's ``\\s`` and ``str.split()``
also split on Unicode whitespace, so the twins spell the class out.
Callers lowercase by passing ``F.lower(c)``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Python twin of Java's (ASCII) \s+
WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")
# the alnum rule's separator: one pattern for Spark and Python
ALNUM_SPLIT = r"[^a-z0-9]+"


def words(c: Column) -> Column:
    """Whitespace words of ``c``."""
    return F.split(F.trim(c), r"\s+")


def py_words(text: str) -> list[str]:
    """Python twin of ``nonempty(words(c))``."""
    return [w for w in WS_RE.split(text) if w]


def nonempty(toks: Column) -> Column:
    """``toks`` without its empty-string tokens."""
    return F.filter(toks, lambda t: t != "")


def collapsed(c: Column) -> Column:
    """``c`` with each whitespace run folded to one space, trimmed."""
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def collapsed_words(c: Column) -> Column:
    """The space-split of :func:`collapsed`."""
    return F.split(collapsed(c), " ")


def alnum_words(c: Column) -> Column:
    """Runs of ``[a-z0-9]`` in ``lower(c)``."""
    return nonempty(F.split(F.lower(c), ALNUM_SPLIT))


def py_alnum_words(text: str) -> list[str]:
    """Python twin of :func:`alnum_words`."""
    return [t for t in re.split(ALNUM_SPLIT, text.lower()) if t]


def windows(toks: Column, k: int) -> Column:
    """The k-token windows of ``toks`` as structs ``t0..t{k-1}``: k
    shifted copies zipped, so the cost is k array ops per row, not one
    slice per window. A non-empty array shorter than k gives one
    window whose missing fields are null; an empty one gives none."""
    n = F.size(toks)
    parts = [toks.alias("t0")] + [
        F.slice(toks, i + 1, F.greatest(n - F.lit(i), F.lit(1)))
        .alias(f"t{i}") for i in range(1, k)]
    return F.slice(F.arrays_zip(*parts), 1,
                   F.greatest(n - F.lit(k - 1), F.lit(1)))


def ngrams(toks: Column, n: int) -> Column:
    """The space-joined n-grams of ``toks``; an array shorter than n
    gives its own join as the one gram."""
    cnt = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(0), cnt - 1),
                       lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
