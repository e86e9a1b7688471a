"""Non-comment line count of the engine: ``tablite_spark/`` by
subpackage, plus ``__spark_entry__.py``.

A line counts when it holds part of a Python token other than a
comment, so code and strings (docstrings included, every line a
multi-line string spans) count; comment-only and blank lines do not.
Spark-free. Usage:

    python tools/loc.py
"""

from __future__ import annotations

import io
import os
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "tablite_spark"
ENTRY = "__spark_entry__.py"

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def count_lines(source: str) -> int:
    """Number of lines of ``source`` that hold a non-comment token."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def count_file(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        return count_lines(f.read())


def package_counts(root: str = ROOT) -> dict[str, int]:
    """{subpackage (``.`` for top-level modules): lines} over every
    ``.py`` file under ``tablite_spark/``."""
    counts: dict[str, int] = {}
    pkg = os.path.join(root, PACKAGE)
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        rel = os.path.relpath(dirpath, pkg)
        sub = rel.split(os.sep)[0]
        for name in filenames:
            if name.endswith(".py"):
                n = count_file(os.path.join(dirpath, name))
                counts[sub] = counts.get(sub, 0) + n
    return counts


def main() -> None:
    counts = package_counts()
    total = sum(counts.values())
    entry = count_file(os.path.join(ROOT, ENTRY))
    rows = [(f"{PACKAGE}/" + ("" if sub == "." else f"{sub}/"), counts[sub])
            for sub in sorted(counts)]
    rows += [(f"{PACKAGE}/ total", total), (ENTRY, entry),
             ("total", total + entry)]
    for label, n in rows:
        print(f"{label:<26} {n:>6}")


if __name__ == "__main__":
    main()
