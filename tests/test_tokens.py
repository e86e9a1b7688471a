"""``functions/tokens.py`` owns tokenization: no operator spells a
tokenizer regex of its own, and each Column tokenizer gives the same
tokens as its Python twin on hostile strings."""

import ast
import pathlib

from pyspark.sql import functions as F

from tablite_spark.functions.tokens import (
    alnum_words, collapsed, collapsed_words, ngrams, nonempty,
    py_alnum_words, py_words, windows, words,
)

PKG = pathlib.Path(__file__).resolve().parents[1] / "tablite_spark"
SCANNED = ("pipeline", "operators", "registry")

# (module, function) -> why it keeps its own whitespace rule
ALLOWED = {
    ("pipeline/text.py", "chunk_documents"):
        "re-counts the chunk text untrimmed; words() would trim",
    ("pipeline/dedup.py", "winnow_fingerprints"):
        "fingerprints the untrimmed folded text, not a token array",
}


JAVA_WS = ("\t\n\x0b\f\r", r"\t\n\x0b\f\r")  # the class, plain or raw


def _tokenizer_regex(call: ast.Call, consts: dict) -> bool:
    """A call that spells a tokenizer rule: ``F.split`` on ``\\s+`` or
    ``[^a-z0-9``, ``F.regexp_replace`` of either by a space, or a
    ``re`` call on the spelled-out Java ``\\s`` class or ``[^a-z0-9``.
    ``consts`` maps module-level names to their string values."""
    f = call.func
    if not (isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name)):
        return False
    args = [a.value if isinstance(a, ast.Constant)
            else consts.get(a.id) if isinstance(a, ast.Name) else None
            for a in call.args]
    args = [a if isinstance(a, str) else None for a in args]
    pats = [a for a in args if a]
    if f.value.id == "F" and f.attr == "split" and len(args) > 1:
        return any("\\s+" in a or "[^a-z0-9" in a for a in pats)
    if f.value.id == "F" and f.attr == "regexp_replace":
        return args[-1:] == [" "] and any(
            a in ("\\s+", "[^a-z0-9 ]") for a in args[:-1])
    if f.value.id == "re":
        return any(w in a for a in pats for w in JAVA_WS + ("[^a-z0-9",))
    return False


def _found():
    found = {}
    for sub in SCANNED:
        for p in sorted((PKG / sub).rglob("*.py")):
            mod = p.relative_to(PKG).as_posix()
            tree = ast.parse(p.read_text())
            consts = {t.id: n.value.value for n in tree.body
                      if isinstance(n, ast.Assign)
                      and isinstance(n.value, ast.Constant)
                      for t in n.targets if isinstance(t, ast.Name)}
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef,
                                       ast.AsyncFunctionDef)):
                    continue
                for node in ast.walk(fn):
                    if (isinstance(node, ast.Call)
                            and _tokenizer_regex(node, consts)):
                        found.setdefault((mod, fn.name), node.lineno)
    return found


def test_tokenizers_live_in_tokens_module():
    found = _found()
    stray = {k: v for k, v in found.items() if k not in ALLOWED}
    assert stray == {}, stray
    # an allowlist entry whose site is gone must go too
    assert set(ALLOWED) - set(found) == set()


HOSTILE = ["\nlead newline", "\tlead tab", "crlf\r\nline two\r\n", "",
           None, " \t\r\n ", "nbsp\u00a0word x\u00a0", "vt\x0bff\x0cend",
           "İstanbul ÉCOLE café's 3.14", "!!! ... --- ???",
           "a  b\t\tc d e"]


def _py_ngrams(ws, n):
    return [" ".join(ws[j:j + n]) for j in range(max(len(ws) - n + 1, 1))]


def test_column_tokenizers_match_python_twins(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(HOSTILE)],
                               "i int, s string")
    c = F.col("s")
    ws = nonempty(words(c))
    rows = sorted(df.select(
        "i", ws.alias("ws"), alnum_words(c).alias("alnum"),
        collapsed(c).alias("coll"), collapsed_words(c).alias("cw"),
        words(c).alias("raw"), ngrams(ws, 2).alias("bi"),
        F.transform(windows(ws, 3), lambda w: F.array(
            w["t0"], w["t1"], w["t2"])).alias("win")).collect())
    for r in rows:
        s = HOSTILE[r["i"]]
        if s is None:
            assert (r["ws"], r["alnum"], r["coll"]) == (None,) * 3
            continue
        py = py_words(s)
        assert r["ws"] == py, s
        assert r["alnum"] == py_alnum_words(s), s
        # the collapsed string is the words joined by one space
        assert r["coll"] == " ".join(py), s
        assert r["cw"] == (py or [""]), s
        assert r["bi"] == _py_ngrams(py, 2), s
        short = [(py + [None] * 3)[:3]] if py else []
        assert r["win"] == ([py[j:j + 3] for j in range(len(py) - 2)]
                            or short), s
    by = {HOSTILE[r["i"]]: r for r in rows}
    # NBSP and the other Unicode spaces are word characters (Java's
    # \s is ASCII), and only words() keeps split's leading ""
    assert by["nbsp\u00a0word x\u00a0"]["ws"] == ["nbsp\u00a0word",
                                                "x\u00a0"]
    assert by["\nlead newline"]["raw"] == ["", "lead", "newline"]
    assert by["\nlead newline"]["cw"] == ["lead", "newline"]
    assert by["İstanbul ÉCOLE café's 3.14"]["alnum"] == [
        "i", "stanbul", "cole", "caf", "s", "3", "14"]
