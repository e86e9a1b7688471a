"""``operators/groupby.py::top_k_per_group`` is the package's one
ranked cut: no other function salts rows by input partition, and
every public top-k built on it rejects ``k < 1`` with its error
instead of returning an empty frame."""

import ast
import pathlib
import random

import pytest

from tablite_spark.pipeline import retrieval, selection, similarity, text

PKG = pathlib.Path(__file__).resolve().parents[1] / "tablite_spark"

# (module, function) -> why it calls spark_partition_id itself
ALLOWED = {
    ("operators/groupby.py", "top_k_per_group"):
        "the salted form of the ranked cut",
    ("pipeline/sampling.py", "token_budget_cap"):
        "a running-sum cap, not a top-k: each slice keeps a token "
        "budget plus its boundary row, so no row count k bounds it",
}


def _partition_id_callers():
    found = {}
    for p in sorted(PKG.rglob("*.py")):
        mod = p.relative_to(PKG).as_posix()
        for fn in ast.walk(ast.parse(p.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                # F.spark_partition_id, a bare import of it, or SQL
                # text handed to a call (F.expr, selectExpr)
                names = ([node.attr] if isinstance(node, ast.Attribute)
                         else [node.id] if isinstance(node, ast.Name)
                         else [a.value for a in node.args
                               if isinstance(a, ast.Constant)
                               and isinstance(a.value, str)]
                         if isinstance(node, ast.Call) else [])
                if any("spark_partition_id" in n for n in names):
                    found.setdefault((mod, fn.name), node.lineno)
    return found


def test_partition_salt_lives_in_top_k_per_group():
    found = _partition_id_callers()
    stray = {k: v for k, v in found.items() if k not in ALLOWED}
    assert stray == {}, stray
    # an allowlist entry whose site is gone must go too
    assert set(ALLOWED) - set(found) == set()


def _vecs(spark):
    rnd = random.Random(3)
    return spark.createDataFrame(
        [(i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(64)],
        "id long, vec array<double>")


def _docs(spark):
    return spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "spark sorts the rows"),
         (3, "a cat and a dog"), (4, "rows of spark tasks")],
        "doc_id long, text string")


def _ranking(spark):
    return spark.createDataFrame([(1, 1, 1), (1, 2, 2)],
                                 "qid long, doc_id long, rank int")


def _queries(spark):
    return spark.createDataFrame([(1, "cat spark")],
                                 "qid long, qtext string")


CALLS = {
    "brute_force_topk": lambda s, k: similarity.brute_force_topk(
        _vecs(s), _vecs(s).limit(2), k),
    "batched_topk": lambda s, k: similarity.batched_topk(
        _vecs(s), _vecs(s).limit(2), k),
    "ivf_topk": lambda s, k: similarity.ivf_topk(
        _vecs(s), _vecs(s).limit(2), k, n_lists=4, n_probe=2),
    "pq_topk": lambda s, k: similarity.pq_topk(
        _vecs(s), _vecs(s).limit(2), k, m=4, n_codes=8),
    "ivfpq_topk": lambda s, k: similarity.ivfpq_topk(
        _vecs(s), _vecs(s).limit(2), k, n_lists=4, n_probe=2, m=4,
        n_codes=8),
    "lsh_topk": lambda s, k: similarity.lsh_topk(
        _vecs(s), _vecs(s).limit(2), k, dim=8),
    "hard_negatives": lambda s, k: similarity.hard_negatives(
        _vecs(s), _vecs(s).limit(2), k),
    "hard_negatives_batched": lambda s, k: similarity.hard_negatives(
        _vecs(s), _vecs(s).limit(2), k, batched=True),
    "bm25_search": lambda s, k: retrieval.bm25_search(
        _docs(s), _queries(s), k=k),
    "rrf_fuse": lambda s, k: retrieval.rrf_fuse(
        [_ranking(s), _ranking(s)], k=k),
    "dsir_select": lambda s, k: selection.dsir_select(
        _docs(s), _docs(s).limit(2), "text", "doc_id", k=k, buckets=64),
    "tfidf_keywords": lambda s, k: text.tfidf_keywords(
        _docs(s), "text", "doc_id", k=k),
}


@pytest.mark.parametrize("name", sorted(CALLS))
def test_k_below_one_raises(spark, jobs, name):
    """``k < 1`` raises on entry: no pin, collect or training job runs
    before the error."""
    assert CALLS[name](spark, 1).count() > 0
    jobs0 = jobs()
    with pytest.raises(ValueError, match="k must be >= 1"):
        CALLS[name](spark, 0).collect()
    assert jobs() == jobs0
