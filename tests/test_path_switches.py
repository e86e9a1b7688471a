"""Each operator has one code path: a public parameter that picks a
second implementation of the same result doubles what tests must
cover. Spark-free: reads the package source with ``ast``."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "tablite_spark"

SWITCHES = {"impl", "engine", "single_scan", "single_pass", "batched",
            "_materialize"}

# (module, function, parameter) -> why the choice stays with the caller
ALLOWED = {
    ("operators/groupby.py", "top_k_per_group", "engine"):
        "the package's one ranked cut; its callers pick the form: "
        "the window for bounded groups (frequency.item_cosine, "
        "text.tfidf_keywords, imputation's two donor picks, "
        "sketches.kmv_jaccard_pairs, relational.window_topn, "
        "sketches.top_k_per_group_lineitem), the salted form for a "
        "hot key or a global cut (similarity._topk_per_qid, "
        "retrieval.bm25_search and rrf_fuse, selection.dsir_select, "
        "sampling.quota_cap, sketches.kmv_sketch, "
        "pipeline_docs.winnow_matches_docs)",
    ("pipeline/similarity.py", "hard_negatives", "batched"):
        "the two paths win at different sizes and the benchmark has no "
        "workload on either side to choose between them",
    ("pipeline/text.py", "perplexity_score", "broadcast_max_rows"):
        "a row bound, not a path choice: the join strategy is picked "
        "from the model's counted size",
}


def _public_functions(tree):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            yield from (f for f in node.body
                        if isinstance(f, (ast.FunctionDef,
                                          ast.AsyncFunctionDef)))


def test_no_path_selecting_parameters():
    found = set()
    for p in sorted(PKG.rglob("*.py")):
        mod = p.relative_to(PKG).as_posix()
        for fn in _public_functions(ast.parse(p.read_text())):
            if fn.name.startswith("_"):
                continue
            a = fn.args
            for arg in a.posonlyargs + a.args + a.kwonlyargs:
                if arg.arg in SWITCHES or arg.arg.startswith("broadcast_"):
                    found.add((mod, fn.name, arg.arg))
    assert found - set(ALLOWED) == set(), sorted(found - set(ALLOWED))
    # an allowlist entry whose parameter is gone must go too
    assert set(ALLOWED) - found == set(), sorted(set(ALLOWED) - found)
