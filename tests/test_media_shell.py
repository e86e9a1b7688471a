"""Each media operator is written once: one mapInPandas shell in
pipeline/multimodal.py, and each image format's magic bytes in one
codec table. Spark-free: reads the module source with ``ast``."""

import ast
import pathlib

SRC = (pathlib.Path(__file__).resolve().parents[1]
       / "tablite_spark" / "pipeline" / "multimodal.py")
MAGICS = {"PNG": b"\x89PNG", "JPEG": b"\xff\xd8", "GIF": b"GIF8"}


def _tree():
    return ast.parse(SRC.read_text())


def _codec_table(tree):
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "_IMAGE_CODECS"
                for t in node.targets):
            return node
    raise AssertionError("multimodal.py has no _IMAGE_CODECS table")


def test_map_in_pandas_called_in_one_function():
    callers = []
    for fn in _tree().body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        callers += [fn.name for node in ast.walk(fn)
                    if isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "mapInPandas"]
    assert callers == ["_map_media"], callers


def test_image_magics_only_in_codec_table():
    tree = _tree()
    table = _codec_table(tree)
    inside = {id(n) for n in ast.walk(table)}
    found, outside = set(), []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Constant)
                and isinstance(node.value, bytes)):
            continue
        for fmt, magic in MAGICS.items():
            if node.value.startswith(magic):
                found.add(fmt)
                if id(node) not in inside:
                    outside.append((fmt, node.lineno))
    assert outside == [], outside
    assert found == set(MAGICS), found
