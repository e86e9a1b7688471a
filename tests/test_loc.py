"""``tools/loc.py``: the non-comment line counter. Spark-free."""

import os
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import loc  # noqa: E402


SOURCE = textwrap.dedent('''\
    """Module docstring
    over two lines."""

    # a comment line

    import os  # trailing comment counts as code


    def f(x):
        """One-line docstring."""
        # indented comment
        s = """a string
    spanning

    four lines"""
        return (x,
                s)
    ''')


def test_count_lines_counts_code_and_docstrings_only():
    # docstring 2 + import 1 + def 1 + docstring 1 + string 4
    # (its blank line included) + return 2
    assert loc.count_lines(SOURCE) == 11
    assert loc.count_lines("# only a comment\n\n") == 0
    assert loc.count_lines("") == 0


def test_package_counts_by_subpackage(tmp_path):
    pkg = tmp_path / loc.PACKAGE
    (pkg / "sub" / "deep").mkdir(parents=True)
    (pkg / "__init__.py").write_text(SOURCE)
    (pkg / "sub" / "a.py").write_text("x = 1\n# c\n")
    (pkg / "sub" / "deep" / "b.py").write_text("y = 2\nz = 3\n")
    (pkg / "sub" / "notes.txt").write_text("not python\n")
    assert loc.package_counts(str(tmp_path)) == {".": 11, "sub": 3}
