"""``tools/diff_sweeps.py``: the oracle-sweep differ. Spark-free."""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import diff_sweeps  # noqa: E402


def _q(status, n_jobs, pins=0, dirs=0):
    return {"status": status, "rows": 1, "n_jobs": n_jobs,
            "pins_left": pins, "dirs_left": dirs}


def test_diff_names_moved_fields_and_new_failures(tmp_path, capsys):
    old = {"_sweep": {"n_pass": 4}, "same": _q("pass", 3),
           "fewer": _q("pass", 27), "broke": _q("pass", 2),
           "was_bad": _q("fail", 1)}
    new = {"_sweep": {"n_pass": 3}, "same": _q("pass", 3),
           "fewer": _q("pass", 13), "broke": _q("fail", 2, pins=1),
           "was_bad": _q("fail", 1), "added": _q("fail", 5)}
    paths = []
    for name, rec in (("old", old), ("new", new)):
        paths.append(str(tmp_path / f"{name}.json"))
        with open(paths[-1], "w") as fh:
            json.dump(rec, fh)
    assert diff_sweeps.main(paths) == 1
    out = capsys.readouterr().out.splitlines()
    assert out == [
        "added: status - -> fail, n_jobs - -> 5, pins_left - -> 0, "
        "dirs_left - -> 0",
        "broke: status pass -> fail, pins_left 0 -> 1",
        "fewer: n_jobs 27 -> 13",
        "3 queries differ; 2 new failures: added, broke",
    ]
    assert diff_sweeps.main([paths[1], paths[1]]) == 0
