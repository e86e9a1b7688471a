"""The bench's printed line: ``bench.printed_line`` picks its rows by
one rule (BASELINE rows first, then slowest-first, within the last
2000 stdout chars that readers parse). Spark-free: the rule is a pure
function of the payload."""

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402


def check_line(payload: dict) -> dict:
    """Assert the rule's three promises; return the parsed line."""
    text = bench.printed_line(payload)
    # 1995 + newline fits in the last 2000 stdout chars
    assert len(text) <= 1995
    line = json.loads(text)
    assert {k: line[k] for k in ("metric", "value", "unit", "sf")} == {
        k: payload[k] for k in ("metric", "value", "unit", "sf")}
    times, shown = payload["queries"], line["queries"]
    assert shown == {k: round(times[k], 2) for k in shown}
    # a BASELINE row is missing only if it does not fit
    for name in bench.BASELINE_LINE_PROTECT & set(times) - set(shown):
        grown = dict(line, queries={**shown, name: round(times[name], 2)})
        assert len(json.dumps(grown, separators=(",", ":"))) \
            > bench.LINE_MAX, name
    # no row left off is slower than an unprotected row on the line
    on = [times[k] for k in shown if k not in bench.BASELINE_LINE_PROTECT]
    off = [times[k] for k in times if k not in shown]
    if on and off:
        assert max(off) <= min(on), (max(off), min(on))
    return line


def test_printed_line_on_committed_record():
    with open(os.path.join(ROOT, "BENCH_META_r15.json")) as fh:
        payload = json.load(fh)
    line = check_line(payload)
    assert bench.BASELINE_LINE_PROTECT <= set(line["queries"])
    assert len(line["queries"]) < len(payload["queries"])


def synthetic_payload(slack: int) -> dict:
    """BASELINE rows plus 40 faster unprotected rows, with ``metric``
    padded so the line holding only the BASELINE rows is ``slack``
    chars short of the limit (negative: they do not all fit)."""
    queries = {name: 100.0 + i for i, name in
               enumerate(sorted(bench.BASELINE_LINE_PROTECT))}
    queries.update({f"row_{i:02d}": 1.01 + 0.02 * i for i in range(40)})
    payload = {"metric": "", "value": 1.0, "unit": "sec", "sf": 0.1,
               "queries": queries}
    base = {"metric": "", "value": 1.0, "unit": "sec", "sf": 0.1,
            "queries": {k: round(v, 2) for k, v in queries.items()
                        if k in bench.BASELINE_LINE_PROTECT}}
    size = len(json.dumps(base, separators=(",", ":")))
    payload["metric"] = "m" * (bench.LINE_MAX - size - slack)
    return payload


@pytest.mark.parametrize("slack", [-80, -1, 0, 12, 40, 300])
def test_printed_line_when_baseline_rows_nearly_fill_it(slack):
    line = check_line(synthetic_payload(slack))
    shown = set(line["queries"])
    protected = bench.BASELINE_LINE_PROTECT
    if slack >= 0:
        assert protected <= shown
    else:
        assert not protected <= shown
        assert shown <= protected
    # each unprotected row costs 14 chars (',"row_NN":1.NN')
    assert len(shown - protected) == max(slack, 0) // 14
