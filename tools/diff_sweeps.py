"""Compare two oracle sweeps written by ``tools/check_oracle.py --json``.

Prints one line per query whose ``status``, ``n_jobs``, ``pins_left``
or ``dirs_left`` differs between the two sweeps (a query missing from
one side shows as ``-``), then a count. Exits 1 if the second sweep
has a new failure: a query that fails there but did not fail in the
first sweep, or was not in it. Spark-free. Usage:

    python tools/diff_sweeps.py PARENT.json CHANGE.json
"""

from __future__ import annotations

import json
import sys

FIELDS = ("status", "n_jobs", "pins_left", "dirs_left")


def load(path: str) -> dict:
    with open(path) as fh:
        rec = json.load(fh)
    rec.pop("_sweep", None)
    return rec


def diff(old: dict, new: dict) -> tuple[list[str], list[str]]:
    """(one line per changed query, names of the new failures)."""
    lines, new_fail = [], []
    for name in sorted(set(old) | set(new)):
        a, b = old.get(name, {}), new.get(name, {})
        moved = [f"{f} {a.get(f, '-')} -> {b.get(f, '-')}"
                 for f in FIELDS if a.get(f, "-") != b.get(f, "-")]
        if moved:
            lines.append(f"{name}: " + ", ".join(moved))
        if b.get("status") == "fail" and a.get("status") != "fail":
            new_fail.append(name)
    return lines, new_fail


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[-1].strip(), file=sys.stderr)
        return 2
    lines, new_fail = diff(load(argv[0]), load(argv[1]))
    for line in lines:
        print(line)
    print(f"{len(lines)} queries differ; {len(new_fail)} new failures"
          + (f": {', '.join(new_fail)}" if new_fail else ""))
    return 1 if new_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
