"""Output checks behind ``failed``. They run after the timed passes, so
they stay outside every timed metric.

- An operation with a registry DuckDB oracle is compared with that
  oracle on the same seeded tables by ``tools/check_oracle.compare``
  in strict mode.
- An operation with its own ``check`` (the io round trip) runs it.
- Any other operation must return rows.
- An operation without its own check must also return the same
  result, columns and types in every timed pass.
"""

from __future__ import annotations

import glob
import importlib.util
import os
import sys

import duckdb
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_FLOATS = (T.FloatType, T.DoubleType)


def _canonical(field: T.StructField):
    """Floats rounded to 6 decimals, so a last-bit difference in a
    distributed float sum does not count as a different result."""
    col = F.col(f"`{field.name}`")
    if isinstance(field.dataType, _FLOATS):
        return F.round(col, 6)
    if (isinstance(field.dataType, T.ArrayType)
            and isinstance(field.dataType.elementType, _FLOATS)):
        return F.transform(col, lambda x: F.round(x, 6))
    return col


def fingerprint(df: DataFrame) -> tuple[int, str]:
    """(row count, order-independent sum of the row hashes)."""
    h = F.xxhash64(*[_canonical(f) for f in df.schema.fields])
    row = df.select(F.count(F.lit(1)).alias("n"),
                    F.sum(h.cast("decimal(38,0)")).alias("h")).first()
    return row["n"], str(row["h"])


def _oracle_compare(root: str):
    """``compare`` from tools/check_oracle.py, loaded by path because
    tools/ is not a package; the module's sys.path edit is undone."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    module = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(module)
    finally:
        sys.path[:] = saved
    return module.compare


def _digest(pdf: pd.DataFrame) -> tuple:
    """Order-independent digest of a collected result: its Spark schema
    and the sorted row hashes, floats rounded to 6 decimals."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(6)
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].map(repr)
    rows = sorted(pd.util.hash_pandas_object(pdf, index=False).tolist())
    return pdf.attrs.get("schema"), hash(tuple(rows))


class Checker:
    def __init__(self, root: str, data: str, oracles: dict[str, str]):
        self._compare = _oracle_compare(root)
        self._oracles = oracles
        self._con = duckdb.connect()
        for path in sorted(glob.glob(os.path.join(data, "*.parquet"))):
            if os.path.isfile(path):
                name = os.path.basename(path)[:-len(".parquet")]
                self._con.execute(f"CREATE VIEW {name} AS "
                                  f"SELECT * FROM read_parquet('{path}')")

    def close(self) -> None:
        self._con.close()

    def check(self, ctx, op, results: list) -> list[str]:
        """Problems with ``op``'s results, one per timed pass (the
        action's return values); empty when they are correct."""
        if op.check is not None:
            return op.check(ctx, results)
        problems = []
        if op.oracle is not None:
            expected = self._con.execute(self._oracles[op.oracle]).fetchdf()
            problems += self._compare(results[-1], expected, strict=True)
        elif len(results[-1]) == 0:
            problems.append("no rows")
        digests = {_digest(r) for r in results}
        if len(digests) > 1:
            problems.append(f"{len(digests)} different results "
                            f"over {len(results)} passes")
        return problems
