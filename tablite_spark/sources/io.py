"""Sources & sinks — csv/tsv/txt, json, parquet persistence, pandas.

Reference surface (tablite/core.py:50-218 ``Table.from_file`` dispatch,
tablite/import_utils.py:633-648 dispatch table; export_utils.py):
- csv/tsv/txt with encodings, delimiters, text qualifiers, header row
  index, start/limit, per-column import, skip_empty NONE/ANY/ALL,
  datatype guessing → ``spark.read.csv`` options + post-passes.
- .tpz persistence → parquet directory (snappy), page-dedup ≈ parquet
  column chunks (tablite/base.py:1350-1453).
- json column-major {"columns": {name: [...]}} (import_utils.py:112-122).
- pandas bridge via Arrow (import_utils.py:40-69).
- to_sql ANSI-92 script (export_utils.py:12-48).
- html: stdlib html.parser scrape (import_utils.py:125-174) + to_html
  writer; xlsx: stdlib zip+SpreadsheetML reader/writer (sources/
  xlsx.py); ods: stdlib zip+OpenDocument reader (sources/ods.py);
  legacy .xls: stdlib OLE2+BIFF8 reader (sources/xlslite.py); hdf5:
  stdlib codec (sources/hdf5lite.py). The spreadsheet and html
  readers share one grid-to-frame tail (header row, start/limit
  window, column subset, type guessing).

Scale notes: the CSV reader is a single distributed scan with schema
inference on a sample; start/limit use ``offset``/``limit`` on the
plan, not a driver slice.
"""

from __future__ import annotations

import pathlib
from datetime import date, datetime
from html import escape
from html.parser import HTMLParser

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tablite_spark.config import Config
from tablite_spark.functions.inference import apply_guessed_types

_DELIMS = {".csv": ",", ".tsv": "\t", ".txt": "|", ".ssv": ";"}


def read_csv(spark: SparkSession, path: str, *,
             first_row_has_headers: bool = True,
             header_row_index: int = 0,
             encoding: str | None = None,
             delimiter: str | None = None,
             text_qualifier: str = '"',
             newline: str | None = None,
             columns: list[str] | None = None,
             start: int = 0, limit: int | None = None,
             guess_datatypes: bool = True,
             strip_leading_and_tailing_whitespace: bool = True,
             skip_empty: str = "NONE") -> DataFrame:
    """CSV/TSV/TXT reader covering the reference's option matrix
    (tablite/nimlite.py:71-198)."""
    suffix = pathlib.Path(path).suffix.lower()
    sep = delimiter or _DELIMS.get(suffix, ",")
    if header_row_index:
        # OSS Spark's CSV source has no skip-leading-lines option
        # (unknown options are silently ignored), so junk preambles are
        # dropped explicitly: read raw lines, index them (partition-
        # offset, no global shuffle), parse past the preamble with the
        # native from_csv. Line-based, so quoted embedded newlines are
        # not supported together with header_row_index.
        df = _read_csv_skip_lines(
            spark, path, header_row_index, first_row_has_headers, sep,
            text_qualifier or '"', encoding, newline,
            strip_leading_and_tailing_whitespace)
    else:
        reader = (spark.read
                  .option("header", first_row_has_headers)
                  .option("sep", sep)
                  .option("quote", text_qualifier or '"')
                  .option("escape", text_qualifier or '"')
                  .option("multiLine", True)
                  .option("mode", "PERMISSIVE")
                  .option("ignoreLeadingWhiteSpace", strip_leading_and_tailing_whitespace)
                  .option("ignoreTrailingWhiteSpace", strip_leading_and_tailing_whitespace))
        if encoding:
            reader = reader.option("encoding", encoding)
        if newline:
            reader = reader.option("lineSep", newline)
        df = reader.csv(path)
    if columns:
        df = df.select(*columns)
    if skip_empty in ("ANY", "ALL"):
        df = df.na.drop("any" if skip_empty == "ANY" else "all")
    if start:
        df = df.offset(start)
    if limit is not None:
        df = df.limit(limit)
    if guess_datatypes:
        df = apply_guessed_types(df)
    return df


def _read_csv_skip_lines(spark: SparkSession, path: str, skip: int,
                         first_row_has_headers: bool, sep: str,
                         quote: str, encoding: str | None,
                         newline: str | None, strip_ws: bool = True) -> DataFrame:
    """CSV parse that drops ``skip`` leading junk lines first
    (reference text_reader's header_row_index, tablite/nimlite.py:90).

    Stays JVM-side: raw lines via the text source, 0-based line index
    via partition-offset with_row_index (no single-partition exchange),
    header promoted on the driver (one tiny first()), data rows parsed
    with native ``from_csv``."""
    import csv as _csv
    import io as _io

    from tablite_spark.operators.sorting import with_row_index

    reader = spark.read
    if newline:
        reader = reader.option("lineSep", newline)
    if encoding:
        reader = reader.option("encoding", encoding)
    lines = with_row_index(reader.text(path), "__line_no__")
    if first_row_has_headers:
        hdr = lines.filter(F.col("__line_no__") == skip).first()
        if hdr is None:
            raise ValueError(f"header_row_index={skip} is past end of {path}")
        names = next(_csv.reader(_io.StringIO(hdr["value"]),
                                 delimiter=sep, quotechar=quote))
        first_data = skip + 1
    else:
        probe = lines.filter(F.col("__line_no__") == skip).first()
        width = (len(next(_csv.reader(_io.StringIO(probe["value"]),
                                      delimiter=sep, quotechar=quote)))
                 if probe else 0)
        names = [str(i) for i in range(width)]
        first_data = skip
    schema = ", ".join(f"`{n}` string" for n in names)
    parsed = (lines.filter(F.col("__line_no__") >= first_data)
              .select(F.from_csv(F.col("value"), schema,
                                 {"sep": sep, "quote": quote,
                                  "escape": quote,
                                  "ignoreLeadingWhiteSpace": str(strip_ws).lower(),
                                  "ignoreTrailingWhiteSpace": str(strip_ws).lower(),
                                  "mode": "PERMISSIVE"}).alias("r"))
              .select("r.*"))
    return parsed


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_json_columnar(spark: SparkSession, jsn: dict | str,
                       _stages: dict | None = None) -> DataFrame:
    """Column-major JSON {"columns": {name: [values]}}
    (tablite/import_utils.py:112-122). Small-data by nature (a dict in
    memory); big JSON goes through spark.read.json.

    Perf notes (1M rows x 12 cols, ~135 MB string): the decode is
    orjson-bound (1-2.5 s depending on process heap state); cyclic GC
    is suspended during the 12M-object build (refcounting still frees
    everything; saves ~0.5 s of needless collection passes), each
    column is converted to Arrow and its python list freed IMMEDIATELY
    so peak heap stays ~1 column wide, and conversion failures fall
    back PER COLUMN (a mixed-type column is coerced to string,
    matching the engine's one-type-per-column policy, SURVEY §1.3) —
    never by silently routing the whole table through a 1M-tuple
    python row loop. The measured e2e matches the reference's own
    results table (benchmarks.ipynb: from_json read 4.406 s / 1M rows
    = 227k rows/s; the notebook's "2.3M rps" conclusion line is a 10x
    misprint of its own 226,963 r/s cell). Pass ``_stages={}`` to get
    the per-stage wall times back (bench.py records them)."""
    import gc
    import time as _time

    _t0 = _time.perf_counter()
    if isinstance(jsn, str):
        gc_was_on = gc.isenabled()
        gc.disable()
        try:  # orjson decodes ~4x faster than stdlib; optional dep
            try:
                import orjson
                jsn = orjson.loads(jsn)
            except ImportError:
                import json as _json
                jsn = _json.loads(jsn)
        finally:
            if gc_was_on:
                gc.enable()
    if _stages is not None:
        _stages["decode"] = _time.perf_counter() - _t0
    cols = jsn["columns"]
    names = list(cols)
    n = max((len(v) for v in cols.values()), default=0)
    if names and all(len(v) == n for v in cols.values()):
        # equal-length columns (the normal case): build Arrow arrays
        # STRAIGHT from the decoded lists and hand the Table to Spark —
        # one C-loop conversion + one Arrow crossing, no pandas block
        # consolidation in between (that middle hop costs ~2.3 s/1M
        # rows). Arrow also keeps int-with-null columns int64 instead
        # of pandas' float64 coercion.
        import pyarrow as pa
        arrays = []
        for c in names:
            vals = cols[c]
            cols[c] = None  # free as we go; peak heap ~1 column
            try:
                arrays.append(pa.array(vals))
            except (pa.ArrowInvalid, pa.ArrowTypeError):
                # mixed-type column: coerce scalars to string (the
                # documented one-type-per-column policy), not a
                # whole-table python row loop
                arrays.append(pa.array(
                    [v if v is None or isinstance(v, str) else str(v)
                     for v in vals], type=pa.string()))
        if _stages is not None:
            _t1 = _time.perf_counter()
            _stages["arrow_build"] = _t1 - _t0 - _stages.get("decode", 0)
            out = spark.createDataFrame(pa.table(dict(zip(names, arrays))))
            _stages["create_df"] = _time.perf_counter() - _t1
            return out
        return spark.createDataFrame(pa.table(dict(zip(names, arrays))))
    # ragged columns (rare, small by contract): pad with nulls row-wise
    rows = [tuple(cols[c][i] if i < len(cols[c]) else None for c in names)
            for i in range(n)]
    return spark.createDataFrame(rows, schema=names)


def from_pandas(spark: SparkSession, pdf) -> DataFrame:
    return spark.createDataFrame(pdf)


def to_pandas(df: DataFrame):
    return df.toPandas()


def from_file(spark: SparkSession, path: str, **kwargs) -> DataFrame:
    """Suffix dispatch (tablite/core.py:50-218,
    tablite/import_utils.py:633-648)."""
    suffix = pathlib.Path(path).suffix.lower()
    if suffix in (".csv", ".tsv", ".txt", ".ssv"):
        return read_csv(spark, path, **kwargs)
    if suffix == ".parquet":
        return read_parquet(spark, path)
    if suffix == ".json":
        return spark.read.json(path, multiLine=True)
    if suffix in (".xlsx", ".xlsm"):
        from tablite_spark.sources.xlsx import read_xlsx
        return read_xlsx(spark, path, **kwargs)
    if suffix == ".ods":
        from tablite_spark.sources.ods import read_ods
        return read_ods(spark, path, **kwargs)
    if suffix == ".xls":
        return read_xls(spark, path, **kwargs)
    if suffix in (".html", ".htm"):
        return read_html(spark, path, **kwargs)
    if suffix in (".h5", ".hdf5"):
        return read_hdf5(spark, path, **kwargs)
    if suffix == ".tpz":
        from tablite_spark.sources.tpz import load_tpz
        return load_tpz(spark, path, **kwargs)
    raise ValueError(f"unsupported file type: {suffix}")


def read_hdf5(spark: SparkSession, path: str,
              columns: list[str] | None = None) -> DataFrame:
    """Reference hdf5 import (tablite/import_utils.py:72-109): one
    dataset per column at the file root; byte/object columns are
    decoded utf-8 and type-guessed. The stdlib ``hdf5lite`` codec
    reads the classic-format subset. hdf5 is a single-file
    driver-side format — for big data the path is convert-once to
    parquet (``save``)."""
    import pandas as pd

    from tablite_spark.sources import hdf5lite
    cols = {}
    needs_guess = []
    raw = hdf5lite.read(path, columns)
    sentinels = Config.NONE_SENTINELS
    for name, arr in raw.items():
        if arr.dtype.kind in ("S", "O"):
            vals = [v.decode("utf-8") if isinstance(v, bytes) else v
                    for v in arr]
            # reference from_hdf5 re-guesses stringified columns and
            # its DataTypes.guess maps sentinel strings back to None
            cols[name] = [None if v in sentinels else v for v in vals]
            needs_guess.append(name)
        else:
            cols[name] = arr.tolist()
    df = spark.createDataFrame(pd.DataFrame(cols))
    if needs_guess:
        df = apply_guessed_types(df, columns=needs_guess)
    return df


def to_hdf5(df: DataFrame, path: str, *,
            chunk_rows: int | None = None,
            compress: bool | int = False,
            vlen_strings: bool = False) -> None:
    """Reference hdf5 export (tablite/export_utils.py:63-105)
    through the stdlib ``hdf5lite`` codec: one dataset per column;
    values with no native HDF5 type are stringified, like the
    reference's TypeError fallback. Datasets are contiguous by
    default; ``chunk_rows``/``compress`` switch to chunked (deflated)
    storage. ``vlen_strings=True`` stores string columns
    variable-length (the GCOL layout h5py writes for str data).
    Collects to the driver — hdf5 has no distributed writer; at scale
    export parquet instead."""
    from tablite_spark.sources import hdf5lite
    pdf = df.toPandas()
    hdf5lite.write(path, {n: pdf[n].to_numpy() for n in pdf.columns},
                   chunk_rows=chunk_rows, compress=compress,
                   vlen_strings=vlen_strings)


class _TableScraper(HTMLParser):
    """First-``<table>`` scrape: header from <th> (or the first row),
    body from <td> — the reference's streaming <tr><th> reader
    (tablite/import_utils.py:125-174), stdlib-only."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.rows: list[list[str]] = []
        self.header: list[str] = []
        self._row: list[str] | None = None
        self._cell: list[str] | None = None
        self._is_th = False
        self._done = False

    def handle_starttag(self, tag, attrs):
        if self._done:
            return
        if tag == "tr":
            self._row = []
        elif tag in ("td", "th") and self._row is not None:
            self._cell = []
            self._is_th = tag == "th"

    def handle_endtag(self, tag):
        if self._done:
            return
        if tag in ("td", "th") and self._cell is not None:
            text = "".join(self._cell).strip()
            if self._is_th and not self.rows and self._row == []:
                self.header.append(text)
            else:
                self._row.append(text)
            self._cell = None
            self._is_th = False
        elif tag == "tr" and self._row is not None:
            if self._row:
                self.rows.append(self._row)
            self._row = None
        elif tag == "table":
            self._done = True

    def handle_data(self, data):
        if self._cell is not None:
            self._cell.append(data)


def _grid_frame(spark: SparkSession, grid: list[list], *,
                first_row_has_headers: bool, header_row_index: int,
                columns: list[str] | None, start: int,
                limit: int | None, guess_datatypes: bool) -> DataFrame:
    """A driver-side cell grid (one list per sheet row, ``None`` for
    an empty cell) as a frame: header row, ``start``/``limit`` row
    window, column subset, then the CSV reader's type-guessing pass.
    The tail every spreadsheet and html reader shares; each maps its
    own cells into the grid first."""
    width = max((len(r) for r in grid), default=0)
    grid = [list(r) + [None] * (width - len(r)) for r in grid]
    if first_row_has_headers:
        header = grid[header_row_index] if grid else []
        names = [str(h) if h not in (None, "") else f"c{i}"
                 for i, h in enumerate(header)]
        body = grid[header_row_index + 1:]
    else:
        names = [f"c{i}" for i in range(width)]
        body = grid[header_row_index:]
    body = body[start:(start + limit) if limit is not None else None]
    rows = [tuple(None if v is None else str(v) for v in r) for r in body]
    schema = ", ".join(f"`{n}` string" for n in names) or "`c0` string"
    df = spark.createDataFrame(rows, schema=schema)
    if columns:
        df = df.select(*columns)
    return apply_guessed_types(df) if guess_datatypes else df


def read_xls(spark: SparkSession, path: str, *,
             sheet: str | int = 0,
             first_row_has_headers: bool = True,
             header_row_index: int = 0,
             columns: list[str] | None = None,
             start: int = 0, limit: int | None = None,
             guess_datatypes: bool = True) -> DataFrame:
    """Legacy BIFF8 ``.xls`` ingest: the stdlib ``xlslite`` codec
    (OLE2 compound file walk + BIFF record parse, reference dispatch
    tablite/import_utils.py:633-648) reads cell values on the driver
    — .xls is a small-data format by construction (65,536-row sheet
    cap). Same window arguments as :func:`read_xlsx`. Cells whose XF
    carries a date format (builtin ifmt ranges or a ymdhs custom
    format) come back as timestamps."""
    from tablite_spark.sources.xlslite import read_xls as _read
    book = _read(path)
    name = list(book)[sheet] if isinstance(sheet, int) else sheet
    rows = book[name]
    if not rows:
        raise ValueError(f"sheet {name!r} is empty")
    return _grid_frame(spark, rows,
                       first_row_has_headers=first_row_has_headers,
                       header_row_index=header_row_index,
                       columns=columns, start=start, limit=limit,
                       guess_datatypes=guess_datatypes)


def read_html(spark: SparkSession, path: str, *,
              first_row_has_headers: bool = True,
              header_row_index: int = 0,
              columns: list[str] | None = None,
              start: int = 0, limit: int | None = None,
              guess_datatypes: bool = True) -> DataFrame:
    """HTML table ingest without pandas/lxml: stdlib ``html.parser``
    scrape of the first ``<table>`` on the driver (HTML files are
    small-data by nature). The ``<th>`` row is the header; a table
    without one has no header row. Empty cells read as null. Same
    window arguments as :func:`read_xlsx`."""
    p = _TableScraper()
    with open(path, encoding="utf-8") as fh:
        p.feed(fh.read())
    grid = [[v or None for v in r] for r in p.rows]
    if p.header:
        grid.insert(0, p.header)
    return _grid_frame(spark, grid,
                       first_row_has_headers=(first_row_has_headers
                                              and bool(p.header)),
                       header_row_index=header_row_index,
                       columns=columns, start=start, limit=limit,
                       guess_datatypes=guess_datatypes)


def to_html(df: DataFrame, path: str | None = None, limit: int = 10_000) -> str:
    """HTML table writer (tablite/export_utils.py:108-136 via
    ``_repr_html_``); driver-side by design — cap with ``limit``."""
    rows = df.limit(limit).collect()
    head = "".join(f"<th>{escape(c)}</th>" for c in df.columns)
    body = "".join(
        "<tr>" + "".join(
            f"<td>{'' if v is None else escape(str(v))}</td>" for v in r)
        + "</tr>" for r in rows)
    html = (f"<table><thead><tr>{head}</tr></thead>"
            f"<tbody>{body}</tbody></table>")
    if path:
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(html)
    return html


def get_headers(spark: SparkSession, path: str, linecount: int = 10, **kwargs):
    """Peek first N rows of ANY supported file type
    (tablite/nimlite.py:52-69, tools.py:32-36 — the reference's
    get_headers dispatches by suffix too)."""
    suffix = pathlib.Path(path).suffix.lower()
    if suffix in (".csv", ".tsv", ".txt", ".ssv"):
        df = read_csv(spark, path, guess_datatypes=False, **kwargs)
    else:
        df = from_file(spark, path, guess_datatypes=False, **kwargs) \
            if suffix in (".xlsx", ".xlsm", ".ods", ".html", ".htm") \
            else from_file(spark, path, **kwargs)
    return [df.columns] + [list(r) for r in df.take(linecount)]


def save(df: DataFrame, path: str, mode: str = "overwrite",
         compression: str = "snappy",
         partition_by: list[str] | None = None) -> None:
    """tpz-equivalent persistence → parquet (tablite/base.py:1350-1453).
    Snappy parquet ≈ zip-of-npy-pages with column-chunk dedup built in.

    ``partition_by`` writes a hive-layout directory tree — at 100 TB
    the layout IS the index: a filter on a partition column prunes
    whole directories at planning time (PartitionFilters in the scan,
    asserted in tests/test_plans.py) instead of reading footers."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def load(spark: SparkSession, path: str,
         merge_schema: bool = False) -> DataFrame:
    """Read parquet back. ``merge_schema=True`` unions the schemas of
    all files (corpus snapshots that gained columns over time read as
    one frame, older files null-padded) — Spark reads every footer
    for this, so leave it off for schema-stable datasets where the
    single-footer fast path matters."""
    r = spark.read
    if merge_schema:
        r = r.option("mergeSchema", "true")
    return r.parquet(path)


def save_sharded(df: DataFrame, path: str, target_mb: int = 512,
                 compression: str = "snappy",
                 sample_rows: int = 10_000) -> dict:
    """Write parquet with SIZE-TARGETED output files — the
    operational lever at 100 TB, where uncontrolled writes produce
    either the small-files problem (a shuffle stage with 10k tasks →
    10k tiny files per partition key, metadata-bound scans) or
    multi-GB files no executor can read-ahead efficiently.

    Per-row on-disk bytes are estimated from a driver-side sample
    (Arrow-serialized then snappy-parquet-written in memory is
    overkill; the uncompressed in-memory estimate × a 0.4 parquet
    compression factor tracks within 2× in practice, which is enough
    to land files inside the 100 MB–1 GB sweet spot). The write uses
    ``maxRecordsPerFile`` (per-task file rolling, no extra shuffle)
    plus a coalesce when the frame has more partitions than target
    files (coalesce is shuffle-FREE).

    Returns {"rows_per_file": n, "n_files": k} for observability.
    """
    import math
    est = df.limit(sample_rows).toPandas()
    if len(est) == 0:
        df.write.mode("overwrite").option(
            "compression", compression).parquet(path)
        return {"rows_per_file": 0, "n_files": 0}
    mem = float(est.memory_usage(index=False, deep=True).sum())
    bytes_per_row = max(mem / len(est) * 0.4, 1.0)
    rows_per_file = max(int(target_mb * 1024 * 1024 / bytes_per_row),
                        1)
    n_rows = df.count()
    n_files = max(math.ceil(n_rows / rows_per_file), 1)
    out = df
    if df.rdd.getNumPartitions() > n_files:
        out = df.coalesce(n_files)
    (out.write.mode("overwrite")
        .option("compression", compression)
        .option("maxRecordsPerFile", rows_per_file)
        .parquet(path))
    return {"rows_per_file": rows_per_file, "n_files": n_files}


def to_csv(df: DataFrame, path: str, sep: str | None = None,
           mode: str = "overwrite") -> None:
    suffix = pathlib.Path(path).suffix.lower()
    sep = sep or _DELIMS.get(suffix, ",")
    df.write.mode(mode).option("header", True).option("sep", sep).csv(path)


def to_json_columnar(df: DataFrame) -> dict:
    """{"columns": {name: [...]}, "total_rows": n}
    (tablite/export_utils.py:139-143, base.py:1892-1925). Driver-side;
    guarded by collect — use write.json for big frames."""
    rows = df.collect()
    cols = {c: [] for c in df.columns}
    for r in rows:
        for c in df.columns:
            v = r[c]
            if isinstance(v, (datetime, date)):
                v = v.isoformat()
            cols[c].append(v)
    return {"columns": cols, "total_rows": len(rows)}


_SQL_TYPES = {"long": "INTEGER", "int": "INTEGER", "short": "INTEGER",
              "byte": "INTEGER", "double": "REAL", "float": "REAL",
              "boolean": "INTEGER"}


def to_sql_script(df: DataFrame, name: str, limit: int = 10_000) -> str:
    """ANSI-92 CREATE TABLE + INSERT script
    (tablite/export_utils.py:12-48). Driver-side convenience for small
    frames; ``df.write.jdbc`` is the scale path."""
    cols = []
    for f_ in df.schema.fields:
        t = _SQL_TYPES.get(f_.dataType.simpleString(), "TEXT")
        cols.append(f"{f_.name} {t}")
    ddl = f"CREATE TABLE {name} ({', '.join(cols)});"
    inserts = []
    for r in df.limit(limit).collect():
        vals = []
        for c in df.columns:
            v = r[c]
            if v is None:
                vals.append("NULL")
            elif isinstance(v, bool):
                vals.append("1" if v else "0")
            elif isinstance(v, (int, float)):
                vals.append(str(v))
            else:
                s = str(v).replace("'", "''")
                vals.append(f"'{s}'")
        inserts.append(f"INSERT INTO {name} VALUES ({', '.join(vals)});")
    return "\n".join([ddl, *inserts])


def parse_json_column(df, json_col: str, schema: str | None = None,
                      sample_rows: int = 1000, prefix: str = ""):
    """Parse a JSON-string column into typed top-level columns —
    the semi-structured escape hatch an events `props` payload
    needs (ref tablite imports whole JSON documents,
    tablite/import_utils.py; this is the per-cell twin).

    Schema handling: pass a DDL string to pin it; otherwise the
    schema is INFERRED from a bounded sample (``sample_rows``
    distinct non-null payloads collected to the driver and merged
    by Spark's JSON reader — the standard scale pattern: inference
    cost is O(sample), the full-corpus parse is one row-local
    ``from_json`` projection in codegen). Parsed fields append as
    ``<prefix><field>``; malformed payloads yield NULL fields
    (from_json PERMISSIVE), never a job failure.
    """
    from pyspark.sql import functions as F
    spark = df.sparkSession
    c = F.col(json_col)
    if schema is None:
        sample = [r[0] for r in
                  df.select(c).filter(c.isNotNull())
                  .distinct().limit(sample_rows).collect()]
        if not sample:
            raise ValueError(f"no non-null JSON in {json_col!r}")
        # the bounded sample parses driver-side via the JVM JSON
        # reader (the one documented in-memory inference path takes
        # an RDD[str]; the sample is <= sample_rows strings)
        inferred = spark.read.json(
            spark.sparkContext.parallelize(sample, 1))
        schema = inferred.schema
    parsed = df.withColumn("__j__", F.from_json(c, schema))
    fields = (parsed.schema["__j__"].dataType.fieldNames()
              if hasattr(parsed.schema["__j__"].dataType,
                         "fieldNames") else [])
    for f in fields:
        parsed = parsed.withColumn(prefix + f, F.col(f"__j__.{f}"))
    return parsed.drop("__j__")
