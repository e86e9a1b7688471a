"""Sources/sinks: csv options, parquet round-trip, columnar json,
pandas bridge, sql script."""

import os

import pytest

from tablite_spark.sources.io import (
    from_pandas, get_headers, read_csv, read_json_columnar, save, load,
    to_csv, to_json_columnar, to_sql_script,
)


@pytest.fixture()
def csv_path(tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("a,b,c\n1,x,2021-01-01\n2,y,2021-06-09\n3,z,2021-12-31\n")
    return str(p)


def test_read_csv_infers_types(spark, csv_path):
    df = read_csv(spark, csv_path)
    types = dict(df.dtypes)
    assert types["a"] == "bigint"
    assert types["b"] == "string"
    assert types["c"] == "date"
    assert df.count() == 3


def test_read_csv_no_guess(spark, csv_path):
    df = read_csv(spark, csv_path, guess_datatypes=False)
    assert dict(df.dtypes)["a"] == "string"


def test_read_csv_start_limit(spark, csv_path):
    df = read_csv(spark, csv_path, start=1, limit=1, guess_datatypes=False)
    assert df.count() == 1


def test_read_csv_header_row_index(spark, tmp_path):
    """Junk preamble before the real header (reference text_reader's
    header_row_index) — must NOT silently treat junk as the header."""
    p = tmp_path / "preamble.csv"
    p.write_text("# report generated 2021\nsome,junk,line\na,b,c\n1,x,9\n2,y,8\n")
    df = read_csv(spark, str(p), header_row_index=2)
    assert df.columns == ["a", "b", "c"]
    assert df.count() == 2
    assert {r["a"] for r in df.collect()} == {1, 2}


def test_read_csv_header_row_index_no_headers(spark, tmp_path):
    p = tmp_path / "preamble2.csv"
    p.write_text("junk\n10,20\n30,40\n")
    df = read_csv(spark, str(p), header_row_index=1,
                  first_row_has_headers=False, guess_datatypes=False)
    assert df.columns == ["0", "1"]
    assert df.count() == 2


def test_read_tsv_delimiter(spark, tmp_path):
    p = tmp_path / "data.tsv"
    p.write_text("a\tb\n1\t2\n")
    df = read_csv(spark, str(p))
    assert df.columns == ["a", "b"]


def test_skip_empty(spark, tmp_path):
    p = tmp_path / "gaps.csv"
    p.write_text("a,b\n1,\n,\n2,3\n")
    df_any = read_csv(spark, str(p), skip_empty="ANY", guess_datatypes=False)
    assert df_any.count() == 1
    df_all = read_csv(spark, str(p), skip_empty="ALL", guess_datatypes=False)
    assert df_all.count() == 2


def test_get_headers(spark, csv_path):
    h = get_headers(spark, csv_path, linecount=2)
    assert h[0] == ["a", "b", "c"]
    assert len(h) == 3


def test_parquet_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string")
    path = str(tmp_path / "t.parquet")
    save(df, path)
    back = load(spark, path)
    assert sorted(back.collect()) == sorted(df.collect())


def test_csv_write(spark, tmp_path):
    df = spark.createDataFrame([(1, "x")], "a int, b string")
    path = str(tmp_path / "out_csv")
    to_csv(df, path)
    back = read_csv(spark, path + "/*.csv", guess_datatypes=False)
    assert back.count() == 1


def test_json_columnar_roundtrip(spark):
    jsn = {"columns": {"a": [1, 2], "b": ["x", "y"]}, "total_rows": 2}
    df = read_json_columnar(spark, jsn)
    assert df.count() == 2
    out = to_json_columnar(df)
    assert out["columns"]["a"] == [1, 2]
    assert out["total_rows"] == 2


def test_json_columnar_mixed_column_falls_back_per_column(spark):
    # a mixed-type column is coerced to string IN ISOLATION; the clean
    # int column must stay int64 (the old whole-table row-loop fallback
    # would have sent both through python tuples)
    df = read_json_columnar(
        spark, '{"columns": {"a": [1, "x", null], "b": [1, 2, 3]}}')
    types = dict(df.dtypes)
    assert types == {"a": "string", "b": "bigint"}
    assert [r["a"] for r in df.orderBy("b").collect()] == ["1", "x", None]


def test_json_columnar_ragged_pads_nulls(spark):
    df = read_json_columnar(spark, {"columns": {"a": [1, 2, 3], "b": ["x"]}})
    assert df.count() == 3
    assert df.where("b IS NULL").count() == 2


def test_pandas_bridge(spark):
    import pandas as pd
    pdf = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    df = from_pandas(spark, pdf)
    assert df.count() == 2
    assert df.toPandas().equals(pdf)


def test_sql_script(spark):
    df = spark.createDataFrame([(1, "o'x")], "a int, b string")
    script = to_sql_script(df, "t")
    assert "CREATE TABLE t (a INTEGER, b TEXT);" in script
    assert "INSERT INTO t VALUES (1, 'o''x');" in script


def test_html_roundtrip(spark, tmp_path):
    from tablite_spark.sources.io import from_file, read_html, to_html
    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta & <gamma>", 2.5), (3, None, None)],
        "id bigint, name string, score double")
    path = str(tmp_path / "t.html")
    to_html(df, path)
    back = read_html(spark, path)
    assert back.columns == ["id", "name", "score"]
    rows = sorted(back.collect(), key=lambda r: r["id"])
    assert [r["name"] for r in rows] == ["alpha", "beta & <gamma>", None]
    assert rows[0]["score"] == 1.5 and rows[2]["score"] is None
    assert [r["id"] for r in rows] == [1, 2, 3]  # guessed back to ints
    assert from_file(spark, path).count() == 3


def test_html_headerless_table(spark, tmp_path):
    from tablite_spark.sources.io import read_html
    p = tmp_path / "bare.html"
    p.write_text("<table><tr><td>7</td><td>x</td></tr>"
                 "<tr><td>8</td><td>y</td></tr></table>")
    df = read_html(spark, str(p), guess_datatypes=False)
    assert df.columns == ["c0", "c1"]
    assert df.count() == 2


@pytest.mark.parametrize("enc,spark_enc", [
    ("utf-8-sig", "UTF-8"),
    ("utf-16", "UTF-16"),
    ("utf-16-le", "UTF-16LE"),
    ("cp1250", "windows-1250"),
])
def test_read_csv_encodings(spark, tmp_path, enc, spark_enc):
    """Encoding matrix parity (reference fixtures: utf8/utf8sig/
    utf16le/be/win1250 — tests/test_filereader_formats.py)."""
    p = tmp_path / f"enc_{enc}.csv"
    text = "name;city\nBjörn;Łódź\nŽofie;Plzeň\n"
    p.write_bytes(text.encode(enc))
    df = read_csv(spark, str(p), delimiter=";", encoding=spark_enc,
                  guess_datatypes=False)
    rows = sorted(r["name"] for r in df.collect())
    assert rows == ["Björn", "Žofie"]
    assert df.columns == ["name", "city"]


def test_synthetic_order_data(spark):
    """Distributed twin of the reference's benchmark table
    (tablite/datasets.py:9-84): same 12 columns, ranges, determinism."""
    from pyspark.sql import functions as F

    from tablite_spark.datasets import synthetic_order_data
    df = synthetic_order_data(spark, 1000)
    assert df.columns == ["#", "1", "2", "3", "4", "5", "6", "7", "8",
                          "9", "10", "11"]
    assert df.count() == 1000
    row = df.agg(
        F.min("#").alias("lo"), F.max("#").alias("hi"),
        F.min("3").alias("s_lo"), F.max("3").alias("s_hi"),
        F.countDistinct("4").alias("bits"),
        F.min("10").alias("v_lo"), F.max("10").alias("v_hi")).first()
    assert row["lo"] == 1 and row["hi"] == 1000
    assert 50_000 <= row["s_lo"] and row["s_hi"] <= 51_000
    assert row["bits"] == 2
    assert 0.01 <= row["v_lo"] and row["v_hi"] <= 2.5
    assert {r["8"] for r in df.select("8").distinct().collect()} <= \
        {"None", "0°", "6°", "21°"}
    # seeded → deterministic across invocations
    a = df.agg(F.sum("1")).first()[0]
    b = synthetic_order_data(spark, 1000).agg(F.sum("1")).first()[0]
    assert a == b


def test_xlsx_roundtrip(spark, tmp_path):
    """Stdlib xlsx writer→reader roundtrip (zip + SpreadsheetML):
    strings (incl. XML-escapables), numbers, bools, nulls."""
    from tablite_spark.sources.xlsx import read_xlsx, to_xlsx
    df = spark.createDataFrame(
        [(1, "alpha", 1.5, True), (2, "a<b&c>", 2.5, False),
         (3, None, None, None)],
        "id bigint, name string, score double, flag boolean")
    path = str(tmp_path / "t.xlsx")
    to_xlsx(df, path)
    back = read_xlsx(spark, path)
    assert back.columns == ["id", "name", "score", "flag"]
    rows = sorted(back.collect(), key=lambda r: r["id"])
    assert [r["id"] for r in rows] == [1, 2, 3]
    assert rows[1]["name"] == "a<b&c>"
    assert rows[0]["score"] == 1.5 and rows[2]["score"] is None
    from tablite_spark.sources.io import from_file
    assert from_file(spark, path).count() == 3


def test_xlsx_options(spark, tmp_path):
    from tablite_spark.sources.xlsx import read_xlsx, to_xlsx
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(10)], "id bigint, s string")
    path = str(tmp_path / "o.xlsx")
    to_xlsx(df, path, sheet="Data")
    sub = read_xlsx(spark, path, sheet="Data", columns=["s"],
                    start=2, limit=3, guess_datatypes=False)
    assert sub.columns == ["s"]
    assert sub.count() == 3
    import pytest as _pt
    with _pt.raises(ValueError, match="sheet not found"):
        read_xlsx(spark, path, sheet="Nope")


@pytest.mark.parametrize("suffix", [".xlsx", ".xls", ".html"])
def test_from_file_reader_window(spark, tmp_path, suffix):
    """from_file forwards the row window and column subset to every
    grid reader: the same rows written as .xlsx, .xls and .html read
    back equal under start/limit/columns."""
    from tablite_spark.sources.io import from_file, to_html
    from tablite_spark.sources.xlslite import write_xls
    from tablite_spark.sources.xlsx import to_xlsx
    rows = [("a", 1.5, "x"), ("b", 2.5, "y"), ("c", 3.5, "z"),
            ("d", 4.5, "w")]
    path = str(tmp_path / f"t{suffix}")
    df = spark.createDataFrame(rows, "name string, score double, city string")
    if suffix == ".xlsx":
        to_xlsx(df, path)
    elif suffix == ".xls":
        write_xls(path, [list(df.columns)] + [list(r) for r in rows])
    else:
        to_html(df, path)
    got = from_file(spark, path, start=1, limit=2, columns=["city", "score"])
    assert got.columns == ["city", "score"]
    assert [tuple(r) for r in got.collect()] == [("y", 2.5), ("z", 3.5)]


def test_excel_serial_to_timestamp(spark):
    from pyspark.sql import functions as F

    from tablite_spark.sources.xlsx import excel_serial_to_timestamp
    df = spark.createDataFrame([(25569.0,), (44197.5,)], "serial double")
    out = df.select(excel_serial_to_timestamp(F.col("serial")).alias("ts")) \
        .collect()
    assert str(out[0]["ts"]) == "1970-01-01 00:00:00"
    assert str(out[1]["ts"]) == "2021-01-01 12:00:00"


def _write_min_ods(path):
    import zipfile
    content = """<?xml version="1.0" encoding="UTF-8"?>
<office:document-content
 xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
 xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
 xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">
<office:body><office:spreadsheet>
<table:table table:name="S1">
<table:table-row>
<table:table-cell office:value-type="string"><text:p>id</text:p></table:table-cell>
<table:table-cell office:value-type="string"><text:p>name</text:p></table:table-cell>
<table:table-cell office:value-type="string"><text:p>score</text:p></table:table-cell>
</table:table-row>
<table:table-row>
<table:table-cell office:value-type="float" office:value="1"><text:p>1</text:p></table:table-cell>
<table:table-cell office:value-type="string"><text:p>alpha</text:p></table:table-cell>
<table:table-cell office:value-type="float" office:value="1.5"><text:p>1.5</text:p></table:table-cell>
</table:table-row>
<table:table-row>
<table:table-cell office:value-type="float" office:value="2"><text:p>2</text:p></table:table-cell>
<table:table-cell table:number-columns-repeated="2"/>
</table:table-row>
<table:table-row>
<table:table-cell table:number-columns-repeated="16384"/>
</table:table-row>
</table:table>
</office:spreadsheet></office:body></office:document-content>"""
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("mimetype", "application/vnd.oasis.opendocument.spreadsheet")
        zf.writestr("content.xml", content)


def test_ods_reader(spark, tmp_path):
    from tablite_spark.sources.io import from_file
    from tablite_spark.sources.ods import read_ods
    path = str(tmp_path / "t.ods")
    _write_min_ods(path)
    df = read_ods(spark, path)
    assert df.columns == ["id", "name", "score"]
    rows = sorted(df.collect(), key=lambda r: r["id"])
    assert [r["id"] for r in rows] == [1, 2]
    assert rows[0]["name"] == "alpha" and rows[1]["name"] is None
    assert rows[0]["score"] == 1.5
    assert from_file(spark, path).count() == 2
    import pytest as _pt
    with _pt.raises(ValueError, match="sheet not found"):
        read_ods(spark, path, sheet="Nope")


def test_get_headers_other_formats(spark, tmp_path):
    from tablite_spark.sources.io import get_headers
    from tablite_spark.sources.xlsx import to_xlsx
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    xp = str(tmp_path / "h.xlsx")
    to_xlsx(df, xp)
    h = get_headers(spark, xp, linecount=1)
    assert h[0] == ["k", "v"] and len(h) == 2


def test_hdf5_roundtrip(spark, tmp_path):
    """hdf5 round-trip mirrors the reference layout (one dataset per
    column, stringify fallback, guess on re-import). Runs with h5py
    when installed, else through the stdlib hdf5lite codec — the
    path executes either way."""
    from tablite_spark.sources.io import from_file, read_hdf5, to_hdf5
    df = spark.createDataFrame(
        [(1, "a", 1.5, True), (2, "b", -0.5, False), (3, None, 2.0, True)],
        "k int, v string, x double, b boolean")
    p = str(tmp_path / "t.h5")
    to_hdf5(df, p)
    back = read_hdf5(spark, p)
    rows = sorted((r["k"], r["v"], r["x"], r["b"]) for r in back.collect())
    assert rows == [(1, "a", 1.5, True), (2, "b", -0.5, False),
                    (3, None, 2.0, True)]
    # from_file dispatch hits the same path
    assert from_file(spark, p).count() == 3


def test_hdf5lite_format_invariants(tmp_path):
    """Structural checks of the stdlib writer against the public HDF5
    spec: signature, superblock v0, sorted SNOD entries, contiguous
    layout — independent of the paired reader's happy path."""
    import struct

    import numpy as np

    from tablite_spark.sources import hdf5lite
    p = str(tmp_path / "s.h5")
    hdf5lite.write(p, {"zz": np.arange(4), "aa": np.ones(4),
                       "mm": ["x", "yy", None, "z"]})
    raw = open(p, "rb").read()
    assert raw[:8] == b"\x89HDF\r\n\x1a\n"
    assert raw[8] == 0  # superblock v0
    assert raw[13] == 8 and raw[14] == 8  # offset/length sizes
    eof = struct.unpack_from("<Q", raw, 40)[0]
    assert eof == len(raw)  # end-of-file address is exact
    assert raw.count(b"SNOD") == 1 and raw.count(b"TREE") == 1
    assert raw.count(b"HEAP") == 1
    # reader sees names sorted; subset + missing-column contract
    back = hdf5lite.read(p)
    assert list(back) == ["aa", "mm", "zz"]
    assert (hdf5lite.read(p, ["zz"])["zz"] == np.arange(4)).all()
    with pytest.raises(KeyError):
        hdf5lite.read(p, ["nope"])
    # unsupported shapes raise, not corrupt
    with pytest.raises(ValueError):
        hdf5lite.write(str(tmp_path / "bad.h5"),
                       {"m": np.ones((2, 2))})
    with pytest.raises(ValueError):
        hdf5lite.read(__file__)  # not an hdf5 file


def test_hdf5lite_chunked_and_compressed(tmp_path):
    """Chunked-layout coverage (what h5py emits for real files):
    multi-chunk datasets with a partial tail chunk, deflate
    compression, compact-size payloads, and the filter-pipeline
    decoder (deflate+shuffle+fletcher32 in reverse order)."""
    import zlib

    import numpy as np

    from tablite_spark.sources import hdf5lite
    from tablite_spark.sources.hdf5lite import _defilter

    ints = np.arange(23, dtype=np.int64) * 3 - 7
    floats = np.linspace(-2.0, 5.0, 23)
    strs = np.array([f"s{i}".encode() for i in range(23)], dtype="S4")
    # explicit chunk_rows=7 -> 4 chunks, last one partial
    p = str(tmp_path / "c.h5")
    hdf5lite.write(p, {"i": ints, "f": floats, "s": strs}, chunk_rows=7)
    back = hdf5lite.read(p)
    assert (back["i"] == ints).all()
    assert np.allclose(back["f"], floats)
    assert (back["s"] == strs).all()
    raw = open(p, "rb").read()
    assert raw.count(b"TREE") == 1 + 3  # group tree + 3 chunk trees

    # deflate roundtrip: compressed file is smaller on compressible
    # data and reads back exactly
    big = np.zeros(50_000, dtype=np.int64)
    pz = str(tmp_path / "z.h5")
    pn = str(tmp_path / "n.h5")
    hdf5lite.write(pz, {"x": big}, compress=True)
    hdf5lite.write(pn, {"x": big})
    import os
    # ~49 KB of fixed SNOD/B-tree padding dominates the compressed
    # file; the 400 KB zero payload itself deflates to ~1 KB
    assert os.path.getsize(pz) < os.path.getsize(pn) / 4
    assert (hdf5lite.read(pz)["x"] == big).all()

    # filter decode: deflate -> shuffle -> fletcher32, reversed
    vals = np.arange(5, dtype=np.int32)
    shuffled = vals.view(np.uint8).reshape(-1, 4).T.tobytes()
    stored = zlib.compress(shuffled) + b"\x00\x00\x00\x00"
    pipeline = [(2, 0, (4,)), (1, 0, (4,)), (3, 0, ())]
    got = np.frombuffer(
        _defilter(stored, pipeline, 0, 4), dtype=np.int32)
    assert (got == vals).all()
    # filter mask: bit i set -> filter i skipped for this chunk
    stored2 = zlib.compress(vals.tobytes())
    got2 = np.frombuffer(
        _defilter(stored2, pipeline, 0b101, 4), dtype=np.int32)
    assert (got2 == vals).all()


def test_hdf5lite_chunked_roundtrip_fuzz(tmp_path):
    """Property fuzz over the chunked writer/reader: any (array,
    chunk_rows, compression) combination round-trips exactly —
    partial tail chunks, single-chunk layouts, and deflate included."""
    import numpy as np
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tablite_spark.sources import hdf5lite

    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(
        n=st.integers(min_value=1, max_value=500),
        chunk_rows=st.integers(min_value=1, max_value=97),
        compress=st.sampled_from([False, True, 9]),
        kind=st.sampled_from(["i8", "i4", "u2", "f8", "f4"]),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def roundtrip(n, chunk_rows, compress, kind, seed):
        rng = np.random.default_rng(seed)
        if kind.startswith("f"):
            arr = rng.standard_normal(n).astype(kind)
        else:
            arr = rng.integers(-1000 if kind.startswith("i") else 0,
                               1000, size=n).astype(kind)
        p = str(tmp_path / f"fz_{seed % 7}.h5")
        hdf5lite.write(p, {"x": arr}, chunk_rows=chunk_rows,
                       compress=compress)
        back = hdf5lite.read(p)["x"]
        assert back.dtype == arr.dtype and (back == arr).all()

    roundtrip()


def test_hdf5lite_vlen_roundtrip(tmp_path):
    """Variable-length strings (datatype class 9 via GCOL global-heap
    collections — h5py's default layout for Python str datasets):
    write with vlen_strings=True, read back exact bytes; empty
    strings, UTF-8, long values, empty columns, and vlen mixed with
    chunked/deflated numeric columns all covered."""
    import numpy as np

    from tablite_spark.sources import hdf5lite

    p = str(tmp_path / "v.h5")
    strs = ["alpha", "", "β-utf8", "x" * 300, "tail"]
    hdf5lite.write(p, {"s": np.array(strs, dtype=object),
                       "i": np.arange(5, dtype=np.int64)},
                   vlen_strings=True)
    raw = open(p, "rb").read()
    assert b"GCOL" in raw
    back = hdf5lite.read(p)
    assert back["s"].dtype == object
    assert back["s"].tolist() == [s.encode("utf-8") for s in strs]
    assert (back["i"] == np.arange(5)).all()

    # empty vlen column
    p2 = str(tmp_path / "v0.h5")
    hdf5lite.write(p2, {"s": np.array([], dtype="S1")},
                   vlen_strings=True)
    assert hdf5lite.read(p2)["s"].tolist() == []

    # vlen + compressed numeric in one file: vlen stays contiguous,
    # numeric chunks deflate
    p3 = str(tmp_path / "vz.h5")
    hdf5lite.write(p3, {"s": np.array(["a", "bb"]),
                       "n": np.zeros(10_000, dtype=np.int64)},
                   vlen_strings=True, compress=True)
    b3 = hdf5lite.read(p3)
    assert b3["s"].tolist() == [b"a", b"bb"]
    assert (b3["n"] == 0).all()


def test_hdf5lite_foreign_layout_fixture():
    """Committed byte-assembled file using the layouts libhdf5 emits
    but OUR writer never does (tools/make_foreign_h5_fixture.py):
    cache_type-0 root, level-1 group B-tree over two SNOD leaves,
    NIL/fill/mtime messages with permuted order, a header split by a
    continuation, a two-level chunk B-tree with shuffle+deflate,
    null-TERM fixed strings, vlen strings across two GCOLs, a
    deferred-allocation (UNDEF) dataset, a compact dataset, nested
    groups, scalar (rank-0) + 1-D attributes. The closest available
    stand-in for h5py-written bytes in an h5py-less container."""
    import os

    import numpy as np

    from tablite_spark.sources import hdf5lite

    p = os.path.join(os.path.dirname(__file__), "fixtures",
                     "foreign_layout.h5")
    d = hdf5lite.read(p)
    assert sorted(d) == ["a_long", "b_float", "c_chunk", "d_str",
                         "e_vlen", "f_zero", "g_compact",
                         "grp/sub/h_nested"]
    assert d["a_long"].tolist() == list(range(1, 11))
    assert np.allclose(d["b_float"], np.arange(10) * 0.25)
    assert d["b_float"].dtype == np.float32
    assert d["c_chunk"].tolist() == list(range(100, 110))
    assert d["d_str"].tolist()[:3] == [b"alpha", b"bee", b"gamma"]
    assert [v.decode() for v in d["e_vlen"]][:3] == \
        ["v0-", "v1-x", "v2-xx"]
    assert d["f_zero"].tolist() == [0] * 7
    assert d["g_compact"].tolist() == list(range(10, 20))
    assert d["grp/sub/h_nested"].tolist() == [5, 6, 7]
    # column-subset read still walks the foreign B-tree correctly
    sub = hdf5lite.read(p, columns=["c_chunk"])
    assert list(sub) == ["c_chunk"] and sub["c_chunk"][0] == 100
    assert hdf5lite.read_attrs(p) == {
        "": {"creator": "libhdf5-like"},
        "a_long": {"units": "m", "factors": [1, 2, 3]},
        "grp": {"level": 2},
    }


def test_hdf5lite_vlen_committed_fixture():
    """The committed GCOL fixture pins today's byte layout: any
    future reader change must still decode these exact bytes (the
    spec-conformance guard that stands in for h5py interop where
    h5py is absent — see module docstring caveat)."""
    import os

    from tablite_spark.sources import hdf5lite

    p = os.path.join(os.path.dirname(__file__), "fixtures",
                     "vlen_gcol.h5")
    back = hdf5lite.read(p)
    assert back["name"].tolist() == [
        b"alpha", b"", "β-utf8".encode("utf-8"), b"a" * 200, b"last"]
    assert back["val"].tolist() == [1, 2, 3, 4, 5]


def test_hdf5lite_vlen_scale(tmp_path):
    """Adversarial scale validation: 200k vlen strings across a
    multi-megabyte global heap round-trip exactly (offset widths,
    8-byte padding accumulation, and the GCOL cache all exercised
    far past toy sizes)."""
    import numpy as np

    from tablite_spark.sources import hdf5lite

    strs = np.array([f"doc-{i}-" + "p" * (i % 37) for i in range(200_000)],
                    dtype=object)
    p = str(tmp_path / "big.h5")
    hdf5lite.write(p, {"s": strs}, vlen_strings=True)
    back = hdf5lite.read(p)["s"]
    assert len(back) == 200_000
    assert back.tolist() == [s.encode() for s in strs.tolist()]


def test_hdf5_vlen_spark_roundtrip(spark, tmp_path):
    """to_hdf5(vlen_strings=True) → read_hdf5 through the Spark
    facade: utf-8 decode + type re-guess give back the original
    string column."""
    from tablite_spark.sources.io import read_hdf5, to_hdf5

    df = spark.createDataFrame(
        [(1, "aa"), (2, ""), (3, "ccc")], "k long, s string")
    p = str(tmp_path / "sv.h5")
    to_hdf5(df, p, vlen_strings=True)
    back = read_hdf5(spark, p)
    rows = sorted(back.collect(), key=lambda r: r["k"])
    assert [r["s"] for r in rows] == ["aa", None, "ccc"] or \
        [r["s"] for r in rows] == ["aa", "", "ccc"]


def test_hdf5lite_h5py_interop(tmp_path):
    """Cross-reader interop, exercised wherever h5py IS installed
    (skipped in this container — see hdf5lite module docstring):
    h5py reads our contiguous/chunked/deflated/vlen files, and we
    read h5py's native vlen-str output."""
    h5py = pytest.importorskip("h5py")
    import numpy as np

    from tablite_spark.sources import hdf5lite

    # ours -> h5py
    p = str(tmp_path / "ours.h5")
    ints = np.arange(100, dtype=np.int64)
    strs = np.array(["a", "bb", "ccc"] * 10, dtype=object)
    hdf5lite.write(p, {"i": ints, "s": strs}, vlen_strings=True)
    with h5py.File(p, "r") as f:
        assert (f["i"][:] == ints).all()
        got = [v.decode() if isinstance(v, bytes) else v
               for v in f["s"][:]]
        assert got == strs.tolist()
    pz = str(tmp_path / "ours_z.h5")
    hdf5lite.write(pz, {"x": np.arange(10_000, dtype=np.int64)},
                   chunk_rows=1024, compress=True)
    with h5py.File(pz, "r") as f:
        assert (f["x"][:] == np.arange(10_000)).all()

    # h5py -> ours (vlen str is h5py's default for python str data)
    ph = str(tmp_path / "theirs.h5")
    with h5py.File(ph, "w") as f:
        f.create_dataset("s", data=["x", "", "yyy"])
        f.create_dataset("n", data=np.arange(5, dtype=np.int64))
    back = hdf5lite.read(ph)
    assert back["s"].tolist() == [b"x", b"", b"yyy"]
    assert (back["n"] == np.arange(5)).all()


def test_xlslite_date_roundtrip_fuzz(tmp_path):
    """Property fuzz over XF date serials: arbitrary datetimes down
    to second precision survive the write→parse cycle exactly (the
    reader rounds serial float noise to the millisecond)."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tablite_spark.sources.xlslite import read_xls, write_xls

    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(st.lists(
        st.datetimes(min_value=dt.datetime(1900, 3, 1),
                     max_value=dt.datetime(2200, 1, 1))
        .map(lambda d: d.replace(microsecond=0)),
        min_size=1, max_size=20))
    def roundtrip(dts):
        p = str(tmp_path / "fz.xls")
        write_xls(p, [["when"]] + [[d] for d in dts])
        back = read_xls(p)["Sheet1"]
        assert [r[0] for r in back[1:]] == dts

    roundtrip()


def test_xlslite_roundtrip_and_from_file(spark, tmp_path):
    """Legacy .xls via the stdlib OLE2+BIFF8 codec: typed value
    roundtrip (strings incl. unicode, doubles, bools, gaps), sheet
    selection, and the from_file dispatch with type re-guess."""
    from tablite_spark.sources.io import from_file
    from tablite_spark.sources.xlslite import read_xls, write_xls
    rows = [
        ["name", "qty", "price", "active"],
        ["alpha", 1.0, 2.5, True],
        ["béta 嗨", 2.0, -0.125, False],
        ["alpha", None, 1e9, True],
    ]
    p = str(tmp_path / "t.xls")
    write_xls(p, rows, sheet="Data")
    book = read_xls(p)
    assert list(book) == ["Data"]
    assert book["Data"][0] == rows[0]
    assert book["Data"][2][0] == "béta 嗨"
    assert book["Data"][3][1] is None and book["Data"][3][3] is True
    df = from_file(spark, p)
    got = sorted(((r["name"], r["qty"], r["price"], r["active"])
                  for r in df.collect()),
                 key=lambda t: (t[0], t[2]))
    assert got == [("alpha", 1.0, 2.5, True), ("alpha", None, 1e9, True),
                   ("béta 嗨", 2.0, -0.125, False)]


def test_xlslite_date_cells(spark, tmp_path):
    """XF/FORMAT date handling: datetime values write as serials
    under a date XF and read back as datetimes (not floats); the
    from_file path re-guesses them into a timestamp column; the
    custom-format classifier follows the ymdhs-outside-literals
    heuristic."""
    import datetime as dt

    from tablite_spark.sources.io import from_file
    from tablite_spark.sources.xlslite import (
        _is_date_format, read_xls, write_xls,
    )
    d1 = dt.datetime(2020, 5, 17, 10, 30, 15)
    d2 = dt.datetime(1999, 12, 31, 23, 59, 59)
    rows = [
        ["label", "when", "amount"],
        ["a", d1, 12.5],
        ["b", d2, -3.0],
        ["c", dt.date(2001, 2, 3), 0.25],
    ]
    p = str(tmp_path / "d.xls")
    write_xls(p, rows, sheet="Data")
    back = read_xls(p)["Data"]
    assert back[1] == ["a", d1, 12.5]
    assert back[2] == ["b", d2, -3.0]
    assert back[3] == ["c", dt.datetime(2001, 2, 3), 0.25]
    df = from_file(spark, p)
    types = dict(df.dtypes)
    assert types["when"] == "timestamp", types
    assert types["amount"] == "double", types
    got = {r["label"]: r["when"] for r in df.collect()}
    assert got == {"a": d1, "b": d2, "c": dt.datetime(2001, 2, 3)}
    # custom-format classifier: ymdhs only outside literals/brackets
    assert _is_date_format("yyyy-mm-dd")
    assert _is_date_format("[h]:mm:ss")
    assert _is_date_format(r"d\h")  # escaped h, real d
    assert not _is_date_format('0.00" hrs"')  # h only inside literal
    assert not _is_date_format("#,##0.00")
    assert not _is_date_format("General")


def test_xlslite_cfb_structure(tmp_path):
    """Compound-file invariants: OLE2 signature, 512-byte header,
    sector count consistent with file size, non-OLE2 rejected."""
    import struct

    from tablite_spark.sources.xlslite import parse_xls, write_xls
    p = str(tmp_path / "s.xls")
    write_xls(p, [["a"], [1.0]])
    raw = open(p, "rb").read()
    assert raw[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    assert (len(raw) - 512) % 512 == 0  # whole sectors after header
    assert struct.unpack_from("<H", raw, 30)[0] == 9  # 512-byte sectors
    with pytest.raises(ValueError, match="OLE2"):
        parse_xls(b"not a compound file at all----")


def test_xlslite_mini_stream_path(tmp_path):
    """Streams < 4096 bytes in real compound files live in the root
    entry's mini-stream behind a mini-FAT; the reader must follow
    that chain (small real-world .xls files use this layout)."""
    from tablite_spark.sources.xlslite import (
        _biff_workbook, _cfb_wrap, parse_xls,
    )
    rows = [["a", "b"], ["x", 1.5], ["yy", -2.0]]
    wb = _biff_workbook("S", rows)
    assert len(wb) < 4096
    mini = _cfb_wrap("Workbook", wb, force_mini=True)
    assert parse_xls(mini)["S"] == rows
    # both container layouts decode identically
    assert parse_xls(_cfb_wrap("Workbook", wb))["S"] == rows
    with pytest.raises(ValueError, match="4096"):
        _cfb_wrap("Workbook", wb + b"\x00" * 4096, force_mini=True)


def test_save_sharded_targets_file_size(spark, tmp_path):
    """save_sharded lands output files near the target size: a ~18MB
    uncompressible frame at target_mb=2 produces multiple files, none
    over ~2x target, all rows intact; a tiny frame stays one file."""
    import glob
    import os

    from pyspark.sql import functions as F

    from tablite_spark.sources.io import load, save_sharded
    df = (spark.range(200_000)
          .withColumn("payload", F.sha2(F.col("id").cast("string"), 256)))
    p = str(tmp_path / "sharded")
    info = save_sharded(df, p, target_mb=2)
    files = glob.glob(f"{p}/*.parquet")
    assert len(files) >= 3, (info, len(files))
    sizes = [os.path.getsize(f) for f in files]
    assert max(sizes) <= 2 * 2 * 1024 * 1024, sizes
    assert load(spark, p).count() == 200_000
    # tiny frame -> single file
    p2 = str(tmp_path / "tiny")
    save_sharded(spark.range(10), p2, target_mb=64)
    assert len(glob.glob(f"{p2}/*.parquet")) == 1


def test_load_merge_schema_across_snapshots(spark, tmp_path):
    """merge_schema=True reads heterogeneous snapshot files as one
    union schema with null-padding for the older files; default read
    keeps the fast single-footer path."""
    from pyspark.sql import functions as F

    from tablite_spark.sources.io import load
    p = str(tmp_path / "corpus")
    spark.range(5).select(F.col("id").alias("doc_id")) \
        .write.parquet(p + "/snap=1")
    spark.range(5, 8).select(F.col("id").alias("doc_id"),
                             F.lit("en").alias("lang")) \
        .write.parquet(p + "/snap=2")
    merged = load(spark, p, merge_schema=True)
    assert set(merged.columns) >= {"doc_id", "lang"}
    rows = {r["doc_id"]: r["lang"] for r in merged.collect()}
    assert len(rows) == 8
    assert rows[0] is None and rows[6] == "en"


# ----------------------------------------------------------------- tpz
def test_tpz_roundtrip_mixed_and_nulls(spark, tmp_path):
    """Native .tpz archive (reference tablite/base.py:1350-1453):
    save→load roundtrip across int/float/str/bool/date/timestamp
    columns with None-bearing rows and a unicode column name."""
    import datetime as dt

    from pyspark.sql import Row

    from tablite_spark.sources.io import from_file
    from tablite_spark.sources.tpz import load_tpz, save_tpz
    rows = [
        Row(k=1, x=1.5, s="alpha", ok=True,
            d=dt.date(2020, 1, 1), t=dt.datetime(2020, 1, 1, 12, 30),
            列=10),
        Row(k=2, x=None, s=None, ok=False,
            d=None, t=None, 列=None),
        Row(k=3, x=-2.25, s="βeta", ok=None,
            d=dt.date(1999, 12, 31), t=dt.datetime(2024, 6, 1, 0, 0, 1),
            列=30),
    ]
    df = spark.createDataFrame(rows)
    path = save_tpz(df, str(tmp_path / "t.tpz"), page_rows=2)
    back = load_tpz(spark, path, allow_pickle=True)
    assert back.columns == df.columns
    got = sorted(back.collect(), key=lambda r: r["k"])
    assert [r["k"] for r in got] == [1, 2, 3]
    assert got[1]["x"] is None and got[1]["s"] is None
    assert got[0]["s"] == "alpha" and got[2]["s"] == "βeta"
    assert got[0]["d"] == dt.date(2020, 1, 1)
    assert got[2]["t"] == dt.datetime(2024, 6, 1, 0, 0, 1)
    assert got[2]["列"] == 30 and got[1]["列"] is None
    # suffix dispatch (trusted archive -> explicit pickle opt-in)
    assert from_file(spark, path, allow_pickle=True).count() == 3


def test_tpz_reference_written_archive(spark):
    """Interop over an archive our own writer did NOT produce:
    tests/fixtures/reference_table.tpz is byte-assembled to the
    reference writer's output (tools/make_reference_tpz_fixture.py) —
    MetaArray-pickled object pages, {pid}-{n}.npy naming, a repeated
    page, a column-shared page with its duplicate zip member."""
    import datetime as dt
    import io as _bio
    import pathlib
    import zipfile

    import numpy as np
    import pytest as _pytest

    from tablite_spark.sources.tpz import load_tpz
    fix = str(pathlib.Path(__file__).parent / "fixtures"
              / "reference_table.tpz")
    # the object pages are REAL reference-style MetaArray pickles:
    # plain np.load cannot open them without tablite installed
    with zipfile.ZipFile(fix) as zf:
        import yaml
        man = yaml.safe_load(zf.read("table.yml"))
        note_page = man["columns"]["maybe_note"]["pages"][0]
        with _pytest.raises(ModuleNotFoundError):
            np.load(_bio.BytesIO(zf.read(note_page)), allow_pickle=True)
        assert man["columns"]["dup_a"]["pages"] == \
            man["columns"]["dup_b"]["pages"]  # shared page
        tag_pages = man["columns"]["列 tag"]["pages"]
        assert len(tag_pages) == 2 and len(set(tag_pages)) == 1
    df = load_tpz(spark, fix, allow_pickle=True)
    rows = sorted(df.collect(), key=lambda r: r["n_key"])
    assert len(rows) == 6
    assert rows[0]["amount"] == 2 ** 60 + 1   # exact long, not double
    assert rows[1]["amount"] is None
    assert rows[4]["name"] == "écho"
    assert rows[0]["created"] == dt.datetime(2021, 1, 1)
    assert rows[5]["day"] == dt.date(2020, 1, 6)
    assert [r["列 tag"] for r in rows] == \
        ["red", "green", "blue", "red", "green", "blue"]
    assert all(r["dup_a"] == r["dup_b"] for r in rows)


def test_tpz_restricted_unpickler_rejects_executable_globals(
        spark, tmp_path):
    """Even with allow_pickle=True, an object page naming a non-data
    global (the classic os.system reduce payload) must be REFUSED —
    allow_pickle on this reader is not arbitrary code execution."""
    import io as _bio
    import pickle
    import zipfile

    import numpy as np
    import pytest as _pytest

    from tablite_spark.sources.tpz import load_tpz

    class Evil:
        def __reduce__(self):
            import os
            return (os.system, ("true",))

    # hand-build an .npy object page whose pickle smuggles the payload
    bio = _bio.BytesIO()
    arr = np.empty(1, dtype=object)
    arr[0] = Evil()
    np.save(bio, arr, allow_pickle=True)
    p = tmp_path / "evil.tpz"
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("1.npy", bio.getvalue())
        zf.writestr("table.yml", "columns:\n  c:\n    pages: [1.npy]\n")
    with _pytest.raises(pickle.UnpicklingError, match="not an allowed"):
        load_tpz(spark, str(p), allow_pickle=True)


def test_tpz_nullable_int_exact_above_2_53(spark, tmp_path):
    """A nullable LONG column must round-trip bit-exact: the Arrow→
    pandas float64 fallback would corrupt values above 2^53 and
    silently degrade long→double on reload. The writer emits object
    pages of python int/None instead (what the reference stores)."""
    from pyspark.sql import Row

    from tablite_spark.sources.tpz import load_tpz, save_tpz
    big = 2 ** 60 + 1          # not representable in float64
    odd = 2 ** 53 + 1          # the first int float64 cannot hold
    df = spark.createDataFrame(
        [Row(k=1, v=big), Row(k=2, v=None), Row(k=3, v=odd),
         Row(k=4, v=-big)], "k long, v long")
    path = save_tpz(df, str(tmp_path / "big.tpz"), page_rows=3)
    back = load_tpz(spark, path, allow_pickle=True)
    assert dict(back.dtypes)["v"] == "bigint"  # long, not double
    got = {r["k"]: r["v"] for r in back.collect()}
    assert got == {1: big, 2: None, 3: odd, 4: -big}
    # a null-free long column still lands as a native i8 page (no
    # pickle needed): loads fine with the safe default
    df2 = spark.createDataFrame([Row(k=1, v=big)], "k long, v long")
    p2 = save_tpz(df2, str(tmp_path / "nat.tpz"))
    assert load_tpz(spark, p2).collect()[0]["v"] == big


def test_tpz_page_repeats_and_column_subset(spark, tmp_path):
    """A page listed twice in the manifest repeats its rows in order
    (reference dedups storage for t *= n); column subset loads only
    the requested pages."""
    import io as _bio
    import zipfile

    import numpy as np

    from tablite_spark.sources.tpz import _parse_manifest, load_tpz
    p = tmp_path / "rep.tpz"
    with zipfile.ZipFile(p, "w") as zf:
        b = _bio.BytesIO(); np.save(b, np.array([1, 2, 3]))
        zf.writestr("1.npy", b.getvalue())
        b = _bio.BytesIO(); np.save(b, np.array(["a", "b", "c"]))
        zf.writestr("2.npy", b.getvalue())
        zf.writestr("table.yml",
                    "columns:\n  k:\n    pages: [1.npy, 1.npy]\n"
                    "  s:\n    pages: [2.npy, 2.npy]\n")
    df = load_tpz(spark, str(p))
    assert [r["k"] for r in df.collect()] == [1, 2, 3, 1, 2, 3]
    sub = load_tpz(spark, str(p), columns=["s"])
    assert sub.columns == ["s"] and sub.count() == 6
    # fallback manifest parser (no-yaml path) agrees with pyyaml
    import yaml
    text = yaml.safe_dump(
        {"columns": {"列 1": {"pages": ["1.npy", "1.npy"]},
                     "s": {"pages": ["2.npy"]}}},
        sort_keys=False, allow_unicode=True, default_flow_style=None)
    try:
        import builtins
        real_import = builtins.__import__

        def no_yaml(name, *a, **kw):
            if name == "yaml":
                raise ImportError("forced")
            return real_import(name, *a, **kw)
        builtins.__import__ = no_yaml
        parsed = _parse_manifest(text)
    finally:
        builtins.__import__ = real_import
    assert parsed == {"列 1": ["1.npy", "1.npy"], "s": ["2.npy"]}


def test_tpz_mixed_type_column_stringifies(spark, tmp_path):
    """SURVEY §1.3 deviation: a genuinely mixed page lands as one
    string column (values stringified, None kept)."""
    import io as _bio
    import zipfile

    import numpy as np

    from tablite_spark.sources.tpz import load_tpz
    p = tmp_path / "mix.tpz"
    with zipfile.ZipFile(p, "w") as zf:
        b = _bio.BytesIO()
        np.save(b, np.array([1, "two", 3.5, None], dtype=object),
                allow_pickle=True)
        zf.writestr("1.npy", b.getvalue())
        zf.writestr("table.yml", "columns:\n  m:\n    pages: [1.npy]\n")
    got = [r["m"] for r in
           load_tpz(spark, str(p), allow_pickle=True).collect()]
    assert got == ["1", "two", "3.5", None]
    # DEFAULT rejects the object page (untrusted-archive safety)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        load_tpz(spark, str(p))


def test_hdf5lite_nested_groups_and_attrs(spark, tmp_path):
    """Round 7: classic symbol-table GROUPS (nested) + ATTRIBUTE
    messages through the stdlib codec — the 'h5py file from a
    stranger' layout. Datasets inside groups surface as
    group/subgroup/name columns; read_attrs returns per-object attr
    dicts (scalars and flat lists)."""
    import numpy as np

    from tablite_spark.sources import hdf5lite as h5
    from tablite_spark.sources.io import from_file
    p = str(tmp_path / "nested.h5")
    h5.write(p, {"meta/version": [3, 3, 3], "g/sub/x": [1.5, 2.5, -4.0],
                 "g/y": ["a", "bb", "ccc"], "top": [7, 8, 9]},
             attrs={"": {"title": "corpus", "n": 42},
                    "g": {"kind": "grp", "weights": [0.25, 0.75]},
                    "g/sub/x": {"units": "m", "scale": 2.5}})
    r = h5.read(p)
    assert sorted(r) == ["g/sub/x", "g/y", "meta/version", "top"]
    assert r["g/sub/x"].tolist() == [1.5, 2.5, -4.0]
    assert r["g/y"].tolist() == [b"a", b"bb", b"ccc"]
    a = h5.read_attrs(p)
    assert a[""] == {"title": "corpus", "n": 42}
    assert a["g"] == {"kind": "grp", "weights": [0.25, 0.75]}
    assert a["g/sub/x"] == {"units": "m", "scale": 2.5}
    # column subset by path; missing path raises
    assert list(h5.read(p, ["g/y"])) == ["g/y"]
    import pytest as _pytest
    with _pytest.raises(KeyError):
        h5.read(p, ["g/missing"])
    # spark-side read keeps the path column names
    df = from_file(spark, p)
    assert set(df.columns) == {"g/sub/x", "g/y", "meta/version", "top"}
    assert df.count() == 3
    # chunked+compressed datasets inside groups work too
    p2 = str(tmp_path / "nested_chunked.h5")
    h5.write(p2, {"grp/big": np.arange(10_000)}, compress=6,
             attrs={"grp/big": {"rows": 10_000}})
    assert h5.read(p2)["grp/big"].tolist() == list(range(10_000))
    assert h5.read_attrs(p2)["grp/big"] == {"rows": 10_000}


def test_hdf5lite_nested_h5py_interop(tmp_path):
    """h5py-gated two-way interop for nested groups/attrs: files the
    stdlib codec writes must read via h5py with identical structure,
    and h5py-written nested files must read via the stdlib codec.
    Skips where h5py isn't installed (this container)."""
    import pytest as _pytest
    h5py = _pytest.importorskip("h5py")
    import numpy as np

    from tablite_spark.sources import hdf5lite as h5
    ours = str(tmp_path / "ours.h5")
    h5.write(ours, {"g/sub/x": [1.5, 2.5], "g/y": [1, 2], "top": [9]},
             attrs={"": {"title": "t"}, "g": {"k": 7},
                    "g/sub/x": {"units": "m"}})
    with h5py.File(ours, "r") as f:
        assert f["g/sub/x"][:].tolist() == [1.5, 2.5]
        assert f["g"]["y"][:].tolist() == [1, 2]
        assert f.attrs["title"] in ("t", b"t")
        assert f["g"].attrs["k"] == 7
        assert f["g/sub/x"].attrs["units"] in ("m", b"m")
    theirs = str(tmp_path / "theirs.h5")
    with h5py.File(theirs, "w", libver="earliest") as f:
        grp = f.create_group("outer/inner")
        grp.create_dataset("v", data=np.array([3.0, 4.0]))
        f["outer"].attrs["note"] = "hello"
        f.create_dataset("flat", data=np.arange(5))
    r = h5.read(theirs)
    assert r["outer/inner/v"].tolist() == [3.0, 4.0]
    assert r["flat"].tolist() == [0, 1, 2, 3, 4]
    assert h5.read_attrs(theirs)["outer"]["note"] in ("hello", b"hello")
