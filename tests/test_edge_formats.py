"""Message.read/to format-surface parity (reference message.py:13-17,
156-235): the file-parallel Stata/pickle/HTML connectors round-trip, the
driver-edge renders cap their collects, and the unified dispatchers cover
every reference format name (supported or explicitly refused)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fireworks_spark import edge_formats as ef


@pytest.fixture()
def small(spark):
    return spark.range(100).select(
        F.col("id"),
        (F.col("id") * 1.5).alias("val"),
        F.concat(F.lit("name_"), F.col("id")).alias("name"),
    )


def test_stata_roundtrip_file_parallel(spark, small, tmp_path):
    p = str(tmp_path / "dta")
    ef.write_stata(small.repartition(3), p)
    import os

    assert len([f for f in os.listdir(p) if f.endswith(".dta")]) == 3
    back = ef.read_stata(spark, p)
    # one task per file
    assert back.rdd.getNumPartitions() == 3
    got = {
        (r.id, r.val, r.name)
        for r in back.select(
            F.col("id").cast("long"), "val", "name"
        ).collect()
    }
    want = {(i, i * 1.5, f"name_{i}") for i in range(100)}
    assert got == want


def test_pickle_roundtrip(spark, small, tmp_path):
    p = str(tmp_path / "pkl")
    ef.write_pickle(small.repartition(4), p)
    back = ef.read_pickle(spark, p)
    assert back.count() == 100
    assert back.agg(F.sum("id")).collect()[0][0] == 4950


def test_html_roundtrip_with_escaping(spark, tmp_path):
    """Values containing the five escaped entities survive write→read."""
    p = str(tmp_path / "html")
    df = spark.range(50).select(
        F.col("id"),
        F.concat(F.lit('x<&>"\''), F.col("id")).alias("txt"),
        (F.col("id") * 2.0).alias("v"),
    )
    ef.write_html(df.repartition(2), p)
    back = ef.read_html_tables(
        spark, p, schema="id bigint, v double"
    )
    assert set(back.columns) == {"id", "txt", "v"}
    rows = {r.id: r for r in back.collect()}
    assert len(rows) == 50
    assert rows[7].txt == 'x<&>"\'7' and rows[7].v == 14.0


def test_html_null_rendering_casts_to_null(spark, tmp_path):
    p = str(tmp_path / "htmlnull")
    df = spark.createDataFrame(
        [(1, 2.0), (2, None)], "id long, v double"
    )
    ef.write_html(df, p)
    back = ef.read_html_tables(spark, p, schema="id bigint, v double")
    got = {r.id: r.v for r in back.collect()}
    assert got == {1: 2.0, 2: None}


def test_edge_renders_and_caps(spark, small):
    s = ef.to_string(small.filter("id < 3").orderBy("id"))
    assert "name_2" in s
    lat = ef.to_latex(small.limit(1))
    assert "tabular" in lat
    d = ef.to_dict(small.limit(2))
    assert set(d) == {"id", "val", "name"}
    recs = ef.to_records(small.limit(5))
    assert len(recs) == 5
    with pytest.raises(ValueError, match="max_rows"):
        ef.to_string(small, max_rows=10)


NASTY = [
    "&amp;lt;",          # pre-escaped text must NOT double-unescape
    "a\nb",              # newline inside a cell
    "tab\there",
    "</td> fake close",  # markup-looking content
    'quo"te\'s & <b>',
    "héllo 日本",  # unicode
    "",                  # empty cell
]


def test_html_roundtrip_adversarial_strings(spark, tmp_path):
    """Cell values that look like markup, contain entities already, span
    lines, or are empty all survive the escape→parse→unescape loop
    (single-pass entity replacement cannot cascade)."""
    p = str(tmp_path / "nasty")
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(NASTY)], "id long, txt string"
    )
    ef.write_html(df, p)
    back = ef.read_html_tables(spark, p, schema="id bigint")
    got = {r.id: r.txt for r in back.collect()}
    assert got == {i: s for i, s in enumerate(NASTY)}


def test_stata_roundtrip_unicode_and_nulls(spark, tmp_path):
    p = str(tmp_path / "udta")
    df = spark.createDataFrame(
        [(0, "héllo", 1.5), (1, "日本語", None)],
        "id long, s string, v double",
    )
    ef.write_stata(df, p)
    back = {r.id: (r.s, r.v) for r in ef.read_stata(spark, p).collect()}
    assert back[0] == ("héllo", 1.5)
    assert back[1][0] == "日本語"
    import math

    assert back[1][1] is None or math.isnan(back[1][1])  # Stata NaN == null


def test_message_dispatch_full_surface(spark, small, tmp_path):
    # spark-native via dispatcher
    pq = str(tmp_path / "pq")
    ef.message_to(small, "parquet", pq)
    assert ef.message_read(spark, "parquet", pq).count() == 100
    # 'table' == TSV (pandas read_table)
    tsv = str(tmp_path / "tsv")
    ef.message_to(small, "csv", tsv, sep="\t")
    back = ef.message_read(spark, "table", tsv, schema="id long, val double, name string")
    assert back.count() == 100 and back.columns == ["id", "val", "name"]
    # dense is identity
    assert ef.message_to(small, "dense") is small
    # excel + msgpack route to the dependency-free connectors
    xl = str(tmp_path / "xl")
    ef.message_to(small, "excel", xl)
    assert ef.message_read(spark, "excel", xl).count() == 100
    mp = str(tmp_path / "mp_dispatch")
    ef.message_to(small, "msgpack", mp)
    assert ef.message_read(spark, "msgpack", mp).count() == 100
    # every reference to/read name is either routed or refused with a reason
    for fmt in ("hdf", "gbq", "clipboard"):
        with pytest.raises(NotImplementedError, match=fmt):
            ef.message_to(small, fmt, str(tmp_path / fmt))
    with pytest.raises(NotImplementedError):
        ef.message_read(spark, "hdf", "x.h5")
    with pytest.raises(ValueError, match="unknown"):
        ef.message_to(small, "carrier_pigeon")


def test_excel_roundtrip_file_parallel(spark, small, tmp_path):
    p = str(tmp_path / "xlsx")
    ef.write_excel(small.repartition(3), p)
    import os

    assert len([f for f in os.listdir(p) if f.endswith(".xlsx")]) == 3
    back = ef.read_excel(spark, p)
    assert back.rdd.getNumPartitions() == 3
    got = {(r.id, r.val, r.name) for r in back.collect()}
    assert got == {(i, i * 1.5, f"name_{i}") for i in range(100)}
    assert back.schema.simpleString() == (
        "struct<id:bigint,val:double,name:string>"
    )


def test_excel_escaping_nulls_and_bools(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, "a <&> b", 3.14, True),
            (2, None, float("nan"), False),
            (3, "line\nbreak & \ttab", -0.5, None),
        ],
        "id long, s string, x double, b boolean",
    )
    p = str(tmp_path / "xlsx2")
    ef.write_excel(df, p)
    back = {r.id: (r.s, r.x, r.b) for r in ef.read_excel(spark, p).collect()}
    assert back[1] == ("a <&> b", 3.14, True)
    assert back[2] == (None, None, False)
    assert back[3] == ("line\nbreak & \ttab", -0.5, None)


def test_excel_probe_widens_integral_first_double(spark, tmp_path):
    """A double column whose FIRST value is integral must still probe as
    double (the 200-row probe widens bigint -> double on any fraction)."""
    df = spark.createDataFrame(
        [(1, 2.0), (2, 2.5), (3, 7.0)], "id long, x double"
    )
    p = str(tmp_path / "xlsx3")
    ef.write_excel(df.coalesce(1), p)
    back = ef.read_excel(spark, p)
    assert dict(back.dtypes)["x"] == "double"
    assert {r.x for r in back.collect()} == {2.0, 2.5, 7.0}


def test_msgpack_codec_canonical_bytes():
    """Spot-check encodings against the public msgpack spec."""
    import struct

    def pack(o):
        out = bytearray()
        ef._mp_pack(o, out)
        return bytes(out)

    assert pack(5) == b"\x05"                       # positive fixint
    assert pack(-1) == b"\xff"                      # negative fixint
    assert pack(None) == b"\xc0"
    assert pack(True) == b"\xc3" and pack(False) == b"\xc2"
    assert pack("a") == b"\xa1a"                    # fixstr
    assert pack(1.5) == b"\xcb" + struct.pack(">d", 1.5)
    assert pack(2**40) == b"\xd3" + struct.pack(">q", 2**40)
    assert pack([1, 2]) == b"\x92\x01\x02"          # fixarray
    assert pack({"k": 1}) == b"\x81\xa1k\x01"       # fixmap
    # roundtrip arbitrary nesting
    obj = {"a": [1, -5, None, "héllo", 2.25], "b": b"\x00\x01", "c": True}
    got, pos = ef._mp_unpack(pack(obj), 0)
    assert got == obj


def test_msgpack_roundtrip_file_parallel(spark, small, tmp_path):
    p = str(tmp_path / "mp")
    ef.write_msgpack(small.repartition(3), p)
    import os

    assert len([f for f in os.listdir(p) if f.endswith(".msgpack")]) == 3
    back = ef.read_msgpack(spark, p)
    assert back.rdd.getNumPartitions() == 3
    got = {(r.id, r.val, r.name) for r in back.collect()}
    assert got == {(i, i * 1.5, f"name_{i}") for i in range(100)}


def test_msgpack_null_in_first_record_roundtrips(spark, tmp_path):
    """A null cell in the first record must not poison schema inference:
    the probe walks up to 200 records and skips nulls (the reader used to
    infer void from the first record and fail on its own writer's file)."""
    df = spark.createDataFrame(
        [(1, None), (2, "b"), (3, None)], "id long, s string"
    ).coalesce(1)
    p = str(tmp_path / "mp_nullfirst")
    ef.write_msgpack(df, p)
    back = {r.id: r.s for r in ef.read_msgpack(spark, p).collect()}
    assert back == {1: None, 2: "b", 3: None}
    assert dict(ef.read_msgpack(spark, p).dtypes)["s"] == "string"


def test_msgpack_all_null_column_falls_back_to_string(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None), (2, None)], "id long, s string"
    ).coalesce(1)
    p = str(tmp_path / "mp_allnull")
    ef.write_msgpack(df, p)
    back = ef.read_msgpack(spark, p)
    assert dict(back.dtypes)["s"] == "string"
    assert {r.s for r in back.collect()} == {None}


def test_msgpack_decodes_foreign_encoder_type_bytes():
    """Standard encoders pick the narrowest representation (str8, uint8,
    int16, bin8, float32, array16, map16...); the decoder must accept the
    whole scalar/bin family, not just the bytes write_msgpack emits."""
    import struct

    cases = [
        (b"\xcc\xff", 255),                       # uint8
        (b"\xcd\x01\x00", 256),                   # uint16
        (b"\xce\x00\x01\x00\x00", 65536),         # uint32
        (b"\xcf" + struct.pack(">Q", 2**40), 2**40),   # uint64
        (b"\xd0\x80", -128),                      # int8
        (b"\xd1\xff\x00", -256),                  # int16
        (b"\xd2" + struct.pack(">i", -70000), -70000),  # int32
        (b"\xd9\x03abc", "abc"),                  # str8
        (b"\xc4\x02\x00\x01", b"\x00\x01"),       # bin8
        (b"\xc5\x00\x02\xab\xcd", b"\xab\xcd"),   # bin16
        (b"\xca" + struct.pack(">f", 1.5), 1.5),  # float32
        (b"\xdc\x00\x02\x01\x02", [1, 2]),        # array16
        (b"\xde\x00\x01\xa1k\x05", {"k": 5}),     # map16
    ]
    for raw, want in cases:
        got, pos = ef._mp_unpack(raw, 0)
        assert got == want and pos == len(raw), (raw, got)


def test_excel_strips_xml_invalid_control_chars(spark, tmp_path):
    """XML 1.0 forbids most C0 controls even escaped; crawl text containing
    them must still write a file read_excel can parse (controls stripped,
    like openpyxl). Tab/newline are legal and must survive."""
    df = spark.createDataFrame(
        [(1, "bad\x00ctl\x07here"), (2, "keep\ttab\nline")],
        "id long, s string",
    )
    p = str(tmp_path / "xlsx_ctl")
    ef.write_excel(df, p)
    back = {r.id: r.s for r in ef.read_excel(spark, p).collect()}
    assert back[1] == "badctlhere"
    assert back[2] == "keep\ttab\nline"


def test_msgpack_nulls_arrays_unicode(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, "héllo wörld", [1.0, 2.5], True),
            (2, None, [], False),
            (3, "plain", [0.0], None),
        ],
        "id long, s string, arr array<double>, b boolean",
    )
    p = str(tmp_path / "mp2")
    ef.write_msgpack(df, p)
    back = {r.id: (r.s, list(r.arr), r.b) for r in ef.read_msgpack(spark, p).collect()}
    assert back[1] == ("héllo wörld", [1.0, 2.5], True)
    assert back[2] == (None, [], False)
    assert back[3] == ("plain", [0.0], None)


def test_sparse_roundtrip_scipy_layout(spark, tmp_path):
    """COO triplets -> per-partition scipy-compatible .npz -> triplets:
    exact value roundtrip, scipy save_npz array layout (format/shape/
    row/col/data readable with plain numpy), dispatch routing."""
    import numpy as np

    rows = [(0, 2, 1.5), (3, 1, -2.25), (7, 0, 0.125), (3, 4, 9.0)]
    df = spark.createDataFrame(rows, "r long, c long, v double")
    p = str(tmp_path / "coo")
    ef.write_sparse(df.repartition(2), p, "r", "c", "v")
    back = sorted(
        (x.row, x.col, x.value) for x in ef.read_sparse(spark, p).collect()
    )
    assert back == sorted(rows)
    # raw layout is scipy's: every part loads with numpy alone
    import glob as g

    f = g.glob(p + "/*.npz")
    assert f
    z = np.load(f[0])
    assert set(z.files) >= {"format", "shape", "row", "col", "data"}
    assert bytes(z["format"]).decode() == "coo"
    assert list(z["shape"]) == [8, 5]  # max row+1, max col+1
    # dispatch names route
    p2 = str(tmp_path / "coo2")
    ef.message_to(df, "sparse", p2, row_col="r", col_col="c", val_col="v")
    assert ef.message_read(spark, "sparse", p2).count() == 4


def test_sparse_empty_frame_contract(spark, tmp_path):
    """Empty triplets + omitted shape raise a clear error (F.max is NULL);
    empty triplets + pinned shape round-trip a zero-nnz matrix; re-writing
    a directory clears the previous write's uuid-named parts."""
    import glob as g

    import numpy as np
    import pytest

    from fireworks_spark import edge_formats as ef

    empty = spark.createDataFrame([], "r long, c long, v double")
    with pytest.raises(ValueError, match="shape"):
        ef.write_sparse(empty, str(tmp_path / "bad"), "r", "c", "v")

    p = str(tmp_path / "zero")
    ef.write_sparse(empty, p, "r", "c", "v", shape=(4, 3))
    z = np.load(g.glob(p + "/*.npz")[0])
    assert list(z["shape"]) == [4, 3] and len(z["row"]) == 0
    assert ef.read_sparse(spark, p).count() == 0

    # overwrite must not merge with the prior write's parts
    p2 = str(tmp_path / "rw")
    df1 = spark.createDataFrame(
        [(0, 0, 1.0), (1, 1, 2.0)], "r long, c long, v double"
    ).repartition(2)
    ef.write_sparse(df1, p2, "r", "c", "v")
    df2 = spark.createDataFrame([(2, 2, 9.0)], "r long, c long, v double")
    ef.write_sparse(df2, p2, "r", "c", "v")
    out = [(x.row, x.col, x.value) for x in ef.read_sparse(spark, p2).collect()]
    assert out == [(2, 2, 9.0)]


def test_sparse_user_partlike_names_not_deduped(spark, tmp_path):
    """The one-part-per-pid dedup applies ONLY to write_sparse's exact
    name scheme (part-<5 digits>-<32 hex>.npz). A hand-assembled
    directory whose files merely LOOK part-like holds distinct user
    matrices — every file must be read, none silently dropped."""
    import os

    import numpy as np

    p = str(tmp_path / "handmade")
    os.makedirs(p)
    for name, val in [("part-1-matrixA.npz", 1.0), ("part-1-matrixB.npz", 2.0)]:
        np.savez_compressed(
            os.path.join(p, name),
            format=np.array(b"coo"),
            shape=np.array([4, 4], dtype=np.int64),
            row=np.array([0], dtype=np.int64),
            col=np.array([0], dtype=np.int64),
            data=np.array([val]),
        )
    vals = sorted(x.value for x in ef.read_sparse(spark, p).collect())
    assert vals == [1.0, 2.0]
