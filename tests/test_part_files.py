"""The part-file contract every custom format shares
(fireworks_spark.publish): a rerun replaces the previous output, a zombie
attempt's duplicate parts and a killed attempt's stranded scratch file
are never read, names outside the part scheme are always read, and a
failed first task attempt leaves no trace in the published output."""

from __future__ import annotations

import glob
import os
import re
import shutil
import struct
import subprocess
import sys

import pytest

from fireworks_spark import edge_formats as ef
from fireworks_spark import io_formats as io
from fireworks_spark import sources as src

_PART = re.compile(r"part-(\d{5})-([0-9a-f]{32})(-\d{4,})?\.[^.]+")

# (id, sequence): ids are valid for every sequence format (pdb_seqres
# caps them at 4 alphanumerics), sequences share one length (phylip/nexus)
# and use letters every alphabet accepts (TCAG: nucleotides, 2bit, nib,
# and amino acids)
_SEQ_ROWS = [(f"s{i}", "ACGTTGCA" if i % 2 else "TTGGCCAA") for i in range(6)]


def _seq_pairs(df):
    return sorted((r.ids, r.sequences) for r in df.collect())


def _seq_pairs_by_chain(df):
    # cif-seqres ids are '<entry>:<chain>', the chain being the written id
    return sorted((r.ids.split(":")[1], r.sequences) for r in df.collect())


def _seq_pairs_by_idcode(df):
    # pdb-seqres ids are '<IDCODE>:A', the idcode being the written id
    return sorted(
        (r.ids.split(":")[0].lower(), r.sequences) for r in df.collect()
    )


def _seq_case(name, write, read, norm=_seq_pairs, ext=None):
    def make(spark):
        return spark.createDataFrame(_SEQ_ROWS, "ids string, sequences string")

    return pytest.param(
        make, write, read, norm, sorted(_SEQ_ROWS), ext, id=name
    )


def _table_rows(df):
    return sorted((int(r.id), str(r.s)) for r in df.collect())


_TABLE_ROWS = sorted((i, f"r{i} <&>") for i in range(40))


def _table_case(name, write, read, ext):
    def make(spark):
        return spark.createDataFrame(_TABLE_ROWS, "id long, s string")

    return pytest.param(
        make, write, read, _table_rows, _TABLE_ROWS, ext, id=name
    )


def _sparse_make(spark):
    return spark.createDataFrame(
        [(0, 0, 1.0), (1, 1, 2.0), (2, 0, 3.0), (5, 3, 0.5)],
        "r long, c long, v double",
    )


def _sparse_triplets(df):
    return sorted((r.row, r.col, r.value) for r in df.collect())


# every write_* of the three format modules with a part-file layout,
# paired with its reader
PAIRS = [
    _seq_case("phylip", src.write_phylip, src.read_phylip),
    _seq_case("clustal", src.write_clustal, src.read_clustal),
    _seq_case("stockholm", src.write_stockholm, src.read_stockholm),
    _seq_case("nexus", src.write_nexus, src.read_nexus),
    _seq_case("ig", src.write_ig, src.read_ig),
    _seq_case("phd", src.write_phd, src.read_phd),
    _seq_case(
        "cif_seqres", src.write_cif_seqres, src.read_cif_seqres,
        _seq_pairs_by_chain,
    ),
    _seq_case(
        "pdb_seqres", src.write_pdb_seqres, src.read_pdb_seqres,
        _seq_pairs_by_idcode,
    ),
    _seq_case("nib", src.write_nib, src.read_nib),
    _seq_case("seqxml", src.write_seqxml, src.read_seqxml),
    _seq_case("uniprot_xml", src.write_uniprot_xml, src.read_uniprot_xml),
    _seq_case("twobit", src.write_twobit, src.read_twobit),
    _table_case("stata", ef.write_stata, ef.read_stata, "dta"),
    _table_case("pickle", ef.write_pickle, ef.read_pickle, "pkl"),
    _table_case(
        "html",
        ef.write_html,
        lambda spark, p: ef.read_html_tables(spark, p, "id long, s string"),
        "html",
    ),
    _table_case("excel", ef.write_excel, ef.read_excel, "xlsx"),
    _table_case("msgpack", ef.write_msgpack, ef.read_msgpack, "msgpack"),
    _table_case("feather", io.write_feather, io.read_feather, "feather"),
    pytest.param(
        _sparse_make,
        lambda df, p: ef.write_sparse(df, p, "r", "c", "v"),
        ef.read_sparse,
        _sparse_triplets,
        [(0, 0, 1.0), (1, 1, 2.0), (2, 0, 3.0), (5, 3, 0.5)],
        "npz",
        id="sparse",
    ),
]


@pytest.mark.parametrize("make, write, read, norm, want, ext", PAIRS)
def test_rerun_reads_back_once(spark, tmp_path, make, write, read, norm, want, ext):
    """Writing the same frame twice to one path reads it back exactly
    once: the second write replaces the first instead of adding a second
    set of uuid-named parts beside it."""
    p = str(tmp_path / "out")
    df = make(spark).repartition(2)
    write(df, p)
    write(df, p)
    assert norm(read(spark, p)) == want
    # nothing staged or swapped out is left beside the output
    assert os.listdir(str(tmp_path)) == ["out"]


def test_rerun_spark_native_writers(spark, tmp_path):
    """The Spark-native writers of io_formats: write_table overwrites by
    default and write_bucketed replaces the catalog table."""
    df = spark.createDataFrame(_TABLE_ROWS, "id long, s string").repartition(2)
    p = str(tmp_path / "pq")
    io.write_table(df, p)
    io.write_table(df, p)
    assert _table_rows(io.read_table(spark, p)) == _TABLE_ROWS
    io.write_bucketed(df, "fw_rerun_bucketed", ["id"], num_buckets=2)
    io.write_bucketed(df, "fw_rerun_bucketed", ["id"], num_buckets=2)
    try:
        assert _table_rows(spark.table("fw_rerun_bucketed")) == _TABLE_ROWS
    finally:
        spark.sql("DROP TABLE IF EXISTS fw_rerun_bucketed")


@pytest.mark.parametrize("make, write, read, norm, want, ext", PAIRS)
def test_zombie_parts_and_torn_scratch_never_double_read(
    spark, tmp_path, make, write, read, norm, want, ext
):
    """After the write, a zombie attempt lands a complete duplicate of one
    partition's parts under another attempt token, and a killed attempt
    strands a truncated dot-scratch file: neither is read. Only one
    attempt's files per partition id count, whichever token sorts first,
    so the zombie is ignored when it sorts last ('f' * 32) and read
    INSTEAD of the original when it sorts first ('0' * 32). A copy under
    a name outside the scheme is read in full. Per-record formats
    (pdb_seqres, nib) have no attempt tokens; only the scratch case
    applies to them."""
    p = str(tmp_path / "out")
    write(make(spark).repartition(2), p)
    names = sorted(os.listdir(p))
    parts = [m for m in map(_PART.fullmatch, names) if m]
    if parts:
        # one attempt per non-empty partition: two partitions, two tokens
        assert len({m.group(1) for m in parts}) == 2
        assert len({m.group(2) for m in parts}) == 2
    scratch_ext = ext or os.path.splitext(names[0])[1][1:]
    with open(os.path.join(p, f".{'e' * 32}-part-00000.{scratch_ext}"), "wb") as f:
        f.write(b"PK\x03\x04 truncated")
    assert norm(read(spark, p)) == want

    if not parts:
        return
    pid, token = parts[0].group(1), parts[0].group(2)
    for zombie in ("f" * 32, "0" * 32):
        for m in parts:
            if m.group(1) == pid and m.group(2) == token:
                shutil.copy(
                    os.path.join(p, m.group(0)),
                    os.path.join(p, m.group(0).replace(token, zombie)),
                )
        assert norm(read(spark, p)) == want, zombie

    # a name outside the part scheme is user data: read as-is, never
    # deduped away, even when its bytes duplicate a part
    first = os.path.join(p, parts[0].group(0))
    extra = norm(read(spark, first))
    shutil.copy(first, os.path.join(p, f"extra.{scratch_ext}"))
    assert norm(read(spark, p)) == sorted(want + extra)


@pytest.mark.parametrize("write", [src.write_nib, src.write_pdb_seqres])
def test_per_record_writers_refuse_duplicate_ids(spark, tmp_path, write):
    """Per-record writers name each file after its record, so the files
    must equal the rows: two rows with one id fail loudly instead of
    silently keeping one of them, and nothing is published."""
    df = spark.createDataFrame(
        [("a1", "ACGT"), ("b2", "GGCC"), ("a1", "TTCA")],
        "ids string, sequences string",
    )
    p = tmp_path / "out"
    with pytest.raises(Exception, match="share one file name"):
        write(df.repartition(2), str(p))
    assert os.listdir(str(tmp_path)) == []


def _pad8(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 8)


def _sff(name: str, bases: str, quals: list) -> bytes:
    """A one-read SFF container (public 454 spec, no index block)."""
    flows, key = b"TACG", b"TCAG"
    head = b".sff" + struct.pack(
        ">4sQIIHHHB", b"\x00\x00\x00\x01", 0, 0, 1,
        len(_pad8(b"\x00" * 31 + flows + key)), len(key), len(flows), 1,
    )
    rh = _pad8(
        struct.pack(">HHIHHHH", 0, len(name), len(bases), 0, 0, 0, 0)
        + name.encode()
    )
    rh = struct.pack(">H", len(rh)) + rh[2:]
    data = b"\x00\x01" * len(flows) + bytes([1] * len(bases))
    return _pad8(head + flows + key) + rh + _pad8(
        data + bases.encode() + bytes(quals)
    )


def _abif(bases: bytes, quals: bytes) -> bytes:
    """An ABIF container with PBAS/PCON only: the read is named after
    the file stem."""
    entries = [(b"PBAS", bases), (b"PCON", quals)]
    dir_off = 34
    data_off = dir_off + 28 * len(entries)
    raw = b"ABIF" + struct.pack(">h", 101) + struct.pack(
        ">4sihhiiii", b"tdir", 1, 1023, 28, len(entries),
        28 * len(entries), dir_off, 0,
    )
    pool = b""
    for tag, payload in entries:
        raw += struct.pack(
            ">4sihhiiii", tag, 1, 2, 1, len(payload), len(payload),
            data_off + len(pool), 0,
        )
        pool += payload
    return raw + pool


def _ace(name: str) -> bytes:
    return (
        f"AS 1 0\n\nCO {name} 5 0 0 U\nACGTA\n\nBQ\n20 20 20 20 20\n\n"
    ).encode()


def _fastq(name: str) -> bytes:
    return f"@{name}\nACGTA\n+\nIIIII\n".encode()


@pytest.mark.parametrize(
    "fmt, ext, body",
    [
        ("ace", "ace", _ace),
        ("sff", "sff", lambda n: _sff(n, "ACGTA", [30] * 5)),
        ("abi", "ab1", lambda n: _abif(b"ACGTA", bytes([30] * 5))),
        ("fastq", "fq", _fastq),
    ],
)
def test_source_readers_share_the_listing_rule(spark, tmp_path, fmt, ext, body):
    """The sequence sources share the part listing: names that merely
    LOOK part-like are distinct user files and all read; two attempts of
    one exact-scheme partition read once; hidden and underscore files
    are skipped."""
    d = tmp_path / fmt
    d.mkdir()
    for stem in ("part-1-a", "part-1-b"):
        (d / f"{stem}.{ext}").write_bytes(body(stem))
    dup = f"part-00003-{'a' * 32}"
    for token in ("a" * 32, "b" * 32):
        (d / f"part-00003-{token}.{ext}").write_bytes(body(dup))
    (d / f".scratch.{ext}").write_bytes(b"torn")
    (d / f"_SUCCESS.{ext}").write_bytes(b"")
    got = sorted(r.ids for r in src.read_bioseq(spark, str(d), fmt).collect())
    assert got == sorted(["part-1-a", "part-1-b", dup])


def test_failed_attempt_leaves_only_hidden_scratch(tmp_path):
    """Executor side of the contract, at unit level: an attempt whose
    input dies after one batch has already written that batch's part
    (write_pickle writes one file per batch), but files turn visible only
    when the serializer returns — the dead attempt leaves nothing but
    hidden scratch, which the driver sweeps."""
    import pandas as pd

    from fireworks_spark import publish

    def serialize(pid, batches, new_part):
        for b in batches:
            b.to_pickle(new_part())

    def dying():
        yield pd.DataFrame({"a": [1, 2]})
        raise RuntimeError("attempt killed")

    d = str(tmp_path)
    with pytest.raises(RuntimeError, match="killed"):
        publish.run_attempt(d, "pkl", serialize, False, 0, "c" * 32, dying())
    assert [n for n in os.listdir(d) if not n.startswith(".")] == []
    assert len(os.listdir(d)) == 1

    # a complete attempt names every file of one partition with one token
    batches = [pd.DataFrame({"a": [i]}) for i in range(3)]
    n = publish.run_attempt(d, "pkl", serialize, False, 7, "d" * 32, batches)
    assert n == 3
    assert sorted(n for n in os.listdir(d) if not n.startswith(".")) == [
        f"part-00007-{'d' * 32}-0001.pkl",
        f"part-00007-{'d' * 32}-0002.pkl",
        f"part-00007-{'d' * 32}.pkl",
    ]


_FAULT_SCRIPT = r"""
import sys

from pyspark import TaskContext

from fireworks_spark.session import get_spark

import test_part_files as t

spark = get_spark(
    master="local[2,2]",
    shuffle_partitions=2,
    extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "4"},
)


def flaky(batches):
    # attempt 0 of every task hands one batch on, then dies. Spark does
    # not pass that batch on to the writer's worker before the task dies,
    # so a dead attempt's half-written files are covered at unit level by
    # test_failed_attempt_leaves_only_hidden_scratch
    for b in batches:
        yield b
        if TaskContext.get().attemptNumber() == 0:
            raise RuntimeError("injected attempt-0 failure")


bad = []
for i, param in enumerate(t.PAIRS):
    make, write, read, norm, want, ext = param.values
    df = make(spark).repartition(2)
    out = f"{sys.argv[1]}/{param.id}"
    write(df.mapInPandas(flaky, df.schema), out)
    got = norm(read(spark, out))
    if got != want:
        bad.append((param.id, got))
print("BAD", bad)
sys.exit(1 if bad else 0)
"""


def test_writers_survive_failed_first_attempts(tmp_path):
    """Attempt 0 of every writer task fails after handing one batch to
    the writer; Spark's retry then succeeds, and every writer's output
    reads back equal to its input — no part or scratch file of the dead
    attempt is published. Runs in its own small session: retries need a
    local[N,maxFailures] master, which the shared test session is not."""
    script = tmp_path / "fault.py"
    script.write_text(_FAULT_SCRIPT)
    tests = os.path.dirname(os.path.abspath(__file__))
    repo = os.path.dirname(tests)
    env = dict(
        os.environ,
        SPARK_DRIVER_MEMORY="1g",
        PYTHONPATH=os.pathsep.join([repo, tests]),
    )
    res = subprocess.run(
        [sys.executable, str(script), str(tmp_path / "out")],
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
        cwd=repo,
    )
    assert res.returncode == 0, (res.stdout[-3000:], res.stderr[-3000:])
