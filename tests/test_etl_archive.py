"""ETL + archive semantics: transform contract, pipeline composition,
tar round-trips (the reference's own style — unpack every output shard
and check contents, ais/test/dsort_test.go:363-510)."""

from __future__ import annotations

import io
import tarfile

from pyspark.sql import functions as F

from aistore_spark.catalog import members_catalog
from aistore_spark.operators import etl
from aistore_spark.operators.archive import (
    build_tar,
    expected_tar_size,
    pack_members,
    synth_payload,
)
from aistore_spark.sources.tables import load_table


def test_tar_roundtrip_preserves_order_and_bytes():
    names = [f"x/{i:04d}.bin" for i in range(50)]
    payloads = [bytes([i % 251]) * (i * 17 % 3000) for i in range(50)]
    blob = build_tar(names, payloads)
    assert len(blob) == expected_tar_size(len(p) for p in payloads)
    with tarfile.open(fileobj=io.BytesIO(blob)) as tar:
        got = [(m.name, tar.extractfile(m).read()) for m in tar.getmembers()]
    assert got == list(zip(names, payloads)), "order + bytes must round-trip"


def test_compress_decompress_pipeline_roundtrip():
    fn = etl.resolve(["compress", "decompress"])
    data = b"aistore" * 1000
    assert fn(data, "p", "") == data
    # deterministic gzip: same input -> same bytes
    c = etl.resolve(["compress"])
    assert c(data, "p", "") == c(data, "p", "")


def test_etl_stream_matches_inline(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    df = docs.select(
        F.col("doc_id").cast("string").alias("name"),
        F.encode("text", "UTF-8").alias("data"),
    )
    inline = etl.etl_inline(df, ["md5"]).select(
        "name", F.col("out").cast("string").alias("out")
    )
    streamed = etl.etl_stream(
        df, ["md5"], schema="name string, data binary, out binary"
    ).select("name", F.col("out").cast("string").alias("out"))
    assert sorted(map(tuple, inline.collect())) == sorted(
        map(tuple, streamed.collect())
    )


def test_pack_members_builds_real_tars(spark, sf_dir):
    members = members_catalog(load_table(spark, sf_dir, "lineitem")).filter(
        F.col("shard") == "shard-00000.tar"
    )
    stats = pack_members(members).collect()
    assert len(stats) == 1
    s = stats[0]
    rows = members.orderBy("member", "size").collect()
    sizes = [len(synth_payload(r.member, r.key_str)) for r in rows]
    assert s.n_members == len(rows)
    assert s.payload_bytes == sum(sizes)
    assert s.tar_bytes == expected_tar_size(sizes)


def test_all_archive_formats_roundtrip():
    """Format parity with cmn/archive/mime.go:25-29 — the full MIME set
    TAR/TGZ/ZIP/TAR.LZ4 round-trips through real bytes."""
    import gzip
    import zipfile

    from aistore_spark.functions import lz4frame
    from aistore_spark.operators.archive import build_tar_lz4, build_tgz, build_zip

    names = [f"r/{i:03d}.bin" for i in range(10)]
    payloads = [bytes([i]) * (100 * i + 1) for i in range(10)]

    tgz = build_tgz(names, payloads)
    assert tgz == build_tgz(names, payloads), "tgz must be deterministic"
    with tarfile.open(fileobj=io.BytesIO(gzip.decompress(tgz))) as tar:
        assert [m.name for m in tar.getmembers()] == names

    zp = build_zip(names, payloads)
    assert zp == build_zip(names, payloads), "zip must be deterministic"
    with zipfile.ZipFile(io.BytesIO(zp)) as zf:
        assert zf.namelist() == names
        assert all(zf.read(n) == p for n, p in zip(names, payloads))

    tl4 = build_tar_lz4(names, payloads)
    assert tl4 == build_tar_lz4(names, payloads), "tar.lz4 must be deterministic"
    with tarfile.open(fileobj=io.BytesIO(lz4frame.decompress(tl4))) as tar:
        assert [m.name for m in tar.getmembers()] == names
        assert all(
            tar.extractfile(m).read() == p
            for m, p in zip(tar.getmembers(), payloads)
        )


def test_fast_tar_builder_byte_identical_to_tarfile():
    """The direct-assembly USTAR builder (r16) must emit the exact
    bytes tarfile.USTAR_FORMAT does — headers, padding, EOF blocks,
    RECORDSIZE tail — for representative name/size shapes, including
    empty payloads, block-boundary sizes, and duplicate names."""
    from aistore_spark.operators.archive import _build_tar_tarfile, build_tar

    cases = [
        ([], []),
        (["a.txt"], [b""]),
        (["dir/sub/file.bin"], [b"x" * 512]),
        (
            ["rec-000000001.jpg", "rec-000000001.cls", "z" * 100],
            [b"p" * 511, b"q" * 513, b"\0" * 10240],
        ),
        (["dup.txt", "dup.txt"], [b"one", b"two"]),
        (["uénicode.txt"], [b"payload"]),
    ]
    for names, payloads in cases:
        assert build_tar(names, payloads) == _build_tar_tarfile(
            names, payloads
        ), names
    # >100-byte names take the tarfile fallback (prefix-field handling)
    long = ["d/" * 60 + "f.txt"]
    assert build_tar(long, [b"p"]) == _build_tar_tarfile(long, [b"p"])


def test_fast_tar_reader_guards():
    """The direct-header tar walk (r16) must refuse — and the full
    reader recover from — the three header shapes ADVICE-r16 flagged:
    prefix-field names (>100 bytes, silently truncated before),
    corrupted header checksums (silently parsed before), and
    skip-type members carrying a nonzero size field (cursor desync
    before)."""
    import io
    import tarfile

    import pytest

    from aistore_spark.sources.binary import _iter_members, _iter_tar_fast

    def tar_bytes(infos_payloads):
        buf = io.BytesIO()
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tf:
            for info, payload in infos_payloads:
                tf.addfile(info, io.BytesIO(payload) if payload else None)
        return buf.getvalue()

    def reg(name, payload):
        info = tarfile.TarInfo(name)
        info.size = len(payload)
        return info, payload

    # 1. prefix-field archive: tarfile splits a 125-char path across
    # prefix+name; the fast walk must REFUSE (ValueError), and the
    # full reader must yield the complete joined path via tarfile.
    long_name = "d/" * 60 + "f.txt"
    arc = tar_bytes([reg(long_name, b"p"), reg("short.txt", b"q")])
    with pytest.raises(ValueError):
        list(_iter_tar_fast(arc, True))
    got = list(_iter_members("x.tar", arc, True))
    assert [(m[0], m[3]) for m in got] == [
        (long_name, b"p"),
        ("short.txt", b"q"),
    ]

    # 2. corrupted header: flip one name byte WITHOUT fixing the
    # checksum — the fast walk must raise, not parse the bad name.
    arc2 = bytearray(tar_bytes([reg("good.txt", b"hello")]))
    arc2[0] ^= 0x01
    with pytest.raises(ValueError):
        list(_iter_tar_fast(bytes(arc2), True))

    # 3. symlink carrying a nonzero size field: tarfile consumes no
    # payload blocks for link types, so a size-advancing walk would
    # misparse every later member. The fast walk defers (ValueError)
    # and the full reader reports exactly the regular files.
    link = tarfile.TarInfo("lnk")
    link.type = tarfile.SYMTYPE
    link.linkname = "good.txt"
    link.size = 7  # some writers record the target size
    arc3 = tar_bytes([reg("a.txt", b"one"), (link, None), reg("b.txt", b"two")])
    with pytest.raises(ValueError):
        list(_iter_tar_fast(arc3, True))
    got3 = list(_iter_members("x.tar", arc3, True))
    assert [(m[0], m[3]) for m in got3] == [("a.txt", b"one"), ("b.txt", b"two")]

    # 4. plain archive: fast walk still yields byte-identical members
    # (and a zero-size symlink is structurally skipped, like tarfile).
    link0 = tarfile.TarInfo("lnk0")
    link0.type = tarfile.SYMTYPE
    link0.linkname = "a.txt"
    arc4 = tar_bytes(
        [reg("a.txt", b"one"), (link0, None), reg("b.txt", b"x" * 513)]
    )
    fast = [(m[0], m[1], m[2], m[3]) for m in _iter_tar_fast(arc4, True)]
    with tarfile.open(fileobj=io.BytesIO(arc4)) as tf:
        ref = [
            (i.name, i.offset_data, i.size, tf.extractfile(i).read())
            for i in tf.getmembers()
            if i.isfile()
        ]
    assert fast == ref


def test_assemble_batches_formats_checks_closed_form(spark):
    """G3's format matrix after the shared-tar/kernel rework (r17):
    every (batch, format) row must still report the closed-form value —
    tar/tgz/tar.lz4 all equal the USTAR closed form (the two compressed
    formats report the DECOMPRESSED stream length, so the gzip level /
    LZ4 block-size choices inside the kernel cannot leak into results),
    zip the STORED layout closed form."""
    from aistore_spark.operators.archive import assemble_batches_formats

    rows = [
        (0, i, f"b/rec-{i:09d}.jpg", (i * 937) % 4000) for i in range(6)
    ] + [(1, 10 + i, f"__404__/b/x-{i}.jpg", 0) for i in range(3)]
    joined = spark.createDataFrame(
        rows, "batch_id bigint, req_idx bigint, out_name string, size bigint"
    )
    got = {
        (r.batch_id, r.format): r
        for r in assemble_batches_formats(joined).collect()
    }
    by_batch = {0: rows[:6], 1: rows[6:]}
    assert len(got) == 8
    for (bid, fmt), r in got.items():
        names = [n for _, _, n, _ in by_batch[bid]]
        sizes = [s for _, _, _, s in by_batch[bid]]
        assert r.n_entries == len(names)
        assert r.payload_bytes == sum(sizes)
        if fmt == "zip":
            expect = (
                sum(30 + len(n) + s for n, s in zip(names, sizes))
                + sum(46 + len(n) for n in names)
                + 22
            )
        else:  # tar, tgz, tar.lz4: all the USTAR closed form
            expect = expected_tar_size(sizes)
        assert r.check_bytes == expect, (bid, fmt)


def test_direct_zip_builder_byte_identical_to_zipfile():
    """The direct STORED-zip assembly (r17) must emit the exact bytes
    the zipfile path does — local headers, central directory, EOCD —
    for representative shapes: empty archive, empty payload, duplicate
    names, utf-8 names (0x800 flag), many members, block-ish sizes."""
    from aistore_spark.operators.archive import _build_zip_zipfile, build_zip

    cases = [
        ([], []),
        (["a.txt"], [b""]),
        (
            ["a/b.jpg", "dup.txt", "dup.txt", "uéni.txt"],
            [b"hello", b"", b"x" * 700, b"p"],
        ),
        (
            [f"rec-{i:09d}.jpg" for i in range(300)],
            [bytes([i % 251]) * (i * 37 % 5000) for i in range(300)],
        ),
        (["__404__/b/x.jpg"], [b"\0" * 65536]),
    ]
    for names, payloads in cases:
        assert build_zip(names, payloads) == _build_zip_zipfile(
            names, payloads
        ), names[:2]


def test_map_groups_types_order_and_null_payload(spark):
    """The engine's group map: output columns take the DDL schema's
    types even when the input key is ``int``; each group is stably
    sorted by *order* (ties keep input order, nulls last); and
    assemble_batches_bytes, built on it, counts a null payload as a
    0-byte entry whose md5 is that of b""."""
    import hashlib

    from aistore_spark.operators.archive import assemble_batches_bytes
    from aistore_spark.util import map_groups

    rows = [(1, 2, "a"), (1, 1, "b"), (1, None, "z"), (1, 2, "c"),
            (1, 1, "d"), (2, 5, "e")]
    df = spark.createDataFrame(rows, "k int, o bigint, v string").coalesce(1)
    out = map_groups(
        df, "k", ["o"], ["k", "v"], "k int, n bigint, vs string",
        lambda ks, vs: [(ks[0], len(vs), "".join(vs))],
    )
    assert out.dtypes == [("k", "int"), ("n", "bigint"), ("vs", "string")]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 5, "bdacz"), (2, 1, "e"),
    ]

    joined = spark.createDataFrame(
        [
            (7, 0, "a.bin", b"xy", "ok"),
            (7, 1, "__404__/b.bin", None, "missing"),
        ],
        "batch_id int, req_idx bigint, out_name string, payload binary, "
        "status string",
    )
    (r,) = assemble_batches_bytes(joined).collect()
    md5 = lambda b: hashlib.md5(b).hexdigest()  # noqa: E731
    assert (r.batch_id, r.n_entries, r.n_missing) == (7, 2, 1)
    assert r.payload_bytes == 2
    assert r.tar_bytes == len(
        build_tar(["a.bin", "__404__/b.bin"], [b"xy", b""])
    )
    assert r.content_md5 == md5(f"{md5(b'xy')},{md5(b'')}".encode())


def test_expand_archive_without_members_keeps_schema(spark):
    """A shard with no members expands to no rows, with the declared
    member schema (with and without the bytes column)."""
    from pyspark.sql.types import StructType

    from aistore_spark.sources.binary import (
        MEMBER_META_SCHEMA,
        MEMBER_SCHEMA,
        expand_archive_members,
    )

    shards = spark.createDataFrame(
        [("empty.tar", build_tar([], []))], "path string, content binary"
    )
    for with_bytes, ddl in (
        (True, MEMBER_SCHEMA),
        (False, MEMBER_META_SCHEMA),
    ):
        out = expand_archive_members(shards, with_bytes=with_bytes)
        assert out.collect() == []
        assert out.schema == StructType.fromDDL(ddl)


def test_write_packed_shards_long_names_match_build_tar(spark, tmp_path):
    """write_packed_shards writes each shard as build_tar over its rows
    in member order, also when a name over 100 bytes sends build_tar
    to its tarfile fallback."""
    from aistore_spark.sources.io_fixtures import write_packed_shards

    long = "d" * 60 + "/" + "x" * 60 + "/m.txt"  # 128 bytes: prefix field
    rows = [
        ("s0.tar", "b.txt", b"bee"),
        ("s0.tar", long, b"long" * 300),
        ("s0.tar", "a.txt", b""),
        ("s1.tar", "c.txt", b"c" * 513),
    ]
    df = spark.createDataFrame(
        rows, "shard string, member string, bytes binary"
    )
    manifest = write_packed_shards(df, str(tmp_path))
    assert sorted((m.shard, m.n_members) for m in manifest) == [
        ("s0.tar", 3), ("s1.tar", 1),
    ]
    for shard in ("s0.tar", "s1.tar"):
        mine = sorted((m, b) for s, m, b in rows if s == shard)
        expect = build_tar([m for m, _ in mine], [b for _, b in mine])
        assert (tmp_path / shard).read_bytes() == expect
    with tarfile.open(tmp_path / "s0.tar") as tf:
        assert tf.getnames() == ["a.txt", "b.txt", long]
