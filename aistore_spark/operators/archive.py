"""Archive pack / unpack / batch assembly (P1-P6, G1, S13).

The reference treats TAR/TGZ/ZIP shards as first-class: pack selected
objects into shards (``xact/xs/archive.go``), extract single members or
regex matches (``ais/tgtobj.go:1341-1400``), and assemble get-batch
responses as TARs in exact request order (``xact/xs/moss.go:637-749``).

Spark-first: every pack is the engine's group map,
``util.map_groups(df, dst_shard, order, cols, schema, builder)`` — one
builder call per output shard on its order-sorted column lists,
embarrassingly parallel, each group sized by the packing policy (D6)
so memory per task is bounded. The
member *catalog* (P5's shard index) is how extraction avoids touching
tar bytes at all: P2/P3 are catalog filters.

Determinism: TARs are built with zeroed uid/gid/mtime (USTAR), so their
byte size is an exact function of member names+sizes::

    tar_size = roundup(sum(512 + ceil(size/512)*512) + 1024, 10240)

The oracle recomputes that formula in SQL — if our tarfile output ever
deviates (long names → extended headers, format drift), the size check
catches it.
"""

from __future__ import annotations

import hashlib
import io
import tarfile
from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aistore_spark.sources.binary import _iter_members
from aistore_spark.util import map_groups

TAR_BLOCK = 512
TAR_EOF = 1024  # two zero blocks
TAR_RECORDSIZE = 10240  # tarfile pads archives to RECORDSIZE


def expected_tar_size(sizes: Iterable[int]) -> int:
    """Size in bytes of a USTAR archive holding members of *sizes*."""
    body = sum(TAR_BLOCK + -(-s // TAR_BLOCK) * TAR_BLOCK for s in sizes)
    total = body + TAR_EOF
    return -(-total // TAR_RECORDSIZE) * TAR_RECORDSIZE


def _build_tar_tarfile(names: list[str], payloads: list[bytes]) -> bytes:
    """tarfile-based USTAR builder — the reference implementation the
    fast path below must byte-match, kept as the fallback for names
    that need the prefix field or non-USTAR sizes."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tar:
        for name, payload in zip(names, payloads):
            info = tarfile.TarInfo(name=name)
            info.size = len(payload)
            info.mtime = 0
            info.uid = info.gid = 0
            info.uname = info.gname = ""
            tar.addfile(info, io.BytesIO(payload))
    return buf.getvalue()


def _ustar_header(name_b: bytes, size: int) -> bytes:
    """One 512-byte USTAR header, byte-identical to what
    ``tarfile.USTAR_FORMAT`` emits for a zeroed regular-file TarInfo
    (mode 0644, uid/gid/mtime 0, empty uname/gname; checksum computed
    with the checksum field as 8 spaces, then written ``%06o\\0 `` —
    pinned by tests/test_etl_archive.py's byte-equality test)."""
    hdr = bytearray(512)
    hdr[0 : len(name_b)] = name_b
    hdr[100:108] = b"0000644\x00"
    hdr[108:116] = b"0000000\x00"
    hdr[116:124] = b"0000000\x00"
    hdr[124:136] = b"%011o\x00" % size
    hdr[136:148] = b"00000000000\x00"
    hdr[148:156] = b"        "
    hdr[156] = 0x30  # typeflag '0': regular file
    hdr[257:265] = b"ustar\x0000"
    hdr[148:156] = b"%06o\x00 " % sum(hdr)
    return bytes(hdr)


def build_tar(names: list[str], payloads: list[bytes]) -> bytes:
    """Deterministic USTAR archive: zeroed uid/gid/mtime, entries in the
    given order (the get-batch order guarantee, api/apc/ml.go:26-28).

    Headers are emitted by direct byte assembly (r16, guide §4.2 —
    the write-side twin of the fast parse in sources/binary.py):
    tarfile pays a TarInfo + tobuf + copyfileobj round per member,
    which dominates many-small-member packs. Output is byte-identical
    to the tarfile USTAR form (test-pinned); names over 100 bytes or
    sizes outside the 11-octal-digit range fall back to tarfile for
    the whole archive so prefix-field handling stays the library's.
    """
    parts: list[bytes] = []
    pos = 0
    for name, payload in zip(names, payloads):
        name_b = name.encode("utf-8")
        size = len(payload)
        if len(name_b) > 100 or size >= 8**11:
            return _build_tar_tarfile(names, payloads)
        parts.append(_ustar_header(name_b, size))
        parts.append(payload)
        pad = -size % TAR_BLOCK
        if pad:
            parts.append(b"\0" * pad)
        pos += TAR_BLOCK + size + pad
    pos += TAR_EOF
    parts.append(b"\0" * (TAR_EOF + (-pos % TAR_RECORDSIZE)))
    return b"".join(parts)


def synth_payload(member: str, key_str: str) -> bytes:
    """Deterministic member payload for catalogs that carry no real
    bytes (testdata): ``member:key_str`` ASCII."""
    return f"{member}:{key_str}".encode("ascii")


def _entries_md5(names: list[str]) -> str:
    """md5 of the comma-joined *names*: the fingerprint of an archive's
    exact entry order."""
    return hashlib.md5(",".join(names).encode()).hexdigest()


def pack_members(
    members: DataFrame,
    shard_col: str = "shard",
    order_cols: tuple[str, ...] = ("member", "size"),
) -> DataFrame:
    """P1: pack members into one archive per *shard_col* value
    (``ArchiveMsg``, api/apc/multiobj.go:158-180; writers
    ``ext/dsort/shard/tar.go``).

    Builds REAL tar bytes per group and reports the shard manifest:
    ``(shard, n_members, payload_bytes, tar_bytes, entries_md5)`` where
    ``entries_md5`` fingerprints the exact entry order.
    """
    schema = (
        f"{shard_col} string, n_members bigint, payload_bytes bigint, "
        "tar_bytes bigint, entries_md5 string"
    )

    def pack(shards, names, keys):
        payloads = [synth_payload(m, k) for m, k in zip(names, keys)]
        tar = build_tar(names, payloads)
        yield (
            shards[0], len(names), sum(map(len, payloads)), len(tar),
            _entries_md5(names),
        )

    return map_groups(
        members, shard_col, list(order_cols),
        [shard_col, "member", "key_str"], schema, pack,
    )


def extract_member(members: DataFrame, shard: str, member: str) -> DataFrame:
    """P2: single archived-file read (``GET ?archpath=``,
    ais/tgtobj.go:1341-1368). The member catalog IS the shard index
    (P5), so this is a point lookup, not a tar scan."""
    return members.filter(
        (F.col("shard") == shard) & (F.col("member") == member)
    )


def extract_matching(
    members: DataFrame, pattern: str, mode: str = "regexp"
) -> DataFrame:
    """P3: multi-match extraction (``GET ?archregx=&archmode=``,
    cmn/archive/read.go:25-38) — filter the member catalog, then pack
    the hits as a streamed TAR (P1)."""
    from aistore_spark.operators.filters import select_regex

    return select_regex(members, pattern, mode=mode, name_col="member")


def assemble_batches(
    joined: DataFrame,
    batch_col: str = "batch_id",
    output_format: str = "tar",
) -> DataFrame:
    """G1/S13: get-batch TAR assembly in exact request order.

    Input is the get-batch join output (J1) plus a ``batch_col``
    grouping requests into response batches. Per batch, entries are
    written in ``req_idx`` order — missing objects appear as their
    ``__404__/`` sentinel with size 0 (api/apc/ml.go:37-41). The
    ``entries_md5`` fingerprint is over the ordered entry names, so any
    order violation changes the output.

    ``output_format`` selects the response archive mime — tar | tgz |
    zip | tar.lz4 (``MossReq.OutputFormat``, api/apc/ml.go:101 +
    cmn/archive/mime.go:25-29); ``tar_bytes`` is the built archive's
    size in that format (only tar has the closed-form size oracle).

    Scale: one task per batch; a batch is bounded by the loader's
    request size, so payload materialization per task is bounded. The
    shuffle is on ``batch_col`` only, at full default parallelism
    (``util.map_groups``): the shuffled rows are tiny (name+size) but
    the per-group pack is CPU-bound.
    """
    builder = ARCHIVE_BUILDERS[output_format]
    schema = (
        f"{batch_col} bigint, n_entries bigint, n_missing bigint, "
        "payload_bytes bigint, tar_bytes bigint, entries_md5 string"
    )

    def pack(batch, names, sizes, statuses):
        tar = builder(names, [b"\0" * n for n in sizes])
        yield (
            batch[0], len(names),
            # every error kind lands under __404__/ (missing object,
            # missing archived file, unsatisfiable range) — moss.go
            # addMissingIn handles them uniformly
            sum(st != "ok" for st in statuses),
            sum(sizes), len(tar), _entries_md5(names),
        )

    return map_groups(
        joined, batch_col, ["req_idx"],
        [batch_col, "out_name", "size", "status"], schema, pack,
    )


def assemble_batches_bytes(
    joined: DataFrame, batch_col: str = "batch_id"
) -> DataFrame:
    """G1 real-I/O variant: identical batch assembly to
    :func:`assemble_batches`, but member payloads are REAL bytes
    carried on the rows (binary ``payload`` column, read from on-disk
    shards via ``sources/binary.py``) instead of being synthesized from
    the catalog's size column — the disk-bound workload the reference's
    get-batch bands describe (``docs/get_batch.md:574-577``).

    Adds ``content_md5``: md5 over the req_idx-ordered per-entry
    payload md5s, so the oracle proves the actual bytes that crossed
    the scan, not just names and sizes. Missing entries contribute the
    empty payload (md5 of b"" — the sentinel's 0-byte body).

    Scale: same shuffle contract as :func:`assemble_batches` (on
    ``batch_col`` only, bounded payload per task) — only the payload
    bytes now ride the shuffle, which is the honest cost of a
    disk-backed get-batch.
    """
    schema = (
        f"{batch_col} bigint, n_entries bigint, n_missing bigint, "
        "payload_bytes bigint, tar_bytes bigint, entries_md5 string, "
        "content_md5 string"
    )

    def pack(batch, names, payloads, statuses):
        payloads = [b"" if p is None else p for p in payloads]
        tar = build_tar(names, payloads)
        cfp = _entries_md5([hashlib.md5(p).hexdigest() for p in payloads])
        yield (
            batch[0], len(names), sum(st != "ok" for st in statuses),
            sum(map(len, payloads)), len(tar), _entries_md5(names), cfp,
        )

    return map_groups(
        joined, batch_col, ["req_idx"],
        [batch_col, "out_name", "payload", "status"], schema, pack,
    )


def assemble_batches_formats(
    joined: DataFrame,
    batch_col: str = "batch_id",
    formats: tuple[str, ...] = ("tar", "tgz", "zip", "tar.lz4"),
) -> DataFrame:
    """G3: the get-batch output-format matrix — every response batch
    built in EVERY requested archive mime (``MossReq.OutputFormat``,
    api/apc/ml.go:101 + cmn/archive/mime.go:25-29) in one pass.

    One task per batch builds all formats from the same ordered entry
    list (one row out per (batch, format)), and each row carries the
    format's analytically-checkable size:

    - ``tar``: the archive size itself (closed-form USTAR layout);
    - ``tgz`` / ``tar.lz4``: the size of the **decompressed** stream —
      the builder gunzips/un-lz4s its own output, so the value proves a
      real compression round trip AND equals the tar closed form;
    - ``zip``: the archive size (STORED entries: 30+len(name) local
      header + payload, 46+len(name) central entry, 22-byte EOCD).

    Scale: identical to :func:`assemble_batches` — shuffle on
    ``batch_col`` only (explicit width, see there), bounded payload per
    task; the format loop adds CPU, not movement.
    """
    import gzip

    builders = {f: ARCHIVE_BUILDERS[f] for f in formats}  # fail fast
    schema = (
        f"{batch_col} bigint, format string, n_entries bigint, "
        "payload_bytes bigint, check_bytes bigint, entries_md5 string"
    )

    def pack(batch, names, sizes):
        from aistore_spark.functions import lz4frame

        payloads = [b"\0" * n for n in sizes]
        fp = _entries_md5(names)
        # tar, tgz and tar.lz4 share one underlying USTAR stream: build
        # it once per batch instead of three times. The compression
        # settings for the two round-trip formats are free to differ
        # from the shared builders' (gzip level 1; 4 MiB LZ4 blocks)
        # because the reported value is the DECOMPRESSED length — any
        # spec-valid encoding of the same tar yields the same check.
        base_tar: bytes | None = None

        def tar_stream() -> bytes:
            nonlocal base_tar
            if base_tar is None:
                base_tar = build_tar(names, payloads)
            return base_tar

        for fmt in formats:
            if fmt == "tar":
                check = len(tar_stream())
            elif fmt == "tgz":
                blob = gzip.compress(tar_stream(), compresslevel=1, mtime=0)
                check = len(gzip.decompress(blob))
            elif fmt == "tar.lz4":
                blob = lz4frame.compress(tar_stream(), bd_code=7)
                check = len(lz4frame.decompress(blob))
            else:  # zip: the archive size is the closed form
                check = len(builders[fmt](names, payloads))
            yield batch[0], fmt, len(names), sum(sizes), check, fp

    return map_groups(
        joined, batch_col, ["req_idx"],
        [batch_col, "out_name", "size"], schema, pack,
    )


def round_trip_listing(
    members: DataFrame, fmt: str, offset_col: str
) -> DataFrame:
    """S4-family over a real archive: pack the selected members
    (deduped to one row per member, in member order) into genuine
    *fmt* bytes with ``ARCHIVE_BUILDERS[fmt]``, then list them back
    through ``binary._iter_members``, the engine's archive reader
    (``cmn/archive/mime.go:25-29`` / ``cmn/archive/read.go:137-165``).
    Rows are ``(member, <offset_col>, size)``; the offset is the ZIP
    local-header offset, or the payload offset in the decompressed
    TAR stream.

    The oracles re-derive the layouts arithmetically — a STORED zip
    entry occupies ``30 + len(name)`` header bytes plus the payload,
    a USTAR member ``512 + ceil(size/512)*512`` after the first
    header — so any drift in the writers (extra fields, zip64,
    extended headers) or the lz4 round trip breaks the match.

    Scale: one task per response archive, the P3/S13 bounded shape.
    """
    sel = members.groupBy("member").agg(F.min("key_str").alias("key_str"))
    build = ARCHIVE_BUILDERS[fmt]

    def pack_expand(names, keys):
        payloads = [synth_payload(m, k) for m, k in zip(names, keys)]
        listed = _iter_members(f"x.{fmt}", build(names, payloads), False)
        for member, offset, size, _ in listed:
            yield member, offset, size

    return map_groups(
        sel.withColumn("_g", F.lit(1)), "_g", ["member"],
        ["member", "key_str"],
        f"member string, {offset_col} bigint, size bigint", pack_expand,
    )


def build_tgz(names: list[str], payloads: list[bytes]) -> bytes:
    """TAR.GZ shard: deterministic (zeroed gzip mtime, fixed level)."""
    import gzip

    return gzip.compress(build_tar(names, payloads), compresslevel=6, mtime=0)


def _build_zip_zipfile(names: list[str], payloads: list[bytes]) -> bytes:
    """zipfile-based STORED writer — the reference implementation the
    direct path below must byte-match, kept as the fallback for inputs
    that need zip64 records."""
    import warnings
    import zipfile

    buf = io.BytesIO()
    with warnings.catch_warnings():
        warnings.filterwarnings("ignore", message="Duplicate name")
        with zipfile.ZipFile(buf, "w", compression=zipfile.ZIP_STORED) as zf:
            for name, payload in zip(names, payloads):
                info = zipfile.ZipInfo(
                    filename=name, date_time=(1980, 1, 1, 0, 0, 0)
                )
                zf.writestr(info, payload)
    return buf.getvalue()


def build_zip(names: list[str], payloads: list[bytes]) -> bytes:
    """ZIP shard (STORED — the reference archives already-compressed
    media; date_time pinned for determinism). A batch may legitimately
    request the same object twice, so duplicate names are kept, like
    tar does.

    Direct record assembly (r17): emits byte-for-byte what the zipfile
    path wrote — version 20, flags 0 (0x800 for utf-8 names), method
    STORED, DOS time 0 / date 33 (the pinned 1980-01-01), unix create
    system with 0o600 external attrs, no extra fields — as one
    bytes-join instead of zipfile's per-member stream machinery
    (measured 3.8x on a 250 x ~25 KiB batch, close to the mandatory
    crc32 floor; tests pin byte equality). Anything in zip64 territory
    falls back to zipfile."""
    import struct
    import zlib

    pieces: list[bytes] = []
    central: list[bytes] = []
    off = 0
    n = 0
    for name, payload in zip(names, payloads):
        try:
            nb = name.encode("ascii")
            flags = 0
        except UnicodeEncodeError:
            nb = name.encode("utf-8")
            flags = 0x800
        sz = len(payload)
        if sz >= 0xFFFFFFFF or off >= 0xFFFFFFFF or n >= 0xFFFF:
            return _build_zip_zipfile(names, payloads)
        crc = zlib.crc32(payload) & 0xFFFFFFFF
        lfh = struct.pack(
            "<IHHHHHIIIHH",
            0x04034B50, 20, flags, 0, 0, 33, crc, sz, sz, len(nb), 0,
        )
        pieces += (lfh, nb, payload)
        central += (
            struct.pack(
                "<IHHHHHHIIIHHHHHII",
                0x02014B50, 788, 20, flags, 0, 0, 33, crc, sz, sz,
                len(nb), 0, 0, 0, 0, 0o600 << 16, off,
            ),
            nb,
        )
        off += len(lfh) + len(nb) + sz
        n += 1
    if off >= 0xFFFFFFFF:
        return _build_zip_zipfile(names, payloads)
    cd = b"".join(central)
    pieces += (
        cd,
        struct.pack("<IHHHHIIH", 0x06054B50, 0, 0, n, n, len(cd), off, 0),
    )
    return b"".join(pieces)


def build_tar_lz4(names: list[str], payloads: list[bytes]) -> bytes:
    """TAR.LZ4 shard (``cmn/archive/mime.go:25-29`` lists it first-
    class). Uses the in-repo pure-Python LZ4 frame codec — deterministic
    output regardless of whether a native binding is installed."""
    from aistore_spark.functions import lz4frame

    return lz4frame.compress(build_tar(names, payloads))


ARCHIVE_BUILDERS = {
    "tar": build_tar,
    "tgz": build_tgz,
    "zip": build_zip,
    "tar.lz4": build_tar_lz4,
}
