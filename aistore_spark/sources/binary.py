"""Binary object content sources: binaryFile reads + archive expansion.

This is the *real-bytes* path (the derived catalogs in catalog.py are
the testdata stand-in): objects come in via Spark's ``binaryFile``
source, and TAR shards are expanded into member rows by reading the
actual archive bytes — the engine's S4 (archive-expanded listing) and
P5 (shard index build) against genuine shards.

Scale: ``binaryFile`` splits by file; expansion is the engine's row
map (``util.map_rows``, ``mapInArrow``: 1 shard in → N member rows
out) with no shuffle. Only member
*metadata* (+ optionally bytes) leaves the task; pass
``with_bytes=False`` to index multi-GB shards without materializing
payloads. Listing is not free: a glob path with more than 32 matches
(``spark.sql.sources.parallelPartitionDiscovery.threshold``) is listed
again in a Spark job, one task per file, before the query exists.
Engine-written shard directories are read through
``io_fixtures.read_shard_files``, which lists the directory once on
the driver instead.
"""

from __future__ import annotations

import io
import tarfile
import zipfile

from pyspark.sql import DataFrame, SparkSession

from aistore_spark.util import map_rows

MEMBER_SCHEMA = (
    "shard string, member string, offset bigint, size bigint, bytes binary"
)
MEMBER_META_SCHEMA = "shard string, member string, offset bigint, size bigint"

#: the reference's archive MIME set, cmn/archive/mime.go:25-29
ARCHIVE_EXTS = (".tar", ".tgz", ".tar.gz", ".zip", ".tar.lz4")


def read_binary_objects(spark: SparkSession, path: str) -> DataFrame:
    """Objects as (path, modificationTime, length, content) rows.

    *path* is loaded as given: a file, a directory, or a glob. Spark
    expands a glob on the driver into one root path per match; with
    more than 32 matches it then lists those paths in a Spark job, one
    task per file, while the DataFrame is constructed."""
    return spark.read.format("binaryFile").load(path)


def detect_mime(name: str, content: bytes) -> str:
    """Resolve an object's archive type: filename extension first, then
    magic-byte sniffing — the reference's detection order and signature
    set (``cmn/archive/mime.go:41-60``: ustar@257, gzip 1f8b, zip PK).
    Returns one of :data:`ARCHIVE_EXTS`; raises ``ValueError`` when the
    object is no recognizable archive.
    """
    low = name.lower()
    for ext in (".tar.lz4", ".tar.gz", ".tgz", ".tar", ".zip"):
        if low.endswith(ext):
            return ".tar.gz" if ext == ".tgz" else ext
    if len(content) >= 262 and content[257:262] == b"ustar":
        return ".tar"
    if content[:2] == b"\x1f\x8b":
        return ".tar.gz"
    if content[:2] == b"PK":
        return ".zip"
    raise ValueError(f"{name!r}: not a recognized archive (mime.go:25-29)")


#: typeflags the fast USTAR walk handles: regular files are yielded,
#: the rest are skipped structurally (their payload size still
#: advances the cursor). Anything else (GNU long names 'L'/'K', PAX
#: 'x'/'g', sparse 'S', contiguous '7') falls back to tarfile for the
#: whole archive — exotic members need the library's semantics.
_TAR_YIELD = (0x30, 0x00)  # '0', NUL
_TAR_SKIP = (0x31, 0x32, 0x33, 0x34, 0x35, 0x36)  # link..fifo


def _iter_tar_fast(content: bytes, with_bytes: bool):
    """Plain-USTAR member walk by direct header slicing (r16, guide
    §4.2): tarfile builds a full TarInfo per member (checksum
    re-verification, mtime/uname decoding, an extractfile file object
    per payload) — pure-Python cost per member that dominates the
    shard-expansion stage on many-small-member shards. This walk
    decodes exactly the three fields the expansion yields (name, size,
    payload offset) and slices payloads straight from the buffer.
    Raises ``ValueError`` on any header it is not sure about; the
    caller falls back to tarfile for those archives, so coverage is
    unchanged — the fast path only claims archives it parses exactly.
    """
    pos, n = 0, len(content)
    while pos + 512 <= n:
        hdr = content[pos : pos + 512]
        if hdr[0] == 0:  # end-of-archive zero block
            break
        if hdr[257:262] != b"ustar":
            raise ValueError("non-ustar header")
        # prefix field in use (ADVICE-r16 high): names >100 bytes are
        # split across name+prefix — the fast walk would silently
        # truncate them to the 100-byte suffix; defer to tarfile,
        # which joins prefix/name.
        if hdr[345:500].rstrip(b"\0") != b"":
            raise ValueError("ustar prefix field in use")
        # header checksum (verdict-r16 item 8): unsigned byte sum of
        # the header with the checksum field read as 8 spaces —
        # a corrupted shard must not silently parse where tarfile
        # raises. ~free: one memoryview sum per 512-byte header.
        chk_field = hdr[148:156].rstrip(b"\0 ")
        if not chk_field or not chk_field.isdigit():
            raise ValueError("non-octal checksum field")
        if int(chk_field, 8) != sum(hdr[:148]) + 8 * 32 + sum(hdr[156:]):
            raise ValueError("header checksum mismatch")
        size_field = hdr[124:136].rstrip(b"\0 ")
        if not size_field or not size_field.isdigit():
            raise ValueError("non-octal size field")
        size = int(size_field, 8)
        typ = hdr[156]
        data_off = pos + 512
        if typ in _TAR_YIELD:
            if data_off + size > n:
                raise ValueError("truncated member payload")
            yield (
                hdr[0:100].rstrip(b"\0").decode("utf-8"),
                data_off,
                size,
                content[data_off : data_off + size] if with_bytes else None,
            )
        elif typ in _TAR_SKIP:
            # tarfile consumes NO payload blocks for link/dev/dir/fifo
            # members (ADVICE-r16: advancing by a nonzero size field
            # here desyncs every later member). A skip-type header
            # carrying a size is ambiguous across writers — defer.
            if size != 0:
                raise ValueError("skip-type member with nonzero size")
            size = 0
        else:
            raise ValueError(f"unsupported typeflag {typ:#x}")
        pos = data_off + ((size + 511) // 512) * 512


def _iter_members(name: str, content: bytes, with_bytes: bool):
    """Yield ``(member, offset, size, bytes|None)`` for every regular
    file in the archive, uniformly across the reference's MIME set
    (read modes ``cmn/archive/read.go:137-165``).

    Offsets: for TAR-family the member's payload offset in the
    (decompressed) stream — the shard-index datum behind O(1) archpath
    range reads; for ZIP the local-header offset from the central
    directory (the seek point a ranged extract starts at).
    """
    mime = detect_mime(name, content)
    if mime == ".tar.lz4":
        from aistore_spark.functions import lz4frame

        content, mime = lz4frame.decompress(content), ".tar"
    if mime == ".zip":
        with zipfile.ZipFile(io.BytesIO(content)) as zf:
            for info in zf.infolist():
                if info.is_dir():
                    continue
                yield (
                    info.filename,
                    info.header_offset,
                    info.file_size,
                    zf.read(info) if with_bytes else None,
                )
        return
    if mime == ".tar":
        try:
            # materialize BEFORE yielding: a mid-walk fallback after
            # partial yields would duplicate members
            fast = list(_iter_tar_fast(content, with_bytes))
        except ValueError:
            fast = None  # exotic headers: tarfile below handles them
        if fast is not None:
            yield from fast
            return
    mode = "r:gz" if mime == ".tar.gz" else "r:"
    with tarfile.open(fileobj=io.BytesIO(content), mode=mode) as tar:
        for info in tar.getmembers():
            if not info.isfile():
                continue
            yield (
                info.name,
                info.offset_data,
                info.size,
                tar.extractfile(info).read() if with_bytes else None,
            )


def expand_archive_members(
    binary_df: DataFrame, with_bytes: bool = True
) -> DataFrame:
    """S4/P5: one row per file inside each archive object, uniformly
    for TAR / TGZ / TAR.GZ / ZIP / TAR.LZ4 (pure-Python frame codec) —
    the reference's listable-shard MIME set (``cmn/archive/mime.go:
    25-29``, read modes ``cmn/archive/read.go:137-165``).
    """

    def expand(path, content):
        # (member, offset, size, bytes|None); the bytes column exists
        # only with_bytes
        for m in _iter_members(path, content, with_bytes):
            yield (path, *m) if with_bytes else (path, *m[:3])

    schema = MEMBER_SCHEMA if with_bytes else MEMBER_META_SCHEMA
    return map_rows(binary_df, ["path", "content"], schema, expand)
