"""Real on-disk shard fixtures for the I/O bench leg (verdict-r8 #1).

The derived ``members`` catalog (catalog.py) carries no payload bytes,
so the archive/get-batch queries historically synthesized member
payloads in memory (``archive.synth_payload``) — honest for CPU
assembly cost, but the reference's headline get-batch bands
(``docs/get_batch.md:574-577``) are explicitly disk/network-bound.
This module materializes that same catalog as GENUINE ``.tar`` shards
on disk — one USTAR archive per ``shard`` value, entries in
deterministic ``(member, key_str)`` order, payload =
``synth_payload(member, key_str)`` — so the ``*_io`` queries read real
archive bytes through ``binaryFile`` → ``expand_archive_members``
(sources/binary.py) and every downstream number (payload sizes, keys,
fingerprints) is recomputed FROM THE BYTES, never from the catalog.

The DuckDB oracles still derive the expected values analytically from
the ``members`` CTE, so a correctness row over an ``*_io`` query proves
the full write → store → scan → parse round trip bit-for-bit.

Scale: the writer is one group-map call per shard
(``util.map_groups``, bounded by the packing policy, exactly the D6/P1
shape); on a cluster the target directory would be shared storage — in
local mode it is ``_scale/io/<sf>/shards`` (gitignored), cached across
runs behind a versioned ``_SUCCESS`` marker so bench's min-of-2 second
run is pure read-side I/O.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aistore_spark.util import map_groups

#: bump when the on-disk layout or payload derivation changes — stale
#: cached fixtures from an older format are rebuilt, not trusted
#: (v3: member names widened to lpad(orderkey, 9) — verdict-r14 item 7)
FORMAT_VERSION = 3

#: above this member count the fixture keeps the deterministic
#: ``orderkey % 16 == 0`` stratum only: USTAR overhead is ~1.5 KiB per
#: tiny member, so full membership at sf10 (60M members) would need
#: ~92 GB of shards. The SAME rule is encoded in the io-query oracles
#: (a count-based modulus subquery), so both engines see one corpus.
SAMPLE_THRESHOLD = 2_000_000
SAMPLE_MOD = 16

#: the oracle-side twin of the sampling rule — spliced into every
#: io-query oracle so DuckDB derives the identical member subset
SAMPLE_WHERE = (
    "orderkey % (SELECT CASE WHEN count(*) > 2000000 THEN 16 ELSE 1 END "
    "FROM members) = 0"
)

_REPO = Path(__file__).resolve().parent.parent.parent


def shards_root(sf_dir: str, mod: int = 1) -> Path:
    # the layout version and sampling modulus are part of the DIRECTORY
    # name: a format bump or threshold change builds a NEW directory
    # and never mutates one a concurrent reader may be scanning
    return (
        _REPO
        / "_scale"
        / "io"
        / Path(sf_dir).name
        / f"shards-v{FORMAT_VERSION}m{mod}"
    )


def sample_mod(n_members: int) -> int:
    return SAMPLE_MOD if n_members > SAMPLE_THRESHOLD else 1


def _publish(out: Path, marker: dict, build, force: bool = False) -> str:
    """Build the fixture directory *out* once and publish it atomically.

    A ``_SUCCESS`` marker in *out* that records the same ``sf_dir`` as
    *marker* means the fixture is current: return at once. The
    directory name keys on ``Path(sf_dir).name`` only, so a marker
    recording another (or no) corpus path triggers a rebuild, as does
    *force*. ``build(dir)`` writes the shards into a fresh temporary
    directory and returns their manifest rows; the shard totals join
    *marker* in the new ``_SUCCESS``. The directory is then published
    by rename: a reader (another process mid-bench) sees either a
    complete directory or none, never a half-written or vanishing one.
    """
    done = out / "_SUCCESS"
    if not force and done.exists():
        try:
            recorded = json.loads(done.read_text()).get("sf_dir")
        except (OSError, ValueError):
            recorded = None
        if recorded == marker["sf_dir"]:
            return str(out)
        force = True  # wrong/unknown corpus: rebuild first, swap after
    out.parent.mkdir(parents=True, exist_ok=True)
    tmp = Path(
        tempfile.mkdtemp(prefix=out.name + ".build-", dir=str(out.parent))
    )
    manifest = build(str(tmp))
    (tmp / "_SUCCESS").write_text(
        json.dumps(
            {
                **marker,
                "n_shards": len(manifest),
                "n_members": sum(m.n_members for m in manifest),
                "tar_bytes": sum(m.tar_bytes for m in manifest),
            }
        )
    )
    if force and out.exists():
        # swap, never rmtree-then-rename: a concurrent reader must see
        # either the old complete directory or the new one, with no
        # window where the path is absent. mkdtemp gives a unique
        # aside target; POSIX rename onto an empty dir replaces it.
        aside = Path(
            tempfile.mkdtemp(prefix=out.name + ".old-", dir=str(out.parent))
        )
        os.rename(out, aside)
        os.rename(tmp, out)
        shutil.rmtree(aside, ignore_errors=True)
        return str(out)
    try:
        os.rename(tmp, out)
    except OSError:
        # a concurrent builder won the rename; its output is
        # byte-identical (deterministic build), so keep the winner's
        if not done.exists():
            raise
        shutil.rmtree(tmp, ignore_errors=True)
    return str(out)


#: the manifest row every shard writer returns
_MANIFEST_SCHEMA = "shard string, n_members bigint, tar_bytes bigint"


def materialize_shards(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Write one real USTAR ``.tar`` per members-catalog shard; return
    the directory. Idempotent: a ``_SUCCESS`` marker (format version +
    shard/member counts) skips the rebuild on later calls."""
    from aistore_spark import catalog
    from aistore_spark.operators.archive import build_tar, synth_payload
    from aistore_spark.sources.tables import load_table

    lineitem = load_table(spark, sf_dir, "lineitem")
    mod = sample_mod(lineitem.count())

    def build(out_str: str) -> list:
        members = catalog.members_catalog(lineitem)
        if mod != 1:
            members = members.filter(F.col("orderkey") % mod == 0)

        def write_shard(shards, names, keys):
            blob = build_tar(
                names, [synth_payload(m, k) for m, k in zip(names, keys)]
            )
            Path(out_str, shards[0]).write_bytes(blob)
            yield shards[0], len(names), len(blob)

        return map_groups(
            members, "shard", ["member", "key_str"],
            ["shard", "member", "key_str"], _MANIFEST_SCHEMA, write_shard,
        ).collect()  # O(n_shards) rows — the write-job barrier

    marker = {
        "format_version": FORMAT_VERSION,
        "sample_mod": mod,
        "sf_dir": str(Path(sf_dir).resolve()),
    }
    return _publish(shards_root(sf_dir, mod), marker, build, force)


def read_shard_files(spark: SparkSession, shards_dir: str) -> DataFrame:
    """``binaryFile`` rows (path, modificationTime, length, content) for
    every ``*.tar`` in one engine-written shard directory — the one
    place that decides how a shard directory is listed.

    Precondition: the directory is flat, as :func:`materialize_shards`,
    :func:`materialize_media_shards` and :func:`write_packed_shards`
    write it: ``*.tar`` files plus the hidden ``_SUCCESS`` marker and
    no subdirectories (a directory load also picks up files in
    subdirectories). It is loaded as the directory with
    ``pathGlobFilter``, so Spark lists it once on the driver. A
    ``<dir>/*.tar`` glob path would expand to one root path per file,
    and above ``parallelPartitionDiscovery.threshold`` (32) files Spark
    lists those again in a Spark job, one task per file."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar")
        .load(str(shards_dir))
    )


def read_shard_members(
    spark: SparkSession, shards_dir: str, with_bytes: bool = True
) -> DataFrame:
    """Real-bytes member rows from the on-disk shards: ``binaryFile``
    scan → archive expansion, with ``shard`` reduced to the file name
    (the catalog's shard key). The scan is :func:`read_shard_files`:
    one driver-side listing of a flat shard directory, no Spark job."""
    from aistore_spark.sources.binary import expand_archive_members

    mem = expand_archive_members(
        read_shard_files(spark, shards_dir), with_bytes=with_bytes
    )
    return mem.withColumn(
        "shard", F.regexp_extract("shard", r"([^/]+)$", 1)
    )


def write_packed_shards(
    members: DataFrame, out_dir: str, shard_col: str = "shard"
) -> list:
    """WRITE-side real I/O: group member (name, bytes) rows by
    ``shard_col`` and durably write one genuine USTAR ``.tar`` per
    group to ``out_dir`` (one group-map call per shard — the D6/P1
    packing shape), entries in sorted member order. Returns the
    per-shard manifest rows (shard, n_members, tar_bytes). The caller
    owns the output directory lifecycle (p1b rebuilds it per
    invocation — the write IS what the query measures)."""
    from aistore_spark.operators.archive import build_tar

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    out_str = str(out)

    def write_shard(shards, names, payloads):
        blob = build_tar(names, payloads)
        Path(out_str, shards[0]).write_bytes(blob)
        yield shards[0], len(names), len(blob)

    return map_groups(
        members, shard_col, ["member"], [shard_col, "member", "bytes"],
        _MANIFEST_SCHEMA, write_shard,
    ).collect()  # O(n_shards) rows — the write-job barrier


def materialize_media_shards(spark: SparkSession, sf_dir: str) -> str:
    """Real on-disk MEDIA shards: genuine baseline-JFIF JPEGs (the
    mm10 synthesis profile — real DCT/Huffman containers, DC-only
    blocks so channel means have a closed form) packed into USTAR tars
    on disk, one per ``doc_id % 16``. The media twin of
    :func:`materialize_shards`: marker-gated, atomic publish, corpus
    path validated. mm12 reads these back via binaryFile and runs the
    FULL decode pipeline on bytes that crossed the filesystem."""
    from aistore_spark.operators import multimodal
    from aistore_spark.sources.tables import load_table

    def build(out_str: str) -> list:
        ids = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 7 == 3)
            .select("doc_id")
        )
        frame = multimodal.synth_jpeg_frame(ids).select(
            F.concat(
                F.lit("media-"),
                F.lpad((F.col("doc_id") % 16).cast("string"), 5, "0"),
                F.lit(".tar"),
            ).alias("shard"),
            F.concat(
                F.lit("img-"),
                F.lpad(F.col("doc_id").cast("string"), 8, "0"),
                F.lit(".jpg"),
            ).alias("member"),
            F.col("img").alias("bytes"),
        )
        return write_packed_shards(frame, out_str)

    out = _REPO / "_scale" / "io" / Path(sf_dir).name / "media-v1"
    marker = {"format_version": 1, "sf_dir": str(Path(sf_dir).resolve())}
    return _publish(out, marker, build)
