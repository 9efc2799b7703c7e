"""dsort — distributed sort/reshard, the reference's centerpiece
(``ext/dsort``, ~8k LoC Go; spec ``ext/dsort/request_spec.go:100-145``).

Reference pipeline: extract records from input shards → globally order
them by an algorithm key → split the ordered stream into fixed-size
output shards → build the shards. Its four hand-built phases
(extraction / record distribution / shard plan / creation,
``ext/dsort/dsort.go:92-149``) collapse in Spark to::

    members → group records → orderBy(key) → cumsum-bucket → pack

Sort algorithms (``ext/dsort/api.go:18-25``):
- ``alphanumeric`` — by name, asc/desc (D1)
- ``content``      — by a typed key {int,float,string} read from the
                     record's ``.cls``-style member (D2,
                     ``ext/dsort/shard/key.go:100-131``)
- ``md5``          — by md5(name) for uniform spread (D4)
- ``shuffle``      — seeded deterministic shuffle (D3; we declare
                     hash-order semantics — md5(seed||name) — rather
                     than bit-compat with Go's seeded PCG)
- ``none``         — reshard only (D5; packing without reordering)

Scale design — the part that must survive 100 TB:

``global_rank``/``global_cumsum`` never run a single-partition window.
They use the classic two-pass total-order pattern (what Spark's own
range-partitioned sort does internally, made explicit so a running
rank/cumsum can be attached):

1. ``repartitionByRange`` on the sort key (+ tiebreakers → total
   order), sort within partitions, persist;
2. per-partition row/byte totals → driver (one tiny row per
   partition) → exclusive prefix offsets broadcast back;
3. per-partition window (parallel, no skew — ranges are
   equi-frequency by sampling) adds the offset.

This is exactly dsort's phase-2/3 division of labor: Spark's range
exchange plays "record distribution", the offset broadcast plays the
"shard plan" metadata hop (``ext/dsort/dsort.go:815-931``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aistore_spark.util import (  # noqa: F401  (re-export)
    local_frame,
    map_groups,
    pin,
    release_cached,
)


def sized_partitions(
    spark, n_rows: int, target_rows: int = 2_000_000
) -> int:
    """Shuffle-partition count sized from the DATA, floored at the
    session parallelism — for corpus-scale aggregations that must not
    inherit ``spark.sql.shuffle.partitions`` (r15, d1 at the true-10x
    sf100 axis: a 600M-row DISTINCT into the session's 32 partitions
    put ~10M distinct keys in every final hash-agg task and died with
    AGGREGATE_OUT_OF_MEMORY under 32-way concurrency; ~2M rows per
    partition keeps each task's hash map ~100-200 MB at any scale).
    A 1000-executor cluster sets shuffle.partitions in the thousands,
    but operator code should not bet on the session default — AQE can
    merge small partitions, it cannot split an under-partitioned
    aggregate."""
    return max(
        spark.sparkContext.defaultParallelism,
        -(-max(0, n_rows) // target_rows),
    )


def _offsets_by_partition(
    parted: DataFrame, weight_col: Column, order_cols: list[Column]
) -> DataFrame:
    """Attach ``_off`` = exclusive prefix total of *weight_col* over the
    partition-ordered frame. *parted* must already be range-partitioned
    and sorted; it is persisted here because two jobs observe it and the
    range partitioner must not resample in between."""
    parted = pin(parted.withColumn("_pid", F.spark_partition_id()))
    totals = (
        parted.groupBy("_pid").agg(F.sum(weight_col).alias("_w")).orderBy("_pid")
    ).collect()
    run, offsets = 0, {}
    for row in totals:
        offsets[row["_pid"]] = run
        run += row["_w"] or 0
    spark = parted.sparkSession
    off_df = local_frame(
        spark,
        [(pid, off) for pid, off in offsets.items()] or [(0, 0)],
        schema="_pid int, _off bigint",
    )
    return parted.join(F.broadcast(off_df), "_pid", "left").fillna({"_off": 0})


def global_rank(
    df: DataFrame,
    order_cols: list[str | Column],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Total-order rank (1-based) without a single-partition window.

    *order_cols* must define a total order (add tiebreakers!) or ranks
    within ties are still deterministic only up to the key — callers in
    this repo always pass unique key tuples.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    with_off = _offsets_by_partition(parted, F.lit(1), cols)
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (
        with_off.withColumn(rank_col, F.row_number().over(w) + F.col("_off"))
        .drop("_pid", "_off")
    )


def global_cumsum(
    df: DataFrame,
    order_cols: list[str | Column],
    weight_col: str,
    cumsum_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Inclusive running total of *weight_col* over a global order."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    with_off = _offsets_by_partition(parted, F.col(weight_col), cols)
    w = (
        Window.partitionBy("_pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        with_off.withColumn(
            cumsum_col, F.sum(weight_col).over(w) + F.col("_off")
        )
        .drop("_pid", "_off")
    )


# ---- sort-key derivations (ext/dsort/api.go:18-25) -------------------------


def shuffle_key(name_col: str | Column, seed: str) -> Column:
    """D3: deterministic seeded shuffle — declared as hash-order
    semantics (md5 of seed||name), reproducible across engines and
    cluster sizes (reference seeds Fisher-Yates, ext/dsort/sort.go:55-68)."""
    col = F.col(name_col) if isinstance(name_col, str) else name_col
    return F.md5(F.concat(F.lit(seed), col))


def md5_key(name_col: str | Column) -> Column:
    """D4: md5-of-name ordering (ext/dsort/shard/key.go:66-78)."""
    col = F.col(name_col) if isinstance(name_col, str) else name_col
    return F.md5(col)


def content_keys(members: DataFrame, key_ext: str = "cls") -> DataFrame:
    """D2: per-record typed sort key read from the record's key member
    (``Algorithm.Ext``; ext/dsort/shard/key.go:100-131). One row per
    record (base) — duplicates collapse to the min key, mirroring the
    reference's duplicate policy default of keeping a deterministic
    winner."""
    return (
        members.filter(F.col("ext") == key_ext)
        .groupBy("base")
        .agg(
            F.min("key_int").alias("key_int"),
            F.min("key_float").alias("key_float"),
            F.min("key_str").alias("key_str"),
        )
    )


# ---- shard packing (D6, ext/dsort/dsort.go:556-608) -------------------------


def pack_shards(
    df: DataFrame,
    order_cols: list[str | Column],
    size_col: str,
    shard_size: int,
    shard_col: str = "shard_id",
    compression_ratio: float = 1.0,
) -> DataFrame:
    """D6: split a globally ordered stream into fixed-byte output shards.

    Declared semantics: an item starting at byte offset *o* of the
    ordered stream lands in shard ``floor(o / shard_size)`` — the
    deterministic form of the reference's greedy size split. (The
    reference additionally adjusts for observed tar compression ratio,
    ``dsort.go:113-123``; that is a multiplier on *shard_size* here.)
    """
    cum = global_cumsum(df, order_cols, size_col, cumsum_col="_cum")
    start = F.col("_cum") - F.col(size_col)
    # compression-ratio feedback (dsort.go:113-123): when outputs are
    # compressed (tgz/lz4), scale the uncompressed-byte budget so the
    # on-disk shard lands near shard_size. Sample-based: ratio from a
    # trial pack of a few shards.
    effective = float(shard_size) * float(compression_ratio)
    return cum.withColumn(
        shard_col,
        F.floor(start / F.lit(effective)).cast("bigint"),
    ).drop("_cum")


def estimate_pack_ratio(
    df: DataFrame,
    order_cols: list[str],
    size_col: str,
    shard_size: int,
    fmt: str = "tgz",
    n_sample: int = 2,
    name_col: str = "member",
    key_col: str = "key_str",
    data_col: str | None = None,
    n_rounds: int = 8,
    rel_tol: float = 0.05,
) -> float:
    """Sample-based compression-ratio estimate — the reference's
    observed-ratio feedback (``ext/dsort/dsort.go:113-123``) as a
    trial pack: build the first *n_sample* shards of the ratio=1
    packing with the REAL *fmt* writer and return
    ``uncompressed_payload_bytes / packed_bytes``.

    Feed the result to :func:`pack_shards(compression_ratio=...)`: the
    uncompressed-byte budget per shard becomes ``shard_size × ratio``,
    so the on-disk compressed shard lands near ``shard_size`` — the
    ``OutputShardSize`` contract for compressed formats, closing the
    one custom step SURVEY §4 left to the caller.

    The numerator is the *size_col* sum (the same unit pack_shards
    budgets in), not the payload-byte sum — identical when sizes are
    true payload lengths, but still correct when the catalog's size
    column and the creation-phase payloads disagree.

    The estimate iterates to a fixpoint (up to *n_rounds*, stopping
    when the ratio moves < *rel_tol*): round 1's trial shards have
    ratio=1 composition (possibly a handful of members), and archive
    formats amortize per-member overhead, so the measured ratio shifts
    with members-per-shard; re-packing the trial at the current ratio
    samples shards at the TARGET composition. This is the bounded-
    sample form of the reference's continuous observed-ratio
    recalibration during creation.

    Payloads come from *data_col* (binary) when given, else the
    deterministic ``synth_payload(name, key)`` used by
    :func:`archive.pack_members`. *order_cols* must be column NAMES
    (the trial pack re-sorts each shard by them, like the creation
    phase).

    Scale shape: the trial packs only ``n_sample × shard_size``
    payload bytes through the group map (``util.map_groups``, one
    group per sampled shard) and collects n_sample manifest rows —
    cost independent of corpus size.
    """
    from aistore_spark.operators.archive import ARCHIVE_BUILDERS, synth_payload

    if fmt not in ARCHIVE_BUILDERS:
        raise ValueError(
            f"fmt={fmt!r}; expected one of {sorted(ARCHIVE_BUILDERS)}"
        )
    build = ARCHIVE_BUILDERS[fmt]

    def trial(names, data, sizes):
        if data_col is None:  # data holds the key_col values
            data = [synth_payload(m, k) for m, k in zip(names, data)]
        yield sum(sizes), len(build(names, data))

    ratio = 1.0
    for rnd in range(max(1, n_rounds)):
        pre = pack_shards(
            df, list(order_cols), size_col, shard_size,
            compression_ratio=ratio,
        )
        rows = map_groups(
            pre.filter(F.col("shard_id") < n_sample), "shard_id",
            list(order_cols), [name_col, data_col or key_col, size_col],
            "budget_bytes bigint, packed_bytes bigint", trial,
        ).collect()
        budget = sum(r["budget_bytes"] for r in rows)
        packed = sum(r["packed_bytes"] for r in rows)
        if packed <= 0:
            return ratio
        # observed size-units per compressed byte over the sampled
        # shards; the next round's budget is shard_size x this.
        # Damped after round 1: the integer members-per-shard
        # quantization can otherwise put the raw iteration in a small
        # limit cycle instead of a fixpoint.
        measured = budget / packed
        new = measured if rnd == 0 else (ratio + measured) / 2.0
        done = abs(new - ratio) <= rel_tol * ratio
        ratio = new
        if done:
            break
    return ratio


def shard_manifest(
    packed: DataFrame,
    item_col: str = "member",
    size_col: str = "size",
    shard_col: str = "shard_id",
) -> DataFrame:
    """Aggregate a packed frame into the output-shard build plan the
    creation phase executes (``CreationPhaseMetadata``,
    ext/dsort/dsort.go:893-932)."""
    return packed.groupBy(shard_col).agg(
        F.count("*").alias("n_items"),
        F.sum(size_col).alias("bytes"),
        F.min(item_col).alias("first_item"),
        F.max(item_col).alias("last_item"),
    )


# ---- user-facing job API (POST /v1/sort parity) -----------------------------


@dataclass(frozen=True)
class DsortSpec:
    """The request-spec surface of a dsort job
    (``ext/dsort/request_spec.go:100-145``), Spark-shaped: input is a
    member DataFrame (from the catalog or binaryFile expansion), output
    is a packed frame + manifest.

    - ``algorithm``: alphanumeric | content | md5 | shuffle | none
    - ``key_ext`` / ``key_type``: content-key source member + type
    - ``output_shard_size``: bytes per output shard
    - ``seed``: shuffle seed (hash-order semantics)
    - ``descending``: reverse order (``Algorithm.Decreasing``)
    """

    algorithm: str = "alphanumeric"
    key_ext: str = "cls"
    key_type: str = "int"
    output_shard_size: int = 1 << 20
    seed: str = "0"
    descending: bool = False
    compression_ratio: float = 1.0
    #: reaction to records duplicated across input shards —
    #: ignore | warn | abort (``DuplicatedRecords``,
    #: ``ext/dsort/request_spec.go:196-198``; reactions
    #: ``ext/dsort/manager.go:702-714``). ignore/warn keep the
    #: deterministic min-key winner.
    duplicated_records: str = "ignore"


REACTIONS = ("ignore", "warn", "abort")


class DuplicatedRecordsError(RuntimeError):
    """DuplicatedRecords=abort tripped (``ext/dsort/manager.go:478``)."""


class MissingShardsError(RuntimeError):
    """MissingShards=abort tripped (``ext/dsort/dsort.go:1011``)."""


def check_missing_shards(
    members: DataFrame,
    input_template: str,
    reaction: str = "ignore",
) -> DataFrame:
    """MissingShards reaction (``ext/dsort/request_spec.go:187-189``,
    react ``ext/dsort/dsort.go:1011``): the job's input shards are
    named by a template; shards the template names but the catalog
    lacks are *missing*. ``abort`` raises, ``warn`` logs a sample,
    ``ignore`` just returns the missing set (callers may count it).

    Plan: template expansion (generated frame) left-anti-joined against
    the distinct present shards — the template side is generated
    executor-side, the shard list is the small side.
    """
    if reaction not in REACTIONS:
        raise ValueError(f"missing_shards={reaction!r}; expected {REACTIONS}")
    from aistore_spark.functions.templates import expand_template

    expected = expand_template(members.sparkSession, input_template)
    present = members.select(F.col("shard").alias("name")).distinct()
    missing = expected.join(present, "name", "left_anti")
    if reaction != "ignore":
        sample = missing.limit(5).collect()
        if sample:
            msg = "missing input shards: " + ", ".join(r["name"] for r in sample)
            if reaction == "abort":
                raise MissingShardsError(msg)
            import warnings

            warnings.warn(msg, stacklevel=2)
    return missing


def run_dsort(members: DataFrame, spec: DsortSpec) -> DataFrame:
    """Run the full dsort plan for *spec*: record grouping →
    key derivation → global order → size packing. Returns the packed
    record frame (one row per record with ``shard_id``); feed it to
    ``shard_manifest`` or a tar-building ``util.map_groups`` for the
    creation phase (see tests/test_dsort_e2e.py).
    """
    if spec.duplicated_records not in REACTIONS:
        raise ValueError(
            f"duplicated_records={spec.duplicated_records!r}; "
            f"expected one of {REACTIONS}"
        )
    if spec.duplicated_records != "ignore":
        # one count-agg pass over (base, ext); abort mirrors the
        # reference's job-fail reaction, warn its log-and-continue
        # (manager.react, ext/dsort/manager.go:702-714). The winner
        # under warn stays the deterministic min-key record.
        dups = (
            members.groupBy("base", "ext")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > 1)
        )
        sample = dups.limit(5).collect()
        if sample:
            msg = "duplicated records: " + ", ".join(
                f"{r['base']}.{r['ext']} x{r['n']}" for r in sample
            )
            if spec.duplicated_records == "abort":
                raise DuplicatedRecordsError(msg)
            import warnings

            warnings.warn(msg, stacklevel=2)
    recs = members.groupBy("base").agg(F.sum("size").alias("rec_bytes"))
    if spec.algorithm == "content":
        key_col = {"int": "key_int", "float": "key_float", "string": "key_str"}[
            spec.key_type
        ]
        keys = content_keys(members, key_ext=spec.key_ext).select(
            "base", F.col(key_col).alias("_key")
        )
        recs = recs.join(keys, "base")
    elif spec.algorithm == "md5":
        recs = recs.withColumn("_key", md5_key("base"))
    elif spec.algorithm == "shuffle":
        recs = recs.withColumn("_key", shuffle_key("base", spec.seed))
    elif spec.algorithm == "alphanumeric":
        recs = recs.withColumn("_key", F.col("base"))
    elif spec.algorithm == "none":
        recs = recs.withColumn("_key", F.lit(""))
    else:
        raise ValueError(f"unknown dsort algorithm {spec.algorithm!r}")
    order = [
        F.col("_key").desc() if spec.descending else F.col("_key").asc(),
        F.col("base").asc(),
    ]
    return pack_shards(
        recs,
        order,
        "rec_bytes",
        spec.output_shard_size,
        compression_ratio=spec.compression_ratio,
    ).drop("_key")
