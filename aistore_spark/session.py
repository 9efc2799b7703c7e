"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]`` (one JVM); the configs below are
chosen to also be correct defaults on a real cluster at 100 TB:

- AQE on (runtime coalescing, skew-join splitting) — replaces the
  reference's hand-built concurrency adjuster / memory watcher
  (ext/dsort/conc_adjuster.go, mem_watcher.go).
- shuffle partitions sized to cores locally; on a cluster this should be
  2-3x total executor cores (AQE coalesces down as needed).
- Arrow enabled for pandas conversions; every bytes-transform UDF (ETL
  surface) is a scalar Arrow UDF.
- Session timezone pinned UTC so timestamp semantics are stable across
  engines and clusters.
"""

from __future__ import annotations

import math
import os
from pathlib import Path

from pyspark.sql import SparkSession

#: GiB of host RAM each local-mode Python/Arrow worker needs free
#: beside the JVM heap. Measured at sf10 (SCALE.md "driver heap sizing
#: is part of the config surface"): 96 GiB heap + 32 workers on a
#: 128 GiB host tripped the KERNEL oom-killer during numpy blocks,
#: 64 GiB heap (~60 GiB worker headroom) completed the full sweep.
_WORKER_HEADROOM_GIB_PER_CPU = 1.9

#: JVM heap GiB per GiB of on-disk parquet in the SF dir. Calibrated
#: on the measured sf10 pair: 1.2 GiB parquet needed 64 GiB heap
#: (8 GiB OOMed mid-sweep) — snappy parquet of text/embeddings
#: decompresses ~10-50x, plus shuffle buffers and toPandas frames.
_HEAP_GIB_PER_PARQUET_GIB = 53


def _host_ram_gib() -> float:
    return (
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    )


def heap_cap_gib(cpus: int, host_gib: float | None = None) -> int:
    """Largest safe JVM heap beside ``cpus`` Python workers — the
    known-bad zone above it is a measured kernel OOM, not a guess."""
    host = host_gib if host_gib is not None else _host_ram_gib()
    return max(8, int(host - max(16.0, cpus * _WORKER_HEADROOM_GIB_PER_CPU)))


def auto_driver_mem(
    sf_dir: str | None,
    cpus: int,
    host_gib: float | None = None,
) -> str:
    """Derive ``spark.driver.memory`` from the SF-dir's on-disk size
    with the Arrow-worker headroom arithmetic from SCALE.md (verdict-
    r10 #7) — so the big scale tiers run green with no hand-set heap.
    """
    size_gib = 0.0
    if sf_dir and Path(sf_dir).is_dir():
        size_gib = sum(
            f.stat().st_size for f in Path(sf_dir).rglob("*") if f.is_file()
        ) / 2**30
    want = max(8, math.ceil(size_gib * _HEAP_GIB_PER_PARQUET_GIB))
    return f"{min(want, heap_cap_gib(cpus, host_gib))}g"


def _parse_gib(mem: str) -> float:
    m = mem.strip().lower()
    for suffix, mult in (("g", 1.0), ("m", 1.0 / 1024), ("k", 1.0 / 2**20)):
        if m.endswith(suffix):
            return float(m[: -len(suffix)]) * mult
    return float(m) / 2**30  # bare bytes


def get_spark(
    app_name: str = "aistore_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
    sf_dir: str | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or min(
            os.cpu_count() or 4, 32
        )
    driver_mem = os.environ.get("SPARK_DRIVER_MEM")
    if driver_mem:
        # refuse the measured kernel-OOM zone rather than let a sweep
        # die hours in: heap + per-worker headroom must fit host RAM
        cap = heap_cap_gib(cpus)
        if _parse_gib(driver_mem) > cap:
            raise ValueError(
                f"SPARK_DRIVER_MEM={driver_mem} exceeds the safe cap "
                f"{cap}g for {cpus} Python workers on a "
                f"{_host_ram_gib():.0f} GiB host (heap + "
                f"{_WORKER_HEADROOM_GIB_PER_CPU} GiB/worker headroom; "
                "SCALE.md: 96g + 32 workers kernel-OOMed at sf10)"
            )
    else:
        driver_mem = auto_driver_mem(sf_dir, cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Start every shuffle OVER-partitioned and let AQE coalesce the
        # small ones (r16, the generalized d1 lesson): AQE can merge
        # small partitions, it cannot split an under-partitioned
        # aggregate — a corpus-scale DISTINCT/groupBy that inherits the
        # session default puts its whole key space in `cpus` hash maps
        # (d1's 600M-row DISTINCT OOMed that way at sf100). 8x cores
        # locally (~256); a real cluster sets this in the thousands.
        # Derived frames (LSH pair sets, shingle DISTINCTs) get the
        # headroom with no per-operator count job; explicitly-sized
        # exchanges (dsort.sized_partitions, repartition(n, ...)) are
        # unaffected. SPARK_GRAFT_AQE_HEADROOM tunes the factor (a
        # real cluster sets it so initialPartitionNum lands in the
        # thousands; 0 disables for A/B measurement).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(
                max(cpus, 4)
                * max(1, int(os.environ.get("SPARK_GRAFT_AQE_HEADROOM", "8")))
            ),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-optimize plans that sit UNDER a persisted frame
        # (r17, guide §2.2 "fewer, larger reduce partitions"): Spark
        # freezes cached-plan output partitioning by default, which
        # silently disables AQE partition coalescing and skew handling
        # for every pin()-ed subtree — measured at sf0.1: the pinned
        # LSH/verify chains ran every exchange at the full
        # initialPartitionNum (256 tasks of ~2 ms each, ~30 such
        # stages per dedup query; pipe3 7.6→4.5 s, dd2 5.5→3.3 s,
        # dd12 4.8→3.2 s min-of-3 with the flag on). Scale-honest:
        # the flag enables the same runtime coalescing a cluster
        # needs when initialPartitionNum is in the thousands; the
        # cost (a consumer of the cached frame may need a re-shuffle
        # if it relied on the frozen partitioning) does not apply to
        # any pin here — pins feed joins/aggs keyed differently.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        # testdata's events.ts is parquet TIMESTAMP(NANOS) — Spark has no
        # nanosecond timestamp type; read as int64 nanos (matches the
        # reference's atime representation anyway, cmn/objattrs.go:80-81)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs evaluate Arrow-batched (ArrowEvalPythonUDTF),
        # never row-at-a-time — same contract as the ETL's Arrow UDF
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
