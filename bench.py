"""Benchmark harness: runs every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query is materialized through the noop sink so the full plan
(joins, windows, Pandas UDFs, tar builders) executes — .count() alone
could let Catalyst prune work.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from aistore_spark.benchqueries import QUERIES  # noqa: E402
from aistore_spark.operators.dsort import release_cached  # noqa: E402
from aistore_spark.session import get_spark  # noqa: E402
from aistore_spark.util import ensure_shipped, map_arrays  # noqa: E402


#: stdout-line stability contract (r17, verdict-r16 item 2): the
#: driver's PERF compares the PRINTED queries map round-over-round,
#: and the pure most-expensive-rows trim made a query that got FASTER
#: vanish from the printed map — scored as "dropped_from_bench" (5
#: phantom drops in PERF_r16) — while skewing the comparison set
#: toward the slowest rows. These are exactly the rows the previous
#: round's driver artifact printed (BENCH_r16.json "queries"): they
#: are ALWAYS printed regardless of this run's cost ranking, so the
#: next PERF's common set is stable under improvement. Remaining
#: budget fills with this run's most expensive OTHER rows —
#: additions only, nothing renamed or removed.
STABLE_PRINT = [
    "p1b_pack_archive_io",
    "pipe3_dedup_report",
    "t3_multiobj_transform",
    "dd12_minhash_estimate",
    "ann9e_ivfpq_recall_held",
    "m13_catalog_compact",
    "dd6b_simhash_prod",
    "dd12b_minhash_estimate_capped",
    "s4d_shard_index_io",
    "ann9d_ivfpq_sqrt_cells",
    "g1c_assemble_batches_io",
    "dd7_dup_groups",
    "g4_batch_loader",
    "dd2b_ngram_jaccard_capped",
    "dd2_ngram_jaccard",
    "dd6_simhash_pairs",
    "g3_output_formats",
    "j1b_mixed_entries",
    "d5_reshard",
    "m12_catalog_upsert",
    "d8_dsort_io",
    "g1_mixed_batches",
    "d2s_sort_content_string",
    "pipe4_quality_gate",
    "d1_sort_alphanumeric",
    "ann9c_ivfpq_refined_clustered",
    "pipe2_export_shards",
    "ann6b_kmeans_train",
    "p1_pack_archive",
    "d3_seeded_shuffle",
    "g1_assemble_batches",
    "a2_shard_summary",
]


def resumed_provenance(prior: dict) -> list[str]:
    """Names to tag ``resumed_queries`` when resuming from ``prior``.

    A completed prior artifact: everything it carries was measured by
    an earlier process — all names are resumed. A crash PARTIAL of the
    current sweep: its walls are THIS round's fresh measurements — only
    the rows the partial itself inherited (its own resumed_queries)
    keep the tag (verdict-r14 item 5: the r14 sf10 sweep crash-resumed
    and mis-tagged ~15 fresh walls as resumed).
    """
    loaded = set(prior.get("queries", {})) | set(prior.get("errors", {}))
    if prior.get("partial"):
        return sorted(set(prior.get("resumed_queries", [])) & loaded)
    return sorted(loaded)


def record_worst_skew(
    task_skew: dict[str, dict], name: str, skew: dict | None
) -> None:
    """Keep the WORST (highest-ratio) skew reading across a query's
    min-of-N bench runs (verdict-r13 item 1): a straggler that appears
    only on the second run must not be masked by a clean first reading.
    """
    if skew is None:
        return
    if name not in task_skew or skew["ratio"] > task_skew[name]["ratio"]:
        task_skew[name] = skew


def cpu_canaries(spark, runs: int = 2) -> dict[str, float]:
    """Fixed-size CPU-BOUND host-speed probes (verdict-r10 "what's
    wrong" #1): the sub-second overhead canaries are dominated by
    per-job fixed cost, so their median cannot normalize CPU-bound
    multi-second queries — these three do real, constant work
    (independent of SF) in pure JVM codegen, no Python workers, no
    disk. Cross-round normalization should use THIS median as the
    host factor; the sub-second set stays for overhead drift only.

    Sized so compute dominates the ~0.3 s fixed per-job overhead by
    ~10× (measured local[32]: 2-4 s each):

    - md5_4g: md5 over ~4 GiB of synthetic bytes (4,194,304 rows ×
      1 KiB), hash-throughput bound.
    - sort_32m: global range-partitioned sort of 32M knuth-hashed
      longs through the noop sink (the sink preserves the sort — an
      agg would let Catalyst drop it), shuffle+sort bound.
    - agg_64m: 64M rows into 800K hash-agg groups, agg-CPU bound.
    """
    from pyspark.sql import functions as F

    payload = F.concat(
        F.lpad(F.col("id").cast("string"), 24, "0"), F.repeat(F.lit("x"), 1000)
    )
    probes = {
        # max(h), not count(non-null expr): Catalyst rewrites a count
        # of a provably-non-null projection to count(1) and PRUNES the
        # md5 entirely (measured: 0.33 s for "4 GiB" = nothing ran)
        "cpu_md5_4g": lambda: spark.range(4_194_304)
        .select(F.md5(payload).alias("h"))
        .select(F.max("h").alias("hmax")),
        "cpu_sort_32m": lambda: spark.range(32_000_000).select(
            (F.col("id") * F.lit(2654435761) % F.lit(32_000_011)).alias("k")
        ).sort("k"),
        "cpu_agg_64m": lambda: spark.range(64_000_000)
        .groupBy((F.col("id") % 800_000).alias("g"))
        .agg(F.sum("id").alias("s"), F.count("*").alias("n")),
    }
    out: dict[str, float] = {}
    for name, mk in probes.items():
        best = float("inf")
        for _ in range(runs):
            t0 = time.time()
            mk().write.mode("overwrite").format("noop").save()
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark("aistore_spark_bench", cpus=cpus, sf_dir=sf_dir)
    # warmup: JVM + parquet footers + Python/Arrow worker spin-up, so
    # the first Arrow-map query isn't charged the daemon startup
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    ensure_shipped(spark)  # the map's kernel imports aistore_spark
    map_arrays(spark.range(1000), ["id"], "id bigint", lambda b: b).write.mode(
        "overwrite"
    ).format("noop").save()

    # min of 2 runs per query: wall-clock on a shared host is noisy
    # (first-run JIT, page cache, neighbor load); the min is the
    # reproducible cost of the plan itself.
    # One failing query must not erase the whole perf artifact (a
    # testdata schema drift did exactly that in BENCH_r03: rc=1, no
    # numbers). Record the error per-query and keep going.
    # SPARK_GRAFT_BENCH_RUNS=1 for the big scale tiers (sf10), where a
    # second pass doubles hours for noise-reduction the scaling read
    # doesn't need
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    # SPARK_GRAFT_QUERY_TIMEOUT=secs bounds any single query at the big
    # scale tiers (sf10): a timer cancels the Spark jobs, the query is
    # recorded as a timeout error, and the sweep continues — one
    # known-quadratic baseline (e.g. ann1 brute force) must not eat the
    # whole wall budget. 0 (default) = unbounded.
    q_timeout = float(os.environ.get("SPARK_GRAFT_QUERY_TIMEOUT", "0"))
    import threading

    per_query: dict[str, float] = {}
    errors: dict[str, str] = {}
    # straggler detection (verdict-r12 item 4): for every query whose
    # wall is >= SPARK_GRAFT_SKEW_MIN_WALL (default 5 s — at the
    # driver's sf0.1 tier the heaviest walls are ~7-10 s, so a 10 s
    # floor would record nothing), capture the worst per-stage
    # max/median task-duration ratio from the AppStatusStore;
    # tools/bench_compare.py flags ratios > 8x. The r11
    # split-inheritance stragglers (one 40-min task in a 13-task
    # stage) were caught by eyeballing — this automates that class.
    from aistore_spark.skew import worst_task_skew

    task_skew: dict[str, dict] = {}
    skew_min_wall = float(os.environ.get("SPARK_GRAFT_SKEW_MIN_WALL", "5"))
    # SPARK_GRAFT_BENCH_RESUME=<partial.json>: preload a prior partial
    # flush and skip its queries (walls AND recorded errors) — a crash
    # or code fix mid-sweep at the big tiers must not re-pay hours of
    # completed measurements
    resume = os.environ.get("SPARK_GRAFT_BENCH_RESUME")
    resumed_names: list[str] = []
    if resume and Path(resume).exists():
        prior = json.loads(Path(resume).read_text())
        per_query.update(prior.get("queries", {}))
        errors.update(prior.get("errors", {}))
        # tag provenance in the artifact (verdict-r11 nit): a resumed
        # wall was measured by an EARLIER process, possibly under
        # different host load — cross-round reads should know which.
        # Crash partials of the current sweep propagate provenance
        # instead of blanket-tagging (see resumed_provenance).
        resumed_names = resumed_provenance(prior)
        # carry prior task_skew readings for the rows this run SKIPS
        # (r14): a resumed wall keeps its original skew evidence rather
        # than losing it from the new artifact. Rows re-run fresh this
        # round start with no prior reading — a stale straggler must
        # not mask (or be masked by) this round's measurement.
        task_skew.update(
            {
                n: rec
                for n, rec in (prior.get("task_skew") or {}).items()
                if n in per_query or n in errors
            }
        )
        print(
            f"[bench] resumed {len(per_query)} walls + {len(errors)} "
            f"errors from {resume}",
            file=sys.stderr,
            flush=True,
        )
    for name, fn in sorted(QUERIES.items()):
        if name in per_query or name in errors:
            continue
        best = float("inf")
        for _ in range(runs):
            timer = None
            fired = threading.Event()

            def _cancel():
                fired.set()
                spark.sparkContext.cancelAllJobs()

            t0 = time.time()
            try:
                if q_timeout > 0:
                    timer = threading.Timer(q_timeout, _cancel)
                    timer.start()
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001
                if fired.is_set():
                    # keep the exception text: a genuine failure after
                    # the timer fires must stay diagnosable, not be
                    # flattened into a bare "timeout"
                    errors[name] = (
                        f"timeout: exceeded {q_timeout:.0f}s budget "
                        f"({type(exc).__name__}: {exc})"[:200]
                    )
                else:
                    errors[name] = f"{type(exc).__name__}: {exc}"[:200]
                break
            finally:
                if timer is not None:
                    timer.cancel()
                release_cached()
            if fired.is_set():
                # cancelAllJobs only interrupts an IN-FLIGHT job — if
                # the timer fired during a driver-side gap between jobs
                # (multi-job queries run count/write/collect sequences)
                # the query completes anyway. Record the budget breach,
                # not a wall that looks valid.
                errors[name] = (
                    f"timeout: exceeded {q_timeout:.0f}s budget "
                    f"(completed in {time.time() - t0:.1f}s despite cancel)"
                )
                break
            wall = time.time() - t0
            if wall >= skew_min_wall:
                # significance floor (r13): only stages whose LONGEST
                # task is >= 10% of the query wall can be the recorded
                # worst — a 6 s max inside a 95 s query read 88x
                # (tiny-median scan stage, no wall impact) while the
                # real straggler class puts 34-93% of the wall in one
                # task (measured: r11's 40-min/43-min, r13's 50s/146s)
                skew = worst_task_skew(
                    spark,
                    int(t0 * 1000),
                    min_max_ms=max(1000.0, wall * 1000.0 * 0.10),
                )
                record_worst_skew(task_skew, name, skew)
            best = min(best, wall)
        # a finite best is a valid measurement even if a LATER run
        # errored/timed out — keep it; the error entry stays as a
        # supplementary flag alongside
        if best != float("inf"):
            per_query[name] = round(best, 3)
        # per-query progress + partial flush: at the big scale tiers a
        # wall-clock cutoff must not erase hours of measurements — the
        # partial file can be promoted to the artifact by hand
        print(
            f"[bench] {name}: {per_query.get(name, errors.get(name))}",
            file=sys.stderr,
            flush=True,
        )
        partial = os.environ.get("SPARK_GRAFT_BENCH_PARTIAL")
        if partial:
            # the partial must carry task_skew (ADVICE-r14: a crash
            # resume would otherwise drop every skew reading this
            # process captured) and its OWN provenance list, so a
            # resume-from-partial can distinguish this round's fresh
            # walls from genuinely inherited ones
            Path(partial).write_text(
                json.dumps(
                    {
                        "queries": per_query,
                        "errors": errors,
                        "task_skew": task_skew,
                        "resumed_queries": resumed_names,
                        "partial": True,
                    }
                )
                + "\n"
            )

    total = round(sum(per_query.values()), 3)

    # derived throughputs on the BASELINE.md axes (single-node local[N]
    # vs the reference's per-target numbers): get-batch entries/sec,
    # dsort records/sec, listing rows/sec, archive members packed/sec
    from aistore_spark.sources.tables import load_table

    derived: dict[str, float] = {}
    try:
        n_requests = load_table(spark, sf_dir, "events").count()
        n_members = load_table(spark, sf_dir, "lineitem").count()
        n_docs = load_table(spark, sf_dir, "documents").count()
    except Exception as exc:  # noqa: BLE001
        errors["_derived"] = f"{type(exc).__name__}: {exc}"[:200]
        n_requests = n_members = n_docs = 0
    if per_query.get("g1_assemble_batches"):
        derived["get_batch_entries_per_sec"] = round(
            n_requests / per_query["g1_assemble_batches"], 1
        )
    if per_query.get("j1_get_batch"):
        # plain-object band (no tar assembly): docs/get_batch.md:574
        derived["get_batch_plain_objects_per_sec"] = round(
            n_requests / per_query["j1_get_batch"], 1
        )
    if per_query.get("dsort_pipeline"):
        derived["dsort_members_per_sec"] = round(
            n_members / per_query["dsort_pipeline"], 1
        )
    if per_query.get("p1_pack_archive"):
        derived["archive_pack_members_per_sec"] = round(
            n_members / per_query["p1_pack_archive"], 1
        )
    if per_query.get("s1_list_prefix_page"):
        derived["listing_page_sec"] = per_query["s1_list_prefix_page"]
    if per_query.get("g3_output_formats") and n_requests:
        # the format matrix builds ceil(requests/250) batches x 4 mimes
        n_archives = -(-n_requests // 250) * 4
        derived["get_batch_format_archives_per_sec"] = round(
            n_archives / per_query["g3_output_formats"], 1
        )
    if per_query.get("dd3_lsh_candidates"):
        derived["minhash_lsh_docs_per_sec"] = round(
            n_docs / per_query["dd3_lsh_candidates"], 1
        )
    # real-I/O leg (verdict-r8 #1): same flows reading REAL on-disk tar
    # shards — the disk-bound numbers comparable to the reference's
    # get-batch bands (docs/get_batch.md:574-577)
    # the *_io member denominators are the members ACTUALLY ON DISK:
    # above io_fixtures.SAMPLE_THRESHOLD the fixture keeps only the
    # orderkey%16 stratum, so dividing the FULL catalog count by the
    # sampled workload's wall would overstate throughput ~16x at sf10.
    # Read the truth from the shards' _SUCCESS marker (written by the
    # query's own materialize_shards call); fall back to the catalog
    # count only when no io query ran.
    n_members_io, io_mod = n_members, 1
    try:
        from aistore_spark.sources import io_fixtures

        io_marker = (
            io_fixtures.shards_root(sf_dir, io_fixtures.sample_mod(n_members))
            / "_SUCCESS"
        )
        if io_marker.exists():
            info = json.loads(io_marker.read_text())
            n_members_io = info["n_members"]
            io_mod = info.get("sample_mod", 1)
    except Exception as exc:  # noqa: BLE001
        errors["_io_marker"] = f"{type(exc).__name__}: {exc}"[:200]
    if per_query.get("g1c_assemble_batches_io"):
        # assembly is per-request work: every request is packed (misses
        # become 404 sentinels), so the full request count stands
        derived["get_batch_entries_per_sec_io"] = round(
            n_requests / per_query["g1c_assemble_batches_io"], 1
        )
    if per_query.get("s4d_shard_index_io"):
        derived["shard_index_members_per_sec_io"] = round(
            n_members_io / per_query["s4d_shard_index_io"], 1
        )
    if per_query.get("d8_dsort_io"):
        derived["dsort_members_per_sec_io"] = round(
            n_members_io / per_query["d8_dsort_io"], 1
        )
    if per_query.get("s4d_shard_index_io") or per_query.get("d8_dsort_io"):
        derived["io_sample_mod"] = io_mod
        derived["io_n_members_on_disk"] = n_members_io
    if per_query.get("p1b_pack_archive_io"):
        # write side: p1b packs DISTINCT members (the min-key dedup) —
        # approximate the distinct count as on-disk members since an
        # exact distinct() is its own job; the io tool computes exact
        derived["pack_members_per_sec_io"] = round(
            n_members_io / per_query["p1b_pack_archive_io"], 1
        )
    if per_query.get("mm12_media_decode_io") and n_docs:
        # exact decoded-image count (doc_id % 7 == 3) — matches
        # tools/bench_io.py's denominator; one cheap filter-count job
        from pyspark.sql import functions as F

        n_media = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 7 == 3)
            .count()
        )
        derived["media_decode_images_per_sec_io"] = round(
            n_media / per_query["mm12_media_decode_io"], 1
        )

    # cross-round drift canary (verdict-r8 #7): five pure-JVM queries
    # (no Python workers, no disk fixtures) whose plans have been
    # byte-stable for rounds — their median wall is a host-speed probe,
    # so cross-round per-query reads should be normalized by the ratio
    # of canary medians, not taken raw (±15-50% host drift documented
    # in NOTES_r07 on unchanged code).
    canary_names = [
        "s1_list_prefix_page",
        "a1_bucket_summary",
        "a7_rollup",
        "d7_topk_largest",
        "ev7_pivot",
    ]
    canary = {n: per_query[n] for n in canary_names if n in per_query}
    if canary:
        vals = sorted(canary.values())
        canary_median = vals[len(vals) // 2]
    else:
        canary_median = None

    # CPU-bound fixed-size canaries (verdict-r10): the host factor for
    # cross-round normalization of multi-second CPU-bound queries
    cpu_canary = cpu_canaries(spark, runs=max(1, runs))
    cvals = sorted(cpu_canary.values())
    cpu_canary_median = cvals[len(cvals) // 2] if cvals else None

    full = {
        "metric": f"total_declared_query_wall_sec_min_of_{runs}",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "derived": derived,
        "canary": canary,
        "canary_median_sec": canary_median,
        "cpu_canary": cpu_canary,
        "cpu_canary_median_sec": cpu_canary_median,
        "task_skew": task_skew,
        "sf": sf,
    }
    if resumed_names:
        full["resumed_queries"] = resumed_names
    if errors:
        full["errors"] = errors
    # Full artifact (all queries) goes to a file; the stdout line must
    # stay under the driver's 2000-char tail capture or it records
    # `parsed: null` (seen in BENCH_r01.json). Print compact JSON and,
    # if needed, trim "queries" to the most expensive ones — the full
    # map is always in BENCH_FULL.json.
    full_out = os.environ.get("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json")
    Path(__file__).resolve().parent.joinpath(full_out).write_text(
        json.dumps(full, indent=2) + "\n"
    )
    line = dict(full)
    if resumed_names:
        # full name list lives in BENCH_FULL.json; the stdout line
        # carries the count only (the 2000-char driver capture)
        line.pop("resumed_queries", None)
        line["n_resumed"] = len(resumed_names)
    budget = 1900
    encoded = json.dumps(line, separators=(",", ":"))
    if len(encoded) > budget and task_skew:
        # compact skew to the 3 worst ratios; full per-stage detail
        # stays in BENCH_FULL.json
        worst3 = sorted(
            task_skew.items(), key=lambda kv: -kv[1]["ratio"]
        )[:3]
        line["task_skew"] = {n: rec["ratio"] for n, rec in worst3}
        encoded = json.dumps(line, separators=(",", ":"))
    if len(encoded) > budget:
        # stable rows first (the previous round's printed set — see
        # STABLE_PRINT), then this run's most expensive other rows
        # while the line fits. A stable row is only sacrificed in the
        # degenerate case where the stable set alone overflows.
        stable = [n for n in STABLE_PRINT if n in per_query]
        by_cost = sorted(
            (kv for kv in per_query.items() if kv[0] not in set(stable)),
            key=lambda kv: -kv[1],
        )
        keep: dict[str, float] = {n: per_query[n] for n in stable}
        line["queries"] = keep
        line["queries_full"] = "BENCH_FULL.json"
        line["n_queries"] = len(per_query)
        encoded = json.dumps(line, separators=(",", ":"))
        while len(encoded) > budget and keep:
            keep.popitem()  # trim cheapest-priority stable tail
            encoded = json.dumps(line, separators=(",", ":"))
        for name, sec in by_cost:
            keep[name] = sec
            encoded = json.dumps(line, separators=(",", ":"))
            if len(encoded) > budget:
                del keep[name]
                break
        encoded = json.dumps(line, separators=(",", ":"))
    print(encoded)


if __name__ == "__main__":
    main()
