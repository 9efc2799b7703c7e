"""Skew kill-tests (verdict-r5 item 7): a synthetic 100:1 hot-key
workload driven through the two skew primitives, asserting EXECUTED
row-placement metrics (spark_partition_id of the materialized join),
not just plan text.

- salted_join: the hot shard of a get-batch-style join must spread
  over ~n_salts tasks instead of one straggler, with identical join
  results.
- lsh_candidate_pairs(max_bucket): a viral document cluster (one LSH
  bucket holding the whole clique) must be sub-split so no join key
  carries more than max_bucket rows — bounding the per-key O(k²) pair
  work.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aistore_spark.operators import dedup
from aistore_spark.operators.joins import salted_join


@pytest.fixture(scope="module")
def hot_facts(spark):
    """100:1 skew: shard 'hot' owns 20k rows; 100 cold shards own 200
    rows each."""
    hot = spark.range(20_000).select(
        F.lit("hot").alias("shard"), F.col("id").alias("obj")
    )
    cold = spark.range(20_000, 40_000).select(
        F.concat(F.lit("cold-"), (F.col("id") % 100).cast("string")).alias(
            "shard"
        ),
        F.col("id").alias("obj"),
    )
    return hot.unionAll(cold)


def _max_partition_rows(df) -> tuple[int, int]:
    """(max rows in any partition, #non-empty partitions) of the frame
    AS EXECUTED — spark_partition_id is evaluated before any later
    exchange, so this reads the actual post-join placement."""
    rows = (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .count()
        .collect()
    )
    return max(r["count"] for r in rows), len(rows)


def test_salted_join_spreads_the_hot_shard(spark, hot_facts):
    dim = spark.createDataFrame(
        [("hot", 99)] + [(f"cold-{i}", i) for i in range(100)],
        "shard string, target bigint",
    )
    # force the skewed path: no broadcast, no AQE coalesce interference
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = hot_facts.join(dim, "shard")
        salted = salted_join(hot_facts, dim, "shard", n_salts=16)

        # exactness first: same multiset of (shard, obj, target)
        assert salted.count() == plain.count() == 40_000
        assert (
            salted.groupBy("shard").count().orderBy("shard").collect()
            == plain.groupBy("shard").count().orderBy("shard").collect()
        )

        plain_max, _ = _max_partition_rows(plain)
        salted_max, _ = _max_partition_rows(salted)
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        ideal = 40_000 / n_parts
        # plain: the hot key's 20k rows land in ONE task — the
        # straggler is >= hot-key-size regardless of partition count
        assert plain_max >= 20_000
        assert plain_max >= 3 * ideal, (plain_max, ideal)
        # salted: the executed placement is near-balanced — no task
        # above 1.6x the ideal share (measured ~1.13x at 8 partitions)
        assert salted_max <= 1.6 * ideal, (salted_max, ideal)
    finally:
        spark.conf.unset("spark.sql.adaptive.enabled")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_salted_join_left_outer_exact_under_skew(spark, hot_facts):
    """Left join keeps unmatched hot rows exactly once despite the
    dim-side replication."""
    dim = spark.createDataFrame(
        [("hot", 99)], "shard string, target bigint"
    )  # cold shards unmatched
    out = salted_join(hot_facts, dim, "shard", n_salts=8, how="left")
    assert out.count() == 40_000
    assert out.filter(F.col("target").isNull()).count() == 20_000


def test_lsh_max_bucket_bounds_hot_bucket_work(spark):
    """A 200-doc clique (identical text -> identical minhash in every
    band) is the LSH hot key. With max_bucket=20 every join key
    (band, minhash, cell) must hold <= 20 docs, and the candidate
    count must drop from O(clique²) to O(clique * max_bucket)."""
    clique = [(i, "spark shuffle join window aggregate") for i in range(200)]
    rest = [(1000 + i, f"doc {i} unique text number {i * 7}") for i in range(50)]
    docs = spark.createDataFrame(clique + rest, "doc_id bigint, text string")

    uncapped = dedup.lsh_candidate_pairs(docs, bands=4, n=3)
    capped = dedup.lsh_candidate_pairs(docs, bands=4, n=3, max_bucket=20)

    n_unc = uncapped.count()
    n_cap = capped.count()
    assert n_unc >= 199 * 200 // 2  # the full clique pairs up
    # capped: each of the ~10 cells pairs internally -> ~10 * C(20,2)
    assert n_cap < n_unc // 5

    # the executed bound: no (band, minhash, cell) key exceeds max_bucket
    mh = dedup.minhash_bands(docs, bands=4, n=3)
    sizes = mh.groupBy("band", "minhash").agg(F.count("*").alias("_bk"))
    cells = (
        mh.join(sizes, ["band", "minhash"])
        .withColumn(
            "_cell",
            F.when(
                F.col("_bk") > 20,
                F.pmod(F.xxhash64("doc_id"), F.ceil(F.col("_bk") / 20).cast("bigint")),
            ).otherwise(F.lit(0)),
        )
        .groupBy("band", "minhash", "_cell")
        .count()
    )
    max_key = cells.agg(F.max("count")).collect()[0][0]
    # hash sub-split is balanced in expectation; allow 2x headroom
    assert max_key <= 2 * 20, max_key

    # capped candidates are a SUBSET of uncapped (no invented pairs)
    extra = capped.select("doc_a", "doc_b").exceptAll(
        uncapped.select("doc_a", "doc_b")
    )
    assert extra.count() == 0


def test_straggler_detector_trips_on_split_inherited_ivf(spark, monkeypatch):
    """verdict-r12 item 4: the bench straggler probe
    (aistore_spark/skew.py, wired into bench.py / flagged by
    tools/bench_compare.py) must trip on exactly the r11 sf10 failure
    shape — a clustered corpus whose input splits align with cell
    membership, scored WITHOUT ivf_topk's round-robin rebalance: one
    task then carries all the probed-cell scoring. With the rebalance
    in place the same plan reads clean."""
    import time

    import numpy as np
    import pandas as pd

    from aistore_spark.operators import simsearch
    from aistore_spark.skew import stage_task_skew
    from tools.bench_compare import SKEW_THRESHOLD

    rng = np.random.default_rng(7)
    dim, groups, per, nq = 64, 8, 1500, 800
    cents = [
        (g, [1.0 if g * 8 <= j < (g + 1) * 8 else 0.0 for j in range(dim)])
        for g in range(groups)
    ]
    cent_df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [c[0] for c in cents], "embedding": [c[1] for c in cents]}
        )
    )
    # corpus ordered by group then range-partitioned on vec_id: split i
    # holds exactly cell i's members — the clustered-parquet shape
    rows_id, rows_vec = [], []
    vid = 0
    for g in range(groups):
        base = np.array(cents[g][1])
        noise = rng.normal(0, 0.01, size=(per, dim))
        for i in range(per):
            rows_id.append(vid)
            rows_vec.append((base + noise[i]).tolist())
            vid += 1
    corpus = spark.createDataFrame(
        pd.DataFrame({"vec_id": rows_id, "embedding": rows_vec})
    ).repartitionByRange(groups, F.col("vec_id"))
    # every query probes cell 0 -> all scoring lands in ONE split
    q0 = np.array(cents[0][1])
    queries = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [100000 + i for i in range(nq)],
                "embedding": [
                    (q0 + rng.normal(0, 0.01, dim)).tolist() for _ in range(nq)
                ],
            }
        )
    )

    def run(q):
        t0 = int(time.time() * 1000)
        simsearch.ivf_topk(corpus, cent_df, q, k=5, nprobe=1).write.mode(
            "overwrite"
        ).format("noop").save()
        return stage_task_skew(spark, t0)

    # rebalance removed: the probe must flag a straggler stage
    monkeypatch.setattr(simsearch, "_rebalance", lambda df: df)
    # Warm-up: the same plan over 8 of the queries first. A cold run
    # pays one-off start-up in every task of the measured stage (JVM
    # code generation and class loading, Python workers and their
    # imports): its median task reads 1.2-1.8 s against 0.8-1.0 s
    # warm, so the ratio measured the start-up, not the straggler.
    run(queries.limit(8))
    time.sleep(0.3)
    skewed = run(queries)
    assert skewed, "no stage reading at all on the skewed plan"
    assert skewed[0]["ratio"] > SKEW_THRESHOLD, (
        f"detector did not trip: worst ratio {skewed[0]['ratio']}"
    )
    assert skewed[0]["n_tasks"] >= 4

    # real rebalance: the same plan must read clean
    monkeypatch.undo()
    time.sleep(0.3)
    clean = run(queries)
    worst = clean[0]["ratio"] if clean else 1.0
    assert worst <= SKEW_THRESHOLD, f"rebalanced plan still skewed: {clean[0]}"


def test_record_worst_skew_keeps_the_higher_ratio_across_runs():
    """Worst-of-runs recording (verdict-r13 item 5): bench.py's skew
    map must let a straggler that appears only on the SECOND min-of-2
    run overwrite a clean first reading, and must never let a cleaner
    later run erase a recorded straggler."""
    from bench import record_worst_skew

    ts: dict[str, dict] = {}
    record_worst_skew(ts, "q", None)
    assert ts == {}

    first = {"stage": 1, "ratio": 1.2, "max_ms": 500.0}
    record_worst_skew(ts, "q", first)
    assert ts["q"] is first

    # second run reads WORSE -> overwrites (the r13 guard `name not in
    # task_skew` silently dropped this reading)
    worse = {"stage": 7, "ratio": 44.0, "max_ms": 50_000.0}
    record_worst_skew(ts, "q", worse)
    assert ts["q"] is worse

    # a cleaner third reading never downgrades the record
    record_worst_skew(ts, "q", {"stage": 7, "ratio": 2.0, "max_ms": 900.0})
    assert ts["q"] is worse


def test_round_robin_defeats_row_group_blindspot(spark, tmp_path):
    """util.round_robin is the one audited spelling of the row-group
    blind-spot fix (r15 dd6b triage; r16 folded the two call-site
    idioms into it): a parquet file with a few giant row groups
    reports many byte-range splits but only a few NON-EMPTY ones, and
    spread()'s partition-count heuristic no-ops on it. round_robin
    must redistribute to full default parallelism with every
    partition non-trivially loaded."""
    from aistore_spark.util import round_robin, spread

    p = str(tmp_path / "giant_rg.parquet")
    # one writer task -> one file with a single big row group
    spark.range(100_000).coalesce(1).write.mode("overwrite").parquet(p)
    prior = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # slice the one-row-group file into many byte-range splits:
        # the scan REPORTS >= parallelism partitions but only ONE can
        # be non-empty (row groups are the split atoms)
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
        df = spark.read.parquet(p)
        target = spark.sparkContext.defaultParallelism
        assert df.rdd.getNumPartitions() >= target
        nonempty = df.groupBy(
            F.spark_partition_id().alias("pid")
        ).count().collect()
        assert len(nonempty) == 1
        # the blind spot: spread()'s COUNT heuristic sees "enough"
        # partitions and keeps the degenerate layout
        assert (
            spread(df).rdd.getNumPartitions() == df.rdd.getNumPartitions()
        )
        rr = round_robin(df)
        rr_counts = [
            r["count"]
            for r in rr.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        ]
        assert len(rr_counts) == target
        assert min(rr_counts) > 0
        assert max(rr_counts) <= 2 * (100_000 // target)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prior)
