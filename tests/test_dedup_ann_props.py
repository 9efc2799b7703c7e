"""Property checks for the near-dup / ANN scale paths: the approximate
variants must relate provably to their exact counterparts (reference
test style: invariants, not golden files — SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aistore_spark.operators import dedup, simsearch
from aistore_spark.sources.tables import load_table

SF_SMALL = "/root/testdata/sf0.001"


def test_ivf_full_probe_equals_brute_force(spark):
    """With nprobe = #centroids every cell is probed, so IVF search
    must reproduce exact brute-force top-k bit-for-bit."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    ivf = simsearch.ivf_topk(emb, centroids, queries, k=10, nprobe=16)
    brute = simsearch.brute_force_topk(emb, queries, k=10)
    got = sorted(map(tuple, ivf.collect()))
    want = sorted(map(tuple, brute.collect()))
    assert got == want


def test_ivf_partial_probe_subset_of_brute_candidates(spark):
    """nprobe=2 results are exact within probed cells: every returned
    dot must equal the brute-force dot for that (query, neighbor)."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    ivf = simsearch.ivf_topk(emb, centroids, queries, k=10, nprobe=2)
    brute = simsearch.brute_force_topk(emb, queries, k=10**9)  # all pairs
    bmap = {
        (r["query_id"], r["neighbor_id"]): r["dot"] for r in brute.collect()
    }
    rows = ivf.collect()
    assert rows, "probe returned nothing"
    for r in rows:
        assert bmap[(r["query_id"], r["neighbor_id"])] == r["dot"]


def test_simhash_pairs_pigeonhole_recall(spark):
    """Every pair within Hamming <= max_hamming (< bands) must appear:
    banding cannot lose a pair that differs in fewer bits than there
    are bands. Brute-force all-pairs Hamming is the witness."""
    docs = load_table(spark, SF_SMALL, "documents").limit(120)
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_pairs(
            docs, bits=16, bands=4, max_hamming=3
        ).collect()
    }
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, 16).collect()}
    ids = sorted(fp)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = sum(x != y for x, y in zip(fp[a], fp[b]))
            if h <= 3:
                want[(a, b)] = h
    assert got == want


def test_simhash_pairs_max_bucket_lossless(spark):
    """Unlike the LSH cell split (lossy, multi-band-justified), the
    simhash hot-bucket split is a COMPLETE block grid: with
    max_bucket small enough to force multi-block splits on every
    bucket, the (doc_a, doc_b, hamming) output must be identical to
    the unsplit join — pigeonhole completeness survives the split."""
    docs = load_table(spark, SF_SMALL, "documents").limit(150)
    base = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_pairs(
            docs, bits=16, bands=4, max_hamming=3
        ).collect()
    }
    assert base, "witness set empty — sizing produced no pairs"
    for mb in (1, 2, 7):
        split = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in dedup.simhash_pairs(
                docs, bits=16, bands=4, max_hamming=3, max_bucket=mb
            ).collect()
        }
        assert split == base, f"max_bucket={mb} changed the output"


def test_kmeans_step_conserves_vectors(spark):
    """Every corpus vector lands in exactly one cell: n_vecs summed
    over one dim equals the corpus size, and each (centroid, dim) mean
    lies within the quantized component range."""
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_SMALL, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    step = simsearch.kmeans_step(emb, centroids).collect()
    n = emb.count()
    dims = {}
    for r in step:
        dims.setdefault(r["dim"], 0)
        dims[r["dim"]] += r["n_vecs"]
        assert -20000 < r["mean_q"] < 20000  # embeddings span ~±0.53*1e4
    assert set(dims.values()) == {n}


def test_simhash_pairs_64bit_no_null_fingerprints(spark):
    """At the production sizing (64-bit fingerprints) the bigint fold
    must keep every doc — the old conv(simhash,2,10) path cast
    top-bit-set fingerprints to NULL and silently dropped them. The
    signed fold wraps them negative instead; pair recall vs the
    string-Hamming witness must still be exact."""
    docs = load_table(spark, SF_SMALL, "documents").limit(80)
    n_docs = docs.count()
    fp_str = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, 64).collect()}
    # the fold inside simhash_pairs: rebuild it standalone to assert no NULLs
    fp_df = dedup.simhash(docs, bits=64).select(
        "doc_id",
        F.expr(
            "aggregate(sequence(1, 64), 0L, (acc, i) -> "
            "shiftleft(acc, 1) | if(substring(simhash, i, 1) = '1', 1L, 0L))"
        ).alias("fp"),
    )
    rows = fp_df.collect()
    assert len(rows) == n_docs
    assert all(r["fp"] is not None for r in rows)
    # signed wrap: bit pattern must round-trip to the same 64-bit string
    for r in rows:
        assert format(r["fp"] & (2**64 - 1), "064b") == fp_str[r["doc_id"]]
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, bits=64, bands=8, max_hamming=3).collect()
    }
    ids = sorted(fp_str)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = sum(x != y for x, y in zip(fp_str[a], fp_str[b]))
            if h <= 3:
                want[(a, b)] = h
    assert got == want


def test_blocked_pairs_equals_broadcast_pairs(spark):
    """The scale-safe blocked matmul (no driver hop) must produce the
    exact pair set of the driver-broadcast fast path — every unordered
    pair meets in exactly one cell, diagonal cells emit the upper
    triangle, cross cells normalize orientation."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    blocked = {
        (r.vec_a, r.vec_b): r.dot
        for r in simsearch.blocked_pairs_above(
            emb, threshold=40_000_000, n_blocks=5
        ).collect()
    }
    broadcast = {
        (r.vec_a, r.vec_b): r.dot
        for r in simsearch.block_pairs_above(emb, threshold=40_000_000).collect()
    }
    assert blocked == broadcast and len(blocked) > 0


def test_pq_codeword_self_encoding_and_adc(spark):
    """PQ invariants: a codebook seed vector encodes to its own code in
    every subspace with dist 0, and its ADC distance to any query
    equals the exact subspace-table sum (the approximation is exact for
    codewords). Also: ADC self-lookup table row count = m * k."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    codebook = emb.filter(F.col("vec_id") < 16)
    codes = simsearch.pq_encode(emb, codebook, m=4, dim=64)
    seed_codes = codes.filter(F.col("vec_id") < 16).collect()
    assert len(seed_codes) == 16 * 4
    for r in seed_codes:
        assert r.code == r.vec_id and r.dist == 0
    # every vector gets exactly m codes
    n = emb.count()
    assert codes.count() == n * 4
    # ADC: for a neighbor that IS a codeword, adc == exact L2 distance
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    adc = simsearch.pq_adc_topk(emb, codebook, queries, k=10**9, m=4, dim=64)
    got = {
        (r.query_id, r.neighbor_id): r.adc
        for r in adc.filter(F.col("neighbor_id") < 16).collect()
    }
    qrows = {r.vec_id: r.embedding for r in queries.collect()}
    crows = {r.vec_id: r.embedding for r in codebook.collect()}
    qz = lambda v: [round(float(x) * 10000) for x in v]  # noqa: E731
    for (qid, nid), adc_d in got.items():
        exact = sum(
            (a - b) * (a - b) for a, b in zip(qz(qrows[qid]), qz(crows[nid]))
        )
        assert adc_d == exact, (qid, nid)


def test_pq_adc_topk_construction_collects_the_codebook_once(spark):
    """Constructing flat PQ ADC search runs two driver jobs: one
    collect of the codebook, shared by the encode kernel and the ADC
    lookup table, and one of the queries."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    codebook = emb.filter(F.col("vec_id") < 16)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    sc = spark.sparkContext
    group = "pq-adc-topk-construct"
    sc.setJobGroup(group, "pq_adc_topk")
    try:
        simsearch.pq_adc_topk(emb, codebook, queries, k=10, m=4, dim=64)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2


def test_ivfpq_full_probe_equals_pq_adc(spark):
    """With nprobe = #centroids the IVF stage prunes nothing, so
    IVF-PQ must reproduce flat PQ ADC search bit-for-bit."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    cb = emb.filter(F.col("vec_id") < 16)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    ivfpq = simsearch.ivfpq_topk(
        emb, cb, cb, queries, k=10, nprobe=16, m=4, dim=64
    )
    flat = simsearch.pq_adc_topk(emb, cb, queries, k=10, m=4, dim=64)
    assert sorted(map(tuple, ivfpq.collect())) == sorted(
        map(tuple, flat.collect())
    )


def test_blocked_pairs_sparse_ids_no_duplicate_emission(spark):
    """Regression: when every id hashes to the same block, the cross
    cells (bi, bj>bi) receive a-rows but ZERO b-rows. Diagonality must
    come from the cell key — inferring it from an empty b side re-runs
    the diagonal matmul in every sparse cross cell and emits each pair
    n_blocks times."""
    n_blocks = 5
    ids = [i * n_blocks for i in range(8)]  # all ≡ 0 (mod n_blocks)
    rows = [(i, [float(i % 3 + 1)] * 4) for i in ids]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = simsearch.blocked_pairs_above(
        emb, threshold=0, n_blocks=n_blocks
    ).collect()
    keys = [(r.vec_a, r.vec_b) for r in got]
    assert len(keys) == len(set(keys)), "duplicate pair emission"
    want = {
        (r.vec_a, r.vec_b): r.dot
        for r in simsearch.block_pairs_above(emb, threshold=0).collect()
    }
    assert {(r.vec_a, r.vec_b): r.dot for r in got} == want
    assert len(want) == 8 * 7 // 2


def test_dup_groups_raises_on_non_convergence(spark):
    """A chain 0-1-2-...-n has diameter n; min-label propagation needs
    ~n rounds. Under-budgeted max_iter must raise, not return labels
    that silently split the single group. (local_edges_threshold=0
    forces the distributed path.)"""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a bigint, doc_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dup_groups(chain, max_iter=3, local_edges_threshold=0)
    labels = dedup.dup_groups(
        chain, max_iter=25, local_edges_threshold=0
    ).collect()
    assert {r.group_id for r in labels} == {0}
    assert len(labels) == 13


def test_dup_groups_local_and_distributed_paths_agree(spark):
    """The driver union-find fast path and the iterative label
    propagation must emit identical (doc_id, group_id) labels —
    min doc id per component on both."""
    edges = [(0, 5), (5, 9), (20, 21), (21, 22), (22, 20), (40, 41)]
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    local = {
        (r.doc_id, r.group_id) for r in dedup.dup_groups(pairs).collect()
    }
    dist = {
        (r.doc_id, r.group_id)
        for r in dedup.dup_groups(pairs, local_edges_threshold=0).collect()
    }
    assert local == dist
    assert local == {
        (0, 0), (5, 0), (9, 0),
        (20, 20), (21, 20), (22, 20),
        (40, 40), (41, 40),
    }


def test_local_edge_budget_derived_from_driver_memory(spark):
    """The fast-path threshold scales with spark.driver.memory and is
    clamped to [500k, 8M] — a mis-set config can neither disable the
    local path nor let it OOM the driver."""
    budget = dedup._local_edge_budget(spark)
    assert 500_000 <= budget <= 8_000_000
    mem = spark.conf.get("spark.driver.memory", "2g") or "2g"
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    m = mem.strip().lower()
    # a unitless Spark memory string means MiB ("4096" == "4096m")
    nbytes = (
        int(float(m[:-1])) * units[m[-1]]
        if m[-1] in units
        else int(m) * (1 << 20)
    )
    assert budget == max(500_000, min(8_000_000, nbytes // 256))


def test_local_edge_budget_unitless_means_mib(spark, monkeypatch):
    """Regression (ADVICE r5): '4096' is 4 GiB in Spark's memory-string
    semantics, not 4096 bytes — the budget must hit the 8M ceiling,
    not the 500k floor."""
    real_get = spark.conf.get

    def fake_get(key, default=None):
        if key == "spark.driver.memory":
            return "4096"
        return real_get(key, default)

    monkeypatch.setattr(spark.conf, "get", fake_get)
    assert dedup._local_edge_budget(spark) == 8_000_000


def test_jaccard_verify_equals_allpairs_on_candidates(spark):
    """The registered dd2 composition (LSH candidates -> jaccard_verify)
    must equal the all-pairs oracle (ngram_jaccard_pairs) restricted to
    the candidate pair set — the all-pairs form is the test-only oracle
    of the verifier, never the registered plan. Also covered: a doc
    shorter than n words (no shingles), a doc repeating one trigram
    (n_sh counts distinct shingles), duplicate candidate rows, a pair
    sharing no shingle, the zero threshold dd12 uses, and an empty
    candidate frame."""
    texts = []
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    for i in range(30):
        words = base.split()
        if i % 3 == 0:
            words[i % len(words)] = f"w{i}"  # near-dup of base
        elif i % 3 == 1:
            words = [f"u{i}_{j}" for j in range(12)]  # unique doc
        texts.append((i, " ".join(words)))
    texts += [
        (100, "too short"),  # fewer than n words: no shingles
        (101, "x y z x y z"),  # repeats the trigram "x y z"
        (102, "x y z x y z w"),
    ]
    docs = spark.createDataFrame(texts, "doc_id bigint, text string")
    pair_schema = "doc_a bigint, doc_b bigint"

    def check(cands, num, den, **kw):
        rows = dedup.jaccard_verify(
            docs, cands, n=3, threshold_num=num, threshold_den=den, **kw
        ).collect()
        got = {(r.doc_a, r.doc_b): (r.common, r.n_a, r.n_b) for r in rows}
        assert len(got) == len(rows), "a candidate pair was reported twice"
        cand_set = {(r.doc_a, r.doc_b) for r in cands.collect()}
        want = {
            (r.doc_a, r.doc_b): (r.common, r.n_a, r.n_b)
            for r in dedup.ngram_jaccard_pairs(
                docs, n=3, threshold_num=num, threshold_den=den
            ).collect()
            if (r.doc_a, r.doc_b) in cand_set
        }
        assert got == want, (num, den, kw)
        return got

    lsh = dedup.lsh_candidate_pairs(docs, bands=8, n=3)
    assert check(lsh, 1, 20)  # non-vacuous: the near-dups must surface
    sh = dedup.shingles(docs, n=3)
    check(lsh, 1, 20, shingles_df=sh, candidates_distinct=True)

    listed = spark.createDataFrame(
        [
            (0, 3), (0, 3), (3, 6),  # near-dups, one pair listed twice
            (0, 100), (100, 101),  # the shingle-less doc
            (101, 102), (101, 102),  # the repeated trigram
            (1, 4),  # unique docs: no shared shingle
        ],
        pair_schema,
    )
    for num, den in ((1, 20), (0, 1)):
        got = check(listed, num, den)
        assert got[(101, 102)] == (3, 3, 4)
        assert (0, 3) in got and (3, 6) in got
        assert not {(0, 100), (100, 101), (1, 4)} & set(got)

    assert check(spark.createDataFrame([], pair_schema), 0, 1) == {}


def test_semantic_cell_pairs_subset_of_all_pairs(spark):
    """dd9 is exactly the all-pairs near-dup set restricted to
    co-clustered pairs: every emitted pair must appear in the
    threshold all-pairs set with the identical integer dot, and every
    all-pairs pair whose endpoints share a cell must be emitted."""
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_SMALL, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8)
    th = 30_000_000
    cell = {
        (r.vec_a, r.vec_b): r.dot
        for r in simsearch.semantic_cell_pairs(emb, cents, threshold=th).collect()
    }
    allp = {
        (r.vec_a, r.vec_b): r.dot
        for r in simsearch.blocked_pairs_above(emb, threshold=th).collect()
    }
    assign = {
        r.vec_id: r.centroid_id
        for r in simsearch.ivf_assign(emb, cents).collect()
    }
    want = {
        p: d for p, d in allp.items() if assign[p[0]] == assign[p[1]]
    }
    assert cell == want
    assert cell  # non-vacuous on this corpus


def test_ann_recall_floors_and_monotonicity(spark, sf_dir):
    """Recall@10 at the registered economy parameters, pinned at fixed
    data (verdict-r5 item 6): floors hold, IVF recall is monotone in
    nprobe and reaches EXACT at full probe. Measured values are in
    SCALE.md; the fixture embeddings are i.i.d. (no cluster structure),
    the worst case for ANN."""
    from tools.ann_recall import recall_table

    rt = recall_table(spark, sf_dir, k=10)
    assert rt["ivf (16 cells, nprobe=2)"] >= 0.25
    assert rt["pq-adc (m=4, 16 codes)"] >= 0.12
    assert rt["ivf-pq (nprobe=2, m=4)"] >= 0.05
    # quantization can only lose accuracy vs the same probe set
    assert rt["ivf-pq (nprobe=2, m=4)"] <= rt["ivf (16 cells, nprobe=2)"]
    # QUALITY tier (ann5b/ann9b): recall >= 0.8 — what the reference's
    # ML users would accept as a default (verdict-r6 item 3); measured
    # 0.92 / 0.84 at sf0.01 (SCALE.md)
    assert rt["ivf quality (nprobe=12)"] >= 0.8
    assert rt["ivf-pq refined (nprobe=12, m=8, cb=64, sl=100)"] >= 0.8

    from pyspark.sql import functions as F

    from aistore_spark.operators import simsearch
    from aistore_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    cents = emb.filter(F.col("vec_id") < 16)
    truth = simsearch.brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    nt = truth.count()
    last = -1.0
    for nprobe in (1, 4, 16):
        r = (
            simsearch.ivf_topk(emb, cents, queries, k=10, nprobe=nprobe)
            .select("query_id", "neighbor_id")
            .join(truth, ["query_id", "neighbor_id"])
            .count()
            / nt
        )
        assert r >= last, f"recall not monotone at nprobe={nprobe}"
        last = r
    assert last == 1.0  # full probe == brute force


def test_kmeans_train_one_iter_equals_step_and_converges(spark, sf_dir):
    """kmeans_train(iters=1) must be bit-identical to kmeans_step (the
    loop is the step iterated), and iterating must not increase the
    total assignment distortion: the exact integer objective
    sum(max-dot) is non-decreasing over passes (MIPS form of the
    k-means descent argument, up to the floor-div quantization of the
    means — assert non-strict monotonicity with that 1-ulp slack)."""
    from pyspark.sql import functions as F

    from aistore_spark.operators import simsearch
    from aistore_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 16)

    one = simsearch.kmeans_train(emb, cents, iters=1)
    step = simsearch.kmeans_step(emb, cents)
    key = ["centroid_id", "dim"]
    a = {tuple(r[k] for k in key): (r["mean_q"], r["n_vecs"]) for r in one.collect()}
    b = {tuple(r[k] for k in key): (r["mean_q"], r["n_vecs"]) for r in step.collect()}
    assert a == b

    def objective(centroid_long):
        c = centroid_long.groupBy("centroid_id").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "mean_q"))),
                lambda s: s["mean_q"],
            ).alias("cvec")
        )
        v = emb.select("vec_id", simsearch.quantized("embedding").alias("vq"))
        scored = v.crossJoin(F.broadcast(c)).select(
            "vec_id", simsearch.int_dot(F.col("vq"), F.col("cvec")).alias("d")
        )
        return (
            scored.groupBy("vec_id")
            .agg(F.max("d").alias("m"))
            .agg(F.sum("m"))
            .collect()[0][0]
        )

    o1 = objective(simsearch.kmeans_train(emb, cents, iters=1))
    o3 = objective(simsearch.kmeans_train(emb, cents, iters=3))
    assert o3 >= o1 - 16 * 64  # floor-div slack: <=1 per (cell, dim)


def test_lsh_multiprobe_dominates_single_probe(spark, sf_dir):
    """Multi-probe candidates are a superset of the single-probe
    bucket, so per query the rank-1 dot can only improve and recall vs
    brute force can only rise; every returned dot is still the exact
    integer MIPS value."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    single = simsearch.lsh_topk(emb, queries, k=10, n_bits=8)
    multi = simsearch.lsh_topk(emb, queries, k=10, n_bits=8, multiprobe=1)
    brute = simsearch.brute_force_topk(emb, queries, k=10)

    s1 = {r["query_id"]: r["dot"] for r in single.filter("rank = 1").collect()}
    m1 = {r["query_id"]: r["dot"] for r in multi.filter("rank = 1").collect()}
    for q, d in s1.items():
        assert m1[q] >= d
    assert set(s1) <= set(m1)  # multi can only add answered queries

    truth = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    rs = {(r["query_id"], r["neighbor_id"]) for r in single.collect()} & truth
    rm = {(r["query_id"], r["neighbor_id"]) for r in multi.collect()} & truth
    assert len(rm) >= len(rs)


def test_pq_train_first_assignment_matches_pq_encode(spark, sf_dir):
    """pq_train's pass-1 statistics must be the group means of
    pq_encode's codes under the same seed codebook — same L2, same
    tie rule — pinning the two PQ components to one assignment
    semantics."""
    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") < 8)
    trained = simsearch.pq_train(emb, seed, m=4, dim=64, iters=1).collect()
    codes = simsearch.pq_encode(emb, seed, m=4, dim=64).collect()
    vq = {
        r.vec_id: [int(round(float(x) * 10000)) for x in r.embedding]
        for r in emb.collect()
    }
    # group the encoded corpus by (m, code); replay floor-div means
    groups = {}
    for r in codes:
        groups.setdefault((r.m, r.code), []).append(r.vec_id)
    want = {}
    for (m, code), vecs in groups.items():
        for j in range(16):
            qs = [vq[v][m * 16 + j] for v in vecs]
            s = sum(qs)
            want[(m, code, j + 1)] = (
                s // len(qs) if s >= 0 or s % len(qs) == 0 else -((-s) // len(qs)),
                len(qs),
            )
    got = {(r.m, r.code, r.dim): (r.mean_q, r.n_vecs) for r in trained}
    assert got.keys() == want.keys()
    mismatch = {k: (got[k], want[k]) for k in got if got[k] != want[k]}
    assert not mismatch, list(mismatch.items())[:5]


def test_pq_train_partitions_corpus_every_subspace(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    out = simsearch.pq_train(
        emb, emb.filter(F.col("vec_id") < 8), m=4, dim=64, iters=2
    )
    per_sub = (
        out.filter(F.col("dim") == 1)
        .groupBy("m")
        .agg(F.sum("n_vecs").alias("tot"))
        .collect()
    )
    assert len(per_sub) == 4
    assert all(r.tot == n for r in per_sub)

def test_ann_recall_floors_clustered(spark):
    """Clustered-corpus recall floors (verdict-r8 #5): the shipped
    i.i.d. fixture is ANN's worst case; real embedding corpora are
    clustered, and on the deterministic mixture-of-Gaussians fixture
    (2000 vecs, 16 imbalanced components, integer-quantized) the
    quality story must hold at the distribution ANN actually serves.
    Measured values in SCALE.md; fixed seed, no RNG at query time."""
    from pyspark.sql import functions as F

    from aistore_spark.functions.ann_fixtures import clustered_embeddings_df
    from aistore_spark.operators import simsearch

    emb = clustered_embeddings_df(spark, n=2000).cache()
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    cents = emb.filter(F.col("vec_id") < 16)
    truth = (
        simsearch.brute_force_topk(emb, queries, k=10)
        .select("query_id", "neighbor_id")
        .cache()
    )
    nt = truth.count()

    def recall(df):
        return (
            df.select("query_id", "neighbor_id")
            .join(truth, ["query_id", "neighbor_id"])
            .count()
            / nt
        )

    # cluster structure is what IVF exploits: 2 of 16 probes suffice
    # (measured 1.000; floor leaves margin for param drift only)
    assert recall(
        simsearch.ivf_topk(emb, cents, queries, k=10, nprobe=2)
    ) >= 0.95
    # sign-LSH leaves its bucket-share line once vectors correlate:
    # single-probe 0.40 (vs 0.02 i.i.d.), multiprobe r=1 0.815
    assert recall(
        simsearch.lsh_topk(emb, queries, k=10, n_bits=8, multiprobe=1)
    ) >= 0.75
    # the refine tier needs a deeper shortlist on clustered data (ADC
    # ranking error concentrates inside dense cells): sl=100 measures
    # 0.675, sl=250 repairs to 1.000. The floor is pinned on the SIZED
    # RULE (shortlist=None -> refine_shortlist_size: 1/5 of expected
    # probed mass, here 300), not a tuned constant — measured 1.000
    assert simsearch.refine_shortlist_size(2000, 16, 12, 10) == 300
    assert recall(
        simsearch.ivfpq_refine_topk(
            emb, cents, emb.filter(F.col("vec_id") < 64), queries,
            k=10, nprobe=12, m=8, dim=64, shortlist=None,
        )
    ) >= 0.95
    emb.unpersist()
    truth.unpersist()


def test_refine_shortlist_size_integer_rule():
    """The sizing rule is pure integer arithmetic (so SQL oracles
    reproduce it exactly): max(4k, ceil(frac * nprobe * n / cells))."""
    from aistore_spark.operators.simsearch import refine_shortlist_size

    # floor dominates small corpora
    assert refine_shortlist_size(500, 16, 4, 10) == 40
    # the clustered fixture's registered settings
    assert refine_shortlist_size(2000, 16, 12, 10) == 300
    # exact ceil, no float drift: 4*2001/80 = 100.05 -> 101
    assert refine_shortlist_size(2001, 16, 4, 10) == 101
    assert refine_shortlist_size(2000, 16, 4, 10) == 100
    # degenerate cell count guards
    assert refine_shortlist_size(1000, 0, 4, 10) == 800


def test_n_coarse_cells_integer_rule():
    """√N coarse-cell sizing (SCALE.md's production law made code):
    pure integer isqrt with a floor, so the SQL oracle's corrected
    floor(sqrt(double)) reproduces it exactly at every corpus size."""
    from aistore_spark.operators.simsearch import n_coarse_cells

    assert n_coarse_cells(0) == 16          # floor dominates
    assert n_coarse_cells(255) == 16        # isqrt(255)=15 < floor
    assert n_coarse_cells(256) == 16
    assert n_coarse_cells(2000) == 44       # the clustered fixture
    assert n_coarse_cells(20_000) == 141    # sf1 embeddings
    assert n_coarse_cells(200_000) == 447   # sf10 embeddings
    # exact at perfect squares and one below (float sqrt would drift)
    assert n_coarse_cells(10**12) == 10**6
    assert n_coarse_cells(10**12 - 1) == 10**6 - 1


def test_ann9d_sqrt_cells_recall_floor(spark):
    """ann9d's full chain on the clustered fixture: √N cells (44 at
    n=2000), stride seeding, ONE kmeans pass, sized shortlist — the
    quality floor must hold when the cell count GROWS with the corpus
    instead of staying at the 16 true centers (verdict-r10 #2).
    nprobe=20 per the measured sweep (8→0.595, 12→0.775, 16→0.870,
    20→0.985); floor leaves drift margin."""
    from pyspark.sql import functions as F

    from aistore_spark.functions.ann_fixtures import clustered_embeddings_df
    from aistore_spark.operators import simsearch

    emb = clustered_embeddings_df(spark, n=2000).cache()
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    truth = (
        simsearch.brute_force_topk(emb, queries, k=10)
        .select("query_id", "neighbor_id")
        .cache()
    )
    nt = truth.count()

    k_cells = simsearch.n_coarse_cells(2000)
    assert k_cells == 44
    stride = max(1, 2000 // k_cells)
    seeds = emb.filter(F.col("vec_id") % stride == 0)
    cents = simsearch.kmeans_centroid_frame(
        simsearch.kmeans_train(emb, seeds, iters=1)
    ).localCheckpoint(eager=True)

    hits = (
        simsearch.ivfpq_refine_topk(
            emb, cents, emb.filter(F.col("vec_id") < 64), queries,
            k=10, nprobe=20, m=8, dim=64, shortlist=None,
        )
        .select("query_id", "neighbor_id")
        .join(truth, ["query_id", "neighbor_id"])
        .count()
    )
    assert hits / nt >= 0.9
    emb.unpersist()
    truth.unpersist()


@settings(max_examples=200, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),  # query_id
            st.integers(0, 40),  # neighbor_id
            st.integers(0, 3),  # adc: few values, so ties span batches
            st.integers(0, 3),  # batch the row arrives in
        ),
        unique_by=lambda r: (r[0], r[1]),
        max_size=60,
    ),
    k=st.integers(1, 12),
)
def test_keep_best_equals_sorted_reference(rows, k):
    """The running per-partition top-k of the ADC kernels, folded over
    batches, keeps exactly the first *k* rows per query of one sort by
    (query_id, adc, neighbor_id), including for queries with fewer
    than *k* rows and for batches that arrive empty."""
    acc = None
    for b in range(4):
        batch = [r[:3] for r in rows if r[3] == b]
        cols = np.array(batch, dtype=np.int64).reshape(-1, 3).T
        acc = simsearch._keep_best(acc, tuple(cols), k)
    want, taken = [], {}
    for q, nb, adc, _ in sorted(rows, key=lambda r: (r[0], r[2], r[1])):
        taken[q] = taken.get(q, 0) + 1
        if taken[q] <= k:
            want.append((q, nb, adc))
    assert list(zip(*(c.tolist() for c in acc))) == want
