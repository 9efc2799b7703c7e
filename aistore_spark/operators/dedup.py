"""Deduplication for large-scale training-data pipelines.

Beyond-reference operators (SURVEY.md §7.8): the reference stores and
moves training data; a 100 TB corpus pipeline additionally needs
exact + near-duplicate detection before training. All variants below
are pure DataFrame/SQL ops over the ``documents`` table:

- exact: content-hash groupBy (one shuffle on the hash)
- shingling: word n-grams as the unit of similarity
- n-gram Jaccard: exact pairwise similarity via a shingle-inverted
  index self-join (the verification stage of a dedup pipeline)
- MinHash + LSH banding: the scale path — candidate pairs only from
  shared (band, min-hash) buckets, never an all-pairs product
- SimHash: per-doc bit-fingerprint from hashed term signs

Determinism: every hash is md5 (identical in Spark and DuckDB), every
score kept in exact integer form (Jaccard thresholds are compared via
cross-multiplication, not float division).

Scale notes (100 TB): shingling is a flatMap (no shuffle); the LSH
bucket join shuffles (band, hash) pairs — O(docs x bands) rows of a
few bytes; the Jaccard verify joins only LSH candidates to
per-document shingle arrays. The all-pairs variant here is the
test-scale oracle of the verify stage; never run it on a full corpus.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aistore_spark.util import numpy_column, pin, round_robin, spread


def exact_dedup(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: every doc flagged, canonical = min
    doc_id within its hash group. One hash-shuffle; at scale, group by
    a 128-bit digest, never the text itself.

    The digest is computed after :func:`~aistore_spark.util.spread`:
    a single-row-group corpus file (the fixture layout at every SF)
    scans as ONE task, so without it the md5 over the whole corpus
    runs on one core — measured 142 s at sf10 vs ~8 s spread. On a
    real many-file corpus the scan splits naturally and spread is a
    no-op."""
    w = Window.partitionBy("checksum")
    return spread(documents).select(
        F.col("doc_id"),
        F.md5(F.col(text_col)).alias("checksum"),
    ).select(
        "doc_id",
        "checksum",
        F.min("doc_id").over(w).alias("canonical_id"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_dup"),
        F.count("*").over(w).alias("group_size"),
    )


def shingles(
    documents: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Word n-gram shingles, one row per distinct (doc, shingle).

    CONTRACT (ADVICE-r16): input rows must be unique per ``id_col`` —
    the within-doc dedup below collapses duplicates only inside one
    row's array, so a caller passing duplicate doc_id ROWS gets
    duplicated (doc_id, shingle) rows, which inflates every
    downstream Jaccard count. Every corpus table in this engine is
    id-unique by construction; library callers with replayed/unioned
    inputs must dropDuplicates upstream.

    JVM-side only: split + sequence/transform + explode — no Python.

    Within-doc dedup is ``array_distinct`` BEFORE the explode (r16,
    guide §2.4 "remove shuffles outright"): doc ids are unique, so a
    post-explode ``.distinct()`` can only ever collapse rows within
    one document — the same set a local array dedup produces with no
    exchange. The old plan paid a full (doc_id, shingle) hash shuffle
    + two hash aggregates over the widest frame of the dd2 family;
    this one is map-only above the spread exchange.
    """
    documents = spread(documents)
    words = F.split(F.col(text_col), " ")
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return documents.select(
        F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle")
    )


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    any word ``n``-gram with a held-out test set (the standard
    pre-training hygiene pass — e.g. 13-gram overlap in GPT-3's
    published methodology; ``n`` is a knob because the synthetic docs
    are short).

    Returns one row per contaminated training doc: how many distinct
    test docs and shingles it collides with, and the smallest
    colliding test doc id.

    Scale shape: the test side is small (benchmarks are thousands of
    docs, not billions) — its hashed shingle set is **broadcast**, so
    the 100 TB train side is never shuffled by the probe; the only
    shuffle is the final per-train-doc rollup, map-side combinable.
    """
    tr = shingles(train, n=n).select(
        "doc_id", F.md5("shingle").alias("sh")
    )
    te = shingles(test, n=n).select(
        F.col("doc_id").alias("test_id"), F.md5("shingle").alias("sh")
    )
    hits = tr.join(F.broadcast(te), "sh")
    return hits.groupBy("doc_id").agg(
        F.countDistinct("test_id").alias("n_test_docs"),
        F.countDistinct("sh").alias("n_shingles"),
        F.min("test_id").alias("first_test_id"),
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 20,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every doc pair sharing at
    least one shingle; keep pairs with J >= num/den.

    The threshold compares ``common * den >= (|A|+|B|-common) * num``
    in exact integers — no float division anywhere, so the oracle
    matches bit-for-bit.
    """
    # the shingle subtree feeds three consumers (sizes, the shared-
    # shingle prune, and both join sides) — pin it or Spark recomputes
    # the split+explode+distinct chain per consumer (measured ~3x cost)
    sh = pin(shingles(documents, n=n))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # Shingles appearing in exactly one document can never produce a
    # pair — prune them before the self-join. At corpus scale this
    # removes the long tail (most shingles are unique), shrinking the
    # join input by an order of magnitude with zero output change.
    shared = sh.groupBy("shingle").agg(F.count("*").alias("_df")).filter(
        F.col("_df") > 1
    )
    sh2 = sh.join(shared.select("shingle"), "shingle", "left_semi")
    a = sh2.alias("a")
    b = sh2.alias("b")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("common") * threshold_den
            >= (F.col("n_a") + F.col("n_b") - F.col("common")) * threshold_num
        )
        .select("doc_a", "doc_b", "common", "n_a", "n_b")
    )


def jaccard_verify(
    documents: DataFrame,
    candidates: DataFrame,
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 20,
    shingles_df: DataFrame | None = None,
    candidates_distinct: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY on *candidates* pairs — the
    verify stage of the scale pipeline (``lsh_candidate_pairs`` →
    ``jaccard_verify``). Same integer threshold semantics and output
    columns as :func:`ngram_jaccard_pairs`, so pairs sharing no
    shingle are never reported.

    The shingle frame is grouped into one array per document; each
    candidate pair joins it on doc_a and on doc_b, and the counts are
    array sizes: ``common = size(array_intersect(ga, gb))``, ``n_a =
    size(ga)``, ``n_b = size(gb)``. Shuffle keys are doc ids only.
    Memory bound: the largest array holds one document's distinct
    shingles, bounded by the longest document, which is already one
    input row; no array grows with a key's row count. Every document
    is grouped, not only candidate documents, and over a cached
    shingle frame the grouping runs once per join side (Spark reuses
    no exchange above a cached relation).

    *shingles_df* (e.g. a pinned :func:`shingles` frame shared with
    the LSH stage) skips recomputing the shingles; its rows must be
    unique per (doc_id, shingle). ``candidates_distinct=True`` skips
    the pair-list ``distinct`` for a caller whose pairs are unique by
    construction; otherwise a duplicated pair would be reported twice.
    """
    cand = candidates.select("doc_a", "doc_b")
    if not candidates_distinct:
        cand = cand.distinct()
    base = shingles_df if shingles_df is not None else shingles(documents, n=n)
    per_doc = base.groupBy("doc_id").agg(F.collect_list("shingle").alias("g"))
    ga = per_doc.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga"))
    gb = per_doc.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("gb"))
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ga", "gb")).cast("bigint").alias("common"),
            F.size("ga").cast("bigint").alias("n_a"),
            F.size("gb").cast("bigint").alias("n_b"),
        )
        # common * den >= (n_a + n_b - common) * num, rearranged so that
        # `common` occurs once: Catalyst inlines it into the join
        # condition, and every occurrence there runs array_intersect
        # again. The floor of 1 drops pairs sharing no shingle when
        # num = 0 (n_a and n_b are >= 1 here, so it is inert otherwise).
        .filter(
            F.col("common") * (threshold_den + threshold_num)
            >= F.greatest((F.col("n_a") + F.col("n_b")) * threshold_num, F.lit(1))
        )
    )


def minhash_bands(
    documents: DataFrame,
    bands: int = 8,
    n: int = 3,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature, one row per band: the band's hash is
    ``min(md5(band || '|' || shingle))``. r=1 row per band (bands
    independent single-hash LSH)."""
    sh = shingles_df if shingles_df is not None else shingles(documents, n=n)
    # One pass over the shingle rows: all `bands` hashes are computed
    # per row and min-aggregated as separate columns (map-side partial
    # agg keeps the shuffle at one row per doc), then unpivoted. An
    # explode-by-band would shuffle `bands`x the rows for no benefit.
    aggs = [
        F.min(
            F.md5(F.concat(F.lit(f"{b}|"), F.col("shingle")))
        ).alias(f"_mh{b}")
        for b in range(bands)
    ]
    # PINNED (r16): min(<string md5>) has an immutable agg buffer, so
    # Spark plans this as SortAggregate+Sort (not HashAggregate) over
    # every shingle row — and the LSH self-join consumes this frame on
    # BOTH sides, which re-ran the whole chain twice per query before
    # the pin. per_doc is one short row per document (bands columns).
    per_doc = pin(sh.groupBy("doc_id").agg(*aggs))
    stack_args = ", ".join(f"{b}, _mh{b}" for b in range(bands))
    return per_doc.selectExpr(
        "doc_id", f"stack({bands}, {stack_args}) as (band, minhash)"
    ).withColumn("band", F.col("band").cast("int"))


def lsh_candidate_pairs(
    documents: DataFrame,
    bands: int = 8,
    n: int = 3,
    max_bucket: int | None = None,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing a (band, minhash)
    bucket in >= 1 band. The only shuffle keys are (band, minhash) —
    no all-pairs product ever materializes.

    ``max_bucket`` is the hot-bucket skew bound (SCALE.md §skew): a
    bucket of k docs yields O(k²) pairs, so near-dup *clusters* (the
    very thing dedup finds) create quadratic hot keys. When set,
    buckets larger than ``max_bucket`` are deterministically sub-split
    by a hash of doc_id into ceil(k/max) cells and pairs form only
    within a cell — bounded work per key, at a quantified recall cost
    on the split buckets (candidates can still surface via the other
    bands; that's why bands exist)."""
    mh = minhash_bands(documents, bands=bands, n=n, shingles_df=shingles_df)
    if max_bucket is not None:
        sizes = mh.groupBy("band", "minhash").agg(F.count("*").alias("_bk"))
        mh = mh.join(sizes, ["band", "minhash"]).withColumn(
            "_cell",
            F.when(
                F.col("_bk") > max_bucket,
                F.pmod(
                    F.xxhash64("doc_id"),
                    F.ceil(F.col("_bk") / max_bucket).cast("bigint"),
                ),
            ).otherwise(F.lit(0)),
        ).drop("_bk")
    else:
        mh = mh.withColumn("_cell", F.lit(0))
    a = mh.alias("a")
    b = mh.alias("b")
    return (
        a.join(b, ["band", "minhash", "_cell"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared_bands"))
    )


def verified_pairs(
    documents: DataFrame,
    bands: int = 8,
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 20,
    max_bucket: int | None = None,
) -> DataFrame:
    """The composed scale dedup pipeline — MinHash-LSH candidate
    generation → exact n-gram Jaccard verify — as ONE reusable frame.
    This is the shared edge/pair source for both the pair report (dd2)
    and connected-components grouping (dd7): a curation pipeline that
    wants both should build THIS once (see :func:`dup_pipeline`)
    rather than compose the two stages twice.

    One pinned shingle frame feeds the LSH stage and the verify stage
    (:func:`jaccard_verify`: per-document shingle arrays joined on doc
    ids, never on a shingle), so the split+explode+distinct chain
    executes once.
    """
    sh = pin(shingles(documents, n=n))
    cands = lsh_candidate_pairs(
        documents, bands=bands, n=n, max_bucket=max_bucket, shingles_df=sh
    )
    return jaccard_verify(
        documents,
        cands,
        n=n,
        threshold_num=threshold_num,
        threshold_den=threshold_den,
        shingles_df=sh,
        # lsh_candidate_pairs ends in groupBy(doc_a, doc_b) — unique
        # by construction, so the verify stage's guard distinct (one
        # full pair-set shuffle) is redundant here
        candidates_distinct=True,
    )


def dup_pipeline(
    documents: DataFrame,
    bands: int = 8,
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 20,
    max_bucket: int | None = None,
    max_iter: int = 25,
) -> tuple[DataFrame, DataFrame]:
    """Pipeline context for "pairs AND groups" consumers: returns
    ``(pairs, groups)`` where *pairs* is the PINNED
    :func:`verified_pairs` frame and *groups* is :func:`dup_groups`
    over it. Building *groups* is eager: the edge checkpoint fills the
    pin, so the LSH+verify stage (the most expensive dedup stage at
    scale) executes exactly once, verified by an executed-metrics test
    (tests/test_curation_extras.py). Call
    ``aistore_spark.util.release_cached()`` when done."""
    pairs = pin(
        verified_pairs(
            documents,
            bands=bands,
            n=n,
            threshold_num=threshold_num,
            threshold_den=threshold_den,
            max_bucket=max_bucket,
        )
    )
    groups = dup_groups(pairs, max_iter=max_iter)
    return pairs, groups


def simhash(documents: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash fingerprint: for nibble position j of md5(word), each
    word occurrence votes +1 if the hex digit >= 8 else -1; bit j is 1
    when the vote sum is >= 0. Returns ``(doc_id, simhash)`` with the
    fingerprint as a '0'/'1' string (cross-engine exact; near-dup docs
    differ in few bit positions).

    One md5 digest supplies 32 nibble positions; ``bits`` up to 64 is
    served by a second salted digest ``md5('#' || word)`` for
    positions 32..63 — the production 64-bit sizing stays one pass.
    """
    if bits > 64:
        raise ValueError(f"simhash supports at most 64 bits, got {bits}")
    # Single pass: one md5 (two for bits>32) per word occurrence, all
    # *bits* vote sums as parallel agg columns (partial/final combine;
    # no word x position row blow-up, shuffle carries `bits` ints/doc).
    #
    # UNCONDITIONAL round-robin before the explode (r15 dd6b sf100
    # triage): the vote work — 2 md5 + `bits` substring-CASEs per word
    # occurrence — runs in the partial agg, which inherits the SCAN's
    # splits. Row groups are the split atoms, so a corpus written with
    # few/giant row groups caps the whole fingerprint stage at the
    # row-group count regardless of maxPartitionBytes (measured: 4
    # busy tasks of 32, 783 s wall, on a 5-row-group 500k-doc file —
    # and spread()'s partition-COUNT heuristic cannot see it, because
    # Spark still reports 32 byte-range splits, 27 of them empty).
    # The exchange ships each doc row once — linear bytes, ~2 orders
    # cheaper than the per-word compute it parallelizes; same seam and
    # rationale as simsearch.lsh_topk / ivf_topk (r11/r14 fixes).
    docs = round_robin(documents)
    # one translate folds each hex digest into a '0'/'1' mask (digit
    # >= 8 ⟺ the nibble's high bit) so the per-bit vote is a single
    # char compare instead of an 8-way isin — 64 fewer set-membership
    # probes per word occurrence (r16, guide §1.2 per-task work; md5
    # hex is lowercase, so the 16-char mapping is total)
    mask = F.translate(
        F.md5("word"), "0123456789abcdef", "0000000011111111"
    )
    cols = [mask.alias("digest")]
    if bits > 32:
        cols.append(
            F.translate(
                F.md5(F.concat(F.lit("#"), F.col("word"))),
                "0123456789abcdef",
                "0000000011111111",
            ).alias("digest2")
        )
    digests = (
        docs
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
        .select("doc_id", *cols)
    )
    vote = lambda j: F.when(  # noqa: E731
        F.substring(
            F.col("digest" if j < 32 else "digest2"), (j % 32) + 1, 1
        )
        == "1",
        1,
    ).otherwise(-1)
    sums = digests.groupBy("doc_id").agg(
        *[F.sum(vote(j)).alias(f"s{j}") for j in range(bits)]
    )
    return sums.select(
        "doc_id",
        F.concat(
            *[
                F.when(F.col(f"s{j}") >= 0, F.lit("1")).otherwise(F.lit("0"))
                for j in range(bits)
            ]
        ).alias("simhash"),
    )


def simhash_pairs(
    documents: DataFrame,
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs: band the *bits*-bit fingerprint
    into *bands* equal slices, candidate pairs share at least one
    exact band, then verify exact Hamming distance <= *max_hamming*
    on candidates only.

    Recall is complete by pigeonhole whenever ``max_hamming < bands``:
    a pair within distance d < bands cannot differ in every one of the
    bands, so it must share one and is always a candidate. (Production
    sizing: 64-bit fingerprints, 4x16-bit bands; same plan.)

    Scale shape: the only shuffle keys are (band, band_val) — O(docs x
    bands) short rows; the Hamming verify runs on candidates only,
    entirely in codegen (no Python).

    ``max_bucket`` is the hot-bucket bound, and — unlike the LSH
    variant's lossy cell split — it is LOSSLESS here because simhash
    advertises pigeonhole-complete recall: a (band, band_val) bucket
    of c > max_bucket docs is split into nb = ceil(c/max_bucket)
    blocks by a hash of doc_id and the bucket's pair product is
    covered by the complete nb x nb upper-triangular cell grid (the
    2-D blocked self-join of the embedding scorer): side A replicates
    a block-i row into cells (i, i..nb), side B into cells (0..i, i),
    so every cross pair meets in exactly one cell. Output pairs are
    IDENTICAL to the unsplit join; what changes is that a hot
    bucket's O(c²) join output is produced by nb(nb+1)/2 bounded
    tasks instead of one — no single-task sort/spill knee at scale.
    """
    if bits > 64:
        raise ValueError(f"simhash fingerprint is one bigint; bits={bits} > 64")
    width = bits // bands
    # Fingerprint as one bigint: band extraction is shift+mask, the
    # Hamming verify is bit_count(xor) — one codegen op per candidate
    # instead of `bits` string compares. Verify runs BEFORE the pair
    # dedup, so the distinct shuffles only matching pairs (x<=bands),
    # never the full candidate product of hot bands.
    # Signed fold (shiftleft|or), NOT conv(.., 2, 10): conv returns an
    # unsigned decimal string, so at bits=64 a set top bit exceeds
    # bigint max and casts to NULL, silently dropping those docs. The
    # shift fold wraps to the signed bigint with the same bit pattern
    # and never overflows (shifts are exempt from ANSI overflow checks).
    fp = simhash(documents, bits=bits).select(
        "doc_id",
        F.expr(
            f"aggregate(sequence(1, {bits}), 0L, (acc, i) -> "
            "shiftleft(acc, 1) | if(substring(simhash, i, 1) = '1', 1L, 0L))"
        ).alias("fp"),
    )
    spark = documents.sparkSession
    bidx = spark.range(bands).select(F.col("id").cast("int").alias("band"))
    mask = (1 << width) - 1
    banded = fp.crossJoin(F.broadcast(bidx)).select(
        "doc_id",
        "fp",
        "band",
        F.expr(
            f"shiftright(fp, ({bands} - 1 - band) * {width}) & {mask}"
        ).alias("band_val"),
    )
    if max_bucket is not None:
        # The banded frame feeds BOTH the hot-key count agg and the
        # self-join; without pinning, Catalyst executes the whole
        # fingerprint pipeline (two md5 digests per word occurrence)
        # twice — measured 1.8x on the production sizing.
        from aistore_spark.util import pin

        banded = pin(banded)
        # Lossless hot-bucket split: block-i rows cover cells (i, j>=i)
        # on side A and (i<=j, j) on side B; a pair in blocks (i, j)
        # with i <= j meets exactly once, in cell (i, j). Off-diagonal
        # cells keep every A x B pair (normalized via least/greatest);
        # the diagonal orders by doc_id as before. The count agg +
        # join-back shuffles only the O(docs x bands) banded rows, on
        # the same key the join itself needs.
        # Only the HOT keys join back, as a broadcast: there are at
        # most (docs x bands) / max_bucket of them by definition, so
        # the table is always small, and the cold path stays the
        # original shuffle-free banded frame (a left broadcast join
        # adds no exchange).
        hot = (
            banded.groupBy("band", "band_val")
            .agg(F.count("*").alias("_bk"))
            .filter(F.col("_bk") > max_bucket)
            .withColumn(
                "_nb_h", F.ceil(F.col("_bk") / max_bucket).cast("int")
            )
            .drop("_bk")
        )
        blocked = (
            banded.join(F.broadcast(hot), ["band", "band_val"], "left")
            .withColumn("_nb", F.coalesce(F.col("_nb_h"), F.lit(1)))
            .withColumn(
                "_blk",
                F.pmod(F.xxhash64("doc_id"), F.col("_nb")).cast("int"),
            )
            .drop("_nb_h")
        )
        a = (
            blocked.withColumn(
                "_j", F.explode(F.expr("sequence(_blk, _nb - 1)"))
            )
            .withColumnRenamed("_blk", "_i")
            .alias("a")
        )
        b = (
            blocked.withColumn("_i", F.explode(F.expr("sequence(0, _blk)")))
            .withColumnRenamed("_blk", "_j")
            .alias("b")
        )
        pairs = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a._i") == F.col("b._i"))
            & (F.col("a._j") == F.col("b._j"))
            & (
                (F.col("a._i") < F.col("a._j"))
                | (F.col("a.doc_id") < F.col("b.doc_id"))
            ),
        ).select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
            .cast("bigint")
            .alias("hamming"),
        )
    else:
        # both self-join sides consume the banded frame — pin it or
        # the whole fingerprint pipeline (two md5 digests + `bits`
        # vote sums per word occurrence) executes twice (r16; the
        # max_bucket path above has pinned for the same reason since
        # its hot-key agg landed)
        from aistore_spark.util import pin

        banded = pin(banded)
        a, b = banded.alias("a"), banded.alias("b")
        pairs = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
            .cast("bigint")
            .alias("hamming"),
        )
    return (
        pairs.filter(F.col("hamming") <= max_hamming)
        .groupBy("doc_a", "doc_b")
        .agg(F.min("hamming").alias("hamming"))
    )


def _local_edge_budget(spark) -> int:
    """Edge count the driver union-find may collect: sized from
    ``spark.driver.memory`` (numpy peak is ~64 B/edge through
    unique/searchsorted; budget 256 B/edge for slack), clamped to
    [500k, 8M] so a mis-set config can neither disable the fast path
    nor OOM the driver."""
    mem = spark.conf.get("spark.driver.memory", "2g") or "2g"
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    m = mem.strip().lower()
    try:
        if m[-1] in units:
            nbytes = int(float(m[:-1])) * units[m[-1]]
        else:
            # Spark memory strings without a unit suffix mean MiB
            # ("4096" == "4096m"), not bytes — match that semantics so
            # the budget isn't off by 2^20.
            nbytes = int(float(m)) * (1 << 20)
    except ValueError:
        nbytes = 2 << 30
    return max(500_000, min(8_000_000, nbytes // 256))


def dup_groups(
    pairs: DataFrame,
    max_iter: int = 25,
    local_edges_threshold: int | None = None,
) -> DataFrame:
    """Connected components over near-duplicate pairs — the grouping
    step of a dedup pipeline: verified pairs (from :func:`simhash_pairs`
    / :func:`ngram_jaccard_pairs` on LSH candidates) are merged into
    transitive duplicate groups, so one canonical document (the min
    doc_id) can be kept per group.

    Hybrid strategy (the standard CC cutover): the doubled edge frame
    is checkpointed, then ONE bounded Arrow collect of at most
    ``local_edges_threshold + 1`` edges both picks the path and carries
    the graph (default threshold derived from ``spark.driver.memory``
    via :func:`_local_edge_budget`, clamped to [500k, 8M]):

    - **Small graph** (≤ ``local_edges_threshold`` directed edges):
      array union-find on the driver over the collected int64 arrays —
      ~16 B/edge plus bounded temporaries, never per-row ``Row``
      objects — and no further Spark job. Verified near-dup graphs
      are sparse — edges ≈ O(actual dups) — so even a billion-doc
      corpus with 1% dup chains often lands here, and the bounded
      collect replaces diameter-many distributed rounds of pure
      scheduling overhead (profiled: 900-node graph, 9 rounds, >10×
      the local cost).
    - **Large graph** (the collect came back full): iterative
      min-label propagation over the checkpointed edges — every node
      repeatedly takes the minimum label over itself and its
      neighbors until fixpoint. Each round is one edge join + one
      min-aggregation, O(E) shuffled rows of two ints; lineage is
      truncated every round (``localCheckpoint``) so the plan does
      not grow with iterations; on a cluster, use a checkpoint dir.

    Both paths produce identical labels (min doc_id per component).

    Returns ``(doc_id, group_id)`` for every document that appears in
    at least one pair (singletons are their own group by definition and
    are omitted — at corpus scale they are the overwhelming majority).
    """
    # Both edge directions from ONE pass over the pair frame (r16): the
    # previous self-union referenced the pairs subtree twice, so an
    # unpinned caller (dd7) executed the whole LSH→verify pipeline
    # twice. explode-of-two-structs emits the same row multiset with a
    # single reference — guide §2.4, same rows, one evaluation.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                ),
                F.struct(
                    F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    edges = edges.distinct().localCheckpoint(eager=True)

    if local_edges_threshold is None:
        local_edges_threshold = _local_edge_budget(pairs.sparkSession)
    table = edges.limit(local_edges_threshold + 1).toArrow()
    if table.num_rows <= local_edges_threshold:
        src = numpy_column(table["src"].combine_chunks()).astype(np.int64)
        dst = numpy_column(table["dst"].combine_chunks()).astype(np.int64)
        nodes = np.unique(src)  # edges are doubled, so src covers all
        si = np.searchsorted(nodes, src)
        di = np.searchsorted(nodes, dst)
        parent = np.arange(len(nodes), dtype=np.int64)

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(si.tolist(), di.tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                # min node id wins -> min-label groups (nodes sorted,
                # so the smaller index IS the smaller doc_id)
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        roots = np.array([find(i) for i in range(len(nodes))], dtype=np.int64)
        out = pa.table({"doc_id": nodes, "group_id": nodes[roots]})
        return pairs.sparkSession.createDataFrame(
            out, "doc_id bigint, group_id bigint"
        )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # Ride the previous label through the min-agg instead of
        # re-joining new-vs-old afterwards: only the self row carries a
        # non-null `old`, and it is unique per doc, so min(old) is the
        # previous label — one join + one shuffle agg per round total.
        nbr = edges.join(
            labels.select(F.col("doc_id").alias("dst"), "label"), "dst"
        ).select(
            F.col("src").alias("doc_id"),
            "label",
            F.lit(None).cast("bigint").alias("old"),
        )
        step = (
            labels.withColumn("old", F.col("label"))
            .unionByName(nbr)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"), F.min("old").alias("old"))
            .localCheckpoint(eager=True)
        )
        changed = step.filter(F.col("label") != F.col("old")).count()
        labels = step.select("doc_id", "label")
        if changed == 0:
            break
    else:
        # Returning non-fixpoint labels would silently split one
        # duplicate group into several (documents kept that should
        # have been deduped). A >max_iter diameter means the pair
        # graph has long chains — not the star-shaped clusters near-dup
        # verification produces — so surface it instead of guessing.
        raise RuntimeError(
            f"dup_groups did not converge within {max_iter} iterations "
            f"({changed} labels still changing); raise max_iter or "
            "checkpoint intermediate labels"
        )
    return labels.select("doc_id", F.col("label").alias("group_id"))


def dup_substring_spans(
    documents: DataFrame,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicate-substring detection: find every word ``k``-gram
    occurring at least ``min_count`` times corpus-wide, then merge each
    document's duplicated gram positions into maximal spans — the
    substring-level dedup pass (ExactSubstr in the training-data-dedup
    literature) that catches boilerplate shared between otherwise
    distinct documents, which document-level digests (dd1) and shingle
    Jaccard (dd2) both miss.

    Returns one row per document: (doc_id, dl, n_spans, dup_tokens,
    max_span) — all exact integers, docs with no duplicated substring
    included with zeros.

    Mechanics: an occurrence at 1-based word position ``i`` covers
    tokens ``[i, i+k-1]``; occurrences sorted per doc merge into one
    span whenever the next start is within ``k`` of the previous
    (equal-length intervals make the lag test exact — interval ends are
    monotone in starts). Gaps-and-islands with a per-doc window, same
    shape as ev2 sessionization.

    Scale (100 TB): gram hashing is a map-side flatMap over the corpus
    scan (positions come from ``posexplode``, no join against a
    position table); the only wide shuffles are the gram-frequency agg
    and the occurrence⋈duplicated-gram join, both keyed by the 128-bit
    gram digest (uniform — no skew); the span merge is a window
    partitioned by doc_id, bounded by document length. Nothing is
    quadratic in corpus size: cost tracks total token count plus the
    (by-definition small) duplicated-occurrence set.
    """
    ws = F.split(F.col(text_col), " ")
    docs = spread(documents).select(
        "doc_id", F.size(ws).cast("bigint").alias("dl"), ws.alias("w")
    )
    grams = (
        docs.where(F.col("dl") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), (F.col("dl") - k + 1).cast("int")),
                    lambda i: F.md5(F.concat_ws(" ", F.slice("w", i, k))),
                )
            ).alias("i0", "gh"),
        )
        .select("doc_id", (F.col("i0") + 1).alias("i"), "gh")
    )
    # ONE gram pass (r17, guide §2.4): the previous agg+join
    # referenced the grams subtree twice — the corpus-wide k-gram
    # hashing (split + md5 per position) executed once into the
    # frequency aggregate and again into the occurrence join. A count
    # window over the same gh shuffle keeps every occurrence row next
    # to its corpus-wide count in a single pass; the filter is
    # identical, so the (doc_id, i) multiset is unchanged.
    occ = (
        grams.withColumn(
            "n_occ", F.count("*").over(Window.partitionBy("gh"))
        )
        .where(F.col("n_occ") >= min_count)
        .select("doc_id", "i")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("i")
    flagged = occ.withColumn(
        "f",
        F.when(
            F.lag("i").over(w_doc).isNull()
            | (F.col("i") > F.lag("i").over(w_doc) + k),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "island", F.sum("f").over(w_doc.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = islands.groupBy("doc_id", "island").agg(
        (F.max("i") - F.min("i") + k).alias("span_len")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum("span_len").cast("bigint").alias("dup_tokens"),
        F.max("span_len").cast("bigint").alias("max_span"),
    )
    return (
        docs.select("doc_id", "dl")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "dl",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            F.coalesce("max_span", F.lit(0)).cast("bigint").alias("max_span"),
        )
    )


def bloom_bits(
    df: DataFrame, digest_col: str = "digest", m_bits: int = 1024, k: int = 5
) -> DataFrame:
    """Distinct Bloom-filter bit positions set by ``df``'s digests:
    position_j(d) = md5_bucket(f"b{j}:" + d, m_bits) for j in [0, k).
    Kept as a (pos) frame rather than a packed bitmap so membership is
    a join — the engine-portable formulation; a deployment would fold
    the same positions into an m-bit bitmap via bit_or aggregation and
    broadcast it (m = 2^33 bits is 1 GiB at billion-document scale)."""
    from aistore_spark.util import md5_bucket

    pos = F.array(
        *[
            md5_bucket(F.concat(F.lit(f"b{j}:"), F.col(digest_col)), m_bits)
            for j in range(k)
        ]
    )
    return df.select(F.explode(pos).alias("pos")).distinct()


def bloom_probe(
    build: DataFrame,
    probe: DataFrame,
    digest_col: str = "digest",
    id_col: str = "doc_id",
    m_bits: int = 1024,
    k: int = 5,
) -> DataFrame:
    """Bloom-filter "seen before?" probe — the incremental-ingest dedup
    primitive: a compact filter built over the already-ingested corpus
    answers membership for every new document with zero false
    negatives and a bounded false-positive rate, so only Bloom-positive
    docs pay the exact-verification join.

    Returns (doc_id, bloom_hit, actual_dup) for every probe row, both
    flags 0/1 BIGINT: ``bloom_hit`` = all k positions present in the
    build-side filter, ``actual_dup`` = digest exactly present in the
    build side (ground truth, so the false-positive behavior is
    visible: bloom_hit=1, actual_dup=0).

    Scale: the build side is one distinct-positions pass (≤ m_bits
    rows however large the corpus); probe membership is a
    positions-sized broadcast join + an all-k min agg per probe doc;
    the exact-verify join runs on digests (128-bit keys, uniform).
    """
    bits = bloom_bits(build, digest_col, m_bits, k).withColumn(
        "hit", F.lit(1)
    )
    from aistore_spark.util import md5_bucket

    probe_pos = probe.select(
        id_col,
        digest_col,
        F.explode(
            F.array(
                *[
                    md5_bucket(
                        F.concat(F.lit(f"b{j}:"), F.col(digest_col)), m_bits
                    )
                    for j in range(k)
                ]
            )
        ).alias("pos"),
    )
    hits = (
        probe_pos.join(F.broadcast(bits), "pos", "left")
        .groupBy(id_col, digest_col)
        .agg(F.min(F.coalesce("hit", F.lit(0))).cast("bigint").alias("bloom_hit"))
    )
    seen = build.select(F.col(digest_col).alias("_seen")).distinct()
    return (
        hits.join(seen, hits[digest_col] == seen["_seen"], "left")
        .select(
            id_col,
            "bloom_hit",
            F.when(F.col("_seen").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("actual_dup"),
        )
    )
