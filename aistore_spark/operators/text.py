"""Text analysis for training-data pipelines (beyond-reference,
SURVEY.md §7.8): token counting, quality scoring, language-ID
heuristic, document fingerprinting. All JVM-side column expressions —
no Python in the hot path — so they run at scan speed on 100 TB.

Determinism: ratios are ``round(int/int, 6)``; hashes are md5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aistore_spark.util import local_frame, spread

#: tiny per-language marker-word lists for the n-gram/stopword
#: language-ID heuristic (argmax of marker hits; ties resolve in this
#: tuple order).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "que", "es"),
    "fr": ("le", "la", "de", "et", "est"),
    "zh": ("de", "shi", "le", "zai", "he"),
}

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")


def token_stats(documents: DataFrame) -> DataFrame:
    """Whitespace token counts + distinct-token counts + char stats."""
    words = F.split(F.col("text"), " ")
    return documents.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(words)).cast("bigint").alias("n_uniq_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Heuristic quality signals: token count, stopword ratio,
    mean token length, repetition ratio (1 - uniq/total). Exact
    integer counts; ratios rounded to 6 places."""
    words = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(words).cast("bigint")
    n_uniq = F.size(F.array_distinct(words)).cast("bigint")
    n_stop = F.size(
        F.filter(words, lambda w: F.array_contains(stop_arr, w))
    ).cast("bigint")
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        F.round(n_stop.cast("double") / n_tokens, 6).alias("stop_ratio"),
        F.round(
            (F.length("text") - n_tokens + 1).cast("double") / n_tokens, 6
        ).alias("mean_token_len"),
        F.round(F.lit(1.0) - n_uniq.cast("double") / n_tokens, 6).alias(
            "repetition"
        ),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Marker-word language-ID heuristic: count hits per language's
    marker list; predict the argmax (ties resolve in LANG_MARKERS
    order). Returns hits per language + prediction + agreement with
    the labeled ``lang`` column."""
    words = F.split(F.col("text"), " ")
    hit_cols = []
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        hit_cols.append(
            F.size(F.filter(words, lambda w: F.array_contains(arr, w)))
            .cast("bigint")
            .alias(f"hits_{lang}")
        )
    df = documents.select("doc_id", F.col("lang").alias("label"), *hit_cols)
    pred = None
    best = None
    for lang in LANG_MARKERS:
        c = F.col(f"hits_{lang}")
        if pred is None:
            pred, best = F.lit(lang), c
        else:
            pred = F.when(c > best, F.lit(lang)).otherwise(pred)
            best = F.when(c > best, c).otherwise(best)
    return df.select(
        "doc_id",
        "label",
        *[F.col(f"hits_{lang}") for lang in LANG_MARKERS],
        pred.alias("pred_lang"),
        (pred == F.col("label")).alias("agree"),
    )


#: distinct-stopword presence list for the Gopher-style naturalness
#: rule (Rae et al. 2021, "Scaling Language Models", table A1 — public
#: paper, re-implemented fresh). Gopher uses English function words;
#: same list as :data:`STOPWORDS` so the presence rule discriminates
#: on this corpus too.
GOPHER_STOP = STOPWORDS


def gopher_quality(
    documents: DataFrame,
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_wl: float = 3.0,
    max_mean_wl: float = 10.0,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
    max_hash_ratio: float = 0.1,
) -> DataFrame:
    """Gopher-style per-document quality rules, as pure JVM column
    expressions (scan-speed at 100 TB — no Python, no shuffle):

    - word-count bounds,
    - mean word length bounds,
    - fraction of words containing a letter,
    - >= ``min_stop_hits`` distinct stopwords present,
    - '#' symbol-to-word ratio cap.

    Returns one row per doc with each rule's pass bit and the overall
    ``keep`` verdict; thresholds compare exact integer counts scaled by
    the denominator (no float ratios in the predicate), so the verdict
    is engine-portable.
    """
    words = F.split(F.col("text"), " ")
    n_words = F.size(words).cast("bigint")
    sum_wl = (F.length("text") - n_words + 1).cast("bigint")
    n_alpha = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    ).cast("bigint")
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOP])
    n_stop = F.size(
        F.array_intersect(F.array_distinct(words), stop_arr)
    ).cast("bigint")
    n_hash = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
    ).cast("bigint")
    ok_words = (n_words >= min_words) & (n_words <= max_words)
    # mean_wl in [3, 10]  <=>  3*n <= sum_wl <= 10*n (integer-exact)
    ok_wl = (sum_wl >= F.lit(int(min_mean_wl)) * n_words) & (
        sum_wl <= F.lit(int(max_mean_wl)) * n_words
    )
    # alpha_frac >= 0.8  <=>  10*n_alpha >= 8*n_words
    ok_alpha = n_alpha * 10 >= n_words * F.lit(int(min_alpha_frac * 10))
    ok_stop = n_stop >= min_stop_hits
    # hash_ratio <= max  <=>  10*n_hash <= 10*max*n_words (integer-exact)
    ok_sym = n_hash * 10 <= n_words * F.lit(int(max_hash_ratio * 10))
    return documents.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        F.round(sum_wl.cast("double") / n_words, 6).alias("mean_word_len"),
        n_alpha.alias("n_alpha_words"),
        n_stop.alias("n_stop_hits"),
        ok_words.alias("ok_words"),
        ok_wl.alias("ok_word_len"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stopwords"),
        ok_sym.alias("ok_symbols"),
        (ok_words & ok_wl & ok_alpha & ok_stop & ok_sym).alias("keep"),
    )


def fingerprint(documents: DataFrame, n: int = 3) -> DataFrame:
    """Document fingerprints: full-content md5 (exact dedup key) and a
    1-permutation MinHash over word n-gram shingles (robust to small
    edits — the rolling-hash winnowing shape)."""
    documents = spread(documents)
    words = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return documents.select(
        "doc_id",
        F.md5(F.lower(F.col("text"))).alias("content_md5"),
        F.array_min(F.transform(grams, F.md5)).alias("shingle_minhash"),
    )


def repetition_stats(
    documents: DataFrame,
    max_top_word_pct: int = 10,
    max_dup_bigram_pct: int = 5,
    max_dup_trigram_occ: int = 0,
) -> DataFrame:
    """Gopher-style repetition-removal rules (Rae et al. 2021 §A1.1,
    re-implemented fresh): per document, the most-frequent word's share,
    the most-frequent bigram's share, and the number of n-gram
    occurrences belonging to within-doc duplicated bigrams/trigrams —
    the standard "looping text" filters in pretraining curation.

    Rule bits compare integer counts scaled by the denominator (no
    float ratios in the predicate), so verdicts are engine-portable:

    - ``ok_top_word``:    top word occurrences <= max_top_word_pct% of words
    - ``ok_dup_bigram``:  occurrences in duplicated bigrams <= max_dup_bigram_pct%
    - ``ok_dup_trigram``: occurrences in duplicated trigrams <= max_dup_trigram_occ

    Scale shape: grams explode map-side; both aggregations are keyed by
    ``(doc_id, gram)`` then ``doc_id`` — map-side-combinable shuffles
    proportional to corpus token count, the same cost class as tx1.
    No window, no collect, no Python.
    """
    ws = F.split(F.col("text"), " ")
    # zip_with pads the shorter side with null; concat_ws would SKIP the
    # null and emit the bare last word as a phantom bigram (n_bigrams ==
    # n_words), so build the gram with a null-propagating when+concat
    bigrams = F.filter(
        F.zip_with(
            ws,
            F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(1))),
            lambda a, b: F.when(
                a.isNotNull() & b.isNotNull(), F.concat(a, F.lit(" "), b)
            ),
        ),
        lambda x: x.isNotNull(),
    )
    trigrams = F.filter(
        F.zip_with(
            F.zip_with(
                ws,
                F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(1))),
                lambda a, b: F.when(
                    a.isNotNull() & b.isNotNull(), F.concat(a, F.lit(" "), b)
                ),
            ),
            F.slice(ws, 3, F.greatest(F.size(ws) - 2, F.lit(1))),
            lambda ab, c: F.when(
                ab.isNotNull() & c.isNotNull(), F.concat(ab, F.lit(" "), c)
            ),
        ),
        lambda x: x.isNotNull(),
    )
    # ONE corpus pass for all three gram kinds (r17, guide §2.4): the
    # previous three explode→agg chains each re-scanned and re-split
    # the corpus, shuffled (doc, gram) three times, then re-joined on
    # doc_id. Tagging each gram with its kind (words cannot contain
    # spaces, but the tag keeps the grouping airtight) folds them into
    # one explode, one (doc, kind, gram) count, and one per-doc
    # conditional aggregate — same total shuffle bytes, one scan, no
    # joins. Per-kind values are identical: max/sum over the kind's
    # rows equal the old per-kind aggregates, and a doc with no
    # bigrams/trigrams has no kind-2/3 rows, exactly as the old left
    # joins produced nulls (coalesced below, unchanged).
    tag = lambda kind: lambda g: F.struct(  # noqa: E731
        F.lit(kind).cast("int").alias("k"), g.alias("g")
    )
    tagged = documents.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(ws, tag(1)),
                F.transform(bigrams, tag(2)),
                F.transform(trigrams, tag(3)),
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.k").alias("k"), F.col("e.g").alias("g"))
    k = F.col("k")
    cnt = F.col("count")
    joined = (
        tagged.groupBy("doc_id", "k", "g")
        .count()
        .groupBy("doc_id")
        .agg(
            F.max(F.when(k == 1, cnt)).cast("bigint").alias("top_word_n"),
            F.sum(F.when(k == 1, cnt)).cast("bigint").alias("n_words"),
            F.max(F.when(k == 2, cnt)).cast("bigint").alias("top_bigram_n"),
            F.sum(F.when((k == 2) & (cnt > 1), cnt))
            .cast("bigint")
            .alias("dup_bigram_occ"),
            F.sum(F.when(k == 2, cnt)).cast("bigint").alias("n_bigrams"),
            F.sum(F.when((k == 3) & (cnt > 1), cnt))
            .cast("bigint")
            .alias("dup_trigram_occ"),
        )
    )
    ok_w = F.col("top_word_n") * 100 <= F.col("n_words") * max_top_word_pct
    # single-word docs have no bigrams at all (null after the left
    # join): vacuously ok, not null-propagated into `keep`
    ok_b = (
        F.coalesce("dup_bigram_occ", F.lit(0)) * 100
        <= F.coalesce("n_bigrams", F.lit(0)) * max_dup_bigram_pct
    )
    ok_t = F.coalesce(F.col("dup_trigram_occ"), F.lit(0)) <= max_dup_trigram_occ
    return joined.select(
        "doc_id",
        "n_words",
        "top_word_n",
        F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.coalesce("top_bigram_n", F.lit(0)).cast("bigint").alias("top_bigram_n"),
        F.coalesce("dup_bigram_occ", F.lit(0)).cast("bigint").alias("dup_bigram_occ"),
        F.coalesce("dup_trigram_occ", F.lit(0))
        .cast("bigint")
        .alias("dup_trigram_occ"),
        ok_w.alias("ok_top_word"),
        ok_b.alias("ok_dup_bigram"),
        ok_t.alias("ok_dup_trigram"),
        (ok_w & ok_b & ok_t).alias("keep"),
    )


#: redaction patterns shared by the Spark and oracle sides — RE2-safe
#: subset (no backreferences / lookaround) so Java regex and DuckDB's
#: RE2 agree match-for-match.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"555-[0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def bigram_familiarity(documents: DataFrame) -> DataFrame:
    """Corpus-empirical bigram "language model" familiarity score —
    the integer-exact cousin of KenLM perplexity filtering in
    pretraining curation: each document is scored by how common its
    word bigrams are ACROSS the corpus. Garbled text (OCR noise,
    wrong-segmentation, binary-as-text) scores near the minimum
    because its bigrams appear nowhere else; boilerplate scores very
    high because its bigrams repeat corpus-wide.

    Per document with >= 1 bigram:

    - ``n_bigrams``     — bigram occurrences in the doc
    - ``familiarity``   — sum over occurrences of the corpus-wide
      occurrence count of that bigram (>= n_bigrams by construction)
    - ``mean_familiarity`` — ``familiarity div n_bigrams`` (floor)

    All counts are integers, so the score is engine-portable with no
    float/log drift (a real LM uses log-probs; the empirical count sum
    is monotone in the same signal and hash-checkable).

    Scale shape: bigrams explode map-side; ONE shuffle keyed by bigram
    feeds a count window that attaches the corpus-wide occurrence count
    to every occurrence row, then a per-doc rollup (map-side
    combinable). There is no partial aggregate below the bigram
    exchange and no skew mitigation: every occurrence of a hot
    boilerplate bigram lands in one window partition, so that task's
    buffered rows and time grow with the bigram's corpus-wide count.
    Cost class = tx1.
    """
    ws = F.split(F.col("text"), " ")
    bigrams = F.filter(
        F.zip_with(
            ws,
            F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(1))),
            lambda a, b: F.when(
                a.isNotNull() & b.isNotNull(), F.concat(a, F.lit(" "), b)
            ),
        ),
        lambda x: x.isNotNull(),
    )
    occ = documents.select(
        "doc_id", F.explode(bigrams).alias("bigram")
    )
    # ONE bigram pass (r17, guide §2.4, same transform as
    # dup_substring_spans): the count-agg + probe-join form referenced
    # the explode subtree twice — the corpus split + bigram explode
    # executed once into the frequency aggregate and again into the
    # join. A count window over the same bigram shuffle attaches the
    # corpus-wide occurrence count to every occurrence row in a single
    # pass; the (doc_id, _df) multiset is exactly the join's output.
    from pyspark.sql import Window as _W

    return (
        occ.withColumn(
            "_df", F.count("*").over(_W.partitionBy("bigram"))
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("_df").cast("bigint").alias("familiarity"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "familiarity",
            F.expr("familiarity div n_bigrams").alias("mean_familiarity"),
        )
    )


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction for training-data hygiene: emails, phone numbers
    and IPv4 addresses are replaced with typed placeholder tokens and
    counted. Patterns are deliberately in the RE2-compatible subset so
    any engine pair agrees on match boundaries.

    Order matters: emails first (an email contains no phone/IP match
    sites after replacement), then IPs, then phones — same fixed order
    on the oracle side.

    Scale shape: pure JVM ``regexp_replace`` / ``regexp_extract_all``
    column expressions — scan-speed, zero shuffles.
    """
    c = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(c, F.lit(PII_PATTERNS["email"]), F.lit(0)))
    after_email = F.regexp_replace(c, PII_PATTERNS["email"], "<EMAIL>")
    n_ip = F.size(
        F.regexp_extract_all(after_email, F.lit(PII_PATTERNS["ipv4"]), F.lit(0))
    )
    after_ip = F.regexp_replace(after_email, PII_PATTERNS["ipv4"], "<IP>")
    n_phone = F.size(
        F.regexp_extract_all(after_ip, F.lit(PII_PATTERNS["phone"]), F.lit(0))
    )
    redacted = F.regexp_replace(after_ip, PII_PATTERNS["phone"], "<PHONE>")
    return df.withColumns(
        {
            "n_emails": n_email.cast("bigint"),
            "n_ips": n_ip.cast("bigint"),
            "n_phones": n_phone.cast("bigint"),
            "redacted_md5": F.md5(redacted),
        }
    )


# ---- learned BPE tokenizer (corpus-trained, engine-portable) --------------

#: pre-tokenizer for BPE learning/encoding — merges never cross these
#: word boundaries (the classic word-frequency BPE formulation)
BPE_WORD_RE = "[a-z]+"


def _merge_form(form, a: str, b: str):
    """Apply one BPE merge (a, b) -> ab to a PADDED space-joined
    symbol string (`' h e l l o '`) via DOUBLE substring replace.

    Why this exact procedure: both Spark SQL and DuckDB implement
    `replace` as leftmost non-overlapping substring substitution, and
    two passes provably merge every (a, b) symbol adjacency — pass 1
    can skip an occurrence whose leading space was consumed by the
    preceding match, but such skipped occurrences are never adjacent
    to each other, so pass 2 catches all of them, and a merge can
    never create a new (a, b) adjacency. Running the SAME procedure in
    both engines makes the learning loop oracle-checkable bit-for-bit
    (note: the result can differ from a token-walk greedy merge in
    symbol ORDER for patterns like a+a over odd runs, which is why the
    contract is 'double replace', not 'greedy')."""
    pat, rep = F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
    once = F.replace(form, pat, rep)
    return F.replace(once, pat, rep)


def bpe_word_freq(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus — the ONLY corpus-sized pass BPE
    learning makes. At 100 TB this is one explode + one shuffle on
    word; everything after runs on the vocabulary."""
    return (
        documents.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit(BPE_WORD_RE), F.lit(0)
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def bpe_learn(
    documents: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> tuple[DataFrame, list[tuple[int, str, str, str, int]]]:
    """Learn *n_merges* BPE merges from the corpus, deterministically.

    Classic word-frequency BPE: start from characters, repeatedly
    count adjacent symbol pairs weighted by word frequency and merge
    the most frequent pair (ties broken by (freq DESC, lhs, rhs) —
    total order, identical in every engine). Returns
    ``(vocab_forms, merges)``: the per-word final symbol forms (word,
    freq, form) and the merge table rows
    ``(merge_idx, lhs, rhs, merged, freq)``.

    Scale shape: the corpus is touched ONCE (bpe_word_freq); each of
    the K iterations is an explode+agg over the vocabulary plus a
    1-row collect (the argmax pair) — the driver holds K rows total.
    The merge rewrite is a narrow projection (two string replaces), so
    the vocabulary never reshuffles during learning. The engine's BPE
    entry points learn with :func:`bpe_learn_local`; this loop is its
    parity reference (tests/test_bpe.py)."""
    wf = bpe_word_freq(documents, text_col).cache()
    cur = wf.withColumn(
        "form",
        F.concat(
            F.lit(" "),
            F.array_join(
                F.regexp_extract_all(F.col("word"), F.lit("."), F.lit(0)), " "
            ),
            F.lit(" "),
        ),
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for i in range(1, n_merges + 1):
        pairs = (
            cur.select("freq", F.split(F.trim(F.col("form")), " ").alias("ws"))
            .filter(F.size("ws") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(ws) - 1),"
                        " j -> struct(ws[j - 1] AS a, ws[j] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("f"))
        )
        top = pairs.orderBy(F.desc("f"), "a", "b").limit(1).collect()
        if not top:
            break
        a, b, fcnt = top[0]["a"], top[0]["b"], int(top[0]["f"])
        merges.append((i, a, b, a + b, fcnt))
        cur = cur.withColumn("form", _merge_form(F.col("form"), a, b))
    return cur, merges


def bpe_learn_local(
    documents: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    top_v: int | None = None,
    word_freq_df: DataFrame | None = None,
) -> tuple[DataFrame, list[tuple[int, str, str, str, int]]]:
    """Production-scale BPE learning: ONE Spark job total.

    The corpus-sized pass (bpe_word_freq) is collected ONCE — the
    word-frequency table is vocabulary-sized (bounded by *top_v* when
    set: the top-V words by (freq DESC, word), the standard
    vocabulary-truncation used by production tokenizer trainers) — and
    the K merge iterations run driver-side in plain Python on that
    table. This replaces K driver round-trips and a K-deep lineage
    (one withColumn per merge) with O(1) Spark jobs; at a production
    32k-merge vocabulary the distributed form is unplannable while
    this path is seconds of driver CPU over a table that fits in MBs.

    EXACT parity with :func:`bpe_learn` (tested at K=8 and K=64): the
    pair statistic, the (freq DESC, lhs, rhs) tie order, and the
    double-replace rewrite are the same procedure — Python
    ``str.replace`` is leftmost non-overlapping substitution exactly
    like Spark SQL / DuckDB ``replace``, so two passes merge every
    adjacency (see :func:`_merge_form` for the proof sketch).

    Returns the same ``(vocab_forms, merges)`` pair as
    :func:`bpe_learn`; ``vocab_forms`` is rebuilt as a DataFrame from
    the (vocabulary-sized) driver state.
    """
    # ``word_freq_df``: a caller that already tokenized the corpus
    # (bpe_doc_token_counts' pinned per-doc counts) passes its own
    # (word, freq) frame — identical values, one fewer corpus pass.
    wf_df = (
        word_freq_df
        if word_freq_df is not None
        else bpe_word_freq(documents, text_col)
    )
    if top_v is not None:
        wf_df = wf_df.orderBy(F.desc("freq"), "word").limit(top_v)
    rows = wf_df.collect()  # vocabulary-sized: the ONE driver transfer
    words = [r["word"] for r in rows]
    freqs = [int(r["freq"]) for r in rows]
    forms = [" " + " ".join(w) + " " for w in words]

    merges: list[tuple[int, str, str, str, int]] = []
    for i in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for form, fr in zip(forms, freqs):
            ws = form.split()
            for a, b in zip(ws, ws[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + fr
        if not counts:
            break
        # total order (freq DESC, lhs, rhs) — identical to the
        # distributed orderBy(desc(f), a, b).limit(1)
        (a, b), fcnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((i, a, b, a + b, fcnt))
        pat, rep = f" {a} {b} ", f" {a}{b} "
        forms = [f.replace(pat, rep).replace(pat, rep) for f in forms]

    out = local_frame(
        documents.sparkSession,
        list(zip(words, freqs, forms)),
        "word string, freq bigint, form string",
    )
    return out, merges


def bpe_merge_table(
    documents: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """The learned merge table as a DataFrame — the BPE artifact a
    training pipeline persists (merge_idx, lhs, rhs, merged, freq).
    The merges run driver-side on the collected vocabulary
    (:func:`bpe_learn_local`)."""
    _, merges = bpe_learn_local(documents, n_merges, text_col)
    return local_frame(
        documents.sparkSession,
        merges,
        "merge_idx bigint, lhs string, rhs string, merged string, freq bigint",
    )


def bpe_doc_token_counts(
    documents: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Per-document REAL BPE token counts under the corpus-learned
    merges: encode = look the word up in the learned vocabulary forms
    (broadcast — vocabulary-sized) and count its symbols. One wide
    pass over the corpus; the learned state never exceeds the vocab.
    Returns (doc_id, n_words, n_bpe_tokens). Learning runs
    driver-side (:func:`bpe_learn_local`, O(1) Spark jobs)."""
    from aistore_spark.util import pin

    # ONE regexp+explode corpus pass (r17, guide §2.4): learning and
    # encoding both consumed their own full tokenization before — the
    # per-(doc, word) count frame is pinned and feeds BOTH: the
    # corpus word-frequency table (sum of per-doc counts == the
    # direct corpus count) and the per-doc encode aggregate
    # (count(*) over occurrences == sum(c); sum(nt) == sum(c*nt)).
    dw_counts = pin(
        documents.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit(BPE_WORD_RE), F.lit(0)
                )
            ).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    wf = dw_counts.groupBy("word").agg(F.sum("c").alias("freq"))
    forms, _ = bpe_learn_local(documents, n_merges, text_col, word_freq_df=wf)
    word_tokens = forms.select(
        "word",
        F.size(F.split(F.trim(F.col("form")), " ")).cast("bigint").alias("nt"),
    )
    return (
        dw_counts.join(F.broadcast(word_tokens), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.sum(F.col("c") * F.col("nt")).alias("n_bpe_tokens"),
        )
    )


def bm25_topk(
    documents: DataFrame,
    terms: list[str],
    k: int = 10,
) -> DataFrame:
    """BM25-style top-k retrieval over the corpus (k1=1.2, b=0.75) —
    the "find the docs most relevant to this probe query" primitive of
    corpus inspection / decontamination triage.

    Hash-exact across engines by construction, per the repo's no-raw-
    float-sums rule: the per-(doc, term) contribution is ONE fixed
    double expression (identical parenthesization in the DuckDB twin),
    floored to integer micro-units BEFORE the per-doc sum, so the only
    aggregation is an order-free integer sum. The idf factor is the
    Robertson odds ratio itself rather than its log — monotone in df,
    so ranking semantics match BM25 while staying a pure rational:

        idf_t    = (2N - 2df + 1) / (2df + 1)
        tfnorm_t = 44*tf*T / (20*tf*T + 6*T + 18*dl*N)
                   (k1=6/5, b=3/4 folded into integers; T = total
                   corpus tokens so avgdl = T/N never divides early)
        score    = sum_t floor(1e6 * idf_t * tfnorm_t)

    Scale shape: ONE corpus scan (r17; guide §2.4 duplicated
    subtrees): per doc the scan emits ``dl`` plus one
    occurrence-count column per term — ``size(filter(w, x = t))``,
    all inside JVM codegen — and that narrow (2 + |terms| ints) frame
    is pinned. The previous plan referenced the corpus-splitting
    subtree three times (the (N, T) stats agg, the tf branch, and the
    df branch re-deriving tf), so the split+explode ran three times
    per query. Everything downstream reads the pin: the stats agg, a
    ``stack`` unpivot to (doc, term, tf), a terms-sized broadcast of
    per-term df, one integer-sum shuffle on doc_id, and
    TakeOrderedAndProject for the global top-k (no single-partition
    window). Returns (doc_id, n_terms_hit, score_e6), best first.
    """
    from aistore_spark.util import pin

    words = F.split(F.col("text"), " ")
    # occurrence count per term via array filter — identical to the
    # explode+WHERE+count form: both count exact matches of t in w
    # (null text: split->null, size(null) = -1 = old dl; the tf>0
    # filter below drops such docs from tf exactly as the explode
    # dropped their rows)
    per_doc = pin(
        documents.select("doc_id", words.alias("w")).select(
            "doc_id",
            F.size("w").cast("bigint").alias("dl"),
            *[
                F.size(
                    F.filter(F.col("w"), lambda x: x == F.lit(t))
                )
                .cast("bigint")
                .alias(f"_tf{i}")
                for i, t in enumerate(terms)
            ],
        )
    )
    stats = per_doc.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").alias("t_tokens"),
    )
    stack_args = ", ".join(
        "'" + t.replace("'", "\\'") + f"', _tf{i}"
        for i, t in enumerate(terms)
    )
    tf = per_doc.selectExpr(
        "doc_id",
        "dl",
        f"stack({len(terms)}, {stack_args}) as (word, tf)",
    ).where(F.col("tf") > 0)
    dfreq = tf.groupBy("word").agg(F.count("*").cast("bigint").alias("df"))
    scored = tf.join(F.broadcast(dfreq), "word").crossJoin(F.broadcast(stats))
    contrib = (
        (2 * F.col("n_docs") - 2 * F.col("df") + 1)
        / (2 * F.col("df") + 1)
        * (F.lit(44.0) * F.col("tf") * F.col("t_tokens"))
        / (
            F.lit(20.0) * F.col("tf") * F.col("t_tokens")
            + F.lit(6.0) * F.col("t_tokens")
            + F.lit(18.0) * F.col("dl") * F.col("n_docs")
        )
    )
    per_term = scored.select(
        "doc_id",
        F.floor(F.lit(1e6) * contrib).cast("bigint").alias("c_e6"),
    )
    return (
        per_term.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms_hit"),
            F.sum("c_e6").alias("score_e6"),
        )
        .orderBy(F.desc("score_e6"), F.asc("doc_id"))
        .limit(k)
    )


def hashed_ngram_features(
    documents: DataFrame,
    n_buckets: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """Hashing-trick bag-of-ngrams featurizer (the fastText input
    layer): every word unigram and bigram is hashed into one of
    ``n_buckets`` buckets; returns (doc_id, bucket, n) counts. Pure
    map-side explode + one doc-keyed agg — the feature extraction
    never joins anything, so at 100 TB it is a single corpus scan."""
    from aistore_spark.util import md5_bucket, spread

    documents = spread(documents)
    ws = F.split(F.col(text_col), " ")
    uni = F.transform(ws, lambda w: F.concat(F.lit("u:"), w))
    bi = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), (F.size(ws) - 1).cast("int")),
            lambda i: F.concat(
                F.lit("b:"),
                F.element_at(ws, i),
                F.lit(" "),
                F.element_at(ws, i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = documents.select(
        "doc_id", F.explode(F.concat(uni, bi)).alias("feat")
    )
    return (
        feats.select("doc_id", md5_bucket(F.col("feat"), n_buckets).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def hashed_weights(spark, n_buckets: int = 4096, seed: str = "w0") -> DataFrame:
    """Deterministic synthetic weight table (bucket, w_e3) standing in
    for a trained linear quality model: w_e3 = md5-derived integer in
    [-1000, 1000]. In production this frame IS the trained model
    (n_buckets rows — always broadcastable); the synthetic derivation
    exists so both engines can rebuild it bit-identically."""
    from aistore_spark.util import md5_bucket

    buckets = spark.range(n_buckets).select(F.col("id").cast("bigint").alias("bucket"))
    return buckets.select(
        "bucket",
        (
            md5_bucket(
                F.concat(F.lit(f"{seed}:"), F.col("bucket").cast("string")), 2001
            )
            - 1000
        )
        .cast("bigint")
        .alias("w_e3"),
    )


def hashed_linear_score(
    documents: DataFrame,
    weights: DataFrame,
    n_buckets: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """fastText-style hashed linear classifier scoring: score_e3 =
    Σ_buckets count × w_e3 (exact integers, milli-units), label =
    sign(score). This is the quality-classifier pass of a curation
    pipeline (wiki-ref-style filtering) with the model as data: the
    ``weights`` frame is broadcast (n_buckets rows), so scoring a
    100 TB corpus is one scan + one broadcast join + one doc-keyed
    integer-sum shuffle — no Python, all codegen.

    Returns (doc_id, n_feats, score_e3, label).

    Plan note: feature OCCURRENCES join the broadcast weights
    directly — no per-(doc, bucket) pre-aggregation, because (doc,
    bucket) pairs are mostly unique (sparse features), so that
    intermediate groupBy would be a full extra shuffle that combines
    almost nothing. The only shuffle is the final doc-keyed integer
    sum; the scan is spread() first (the sf0.1 fixture is one row
    group — single-task scan — while a real corpus splits naturally,
    making the spread a no-op)."""
    from aistore_spark.util import md5_bucket, spread

    documents = spread(documents)

    ws = F.split(F.col(text_col), " ")
    uni = F.transform(ws, lambda w: F.concat(F.lit("u:"), w))
    bi = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), (F.size(ws) - 1).cast("int")),
            lambda i: F.concat(
                F.lit("b:"),
                F.element_at(ws, i),
                F.lit(" "),
                F.element_at(ws, i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = documents.select(
        "doc_id", F.explode(F.concat(uni, bi)).alias("feat")
    ).select("doc_id", md5_bucket(F.col("feat"), n_buckets).alias("bucket"))
    return (
        occ.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_feats"),
            F.sum("w_e3").cast("bigint").alias("score_e3"),
        )
        .select(
            "doc_id",
            "n_feats",
            "score_e3",
            F.when(F.col("score_e3") >= 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("label"),
        )
    )
