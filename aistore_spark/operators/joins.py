"""Join-shaped operators (J1-J5).

The reference has no relational joins, but four of its core flows are
joins in disguise; each function below is the Spark-native form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: sentinel prefix for missing batch entries, api/apc/ml.go:37-41
MISSING_SENTINEL = "__404__/"


class MissingKeysError(RuntimeError):
    """EKMMissingKey=abort tripped (``ext/dsort/manager.go:711``)."""


def get_batch_join(
    requests: DataFrame,
    members: DataFrame,
    continue_on_err: bool = True,
) -> DataFrame:
    """J1/G1: the get-batch request join (``MossReq``, api/apc/ml.go:87-120).

    Each request row is matched against stored content by object name;
    missing objects surface as ``__404__/<name>`` sentinel rows with
    size 0 when ``continue_on_err`` (left-outer semantics) or are
    dropped (inner) otherwise — exec path ``xact/xs/moss.go:751-1047``.

    Output carries ``req_idx`` so the TAR assembler can restore *exact
    request order* (the reference's hard guarantee, api/apc/ml.go:26-28)
    with a range-partitioned sort on an already-joined frame.

    Content is deduplicated to one row per name first (min shard / min
    size — deterministic), so the join never fans out a request.

    The members table is semi-joined to the request's distinct object
    names BEFORE that aggregate (r17, guide §3.2: reduce the big side
    before shuffling it): a get-batch request is a bounded user batch
    while the catalog is corpus-scale, so rows for never-requested
    members — the overwhelming majority at scale (600k → 22.7k on the
    sf0.1 fixture) — are dropped before the min-aggregate's exchange.
    Exact: content rows for unrequested names can never surface
    through the left join. The key frame is broadcast (bounded by the
    batch contract, api/apc/ml.go:87-120).
    """
    keys = requests.select(F.col("objname").alias("member")).distinct()
    content = (
        members.join(F.broadcast(keys), "member", "left_semi")
        .groupBy("member")
        .agg(F.min("shard").alias("shard"), F.min("size").alias("size"))
    )
    how = "left" if continue_on_err else "inner"
    j = requests.join(content, requests["objname"] == content["member"], how)
    missing = F.col("member").isNull()
    # sentinel naming per api/apc/ml.go:39-41: missing entries land
    # under __404__/<Bucket>/<ObjName> (the 404 prefix wraps the full
    # in-archive name, exec xact/xs/moss.go:834)
    return j.select(
        F.col("req_idx"),
        F.col("objname"),
        F.when(
            missing,
            F.concat(
                F.lit(MISSING_SENTINEL), F.col("bucket"), F.lit("/"), F.col("objname")
            ),
        )
        .otherwise(F.concat(F.col("bucket"), F.lit("/"), F.col("objname")))
        .alias("out_name"),
        F.coalesce(F.col("size"), F.lit(0).cast("bigint")).alias("size"),
        F.when(missing, F.lit("missing")).otherwise(F.lit("ok")).alias("status"),
    )


def get_batch_join_mixed(
    requests: DataFrame,
    members: DataFrame,
    continue_on_err: bool = True,
    only_obj_name: bool = False,
    with_keys: bool = False,
) -> DataFrame:
    """J1/G1 full surface: one batch mixing all three ``MossIn`` entry
    kinds (``api/apc/ml.go:87-120``):

    - **plain object** — ``archpath`` empty, no range: the J1 join;
    - **archived file** — ``archpath`` set: extract that file from the
      shard named by ``objname`` (join on ``(shard, member)``);
    - **byte range** — ``(rstart, rlength)`` on either of the above,
      applied to the object bytes or the *extracted* file respectively
      (``ml.go:55-68``): ``(0,0)`` = whole, ``(N,-1)`` = open-ended,
      ``(N,L>0)`` = exactly L bytes; out-of-bounds (``rstart >= size``
      or ``rstart+rlength > size``) => ErrRangeNotSatisfiable.

    Request schema: ``req_idx, bucket, objname, archpath ('' = plain),
    rstart, rlength``. In-archive naming per ``NameInRespArch``
    (``ml.go:122-136``) + ``/<archpath>`` for archived files
    (``xact/xs/moss.go:899``); every error kind surfaces under the
    ``__404__/`` prefix with size 0 when *continue_on_err* (the
    reference's addMissingIn path, ``moss.go:1629-1652``) and is
    dropped otherwise.

    Scale shape: both content sides are pre-aggregated to one row per
    key, so neither join fans out a request; the plain side joins on
    ``member``, the arch side on ``(shard, member)`` — two hash joins
    (or broadcast when the request batch is small), no window.
    """
    # one members pass: the (shard, member) agg feeds the join's arch
    # side AND re-aggregates (tiny input now) into the plain side —
    # min over per-shard mins == min over all rows, one full-table
    # shuffle instead of two. PINNED (r16): the two join branches each
    # referenced this subtree, so the full-table aggregate executed
    # twice without the pin (guide §2.4).
    # ``with_keys`` additionally carries min(key_str) through the SAME
    # aggregate — callers that need payload keys (the BatchLoader)
    # previously re-aggregated the members table twice more.
    from aistore_spark.util import pin

    # Semi-join the corpus-scale members table to the requested member
    # names BEFORE the aggregate (r17, guide §3.2), in ONE pass over
    # members: the key of a plain entry is its objname, of an arch
    # entry its archpath. The kept set is a superset of what the joins
    # below can match: it adds (shard, member) rows for arch-only
    # members in shards no entry names. Those rows cannot match the
    # arch join, which is on (shard, member), nor the plain join,
    # since no plain entry names that member; every plain-requested
    # member keeps all its shards, so its min(size) and min(key_str)
    # are unchanged. The key frame is broadcast — bounded by the
    # batch contract.
    is_arch = F.col("archpath") != ""
    keys = requests.select(
        F.when(is_arch, F.col("archpath"))
        .otherwise(F.col("objname"))
        .alias("member")
    ).distinct()
    requested = members.join(F.broadcast(keys), "member", "left_semi")
    aggs = [F.min("size").alias("asize")]
    if with_keys:
        aggs.append(F.min("key_str").alias("akey"))
    arch_content = pin(requested.groupBy("shard", "member").agg(*aggs))
    pl_aggs = [F.min("asize").alias("psize")]
    if with_keys:
        pl_aggs.append(F.min("akey").alias("pkey"))
    plain_content = arch_content.groupBy("member").agg(*pl_aggs)
    j = requests.join(
        plain_content,
        (~is_arch) & (requests["objname"] == plain_content["member"]),
        "left",
    ).drop("member")
    j = j.join(
        arch_content,
        is_arch
        & (j["objname"] == arch_content["shard"])
        & (j["archpath"] == arch_content["member"]),
        "left",
    ).drop("member", "shard")
    csize = F.when(is_arch, F.col("asize")).otherwise(F.col("psize"))
    found = csize.isNotNull()
    whole = (F.col("rstart") == 0) & (F.col("rlength") == 0)
    eff = (
        F.when(whole, csize)
        .when(
            F.col("rlength") == -1,
            F.when(F.col("rstart") < csize, csize - F.col("rstart")),
        )
        .otherwise(
            F.when(F.col("rstart") + F.col("rlength") <= csize, F.col("rlength"))
        )
    )
    status = (
        F.when(~found, F.lit("missing"))
        .when(eff.isNull(), F.lit("range_not_satisfiable"))
        .otherwise(F.lit("ok"))
    )
    base = (
        F.col("objname")
        if only_obj_name
        else F.concat(F.col("bucket"), F.lit("/"), F.col("objname"))
    )
    name = F.when(is_arch, F.concat(base, F.lit("/"), F.col("archpath"))).otherwise(
        base
    )
    key_cols = (
        [F.col("pkey"), F.col("akey")] if with_keys else []
    )
    result = j.select(
        F.col("req_idx"),
        F.col("objname"),
        F.col("archpath"),
        F.when(status == "ok", name)
        .otherwise(F.concat(F.lit(MISSING_SENTINEL), name))
        .alias("out_name"),
        F.coalesce(eff, F.lit(0)).cast("bigint").alias("size"),
        status.alias("status"),
        *key_cols,
    )
    if not continue_on_err:
        result = result.filter(F.col("status") == "ok")
    return result


def ekm_route(
    records: DataFrame,
    ekm: DataFrame,
    fanout: int = 10,
    missing_key: str = "ignore",
) -> DataFrame:
    """J2: external-key-map routing (``ext/dsort/shard/key.go:55-60``).

    Each record's base name joins its *first* matching regex pattern
    (priority order — parse/apply ``ext/dsort/dsort.go:646-814``); the
    ``%d`` slot in the matched template is filled from the record id so
    routing is deterministic. Records matching nothing follow the
    ``EKMMissingKey`` reaction (``ext/dsort/request_spec.go:190-194``,
    reactions ``ext/dsort/manager.go:702-714``): ``ignore``/``warn``
    route them to the ``__missing__`` sentinel shard (warn logs a
    sample first), ``abort`` raises.

    Spark shape: broadcast non-equi (rlike) join of the tiny EKM against
    the record set, then a per-record ``row_number`` keeps the first
    match. At 100 TB the EKM is always broadcast-sized (it's a config
    artifact) so no shuffle of the records happens before the window;
    the window partitions by record (no skew).
    """
    if missing_key not in ("ignore", "warn", "abort"):
        raise ValueError(f"missing_key={missing_key!r}")
    matched = records.join(
        F.broadcast(ekm), F.expr("base rlike pattern"), "left"
    )
    if missing_key != "ignore":
        unmatched = matched.filter(F.col("priority").isNull()).limit(5).collect()
        if unmatched:
            msg = "EKM missing keys: " + ", ".join(r["base"] for r in unmatched)
            if missing_key == "abort":
                raise MissingKeysError(msg)
            import warnings

            warnings.warn(msg, stacklevel=2)
    w = Window.partitionBy("base").orderBy(F.col("priority").asc_nulls_last())
    rec_id = F.substring(F.col("base"), 5, 100).cast("bigint")
    return (
        matched.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("base"),
            F.when(F.col("priority").isNull(), F.lit("__missing__"))
            .otherwise(
                F.replace(
                    F.col("template"),
                    F.lit("%d"),
                    (rec_id % fanout).cast("string"),
                )
            )
            .alias("dst_shard"),
            F.coalesce(F.col("priority"), F.lit(-1)).alias("matched_priority"),
        )
    )


def catalog_diff(local: DataFrame, remote: DataFrame) -> DataFrame:
    """J3: LsDiff — in-cluster vs remote catalog comparison
    (``api/apc/lsmsg.go:80-86,129-135``; guard ``ais/plstcx.go:82-99``).

    Full-outer join on name, classifying each object:
    ``ver_removed`` (cached locally, gone remotely — EntryVerRemoved),
    ``remote_only``, ``ver_changed`` (EntryVerChanged), ``in_sync``.
    """
    loc = local.select(
        F.col("name").alias("l_name"), F.col("version").alias("l_version")
    )
    rem = remote.select(
        F.col("name").alias("r_name"), F.col("version").alias("r_version")
    )
    j = loc.join(rem, loc["l_name"] == rem["r_name"], "full_outer")
    return j.select(
        F.coalesce(F.col("l_name"), F.col("r_name")).alias("name"),
        F.when(F.col("r_name").isNull(), F.lit("ver_removed"))
        .when(F.col("l_name").isNull(), F.lit("remote_only"))
        .when(F.col("l_version") != F.col("r_version"), F.lit("ver_changed"))
        .otherwise(F.lit("in_sync"))
        .alias("status"),
    )


def group_records(members: DataFrame) -> DataFrame:
    """J5: group archived files into records (samples) by base name —
    the WebDataset convention dsort builds on
    (``ext/dsort/shard/record.go:41-77``).

    One shuffle on ``base``; extension lists are deduplicated and
    sorted so the output is deterministic.
    """
    per_ext = members.groupBy("base", "ext").agg(
        F.count("*").alias("n"), F.sum("size").alias("bytes")
    )
    return per_ext.groupBy("base").agg(
        F.sum("n").alias("n_files"),
        F.count("*").alias("n_exts"),
        F.array_join(F.sort_array(F.collect_list("ext")), ",").alias("exts"),
        F.sum("bytes").alias("total_bytes"),
    )


def salted_join(
    hot: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: spread each hot key over ``n_salts`` tasks.

    The hot (fact) side gets a deterministic salt — a hash of the whole
    row, so re-runs place rows identically (never ``rand()``) — and the
    dim side is replicated across every salt value; joining on
    ``(key, salt)`` yields exactly the plain ``key`` join, but a viral
    key's rows land in ``n_salts`` tasks instead of one straggler.

    When to reach for it at 100 TB: a hot shard dominating the
    get-batch join, a viral document's LSH bucket, an EKM rule that
    routes half the corpus. AQE's skew-split handles sort-merge skew at
    runtime; this primitive is for hash joins where the dim side is too
    big to broadcast but cheap to replicate ``n_salts``-fold, and for
    deterministic task sizing. Cost: dim side × n_salts shuffle rows.

    Only inner/left-flavored joins are supported: the dim side is
    replicated ``n_salts`` times, so right/full-outer would emit each
    unmatched dim row once per salt replica (spurious null-extended
    rows) — those modes raise instead of silently miscounting.
    """
    allowed = {
        "inner", "left", "left_outer", "leftouter",
        "left_semi", "leftsemi", "semi",
        "left_anti", "leftanti", "anti",
    }
    if how not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} unsupported (dim side is replicated "
            f"per salt; only inner/left-flavored joins are exact): {sorted(allowed)}"
        )
    hot_cols = [c for c in hot.columns]
    salted_hot = hot.withColumn(
        "_salt", F.pmod(F.xxhash64(*hot_cols), F.lit(n_salts))
    )
    salts = F.array(*[F.lit(i) for i in range(n_salts)])
    salted_dim = dim.withColumn("_salt", F.explode(salts))
    out = salted_hot.join(salted_dim, [key, "_salt"], how)
    return out.drop("_salt")
