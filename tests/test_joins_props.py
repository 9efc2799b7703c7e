"""Join-operator properties: EKM first-match priority, batch-join
cardinality."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aistore_spark.catalog import batch_requests, ekm_table, members_catalog
from aistore_spark.operators import joins
from aistore_spark.sources.tables import load_table


def test_ekm_first_match_wins(spark, sf_dir):
    members = members_catalog(load_table(spark, sf_dir, "lineitem"))
    records = members.select("base").distinct()
    routed = joins.ekm_route(records, ekm_table(spark))
    rows = routed.collect()
    assert len(rows) == records.count(), "exactly one route per record"
    for r in rows:
        oid = int(r.base[4:])
        if oid < 1000:
            assert r.matched_priority == 1, r
        elif oid < 3000:
            assert r.matched_priority == 2, r
        elif oid < 10000:
            assert r.matched_priority == 3, r
        else:
            assert r.matched_priority == -1 and r.dst_shard == "__missing__", r


def test_get_batch_join_preserves_cardinality(spark, sf_dir):
    req = batch_requests(load_table(spark, sf_dir, "events"))
    members = members_catalog(load_table(spark, sf_dir, "lineitem"))
    out = joins.get_batch_join(req, members)
    assert out.count() == req.count(), "one output row per request, always"
    inner = joins.get_batch_join(req, members, continue_on_err=False)
    n_missing = out.filter(F.col("status") == "missing").count()
    assert inner.count() == req.count() - n_missing


def test_lsh_hot_bucket_split_bounds_work(spark, sf_dir):
    from aistore_spark.operators.dedup import lsh_candidate_pairs

    docs = load_table(spark, sf_dir, "documents")
    full = lsh_candidate_pairs(docs, bands=8)
    split = lsh_candidate_pairs(docs, bands=8, max_bucket=10)
    full_pairs = {(r.doc_a, r.doc_b) for r in full.collect()}
    split_pairs = {(r.doc_a, r.doc_b) for r in split.collect()}
    # sub-splitting only removes candidates, never invents them
    assert split_pairs <= full_pairs
    assert split_pairs, "split run must still find candidates"


def test_mixed_join_naming_and_inner_mode(spark, sf_dir):
    """MossIn naming (NameInRespArch, api/apc/ml.go:122-136):
    OnlyObjName drops the bucket prefix; archpath appends /<archpath>;
    continue_on_err=False keeps only ok rows."""
    from pyspark.sql import functions as F

    from aistore_spark.catalog import members_catalog, mixed_batch_requests
    from aistore_spark.operators.joins import get_batch_join_mixed
    from aistore_spark.sources.tables import load_table

    members = members_catalog(load_table(spark, sf_dir, "lineitem"))
    reqs = mixed_batch_requests(load_table(spark, sf_dir, "events")).limit(600)
    full = get_batch_join_mixed(reqs, members)
    only = get_batch_join_mixed(reqs, members, only_obj_name=True)
    f = {r.req_idx: r for r in full.collect()}
    o = {r.req_idx: r for r in only.collect()}
    assert set(f) == set(o)
    ok_seen = arch_seen = False
    for i, r in f.items():
        expect_full = f"ais://shards/{r.objname}"
        if r.archpath:
            expect_full += f"/{r.archpath}"
            arch_seen = True
        expect_only = expect_full.removeprefix("ais://shards/")
        if r.status != "ok":
            expect_full = "__404__/" + expect_full
            expect_only = "__404__/" + expect_only
        else:
            ok_seen = True
        assert r.out_name == expect_full
        assert o[i].out_name == expect_only
    assert ok_seen and arch_seen
    inner = get_batch_join_mixed(reqs, members, continue_on_err=False)
    assert inner.filter(F.col("status") != "ok").count() == 0
    assert inner.count() == full.filter(F.col("status") == "ok").count()


def test_salted_join_equals_plain_join(spark):
    """salted_join must be result-identical to the plain equi-join on a
    skewed key distribution (one key holding half the fact side)."""
    from aistore_spark.operators.joins import salted_join

    hot = spark.createDataFrame(
        [("k0" if i % 2 == 0 else f"k{i % 7}", i) for i in range(2000)],
        "key string, val bigint",
    )
    dim = spark.createDataFrame(
        [(f"k{i}", f"d{i}") for i in range(7)], "key string, attr string"
    )
    plain = {
        (r.key, r.val, r.attr) for r in hot.join(dim, "key").collect()
    }
    salted = {
        (r.key, r.val, r.attr)
        for r in salted_join(hot, dim, "key", n_salts=8).collect()
    }
    assert salted == plain and len(plain) == 2000

    # left outer stays exact too: unmatched hot rows null-extend once
    hot2 = hot.unionByName(
        spark.createDataFrame([("k99", -1)], "key string, val bigint")
    )
    left = {
        (r.key, r.val, r.attr)
        for r in salted_join(hot2, dim, "key", how="left", n_salts=8).collect()
    }
    assert left == plain | {("k99", -1, None)}


def test_salted_join_rejects_right_and_full(spark):
    """Regression: the dim side is replicated per salt, so right/full
    outer would emit spurious null-extended rows — must raise."""
    import pytest

    from aistore_spark.operators.joins import salted_join

    hot = spark.createDataFrame([("a", 1)], "key string, val bigint")
    dim = spark.createDataFrame([("a", "x")], "key string, attr string")
    for how in ("right", "full", "full_outer", "right_outer", "cross"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(hot, dim, "key", how=how)


#: (shard, member, size, key_str): a.jpg sits in two shards with
#: different sizes and keys; b.cls is only ever requested by archpath,
#: so the semi-join also keeps its copy in s3.tar, a shard no request
#: names; d.jpg is never requested
_MIXED_MEMBERS = [
    ("s1.tar", "a.jpg", 100, "k1"),
    ("s2.tar", "a.jpg", 50, "k9"),
    ("s1.tar", "b.cls", 200, "kb"),
    ("s3.tar", "b.cls", 70, "kb3"),
    ("s2.tar", "c.xml", 300, "kc"),
    ("s1.tar", "d.jpg", 10, "kd"),
]

#: (req_idx, objname, archpath, rstart, rlength)
_MIXED_REQUESTS = [
    (0, "a.jpg", "", 0, 0),  # plain
    (1, "s1.tar", "a.jpg", 0, 0),  # the same member by archpath
    (2, "s3.tar", "c.xml", 0, 0),  # archpath aimed at the wrong shard
    (3, "a.jpg", "", 0, 0),  # duplicate of 0
    (4, "s1.tar", "b.cls", 10, 20),  # ranged archived file
    (5, "s1.tar", "b.cls", 150, -1),  # open-ended range
    (6, "c.xml", "", 299, 5),  # range past the end
    (7, "zz.jpg", "", 0, 0),  # missing plain
    (8, "s1.tar", "b.cls", 10, 20),  # duplicate of 4
    (9, "a.jpg", "", 60, -1),  # open range past the plain min size
    (10, "s2.tar", "a.jpg", 0, 50),  # exactly the whole file
]


def _mixed_join_union_reference(requests, members, continue_on_err, with_keys):
    """The mixed get-batch join in its two-semi-join form, in Python:
    members kept by plain name, plus members kept by (shard, member),
    aggregated per (shard, member) and then per member."""
    plain_keys = {o for _, o, a, _, _ in requests if not a}
    arch_keys = {(o, a) for _, o, a, _, _ in requests if a}
    kept = [m for m in members if m[1] in plain_keys] + [
        m for m in members if (m[0], m[1]) in arch_keys
    ]
    arch: dict = {}
    for shard, member, size, key in kept:
        s, k = arch.get((shard, member), (size, key))
        arch[(shard, member)] = (min(s, size), min(k, key))
    plain: dict = {}
    for (_, member), (size, key) in arch.items():
        s, k = plain.get(member, (size, key))
        plain[member] = (min(s, size), min(k, key))
    out = []
    for idx, obj, ap, start, length in requests:
        size, key = (arch.get((obj, ap)) if ap else plain.get(obj)) or (None, None)
        if size is None:
            eff = None
        elif (start, length) == (0, 0):
            eff = size
        elif length == -1:
            eff = size - start if start < size else None
        else:
            eff = length if start + length <= size else None
        status = (
            "missing" if size is None
            else "range_not_satisfiable" if eff is None
            else "ok"
        )
        name = f"ais://shards/{obj}" + (f"/{ap}" if ap else "")
        row = (
            idx, obj, ap, name if status == "ok" else "__404__/" + name,
            eff or 0, status,
        )
        if with_keys:
            row += (None, key) if ap else (key, None)
        if continue_on_err or status == "ok":
            out.append(row)
    return sorted(out)


@pytest.mark.parametrize("with_keys", [False, True])
@pytest.mark.parametrize("continue_on_err", [True, False])
def test_mixed_join_single_semi_join_equals_union_form(
    spark, with_keys, continue_on_err
):
    """Semi-joining members once, on plain names and archpaths
    together, keeps a superset of the two-semi-join form's rows; the
    join's output rows are identical to that form's."""
    from aistore_spark.util import local_frame, release_cached

    req = local_frame(
        spark,
        [(i, "ais://shards", o, a, s, n) for i, o, a, s, n in _MIXED_REQUESTS],
        "req_idx long, bucket string, objname string, archpath string, "
        "rstart long, rlength long",
    )
    members = local_frame(
        spark, _MIXED_MEMBERS,
        "shard string, member string, size bigint, key_str string",
    )
    got = sorted(
        tuple(r)
        for r in joins.get_batch_join_mixed(
            req, members, continue_on_err=continue_on_err, with_keys=with_keys
        ).collect()
    )
    release_cached()
    want = _mixed_join_union_reference(
        _MIXED_REQUESTS, _MIXED_MEMBERS, continue_on_err, with_keys
    )
    assert got == want
    assert {r[5] for r in want} == (
        {"ok", "missing", "range_not_satisfiable"} if continue_on_err else {"ok"}
    )
