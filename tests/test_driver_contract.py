"""Invariants of the driver contract in __spark_entry__.py.

The driver's correctness ledger covers exactly the first 50 entries of
queries() (observed rounds 1-6), so the curated front of the ordering
IS the hard-signal surface. Rounds 4-6 hard-verified every registered
query at least once; from round 7 on the standing contract is the
FINGERPRINT rotation: any query whose implementation or oracle changed
since its last driver-green row (or that never had one) must be in the
front 50, pinned against tests/driver_green_fps.json.
"""

from __future__ import annotations

import json
from pathlib import Path

import __spark_entry__ as entry

REPO = Path(__file__).resolve().parent.parent


def _checked_prior_rounds() -> set[str]:
    """Queries with a HARD driver check on record: hash-green in any
    committed driver ledger (r4-r6 were full-coverage rounds; every
    later round hard-checks its front 50). Green-only — an attempted-
    but-red row is not a check. A query in this set whose fingerprint
    is unchanged (test_changed_queries_are_front_loaded) may rotate
    out of the front 50; everything else must be front-loaded."""
    names: set[str] = set()
    for ledger in sorted(REPO.glob("CORRECTNESS_r[0-9]*.json")):
        rows = json.loads(ledger.read_text())
        if not isinstance(rows, dict):
            continue
        names |= {
            n
            for n, rec in rows.items()
            if isinstance(rec, dict) and rec.get("hash_match") is True
        }
    return names


def test_priority_is_exactly_the_first_50():
    p = entry.DRIVER_CHECK_PRIORITY
    qs = entry.queries()
    assert len(p) == 50
    assert len(set(p)) == 50
    assert all(n in qs for n in p)
    assert list(qs)[:50] == p


def test_front_loads_every_query_never_checked():
    """Every registered query never hash-green in ANY committed driver
    ledger must sit in the front 50 — no registered query may lack a
    driver hard-check for more than the round that added it."""
    checked = _checked_prior_rounds()
    assert checked, "committed CORRECTNESS_r*.json ledgers missing"
    never = set(entry.queries()) - checked
    outside = sorted(never - set(entry.DRIVER_CHECK_PRIORITY))
    assert outside == [], f"never-checked but not front-loaded: {outside}"


def test_recheck_slots_include_the_verdict_shortlist():
    """Part (b): the slots left after the never-checked set must carry
    the round-5 verdict's named high-risk re-checks."""
    p = set(entry.DRIVER_CHECK_PRIORITY)
    for name in (
        "dd2_ngram_jaccard",
        "g3_output_formats",
        "dd7_dup_groups",
        "dsort_pipeline",
        "g1_assemble_batches",
        "g1_mixed_batches",
        "p1_pack_archive",
    ):
        assert name in p, f"verdict-r5 re-check missing from front 50: {name}"


def test_prior_rounds_plus_front_50_cover_every_registered_query():
    """The union of all committed driver-green rows and this round's
    front 50 is the ENTIRE registration — every query keeps at least
    one driver hard-check across rounds, machine-checked."""
    covered = _checked_prior_rounds() | set(entry.DRIVER_CHECK_PRIORITY)
    missing = sorted(set(entry.queries()) - covered)
    assert missing == [], f"queries with no driver check in any round: {missing}"


def test_no_stub_backed_registrations():
    """Verdict-r5 item 8: the digest-stub plumbing rows (mm1-mm4) and
    the tx5 regex approximation are retired from queries(); their
    contracts live in tests/test_stub_plumbing.py."""
    qs = set(entry.queries())
    for name in (
        "mm1_decode_media",
        "mm2_resize",
        "mm3_feature_extract",
        "mm4_frame_sample",
        "tx5_bpe_tokens",
    ):
        assert name not in qs
    from aistore_spark.benchqueries import STUB_PLUMBING_QUERIES

    assert set(STUB_PLUMBING_QUERIES) == {
        "mm1_decode_media",
        "mm2_resize",
        "mm3_feature_extract",
        "mm4_frame_sample",
    }


def test_changed_queries_are_front_loaded():
    """Rotation contract (verdict-r6 item 7): any query whose
    implementation or oracle differs from the fingerprint recorded at
    its last driver-green round — or that has never been driver-green —
    must sit in the front 50, so a re-implementation can never ride on
    a stale hard-green row. tests/driver_green_fps.json is refreshed
    per round via tools/query_fps.py --update-green CORRECTNESS_r0N.json."""
    import sys

    sys.path.insert(0, str(REPO / "tools"))
    from query_fps import current_fps

    snap = json.loads((REPO / "tests" / "driver_green_fps.json").read_text())
    fps = current_fps()
    stale = sorted(
        n for n, fp in fps.items() if snap.get(n) != fp
    )
    outside = sorted(set(stale) - set(entry.DRIVER_CHECK_PRIORITY))
    assert outside == [], (
        f"changed-or-never-green queries missing from the front 50: {outside}"
    )


def test_every_query_has_an_oracle():
    # zero rows-only entries: every registered query is hash-checkable
    # (the xxhash64 HRW form is unregistered by design — see
    # placement.hrw_placement_xxhash / j4b_hrw_md5)
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert set(qs) - set(oracles) == set()


def _fps_after_edit(fn_name: str, old: str, new: str) -> set[str]:
    """Queries whose fingerprint flips when *old* becomes *new* inside
    the benchqueries.py function *fn_name* (nothing is written)."""
    import ast
    import sys

    sys.path.insert(0, str(REPO / "tools"))
    from query_fps import current_fps

    src = (REPO / "aistore_spark" / "benchqueries.py").read_text()
    (node,) = [
        n for n in ast.parse(src).body
        if isinstance(n, ast.FunctionDef) and n.name == fn_name
    ]
    seg = ast.get_source_segment(src, node)
    assert seg.count(old) == 1, f"{old!r} not unique in {fn_name}"
    edited = src.replace(seg, seg.replace(old, new))
    before, after = current_fps(), current_fps(edited)
    return {n for n in before if before[n] != after[n]}


def test_fingerprint_folds_reached_helpers():
    """A shared private helper is part of the fingerprint of every
    query whose body reaches it, and of no other; the catalog view
    derivations stay folded into the s4b sentinel only."""
    assert _fps_after_edit(
        "_clustered_corpus", 'F.col("vec_id") < 16', 'F.col("vec_id") < 17'
    ) == {
        "ann9c_ivfpq_refined_clustered",
        "ann9d_ivfpq_sqrt_cells",
        "ann9e_ivfpq_recall_held",
    }
    assert _fps_after_edit(
        "_objects", '("objects", str(sf_dir))', '("objects2", str(sf_dir))'
    ) == {"s4b_zip_listing"}
