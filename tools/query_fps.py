"""Per-query implementation fingerprints for the driver-rotation
contract (verdict-r6 item 7).

A query's fingerprint is md5(oracle SQL + the registered function's
source + the source of every module-level benchqueries function that
body reaches, transitively). tests/test_driver_contract.py compares
current fingerprints against tests/driver_green_fps.json — the
snapshot of each query's fingerprint AS OF its last green ledger row —
and requires any changed or never-green query to appear in the front
50 of DRIVER_CHECK_PRIORITY, so a silent re-implementation can never
ride on an old hard-green.

An edit to a shared private helper thus rotates exactly the queries
that reach it. The register decorators and the catalog view
derivations (_VIEW_BUILDER_FNS, which nearly every query reaches) stay
out of that fold; those fold into the s4b_zip_listing sentinel, and
HELPER_SENTINELS folds the operator-module seams every query executes
through into one hash-checked row each.

Usage:
  python tools/query_fps.py                # print current fps as JSON
  python tools/query_fps.py --update-green LEDGER.json
        # refresh tests/driver_green_fps.json entries for every query
        # the given driver ledger shows hash-green (run at round start
        # when a new CORRECTNESS_r0N.json lands)
"""

from __future__ import annotations

import ast
import hashlib
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SNAPSHOT = REPO / "tests" / "driver_green_fps.json"

#: sentinel query -> helper sources folded into ITS fingerprint.
#: p2 covers the table-loading/session seams every query constructs
#: through; p4 covers the archive/tar kernels and the on-disk shard
#: reads/writes (sources/io_fixtures.py) the io family executes;
#: s4b covers the shared catalog view derivations (catalog.py + the
#: _objects/_members/_requests/_io_members builders in
#: benchqueries.py, matched by AST name below); mm12 covers the
#: media parsers and Arrow stages every mm/t9-t11 query runs through;
#: ann8 covers the similarity-search kernels (it reaches
#: pq_encode_wide, _adc_topk_full_scan and _keep_best); t1, ds2c, dd7
#: and t12 cover the ETL UDF, the download map, the dup-group
#: components and the ETL channel map, each through a query that
#: executes it; g1_mixed_batches covers the join operators
#: (operators/joins.py) through the mixed-kind get-batch join it runs.
HELPER_SENTINELS: dict[str, list[str]] = {
    "p2_extract_member": [
        "aistore_spark/sources/tables.py",
        "aistore_spark/util.py",
        "aistore_spark/session.py",
    ],
    "p4_archive_append": [
        "aistore_spark/sources/binary.py",
        "aistore_spark/sources/io_fixtures.py",
        "aistore_spark/operators/archive.py",
    ],
    "s4b_zip_listing": [
        "aistore_spark/catalog.py",
    ],
    "mm12_media_decode_io": [
        "aistore_spark/operators/multimodal.py",
    ],
    "ann8_pq_adc_topk": [
        "aistore_spark/operators/simsearch.py",
    ],
    "t1_inline_etl": [
        "aistore_spark/operators/etl.py",
    ],
    "ds2c_download_errors": [
        "aistore_spark/sources/downloader.py",
    ],
    "dd7_dup_groups": [
        "aistore_spark/operators/dedup.py",
    ],
    "t12_ws_etl_channel": [
        "aistore_spark/streaming/etl_channel.py",
    ],
    "g1_mixed_batches": [
        "aistore_spark/operators/joins.py",
    ],
}

#: benchqueries-level shared view builders folded into s4b's
#: fingerprint by function name (they live outside any registered body)
_VIEW_BUILDER_FNS = ("_objects", "_remote", "_members", "_requests",
                     "_io_members")


#: benchqueries functions left out of the reached-helper fold
_NOT_FOLDED = ("register", "register_stub") + _VIEW_BUILDER_FNS


def _reached(fn: ast.FunctionDef, defs: dict[str, ast.FunctionDef]) -> list[str]:
    """Module-level functions *fn*'s body references, transitively
    (decorators excluded: their oracle text is hashed as SQL)."""
    seen: set[str] = set()
    todo = [fn]
    while todo:
        for stmt in todo.pop().body:
            for node in ast.walk(stmt):
                name = getattr(node, "id", None)
                if name in defs and name not in seen and name not in _NOT_FOLDED:
                    seen.add(name)
                    todo.append(defs[name])
    return sorted(seen)


def current_fps(src_text: str | None = None) -> dict[str, str]:
    """Fingerprint every registered query; *src_text* stands in for
    the text of benchqueries.py (the registrations still come from the
    imported module)."""
    from aistore_spark.benchqueries import ORACLES, QUERIES

    # QUERIES holds the register() wrapper, whose inspect.getsource is
    # the same 5 lines for every query — take the REAL function body
    # from the module AST by name instead.
    if src_text is None:
        src_text = (REPO / "aistore_spark" / "benchqueries.py").read_text()
    defs = {
        node.name: node
        for node in ast.parse(src_text).body
        if isinstance(node, ast.FunctionDef)
    }
    # each def's text as ast.get_source_segment gives it, without its
    # per-call re-split of the whole module (20 s per fingerprint run)
    lines = src_text.splitlines(keepends=True)
    segs = {}
    for n, d in defs.items():
        *head, last = lines[d.lineno - 1 : d.end_lineno]
        segs[n] = "".join(head) + last.encode()[: d.end_col_offset].decode()
    out = {}
    for name, fn in QUERIES.items():
        sql = ORACLES.get(name, "")
        src = segs.get(fn.__name__) or ""
        if not src:
            raise RuntimeError(f"no top-level def found for query {name}")
        material = sql + "\n####\n" + src
        for helper in _reached(defs[fn.__name__], defs):
            material += "\n####\n" + segs[helper]
        for helper in HELPER_SENTINELS.get(name, ()):
            material += "\n####\n" + (REPO / helper).read_text()
        if name == "s4b_zip_listing":
            for fn_name in _VIEW_BUILDER_FNS:
                material += "\n####\n" + (segs.get(fn_name) or "")
        out[name] = hashlib.md5(material.encode()).hexdigest()
    return out


def update_green(ledger_path: str) -> None:
    ledger = json.loads(Path(ledger_path).read_text())
    snap = json.loads(SNAPSHOT.read_text()) if SNAPSHOT.exists() else {}
    fps = current_fps()
    n = 0
    for name, rec in ledger.items():
        if rec.get("hash_match") and name in fps:
            snap[name] = fps[name]
            n += 1
    SNAPSHOT.write_text(json.dumps(dict(sorted(snap.items())), indent=2) + "\n")
    print(f"updated {n} green fingerprints -> {SNAPSHOT}")


def main() -> int:
    if len(sys.argv) >= 3 and sys.argv[1] == "--update-green":
        update_green(sys.argv[2])
        return 0
    print(json.dumps(dict(sorted(current_fps().items())), indent=2))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
