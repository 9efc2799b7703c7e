"""The benchmark's on-disk inputs.

The tables are a committed copy of the sf0.1 testdata tier
(``data/sf0.1-sub``, written by ``make_data.py``): sf0.1's
``documents`` and ``embeddings`` as they are, and a deterministic
sixteenth of its ``lineitem``. A run's ``--seed`` never changes them; it
only chooses operations and their parameters over them.

The real USTAR shards are built from ``lineitem`` by the engine's own
``sources.io_fixtures.materialize_shards``, which caches them under
``_scale/io`` behind a marker. Only the first run in a checkout builds
them, so no run pays a one-off build inside its set-up time; the build
time is kept in the cache and reported on every later run.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

DATA = Path(__file__).resolve().parent / "data" / "sf0.1-sub"


def _read(path: Path):
    try:
        return json.loads(path.read_text())
    except (OSError, ValueError):
        return None


def prepare(spark, cache_root: Path) -> dict:
    """Make sure the shards exist; return where the tables and shards
    are, and what building the shards cost (absent when this cache did
    not see them built)."""
    from aistore_spark.sources import io_fixtures

    record = cache_root / "shards_build.json"
    before = _read(io_fixtures.shards_root(str(DATA)) / "_SUCCESS")
    t0 = time.perf_counter()
    shards = io_fixtures.materialize_shards(spark, str(DATA))
    build_s = time.perf_counter() - t0
    marker = _read(Path(shards) / "_SUCCESS")
    if marker != before:
        record.parent.mkdir(parents=True, exist_ok=True)
        tmp = record.with_suffix(".tmp")
        tmp.write_text(json.dumps({"marker": marker, "build_s": build_s}))
        os.replace(tmp, record)
    built = _read(record)
    fx = {
        "data": str(DATA),
        "shards": shards,
        "n_members": marker["n_members"],
        "tar_bytes": marker["tar_bytes"],
    }
    if built and built["marker"] == marker:
        fx["shards_s"] = built["build_s"]
    return fx
