"""Time a subset of declared queries in isolation (noop sink, min-of-N).

Usage: python tools/time_queries.py [-n RUNS] query [query ...]

Same methodology as bench.py (noop sink, min of N runs, release_cached
between runs) but only for the named queries — the fast inner loop for
before/after reads while optimizing, without paying the full 180-query
sweep. Prints one JSON line {"queries": {...}, "runs": N, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from aistore_spark.benchqueries import QUERIES  # noqa: E402
from aistore_spark.session import get_spark  # noqa: E402
from aistore_spark.util import (  # noqa: E402
    ensure_shipped,
    map_arrays,
    release_cached,
)


def main() -> int:
    args = sys.argv[1:]
    runs = 2
    if args and args[0] == "-n":
        runs = int(args[1])
        args = args[2:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("aistore_spark_time", cpus=cpus, sf_dir=sf_dir)
    # same warmup as bench.py so the first query isn't charged JVM /
    # Arrow-daemon spin-up
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    ensure_shipped(spark)  # the map's kernel imports aistore_spark
    map_arrays(spark.range(1000), ["id"], "id bigint", lambda b: b).write.mode(
        "overwrite"
    ).format("noop").save()

    out: dict[str, float] = {}
    for name in names:
        if name not in QUERIES:
            print(f"skip {name}: not registered", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(name)
        best = float("inf")
        for _ in range(runs):
            t0 = time.time()
            QUERIES[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            best = min(best, time.time() - t0)
            release_cached()
        out[name] = round(best, 3)
        print(f"[time] {name}: {out[name]}", file=sys.stderr, flush=True)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"queries": out, "runs": runs, "sf_dir": sf_dir}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
