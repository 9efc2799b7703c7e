"""Write the benchmark's input tables from the sf0.1 testdata tier.

    python3 perfbench/make_data.py <sf0.1 dir>

The benchmark may read only inside its own checkout, so it keeps a copy
of what it uses from sf0.1 in ``perfbench/data/sf0.1-sub``:

- ``documents.parquet`` and ``embeddings.parquet``: sf0.1's files as
  they are (5,000 documents, 2,000 vectors of 64 floats);
- ``lineitem.parquet``: the sf0.1 rows whose ``l_orderkey // 128`` is a
  multiple of ``LINEITEM_EVERY``. Whole orders are kept, and since the
  engine's members catalog puts a row in shard ``l_orderkey % 128``,
  every one of the 128 shards keeps its share of members.

The subset rule is deterministic, so running this again writes the
same rows. The copy is committed; the benchmark never runs this script.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import duckdb

LINEITEM_EVERY = 16
OUT = Path(__file__).resolve().parent / "data" / "sf0.1-sub"


def main(src: Path) -> None:
    OUT.mkdir(parents=True, exist_ok=True)
    for name in ("documents", "embeddings"):
        shutil.copyfile(src / f"{name}.parquet", OUT / f"{name}.parquet")
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM '{src}/lineitem.parquet' "
        f"WHERE (l_orderkey // 128) % {LINEITEM_EVERY} = 0 "
        f"ORDER BY l_orderkey, l_linenumber) "
        f"TO '{OUT}/lineitem.parquet' (FORMAT PARQUET)"
    )
    n = con.execute(f"SELECT count(*) FROM '{OUT}/lineitem.parquet'").fetchone()[0]
    print(f"lineitem: {n} rows")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(Path(sys.argv[1]))
