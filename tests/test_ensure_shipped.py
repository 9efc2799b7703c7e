"""The Arrow maps ship the package to executor workers themselves.

An operator called directly (not through a registered query) from a
driver whose working directory is not the repository root, and whose
environment has no PYTHONPATH, must still find ``aistore_spark`` in its
Python workers.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tarfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

DRIVER = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from aistore_spark.sources.binary import expand_archive_members

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "512m")
    .getOrCreate()
)
files = spark.read.format("binaryFile").load({tar!r})
rows = expand_archive_members(files).select("member", "size").collect()
print(json.dumps(sorted([r.member, r.size] for r in rows)))
spark.stop()
"""


def test_direct_operator_call_ships_package_from_foreign_cwd(tmp_path):
    tar = tmp_path / "small.tar"
    with tarfile.open(tar, "w") as t:
        for name, data in (("a.txt", b"hello"), ("b/c.bin", b"xyz")):
            src = tmp_path / "src"
            src.write_bytes(data)
            t.add(src, arcname=name)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER.format(repo=str(REPO), tar=str(tar))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == [
        ["a.txt", 5], ["b/c.bin", 3],
    ]
