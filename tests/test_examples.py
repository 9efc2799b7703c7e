"""Smoke test for the composed curation example.

``examples/training_pipeline.py`` chains exact dedup, the near-dup
scale path (a pinned ``shingles`` frame passed to both
``lsh_candidate_pairs`` and ``jaccard_verify``, then ``dup_groups``),
quality gates, decontamination, split, packing and direct-put delivery
in one Spark session. It runs here end to end in a subprocess, as a
user would run it.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_training_pipeline_example_runs(sf_dir):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH", "")) if p
    )
    proc = subprocess.run(
        [sys.executable, str(REPO / "examples" / "training_pipeline.py"), sf_dir],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    near = re.findall(
        r"^near-dup: dropped (\d+) \(candidates (\d+)\)$", proc.stdout, re.M
    )
    assert len(near) == 1, proc.stdout[-4000:]
    dropped, candidates = map(int, near[0])
    assert 0 < dropped <= candidates, near
