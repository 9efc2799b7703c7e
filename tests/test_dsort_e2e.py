"""Full dsort over REAL tar bytes — the reference's acceptance shape
(ais/test/dsort_test.go:363-510): generate input shards, run the whole
pipeline (extract → group records → content-key sort → pack → build
output tars), then unpack every output shard and assert global order
across shards."""

from __future__ import annotations

import io
import tarfile

import pandas as pd
from pyspark.sql import functions as F

from aistore_spark.operators import dsort
from aistore_spark.operators.archive import build_tar
from aistore_spark.sources.binary import (
    expand_archive_members,
    read_binary_objects,
)


def _make_input_shards(tmp_path, n_shards=6, recs_per_shard=40):
    """tools/tarch shape: each record = .jpg payload + .cls key file."""
    rng_key = 0
    for s in range(n_shards):
        names, payloads = [], []
        for r in range(recs_per_shard):
            base = f"rec-{s:02d}{r:04d}"
            key = (rng_key * 7919 + 13) % 100000  # deterministic spread
            rng_key += 1
            names += [f"{base}.jpg", f"{base}.cls"]
            payloads += [b"J" * (100 + r), str(key).encode("ascii")]
        (tmp_path / f"in-{s:03d}.tar").write_bytes(build_tar(names, payloads))


def test_dsort_end_to_end_real_tars(spark, tmp_path):
    _make_input_shards(tmp_path)
    out_dir = tmp_path / "out"
    out_dir.mkdir()

    # Phase 1 (extraction): binaryFile scan → member rows w/ bytes
    members = expand_archive_members(
        read_binary_objects(spark, str(tmp_path / "in-*.tar"))
    )
    recs = members.select(
        F.regexp_extract("member", r"^(.*)\.[^.]+$", 1).alias("base"),
        F.regexp_extract("member", r"\.([^.]+)$", 1).alias("ext"),
        "member",
        "size",
        "bytes",
    )
    # content key from the .cls member (typed int key)
    keys = (
        recs.filter(F.col("ext") == "cls")
        .select("base", F.col("bytes").cast("string").cast("bigint").alias("key"))
    )
    grouped = (
        recs.groupBy("base")
        .agg(
            F.sum("size").alias("rec_bytes"),
            F.sort_array(
                F.collect_list(F.struct("member", "bytes"))
            ).alias("files"),
        )
        .join(keys, "base")
    )

    # Phases 2-3: global order + fixed-size packing (4 KiB shards)
    packed = dsort.pack_shards(
        grouped, ["key", "base"], "rec_bytes", shard_size=4096
    )

    # Creation phase: one real output tar per shard_id
    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["key", "base"], kind="mergesort")
        names, payloads = [], []
        for files in pdf["files"]:
            for f in files:
                names.append(f["member"])
                payloads.append(bytes(f["bytes"]))
        sid = int(pdf["shard_id"].iloc[0])
        blob = build_tar(names, payloads)
        (out_dir / f"out-{sid:05d}.tar").write_bytes(blob)
        return pd.DataFrame({"shard_id": [sid], "n": [len(pdf)]})

    manifest = (
        packed.groupBy("shard_id")
        .applyInPandas(build, schema="shard_id bigint, n bigint")
        .collect()
    )
    assert sum(m.n for m in manifest) == 240  # all records placed once

    # Verification (checkOutputShards): unpack every output shard and
    # assert records are globally ordered by key across shard ids.
    all_keys = []
    for sid in sorted(m.shard_id for m in manifest):
        with tarfile.open(out_dir / f"out-{sid:05d}.tar") as tar:
            infos = tar.getmembers()
            # every record contiguous: jpg+cls pairs with same base
            bases = [i.name.rsplit(".", 1)[0] for i in infos]
            assert bases[::2] == bases[1::2]
            shard_keys = [
                int(tar.extractfile(i).read())
                for i in infos
                if i.name.endswith(".cls")
            ]
            all_keys.append(shard_keys)
    flat = [k for sk in all_keys for k in sk]
    assert flat == sorted(flat), "keys must be globally sorted across shards"
    assert len(flat) == 240
