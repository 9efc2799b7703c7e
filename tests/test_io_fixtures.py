"""Real on-disk shard fixtures (sources/io_fixtures.py): the write →
binaryFile scan → expand → parse round trip must reproduce the members
catalog exactly, and the _SUCCESS marker must cache/invalidate right."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

from aistore_spark import catalog
from aistore_spark.sources import io_fixtures
from aistore_spark.sources.tables import load_table


def test_round_trip_matches_catalog(spark, sf_dir, monkeypatch, tmp_path):
    monkeypatch.setattr(io_fixtures, "_REPO", tmp_path)
    shards = io_fixtures.materialize_shards(spark, sf_dir)

    members = catalog.members_catalog(load_table(spark, sf_dir, "lineitem"))
    expect = {
        (r.shard, r.member, r.key_str)
        for r in members.select("shard", "member", "key_str").collect()
    }
    got_rows = (
        io_fixtures.read_shard_members(spark, shards)
        .withColumn(
            "key_str",
            F.expr("substring(cast(bytes as string), length(member) + 2)"),
        )
        .select("shard", "member", "key_str", "size", "bytes")
        .collect()
    )
    got = {(r.shard, r.member, r.key_str) for r in got_rows}
    assert got == expect
    # payload bytes on disk are exactly synth_payload(member, key_str)
    for r in got_rows[:50]:
        assert bytes(r.bytes) == f"{r.member}:{r.key_str}".encode()
        assert r.size == len(bytes(r.bytes))

    # cached: second call is a no-op (marker mtime unchanged)
    marker = Path(shards) / "_SUCCESS"
    before = marker.stat().st_mtime_ns
    assert io_fixtures.materialize_shards(spark, sf_dir) == shards
    assert marker.stat().st_mtime_ns == before
    assert json.loads(marker.read_text())["sample_mod"] == 1

    # a format bump PUBLISHES A NEW DIRECTORY (atomic rename) — the old
    # one is never mutated, so a concurrent reader can't observe a
    # half-rebuilt fixture (the r9 parallel-pytest race)
    monkeypatch.setattr(
        io_fixtures, "FORMAT_VERSION", io_fixtures.FORMAT_VERSION + 1
    )
    shards2 = io_fixtures.materialize_shards(spark, sf_dir)
    assert shards2 != shards
    assert (Path(shards2) / "_SUCCESS").exists()
    assert marker.exists()  # old dir untouched


def test_shard_read_lists_directory_on_driver(spark, sf_dir):
    """Constructing a real-bytes shard read starts no Spark job: the
    128-shard directory is listed once on the driver. A ``*.tar`` glob
    over the same shards is 128 root paths, which Spark lists again in
    a 128-task job. Both reads yield the same member rows."""
    from aistore_spark.sources.binary import (
        expand_archive_members,
        read_binary_objects,
    )

    shards = io_fixtures.materialize_shards(spark, sf_dir)
    assert len(list(Path(shards).glob("*.tar"))) == 128
    sc = spark.sparkContext
    group = "read-shard-members-construct"
    sc.setJobGroup(group, "read_shard_members")
    try:
        got = io_fixtures.read_shard_members(spark, shards)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    ref = expand_archive_members(
        read_binary_objects(spark, shards + "/*.tar")
    ).withColumn("shard", F.regexp_extract("shard", r"([^/]+)$", 1))

    def rows(df):
        cols = ("shard", "member", "offset", "size")
        return sorted(
            tuple(r) for r in df.select(*cols, F.md5("bytes")).collect()
        )

    expect = rows(ref)
    assert len(expect) == 6000
    assert rows(got) == expect


def test_media_shards_rebuild_for_another_corpus(
    spark, sf_dir, monkeypatch, tmp_path
):
    """The media materializer shares the marker-gated publish: a
    ``_SUCCESS`` marker that records another corpus path triggers a
    rebuild into the same directory, which then records this corpus;
    a matching marker is reused as is."""
    monkeypatch.setattr(io_fixtures, "_REPO", tmp_path)
    media = Path(io_fixtures.materialize_media_shards(spark, sf_dir))
    marker = media / "_SUCCESS"
    first = json.loads(marker.read_text())
    assert first["sf_dir"] == str(Path(sf_dir).resolve())
    assert first["n_shards"] == len(list(media.glob("*.tar"))) > 0
    tars = {p.name: p.read_bytes() for p in media.glob("*.tar")}

    marker.write_text(json.dumps({**first, "sf_dir": "/elsewhere/sf0.001"}))
    (media / "media-00000.tar").write_bytes(b"stale")
    assert io_fixtures.materialize_media_shards(spark, sf_dir) == str(media)
    assert json.loads(marker.read_text()) == first
    assert {p.name: p.read_bytes() for p in media.glob("*.tar")} == tars

    before = marker.stat().st_mtime_ns
    assert io_fixtures.materialize_media_shards(spark, sf_dir) == str(media)
    assert marker.stat().st_mtime_ns == before
