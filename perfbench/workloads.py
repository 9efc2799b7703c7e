"""The closed-loop workloads: the operations each runs, how the
seed chooses them, and the check of every output.

A workload is driven through four calls: ``setup`` builds its state in
a fresh Spark session, ``sequence`` yields the seeded operations,
``build`` constructs an operation's frame (the construction layer)
and ``execute`` runs its terminal action and returns a comparable
result. ``check`` runs after the timed window and recomputes every
recorded result with an independent twin: DuckDB over the fixture
parquet, plain Python, or an exact invariant.
"""

from __future__ import annotations

import hashlib
import io
import random
import tarfile
from dataclasses import dataclass
from pathlib import Path

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aistore_spark import oracles
from aistore_spark.operators import (
    archive,
    dedup,
    dsort,
    joins,
    sampling,
    simsearch,
    text,
)
from aistore_spark.sources import io_fixtures
from aistore_spark.sources.tables import load_table
from aistore_spark.util import local_frame, md5_bucket, pin

#: the width of the sf0.1 embeddings
VEC_DIM = 64


@dataclass
class OpRecord:
    seq: int
    kind: str
    write: bool
    params: dict
    latency_s: float = 0.0
    result: object = None
    error: str | None = None
    items: int = 0
    traced: bool = False
    cycle: int = 0
    #: wall-clock start and end (perf_counter seconds)
    start: float = 0.0
    end: float = 0.0


def digest(rows) -> str:
    return hashlib.md5(repr(rows).encode()).hexdigest()


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _bucket(s: str, mod: int) -> int:
    """Python twin of ``util.md5_bucket``."""
    return int(_md5(s)[:8], 16) % mod


class Workload:
    """Base of the workloads: the seeded sequence and the warm-up."""

    name = ""
    reads: tuple = ()
    writes: tuple = ()

    def __init__(self, fx: dict, work: Path, seed: int):
        self.fx = fx
        self.work = work
        self.seed = seed
        self.spark = None

    def sequence(self):
        """Endless seeded operation sequence, one cycle at a time."""
        rng = random.Random(f"{self.name}:{self.seed}")
        c = 0
        while True:
            yield from self.cycle(rng, c)
            c += 1

    def warm_ops(self) -> list[tuple[str, dict]]:
        """One operation of every kind, identical on every run."""
        return self.cycle(random.Random(f"{self.name}:warm"), -1)

    def cycle_len(self) -> int:
        return len(self.cycle(random.Random(0), 0))

    def items(self, kind: str, result) -> int:
        return 0

    def close(self) -> None:
        """Drop the state :meth:`setup` built."""

    def describe(self) -> str:
        """One line on the inputs the set-up prepared."""
        return ""


# ---- shard_io ----------------------------------------------------------------


class ShardIO(Workload):
    """Real USTAR shards on disk: index builds, get-batch assembly and
    dsort over shard bytes, and packs of member subsets into new
    shards."""

    name = "shard_io"
    reads = ("index", "get_batch", "dsort")
    writes = ("pack",)

    def setup(self, spark) -> None:
        """Build the shard index from the tar headers on disk: every
        get-batch draws its requests from it."""
        self.spark = spark
        self.shards = self.fx["shards"]
        rows = self._members(False).select("shard", "member").collect()
        self.index = sorted((r[0], r[1]) for r in rows)
        self.packs = 0

    def describe(self) -> str:
        return (
            f"shards: {len(self.index)} members indexed, "
            f"{self.fx['tar_bytes'] / 2**20:.1f} MiB in 128 tar files"
        )

    def cycle(self, rng: random.Random, c: int) -> list[tuple[str, dict]]:
        kinds = list(self.reads + self.writes)
        rng.shuffle(kinds)
        return [(k, self.params(k, rng)) for k in kinds]

    def params(self, kind: str, rng: random.Random) -> dict:
        if kind == "get_batch":
            n = rng.randrange(2400, 2601)
            p_plain = rng.uniform(0.45, 0.55)
            p_miss = rng.uniform(0.1, 0.15)
            reqs = []
            for _ in range(n):
                shard, member = self.index[rng.randrange(len(self.index))]
                u = rng.random()
                if u < p_miss / 2:  # no such object
                    reqs.append((f"rec-{rng.randrange(10**8, 10**9):09d}.jpg", ""))
                elif u < p_miss:  # the member, looked up in the wrong shard
                    other = (int(shard[len("shard-") : -len(".tar")]) + 1) % 128
                    reqs.append((f"shard-{other:05d}.tar", member))
                elif u < p_miss + p_plain:
                    reqs.append((member, ""))
                else:
                    reqs.append((shard, member))
            return {"requests": reqs}
        if kind == "dsort":
            return {
                "algorithm": ("md5", "shuffle", "alphanumeric")[rng.randrange(3)],
                "shard_size": rng.randrange(96 << 10, 128 << 10),
                "salt": str(rng.randrange(1 << 30)),
            }
        if kind == "pack":
            return {
                "pct": rng.randrange(24, 27),
                "salt": str(rng.randrange(1 << 30)),
                "n_out": rng.randrange(20, 25),
            }
        return {}

    def _members(self, with_bytes: bool) -> DataFrame:
        return io_fixtures.read_shard_members(
            self.spark, self.shards, with_bytes=with_bytes
        )

    def build(self, kind: str, p: dict):
        if kind == "index":
            return (
                self._members(False)
                .groupBy("shard")
                .agg(F.count("*").alias("n"), F.sum("size").alias("bytes"))
            )
        mem = self._members(True).withColumn(
            "key_str", F.expr("substring(cast(bytes as string), length(member) + 2)")
        )
        if kind == "get_batch":
            # resolved by the engine's mixed-kind get-batch join; as in
            # the engine's g1c_assemble_batches_io, each payload is
            # rebuilt from the key parsed out of the shard bytes
            req = local_frame(
                self.spark,
                [(i, "ais://shards", o, a, 0, 0) for i, (o, a) in enumerate(p["requests"])],
                "req_idx long, bucket string, objname string, archpath string, "
                "rstart long, rlength long",
            )
            res = joins.get_batch_join_mixed(req, mem, with_keys=True)
            name = F.when(F.col("archpath") != "", F.col("archpath")).otherwise(
                F.col("objname")
            )
            payload = F.encode(
                F.concat(name, F.lit(":"), F.coalesce("akey", "pkey")), "UTF-8"
            )
            return archive.assemble_batches_bytes(
                res.select(
                    "req_idx",
                    "out_name",
                    F.when(F.col("status") == "ok", payload)
                    .otherwise(F.lit(b""))
                    .alias("payload"),
                    "status",
                    F.floor(F.col("req_idx") / 250).cast("bigint").alias("batch_id"),
                )
            )
        if kind == "dsort":
            recs = mem.select(
                F.regexp_extract("member", r"^(.*)\.[^.]+$", 1).alias("base"),
                F.regexp_extract("member", r"\.([^.]+)$", 1).alias("ext"),
                F.length("bytes").cast("bigint").alias("size"),
            )
            spec = dsort.DsortSpec(
                algorithm=p["algorithm"],
                output_shard_size=p["shard_size"],
                seed=p["salt"],
            )
            return dsort.shard_manifest(
                dsort.run_dsort(recs, spec), item_col="base", size_col="rec_bytes"
            )
        picked = mem.filter(
            md5_bucket(F.concat(F.col("member"), F.lit(p["salt"])), 100) < p["pct"]
        )
        uniq = picked.groupBy("member").agg(F.min(F.struct("key_str", "bytes")).alias("m"))
        okey = F.regexp_extract("member", r"rec-(\d{9})", 1).cast("bigint")
        return uniq.select(
            F.concat(
                F.lit("pack-"), F.lpad((okey % p["n_out"]).cast("string"), 5, "0"),
                F.lit(".tar"),
            ).alias("shard"),
            "member",
            F.col("m.bytes").alias("bytes"),
        )

    def execute(self, kind: str, p: dict, df):
        if kind == "pack":
            out = self.work / f"pack-{self.packs}"
            self.packs += 1
            manifest = io_fixtures.write_packed_shards(df, str(out))
            return {"dir": str(out), "manifest": sorted(tuple(r) for r in manifest)}
        return sorted(tuple(r) for r in df.collect())

    def items(self, kind: str, result) -> int:
        if kind == "pack":
            return sum(r[1] for r in result["manifest"])
        return len(self.index)

    # -- the check -------------------------------------------------------

    def _twin_members(self) -> list[tuple[str, str, str]]:
        """(shard, member, key_str) per lineitem row, derived by DuckDB
        through the engine's oracle SQL for the members catalog."""
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM '{self.fx['data']}/lineitem.parquet'"
        )
        rows = con.execute(
            f"SELECT shard, member, key_str FROM ({oracles.MEMBERS_SQL})"
        ).fetchall()
        con.close()
        return rows

    def check(self, records: list[OpRecord]) -> list[str]:
        rows = self._twin_members()
        keys: dict[tuple[str, str], str] = {}
        per_shard: dict[str, list[int]] = {}
        bases: dict[str, int] = {}
        for shard, member, key in rows:
            if (shard, member) not in keys or key < keys[shard, member]:
                keys[shard, member] = key
            per_shard.setdefault(shard, []).append(len(member) + 1 + len(key))
            base = member.rsplit(".", 1)[0]
            bases[base] = bases.get(base, 0) + len(member) + 1 + len(key)
        by_member: dict[str, tuple[str, str]] = {}
        for (shard, member), key in keys.items():
            if member not in by_member or key < by_member[member][1]:
                by_member[member] = (shard, key)
        index = sorted((s, len(v), sum(v)) for s, v in per_shard.items())
        failures = []
        for rec in records:
            if rec.error:
                continue
            bad = None
            if rec.kind == "index":
                bad = rec.result != index
            elif rec.kind == "get_batch":
                bad = rec.result != self._twin_batches(rec.params, keys, by_member)
            elif rec.kind == "dsort":
                bad = not self._dsort_ok(rec.result, rec.params, bases)
            elif rec.kind == "pack":
                bad = not self._pack_ok(rec.result, rec.params, by_member)
            if bad:
                failures.append(f"{rec.kind}#{rec.seq}: output is wrong")
        return failures

    @staticmethod
    def _twin_batches(p: dict, keys: dict, by_member: dict) -> list[tuple]:
        """Plain entries resolve by member name (the least key over all
        shards), archive-path entries by (shard, member)."""
        batches: dict[int, list] = {}
        for i, (obj, arch) in enumerate(p["requests"]):
            if arch:
                member, key = arch, keys.get((obj, arch))
            else:
                member, key = obj, by_member.get(obj, (None, None))[1]
            hit = key is not None
            path = f"ais://shards/{obj}" + (f"/{arch}" if arch else "")
            payload = f"{member}:{key}".encode() if hit else b""
            name = path if hit else joins.MISSING_SENTINEL + path
            batches.setdefault(i // 250, []).append((name, payload, hit))
        out = []
        for b, ents in sorted(batches.items()):
            out.append(
                (
                    b,
                    len(ents),
                    sum(1 for _, _, h in ents if not h),
                    sum(len(pl) for _, pl, _ in ents),
                    archive.expected_tar_size(len(pl) for _, pl, _ in ents),
                    _md5(",".join(n for n, _, _ in ents)),
                    _md5(",".join(hashlib.md5(pl).hexdigest() for _, pl, _ in ents)),
                )
            )
        return out

    @staticmethod
    def _dsort_ok(rows: list[tuple], p: dict, bases: dict) -> bool:
        # rows: (shard_id, n_items, bytes, first_item, last_item)
        ids = [r[0] for r in rows]
        if ids != list(range(len(rows))):
            return False
        if sum(r[1] for r in rows) != len(bases) or sum(r[2] for r in rows) != sum(
            bases.values()
        ):
            return False
        big = max(bases.values())
        if any(abs(r[2] - p["shard_size"]) > big for r in rows[:-1]):
            return False
        if p["algorithm"] == "alphanumeric":
            return all(a[4] < b[3] for a, b in zip(rows, rows[1:]))
        return True

    @staticmethod
    def _pack_ok(result: dict, p: dict, by_member: dict) -> bool:
        want = {
            m: f"{m}:{k}".encode()
            for m, (_, k) in by_member.items()
            if _bucket(m + p["salt"], 100) < p["pct"]
        }
        got: dict[str, bytes] = {}
        for f in sorted(Path(result["dir"]).glob("*.tar")):
            with tarfile.open(fileobj=io.BytesIO(f.read_bytes())) as tf:
                for m in tf.getmembers():
                    got[m.name] = tf.extractfile(m).read()
        n = sum(r[1] for r in result["manifest"])
        return got == want and n == len(want)


# ---- curation ----------------------------------------------------------------


class Curation(Workload):
    """One training-data curation pass per cycle over a seeded sample:
    exact dedup, MinHash-LSH near dedup, quality gates,
    decontamination and split, an IVF-PQ near-duplicate tier, and
    reshard plus export of the train split."""

    name = "curation"
    reads = ("exact_dedup", "near_dedup", "quality", "decontam_split", "ann_neardup")
    writes = ("reshard_export",)

    def setup(self, spark) -> None:
        self.spark = spark
        data = self.fx["data"]
        salt = str(self.seed)
        docs = load_table(spark, data, "documents")

        def pick(df: DataFrame, key: str, mod: int, below: int, flip: bool = False):
            k = F.col(key).cast("string")
            salted = F.concat(F.lit(salt), k) if flip else F.concat(k, F.lit(salt))
            out = df.filter(md5_bucket(salted, mod) < below).persist()
            self.sizes.append(out.count())
            return out

        self.sizes: list[int] = []
        self.sample = pick(docs, "doc_id", 100, 25)
        self.evalset = pick(docs, "doc_id", 100, 3, flip=True)
        emb = load_table(spark, data, "embeddings")
        self.emb = pick(emb, "vec_id", 10, 8)
        self.queries = pick(self.emb, "vec_id", 100, 5, flip=True)
        self.centroids = emb.filter(F.col("vec_id") < 16)
        self.exports = 0
        self.ids: dict[str, list[int]] = {}

    def close(self) -> None:
        for df in (self.sample, self.evalset, self.emb, self.queries):
            df.unpersist()

    def describe(self) -> str:
        docs, evalset, vecs, queries = self.sizes
        return (
            f"sample: {docs} documents, eval set {evalset}, "
            f"{vecs} vectors, {queries} ANN queries"
        )

    def cycle(self, rng: random.Random, c: int) -> list[tuple[str, dict]]:
        return [(k, {"pass": c}) for k in self.reads + self.writes]

    def _docs(self, stage: str) -> DataFrame:
        return self.sample.filter(F.col("doc_id").isin(self.ids[stage]))

    def build(self, kind: str, p: dict):
        if kind == "exact_dedup":
            return dedup.exact_dedup(self.sample).filter(~F.col("is_dup")).select("doc_id")
        if kind == "near_dedup":
            docs1 = self._docs("exact_dedup")
            sh = pin(dedup.shingles(docs1))
            cand = dedup.lsh_candidate_pairs(docs1, shingles_df=sh)
            pairs = dedup.jaccard_verify(
                docs1, cand, threshold_num=1, threshold_den=5, shingles_df=sh
            )
            groups = dedup.dup_groups(pairs)
            return groups.filter(F.col("doc_id") != F.col("group_id")).select("doc_id")
        if kind == "quality":
            docs2 = self._docs("near_dedup")
            keep_q = text.gopher_quality(docs2).filter("keep").select("doc_id")
            keep_r = text.repetition_stats(docs2).filter("keep").select("doc_id")
            keep_f = (
                text.bigram_familiarity(docs2)
                .filter(F.col("mean_familiarity") >= 1)
                .select("doc_id")
            )
            return (
                docs2.join(keep_q, "doc_id", "left_semi")
                .join(keep_r, "doc_id", "left_semi")
                .join(keep_f, "doc_id", "left_semi")
                .select("doc_id")
            )
        if kind == "decontam_split":
            docs3 = self._docs("quality")
            hits = dedup.decontaminate(docs3, self.evalset)
            docs4 = docs3.join(hits.select("doc_id"), "doc_id", "left_anti")
            return sampling.hash_split(
                docs4.withColumn("name", F.col("doc_id").cast("string")),
                {"train": 90, "val": 5, "test": 5},
            ).select("doc_id", "split")
        if kind == "ann_neardup":
            return simsearch.ivfpq_topk(
                self.emb, self.centroids, self.centroids, self.queries,
                k=10, nprobe=2, m=4, dim=VEC_DIM,
            )
        train = self.sample.filter(F.col("doc_id").isin(self.ids["train"]))
        keyed = train.select(
            F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("doc_key"),
            F.col("n_chars").cast("bigint").alias("nbytes"),
            "text",
        )
        packed = dsort.pack_shards(keyed, ["doc_key"], "nbytes", shard_size=1 << 14)
        return packed.select(
            F.concat(
                F.lit("train-"), F.lpad(F.col("shard_id").cast("string"), 5, "0"),
                F.lit(".tar"),
            ).alias("shard"),
            F.concat("doc_key", F.lit(".txt")).alias("member"),
            F.encode("text", "UTF-8").alias("bytes"),
        )

    def execute(self, kind: str, p: dict, df):
        if kind == "reshard_export":
            out = self.work / f"export-{self.exports}"
            self.exports += 1
            manifest = io_fixtures.write_packed_shards(df, str(out))
            return {"dir": str(out), "manifest": sorted(tuple(r) for r in manifest)}
        rows = sorted(tuple(r) for r in df.collect())
        if kind == "exact_dedup":
            self.ids[kind] = [r[0] for r in rows]
        elif kind == "near_dedup":
            dropped = {r[0] for r in rows}
            self.ids[kind] = [i for i in self.ids["exact_dedup"] if i not in dropped]
        elif kind == "quality":
            self.ids[kind] = [r[0] for r in rows]
        elif kind == "decontam_split":
            self.ids["train"] = [r[0] for r in rows if r[1] == "train"]
        return rows

    def items(self, kind: str, result) -> int:
        return sum(r[1] for r in result["manifest"]) if kind == "reshard_export" else 0

    # -- the check -------------------------------------------------------

    def check(self, records: list[OpRecord]) -> list[str]:
        sample = {
            r["doc_id"]: r["text"]
            for r in self.sample.select("doc_id", "text").collect()
        }
        evalset = [r["text"] for r in self.evalset.select("text").collect()]
        failures = []
        firsts: dict[str, object] = {}
        for rec in sorted(records, key=lambda r: r.seq):
            if rec.error:
                continue
            key = rec.kind
            # every pass sees identical input, so every pass must agree
            res = rec.result if rec.kind != "reshard_export" else rec.result["manifest"]
            if key in firsts and firsts[key] != res:
                failures.append(f"{rec.kind}#{rec.seq}: differs from the first pass")
                continue
            if key in firsts:
                continue
            firsts[key] = res
            ok = getattr(self, f"_ok_{rec.kind}")(rec.result, sample, evalset, firsts)
            if not ok:
                failures.append(f"{rec.kind}#{rec.seq}: output is wrong")
        return failures

    @staticmethod
    def _ok_exact_dedup(rows, sample, evalset, firsts) -> bool:
        canon: dict[str, int] = {}
        for i, t in sample.items():
            h = _md5(t)
            canon[h] = min(canon.get(h, i), i)
        return [r[0] for r in rows] == sorted(canon.values())

    @staticmethod
    def _grams(t: str, n: int) -> set[str]:
        w = t.split(" ")
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    def _ok_near_dedup(self, rows, sample, evalset, firsts) -> bool:
        kept = {r[0] for r in firsts["exact_dedup"]}
        dropped = [r[0] for r in rows]
        if not dropped or not set(dropped) <= kept:
            return False
        grams = {i: self._grams(sample[i], 3) for i in kept}
        for d in dropped:
            # a dropped doc has at least one verified partner
            if not any(
                5 * len(grams[d] & grams[e]) >= len(grams[d] | grams[e])
                for e in kept
                if e != d and grams[e]
            ):
                return False
        return True

    @staticmethod
    def _gopher_keep(t: str) -> bool:
        """Python twin of ``text.gopher_quality``'s verdict."""
        words = t.split(" ")
        n = len(words)
        sum_wl = len(t) - n + 1
        n_alpha = sum(1 for w in words if any(c.isascii() and c.isalpha() for c in w))
        n_stop = len(set(words) & set(text.GOPHER_STOP))
        return (
            20 <= n <= 100_000
            and 3 * n <= sum_wl <= 10 * n
            and 10 * n_alpha >= 8 * n
            and n_stop >= 2
            and 10 * t.count("#") <= n
        )

    def _ok_quality(self, rows, sample, evalset, firsts) -> bool:
        # the Gopher rules are one of three gates: a kept document must
        # pass them, and every pass must keep some documents
        kept = {r[0] for r in firsts["exact_dedup"]} - {r[0] for r in firsts["near_dedup"]}
        ids = {r[0] for r in rows}
        return bool(ids) and all(i in kept and self._gopher_keep(sample[i]) for i in ids)

    def _ok_decontam_split(self, rows, sample, evalset, firsts) -> bool:
        ev = set().union(*(self._grams(t, 5) for t in evalset))
        want = []
        for (i,) in firsts["quality"]:
            if self._grams(sample[i], 5) & ev:
                continue
            b = _bucket(str(i), 100)
            want.append((i, "train" if b < 90 else "val" if b < 95 else "test"))
        return rows == want

    def _ok_ann_neardup(self, rows, sample, evalset, firsts) -> bool:
        corpus = {r[0] for r in self.emb.select("vec_id").collect()}
        by_q: dict[int, list[tuple]] = {}
        for q, rank, nb, adc in rows:
            by_q.setdefault(q, []).append((rank, nb, adc))
        for q, hits in by_q.items():
            hits.sort()
            if [h[0] for h in hits] != list(range(1, len(hits) + 1)):
                return False
            if any(nb == q or nb not in corpus for _, nb, _ in hits):
                return False
            if any(a[2] > b[2] for a, b in zip(hits, hits[1:])):
                return False
        return bool(by_q)

    def _ok_reshard_export(self, result, sample, evalset, firsts) -> bool:
        train = sorted(i for i, s in firsts["decontam_split"] if s == "train")
        want: dict[str, tuple[str, bytes]] = {}
        pos = 0
        for i in train:
            body = sample[i].encode()
            want[f"{i:08d}.txt"] = (f"train-{pos // (1 << 14):05d}.tar", body)
            pos += len(sample[i])
        got: dict[str, tuple[str, bytes]] = {}
        for f in sorted(Path(result["dir"]).glob("*.tar")):
            with tarfile.open(fileobj=io.BytesIO(f.read_bytes())) as tf:
                for m in tf.getmembers():
                    got[m.name] = (f.name, tf.extractfile(m).read())
        return got == want


WORKLOADS = {w.name: w for w in (ShardIO, Curation)}
