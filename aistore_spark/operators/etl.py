"""ETL offload — per-object map transforms (T1-T7).

The reference runs user transformers as K8s pods and pipes object bytes
through them, inline on GET (``ais/target.go:976-980``) or offline
bucket-to-bucket (``xact/xs/tcb.go``). The Python transform contract is
``ETLServer.transform(data: bytes, path: str, etl_args: str) -> bytes``
(``python/aistore/sdk/etl/webserver/base_etl_server.py:196-235``), with
an iterator variant ``transform_stream`` for large objects.

Spark-first: a transform is one scalar Arrow UDF over the ``(data,
path, args)`` columns; a pipeline (``TCBMsg.Transform.Pipeline``,
api/apc/tcbtco.go:53-54) is function composition *inside that UDF*
(one Python hop per batch, not one per stage); ``transform_stream``
maps to :func:`~aistore_spark.util.map_rows` (iterator form).
The K8s pod lifecycle (boot/readiness/abort) is infrastructure Spark
already owns — executors play the pods.

Scale notes: Arrow batches amortize the Python crossing; the transform
stage is embarrassingly parallel and fuses with the write that follows
(no shuffle). Keep everything else (filter/rename) JVM-side.
"""

from __future__ import annotations

import gzip
import hashlib
from collections.abc import Callable, Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aistore_spark.util import map_rows

#: the reference's transform contract: (data, path, etl_args) -> bytes
TransformFn = Callable[[bytes, str, str], bytes]


# ---- canned transforms (T6; parity with etl_templates.py:3-380) -------------


def t_echo(data: bytes, path: str, args: str) -> bytes:
    return data


def t_hello_world(data: bytes, path: str, args: str) -> bytes:
    return b"Hello World!"


def t_md5(data: bytes, path: str, args: str) -> bytes:
    return hashlib.md5(data).hexdigest().encode("ascii")


def t_sha256(data: bytes, path: str, args: str) -> bytes:
    return hashlib.sha256(data).hexdigest().encode("ascii")


def t_compress(data: bytes, path: str, args: str) -> bytes:
    # deterministic gzip: fixed level, zeroed mtime
    return gzip.compress(data, compresslevel=6, mtime=0)


def t_decompress(data: bytes, path: str, args: str) -> bytes:
    return gzip.decompress(data)


def t_compress_lz4(data: bytes, path: str, args: str) -> bytes:
    """LZ4-frame compression via the in-repo pure-Python codec
    (functions/lz4frame.py) — deterministic output, reference compress
    transformer's lz4 mode (ext/etl docs list compress algorithms)."""
    from aistore_spark.functions import lz4frame

    return lz4frame.compress(data)


def t_decompress_lz4(data: bytes, path: str, args: str) -> bytes:
    from aistore_spark.functions import lz4frame

    return lz4frame.decompress(data)


def t_prepend(data: bytes, path: str, args: str) -> bytes:
    """Prepend etl_args (demonstrates per-request args plumbing)."""
    return args.encode("utf-8") + data


def t_path_info(data: bytes, path: str, args: str) -> bytes:
    """path|args|len — exercises the full 3-arg contract."""
    return f"{path}|{args}|{len(data)}".encode("utf-8")


def _xxh64(data: bytes, seed: int = 0) -> int:
    """Pure-Python XXH64 (public algorithm, xxhash.com spec) — the
    reference's HASH template (etl_templates.py) uses xxhash64 hex.
    Used per-object inside an Arrow batch; ~1 us/KB is fine for the
    canned-demo path, swap in a C impl for production volumes."""
    P1, P2, P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
    P4, P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
    M = (1 << 64) - 1

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & M

    def round64(acc: int, lane: int) -> int:
        return (rotl((acc + lane * P2) & M, 31) * P1) & M

    n, off = len(data), 0
    if n >= 32:
        v1, v2 = (seed + P1 + P2) & M, (seed + P2) & M
        v3, v4 = seed & M, (seed - P1) & M
        while off + 32 <= n:
            lanes = [
                int.from_bytes(data[off + 8 * i : off + 8 * i + 8], "little")
                for i in range(4)
            ]
            v1, v2 = round64(v1, lanes[0]), round64(v2, lanes[1])
            v3, v4 = round64(v3, lanes[2]), round64(v4, lanes[3])
            off += 32
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & M
        for v in (v1, v2, v3, v4):
            h = ((h ^ round64(0, v)) * P1 + P4) & M
    else:
        h = (seed + P5) & M
    h = (h + n) & M
    while off + 8 <= n:
        h = (rotl(h ^ round64(0, int.from_bytes(data[off : off + 8], "little")), 27) * P1 + P4) & M
        off += 8
    if off + 4 <= n:
        h = (rotl(h ^ (int.from_bytes(data[off : off + 4], "little") * P1) & M, 23) * P2 + P3) & M
        off += 4
    while off < n:
        h = (rotl(h ^ (data[off] * P5) & M, 11) * P1) & M
        off += 1
    h = ((h ^ (h >> 33)) * P2) & M
    h = ((h ^ (h >> 29)) * P3) & M
    return h ^ (h >> 32)


def t_xxhash(data: bytes, path: str, args: str) -> bytes:
    """HASH template: xxhash64 hex digest of the object bytes."""
    return format(_xxh64(data), "016x").encode("ascii")


def _crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli), table-based — required by the TFRecord
    framing. Public polynomial 0x1EDC6F41 (reflected 0x82F63B78)."""
    tbl = _CRC32C_TABLE
    crc = 0xFFFFFFFF
    for b in data:
        crc = tbl[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _make_crc32c_table() -> list[int]:
    tbl = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        tbl.append(c)
    return tbl


_CRC32C_TABLE = _make_crc32c_table()


def _masked_crc(data: bytes) -> int:
    # TFRecord mask (public format: ((crc >> 15 | crc << 17) + magic))
    crc = _crc32c(data)
    return ((((crc >> 15) | (crc << 17)) & 0xFFFFFFFF) + 0xA282EAD8) & 0xFFFFFFFF


def tfrecord_frame(payload: bytes) -> bytes:
    """One TFRecord: len(8) + masked_crc(len)(4) + payload + masked_crc
    (payload)(4) — the public TFRecord on-disk framing."""
    length = len(payload).to_bytes(8, "little")
    return (
        length
        + _masked_crc(length).to_bytes(4, "little")
        + payload
        + _masked_crc(payload).to_bytes(4, "little")
    )


def t_tar2tf(data: bytes, path: str, args: str) -> bytes:
    """TAR2TF template: a TAR shard becomes a TFRecord stream, one
    record per member, payload = member bytes, in archive order (the
    reference converts shards for TF loaders; we keep payloads raw —
    feature-dict encoding is a composable follow-on transform)."""
    import io
    import tarfile

    out = io.BytesIO()
    with tarfile.open(fileobj=io.BytesIO(data)) as tf:
        for m in tf.getmembers():
            if not m.isfile():
                continue
            out.write(tfrecord_frame(tf.extractfile(m).read()))
    return out.getvalue()


def t_torchvision(data: bytes, path: str, args: str) -> bytes:
    """REAL torchvision-Resize analogue, no stub and no torch: decode
    the baseline JPEG with the in-repo codec
    (functions/jpegcodec.py), nearest-neighbor resample every plane to
    the 8-aligned ``WxH`` in *args* (default ``16x16``) and re-encode
    a baseline JPEG at quality 90 — the reference's
    ``torchvision_transform`` ETL template is exactly this
    decode→transform→re-encode loop (etl_templates.py)."""
    import numpy as np

    from aistore_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    tw, th = (int(x) for x in ((args or "16x16").split("x")))
    if tw % 8 or th % 8 or tw <= 0 or th <= 0:
        raise ValueError("target dims must be positive multiples of 8")
    info, planes = decode_jpeg(data)
    ys = (np.arange(th) * info["height"]) // th
    xs = (np.arange(tw) * info["width"]) // tw
    return encode_jpeg([p[np.ix_(ys, xs)] for p in planes], quality=90)


def keras_apply_planes(
    planes,
    theta: int = 0,
    tx: int = 0,
    ty: int = 0,
    flip_h: bool = False,
    flip_v: bool = False,
    bright: tuple[int, int] = (1, 1),
):
    """keras ``ImageDataGenerator.apply_transform`` analogue on
    decoded planes, integer-exact: rotate (right angles only — the
    arbitrary-theta path needs interpolation, which has no
    cross-engine-exact contract) → shift (zero fill, the keras
    ``fill_mode='constant', cval=0`` shape) → flips → brightness as a
    num/den rational with truncating division and [0, 255] clamp.
    Fixed application order, documented so pipelines compose
    deterministically."""
    import numpy as np

    if theta % 90:
        raise ValueError("theta must be a multiple of 90")
    num, den = bright
    if den <= 0 or num < 0:
        raise ValueError("brightness must be a non-negative rational")
    out = []
    for p in planes:
        q = np.rot90(p, (theta // 90) % 4)
        if tx or ty:
            h, w = q.shape
            r = np.zeros_like(q)
            dy0, dy1 = max(ty, 0), h - max(-ty, 0)
            dx0, dx1 = max(tx, 0), w - max(-tx, 0)
            if dy1 > dy0 and dx1 > dx0:
                r[dy0:dy1, dx0:dx1] = q[
                    max(-ty, 0) : h - max(ty, 0),
                    max(-tx, 0) : w - max(tx, 0),
                ]
            q = r
        if flip_h:
            q = q[:, ::-1]
        if flip_v:
            q = q[::-1, :]
        if (num, den) != (1, 1):
            q = np.clip(
                (q.astype(np.int64) * num) // den, 0, 255
            ).astype(p.dtype)
        out.append(np.ascontiguousarray(q))
    return out


def t_keras(data: bytes, path: str, args: str) -> bytes:
    """REAL keras_transform analogue, no stub and no keras/PIL: decode
    the baseline JPEG with the in-repo codec, apply the
    ``apply_transform``-style augmentation parsed from *args*
    (``theta=90,tx=8,ty=-8,flip_horizontal=1,flip_vertical=1,
    brightness=5/4`` — any subset), re-encode baseline JFIF at
    quality 90. The reference's ``keras_transform`` ETL template is
    exactly this decode→augment→re-encode loop
    (python/aistore/sdk/etl/etl_templates.py)."""
    from aistore_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    kv: dict[str, str] = {}
    known = {"theta", "tx", "ty", "flip_horizontal", "flip_vertical", "brightness"}
    for part in (args or "").split(","):
        if part.strip():
            k, _, v = part.partition("=")
            k = k.strip()
            if k not in known:
                # a typo ('rotation=90') must not silently no-op the
                # whole augmentation
                raise ValueError(f"keras_transform: unknown arg {k!r} (known: {sorted(known)})")
            kv[k] = v.strip()
    bright = (1, 1)
    if "brightness" in kv:
        n_s, _, d_s = kv["brightness"].partition("/")
        bright = (int(n_s), int(d_s or "1"))
    _, planes = decode_jpeg(data)
    return encode_jpeg(
        keras_apply_planes(
            planes,
            theta=int(kv.get("theta", "0")),
            tx=int(kv.get("tx", "0")),
            ty=int(kv.get("ty", "0")),
            flip_h=kv.get("flip_horizontal", "0") == "1",
            flip_v=kv.get("flip_vertical", "0") == "1",
            bright=bright,
        ),
        quality=90,
    )


def t_ffmpeg_audio(data: bytes, path: str, args: str) -> bytes:
    """REAL ``ffmpeg -ar`` analogue, no stub: rational integer-exact
    WAV resample to the target rate in *args* (default 16000) — see
    multimodal.resample_wav_bytes for the exact-arithmetic contract."""
    from aistore_spark.operators.multimodal import resample_wav_bytes

    return resample_wav_bytes(data, int(args or "16000"))


def t_face_detection(data: bytes, path: str, args: str) -> bytes:
    """REAL face-detection transform, no stub: Viola-Jones-core
    sliding-window Haar cascade over the in-repo BMP codec, detections
    drawn as box outlines — the reference transformer's image-in →
    boxed-image-out contract (etl_templates.py:341-375). The feature
    table is hand-specified (tuned to the synthetic face prior) rather
    than learned; a trained cascade swaps the table, not the
    machinery — see functions/facedetect.py."""
    from aistore_spark.functions.facedetect import t_face

    return t_face(data, path, args)


CANNED: dict[str, TransformFn] = {
    "echo": t_echo,
    "hello_world": t_hello_world,
    "md5": t_md5,
    "sha256": t_sha256,
    "hash": t_xxhash,
    "compress": t_compress,
    "decompress": t_decompress,
    "compress_lz4": t_compress_lz4,
    "decompress_lz4": t_decompress_lz4,
    "prepend": t_prepend,
    "path_info": t_path_info,
    "tar2tf": t_tar2tf,
    "keras_transform": t_keras,
    "torchvision_transform": t_torchvision,
    "ffmpeg_audio": t_ffmpeg_audio,
    "face_detection": t_face_detection,
}


def compose(transforms: Sequence[TransformFn]) -> TransformFn:
    """T4: ETL pipeline — ordered chain applied per object
    (``Pipeline []string``, api/apc/tcbtco.go:53-54). Composed into ONE
    Python function so an N-stage pipeline still crosses the
    JVM/Python boundary once per batch."""

    def chained(data: bytes, path: str, args: str) -> bytes:
        for t in transforms:
            data = t(data, path, args)
        return data

    return chained


def resolve(pipeline: Sequence[str | TransformFn]) -> TransformFn:
    fns = [CANNED[t] if isinstance(t, str) else t for t in pipeline]
    return compose(fns)


# ---- UDF plumbing -----------------------------------------------------------


def _arrow_udf(pipeline: Sequence[str | TransformFn]):
    """One scalar Arrow UDF running *pipeline* per object over the
    ``(data, path, args)`` columns of each Arrow batch."""
    fn = resolve(pipeline)

    @F.arrow_udf("binary")
    def udf(data: pa.Array, path: pa.Array, args: pa.Array) -> pa.Array:
        rows = zip(data.to_pylist(), path.to_pylist(), args.to_pylist())
        return pa.array([fn(d, p, a) for d, p, a in rows], type=pa.binary())

    return udf


def transform_udf(
    pipeline: Sequence[str | TransformFn], etl_args: str = ""
) -> Callable[[Column, Column], Column]:
    """The Arrow UDF of a transform pipeline with job-constant
    *etl_args*: a callable of (data_col, path_col) -> bytes column —
    the inline-ETL GET shape (T1)."""
    udf = _arrow_udf(pipeline)
    return lambda data, path: udf(data, path, F.lit(etl_args))


def etl_inline(
    df: DataFrame,
    pipeline: Sequence[str | TransformFn],
    data_col: str = "data",
    path_col: str = "name",
    etl_args: str = "",
    out_col: str = "out",
) -> DataFrame:
    """T1: inline ETL — GET piped through the transformer
    (``ais/target.go:976-980``)."""
    udf = transform_udf(pipeline, etl_args)
    return df.withColumn(out_col, udf(F.col(data_col), F.col(path_col)))


def etl_inline_args(
    df: DataFrame,
    pipeline: Sequence[str | TransformFn],
    data_col: str = "data",
    path_col: str = "name",
    args_col: str = "etl_args",
    out_col: str = "out",
) -> DataFrame:
    """T1 with *per-request* etl_args: the reference passes args per
    GET (``QparamETLArgs``, ``api/apc/query.go:24`` area; per-request
    args on the transform contract,
    ``python/.../base_etl_server.py:196-235``) — so args is a COLUMN,
    not a job constant. Same Arrow UDF, fed the args column instead of
    a literal; no change in plan shape.
    """
    udf = _arrow_udf(pipeline)
    return df.withColumn(
        out_col, udf(F.col(data_col), F.col(path_col), F.col(args_col))
    )


def etl_offline(
    objects_with_data: DataFrame,
    pipeline: Sequence[str | TransformFn],
    prefix: str | None = None,
    prepend: str = "",
    ext_remap: dict[str, str] | None = None,
    data_col: str = "data",
    etl_args: str = "",
) -> DataFrame:
    """T2/T3: offline bucket→bucket transform (``TCBMsg``,
    api/apc/tcbtco.go:50-80): prefix-select, transform bytes, remap
    names (prepend + extension), ready to ``.write`` to the destination.
    """
    df = objects_with_data
    if prefix:
        df = df.filter(F.col("name").startswith(prefix))
    udf = transform_udf(pipeline, etl_args)
    out = df.withColumn("out", udf(F.col(data_col), F.col("name")))
    # destination naming: prepend + trailing-extension remap
    # (apc.TCBMsg.Ext, api/apc/tcbtco.go:97-110) — same rule as
    # movement.copy_plan, applied JVM-side.
    new_name = F.concat(F.lit(prepend), F.col("name"))
    for old, new in (ext_remap or {}).items():
        new_name = F.when(
            F.col("name").endswith(old),
            F.concat(
                F.lit(prepend),
                F.expr(f"substring(name, 1, length(name) - {len(old)})"),
                F.lit(new),
            ),
        ).otherwise(new_name)
    return out.withColumn("new_name", new_name)


def etl_offline_direct(
    objects_with_data: DataFrame,
    pipeline: Sequence[str | TransformFn],
    n_targets: int = 8,
    prepend: str = "etl/",
    data_col: str = "data",
    etl_args: str = "",
) -> DataFrame:
    """T8: offline transform with **direct put** — the reference's
    websocket/direct-put delivery (``ext/etl/websocket_comm.go:151+``,
    ``base_etl_server.py:294+``): the ETL container PUTs its output
    straight to the destination target instead of returning it through
    the requesting target (two hops become one).

    Spark-first re-expression: the transform output is shuffled ONCE,
    keyed by the destination's HRW owner, and lands grouped per target
    — the per-destination rollup (delivery manifest) rides the same
    exchange, so the plan contains exactly one Exchange after the
    transform (asserted in tests/test_etl_canned.py). Output is one
    manifest row per destination target: object count, bytes delivered,
    and order-insensitive fingerprints of names and transformed
    content.
    """
    out = etl_offline(
        objects_with_data, pipeline, prepend=prepend, data_col=data_col,
        etl_args=etl_args,
    ).select("new_name", F.col("out").alias("_o"))
    # HRW owner as a pure column expression: argmax over a literal
    # array of (md5(name#t), t) structs. An exploded-targets join would
    # shuffle the transformed payload n_targets-fold; this computes the
    # owner in codegen with zero extra rows — the ONLY exchange in the
    # plan is the one hash-partition by dst_target that both delivers
    # the bytes and feeds the manifest rollup (the direct-put hop).
    pairs = F.array(
        *[
            F.struct(
                F.md5(F.concat(F.col("new_name"), F.lit(f"#{t}"))).alias("h"),
                F.lit(t).cast("bigint").alias("t"),
            )
            for t in range(n_targets)
        ]
    )
    routed = out.withColumn("dst_target", F.array_max(pairs)["t"])
    # fingerprints hash each element FIRST (md5 of the name / of the
    # raw payload bytes), then hash the sorted digest list: names may
    # contain the join delimiter, and payloads may be arbitrary binary
    # that a string cast would mangle (invalid UTF-8 -> U+FFFD
    # collisions) — per-element digests make both unambiguous
    return routed.groupBy("dst_target").agg(
        F.count("*").alias("n_objects"),
        F.sum(F.length("_o")).alias("bytes_out"),
        F.md5(
            F.array_join(F.sort_array(F.collect_list(F.md5("new_name"))), ",")
        ).alias("names_md5"),
        F.md5(
            F.array_join(F.sort_array(F.collect_list(F.md5("_o"))), ",")
        ).alias("content_md5"),
    )


def etl_stream(
    df: DataFrame,
    pipeline: Sequence[str | TransformFn],
    schema: str,
    data_col: str = "data",
    path_col: str = "name",
    etl_args: str = "",
) -> DataFrame:
    """T5 ``transform_stream`` → :func:`~aistore_spark.util.map_rows`,
    the iterator form: the transform sees one Arrow batch at a time,
    never the whole object set in memory. Each row of *df* comes out
    with its transformed bytes appended, in the DDL *schema*."""
    fn = resolve(pipeline)
    cols = df.columns
    di, pi = cols.index(data_col), cols.index(path_col)

    def row(*vals):
        yield (*vals, fn(vals[di], vals[pi], etl_args))

    return map_rows(df, cols, schema, row)
