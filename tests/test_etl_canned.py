"""Canned-transform parity (T6): xxhash64 against the public test
vectors and Spark's JVM implementation; TAR2TF framing verified by
parsing the TFRecord stream back."""

from __future__ import annotations

import io
import struct

import pytest
from pyspark.sql import functions as F

from aistore_spark.operators.archive import build_tar
from aistore_spark.operators.etl import (
    CANNED,
    _masked_crc,
    _xxh64,
    t_tar2tf,
    t_xxhash,
)


def test_xxh64_public_vectors():
    # xxhash.com reference vectors (seed 0)
    assert _xxh64(b"") == 0xEF46DB3751D8E999
    assert _xxh64(b"a") == 0xD24EC4F1A98C6E5B
    assert _xxh64(b"abc") == 0x44BC2CF5AD770999
    # >=32-byte path
    assert _xxh64(b"a" * 101, seed=1) == _xxh64(b"a" * 101, seed=1)
    assert t_xxhash(b"abc", "p", "") == b"44bc2cf5ad770999"


def test_xxh64_matches_spark_jvm(spark):
    """Spark's xxhash64 over BINARY uses raw-bytes XXH64 with seed 42 —
    our pure-Python port must agree on every length class (tail sizes
    exercise the 8/4/1-byte finishers)."""
    payloads = [b"", b"x", b"1234", b"12345678", b"a" * 31, b"b" * 32,
                b"c" * 100]
    df = spark.createDataFrame(
        [(bytearray(p),) for p in payloads], "data binary"
    ).select(F.xxhash64("data").alias("h"))
    jvm = [r["h"] & ((1 << 64) - 1) for r in df.collect()]
    ours = [_xxh64(p, seed=42) for p in payloads]
    assert ours == jvm


def parse_tfrecords(stream: bytes) -> list[bytes]:
    out, off = [], 0
    while off < len(stream):
        (length,) = struct.unpack_from("<Q", stream, off)
        (len_crc,) = struct.unpack_from("<I", stream, off + 8)
        assert len_crc == _masked_crc(stream[off : off + 8])
        payload = stream[off + 12 : off + 12 + length]
        (data_crc,) = struct.unpack_from("<I", stream, off + 12 + length)
        assert data_crc == _masked_crc(payload)
        out.append(payload)
        off += 12 + length + 4
    return out


def test_tar2tf_roundtrip():
    names = [f"rec-{i:04d}.jpg" for i in range(7)]
    payloads = [bytes([i]) * (11 * i + 3) for i in range(7)]
    tfstream = t_tar2tf(build_tar(names, payloads), "s.tar", "")
    assert parse_tfrecords(tfstream) == payloads


def test_face_detection_canned_boxes_faces():
    """Round 6 closed the last canned stub: face_detection is the
    Viola-Jones-core detector (integral image + Haar contrasts +
    cascade rejection) over the in-repo BMP codec. A synthetic face
    must come back boxed at its exact synthesis position; a faceless
    image must round-trip unboxed; truncated input must raise."""
    import numpy as np

    from aistore_spark.functions.facedetect import (
        decode_bmp_gray,
        detect_faces,
        synth_face_bmp,
    )

    face_id, blank_id = 24, 25  # 24 % 4 == 0 has a face, 25 % 4 == 1 not
    boxed = CANNED["face_detection"](synth_face_bmp(face_id), "p", "")
    gray = decode_bmp_gray(boxed)
    w = 32 + 8 * (face_id % 3)
    fx = 8 * (face_id % ((w - 16) // 8 + 1))
    fy = 8 * (face_id % 3)
    assert (gray[fy, fx : fx + 16] == 255).all()
    assert (gray[fy + 15, fx : fx + 16] == 255).all()
    assert detect_faces(decode_bmp_gray(synth_face_bmp(face_id))) == [(fx, fy)]
    blank = synth_face_bmp(blank_id)
    assert CANNED["face_detection"](blank, "p", "") == blank
    assert detect_faces(np.full((32, 48), 200, dtype=np.uint8)) == []
    with pytest.raises(ValueError, match="not a BMP"):
        CANNED["face_detection"](b"nope", "p", "")


def test_top_down_bmp_decodes_like_bottom_up():
    """decode_bmp_gray reads BMPs through the shared BMP parser: a
    top-down (negative-height) file decodes to the same array as its
    bottom-up twin."""
    import struct

    import numpy as np

    from aistore_spark.functions.facedetect import (
        decode_bmp_gray,
        synth_face_bmp,
    )

    up = synth_face_bmp(24)
    _hsz, w, h = struct.unpack_from("<Iii", up, 14)
    stride = (3 * w + 3) & ~3
    rows = [up[54 + y * stride : 54 + (y + 1) * stride] for y in range(h)]
    down = (
        up[:22] + struct.pack("<i", -h) + up[26:54] + b"".join(rows[::-1])
    )
    assert np.array_equal(decode_bmp_gray(down), decode_bmp_gray(up))


def test_torchvision_canned_is_real_jpeg_resize():
    """decode → nearest-neighbor resize → re-encode with the in-repo
    baseline-JPEG codec; the output is a decodable JPEG at the target
    dims whose pixels equal the source sampled at the floor mapping
    (within re-quantization error)."""
    import numpy as np

    from aistore_spark.functions.jpegcodec import decode_jpeg, synth_jpeg

    src = synth_jpeg(24)  # 48x8, 4:4:4
    out = CANNED["torchvision_transform"](src, "a/b.jpg", "16x8")
    info, planes = decode_jpeg(out)
    assert (info["width"], info["height"], info["n_components"]) == (16, 8, 3)
    src_info, src_planes = decode_jpeg(src)
    ys = (np.arange(8) * src_info["height"]) // 8
    xs = (np.arange(16) * src_info["width"]) // 16
    for got, sp in zip(planes, src_planes):
        want = sp[np.ix_(ys, xs)]
        assert np.abs(got.astype(int) - want.astype(int)).max() <= 3
    with pytest.raises(ValueError, match="multiples of 8"):
        CANNED["torchvision_transform"](src, "p", "10x6")


def test_keras_apply_planes_exact():
    """The augmentation kernel is integer-exact numpy: right-angle
    rotations compose to identity, flips are involutions, shifts
    zero-fill with the keras constant mode, brightness truncates and
    clamps."""
    import numpy as np

    from aistore_spark.operators.etl import keras_apply_planes

    rng = np.random.default_rng(7)
    p = rng.integers(0, 256, size=(16, 24), dtype=np.uint8)
    r = p
    for _ in range(4):
        r = keras_apply_planes([r], theta=90)[0]
    assert np.array_equal(r, p)
    assert np.array_equal(
        keras_apply_planes(
            keras_apply_planes([p], flip_h=True), flip_h=True
        )[0],
        p,
    )
    s = keras_apply_planes([p], tx=3, ty=-2)[0]
    assert np.array_equal(s[: 16 - 2, 3:], p[2:, : 24 - 3])
    assert (s[16 - 2 :, :] == 0).all() and (s[:, :3] == 0).all()
    b = keras_apply_planes([p], bright=(5, 4))[0]
    assert np.array_equal(
        b, np.clip((p.astype(np.int64) * 5) // 4, 0, 255).astype(np.uint8)
    )
    with pytest.raises(ValueError, match="multiple of 90"):
        keras_apply_planes([p], theta=45)
    with pytest.raises(ValueError, match="rational"):
        keras_apply_planes([p], bright=(1, 0))


def test_keras_unknown_arg_raises():
    """A typo like 'rotation=90' must raise, not silently no-op the
    augmentation (ADVICE r6)."""
    from aistore_spark.functions.jpegcodec import synth_jpeg
    from aistore_spark.operators.etl import t_keras

    src = synth_jpeg(3)
    with pytest.raises(ValueError, match="unknown arg 'rotation'"):
        t_keras(src, "p", "rotation=90")
    with pytest.raises(ValueError, match="unknown arg 'flip_h'"):
        t_keras(src, "p", "theta=90,flip_h=1")
    # the known-keys path is unaffected
    assert isinstance(t_keras(src, "p", "theta=90,flip_horizontal=1"), bytes)


def test_keras_canned_is_real_decode_augment_encode():
    """The canned keras_transform must BE decode → keras_apply_planes
    → encode at quality 90 (byte-identical to composing those calls),
    and theta=90 must swap the container dims through the full
    re-encode round trip."""
    from aistore_spark.functions.jpegcodec import decode_jpeg, synth_jpeg
    from aistore_spark.operators.etl import keras_apply_planes

    src = synth_jpeg(24)
    args = "theta=180,flip_horizontal=1,brightness=5/4"
    out = CANNED["keras_transform"](src, "a/b.jpg", args)
    from aistore_spark.functions.jpegcodec import encode_jpeg

    _, src_planes = decode_jpeg(src)
    want = encode_jpeg(
        keras_apply_planes(
            src_planes, theta=180, flip_h=True, bright=(5, 4)
        ),
        quality=90,
    )
    assert out == want
    src_info, _ = decode_jpeg(src)
    rot = CANNED["keras_transform"](src, "a/b.jpg", "theta=90")
    info, _ = decode_jpeg(rot)
    assert (info["width"], info["height"]) == (
        src_info["height"],
        src_info["width"],
    )


def test_ffmpeg_audio_canned_resamples_container():
    import io
    import wave

    from aistore_spark.operators.multimodal import synth_wav

    src = synth_wav(13)  # 813 frames @ 8 kHz
    out = CANNED["ffmpeg_audio"](src, "a/b.wav", "16000")
    with wave.open(io.BytesIO(out)) as w:
        assert w.getframerate() == 16000
        assert w.getnframes() == 813 * 2  # exact 1:2 upsample length


def test_compress_lz4_round_trip_and_pipeline():
    """compress_lz4/decompress_lz4 use the in-repo LZ4 frame codec;
    composed as a pipeline they must be identity, and the compressed
    form must be a valid LZ4 frame (magic 0x184D2204)."""
    from aistore_spark.operators.etl import resolve

    data = b"training-record " * 4096
    comp = CANNED["compress_lz4"](data, "p", "")
    assert comp[:4] == bytes.fromhex("04224d18")  # LE magic
    assert len(comp) < len(data) // 10
    assert CANNED["decompress_lz4"](comp, "p", "") == data
    ident = resolve(["compress_lz4", "decompress_lz4"])
    assert ident(data, "p", "") == data


def test_direct_put_single_exchange_and_routing(spark):
    """T8 direct-put: the plan must contain exactly ONE Exchange after
    the transform (the direct hop to the destination owner) — no
    second requester-style hop — and every object must be delivered to
    its HRW owner exactly once."""
    from pyspark.sql import functions as F

    from aistore_spark.operators.etl import etl_offline_direct

    docs = spark.createDataFrame(
        [(f"d/{i:04d}.txt", f"payload {i}".encode()) for i in range(200)],
        "name string, data binary",
    )
    out = etl_offline_direct(docs, ["md5"], n_targets=4, prepend="etl/")
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange")
    assert n_exchanges == 1, f"expected 1 exchange, plan has {n_exchanges}"

    rows = out.collect()
    assert sum(r.n_objects for r in rows) == 200
    assert len(rows) == len({r.dst_target for r in rows}) <= 4

    # routing must agree with the md5 rendezvous argmax computed naively
    import hashlib

    def owner(name: str) -> int:
        return max(
            range(4),
            key=lambda t: hashlib.md5(f"{name}#{t}".encode()).hexdigest(),
        )

    want: dict[int, int] = {}
    for i in range(200):
        want[owner(f"etl/d/{i:04d}.txt")] = (
            want.get(owner(f"etl/d/{i:04d}.txt"), 0) + 1
        )
    assert {r.dst_target: r.n_objects for r in rows} == want


def test_resample_two_rate_roundtrip_is_exact():
    """Integer-exact rational resample: upsampling by 2 inserts
    interpolated samples at odd indices and KEEPS the originals at
    even ones, so 8k->16k->8k must be the identity bit-for-bit; and
    the truncate-toward-zero contract must hold on negative samples."""
    import numpy as np

    from aistore_spark.operators.multimodal import resample_pcm

    rng = np.random.RandomState(5)
    pcm = rng.randint(-32768, 32768, size=1501).astype(np.int64)
    up = resample_pcm(pcm, 8000, 16000)
    assert len(up) == 3002
    assert (up[::2] == pcm).all()
    back = resample_pcm(up, 16000, 8000)
    assert (back == pcm).all()
    # trunc-toward-zero (SQL semantics), not floor: (-100+? ) case
    out = resample_pcm(np.array([100, -100]), 2, 3)
    assert out.tolist() == [100, -33, -100]  # floor would give -34
