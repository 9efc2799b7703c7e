"""Gopher quality rules, sequence packing, decontamination: invariants
that the oracle can't see — layout independence, plan shape, verdict
consistency."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from aistore_spark.operators import dedup, sampling, text
from aistore_spark.sources.tables import load_table


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_gopher_keep_is_conjunction(spark, sf_dir):
    q = text.gopher_quality(_docs(spark, sf_dir))
    bad = q.filter(
        F.col("keep")
        != (
            F.col("ok_words")
            & F.col("ok_word_len")
            & F.col("ok_alpha")
            & F.col("ok_stopwords")
            & F.col("ok_symbols")
        )
    )
    assert bad.count() == 0
    # the rules discriminate on this corpus (no vacuous all-pass/all-fail)
    kept = q.filter("keep").count()
    assert 0 < kept < q.count()


def test_pack_sequences_chunk_arithmetic(spark, sf_dir):
    budget = 128
    packed = sampling.pack_sequences(_docs(spark, sf_dir), budget=budget)
    rows = packed.collect()
    # replay the packer serially: every field is exactly the
    # concat-and-chunk arithmetic in doc_id order
    cum = 0
    for r in sorted(rows, key=lambda r: r.doc_id):
        assert r.seq_id == cum // budget
        assert r.seq_offset == cum % budget
        assert r.n_seqs_spanned == (r.seq_offset + r.n_tokens - 1) // budget + 1
        cum += r.n_tokens
    # layout independence
    again = sampling.pack_sequences(
        _docs(spark, sf_dir).repartition(7), budget=budget
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))


def test_decontaminate_broadcasts_test_side(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = dedup.decontaminate(
        docs.filter(F.col("doc_id") % 25 != 0),
        docs.filter(F.col("doc_id") % 25 == 0),
        n=4,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.doc_id % 25 != 0  # only train docs flagged
        assert r.first_test_id % 25 == 0
        assert r.n_shingles >= 1 and r.n_test_docs >= 1


def test_decontaminate_self_is_total(spark, sf_dir):
    # decontaminating a corpus against itself flags every doc with >= 1
    # shingle (each collides with itself)
    docs = _docs(spark, sf_dir).limit(40)
    n_elig = docs.filter(
        F.size(F.split(F.col("text"), " ")) >= 4
    ).count()
    out = dedup.decontaminate(docs, docs, n=4)
    assert out.count() == n_elig


def test_repetition_stats_bigram_count_is_words_minus_one(spark):
    """Regression: zip_with pads the shorter slice with null and
    concat_ws SKIPS nulls, so the old bigram builder emitted the bare
    last word as a phantom n-th bigram (n_bigrams == n_words)."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x"), (3, "p q p q")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in text.repetition_stats(docs).collect()}
    assert out[1].n_words == 4 and out[1].n_bigrams == 3
    assert out[2].n_words == 1 and out[2].n_bigrams == 0
    # "p q p q": bigrams [p q, q p, p q] -> 'p q' twice = 2 dup occurrences
    assert out[3].n_bigrams == 3
    assert out[3].dup_bigram_occ == 2


def test_wav_decode_real_codec(spark):
    """decode_wav_meta parses genuine stdlib-written WAV bytes; RMS of
    a square wave equals its amplitude exactly, and stereo containers
    decode with the right channel count."""
    import io
    import struct
    import wave

    from aistore_spark.operators import multimodal

    ids = spark.createDataFrame([(3,), (10,)], "doc_id bigint")
    out = {
        r.doc_id: r
        for r in multimodal.decode_wav_meta(
            multimodal.synth_wav_frame(ids)
        ).collect()
    }
    assert out[3].rms == 1000 + 3 and out[3].n_frames == 800 + 3
    assert out[10].n_bytes == 44 + 2 * (800 + 10)
    assert out[10].duration_ms == (800 + 10) * 1000 // 8000

    # stereo, hand-built: 4 frames of (1000, -1000) per channel
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(struct.pack("<8h", *([1000, -1000] * 4)))
    stereo = spark.createDataFrame(
        [(99, buf.getvalue())], "doc_id bigint, wav binary"
    )
    r = multimodal.decode_wav_meta(stereo).collect()[0]
    assert r.n_channels == 2 and r.sample_rate == 16000
    assert r.n_frames == 4 and r.rms == 1000


def test_wav_decode_8bit_width(spark):
    """Regression: PCM dtype must follow sample_width — an 8-bit WAV
    decoded as '<i2' yields garbage stats. 8-bit PCM is unsigned with
    midpoint 128, so ±100 around it gives RMS exactly 100."""
    import io
    import wave

    from aistore_spark.operators import multimodal

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes([228, 28] * 8))
    df = spark.createDataFrame([(7, buf.getvalue())], "doc_id bigint, wav binary")
    r = multimodal.decode_wav_meta(df).collect()[0]
    assert r.sample_width == 1 and r.n_frames == 16 and r.rms == 100


def test_png_decode_real_codec(spark):
    """decode_png_meta parses genuine zlib-deflated PNG bytes: CRC
    check, inflate, and all five scanline unfilters (each synth image
    cycles None/Sub/Up/Average/Paeth per row)."""
    from aistore_spark.operators import multimodal

    ids = spark.createDataFrame([(2,), (57,)], "doc_id bigint")
    out = {
        r.doc_id: r
        for r in multimodal.decode_png_meta(
            multimodal.synth_png_frame(ids)
        ).collect()
    }
    # doc 2: w=4+2%29=6, h=5+2%17=7
    assert out[2].width == 6 and out[2].height == 7
    assert out[2].bit_depth == 8 and out[2].color_type == 2
    assert out[2].mean_red == sum((2 + x) % 256 for x in range(6)) // 6
    assert out[2].mean_green == sum((6 + 7 * y) % 256 for y in range(7)) // 7
    assert out[2].mean_blue == (6 + 7 - 2) // 2
    assert out[57].n_pixels == (4 + 57 % 29) * (5 + 57 % 17)


def test_png_decode_independent_encoder_and_corruption(spark):
    """The decoder must accept PNGs from ANY conforming encoder (here:
    an independent filter-0-only writer with multiple IDAT chunks) and
    must reject corrupt bytes (CRC flip) rather than mis-decode."""
    import struct
    import zlib

    import pytest

    from aistore_spark.operators import multimodal

    w, h = 5, 4
    pix = bytes((x * 40 + y * 11) % 256 for y in range(h) for x in range(w * 3))
    stream = b"".join(
        b"\x00" + pix[y * 3 * w : (y + 1) * 3 * w] for y in range(h)
    )
    comp = zlib.compress(stream)
    mid = len(comp) // 2
    blob = (
        multimodal.PNG_SIGNATURE
        + multimodal._png_chunk(
            b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        )
        + multimodal._png_chunk(b"IDAT", comp[:mid])  # split across chunks
        + multimodal._png_chunk(b"IDAT", comp[mid:])
        + multimodal._png_chunk(b"IEND", b"")
    )
    df = spark.createDataFrame([(1, blob)], "doc_id bigint, img binary")
    r = multimodal.decode_png_meta(df).collect()[0]
    assert r.width == w and r.height == h and r.n_idat == 2
    n = w * h
    sums = [0, 0, 0]
    for y in range(h):
        for x in range(w):
            for c in range(3):
                sums[c] += pix[y * 3 * w + 3 * x + c]
    assert (r.mean_red, r.mean_green, r.mean_blue) == tuple(
        s // n for s in sums
    )

    corrupt = bytearray(blob)
    corrupt[-5] ^= 0xFF  # flip a bit inside IEND's CRC
    bad = spark.createDataFrame(
        [(1, bytes(corrupt))], "doc_id bigint, img binary"
    )
    with pytest.raises(Exception, match="CRC"):
        multimodal.decode_png_meta(bad).collect()


def test_png_round_trip_property(spark):
    """Hypothesis-style sweep without Spark in the loop: arbitrary
    pixel bytes and arbitrary per-row filter choices must round-trip
    encode -> decode to exact channel means (the decoder's unfilter is
    exercised against every filter type on adversarial data, not just
    the synth gradient)."""
    import random

    from aistore_spark.operators import multimodal

    rng = random.Random(20260814)
    cases = []
    for trial in range(40):
        w = rng.randrange(1, 24)
        h = rng.randrange(1, 16)
        rows = [
            bytes(rng.randrange(256) for _ in range(3 * w)) for _ in range(h)
        ]
        filters = [rng.randrange(5) for _ in range(h)]
        n = w * h
        sums = [0, 0, 0]
        for row in rows:
            for x in range(w):
                for c in range(3):
                    sums[c] += row[3 * x + c]
        cases.append(
            (
                trial,
                multimodal.encode_png_rgb(rows, w, filters),
                (w, h, *(s // n for s in sums)),
            )
        )
    df = spark.createDataFrame(
        [(t, b) for t, b, _ in cases], "doc_id bigint, img binary"
    )
    got = {
        r.doc_id: (r.width, r.height, r.mean_red, r.mean_green, r.mean_blue)
        for r in multimodal.decode_png_meta(df).collect()
    }
    for trial, _, want in cases:
        assert got[trial] == want, f"trial {trial}: {got[trial]} != {want}"


def test_bmp_decode_real_codec(spark):
    """decode_bmp_meta parses genuine struct-packed BMP bytes; channel
    means of a solid-color image equal the color exactly, and the
    stride math survives widths that need row padding."""
    from aistore_spark.operators import multimodal

    # width 4+5%61=9 -> 3*9=27 -> stride 28 (padded); blue=5, red=65
    ids = spark.createDataFrame([(5,), (60,)], "doc_id bigint")
    out = {
        r.doc_id: r
        for r in multimodal.decode_bmp_meta(
            multimodal.synth_bmp_frame(ids)
        ).collect()
    }
    assert out[5].width == 9 and out[5].row_stride == 28
    assert out[5].mean_blue == 5 and out[5].mean_red == 65
    assert out[60].mean_blue == 60 and out[60].mean_red == (60 * 13) % 256
    for r in out.values():
        assert r.n_bytes == 54 + r.row_stride * r.height


def test_bigram_familiarity_separates_garbage_from_boilerplate(spark):
    """The empirical-LM signal: a doc whose bigrams appear nowhere
    else scores mean_familiarity == 1 (only its own occurrences);
    repeated boilerplate scores the corpus repetition count; and
    familiarity >= n_bigrams always."""
    boiler = "click here to subscribe now"
    docs = spark.createDataFrame(
        [(i, boiler) for i in range(5)]
        + [(10, "zq8 vv91 k3j mm2x qqp")]  # garbled: unique bigrams
        + [(11, "click here to unsubscribe")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in text.bigram_familiarity(docs).collect()}
    assert out[10].mean_familiarity == 1 and out[10].n_bigrams == 4
    # boilerplate bigrams occur 5x each -> mean exactly 5
    assert out[0].mean_familiarity == 5
    # doc 11 shares 'click here' and 'here to' with the 5 boiler docs
    assert out[11].familiarity == (6 + 6 + 1)
    for r in out.values():
        assert r.familiarity >= r.n_bigrams


def test_gif_decode_real_codec(spark):
    """decode_gif_meta parses genuine GIF87a bytes: container walk,
    sub-block reassembly, full LZW decode, palette lookup."""
    from aistore_spark.operators import multimodal

    ids = spark.createDataFrame([(3,), (57,)], "doc_id bigint")
    out = {
        r.doc_id: r
        for r in multimodal.decode_gif_meta(
            multimodal.synth_gif_frame(ids)
        ).collect()
    }
    # doc 3: w=6+3%27=9, h=4+3%19=7
    assert out[3].width == 9 and out[3].height == 7
    n = 9 * 7
    idxs = [(3 + 3 * x + 5 * y) % 256 for y in range(7) for x in range(9)]
    assert out[3].mean_index == sum(idxs) // n
    assert out[3].mean_green == sum((2 * i) % 256 for i in idxs) // n
    assert out[57].n_colors == 256


def test_lzw_spec_cases():
    """LZW decoder against hand-built code streams: the KwKwK case
    (a code referencing the entry being defined) and truncation."""
    import pytest

    from aistore_spark.operators.multimodal import _lzw_decode, _lzw_encode

    # hand-pack codes [CLEAR, 5, 258(KwKwK), END] at 9-bit width,
    # min_code_size=8: 258 = '5'+'5'[0] -> output [5, 5, 5]
    codes = [256, 5, 258, 257]
    buf = 0
    bits = 0
    out = bytearray()
    for c in codes:
        buf |= c << bits
        bits += 9
        while bits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            bits -= 8
    if bits:
        out.append(buf & 0xFF)
    assert _lzw_decode(bytes(out), 8) == bytes([5, 5, 5])

    enc = _lzw_encode(b"abcabcabc" * 50)
    with pytest.raises(ValueError, match="truncated"):
        _lzw_decode(enc[: len(enc) // 3], 8)

    # dictionary-reset path: >4096 distinct phrases forces a mid-stream
    # CLEAR; round trip must survive it
    import random

    rng = random.Random(3)
    data = bytes(rng.randrange(256) for _ in range(30000))
    assert _lzw_decode(_lzw_encode(data), 8) == data


def test_media_dispatch_animated_gif_frames(spark):
    """decode_media_meta routes mixed real containers by magic bytes;
    animated GIFs report their true frame count, and a multi-frame GIF
    aggregates pixel stats over ALL frames in decode_gif_meta."""
    from aistore_spark.operators import multimodal

    ids = spark.createDataFrame(
        [(4,), (9,), (22,), (19,)], "doc_id bigint"
    )
    out = {
        r.doc_id: r
        for r in multimodal.decode_media_meta(
            multimodal.synth_media_frame(ids)
        ).collect()
    }
    assert out[4].media_type == "audio/wav" and out[4].n_frames == 800 + 4
    assert out[9].media_type == "image/bmp" and out[9].n_frames == 1
    assert out[22].media_type == "image/png" and out[22].width == 4 + 22 % 29
    assert out[19].media_type == "image/gif"
    assert out[19].n_frames == 1 + 19 % 5  # animated

    # multi-frame pixel aggregation: means over all frames, exact
    d, nf = 19, 1 + 19 % 5
    w, h = 6 + d % 27, 4 + d % 19
    gif = spark.createDataFrame(
        [(d, multimodal.synth_gif(d, n_frames=nf))], "doc_id bigint, img binary"
    )
    r = multimodal.decode_gif_meta(gif).collect()[0]
    idxs = [
        (d + 3 * x + 5 * y + 11 * f) % 256
        for f in range(nf)
        for y in range(h)
        for x in range(w)
    ]
    assert r.n_frames == nf and r.n_pixels == w * h * nf
    assert r.mean_index == sum(idxs) // (w * h * nf)
    assert r.mean_green == sum((2 * i) % 256 for i in idxs) // (w * h * nf)


def test_truncated_gif_raises_value_error():
    """Regression (ADVICE r5): every container parser must raise
    ValueError on a cut-short container — never a raw
    IndexError/struct.error — matching the hardened lz4frame/_lzw_decode
    decoders. The GIF primitives raise the 'truncated GIF' message."""
    from aistore_spark.operators import multimodal as mm

    # exercise the primitives directly
    with pytest.raises(ValueError, match="truncated GIF"):
        mm._gif_byte(b"ab", 2)
    with pytest.raises(ValueError, match="truncated GIF"):
        mm._need(b"abcd", 2, 3, "GIF")
    mm._need(b"abcd", 2, 2, "GIF")  # exact fit is fine

    # every strict prefix of a real container must raise ValueError
    # from its parser (the GIF walk is the one decode_gif_meta,
    # gif_extract_frames and decode_media_meta share); the full blob
    # parses
    for parse, full in (
        (mm._parse_gif, mm.synth_gif(7, n_frames=3)),
        (mm._parse_gif, _gif_with_gce(mm.synth_gif(7, n_frames=3))),
        (mm._parse_wav, mm.synth_wav(7)),
        (mm._parse_bmp, mm.synth_bmp(7)),
        (mm._parse_png, mm.synth_png(7)),
    ):
        parse(full)
        for cut in range(len(full)):
            try:
                parse(full[:cut])
            except ValueError:
                continue
            raise AssertionError(
                f"{parse.__name__}: prefix of len {cut} did not raise ValueError"
            )

    # a well-formed container whose IDAT inflates one scanline short,
    # or does not inflate at all, raises ValueError too
    import struct
    import zlib

    ihdr = mm._png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 2, 0, 0, 0))
    for idat in (zlib.compress(bytes(2 * 13)), b"not zlib"):
        blob = (
            mm.PNG_SIGNATURE + ihdr + mm._png_chunk(b"IDAT", idat)
            + mm._png_chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="PNG"):
            mm.decode_png_pixels(blob)


def _gif_with_gce(plain: bytes) -> bytes:
    """A synth_gif file as GIF89a with an 8-byte Graphic Control
    Extension (delay 10, no transparency) after its global table."""
    table_end = 13 + 3 * 256
    gce = b"\x21\xf9\x04\x00\x0a\x00\x00\x00"
    return b"GIF89a" + plain[6:table_end] + gce + plain[table_end:]


def _gif_with_local_tables(doc_id: int, n_frames: int) -> bytes:
    """synth_gif's pixels, but every image block carries a 4-entry
    local color table (flag 0x81) whose bytes look like block data."""
    import struct

    from aistore_spark.operators import multimodal as mm

    full = mm.synth_gif(doc_id)
    w, h = struct.unpack_from("<HH", full, 6)
    out = bytearray(full[: 13 + 768])  # header + global table
    for f in range(n_frames):
        lzw = mm._lzw_encode(bytes(
            (doc_id + 3 * x + 5 * y + 11 * f) % 256
            for y in range(h) for x in range(w)
        ))
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x81)
        out += bytes([0x21, 0x2C, 0x3B] * 4)
        out.append(8)
        for i in range(0, len(lzw), 255):
            out.append(len(lzw[i : i + 255]))
            out += lzw[i : i + 255]
        out.append(0)
    return bytes(out) + b"\x3b"


def test_gif_local_color_table_is_skipped(spark):
    """A local color table is skipped by the shared GIF walk, never
    read as image data: the dispatcher reports the true dimensions and
    frame count and frame extraction decodes the right frames, while
    decode_gif_meta's profile still rejects the table."""
    from aistore_spark.operators import multimodal as mm

    d, nf = 19, 4
    w, h = 6 + d % 27, 4 + d % 19
    blob = _gif_with_local_tables(d, nf)
    df = spark.createDataFrame([(d, blob)], "doc_id bigint, img binary")

    r = mm.decode_media_meta(df, data_col="img").collect()[0]
    assert (r.media_type, r.width, r.height, r.n_frames) == (
        "image/gif", w, h, nf
    )
    got = [
        (r.n_frames, r.frame_idx, r.mean_index)
        for r in mm.gif_extract_frames(df, every_n=2, max_frames=3).collect()
    ]
    want = [
        (nf, f, sum((d + 3 * x + 5 * y + 11 * f) % 256
                    for y in range(h) for x in range(w)) // (w * h))
        for f in (0, 2)
    ]
    assert sorted(got) == want
    with pytest.raises(Exception, match="local table/interlace unsupported"):
        mm.decode_gif_meta(df).collect()


def test_gif_extension_blocks_are_skipped(spark):
    """GIF89a extension blocks (here a Graphic Control Extension, what
    animated-GIF encoders write before each frame) are stepped over by
    the shared GIF walk: dims, frame count, extracted frames and the
    decoded stats equal those of the same file without them."""
    from aistore_spark.operators import multimodal as mm

    plain = mm.synth_gif(5, n_frames=2)
    ext = _gif_with_gce(plain)
    assert mm._media_dims(ext) == mm._media_dims(plain)
    df = spark.createDataFrame(
        [(0, plain), (1, ext)], "doc_id bigint, img binary"
    )

    def by_doc(out):
        rows = {0: [], 1: []}
        for r in out.collect():
            rows[r.doc_id].append(tuple(r)[1:])
        return sorted(rows[0]), sorted(rows[1])

    frames = by_doc(mm.gif_extract_frames(df, every_n=1, max_frames=2))
    assert len(frames[0]) == 2 and frames[0] == frames[1]
    meta = by_doc(mm.decode_gif_meta(df))
    assert meta[0] == meta[1]


def test_map_rows_empty_output_keeps_schema(spark):
    """The engine's row and column maps: an empty input frame, and rows
    (or a kernel) that yield nothing, give an empty output with the
    declared types."""
    from pyspark.sql.types import StructType

    from aistore_spark.operators import multimodal as mm
    from aistore_spark.util import map_arrays, map_rows

    ids = spark.createDataFrame([(1,), (2,)], "doc_id bigint")
    empty = mm.decode_png_meta(
        mm.synth_png_frame(ids).where(F.col("doc_id") < 0)
    )
    assert empty.collect() == []
    assert empty.schema == StructType.fromDDL(mm.PNG_META_SCHEMA)
    schema = "doc_id bigint, band int, name string, data binary"
    none = map_rows(ids, ["doc_id"], schema, lambda doc_id: [])
    assert none.collect() == []
    assert none.dtypes == [
        ("doc_id", "bigint"), ("band", "int"),
        ("name", "string"), ("data", "binary"),
    ]
    # the column map: an empty input, and a kernel that yields nothing
    arrays_schema = "doc_id bigint, band int, vq array<bigint>"

    def echo(batches):
        for (doc_id,) in batches:
            yield doc_id, doc_id, np.stack([doc_id, doc_id], axis=1)

    no_ids = ids.where(F.col("doc_id") < 0)
    for out in (
        map_arrays(no_ids, ["doc_id"], arrays_schema, echo),
        map_arrays(ids, ["doc_id"], arrays_schema, lambda batches: iter(())),
    ):
        assert out.collect() == []
        assert out.dtypes == [
            ("doc_id", "bigint"), ("band", "int"), ("vq", "array<bigint>"),
        ]


def test_map_arrays_list_columns_round_trip(spark):
    """An ``array<bigint>`` column reaches the kernel as a 2-D array and
    a 2-D output goes back out as ``array<bigint>``, row for row."""
    from aistore_spark.util import map_arrays

    rows = [(i, [i, -i, 3 * i]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id bigint, vq array<bigint>")

    def negate(batches):
        for vec_id, vq in batches:
            assert vq.shape == (len(vec_id), 3) and vq.dtype == np.int64
            yield vec_id, -vq

    schema = "vec_id bigint, vq array<bigint>"
    out = map_arrays(df, ["vec_id", "vq"], schema, negate)
    assert out.dtypes == [("vec_id", "bigint"), ("vq", "array<bigint>")]
    got = sorted((r.vec_id, list(r.vq)) for r in out.collect())
    assert got == [(i, [-x for x in v]) for i, v in rows]


def test_numpy_column_reads_a_sliced_list_array_and_rejects_ragged():
    """A sliced ``list<int64>`` array (non-zero offset) converts to its
    own rows only; a ragged or null list raises ``ValueError``."""
    import pyarrow as pa

    from aistore_spark.util import numpy_column

    lists = pa.array([[0, 1], [2, 3], [4, 5], [6, 7]], pa.list_(pa.int64()))
    part = lists.slice(1, 2)
    assert part.offset == 1
    np.testing.assert_array_equal(numpy_column(part), [[2, 3], [4, 5]])
    assert numpy_column(lists.slice(2, 0)).shape == (0, 0)
    np.testing.assert_array_equal(
        numpy_column(pa.array([7, 8], pa.int64()).slice(1)), [8]
    )
    for bad in ([[1, 2], [3]], [[1, 2], None]):
        with pytest.raises(ValueError):
            numpy_column(pa.array(bad, pa.list_(pa.int64())))


def test_dup_pipeline_shares_verified_pairs_one_execution(spark, sf_dir):
    """Pipeline context (verdict-r6 item 6): when a curation pipeline
    wants pairs AND groups, dedup.dup_pipeline must execute the
    LSH+verify stage exactly once. EXECUTED metric, not plan text: an
    accumulator on the documents source counts every row actually
    scanned; with the shared pinned pairs frame, the source feeds the
    (pinned) shingle chain once — consuming BOTH outputs scans the
    source no more than the one-shot dd2 run does, while the unshared
    form (pairs built twice) scans it ~2x."""
    from aistore_spark.util import release_cached

    docs = _docs(spark, sf_dir)
    n_docs = docs.count()
    schema = docs.schema

    def instrument():
        acc = spark.sparkContext.accumulator(0)

        def bump(it):
            for pdf in it:
                acc.add(len(pdf))
                yield pdf

        return acc, docs.mapInPandas(bump, schema=schema)

    # shared pipeline: pairs + groups from ONE verified-pairs frame
    acc_shared, d1 = instrument()
    pairs, groups = dedup.dup_pipeline(d1, bands=8, n=3)
    n_groups = groups.count()
    n_pairs = pairs.count()
    shared_scans = acc_shared.value
    release_cached()
    assert n_groups > 0 and n_pairs > 0

    # baseline: the same two outputs built WITHOUT sharing
    acc_base, d2 = instrument()
    p1 = dedup.verified_pairs(d2, bands=8, n=3)
    p1.count()
    release_cached()
    p2 = dedup.verified_pairs(d2, bands=8, n=3)
    dedup.dup_groups(p2).count()
    base_scans = acc_base.value
    release_cached()

    assert shared_scans <= n_docs, (
        f"shared pipeline scanned the source {shared_scans} rows "
        f"(> corpus {n_docs}): verified-pairs executed more than once"
    )
    assert base_scans >= 2 * shared_scans, (shared_scans, base_scans)


# ---- TX11: BM25 top-k retrieval ------------------------------------------------


def _py_bm25(rows, terms, k=10):
    """Independent pure-Python BM25 twin (same rational-idf/int-floor
    contract as operators/text.py:bm25_topk, implemented from the
    formula, not the Spark code)."""
    import math

    docs = {doc_id: text.split(" ") for doc_id, text in rows}
    n = len(docs)
    t = sum(len(w) for w in docs.values())
    df = {
        term: sum(1 for w in docs.values() if term in w) for term in terms
    }
    scores = {}
    for doc_id, w in docs.items():
        dl = len(w)
        total, hits = 0, 0
        for term in terms:
            tf = w.count(term)
            if not tf:
                continue
            hits += 1
            idf = (2 * n - 2 * df[term] + 1) / (2 * df[term] + 1)
            tfn = (44.0 * tf * t) / (20.0 * tf * t + 6.0 * t + 18.0 * dl * n)
            total += math.floor(1e6 * idf * tfn)
        if hits:
            scores[doc_id] = (hits, total)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1][1], kv[0]))
    return [(d, h, s) for d, (h, s) in ranked[:k]]


def test_bm25_topk_matches_python_reference(spark, sf_dir):
    from aistore_spark.operators import text as textops
    from aistore_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    terms = ["join", "merge", "sort", "dup"]
    got = [
        (r.doc_id, r.n_terms_hit, r.score_e6)
        for r in textops.bm25_topk(docs, terms, k=10).collect()
    ]
    rows = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]
    assert got == _py_bm25(rows, terms, k=10)


def test_bm25_rare_term_outranks_common(spark, sf_dir):
    # a doc containing the rare probe term must outrank a same-length
    # doc with only the common term at equal tf — idf ordering
    from aistore_spark.operators import text as textops

    df = spark.createDataFrame(
        [
            (1, "dup alpha beta gamma"),
            (2, "join alpha beta gamma"),
            (3, "join join join join"),
            (4, "alpha beta gamma delta"),
        ]
        + [(10 + i, "join filler filler filler") for i in range(20)],
        "doc_id bigint, text string",
    )
    out = textops.bm25_topk(df, ["join", "dup"], k=3).collect()
    assert out[0].doc_id == 1  # rare term wins
    assert all(r.score_e6 > 0 for r in out)


def test_substring_spans_hand_corpus(spark):
    # doc 1 and 2 share the 10-word run w1..w10 (3 duplicated 8-gram
    # starts -> ONE merged span of 10 tokens); doc 3 is unique; doc 4
    # shares w1..w8 only (1 start, span of 8).
    run = " ".join(f"w{i}" for i in range(1, 11))
    rows = [
        (1, "a b c " + run + " x y"),
        (2, run + " p q r s t u"),
        (3, " ".join(f"z{i}" for i in range(40))),
        (4, "k m " + " ".join(f"w{i}" for i in range(1, 9)) + " n o p q"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in dedup.dup_substring_spans(df, k=8, min_count=2).collect()
    }
    assert len(out) == 4
    # doc 1: starts at words 4,5,6 (w1..w8, w2..w9, w3..w10) merge into
    # one span covering w1..w10 = 10 tokens
    assert (out[1].n_spans, out[1].dup_tokens, out[1].max_span) == (1, 10, 10)
    assert (out[2].n_spans, out[2].dup_tokens, out[2].max_span) == (1, 10, 10)
    assert (out[3].n_spans, out[3].dup_tokens, out[3].max_span) == (0, 0, 0)
    assert (out[4].n_spans, out[4].dup_tokens, out[4].max_span) == (1, 8, 8)
    assert out[1].dl == 15 and out[4].dl == 14


def test_substring_spans_two_disjoint_spans(spark):
    # one doc carries TWO separated duplicated runs -> two islands
    a = " ".join(f"a{i}" for i in range(8))
    b = " ".join(f"b{i}" for i in range(9))
    gap = " ".join(f"g{i}" for i in range(5))
    rows = [
        (1, a + " " + gap + " " + b),
        (2, a + " q r s t u v w x"),
        (3, "m n o p q r s t " + b),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in dedup.dup_substring_spans(df, k=8, min_count=2).collect()
    }
    assert (out[1].n_spans, out[1].dup_tokens, out[1].max_span) == (2, 17, 9)


def test_bloom_probe_no_false_negatives_and_exact_fp(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    c = docs.select(
        "doc_id", "source", F.md5("text").alias("digest")
    )
    build = c.filter(F.col("doc_id") % 2 == 0).select("digest")
    # force true duplicates: even docs probe their own digests
    probe = c.filter(
        (F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 10 == 0)
    ).select("doc_id", "digest")
    out = dedup.bloom_probe(build, probe, m_bits=512, k=4).collect()
    # Bloom contract: zero false negatives, at this tiny m some FPs
    assert all(r.bloom_hit == 1 for r in out if r.actual_dup == 1)
    assert any(r.actual_dup == 1 for r in out)
    # independent python replay of the filter
    import hashlib

    def bucket(s: str, m: int) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % m

    build_digests = [r.digest for r in c.filter(F.col("doc_id") % 2 == 0).collect()]
    bits = {bucket(f"b{j}:{d}", 512) for d in build_digests for j in range(4)}
    probe_rows = {r.doc_id: r for r in out}
    for r in c.filter((F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 10 == 0)).collect():
        want = 1 if all(bucket(f"b{j}:{r.digest}", 512) in bits for j in range(4)) else 0
        assert probe_rows[r.doc_id].bloom_hit == want


def test_hashed_classifier_python_replay(spark):
    import hashlib

    rows = [(i, f"alpha beta w{i} gamma") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    weights = text.hashed_weights(spark, n_buckets=64, seed="w0")
    out = {
        r.doc_id: r
        for r in text.hashed_linear_score(df, weights, n_buckets=64).collect()
    }

    def bucket(s: str, m: int) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % m

    for i, t in rows:
        ws = t.split(" ")
        feats = [f"u:{w}" for w in ws] + [
            f"b:{a} {b}" for a, b in zip(ws, ws[1:])
        ]
        score = sum(
            bucket(f"w0:{bucket(f, 64)}", 2001) - 1000 for f in feats
        )
        assert out[i].n_feats == len(feats)
        assert out[i].score_e3 == score
        assert out[i].label == (1 if score >= 0 else 0)


def test_dhash_pairs_pigeonhole_complete(spark, sf_dir):
    """Banded dHash candidates + verify must find EXACTLY the pairs a
    brute-force Hamming scan finds at threshold 3 (pigeonhole: 4 bands
    / 64 bits) — and the Spark hash must equal the analytic hash
    derived straight from the synth pixel formula."""
    from aistore_spark.operators import multimodal

    ids_df = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % 2 == 1)
        .select(
            "doc_id",
            (F.col("doc_id") - F.col("doc_id") % 3).alias("img_id"),
        )
    )
    frames = multimodal.synth_png_frame(ids_df, content_col="img_id")
    bands = multimodal.png_dhash(frames)
    got_pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in multimodal.dhash_pairs(bands, max_hamming=3).collect()
    }

    # analytic replay
    def dhash(img_id: int) -> int:
        w, h = 4 + img_id % 29, 5 + img_id % 17
        bits = 0
        for v in range(8):
            y = v * h // 8
            gs = []
            for u in range(9):
                x = u * w // 9
                r = (img_id + x) % 256
                g = (3 * img_id + 7 * y) % 256
                b = (x + y) % 256
                gs.append((299 * r + 587 * g + 114 * b) // 1000)
            for u in range(8):
                if gs[u + 1] > gs[u]:
                    bits |= 1 << (v * 8 + u)
        return bits

    ids = [r.doc_id for r in ids_df.collect()]
    hs = {d: dhash(d - d % 3) for d in ids}
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            lo, hi = min(a, b), max(a, b)
            ham = bin(hs[a] ^ hs[b]).count("1")
            if ham <= 3:
                want[(lo, hi)] = ham
    assert got_pairs == want
    # spark band values match the analytic hash bit-for-bit
    got_bands = {}
    for r in bands.collect():
        got_bands.setdefault(r.doc_id, {})[r.band] = r.val
    for d in ids[:25]:
        full = sum(got_bands[d][j] << (16 * j) for j in range(4))
        assert full == hs[d], d


def test_asof_join_python_replay_and_tolerance(spark, sf_dir):
    from aistore_spark.operators import timejoin
    from aistore_spark.sources.tables import load_table
    from aistore_spark.util import ntz_micros_sql

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr(ntz_micros_sql("ts")).alias("t_us"),
    )
    probes = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "t_us"
    )
    rights = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("t_us").alias("r_us"), "event_id"
    )
    out = {
        r.event_id: r
        for r in timejoin.asof_join(
            probes, rights, "user_id", "t_us", "r_us", ["event_id"]
        ).collect()
    }
    clicks = {}
    for r in ev.where(F.col("event_type") == "click").collect():
        clicks.setdefault(r.user_id, []).append((r.t_us, r.event_id))
    n_matched = 0
    for p in probes.collect():
        cands = [c for c in clicks.get(p.user_id, []) if c[0] <= p.t_us]
        want = max(cands) if cands else None
        got = out[p.event_id]
        if want is None:
            assert got.match_ts is None and got.matched_event_id is None
        else:
            n_matched += 1
            assert (got.match_ts, got.matched_event_id) == want
    assert n_matched > 0
    # tolerance: 1-hour window nulls out older matches
    tol = timejoin.asof_join(
        probes, rights, "user_id", "t_us", "r_us", ["event_id"],
        tolerance_us=3_600_000_000,
    ).collect()
    for r in tol:
        if r.match_ts is not None:
            assert r.t_us - r.match_ts <= 3_600_000_000
    assert sum(1 for r in tol if r.match_ts is not None) < n_matched


def test_range_join_equals_theta_join(spark, sf_dir):
    from aistore_spark.operators import timejoin
    from aistore_spark.sources.tables import load_table
    from aistore_spark.util import ntz_micros_sql

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.expr(ntz_micros_sql("ts")).alias("t_us")
    )
    iv = ev.where(F.col("event_id") % 50 == 3).select(
        "user_id",
        F.col("event_id").alias("win_id"),
        F.col("t_us").alias("w_start"),
        (F.col("t_us") + 1_800_000_000).alias("w_end"),
    )
    got = sorted(
        (r.win_id, r.event_id)
        for r in timejoin.range_join(
            ev, iv, "user_id", "t_us", "w_start", "w_end", 600_000_000,
            interval_cols=["win_id"],
        ).collect()
    )
    # brute-force python theta join
    evs = ev.collect()
    want = []
    for w in iv.collect():
        for e in evs:
            if e.user_id == w.user_id and w.w_start <= e.t_us <= w.w_end:
                want.append((w.win_id, e.event_id))
    assert got == sorted(want)
    # no duplicate matches from bucket fan-out
    assert len(got) == len(set(got))
