"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (beyond-reference, SURVEY.md §7.8).

Every stage crosses the Python boundary through the engine's row map,
:func:`aistore_spark.util.map_rows`: a ``mapInArrow`` stage that runs
a per-row function over Arrow batches (bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``) and emits zero or
more output rows per input row. Two tiers run on it:

- **Real codecs, stdlib-only.** Each container has one parser on
  ``bytes``: ``_parse_wav`` (header + int64 PCM), ``_parse_bmp``
  (headers + stride-aware pixel rows), ``_parse_png`` (CRC-verified
  chunk walk, or the IHDR alone) and ``_parse_gif`` (block walk that
  LZW-collects only the frames a caller wants). The stages on top:
  WAV PCM stats (``decode_wav_meta``), BMP (``decode_bmp_meta``), PNG
  incl. full DEFLATE+unfilter (``decode_png_pixels``/
  ``decode_png_meta``), GIF incl. a hand-built LZW decoder and
  animated multi-frame files (``decode_gif_meta``), magic-byte
  dispatch (``decode_media_meta``), plus real pixel-level resize
  (``png_thumbnail``), block-grid features (``png_grid_features``),
  selective frame extraction (``gif_extract_frames``), BMP->PNG
  transcode, JPEG decode and WAV resample.
- **Digest-stub plumbing contract.** ``decode_media``/
  ``resize_media``/``extract_features`` derive deterministic values
  from the content digest, so the schema/batching shape is exercised
  for formats whose codecs are not stdlib-expressible (MP4).

At 100 TB: content lives in object storage; the catalog carries
(name, media_type, nbytes, metadata). Decode stages are
embarrassingly parallel; the Arrow batch size bounds decoded-frame
memory, and `.repartition` by size buckets evens skew from mixed
media sizes.
"""

from __future__ import annotations

import hashlib
import io
import math
import struct
import wave
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aistore_spark.functions.jpegcodec import decode_jpeg, jpeg_dims, synth_jpeg
from aistore_spark.util import map_rows, spread


def _synth_frame(ids, id_col, col, make, seed_col=None) -> DataFrame:
    """``(doc_id, col)`` rows: one container ``make(seed)`` per id row,
    seeded by *seed_col* (default: the id). The generator stands in
    for an object-store read; ``spread`` keeps it on every core."""
    return map_rows(
        spread(ids),
        [id_col, seed_col or id_col],
        f"doc_id bigint, {col} binary",
        lambda doc_id, seed: [(doc_id, make(seed))],
    )


def _need(data: bytes, pos: int, n: int, kind: str) -> None:
    """Require *n* readable bytes at *pos*: a container cut short
    raises ``ValueError('truncated <kind>')``, never a raw
    IndexError/struct.error (the lz4frame/_lzw_decode contract)."""
    if pos + n > len(data):
        raise ValueError(f"truncated {kind}")


def _channel_means(px) -> tuple[int, ...]:
    """Integer-exact per-channel means of an ``[h, w, c]`` pixel array."""
    n = px.shape[0] * px.shape[1]
    return tuple(
        int(px[:, :, c].sum(dtype=np.int64)) // n for c in range(px.shape[2])
    )


# ---- digest-stub plumbing (no codec) ---------------------------------------

DECODED_SCHEMA = (
    "name string, media_type string, n_bytes bigint, "
    "width bigint, height bigint, n_frames bigint, checksum string"
)


def decode_media(
    df: DataFrame,
    data_col: str = "data",
    name_col: str = "name",
    type_col: str = "media_type",
) -> DataFrame:
    """Binary media column -> typed metadata with a deterministic
    stand-in decoder: dimensions derive from the content digest, so
    tests are stable and the full pipeline shape runs."""

    def row(name, media_type, data):
        h = hashlib.md5(data)
        d = h.digest()
        n_frames = 1 if media_type == "image" else 1 + d[2] % 240
        yield (
            name, media_type, len(data), 64 + d[0] * 4, 64 + d[1] * 4,
            n_frames, h.hexdigest(),
        )

    return map_rows(df, [name_col, type_col, data_col], DECODED_SCHEMA, row)


RESIZED_SCHEMA = (
    "name string, width bigint, height bigint, rs_width bigint, "
    "rs_height bigint, rs_checksum string"
)


def resize_media(
    decoded: DataFrame,
    target_width: int = 224,
) -> DataFrame:
    """Resize stage: aspect-preserving scale to *target_width* (the
    Arrow-batched stage a Pillow/torchvision resize plugs into; the
    pixel op itself is the stubbed codec — the fake emits a
    deterministic output checksum so the stage is value-checkable
    end-to-end).

    ``rs_height = height * target // width`` — integer floor-division,
    exact in both engines.
    """

    def row(name, w, h, checksum):
        rs_h = h * target_width // w
        ck = hashlib.md5(f"{checksum}:{target_width}x{rs_h}".encode())
        yield (name, w, h, target_width, rs_h, ck.hexdigest())

    return map_rows(
        decoded, ["name", "width", "height", "checksum"], RESIZED_SCHEMA, row
    )


def extract_features(
    df: DataFrame,
    data_col: str = "data",
    name_col: str = "name",
    dim: int = 4,
) -> DataFrame:
    """Feature-extract stage: binary content → fixed-dim feature
    vector (where a real embedding model runs; the fake derives
    features from the content digest so the batch shape, schema and
    determinism are tested). Features are emitted as a comma-joined
    string of *dim* 8-hex-char words — engine-portable for the
    oracle's value hash.
    """

    def row(name, data):
        h = hashlib.md5(data).hexdigest()
        yield (name, ",".join(h[i * 8 : i * 8 + 8] for i in range(dim)), dim)

    return map_rows(
        df, [name_col, data_col],
        "name string, features string, feature_dim bigint", row,
    )


def frame_sample_plan(
    decoded: DataFrame, every_n: int = 30, max_frames: int = 8
) -> DataFrame:
    """Frame-sampling plan for video rows: which frame indices a
    downstream extract stage should pull. Pure column expressions
    (sequence + slice), one row in → one row out. Rows with
    ``n_frames <= 0`` get an empty sample list — an unguarded
    ``sequence(0, -1, step)`` would fail the whole job with
    ILLEGAL_SEQUENCE_BOUNDARIES."""
    idx = F.when(
        F.col("n_frames") > 0,
        F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n)),
    ).otherwise(F.array().cast("array<bigint>"))
    return decoded.withColumn(
        "sample_frames", F.slice(idx, 1, max_frames)
    ).withColumn("n_sampled", F.size("sample_frames").cast("bigint"))


# ---- real audio codec (stdlib WAV) ----------------------------------------

WAV_META_SCHEMA = (
    "doc_id bigint, n_channels bigint, sample_width bigint, "
    "sample_rate bigint, n_frames bigint, duration_ms bigint, "
    "rms bigint, n_bytes bigint"
)


def synth_wav(doc_id: int, sample_rate: int = 8000) -> bytes:
    """Deterministic 16-bit mono PCM WAV: a square wave whose length
    and amplitude derive from *doc_id* (period 16 samples), written
    with the stdlib ``wave`` module — REAL container bytes, analytic
    metadata."""
    n_frames = 800 + doc_id % 800
    amp = 1000 + doc_id % 9000
    frames = bytearray()
    for i in range(n_frames):
        frames += struct.pack("<h", amp if (i // 8) % 2 == 0 else -amp)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(bytes(frames))
    return buf.getvalue()


def _parse_wav(data: bytes):
    """The WAV container (stdlib ``wave`` reader) and its samples:
    ``(n_channels, sample_width, sample_rate, n_frames, pcm)`` with
    *pcm* the interleaved samples as int64. The dtype follows the
    sample width — 8-bit PCM is unsigned around 128, 24-bit is
    assembled and sign-extended. Malformed or truncated containers
    raise ValueError."""
    try:
        with wave.open(io.BytesIO(data)) as w:
            nch, sw, sr = w.getnchannels(), w.getsampwidth(), w.getframerate()
            nf = w.getnframes()
            raw = w.readframes(nf)
    except (wave.Error, EOFError) as e:
        raise ValueError(f"bad WAV: {e}") from e
    if len(raw) != nf * nch * sw:
        raise ValueError("truncated WAV")
    if sw == 1:
        pcm = np.frombuffer(raw, dtype=np.uint8).astype(np.int64) - 128
    elif sw == 2:
        pcm = np.frombuffer(raw, dtype="<i2").astype(np.int64)
    elif sw == 3:
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3).astype(np.int64)
        pcm = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        pcm -= (pcm >> 23) << 24
    elif sw == 4:
        pcm = np.frombuffer(raw, dtype="<i4").astype(np.int64)
    else:
        raise ValueError(f"unsupported WAV sample width {sw}")
    return nch, sw, sr, nf, pcm


def _rms(pcm) -> int:
    """Integer RMS: isqrt of the floored mean square (0 when empty)."""
    return math.isqrt(int((pcm * pcm).sum()) // max(len(pcm), 1))


def decode_wav_meta(
    df: DataFrame, id_col: str = "doc_id", data_col: str = "wav"
) -> DataFrame:
    """REAL audio decode — no stub: parse WAV containers with the
    stdlib ``wave`` reader and compute integer-exact signal stats
    (RMS via isqrt of the mean square, numpy int64 accumulation).
    This is the stage shape a torchaudio/ffmpeg decoder drops into
    when those libs exist; WAV proves the path end-to-end with genuine
    codec bytes."""

    def row(doc_id, data):
        nch, sw, sr, nf, pcm = _parse_wav(data)
        if sr <= 0:
            raise ValueError(f"WAV sample rate {sr} <= 0")
        yield (doc_id, nch, sw, sr, nf, nf * 1000 // sr, _rms(pcm), len(data))

    return map_rows(df, [id_col, data_col], WAV_META_SCHEMA, row)


def synth_wav_frame(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a real synthesized WAV binary column per id row."""
    return _synth_frame(ids, id_col, "wav", synth_wav)


BMP_META_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, bpp bigint, "
    "row_stride bigint, mean_blue bigint, mean_red bigint, n_bytes bigint"
)


def synth_bmp(doc_id: int) -> bytes:
    """Deterministic 24-bpp bottom-up BMP (BITMAPINFOHEADER): solid
    BGR color and dimensions derived from *doc_id* — REAL image
    container bytes with analytic metadata."""
    w = 4 + doc_id % 61
    h = 4 + doc_id % 37
    b, g, r = doc_id % 256, (doc_id * 7) % 256, (doc_id * 13) % 256
    stride = (3 * w + 3) & ~3
    row = (bytes((b, g, r)) * w) + b"\x00" * (stride - 3 * w)
    pixels = row * h
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return header + pixels


def _parse_bmp(data: bytes):
    """The BMP file + info headers and the pixel array:
    ``(width, height, bpp, row_stride, rows)`` with *rows* a top-down
    ``uint8[height, row_stride]`` view (rows are padded to 4 bytes;
    bottom-up files are flipped). Truncated containers raise
    ValueError."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    _need(data, 0, 30, "BMP")
    (off,) = struct.unpack_from("<I", data, 10)
    _hsz, w, h, _pl, bpp = struct.unpack_from("<IiiHH", data, 14)
    stride = (bpp * w + 31) // 32 * 4
    _need(data, off, stride * abs(h), "BMP")
    rows = np.frombuffer(
        data, dtype=np.uint8, count=stride * abs(h), offset=off
    ).reshape(abs(h), stride)
    return w, abs(h), bpp, stride, rows[::-1] if h > 0 else rows


def decode_bmp_meta(
    df: DataFrame, id_col: str = "doc_id", data_col: str = "img"
) -> DataFrame:
    """REAL image decode, no stub: parse the BMP file + info headers
    with ``struct`` and fold the pixel array (numpy, stride-aware) into
    integer-exact channel means — the stage a Pillow decoder drops
    into, proven here with genuine container bytes."""

    def row(doc_id, data):
        w, h, bpp, stride, rows = _parse_bmp(data)
        if bpp != 24:
            # the 3-bytes-per-pixel slicing would yield silently wrong
            # means for other depths
            raise ValueError(f"unsupported BMP bpp {bpp} (need 24)")
        blue, _green, red = _channel_means(rows[:, : 3 * w].reshape(h, w, 3))
        yield (doc_id, w, h, bpp, stride, blue, red, len(data))

    return map_rows(df, [id_col, data_col], BMP_META_SCHEMA, row)


def synth_bmp_frame(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a real synthesized BMP binary column per id row."""
    return _synth_frame(ids, id_col, "img", synth_bmp)


# ---- real compressed-image codec (stdlib PNG: zlib + scanline filters) ----

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

PNG_META_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, bit_depth bigint, "
    "color_type bigint, n_idat bigint, mean_red bigint, mean_green bigint, "
    "mean_blue bigint, n_pixels bigint"
)


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body))
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png_rgb(
    raw_rows: list[bytes], width: int, filters: list[int] | None = None
) -> bytes:
    """Encode raw RGB scanlines as a real 8-bit truecolor PNG.

    *raw_rows* is one ``3*width``-byte string per scanline; *filters*
    picks the spec filter type per row (default ``y % 5`` so all five
    — None/Sub/Up/Average/Paeth — appear in any image ≥5 rows tall).
    The filter math here is the encode direction of the spec;
    :func:`decode_png_pixels` implements the decode direction, and the
    property test drives arbitrary pixels through both.
    """
    bpp = 3
    stream = bytearray()
    prior = bytes(bpp * width)
    for y, row in enumerate(raw_rows):
        if len(row) != bpp * width:
            raise ValueError("scanline length != 3*width")
        ft = (filters[y] if filters is not None else y % 5) % 5
        stream.append(ft)
        if ft == 0:
            stream += row
        elif ft == 1:  # Sub
            stream += bytes(
                (row[i] - (row[i - bpp] if i >= bpp else 0)) & 0xFF
                for i in range(len(row))
            )
        elif ft == 2:  # Up
            stream += bytes(
                (row[i] - prior[i]) & 0xFF for i in range(len(row))
            )
        elif ft == 3:  # Average
            stream += bytes(
                (row[i] - ((row[i - bpp] if i >= bpp else 0) + prior[i]) // 2)
                & 0xFF
                for i in range(len(row))
            )
        else:  # Paeth
            stream += bytes(
                (
                    row[i]
                    - _paeth(
                        row[i - bpp] if i >= bpp else 0,
                        prior[i],
                        prior[i - bpp] if i >= bpp else 0,
                    )
                )
                & 0xFF
                for i in range(len(row))
            )
        prior = row
    ihdr = struct.pack(">IIBBBBB", width, len(raw_rows), 8, 2, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(stream), 6))
        + _png_chunk(b"IEND", b"")
    )


def synth_png(doc_id: int) -> bytes:
    """Deterministic 8-bit truecolor PNG with REAL compression and
    REAL scanline filtering: pixel (x, y) is
    ``(R, G, B) = ((doc_id + x) % 256, (3*doc_id + 7*y) % 256,
    (x + y) % 256)`` and scanline y is encoded with filter type
    ``y % 5`` — all five spec filters (None/Sub/Up/Average/Paeth) are
    exercised in every image, so a decoder that mishandles any one of
    them cannot reproduce the analytic channel sums."""
    w = 4 + doc_id % 29
    h = 5 + doc_id % 17
    raw_rows = []
    for y in range(h):
        row = bytearray()
        for x in range(w):
            row += bytes(
                (
                    (doc_id + x) % 256,
                    (3 * doc_id + 7 * y) % 256,
                    (x + y) % 256,
                )
            )
        raw_rows.append(bytes(row))
    return encode_png_rgb(raw_rows, w)


def _parse_png(data: bytes, pixels: bool = True):
    """One CRC-verified chunk walk: ``(width, height, bit_depth,
    color_type, interlace, idat, n_idat)`` with *idat* the joined IDAT
    bodies. IHDR must come first; with ``pixels=False`` the walk stops
    right after it (``idat == b""``), so a dimension read touches no
    pixel data. A stream that ends before IEND raises ValueError."""
    if data[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    idat = bytearray()
    n_idat = 0
    while True:
        _need(data, pos, 12, "PNG")
        (clen,) = struct.unpack_from(">I", data, pos)
        _need(data, pos, 12 + clen, "PNG")
        cname = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + clen]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + clen)
        if zlib.crc32(cname + body) != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {cname!r}")
        pos += 12 + clen
        if ihdr is None:
            if cname != b"IHDR" or clen != 13:
                raise ValueError("bad PNG IHDR")
            ihdr = struct.unpack(">IIBBBBB", body)
            if not pixels:
                break
        elif cname == b"IDAT":
            idat += body
            n_idat += 1
        elif cname == b"IEND":
            break
    w, h, depth, ctype, _comp, _filt, interlace = ihdr
    return w, h, depth, ctype, interlace, bytes(idat), n_idat


def _unfilter(stream: bytes, w: int, h: int, bpp: int = 3):
    """Reverse the per-scanline filters (all five spec types) of an
    inflated PNG pixel stream -> ``uint8[h, bpp*w]``."""
    rowlen = bpp * w
    out = np.zeros((h, rowlen), dtype=np.uint8)
    pos = 0
    for y in range(h):
        _need(stream, pos, 1 + rowlen, "PNG pixel stream")
        ft = stream[pos]
        cur = bytearray(stream[pos + 1 : pos + 1 + rowlen])
        pos += 1 + rowlen
        prior = out[y - 1] if y else np.zeros(rowlen, dtype=np.uint8)
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for i in range(bpp, rowlen):
                cur[i] = (cur[i] + cur[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(rowlen):
                cur[i] = (cur[i] + prior[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(rowlen):
                left = cur[i - bpp] if i >= bpp else 0
                cur[i] = (cur[i] + (left + int(prior[i])) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(rowlen):
                left = cur[i - bpp] if i >= bpp else 0
                ul = int(prior[i - bpp]) if i >= bpp else 0
                cur[i] = (cur[i] + _paeth(left, int(prior[i]), ul)) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y] = np.frombuffer(bytes(cur), dtype=np.uint8)
    return out


def decode_png_pixels(data: bytes):
    """Decode a supported-profile PNG (8-bit truecolor, non-interlaced)
    to its pixel array: chunk walk, zlib inflate, per-scanline
    unfilter. Returns ``(w, h, n_idat, int64 ndarray[h, w, 3])``.
    """
    w, h, depth, ctype, interlace, idat, n_idat = _parse_png(data)
    if depth != 8 or ctype != 2 or interlace != 0:
        raise ValueError(
            "unsupported PNG profile (need 8-bit truecolor "
            f"non-interlaced): depth={depth} color_type={ctype} "
            f"interlace={interlace}"
        )
    try:
        stream = zlib.decompress(idat)
    except zlib.error as e:
        raise ValueError(f"bad PNG IDAT stream: {e}") from e
    px = _unfilter(stream, w, h)
    return w, h, n_idat, px.reshape(h, w, 3).astype(np.int64)


def decode_png_meta(
    df: DataFrame, id_col: str = "doc_id", data_col: str = "img"
) -> DataFrame:
    """REAL compressed-image decode, no stub and no image library:
    walk the chunk stream (CRC-verified), inflate IDAT with stdlib
    ``zlib``, reverse the per-scanline filters (all five spec types —
    None/Sub/Up/Average/Paeth) and fold the reconstructed truecolor
    array into integer-exact channel means. This is the stage a Pillow
    decoder drops into; PNG proves the compressed-format path
    end-to-end the way mm5/mm6 proved WAV/BMP.

    Supports the synthesizable profile: 8-bit truecolor (color type 2),
    non-interlaced. Anything else raises rather than mis-decoding.
    """

    def row(doc_id, data):
        w, h, n_idat, rgb = decode_png_pixels(data)
        yield (doc_id, w, h, 8, 2, n_idat, *_channel_means(rgb), w * h)

    return map_rows(df, [id_col, data_col], PNG_META_SCHEMA, row)


def synth_png_frame(
    ids: DataFrame, id_col: str = "doc_id", content_col: str | None = None
) -> DataFrame:
    """Attach a real synthesized PNG binary column per id row.
    ``content_col`` (default: the id itself) picks the column that
    seeds the PIXEL CONTENT — distinct rows can carry identical
    images, which is how near-duplicate image fixtures are built
    (mm11)."""
    return _synth_frame(ids, id_col, "img", synth_png, content_col)


# ---- real dictionary-coded image codec (stdlib GIF87a / LZW) --------------

GIF_META_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, n_colors bigint, "
    "n_frames bigint, mean_index bigint, mean_green bigint, n_pixels bigint"
)


def _lzw_encode(indices: bytes, min_code_size: int = 8) -> bytes:
    """GIF-flavor LZW: variable-width codes starting at
    ``min_code_size + 1`` bits, CLEAR/END codes, dictionary reset at
    4096 — the encode direction of the public GIF87a specification."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    bitbuf = 0
    bitcnt = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, bitcnt
        bitbuf |= code << bitcnt
        bitcnt += width
        while bitcnt >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            bitcnt -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    emit(clear, width)
    w = b""
    for b in indices:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        table[wk] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            # GIF encoders grow the width when the NEXT code to assign
            # no longer fits the current width
            width += 1
        elif next_code == 4097:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        w = bytes([b])
    if w:
        emit(table[w], width)
    emit(end, width)
    if bitcnt:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _gif_byte(data: bytes, pos: int) -> int:
    """``data[pos]``, or ValueError('truncated GIF') past the end."""
    _need(data, pos, 1, "GIF")
    return data[pos]


def _lzw_decode(data: bytes, min_code_size: int = 8) -> bytes:
    """LZW decode per the GIF87a spec: variable code width, CLEAR
    resets, KwKwK case, END terminates. Truncated/invalid streams
    raise ValueError."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    pos = 0
    bitbuf = 0
    bitcnt = 0

    def read(width: int) -> int:
        nonlocal pos, bitbuf, bitcnt
        while bitcnt < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            bitbuf |= data[pos] << bitcnt
            pos += 1
            bitcnt += 8
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        bitcnt -= width
        return code

    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None
    while True:
        code = read(width)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("LZW: first code not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"LZW: code {code} beyond table {len(table)}")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    return bytes(out)


def synth_gif(doc_id: int, n_frames: int = 1) -> bytes:
    """Deterministic GIF87a with REAL LZW compression: 256-entry
    global palette where entry ``i`` is ``(i, (2*i) % 256, (7*i) %
    256)`` and frame ``f``'s pixel ``(x, y)`` holds palette index
    ``(doc_id + 3*x + 5*y + 11*f) % 256`` — analytic, so the oracle
    re-derives the decoded channel means with no reference to the
    bytes. ``n_frames > 1`` writes one full-frame image block per
    frame — a genuine multi-frame (video-shaped) container."""
    w = 6 + doc_id % 27
    h = 4 + doc_id % 19
    palette = bytearray()
    for i in range(256):
        palette += bytes((i, (2 * i) % 256, (7 * i) % 256))
    body = bytearray()
    for f in range(n_frames):
        indices = bytes(
            (doc_id + 3 * x + 5 * y + 11 * f) % 256
            for y in range(h)
            for x in range(w)
        )
        lzw = _lzw_encode(indices)
        body += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        body.append(8)  # LZW min code size
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            body.append(len(chunk))
            body += chunk
        body.append(0)  # block terminator
    return (
        b"GIF87a"
        + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # global table, 256 colors
        + bytes(palette)
        + bytes(body)
        + b"\x3b"  # trailer
    )


def _gif_sub_blocks(data: bytes, pos: int, into: bytearray | None) -> int:
    """Step over the sub-block chain at *pos* up to its 0 terminator,
    appending the payloads to *into* unless it is None; return the
    position after the terminator."""
    while (blen := _gif_byte(data, pos)) != 0:
        _need(data, pos + 1, blen, "GIF")
        if into is not None:
            into += data[pos + 1 : pos + 1 + blen]
        pos += 1 + blen
    return pos + 1


def _parse_gif(data: bytes, want=lambda frame: True):
    """One structural walk of a GIF87a/89a container: screen
    descriptor, global color table, then image blocks up to the
    trailer. Returns ``(width, height, palette, frames)``: *palette* is
    the global color table's bytes (empty when absent) and *frames*
    holds one ``(iw, ih, iflags, min_code, lzw)`` per image block. A
    block's local color table is skipped, never read as image data;
    *lzw* is the frame's joined sub-block bytes when ``want(index)``,
    else None (the sub-blocks are stepped over without copying).
    GIF89a extension blocks (graphic control, comment, application)
    are stepped over; any other block and truncated containers raise
    ValueError."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    _need(data, 6, 7, "GIF")
    w, h, flags = struct.unpack_from("<HHB", data, 6)
    n_pal = 3 * (2 << (flags & 0x07)) if flags & 0x80 else 0
    _need(data, 13, n_pal, "GIF")
    palette = data[13 : 13 + n_pal]
    pos = 13 + n_pal
    frames = []
    while (block := _gif_byte(data, pos)) != 0x3B:  # until trailer
        if block == 0x21:  # extension: introducer, label, sub-blocks
            pos = _gif_sub_blocks(data, pos + 2, None)
            continue
        if block != 0x2C:
            raise ValueError(f"unsupported GIF block 0x{block:02x}")
        _need(data, pos + 1, 9, "GIF")
        _ix, _iy, iw, ih, iflags = struct.unpack_from("<HHHHB", data, pos + 1)
        pos += 10
        if iflags & 0x80:  # local color table
            pos += 3 * (2 << (iflags & 0x07))
        min_code = _gif_byte(data, pos)
        pos += 1
        lzw = bytearray() if want(len(frames)) else None
        pos = _gif_sub_blocks(data, pos, lzw)
        frames.append(
            (iw, ih, iflags, min_code, None if lzw is None else bytes(lzw))
        )
    return w, h, palette, frames


def _gif_indices(lzw: bytes, min_code: int):
    """A frame's palette indices as an int64 array."""
    return np.frombuffer(_lzw_decode(lzw, min_code), dtype=np.uint8).astype(
        np.int64
    )


def decode_gif_meta(
    df: DataFrame, id_col: str = "doc_id", data_col: str = "img"
) -> DataFrame:
    """REAL dictionary-coded image decode, stdlib only: parse the
    GIF87a container (screen descriptor, global palette, image
    descriptor, sub-block stream), LZW-decode the pixel indices and
    fold them into integer-exact stats. Completes the codec matrix:
    mm5 PCM audio, mm6 raw bitmaps, mm7 DEFLATE (PNG), mm8 LZW (GIF).
    Supports the synthesizable profile (global color table,
    non-interlaced images without local tables); extension blocks are
    skipped, anything else raises."""

    def row(doc_id, data):
        # report the LOGICAL SCREEN dims (w, h) — per-frame image
        # blocks may legally differ in size
        w, h, palette, frames = _parse_gif(data)
        if not palette:
            raise ValueError("GIF without global color table")
        if not frames:
            raise ValueError("GIF with no image block")
        green = np.frombuffer(palette, dtype=np.uint8)[1::3]
        idx_sum = g_sum = n_px = 0
        for iw, ih, iflags, min_code, lzw in frames:
            if iflags & 0xC0:
                raise ValueError("local table/interlace unsupported")
            idx = _gif_indices(lzw, min_code)
            if len(idx) != iw * ih:
                raise ValueError(f"LZW output {len(idx)} != {iw}x{ih} pixels")
            idx_sum += int(idx.sum())
            g_sum += int(green[idx].sum(dtype=np.int64))
            n_px += iw * ih
        yield (
            doc_id, w, h, len(green), len(frames),
            idx_sum // n_px, g_sum // n_px, n_px,
        )

    return map_rows(df, [id_col, data_col], GIF_META_SCHEMA, row)


def synth_gif_frame(
    ids: DataFrame, id_col: str = "doc_id", n_frames_of=None
) -> DataFrame:
    """Attach a real synthesized GIF binary column per id row;
    ``n_frames_of(doc_id)`` makes them animated (multi-frame)."""
    return _synth_frame(
        ids, id_col, "img",
        lambda i: synth_gif(i, n_frames=n_frames_of(i) if n_frames_of else 1),
    )


# ---- real media-type dispatch (the decode_media contract, no stub) --------

MEDIA_META_SCHEMA = (
    "doc_id bigint, media_type string, width bigint, height bigint, "
    "n_frames bigint"
)


def sniff_media_type(data: bytes) -> str:
    """Magic-byte container sniff — the reference's mime detection
    applied to media (cmn/archive/mime.go does the same for shards)."""
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "audio/wav"
    if data[:2] == b"BM":
        return "image/bmp"
    if data[:8] == PNG_SIGNATURE:
        return "image/png"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "image/gif"
    if data[:3] == b"\xff\xd8\xff":
        return "image/jpeg"
    raise ValueError(f"unknown media container (magic {data[:8]!r})")


def _synth_media(doc_id: int) -> bytes:
    k = doc_id % 4
    if k == 0:
        return synth_wav(doc_id)
    if k == 1:
        return synth_bmp(doc_id)
    if k == 2:
        return synth_png(doc_id)
    return synth_gif(doc_id, n_frames=1 + doc_id % 5)


def synth_media_frame(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Mixed-media corpus: each id gets a REAL container chosen by
    ``doc_id % 4`` — WAV audio, BMP, PNG, or an ANIMATED multi-frame
    GIF (``1 + doc_id % 5`` frames — the video-shaped case)."""
    return _synth_frame(ids, id_col, "data", _synth_media)


def _media_dims(data: bytes) -> tuple[str, int, int, int]:
    """``(media_type, width, height, n_frames)`` from the container
    headers alone: no pixel or sample is decoded."""
    mt = sniff_media_type(data)
    if mt == "audio/wav":
        return mt, 0, 0, _parse_wav(data)[3]
    if mt == "image/bmp":
        return mt, *_parse_bmp(data)[:2], 1
    if mt == "image/jpeg":
        return mt, *jpeg_dims(data)[:2], 1
    if mt == "image/png":
        return mt, *_parse_png(data, pixels=False)[:2], 1
    w, h, _palette, frames = _parse_gif(data, want=lambda frame: False)
    return mt, w, h, len(frames)


def decode_media_meta(
    df: DataFrame, id_col: str = "doc_id", data_col: str = "data"
) -> DataFrame:
    """The ``decode_media`` contract with NO stub: sniff the container
    by magic bytes and extract typed metadata with the real parsers —
    WAV header (PCM frame count = the audio "n_frames"), BMP header,
    PNG IHDR (CRC-verified), GIF block walk counting image frames
    (animated GIFs are the multi-frame/video case). This is the
    dispatch layer a mixed-media lake needs before routing content to
    the per-format pixel/sample decoders (mm5-mm8)."""
    return map_rows(
        df, [id_col, data_col], MEDIA_META_SCHEMA,
        lambda doc_id, data: [(doc_id, *_media_dims(data))],
    )


# ---- REAL resize and frame extraction over the decoded codecs -------------

THUMB_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, rs_width bigint, "
    "rs_height bigint, rs_mean_red bigint, rs_mean_green bigint, "
    "rs_mean_blue bigint"
)


def _nearest(px, target_w: int, target_h: int):
    """Nearest-neighbor resample: output pixel ``(u, v)`` is source
    pixel ``(u*w div target_w, v*h div target_h)``."""
    h, w = px.shape[:2]
    return px[
        np.ix_(np.arange(target_h) * h // target_h, np.arange(target_w) * w // target_w)
    ]


def png_thumbnail(
    df: DataFrame,
    target_w: int = 7,
    target_h: int = 5,
    id_col: str = "doc_id",
    data_col: str = "img",
) -> DataFrame:
    """REAL resize, no stub: decode the PNG pixels (full unfilter
    path) and nearest-neighbor-resample to ``target_w x target_h`` —
    thumbnail pixel ``(u, v)`` is source pixel ``(u*w div W,
    v*h div H)``, the canonical floor mapping, so the result is
    bit-exact reproducible and the oracle can re-derive the thumbnail
    channel means straight from the source pixel formula."""

    def row(doc_id, data):
        w, h, _n, rgb = decode_png_pixels(data)
        thumb = _nearest(rgb, target_w, target_h)
        yield (doc_id, w, h, target_w, target_h, *_channel_means(thumb))

    return map_rows(df, [id_col, data_col], THUMB_SCHEMA, row)


FRAME_EXTRACT_SCHEMA = (
    "doc_id bigint, n_frames bigint, frame_idx bigint, mean_index bigint"
)


def gif_extract_frames(
    df: DataFrame,
    every_n: int = 2,
    max_frames: int = 3,
    id_col: str = "doc_id",
    data_col: str = "img",
) -> DataFrame:
    """REAL frame sampling + extraction, no stub: walk the animated
    GIF's image blocks, LZW-DECODE ONLY the sampled frames (indices
    ``0, every_n, 2*every_n, ...`` capped at *max_frames* — the mm4
    sampling plan) and skip the rest at sub-block speed without
    decoding — the selective-decode pattern a video pipeline needs.
    One output row per (doc, sampled frame) with the frame's exact
    mean palette index."""

    def wanted(f: int) -> bool:
        return f % every_n == 0 and f // every_n < max_frames

    def row(doc_id, data):
        _w, _h, _palette, frames = _parse_gif(data, wanted)
        for f, (iw, ih, _fl, min_code, lzw) in enumerate(frames):
            if lzw is not None:
                mean = int(_gif_indices(lzw, min_code).sum()) // (iw * ih)
                yield (doc_id, len(frames), f, mean)

    return map_rows(df, [id_col, data_col], FRAME_EXTRACT_SCHEMA, row)


GRID_FEATURE_SCHEMA = (
    "doc_id bigint, qx bigint, qy bigint, n_px bigint, "
    "mean_red bigint, mean_green bigint, mean_blue bigint"
)


def png_grid_features(
    df: DataFrame, id_col: str = "doc_id", data_col: str = "img"
) -> DataFrame:
    """REAL feature extraction, no stub: 2x2 block-grid channel
    pooling over genuinely decoded PNG pixels (spatial-pyramid level-1
    — the classic hand-crafted image descriptor a learned embedding
    replaces). One row per (doc, grid cell) with exact integer channel
    means; cell of pixel (x, y) is ``(2x div w, 2y div h)``."""

    def row(doc_id, data):
        w, h, _n, rgb = decode_png_pixels(data)
        qx = (2 * np.arange(w)) // w
        qy = (2 * np.arange(h)) // h
        for gy in (0, 1):
            for gx in (0, 1):
                cell = rgb[np.ix_(qy == gy, qx == gx)]
                n = cell.shape[0] * cell.shape[1]
                if n:
                    yield (doc_id, gx, gy, n, *_channel_means(cell))

    return map_rows(df, [id_col, data_col], GRID_FEATURE_SCHEMA, row)


TRANSCODE_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, png_bytes bigint, "
    "mean_red bigint, mean_green bigint, mean_blue bigint"
)


def transcode_bmp_to_png(
    df: DataFrame, id_col: str = "doc_id", data_col: str = "img"
) -> DataFrame:
    """REAL media transcode, no stub: parse the BMP (stride-aware,
    bottom-up, BGR), re-encode the pixel array as a genuine PNG
    (deflate + scanline filters via :func:`encode_png_rgb`), then
    decode the PNG BACK and report its exact channel means — the
    round trip proves both codec directions on the same bytes, which
    is the image-ETL transform surface (the reference's transform
    templates re-encode media the same way). ``png_bytes`` is the real
    compressed size (not oracle-checkable; the means are)."""

    def row(doc_id, data):
        w, h, bpp, _stride, rows = _parse_bmp(data)
        if bpp != 24:
            raise ValueError(f"unsupported BMP bpp {bpp}")
        rgb = rows[:, : 3 * w].reshape(h, w, 3)[:, :, ::-1]
        png = encode_png_rgb([bytes(r.reshape(-1)) for r in rgb], w)
        pw, ph, _n, back = decode_png_pixels(png)
        yield (doc_id, pw, ph, len(png), *_channel_means(back))

    return map_rows(df, [id_col, data_col], TRANSCODE_SCHEMA, row)


# ---- real lossy-DCT image codec (baseline JFIF) ---------------------------

JPEG_META_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, n_components bigint, "
    "n_blocks bigint, restart_interval bigint, q00_luma bigint, "
    "mean_y bigint, mean_cb bigint, mean_cr bigint"
)


def synth_jpeg_frame(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a real synthesized baseline-JFIF binary column per id
    row (the generator stands in for an object-store read of a JPEG
    shard)."""
    return _synth_frame(ids, id_col, "img", synth_jpeg)


def decode_jpeg_meta(
    df: DataFrame, id_col: str = "doc_id", data_col: str = "img"
) -> DataFrame:
    """REAL lossy-DCT image decode, no stub and no image library: full
    baseline-JFIF pipeline (marker walk, file-carried DQT/DHT,
    canonical Huffman decode with byte unstuffing + restart markers,
    DC prediction, dequant, un-zigzag, IDCT) and integer-exact channel
    means over the decoded pixels. Completes the codec matrix with the
    lossy transform family: PCM (mm5), raw bitmap (mm6), DEFLATE/PNG
    (mm7), LZW/GIF (mm8), DCT/JPEG (mm10) — the container the
    reference's torchvision/keras image ETL actually transforms
    (python/aistore/sdk/etl/etl_templates.py). ``q00_luma`` is the
    file-carried luma Q00 from the parsed DQT — the oracle recomputes
    it from the quality-scaling closed form, pinning the DQT round
    trip."""

    def row(doc_id, data):
        info, planes = decode_jpeg(data)
        means = [int(p.astype(np.int64).sum()) // p.size for p in planes]
        cb, cr = means[1:] if len(means) > 1 else (-1, -1)
        yield (
            doc_id, info["width"], info["height"], info["n_components"],
            info["n_blocks"], info["restart_interval"], info["q00_luma"],
            means[0], cb, cr,
        )

    return map_rows(df, [id_col, data_col], JPEG_META_SCHEMA, row)


# ---- real rational audio resample (the ffmpeg_audio surface) --------------

RESAMPLE_SCHEMA = (
    "doc_id bigint, src_rate bigint, dst_rate bigint, n_frames_in bigint, "
    "n_frames_out bigint, first_out bigint, last_out bigint, "
    "rms_out bigint, n_bytes bigint"
)


def resample_pcm(pcm, src_rate: int, dst_rate: int):
    """Integer-exact rational resample (linear interpolation) of a
    mono int PCM array from *src_rate* to *dst_rate*.

    Contract: ratio reduced to P/Q; output length ``n_in*P // Q``;
    ``out[j] = trunc((in[i]*(P-r) + in[i+1]*r) / P)`` with
    ``i = j*Q // P``, ``r = j*Q % P`` and the tail clamped to the last
    sample. Division TRUNCATES TOWARD ZERO — the semantics of SQL
    integer division in both Spark and DuckDB — so the whole resampler
    has a closed form an oracle can recompute (numpy floor-division
    alone would floor negatives and drift by 1)."""
    if src_rate <= 0 or dst_rate <= 0:
        raise ValueError("sample rates must be positive")
    pcm = np.asarray(pcm, dtype=np.int64)
    g = math.gcd(src_rate, dst_rate)
    p, q = dst_rate // g, src_rate // g
    n_in = len(pcm)
    n_out = n_in * p // q
    j = np.arange(n_out, dtype=np.int64)
    pos = j * q
    i = pos // p
    r = pos - i * p
    i2 = np.minimum(i + 1, max(n_in - 1, 0))
    num = pcm[i] * (p - r) + pcm[i2] * r
    return np.sign(num) * (np.abs(num) // p)


def resample_wav_bytes(data: bytes, dst_rate: int) -> bytes:
    """Decode a 16-bit mono WAV, resample (resample_pcm), and re-encode
    a REAL container at the target rate — the ffmpeg -ar analogue as a
    bytes->bytes transform (pluggable into the canned-ETL registry)."""
    nch, sw, src, _nf, pcm = _parse_wav(data)
    if sw != 2 or nch != 1:
        raise ValueError("resample profile: 16-bit mono PCM")
    out = resample_pcm(pcm, src, dst_rate)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as ww:
        ww.setnchannels(1)
        ww.setsampwidth(2)
        ww.setframerate(dst_rate)
        ww.writeframes(out.astype("<i2").tobytes())
    return buf.getvalue()


def resample_wav(
    df: DataFrame,
    dst_rate_of=None,
    id_col: str = "doc_id",
    data_col: str = "wav",
) -> DataFrame:
    """REAL audio resample stage, no stub: decode the WAV container,
    rational linear-interp resample (integer-exact, see resample_pcm),
    re-encode a genuine WAV at the target rate, then decode THAT
    container back for the reported stats — so container write, rate
    change, and sample math are all on the verified path.
    ``dst_rate_of(doc_id)`` picks the per-row target (up- and
    down-sampling in one pass)."""
    dst_rate_of = dst_rate_of or (lambda d: 16000)

    def row(doc_id, data):
        _nch, _sw, src, n_in, _pcm = _parse_wav(data)
        dst = dst_rate_of(doc_id)
        enc = resample_wav_bytes(data, dst)
        _nch, _sw, rate, _nf, back = _parse_wav(enc)
        if rate != dst:
            raise ValueError("re-encoded rate drifted")
        n_out = len(back)
        yield (
            doc_id, src, dst, n_in, n_out,
            int(back[0]) if n_out else 0, int(back[-1]) if n_out else 0,
            _rms(back), len(enc),
        )

    return map_rows(df, [id_col, data_col], RESAMPLE_SCHEMA, row)


DHASH_SCHEMA = "doc_id bigint, band int, val bigint"


def png_dhash(
    df: DataFrame, id_col: str = "doc_id", data_col: str = "img"
) -> DataFrame:
    """Perceptual difference-hash (dHash) over REALLY-decoded PNG
    pixels: nearest-neighbor-resample to a 9x8 grid (the canonical
    ``u*w div 9`` floor mapping, same contract as png_thumbnail),
    integer BT.601 luminance ``(299R + 587G + 114B) div 1000``, one
    bit per horizontally-adjacent comparison ``gray(u+1,v) >
    gray(u,v)`` — 64 bits held as FOUR 16-bit band values (long form
    ``(doc_id, band, val)``), which keeps every value unsigned-exact
    in a BIGINT and is already the shape the LSH band join wants.

    Scale: the Arrow-batched decode is the only Python stage;
    everything downstream is band-keyed DataFrame joins. The input
    is spread() so single-row-group fixtures still decode on all
    cores (no-op on naturally-split data).
    """

    def row(doc_id, data):
        s = _nearest(decode_png_pixels(data)[3], 9, 8)
        gray = (299 * s[:, :, 0] + 587 * s[:, :, 1] + 114 * s[:, :, 2]) // 1000
        bits = (gray[:, 1:] > gray[:, :-1]).reshape(-1)  # idx = v*8 + u
        for band in range(4):
            word = bits[band * 16 : band * 16 + 16]
            yield (doc_id, band, sum(int(b) << i for i, b in enumerate(word)))

    return map_rows(spread(df), [id_col, data_col], DHASH_SCHEMA, row)


def dhash_pairs(bands: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs from dHash bands: candidates share
    at least one identical 16-bit band (pigeonhole: any pair within
    Hamming distance 3 of a 4-band 64-bit hash must agree on >= 1
    band — the same banding argument as simhash_pairs), then the
    EXACT Hamming distance is verified band-wise
    (``bit_count(xor)``) and thresholded.

    Returns ``(doc_a, doc_b, hamming)`` with doc_a < doc_b. Scale:
    the candidate join keys on (band, val) — selective by
    construction; the verify join re-keys the (small) candidate set
    by doc id. No all-pairs product anywhere.

    The bands frame is PINNED (r16, guide §2.4): four plan branches
    consume it (both candidate sides + both verify sides), and
    upstream sits the full Arrow-batched PNG decode — without the pin
    the decode executed once per branch. The cache is one short row
    per (image, band).
    """
    from aistore_spark.util import pin

    bands = pin(bands)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "val")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "val")
    cand = (
        a.join(b, ["band", "val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    xa = bands.select(F.col("doc_id").alias("doc_a"), "band", F.col("val").alias("va"))
    xb = bands.select(F.col("doc_id").alias("doc_b"), "band", F.col("val").alias("vb"))
    return (
        cand.join(xa, "doc_a")
        .join(xb, ["doc_b", "band"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.bit_count(F.col("va").bitwiseXOR(F.col("vb"))))
            .cast("bigint")
            .alias("hamming")
        )
        .where(F.col("hamming") <= max_hamming)
    )
