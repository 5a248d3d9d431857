"""Multimodal (image/audio/video) column plumbing for training-data
pipelines.

Media is carried as opaque `binary` payload columns plus a typed
metadata struct — the layout a 100 TB multimodal corpus uses (bytes
in parquet/blob store, metadata queryable without touching payloads,
so filters/joins prune before any decode).

DECODE IS REAL for all three kinds: `decode_media` sniffs the
payload's magic bytes and parses PNG (stdlib zlib+struct: IHDR
dims + actual IDAT decompression), WAV (stdlib `wave`: sample
rate / frame count from the RIFF header), uncompressed AVI
(RIFF chunk-tree walk: avih dims/frame-count + movi DIB frame-byte
verification), and Motion-JPEG AVI (per-frame JPEG marker walk:
SOI/EOI framing, SOF dims/components checked against the avih
header) — no third-party codec needed. Inter-frame video codecs
(H.264 etc.) have no stdlib decoder; unknown payloads fall
back to a clearly-marked deterministic STUB pseudo-decode, and
swapping in a real pyav/ffmpeg decoder changes only that one
per-batch branch. `synthesize_real_media` builds genuine
PNG/WAV/AVI/MJPEG bytes so the decode path is exercised against
real containers end-to-end.

Scale notes:
- All media UDFs are mapInPandas (Arrow-batched, one Python worker
  per core per partition); never row-at-a-time Python UDFs.
- Payload columns are pruned unless referenced: metadata-only
  queries read the small columns from parquet, which is why meta
  lives in its own struct column and not inside the payload.
- spark.sql.execution.arrow.maxRecordsPerBatch bounds decode batch
  memory (media rows are big; lower it for video).
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dot_spark.operators.textdedup import spread_small_input

MEDIA_META_DDL = (
    "kind STRING, format STRING, width INT, height INT, "
    "sample_rate INT, duration_ms INT"
)

DECODED_DDL = (
    "media_id BIGINT, kind STRING, ok BOOLEAN, decoder STRING, "
    "width INT, height INT, sample_rate INT, n_bytes INT"
)

FEATURE_DIM = 16
FEATURES_DDL = f"media_id BIGINT, kind STRING, feature ARRAY<FLOAT>"

FRAMES_DDL = (
    "media_id BIGINT, frame_idx INT, ts_ms INT, codec STRING, "
    "n_px INT, sum_px BIGINT, frame_sig STRING"
)


def synthesize_media(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic fake media table from the documents fixture:
    payload bytes are a keyed hash expansion of the text (stands in
    for real image/audio bytes; stable across engines and runs).
    Schema: media_id, payload BINARY, meta STRUCT<...>."""
    kind = (
        F.when(F.col(id_col) % 3 == 0, "image")
        .when(F.col(id_col) % 3 == 1, "audio")
        .otherwise("video")
    )
    payload = F.unhex(F.sha2(F.col(text_col).cast("binary"), 256))
    # the payloads feed per-row Python feature extractors downstream:
    # spread the one-split local scan so those stages run full-width
    # (no-op at warehouse scale — see _media_table).
    # Projected to the two consumed columns FIRST so the spread
    # exchange never ships unused document columns.
    df = spread_small_input(df.select(id_col, text_col))
    return df.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        F.struct(
            kind.alias("kind"),
            F.lit("synthetic").alias("format"),
            (F.col(id_col) % 640 + 64).cast("int").alias("width"),
            (F.col(id_col) % 480 + 48).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.col(id_col) % 5000 + 1000).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


# --- real containers: PNG (zlib+struct) and WAV (stdlib wave) ----------


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# scanline channel count per color type (BEFORE palette expansion):
# 0 gray, 2 RGB, 3 palette index, 4 gray+alpha, 6 RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# Adam7 interlace pass grid, spec order: (x0, y0, dx, dy) per pass
_PNG_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """The Paeth predictor (PNG spec 9.4): nearest of left/up/up-left
    to the linear estimate a + b - c, ties broken left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_filter_row(f: int, cur: bytes, prev: bytes, bpp: int) -> bytes:
    """ENCODE-side scanline filter f over raw bytes `cur` (spec 9):
    emits the filtered bytes the decoder's _png_unfilter_row must
    invert exactly. `prev` is the previous RAW row (zeros for the
    first row of an image or interlace pass), `bpp` the byte stride
    between corresponding samples."""
    out = bytearray(len(cur))
    for j in range(len(cur)):
        x = cur[j]
        a = cur[j - bpp] if j >= bpp else 0
        b = prev[j]
        c = prev[j - bpp] if j >= bpp else 0
        if f == 0:
            v = x
        elif f == 1:
            v = x - a
        elif f == 2:
            v = x - b
        elif f == 3:
            v = x - (a + b) // 2
        else:
            v = x - _paeth(a, b, c)
        out[j] = v & 0xFF
    return bytes(out)


def _png_unfilter_row(f: int, cur: bytes, prev: bytes, bpp: int) -> bytes:
    """DECODE-side inverse of _png_filter_row: reconstruct the raw
    scanline from filtered bytes. Sub/Average/Paeth are sequential in
    x by definition (each byte depends on the reconstructed byte one
    bpp earlier), so this is a per-byte loop — scanlines are small
    and filter-0 rows never reach here (sliced directly)."""
    if f > 4:
        raise ValueError(f"unsupported PNG row filter {f}")
    out = bytearray(len(cur))
    for j in range(len(cur)):
        x = cur[j]
        a = out[j - bpp] if j >= bpp else 0
        b = prev[j]
        c = prev[j - bpp] if j >= bpp else 0
        if f == 1:
            v = x + a
        elif f == 2:
            v = x + b
        elif f == 3:
            v = x + (a + b) // 2
        else:
            v = x + _paeth(a, b, c)
        out[j] = v & 0xFF
    return bytes(out)


def _png_encode(
    planes: np.ndarray,
    color_type: int,
    palette: np.ndarray | None = None,
    interlace: bool = False,
    filters=None,
    bitdepth: int = 8,
) -> bytes:
    """Encode a REAL PNG stream (stdlib zlib): any color type
    (gray/RGB/palette/gray+alpha/RGBA), real per-scanline filters
    (`filters` maps a global scanline index -> type 0-4; default all
    0), optional Adam7 interlacing, bit depth 8 or 16. `planes` is
    (h, w) or (h, w, C) — palette images pass their index grid plus
    `palette` (n, 3). The fixture generator for the full decoder
    below; filter bytes are computed from the raw pixels by the
    spec's forward filters, so decode must invert them exactly."""
    arr = np.asarray(planes)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    if ch != _PNG_CHANNELS[color_type]:
        raise ValueError("planes shape does not match color type")
    bpp = ch * (bitdepth // 8)
    fsel = filters if filters is not None else (lambda i: 0)

    blocks = []
    if interlace:
        for x0, y0, dx, dy in _PNG_ADAM7:
            sub = arr[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                blocks.append(sub)
    else:
        blocks.append(arr)

    raw = bytearray()
    row_idx = 0
    for block in blocks:
        prev = bytes(block.shape[1] * bpp)
        for r in range(block.shape[0]):
            if bitdepth == 16:
                rb = block[r].astype(">u2").tobytes()
            else:
                rb = block[r].astype(np.uint8).tobytes()
            f = fsel(row_idx)
            row_idx += 1
            raw += bytes([f]) + _png_filter_row(f, rb, prev, bpp)
            prev = rb

    ihdr = struct.pack(
        ">IIBBBBB", w, h, bitdepth, color_type, 0, 0, 1 if interlace else 0
    )
    out = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
    if color_type == 3:
        out += _png_chunk(
            b"PLTE", np.asarray(palette, dtype=np.uint8).reshape(-1).tobytes()
        )
    return out + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6)) + _png_chunk(
        b"IEND", b""
    )


def _png_bytes(width: int, height: int, seed: int) -> bytes:
    """Encode a real grayscale 8-bit PNG (deterministic pixel field
    keyed off `seed`) through the general encoder with filter 0
    rows."""
    x = np.arange(width)[None, :]
    y = np.arange(height)[:, None]
    return _png_encode(((x * 7 + y * 13 + seed) % 256).astype(np.uint8), 0)


def _png_walk(data: bytes) -> tuple[dict, bytes | None, bytes]:
    """Shared PNG container walk: signature check, full IHDR parse,
    PLTE capture, IDAT concat, IEND stop. ONE copy of the
    chunk-stream parsing for both the metadata decoder and the pixel
    decoder, so a bounds fix can never land in one and miss the
    other. Returns (ihdr dict, PLTE bytes or None, decompressed
    scanline stream incl. per-row filter bytes); raises ValueError on
    a non-PNG, a malformed IHDR, or an IDAT that does not inflate."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, ihdr, plte, idat = 8, None, None, b""
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            if len(body) != 13:
                raise ValueError("malformed PNG IHDR")
            width, height = struct.unpack(">II", body[:8])
            ihdr = {
                "width": int(width),
                "height": int(height),
                "depth": body[8],
                "color_type": body[9],
                "compression": body[10],
                "filter_method": body[11],
                "interlace": body[12],
            }
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    try:
        raw = zlib.decompress(idat)
    except zlib.error as exc:
        raise ValueError(f"PNG IDAT inflate failed: {exc}") from None
    return ihdr, plte, raw


def _png_decode_full(data: bytes) -> np.ndarray:
    """REAL PNG decode over the full codec surface: scanline filter
    reconstruction
    (None/Sub/Up/Average/Paeth), all five 8-bit color types — gray,
    RGB, palette (expanded through PLTE), gray+alpha, RGBA — and
    Adam7 interlacing. Returns (h, w) uint8 for grayscale or
    (h, w, C) for multi-channel images. Honest boundary: bit depths
    other than 8 raise (decode_media classifies them from the IHDR
    BEFORE calling here); truncated/corrupt streams raise, never
    guess."""
    ihdr, plte, raw = _png_walk(data)
    w, h = ihdr["width"], ihdr["height"]
    if ihdr["depth"] != 8:
        raise ValueError(f"unsupported PNG bit depth {ihdr['depth']}")
    if ihdr["color_type"] not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG color type {ihdr['color_type']}")
    if ihdr["compression"] or ihdr["filter_method"]:
        raise ValueError("unsupported PNG compression/filter method")
    if ihdr["interlace"] not in (0, 1):
        raise ValueError("unsupported PNG interlace method")
    ch = _PNG_CHANNELS[ihdr["color_type"]]
    if not ihdr["interlace"] and len(raw) == h * (w * ch + 1):
        rows = np.frombuffer(raw, np.uint8).reshape(h, w * ch + 1)
        if not rows[:, 0].any():
            # all-filter-0 fast path (the fixture gray class and any
            # fast encoder's no-filter output): one reshape, no
            # per-scanline loop — measured 1.4x on the phash pass
            out = rows[:, 1:].reshape(h, w, ch)
        else:
            out = None
    else:
        out = None
    if out is None:
        out = np.zeros((h, w, ch), dtype=np.uint8)
        passes = _PNG_ADAM7 if ihdr["interlace"] else ((0, 0, 1, 1),)
        pos = 0
        for x0, y0, dx, dy in passes:
            pw = len(range(x0, w, dx))
            ph = len(range(y0, h, dy))
            if pw == 0 or ph == 0:
                continue  # empty interlace pass carries no bytes at all
            stride = pw * ch
            prev = bytes(stride)
            for r in range(ph):
                cur = raw[pos + 1 : pos + 1 + stride]
                if pos >= len(raw) or len(cur) != stride:
                    raise ValueError("PNG scanline data truncated")
                f = raw[pos]
                pos += 1 + stride
                rec = cur if f == 0 else _png_unfilter_row(f, cur, prev, ch)
                out[y0 + r * dy, x0::dx] = np.frombuffer(
                    rec, np.uint8
                ).reshape(pw, ch)
                prev = rec
        if pos != len(raw):
            raise ValueError("PNG pixel data does not match IHDR dims")
    if ihdr["color_type"] == 3:
        if plte is None or len(plte) % 3:
            raise ValueError("palette PNG missing/malformed PLTE")
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        idx = out[:, :, 0]
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("PNG palette index out of range")
        out = pal[idx]
    return out[:, :, 0] if out.shape[2] == 1 else out


def _decode_png(data: bytes) -> dict:
    """REAL PNG decode for the metadata path: full pixel
    reconstruction via _png_decode_full (filters inverted, palette
    expanded, interlace reassembled), so a truncated/corrupt payload
    fails here rather than passing on header trust. n_bytes = decoded
    SAMPLES (pixels x channels after palette expansion) — w*h for the
    gray fixture class."""
    px = _png_decode_full(data)
    h, w = px.shape[:2]
    return {
        "width": w,
        "height": h,
        "sample_rate": None,
        "n_bytes": int(px.size),
    }


def _avi_bytes(
    width: int, height: int, n_frames: int, seed: int, codec: str = "dib"
) -> bytes:
    """Encode a real AVI container (RIFF 'AVI ' with an hdrl avih
    header, a 'vids' stream, and frames in the movi list).
    Stdlib-only, two codecs:
    - "dib": raw 24-bit BGR frames ('00db'); frames ARE the pixels.
    - "mjpg": Motion-JPEG — each '00dc' frame is a genuine baseline
      JPEG from _jpeg_bytes: gray level (seed + f*11) % 128 + 64 plus
      AC coefficient (4,4) of magnitude (seed + f*7) % 10, so the
      decoded pixel field is g + 2c*s(x%8)*s(y%8) (s = +--++--+) —
      NON-flat frames that exercise the full baseline entropy decode
      (ZRL runs, AC magnitude, dezigzag, IDCT) while keeping an exact
      closed form the mm3 oracle recomputes without any DCT. Frames
      with c == 0 stay flat, so the DC-only class remains covered.
    The decoder below re-derives dims and frame count from the actual
    container/codestream structure in both cases."""
    mjpg = codec == "mjpg"
    frame_size = width * height * (1 if mjpg else 3)

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(fourcc: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", fourcc + body)

    avih = struct.pack(
        "<14I",
        100_000,  # dwMicroSecPerFrame (10 fps)
        frame_size * 10,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags (AVIF_HASINDEX off; interleave off)
        n_frames,
        0,  # dwInitialFrames
        1,  # dwStreams
        frame_size,  # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,  # dwReserved
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MJPG" if mjpg else b"DIB ", 0, 0, 0, 0,
        1, 10,  # dwScale / dwRate = 10 fps
        0, n_frames, frame_size, 0xFFFFFFFF & -1, 0,
        0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, 8 if mjpg else 24,
        struct.unpack("<I", b"MJPG")[0] if mjpg else 0,  # biCompression
        frame_size, 0, 0, 0, 0,
    )
    if mjpg:
        frames = b"".join(
            chunk(
                b"00dc",
                _jpeg_bytes(
                    width,
                    height,
                    ((seed + f * 11) % 128 + 64,),  # clamp-free gray level
                    ac44=(seed + f * 7) % 10,
                ),
            )
            for f in range(n_frames)
        )
    else:
        frames = b"".join(
            chunk(
                b"00db",
                bytes((x + f * 11 + seed) % 256 for x in range(frame_size)),
            )
            for f in range(n_frames)
        )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", frames)
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _avi_walk(data: bytes) -> dict:
    """Shared AVI container walk (ONE copy for the metadata decoder
    AND the frame sampler, so a bounds fix can never land in one and
    miss the other): verify the RIFF/'AVI ' signature, walk the chunk
    tree, and return header fields + the movi frame chunk bodies.

    Codec dispatch is container-declared, not sniffed: a valid
    uncompressed DIB frame whose first pixel bytes happen to be
    0xFF 0xD8 must NOT be routed into the JPEG parser (it would
    raise, or trip the mixed-codec check, on valid input). Frame
    magic is only the fallback for containers lacking any stream
    header."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    width = height = declared_frames = usec_per_frame = None
    handler = compression = None
    frames: list[bytes] = []

    def walk(buf: bytes) -> None:
        nonlocal width, height, declared_frames, usec_per_frame
        nonlocal handler, compression
        pos = 0
        while pos + 8 <= len(buf):
            fourcc = buf[pos : pos + 4]
            (length,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
            body = buf[pos + 8 : pos + 8 + length]
            if fourcc == b"LIST":
                walk(body[4:])  # skip the list-type fourcc
            elif fourcc == b"avih":
                fields = struct.unpack("<14I", body[:56])
                usec_per_frame = fields[0]
                declared_frames, width, height = fields[4], fields[8], fields[9]
            elif fourcc == b"strh" and body[:4] == b"vids":
                handler = body[4:8]  # fccHandler
            elif fourcc == b"strf" and handler is not None and compression is None:
                # BITMAPINFOHEADER: biCompression at offset 16
                (compression,) = struct.unpack("<I", body[16:20])
            elif fourcc in (b"00db", b"00dc"):
                frames.append(body)
            pos += 8 + length + (length % 2)

    walk(data[12:])
    if width is None or len(frames) != declared_frames:
        raise ValueError("AVI frame count does not match avih header")

    # Declared-codec dispatch: strh fccHandler first, strf
    # biCompression as corroboration (BI_RGB=0 means uncompressed).
    mjpg_cc = struct.unpack("<I", b"MJPG")[0]
    if handler == b"MJPG" or compression == mjpg_cc:
        codec = "mjpeg"
    elif handler in (b"DIB ", b"\x00\x00\x00\x00") or compression == 0:
        codec = "dib"
    elif frames and frames[0][:2] == b"\xff\xd8":
        codec = "mjpeg"  # headerless container: frame-magic fallback
    else:
        codec = "dib"
    return {
        "width": int(width),
        "height": int(height),
        "usec_per_frame": int(usec_per_frame or 0),
        "codec": codec,
        "frames": frames,
    }


def _decode_avi(data: bytes) -> dict:
    """REAL AVI parse via the shared _avi_walk, then per-codec checks:
    - DIB frames: every frame must carry exactly width*height*3
      pixel bytes — a truncated payload fails here rather than
      passing on header trust. n_bytes = total pixel bytes present.
    - MJPEG frames: parse each frame's JPEG codestream (_parse_jpeg:
      SOI/EOI framing + SOF dims/components) and check the per-frame
      SOF dims against the avih header. n_bytes = the decoded pixel
      size the codestream declares (w*h*components per frame).
    The returned "codec" records which path ran ("dib" | "mjpeg")."""
    info = _avi_walk(data)
    width, height = info["width"], info["height"]
    frames, codec = info["frames"], info["codec"]
    declared_frames = len(frames)

    if codec == "mjpeg":
        jpeg_dims: set[tuple[int, int]] = set()
        jpeg_pixel_bytes = 0
        for body in frames:
            dims = _parse_jpeg(body)
            jpeg_dims.add((dims["width"], dims["height"]))
            jpeg_pixel_bytes += dims["width"] * dims["height"] * dims["n_components"]
        if frames and jpeg_dims != {(width, height)}:
            raise ValueError("MJPEG frame SOF dims do not match avih header")
        n_bytes = jpeg_pixel_bytes
    else:
        # count bytes actually present, not the declared length —
        # a truncated payload must fail the check
        dib_bytes = sum(len(body) for body in frames)
        if dib_bytes != declared_frames * width * height * 3:
            raise ValueError("AVI pixel data does not match declared dims")
        n_bytes = dib_bytes
    return {
        "width": int(width),
        "height": int(height),
        "sample_rate": None,
        "n_bytes": n_bytes,
        "codec": codec,
    }


# JPEG zigzag scan order (ITU-T T.81 Figure A.6): scan position ->
# linear block index (row*8 + col). Scan position 39 is (4,4) — the
# coefficient the synthetic encoder uses for its AC field.
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]


def _jpeg_bit_writer():
    """MSB-first accumulating bit writer shared by the JPEG fixture
    encoders (a one-int-per-bit list plus a per-byte Python sum was
    measured at half of an mm-family synthesis pass). ``put(v, n)``
    appends the bottom n bits of v MSB-first; ``flush()`` pads to the
    byte boundary with 1s per T.81, returns the byte-stuffed segment
    (FF -> FF 00) and resets for the next segment."""
    state = [0, 0]  # acc (bottom `nbits` unemitted bits), nbits
    buf = bytearray()

    def put(value: int, n: int) -> None:
        acc = (state[0] << n) | (value & ((1 << n) - 1))
        nb = state[1] + n
        while nb >= 8:
            nb -= 8
            buf.append((acc >> nb) & 0xFF)
        state[0] = acc & ((1 << nb) - 1)
        state[1] = nb

    def flush() -> bytes:
        if state[1]:
            pad = 8 - state[1]
            buf.append(((state[0] << pad) | ((1 << pad) - 1)) & 0xFF)
            state[0] = state[1] = 0
        raw = bytes(buf)
        buf.clear()
        return raw.replace(b"\xff", b"\xff\x00")  # byte stuffing

    return put, flush


def seg(marker: int, body: bytes) -> bytes:
    """One marker segment: marker, big-endian length (body + 2), body."""
    return struct.pack(">HH", marker, len(body) + 2) + body


# quant table 0: Q[0]=8 so quantized DC == level-128 exactly; rest 16
# (zigzag pos 39 = (4,4) -> dequantized coefficient 16*ac44)
_JPEG_DQT = seg(0xFFDB, b"\x00" + bytes([8] + [16] * 63))


def _jpeg_huff_table(symbols: bytes) -> bytes:
    """DHT table body giving every symbol a 4-bit canonical code:
    symbol i encodes as the 4-bit value i."""
    return bytes([0, 0, 0, len(symbols)] + [0] * 12) + symbols


# DC table: categories 0-11, so category c encodes as the 4-bit value c
_JPEG_DC_TABLE = _jpeg_huff_table(bytes(range(12)))


def _jpeg_sof(marker: int, width: int, height: int, sampling: list[int]) -> bytes:
    """Frame header for components 1..n, all on quant table 0;
    ``sampling`` holds each component's (H << 4 | V) byte."""
    return seg(
        marker,
        struct.pack(">BHHB", 8, height, width, len(sampling))
        + b"".join(bytes([cid, hv, 0]) for cid, hv in enumerate(sampling, 1)),
    )


def _jpeg_dht(ac_table: bytes, chroma: bool) -> bytes:
    """One DHT segment: DC/AC tables id 0, plus the same tables again
    as id 1 for chroma, so the SOS component->table mapping is a real
    code path, not a constant."""
    dc = b"\x00" + _JPEG_DC_TABLE + (b"\x01" + _JPEG_DC_TABLE if chroma else b"")
    return seg(0xFFC4, dc + b"\x10" + ac_table + (b"\x11" + ac_table if chroma else b""))


def _jpeg_sos(cids, ss: int, se: int, ahal: int) -> bytes:
    """Scan header: components 1 and 4 on table id 0 (luma; K rides
    the luma tables as in libjpeg's YCCK layout), 2 and 3 on id 1."""
    sel = b"".join(bytes([cid, 0 if cid in (1, 4) else 0x11]) for cid in cids)
    return seg(0xFFDA, bytes([len(cids)]) + sel + bytes([ss, se, ahal]))


def _jpeg_put_dc(put, diff: int) -> None:
    """DC category code (canonical: category == code), then the
    magnitude bits in JPEG's one's-complement convention."""
    cat = abs(diff).bit_length()
    put(cat, 4)
    if cat:
        put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)


def _jpeg_put_ac44(put, ac_code: dict[int, int], value: int) -> None:
    """The lone positive AC coefficient at zigzag 39 = (4,4): two ZRL
    runs (scan pos 1-32), a (run 6, size) symbol (33-38), then the
    magnitude bits."""
    put(ac_code[0xF0], 4)
    put(ac_code[0xF0], 4)
    size = value.bit_length()
    put(ac_code[0x60 | size], 4)
    put(value, size)


def _jpeg_bytes(
    width: int,
    height: int,
    levels: tuple[int, ...],
    ac44: int = 0,
    subsample: str = "4:4:4",
    restart_interval: int = 0,
    extended: bool = False,
    transform: int | None = None,
) -> bytes:
    """Encode a REAL sequential-DCT JPEG (stdlib-only): quant table,
    SOF0 dims (SOF1 when ``extended`` — at 8-bit precision the scan
    machinery is identical, SOF1 only widens the allowed precision and
    table ids), canonical Huffman tables and an interleaved entropy
    stream with per-component DC predictors.

    ``levels`` holds one DC level per component: 1 = grayscale, 3 =
    YCbCr, 4 = Adobe CMYK/YCCK. Every block is the two-coefficient
    class {DC = level - 128, quantized (4,4) coefficient = ac44 on
    component 1, 0 elsewhere}. ac44 in 1..9 exercises the full scan
    machinery — two ZRL runs to reach zigzag position 39, a
    (run=6, size) symbol, magnitude bits, then EOB — and the decoded
    field is EXACTLY level + 2*ac44*s(x%8)*s(y%8) with
    s = [+,-,-,+,+,-,-,+]: the (4,4) basis product is ±1/8 per
    pixel, so dequantized 16*ac44 contributes the exact integer
    ±2*ac44 — a closed form an independent oracle can recompute
    without running any DCT. The one-component stream writes its DC
    and AC tables as two DHT segments, which keeps the decoder's
    multi-segment path covered.

    ``subsample`` '4:2:0' samples component 1 at 2x2 (four Y blocks
    per MCU) in multi-component streams; flat chroma makes that
    value-invariant, so 4:2:0 and 4:4:4 payloads decode to identical
    pixels. ``restart_interval`` > 0 emits a DRI segment and RST0-7
    markers every that-many MCUs (bit-padded to byte alignment, DC
    predictors reset); restarts never change decoded pixels.
    ``transform`` (0 = direct CMYK, 2 = YCCK) emits an Adobe APP14
    segment; 4-component streams follow Adobe's INVERTED-ink
    convention (stored 255 = no ink), so the decoder's composite is
    channel * K / 255.
    """
    n = len(levels)
    if n not in (1, 3, 4):
        raise ValueError("levels must hold 1, 3 or 4 component DC levels")
    if not 0 <= ac44 <= 9:
        raise ValueError("ac44 must be in 0..9 (keeps pixels clamp-free)")
    if subsample not in ("4:2:0", "4:4:4"):
        raise ValueError("subsample must be '4:2:0' or '4:4:4'")
    if transform not in (None, 0, 2):
        raise ValueError("transform must be 0 (CMYK) or 2 (YCCK)")
    hy = vy = 2 if (n > 1 and subsample == "4:2:0") else 1
    app14 = (
        b""
        if transform is None
        else seg(0xFFEE, b"Adobe" + struct.pack(">HHHB", 100, 0, 0, transform))
    )
    sof = _jpeg_sof(
        0xFFC1 if extended else 0xFFC0, width, height, [hy << 4 | vy] + [0x11] * (n - 1)
    )
    # AC table: EOB, ZRL and (run=6, size=1..4) for the (4,4) coefficient
    ac_syms = bytes([0x00, 0xF0, 0x61, 0x62, 0x63, 0x64])
    ac_table = _jpeg_huff_table(ac_syms)
    if n == 1:
        dht = seg(0xFFC4, b"\x00" + _JPEG_DC_TABLE) + seg(0xFFC4, b"\x10" + ac_table)
    else:
        dht = _jpeg_dht(ac_table, chroma=True)
    dri = seg(0xFFDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    sos = _jpeg_sos(range(1, n + 1), 0, 63, 0)

    put, flush = _jpeg_bit_writer()
    ac_code = {s: i for i, s in enumerate(ac_syms)}
    dcs = [v - 128 for v in levels]
    blocks = [hy * vy] + [1] * (n - 1)  # per MCU, raster order within it
    n_mcus = ((width + 8 * hy - 1) // (8 * hy)) * ((height + 8 * vy - 1) // (8 * vy))
    entropy = b""
    pred = [0] * n
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            # close the segment, emit RSTn (n cycles 0-7), reset preds
            entropy += flush() + bytes([0xFF, 0xD0 + (m // restart_interval - 1) % 8])
            pred = [0] * n
        for c in range(n):
            for _ in range(blocks[c]):
                _jpeg_put_dc(put, dcs[c] - pred[c])
                pred[c] = dcs[c]
                if c == 0 and ac44:
                    _jpeg_put_ac44(put, ac_code, ac44)
                put(ac_code[0x00], 4)  # EOB
    entropy += flush()
    return (
        b"\xff\xd8" + app14 + _JPEG_DQT + sof + dht + dri + sos + entropy + b"\xff\xd9"
    )


def _progressive_jpeg_bytes(
    width: int,
    height: int,
    gray: int,
    ac44: int = 0,
    color: tuple[int, int] | None = None,
    subsample: str = "4:4:4",
    restart_interval: int = 0,
) -> bytes:
    """Encode a REAL decodable PROGRESSIVE JPEG (SOF2), stdlib-only —
    the multi-scan successive-approximation stream a real progressive
    encoder (libjpeg -progressive) emits, carrying the SAME
    closed-form pixel content as the sequential encoder _jpeg_bytes:
    DC = gray-128, quantized AC(4,4) = ac44, so decoded pixels are
    exactly gray + 2*ac44*s(x%8)*s(y%8). The scan script exercises
    every progressive decode path:

    1. DC first scan (Ss=0 Se=0 Ah=0 Al=1): Huffman-coded diffs of
       the arithmetically right-shifted DC — interleaved across all
       components when ``color`` is set.
    2. DC refinement scan (Ah=1 Al=0): one RAW bit per block (the
       dropped low bit), no Huffman.
    3. AC first scan(s) (Ss=1 Se=63 Ah=0 Al=1), one per component,
       non-interleaved per spec: ZRL runs + (run,size) + magnitude
       for ac44>>1, or an EOBRUN spanning ALL the component's blocks
       when ac44>>1 == 0 (flat chroma always takes the EOBRUN path).
    4. AC refinement scan(s) (Ah=1 Al=0): the hardest decoder path —
       newly-significant coefficients (ac44 == 1: ZRL-skip over
       zero-history positions + sign bit) vs correction bits for
       already-significant ones (ac44 >= 2: the low bit rides an
       EOBRUN, appended after the EOBn symbol in block order).

    ``color`` = (cb0, cr0) emits a 3-component stream with FLAT
    chroma (separate luma/chroma table ids, per-component DC
    predictors) whose decoded pixels are identical to the sequential
    3-component stream — one closed-form oracle pins both codec paths.
    ``subsample`` ('4:4:4' or '4:2:0') sets the Y sampling factors:
    4:2:0 interleaves four Y blocks per MCU in the DC scans while
    the non-interleaved AC scans cover each component's own ceil
    block grid — the dominant real-world progressive layout.

    ``restart_interval`` > 0 emits a DRI segment and splits EVERY
    scan's entropy data at RSTn markers each `restart_interval`
    restart units (MCUs in the interleaved DC scans, single blocks
    in the non-interleaved scans), byte-aligning and resetting DC
    predictors at each boundary and chunking EOBRUNs so no run
    straddles a restart — restarts never change pixels, so the same
    closed-form oracle pins both layouts.
    """
    if not 0 <= ac44 <= 9:
        raise ValueError("ac44 must be in 0..9 (keeps pixels clamp-free)")
    if subsample not in ("4:4:4", "4:2:0"):
        raise ValueError("subsample must be '4:4:4' or '4:2:0'")
    hy = vy = 2 if (color is not None and subsample == "4:2:0") else 1
    # (cid, dc, ac, hs, vs)
    comps = [(1, gray - 128, ac44, hy, vy)]
    if color is not None:
        cb0, cr0 = color
        comps += [(2, cb0 - 128, 0, 1, 1), (3, cr0 - 128, 0, 1, 1)]
    sof2 = _jpeg_sof(0xFFC2, width, height, [(hs << 4) | vs for *_, hs, vs in comps])
    # AC table: EOB0-EOB5 (EOBRUN up to 63 blocks), ZRL, and
    # (run=6, size=1..4) for the AC(4,4) coefficient.
    ac_syms = bytes(
        [0x00, 0x10, 0x20, 0x30, 0x40, 0x50, 0xF0, 0x61, 0x62, 0x63, 0x64]
    )
    ac_code = {s: i for i, s in enumerate(ac_syms)}

    put, flush = _jpeg_bit_writer()

    # component 1 carries the largest sampling factors (hy, vy)
    n_mcus = ((width + 8 * hy - 1) // (8 * hy)) * ((height + 8 * vy - 1) // (8 * vy))

    def comp_blocks(hs: int, vs: int) -> int:
        # non-interleaved scans cover the component's own ceil grid
        return ((width * hs + 8 * hy - 1) // (8 * hy)) * (
            (height * vs + 8 * vy - 1) // (8 * vy)
        )

    out = b"\xff\xd8" + _JPEG_DQT + sof2
    out += _jpeg_dht(_jpeg_huff_table(ac_syms), chroma=color is not None)
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))

    # per-scan RSTn emission: flush to the byte boundary, write the
    # cycling marker (raw bytes — markers are never stuffed), and let
    # the caller reset any predictor state. The modulo counter
    # restarts at 0 for each scan per T.81.
    rst_n = 0

    def rst_marker() -> bytes:
        nonlocal rst_n
        mk = flush() + bytes([0xFF, 0xD0 + (rst_n & 7)])
        rst_n += 1
        return mk

    # scan 1: DC first, Al=1, interleaved across all components (each
    # MCU carries hs*vs blocks per component — 4 Y blocks in 4:2:0).
    # Every block of a component has the same DC, so only the first
    # blocks carry nonzero diffs.
    out += _jpeg_sos([c[0] for c in comps], 0, 0, 0x01)
    rst_n = 0
    pred = {cid: 0 for cid, _, _, _, _ in comps}
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            out += rst_marker()
            pred = {cid: 0 for cid, _, _, _, _ in comps}
        for cid, dc, _, hs, vs in comps:
            for _ in range(hs * vs):
                v1 = dc >> 1  # arithmetic shift: the Al=1 approximation
                _jpeg_put_dc(put, v1 - pred[cid])
                pred[cid] = v1
    out += flush()

    # scan 2: DC refinement, Ah=1 Al=0 — one raw bit per block (the
    # restart split applies to every scan of the frame, stateless
    # scans included)
    out += _jpeg_sos([c[0] for c in comps], 0, 0, 0x10)
    rst_n = 0
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            out += rst_marker()
        for cid, dc, _, hs, vs in comps:
            for _ in range(hs * vs):
                put(dc & 1, 1)
    out += flush()

    def put_eobrun(run: int, pending: list[int]) -> None:
        """EOBn symbol(s) covering `run` blocks + appended correction
        bits (AC-refinement only: one pending bit per covered block).
        Runs beyond 63 split into chained EOBn chunks — the table
        carries EOB0-EOB5 — with each chunk's correction bits."""
        done = 0
        while run:
            c = min(run, 63)
            r = c.bit_length() - 1  # 2^r <= c < 2^(r+1)
            put(ac_code[r << 4], 4)
            if r:
                put(c - (1 << r), r)
            for b in pending[done : done + c]:
                put(b, 1)
            done += c
            run -= c
        pending.clear()

    def chunked_eobrun(n_blocks: int, pending: list[int]) -> bytes:
        """EOBRUNs may never straddle a restart boundary: emit one
        EOBRUN (+ its correction bits) per restart segment, with the
        RSTn marker between segments. Returns the marker bytes to
        append (entropy bits go through the shared put buffer)."""
        if not restart_interval:
            put_eobrun(n_blocks, pending)
            return b""
        mk, done = b"", 0
        while done < n_blocks:
            c = min(restart_interval, n_blocks - done)
            put_eobrun(c, pending[done : done + c])
            done += c
            if done < n_blocks:
                mk += rst_marker()
        pending.clear()
        return mk

    for cid, _, ac, hs, vs in comps:
        n_blocks = comp_blocks(hs, vs)
        # AC first scan (Al=1), non-interleaved
        out += _jpeg_sos([cid], 1, 63, 0x01)
        rst_n = 0
        a1 = ac >> 1
        if a1:
            for m in range(n_blocks):
                if restart_interval and m and m % restart_interval == 0:
                    out += rst_marker()
                _jpeg_put_ac44(put, ac_code, a1)
                put(ac_code[0x00], 4)  # EOB0: just this block
        else:
            out += chunked_eobrun(n_blocks, [])
        out += flush()

        # AC refinement scan (Ah=1 Al=0), non-interleaved
        out += _jpeg_sos([cid], 1, 63, 0x10)
        rst_n = 0
        if ac == 1:
            # newly significant at zigzag 39: runs in refinement
            # count ZERO-HISTORY positions (all of 1..38 here)
            for m in range(n_blocks):
                if restart_interval and m and m % restart_interval == 0:
                    out += rst_marker()
                # ZRL, ZRL, (run 6, size 1), then the positive sign bit
                _jpeg_put_ac44(put, ac_code, 1)
                put(ac_code[0x00], 4)  # EOB0, no pending bits
        elif ac >= 2:
            # already significant: the low bit is a correction bit
            # riding EOBRUNs (chunked so none straddles a restart)
            out += chunked_eobrun(n_blocks, [ac & 1] * n_blocks)
        else:
            out += chunked_eobrun(n_blocks, [])
        out += flush()

    return out + b"\xff\xd9"


def _parse_jpeg(data: bytes) -> dict:
    """REAL JPEG marker walk: verify SOI/EOI framing, parse SOF dims
    and component count from the actual codestream (not trusted
    metadata). Entropy-coded pixel reconstruction is left to a real
    codec (pyav) — what's verified here is everything structural."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos, dims, saw_sos = 2, None, False
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = data[pos + 1]
        (length,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        if pos + 2 + length > len(data):
            raise ValueError("JPEG segment truncated")
        if marker in (0xC0, 0xC1, 0xC2, 0xC3):  # SOF0-3
            h, w = struct.unpack(">HH", data[pos + 5 : pos + 9])
            dims = {
                "width": w,
                "height": h,
                "n_components": data[pos + 9],
                # SOF2 = progressive DCT: structurally parseable, but
                # pixel reconstruction needs the multi-scan
                # progressive path no stdlib decoder provides —
                # decode_media turns this flag into ok=false
                # error accounting instead of a silent stub
                "progressive": marker == 0xC2,
            }
        if marker == 0xDA:  # SOS: entropy follows; EOI must terminate
            saw_sos = True
            if data[-2:] != b"\xff\xd9":
                raise ValueError("JPEG missing EOI")
            break
        pos += 2 + length
    if dims is None:
        raise ValueError("JPEG missing SOF")
    if not saw_sos:
        # a codestream cut before its scan has headers but no pixels:
        # accepting it would pass on header trust, the exact failure
        # mode this parser exists to reject
        raise ValueError("JPEG truncated before SOS (no scan data)")
    return dims


def _parse_dqt_segment(body: bytes, qtab: dict[int, bytes]) -> None:
    """Parse one DQT segment (1+ 8-bit tables) into `qtab`."""
    p = 0
    while p < len(body):
        if body[p] >> 4:
            raise ValueError("16-bit quant tables unsupported")
        qtab[body[p] & 0x0F] = body[p + 1 : p + 65]
        p += 65


def _parse_dht_segment(
    body: bytes, huff: dict[tuple[int, int], dict[tuple[int, int], int]]
) -> None:
    """Parse one DHT segment (1+ canonical tables) into `huff` keyed
    (class, id) -> {(bitlen, code): symbol}."""
    p = 0
    while p < len(body):
        tclass, tid = body[p] >> 4, body[p] & 0x0F
        counts = body[p + 1 : p + 17]
        n_syms = sum(counts)
        syms = body[p + 17 : p + 17 + n_syms]
        table: dict[tuple[int, int], int] = {}
        code, si = 0, 0
        for bitlen in range(1, 17):
            for _ in range(counts[bitlen - 1]):
                table[(bitlen, code)] = syms[si]
                code += 1
                si += 1
            code <<= 1
        huff[(tclass, tid)] = table
        p += 17 + n_syms


def _jpeg_extend(v: int, size: int) -> int:
    """JPEG extend rule (T.81 F.2.2.1): a received `size`-bit value
    whose top bit is 0 maps to the negative branch."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _huff_fast(table: dict[tuple[int, int], int]):
    """Prefix-expanded decode structure for one canonical table: a
    256-entry LUT mapping every 8-bit window whose prefix is a code
    of length <= 8 to (code_len, symbol) — one list index replaces
    the per-bit dict probing of the naive walk — plus the original
    (bitlen, code) dict for the rare > 8-bit codes (the reader falls
    back to a per-length walk). Build cost is <= 256 entry fills, two
    orders of magnitude under one image's entropy decode."""
    lut: list[tuple[int, int] | None] = [None] * 256
    for (length, code), sym in table.items():
        if length <= 8:
            base = code << (8 - length)
            entry = (length, sym)
            for x in range(base, base + (1 << (8 - length))):
                lut[x] = entry
    return lut, table


def _huff_fast_cached(cache: dict, table: dict) -> tuple:
    """Per-decode memo around _huff_fast: one progressive stream
    references the same canonical table from several scans (and a
    color baseline frame from several components), and a profile
    showed the 256-entry LUT rebuild was a fixed per-image
    cost on the small-image corpus classes. Keyed on the table
    OBJECT (identity-checked, with the table kept referenced so a
    gc'd dict can never alias a reused id) — a redefined table
    between scans is a new dict and misses, exactly the DHT
    redefinition semantics. The cache lives per decode call, never
    across images."""
    e = cache.get(id(table))
    if e is None or e[0] is not table:
        e = (table, _huff_fast(table))
        cache[id(table)] = e
    return e[1]


_BIT_MASKS = tuple((1 << i) - 1 for i in range(32))


def _bit_reader(initial: bytes):
    """Rolling-buffer MSB-first bit reader over a destuffed entropy
    segment — the shared fast path under both JPEG entropy decoders
    (per-bit closure calls measured ~60% of a corpus decode pass; a
    refill-by-byte accumulator reads a multi-bit value in O(1)
    small-int ops with IDENTICAL truncation semantics — a read past
    the segment end raises the same ValueError at the same consumed
    position, and `tell` reports exact consumed/total bit counts for
    the under-consumption layout checks).

    Returns (read_bits, read_symbol, tell, reset):
    - read_bits(n): next n bits MSB-first (n <= 16).
    - read_symbol(fast): one canonical-Huffman symbol via the
      _huff_fast LUT; mirrors the naive bit-walk exactly, including
      the 17th-bit read before "invalid Huffman code".
    - tell(): (consumed_bits, total_bits).
    - reset(segment): re-align on the next restart segment.
    """
    data = initial
    nbytes = len(initial)
    bytepos = 0
    acc = 0  # bottom `navail` bits = buffered unconsumed stream bits
    navail = 0

    def reset(segment: bytes) -> None:
        nonlocal data, nbytes, bytepos, acc, navail
        data, nbytes, bytepos, acc, navail = segment, len(segment), 0, 0, 0

    def tell() -> tuple[int, int]:
        return bytepos * 8 - navail, nbytes * 8

    def read_bits(n: int) -> int:
        nonlocal bytepos, acc, navail
        while navail < n:
            if bytepos >= nbytes:
                raise ValueError("JPEG entropy stream truncated")
            acc = ((acc & _BIT_MASKS[navail]) << 8) | data[bytepos]
            bytepos += 1
            navail += 8
        navail -= n
        return (acc >> navail) & _BIT_MASKS[n]

    def read_symbol(fast) -> int:
        nonlocal bytepos, acc, navail
        lut, table = fast
        while navail < 8 and bytepos < nbytes:
            acc = ((acc & _BIT_MASKS[navail]) << 8) | data[bytepos]
            bytepos += 1
            navail += 8
        if navail >= 8:
            peek = (acc >> (navail - 8)) & 0xFF
        else:
            # stream tail: zero-padded window. A match longer than
            # the real remainder raises truncated below — exactly
            # where the per-bit walk ran out; a shorter match used
            # only real bits (prefix-freeness).
            peek = (acc & _BIT_MASKS[navail]) << (8 - navail)
        hit = lut[peek]
        if hit is not None:
            length, sym = hit
            if length > navail:
                raise ValueError("JPEG entropy stream truncated")
            navail -= length
            return sym
        if navail < 8:
            # LUT miss on a zero-padded tail window: the walk below
            # would only ever reach read_bits(1)'s truncated raise
            # after driving navail negative — raise it directly (same
            # exception, same consumed position, no negative bit
            # count in between)
            raise ValueError("JPEG entropy stream truncated")
        # > 8-bit code or invalid prefix: consume the window and walk
        # lengths 9..16 bit by bit (rare path)
        navail -= 8
        code = peek
        for length in range(9, 17):
            code = (code << 1) | read_bits(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        # the naive walk reads a 17th bit before giving up — keep the
        # truncated-vs-invalid distinction identical
        read_bits(1)
        raise ValueError("invalid Huffman code")

    return read_bits, read_symbol, tell, reset


def _idct_matrix() -> np.ndarray:
    """Exact 8x8 DCT-III basis: A[u, x] = C(u)/2 * cos((2x+1) u pi /
    16); block = A.T @ F @ A (float64 error ~1e-13, far below the 0.5
    rounding margin for integer-exact coefficient classes)."""
    uu = np.arange(8).reshape(-1, 1)
    xx = np.arange(8).reshape(1, -1)
    A = np.cos((2 * xx + 1) * uu * np.pi / 16) / 2.0
    A[0, :] /= np.sqrt(2.0)
    return A


# the 8x8 basis is a constant — built once at import (a per-image
# rebuild was a measured fixed cost on the small-image corpus
# classes; trig on 64 cells is pure overhead per decode)
_IDCT_A = _idct_matrix()
_IDCT_AT = _IDCT_A.T.copy()


def _ycc_to_rgb(
    yy: np.ndarray, cb: np.ndarray, cr: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fixed-point JFIF YCbCr->RGB at 10^-6 precision (libjpeg-style
    integer arithmetic, floor-div after +half = round-half-up):
    integer-exact, so an independent oracle recomputes every value
    closed-form with zero float-rounding ambiguity."""
    m = 1_000_000
    r = np.clip((m * yy + 1_402_000 * (cr - 128) + m // 2) // m, 0, 255)
    g = np.clip(
        (m * yy - 344_136 * (cb - 128) - 714_136 * (cr - 128) + m // 2) // m,
        0,
        255,
    )
    b = np.clip((m * yy + 1_772_000 * (cb - 128) + m // 2) // m, 0, 255)
    return r, g, b


def _planes_to_pixels(
    planes: dict[int, np.ndarray],
    comps: list[tuple[int, int, int, int]],
    hmax: int,
    vmax: int,
    w: int,
    h: int,
    adobe_transform: int | None = None,
) -> np.ndarray:
    """Crop/upsample decoded component planes to final pixels: the
    (h, w) grid for 1 component; chroma upsampling by sample
    replication + the fixed-point YCbCr->RGB transform for 3; the
    Adobe 4-component path for CMYK/YCCK — transform 2 runs
    the YCbCr transform on the first three channels, transform 0
    takes them directly, and both composite against the K channel
    with Adobe's INVERTED-ink convention, channel * K rounded at
    1/255 — ((v * k + 127) // 255), again integer-exact. Shared by
    the baseline and progressive decoders."""
    if len(comps) == 1:
        return planes[comps[0][0]][:h, :w]
    up = {}
    for cid, hs, vs, _ in comps:
        if vs == vmax and hs == hmax:
            # full-resolution component: replication is the identity
            up[cid] = planes[cid][:h, :w].astype(np.int64)
        else:
            up[cid] = np.repeat(
                np.repeat(planes[cid], vmax // vs, axis=0), hmax // hs, axis=1
            )[:h, :w].astype(np.int64)
    if len(comps) == 4:
        p1, p2, p3, k = (up[c[0]] for c in comps)
        if adobe_transform == 2:  # YCCK
            r, g, b = _ycc_to_rgb(p1, p2, p3)
        elif adobe_transform == 0:  # direct (inverted) CMYK
            r, g, b = p1, p2, p3
        else:
            raise ValueError(
                "4-component JPEG without an Adobe APP14 transform"
            )
        r = (r * k + 127) // 255
        g = (g * k + 127) // 255
        b = (b * k + 127) // 255
        return np.stack([r, g, b], axis=-1).astype(np.uint8)
    yy, cb, cr = (up[c[0]] for c in comps)
    r, g, b = _ycc_to_rgb(yy, cb, cr)
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def _jpeg_decode_baseline(data: bytes) -> np.ndarray:
    """REAL baseline-JPEG decode: marker walk, DQT/SOF/DHT/SOS parse
    (multi-table segments, per-component quant/Huffman table ids),
    FULL canonical-Huffman entropy decode (DC categories + AC
    run/size symbols including ZRL and EOB, JPEG extend rule, byte
    destuffing), dezigzag, dequantize, exact 2-D IDCT per block,
    level shift, clamp, MCU assembly, crop.

    Grayscale (1 component) returns the (h, w) pixel grid.
    THREE-component YCbCr (the color class) decodes the interleaved
    scan with per-component sampling factors (4:4:4 and subsampled
    4:2:0/4:2:2 alike), per-component DC
    predictors and SOS-mapped table ids, upsamples chroma by sample
    replication, and converts to RGB (h, w, 3) with the fixed-point
    JFIF transform at 10^-6 precision (libjpeg-style integer
    arithmetic — R = (10^6*Y + 1402000*(Cr-128) + 5*10^5) // 10^6
    etc., floor-div after +half): every step is integer-exact, so an
    independent oracle recomputes decoded pixels closed-form with no
    float rounding ambiguity.

    Restart markers decode for real (DRI interval + RST0-7: segment
    split on the unstuffed marker bytes, byte re-alignment and DC
    predictor reset per segment — the camera/libjpeg error-resilience
    layout), SOF1 (extended sequential) frames decode on the same
    path at 8-bit precision, and Adobe 4-component CMYK/YCCK
    frames decode through the APP14 transform flag + inverted-ink K
    composite (_planes_to_pixels). Still out of scope (raise,
    and decode_media error-accounts): progressive SOF2 (routed to
    the progressive decoder upstream), 12-bit SOF1, lossless SOF3,
    4-component streams with no APP14 transform, component counts
    other than 1/3/4."""
    import re as _re

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qtab: dict[int, bytes] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    w = h = None
    comps: list[tuple[int, int, int, int]] = []  # (cid, hs, vs, tq)
    scan_tables: dict[int, tuple[int, int]] = {}  # cid -> (td, ta)
    entropy = None
    dri = 0  # restart interval in MCUs (0 = no restarts)
    adobe_transform: int | None = None  # APP14 flag (4-comp decode)
    segments: list[bytes] = []
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = data[pos + 1]
        (length,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + length]
        if marker == 0xDB:  # DQT: 1+ tables per segment, 8-bit only
            _parse_dqt_segment(body, qtab)
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 extended seq.
            # SOF1 at 8-bit precision decodes on the identical
            # Huffman path (it only widens the ALLOWED precision and
            # table ids); 12-bit stays the honest accounted boundary
            if marker == 0xC1 and body[0] != 8:
                raise ValueError(
                    f"{body[0]}-bit extended sequential JPEG unsupported"
                )
            h, w = struct.unpack(">HH", body[1:5])
            n_comp = body[5]
            if n_comp not in (1, 3, 4):
                raise ValueError(
                    f"JPEG component count {n_comp} unsupported"
                )
            for c in range(n_comp):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
        elif marker in (0xC2, 0xC3):
            raise ValueError("non-baseline JPEG unsupported")
        elif marker == 0xEE and body[:5] == b"Adobe":
            # APP14: the color-transform flag a 4-component decode
            # needs (0 = direct CMYK, 2 = YCCK), Adobe convention
            adobe_transform = body[11] if len(body) >= 12 else None
        elif marker == 0xC4:  # DHT: 1+ canonical tables per segment
            _parse_dht_segment(body, huff)
        elif marker == 0xDD:  # DRI: restart interval
            (dri,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS: entropy follows until EOI
            ns = body[0]
            for c in range(ns):
                cid, tdta = body[1 + 2 * c : 3 + 2 * c]
                scan_tables[cid] = (tdta >> 4, tdta & 0x0F)
            if data[-2:] != b"\xff\xd9":
                raise ValueError("JPEG missing EOI")
            # RSTn bytes sit UNSTUFFED in the raw scan (stuffed data
            # FF is always FF 00), so split on them first, destuff
            # each restart segment after
            raw = data[pos + 2 + length : -2]
            segments = [
                s.replace(b"\xff\x00", b"\xff")
                for s in _re.split(b"\xff[\xd0-\xd7]", raw)
            ]
            if len(segments) > 1 and not dri:
                raise ValueError("RST marker without a DRI interval")
            entropy = segments[0]
            break
        pos += 2 + length
    if w is None or entropy is None or not comps:
        raise ValueError("JPEG missing SOF/SOS/DHT")
    if set(scan_tables) != {c[0] for c in comps}:
        raise ValueError("non-interleaved multi-scan baseline unsupported")
    for cid, _, _, tq in comps:
        td, ta = scan_tables[cid]
        if (0, td) not in huff or (1, ta) not in huff or tq not in qtab:
            raise ValueError("JPEG missing SOF/SOS/DHT")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    # entropy pass accumulates RAW extended coefficients in zigzag
    # space as plain Python lists (one [0]*64 per block) — no numpy
    # scalar traffic inside the bit loop; dezigzag + dequantize +
    # IDCT run ONCE per component as the same batched matmul the
    # progressive decoder uses (the per-block A.T @ coef @ A +
    # clip/round numpy calls were ~40% of a baseline decode; both
    # formulations are pinned to the same closed-form pixel oracles
    # and verified byte-identical over every fixture class).
    grids: dict[int, list[list[list[int] | None]]] = {
        cid: [[None] * (mcus_x * hs) for _ in range(mcus_y * vs)]
        for cid, hs, vs, _ in comps
    }
    pred = {cid: 0 for cid, _, _, _ in comps}
    fast = {}
    fcache: dict = {}
    for cid, _, _, _ in comps:
        td, ta = scan_tables[cid]
        fast[cid] = (
            _huff_fast_cached(fcache, huff[(0, td)]),
            _huff_fast_cached(fcache, huff[(1, ta)]),
        )

    # Entropy pass with the bit machinery INLINED as loop locals (a
    # profile showed the per-coefficient closure calls into
    # _bit_reader were the remaining majority of a decode pass; locals-based refill +
    # LUT probe + magnitude extraction in ONE straight-line block
    # removes two Python calls per coefficient with byte-identical
    # semantics — same truncated/invalid errors at the same consumed
    # bit positions, pinned by the fixture pixel suites and the
    # truncation property tests). `acc` holds the bottom `nav`
    # unconsumed stream bits; consumed == bp * 8 - nav throughout,
    # exactly _bit_reader's invariant.
    mask = _BIT_MASKS
    dat = entropy
    nb = len(dat)
    bp = acc = nav = 0
    for m in range(mcus_x * mcus_y):
        if dri and m and m % dri == 0:
            # restart: next segment, byte re-alignment (segments are
            # independent byte-aligned streams), DC predictors reset
            seg_idx = m // dri
            if seg_idx >= len(segments):
                raise ValueError("JPEG missing expected RST marker")
            dat = segments[seg_idx]
            nb = len(dat)
            bp = acc = nav = 0
            for cid in pred:
                pred[cid] = 0
        my, mx = divmod(m, mcus_x)
        for cid, hs, vs, tq in comps:
            dc_fast, ac_fast = fast[cid]
            grid = grids[cid]
            for by in range(vs):
                row = grid[my * vs + by]
                for bx in range(hs):
                    blk = [0] * 64  # zigzag order, pre-dequantize
                    # --- DC symbol (inlined read_symbol) ---
                    lut, table = dc_fast
                    while nav < 16 and bp < nb:
                        acc = ((acc & mask[nav]) << 8) | dat[bp]
                        bp += 1
                        nav += 8
                    if nav >= 8:
                        peek = (acc >> (nav - 8)) & 0xFF
                    else:
                        # stream tail: zero-padded window (see
                        # _bit_reader.read_symbol)
                        peek = (acc & mask[nav]) << (8 - nav)
                    hit = lut[peek]
                    if hit is not None:
                        cat = hit[1]
                        if hit[0] > nav:
                            raise ValueError("JPEG entropy stream truncated")
                        nav -= hit[0]
                    else:
                        if nav < 8:
                            raise ValueError("JPEG entropy stream truncated")
                        nav -= 8
                        code = peek
                        cat = -1
                        for ln in range(9, 17):
                            if nav < 1:
                                if bp >= nb:
                                    raise ValueError(
                                        "JPEG entropy stream truncated"
                                    )
                                acc = ((acc & mask[nav]) << 8) | dat[bp]
                                bp += 1
                                nav += 8
                            nav -= 1
                            code = (code << 1) | ((acc >> nav) & 1)
                            got = table.get((ln, code))
                            if got is not None:
                                cat = got
                                break
                        if cat < 0:
                            # the naive walk reads a 17th bit before
                            # giving up (truncated-vs-invalid kept)
                            if nav < 1:
                                if bp >= nb:
                                    raise ValueError(
                                        "JPEG entropy stream truncated"
                                    )
                                acc = ((acc & mask[nav]) << 8) | dat[bp]
                                bp += 1
                                nav += 8
                            nav -= 1
                            raise ValueError("invalid Huffman code")
                    if cat:
                        while nav < cat:
                            if bp >= nb:
                                raise ValueError(
                                    "JPEG entropy stream truncated"
                                )
                            acc = ((acc & mask[nav]) << 8) | dat[bp]
                            bp += 1
                            nav += 8
                        nav -= cat
                        v = (acc >> nav) & mask[cat]
                        pred[cid] += (
                            v if v >= 1 << (cat - 1) else v - (1 << cat) + 1
                        )
                    blk[0] = pred[cid]
                    zpos = 1  # zigzag scan position
                    lut, table = ac_fast
                    while zpos < 64:
                        # --- AC symbol (inlined read_symbol) ---
                        while nav < 16 and bp < nb:
                            acc = ((acc & mask[nav]) << 8) | dat[bp]
                            bp += 1
                            nav += 8
                        if nav >= 8:
                            peek = (acc >> (nav - 8)) & 0xFF
                        else:
                            peek = (acc & mask[nav]) << (8 - nav)
                        hit = lut[peek]
                        if hit is not None:
                            sym = hit[1]
                            if hit[0] > nav:
                                raise ValueError(
                                    "JPEG entropy stream truncated"
                                )
                            nav -= hit[0]
                        else:
                            if nav < 8:
                                raise ValueError(
                                    "JPEG entropy stream truncated"
                                )
                            nav -= 8
                            code = peek
                            sym = -1
                            for ln in range(9, 17):
                                if nav < 1:
                                    if bp >= nb:
                                        raise ValueError(
                                            "JPEG entropy stream truncated"
                                        )
                                    acc = ((acc & mask[nav]) << 8) | dat[bp]
                                    bp += 1
                                    nav += 8
                                nav -= 1
                                code = (code << 1) | ((acc >> nav) & 1)
                                got = table.get((ln, code))
                                if got is not None:
                                    sym = got
                                    break
                            if sym < 0:
                                if nav < 1:
                                    if bp >= nb:
                                        raise ValueError(
                                            "JPEG entropy stream truncated"
                                        )
                                    acc = ((acc & mask[nav]) << 8) | dat[bp]
                                    bp += 1
                                    nav += 8
                                nav -= 1
                                raise ValueError("invalid Huffman code")
                        if sym == 0x00:  # EOB: rest of the block is zero
                            break
                        if sym == 0xF0:  # ZRL: sixteen zero coefficients
                            zpos += 16
                            continue
                        size = sym & 0x0F
                        if size == 0:
                            raise ValueError(
                                "invalid AC symbol (size 0, not ZRL/EOB)"
                            )
                        zpos += sym >> 4
                        if zpos >= 64:
                            raise ValueError("AC run overflows the block")
                        while nav < size:
                            if bp >= nb:
                                raise ValueError(
                                    "JPEG entropy stream truncated"
                                )
                            acc = ((acc & mask[nav]) << 8) | dat[bp]
                            bp += 1
                            nav += 8
                        nav -= size
                        v = (acc >> nav) & mask[size]
                        blk[zpos] = (
                            v if v >= 1 << (size - 1) else v - (1 << size) + 1
                        )
                        zpos += 1
                    row[mx * hs + bx] = blk

    # dezigzag + dequantize + batched exact IDCT per component (the
    # progressive decoder's vectorized tail, shared shape)
    A = _IDCT_A
    planes = {}
    for cid, hs, vs, tq in comps:
        q = np.frombuffer(qtab[tq], dtype=np.uint8).astype(np.int32)
        cz = np.array(grids[cid], dtype=np.int32)  # (by, bx, 64) zigzag
        nat = np.zeros_like(cz)
        nat[:, :, _JPEG_ZIGZAG] = cz * q
        blocks = nat.reshape(*nat.shape[:2], 8, 8).astype(np.float64)
        px = np.matmul(np.matmul(A.T, blocks), A)
        px = np.clip(np.round(px) + 128, 0, 255).astype(np.uint8)
        planes[cid] = (
            px.transpose(0, 2, 1, 3).reshape(px.shape[0] * 8, px.shape[1] * 8)
        )

    return _planes_to_pixels(
        planes, comps, hmax, vmax, w, h, adobe_transform=adobe_transform
    )


def _jpeg_decode_progressive(data: bytes) -> np.ndarray:
    """REAL progressive-JPEG (SOF2) decode — the multi-scan path
    (~10% of a real web corpus is progressive JPEG): marker walk
    collecting DQT/DHT tables AS THEY APPEAR (tables may be redefined
    between scans), SOF2 dims, then per-scan coefficient
    accumulation with full spectral selection + successive
    approximation semantics (T.81 §G.2, the jdphuff structure):

    - DC first scans (Ss=Se=0, Ah=0): Huffman diff decode, predictor
      per component per scan, coefficient = value << Al. Interleaved
      (MCU order) or single-component.
    - DC refinement (Ah>0): one raw bit per block, OR-ed in at Al.
    - AC first scans (Ss>=1, Ah=0, single-component per spec):
      (run,size) symbols with JPEG extend, value << Al, ZRL, and
      EOBRUN = (1<<r) + bits(r) end-of-band runs spanning blocks.
    - AC refinement (Ah>0): newly-significant coefficients arrive as
      ±1<<Al with a sign bit; every already-nonzero coefficient
      traversed — including the whole band of every EOBRUN-covered
      block — consumes a correction bit that may add ±1<<Al.

    After all scans: dezigzag, dequantize, exact IDCT, level shift,
    clamp, crop — the gray (h, w) grid or the shared
    chroma-upsample + fixed-point YCbCr->RGB path (_planes_to_pixels),
    so the same closed-form oracles pin baseline and progressive
    decodes of the same coefficients to identical pixels.

    Restart markers: a nonzero DRI splits every scan's entropy data into
    independent byte-aligned segments, one per Ri restart units (MCUs
    in interleaved DC scans; single blocks in non-interleaved scans
    per T.81 §G — exactly the baseline decoder's segment semantics).
    Each boundary re-aligns the bit reader, resets DC predictors, and
    may never be straddled by an EOBRUN (a spanning EOBRUN is layout
    desync and raises).

    Out of scope (raise, and decode_media error-accounts as
    'jpeg-undecodable'): component counts other than 1/3, 16-bit
    quant tables."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    qtab: dict[int, bytes] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    w = h = None
    dri = 0
    comps: list[tuple[int, int, int, int]] = []  # (cid, hs, vs, tq)
    # (scan_comps, ss, se, ah, al, segments, dri-at-scan)
    scans: list[
        tuple[list[tuple[int, int, int]], int, int, int, int, list[bytes], int]
    ] = []
    pos = 2
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > len(data):
            raise ValueError("JPEG segment truncated")
        (length,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        if pos + 2 + length > len(data):
            raise ValueError("JPEG segment truncated")
        body = data[pos + 4 : pos + 2 + length]
        if marker == 0xDB:
            _parse_dqt_segment(body, qtab)
        elif marker == 0xC2:  # SOF2 progressive
            h, w = struct.unpack(">HH", body[1:5])
            n_comp = body[5]
            if n_comp not in (1, 3):
                raise ValueError(
                    f"JPEG component count {n_comp} unsupported (gray/YCbCr only)"
                )
            for c in range(n_comp):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
        elif marker in (0xC0, 0xC1, 0xC3):
            raise ValueError("expected SOF2 progressive stream")
        elif marker == 0xC4:
            _parse_dht_segment(body, huff)
        elif marker == 0xDD:
            (dri,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS + entropy until the next marker
            ns = body[0]
            scan_comps = []
            for c in range(ns):
                cid, tdta = body[1 + 2 * c : 3 + 2 * c]
                scan_comps.append((cid, tdta >> 4, tdta & 0x0F))
            ss, se, ahl = body[1 + 2 * ns : 4 + 2 * ns]
            e = pos + 2 + length
            # entropy splits into independent byte-aligned segments at
            # RSTn markers (same capture the baseline decoder uses)
            seg_start, segments, end = e, [], e
            while True:
                nf = data.find(b"\xff", end)
                if nf < 0 or nf + 1 >= len(data):
                    raise ValueError("JPEG scan truncated (no terminator)")
                nxt = data[nf + 1]
                if nxt == 0x00:
                    end = nf + 2
                    continue
                if 0xD0 <= nxt <= 0xD7:
                    segments.append(
                        data[seg_start:nf].replace(b"\xff\x00", b"\xff")
                    )
                    seg_start = end = nf + 2
                    continue
                break
            segments.append(data[seg_start:nf].replace(b"\xff\x00", b"\xff"))
            if len(segments) > 1 and not dri:
                raise ValueError("JPEG RST marker without DRI")
            scans.append(
                (scan_comps, ss, se, ahl >> 4, ahl & 0x0F, segments, dri)
            )
            pos = nf
            continue
        pos += 2 + length
    if w is None or not comps or not scans:
        raise ValueError("JPEG missing SOF/SOS")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    by_comp = {cid: (hs, vs, tq) for cid, hs, vs, tq in comps}
    # coefficients in ZIGZAG index space, padded to the interleaved
    # MCU grid (non-interleaved scans cover the <= ceil-dims block
    # grid; padding blocks stay zero and are cropped after IDCT).
    # Grids are plain Python lists (one [0]*64 per block): scans
    # accumulate with small-int ops only — numpy scalar indexing in
    # the refinement walks was a measured hot spot — and the batched
    # IDCT converts once at the end.
    coefs = {
        cid: [
            [[0] * 64 for _ in range(mcus_x * hs)]
            for _ in range(mcus_y * vs)
        ]
        for cid, hs, vs, _ in comps
    }

    fcache: dict = {}
    for scan_comps, ss, se, ah, al, segments, scan_dri in scans:
        seg_idx = 0
        if ss == 0:  # DC scan (Se must be 0 per spec)
            read_bits, read_symbol, tell, reset = _bit_reader(segments[0])

            def advance_segment() -> None:
                """Cross a restart boundary: the current segment must
                be fully consumed (byte padding only), then the bit
                reader re-aligns on the next independent segment."""
                nonlocal seg_idx
                consumed, total = tell()
                if consumed + 8 <= total:
                    raise ValueError(
                        "JPEG scan under-consumed (layout desync)"
                    )
                seg_idx += 1
                if seg_idx >= len(segments):
                    raise ValueError("JPEG missing expected RST marker")
                reset(segments[seg_idx])

            if se != 0:
                raise ValueError("DC scan with Se != 0")
            pred = {cid: 0 for cid, _, _ in scan_comps}
            interleaved = len(scan_comps) > 1
            # fast DC tables, built only for first scans — refinement
            # scans read raw bits and may legally reference absent ids
            dc_tabs = (
                {
                    td: _huff_fast_cached(fcache, huff[(0, td)])
                    for _, td, _ in scan_comps
                }
                if ah == 0
                else {}
            )

            # per-block DC decode, branch hoisted out of the block
            # loops (an ah test per dc_block call, ~80 calls per small
            # corpus image, was a measured fixed cost)
            if ah == 0:

                def dc_block(cid: int, td: int, cz: list) -> None:
                    # first scan: diff decode, shifted
                    cat = read_symbol(dc_tabs[td])
                    if cat:
                        pred[cid] += _jpeg_extend(read_bits(cat), cat)
                    cz[0] = pred[cid] << al

            else:

                def dc_block(cid: int, td: int, cz: list) -> None:
                    # refinement: one raw bit
                    if read_bits(1):
                        cz[0] |= 1 << al

            if interleaved:
                for m in range(mcus_x * mcus_y):
                    if scan_dri and m and m % scan_dri == 0:
                        advance_segment()
                        for cid in pred:
                            pred[cid] = 0
                    my, mx = divmod(m, mcus_x)
                    for cid, td, _ in scan_comps:
                        hs, vs, _ = by_comp[cid]
                        for by in range(vs):
                            row = coefs[cid][my * vs + by]
                            for bx in range(hs):
                                dc_block(cid, td, row[mx * hs + bx])
            else:
                cid, td, _ = scan_comps[0]
                hs, vs, _ = by_comp[cid]
                cbx = ((w * hs + 8 * hmax - 1) // (8 * hmax))
                cby = ((h * vs + 8 * vmax - 1) // (8 * vmax))
                # the restart unit in a non-interleaved scan is ONE
                # block (T.81 §G: the scan's MCU is a single data unit)
                for b in range(cbx * cby):
                    if scan_dri and b and b % scan_dri == 0:
                        advance_segment()
                        pred[cid] = 0
                    dc_block(cid, td, coefs[cid][b // cbx][b % cbx])
            if seg_idx != len(segments) - 1:
                raise ValueError("JPEG scan has unconsumed restart segments")
            consumed, total = tell()
            if consumed + 8 <= total:
                # spec allows padding to the byte boundary only; more
                # than 7 unread bits means scan-layout desync
                raise ValueError("JPEG scan under-consumed (layout desync)")
        else:  # AC scan: single component per spec
            # The AC spectral/refinement loops touch 63/64 of every
            # band's coefficients plus a correction bit per nonzero
            # history position — the decode hot path. Bit machinery
            # INLINED as loop locals exactly as in the baseline MCU
            # loop (removes two Python closure calls per coefficient;
            # consumed == bp * 8 - nav is _bit_reader's invariant, so
            # the restart/under-consumption checks read it directly).
            # DC scans above keep the shared _bit_reader — they
            # decode one symbol per BLOCK, never a measured cost.
            if len(scan_comps) != 1:
                raise ValueError("interleaved AC progressive scan")
            cid, _, ta = scan_comps[0]
            lut, table = _huff_fast_cached(fcache, huff[(1, ta)])
            hs, vs, _ = by_comp[cid]
            cbx = (w * hs + 8 * hmax - 1) // (8 * hmax)
            cby = (h * vs + 8 * vmax - 1) // (8 * vmax)
            eobrun = 0
            p1, m1 = 1 << al, -1 << al
            mask = _BIT_MASKS
            rows = coefs[cid]
            dat = segments[0]
            nb = len(dat)
            bp = acc = nav = 0
            for b in range(cbx * cby):
                if scan_dri and b and b % scan_dri == 0:
                    # an EOBRUN may never straddle a restart boundary
                    if eobrun:
                        raise ValueError(
                            "JPEG EOBRUN spans a restart boundary"
                        )
                    # cross the restart boundary: current segment
                    # must be fully consumed (byte padding only)
                    if bp * 8 - nav + 8 <= nb * 8:
                        raise ValueError(
                            "JPEG scan under-consumed (layout desync)"
                        )
                    seg_idx += 1
                    if seg_idx >= len(segments):
                        raise ValueError("JPEG missing expected RST marker")
                    dat = segments[seg_idx]
                    nb = len(dat)
                    bp = acc = nav = 0
                cz = rows[b // cbx][b % cbx]
                if ah == 0:  # AC first scan
                    if eobrun > 0:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        # --- symbol (inlined read_symbol) ---
                        while nav < 16 and bp < nb:
                            acc = ((acc & mask[nav]) << 8) | dat[bp]
                            bp += 1
                            nav += 8
                        if nav >= 8:
                            peek = (acc >> (nav - 8)) & 0xFF
                        else:
                            peek = (acc & mask[nav]) << (8 - nav)
                        hit = lut[peek]
                        if hit is not None:
                            sym = hit[1]
                            if hit[0] > nav:
                                raise ValueError(
                                    "JPEG entropy stream truncated"
                                )
                            nav -= hit[0]
                        else:
                            if nav < 8:
                                raise ValueError(
                                    "JPEG entropy stream truncated"
                                )
                            nav -= 8
                            code = peek
                            sym = -1
                            for ln in range(9, 17):
                                if nav < 1:
                                    if bp >= nb:
                                        raise ValueError(
                                            "JPEG entropy stream truncated"
                                        )
                                    acc = ((acc & mask[nav]) << 8) | dat[bp]
                                    bp += 1
                                    nav += 8
                                nav -= 1
                                code = (code << 1) | ((acc >> nav) & 1)
                                got = table.get((ln, code))
                                if got is not None:
                                    sym = got
                                    break
                            if sym < 0:
                                if nav < 1:
                                    if bp >= nb:
                                        raise ValueError(
                                            "JPEG entropy stream truncated"
                                        )
                                    acc = ((acc & mask[nav]) << 8) | dat[bp]
                                    bp += 1
                                    nav += 8
                                nav -= 1
                                raise ValueError("invalid Huffman code")
                        r, s = sym >> 4, sym & 0x0F
                        if s:
                            k += r
                            if k > se:
                                raise ValueError("AC run overflows the band")
                            while nav < s:
                                if bp >= nb:
                                    raise ValueError(
                                        "JPEG entropy stream truncated"
                                    )
                                acc = ((acc & mask[nav]) << 8) | dat[bp]
                                bp += 1
                                nav += 8
                            nav -= s
                            v = (acc >> nav) & mask[s]
                            cz[k] = (
                                v if v >= 1 << (s - 1) else v - (1 << s) + 1
                            ) << al
                            k += 1
                        elif r < 15:  # EOBn
                            eobrun = 1 << r
                            if r:
                                while nav < r:
                                    if bp >= nb:
                                        raise ValueError(
                                            "JPEG entropy stream truncated"
                                        )
                                    acc = ((acc & mask[nav]) << 8) | dat[bp]
                                    bp += 1
                                    nav += 8
                                nav -= r
                                eobrun += (acc >> nav) & mask[r]
                            eobrun -= 1  # this block is a member
                            break
                        else:  # ZRL
                            k += 16
                else:  # AC refinement scan
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            # --- symbol (inlined read_symbol) ---
                            while nav < 16 and bp < nb:
                                acc = ((acc & mask[nav]) << 8) | dat[bp]
                                bp += 1
                                nav += 8
                            if nav >= 8:
                                peek = (acc >> (nav - 8)) & 0xFF
                            else:
                                peek = (acc & mask[nav]) << (8 - nav)
                            hit = lut[peek]
                            if hit is not None:
                                sym = hit[1]
                                if hit[0] > nav:
                                    raise ValueError(
                                        "JPEG entropy stream truncated"
                                    )
                                nav -= hit[0]
                            else:
                                if nav < 8:
                                    raise ValueError(
                                        "JPEG entropy stream truncated"
                                    )
                                nav -= 8
                                code = peek
                                sym = -1
                                for ln in range(9, 17):
                                    if nav < 1:
                                        if bp >= nb:
                                            raise ValueError(
                                                "JPEG entropy stream"
                                                " truncated"
                                            )
                                        acc = (
                                            (acc & mask[nav]) << 8
                                        ) | dat[bp]
                                        bp += 1
                                        nav += 8
                                    nav -= 1
                                    code = (code << 1) | ((acc >> nav) & 1)
                                    got = table.get((ln, code))
                                    if got is not None:
                                        sym = got
                                        break
                                if sym < 0:
                                    if nav < 1:
                                        if bp >= nb:
                                            raise ValueError(
                                                "JPEG entropy stream"
                                                " truncated"
                                            )
                                        acc = (
                                            (acc & mask[nav]) << 8
                                        ) | dat[bp]
                                        bp += 1
                                        nav += 8
                                    nav -= 1
                                    raise ValueError("invalid Huffman code")
                            r, s = sym >> 4, sym & 0x0F
                            newval = 0
                            if s:
                                if s != 1:
                                    raise ValueError(
                                        "refinement size must be 1"
                                    )
                                if nav < 1:
                                    if bp >= nb:
                                        raise ValueError(
                                            "JPEG entropy stream truncated"
                                        )
                                    acc = ((acc & mask[nav]) << 8) | dat[bp]
                                    bp += 1
                                    nav += 8
                                nav -= 1
                                newval = p1 if (acc >> nav) & 1 else m1
                            elif r < 15:  # EOBn
                                eobrun = 1 << r
                                if r:
                                    while nav < r:
                                        if bp >= nb:
                                            raise ValueError(
                                                "JPEG entropy stream"
                                                " truncated"
                                            )
                                        acc = (
                                            (acc & mask[nav]) << 8
                                        ) | dat[bp]
                                        bp += 1
                                        nav += 8
                                    nav -= r
                                    eobrun += (acc >> nav) & mask[r]
                                break
                            # advance over r zero-HISTORY positions
                            # (ZRL: r=15, newval=0 skips 16), paying a
                            # correction bit at every nonzero coef
                            while k <= se:
                                ck = cz[k]
                                if ck != 0:
                                    if nav < 1:
                                        if bp >= nb:
                                            raise ValueError(
                                                "JPEG entropy stream"
                                                " truncated"
                                            )
                                        acc = (
                                            (acc & mask[nav]) << 8
                                        ) | dat[bp]
                                        bp += 1
                                        nav += 8
                                    nav -= 1
                                    if (acc >> nav) & 1 and not (ck & p1):
                                        cz[k] = ck + (p1 if ck > 0 else m1)
                                else:
                                    if r == 0:
                                        break
                                    r -= 1
                                k += 1
                            if newval and k <= se:
                                cz[k] = newval
                            k += 1
                    if eobrun > 0:
                        # band remainder: correction bits only
                        while k <= se:
                            ck = cz[k]
                            if ck != 0:
                                if nav < 1:
                                    if bp >= nb:
                                        raise ValueError(
                                            "JPEG entropy stream truncated"
                                        )
                                    acc = ((acc & mask[nav]) << 8) | dat[bp]
                                    bp += 1
                                    nav += 8
                                nav -= 1
                                if (acc >> nav) & 1 and not (ck & p1):
                                    cz[k] = ck + (p1 if ck > 0 else m1)
                            k += 1
                        eobrun -= 1
            if seg_idx != len(segments) - 1:
                raise ValueError("JPEG scan has unconsumed restart segments")
            if bp * 8 - nav + 8 <= nb * 8:
                # spec allows padding to the byte boundary only; more
                # than 7 unread bits means scan-layout desync
                raise ValueError("JPEG scan under-consumed (layout desync)")

    # dezigzag + dequantize + vectorized exact IDCT per component
    A = _IDCT_A
    planes = {}
    for cid, hs, vs, tq in comps:
        if tq not in qtab:
            raise ValueError("JPEG missing quant table")
        q = np.frombuffer(qtab[tq], dtype=np.uint8).astype(np.int32)
        cz = np.array(coefs[cid], dtype=np.int32)  # (by, bx, 64) zigzag
        nat = np.zeros_like(cz)
        nat[:, :, _JPEG_ZIGZAG] = cz * q
        blocks = nat.reshape(*nat.shape[:2], 8, 8).astype(np.float64)
        px = np.matmul(np.matmul(A.T, blocks), A)
        px = np.clip(np.round(px) + 128, 0, 255).astype(np.uint8)
        planes[cid] = (
            px.transpose(0, 2, 1, 3).reshape(px.shape[0] * 8, px.shape[1] * 8)
        )
    return _planes_to_pixels(planes, comps, hmax, vmax, w, h)


def _jpeg_decode_gray(data: bytes) -> np.ndarray:
    """Single-component (grayscale) baseline decode — the (h, w)
    pixel grid. Thin wrapper over _jpeg_decode_baseline kept for the
    MJPEG frame path (AVI frames are always 1-component here);
    raises on color streams so callers that require a 2-D grid
    cannot silently receive an RGB cube."""
    px = _jpeg_decode_baseline(data)
    if px.ndim != 2:
        raise ValueError("expected grayscale JPEG, got multi-component")
    return px


def _wav_bytes(sample_rate: int, n_frames: int, seed: int) -> bytes:
    """Encode a real mono 16-bit PCM WAV (deterministic samples)."""
    import io
    import wave

    frames = bytes((i * 31 + seed + j) % 256 for i in range(n_frames) for j in (0, 1))
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(frames)
    return buf.getvalue()


def _decode_wav(data: bytes) -> dict:
    """REAL WAV decode via stdlib `wave`: sample rate / frame count /
    sample width come from parsing the actual RIFF header."""
    import io
    import wave

    with wave.open(io.BytesIO(data), "rb") as w:
        return {
            "width": None,
            "height": None,
            "sample_rate": w.getframerate(),
            "n_bytes": w.getnframes() * w.getsampwidth() * w.getnchannels(),
        }


def _fake_decode(payload: bytes) -> dict:
    """STUB decoder for payloads no stdlib codec can parse (e.g.
    compressed video codecs, or the digest payloads synthesize_media
    emits for the feature/frame fixtures).

    A real deployment replaces this branch with pyav/ffmpeg frame
    iteration. The fake derives stable 'dimensions' from a digest so
    downstream plumbing (schemas, joins, filters on decoded fields)
    is exercised honestly.
    """
    # hashes are keyed off the payload's hex text (not raw bytes) so
    # the DuckDB oracle (whose hash fns are VARCHAR-only) can verify
    d = hashlib.md5((payload or b"").hex().encode()).digest()
    return {
        "width": 64 + d[0],
        "height": 48 + d[1],
        "sample_rate": None,
        "n_bytes": len(payload or b""),
    }


_MEDIA_META_FIELDS = ("kind", "format", "width", "height", "sample_rate", "duration_ms")


def _media_table(
    df: DataFrame, id_col: str, encode: Callable[[int], tuple[bytes, dict]]
) -> DataFrame:
    """Shared body of the synthesize_*_media fixtures: one
    (media_id, payload, meta) row per id, where ``encode(mid)``
    returns the payload bytes and the meta fields it sets (the rest
    stay NULL).

    The id scan is spread to the cluster's parallelism before the
    per-row Python encoder: the local documents fixture arrives as
    ONE parquet split, so the whole synth+decode chain otherwise runs
    single-task; at warehouse scale maxPartitionBytes splits the scan
    naturally and the spread is a no-op. The round-robin exchange of
    bare ids — a few KB — buys full-width Python stages."""
    from pyspark.sql.types import StructType

    out_ddl = f"media_id BIGINT, payload BINARY, meta STRUCT<{MEDIA_META_DDL}>"

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf[id_col].astype("int64"):
                mid = int(mid)
                payload, fields = encode(mid)
                meta = dict.fromkeys(_MEDIA_META_FIELDS)
                meta.update(fields)
                rows.append((mid, payload, meta))
            yield pd.DataFrame(rows, columns=["media_id", "payload", "meta"])

    return spread_small_input(df.select(id_col)).mapInPandas(
        synth, StructType.fromDDL(out_ddl)
    )


def synthesize_real_media(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Media table with GENUINE container bytes: PNG payloads for
    image rows, WAV payloads for audio rows, uncompressed-AVI
    payloads for video rows (dims/rate/frame counts are
    deterministic functions of the id so the oracle can verify the
    decoded values). mapInPandas because container encoding is
    per-row Python — this is fixture/ingest-side work, not a hot
    query path."""

    def encode(mid: int) -> tuple[bytes, dict]:
        kind = ("image", "audio", "video")[mid % 3]
        if kind == "image":
            w, h = mid % 48 + 16, mid % 32 + 16
            return _png_bytes(w, h, mid % 256), dict(
                kind=kind, format="png", width=w, height=h
            )
        if kind == "audio":
            rate, nf = 8000 + (mid % 8) * 1000, mid % 500 + 100
            return _wav_bytes(rate, nf, mid % 256), dict(
                kind=kind, format="wav", sample_rate=rate, duration_ms=nf * 1000 // rate
            )
        # alternate codecs across video rows: odd ids get Motion-JPEG
        # (compressed), even ids raw DIB — both decode for real downstream
        w, h, nframes = mid % 16 + 16, mid % 12 + 12, mid % 4 + 2
        codec = "mjpg" if mid % 2 else "dib"
        return _avi_bytes(w, h, nframes, mid % 256, codec=codec), dict(
            kind=kind, format=codec, width=w, height=h, duration_ms=nframes * 100
        )

    return _media_table(df, id_col, encode)


def synthesize_jpeg_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Bare-JPEG media table for the decode error-accounting audit
    (mm9), three row classes keyed by cls = (id // 3) % 3 (the mm9
    fixture ids are always multiples of 3, so cls cycles evenly):

    - cls 0: REAL baseline grayscale JPEG (fully entropy-decodable:
      _jpeg_bytes), alternating SOF0 and SOF1 (extended sequential)
      frame markers by (id // 9) % 2 — identical 8-bit scan path,
      identical pixels.
    - cls 1: REAL PROGRESSIVE SOF2 JPEG (_progressive_jpeg_bytes — a
      fully decodable multi-scan successive-approximation stream),
      alternating GRAYSCALE and COLOR by (id // 9) % 2; the 4:4:4
      rows additionally carry RESTART MARKERS every 2 restart units.
      Pixel content matches the baseline classes, so the same
      closed-form oracles pin the progressive path.
    - cls 2: REAL interleaved COLOR (YCbCr) baseline JPEG
      (3-component _jpeg_bytes), alternating 4:2:0 and 4:4:4
      sampling by (id // 9) % 2 — both decode to identical pixels
      (flat chroma), so one oracle pins both decoder paths.

    Dims/levels/AC are deterministic functions of the id so the
    oracle recomputes every decoded value closed-form."""

    def encode(mid: int) -> tuple[bytes, dict]:
        w, h = mid % 48 + 16, mid % 32 + 16
        level, ac = mid % 128 + 64, mid % 10
        chroma = ((mid * 7) % 256, (mid * 13) % 256)
        cls = (mid // 3) % 3
        if cls == 0:
            # alternate SOF0 baseline / SOF1 extended sequential
            # (identical 8-bit scan path, pixels unchanged — one
            # oracle pins both markers)
            payload = _jpeg_bytes(w, h, (level,), ac, extended=(mid // 9) % 2 == 1)
            fmt = "jpeg"
        elif cls == 1:
            # alternate grayscale / color progressive (color rows
            # further alternate 4:2:0 and 4:4:4 — flat chroma makes
            # subsampling value-invariant); same content parameters as
            # the baseline classes so one closed-form oracle pins both
            # codecs. The 4:4:4 rows carry restart markers every 2
            # restart units (restarts never change pixels, mirroring
            # the baseline color class's layout alternation)
            sub = "4:2:0" if (mid // 18) % 2 == 0 else "4:4:4"
            payload = _progressive_jpeg_bytes(
                w,
                h,
                level,
                ac,
                color=None if (mid // 9) % 2 == 0 else chroma,
                subsample=sub,
                restart_interval=0 if sub == "4:2:0" else 2,
            )
            fmt = "jpeg-progressive"
        else:
            # alternate the two real decode-path variants: plain 4:2:0
            # vs 4:4:4 WITH restart markers every 2 MCUs (restarts
            # never change pixels, so the same closed-form oracle pins
            # both)
            sub = "4:2:0" if (mid // 9) % 2 == 0 else "4:4:4"
            payload = _jpeg_bytes(
                w,
                h,
                (level, *chroma),
                ac,
                sub,
                restart_interval=0 if sub == "4:2:0" else 2,
            )
            fmt = "jpeg-color"
        return payload, dict(kind="image", format=fmt, width=w, height=h)

    return _media_table(df, id_col, encode)


def synthesize_png_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """PNG media table exercising the FULL codec surface (the mm12/
    mm13 fixture), seven row classes keyed by cls = ((id - 1) // 4)
    % 7 — fixture ids are always ≡ 1 mod 4, so cls cycles evenly:

    - cls 0: grayscale 8-bit
    - cls 1: RGB 8-bit
    - cls 2: palette (PLTE-indexed, indices = the gray grid)
    - cls 3: RGBA 8-bit
    - cls 4: gray+alpha 8-bit
    - cls 5: RGB 8-bit, Adam7 INTERLACED
    - cls 6: RGB 16-bit — a VALID stream the decoder classifies as
      its honest bit-depth boundary (ok=false, pixels not
      reconstructed)

    Every decodable class cycles ALL FIVE scanline filters (f =
    (row_idx + s) % 5 per scanline, interlace passes included), so a
    wrong Sub/Up/Average/Paeth inversion moves a channel sum. Pixel
    content is closed-form so the DuckDB oracle recomputes every sum
    with no codec: gray/R = (7x+13y+s) % 256, G = (11x+5y+3s) % 256,
    B = (3x+17y+5s) % 256, A = (9x+y+s) % 256, palette[i] =
    ((3i+17) % 256, (5i+29) % 256, (7i+43) % 256), s = id % 256."""
    pal = np.stack(
        [
            (3 * np.arange(256) + 17) % 256,
            (5 * np.arange(256) + 29) % 256,
            (7 * np.arange(256) + 43) % 256,
        ],
        axis=1,
    ).astype(np.uint8)

    def encode(mid: int) -> tuple[bytes, dict]:
        w, h = mid % 40 + 8, mid % 24 + 8
        s = mid % 256
        cls = ((mid - 1) // 4) % 7
        x = np.arange(w)[None, :]
        y = np.arange(h)[:, None]
        gray = ((7 * x + 13 * y + s) % 256).astype(np.uint8)
        g = ((11 * x + 5 * y + 3 * s) % 256).astype(np.uint8)
        b = ((3 * x + 17 * y + 5 * s) % 256).astype(np.uint8)
        a = ((9 * x + y + s) % 256).astype(np.uint8)
        rgb = np.dstack([gray, g, b])
        filt = lambda i: (i + s) % 5  # noqa: E731
        if cls == 0:
            payload, fmt = _png_encode(gray, 0, filters=filt), "png-gray"
        elif cls == 1:
            payload, fmt = _png_encode(rgb, 2, filters=filt), "png-rgb"
        elif cls == 2:
            payload = _png_encode(gray, 3, palette=pal, filters=filt)
            fmt = "png-palette"
        elif cls == 3:
            payload = _png_encode(np.dstack([rgb, a]), 6, filters=filt)
            fmt = "png-rgba"
        elif cls == 4:
            payload = _png_encode(np.dstack([gray, a]), 4, filters=filt)
            fmt = "png-graya"
        elif cls == 5:
            payload = _png_encode(rgb, 2, filters=filt, interlace=True)
            fmt = "png-adam7"
        else:
            # conventional 8->16-bit scaling (v * 257); content
            # irrelevant to the oracle — the class is pinned as an
            # accounted refusal, dims from IHDR only
            payload = _png_encode(rgb.astype(np.uint16) * 257, 2, bitdepth=16)
            fmt = "png-16bit"
        return payload, dict(kind="image", format=fmt, width=w, height=h)

    return _media_table(df, id_col, encode)


def synthesize_cmyk_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Adobe 4-component JPEG media table (the mm14 fixture): rows
    alternate YCCK (transform 2) and direct CMYK (transform 0) by
    ((id - 2) // 5) % 2 — fixture ids are always ≡ 2 mod 5, so the
    classes cycle evenly. Channel parameters are deterministic
    functions of the id (pattern channel c1 = id%128+64 with
    ac = id%10 riding the ±1 sign grid; flat c2/c3/K), so the oracle
    recomputes every decoded RGB sum closed-form through the
    documented inverted-ink composite."""

    def encode(mid: int) -> tuple[bytes, dict]:
        w, h = mid % 48 + 16, mid % 32 + 16
        transform = 2 if ((mid - 2) // 5) % 2 == 0 else 0
        levels = (mid % 128 + 64, (mid * 7) % 256, (mid * 13) % 256, (mid * 11) % 256)
        return _jpeg_bytes(w, h, levels, mid % 10, transform=transform), dict(
            kind="image",
            format="jpeg-ycck" if transform == 2 else "jpeg-cmyk",
            width=w,
            height=h,
        )

    return _media_table(df, id_col, encode)


def png_rgb_sums(media: DataFrame) -> DataFrame:
    """Pixel-CONTENT pin for the PNG decode surface (mm12, the mm10
    of the PNG path): fully decode each payload — filters inverted,
    palette expanded, interlace reassembled — and emit exact integer
    per-channel pixel sums. Channel interpretation follows the
    decoded shape: gray reports its sum in R=G=B, gray+alpha in
    R=G=B plus the alpha sum, RGB(A) per channel; images with no
    alpha channel report the opaque sum 255 * n_px (alpha is
    DEFINED, not guessed). mapInPandas like the rest of the media
    path (per-row Python decode is the family's documented non-JVM
    stage)."""

    def sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                px = _png_decode_full(bytes(p))
                ch = px.astype(np.int64)
                h, w = px.shape[:2]
                n = h * w
                if px.ndim == 2:
                    sr = sg = sb = int(ch.sum())
                    sa = 255 * n
                elif px.shape[2] == 2:
                    sr = sg = sb = int(ch[:, :, 0].sum())
                    sa = int(ch[:, :, 1].sum())
                else:
                    sr = int(ch[:, :, 0].sum())
                    sg = int(ch[:, :, 1].sum())
                    sb = int(ch[:, :, 2].sum())
                    sa = (
                        int(ch[:, :, 3].sum()) if px.shape[2] == 4 else 255 * n
                    )
                rows.append((int(mid), w, h, n, sr, sg, sb, sa))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "n_px",
                    "sum_r", "sum_g", "sum_b", "sum_a",
                ],
            )

    from pyspark.sql.types import StructType

    return media.mapInPandas(
        sums,
        StructType.fromDDL(
            "media_id BIGINT, width INT, height INT, n_px BIGINT, "
            "sum_r BIGINT, sum_g BIGINT, sum_b BIGINT, sum_a BIGINT"
        ),
    )


def _jpeg_decode_auto(data: bytes) -> np.ndarray:
    """Dispatch a bare JPEG payload to the baseline or progressive
    decoder by its SOF marker (structural parse first, as a real
    codec front-end does)."""
    if _parse_jpeg(data).get("progressive"):
        return _jpeg_decode_progressive(data)
    return _jpeg_decode_baseline(data)


def jpeg_rgb_sums(media: DataFrame) -> DataFrame:
    """Pixel-CONTENT pin for the JPEG decode paths (mm10 baseline
    color, mm11 progressive): fully decode each payload (baseline or
    progressive, dispatched on the SOF marker) and emit exact integer
    per-channel pixel sums. Dims/ok flags alone (mm9) can't
    distinguish a correct chroma upsample + color transform from a
    plausible-looking wrong one; three channel sums over the
    closed-form fixture class can — the oracle recomputes them
    without running any DCT (the Y pattern takes exactly two values
    whose counts follow from the ±1 basis sign grid, and chroma is
    flat). GRAYSCALE payloads report the gray plane's sum in all
    three channels (the R=G=B representation). mapInPandas like the
    rest of the media path (per-row Python decode is the family's
    documented non-JVM stage)."""

    def sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                px = _jpeg_decode_auto(bytes(p))
                ch = px.astype(np.int64)
                if px.ndim == 2:
                    h, w = px.shape
                    s = int(ch.sum())
                    sr = sg = sb = s
                else:
                    h, w, _ = px.shape
                    sr = int(ch[:, :, 0].sum())
                    sg = int(ch[:, :, 1].sum())
                    sb = int(ch[:, :, 2].sum())
                rows.append((int(mid), w, h, w * h, sr, sg, sb))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "n_px",
                    "sum_r", "sum_g", "sum_b",
                ],
            )

    from pyspark.sql.types import StructType

    return media.mapInPandas(
        sums,
        StructType.fromDDL(
            "media_id BIGINT, width INT, height INT, n_px BIGINT, "
            "sum_r BIGINT, sum_g BIGINT, sum_b BIGINT"
        ),
    )


def decode_media(media: DataFrame) -> DataFrame:
    """Decode step over (media_id, payload, meta) -> decoded metadata
    rows. Dispatches on the payload's MAGIC BYTES, as a real decoder
    does: PNG (full codec surface: filters, five color types,
    Adam7), WAV, AVI (DIB + MJPEG), bare baseline JPEG (grayscale +
    interleaved color + SOF1 + Adobe CMYK/YCCK) and bare PROGRESSIVE
    JPEG (SOF2), fully entropy-decoded through the multi-scan
    spectral-selection + successive-approximation path (ok=true /
    decoder='jpeg-progressive' / n_bytes = reconstructed sample
    count, restart-marker streams included).
    Decoder refusals (RST/DRI layout desync inside
    progressive scans, 16-bit DQT, truncated entropy, APP14-less
    4-component layouts, ...) are ACCOUNTED ok=false row classes with
    dims from the structural parse, never task-crashing exceptions;
    anything else falls to
    the deterministic STUB (`decoder` column records which ran).
    ``ok`` is therefore per-row: true iff the payload's content was
    actually reconstructable by the decoder that ran.

    mapInPandas: Arrow ships each partition's rows in pandas batches;
    the decode loop is per-batch Python, the only non-JVM stage in
    the media path — so it is also where maxRecordsPerBatch bounds
    peak memory."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        for pdf in batches:
            metas, decoders, oks = [], [], []
            for p in pdf["payload"]:
                p = bytes(p or b"")
                ok = True
                if p[:8] == b"\x89PNG\r\n\x1a\n":
                    # IHDR body sits at a fixed offset (8 sig + 8
                    # chunk header): depth at 24, dims at 16..24 —
                    # classify the bit-depth boundary BEFORE decoding
                    try:
                        if len(p) > 24 and p[24] != 8:
                            # classified honest boundary: 16-bit (and
                            # 1/2/4-bit) sample depths are structurally
                            # parsed, pixels not reconstructed
                            wd, ht = struct.unpack(">II", p[16:24])
                            metas.append(
                                {
                                    "width": wd,
                                    "height": ht,
                                    "sample_rate": None,
                                    "n_bytes": None,
                                }
                            )
                            decoders.append("png-bitdepth")
                            ok = False
                        else:
                            metas.append(_decode_png(p))
                            decoders.append("png")
                    except (ValueError, struct.error):
                        # any other refusal (truncated IDAT, bad
                        # filter byte, missing PLTE, ...): accounted,
                        # never task-crashing — dims from the IHDR
                        # when it parses
                        try:
                            wd, ht = struct.unpack(">II", p[16:24])
                        except struct.error:
                            wd = ht = None
                        metas.append(
                            {
                                "width": wd,
                                "height": ht,
                                "sample_rate": None,
                                "n_bytes": None,
                            }
                        )
                        decoders.append("png-undecodable")
                        ok = False
                elif p[:4] == b"RIFF" and p[8:12] == b"WAVE":
                    metas.append(_decode_wav(p))
                    decoders.append("wav")
                elif p[:4] == b"RIFF" and p[8:12] == b"AVI ":
                    m = _decode_avi(p)
                    decoders.append("mjpeg" if m.pop("codec") == "mjpeg" else "avi")
                    metas.append(m)
                elif p[:2] == b"\xff\xd8":
                    info = _parse_jpeg(p)
                    if info.get("progressive"):
                        # REAL multi-scan reconstruction — spectral
                        # selection + successive approximation scan
                        # accumulation, restart markers included;
                        # refusals (RST/DRI layout desync, exotic
                        # layouts) fall to the accounted undecodable
                        # class
                        try:
                            px = _jpeg_decode_progressive(p)
                        except ValueError:
                            metas.append(
                                {
                                    "width": info["width"],
                                    "height": info["height"],
                                    "sample_rate": None,
                                    "n_bytes": None,
                                }
                            )
                            decoders.append("jpeg-undecodable")
                            ok = False
                        else:
                            metas.append(
                                {
                                    "width": px.shape[1],
                                    "height": px.shape[0],
                                    "sample_rate": None,
                                    "n_bytes": int(px.size),
                                }
                            )
                            decoders.append("jpeg-progressive")
                    elif info["n_components"] not in (1, 3, 4):
                        # unknown layouts: structurally parsed,
                        # pixels not reconstructed — accounted like
                        # the progressive class so one exotic payload
                        # can never crash a corpus-wide decode pass
                        metas.append(
                            {
                                "width": info["width"],
                                "height": info["height"],
                                "sample_rate": None,
                                "n_bytes": None,
                            }
                        )
                        decoders.append("jpeg-multicomponent")
                        ok = False
                    else:
                        try:
                            px = _jpeg_decode_baseline(p)
                        except ValueError:
                            # any decoder refusal BEYOND the
                            # classified boundaries above (16-bit DQT,
                            # truncated entropy, invalid Huffman code,
                            # RST without DRI, a 4-component stream
                            # with no Adobe APP14 transform, ...):
                            # account it — one exotic payload must
                            # never crash a corpus-wide decode pass.
                            # Dims come from the structural parse
                            # that already succeeded; undecodable
                            # 4-component streams keep their own
                            # label so the audit can slice them.
                            metas.append(
                                {
                                    "width": info["width"],
                                    "height": info["height"],
                                    "sample_rate": None,
                                    "n_bytes": None,
                                }
                            )
                            decoders.append(
                                "jpeg-multicomponent"
                                if info["n_components"] == 4
                                else "jpeg-undecodable"
                            )
                            ok = False
                        else:
                            metas.append(
                                {
                                    "width": px.shape[1],
                                    "height": px.shape[0],
                                    "sample_rate": None,
                                    "n_bytes": int(px.size),
                                }
                            )
                            # color/cmyk rows get their own decoder
                            # labels so the audit can slice the
                            # classes apart; n_bytes = w*h*3 for RGB
                            # (px.size counts every channel sample)
                            decoders.append(
                                "jpeg"
                                if px.ndim == 2
                                else (
                                    "jpeg-cmyk"
                                    if info["n_components"] == 4
                                    else "jpeg-color"
                                )
                            )
                else:
                    metas.append(_fake_decode(p))
                    decoders.append("stub")
                oks.append(ok)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": [m["kind"] for m in pdf["meta"]],
                    "ok": oks,
                    "decoder": decoders,
                    "width": pd.array([m["width"] for m in metas], dtype="Int32"),
                    "height": pd.array([m["height"] for m in metas], dtype="Int32"),
                    "sample_rate": pd.array(
                        [m["sample_rate"] for m in metas], dtype="Int32"
                    ),
                    # nullable: the jpeg-progressive accounting row
                    # class has no reconstructed pixel count
                    "n_bytes": pd.array(
                        [m["n_bytes"] for m in metas], dtype="Int32"
                    ),
                }
            )

    return media.mapInPandas(decode_batches, DECODED_DDL)


def extract_features(media: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Feature extraction: payload bytes -> fixed-dim float vector
    (byte-value histogram, L1-normalized). This stage is REAL (no
    codec needed) and shows the vectorized numpy-per-batch shape a
    real embedding model slots into (model.encode(batch))."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                arr = np.frombuffer(p or b"\0", dtype=np.uint8)
                hist, _ = np.histogram(arr, bins=dim, range=(0, 256))
                total = hist.sum() or 1
                feats.append((hist / total).astype(np.float32))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": [m["kind"] for m in pdf["meta"]],
                    "feature": feats,
                }
            )

    return media.mapInPandas(featurize, FEATURES_DDL)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """REAL frame sampling over video payloads: one decoded frame per
    `every_ms` of timeline (1->N fan-out, the UDTF shape of a pyav
    frame sampler). The container is walked for real (_avi_walk), the
    sampled timestamp maps to a frame via the avih frame clock, and
    the frame's PIXELS are decoded — DIB frames are their own pixel
    bytes, MJPEG frames run through the full baseline JPEG decoder
    (_jpeg_decode_gray: complete Huffman entropy decode incl. AC
    run/size + ZRL, dezigzag, dequantize, 2-D IDCT). Each output row
    carries the decoded pixel count, exact integer pixel sum, and an
    md5 signature of the comma-joined row-major pixel values — the
    mm4 md5-of-pixels discipline, so the oracle pins frame CONTENT,
    not header echo. Non-RIFF payloads drop inside the pass (type
    filter, like resize_images); frames are decoded only for the
    SAMPLED indices, never the whole movi list.

    mapInPandas, Arrow-batched; at 100 TB the sampled-frame stats are
    computed once at ingest and everything downstream is JVM-side."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                p = bytes(payload or b"")
                if not (p[:4] == b"RIFF" and p[8:12] == b"AVI "):
                    continue
                info = _avi_walk(p)
                frames, codec = info["frames"], info["codec"]
                dt_ms = max(1, info["usec_per_frame"] // 1000)
                duration_ms = len(frames) * dt_ms
                for ts in range(0, duration_ms, every_ms):
                    idx = ts // dt_ms
                    if codec == "dib":
                        px = np.frombuffer(frames[idx], dtype=np.uint8)
                    else:
                        px = _jpeg_decode_gray(frames[idx]).ravel()
                    sig = hashlib.md5(
                        ",".join(str(int(v)) for v in px).encode()
                    ).hexdigest()
                    out.append(
                        (
                            int(mid),
                            idx,
                            ts,
                            codec,
                            int(px.size),
                            int(px.sum(dtype=np.int64)),
                            sig,
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "frame_idx", "ts_ms", "codec",
                    "n_px", "sum_px", "frame_sig",
                ],
            )

    return media.mapInPandas(sample, FRAMES_DDL)


RESIZED_DDL = (
    "media_id BIGINT, out_w INT, out_h INT, mean_px DOUBLE, thumb_sig STRING"
)


def resize_images(
    media: DataFrame, out_w: int = 8, out_h: int = 8
) -> DataFrame:
    """Nearest-neighbor thumbnail resize over REAL decoded pixels:
    PNG payloads are decoded through the shared PNG decoder
    (_png_pixels: filters inverted, palette expanded, interlace
    reassembled, color reduced to integer luma), the brightness grid
    is subsampled at src = floor(dst * src_dim / out_dim), and each
    thumbnail is emitted as summary scalars — mean pixel value plus
    an md5 signature of the row-major pixel list (driver-side
    canonicalization cannot hash array cells, and the signature
    pins every pixel anyway).

    Non-PNG payloads are dropped inside the same pass (a resize
    stage in a media pipeline filters on its input type). mapInPandas
    with numpy fancy-indexing per batch — the standard Arrow-batched
    shape for per-row binary work; maxRecordsPerBatch bounds memory.
    """

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ys = np.arange(out_h)
        xs = np.arange(out_w)
        for pdf in batches:
            out = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                p = bytes(p or b"")
                if p[:8] != _PNG_SIG:
                    continue
                grid = _png_pixels(p)
                h, w = grid.shape
                thumb = grid[(ys * h) // out_h][:, (xs * w) // out_w]
                flat = thumb.reshape(-1)
                sig = hashlib.md5(
                    ",".join(str(int(v)) for v in flat).encode()
                ).hexdigest()
                out.append(
                    (int(mid), out_w, out_h, round(float(flat.mean()), 4), sig)
                )
            yield pd.DataFrame(
                out, columns=["media_id", "out_w", "out_h", "mean_px", "thumb_sig"]
            )

    return media.mapInPandas(resize_batches, RESIZED_DDL)


RMS_DDL = "media_id BIGINT, win_idx INT, n_samples INT, rms DOUBLE"

ENERGY_DDL = "media_id BIGINT, win_idx INT, n_samples INT, sum_sq BIGINT"


def _pcm_windows(pdf: pd.DataFrame, window: int):
    """Shared PCM decode + windowing for the audio features: WAV
    payloads parse through the stdlib `wave` reader, int16 samples
    split into fixed-size windows. Yields (media_id, win_idx, chunk)
    with chunk as an int64 ndarray; non-WAV payloads drop (the
    type-filtering contract). ONE copy of the decode so a bounds fix
    cannot land in the RMS path and miss the energy path."""
    import io
    import wave

    for mid, p in zip(pdf["media_id"], pdf["payload"]):
        p = bytes(p or b"")
        if not (p[:4] == b"RIFF" and p[8:12] == b"WAVE"):
            continue
        with wave.open(io.BytesIO(p), "rb") as w:
            raw = w.readframes(w.getnframes())
        samples = np.frombuffer(raw, dtype="<i2").astype(np.int64)
        for wi in range(0, len(samples), window):
            yield int(mid), wi // window, samples[wi : wi + window]


def audio_rms(media: DataFrame, window: int = 100) -> DataFrame:
    """Windowed RMS energy over REAL decoded PCM — the
    silence-detection / loudness-normalization feature an audio
    corpus pipeline computes before filtering. The mean-of-squares is
    an integer sum divided once (exact in float64 at int16 scale), so
    the rounded RMS is engine-reproducible.

    Non-WAV payloads drop inside the pass (type-filtering stage, like
    resize_images). mapInPandas + numpy per batch.
    """

    def rms_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, wi, chunk in _pcm_windows(pdf, window):
                rms = float(np.sqrt((chunk * chunk).sum() / len(chunk)))
                out.append((mid, wi, len(chunk), round(rms, 3)))
            yield pd.DataFrame(
                out, columns=["media_id", "win_idx", "n_samples", "rms"]
            )

    return media.mapInPandas(rms_batches, RMS_DDL)


def audio_energy(media: DataFrame, window: int = 100) -> DataFrame:
    """Windowed INTEGER energy (sum of squared samples) over real
    decoded PCM — the exact-arithmetic sibling of audio_rms that
    downstream comparisons build on: a window-vs-track energy
    threshold evaluated by integer cross-multiplication can never be
    dusted by float summation order on either engine (the phash
    integer-comparison discipline applied to audio)."""

    def energy_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, wi, chunk in _pcm_windows(pdf, window):
                out.append((mid, wi, len(chunk), int((chunk * chunk).sum())))
            yield pd.DataFrame(
                out, columns=["media_id", "win_idx", "n_samples", "sum_sq"]
            )

    return media.mapInPandas(energy_batches, ENERGY_DDL)


PHASH_DDL = "media_id BIGINT, phash STRING, b0 INT, b1 INT, b2 INT, b3 INT"


def _png_pixels(data: bytes) -> np.ndarray:
    """Decode a PNG into its (h, w) brightness matrix via the full
    decoder (filters/color types/interlace all reconstruct for real;
    corrupt payloads FAIL, never guess). Gray planes pass
    through; gray+alpha drops alpha; RGB(A) reduces to integer luma
    (299*R + 587*G + 114*B) // 1000 — fixed-point Rec.601, no float
    rounding ambiguity for the oracle to chase."""
    px = _png_decode_full(data)
    if px.ndim == 2:
        return px
    if px.shape[2] == 2:
        return px[:, :, 0]
    rgb = px[:, :, :3].astype(np.int64)
    return (
        (299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2]) // 1000
    ).astype(np.uint8)


def image_phash(media: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) over REAL decoded PNG pixels:
    partition the image into an 8x8 grid (pixel (x, y) belongs to
    cell (y*8 // h, x*8 // w) — the one integer-exact block map both
    this decoder and the SQL oracle share), and set bit ci*8+cj when
    that cell's mean brightness exceeds the image mean. The
    comparison is INTEGER cross-multiplication
    (cell_sum * n_pixels > total_sum * cell_n), so no float mean can
    dust a bit on either engine. Emitted as a 16-hex-digit string
    plus four 16-bit band ints (bit p lives in band p // 16) — the
    bands are the LSH bucketing key phash_neardup joins on, SimHash's
    banding applied to image content.

    Arrow-batched mapInPandas (stdlib zlib decode + one bincount per
    image); at 100 TB the hash is computed ONCE at ingest and stored
    as four ints — everything downstream is JVM-side."""
    from pyspark.sql.types import StructType

    def phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                p = bytes(p or b"")
                if p[:8] != b"\x89PNG\r\n\x1a\n":
                    continue
                px = _png_pixels(p)
                h, w = px.shape
                ci = (np.arange(h) * 8) // h
                cj = (np.arange(w) * 8) // w
                flat = (ci[:, None] * 8 + cj[None, :]).ravel()
                sums = np.bincount(flat, weights=px.ravel(), minlength=64)
                cnts = np.bincount(flat, minlength=64)
                total_sum, total_n = int(px.sum(dtype=np.int64)), h * w
                bits = [
                    int(int(sums[p_]) * total_n > total_sum * int(cnts[p_]))
                    for p_ in range(64)
                ]
                bands = [
                    sum(bits[b * 16 + i] << i for i in range(16)) for b in range(4)
                ]
                out.append(
                    (int(mid), "%04x%04x%04x%04x" % tuple(bands), *bands)
                )
            yield pd.DataFrame(
                out, columns=["media_id", "phash", "b0", "b1", "b2", "b3"]
            )

    return media.mapInPandas(phash_batches, StructType.fromDDL(PHASH_DDL))


def phash_neardup(
    hashes: DataFrame,
    max_hamming: int = 12,
    max_bucket: int | str | None = None,
) -> DataFrame:
    """Near-duplicate image pairs from phash band buckets: two
    images are CANDIDATES when any of their four 16-bit bands is
    equal (the dd2/dd3 band-join recipe — candidate generation is an
    equi-join on (band_idx, band_val), never all-pairs), and
    near-dups when their full 64-bit Hamming distance is
    <= max_hamming. Banding is part of the OPERATOR CONTRACT (the
    oracle mirrors it): pairs differing in every band are not
    reported even below the distance cap, exactly like SimHash dd3.

    Everything past the hash is JVM codegen: explode 4 band rows per
    image, self-join per bucket, bit_count(xor) per band summed.
    At 100 TB the bucket join shuffles 4 rows of 3 ints per image;
    ``max_bucket`` is the dd4b stop-shingle / bucketed_neardup_pairs
    hot-cell cap applied to band buckets: a (band_idx, band_val)
    bucket with MORE than max_bucket members (the all-dark band of a
    screenshot corpus) contributes NO candidate pairs — it carries no
    discriminative signal, only its m_b² cost. Sizes are measured
    once before the self-join (one partial-agg over the 2-int bucket
    projection) and the HOT list broadcasts into an anti-join, so the
    quadratic stage never sees the hot bucket. cap >= the true max
    bucket size is the identity (law test in tests/test_multimodal.py).
    ``max_bucket="auto"`` derives the cap from the measured band-
    bucket-size distribution (textdedup.derived_bucket_cap: slack x
    the 0.1%-from-the-top order statistic — never fires on an
    un-degenerate distribution, excludes the all-dark band)."""
    from dot_spark.operators.textdedup import derived_bucket_cap
    bands = hashes.select(
        "media_id",
        "b0",
        "b1",
        "b2",
        "b3",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("band_idx", "band_val"),
    )
    if max_bucket is not None:
        sizes = (
            bands.select("band_idx", "band_val")
            .groupBy("band_idx", "band_val")
            .agg(F.count(F.lit(1)).alias("__bs"))
        )
        cap = (
            derived_bucket_cap(sizes) if max_bucket == "auto" else max_bucket
        )
        hot = (
            sizes.filter(F.col("__bs") > (cap if cap is not None else 1))
            .select("band_idx", "band_val")
            # both self-join branches derive from `bands`: checkpoint
            # the tiny hot list so the size agg compiles/runs once
            .localCheckpoint(eager=False)
        )
        bands = bands.join(F.broadcast(hot), ["band_idx", "band_val"], "left_anti")
    left = bands.select(
        F.col("media_id").alias("id_a"),
        F.col("b0").alias("a0"),
        F.col("b1").alias("a1"),
        F.col("b2").alias("a2"),
        F.col("b3").alias("a3"),
        "band_idx",
        "band_val",
    )
    right = bands.select(
        F.col("media_id").alias("id_b"),
        F.col("b0").alias("c0"),
        F.col("b1").alias("c1"),
        F.col("b2").alias("c2"),
        F.col("b3").alias("c3"),
        "band_idx",
        "band_val",
    )
    ham = sum(
        F.bit_count(F.expr(f"int(a{i}) ^ int(c{i})")) for i in range(4)
    )
    return (
        left.join(right, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
