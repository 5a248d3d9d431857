"""Multimodal plumbing tests: schema, determinism, Arrow batch
shape, fan-out — the parts that must be real even while the codec is
a stub."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dot_spark.operators.multimodal import (
    FEATURE_DIM,
    decode_media,
    extract_features,
    sample_frames,
    synthesize_media,
)
from dot_spark.plans import physical_plan
from dot_spark.sources.registry import load_table


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    m = synthesize_media(docs).cache()
    yield m
    # unpersist at module teardown: the CacheManager substitutes this
    # cached subtree into any LATER-planned query containing it,
    # which distorts the plan-shape audits' node counts (r15)
    m.unpersist()


def test_media_schema(media):
    fields = dict(media.dtypes)
    assert fields["payload"] == "binary"
    assert fields["media_id"] == "bigint"
    assert "struct" in fields["meta"]
    kinds = {r.kind for r in media.select(F.col("meta.kind").alias("kind")).distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_decode_runs_and_is_deterministic(media):
    a = {r.media_id: (r.width, r.height, r.n_bytes, r.ok) for r in decode_media(media).collect()}
    b = {r.media_id: (r.width, r.height, r.n_bytes, r.ok) for r in decode_media(media).collect()}
    assert a == b and len(a) == media.count()
    assert all(v[3] for v in a.values())
    # payloads are sha256 digests -> 32 bytes each
    assert all(v[2] == 32 for v in a.values())


def test_decoder_column_records_stub_or_real(media):
    decs = {r.decoder for r in decode_media(media).select("decoder").distinct().collect()}
    assert decs <= {"stub", "png", "wav"}


def test_real_png_wav_decode_end_to_end(spark, sf_dir):
    """Real container path: synthesize_real_media emits genuine
    PNG/WAV/AVI bytes and decode_media recovers dims / sample rate /
    decoded byte counts by PARSING them (decoder records
    png/wav/avi, not stub)."""
    from dot_spark.operators.multimodal import synthesize_real_media

    docs = load_table(spark, "documents", sf_dir).limit(60)
    rows = decode_media(synthesize_real_media(docs)).collect()
    assert len(rows) == 60 and all(r.ok for r in rows)
    for r in rows:
        mid = r.media_id
        if r.kind == "image":
            assert r.decoder == "png"
            assert (r.width, r.height) == (mid % 48 + 16, mid % 32 + 16)
            assert r.n_bytes == r.width * r.height  # actual IDAT pixels
            assert r.sample_rate is None
        elif r.kind == "audio":
            assert r.decoder == "wav"
            assert r.sample_rate == 8000 + (mid % 8) * 1000
            assert r.n_bytes == (mid % 500 + 100) * 2  # frames * 16-bit mono
            assert r.width is None and r.height is None
        elif mid % 2 == 0:
            assert r.decoder == "avi"
            assert (r.width, r.height) == (mid % 16 + 16, mid % 12 + 12)
            # total decoded DIB pixel bytes: w*h*3 per frame
            assert r.n_bytes == r.width * r.height * 3 * (mid % 4 + 2)
            assert r.sample_rate is None
        else:
            # odd video ids carry Motion-JPEG: dims from per-frame SOF
            # parse, n_bytes = grayscale pixels the codestream declares
            assert r.decoder == "mjpeg"
            assert (r.width, r.height) == (mid % 16 + 16, mid % 12 + 12)
            assert r.n_bytes == r.width * r.height * (mid % 4 + 2)
            assert r.sample_rate is None


def test_png_decoder_rejects_corrupt_payload():
    """The PNG path is a real decoder: truncated IDAT (dims no longer
    match the decompressed pixel data) must raise, not pass on header
    trust."""
    import zlib

    from dot_spark.operators.multimodal import _decode_png, _png_bytes

    good = _png_bytes(24, 18, 3)
    assert _decode_png(good)["n_bytes"] == 24 * 18
    # rebuild with an IDAT holding one row too few
    raw = b"".join(b"\x00" + bytes(24) for _ in range(17))
    import struct

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    bad = (
        good[:8]
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 24, 18, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        _decode_png(bad)


def test_avi_decoder_round_trip_and_rejects_corrupt_payload():
    """The AVI path is a real container parser: dims/frame count come
    from walking the RIFF tree, and the movi pixel bytes must match
    the avih declaration — a truncated frame raises, not passes on
    header trust."""
    from dot_spark.operators.multimodal import _avi_bytes, _decode_avi

    good = _avi_bytes(20, 14, 3, seed=7)
    meta = _decode_avi(good)
    assert (meta["width"], meta["height"]) == (20, 14)
    assert meta["n_bytes"] == 20 * 14 * 3 * 3
    # chop the last frame's tail: frame count still matches but the
    # pixel byte total no longer does -> must raise
    with pytest.raises(ValueError):
        _decode_avi(good[:-10])
    with pytest.raises(ValueError):
        _decode_avi(b"RIFF\x00\x00\x00\x00WAVE")


def test_mjpeg_avi_round_trip_and_rejects_corrupt_payload():
    """The MJPEG path parses each frame's actual JPEG codestream:
    SOI/EOI framing, SOF dims checked against the avih header. A
    frame whose SOF disagrees with the container, or whose EOI is
    chopped, must raise — never pass on header trust."""
    from dot_spark.operators.multimodal import _avi_bytes, _decode_avi

    good = _avi_bytes(20, 14, 3, seed=7, codec="mjpg")
    meta = _decode_avi(good)
    assert (meta["width"], meta["height"], meta["codec"]) == (20, 14, "mjpeg")
    assert meta["n_bytes"] == 20 * 14 * 3  # grayscale pixels, 3 frames
    # a truncated final frame loses its EOI -> the JPEG parse raises
    with pytest.raises(ValueError):
        _decode_avi(good[:-4])
    # container says 20x14 but frame SOFs say 24x14 -> cross-check
    # raises (patch the SOF dims in place so chunk framing is intact)
    import struct

    sof_dims = struct.pack(">BHH", 8, 14, 20)  # precision, height, width
    assert good.count(sof_dims) == 3  # one per frame
    wrong = good.replace(sof_dims, struct.pack(">BHH", 8, 14, 24))
    with pytest.raises(ValueError):
        _decode_avi(wrong)


def test_avi_codec_dispatch_is_container_declared():
    """Dispatch must come from the hdrl stream header (strh
    fccHandler / strf biCompression), not per-frame byte sniffing: a
    valid uncompressed DIB frame whose first pixel bytes happen to be
    0xFF 0xD8 (the JPEG SOI magic) is still a DIB frame — routing it
    into the JPEG parser fails valid input (r6 advisor finding)."""
    from dot_spark.operators.multimodal import _avi_bytes, _decode_avi

    good = _avi_bytes(20, 14, 3, seed=7)
    # patch the first two pixel bytes of the first DIB frame to the
    # JPEG SOI magic; the container still declares codec DIB
    marker = good.index(b"00db") + 8
    patched = good[:marker] + b"\xff\xd8" + good[marker + 2 :]
    meta = _decode_avi(patched)
    assert meta["codec"] == "dib"
    assert meta["n_bytes"] == 20 * 14 * 3 * 3


def test_avi_codec_fallback_sniffs_when_no_stream_header():
    """A container with an avih but NO strl stream header (so no
    declared codec) must fall back to frame-magic sniffing — MJPEG
    frames (SOI magic) parse as MJPEG, raw frames as DIB."""
    import struct

    from dot_spark.operators.multimodal import _avi_bytes, _decode_avi

    def strip_strl(avi: bytes) -> bytes:
        # excise the strl LIST from hdrl, fixing hdrl + RIFF lengths
        i = avi.index(b"strl") - 8  # start of its LIST chunk
        (ln,) = struct.unpack("<I", avi[i + 4 : i + 8])
        cut = 8 + ln + (ln % 2)
        out = avi[:i] + avi[i + cut :]
        # hdrl LIST length field sits 8 bytes after "LIST", 4 before "hdrl"
        h = out.index(b"hdrl") - 8
        (hl,) = struct.unpack("<I", out[h + 4 : h + 8])
        out = out[: h + 4] + struct.pack("<I", hl - cut) + out[h + 8 :]
        return out[:4] + struct.pack("<I", len(out) - 8) + out[8:]

    for codec, want in (("mjpg", "mjpeg"), (None, "dib")):
        kw = {"codec": codec} if codec else {}
        headerless = strip_strl(_avi_bytes(20, 14, 3, seed=7, **kw))
        meta = _decode_avi(headerless)
        assert meta["codec"] == want, (codec, meta)
        assert (meta["width"], meta["height"]) == (20, 14)


def test_jpeg_parser_rejects_cut_before_scan():
    """A codestream truncated just before its SOS marker still has
    SOI/DQT/SOF/DHT headers — accepting it would pass on header
    trust with zero pixel data present. Must raise, and any cut
    landing mid-segment must raise ValueError too (not struct.error)."""
    from dot_spark.operators.multimodal import _jpeg_bytes, _parse_jpeg

    j = _jpeg_bytes(20, 14, (7,))
    sos = j.index(b"\xff\xda")
    with pytest.raises(ValueError):
        _parse_jpeg(j[:sos])  # headers only, no scan
    with pytest.raises(ValueError):
        _parse_jpeg(j[: sos - 3])  # cut mid-DHT segment


def test_jpeg_encoder_emits_valid_codestream():
    """The flat-field JPEG encoder is spec-valid: marker walk finds
    SOI, SOF dims/components, and a terminating EOI, for dims that
    are and are not MCU-aligned."""
    from dot_spark.operators.multimodal import _jpeg_bytes, _parse_jpeg

    for w, h, v in [(16, 16, 0), (17, 9, 255), (31, 23, 128), (8, 8, 77)]:
        j = _jpeg_bytes(w, h, (v,))
        assert j[:2] == b"\xff\xd8" and j[-2:] == b"\xff\xd9"
        dims = _parse_jpeg(j)
        assert (dims["width"], dims["height"], dims["n_components"]) == (w, h, 1)


def test_features_shape_and_normalization(media):
    out = extract_features(media).collect()
    assert len(out) == media.count()
    for r in out[:10]:
        assert len(r.feature) == FEATURE_DIM
        assert abs(sum(r.feature) - 1.0) < 1e-3  # L1-normalized histogram


def test_frame_sampling_decodes_real_pixels_video_only(spark, sf_dir):
    """sample_frames over REAL AVI payloads: video rows only, one
    frame per every_ms of the avih frame clock, and every emitted
    signature/sum matches the pixels the synthesis formula wrote —
    decoded content, not header echo (both DIB and MJPEG paths)."""
    import hashlib

    from dot_spark.operators.multimodal import synthesize_real_media

    docs = load_table(spark, "documents", sf_dir).limit(60)
    real = synthesize_real_media(docs).cache()
    rows = sample_frames(real, every_ms=200).collect()
    vids = {
        r.media_id
        for r in real.select("media_id", F.col("meta.kind").alias("k"))
        .filter(F.col("k") == "video")
        .collect()
    }
    assert {r.media_id for r in rows} == vids
    assert rows, "no video rows sampled"
    for r in rows:
        mid = r.media_id
        w, h, seed = mid % 16 + 16, mid % 12 + 12, mid % 256
        nf = mid % 4 + 2
        assert r.ts_ms % 200 == 0 and r.ts_ms < nf * 100
        assert r.frame_idx == r.ts_ms // 100
        if mid % 2:  # mjpeg: g + 2c*s(x%8)*s(y%8), s = +--++--+
            gray = (seed + r.frame_idx * 11) % 128 + 64
            c = (seed + r.frame_idx * 7) % 10
            s = [1, -1, -1, 1, 1, -1, -1, 1]
            px = [
                gray + 2 * c * s[(i % w) % 8] * s[(i // w) % 8]
                for i in range(w * h)
            ]
            assert r.codec == "mjpeg"
        else:  # dib: pixel x = (x + f*11 + seed) % 256
            px = [(x + r.frame_idx * 11 + seed) % 256 for x in range(w * h * 3)]
            assert r.codec == "dib"
        assert r.n_px == len(px)
        assert r.sum_px == sum(px)
        sig = hashlib.md5(",".join(str(v) for v in px).encode()).hexdigest()
        assert r.frame_sig == sig
    real.unpersist()


def test_frame_sampler_skips_non_riff_payloads(media):
    """Digest payloads (synthesize_media) are not AVI containers: the
    type-filtering sampler drops them all rather than faking frames."""
    assert sample_frames(media, every_ms=500).count() == 0


def test_jpeg_full_decoder_roundtrip_and_failure_modes():
    """_jpeg_decode_gray reconstructs the exact pixel field
    _jpeg_bytes encoded — flat DC-only frames AND frames with the
    (4,4) AC coefficient, whose entropy coding exercises ZRL runs,
    AC magnitude bits, dezigzag, dequantize, and the 2-D IDCT (all
    dims/gray combos incl. non-multiple-of-8 crops). Streams outside
    baseline grayscale (progressive SOF2, truncated entropy) must
    fail loudly, never emit guessed pixels."""
    import numpy as np
    import pytest

    from dot_spark.operators.multimodal import _jpeg_bytes, _jpeg_decode_gray

    s = np.array([1, -1, -1, 1, 1, -1, -1, 1])
    for w, h, g, c in [
        (8, 8, 64, 0), (16, 12, 191, 0), (17, 13, 77, 9),
        (9, 1, 128, 3), (24, 20, 100, 5), (31, 23, 150, 1),
    ]:
        px = _jpeg_decode_gray(_jpeg_bytes(w, h, (g,), ac44=c))
        assert px.shape == (h, w)
        want = g + 2 * c * np.outer(s[np.arange(h) % 8], s[np.arange(w) % 8])
        assert (px == want).all()
    # truncated entropy stream must fail, not emit partial frames
    b = _jpeg_bytes(32, 32, (200,), ac44=4)
    with pytest.raises(ValueError):
        _jpeg_decode_gray(b[:-10] + b"\xff\xd9")
    # progressive (SOF2) must be refused, not mis-decoded
    prog = b.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError):
        _jpeg_decode_gray(prog)


def test_metadata_only_query_prunes_payload(media, spark, tmp_path):
    """Filters on meta must not read the payload column: write to
    parquet and check the scan's ReadSchema excludes payload."""
    p = str(tmp_path / "media")
    media.write.parquet(p)
    df = spark.read.parquet(p).filter(F.col("meta.kind") == "image").select(
        "media_id", "meta.width"
    )
    plan = physical_plan(df)
    assert "payload" not in plan


def test_resize_thumbnail_pixels_match_formula(spark):
    """The 8x8 nearest-neighbor thumbnail of a synthesized PNG must
    equal the synthesis formula sampled at floor-scaled indices —
    verified pixel-exactly via the md5 signature, plus the exact mean
    (/64 is a power-of-two division). Direct payloads with non-zero
    scanline filters and an RGB color type must thumbnail the
    decoded brightness grid (_png_pixels) the same way."""
    import hashlib

    import numpy as np
    from pyspark.sql import functions as F

    from dot_spark.operators.multimodal import (
        _png_encode,
        _png_pixels,
        resize_images,
        synthesize_real_media,
    )

    # doc_id 6 -> image row: w=6%48+16=22, h=6%32+16=22, seed=6
    docs = spark.createDataFrame([(6, "x")], "doc_id bigint, text string")
    out = resize_images(synthesize_real_media(docs)).collect()
    assert len(out) == 1
    r = out[0]
    w = h = 22
    seed = 6
    pix = [
        (((k % 8) * w // 8) * 7 + ((k // 8) * h // 8) * 13 + seed) % 256
        for k in range(64)
    ]
    assert r["thumb_sig"] == hashlib.md5(
        ",".join(str(v) for v in pix).encode()
    ).hexdigest()
    assert r["mean_px"] == round(sum(pix) / 64.0, 4)
    assert (r["out_w"], r["out_h"]) == (8, 8)

    x = np.arange(19)[None, :]
    y = np.arange(13)[:, None]
    gray = ((7 * x + 13 * y + 5) % 256).astype(np.uint8)
    rgb = np.dstack([gray, (11 * x + 5 * y) % 256, (3 * x + 17 * y) % 256])
    payloads = {
        1: _png_encode(gray, 0, filters=lambda i: (i + 1) % 5),
        2: _png_encode(rgb.astype(np.uint8), 2),
    }
    direct = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()],
        "media_id bigint, payload binary",
    )
    got = {r["media_id"]: r for r in resize_images(direct).collect()}
    assert set(got) == set(payloads)
    for mid, payload in payloads.items():
        px = _png_pixels(payload)
        h, w = px.shape
        thumb = px[(np.arange(8) * h) // 8][:, (np.arange(8) * w) // 8].ravel()
        assert got[mid]["thumb_sig"] == hashlib.md5(
            ",".join(str(int(v)) for v in thumb).encode()
        ).hexdigest(), mid
        assert got[mid]["mean_px"] == round(float(thumb.mean()), 4), mid


def test_resize_drops_non_image_rows(spark):
    from dot_spark.operators.multimodal import resize_images, synthesize_real_media

    # ids 0,1,2 -> image, audio, video; only the image row survives
    docs = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "doc_id bigint, text string"
    )
    out = resize_images(synthesize_real_media(docs)).collect()
    assert [r["media_id"] for r in out] == [0]


def test_audio_rms_windows_match_formula_including_tail(spark):
    """Windowed RMS over a real decoded WAV: every full window and
    the short TAIL window must match the synthesis formula exactly
    (int16 two's complement, integer sum-of-squares / n)."""
    import math

    from dot_spark.operators.multimodal import audio_rms, synthesize_real_media

    # doc_id 1 -> audio row: n_frames = 1 % 500 + 100 = 101 -> windows 100 + 1
    docs = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
    out = {r["win_idx"]: r for r in audio_rms(synthesize_real_media(docs)).collect()}
    assert set(out) == {0, 1}
    assert out[0]["n_samples"] == 100 and out[1]["n_samples"] == 1

    seed = 1
    def sample(i):
        v = (31 * i + seed) % 256 + 256 * ((31 * i + seed + 1) % 256)
        return v - 65536 if v >= 32768 else v

    for wi, lo, hi in ((0, 0, 100), (1, 100, 101)):
        vals = [sample(i) for i in range(lo, hi)]
        want = round(math.sqrt(sum(v * v for v in vals) / len(vals)), 3)
        assert out[wi]["rms"] == want


def test_audio_rms_drops_non_audio_rows(spark):
    from dot_spark.operators.multimodal import audio_rms, synthesize_real_media

    docs = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "doc_id bigint, text string"
    )
    out = audio_rms(synthesize_real_media(docs)).collect()
    assert {r["media_id"] for r in out} == {1}


def test_image_phash_matches_closed_form_pixel_truth(spark, sf_dir):
    """The aHash must be derivable from the SYNTHESIS closed form
    (pixel(x,y) = (x*7 + y*13 + seed) % 256) — i.e. the decode +
    hash path recovers exactly what was encoded, bit for bit, via
    an independent numpy replay of the grid rule."""
    import numpy as np

    from dot_spark.operators.multimodal import image_phash, synthesize_real_media

    docs = load_table(spark, "documents", sf_dir).filter(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 60)
    )
    got = {
        r["media_id"]: (r["phash"], r["b0"], r["b1"], r["b2"], r["b3"])
        for r in image_phash(synthesize_real_media(docs)).collect()
    }
    assert got, "no image rows"
    for mid, (phash, *bands) in got.items():
        w, h, seed = mid % 48 + 16, mid % 32 + 16, mid % 256
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        px = (x * 7 + y * 13 + seed) % 256
        ci = (np.arange(h) * 8) // h
        cj = (np.arange(w) * 8) // w
        flat = (ci[:, None] * 8 + cj[None, :]).ravel()
        sums = np.bincount(flat, weights=px.ravel(), minlength=64)
        cnts = np.bincount(flat, minlength=64)
        ts, tn = int(px.sum()), w * h
        bits = [int(int(sums[p]) * tn > ts * int(cnts[p])) for p in range(64)]
        exp_bands = [
            sum(bits[b * 16 + i] << i for i in range(16)) for b in range(4)
        ]
        assert bands == exp_bands, mid
        assert phash == "%04x%04x%04x%04x" % tuple(exp_bands), mid


def test_phash_neardup_matches_bruteforce_band_semantics(spark, sf_dir):
    """Every reported pair must (a) share at least one 16-bit band
    (the candidate contract) and (b) sit at the exact Hamming
    distance a brute-force xor over the collected hashes computes;
    and NO qualifying pair may be missing."""
    from dot_spark.operators.multimodal import (
        image_phash,
        phash_neardup,
        synthesize_real_media,
    )

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") % 3 == 0)
    hashes = image_phash(synthesize_real_media(docs)).cache()
    hs = {r["media_id"]: (r["b0"], r["b1"], r["b2"], r["b3"]) for r in hashes.collect()}
    expected = {}
    ids = sorted(hs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ba, bb = hs[a], hs[b]
            if not any(ba[k] == bb[k] for k in range(4)):
                continue
            ham = sum(bin(ba[k] ^ bb[k]).count("1") for k in range(4))
            if ham <= 12:
                expected[(a, b)] = ham
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_neardup(hashes, max_hamming=12).collect()
    }
    hashes.unpersist()
    assert got == expected


def test_phash_neardup_hot_bucket_cap_laws(spark, sf_dir):
    """max_bucket on the band join (the dd5b hot-cell cap applied to
    phash buckets): cap >= the true max bucket size is the IDENTITY;
    a lower cap removes exactly the pairs whose ONLY shared bands are
    hot; cap 0 (every non-empty bucket hot) yields no pairs."""
    from collections import Counter

    from dot_spark.operators.multimodal import (
        image_phash,
        phash_neardup,
        synthesize_real_media,
    )

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") % 3 == 0)
    hashes = image_phash(synthesize_real_media(docs)).cache()
    hs = {r["media_id"]: (r["b0"], r["b1"], r["b2"], r["b3"]) for r in hashes.collect()}
    bucket_n = Counter((k, v[k]) for v in hs.values() for k in range(4))
    mx = max(bucket_n.values())

    base = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_neardup(hashes, max_hamming=12).collect()
    }
    got_id = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_neardup(hashes, max_hamming=12, max_bucket=mx).collect()
    }
    assert got_id == base  # identity at cap == max bucket size

    cap = mx - 1
    expected = {}
    ids = sorted(hs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ba, bb = hs[a], hs[b]
            if not any(
                ba[k] == bb[k] and bucket_n[(k, ba[k])] <= cap for k in range(4)
            ):
                continue
            ham = sum(bin(ba[k] ^ bb[k]).count("1") for k in range(4))
            if ham <= 12:
                expected[(a, b)] = ham
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_neardup(hashes, max_hamming=12, max_bucket=cap).collect()
    }
    assert got == expected  # surgical: only hot-bucket-only pairs vanish

    assert phash_neardup(hashes, max_hamming=12, max_bucket=0).count() == 0
    hashes.unpersist()


def test_audio_energy_matches_rms_and_integer_exactness(spark, sf_dir):
    """audio_energy's integer sum-of-squares must agree with
    audio_rms's float RMS on every window (same decode, same
    windows): rms == round(sqrt(sum_sq / n), 3)."""
    import math

    from dot_spark.operators.multimodal import (
        audio_energy,
        audio_rms,
        synthesize_real_media,
    )

    docs = load_table(spark, "documents", sf_dir).limit(30)
    real = synthesize_real_media(docs).cache()
    rms = {
        (r.media_id, r.win_idx): (r.n_samples, r.rms)
        for r in audio_rms(real).collect()
    }
    eng = audio_energy(real).collect()
    assert rms and len(eng) == len(rms)
    for r in eng:
        n, expect = rms[(r.media_id, r.win_idx)]
        assert r.n_samples == n
        assert round(math.sqrt(r.sum_sq / n), 3) == expect
    real.unpersist()


def test_phash_auto_cap_identity_on_fixture(spark, sf_dir):
    """max_bucket='auto' equals max_bucket=None on the un-degenerate
    image fixture (densest band bucket 5 at sf0.001 vs a derived cap
    of 32), the identity law mm7's r11 gate row rests on under the
    derived cap."""
    from dot_spark.operators.multimodal import (
        image_phash,
        phash_neardup,
        synthesize_real_media,
    )

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") % 3 == 0)
    hashes = image_phash(synthesize_real_media(docs)).cache()
    auto = {
        tuple(r)
        for r in phash_neardup(hashes, max_hamming=12, max_bucket="auto").collect()
    }
    base = {
        tuple(r) for r in phash_neardup(hashes, max_hamming=12).collect()
    }
    hashes.unpersist()
    assert auto == base


def test_progressive_jpeg_decodes_for_real(spark):
    """r14: the former ok=false progressive boundary is now a real
    multi-scan decode — a structurally-valid SOF2 stream fully
    reconstructs (ok=true, decoder='jpeg-progressive', n_bytes =
    sample count), a baseline stream in the same frame still
    entropy-decodes, and _parse_jpeg still flags the SOF2 marker."""
    from dot_spark.operators.multimodal import (
        _parse_jpeg,
        _progressive_jpeg_bytes,
        decode_media,
        synthesize_jpeg_media,
    )

    info = _parse_jpeg(_progressive_jpeg_bytes(24, 18, 100, 3))
    assert info["width"] == 24 and info["height"] == 18
    assert info["progressive"] is True

    # ids 2 (baseline gray), 3 (gray progressive: (3//9)%2 == 0) and
    # 12 (color progressive: cls 1, (12//9)%2 == 1)
    ids = spark.createDataFrame([(2,), (3,), (12,)], "doc_id long")
    rows = {
        r["media_id"]: r for r in decode_media(synthesize_jpeg_media(ids)).collect()
    }
    base, prog, cprog = rows[2], rows[3], rows[12]
    assert base["ok"] and base["decoder"] == "jpeg"
    assert base["n_bytes"] == base["width"] * base["height"]
    assert prog["ok"] and prog["decoder"] == "jpeg-progressive"
    assert prog["width"] == 3 % 48 + 16 and prog["height"] == 3 % 32 + 16
    assert prog["n_bytes"] == prog["width"] * prog["height"]
    assert cprog["ok"] and cprog["decoder"] == "jpeg-progressive"
    assert cprog["n_bytes"] == cprog["width"] * cprog["height"] * 3


def test_progressive_equals_baseline_pixels_law():
    """LAW: a progressive stream and a baseline stream encoding the
    SAME coefficients must decode to IDENTICAL pixels — the
    successive-approximation split (DC first/refine, AC first/refine,
    EOBRUN spans, newly-significant + correction-bit paths) is pure
    transport. Sweeps odd/even positive/negative DC (refinement bit
    both ways), ac44 0 (all-EOBRUN) / 1 (newly-significant in the
    refine scan) / >=2 (correction bits riding EOBRUN), and
    non-multiple-of-8 dims."""
    import numpy as np

    from dot_spark.operators.multimodal import (
        _jpeg_bytes,
        _jpeg_decode_baseline,
        _jpeg_decode_progressive,
        _progressive_jpeg_bytes,
    )

    for w, h in ((16, 16), (33, 21), (17, 40)):
        for gray in (64, 65, 127, 128, 191):
            for ac in (0, 1, 2, 9):
                b = _jpeg_decode_baseline(_jpeg_bytes(w, h, (gray,), ac))
                p = _jpeg_decode_progressive(
                    _progressive_jpeg_bytes(w, h, gray, ac)
                )
                assert p.shape == (h, w)
                assert (p == b).all(), (w, h, gray, ac)
    for y0, cb0, cr0, ac in (
        (100, 90, 160, 0), (150, 30, 200, 1), (191, 255, 0, 9)
    ):
        for sub in ("4:4:4", "4:2:0"):
            b = _jpeg_decode_baseline(
                _jpeg_bytes(33, 21, (y0, cb0, cr0), ac, sub)
            )
            p = _jpeg_decode_progressive(
                _progressive_jpeg_bytes(
                    33, 21, y0, ac, color=(cb0, cr0), subsample=sub
                )
            )
            assert p.shape == (21, 33, 3)
            assert (p == b).all(), (y0, cb0, cr0, ac, sub)
    assert isinstance(b, np.ndarray)


def test_progressive_refusals_are_accounted(spark):
    """Decoder refusals inside the progressive path (r14: restarts
    now DECODE — the refusal class is a declared restart interval
    whose RSTn markers are missing, i.e. layout desync) surface as
    the accounted ok=false/'jpeg-undecodable' row class, never an
    exception out of the corpus pass."""
    import struct

    from dot_spark.operators.multimodal import (
        _jpeg_decode_progressive,
        _progressive_jpeg_bytes,
        decode_media,
    )
    import pytest as _pytest

    good = _progressive_jpeg_bytes(24, 18, 100, 3)
    # splice a DRI segment (interval 1) right after SOI: the stream
    # declares a restart every MCU but carries no RSTn markers — the
    # decoder must refuse rather than mis-decode
    dri = struct.pack(">HHH", 0xFFDD, 4, 1)
    bad = good[:2] + dri + good[2:]
    with _pytest.raises(ValueError):
        _jpeg_decode_progressive(bad)

    media = spark.createDataFrame(
        [(1, bytearray(bad), ("image", "jpeg", 24, 18, None, None))],
        "media_id long, payload binary, "
        "meta struct<kind:string,format:string,width:int,height:int,"
        "sample_rate:int,duration_ms:int>",
    )
    row = decode_media(media).collect()[0]
    assert not row["ok"] and row["decoder"] == "jpeg-undecodable"
    assert row["width"] == 24 and row["n_bytes"] is None


def test_color_jpeg_roundtrip_both_subsamplings():
    """_jpeg_decode_baseline reconstructs the exact RGB field the
    3-component _jpeg_bytes encoded — interleaved YCbCr MCUs,
    per-component DC predictors, SOS-mapped chroma table ids, chroma
    upsampling, and the 10^-6 fixed-point JFIF transform — and
    4:2:0 / 4:4:4 payloads of the same content decode to IDENTICAL
    pixels (flat chroma makes subsampling value-invariant, which is
    what lets one oracle pin both paths)."""
    import numpy as np

    from dot_spark.operators.multimodal import (
        _jpeg_bytes,
        _jpeg_decode_baseline,
    )

    s = np.array([1, -1, -1, 1, 1, -1, -1, 1])
    m = 1_000_000
    for w, h, y0, cb0, cr0, ac in [
        (16, 16, 100, 90, 160, 0),
        (17, 23, 70, 200, 30, 5),
        (63, 47, 191, 7, 255, 9),
        (9, 1, 128, 128, 128, 3),
    ]:
        yy = (
            y0 + 2 * ac * np.outer(s[np.arange(h) % 8], s[np.arange(w) % 8])
        ).astype(np.int64)
        cb, cr = np.int64(cb0), np.int64(cr0)
        want = np.stack(
            [
                np.clip((m * yy + 1_402_000 * (cr - 128) + m // 2) // m, 0, 255),
                np.clip(
                    (m * yy - 344_136 * (cb - 128) - 714_136 * (cr - 128) + m // 2)
                    // m,
                    0,
                    255,
                ),
                np.clip((m * yy + 1_772_000 * (cb - 128) + m // 2) // m, 0, 255),
            ],
            axis=-1,
        ).astype(np.uint8)
        px420 = _jpeg_decode_baseline(
            _jpeg_bytes(w, h, (y0, cb0, cr0), ac, "4:2:0")
        )
        px444 = _jpeg_decode_baseline(
            _jpeg_bytes(w, h, (y0, cb0, cr0), ac, "4:4:4")
        )
        assert px420.shape == (h, w, 3)
        assert np.array_equal(px420, want)
        assert np.array_equal(px444, want)


def test_gray_wrapper_refuses_color():
    """Callers that require a 2-D grid (the MJPEG frame path) must
    never silently receive an RGB cube."""
    import pytest

    from dot_spark.operators.multimodal import (
        _jpeg_bytes,
        _jpeg_decode_gray,
    )

    with pytest.raises(ValueError, match="multi-component"):
        _jpeg_decode_gray(_jpeg_bytes(16, 16, (100, 90, 160), subsample="4:2:0"))


def test_decode_media_color_and_multicomponent_classes(spark):
    """decode_media dispatch across the full JPEG surface: color
    baseline decodes for real (ok=true, decoder='jpeg-color',
    n_bytes = w*h*3), and an exotic component count (4 = Adobe CMYK
    layout) is ACCOUNTED (ok=false, decoder='jpeg-multicomponent',
    structural dims, NULL n_bytes) — one exotic payload can never
    crash a corpus-wide decode pass."""
    import struct

    import pandas as pd

    from dot_spark.operators.multimodal import decode_media, synthesize_jpeg_media

    # id 6 -> cls (6//3)%3 = 2 -> color
    ids = spark.createDataFrame([(6,)], "doc_id long")
    row = decode_media(synthesize_jpeg_media(ids)).collect()[0]
    assert row["ok"] and row["decoder"] == "jpeg-color"
    assert row["width"] == 6 % 48 + 16 and row["height"] == 6 % 32 + 16
    assert row["n_bytes"] == row["width"] * row["height"] * 3

    # hand-built 4-component SOF0 (CMYK-shaped): structurally valid
    # marker stream, no decodable scan
    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    sof = seg(
        0xFFC0,
        struct.pack(">BHHB", 8, 10, 12, 4)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0]),
    )
    sos = seg(0xFFDA, b"\x04" + bytes([1, 0, 2, 0, 3, 0, 4, 0]) + b"\x00\x3f\x00")
    cmyk = b"\xff\xd8" + sof + sos + b"\x12\x34" + b"\xff\xd9"
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1],
                "payload": [cmyk],
                "meta": [
                    {
                        "kind": "image",
                        "format": "jpeg",
                        "width": 12,
                        "height": 10,
                        "sample_rate": None,
                        "duration_ms": None,
                    }
                ],
            }
        )
    )
    r = decode_media(media).collect()[0]
    assert not r["ok"] and r["decoder"] == "jpeg-multicomponent"
    assert r["width"] == 12 and r["height"] == 10 and r["n_bytes"] is None


def test_jpeg_rgb_sums_match_decoded_pixels(spark):
    """jpeg_rgb_sums' channel sums equal a direct numpy sum of the
    decoded RGB cube for both subsampling classes (ids 6 and 15:
    (6//9)%2=0 -> 4:2:0, (15//9)%2=1 -> 4:4:4)."""
    import numpy as np

    from dot_spark.operators.multimodal import (
        _jpeg_decode_baseline,
        jpeg_rgb_sums,
        synthesize_jpeg_media,
    )

    ids = spark.createDataFrame([(6,), (15,)], "doc_id long")
    media = synthesize_jpeg_media(ids)
    payloads = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    out = {r["media_id"]: r for r in jpeg_rgb_sums(media).collect()}
    for mid, p in payloads.items():
        px = _jpeg_decode_baseline(p).astype(np.int64)
        r = out[mid]
        assert (r["width"], r["height"]) == (px.shape[1], px.shape[0])
        assert r["n_px"] == px.shape[0] * px.shape[1]
        assert r["sum_r"] == int(px[:, :, 0].sum())
        assert r["sum_g"] == int(px[:, :, 1].sum())
        assert r["sum_b"] == int(px[:, :, 2].sum())


def test_jpeg_restart_markers_roundtrip_and_reject():
    """DRI/RSTn decode (the camera/libjpeg error-resilience layout):
    a color stream with restart markers every N MCUs decodes to
    EXACTLY the pixels of its restart-free twin (per-segment byte
    re-alignment + DC predictor reset), for several intervals and
    both subsamplings; RST markers without a DRI declaration are
    refused, not guessed through."""
    import numpy as np
    import pytest

    from dot_spark.operators.multimodal import (
        _jpeg_bytes,
        _jpeg_decode_baseline,
    )

    for w, h, sub in [(17, 23, "4:2:0"), (33, 18, "4:4:4")]:
        plain = _jpeg_decode_baseline(
            _jpeg_bytes(w, h, (70, 200, 30), 5, sub)
        )
        for dri in (1, 2, 5):
            rst = _jpeg_decode_baseline(
                _jpeg_bytes(w, h, (70, 200, 30), 5, sub, restart_interval=dri)
            )
            assert np.array_equal(plain, rst), (w, h, sub, dri)
    with_dri = _jpeg_bytes(16, 16, (100, 90, 160), 3, "4:4:4", restart_interval=2)
    import struct

    dri_seg = struct.pack(">HH", 0xFFDD, 4) + struct.pack(">H", 2)
    assert dri_seg in with_dri
    with pytest.raises(ValueError, match="RST marker without"):
        _jpeg_decode_baseline(with_dri.replace(dri_seg, b""))


def test_png_full_codec_roundtrip_law():
    """Exhaustive PNG codec law: every 8-bit color type x every
    scanline filter (incl. a cycling mix) x straight/Adam7 x dims
    down to 1x1 (empty interlace passes) round-trips to the exact
    raw pixels. The decoder must INVERT the encoder's spec-forward
    filters; any off-by-one in the Sub/Average/Paeth byte stride or
    a misplaced interlace pass breaks equality."""
    import numpy as np

    from dot_spark.operators.multimodal import _png_decode_full, _png_encode

    rng = np.random.RandomState(7)
    for ct, ch in [(0, 1), (2, 3), (4, 2), (6, 4)]:
        for w, h in [(1, 1), (3, 2), (7, 5), (8, 8), (13, 9), (47, 31)]:
            arr = rng.randint(0, 256, (h, w, ch)).astype(np.uint8)
            planes = arr[:, :, 0] if ch == 1 else arr
            want = arr[:, :, 0] if ch == 1 else arr
            for fmode in (
                lambda i: 0, lambda i: 1, lambda i: 2,
                lambda i: 3, lambda i: 4, lambda i: i % 5,
            ):
                for interlace in (False, True):
                    dec = _png_decode_full(
                        _png_encode(planes, ct, filters=fmode, interlace=interlace)
                    )
                    assert dec.shape == want.shape and (dec == want).all(), (
                        ct, w, h, interlace,
                    )


def test_png_palette_and_interlace_laws():
    """Palette decode composes PLTE over the index grid exactly;
    Adam7 and straight encodings of the same planes decode to
    identical pixels (interlacing is a layout, never a value
    change)."""
    import numpy as np

    from dot_spark.operators.multimodal import _png_decode_full, _png_encode

    rng = np.random.RandomState(11)
    pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    idx = rng.randint(0, 256, (9, 13)).astype(np.uint8)
    dec = _png_decode_full(_png_encode(idx, 3, palette=pal, filters=lambda i: i % 5))
    assert (dec == pal[idx]).all()

    rgb = rng.randint(0, 256, (21, 17, 3)).astype(np.uint8)
    straight = _png_decode_full(_png_encode(rgb, 2, filters=lambda i: (i * 3) % 5))
    adam7 = _png_decode_full(
        _png_encode(rgb, 2, filters=lambda i: (i * 3) % 5, interlace=True)
    )
    assert (straight == adam7).all() and (straight == rgb).all()


def test_png_pixels_luma_and_alpha_laws():
    """_png_pixels reduces color payloads with the integer Rec.601
    luma (299R+587G+114B)//1000 and drops alpha planes; gray
    payloads pass through untouched."""
    import numpy as np

    from dot_spark.operators.multimodal import (
        _png_encode,
        _png_pixels,
    )

    rng = np.random.RandomState(3)
    rgb = rng.randint(0, 256, (6, 8, 3)).astype(np.int64)
    lum = _png_pixels(_png_encode(rgb.astype(np.uint8), 2, filters=lambda i: 4))
    want = (299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2]) // 1000
    assert (lum.astype(np.int64) == want).all()

    ga = rng.randint(0, 256, (5, 4, 2)).astype(np.uint8)
    assert (_png_pixels(_png_encode(ga, 4)) == ga[:, :, 0]).all()


def test_decode_media_png_boundary_and_undecodable_accounting(spark):
    """decode_media accounting across the PNG surface: a VALID
    16-bit stream is the classified boundary (ok=false,
    decoder='png-bitdepth', dims from IHDR, NULL n_bytes); a
    truncated IDAT is accounted ok=false/'png-undecodable'; a real
    filtered RGBA payload decodes (ok=true, n_bytes = w*h*4) — one
    exotic payload can never crash a corpus-wide decode pass."""
    import numpy as np
    import pandas as pd
    import struct
    import zlib

    from dot_spark.operators.multimodal import (
        _png_chunk,
        _png_encode,
        decode_media,
    )

    rng = np.random.RandomState(5)
    deep = _png_encode(
        rng.randint(0, 65536, (10, 12, 3)).astype(np.uint16), 2, bitdepth=16
    )
    good = _png_encode(
        rng.randint(0, 256, (10, 12, 4)).astype(np.uint8), 6,
        filters=lambda i: (i + 2) % 5,
    )
    # one scanline too few: inflates fine, fails reconstruction
    trunc = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 12, 10, 8, 0, 0, 0, 0))
        + _png_chunk(
            b"IDAT", zlib.compress(b"".join(b"\x00" + bytes(12) for _ in range(9)))
        )
        + _png_chunk(b"IEND", b"")
    )
    meta = {
        "kind": "image", "format": "png", "width": 12, "height": 10,
        "sample_rate": None, "duration_ms": None,
    }
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2, 3],
                "payload": [deep, trunc, good],
                "meta": [meta, meta, meta],
            }
        )
    )
    rows = {r["media_id"]: r for r in decode_media(media).collect()}
    assert not rows[1]["ok"] and rows[1]["decoder"] == "png-bitdepth"
    assert rows[1]["width"] == 12 and rows[1]["height"] == 10
    assert rows[1]["n_bytes"] is None
    assert not rows[2]["ok"] and rows[2]["decoder"] == "png-undecodable"
    assert rows[2]["width"] == 12 and rows[2]["height"] == 10
    assert rows[3]["ok"] and rows[3]["decoder"] == "png"
    assert rows[3]["n_bytes"] == 12 * 10 * 4


def test_png_rgb_sums_match_decoded_pixels(spark):
    """png_rgb_sums' channel sums equal a direct numpy sum of the
    decoded planes for one fixture id per decodable class (ids 1, 5,
    9, 13, 17, 21 -> cls 0..5), including the defined opaque alpha
    for alpha-less classes."""
    import numpy as np

    from dot_spark.operators.multimodal import (
        _png_decode_full,
        png_rgb_sums,
        synthesize_png_media,
    )

    ids = spark.createDataFrame([(i,) for i in (1, 5, 9, 13, 17, 21)], "doc_id long")
    media = synthesize_png_media(ids)
    payloads = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    got = {r["media_id"]: r for r in png_rgb_sums(media).collect()}
    assert set(got) == set(payloads)
    for mid, p in payloads.items():
        px = _png_decode_full(p).astype(np.int64)
        r = got[mid]
        n = r["width"] * r["height"]
        if px.ndim == 2:
            assert r["sum_r"] == r["sum_g"] == r["sum_b"] == int(px.sum())
            assert r["sum_a"] == 255 * n
        elif px.shape[2] == 2:
            assert r["sum_r"] == int(px[:, :, 0].sum())
            assert r["sum_a"] == int(px[:, :, 1].sum())
        else:
            assert r["sum_r"] == int(px[:, :, 0].sum())
            assert r["sum_g"] == int(px[:, :, 1].sum())
            assert r["sum_b"] == int(px[:, :, 2].sum())
            want_a = (
                int(px[:, :, 3].sum()) if px.shape[2] == 4 else 255 * n
            )
            assert r["sum_a"] == want_a


def test_progressive_restart_markers_roundtrip_and_reject():
    """Restart markers in PROGRESSIVE scans (r14): streams with a
    DRI + per-scan RSTn splits decode to pixels IDENTICAL to their
    restart-free twins across gray/color, both subsamplings, every
    AC class and several intervals; desync forms (RST without DRI,
    an EOBRUN forced across a boundary via a wrong DRI value) are
    refused, never mis-decoded."""
    import struct

    import pytest as _pytest

    from dot_spark.operators.multimodal import (
        _jpeg_decode_progressive,
        _progressive_jpeg_bytes,
    )

    for w, h in [(16, 16), (21, 13)]:
        for ac in (0, 1, 2, 9):
            for color, sub in [
                (None, "4:4:4"), ((40, 200), "4:4:4"), ((40, 200), "4:2:0"),
            ]:
                base = _jpeg_decode_progressive(
                    _progressive_jpeg_bytes(w, h, 130, ac, color=color, subsample=sub)
                )
                for ri in (1, 2, 7):
                    got = _jpeg_decode_progressive(
                        _progressive_jpeg_bytes(
                            w, h, 130, ac, color=color,
                            subsample=sub, restart_interval=ri,
                        )
                    )
                    assert got.shape == base.shape and (got == base).all(), (
                        w, h, ac, color, sub, ri,
                    )

    # RST markers present but the DRI declares interval 0: refuse
    with_rst = _progressive_jpeg_bytes(24, 18, 100, 3, restart_interval=2)
    i = with_rst.find(struct.pack(">HHH", 0xFFDD, 4, 2))
    assert i >= 0
    no_dri = with_rst.replace(
        struct.pack(">HHH", 0xFFDD, 4, 2), struct.pack(">HHH", 0xFFDD, 4, 0)
    )
    with _pytest.raises(ValueError):
        _jpeg_decode_progressive(no_dri)

    # DRI rewritten to a larger interval than the stream's actual
    # RST cadence: segment layout desyncs and must raise
    wrong_dri = with_rst.replace(
        struct.pack(">HHH", 0xFFDD, 4, 2), struct.pack(">HHH", 0xFFDD, 4, 5)
    )
    with _pytest.raises(ValueError):
        _jpeg_decode_progressive(wrong_dri)


def test_sof1_extended_sequential_decodes_and_12bit_refused(spark):
    """SOF1 (extended sequential) frames decode on the baseline path
    at 8-bit precision with pixels IDENTICAL to their SOF0 twins
    (the marker only widens allowed precision/table ids); a 12-bit
    SOF1 frame is refused and accounted, never mis-decoded."""
    import struct

    import pytest as _pytest

    from dot_spark.operators.multimodal import (
        _jpeg_bytes,
        _jpeg_decode_baseline,
        decode_media,
    )

    for w, h in [(16, 16), (21, 13)]:
        for ac in (0, 3, 9):
            base = _jpeg_decode_baseline(_jpeg_bytes(w, h, (130,), ac))
            ext = _jpeg_decode_baseline(_jpeg_bytes(w, h, (130,), ac, extended=True))
            assert ext.shape == base.shape and (ext == base).all()

    # rewrite the SOF1 precision byte to 12: refusal, accounted
    good = _jpeg_bytes(24, 18, (100,), 2, extended=True)
    sof1 = struct.pack(">HH", 0xFFC1, 11) + struct.pack(">BHHB", 8, 18, 24, 1)
    assert sof1 in good
    deep = good.replace(
        sof1, struct.pack(">HH", 0xFFC1, 11) + struct.pack(">BHHB", 12, 18, 24, 1)
    )
    with _pytest.raises(ValueError):
        _jpeg_decode_baseline(deep)
    media = spark.createDataFrame(
        [(1, bytearray(deep), ("image", "jpeg", 24, 18, None, None))],
        "media_id long, payload binary, "
        "meta struct<kind:string,format:string,width:int,height:int,"
        "sample_rate:int,duration_ms:int>",
    )
    row = decode_media(media).collect()[0]
    assert not row["ok"] and row["decoder"] == "jpeg-undecodable"
    assert row["width"] == 24 and row["n_bytes"] is None


def test_cmyk_ycck_decode_matches_composite_and_accounting(spark):
    """Adobe 4-component decode law: YCCK (transform 2) runs the
    fixed-point YCbCr transform then the inverted-ink K composite
    ((v*k+127)//255); direct CMYK (transform 0) composites the stored
    planes; both match a direct numpy recompute exactly. Through
    decode_media: ok=true / decoder='jpeg-cmyk' / n_bytes = w*h*3;
    a 4-component stream WITHOUT the APP14 transform stays the
    accounted 'jpeg-multicomponent' class (pinned by the existing
    multicomponent test as well)."""
    import struct

    import numpy as np

    from dot_spark.operators.multimodal import (
        _jpeg_bytes,
        _jpeg_decode_baseline,
        decode_media,
        synthesize_cmyk_media,
    )

    s = np.array([1, -1, -1, 1, 1, -1, -1, 1])
    m = 1_000_000
    for w, h in [(16, 16), (21, 13)]:
        for ac in (0, 3, 9):
            for c1, c2, c3, k0 in [(130, 40, 200, 255), (100, 128, 128, 77)]:
                x = np.arange(w)[None, :]
                y = np.arange(h)[:, None]
                yy = (c1 + 2 * ac * (s[x % 8] * s[y % 8])).astype(np.int64)
                # YCCK
                px = _jpeg_decode_baseline(
                    _jpeg_bytes(w, h, (c1, c2, c3, k0), ac, transform=2)
                )
                r = np.clip((m * yy + 1_402_000 * (c3 - 128) + m // 2) // m, 0, 255)
                g = np.clip(
                    (m * yy - 344_136 * (c2 - 128) - 714_136 * (c3 - 128) + m // 2)
                    // m, 0, 255,
                )
                b = np.clip((m * yy + 1_772_000 * (c2 - 128) + m // 2) // m, 0, 255)
                want = np.stack(
                    [(r * k0 + 127) // 255, (g * k0 + 127) // 255,
                     (b * k0 + 127) // 255], axis=-1,
                )
                assert (px == want).all()
                # direct CMYK
                px = _jpeg_decode_baseline(
                    _jpeg_bytes(w, h, (c1, c2, c3, k0), ac, transform=0)
                )
                cp = np.clip(yy, 0, 255)
                want = np.stack(
                    [(cp * k0 + 127) // 255,
                     (np.full((h, w), c2, np.int64) * k0 + 127) // 255,
                     (np.full((h, w), c3, np.int64) * k0 + 127) // 255], axis=-1,
                )
                assert (px == want).all()

    # through decode_media: real decode with the 'jpeg-cmyk' label
    ids = spark.createDataFrame([(2,), (7,)], "doc_id long")  # YCCK, CMYK
    rows = {r["media_id"]: r for r in
            decode_media(synthesize_cmyk_media(ids)).collect()}
    for mid in (2, 7):
        r = rows[mid]
        assert r["ok"] and r["decoder"] == "jpeg-cmyk"
        assert r["n_bytes"] == r["width"] * r["height"] * 3

    # stripping the APP14 flips a valid stream to the accounted class
    raw = _jpeg_bytes(16, 16, (130, 40, 200, 255), 2, transform=2)
    app14 = struct.pack(">HH", 0xFFEE, 14) + b"Adobe" + struct.pack(
        ">HHHB", 100, 0, 0, 2
    )
    assert app14 in raw
    noapp = raw.replace(app14, b"")
    media = spark.createDataFrame(
        [(1, bytearray(noapp), ("image", "jpeg", 16, 16, None, None))],
        "media_id long, payload binary, "
        "meta struct<kind:string,format:string,width:int,height:int,"
        "sample_rate:int,duration_ms:int>",
    )
    row = decode_media(media).collect()[0]
    assert not row["ok"] and row["decoder"] == "jpeg-multicomponent"
    assert row["n_bytes"] is None
