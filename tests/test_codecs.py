"""Pure-numpy codecs (BMP/PPM/WAV) and the real multimodal decode path:
round-trips on random rasters/PCM, padding edge cases, malformed-input
errors, and feature extraction over real bytes end-to-end in Spark."""

import numpy as np
import pandas as pd
import pytest

from anomalydetector_spark.operators import codecs, multimodal


@pytest.mark.parametrize("shape", [(1, 1), (6, 8), (7, 5), (13, 3), (2, 17)])
def test_bmp_roundtrip_random(shape):
    """Row padding only vanishes when width*3 % 4 == 0 — odd widths
    exercise the pad path."""
    rng = np.random.default_rng(sum(shape))
    raster = rng.integers(0, 256, size=(*shape, 3), dtype=np.uint8)
    payload = codecs.encode_bmp(raster)
    assert payload[:2] == b"BM"
    np.testing.assert_array_equal(codecs.decode_bmp(payload), raster)


@pytest.mark.parametrize("shape", [(1, 1), (6, 8), (9, 7)])
def test_ppm_roundtrip_random(shape):
    rng = np.random.default_rng(sum(shape) + 1)
    raster = rng.integers(0, 256, size=(*shape, 3), dtype=np.uint8)
    payload = codecs.encode_ppm(raster)
    assert payload[:2] == b"P6"
    np.testing.assert_array_equal(codecs.decode_ppm(payload), raster)


def test_ppm_header_with_comments():
    raster = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    body = codecs.encode_ppm(raster)
    commented = b"P6\n# a comment\n3 2\n# another\n255\n" + body.split(b"\n", 3)[3]
    np.testing.assert_array_equal(codecs.decode_ppm(commented), raster)


@pytest.mark.parametrize("n,rate,channels", [(64, 16000, 1), (333, 8000, 1), (128, 44100, 2)])
def test_wav_roundtrip_random(n, rate, channels):
    rng = np.random.default_rng(n)
    pcm = rng.integers(-32768, 32767, size=n * channels, dtype=np.int16)
    payload = codecs.encode_wav(pcm, sample_rate=rate, channels=channels)
    samples, got_rate, got_ch = codecs.decode_wav(payload)
    assert (got_rate, got_ch) == (rate, channels)
    np.testing.assert_array_equal(samples, pcm)


def test_wav_decoder_skips_extra_chunks():
    pcm = np.array([1, -2, 3], dtype=np.int16)
    payload = codecs.encode_wav(pcm, 16000)
    # splice a LIST chunk between fmt and data (odd size → word padding)
    import struct
    fmt_end = payload.index(b"data")
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = payload[:fmt_end] + extra + payload[fmt_end:]
    samples, rate, _ = codecs.decode_wav(spliced)
    np.testing.assert_array_equal(samples, pcm)
    assert rate == 16000


def test_malformed_inputs_raise():
    with pytest.raises(ValueError):
        codecs.decode_bmp(b"NOTABMP")
    with pytest.raises(ValueError):
        codecs.decode_ppm(b"P5\n1 1\n255\nx")  # P5 is grayscale, unsupported
    with pytest.raises(ValueError):
        codecs.decode_wav(b"RIFFxxxxJUNK")
    # truncated raster
    raster = np.zeros((4, 4, 3), dtype=np.uint8)
    with pytest.raises(ValueError):
        codecs.decode_bmp(codecs.encode_bmp(raster)[:-8])
    assert codecs.sniff(b"\x89PNG") == "unknown"


def test_extract_features_real_bytes(spark):
    """End-to-end: REAL BMP and WAV payloads through mapInPandas, image
    features reflect the decoded raster (constant fill → exact mean),
    audio features the decoded PCM (constant amplitude → exact rms)."""
    med = multimodal.synth_media(spark, 12)
    out = {r.media_id: r for r in multimodal.extract_features(med).collect()}
    for mid, r in out.items():
        f = r.feature
        if r.kind == "image":
            assert f[0] == 6 and f[1] == 8  # height, width
            assert f[2] == pytest.approx((mid % 251) / 255.0, abs=1e-6)
            assert f[3] == pytest.approx(0.0, abs=1e-6)  # constant → std 0
        elif r.kind == "audio":
            assert f[0] == 64 and f[1] == 16000  # n_samples, rate
            assert f[3] == pytest.approx((mid % 1000) / 32768.0, abs=1e-6)
    # un-stubbed: parseable payloads decode fine; only video (no
    # library-free format) raises the marked stub error
    real_only = med.filter("kind <> 'video'")
    assert multimodal.extract_features(real_only, use_stub=False).count() == 8
    with pytest.raises(Exception, match="codec"):
        multimodal.extract_features(
            med.filter("kind = 'video'"), use_stub=False
        ).collect()


def test_extract_features_mixed_formats(spark):
    """PPM payloads decode through the same dispatch as BMP."""
    raster = np.full((3, 4, 3), 100, dtype=np.uint8)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2],
                "kind": ["image", "image"],
                "payload": [codecs.encode_ppm(raster), codecs.encode_bmp(raster)],
            }
        )
    )
    rows = {r.media_id: r.feature for r in
            multimodal.extract_features(df, use_stub=False).collect()}
    # same raster → identical features regardless of container format
    assert rows[1] == rows[2]
    assert rows[1][0] == 3 and rows[1][1] == 4


# ---------------------------------------------------------------- PNG
def _png_encode_independent(raster, filters):
    """Test-side PNG encoder, written independently of codecs.encode_png
    (which only ever emits filter 0): applies the given per-scanline
    filter types (RFC 2083 §6) with plain per-byte Python arithmetic, so
    decode_png's numpy unfiltering is checked against a second
    implementation, not itself."""
    import struct
    import zlib

    h, w, ch = raster.shape
    bpp = ch
    stride = w * bpp
    flat = raster.reshape(h, stride).astype(int)
    raw = bytearray()
    prior = [0] * stride
    for y in range(h):
        ft = filters[y % len(filters)]
        line = list(flat[y])
        raw.append(ft)
        for i in range(stride):
            a = line[i - bpp] if i >= bpp else 0      # left (recon)
            b = prior[i]                               # up (recon)
            c = prior[i - bpp] if i >= bpp else 0      # upper-left
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            raw.append((line[i] - pred) & 0xFF)
        prior = line

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    color_type = 2 if ch == 3 else 6
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


@pytest.mark.parametrize("shape,ch", [((1, 1), 3), ((6, 8), 3), ((7, 5), 4),
                                      ((13, 3), 3), ((2, 17), 4)])
def test_png_roundtrip_own_encoder(shape, ch):
    rng = np.random.default_rng(sum(shape) + ch)
    raster = rng.integers(0, 256, size=(*shape, ch), dtype=np.uint8)
    payload = codecs.encode_png(raster)
    assert codecs.sniff(payload) == "png"
    np.testing.assert_array_equal(codecs.decode_png(payload), raster)


@pytest.mark.parametrize("filters", [[0], [1], [2], [3], [4],
                                     [0, 1, 2, 3, 4], [4, 3, 2, 1]])
def test_png_decode_all_filter_types_independent_encoder(filters):
    """decode_png recovers the exact raster from PNGs produced by the
    independent per-byte encoder for every scanline filter type and
    mixed per-row filters — including RGBA."""
    rng = np.random.default_rng(sum(filters) + 7)
    for ch in (3, 4):
        raster = rng.integers(0, 256, size=(9, 11, ch), dtype=np.uint8)
        payload = _png_encode_independent(raster, filters)
        np.testing.assert_array_equal(codecs.decode_png(payload), raster)


def test_png_rejects_unsupported_loudly():
    raster = np.zeros((2, 2, 3), dtype=np.uint8)
    good = codecs.encode_png(raster)
    import struct

    # palette color type
    bad = bytearray(good)
    # IHDR body starts at 8 (magic) + 8 (len+tag); color type at +9
    bad[8 + 8 + 9] = 3
    with pytest.raises(ValueError, match="RGB/RGBA"):
        codecs.decode_png(bytes(bad))
    # 16-bit depth
    bad = bytearray(good)
    bad[8 + 8 + 8] = 16
    with pytest.raises(ValueError, match="RGB/RGBA"):
        codecs.decode_png(bytes(bad))
    # interlaced
    bad = bytearray(good)
    bad[8 + 8 + 12] = 1
    with pytest.raises(ValueError, match="Adam7"):
        codecs.decode_png(bytes(bad))
    with pytest.raises(ValueError, match="PNG"):
        codecs.decode_png(b"\x89PNG\r\n\x1a\nnot-chunks")
    # truncated scanline data
    h, w = 2, 2
    import zlib
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))
    short = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
             + chunk(b"IDAT", zlib.compress(b"\x00\x01\x02"))
             + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="length"):
        codecs.decode_png(short)


def test_png_features_spark(spark):
    """End-to-end Spark: real PNG bytes (independent encoder, mixed
    filters) through extract_features — features equal the same raster
    shipped as BMP."""
    rng = np.random.default_rng(99)
    raster = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
    png = _png_encode_independent(raster, [0, 1, 2, 3, 4])
    rgba = np.dstack([raster, np.full((6, 8), 7, dtype=np.uint8)])
    png_a = _png_encode_independent(rgba, [4, 2])
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2, 3],
                "kind": ["image"] * 3,
                "payload": [png, codecs.encode_bmp(raster), png_a],
            }
        )
    )
    rows = {r.media_id: r.feature for r in
            multimodal.extract_features(df, use_stub=False).collect()}
    assert rows[1] == rows[2]          # same raster, different container
    assert rows[3] == rows[1]          # alpha dropped for features


def test_png_unfilter_hypothesis_fuzz():
    """Randomized sweep: arbitrary shapes, channel counts, and per-row
    filter assignments through the independent encoder must round-trip
    bit-exactly. (Plain loop over seeded draws — the raster/filter space
    is too structured for @given to add value over volume.)"""
    rng = np.random.default_rng(20240821)
    for trial in range(40):
        h = int(rng.integers(1, 14))
        w = int(rng.integers(1, 19))
        ch = int(rng.choice([3, 4]))
        raster = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        filters = rng.integers(0, 5, size=h).tolist()
        payload = _png_encode_independent(raster, filters)
        np.testing.assert_array_equal(
            codecs.decode_png(payload), raster,
            err_msg=f"trial={trial} h={h} w={w} ch={ch} filters={filters}",
        )
    # degenerate rasters that stress the filter predictors: constant,
    # saturated, alternating extremes
    for fill in (0, 255):
        r = np.full((5, 7, 3), fill, dtype=np.uint8)
        for ft in range(5):
            np.testing.assert_array_equal(
                codecs.decode_png(_png_encode_independent(r, [ft])), r
            )
    alt = np.zeros((6, 8, 4), dtype=np.uint8)
    alt[::2] = 255
    np.testing.assert_array_equal(
        codecs.decode_png(_png_encode_independent(alt, [4, 3, 2, 1, 0])), alt
    )


# --------------------------------------------------------------------------
# JPEG
# --------------------------------------------------------------------------


def _smooth_rgb(h, w, seed=0):
    """Band-limited test raster: JPEG error bounds only make sense on
    smooth content (hard edges ring by design)."""
    rng = np.random.default_rng(seed)
    base = rng.integers(40, 216, size=(3,))
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [
            base[0] + 28 * np.sin(xx / 7.0) + 20 * np.cos(yy / 9.0),
            base[1] + 24 * np.cos(xx / 11.0) - 18 * np.sin(yy / 6.0),
            base[2] + 20 * np.sin((xx + yy) / 13.0),
        ],
        axis=2,
    )
    return np.clip(np.round(img), 0, 255).astype(np.uint8)


def test_jpeg_dct_pair_orthonormal():
    """The encoder's forward DCT and the decoder's inverse are exact
    inverses because A is orthonormal — the cross-validation that makes
    encoder-vs-decoder round-trips meaningful."""
    a = codecs._jpeg_dct_matrix()
    np.testing.assert_allclose(a @ a.T, np.eye(8), atol=1e-12)
    rng = np.random.default_rng(5)
    f = rng.normal(size=(8, 8))
    coef = a @ f @ a.T
    np.testing.assert_allclose(a.T @ coef @ a, f, atol=1e-10)


def test_jpeg_flat_gray_exact():
    """Flat blocks carry only a DC coefficient; at quality 50 the luma
    DC quantizer is 16, so any even level-shifted value survives
    quantization exactly — decode is bit-exact, which is what the
    driver oracle predicts arithmetic-only."""
    for v in (2, 64, 100, 128, 129, 200, 254):
        img = np.full((16, 24), v, dtype=np.uint8)
        payload = codecs.encode_jpeg(img, quality=50)
        assert codecs.sniff(payload) == "jpeg"
        out = codecs.decode_jpeg(payload)
        assert out.shape == (16, 24, 3)
        if (v - 128) % 2 == 0:
            assert (out == v).all()
        else:  # odd offsets may round by at most 1
            assert np.abs(out.astype(int) - v).max() <= 1


@pytest.mark.parametrize(
    "shape,sub",
    [((16, 16), "444"), ((24, 40), "444"), ((17, 33), "444"),
     ((16, 16), "420"), ((24, 40), "420"), ((17, 33), "420"),
     ((8, 8), "444"), ((9, 9), "420")],
)
def test_jpeg_roundtrip_smooth_tolerance(shape, sub):
    img = _smooth_rgb(*shape, seed=sum(shape))
    q = 95 if sub == "444" else 90
    out = codecs.decode_jpeg(
        codecs.encode_jpeg(img, quality=q, subsampling=sub)
    )
    assert out.shape == (*shape, 3)
    err = np.abs(out.astype(int) - img.astype(int))
    # smooth content: tight bound at 4:4:4 q95, chroma-averaged at 4:2:0
    assert err.max() <= (6 if sub == "444" else 14), err.max()
    assert err.mean() <= (1.5 if sub == "444" else 3.0), err.mean()


def test_jpeg_restart_intervals_decode_identically():
    img = _smooth_rgb(24, 40, seed=3)
    plain = codecs.decode_jpeg(codecs.encode_jpeg(img, quality=90))
    for ri in (1, 2, 7):
        with_rst = codecs.decode_jpeg(
            codecs.encode_jpeg(img, quality=90, restart_interval=ri)
        )
        np.testing.assert_array_equal(plain, with_rst)


def test_jpeg_gray_roundtrip_and_replication():
    rng = np.random.default_rng(11)
    img = np.clip(
        120 + np.cumsum(rng.integers(-2, 3, size=(16, 16)), axis=1),
        0, 255,
    ).astype(np.uint8)
    out = codecs.decode_jpeg(codecs.encode_jpeg(img, quality=95))
    assert out.shape == (16, 16, 3)
    assert (out[:, :, 0] == out[:, :, 1]).all()
    assert (out[:, :, 0] == out[:, :, 2]).all()
    assert np.abs(out[:, :, 0].astype(int) - img.astype(int)).max() <= 4


def test_jpeg_rejects_unsupported_loudly():
    img = _smooth_rgb(16, 16, seed=1)
    good = codecs.encode_jpeg(img, quality=90)

    # progressive (SOF2) and arithmetic (SOF9) frame markers
    for sof, msg in ((0xC2, "progressive"), (0xC9, "arithmetic")):
        bad = bytearray(good)
        idx = bad.find(b"\xff\xc0")
        bad[idx + 1] = sof
        with pytest.raises(ValueError, match=msg):
            codecs.decode_jpeg(bytes(bad))

    # 16-bit quant table (DQT Pq nibble)
    bad = bytearray(good)
    idx = bad.find(b"\xff\xdb")
    bad[idx + 4] = 0x10
    with pytest.raises(ValueError, match="16-bit"):
        codecs.decode_jpeg(bytes(bad))

    # truncated entropy stream
    with pytest.raises(ValueError):
        codecs.decode_jpeg(good[: len(good) // 2])

    # not a JPEG at all
    with pytest.raises(ValueError, match="not a JPEG"):
        codecs.decode_jpeg(b"\x89PNG\r\n\x1a\nnope")

    with pytest.raises(ValueError):
        codecs.encode_jpeg(img, subsampling="422")


def _first_dht(payload: bytes) -> int:
    """Offset of the first DHT table's Tc/Th byte."""
    return payload.find(b"\xff\xc4") + 4


def test_jpeg_rejects_malformed_huffman_tables():
    img = _smooth_rgb(16, 16, seed=2)
    good = codecs.encode_jpeg(img, quality=90)
    at = _first_dht(good)
    bits = list(good[at + 1 : at + 17])

    # over-subscribed: three 1-bit codes cannot exist (only 0 and 1);
    # move the counts so the table's symbol total (and layout) holds
    j = next(i for i, b in enumerate(bits) if b >= 3 and i > 0)
    bad = bytearray(good)
    bad[at + 1] = bits[0] + 3
    bad[at + 1 + j] = bits[j] - 3
    with pytest.raises(ValueError, match="over-subscribed"):
        codecs.decode_jpeg(bytes(bad))
    with pytest.raises(ValueError, match="over-subscribed"):
        codecs._jpeg_decode_table([3] + [0] * 15, [1, 2, 3])
    # a full 1-bit level is legal: codes 0 and 1
    sym, ln = codecs._jpeg_decode_table([2] + [0] * 15, [7, 9])
    assert (sym[0], ln[0], sym[65535], ln[65535]) == (7, 1, 9, 1)

    # truncated: the DHT segment ends one symbol short of sum(BITS)
    bad = bytearray(good)
    seglen = int.from_bytes(bad[at - 2 : at], "big")
    bad[at - 2 : at] = (seglen - 1).to_bytes(2, "big")
    cut = at - 2 + seglen - 1
    bad[cut : cut + 1] = b""
    with pytest.raises(ValueError, match="truncated JPEG DHT"):
        codecs.decode_jpeg(bytes(bad))
    with pytest.raises(ValueError, match="truncated JPEG DHT"):
        codecs._jpeg_decode_table([0, 2] + [0] * 14, [4])
    with pytest.raises(ValueError, match="truncated JPEG DHT"):
        codecs._jpeg_decode_table([0, 2, 1], [4, 5, 6])


def test_jpeg_features_spark(spark):
    """JPEG payloads ride the same real mapInPandas decode path as
    PNG/BMP: features carry true dims + means."""
    rows = []
    for i, v in enumerate((60, 128, 200)):
        img = np.full((16, 24), v, dtype=np.uint8)
        rows.append(
            (i, "image", bytearray(codecs.encode_jpeg(img, quality=50)),
             "image/jpeg", 24, 16, None)
        )
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = {
        r.media_id: r.feature
        for r in multimodal.extract_features(
            media, use_stub=False
        ).collect()
    }
    for i, v in enumerate((60, 128, 200)):
        f = feats[i]
        assert f[0] == 16.0 and f[1] == 24.0
        assert abs(f[2] * 255.0 - v) < 0.5  # flat q50 decode is exact


# --------------------------------------------------------------------------
# MP4 container metadata
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "dur,w,h,codec",
    [(1000, 64, 48, b"avc1"), (12345, 1920, 1080, b"hvc1"),
     (500, 320, 240, b"av01"), (3600000, 3840, 2160, b"vp09")],
)
def test_mp4_metadata_roundtrip(dur, w, h, codec):
    p = codecs.build_mp4_header(dur, w, h, codec)
    assert codecs.sniff(p) == "mp4"
    m = codecs.parse_mp4_metadata(p)
    assert m == {
        "duration_ms": dur, "width": w, "height": h,
        "codec": codec.decode(), "n_tracks": 1, "handlers": ["vide"],
    }


def test_mp4_largesize_and_errors():
    import struct as st

    good = codecs.build_mp4_header(2000, 64, 48)
    # rewrite the ftyp box as a 64-bit largesize box: size=1 + largesize
    (sz,) = st.unpack_from(">I", good, 0)
    body = good[8:sz]
    large = (
        st.pack(">I", 1) + b"ftyp" + st.pack(">Q", len(body) + 16) + body
        + good[sz:]
    )
    m = codecs.parse_mp4_metadata(large)
    assert (m["duration_ms"], m["width"]) == (2000, 64)

    with pytest.raises(ValueError, match="not an MP4"):
        codecs.parse_mp4_metadata(b"\x00" * 16)
    with pytest.raises(ValueError, match="not an MP4"):
        codecs.parse_mp4_metadata(None)
    # corrupt a box length inside moov -> invalid box size
    bad = bytearray(good)
    moov_at = bad.find(b"moov") - 4
    st.pack_into(">I", bad, moov_at + 8, 7)  # first child size < 8
    with pytest.raises(ValueError, match="invalid MP4 box"):
        codecs.parse_mp4_metadata(bytes(bad))


def test_extract_video_metadata_spark(spark):
    """synth_media video rows now carry real MP4 headers: the
    mapInPandas box-walk recovers duration/dims/codec; image and audio
    payloads (not ISO-BMFF) yield NULL metadata rows."""
    media = multimodal.synth_media(spark, n=30)
    meta = {r.media_id: r for r in
            multimodal.extract_video_metadata(media).collect()}
    assert len(meta) == 30
    for mid, r in meta.items():
        if mid % 3 == 2:  # video rows
            assert r.duration_ms == (mid % 5) * 1000 + 1000
            assert (r.width, r.height) == (64, 48)
            assert r.codec == "avc1" and r.n_tracks == 1
        else:
            assert r.duration_ms is None and r.codec is None


def test_jpeg_malformed_headers_raise_valueerror_only():
    """Review fix: every malformed-header failure mode surfaces as
    ValueError (the module contract), never struct.error/IndexError/
    ZeroDivisionError."""
    import struct as st

    good = codecs.encode_jpeg(_smooth_rgb(16, 16, seed=2), quality=90)

    # truncated segment-length read right after a marker
    with pytest.raises(ValueError):
        codecs.decode_jpeg(b"\xff\xd8\xff\xe0")
    # truncated mid-header payloads at every cut point
    for cut in range(4, min(len(good), 200)):
        try:
            codecs.decode_jpeg(good[:cut])
        except ValueError:
            pass  # the only acceptable exception type
    # zero sampling factor in SOF
    bad = bytearray(good)
    sof = bad.find(b"\xff\xc0")
    bad[sof + 2 + 2 + 6 + 1] = 0x01  # comp0 h=0,v=1
    with pytest.raises(ValueError, match="sampling"):
        codecs.decode_jpeg(bytes(bad[: sof + 2 + 2 + 6 + 1 + 1]) + bytes(bad[sof + 2 + 2 + 6 + 2 :]))


def test_jpeg_fill_bytes_before_restart_marker():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
    marker; inject one before each RSTn and the decode must be
    identical (the old splitter treated FF FF as scan end)."""
    img = _smooth_rgb(24, 24, seed=9)
    p = codecs.encode_jpeg(img, quality=90, restart_interval=1)
    out = bytearray()
    i = 0
    while i < len(p):
        if p[i] == 0xFF and i + 1 < len(p) and 0xD0 <= p[i + 1] <= 0xD7:
            out += b"\xff"  # fill byte before the restart marker
        out.append(p[i])
        i += 1
    np.testing.assert_array_equal(
        codecs.decode_jpeg(bytes(out)), codecs.decode_jpeg(p)
    )


def test_mp4_malformed_raises_valueerror_and_quarantines(spark):
    """Review fix: malformed-but-ftyp payloads honor the ValueError
    contract (empty mvhd, truncated tkhd, mid-box cuts), and
    extract_video_metadata turns them into NULL-metadata rows instead
    of dying."""
    import struct as st

    def box(tag, body):
        return st.pack(">I", len(body) + 8) + tag + body

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00")
    empty_mvhd = ftyp + box(b"moov", box(b"mvhd", b""))
    short_tkhd = ftyp + box(b"moov", box(b"trak", box(b"tkhd", b"\x00" * 16)))
    good = codecs.build_mp4_header(1500, 64, 48)
    cut = good[: len(good) - 7]  # truncated final box body

    for bad in (empty_mvhd, short_tkhd, cut):
        with pytest.raises(ValueError):
            codecs.parse_mp4_metadata(bad)

    media = spark.createDataFrame(
        [(1, bytearray(empty_mvhd)), (2, bytearray(short_tkhd)),
         (3, bytearray(good))],
        "media_id long, payload binary",
    )
    rows = {r.media_id: r for r in
            multimodal.extract_video_metadata(media).collect()}
    assert rows[1].duration_ms is None and rows[2].width is None
    assert rows[3].duration_ms == 1500


def test_extract_video_metadata_null_media_id(spark):
    """A NULL media_id yields a NULL-id, NULL-metadata row — even beside
    a valid MP4 payload — instead of killing the mapInPandas task; the
    other rows of the batch keep their metadata."""
    good = codecs.build_mp4_header(1500, 64, 48)
    media = spark.createDataFrame(
        [(None, bytearray(good)), (7, bytearray(good)), (None, None)],
        "media_id long, payload binary",
    )
    rows = multimodal.extract_video_metadata(media).collect()
    assert len(rows) == 3
    nulls = [r for r in rows if r.media_id is None]
    assert len(nulls) == 2
    assert all(
        r.duration_ms is None and r.width is None and r.codec is None
        for r in nulls
    )
    (ok,) = [r for r in rows if r.media_id == 7]
    assert (ok.duration_ms, ok.width, ok.height) == (1500, 64, 48)


def test_featurize_unsupported_jpeg_mode_respects_use_stub(spark):
    """Review fix: a payload whose MAGIC matches a real decoder but
    whose body is rejected (progressive JPEG here) must fall back to
    the deterministic fake under use_stub=True — a web corpus always
    contains such payloads — and still raise under use_stub=False."""
    good = bytearray(codecs.encode_jpeg(_smooth_rgb(16, 16, seed=4),
                                        quality=90))
    idx = bytes(good).find(b"\xff\xc0")
    good[idx + 1] = 0xC2  # rewrite as progressive
    prog = bytes(good)

    media = spark.createDataFrame(
        [(1, "image", bytearray(prog), "image/jpeg", 16, 16, None)],
        multimodal.MEDIA_SCHEMA,
    )
    row = multimodal.extract_features(media, use_stub=True).collect()[0]
    import numpy as npic  # noqa: F401 - keep local namespace clean
    expect = multimodal._fake_decode(prog)
    assert row.feature == pytest.approx(list(expect))

    with pytest.raises(Exception, match="progressive"):
        multimodal.extract_features(media, use_stub=False).collect()


# --------------------------------------------------------------------------
# GIF
# --------------------------------------------------------------------------


@pytest.mark.parametrize("shape,il", [((1, 1), False), ((7, 5), False),
                                      ((16, 24), True), ((33, 17), True),
                                      ((8, 8), False)])
def test_gif_roundtrip_lossless(shape, il):
    rng = np.random.default_rng(sum(shape) + il)
    pal = rng.integers(0, 256, (int(rng.integers(2, 200)), 3),
                       dtype=np.uint8)
    img = pal[rng.integers(0, len(pal), shape)]
    p = codecs.encode_gif(img, interlace=il)
    assert codecs.sniff(p) == "gif"
    np.testing.assert_array_equal(codecs.decode_gif(p), img)


def test_gif_transparency_animation_and_errors():
    import struct as st

    img = np.full((6, 8, 3), 200, dtype=np.uint8)
    img[2:4, 3:5] = 17
    p = codecs.encode_gif(img)

    # 89a graphic-control extension: make color-index-of-17 transparent;
    # transparent pixels must take the BACKGROUND color (palette[bg=0])
    pal_at = 13
    # palette[0] is min(unique colors) = 17; find index of 17 and 200
    arr = np.frombuffer(p, dtype=np.uint8, count=2 * 3, offset=pal_at)
    idx17 = 0 if tuple(arr[:3]) == (17, 17, 17) else 1
    gce = b"\x21\xf9\x04" + bytes([1, 0, 0, idx17]) + b"\x00"
    # insert before the image descriptor (0x2c)
    desc = p.index(b"\x2c", 6)
    p_t = p[:desc] + gce + p[desc:]
    out = codecs.decode_gif(p_t)
    bg = np.frombuffer(p, dtype=np.uint8, count=3, offset=pal_at)
    assert (out[2:4, 3:5] == bg).all()  # transparent -> background
    assert (out[0, 0] == 200).all()

    # animation: a second frame after the first must be ignored
    body_start = p.index(b"\x2c", 6)
    trailer = p.rindex(b"\x3b")
    frame = p[body_start:trailer]
    p_anim = p[:trailer] + frame + b"\x3b"
    np.testing.assert_array_equal(codecs.decode_gif(p_anim),
                                  codecs.decode_gif(p))

    with pytest.raises(ValueError, match="not a GIF"):
        codecs.decode_gif(b"JIF89a??")
    with pytest.raises(ValueError):
        codecs.decode_gif(p[: len(p) // 3])
    # >256 distinct colors must be an explicit modelling error
    yy, xx = np.mgrid[0:32, 0:32]
    many = np.stack([yy * 8 % 256, xx * 8 % 256, (yy + xx) % 256],
                    axis=2).astype(np.uint8)
    with pytest.raises(ValueError, match="256"):
        codecs.encode_gif(many)


def test_gif_features_spark(spark):
    rows = []
    for i, v in enumerate((30, 128, 250)):
        img = np.full((12, 20, 3), v, dtype=np.uint8)
        rows.append((i, "image", bytearray(codecs.encode_gif(
            img, interlace=(i % 2 == 0))), "image/gif", 20, 12, None))
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = {r.media_id: r.feature for r in
             multimodal.extract_features(media, use_stub=False).collect()}
    for i, v in enumerate((30, 128, 250)):
        f = feats[i]
        assert (f[0], f[1]) == (12.0, 20.0)
        # lossless decode; feature rides float32, so ~1e-5 precision
        assert abs(f[2] * 255.0 - v) < 1e-3


def test_gif_lzw_dictionary_reset_roundtrip():
    """A 200x200 noise raster drives the LZW dictionary past 4096
    entries, forcing the encoder's mid-stream CLEAR + the decoder's
    dictionary reset — a path small test images never reach."""
    rng = np.random.default_rng(11)
    pal = np.unique(rng.integers(0, 256, (256, 3), dtype=np.uint8),
                    axis=0)
    img = pal[rng.integers(0, len(pal), (200, 200))]
    for il in (False, True):
        np.testing.assert_array_equal(
            codecs.decode_gif(codecs.encode_gif(img, interlace=il)), img
        )


def test_decoder_valueerror_contract_png_wav_gif_dims(spark):
    """Second-review fixes: corrupt-deflate PNG and short-fmt WAV honor
    the ValueError contract (and so fall back to the fake under
    use_stub=True); v1-mvhd truncation can't fabricate a duration from
    a sibling box; encode_gif rejects >65535 dimensions."""
    import struct as st
    import zlib as _zlib

    # PNG with garbage IDAT: zlib.error must surface as ValueError
    def chunk(tag, body):
        return (st.pack(">I", len(body)) + tag + body
                + st.pack(">I", _zlib.crc32(tag + body) & 0xFFFFFFFF))
    bad_png = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", st.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
               + chunk(b"IDAT", b"notdeflate") + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="PNG"):
        codecs.decode_png(bad_png)

    # WAV with an 8-byte fmt chunk
    bad_wav = (b"RIFF" + st.pack("<I", 24) + b"WAVE"
               + b"fmt " + st.pack("<I", 8) + b"\x01\x00\x01\x00zzzz"
               + b"data" + st.pack("<I", 0))
    with pytest.raises(ValueError, match="fmt"):
        codecs.decode_wav(bad_wav)

    # both now quarantine gracefully in corpus mode
    media = spark.createDataFrame(
        [(1, "image", bytearray(bad_png), "image/png", 2, 2, None),
         (2, "audio", bytearray(bad_wav), "audio/wav", None, None, None)],
        multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.extract_features(media, use_stub=True).collect()
    assert len(rows) == 2  # no task death

    # v1 mvhd with a 28-byte body followed by a sibling box: the old
    # guard let >IQ read 4 bytes of the sibling as duration
    def box(tag, body):
        return st.pack(">I", len(body) + 8) + tag + body
    v1_body = b"\x01" + b"\x00" * 27  # version 1, 28 bytes total
    crafted = (box(b"ftyp", b"isom\x00\x00\x02\x00")
               + box(b"moov", box(b"mvhd", v1_body)
                     + box(b"free", b"\x00\x00\x00\x18" * 2)))
    with pytest.raises(ValueError, match="mvhd"):
        codecs.parse_mp4_metadata(crafted)

    with pytest.raises(ValueError, match="65535"):
        codecs.encode_gif(np.zeros((1, 70000, 3), dtype=np.uint8))


def test_sniff_expr_agrees_with_python_sniff_and_is_codegen(spark, tmp_path):
    """The Catalyst sniff must agree with codecs.sniff on every
    container kind + junk/short/NULL, and on a parquet-read payload
    column its plan must contain no Python stage (the zero-Python
    triage claim)."""
    import struct as st

    img = np.full((8, 8, 3), 40, dtype=np.uint8)
    payloads = [
        codecs.encode_bmp(img),
        codecs.encode_ppm(img),
        codecs.encode_wav(np.zeros(8, np.int16), 8000),
        codecs.encode_png(img),
        codecs.encode_jpeg(img[:, :, 0], quality=70),
        codecs.encode_gif(img),
        codecs.build_mp4_header(1000, 32, 32),
        b"plainly not an image at all",
        b"short",
        None,
    ]
    rows = [(i, bytearray(p) if p is not None else None)
            for i, p in enumerate(payloads)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    pq = str(tmp_path / "payloads")
    df.write.parquet(pq)
    back = spark.read.parquet(pq)

    got = {r.media_id: r.c for r in back.select(
        "media_id", multimodal.sniff_expr("payload").alias("c")).collect()}
    for i, p in enumerate(payloads):
        want = codecs.sniff(bytes(p)) if p is not None else "unknown"
        assert got[i] == want, (i, got[i], want)

    import io
    from contextlib import redirect_stdout

    triage = multimodal.media_triage(back)
    buf = io.StringIO()
    with redirect_stdout(buf):
        triage.explain("formatted")
    plan = buf.getvalue()
    assert "EvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial" in plan.lower()  # map-side combine before shuffle
    counts = {r.container: (r.n_payloads, r.total_bytes)
              for r in triage.collect()}
    assert counts["unknown"][0] == 3
    for k in ("bmp", "ppm", "wav", "png", "jpeg", "gif", "mp4"):
        assert counts[k][0] == 1 and counts[k][1] > 0
