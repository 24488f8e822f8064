"""Real multimodal decode: stdlib WAV/BMP codecs end-to-end through the
Arrow-batched Spark pipeline — genuine media bytes in, genuine signal/
pixel features out (no fake decode anywhere in these tests)."""

from __future__ import annotations

import io
import struct
import wave

import numpy as np
import pytest

from datawarehouse1_spark.multimodal.codecs import (
    audio_features,
    decode_bmp,
    decode_wav,
    encode_bmp,
    image_features,
    sniff_mime,
    stdlib_decode,
)


def make_wav(freq_hz: float = 440.0, seconds: float = 0.25, rate: int = 8000,
             channels: int = 1) -> bytes:
    t = np.arange(int(rate * seconds)) / rate
    mono = (np.sin(2 * np.pi * freq_hz * t) * 32000).astype("<i2")
    frames = np.repeat(mono[:, None], channels, axis=1).tobytes()
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(frames)
    return buf.getvalue()


def make_bmp(h: int = 5, w: int = 7) -> tuple[bytes, np.ndarray]:
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    return encode_bmp(img), img


def test_sniff_mime_magic_bytes():
    wav, _ = make_wav(), None
    bmp, _ = make_bmp()
    assert sniff_mime(wav) == "audio/wav"
    assert sniff_mime(bmp) == "image/bmp"
    assert sniff_mime(b"\x89PNG\r\n\x1a\nxxxx") == "image/png"
    assert sniff_mime(b"\xff\xd8\xff\xe0junk") == "image/jpeg"
    assert sniff_mime(b"\x00\x00\x00\x18ftypmp42") == "video/mp4"
    assert sniff_mime(b"not a container") is None


def test_wav_roundtrip_and_features():
    payload = make_wav(freq_hz=440.0, seconds=0.25, rate=8000)
    samples, rate = decode_wav(payload)
    assert rate == 8000 and len(samples) == 2000
    # a full-scale sine has RMS ~ 1/sqrt(2)
    rms = float(np.sqrt(np.mean(samples**2)))
    assert abs(rms - (32000 / 32768.0) / np.sqrt(2)) < 1e-3
    feat = audio_features(samples, rate)
    assert feat.shape == (16,)
    assert abs(feat[0] - 0.25) < 1e-6  # duration
    # spectral centroid of a pure 440 Hz tone sits at ~440
    assert abs(feat[3] - 440.0) < 10.0


def test_wav_stereo_downmixes():
    mono_p = make_wav(channels=1)
    stereo_p = make_wav(channels=2)
    m, _ = decode_wav(mono_p)
    s, _ = decode_wav(stereo_p)
    np.testing.assert_allclose(m, s, atol=1e-6)


def test_bmp_roundtrip_exact():
    payload, img = make_bmp(h=5, w=7)  # odd width exercises row padding
    got = decode_bmp(payload)
    np.testing.assert_array_equal(got, img)


def test_bmp_features_deterministic():
    payload, img = make_bmp()
    feat = image_features(decode_bmp(payload))
    assert feat.shape == (16,)
    assert feat[0] == 5.0 and feat[1] == 7.0  # h, w
    np.testing.assert_allclose(
        feat[2:5], img.reshape(-1, 3).mean(axis=0) / 255.0, rtol=1e-5
    )


def test_stdlib_decode_gates_video_bitstreams():
    """Video bitstream codecs (H.26x inside MP4) stay honestly gated;
    JPEG left the gated set in r6 (pure-numpy T.81 codec, jpeg.py) —
    a malformed JPEG now raises a loud parse error, not a gate."""
    fake_mp4 = b"\x00\x00\x00\x18ftypisom" + b"\x00" * 16
    with pytest.raises(NotImplementedError, match="video/mp4"):
        stdlib_decode(fake_mp4)
    with pytest.raises(ValueError):
        stdlib_decode(b"\xff\xd8\xff" + b"\x00" * 64)


# ---------- PNG (stdlib zlib + published row filters) ----------


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_roundtrip_exact_every_filter(filter_type):
    """encode -> decode is the identity for each of the five published
    row predictors (None/Sub/Up/Average/Paeth)."""
    from datawarehouse1_spark.multimodal.codecs import decode_png, encode_png

    rng = np.random.default_rng(7 + filter_type)
    img = rng.integers(0, 256, size=(9, 13, 3), dtype=np.uint8)
    payload = encode_png(img, filter_type=filter_type)
    assert payload.startswith(b"\x89PNG\r\n\x1a\n")
    np.testing.assert_array_equal(decode_png(payload), img)


def _png_raw(width, height, depth, color_type, scanlines, extra_chunks=()):
    """Hand-build a PNG from raw scanline bytes (filter 0 per row)."""
    import zlib

    from datawarehouse1_spark.multimodal.codecs import _png_chunk

    raw = b"".join(b"\x00" + bytes(s) for s in scanlines)
    ihdr = struct.pack(">IIBBBBB", width, height, depth, color_type, 0, 0, 0)
    body = _png_chunk(b"IHDR", ihdr)
    for ctype, data in extra_chunks:
        body += _png_chunk(ctype, data)
    body += _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(b"IEND", b"")
    return b"\x89PNG\r\n\x1a\n" + body


def test_png_grayscale_and_alpha_variants():
    from datawarehouse1_spark.multimodal.codecs import decode_png

    # 8-bit grayscale 2x2
    img = decode_png(_png_raw(2, 2, 8, 0, [bytes([10, 200]), bytes([0, 255])]))
    np.testing.assert_array_equal(img[:, :, 0], [[10, 200], [0, 255]])
    np.testing.assert_array_equal(img[:, :, 0], img[:, :, 2])  # replicated
    # 8-bit gray+alpha: alpha dropped
    ga = decode_png(_png_raw(2, 1, 8, 4, [bytes([10, 255, 200, 0])]))
    np.testing.assert_array_equal(ga[0, :, 0], [10, 200])
    # 8-bit RGBA: alpha dropped
    rgba = decode_png(_png_raw(1, 1, 8, 6, [bytes([1, 2, 3, 77])]))
    np.testing.assert_array_equal(rgba[0, 0], [1, 2, 3])


def test_png_palette_and_subbyte_depths():
    from datawarehouse1_spark.multimodal.codecs import decode_png

    # palette: 3 colors, 8-bit indices
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    img = decode_png(
        _png_raw(3, 1, 8, 3, [bytes([0, 1, 2])], extra_chunks=[(b"PLTE", plte)])
    )
    np.testing.assert_array_equal(
        img[0], [[255, 0, 0], [0, 255, 0], [0, 0, 255]]
    )
    # 1-bit grayscale, 10 pixels wide (crosses a byte boundary):
    # bits 1010101010 packed MSB-first -> 0xAA, 0x80
    one_bit = decode_png(_png_raw(10, 1, 1, 0, [bytes([0xAA, 0x80])]))
    np.testing.assert_array_equal(
        one_bit[0, :, 0], [255, 0] * 5
    )
    # 4-bit grayscale: samples 0x3 and 0xC -> scaled by 255/15 = 17
    four_bit = decode_png(_png_raw(2, 1, 4, 0, [bytes([0x3C])]))
    np.testing.assert_array_equal(four_bit[0, :, 0], [51, 204])


def test_png_16bit_high_byte():
    from datawarehouse1_spark.multimodal.codecs import decode_png

    # 16-bit RGB, one pixel: big-endian samples 0x1234, 0xFF00, 0x0001
    scan = struct.pack(">HHH", 0x1234, 0xFF00, 0x0001)
    img = decode_png(_png_raw(1, 1, 16, 2, [scan]))
    np.testing.assert_array_equal(img[0, 0], [0x12, 0xFF, 0x00])


def test_png_adam7_interlaced_roundtrip():
    """Adam7 left the gated set in r6: every pass is an independently
    filtered sub-image; round-trip must be exact for all five filters
    and for dims that leave some passes empty."""
    from datawarehouse1_spark.multimodal.codecs import decode_png, encode_png

    rng = np.random.default_rng(11)
    for h, w in ((16, 16), (17, 19), (3, 3), (1, 1), (1, 9)):
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for ft in range(5):
            out = decode_png(encode_png(img, filter_type=ft, interlace=True))
            np.testing.assert_array_equal(out, img)


def test_png_invalid_interlace_method_raises():
    import zlib

    from datawarehouse1_spark.multimodal.codecs import _png_chunk, decode_png

    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 7)  # bogus interlace
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x01\x02\x03"))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="interlace"):
        decode_png(payload)


def test_png_truncated_and_garbage_raise():
    from datawarehouse1_spark.multimodal.codecs import decode_png, encode_png

    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"BM" + b"\x00" * 32)
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    payload = encode_png(img)
    # drop IEND and half the IDAT: zlib must fail loudly, not return junk
    with pytest.raises(Exception):
        decode_png(payload[: len(payload) // 2])


def test_real_decode_through_spark_pipeline(spark):
    """End-to-end: real WAV + BMP payloads through the mapInPandas
    feature extractor — executor-side decode of genuine media bytes,
    results equal to local decoding."""
    from datawarehouse1_spark.multimodal.binary_columns import extract_features

    wav = make_wav()
    bmp, _ = make_bmp()
    assets = spark.createDataFrame(
        [
            (1, "audio", bytearray(wav), "audio/wav", None, None, 250),
            (2, "image", bytearray(bmp), "image/bmp", 7, 5, None),
        ],
        "asset_id long, modality string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    out = {r.asset_id: r for r in extract_features(assets, decode_fn=stdlib_decode).collect()}
    assert set(out) == {1, 2}
    np.testing.assert_allclose(
        np.array(out[1].feature), stdlib_decode(wav), rtol=1e-6
    )
    np.testing.assert_allclose(
        np.array(out[2].feature), stdlib_decode(bmp), rtol=1e-6
    )
    assert out[1].n_bytes == len(wav) and out[2].n_bytes == len(bmp)


def test_real_decode_declared_query(spark):
    """q_multimodal_real_decode: executor-side synthesis of genuine
    WAV/BMP bytes, stdlib decode, deterministic features. The declared
    query emits `feature` as a JSON string (driver canon can't hash list
    cells) — parse it back here to assert on the decoded values."""
    import json

    from datawarehouse1_spark.registry import QUERIES, load_all

    load_all()
    out = QUERIES["q_multimodal_real_decode"](spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 200
    by_mod = {}
    for r in out:
        by_mod.setdefault(r.modality, []).append(r)
    assert set(by_mod) == {"audio", "image"}
    assert all(isinstance(r.feature, str) for r in out)  # driver-safe scalar
    feats = {mod: [json.loads(r.feature) for r in rs] for mod, rs in by_mod.items()}
    assert all(abs(f[0] - 0.05) < 1e-6 for f in feats["audio"])  # duration
    assert all(f[0] == 16.0 and f[1] == 16.0 for f in feats["image"])
    assert all(r.sha256 is not None and r.n_bytes > 0 for r in out)


# ---------- malformed-input behavior (errors, not hangs or garbage) ----------


def test_decode_bmp_rejects_non_bmp():
    with pytest.raises(ValueError, match="not a BMP"):
        decode_bmp(b"\x89PNG\r\n\x1a\n" + b"\x00" * 32)


def test_decode_bmp_rejects_compressed_or_paletted():
    import struct as _s

    # header claiming 8bpp RLE: parser must refuse, not misread pixels
    hdr = _s.pack("<2sIHHI", b"BM", 200, 0, 0, 54)
    info = _s.pack("<IiiHHIIiiII", 40, 4, 4, 1, 8, 1, 64, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="unsupported|only uncompressed"):
        decode_bmp(hdr + info + b"\x00" * 146)


def test_decode_bmp_truncated_pixels_raises():
    payload, _ = make_bmp(h=5, w=7)
    with pytest.raises(ValueError):
        decode_bmp(payload[: len(payload) // 2])


def test_decode_wav_garbage_raises():
    # stdlib wave rejects it, then the manual RIFF fallback finds no
    # fmt/data chunk and raises its own named error
    with pytest.raises(ValueError, match="fmt or data"):
        decode_wav(b"RIFFxxxxWAVE" + b"\x00" * 16)


def test_xlsx_mini_rejects_non_zip():
    import zipfile as _z

    from datawarehouse1_spark.sources.xlsx_mini import parse_xlsx_bytes

    with pytest.raises(_z.BadZipFile):
        parse_xlsx_bytes(b"this is not a zip archive")


def test_audio_features_single_sample_no_nan():
    import io as _io
    import wave as _w

    buf = _io.BytesIO()
    with _w.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(np.array([12000], dtype="<i2").tobytes())
    samples, rate = decode_wav(buf.getvalue())
    feat = audio_features(samples, rate)
    assert np.isfinite(feat).all(), f"NaN/inf in features: {feat}"


def test_xlsx_mini_sheet_index_out_of_range(xlsx_bytes):
    from datawarehouse1_spark.sources.xlsx_mini import parse_xlsx_bytes

    data = xlsx_bytes(["client_id", "nom"], [["CLI001", "Diallo"]])
    assert parse_xlsx_bytes(data)["client_id"].tolist() == ["CLI001"]
    with pytest.raises(ValueError, match="out of range"):
        parse_xlsx_bytes(data, sheet=3)


# ---------- resize operator (decode -> numpy resize -> PNG re-encode) ----------


def test_resize_plane_box_average_exact():
    """2x downscale of a checkerboard must be the exact mean of each
    2x2 block (the box-average contract)."""
    from datawarehouse1_spark.multimodal.binary_columns import _resize_plane

    img = np.zeros((4, 4, 3), dtype=np.uint8)
    img[::2, 1::2] = 255
    img[1::2, ::2] = 255
    out = _resize_plane(img, 2, 2)
    assert out.shape == (2, 2, 3)
    np.testing.assert_array_equal(out, np.full((2, 2, 3), 128, dtype=np.uint8))


def test_resize_plane_nearest_upscale_exact():
    from datawarehouse1_spark.multimodal.binary_columns import _resize_plane

    img = np.array([[[10, 20, 30], [200, 210, 220]]], dtype=np.uint8)  # 1x2
    out = _resize_plane(img, 2, 4)
    assert out.shape == (2, 4, 3)
    # nearest: left half replicates pixel 0, right half pixel 1
    np.testing.assert_array_equal(out[:, :2], np.broadcast_to(img[0, 0], (2, 2, 3)))
    np.testing.assert_array_equal(out[:, 2:], np.broadcast_to(img[0, 1], (2, 2, 3)))


def test_resize_images_through_spark_all_formats(spark):
    """Every image format the synthesizer emits resizes end-to-end:
    decode -> 8x8 -> lossless PNG payload that decodes to 8x8; the WAV
    rows fail soft with a named error instead of poisoning the batch."""
    from datawarehouse1_spark.catalog import table
    from datawarehouse1_spark.multimodal.binary_columns import (
        resize_images,
        synthesize_media_assets,
    )
    from datawarehouse1_spark.multimodal.codecs import decode_png

    docs = table(spark, "/root/testdata/sf0.001", "documents").filter("doc_id < 32")
    assets = synthesize_media_assets(docs)
    out = {r.asset_id: r for r in resize_images(assets, 8, 8).collect()}
    src = {r.asset_id: r for r in assets.collect()}
    assert set(out) == set(src)
    for aid, r in out.items():
        if src[aid].modality == "image":
            assert r.error is None and r.mime == "image/png"
            img = decode_png(bytes(r.payload))
            assert img.shape == (8, 8, 3)
            assert (r.width, r.height) == (8, 8)
        else:  # audio payloads are not images — fail-soft row
            assert r.payload is None and r.error is not None
            assert "NotImplementedError" in r.error or "ValueError" in r.error


# ---------- G.711 / float WAV (formats stdlib wave rejects) ----------


def test_g711_roundtrip_snr():
    """mu-law and A-law compress-expand must hit textbook SNR (~38 dB)
    on a speech-level sine; sniff still says audio/wav."""
    from datawarehouse1_spark.multimodal.codecs import encode_wav_g711

    t = np.arange(800) / 8000.0
    sig = (np.sin(2 * np.pi * 440 * t) * 0.7).astype(np.float32)
    for law in ("ulaw", "alaw"):
        payload = encode_wav_g711(sig, 8000, law)
        assert sniff_mime(payload) == "audio/wav"
        out, rate = decode_wav(payload)
        assert rate == 8000 and len(out) == 800
        snr = 10 * np.log10(np.mean(sig**2) / np.mean((sig - out) ** 2))
        assert snr > 30.0, (law, snr)


def test_g711_expansion_tables_match_spec_extremes():
    from datawarehouse1_spark.multimodal.codecs import _ALAW_TABLE, _ULAW_TABLE

    # mu-law: 0xFF is positive zero, 0x7F negative zero-ish, max ~32124
    assert abs(_ULAW_TABLE[0xFF]) < 1e-6
    assert abs(_ULAW_TABLE.max() * 32768 - 32124) < 1
    # A-law: max magnitude 32256 (ITU-T G.711 table 2)
    assert abs(_ALAW_TABLE.max() * 32768 - 32256) < 1


def test_ieee_float_wav_decodes():
    from datawarehouse1_spark.multimodal.codecs import decode_wav as dw

    sig = (np.linspace(-1, 1, 64)).astype("<f4")
    fmt = struct.pack("<HHIIHH", 3, 1, 16000, 64000, 4, 32)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", sig.nbytes) + sig.tobytes()
    )
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    out, rate = dw(payload)
    assert rate == 16000
    np.testing.assert_allclose(out, sig, atol=1e-7)


def test_unknown_wav_format_raises():
    fmt = struct.pack("<HHIIHH", 2, 1, 8000, 8000, 1, 8)  # ADPCM: unsupported
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    )
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError, match="format code 2"):
        decode_wav(payload)


def test_synthesizer_emits_decodable_g711(spark):
    from datawarehouse1_spark.catalog import table
    from datawarehouse1_spark.multimodal.binary_columns import (
        synthesize_media_assets,
    )
    from datawarehouse1_spark.multimodal.codecs import stdlib_decode

    docs = table(spark, "/root/testdata/sf0.001", "documents").filter("doc_id < 32")
    rows = synthesize_media_assets(docs).filter("modality = 'audio'").collect()
    laws = {3: 0, 7: 0, 1: 0, 5: 0}
    for r in rows:
        feat = stdlib_decode(bytes(r.payload))
        assert abs(feat[0] - 0.05) < 1e-6  # 50 ms whatever the encoding
        laws[r.asset_id % 8] += 1
    assert laws[3] > 0 and laws[7] > 0  # both G.711 variants present


def test_extract_features_arrow_twin_bit_identical(spark):
    """The mapInArrow path (no Arrow<->pandas conversion) must return
    EXACTLY the pandas path's rows — including the null-payload row and
    float32 feature values."""
    from datawarehouse1_spark.multimodal.binary_columns import (
        extract_features,
        extract_features_arrow,
    )

    assets = spark.createDataFrame(
        [
            (1, "image", bytearray(b"\x00\x01\x02payload-a")),
            (2, "audio", bytearray(b"zzzz-another-payload")),
            (3, "image", None),
        ],
        "asset_id long, modality string, payload binary",
    )

    def canon(df):
        return {
            (
                r.asset_id,
                r.modality,
                r.n_bytes,
                r.sha256,
                None if r.feature is None else tuple(r.feature),
            )
            for r in df.collect()
        }

    a = canon(extract_features(assets))
    b = canon(extract_features_arrow(assets))
    assert a == b and len(a) == 3
