"""Real (numpy-only) multimodal decode: PPM images and PCM16 WAV audio
decode natively inside the mapInPandas stage; compressed formats still
raise. Decoders verified against hand-built payloads and numpy
references."""

import numpy as np
import pytest


def _ppm(w, h, seed=0):
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    header = f"P6\n# test comment\n{w} {h}\n255\n".encode()
    return header + img.tobytes(), img


def _wav(n, rate=8000, channels=1, seed=0):
    rng = np.random.RandomState(seed)
    samples = rng.randint(-20000, 20000, size=(n, channels)).astype("<i2")
    data = samples.tobytes()
    fmt = (
        (1).to_bytes(2, "little")
        + channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * channels * 2).to_bytes(4, "little")
        + (channels * 2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    body = (
        b"WAVE"
        + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"data" + len(data).to_bytes(4, "little") + data
    )
    return b"RIFF" + len(body).to_bytes(4, "little") + body, samples


def test_decode_ppm_roundtrip():
    from serimi_rdf_interlinking_spark.multimodal import decode_ppm

    payload, img = _ppm(7, 5)
    got = decode_ppm(payload)
    assert got.shape == (5, 7, 3)
    assert np.array_equal(got, img)
    with pytest.raises(ValueError):
        decode_ppm(b"P5\n1 1\n255\n\x00")  # grayscale PGM rejected


def test_decode_wav_roundtrip():
    from serimi_rdf_interlinking_spark.multimodal import decode_wav

    payload, samples = _wav(400, rate=8000, channels=2)
    got, rate = decode_wav(payload)
    assert rate == 8000
    assert got.shape == (400, 2)
    assert np.array_equal(got, samples)
    with pytest.raises(ValueError):
        decode_wav(b"OggS" + b"\x00" * 40)


def test_decode_png_roundtrip_all_filters_and_colors():
    """decode_png must invert every scanline filter for every supported
    color type; synth_png encodes the same seeded pixels under each
    filter, so all five payloads decode to one identical raster."""
    from serimi_rdf_interlinking_spark.multimodal import decode_png, synth_png

    for ct in (0, 2, 4, 6):
        rasters = [
            decode_png(synth_png(9, 6, seed=42, color_type=ct, filter_type=f))
            for f in range(5)
        ]
        ch = {0: 1, 2: 3, 4: 2, 6: 4}[ct]
        assert rasters[0].shape == (6, 9, ch)
        for r in rasters[1:]:
            assert np.array_equal(r, rasters[0])
        # and the pixels are the seeded ones, not merely self-consistent
        rng = np.random.RandomState(42)
        want = rng.randint(0, 256, size=(6, 9, ch)).astype(np.uint8)
        assert np.array_equal(rasters[0], want)


def test_decode_png_rejects_unsupported_profiles():
    import struct
    import zlib

    from serimi_rdf_interlinking_spark.multimodal import (
        _PNG_MAGIC,
        _png_chunk,
        decode_png,
    )

    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"GIF89a" + b"\x00" * 10)
    # the full legal RFC 2083 static profile decodes since late r5
    # (1/2/4/8/16-bit); an ILLEGAL depth/color combination is malformed
    # input, not a missing feature — e.g. depth-4 RGB
    ihdr = struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0)
    payload = (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 4))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="not a legal"):
        decode_png(payload)
    # palette image missing its PLTE chunk is malformed, not unsupported
    ihdr3 = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    payload3 = (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr3)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x00\x00" * 2))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="without a PLTE"):
        decode_png(payload3)


def test_decode_png_palette_roundtrip():
    """8-bit palette PNG (RFC 2083 PLTE) under every scanline filter:
    indices unfilter as 1-byte units, then map through the palette."""
    from serimi_rdf_interlinking_spark.multimodal import decode_png, synth_png

    rasters = [
        decode_png(
            synth_png(9, 6, seed=11, color_type=3, filter_type=f, n_colors=16)
        )
        for f in range(5)
    ]
    assert rasters[0].shape == (6, 9, 3)
    for r in rasters[1:]:
        assert np.array_equal(r, rasters[0])
    rng = np.random.RandomState(11)
    palette = rng.randint(0, 256, size=(16, 3)).astype(np.uint8)
    idx = rng.randint(0, 16, size=(6, 9, 1)).astype(np.uint8)
    assert np.array_equal(rasters[0], palette[idx[:, :, 0]])


def test_decode_png_16bit_roundtrip_all_filters():
    """16-bit PNG: big-endian sample assembly + byte-level unfilter
    with bpp offset must reproduce the seeded uint16 raster under
    every scanline filter and color type."""
    from serimi_rdf_interlinking_spark.multimodal import decode_png, synth_png

    for ct in (0, 2, 6):
        rasters = [
            decode_png(
                synth_png(7, 5, seed=3, color_type=ct, filter_type=f,
                          bit_depth=16)
            )
            for f in range(5)
        ]
        ch = {0: 1, 2: 3, 6: 4}[ct]
        assert rasters[0].dtype == np.uint16
        assert rasters[0].shape == (5, 7, ch)
        for r in rasters[1:]:
            assert np.array_equal(r, rasters[0])
        rng = np.random.RandomState(3)
        want = rng.randint(0, 65536, size=(5, 7, ch)).astype(np.uint16)
        assert np.array_equal(rasters[0], want)


def test_decode_png_sub8_roundtrip_all_filters():
    """1/2/4-bit gray and palette PNGs: MSB-first sample unpacking +
    bpp=1 unfilter must reproduce the seeded raster under every
    scanline filter, plain and Adam7 (where pass row strides are
    ceil(pw*depth/8) and pixels — not bytes — scatter). Gray samples
    expand by the exact 255/(2^d-1) multiplier."""
    from serimi_rdf_interlinking_spark.multimodal import decode_png, synth_png

    for depth in (1, 2, 4):
        for ct in (0, 3):
            for il in (False, True):
                for f in range(5):
                    img = decode_png(
                        synth_png(13, 9, seed=5, color_type=ct,
                                  filter_type=f, bit_depth=depth,
                                  interlace=il, n_colors=1 << depth)
                    )
                    rng = np.random.RandomState(5)
                    if ct == 3:
                        pal = rng.randint(
                            0, 256, size=(1 << depth, 3)
                        ).astype(np.uint8)
                        idx = rng.randint(
                            0, 1 << depth, size=(9, 13, 1)
                        ).astype(np.uint8)
                        want = pal[idx[:, :, 0]]
                    else:
                        v = rng.randint(
                            0, 1 << depth, size=(9, 13, 1)
                        ).astype(np.uint8)
                        want = (v * (255 // ((1 << depth) - 1))).astype(
                            np.uint8
                        )
                    assert np.array_equal(img, want), (depth, ct, il, f)


def test_decode_png_adam7_interlaced_roundtrip():
    """Adam7: the seven-pass scatter must reproduce the plain raster
    exactly — including degenerate sizes where later passes are empty
    (w or h < the pass grid) and 16-bit + palette variants."""
    from serimi_rdf_interlinking_spark.multimodal import decode_png, synth_png

    for (w, h) in ((1, 1), (3, 2), (7, 5), (8, 8), (13, 9)):
        for ct, depth in ((2, 8), (0, 16), (3, 8), (6, 8)):
            if ct == 3 and depth != 8:
                continue
            plain = decode_png(
                synth_png(w, h, seed=21, color_type=ct, filter_type=4,
                          bit_depth=depth)
            )
            inter = decode_png(
                synth_png(w, h, seed=21, color_type=ct, filter_type=4,
                          bit_depth=depth, interlace=True)
            )
            assert np.array_equal(plain, inter), (w, h, ct, depth)


def test_png_decodes_in_spark_stage(spark):
    from serimi_rdf_interlinking_spark.multimodal import (
        MEDIA_SCHEMA,
        _image_features,
        decode_and_featurize,
        decode_png,
        synth_png,
    )

    png = synth_png(8, 5, seed=9, color_type=6, filter_type=4)
    media = spark.createDataFrame(
        [("p1", "image", png, "image/png", 8, 5, None)], MEDIA_SCHEMA
    )
    (row,) = decode_and_featurize(media).collect()
    assert row.feature == pytest.approx(_image_features(decode_png(png), 8))


def test_decode_gif_roundtrip_with_dict_growth():
    """A 64x64 noise image forces the LZW table through multiple width
    bumps (9->10->11 bits) — the encoder and decoder must stay in sync
    through every bump and the KwKwK case."""
    from serimi_rdf_interlinking_spark.multimodal import decode_gif, synth_gif

    rng = np.random.RandomState(7)
    payload = synth_gif(64, 64, seed=7, n_colors=8)
    got = decode_gif(payload)
    assert got.shape == (64, 64, 3)
    # reproduce the seeded palette + indices synth_gif drew
    palette = rng.randint(0, 256, size=(8, 3)).astype(np.uint8)
    idx = rng.randint(0, 8, size=(64, 64)).astype(np.uint8)
    assert np.array_equal(got, palette[idx])


def test_lzw_codec_kwkwk_and_clear():
    """The KwKwK special case (code references the entry being built)
    arises from runs like 'aaaa...'; clears mid-stream must reset the
    table; both paths must roundtrip."""
    from serimi_rdf_interlinking_spark.multimodal import (
        _lzw_decode_gif,
        _lzw_encode_gif,
    )

    for pixels in (b"\x00" * 50, bytes([0, 1] * 30), bytes(range(4)) * 100):
        enc = _lzw_encode_gif(2, pixels)
        assert _lzw_decode_gif(2, enc, len(pixels)) == pixels


def test_decode_gif_interlaced_roundtrip():
    """Interlaced GIF (Appendix-E four-pass row order) must decode to
    the SAME raster as the plain transmission of the same seed — the
    de-interleave is a pure row un-permutation."""
    from serimi_rdf_interlinking_spark.multimodal import (
        _gif_interlace_order,
        decode_gif,
        synth_gif,
    )

    for h in (1, 2, 7, 16, 33):  # exercise every pass-boundary shape
        assert sorted(_gif_interlace_order(h)) == list(range(h))
        plain = decode_gif(synth_gif(6, h, seed=9, n_colors=5))
        inter = decode_gif(synth_gif(6, h, seed=9, n_colors=5, interlace=True))
        assert np.array_equal(plain, inter)
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"\x89PNG\r\n\x1a\n")


def test_gif_decodes_in_spark_stage(spark):
    from serimi_rdf_interlinking_spark.multimodal import (
        MEDIA_SCHEMA,
        _image_features,
        decode_and_featurize,
        decode_gif,
        synth_gif,
    )

    gif = synth_gif(10, 6, seed=4, n_colors=16)
    media = spark.createDataFrame(
        [("g1", "image", gif, "image/gif", 10, 6, None)], MEDIA_SCHEMA
    )
    (row,) = decode_and_featurize(media).collect()
    assert row.feature == pytest.approx(_image_features(decode_gif(gif), 8))


def test_audio_spectral_features_match_known_signals():
    """Analytic anchors: a pure tone's spectral centroid sits at its own
    frequency; white noise is spectrally flat and a tone is not; a
    low-frequency tone concentrates low-band energy."""
    from serimi_rdf_interlinking_spark.multimodal import (
        audio_spectral_features,
    )

    rate = 8000
    t = np.arange(rate)  # 1 second
    tone = (np.sin(2 * np.pi * 1000 * t / rate) * 20000).astype(np.int16)
    feats = audio_spectral_features(tone[:, None], rate)
    nyq = rate / 2
    assert abs(feats[0] * nyq - 1000) < 20      # centroid ~ 1 kHz
    assert abs(feats[1] * nyq - 1000) < 40      # rolloff ~ 1 kHz
    assert feats[2] < 0.05                      # narrow bandwidth

    rng = np.random.RandomState(0)
    noise = (rng.randn(rate) * 8000).clip(-32767, 32767).astype(np.int16)
    nf = audio_spectral_features(noise[:, None], rate)
    assert nf[3] > 0.5 > feats[3]               # noise flat, tone not
    assert abs(nf[0] - 0.5) < 0.05              # noise centroid ~ mid

    low = (np.sin(2 * np.pi * 100 * t / rate) * 20000).astype(np.int16)
    lf = audio_spectral_features(low[:, None], rate)
    assert lf[6] > 0.99                          # low-band energy share
    assert audio_spectral_features(np.zeros((0, 1), np.int16), rate) == [0.0] * 8


def test_audio_spectral_in_spark_stage(spark):
    from serimi_rdf_interlinking_spark.multimodal import (
        MEDIA_SCHEMA,
        audio_spectral_features,
        decode_and_featurize,
        decode_wav,
        synth_wav,
    )

    wav = synth_wav(800, rate=8000, seed=2)
    media = spark.createDataFrame(
        [("a1", "audio", wav, "audio/wav", None, None, 100)], MEDIA_SCHEMA
    )
    (row,) = decode_and_featurize(media, audio_spectral=True).collect()
    assert row.feature == pytest.approx(
        audio_spectral_features(*decode_wav(wav))
    )


def test_resize_nearest_downsample():
    from serimi_rdf_interlinking_spark.multimodal import resize_nearest

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    small = resize_nearest(img, 4, 2)
    assert small.shape == (2, 4)
    # nearest-neighbor picks source pixels at floor(i*src/out)
    assert np.array_equal(small, img[[0, 4]][:, [0, 2, 4, 6]])


def test_real_decode_in_spark_stage(spark):
    from serimi_rdf_interlinking_spark.multimodal import (
        MEDIA_SCHEMA,
        _image_features,
        decode_and_featurize,
        decode_ppm,
    )

    ppm, img = _ppm(6, 4, seed=3)
    wav, _ = _wav(800, rate=8000)
    rows = [
        ("img1", "image", bytes(ppm), "image/x-portable-pixmap", 6, 4, None),
        ("aud1", "audio", bytes(wav), "audio/wav", None, None, 100),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in decode_and_featurize(media).collect()}
    assert feats["img1"].feature == pytest.approx(
        _image_features(decode_ppm(bytes(ppm)), 8)
    )
    assert len(feats["aud1"].feature) == 8
    assert feats["aud1"].feature[0] > 0  # mean |amplitude| of random noise
    # formats still needing codec libraries raise with a clear message
    # (image/jpeg graduated to the native baseline decoder in round 4)
    bad = spark.createDataFrame(
        [("m", "audio", b"\xff\xfb\x90\x00", "audio/mpeg", None, None, 10)],
        MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="codec libraries"):
        decode_and_featurize(bad).collect()


def test_null_payload_gives_null_feature(spark):
    """A row with a null payload (MEDIA_SCHEMA allows it) gets a null
    feature, 0 bytes and a null digest for every decodable mime; the
    decodable row beside it keeps its feature."""
    from serimi_rdf_interlinking_spark.multimodal import (
        MEDIA_SCHEMA,
        decode_and_featurize,
    )

    ppm, _ = _ppm(3, 2)
    rows = [
        ("ppm", "image", None, "image/x-portable-pixmap", None, None, None),
        ("png", "image", None, "image/png", None, None, None),
        ("wav", "audio", None, "audio/wav", None, None, None),
        ("ok", "image", ppm, "image/x-portable-pixmap", 3, 2, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in decode_and_featurize(media).collect()}
    for mid in ("ppm", "png", "wav"):
        assert feats[mid].feature is None
        assert feats[mid].n_bytes == 0 and feats[mid].sha256 is None
    assert len(feats["ok"].feature) == 8


def test_wav_all_sample_types_land_on_one_int16_space():
    """Integer PCM 8/16/24/32 and IEEE float32/64 all decode onto the
    same int16 sample space; the synth carries one seeded int16 signal
    through every container type, so wide formats must round-trip it
    EXACTLY and 8-bit within its 256-step quantization."""
    import numpy as np

    from serimi_rdf_interlinking_spark.multimodal import (
        decode_wav,
        synth_wav,
    )

    base, rate = decode_wav(synth_wav(400, seed=11, channels=2))
    assert rate == 8000 and base.shape == (400, 2)
    for kw in (
        dict(bits=24), dict(bits=32),
        dict(bits=32, ieee_float=True), dict(bits=64, ieee_float=True),
    ):
        s, r = decode_wav(synth_wav(400, seed=11, channels=2, **kw))
        assert r == rate and s.dtype == base.dtype == np.int16
        assert np.array_equal(s, base), kw
    s8, _ = decode_wav(synth_wav(400, seed=11, channels=2, bits=8))
    assert np.abs(s8.astype(int) - base.astype(int)).max() < 256


def test_wav_compressed_format_rejected():
    import pytest

    from serimi_rdf_interlinking_spark.multimodal import (
        decode_wav,
        synth_wav,
    )

    payload = bytearray(synth_wav(50, seed=1))
    fmt_off = payload.index(b"fmt ") + 8
    payload[fmt_off : fmt_off + 2] = (85).to_bytes(2, "little")  # MP3
    with pytest.raises(ValueError, match="format code 85"):
        decode_wav(bytes(payload))


def test_ppm_16bit_decode():
    import numpy as np

    from serimi_rdf_interlinking_spark.multimodal import (
        decode_ppm,
        synth_ppm,
    )

    img = decode_ppm(synth_ppm(5, 4, seed=3, maxval=65535))
    assert img.dtype == np.uint16 and img.shape == (4, 5, 3)
    # the raster is the seeded generator's output verbatim
    rng = np.random.RandomState(3)
    want = rng.randint(0, 65536, size=(4, 5, 3)).astype(">u2")
    assert np.array_equal(img, want.astype(np.uint16))
    # 8-bit path unchanged
    img8 = decode_ppm(synth_ppm(5, 4, seed=3))
    assert img8.dtype == np.uint8
