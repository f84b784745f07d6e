"""Pure-Python PNG codec + header parsers (functions/ic.py).

encode_png can emit any scanline filter type, so decode_png's
unfiltering branches (None/Sub/Up/Average/Paeth) are each checked as
the exact inverse of an independently-implemented forward filter."""

import struct
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from uc_historic_data_importer_spark.functions import imagecodec as ic


def gradient(w, h, ch):
    return bytes(
        ((x * 7 + y * 13 + c * 29) * 255 // max(1, (w * 7 + h * 13 + ch * 29)))
        & 0xFF
        for y in range(h)
        for x in range(w)
        for c in range(ch)
    )


class TestPngRoundtrip:
    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    @pytest.mark.parametrize("channels", [1, 2, 3, 4])
    def test_roundtrip_all_filters_all_color_types(self, filter_type, channels):
        w, h = 7, 5
        px = gradient(w, h, channels)
        payload = ic.encode_png(w, h, channels, px, filter_type=filter_type)
        assert payload.startswith(ic.PNG_SIGNATURE)
        rw, rh, rch, rpx = ic.decode_png(payload)
        assert (rw, rh, rch) == (w, h, channels)
        assert rpx == px

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 12),
        channels=st.sampled_from([1, 2, 3, 4]),
        filter_type=st.integers(0, 4),
        seed=st.integers(0, 2**32 - 1),
    )
    def test_roundtrip_property(self, w, h, channels, filter_type, seed):
        import random

        rng = random.Random(seed)
        px = bytes(rng.randrange(256) for _ in range(w * h * channels))
        rt = ic.decode_png(ic.encode_png(w, h, channels, px, filter_type))
        assert rt == (w, h, channels, px)

    def test_known_1x1_white(self):
        payload = ic.encode_png(1, 1, 3, b"\xff\xff\xff")
        w, h, ch, px = ic.decode_png(payload)
        assert (w, h, ch, px) == (1, 1, 3, b"\xff\xff\xff")


class TestPngErrors:
    def test_not_png(self):
        with pytest.raises(ic.UnsupportedImageError):
            ic.decode_png(b"JFIF not a png")

    def test_truncated(self):
        payload = ic.encode_png(4, 4, 3, gradient(4, 4, 3))
        with pytest.raises(ValueError):
            ic.decode_png(payload[:20])

    def test_unsupported_bit_depth(self):
        ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
        payload = (
            ic.PNG_SIGNATURE
            + ic._chunk(b"IHDR", ihdr)
            + ic._chunk(b"IDAT", zlib.compress(b"\x00" * 10))
            + ic._chunk(b"IEND", b"")
        )
        with pytest.raises(ic.UnsupportedImageError):
            ic.decode_png(payload)

    def test_corrupt_idat_size(self):
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
        payload = (
            ic.PNG_SIGNATURE
            + ic._chunk(b"IHDR", ihdr)
            + ic._chunk(b"IDAT", zlib.compress(b"\x00" * 3))
            + ic._chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError):
            ic.decode_png(payload)


class TestHeaderDims:
    def test_jpeg_sof0(self):
        # minimal SOF0 frame: SOI + APP0 + SOF0(h=480, w=640)
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        sof = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 480, 640, 3)
        payload = b"\xff\xd8" + app0 + sof
        assert ic.jpeg_dims(payload) == (640, 480)
        assert ic.sniff(payload) == "jpeg"

    def test_jpeg_skips_dht(self):
        dht = b"\xff\xc4" + struct.pack(">H", 4) + b"\x00\x00"
        sof2 = b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 10, 20, 3)
        payload = b"\xff\xd8" + dht + sof2
        assert ic.jpeg_dims(payload) == (20, 10)

    def test_gif(self):
        payload = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00"
        assert ic.gif_dims(payload) == (320, 200)
        assert ic.sniff(payload) == "gif"


class TestFeaturesAndResize:
    def test_luminance_histogram_black_white(self):
        px = b"\x00" * 3 * 6 + b"\xff" * 3 * 2  # 6 black + 2 white RGB px
        hist = ic.luminance_histogram(3, px)
        assert hist[0] == 0.75 and hist[7] == 0.25
        assert sum(hist) == pytest.approx(1.0, abs=1e-5)

    def test_resize_nearest_identity_and_upscale(self):
        px8 = gradient(8, 8, 3)
        assert ic.resize_nearest(8, 8, 3, px8) == px8  # already 8x8
        px = gradient(4, 4, 3)
        up = ic.resize_nearest(4, 4, 3, px)
        assert len(up) == 8 * 8 * 3
        # corner pixels survive nearest-neighbor
        assert up[:3] == px[:3]

    def test_resize_downscale_picks_source_pixels(self):
        px = gradient(16, 16, 1)
        down = ic.resize_nearest(16, 16, 1, px)
        assert down == bytes(
            px[(2 * y) * 16 + 2 * x] for y in range(8) for x in range(8)
        )


class TestWavCodec:
    def test_roundtrip_and_features(self):
        from uc_historic_data_importer_spark.functions import audiocodec as ac

        samples = [0, 1000, -1000, 32767, -32768, 5]
        wav = ac.encode_wav(samples)
        rate, ch, got = ac.decode_wav(wav)
        assert (rate, ch, got) == (8000, 1, samples)
        dur, rms, peak = ac.audio_features(rate, got)
        assert peak == 32768 and dur == 0
        assert abs(rms - (sum(s * s for s in samples) / 6) ** 0.5) < 1e-9

    def test_tolerates_extra_chunks_and_padding(self):
        import struct

        from uc_historic_data_importer_spark.functions import audiocodec as ac

        wav = bytearray(ac.encode_wav([1, 2, 3]))
        # splice a LIST chunk with odd size (forces pad-byte handling)
        # between fmt and data
        fmt_end = 12 + 8 + 16
        extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
        spliced = bytearray(bytes(wav[:fmt_end]) + extra + bytes(wav[fmt_end:]))
        struct.pack_into("<I", spliced, 4, len(spliced) - 8)
        rate, ch, samples = ac.decode_wav(bytes(spliced))
        assert samples == [1, 2, 3]

    def test_rejects_non_wav_and_truncated(self):
        import pytest as _pytest

        from uc_historic_data_importer_spark.functions import audiocodec as ac

        with _pytest.raises(ac.UnsupportedAudioError):
            ac.decode_wav(b"\x89PNG\r\n\x1a\nnot audio")
        wav = ac.encode_wav([1, 2, 3, 4])
        with _pytest.raises(ac.UnsupportedAudioError):
            ac.decode_wav(wav[:-3])  # truncated data chunk

    def test_rejects_non_pcm16(self):
        import struct

        import pytest as _pytest

        from uc_historic_data_importer_spark.functions import audiocodec as ac

        wav = bytearray(ac.encode_wav([1, 2]))
        # flip bits-per-sample to 8 inside the fmt chunk
        struct.pack_into("<H", wav, 12 + 8 + 14, 8)
        with _pytest.raises(ac.UnsupportedAudioError):
            ac.decode_wav(bytes(wav))

    def test_undecodable_payload_yields_sentinel_row(self, spark):
        from uc_historic_data_importer_spark.functions import audiocodec as ac
        from uc_historic_data_importer_spark.operators import multimodal

        good = ac.encode_wav([10, -10] * 50)
        media = spark.createDataFrame(
            [(1, "audio", bytearray(good)), (2, "audio", bytearray(b"junk"))],
            "media_id long, kind string, payload binary",
        )
        rows = {r["media_id"]: r
                for r in multimodal.extract_audio_features(media).collect()}
        assert rows[1]["n_samples"] == 100 and rows[1]["peak"] == 10
        assert rows[2]["sample_rate"] == -1 and rows[2]["rms"] is None


class TestMp4Codec:
    def test_roundtrip(self):
        from uc_historic_data_importer_spark.functions import videocodec as vc

        mp4 = vc.encode_mp4_meta(1920, 1080, 125_500)
        assert vc.parse_mp4_meta(mp4) == (1920, 1080, 125_500)

    def test_rejects_foreign_and_malformed(self):
        import struct

        import pytest as _pytest

        from uc_historic_data_importer_spark.functions import videocodec as vc

        with _pytest.raises(vc.UnsupportedVideoError):
            vc.parse_mp4_meta(b"RIFF....WAVE not a video")
        mp4 = bytearray(vc.encode_mp4_meta(64, 48, 1000))
        struct.pack_into(">I", mp4, 0, 4)  # corrupt ftyp box size < 8
        with _pytest.raises(vc.UnsupportedVideoError):
            vc.parse_mp4_meta(bytes(mp4))

    def test_missing_moov(self):
        import pytest as _pytest

        from uc_historic_data_importer_spark.functions import videocodec as vc

        mp4 = vc.encode_mp4_meta(64, 48, 1000)
        ftyp_only = mp4[: 8 + 16]  # just the ftyp box
        with _pytest.raises(vc.UnsupportedVideoError):
            vc.parse_mp4_meta(ftyp_only)

    def test_sentinel_rows_for_junk(self, spark):
        from uc_historic_data_importer_spark.functions import videocodec as vc
        from uc_historic_data_importer_spark.operators import multimodal

        media = spark.createDataFrame(
            [(1, "video", bytearray(vc.encode_mp4_meta(640, 480, 2000))),
             (2, "video", bytearray(b"not mp4 at all"))],
            "media_id long, kind string, payload binary",
        )
        rows = {r["media_id"]: r
                for r in multimodal.extract_video_meta(media).collect()}
        assert (rows[1]["width"], rows[1]["height"], rows[1]["duration_ms"]) == (640, 480, 2000)
        assert rows[2]["width"] == -1


class TestCodecFuzzHardening:
    def test_wav_zero_channels_and_rate_typed_error(self):
        import struct

        import pytest as _pytest

        from uc_historic_data_importer_spark.functions import audiocodec as ac

        for offset in (2, 4):  # channels field / sample-rate field
            wav = bytearray(ac.encode_wav([1, 2]))
            width = "<H" if offset == 2 else "<I"
            struct.pack_into(width, wav, 12 + 8 + offset, 0)
            with _pytest.raises(ac.UnsupportedAudioError):
                ac.decode_wav(bytes(wav))

    def test_mp4_degenerate_boxes_typed_error(self):
        import struct

        import pytest as _pytest

        from uc_historic_data_importer_spark.functions import videocodec as vc

        ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
        empty_mvhd = struct.pack(">I", 8) + b"mvhd"
        moov = struct.pack(">I", 8 + len(empty_mvhd)) + b"moov" + empty_mvhd
        with _pytest.raises(vc.UnsupportedVideoError):
            vc.parse_mp4_meta(ftyp + moov)

    def test_random_bytes_raise_only_typed_errors(self):
        import random

        from uc_historic_data_importer_spark.functions import (
            audiocodec as ac,
            videocodec as vc,
        )

        rng = random.Random(7)
        for trial in range(3000):
            n = rng.randrange(0, 96)
            b = bytes(rng.randrange(256) for _ in range(n))
            if trial % 3 == 0:
                b = b"RIFF" + b[:4] + b"WAVE" + b[8:]
            if trial % 3 == 1 and n >= 8:
                b = b[:4] + b"ftyp" + b[8:]
            for fn, err in ((ac.decode_wav, ac.UnsupportedAudioError),
                            (vc.parse_mp4_meta, vc.UnsupportedVideoError)):
                try:
                    fn(b)
                except err:
                    pass  # the ONLY acceptable failure type


class TestPerceptualHash:
    def _png(self, fill_rows_bright: int):
        # 16x16 gray: top `fill_rows_bright` rows bright, rest dark
        px = bytes(
            [230 if y < fill_rows_bright else 20 for y in range(16) for _ in range(16)]
        )
        return ic.encode_png(16, 16, 1, px)

    def test_reencoding_invariance_and_discrimination(self):
        a = self._png(8)
        # same image, different scanline filter = different bytes
        px = bytes([230 if y < 8 else 20 for y in range(16) for _ in range(16)])
        b = ic.encode_png(16, 16, 1, px, filter_type=2)
        assert a != b
        ha = ic.ahash(*ic.decode_png(a))
        hb = ic.ahash(*ic.decode_png(b))
        assert ha == hb  # perceptually identical despite byte difference
        hc = ic.ahash(*ic.decode_png(self._png(2)))
        assert ha != hc

    def test_small_noise_keeps_hash(self):
        px = bytearray(
            [230 if y < 8 else 20 for y in range(16) for _ in range(16)]
        )
        base = ic.ahash(16, 16, 1, bytes(px))
        px[0] = 226  # tiny brightness change, same side of the mean
        assert ic.ahash(16, 16, 1, bytes(px)) == base

    def test_bit63_folds_to_signed_long(self, spark):
        # Bottom rows bright -> thumbnail pixel 63 (bottom-right) above
        # the mean -> bit 63 set. Unfolded that is >= 2^63, which
        # overflows LongType (Arrow uint64->int64 cast raises and kills
        # the mapInPandas job). ahash must fold into signed-64 range.
        from uc_historic_data_importer_spark.operators import multimodal

        px = bytes(
            [230 if y >= 8 else 20 for y in range(16) for _ in range(16)]
        )
        h = ic.ahash(16, 16, 1, px)
        assert -(1 << 63) <= h < (1 << 63)
        assert h < 0  # bit 63 set -> negative after the fold
        # round-trips the Spark stage without Arrow overflow
        media = spark.createDataFrame(
            [(1, "image", bytearray(ic.encode_png(16, 16, 1, px)))],
            "media_id long, kind string, payload binary",
        )
        rows = multimodal.perceptual_keys(media).collect()
        assert rows[0]["ahash"] == h

    def test_spark_stage_and_sentinels(self, spark):
        from uc_historic_data_importer_spark.operators import multimodal

        media = spark.createDataFrame(
            [(1, "image", bytearray(self._png(8))),
             (2, "image", bytearray(self._png(8))),
             (3, "image", bytearray(b"junk"))],
            "media_id long, kind string, payload binary",
        )
        rows = {r["media_id"]: r["ahash"]
                for r in multimodal.perceptual_keys(media).collect()}
        assert rows[1] == rows[2] != -1
        assert rows[3] == -1


class TestJpegCodec:
    """Baseline-JPEG encode/decode: the encoder's bit writer / Huffman /
    FDCT and the decoder's bit reader / Huffman / IDCT are independent
    implementations, so a roundtrip within DCT tolerance is a real
    cross-check of both."""

    def test_uniform_roundtrip_matches_dc_formula(self):
        import math

        for v in (0, 1, 77, 128, 159, 254, 255):
            p = ic.encode_jpeg_gray(16, 9, bytes([v]) * 144)
            w, h, ch, px = ic.decode_jpeg(p)
            assert (w, h, ch) == (16, 9, 1)
            q = math.floor(8.0 * (v - 128) / 16 + 0.5)
            exp = max(0, min(255, math.floor(16 * q / 8.0 + 0.5) + 128))
            assert set(px) == {exp}, v

    def test_gradient_roundtrip_small_error(self):
        w, h = 24, 17
        img = bytes((x * 3 + y * 5) % 256 for y in range(h) for x in range(w))
        p = ic.encode_jpeg_gray(w, h, img)
        W, H, ch, px = ic.decode_jpeg(p)
        assert (W, H, ch) == (w, h, 1)
        err = max(abs(a - b) for a, b in zip(img, px))
        assert err <= 8, err  # standard quant table, smooth-ish content

    def test_noise_unit_quant_near_lossless(self, monkeypatch):
        import random

        monkeypatch.setattr(ic, "STD_LUM_QT", (1,) * 64)

        rng = random.Random(11)
        w, h = 16, 8
        img = bytes(rng.randrange(256) for _ in range(w * h))
        p = ic.encode_jpeg_gray(w, h, img)
        _, _, _, px = ic.decode_jpeg(p)
        # quantization error <= 0.5 per coefficient; IDCT concentrates
        # it to ~1 lsb for unit tables
        assert max(abs(a - b) for a, b in zip(img, px)) <= 2

    def test_rgb_color_path(self):
        w, h = 16, 16
        img = bytes([120, 60, 200] * (w * h))
        p = ic.encode_jpeg_rgb(w, h, img)
        W, H, ch, px = ic.decode_jpeg(p)
        assert (W, H, ch) == (w, h, 3)
        for c in range(3):
            errs = [abs(px[3 * i + c] - img[3 * i + c]) for i in range(w * h)]
            assert max(errs) <= 2, c  # YCbCr forward+inverse roundoff

    def test_idct_matches_numpy_reference(self):
        import numpy as np
        import random

        from uc_historic_data_importer_spark.functions.imagecodec import (
            _idct,
        )

        rng = random.Random(3)
        coef = [rng.uniform(-500, 500) for _ in range(64)]
        mine = _idct(coef)
        # independent numpy reference: s(x,y) = sum C(u)C(v)/4 S cos cos
        C = np.array([1 / np.sqrt(2)] + [1.0] * 7)
        S = np.array(coef).reshape(8, 8)
        ref = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                acc = 0.0
                for u in range(8):
                    for v in range(8):
                        acc += (
                            C[u] * C[v] / 4 * S[u, v]
                            * np.cos((2 * x + 1) * u * np.pi / 16)
                            * np.cos((2 * y + 1) * v * np.pi / 16)
                        )
                ref[x, y] = acc
        assert np.allclose(np.array(mine).reshape(8, 8), ref, atol=1e-6)

    def test_progressive_rejected(self):
        # minimal SOF2 (progressive) stream: decoder must refuse, and
        # the multimodal dispatcher then falls back to header dims
        import struct as st

        sof2 = (
            b"\xff\xd8"
            + b"\xff\xc2" + st.pack(">H", 11) + st.pack(">BHHB", 8, 4, 6, 1)
            + bytes((1, 0x11, 0))
            + b"\xff\xd9"
        )
        with pytest.raises(ic.UnsupportedImageError):
            ic.decode_jpeg(sof2)
        # header dims still readable
        assert ic.jpeg_dims(sof2) == (6, 4)

    def test_truncated_entropy_rejected(self):
        p = ic.encode_jpeg_gray(16, 16, bytes(256))
        with pytest.raises(ic.UnsupportedImageError):
            ic.decode_jpeg(p[: len(p) // 2])

    def test_sos_unknown_component_rejected_not_stopiteration(self):
        """r9 review: a SOS naming a component id absent from SOF raised
        StopIteration out of next(...) — NOT a _DECODE_ERRORS member, so
        one corrupt-but-signature-valid payload killed the whole Spark
        task instead of falling back to the stub."""
        import struct as st

        p = bytearray(ic.encode_jpeg_gray(8, 8, bytes(64)))
        # the SOS segment is ...FFDA <len=8> <ns=1> <cs=1> <tdta> ...;
        # corrupt the component selector byte (cs 1 -> 9)
        i = bytes(p).find(b"\xff\xda")
        assert i > 0
        p[i + 5] = 9
        with pytest.raises(ic.UnsupportedImageError, match="unknown component"):
            ic.decode_jpeg(bytes(p))

    def test_truncated_sos_and_sof_bodies_rejected(self):
        """Truncated segment bodies must raise UnsupportedImageError,
        not IndexError, from byte-indexed parsing."""
        import struct as st

        # SOF0 with an empty body
        short_sof = (
            b"\xff\xd8" + b"\xff\xc0" + st.pack(">H", 2) + b"\xff\xd9"
        )
        with pytest.raises(ic.UnsupportedImageError):
            ic.decode_jpeg(short_sof)
        # valid SOF, then a SOS whose body is cut mid component list
        p = bytearray(ic.encode_jpeg_gray(8, 8, bytes(64)))
        i = bytes(p).find(b"\xff\xda")
        # claim 2 scan components but provide bytes for one
        p[i + 4] = 2
        with pytest.raises(ic.UnsupportedImageError):
            ic.decode_jpeg(bytes(p))

    def test_fill_bytes_before_markers_parse(self):
        # T.81 B.1.1.2 permits any number of 0xFF fill bytes before a
        # marker; some encoders pad with them (round-5 advice)
        p = ic.encode_jpeg_gray(16, 9, bytes([77]) * 144)
        assert p.startswith(b"\xff\xd8")
        # inject fill bytes after SOI, before the first segment marker
        padded = p[:2] + b"\xff" * 5 + p[2:]
        w, h, ch, px = ic.decode_jpeg(padded)
        ref = ic.decode_jpeg(p)
        assert (w, h, ch, px) == ref

    def test_tiny_quant_dc_overflow_raises_valueerror(self, monkeypatch):
        # the finest legal quant table with maximal DC swings must
        # encode and round-trip, never fail with a raw KeyError from the
        # DC code table (|diff| <= 2040 stays in the 12 baseline DC
        # categories)
        monkeypatch.setattr(ic, "STD_LUM_QT", (1,) * 64)
        # alternate extreme blocks so the DPCM DC difference is maximal
        img = bytes(
            (255 if ((x // 8) + (y // 8)) % 2 == 0 else 0)
            for y in range(16)
            for x in range(16)
        )
        w, h, ch, px = ic.decode_jpeg(ic.encode_jpeg_gray(16, 16, img))
        assert (w, h, ch) == (16, 16, 1)
        assert max(abs(a - b) for a, b in zip(img, px)) <= 2

class TestDctVectorParity:
    """The numpy DCT fast path must be BIT-identical to the scalar
    T.81 direct forms — not close, identical: the media oracles replay
    exact arithmetic (media_jpeg_decode's DC formula) and any last-ulp
    drift in the batched multiply/summation order would flip a
    floor(x+0.5) somewhere eventually. Each case runs encode+decode
    with numpy enabled and with the module's _np forced to None and
    compares payload bytes AND decoded pixels exactly."""

    @staticmethod
    def _both_paths(fn):
        got_np = fn()
        saved = ic._np
        ic._np = None
        try:
            got_scalar = fn()
        finally:
            ic._np = saved
        return got_np, got_scalar

    def test_gray_roundtrip_bitexact_parity(self):
        import random

        rng = random.Random(17)
        imgs = [
            (16, 9, bytes([v]) * 144) for v in (0, 1, 128, 254, 255)
        ] + [
            (
                w,
                h,
                bytes(rng.randrange(256) for _ in range(w * h)),
            )
            for (w, h) in ((1, 1), (8, 8), (24, 17), (33, 7))
        ]

        def run():
            out = []
            for w, h, img in imgs:
                p = ic.encode_jpeg_gray(w, h, img)
                out.append((p, ic.decode_jpeg(p)))
            return out

        a, b = self._both_paths(run)
        assert a == b

    def test_rgb_roundtrip_bitexact_parity(self):
        import random

        rng = random.Random(23)
        img = bytes(rng.randrange(256) for _ in range(24 * 11 * 3))

        def run():
            p = ic.encode_jpeg_rgb(24, 11, img)
            return p, ic.decode_jpeg(p)

        a, b = self._both_paths(run)
        assert a == b

    def test_unit_qt_dense_coefficients_parity(self, monkeypatch):
        # unit quant tables keep nearly every AC coefficient nonzero, so
        # the zero-skip branch is mostly NOT taken — exercises the dense
        # accumulation order
        import random

        monkeypatch.setattr(ic, "STD_LUM_QT", (1,) * 64)
        rng = random.Random(29)
        img = bytes(rng.randrange(256) for _ in range(16 * 16))

        def run():
            p = ic.encode_jpeg_gray(16, 16, img)
            return p, ic.decode_jpeg(p)

        a, b = self._both_paths(run)
        assert a == b

    def test_fdct_idct_block_batch_matches_scalar_exactly(self):
        import random

        import numpy as np

        rng = random.Random(31)
        blocks = [
            [rng.uniform(-128.0, 127.0) for _ in range(64)] for _ in range(7)
        ]
        # sparsify some rows so the zero-skip branch is taken too
        for j in range(64):
            if j % 3:
                blocks[2][j] = 0.0
            blocks[4][j] = 0.0
        B = np.asarray(blocks)
        batch_f = ic._fdct_blocks(B)
        batch_i = ic._idct_blocks(B)
        for r in range(len(blocks)):
            assert batch_f[r].tolist() == ic._fdct(blocks[r])
            assert batch_i[r].reshape(64).tolist() == ic._idct(blocks[r])

    def test_encode_batch_matches_per_image_exactly(self):
        # encode_jpeg_gray_batch must be byte-identical to looping
        # encode_jpeg_gray — across mixed dims, uniform and random
        # pixels, and batches large enough to hit the nb>=32 FDCT branch
        import random

        rng = random.Random(41)
        items = [
            (1 + i % 16, 1 + i % 9, bytes([i % 256]) * ((1 + i % 16) * (1 + i % 9)))
            for i in range(300)
        ]
        for _ in range(20):
            w, h = rng.randint(1, 40), rng.randint(1, 40)
            items.append(
                (w, h, bytes(rng.randrange(256) for _ in range(w * h)))
            )
        ref = [ic.encode_jpeg_gray(w, h, p) for w, h, p in items]
        assert ic.encode_jpeg_gray_batch(items) == ref
        # scalar fallback path too
        saved = ic._np
        ic._np = None
        try:
            assert ic.encode_jpeg_gray_batch(items[:40]) == ref[:40]
        finally:
            ic._np = saved
        assert ic.encode_jpeg_gray_batch([]) == []
        import pytest

        with pytest.raises(ValueError):
            ic.encode_jpeg_gray_batch([(2, 2, b"abc")])

    def test_chunked_decode_matches_single_chunk(self, monkeypatch):
        # a decode spanning multiple IDCT chunks must equal the
        # one-chunk result (chunk boundaries are invisible)
        import random

        rng = random.Random(37)
        img = bytes(rng.randrange(256) for _ in range(40 * 33))
        p = ic.encode_jpeg_gray(40, 33, img)
        whole = ic.decode_jpeg(p)
        monkeypatch.setattr(ic, "_IDCT_CHUNK", 3)
        assert ic.decode_jpeg(p) == whole


class TestJpegPropertyParity:
    """Hypothesis: arbitrary small images through encode+decode must be
    byte-identical between the numpy fast path and the forced-scalar
    fallback — payload bytes AND decoded pixels."""

    def test_random_gray_images_parity(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=15, deadline=None)
        @given(
            w=st.integers(min_value=1, max_value=20),
            h=st.integers(min_value=1, max_value=20),
            data=st.data(),
        )
        def run(w, h, data):
            img = bytes(
                data.draw(
                    st.lists(
                        st.integers(min_value=0, max_value=255),
                        min_size=w * h,
                        max_size=w * h,
                    )
                )
            )
            p1 = ic.encode_jpeg_gray(w, h, img)
            d1 = ic.decode_jpeg(p1)
            saved = ic._np
            ic._np = None
            try:
                p2 = ic.encode_jpeg_gray(w, h, img)
                d2 = ic.decode_jpeg(p2)
            finally:
                ic._np = saved
            assert p1 == p2
            assert d1 == d2

        run()


class TestRestartMarkersAndFastPath:
    """r11: the segment-prescan bit reader (fast-table Huffman decode)
    must handle DRI/RSTn streams and keep the error-parity contract.
    encode_jpeg_gray never emits DRI, so these build the restart stream
    by hand from the encoder's own primitives."""

    def _encode_gray_dri(self, w, h, pixels, dri):
        import struct as st

        bw = None
        out = bytearray(b"\xff\xd8")
        qt = ic.STD_LUM_QT
        qt_zz = bytes(qt[ic._ZIGZAG[i]] for i in range(64))
        out += ic._seg(0xDB, b"\x00" + qt_zz)
        out += ic._seg(
            0xC0, st.pack(">BHHB", 8, h, w, 1) + bytes((1, 0x11, 0))
        )
        out += ic._seg(
            0xC4, b"\x00" + bytes(ic._ENC_DC_BITS) + bytes(ic._ENC_DC_VALS)
        )
        out += ic._seg(
            0xC4, b"\x10" + bytes(ic._ENC_AC_BITS) + bytes(ic._ENC_AC_VALS)
        )
        out += ic._seg(0xDD, st.pack(">H", dri))  # DRI
        out += ic._seg(0xDA, bytes((1, 1, 0x00, 0, 63, 0)))
        pred = 0
        rst = 0
        mcu = 0
        bw = ic._BitWriter()
        for q in ic._quantized_blocks(w, h, pixels, qt):
            if dri and mcu and mcu % dri == 0:
                bw.flush()
                out += bw.out
                out += bytes((0xFF, 0xD0 + (rst & 7)))
                rst = (rst + 1) & 7
                pred = 0
                bw = ic._BitWriter()
            pred = ic._encode_block(bw, q, pred, ic._ENC_DC_CODES,
                                    ic._ENC_AC_CODES)
            mcu += 1
        bw.flush()
        out += bw.out
        out += b"\xff\xd9"
        return bytes(out)

    def _gradient(self, w, h):
        return bytes(((x * 7 + y * 13) % 256) for y in range(h)
                     for x in range(w))

    def test_dri_roundtrip_matches_no_dri(self):
        w, h = 40, 24  # 5x3 = 15 MCUs
        px = self._gradient(w, h)
        plain = ic.decode_jpeg(ic.encode_jpeg_gray(w, h, px))
        for dri in (1, 2, 4, 7):
            with_dri = ic.decode_jpeg(self._encode_gray_dri(w, h, px, dri))
            assert with_dri == plain, f"dri={dri} diverged"

    def test_dri_wrong_restart_index_raises(self):
        w, h = 40, 24
        px = self._gradient(w, h)
        p = bytearray(self._encode_gray_dri(w, h, px, 2))
        # corrupt the first RST marker's index (D0 -> D5)
        i = p.find(b"\xff\xd0")
        assert i > 0
        p[i + 1] = 0xD5
        with pytest.raises(ic.UnsupportedImageError,
                           match="unexpected restart marker"):
            ic.decode_jpeg(bytes(p))

    def test_dri_missing_restart_marker_raises(self):
        w, h = 40, 24
        px = self._gradient(w, h)
        p = self._encode_gray_dri(w, h, px, 2)
        i = p.find(b"\xff\xd0")
        # excise the RST marker entirely: the decoder expects it at the
        # byte-aligned restart point
        p2 = p[:i] + p[i + 2 :]
        with pytest.raises(ic.UnsupportedImageError,
                           match="restart marker"):
            ic.decode_jpeg(p2)

    def test_truncated_entropy_and_marker_in_mcu_errors_keep_shape(self):
        w, h = 16, 16
        px = self._gradient(w, h)
        p = ic.encode_jpeg_gray(w, h, px)
        # chop the tail (EOI + some entropy bytes): truncated stream
        with pytest.raises(ic.UnsupportedImageError,
                           match="truncated entropy data|marker inside MCU"):
            ic.decode_jpeg(p[: len(p) - 8])
        # EOI moved INTO the entropy stream: marker inside an MCU
        body_start = p.find(bytes((0xDA,))) + 10
        p3 = p[: body_start + 4] + b"\xff\xd9"
        with pytest.raises(ic.UnsupportedImageError,
                           match="marker inside MCU|truncated"):
            ic.decode_jpeg(p3)

    def test_fast_table_cache_is_bounded_and_reused(self):
        ic._HUFF_FAST_CACHE.clear()
        px = self._gradient(16, 16)
        p = ic.encode_jpeg_gray(16, 16, px)
        ic.decode_jpeg(p)
        n1 = len(ic._HUFF_FAST_CACHE)
        ic.decode_jpeg(p)
        assert len(ic._HUFF_FAST_CACHE) == n1  # reused, not rebuilt
        # bound: distinct synthetic tables cannot grow it past the cap
        for i in range(ic._HUFF_FAST_CACHE_MAX + 8):
            bits = [0] * 16
            bits[7] = 2
            ic._HuffTable(bytes(bits), bytes([i & 255, (i + 1) & 255]))
        assert len(ic._HUFF_FAST_CACHE) <= ic._HUFF_FAST_CACHE_MAX

    def test_overfull_huffman_table_keeps_shortest_match(self):
        """A corrupt non-prefix-free DHT must decode like the per-bit
        reader did: shortest code wins, and codes past a length's bit
        capacity are unreachable (never let longer codes overwrite or
        extend the 2^16 fast table)."""
        ic._HUFF_FAST_CACHE.clear()
        # length-1 code 0 -> symbol 7; then FOUR length-2 codes (only
        # codes 2,3 are legal after one 1-bit code; the extra two
        # overlap code 0's half and overflow 2-bit capacity)
        bits = [1, 4] + [0] * 14
        tab = ic._HuffTable(bytes(bits), bytes([7, 20, 21, 22, 23]))
        assert len(tab.fast) == 65536
        # prefix 0... still decodes to the length-1 symbol 7
        e = tab.fast[0x0000]
        assert e >> 5 == 7 and (e & 31) == 1
        # legal length-2 codes 10/11 decode to the first two vals
        assert tab.fast[0b10 << 14] >> 5 == 20
        assert tab.fast[0b11 << 14] >> 5 == 21


class TestBitReaderPropertyParity:
    """r11: the segment-prescan bit reader feeds BOTH scan decoders
    (numpy-batched and scalar). Property-pin that arbitrary content
    round-trips identically through the two, so the shared entropy
    decode cannot drift between them."""

    def test_random_images_roundtrip_np_equals_scalar(self, monkeypatch):
        import random

        rng = random.Random(20260816)
        for trial in range(12):
            w = rng.randrange(1, 25)
            h = rng.randrange(1, 25)
            px = bytes(rng.randrange(256) for _ in range(w * h))
            p = ic.encode_jpeg_gray(w, h, px)
            via_np = ic.decode_jpeg(p)
            monkeypatch.setattr(ic, "_np", None)
            via_scalar = ic.decode_jpeg(p)
            monkeypatch.undo()
            assert via_np == via_scalar, f"trial {trial} dims {w}x{h}"
            assert via_np[:3] == (w, h, 1)

    def test_random_rgb_roundtrip_np_equals_scalar(self, monkeypatch):
        import random

        rng = random.Random(99)
        for trial in range(4):
            w = rng.randrange(1, 17)
            h = rng.randrange(1, 17)
            px = bytes(rng.randrange(256) for _ in range(w * h * 3))
            p = ic.encode_jpeg_rgb(w, h, px)
            via_np = ic.decode_jpeg(p)
            monkeypatch.setattr(ic, "_np", None)
            via_scalar = ic.decode_jpeg(p)
            monkeypatch.undo()
            assert via_np == via_scalar, f"trial {trial} dims {w}x{h}"
            assert via_np[:3] == (w, h, 3)
