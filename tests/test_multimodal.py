"""Multimodal plumbing: binary columns through Arrow, stubbed decode with
real shapes, metadata consistency with the oracle-checked query."""

import numpy as np
import pytest

from crumble_spark import multimodal as mm

SF = "/root/testdata/sf0.001"


def test_media_table_binary_column(spark):
    m = mm.media_table(spark, SF)
    rows = m.limit(5).collect()
    assert all(isinstance(bytes(r["payload"]), bytes) and r["n_bytes"] == 16 for r in rows)


def test_stub_decode_shapes_are_contractual():
    payload = bytes(range(16))
    img = mm.decode_image_stub(payload)
    assert img.dtype == np.uint8 and img.ndim == 3 and img.shape[2] == 3
    # deterministic: same payload, same pixels
    np.testing.assert_array_equal(img, mm.decode_image_stub(payload))


def test_decode_image_real_without_pil_raises_actionable(monkeypatch):
    # the no-PIL branch must stay reachable and actionable even on hosts
    # that have Pillow installed
    monkeypatch.setattr(mm, "_PIL_Image", None)
    with pytest.raises(NotImplementedError, match="Pillow"):
        mm.decode_image_real(bytes(range(16)))


@pytest.mark.skipif(mm._PIL_Image is None, reason="Pillow not installed")
def test_decode_image_real_with_pil_roundtrips_png():
    import io

    img = np.arange(4 * 5 * 3, dtype=np.uint8).reshape(4, 5, 3)
    buf = io.BytesIO()
    mm._PIL_Image.fromarray(img).save(buf, format="PNG")
    out = mm.decode_image_real(buf.getvalue())
    assert out.shape == (4, 5, 3) and out.dtype == np.uint8
    np.testing.assert_array_equal(out, img)


def test_ppm_truncated_header_raises_explicit():
    # a payload cut inside the header must raise the explicit truncation
    # error, not IndexError / int(b'') (ADVICE r3)
    for cut in (b"P6", b"P6\n", b"P6\n12", b"P6\n12 13\n", b"P6\n# only comment"):
        with pytest.raises(ValueError, match="truncated PPM header"):
            mm.decode_ppm(cut)


def test_feature_dims_match_metadata_query(spark):
    # the stub decoder and the Catalyst metadata query read the same
    # header bytes: every doc decodes to the (height, width) the query
    # derives without decoding
    stub = {
        r["doc_id"]: mm.decode_image_stub(bytes(r["payload"])).shape[:2]
        for r in mm.media_table(spark, SF).collect()
    }
    meta = {
        r["doc_id"]: (r["height"], r["width"])
        for r in mm.q_mm_binary_meta(spark, SF).collect()
    }
    assert stub == meta


def test_ppm_encode_decode_roundtrip():
    import numpy as np

    from crumble_spark.multimodal import decode_image, decode_ppm, encode_ppm

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(7, 11, 3), dtype=np.uint8)
    np.testing.assert_array_equal(decode_ppm(encode_ppm(img)), img)
    # dispatcher routes P6 to the real decoder
    np.testing.assert_array_equal(decode_image(encode_ppm(img)), img)


def test_ppm_header_comments_and_whitespace():
    import numpy as np

    from crumble_spark.multimodal import decode_ppm

    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    payload = b"P6\n# a comment line\n3   2\n# another\n255\n" + img.tobytes()
    np.testing.assert_array_equal(decode_ppm(payload), img)


def test_ppm_truncated_and_bad_magic_raise():
    import numpy as np
    import pytest

    from crumble_spark.multimodal import decode_image, decode_ppm, encode_ppm

    img = np.zeros((4, 4, 3), dtype=np.uint8)
    full = encode_ppm(img)
    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(full[:-5])
    with pytest.raises(ValueError, match="not a P6"):
        decode_ppm(b"P5\n1 1\n255\n\x00")
    # non-PPM payloads fall back to the deterministic stub, same contract
    out = decode_image(b"\x07\x09" + b"x" * 14)
    assert out.shape == (8, 10, 3) and out.dtype == np.uint8


def test_wav_encode_decode_roundtrip_and_chunk_walk():
    import numpy as np

    from crumble_spark.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(5)
    samples = rng.integers(-(2**15), 2**15, 37, dtype=np.int16)
    got, rate = decode_wav(encode_wav(samples, sample_rate=8000))
    np.testing.assert_array_equal(got, samples)
    assert rate == 8000

    # unknown chunk BEFORE data (odd size → word-aligned pad) is skipped
    full = encode_wav(samples)
    hdr, data_chunk = full[:36], full[36:]
    extra = b"LIST" + (3).to_bytes(4, "little") + b"abc" + b"\x00"  # pad byte
    patched = full[:12] + full[12:36] + extra + data_chunk
    got2, rate2 = decode_wav(patched)
    np.testing.assert_array_equal(got2, samples)
    assert rate2 == 16_000


def test_wav_rejects_bad_inputs():
    import numpy as np
    import pytest

    from crumble_spark.multimodal import decode_wav, encode_wav

    with pytest.raises(ValueError, match="RIFF/WAVE"):
        decode_wav(b"OggS" + b"\x00" * 40)
    # stereo/non-PCM must be refused, not silently misparsed
    samples = np.zeros(4, dtype=np.int16)
    full = bytearray(encode_wav(samples))
    full[22] = 2  # channels = 2
    with pytest.raises(ValueError, match="PCM16 mono"):
        decode_wav(bytes(full))


def test_media_codecs_roundtrip_property():
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from crumble_spark.multimodal import decode_ppm, decode_wav, encode_ppm, encode_wav

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(1, 9), st.integers(1, 9),
        st.lists(st.integers(0, 255), min_size=1, max_size=300),
    )
    def ppm(h, w, flat):
        img = np.resize(np.array(flat, dtype=np.uint8), (h, w, 3))
        np.testing.assert_array_equal(decode_ppm(encode_ppm(img)), img)

    @settings(max_examples=40, deadline=None)
    @given(st.lists(st.integers(-(2**15), 2**15 - 1), min_size=1, max_size=500))
    def wav(vals):
        samples = np.array(vals, dtype=np.int16)
        got, rate = decode_wav(encode_wav(samples))
        np.testing.assert_array_equal(got, samples)
        assert rate == 16_000

    ppm()
    wav()

def test_png_encode_decode_roundtrip_all_filters():
    # encode cycles filter types per row, so any h >= 5 exercises every
    # unfilter path (None/Sub/Up/Average/Paeth)
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(9, 7, 3), dtype=np.uint8)
    payload = mm.encode_png(img)
    assert payload[:8] == mm.PNG_SIG
    np.testing.assert_array_equal(mm.decode_png(payload), img)
    # dispatcher routes PNG-signature payloads to the real decoder
    np.testing.assert_array_equal(mm.decode_image(payload), img)


def test_png_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(1, 12), st.integers(1, 12),
        st.lists(st.integers(0, 255), min_size=1, max_size=300),
    )
    def png(h, w, flat):
        img = np.resize(np.array(flat, dtype=np.uint8), (h, w, 3))
        np.testing.assert_array_equal(mm.decode_png(mm.encode_png(img)), img)

    png()


def test_png_rejects_corruption_and_unsupported():
    img = np.arange(5 * 4 * 3, dtype=np.uint8).reshape(5, 4, 3)
    full = bytearray(mm.encode_png(img))
    with pytest.raises(ValueError, match="not a PNG"):
        mm.decode_png(b"GIF89a" + bytes(full))
    # flip one IDAT byte: the chunk CRC must catch it
    bad = bytearray(full)
    bad[len(mm.PNG_SIG) + 12 + 13 + 12 + 8] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        mm.decode_png(bytes(bad))
    # unsupported color type (RGBA) must raise, not misparse
    hdr_off = len(mm.PNG_SIG) + 8
    rgba = bytearray(full)
    rgba[hdr_off + 9] = 6
    import zlib as _z
    body = bytes(rgba[hdr_off : hdr_off + 13])
    rgba[hdr_off + 13 : hdr_off + 17] = (
        _z.crc32(b"IHDR" + body) & 0xFFFFFFFF
    ).to_bytes(4, "big")
    with pytest.raises(ValueError, match="only 8-bit"):
        mm.decode_png(bytes(rgba))
    with pytest.raises(ValueError, match="missing IHDR/IDAT"):
        mm.decode_png(mm.PNG_SIG)


def test_png_media_table_matches_oracle_derivation(spark):
    # the payload builder and the DuckDB oracle must derive identical
    # pixels from the md5 hex; check a slice end-to-end through the
    # real deflate round trip
    import hashlib

    m = mm.media_table_png(spark, SF).limit(20).collect()
    d = {r["doc_id"]: bytes(r["payload"]) for r in m}
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
        if r["doc_id"] in d
    }
    assert d and set(docs) == set(d)
    for doc_id, payload in d.items():
        hx = hashlib.md5(docs[doc_id].encode("utf-8")).hexdigest()
        w, h = int(hx[6:8], 16) % 16 + 1, int(hx[8:10], 16) % 16 + 1
        expect = np.frombuffer(
            bytes.fromhex((hx * mm.PNG_REPEATS)[16 : 16 + w * h * 6]), np.uint8
        ).reshape(h, w, 3)
        np.testing.assert_array_equal(mm.decode_png(payload), expect)


def test_decode_image_real_pil_branch_executes_via_fake_pil(monkeypatch):
    # VERDICT r4 #4: drive the PIL code path (open → convert("RGB") →
    # asarray) without Pillow installed, via a minimal fake module
    img = np.arange(3 * 4 * 3, dtype=np.uint8).reshape(3, 4, 3)

    class FakeImg:
        def __init__(self, arr):
            self._arr = arr

        def convert(self, mode):
            assert mode == "RGB"
            return self._arr  # np.asarray(ndarray) is the identity

    class FakePIL:
        @staticmethod
        def open(buf):
            assert buf.read(4) == b"\x89PNG"  # ADVICE r5: was a tautology
            return FakeImg(img)

    monkeypatch.setattr(mm, "_PIL_Image", FakePIL)
    out = mm.decode_image_real(b"\x89PNG\r\n\x1a\n-fake-")
    assert out.dtype == np.uint8
    np.testing.assert_array_equal(out, img)


def test_decode_image_routes_unsupported_png_to_real_decoder(monkeypatch):
    # ADVICE r5: a valid-but-unsupported PNG (RGBA) must fall back to
    # decode_image_real inside decode_image — not propagate
    # UnsupportedPngError — while corruption still surfaces.
    import zlib as _z

    img = np.arange(5 * 4 * 3, dtype=np.uint8).reshape(5, 4, 3)
    rgba = bytearray(mm.encode_png(img))
    hdr_off = len(mm.PNG_SIG) + 8
    rgba[hdr_off + 9] = 6  # color type 6 = RGBA
    body = bytes(rgba[hdr_off : hdr_off + 13])
    rgba[hdr_off + 13 : hdr_off + 17] = (
        _z.crc32(b"IHDR" + body) & 0xFFFFFFFF
    ).to_bytes(4, "big")
    payload = bytes(rgba)

    # decode_png itself still refuses it
    with pytest.raises(mm.UnsupportedPngError):
        mm.decode_png(payload)

    # no PIL: the fallback reaches decode_image_real's documented error
    monkeypatch.setattr(mm, "_PIL_Image", None)
    with pytest.raises(NotImplementedError, match="Pillow"):
        mm.decode_image(payload)

    # fake PIL present: the fallback decodes through the PIL branch
    fake = np.full((2, 2, 3), 7, dtype=np.uint8)

    class FakeImg:
        def convert(self, mode):
            assert mode == "RGB"
            return fake

    class FakePIL:
        @staticmethod
        def open(buf):
            assert buf.read(8) == mm.PNG_SIG
            return FakeImg()

    monkeypatch.setattr(mm, "_PIL_Image", FakePIL)
    np.testing.assert_array_equal(mm.decode_image(payload), fake)

    # corruption (CRC flip in IDAT) must still propagate, never fall back
    bad = bytearray(mm.encode_png(img))
    bad[len(mm.PNG_SIG) + 12 + 13 + 12 + 8] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        mm.decode_image(bytes(bad))
