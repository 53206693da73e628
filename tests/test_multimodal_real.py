"""Real container decoding (operators/multimodal.py::decode_media_real):
the RIFF/WAVE and PPM parsers must actually read headers and sample
planes — round-tripping bytes bit-exactly through the Arrow path — and
NotImplementedError must remain ONLY for genuinely absent codecs."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from real_time_data_analytics_cassandra_spark.operators import (
    multimodal as mm,
)


def test_wav_samples_round_trip_bit_exactly():
    data = bytes(range(256)) * 3 + b"\x07"  # odd length: exercises pad
    payload = mm._wav_container(data, sample_rate=44100)
    meta, samples = mm.decode_payload(payload)
    assert meta["format"] == "wav"
    assert meta["sample_rate"] == 44100
    assert meta["n_channels"] == 1 and meta["bits_per_sample"] == 8
    assert meta["n_samples"] == len(data)
    assert samples.tobytes() == data  # the actual PCM plane, bit-exact
    assert len(payload) == 44 + len(data) + 1  # RIFF pad byte


def _wav_16bit_stereo(pcm: np.ndarray) -> bytes:
    """A 16-bit stereo WAV holding ``pcm``, with a LIST chunk between
    fmt and data."""
    info = b"INFOIART" + struct.pack("<I", 4) + b"spk\x00"
    return (
        struct.pack("<4sI4s", b"RIFF", 0, b"WAVE")
        + struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 2, 16000, 64000, 4, 16)
        + struct.pack("<4sI", b"LIST", len(info)) + info
        + struct.pack("<4sI", b"data", pcm.nbytes) + pcm.tobytes()
    )


def test_wav_16bit_and_extra_chunks():
    """A 16-bit stereo WAV with a LIST chunk between fmt and data —
    the chunk walker must skip unknown chunks and honor block
    alignment."""
    pcm = np.arange(-500, 500, dtype="<i2")  # 1000 samples = 500 frames
    meta, samples = mm.decode_payload(_wav_16bit_stereo(pcm))
    assert meta["n_channels"] == 2 and meta["bits_per_sample"] == 16
    assert meta["n_samples"] == 500
    assert np.array_equal(samples, pcm)


def test_ppm_decode_with_comment():
    pixels = bytes(range(2 * 3 * 3))  # 2x3 RGB
    payload = b"P6\n# a comment\n3 2\n255\n" + pixels
    meta, plane = mm.decode_payload(payload)
    assert meta["format"] == "ppm"
    assert (meta["width"], meta["height"]) == (3, 2)
    assert plane.tobytes() == pixels


def test_absent_codecs_still_raise():
    with pytest.raises(NotImplementedError, match="no decoder"):
        mm.decode_payload(b"\xff\xd8\xff\xe0 jpeg-ish")
    # non-PCM WAV = genuinely absent codec too
    body = (
        struct.pack("<4sI4s", b"RIFF", 0, b"WAVE")
        + struct.pack("<4sIHHIIHH", b"fmt ", 16, 85, 1, 8000, 8000, 1, 8)
        + struct.pack("<4sI", b"data", 0)
    )
    with pytest.raises(NotImplementedError, match="codec"):
        mm.decode_payload(body)


def test_signature_stages_reject_other_layouts(spark):
    """The shared signature stage keeps each hash's layout guard: the
    image hashes refuse a 3-channel PPM plane and the audio
    fingerprints refuse 16-bit stereo PCM, naming the layout they
    need instead of hashing interleaved or wide samples."""
    # one partition each: exactly one task runs and raises, so no
    # sibling task's cancellation error is reported ahead of the guard's
    ppm = spark.createDataFrame(
        [(1, mm._ppm_container(b"rgb" * 40))], mm.PAYLOAD_SCHEMA
    ).coalesce(1)
    wav16 = spark.createDataFrame(
        [(1, _wav_16bit_stereo(np.arange(-500, 500, dtype="<i2")))],
        mm.PAYLOAD_SCHEMA,
    ).coalesce(1)
    for stage, payloads, need in (
        (mm.image_ahash_signatures, ppm, "needs a single-channel plane"),
        (mm.image_dhash_signatures, ppm, "needs a single-channel plane"),
        (mm.audio_energy_fingerprints, wav16, "needs 8-bit mono PCM"),
        (mm.audio_spectral_fingerprints, wav16, "needs 8-bit mono PCM"),
    ):
        with pytest.raises(Exception, match=f"{stage.__name__} {need}"):
            stage(payloads).collect()


@pytest.mark.slow
def test_real_decode_through_arrow_path(spark):
    """End-to-end through mapInPandas: genuine WAV containers built
    from rows, decoded by the real parser, metadata checked against
    the known construction."""
    rows = [(1, "hello world"), (2, "x" * 101), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in mm.decode_media_real(
            mm.attach_payload(df, "doc_id", "text", "wav")
        ).collect()
    }
    assert out[1]["n_samples"] == 11 and out[1]["byte_len"] == 44 + 11 + 1
    assert out[2]["n_samples"] == 101 and out[2]["byte_len"] == 44 + 101 + 1
    assert out[3]["n_samples"] == 0 and out[3]["byte_len"] == 44
    assert all(
        r["format"] == "wav"
        and r["sample_rate"] == mm.WAV_SAMPLE_RATE
        and r["width"] is None
        for r in out.values()
    )


def test_png_pixels_round_trip_all_filters_and_multi_idat():
    """The encoder cycles all five spec filter types and splits the
    zlib stream across two IDAT chunks; the decoder must defilter and
    concatenate to recover the plane bit-exactly (padding included)."""
    for n in (0, 1, 63, 64, 65, 64 * 5 + 7, 5000):
        data = bytes((i * 37 + n) % 256 for i in range(n))
        png = mm._png_container(data)
        assert png.count(b"IDAT") >= (2 if n > 0 else 1)
        meta, px = mm.decode_payload(png)
        h = max(1, -(-n // mm.PNG_WIDTH))
        assert meta["format"] == "png"
        assert (meta["width"], meta["height"]) == (mm.PNG_WIDTH, h)
        assert (meta["n_channels"], meta["bits_per_sample"]) == (1, 8)
        assert bytes(px) == data + b"\x00" * (mm.PNG_WIDTH * h - n)


def test_png_palette_container_round_trip():
    """The product-side 4-bit palette container (registry query
    media_png_palette_decode): every input byte becomes two palette
    indices (hi nibble first), expanded through the 16-entry gray
    ramp to 8-bit RGB — recovered bit-exactly through defiltering,
    sub-byte unpacking AND palette expansion, for lengths crossing
    every row boundary."""
    for n in (0, 1, 31, 32, 33, 32 * 5 + 7, 5000):
        data = bytes((i * 37 + n) % 256 for i in range(n))
        png = mm._png_container_palette(data)
        assert png.count(b"PLTE") == 1
        assert png.count(b"IDAT") >= (2 if n > 0 else 1)
        meta, px = mm.decode_payload(png)
        row_bytes = mm.PNG_WIDTH // 2
        h = max(1, -(-n // row_bytes))
        assert meta["format"] == "png"
        assert (meta["width"], meta["height"]) == (mm.PNG_WIDTH, h)
        # palette expands to 8-bit RGB regardless of the stored depth
        assert (meta["n_channels"], meta["bits_per_sample"]) == (3, 8)
        padded = data + b"\x00" * (row_bytes * h - n)
        want = []
        for byte in padded:
            for idx in (byte >> 4, byte & 0x0F):
                want.extend((idx * 17,) * 3)
        assert list(px) == want


def test_png_gray16_container_round_trip():
    """The product-side 16-bit grayscale container (registry query
    media_png_gray16_decode): byte pairs become big-endian uint16
    samples, recovered bit-exactly through bpp=2 defiltering across
    row-boundary lengths (including an odd length exercising the
    zero-padded low byte)."""
    for n in (0, 1, 2, 127, 128, 129, 128 * 5 + 7, 5000):
        data = bytes((i * 37 + n) % 256 for i in range(n))
        png = mm._png_container_gray16(data)
        assert png.count(b"IDAT") >= (2 if n > 0 else 1)
        meta, px = mm.decode_payload(png)
        row_bytes = mm.PNG_WIDTH * 2
        h = max(1, -(-n // row_bytes))
        assert meta["format"] == "png"
        assert (meta["width"], meta["height"]) == (mm.PNG_WIDTH, h)
        assert (meta["n_channels"], meta["bits_per_sample"]) == (1, 16)
        padded = data + b"\x00" * (row_bytes * h - n)
        want = [
            (padded[i] << 8) | padded[i + 1]
            for i in range(0, len(padded), 2)
        ]
        assert px.dtype.name == "uint16" and list(px) == want


def test_png_rgba_container_round_trip():
    """The product-side 8-bit RGBA container (registry query
    media_png_rgba_decode): groups of four input bytes become one
    interleaved R,G,B,A pixel, recovered bit-exactly through bpp=4
    defiltering across row-boundary lengths (including lengths not
    divisible by 4, exercising the zero-padded trailing channels)."""
    for n in (0, 1, 3, 4, 255, 256, 257, 256 * 5 + 7, 5000):
        data = bytes((i * 37 + n) % 256 for i in range(n))
        png = mm._png_container_rgba(data)
        assert png.count(b"IDAT") >= (2 if n > 0 else 1)
        meta, px = mm.decode_payload(png)
        row_bytes = mm.PNG_WIDTH * 4
        h = max(1, -(-n // row_bytes))
        assert meta["format"] == "png"
        assert (meta["width"], meta["height"]) == (mm.PNG_WIDTH, h)
        assert (meta["n_channels"], meta["bits_per_sample"]) == (4, 8)
        assert bytes(px) == data + b"\x00" * (row_bytes * h - n)


def test_png_crc_verification_and_boundaries():
    import zlib

    png = bytearray(mm._png_container(b"abcdef" * 40))
    # flip a byte inside the first IDAT body -> its CRC must trip
    png[png.index(b"IDAT") + 10] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        mm._decode_png(bytes(png))

    def mk(width, height, depth, color, interlace, raw):
        ihdr = struct.pack(
            ">IIBBBBB", width, height, depth, color, 0, 0, interlace
        )
        idat = zlib.compress(raw)
        return (
            mm._PNG_SIG
            + mm._png_chunk(b"IHDR", ihdr)
            + mm._png_chunk(b"IDAT", idat)
            + mm._png_chunk(b"IEND", b"")
        )

    # RGB (color type 2) decodes: 2x2 image, per-row filters Sub then Up
    row0 = bytes([10, 20, 30, 40, 50, 60])
    row1 = bytes([5, 5, 5, 105, 105, 105])
    filt = (
        bytes([1])
        + row0[:3]
        + bytes((row0[i] - row0[i - 3]) & 0xFF for i in range(3, 6))
        + bytes([2])
        + bytes((row1[i] - row0[i]) & 0xFF for i in range(6))
    )
    meta, px = mm._decode_png(mk(2, 2, 8, 2, 0, filt))
    assert meta["n_channels"] == 3 and (meta["width"], meta["height"]) == (2, 2)
    assert bytes(px) == row0 + row1

    # 16-bit gray decodes to uint16 samples (big-endian pairs)
    meta16, px16 = mm._decode_png(mk(2, 1, 16, 0, 0, bytes([0, 0, 1, 0, 2])))
    assert meta16["bits_per_sample"] == 16
    assert px16.dtype.name == "uint16" and px16.tolist() == [1, 2]
    # an interlace=1 stream sized for a sequential image is malformed
    with pytest.raises(ValueError, match="length mismatch"):
        mm._decode_png(mk(4, 1, 8, 0, 1, bytes([0, 1, 2, 3, 4])))
    # illegal (color, depth) combos are data errors, not boundaries
    with pytest.raises(ValueError, match="illegal"):
        mm._decode_png(mk(2, 1, 4, 2, 0, bytes([0, 1])))
    # a bare color-type-3 stream without PLTE is malformed, not absent
    with pytest.raises(ValueError, match="missing PLTE"):
        mm._decode_png(mk(4, 1, 8, 3, 0, bytes([0, 1, 2, 3, 4])))


@pytest.mark.slow
def test_png_decode_through_arrow_path(spark):
    rows = [(1, "hello world"), (2, "x" * 101), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in mm.decode_media_real(
            mm.attach_payload(df, "doc_id", "text", "png")
        ).collect()
    }
    assert (out[1]["width"], out[1]["height"]) == (64, 1)
    assert (out[2]["width"], out[2]["height"]) == (64, 2)
    assert (out[3]["width"], out[3]["height"]) == (64, 1)
    assert all(
        r["format"] == "png"
        and r["n_channels"] == 1
        and r["bits_per_sample"] == 8
        and r["n_samples"] is None
        and r["sample_rate"] is None
        for r in out.values()
    )


def test_ppm_container_round_trips_through_arrow_path(spark):
    rows = [(1, "hello world"), (2, "x" * 200), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in mm.decode_media_real(
            mm.attach_payload(df, "doc_id", "text", "ppm")
        ).collect()
    }
    assert (out[1]["width"], out[1]["height"]) == (32, 1)
    assert (out[2]["width"], out[2]["height"]) == (32, 3)
    assert (out[3]["width"], out[3]["height"]) == (32, 1)
    assert all(
        r["format"] == "ppm" and r["n_channels"] == 3 for r in out.values()
    )
    # plane bytes round-trip: the decoded pixels ARE the utf-8 bytes
    # (zero-padded)
    meta, px = mm.decode_payload(mm._ppm_container(b"abc"))
    assert bytes(px) == b"abc" + b"\x00" * (32 * 1 * 3 - 3)


def test_png_codec_fuzz_round_trip():
    """Hypothesis fuzz: ANY byte payload round-trips through the PNG
    container bit-exactly (all five filters exercised whenever height
    >= 5), and the container always carries a verifiable CRC chain."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(st.binary(min_size=0, max_size=2000))
    def prop(data):
        png = mm._png_container(data)
        meta, px = mm._decode_png(png)
        h = max(1, -(-len(data) // mm.PNG_WIDTH))
        assert bytes(px) == data + b"\x00" * (mm.PNG_WIDTH * h - len(data))
        assert meta["height"] == h

    prop()


def test_ppm_codec_fuzz_round_trip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(st.binary(min_size=0, max_size=2000))
    def prop(data):
        meta, px = mm._decode_ppm(mm._ppm_container(data))
        plane = mm.PPM_WIDTH * meta["height"] * 3
        assert bytes(px) == data + b"\x00" * (plane - len(data))

    prop()


def test_malformed_containers_raise_typed_errors():
    """Hostile-bytes gate: decoders facing real crawl data see
    malformed containers first.  Lying length fields, short pixel/
    sample planes, and over-declared dimensions must raise ValueError
    (typed, catchable by the quarantine path) — never hang, OOM on a
    bogus allocation, or silently truncate the plane."""
    import zlib

    # --- PNG: lying chunk length (extends past payload end) ---
    png = bytearray(mm._png_container(b"xyz" * 50))
    i = png.index(b"IDAT") - 4
    png[i : i + 4] = struct.pack(">I", 10_000_000)
    with pytest.raises(ValueError, match="truncated PNG chunk"):
        mm._decode_png(bytes(png))

    # --- PNG: truncated mid-IDAT (cut payload) ---
    whole = mm._png_container(b"xyz" * 50)
    cut = whole[: whole.index(b"IDAT") + 8]
    with pytest.raises(ValueError, match="truncated PNG chunk|missing"):
        mm._decode_png(cut)

    # --- PNG: over-declared dims (IHDR claims 2^15 x 2^15) ---
    ihdr = struct.pack(">IIBBBBB", 1 << 15, 1 << 15, 8, 0, 0, 0, 0)
    bomb = (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", zlib.compress(bytes(8)))
        + mm._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="length mismatch"):
        mm._decode_png(bomb)

    # --- PPM: short plane (header declares more than the payload) ---
    good = mm._ppm_container(b"abcdef" * 32)
    with pytest.raises(ValueError, match="truncated PPM"):
        mm._decode_ppm(good[:-5])

    # --- PPM: width*height overflow attempt ---
    with pytest.raises(ValueError, match="truncated PPM"):
        mm._decode_ppm(b"P6\n999999999 999999999\n255\n" + b"\x00" * 64)

    # --- PPM: non-positive dims ---
    with pytest.raises(ValueError, match="non-positive"):
        mm._decode_ppm(b"P6\n0 4\n255\n" + b"\x00" * 16)

    # --- WAV: lying chunk size field ---
    wav = bytearray(mm._wav_container(bytes(64)))
    i = wav.index(b"data") + 4
    wav[i : i + 4] = struct.pack("<I", 10_000_000)
    with pytest.raises(ValueError, match="truncated WAV chunk"):
        mm._decode_wav(bytes(wav))

    # --- WAV: fmt chunk shorter than the PCM header ---
    short_fmt = (
        b"RIFF" + struct.pack("<I", 4 + 8 + 8) + b"WAVE"
        + b"fmt " + struct.pack("<I", 8) + bytes(8)
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError, match="fmt chunk shorter"):
        mm._decode_wav(short_fmt)


def test_png_palette_and_gray_alpha_decode():
    """Color type 3 (palette) decodes through the CRC-checked PLTE
    table; color type 4 (gray+alpha) defilters like any 2-channel
    plane — neither needs an external codec, so neither may raise."""
    import zlib

    # hand-build a palette PNG: 4x2 indices 0..7, 8-entry palette
    pal = bytes(
        [10, 0, 0, 0, 20, 0, 0, 0, 30, 40, 50, 60, 70, 80, 90,
         200, 210, 220, 11, 22, 33, 99, 88, 77]
    )
    idx_rows = [bytes([0, 1, 2, 3]), bytes([4, 5, 6, 7])]
    filtered = b"".join(bytes([0]) + r for r in idx_rows)  # filter None
    ihdr = struct.pack(">IIBBBBB", 4, 2, 8, 3, 0, 0, 0)
    png = (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"PLTE", pal)
        + mm._png_chunk(b"IDAT", zlib.compress(filtered))
        + mm._png_chunk(b"IEND", b"")
    )
    meta, px = mm._decode_png(png)
    assert (meta["width"], meta["height"], meta["n_channels"]) == (4, 2, 3)
    want = b"".join(pal[3 * i : 3 * i + 3] for i in range(8))
    assert bytes(px) == want

    # index beyond the palette table is malformed data, not a crash
    bad = (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"PLTE", pal[:9])  # only 3 entries
        + mm._png_chunk(b"IDAT", zlib.compress(filtered))
        + mm._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="beyond PLTE"):
        mm._decode_png(bad)

    # gray+alpha (color type 4): 2x1, Sub filter on 2-byte pixels
    row = bytes([100, 200, 110, 210])
    filt = bytes([1]) + row[:2] + bytes(
        (row[i] - row[i - 2]) & 0xFF for i in (2, 3)
    )
    ga_ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 4, 0, 0, 0)
    ga = (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ga_ihdr)
        + mm._png_chunk(b"IDAT", zlib.compress(filt))
        + mm._png_chunk(b"IEND", b"")
    )
    meta2, px2 = mm._decode_png(ga)
    assert meta2["n_channels"] == 2
    assert bytes(px2) == row


def _chunked_png(width, height, depth, color, interlace, stream, plte=None):
    import zlib

    ihdr = struct.pack(">IIBBBBB", width, height, depth, color, 0, 0, interlace)
    out = mm._PNG_SIG + mm._png_chunk(b"IHDR", ihdr)
    if plte is not None:
        out += mm._png_chunk(b"PLTE", plte)
    return (
        out
        + mm._png_chunk(b"IDAT", zlib.compress(stream))
        + mm._png_chunk(b"IEND", b"")
    )


def test_png_adam7_interlace_hand_computed():
    """4x2 gray-8 Adam7: pass1 gets (0,0), pass4 (2,0), pass6 (1,0)
    and (3,0), pass7 the whole second row — recomposition must land
    every pixel on its spec position."""
    stream = (
        bytes([0, 10])            # pass 1: pixel (0,0)
        + bytes([0, 30])          # pass 4: pixel (2,0)
        + bytes([0, 20, 40])      # pass 6: pixels (1,0), (3,0)
        + bytes([0, 50, 60, 70, 80])  # pass 7: row y=1
    )
    meta, px = mm._decode_png(_chunked_png(4, 2, 8, 0, 1, stream))
    assert (meta["width"], meta["height"]) == (4, 2)
    assert px.tolist() == [10, 20, 30, 40, 50, 60, 70, 80]


def test_png_sub8bit_gray_and_palette():
    # 2-bit gray 5x2 (row pad bits dropped): values 0..3
    row0 = bytes([0b01101110, 0b10000000])  # 1,2,3,2 | 2,pad
    row1 = bytes([0b11110100, 0b01000000])  # 3,3,1,0 | 1,pad
    stream = bytes([0]) + row0 + bytes([0]) + row1
    meta, px = mm._decode_png(_chunked_png(5, 2, 2, 0, 0, stream))
    assert meta["bits_per_sample"] == 2
    assert px.tolist() == [1, 2, 3, 2, 2, 3, 3, 1, 0, 1]

    # 4-bit palette 3x1: indices 1, 0, 2 through a 3-entry table
    pal = bytes([5, 6, 7, 50, 60, 70, 150, 160, 170])
    stream = bytes([0, 0x10, 0x20])
    meta2, px2 = mm._decode_png(_chunked_png(3, 1, 4, 3, 0, stream, plte=pal))
    assert meta2["n_channels"] == 3 and meta2["bits_per_sample"] == 8
    assert px2.tolist() == [50, 60, 70, 5, 6, 7, 150, 160, 170]


def test_png_16bit_sub_filter_uses_two_byte_bpp():
    """Sub filtering on 16-bit planes references the byte TWO back
    (bpp = 2), not the previous byte."""
    stream = bytes([1, 0x03, 0xE8, 0x00, 0x05, 0x00, 0x05])
    meta, px = mm._decode_png(_chunked_png(3, 1, 16, 0, 0, stream))
    assert px.tolist() == [1000, 1005, 1010]


def test_png_generic_round_trip_all_modes():
    """Deterministic encode->decode round trip across every legal
    (color, depth) combination, sequential AND Adam7: a test-side
    filter-0 encoder packs samples per spec (MSB-first bit groups,
    big-endian 16-bit, per-pass sub-images), the product decoder must
    return them bit-exactly."""
    import zlib

    def pack_row(vals, depth):
        if depth == 8:
            return bytes(vals)
        if depth == 16:
            out = bytearray()
            for v in vals:
                out += bytes([v >> 8, v & 0xFF])
            return bytes(out)
        acc = bitlen = 0
        out = bytearray()
        for v in vals:
            acc = (acc << depth) | v
            bitlen += depth
            if bitlen == 8:
                out.append(acc)
                acc = bitlen = 0
        if bitlen:
            out.append(acc << (8 - bitlen))
        return bytes(out)

    def encode(grid, width, height, channels, depth, interlace):
        def rows_of(x0, y0, xs, ys):
            sub_rows = []
            for y in range(y0, height, ys):
                vals = []
                for x in range(x0, width, xs):
                    vals.extend(grid[y][x])
                if vals:
                    sub_rows.append(vals)
            return sub_rows

        passes = (
            [(0, 0, 1, 1)] if interlace == 0 else list(mm._ADAM7_PASSES)
        )
        stream = bytearray()
        for x0, y0, xs, ys in passes:
            for vals in rows_of(x0, y0, xs, ys):
                stream += bytes([0]) + pack_row(vals, depth)
        return bytes(stream)

    x = 41  # deterministic congruential stream
    for color, channels in ((0, 1), (2, 3), (4, 2), (6, 4)):
        for depth in mm._PNG_LEGAL_DEPTHS[color]:
            for interlace in (0, 1):
                width, height = 11, 6
                grid, flat = [], []
                for y in range(height):
                    row = []
                    for xx in range(width):
                        pix = []
                        for _ in range(channels):
                            x = (x * 1103515245 + 12345) % (2**31)
                            pix.append(x % (1 << depth))
                        row.append(pix)
                        flat.extend(pix)
                    grid.append(row)
                stream = encode(grid, width, height, channels, depth, interlace)
                png = _chunked_png(width, height, depth, color, interlace, stream)
                meta, px = mm._decode_png(png)
                assert px.tolist() == flat, (color, depth, interlace)
                assert meta["n_channels"] == channels

    # palette round-trip (indices map through the table)
    pal = bytes(range(48))  # 16 RGB entries
    for depth in (1, 2, 4, 8):
        for interlace in (0, 1):
            width, height = 9, 5
            grid, flat = [], []
            for y in range(height):
                row = []
                for xx in range(width):
                    x = (x * 1103515245 + 12345) % (2**31)
                    idx = x % min(16, 1 << depth)
                    row.append([idx])
                    flat.extend(pal[3 * idx : 3 * idx + 3])
                grid.append(row)
            stream = encode(grid, width, height, 1, depth, interlace)
            png = _chunked_png(width, height, depth, 3, interlace, stream, plte=pal)
            meta, px = mm._decode_png(png)
            assert px.tolist() == list(flat), (depth, interlace)


def test_png_adam7_malformed_streams_raise_typed_errors():
    """Interlaced hostile bytes: a truncated pass stream and a stream
    with a whole pass missing must raise the typed length error, not
    index garbage into the pixel grid."""
    import zlib

    stream = (
        bytes([0, 10])
        + bytes([0, 30])
        + bytes([0, 20, 40])
        + bytes([0, 50, 60, 70, 80])
    )
    whole = _chunked_png(4, 2, 8, 0, 1, stream)
    # drop the last pass entirely (re-wrap a shorter stream)
    short = _chunked_png(4, 2, 8, 0, 1, stream[:-5])
    with pytest.raises(ValueError, match="length mismatch"):
        mm._decode_png(short)
    # extra trailing bytes after the final pass are also malformed
    extra = _chunked_png(4, 2, 8, 0, 1, stream + b"\x00\x00")
    with pytest.raises(ValueError, match="length mismatch"):
        mm._decode_png(extra)
    # the well-formed twin still decodes (guard against over-strictness)
    assert mm._decode_png(whole)[1].tolist() == [10, 20, 30, 40, 50, 60, 70, 80]


def _ahash_py(data: bytes) -> tuple[int, int]:
    """Independent pure-Python aHash recompute (no numpy, no Spark):
    the contract the Spark signature stage and the DuckDB oracle must
    both match bit-for-bit."""
    width = 64
    height = max(1, -(-len(data) // width))
    n = width * height
    v = list(data) + [0] * (n - len(data))
    cell_sum = [0] * 64
    cell_npix = [0] * 64
    for i, val in enumerate(v):
        r, c = divmod(i, width)
        b = 8 * ((r * 8) // height) + (c * 8) // width
        cell_sum[b] += val
        cell_npix[b] += 1
    total = sum(v)
    bits = [
        1 if cell_sum[b] * n > total * cell_npix[b] else 0
        for b in range(64)
    ]
    hi = sum(bits[i] << (31 - i) for i in range(32))
    lo = sum(bits[32 + i] << (31 - i) for i in range(32))
    return hi, lo


def test_image_ahash_signature_matches_pure_python(spark):
    """The Arrow signature stage (real PNG decode + numpy grid fold)
    must reproduce the pure-Python recompute on hand-built docs
    covering the edge geometry: empty text (one blank row), a single
    row (H=1, empty grid cells), exact multiple of the width, and a
    tall plane."""
    rows = [
        (1, ""),
        (2, "short row"),
        (3, "y" * 64),
        (4, "the quick brown fox jumps over the lazy dog " * 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {
        r["doc_id"]: (r["sig_hi"], r["sig_lo"])
        for r in mm.image_ahash_signatures(
            mm.attach_payload(df, "doc_id", "text", "png")
        ).collect()
    }
    for doc_id, text in rows:
        assert sig[doc_id] == _ahash_py(text.encode()), doc_id


def test_image_phash_near_dup_matches_pure_python(spark):
    """The whole banded near-dup pair set at the smoke SF must equal
    an independent pure-Python rederivation: signatures, exact
    clusters, brute-force Hamming over distinct signatures (the
    banded candidates are LOSSLESS for the threshold, so brute force
    is the ground truth the pigeonhole must reach)."""
    import itertools

    from real_time_data_analytics_cassandra_spark import queries as q
    from tests.conftest import SF_ORACLE

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    sigs = {d: _ahash_py(t.encode()) for d, t in texts.items()}
    clusters: dict[tuple[int, int], list[int]] = {}
    for d, s in sorted(sigs.items()):
        clusters.setdefault(s, []).append(d)
    want = set()
    for (sa, members_a), (sb, members_b) in itertools.combinations(
        sorted(clusters.items(), key=lambda kv: min(kv[1])), 2
    ):
        ham = bin(sa[0] ^ sb[0]).count("1") + bin(sa[1] ^ sb[1]).count("1")
        if ham <= 3:
            a, b = min(members_a), min(members_b)
            a, b = (a, b) if a < b else (b, a)
            want.add((a, b, ham, len(members_a), len(members_b)))
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"], r["n_docs_a"], r["n_docs_b"])
        for r in q.image_phash_near_dup(spark, SF_ORACLE).collect()
    }
    assert got == want
    # and the cluster view agrees on sizes/canonicals
    got_clu = {
        r["doc_id"]: (r["sig_hi"], r["sig_lo"], r["canon_id"],
                      r["cluster_size"])
        for r in q.image_ahash_clusters(spark, SF_ORACLE).collect()
    }
    for d, s in sigs.items():
        assert got_clu[d] == (s[0], s[1], min(clusters[s]), len(clusters[s]))


def _audio_fp_py(data: bytes) -> tuple[int, int]:
    """Independent pure-Python energy-envelope fingerprint recompute
    (the audio twin of _ahash_py)."""
    n = len(data)
    if n == 0:
        return 0, 0
    ss = [0] * 64
    sl = [0] * 64
    for i, byte in enumerate(data):
        w = (i * 64) // n
        ss[w] += abs(byte - 128)
        sl[w] += 1
    total = sum(ss)
    bits = [1 if ss[w] * n > total * sl[w] else 0 for w in range(64)]
    hi = sum(bits[i] << (31 - i) for i in range(32))
    lo = sum(bits[32 + i] << (31 - i) for i in range(32))
    return hi, lo


def test_audio_fingerprint_matches_pure_python(spark):
    """The Arrow fingerprint stage (real RIFF decode + numpy span
    fold) must reproduce the pure-Python recompute, including the
    empty-stream (0, 0) fixed point and streams shorter than 64
    samples (empty spans)."""
    rows = [
        (1, ""),
        (2, "abc"),
        (3, "loud LOUD loud " * 20),
        (4, "x" * 64),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {
        r["doc_id"]: (r["sig_hi"], r["sig_lo"])
        for r in mm.audio_energy_fingerprints(
            mm.attach_payload(df, "doc_id", "text", "wav")
        ).collect()
    }
    for doc_id, text in rows:
        assert sig[doc_id] == _audio_fp_py(text.encode()), doc_id


def test_audio_fingerprint_near_dup_matches_pure_python(spark):
    """The whole audio near-dup pair set at the smoke SF must equal
    the brute-force pure-Python rederivation (Hamming <= 7 over
    distinct fingerprints, cluster-weighted) — same protocol as the
    image gate; an empty pair set must be empty in BOTH."""
    import itertools

    from real_time_data_analytics_cassandra_spark import queries as q
    from tests.conftest import SF_ORACLE

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    sigs = {d: _audio_fp_py(t.encode()) for d, t in texts.items()}
    clusters: dict[tuple[int, int], list[int]] = {}
    for d, s in sorted(sigs.items()):
        clusters.setdefault(s, []).append(d)
    want = set()
    for (sa, ma), (sb, mb) in itertools.combinations(
        sorted(clusters.items(), key=lambda kv: min(kv[1])), 2
    ):
        ham = bin(sa[0] ^ sb[0]).count("1") + bin(sa[1] ^ sb[1]).count("1")
        if ham <= 7:
            a, b = min(ma), min(mb)
            a, b = (a, b) if a < b else (b, a)
            want.add((a, b, ham, len(ma), len(mb)))
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"], r["n_docs_a"], r["n_docs_b"])
        for r in q.audio_fingerprint_near_dup(spark, SF_ORACLE).collect()
    }
    assert got == want


def test_signature_near_pairs_rejects_straddling_or_lossy_bands(spark):
    """The shared band operator must refuse configurations that break
    the pigeonhole contract (max_hamming >= n_bands) or straddle the
    hi/lo halves."""
    import pytest as _pytest

    sig = spark.createDataFrame(
        [(1, 3, 5)], "doc_id long, sig_hi long, sig_lo long"
    )
    with _pytest.raises(AssertionError, match="pigeonhole"):
        mm.signature_near_pairs(sig, n_bands=4, max_hamming=4)
    with _pytest.raises(AssertionError, match="straddle|divide"):
        mm.signature_near_pairs(sig, n_bands=3, max_hamming=2)


def _dhash_py(data: bytes) -> tuple[int, int]:
    """Independent pure-Python dHash recompute (no numpy, no Spark):
    9x8 integer cell grid, bit = left-cell mean > right-cell mean,
    cross-multiplied — the contract the Spark signature stage and the
    DuckDB oracle must both match bit-for-bit."""
    width = 64
    height = max(1, -(-len(data) // width))
    n = width * height
    v = list(data) + [0] * (n - len(data))
    cs = [0] * 72
    cn = [0] * 72
    for i, val in enumerate(v):
        r, c = divmod(i, width)
        g = 9 * ((r * 8) // height) + (c * 9) // width
        cs[g] += val
        cn[g] += 1
    bits = []
    for r in range(8):
        for c in range(8):
            left, right = 9 * r + c, 9 * r + c + 1
            bits.append(
                1 if cs[left] * cn[right] > cs[right] * cn[left] else 0
            )
    hi = sum(bits[i] << (31 - i) for i in range(32))
    lo = sum(bits[32 + i] << (31 - i) for i in range(32))
    return hi, lo


def test_image_dhash_signature_matches_pure_python(spark):
    """The Arrow dHash stage (real PNG decode + numpy 9x8 grid fold)
    must reproduce the pure-Python recompute on the same edge
    geometry as the aHash gate: empty text, one short row (empty
    grid rows), exact width multiple, and a tall plane."""
    rows = [
        (1, ""),
        (2, "short row"),
        (3, "y" * 64),
        (4, "the quick brown fox jumps over the lazy dog " * 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {
        r["doc_id"]: (r["sig_hi"], r["sig_lo"])
        for r in mm.image_dhash_signatures(
            mm.attach_payload(df, "doc_id", "text", "png")
        ).collect()
    }
    for doc_id, text in rows:
        assert sig[doc_id] == _dhash_py(text.encode()), doc_id


def test_image_dhash_near_dup_matches_pure_python(spark):
    """The whole dHash near-dup pair set at the smoke SF must equal
    the brute-force pure-Python rederivation (Hamming <= 3 over
    distinct signatures, cluster-weighted) — the same protocol as the
    aHash gate."""
    import itertools

    from real_time_data_analytics_cassandra_spark import queries as q
    from tests.conftest import SF_ORACLE

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    sigs = {d: _dhash_py(t.encode()) for d, t in texts.items()}
    clusters: dict[tuple[int, int], list[int]] = {}
    for d, s in sorted(sigs.items()):
        clusters.setdefault(s, []).append(d)
    want = set()
    for (sa, ma), (sb, mb) in itertools.combinations(
        sorted(clusters.items(), key=lambda kv: min(kv[1])), 2
    ):
        ham = bin(sa[0] ^ sb[0]).count("1") + bin(sa[1] ^ sb[1]).count("1")
        if ham <= 3:
            a, b = min(ma), min(mb)
            a, b = (a, b) if a < b else (b, a)
            want.add((a, b, ham, len(ma), len(mb)))
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"], r["n_docs_a"], r["n_docs_b"])
        for r in q.image_dhash_near_dup(spark, SF_ORACLE).collect()
    }
    assert got == want


def test_dhash_links_brightness_ramp_that_ahash_misses(spark):
    """The reason dHash exists beside aHash, demonstrated end to end:
    a smooth exposure change (per-pixel-row brightness ramp — the
    H=8 plane makes pixel rows coincide with cell rows) leaves every
    dHash row-local comparison unchanged (the shift cancels exactly
    in the cross-multiplied means) but moves whole rows across
    aHash's single global-mean threshold.  The ramped copy must
    collapse into the SAME dHash cluster while aHash separates it by
    more than the banded near-dup threshold."""
    width, height = 64, 8
    base = bytes(
        100 + ((c * 9) // width) * 4 for r in range(height)
        for c in range(width)
    )
    ramped = bytes(
        100 + ((c * 9) // width) * 4 + 6 * r for r in range(height)
        for c in range(width)
    )
    # sanity: pure-Python contracts first
    d_a, d_b = _dhash_py(base), _dhash_py(ramped)
    a_a, a_b = _ahash_py(base), _ahash_py(ramped)
    assert d_a == d_b, "row-constant shift must cancel in dHash"
    a_ham = bin(a_a[0] ^ a_b[0]).count("1") + bin(a_a[1] ^ a_b[1]).count("1")
    assert a_ham > 3, f"ramp must push aHash past the band threshold, got {a_ham}"
    # end to end through the real PNG decode + both signature stages
    payloads = spark.createDataFrame(
        [(1, mm._png_container(base)), (2, mm._png_container(ramped))],
        "doc_id long, payload binary",
    )
    dsig = mm.image_dhash_signatures(payloads)
    dclu = {
        r["doc_id"]: (r["canon_id"], r["cluster_size"])
        for r in mm.image_ahash_clusters(dsig).collect()
    }
    assert dclu[1] == (1, 2) and dclu[2] == (1, 2), dclu
    asig = mm.image_ahash_signatures(payloads)
    assert mm.signature_near_pairs(asig, n_bands=4, max_hamming=3).count() == 0
    aclu = {
        r["doc_id"]: r["cluster_size"]
        for r in mm.image_ahash_clusters(asig).collect()
    }
    assert aclu == {1: 1, 2: 1}, aclu


@pytest.mark.slow
def test_image_dup_components_match_pure_python(spark):
    """Transitive image near-dup clusters at the oracle SF must equal
    an independent pure-Python rederivation: signatures, exact
    collapse, brute-force Hamming pairs over distinct signatures,
    then BFS union of the pair graph — the transitive-closure ground
    truth the min-label propagation must reach."""
    from collections import defaultdict

    from real_time_data_analytics_cassandra_spark import queries as q
    from tests.conftest import SF_ORACLE

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    sigs = {d: _ahash_py(t.encode()) for d, t in texts.items()}
    clusters: dict[tuple[int, int], list[int]] = {}
    for d, s in sorted(sigs.items()):
        clusters.setdefault(s, []).append(d)
    canons = {s: min(m) for s, m in clusters.items()}
    adj = defaultdict(set)
    sig_items = sorted(clusters.items(), key=lambda kv: min(kv[1]))
    import itertools

    for (sa, ma), (sb, mb) in itertools.combinations(sig_items, 2):
        ham = bin(sa[0] ^ sb[0]).count("1") + bin(sa[1] ^ sb[1]).count("1")
        if ham <= 3:
            a, b = canons[sa], canons[sb]
            adj[a].add(b)
            adj[b].add(a)
    # BFS closure: component = min reachable canon
    comp: dict[int, int] = {}
    for start in sorted(adj):
        if start in comp:
            continue
        seen, frontier = {start}, [start]
        while frontier:
            nxt = []
            for n in frontier:
                for m in adj[n]:
                    if m not in seen:
                        seen.add(m)
                        nxt.append(m)
            frontier = nxt
        label = min(seen)
        for n in seen:
            comp[n] = label
    want = {}
    for d, s in sigs.items():
        canon = canons[s]
        cluster = comp.get(canon, canon)
        want[d] = (cluster, d == cluster)
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in q.image_dup_components(spark, SF_ORACLE).collect()
    }
    assert got == want
    # cross-operator equivalence: every near PAIR's endpoints must
    # share a component, and components never exceed pairwise links'
    # transitive reach (already implied by got == want; assert the
    # pair-consistency half directly against the pair query too)
    for r in q.image_phash_near_dup(spark, SF_ORACLE).collect():
        assert got[r["doc_a"]][0] == got[r["doc_b"]][0], r


def test_audio_spectral_matches_shared_recompute(spark):
    """The Arrow spectral stage (real RIFF decode + Haitsma-Kalker
    hash) must reproduce a driver-side evaluation of LITERALLY the
    same numpy function over the raw bytes — the Spark plumbing
    (container build, chunk walk, Arrow batching) is what's under
    test; includes the short-stream (0, 0) fixed point."""
    import numpy as np

    rows = [
        (1, ""),
        (2, "abc"),
        (3, "loud LOUD loud quiet " * 25),
        (4, "x" * 64),
        (5, "the quick brown fox jumps over the lazy dog " * 12),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {
        r["doc_id"]: (r["sig_hi"], r["sig_lo"])
        for r in mm.audio_spectral_fingerprints(
            mm.attach_payload(df, "doc_id", "text", "wav")
        ).collect()
    }
    for doc_id, text in rows:
        samples = np.frombuffer(text.encode(), dtype=np.uint8)
        assert sig[doc_id] == mm.spectral_signature_py(samples), doc_id


def test_audio_spectral_near_dup_matches_recompute(spark):
    """The whole spectral near-dup pair set at the smoke SF must
    equal the brute-force rederivation (Hamming <= 7 over distinct
    fingerprints, cluster-weighted) — same protocol as the envelope
    and image gates."""
    import itertools

    import numpy as np

    from real_time_data_analytics_cassandra_spark import queries as q
    from tests.conftest import SF_ORACLE

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    sigs = {
        d: mm.spectral_signature_py(
            np.frombuffer(t.encode(), dtype=np.uint8)
        )
        for d, t in texts.items()
    }
    clusters: dict[tuple[int, int], list[int]] = {}
    for d, s in sorted(sigs.items()):
        clusters.setdefault(s, []).append(d)
    want = set()
    for (sa, ma), (sb, mb) in itertools.combinations(
        sorted(clusters.items(), key=lambda kv: min(kv[1])), 2
    ):
        ham = bin(sa[0] ^ sb[0]).count("1") + bin(sa[1] ^ sb[1]).count("1")
        if ham <= 7:
            a, b = min(ma), min(mb)
            a, b = (a, b) if a < b else (b, a)
            want.add((a, b, ham, len(ma), len(mb)))
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"], r["n_docs_a"], r["n_docs_b"])
        for r in q.audio_spectral_near_dup(spark, SF_ORACLE).collect()
    }
    assert got == want


def test_spectral_links_fade_that_envelope_misses(spark):
    """The reason the spectral hash exists beside the envelope,
    demonstrated end to end (the audio analog of the dHash
    brightness-ramp gate): a linear re-gain ramp (fade 0.6 -> 1.0)
    moves time spans across the envelope's one global-mean threshold
    (Hamming > 7, unlinked) while the time- AND frequency-differenced
    band-energy signs survive it (Hamming <= 7, linked)."""
    import numpy as np

    n = 960
    t = np.arange(n)
    base = (
        128
        + 40 * np.sin(2 * np.pi * t * 8 / n)
        + 20 * np.sin(2 * np.pi * t * 23 / n)
        + 10 * np.sin(2 * np.pi * t * 57 / n)
    )
    orig = np.clip(np.round(base), 0, 255).astype(np.uint8)
    gain = 0.6 + 0.4 * t / (n - 1)
    faded = np.clip(np.round(128 + (base - 128) * gain), 0, 255).astype(
        np.uint8
    )
    # driver-side contracts first
    s_o = mm.spectral_signature_py(orig)
    s_f = mm.spectral_signature_py(faded)
    s_ham = bin(s_o[0] ^ s_f[0]).count("1") + bin(s_o[1] ^ s_f[1]).count("1")
    e_o, e_f = _audio_fp_py(orig.tobytes()), _audio_fp_py(faded.tobytes())
    e_ham = bin(e_o[0] ^ e_f[0]).count("1") + bin(e_o[1] ^ e_f[1]).count("1")
    assert s_ham <= 7, f"spectral hash must survive the fade, got {s_ham}"
    assert e_ham > 7, f"fade must defeat the envelope, got {e_ham}"
    # end to end through the real WAV containers + both stages
    payloads = spark.createDataFrame(
        [
            (1, mm._wav_container(orig.tobytes())),
            (2, mm._wav_container(faded.tobytes())),
        ],
        "doc_id long, payload binary",
    )
    spectral_pairs = mm.signature_near_pairs(
        mm.audio_spectral_fingerprints(payloads), n_bands=8, max_hamming=7
    ).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in spectral_pairs] == [(1, 2)]
    envelope_pairs = mm.signature_near_pairs(
        mm.audio_energy_fingerprints(payloads), n_bands=8, max_hamming=7
    ).count()
    assert envelope_pairs == 0
