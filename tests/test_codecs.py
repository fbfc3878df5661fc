"""Pure-Python uncompressed codecs (operators/multimodal.py): real P6-PPM
and RIFF/WAVE parsers — round trips, spec tolerances (comments, extra
chunks), and loud failures on malformed input."""

from __future__ import annotations

import struct

import pytest

from bfs_etl_sep2025_spark.operators.multimodal import (
    decode_image,
    decode_jpeg_baseline,
    decode_jpeg_lossless,
    decode_ppm,
    decode_wav_pcm16,
    encode_jpeg_baseline,
    encode_jpeg_lossless,
    encode_ppm,
    encode_wav_pcm16,
)


def test_ppm_round_trip():
    px = bytes((i * 7) % 256 for i in range(192))
    assert decode_ppm(encode_ppm(px)) == (8, 8, px)


def test_ppm_with_comment_line():
    px = bytes(192)
    payload = b"P6\n# made by a real tool\n8 8\n255\n" + px
    assert decode_ppm(payload) == (8, 8, px)


def test_ppm_rejects_wrong_magic_and_truncation():
    with pytest.raises(ValueError, match="not a P6"):
        decode_ppm(b"P5\n8 8\n255\n" + bytes(64))
    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(b"P6\n8 8\n255\n" + bytes(10))


def test_decode_image_routes_ppm():
    px = bytes(range(192))
    assert decode_image(encode_ppm(px))[2] == px


def test_decode_image_rejects_extended_sequential_dct():
    """SOF2 (progressive) decodes for real as of r9 — the dispatch now
    rejects only the genuinely unsupported processes (e.g. SOF1 extended
    sequential / arithmetic variants)."""
    sof1 = b"\xff\xd8\xff\xc1" + struct.pack(">H", 11) + bytes(9)
    with pytest.raises(ValueError, match="unsupported JPEG process"):
        decode_image(sof1)


# -- lossless JPEG: real T.81 §H codec, canonical Huffman + predictor --------


def test_jpeg_lossless_round_trip_random():
    import random

    rng = random.Random(7)
    for _ in range(50):
        w = rng.choice([1, 3, 8, 24, 31])
        h = rng.choice([1, 2, 8, 9])
        px = bytes(rng.randrange(256) for _ in range(w * h))
        assert decode_jpeg_lossless(encode_jpeg_lossless(px, w, h)) == (
            w,
            h,
            px,
        )


def test_jpeg_lossless_round_trip_extremes():
    """All-0x00/all-0xFF rasters force maximum-magnitude differences and
    byte-stuffing-heavy entropy streams; ramps force every category."""
    for px in (
        bytes(192),
        bytes([255]) * 192,
        bytes(range(192)),
        bytes(reversed(range(192))),
    ):
        assert decode_jpeg_lossless(encode_jpeg_lossless(px))[2] == px


def test_jpeg_lossless_is_spec_compliant_container():
    """The emitted stream is a valid T.81 interchange format: SOI, SOF3
    with the declared geometry, a DHT carrying the Annex-K DC table, an
    SOS selecting predictor 1, and a final EOI."""
    px = bytes(range(192))
    buf = encode_jpeg_lossless(px)
    assert buf[:2] == b"\xff\xd8" and buf[-2:] == b"\xff\xd9"
    assert buf[2:4] == b"\xff\xc3"  # SOF3 immediately after SOI
    precision, h, w, nf = struct.unpack_from(">BHHB", buf, 6)
    assert (precision, h, w, nf) == (8, 8, 24, 1)
    assert b"\xff\xc4" in buf and b"\xff\xda" in buf


def test_jpeg_lossless_rejects_malformed():
    px = bytes(range(24))
    buf = bytearray(encode_jpeg_lossless(px, 24, 1))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_lossless(b"NOPE" + bytes(buf))
    truncated = bytes(buf[:6])  # SOI + SOF3 marker, no body
    with pytest.raises(ValueError):
        decode_jpeg_lossless(truncated)


def test_decode_image_routes_jpeg_lossless():
    px = bytes((i * 37) % 256 for i in range(192))
    assert decode_image(encode_jpeg_lossless(px)) == (24, 8, px)


# -- PNG: real compressed codec, stdlib zlib + unfiltering -------------------


def test_png_round_trip_exercises_all_filters():
    """encode_png filters row r with type r % 5, so an 8-row round trip
    reconstructs through every PNG filter (None/Sub/Up/Average/Paeth)."""
    from bfs_etl_sep2025_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    px = bytes((i * 37 + (i * i) % 11) % 256 for i in range(192))
    assert decode_png(encode_png(px)) == (8, 8, px)


def test_png_is_spec_compliant_container():
    """Signature, chunk layout, CRCs, and IHDR fields are the real PNG
    format, byte for byte."""
    import struct
    import zlib

    from bfs_etl_sep2025_spark.operators.multimodal import encode_png

    payload = encode_png(bytes(192))
    assert payload[:8] == b"\x89PNG\r\n\x1a\n"
    (ln,) = struct.unpack_from(">I", payload, 8)
    assert payload[12:16] == b"IHDR" and ln == 13
    w, h, depth, ct, comp, filt, inter = struct.unpack_from(">IIBBBBB", payload, 16)
    assert (w, h, depth, ct, comp, filt, inter) == (8, 8, 8, 2, 0, 0, 0)
    (crc,) = struct.unpack_from(">I", payload, 16 + 13)
    assert crc == zlib.crc32(payload[12 : 16 + 13]) & 0xFFFFFFFF
    assert payload.endswith(
        b"IEND" + struct.pack(">I", zlib.crc32(b"IEND") & 0xFFFFFFFF)
    )


def test_png_decodes_grey_and_rgba_to_rgb():
    """Color types 0 (grey) and 6 (RGBA) normalize to RGB: grey
    replicated, alpha dropped. Hand-built with filter 0 scanlines."""
    import struct
    import zlib

    from bfs_etl_sep2025_spark.operators.multimodal import (
        _png_chunk,
        decode_png,
    )

    def build(w, h, ct, raster):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raster))
            + _png_chunk(b"IEND", b"")
        )

    grey = build(2, 2, 0, b"\x00\x10\x20" + b"\x00\x30\x40")
    assert decode_png(grey) == (
        2, 2,
        bytes([0x10] * 3 + [0x20] * 3 + [0x30] * 3 + [0x40] * 3),
    )
    rgba = build(1, 2, 6, b"\x00\x01\x02\x03\xff" + b"\x00\x04\x05\x06\x80")
    assert decode_png(rgba) == (1, 2, bytes([1, 2, 3, 4, 5, 6]))


def test_png_rejects_corruption():
    """Bit flips in the IDAT body fail the CRC check; unsupported shapes
    and bad filter types raise with the real cause named."""
    import struct
    import zlib

    from bfs_etl_sep2025_spark.operators.multimodal import (
        _png_chunk,
        decode_png,
        encode_png,
    )

    good = bytearray(encode_png(bytes(192)))
    idat_at = good.index(b"IDAT")
    good[idat_at + 10] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_png(bytes(good))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"P6\n8 8\n255\n")
    # 16-bit depth is out of scope and must say so
    ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0)
    deep = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" + bytes(6)))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unsupported PNG shape"):
        decode_png(deep)
    # unknown filter type byte
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0)
    badf = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x07" + bytes(3)))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unknown PNG filter"):
        decode_png(badf)


def test_decode_image_routes_png():
    from bfs_etl_sep2025_spark.operators.multimodal import encode_png

    px = bytes(range(192))
    assert decode_image(encode_png(px)) == (8, 8, px)


def test_wav_round_trip():
    s = [(-32768 + 1024 * i) for i in range(64)]
    assert decode_wav_pcm16(encode_wav_pcm16(s)) == (16000, 1, s)


def test_wav_tolerates_extra_chunk():
    """Real WAV files carry LIST/INFO chunks; the chunk walker must skip
    them (including the odd-size word-alignment pad)."""
    s = [100, -100, 0]
    payload = encode_wav_pcm16(s)
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # padded
    patched = payload[:12] + extra + payload[12:]
    patched = b"RIFF" + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert decode_wav_pcm16(patched) == (16000, 1, s)


def test_wav_rejects_non_riff_and_non_pcm():
    with pytest.raises(ValueError, match="not a RIFF"):
        decode_wav_pcm16(b"OggS" + bytes(40))
    bad = bytearray(encode_wav_pcm16([1, 2]))
    bad[20:22] = struct.pack("<H", 3)  # fmt tag 3 = IEEE float
    with pytest.raises(ValueError, match="not PCM"):
        decode_wav_pcm16(bytes(bad))


def test_wav_rejects_truncated_data_chunk():
    payload = encode_wav_pcm16([1, 2, 3, 4])
    with pytest.raises(ValueError, match="truncated"):
        decode_wav_pcm16(payload[:-3])


def test_null_payload_takes_sentinel_digest(spark):
    """A NULL media payload must not kill the encode UDF with ord(None):
    both decode pipelines coalesce the digest to the all-'0' sentinel
    (mirrored in the DuckDB oracles), so a NULL asset yields the
    deterministic constant-pixel/-sample stats row (ADVICE r4)."""
    from bfs_etl_sep2025_spark.operators.multimodal import (
        audio_stats,
        image_stats,
    )

    assets = spark.createDataFrame(
        [(1, bytearray(b"hello")), (2, None)], "asset_id long, payload binary"
    )
    img = {r.asset_id: r for r in image_stats(assets).collect()}
    # digest '0'*32 -> every pixel byte is ord('0') = 48
    assert (img[2].mean_px, img[2].max_px, img[2].min_px) == (48.0, 48, 48)
    assert img[1].max_px > img[1].min_px  # real digest varies
    aud = {r.asset_id: r for r in audio_stats(assets).collect()}
    assert aud[2].mean_sample == (48 - 128) * 256
    assert aud[2].peak == (48 - 128) * 256
    assert aud[2].n_samples == 64


def test_dhash56_known_rasters():
    """dHash bit semantics on hand-computable rasters: constant image ->
    all-zero hash; a single bright column produces exactly one gradient
    flip per row; left-to-right descending ramp sets every bit (strictly
    greater on all 7 taps per row)."""
    from bfs_etl_sep2025_spark.operators.multimodal import (
        IMG_H,
        IMG_W,
        dhash56,
    )

    flat = bytes([7] * (IMG_W * IMG_H * 3))
    assert dhash56(flat) == 0

    ramp = bytes(
        b
        for r in range(IMG_H)
        for c in range(IMG_W)
        for b in ((IMG_W - c,) * 3)
    )
    assert dhash56(ramp) == (1 << 56) - 1  # every tap strictly decreasing

    # one bright column at c=3: per row, tap c=2 (gray[2] < gray[3]) stays
    # 0 and tap c=3 (gray[3] > gray[4]) flips to 1 -> bit pattern 0001000
    col = bytes(
        b
        for r in range(IMG_H)
        for c in range(IMG_W)
        for b in (((200,) if c == 3 else (10,)) * 3)
    )
    row_bits = 0b0001000
    want = 0
    for _ in range(IMG_H):
        want = (want << 7) | row_bits
    assert dhash56(col) == want


def test_dhash56_hamming_locality():
    """A small luminance change flips few bits (locality — the property
    the banded near-dup join exploits); an unrelated raster flips many."""
    import hashlib

    from bfs_etl_sep2025_spark.operators.multimodal import dhash56

    def raster(seed: str) -> bytes:
        h = hashlib.md5(seed.encode()).hexdigest()
        return bytes(ord(h[i % 32]) for i in range(192))

    a = raster("doc-a")
    tweaked = bytearray(a)
    tweaked[0] = min(255, tweaked[0] + 4)  # nudge one channel
    near = bin(dhash56(a) ^ dhash56(bytes(tweaked))).count("1")
    far = bin(dhash56(a) ^ dhash56(raster("doc-b"))).count("1")
    assert near <= 2
    assert far > 10


# -- baseline JPEG: real T.81 process-1 codec (DCT/quant/zigzag/Huffman) -----


def _block_constant_raster(vals, w=32, h=32):
    px = bytearray(w * h)
    bw = w // 8
    for by in range(h // 8):
        for bx in range(bw):
            v = vals[(by * bw + bx) % len(vals)]
            for y in range(8):
                row = (by * 8 + y) * w + bx * 8
                for x in range(8):
                    px[row + x] = v
    return bytes(px)


def test_jpeg_baseline_exact_on_dc_only_blocks():
    """Block-constant rasters are the lossy process's exactness window
    (DC-only blocks, all-ones quant): decode(encode(x)) == x bit-for-bit.
    This is the contract the multimodal_decode_jpeg_baseline oracle
    relies on."""
    px = _block_constant_raster([0, 255, 97, 48, 102, 128, 1, 254])
    w, h, out = decode_jpeg_baseline(encode_jpeg_baseline(px, 32, 32))
    assert (w, h) == (32, 32)
    assert out == px


def test_jpeg_baseline_bounded_error_on_arbitrary_raster():
    """General rasters at quality 100 (all-ones quant): every AC/DC path
    in the entropy coder fires (ZRL runs, every size class), and the only
    loss is DCT round-off — max abs error <= 1."""
    import hashlib

    px = bytes(
        hashlib.md5(str(i // 16).encode()).digest()[i % 16]
        for i in range(64 * 64)
    )
    jp = encode_jpeg_baseline(px, 64, 64)
    assert len(jp) != len(px)  # actually entropy-coded, not stored
    w, h, out = decode_jpeg_baseline(jp)
    assert (w, h) == (64, 64)
    assert max(abs(a - b) for a, b in zip(px, out)) <= 1


def test_jpeg_baseline_quantization_is_real():
    """A coarser quant table must shrink the stream and introduce real
    loss — proving the quantizer actually divides (and the decoder
    multiplies back) rather than passing coefficients through."""
    import hashlib

    px = bytes(
        hashlib.md5(str(i // 32).encode()).digest()[i % 16]
        for i in range(32 * 32)
    )
    fine = encode_jpeg_baseline(px, 32, 32, quant=1)
    coarse = encode_jpeg_baseline(px, 32, 32, quant=16)
    assert len(coarse) < len(fine)
    _, _, out = decode_jpeg_baseline(coarse)
    err = max(abs(a - b) for a, b in zip(px, out))
    assert 1 < err <= 16 + 1  # lossy, but bounded by the quant step


def test_jpeg_baseline_is_spec_compliant_container():
    """Marker layout a third-party decoder would check: SOI, DQT, SOF0,
    two DHTs (DC class then AC class), SOS, EOI; entropy bytes 0xFF
    stuffed."""
    px = _block_constant_raster([200, 255])
    jp = encode_jpeg_baseline(px, 32, 32)
    assert jp[:2] == b"\xff\xd8" and jp[-2:] == b"\xff\xd9"
    assert b"\xff\xdb" in jp and b"\xff\xc0" in jp and b"\xff\xda" in jp
    assert jp.count(b"\xff\xc4") >= 2
    scan = jp[jp.index(b"\xff\xda") + 2 :][:-2]
    i = jp.index(b"\xff\xda")
    (ln,) = struct.unpack_from(">H", jp, i + 2)
    entropy = jp[i + 2 + ln : -2]
    for k, b in enumerate(entropy[:-1]):
        if b == 0xFF:
            assert entropy[k + 1] == 0x00, "unstuffed 0xFF in entropy data"


def test_jpeg_baseline_rejects_malformed():
    px = _block_constant_raster([10])
    jp = encode_jpeg_baseline(px, 32, 32)
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_baseline(b"\x00\x01" + jp)
    with pytest.raises(ValueError, match="multiples of 8"):
        encode_jpeg_baseline(px[:30], 10, 3)
    # scan referencing a table the stream never declared
    i = jp.index(b"\xff\xc4")
    (ln,) = struct.unpack_from(">H", jp, i + 2)
    stripped = jp[:i] + jp[i + 2 + ln :]  # drop the DC DHT
    with pytest.raises(ValueError, match="undeclared table"):
        decode_jpeg_baseline(stripped)


def test_decode_image_routes_jpeg_baseline():
    px = _block_constant_raster([7, 250, 130])
    w, h, out = decode_image(encode_jpeg_baseline(px, 32, 32))
    assert (w, h, out) == (32, 32, px)


# -- JPEG marker-walk robustness (ADVICE r8) ---------------------------------


def test_jpeg_fill_bytes_before_markers_are_skipped():
    """T.81 B.1.1.2: any marker may be preceded by any number of 0xFF fill
    bytes — third-party encoders emit them. Injecting padding before SOF3
    and before SOS must not change the decode."""
    px = bytes((i * 37) % 256 for i in range(192))
    buf = encode_jpeg_lossless(px)
    # pad before SOF3 (right after SOI) and before the SOS marker
    padded = bytearray(buf[:2]) + b"\xff\xff" + bytearray(buf[2:])
    sos = bytes(padded).index(b"\xff\xda")
    padded = bytes(padded[:sos]) + b"\xff\xff\xff" + bytes(padded[sos:])
    assert decode_jpeg_lossless(padded) == decode_jpeg_lossless(buf)
    from bfs_etl_sep2025_spark.operators.multimodal import decode_jpeg

    assert decode_jpeg(padded) == decode_jpeg(buf)


def test_jpeg_dri_rejected_explicitly_by_lossless():
    """The LOSSLESS decoder does not implement restart intervals: a DRI
    segment must refuse with a clear message instead of desyncing the
    entropy decode into garbage. (The baseline decoder handles DRI/RSTn
    for real — tests below.) decode_jpeg's marker walk skips DRI like
    any other header segment, so the rejection must come from the routed
    lossless decoder itself."""
    px = bytes(range(192))
    buf = encode_jpeg_lossless(px)
    # splice a DRI (FFDD len=4 interval=1) right after SOI
    dri = b"\xff\xdd\x00\x04\x00\x01"
    spliced = buf[:2] + dri + buf[2:]
    with pytest.raises(ValueError, match="restart"):
        decode_jpeg_lossless(spliced)
    from bfs_etl_sep2025_spark.operators.multimodal import decode_jpeg

    with pytest.raises(ValueError, match="restart"):
        decode_jpeg(spliced)


def test_jpeg_baseline_restart_interval_round_trip():
    """DRI/RSTn decode for real (VERDICT r9 item 4): a restart-interval
    stream round-trips bit-identically to its non-restart twin — the
    markers change the container, never the raster — across intervals
    that land mid-row, on row edges, and beyond the RST0..RST7 cycle."""
    import hashlib

    px = bytes(
        hashlib.md5(str(i // 16).encode()).digest()[i % 16]
        for i in range(32 * 32)
    )
    _, _, plain = decode_jpeg_baseline(encode_jpeg_baseline(px, 32, 32))
    for interval in (1, 2, 3, 5, 7, 16):
        jp = encode_jpeg_baseline(px, 32, 32, restart_interval=interval)
        assert b"\xff\xdd" in jp  # DRI present
        w, h, out = decode_jpeg_baseline(jp)
        assert (w, h) == (32, 32)
        assert out == plain, f"interval={interval}"
    # interval=1 on a 16-MCU image crosses the 8-marker cycle: RST0..RST7
    # then RST0 again — the modulo sequence must be honored
    jp1 = encode_jpeg_baseline(px, 32, 32, restart_interval=1)
    assert all(bytes((0xFF, 0xD0 + m)) in jp1 for m in range(8))
    # exactness window holds with restarts too
    bc = _block_constant_raster([3, 250, 128, 77, 19])
    jp = encode_jpeg_baseline(bc, 32, 32, restart_interval=3)
    assert decode_jpeg_baseline(jp)[2] == bc
    from bfs_etl_sep2025_spark.operators.multimodal import decode_jpeg

    assert decode_jpeg(jp)[2] == bc  # dispatcher walks over DRI


def test_jpeg_baseline_restart_desync_detected():
    """A wrong RSTm sequence number means the stream lost sync: the
    decoder must refuse, not emit shifted garbage; and an RSTn where
    none was announced (no DRI) must also refuse."""
    px = _block_constant_raster([10, 200, 55])
    jp = encode_jpeg_baseline(px, 32, 32, restart_interval=3)
    i = jp.index(b"\xff\xd0")
    bad = jp[: i + 1] + b"\xd4" + jp[i + 2 :]
    with pytest.raises(ValueError, match="lost sync"):
        decode_jpeg_baseline(bad)
    # strip the DRI segment but keep the RSTn markers: the entropy
    # decoder now runs into a marker it was never told to expect
    d = jp.index(b"\xff\xdd")
    stripped = jp[:d] + jp[d + 6 :]
    with pytest.raises(ValueError, match="marker"):
        decode_jpeg_baseline(stripped)


def test_jpeg_truncated_entropy_stream_raises_value_error():
    """A stream cut inside the entropy segment must raise the codec's
    ValueError('truncated entropy stream'), never an IndexError from the
    bit reader."""
    px = bytes((i * 11) % 256 for i in range(192))
    bpx = bytes((i * 11) % 256 for i in range(32 * 32))
    for buf, dec in (
        (encode_jpeg_lossless(px), decode_jpeg_lossless),
        (encode_jpeg_baseline(bpx, 32, 32), decode_jpeg_baseline),
    ):
        sos = buf.index(b"\xff\xda")
        cut = buf[: sos + 10]  # inside the scan, EOI gone
        with pytest.raises(ValueError, match="truncated entropy stream"):
            dec(cut)


def test_jpeg_corrupt_header_bytes_raise_value_error():
    """Every header byte (SOI through the first SOS header), zeroed or
    complemented, either still decodes or raises ValueError — never
    struct.error or IndexError — through the process decoder and
    decode_jpeg, for all three processes and a restart-interval stream.
    Two probes must refuse: a zeroed SOF length (byte 74 of a 32x32
    baseline payload) and a DHT BITS count past its symbol list (byte
    89); so must a stream of nothing but fill bytes."""
    from bfs_etl_sep2025_spark.operators.multimodal import (
        decode_jpeg,
        decode_jpeg_progressive,
        encode_jpeg_progressive,
    )

    # block-constant: a short entropy segment keeps the ~2k decodes fast
    px = _block_constant_raster([3, 250, 128, 77, 19])
    baseline = encode_jpeg_baseline(px, 32, 32)
    for buf, dec in (
        (baseline, decode_jpeg_baseline),
        (encode_jpeg_baseline(px, 32, 32, restart_interval=3),
         decode_jpeg_baseline),
        (encode_jpeg_progressive(px, 32, 32), decode_jpeg_progressive),
        (encode_jpeg_lossless(px[:192]), decode_jpeg_lossless),
    ):
        for i in range(2, buf.index(b"\xff\xda") + 10):
            for v in {0, buf[i] ^ 0xFF}:
                bad = buf[:i] + bytes((v,)) + buf[i + 1 :]
                for f in (dec, decode_jpeg):
                    try:
                        f(bad)
                    except ValueError:
                        pass
    for i, v in ((74, 0), (89, 1)):
        bad = baseline[:i] + bytes((v,)) + baseline[i + 1 :]
        with pytest.raises(ValueError):
            decode_jpeg_baseline(bad)
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8" + b"\xff" * 4)


# -- progressive JPEG: T.81 Annex G over the baseline machinery (r9) ---------


def test_jpeg_progressive_block_constant_exact():
    """DC-only exactness window: block-constant rasters round-trip
    bit-exactly through all six progressive scans (spectral selection +
    successive approximation, quant=1)."""
    import random

    from bfs_etl_sep2025_spark.operators.multimodal import (
        decode_jpeg_progressive,
        encode_jpeg_progressive,
    )

    rng = random.Random(3)
    w = h = 32
    px = bytearray(w * h)
    for by in range(4):
        for bx in range(4):
            v = rng.randrange(256)
            for y in range(8):
                for x in range(8):
                    px[(by * 8 + y) * w + bx * 8 + x] = v
    px = bytes(px)
    assert decode_jpeg_progressive(encode_jpeg_progressive(px, w, h)) == (
        w, h, px,
    )


def test_jpeg_progressive_decodes_identically_to_baseline():
    """All successive-approximation bits are transmitted, so progressive
    reconstruction must equal the sequential decode BIT-FOR-BIT on
    arbitrary rasters at any quantization — the strongest cross-check the
    two codecs can give each other (different scan machinery, same
    coefficients). Random rasters exercise ZRL spans and newly-nonzero
    refinement codes; the gradient raster drives long shared EOB runs
    with appended correction bits."""
    import random

    from bfs_etl_sep2025_spark.operators.multimodal import (
        decode_jpeg_baseline,
        decode_jpeg_progressive,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    rng = random.Random(11)
    w = h = 32
    rasters = [
        bytes(rng.randrange(256) for _ in range(w * h)),
        bytes(((x + y) // 2) % 256 for y in range(h) for x in range(w)),
    ]
    for px in rasters:
        for quant in (1, 4, 16):
            base = decode_jpeg_baseline(
                encode_jpeg_baseline(px, w, h, quant=quant)
            )
            prog = decode_jpeg_progressive(
                encode_jpeg_progressive(px, w, h, quant=quant)
            )
            assert prog == base


def test_jpeg_progressive_container_and_dispatch():
    """The emitted stream is a valid SOF2 interchange: six SOS segments,
    the progressive AC Huffman table (EOBn symbols live only here), and
    decode_jpeg routes it by the frame marker."""
    from bfs_etl_sep2025_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    px = bytes([77]) * 512
    buf = encode_jpeg_progressive(px, 64, 8)
    assert buf[:2] == b"\xff\xd8" and buf[-2:] == b"\xff\xd9"
    assert b"\xff\xc2" in buf and b"\xff\xc0" not in buf
    assert buf.count(b"\xff\xda") >= 6
    assert decode_jpeg(buf) == (64, 8, px)


def test_jpeg_progressive_rejects_malformed():
    from bfs_etl_sep2025_spark.operators.multimodal import (
        decode_jpeg_progressive,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    px = bytes(range(64)) * 8
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_progressive(b"NOPE")
    # sequential stream must be rejected, not mis-decoded
    with pytest.raises(ValueError, match="decode_jpeg"):
        decode_jpeg_progressive(encode_jpeg_baseline(px, 32, 16))
    # truncation inside a scan raises the codec's error, not IndexError
    buf = encode_jpeg_progressive(px, 32, 16)
    cut = buf[: buf.index(b"\xff\xda") + 10]
    with pytest.raises(ValueError, match="truncated"):
        decode_jpeg_progressive(cut)


def test_batched_dct_bit_identical():
    """The r11 numpy-batched DCTs must be BIT-identical to the scalar
    reference implementations below (T.81 A.3.3, separable) on arbitrary
    block content — they replay the same IEEE-754 operation order per
    element, so equality is ==, not allclose. Non-constant random-ish
    blocks exercise every basis term."""
    import hashlib

    import numpy as np

    from bfs_etl_sep2025_spark.operators.multimodal import (
        _DCT_C,
        _DCT_COS,
        _fdct_blocks,
        _idct_blocks,
    )

    def _fdct8x8(block):
        tmp = [0.0] * 64
        for r in range(8):  # rows: spatial -> frequency (u)
            row = block[r * 8 : r * 8 + 8]
            for u in range(8):
                tmp[r * 8 + u] = (
                    _DCT_C[u]
                    / 2
                    * sum(row[x] * _DCT_COS[u][x] for x in range(8))
                )
        out = [0.0] * 64
        for u in range(8):  # columns
            for v in range(8):
                out[v * 8 + u] = (
                    _DCT_C[v]
                    / 2
                    * sum(tmp[y * 8 + u] * _DCT_COS[v][y] for y in range(8))
                )
        return out

    def _idct8x8(coef):
        tmp = [0.0] * 64
        for u in range(8):  # columns: frequency (v) -> spatial (y)
            for y in range(8):
                tmp[y * 8 + u] = sum(
                    _DCT_C[v] / 2 * coef[v * 8 + u] * _DCT_COS[v][y]
                    for v in range(8)
                )
        out = [0.0] * 64
        for y in range(8):  # rows
            for x in range(8):
                out[y * 8 + x] = sum(
                    _DCT_C[u] / 2 * tmp[y * 8 + u] * _DCT_COS[u][x]
                    for u in range(8)
                )
        return out

    raw = b"".join(
        hashlib.sha256(i.to_bytes(4, "big")).digest() for i in range(32)
    )  # 1024 deterministic bytes = 16 blocks
    blocks = [
        [raw[b * 64 + i] - 128 for i in range(64)] for b in range(16)
    ]
    arr = np.asarray(blocks, dtype=np.float64).reshape(-1, 8, 8)
    fb = _fdct_blocks(arr).reshape(-1, 64)
    for b, block in enumerate(blocks):
        scalar = _fdct8x8(block)
        assert fb[b].tolist() == scalar, f"fdct block {b} diverged"
    ib = _idct_blocks(fb.reshape(-1, 8, 8)).reshape(-1, 64)
    for b in range(16):
        scalar = _idct8x8(fb[b].tolist())
        assert ib[b].tolist() == scalar, f"idct block {b} diverged"

def test_jpeg_progressive_batch_twins_identical():
    """The chunked batch paths (one FDCT or IDCT per
    ``_DCT_CHUNK_BLOCKS``-block group of assets) must be BYTE-identical
    per asset to one-image calls — payload bytes on the encode side,
    raster bytes on the decode side — for both DCT processes, on
    block-constant fixtures and arbitrary rasters in a batch spanning
    two chunks, and on a mixed batch (several quants and processes,
    which splits into runs)."""
    import hashlib
    import random

    from bfs_etl_sep2025_spark.operators.multimodal import (
        _block_constant_raster,
        _jpeg_baseline_payload,
        _jpeg_dct_blocks,
        _jpeg_decode,
        _jpeg_progressive_payload,
        decode_jpeg,
        encode_jpeg_progressive,
    )

    digests = [
        hashlib.md5(str(i).encode()).hexdigest() for i in range(64)
    ]
    rasters = [_block_constant_raster(h) for h in digests]
    rng = random.Random(7)
    rasters += [
        bytes(rng.randrange(256) for _ in range(32 * 32)) for _ in range(8)
    ]

    blocks = list(_jpeg_dct_blocks(rasters, 32, 32, 1))
    batch_payloads = [_jpeg_progressive_payload(b, 32, 32, 1) for b in blocks]
    assert batch_payloads == [
        encode_jpeg_progressive(r, 32, 32) for r in rasters
    ]
    assert [_jpeg_baseline_payload(b, 32, 32, 1) for b in blocks] == [
        encode_jpeg_baseline(r, 32, 32) for r in rasters
    ]
    assert _jpeg_decode(batch_payloads) == [
        decode_jpeg(p) for p in batch_payloads
    ]

    # mixed batch: runs of one geometry and quant share a pass, and every
    # asset still matches its one-image decode
    mixed = [
        encode_jpeg_progressive(rasters[0], 32, 32, quant=1),
        encode_jpeg_progressive(rasters[1], 32, 32, quant=3),
        encode_jpeg_baseline(rasters[2], 32, 32, quant=3),
        encode_jpeg_lossless(rasters[3], 32, 32),
        encode_jpeg_baseline(rasters[4], 32, 32, quant=1),
    ]
    assert _jpeg_decode(mixed) == [decode_jpeg(p) for p in mixed]

    # degenerate inputs
    assert list(_jpeg_dct_blocks([], 32, 32, 1)) == []
    assert _jpeg_decode([]) == []


def test_jpeg_encoders_golden_bytes():
    """Encoder output is pinned byte for byte, and each payload's decoded
    raster pixel for pixel, by md5: round trips alone would let an
    encoder change its bytes while still decoding to the same raster.
    Covers lossless, baseline at two quants and with restart markers,
    and progressive at two quants on a block-constant and a random
    raster."""
    import hashlib
    import random

    from bfs_etl_sep2025_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    def md5(b: bytes) -> str:
        return hashlib.md5(b).hexdigest()

    rng = random.Random(2024)
    rand = bytes(rng.randrange(256) for _ in range(32 * 32))
    bc = _block_constant_raster(list(hashlib.md5(b"golden").digest()))
    ramp = bytes((i * 37 + (i * i) % 11) % 256 for i in range(192))
    payloads = {
        "lossless": encode_jpeg_lossless(ramp, 24, 8),
        "baseline_q1": encode_jpeg_baseline(rand, 32, 32, quant=1),
        "baseline_q16": encode_jpeg_baseline(rand, 32, 32, quant=16),
        "baseline_rst3": encode_jpeg_baseline(
            rand, 32, 32, restart_interval=3
        ),
        "progressive_bc_q1": encode_jpeg_progressive(bc, 32, 32, quant=1),
        "progressive_bc_q3": encode_jpeg_progressive(bc, 32, 32, quant=3),
        "progressive_rand_q1": encode_jpeg_progressive(rand, 32, 32, quant=1),
        "progressive_rand_q3": encode_jpeg_progressive(rand, 32, 32, quant=3),
    }
    got = {k: (md5(v), md5(decode_jpeg(v)[2])) for k, v in payloads.items()}
    assert got == GOLDEN_JPEG_MD5


#: (payload md5, decoded-raster md5) per case of
#: test_jpeg_encoders_golden_bytes
GOLDEN_JPEG_MD5 = {
    "lossless": (
        "697addacd74f8c8c2e49714b0000cd71",
        "9181e2218572653a192835f159841ac6",
    ),
    "baseline_q1": (
        "20cac130a0d3b12a230b4d2e2f53322f",
        "40f09f8228709651beeb4838e00beb41",
    ),
    "baseline_q16": (
        "3dac92ca876ad1b5ee9022093fdf6a16",
        "9ddc6283f88696120ece99073daf9832",
    ),
    "baseline_rst3": (
        "08a5445a50af78a6c83fd4c219e2d978",
        "40f09f8228709651beeb4838e00beb41",
    ),
    "progressive_bc_q1": (
        "d1e7d06664f86abe9aa55626ea08b342",
        "a102a54aaad77271f9db951fff313bf9",
    ),
    "progressive_bc_q3": (
        "8b034e26a3b35cdb65d34c1fe2bd0640",
        "a102a54aaad77271f9db951fff313bf9",
    ),
    "progressive_rand_q1": (
        "3c8194c5097f3893cfba985822b8ffef",
        "40f09f8228709651beeb4838e00beb41",
    ),
    "progressive_rand_q3": (
        "dcbfb71ad17568ee4e1c4bef5f5cf2c7",
        "cd215b477d21efe32f27bcddf4c03218",
    ),
}
