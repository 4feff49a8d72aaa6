"""Dependency-free media codecs: real byte-level round-trips."""

from __future__ import annotations

import numpy as np
import pytest

from job_market_research_spark.multimodal import codecs


def test_pgm_roundtrip():
    img = np.arange(12 * 7, dtype=np.uint8).reshape(7, 12)
    payload = codecs.encode_pgm(img)
    assert payload.startswith(b"P5\n12 7\n255\n")
    assert codecs.sniff_kind(payload) == "pgm"
    np.testing.assert_array_equal(codecs.decode_netpbm(payload), img)


def test_ppm_roundtrip():
    img = (np.arange(5 * 4 * 3, dtype=np.uint8) * 3 % 256).reshape(4, 5, 3)
    payload = codecs.encode_ppm(img)
    assert codecs.sniff_kind(payload) == "ppm"
    np.testing.assert_array_equal(codecs.decode_netpbm(payload), img)


def test_netpbm_header_comments_and_whitespace():
    img = np.full((2, 3), 9, dtype=np.uint8)
    payload = b"P5\n# a comment\n 3  2 \n# another\n255\n" + img.tobytes()
    np.testing.assert_array_equal(codecs.decode_netpbm(payload), img)


def test_wav_roundtrip_preserves_samples_and_rate():
    samples = (np.sin(np.linspace(0, 20, 480)) * 20000).astype(np.int16)
    payload = codecs.encode_wav_pcm16(samples, 16000)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    assert codecs.sniff_kind(payload) == "wav"
    back, rate = codecs.decode_wav(payload)
    assert rate == 16000
    np.testing.assert_array_equal(back, samples)


def test_resize_nearest_floor_mapping():
    img = np.arange(8 * 6, dtype=np.uint8).reshape(6, 8)
    out = codecs.resize_nearest(img, 3, 4)
    # src index = (dst * src_dim) // dst_dim, exactly
    want = img[[(i * 6) // 3 for i in range(3)]][:, [(j * 8) // 4 for j in range(4)]]
    np.testing.assert_array_equal(out, want)


def test_decode_media_dispatch():
    img_meta = codecs.decode_media(codecs.encode_pgm(np.zeros((4, 6), np.uint8)))
    assert img_meta == {"kind": "pgm", "width": 6, "height": 4, "channels": 1}
    wav_meta = codecs.decode_media(
        codecs.encode_wav_pcm16(np.zeros(100, np.int16), 8000)
    )
    assert wav_meta == {"kind": "wav", "sample_rate": 8000, "n_samples": 100, "channels": 1}


def test_unknown_format_still_raises():
    with pytest.raises(NotImplementedError):
        codecs.decode_media(b"\x89PNG\r\n\x1a\n....")


def test_jpeg_header_roundtrip():
    payload = codecs.encode_jpeg_headers(640, 480, 3, comment=b"hi")
    meta = codecs.decode_media(payload)
    assert meta == {
        "kind": "jpeg",
        "precision": 8,
        "height": 480,
        "width": 640,
        "channels": 3,
        "sof_offset": 95,  # SOI(2) + APP0(18) + COM(4+2) + DQT(69)
    }


def test_jpeg_parser_walks_by_segment_length_not_fixed_offset():
    short = codecs.parse_jpeg_header(codecs.encode_jpeg_headers(10, 20, 1))
    long = codecs.parse_jpeg_header(
        codecs.encode_jpeg_headers(10, 20, 1, comment=b"z" * 31)
    )
    assert long["sof_offset"] - short["sof_offset"] == 31
    assert (short["width"], short["height"]) == (10, 20)
    assert (long["width"], long["height"]) == (10, 20)


def test_jpeg_parser_tolerates_fill_bytes_and_standalone_markers():
    base = codecs.encode_jpeg_headers(33, 44, 1)
    # splice a TEM standalone marker and a fill byte after APP0 (ends
    # at offset 20): both are legal inter-segment noise
    spliced = base[:20] + b"\xff\x01" + b"\xff" + base[20:]
    meta = codecs.parse_jpeg_header(spliced)
    assert (meta["width"], meta["height"], meta["channels"]) == (33, 44, 1)


def test_jpeg_without_sof_raises():
    # SOI + APP0 + EOI only — a truncated/metadata-only stream
    base = codecs.encode_jpeg_headers(1, 1, 1)
    no_sof = base[:20] + b"\xff\xd9"
    with pytest.raises(NotImplementedError):
        codecs.parse_jpeg_header(no_sof)


def test_non_jpeg_magic_raises():
    with pytest.raises(NotImplementedError):
        codecs.parse_jpeg_header(b"\x89PNG\r\n\x1a\n")


def test_png_header_roundtrip_and_crc():
    payload = codecs.encode_png_headers(320, 240, color_type=6)
    meta = codecs.decode_media(payload)
    assert meta == {
        "kind": "png",
        "width": 320,
        "height": 240,
        "bit_depth": 8,
        "color_type": 6,
        "channels": 4,
        "crc_ok": True,
    }


def test_png_corrupted_crc_detected():
    payload = bytearray(codecs.encode_png_headers(10, 10))
    payload[18] ^= 0xFF  # flip a bit inside the IHDR data
    meta = codecs.parse_png_header(bytes(payload))
    assert meta["crc_ok"] is False


def test_png_bad_magic_and_bad_first_chunk_raise():
    with pytest.raises(NotImplementedError):
        codecs.parse_png_header(b"\xff\xd8not a png")
    # valid magic but first chunk is not IHDR
    bogus = codecs.encode_png_headers(1, 1)[:8] + b"\x00\x00\x00\x00IEND" + b"\x00" * 4
    with pytest.raises(NotImplementedError):
        codecs.parse_png_header(bogus)


def test_exif_orientation_both_byte_orders():
    for big in (False, True):
        data = codecs.encode_exif_app1(orientation=6, big_endian=big)
        meta = codecs.parse_exif_orientation(data)
        assert meta == {
            "byte_order": "big" if big else "little",
            "orientation": 6,
        }


def test_exif_spliced_jpeg_parses_both_ways():
    jpeg = codecs.splice_jpeg_app1(
        codecs.encode_jpeg_headers(100, 50, 3),
        codecs.encode_exif_app1(orientation=8, big_endian=True),
    )
    assert codecs.parse_jpeg_exif(jpeg)["orientation"] == 8
    sof = codecs.parse_jpeg_header(jpeg)
    assert (sof["width"], sof["height"]) == (100, 50)


def test_exif_missing_raises():
    with pytest.raises(NotImplementedError):
        codecs.parse_jpeg_exif(codecs.encode_jpeg_headers(1, 1, 1))
    with pytest.raises(NotImplementedError):
        codecs.parse_exif_orientation(b"JFIF\x00\x00whatever")


def test_jpeg_sos_terminates_marker_walk():
    """A real camera JPEG has an SOS header followed by entropy-coded
    scan data with NO marker framing. Walking past SOS would misread
    scan bytes as segments and raise 'corrupt marker stream'; the walk
    must stop at SOS and report the intended diagnostic instead."""
    hdr = codecs.encode_jpeg_headers(100, 50, 3)
    assert hdr[-2:] == b"\xff\xd9"
    sos = b"\x01\x01\x00\x00\x3f\x00"  # 1-component scan header body
    # Scan bytes chosen to look like garbage segments (no 0xFF at the
    # walk position, and a bogus huge "length" if one were read).
    scan = b"\x12\x34\x56\x78\x9a\xbc" * 8
    real = (
        hdr[:-2]
        + b"\xff\xda"
        + (len(sos) + 2).to_bytes(2, "big")
        + sos
        + scan
        + b"\xff\xd9"
    )
    # Header parse: SOF sits before SOS, still found.
    meta = codecs.parse_jpeg_header(real)
    assert (meta["width"], meta["height"]) == (100, 50)
    # EXIF parse on a no-EXIF file: the intended diagnostic, not a
    # corrupt-stream error from inside the scan data.
    with pytest.raises(NotImplementedError, match="no EXIF APP1"):
        codecs.parse_jpeg_exif(real)
    # With EXIF spliced in, it still parses (EXIF precedes SOS).
    spliced = codecs.splice_jpeg_app1(
        real, codecs.encode_exif_app1(orientation=3)
    )
    assert codecs.parse_jpeg_exif(spliced)["orientation"] == 3


def test_mp4_box_roundtrip_all_parse_classes():
    """Both mvhd versions (the v1 duration exceeds 2^32, so the 64-bit
    read is load-bearing), both box-header forms, nested trak count."""
    for version, dur in ((0, 12345), (1, (1 << 32) + 999)):
        for large in (False, True):
            p = codecs.encode_mp4_boxes(
                b"mp42", 90000, dur, 3,
                mvhd_version=version, moov_largesize=large,
            )
            assert codecs.parse_mp4_meta(p) == {
                "kind": "mp4", "brand": "mp42", "mvhd_version": version,
                "timescale": 90000, "duration": dur, "track_count": 3,
            }


def test_mp4_error_boundaries():
    with pytest.raises(NotImplementedError):
        codecs.parse_mp4_meta(b"")  # empty
    with pytest.raises(NotImplementedError):
        codecs.parse_mp4_meta(b"\x00\x00\x00\x08mdat")  # no ftyp first
    whole = codecs.encode_mp4_boxes(b"isom", 600, 1, 0)
    with pytest.raises(NotImplementedError):
        codecs.parse_mp4_meta(whole[:10])  # truncated box
    ftyp_len = int.from_bytes(whole[:4], "big")
    with pytest.raises(NotImplementedError, match="no moov"):
        codecs.parse_mp4_meta(whole[:ftyp_len])  # ftyp only
    with pytest.raises(ValueError):
        codecs.encode_mp4_boxes(b"isom", 600, 1 << 32, 0, mvhd_version=0)


def test_mp4_size_zero_box_extends_to_end():
    """size==0 means 'to end of enclosing stream' — spec-legal for the
    last top-level box; the walker must not reject it."""
    whole = codecs.encode_mp4_boxes(b"isom", 1000, 777, 2)
    ftyp_len = int.from_bytes(whole[:4], "big")
    moov = bytearray(whole[ftyp_len:])
    moov[:4] = (0).to_bytes(4, "big")
    meta = codecs.parse_mp4_meta(whole[:ftyp_len] + bytes(moov))
    assert meta["duration"] == 777 and meta["track_count"] == 2


def test_webp_roundtrip_all_variants():
    """All three bitstream layouts at their boundary dimensions: VP8 /
    VP8L dims are 14-bit (VP8L +1-biased, so 16384 is legal), VP8X
    canvas fields are 24-bit little-endian."""
    cases = [
        ("VP8 ", 1, 1, False),
        ("VP8 ", 0x3FFF, 0x3FFF, False),
        ("VP8L", 1, 1, True),
        ("VP8L", 0x4000, 0x4000, False),
        ("VP8X", 1, 1, True),
        ("VP8X", 1 << 24, 1 << 24, False),
    ]
    for variant, w, h, alpha in cases:
        p = codecs.encode_webp_headers(variant, w, h, alpha)
        assert codecs.sniff_kind(p) == "webp"
        meta = codecs.parse_webp_header(p)
        assert meta == {
            "kind": "webp", "variant": variant,
            "width": w, "height": h, "alpha": alpha,
        }
        # RIFF bookkeeping: stored container size is payload minus the
        # 8-byte RIFF header, and odd bodies (VP8L's 5 bytes) pad.
        assert int.from_bytes(p[4:8], "little") == len(p) - 8


def test_webp_vp8_scale_bits_are_masked():
    """The top 2 bits of the VP8 u16 dim fields are SCALE fields — a
    parser that forgets to mask them reads 4x-off dimensions."""
    p = bytearray(codecs.encode_webp_headers("VP8 ", 100, 50))
    p[-3] |= 0xC0  # set both horizontal-scale bits on the width field
    p[-1] |= 0x80  # and one vertical-scale bit on height
    meta = codecs.parse_webp_header(bytes(p))
    assert (meta["width"], meta["height"]) == (100, 50)


def test_webp_error_boundaries():
    with pytest.raises(NotImplementedError):
        codecs.parse_webp_header(b"RIFF\x04\x00\x00\x00WAVE")  # not WEBP
    with pytest.raises(ValueError):
        codecs.encode_webp_headers("VP8 ", 100, 50, alpha=True)  # lossy
    with pytest.raises(ValueError):
        codecs.encode_webp_headers("VP8 ", 0x4000, 1)  # 14-bit overflow
    with pytest.raises(ValueError):
        codecs.encode_webp_headers("VP9 ", 1, 1)  # unknown variant
    good = bytearray(codecs.encode_webp_headers("VP8 ", 8, 8))
    good[23] = 0x00  # corrupt the keyframe start code (after frame tag)
    with pytest.raises(NotImplementedError, match="start code"):
        codecs.parse_webp_header(bytes(good))
    lossless = bytearray(codecs.encode_webp_headers("VP8L", 8, 8))
    lossless[20] = 0x00  # corrupt the 0x2F signature byte
    with pytest.raises(NotImplementedError, match="signature"):
        codecs.parse_webp_header(bytes(lossless))


def _truncate_webp_body(payload: bytes, keep: int) -> bytes:
    """Rewrite the single bitstream chunk to carry only `keep` body
    bytes, with the RIFF and chunk sizes made consistent — the
    truncation the codec must classify, not crash on."""
    variant = payload[12:16]
    body = payload[20 : 20 + keep]
    chunk = variant + len(body).to_bytes(4, "little") + body
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def test_webp_truncated_bodies_raise_not_crash():
    # ADVICE r11: short chunk bodies previously IndexError'd (VP8L at
    # body[0]) or returned silently-wrong dims from short slices; all
    # three variants must raise the codec-convention NotImplementedError
    for variant, minimum in (("VP8 ", 10), ("VP8L", 5), ("VP8X", 10)):
        full = codecs.encode_webp_headers(variant, 8, 8)
        for keep in (0, 1, minimum - 1):
            with pytest.raises(NotImplementedError, match="truncated"):
                codecs.parse_webp_header(_truncate_webp_body(full, keep))
        # the exact minimum still parses (VP8 needs only the 10-byte
        # frame-header prefix; trailing entropy data is ignorable)
        meta = codecs.parse_webp_header(_truncate_webp_body(full, minimum))
        assert (meta["width"], meta["height"]) == (8, 8)
