"""Real, dependency-free media codecs for the multimodal pipeline.

PIL/ffmpeg are not available in this environment, but two production
formats need nothing beyond numpy and the stdlib, so those get a REAL
decode path here (`decode_media`, called by `real_media`):

- netpbm images (PGM ``P5`` grayscale, PPM ``P6`` RGB): raw binary
  headers + row-major samples, decoded straight into numpy arrays;
- WAV PCM16 audio: stdlib ``wave`` container parse + numpy sample view;
- baseline JPEG *headers*: marker-stream walk to SOF0/1/2 for
  dimensions, precision, and component count (metadata-pass parity
  for the most common web image format; pixel decode still needs a
  real codec library);
- PNG *headers*: IHDR chunk parse with real CRC-32 verification
  (dimensions, bit depth, color type → channels).

Anything else (MP4/JPEG-pixels/PNG-pixels/...) still raises NotImplementedError at
the same boundary — the stub is for formats whose codecs genuinely
aren't installed, not for the codec path itself.

All functions are executor-side (called from Arrow-batched mapInPandas
bodies); nothing here touches the driver or the JVM.
"""

from __future__ import annotations

import io
import wave

import numpy as np


# ---------------------------------------------------------------- netpbm


def encode_pgm(img: np.ndarray) -> bytes:
    """Encode a 2-D uint8 array as binary PGM (``P5``)."""
    h, w = img.shape
    return b"P5\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def encode_ppm(img: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as binary PPM (``P6``)."""
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def _parse_netpbm_header(payload: bytes) -> tuple[bytes, int, int, int, int]:
    """Parse magic / width / height / maxval, tolerating comment lines
    and any whitespace mix; returns (magic, w, h, maxval, data_offset)."""
    magic = payload[:2]
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        # skip whitespace and '#' comment lines
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval, then raw samples
    w, h, maxval = fields
    return magic, w, h, maxval, pos


def decode_netpbm(payload: bytes) -> np.ndarray:
    """Decode binary PGM/PPM into uint8 ndarray — (h, w) grayscale or
    (h, w, 3) RGB."""
    magic, w, h, maxval, off = _parse_netpbm_header(payload)
    if maxval != 255:
        raise NotImplementedError("only 8-bit netpbm supported")
    if magic == b"P5":
        n = w * h
        return np.frombuffer(payload, np.uint8, count=n, offset=off).reshape(h, w)
    if magic == b"P6":
        n = w * h * 3
        return np.frombuffer(payload, np.uint8, count=n, offset=off).reshape(h, w, 3)
    raise NotImplementedError(f"not a binary netpbm payload: {magic!r}")


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resample with floor index mapping
    ``src = (dst * src_dim) // dst_dim`` — integer-exact, so an SQL
    oracle can replay every output pixel."""
    h, w = img.shape[:2]
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return img[rows][:, cols]


# ------------------------------------------------------------------ jpeg


def encode_jpeg_headers(
    width: int, height: int, components: int, comment: bytes = b""
) -> bytes:
    """Assemble a REAL baseline-JPEG marker stream (SOI, APP0/JFIF,
    COM, DQT, SOF0, EOI) with the given frame header. Entropy-coded
    scan data is omitted — this exists to exercise the header parser
    against genuine marker/segment-length structure, the part of the
    format a metadata pass reads. Dimensions must fit the format's
    2-byte fields."""
    if not (0 < width < 65536 and 0 < height < 65536):
        raise ValueError("JPEG dimensions are 16-bit")
    out = bytearray(b"\xff\xd8")  # SOI
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xe0" + (len(app0) + 2).to_bytes(2, "big") + app0
    out += b"\xff\xfe" + (len(comment) + 2).to_bytes(2, "big") + comment
    dqt = b"\x00" + bytes(64)  # one 8-bit quantization table (zeros)
    out += b"\xff\xdb" + (len(dqt) + 2).to_bytes(2, "big") + dqt
    comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(components))
    sof = (
        b"\x08"
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + bytes([components])
        + comps
    )
    out += b"\xff\xc0" + (len(sof) + 2).to_bytes(2, "big") + sof
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def parse_jpeg_header(payload: bytes) -> dict:
    """Baseline-JPEG header parse: walk the marker stream by segment
    lengths (tolerating 0xFF fill bytes and standalone markers) to the
    first SOF0/SOF1/SOF2 frame header and return its dimensions,
    sample precision, component count, and byte offset. No DCT decode
    — pixel access for JPEG still needs a real codec library and stays
    behind the NotImplementedError boundary."""
    if payload[:2] != b"\xff\xd8":
        raise NotImplementedError("not a JPEG payload (missing SOI)")
    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise NotImplementedError(f"corrupt marker stream at {pos}")
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1  # fill bytes before a marker are legal
        marker = payload[pos + 1]
        if marker in (0xD9, 0xDA):  # EOI, or SOS: entropy-coded scan
            # data follows the SOS header with no marker framing —
            # walking past it would misread scan bytes as segments.
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # standalone
            pos += 2
            continue
        if pos + 4 > len(payload):
            break
        seg_len = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        if marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2 frame header
            return {
                "kind": "jpeg",
                "precision": payload[pos + 4],
                "height": int.from_bytes(payload[pos + 5 : pos + 7], "big"),
                "width": int.from_bytes(payload[pos + 7 : pos + 9], "big"),
                "channels": payload[pos + 9],
                "sof_offset": pos,
            }
        pos += 2 + seg_len
    raise NotImplementedError("no SOF frame header before EOI")


# ------------------------------------------------------------------ exif

#: EXIF IFD0 tags a curation metadata pass reads.
_EXIF_TAG_ORIENTATION = 0x0112


def encode_exif_app1(orientation: int, big_endian: bool = False) -> bytes:
    """Assemble a REAL APP1/EXIF segment body: ``Exif\\0\\0`` preamble
    + TIFF header (II or MM byte order, magic 42, IFD0 offset) + a
    one-entry IFD0 carrying the Orientation tag as SHORT. Returned
    bytes are the segment DATA (caller wraps in FFE1+length when
    splicing into a JPEG)."""
    bo = ">" if big_endian else "<"
    import struct

    tiff = struct.pack(f"{bo}2sHI", b"MM" if big_endian else b"II", 42, 8)
    # IFD0: entry count, then (tag, type=SHORT, count=1, value padded
    # to 4 bytes IN FILE BYTE ORDER), then next-IFD offset 0.
    entry = struct.pack(
        f"{bo}HHIHH", _EXIF_TAG_ORIENTATION, 3, 1, orientation, 0
    )
    ifd0 = struct.pack(f"{bo}H", 1) + entry + struct.pack(f"{bo}I", 0)
    return b"Exif\x00\x00" + tiff + ifd0


def parse_exif_orientation(app1_data: bytes) -> dict:
    """Endian-aware EXIF parse: validate the preamble, read the TIFF
    byte-order mark + magic 42, follow the IFD0 offset, walk its
    entries for the Orientation tag (0x0112, SHORT). Returns
    {"byte_order", "orientation"}; orientation 0 = tag absent (the
    spec default is then 1 = upright, left to the caller)."""
    import struct

    if app1_data[:6] != b"Exif\x00\x00":
        raise NotImplementedError("not an EXIF APP1 payload")
    t = app1_data[6:]
    if t[:2] == b"II":
        bo = "<"
    elif t[:2] == b"MM":
        bo = ">"
    else:
        raise NotImplementedError(f"bad TIFF byte order {t[:2]!r}")
    (magic,) = struct.unpack_from(f"{bo}H", t, 2)
    if magic != 42:
        raise NotImplementedError(f"bad TIFF magic {magic}")
    (ifd0,) = struct.unpack_from(f"{bo}I", t, 4)
    (n_entries,) = struct.unpack_from(f"{bo}H", t, ifd0)
    orientation = 0
    for i in range(n_entries):
        tag, typ, cnt = struct.unpack_from(f"{bo}HHI", t, ifd0 + 2 + 12 * i)
        if tag == _EXIF_TAG_ORIENTATION and typ == 3 and cnt == 1:
            (orientation,) = struct.unpack_from(
                f"{bo}H", t, ifd0 + 2 + 12 * i + 8
            )
    return {
        "byte_order": "big" if bo == ">" else "little",
        "orientation": orientation,
    }


def splice_jpeg_app1(jpeg: bytes, app1_data: bytes) -> bytes:
    """Insert an APP1 segment (e.g. EXIF) directly after SOI — where
    cameras put it. The segment walk in `parse_jpeg_header` skips it
    by length like any other segment."""
    if jpeg[:2] != b"\xff\xd8":
        raise NotImplementedError("not a JPEG payload (missing SOI)")
    seg = b"\xff\xe1" + (len(app1_data) + 2).to_bytes(2, "big") + app1_data
    return jpeg[:2] + seg + jpeg[2:]


def parse_jpeg_exif(payload: bytes) -> dict:
    """Walk the JPEG marker stream for the first APP1/EXIF segment and
    parse its orientation (see `parse_exif_orientation`). Raises if no
    EXIF APP1 exists before EOI."""
    if payload[:2] != b"\xff\xd8":
        raise NotImplementedError("not a JPEG payload (missing SOI)")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise NotImplementedError(f"corrupt marker stream at {pos}")
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        if marker in (0xD9, 0xDA):
            # SOS terminates the parseable marker walk: scan data is
            # entropy-coded, so a real camera JPEG without EXIF must
            # report "no EXIF APP1", not a corrupt-stream error.
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        seg_len = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        data = payload[pos + 4 : pos + 2 + seg_len]
        if marker == 0xE1 and data[:6] == b"Exif\x00\x00":
            return parse_exif_orientation(data)
        pos += 2 + seg_len
    raise NotImplementedError("no EXIF APP1 segment before EOI")


# ------------------------------------------------------------------- png

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
#: IHDR color type → sample channels (PLTE-indexed counts as 1).
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def encode_png_headers(
    width: int, height: int, color_type: int = 2, bit_depth: int = 8
) -> bytes:
    """Assemble a REAL PNG chunk stream (magic, IHDR with a correct
    CRC-32, IEND) — no IDAT, for the same reason as
    `encode_jpeg_headers`: this exercises the chunk walk + CRC check a
    metadata pass performs, not pixel decode."""
    import zlib

    ihdr = (
        width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + bytes([bit_depth, color_type, 0, 0, 0])
    )
    out = bytearray(_PNG_MAGIC)
    for ctype, data in ((b"IHDR", ihdr), (b"IEND", b"")):
        out += len(data).to_bytes(4, "big") + ctype + data
        out += (zlib.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big")
    return bytes(out)


def parse_png_header(payload: bytes) -> dict:
    """PNG IHDR parse with REAL CRC-32 verification: magic, first
    chunk must be IHDR (spec requirement), its stored CRC must match
    zlib.crc32 over type+data. Returns dimensions, bit depth, color
    type, derived channel count, and crc_ok."""
    import zlib

    if payload[:8] != _PNG_MAGIC:
        raise NotImplementedError("not a PNG payload (missing magic)")
    n = int.from_bytes(payload[8:12], "big")
    ctype = payload[12:16]
    if ctype != b"IHDR" or n != 13:
        raise NotImplementedError("first PNG chunk is not a 13-byte IHDR")
    data = payload[16 : 16 + n]
    stored_crc = int.from_bytes(payload[16 + n : 20 + n], "big")
    color_type = data[9]
    if color_type not in _PNG_CHANNELS:
        raise NotImplementedError(f"unknown PNG color type {color_type}")
    return {
        "kind": "png",
        "width": int.from_bytes(data[0:4], "big"),
        "height": int.from_bytes(data[4:8], "big"),
        "bit_depth": data[8],
        "color_type": color_type,
        "channels": _PNG_CHANNELS[color_type],
        "crc_ok": stored_crc == (zlib.crc32(ctype + data) & 0xFFFFFFFF),
    }



# ------------------------------------------------------------------- gif


def encode_gif_headers(
    width: int, height: int, gct_size_field: int = 0, version: bytes = b"89a"
) -> bytes:
    """Assemble a REAL GIF header (signature, logical screen
    descriptor, global color table, trailer) — no image data blocks,
    same header-only rationale as `encode_jpeg_headers`: exercises
    the signature check, little-endian dimension fields, and the
    packed-byte GCT arithmetic a metadata pass performs."""
    packed = 0x80 | (0x7 << 4) | (gct_size_field & 0x7)  # GCT on, 8-bit res
    out = bytearray(b"GIF" + version)
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out += bytes([packed, 0, 0])  # background index, aspect ratio
    out += bytes(3 * (2 ** (gct_size_field + 1)))  # global color table
    out += b"\x3b"  # trailer
    return bytes(out)


def parse_gif_header(payload: bytes) -> dict:
    """GIF logical-screen-descriptor parse: signature/version, REAL
    little-endian u16 dimensions (a big-endian parser fails the
    oracle on any dim > 255), and the packed byte decomposed into the
    GCT-present flag and the 2^(N+1) color-table size."""
    if payload[:3] != b"GIF" or payload[3:6] not in (b"87a", b"89a"):
        raise NotImplementedError("not a GIF payload (missing signature)")
    width = int.from_bytes(payload[6:8], "little")
    height = int.from_bytes(payload[8:10], "little")
    packed = payload[10]
    has_gct = bool(packed & 0x80)
    gct_colors = 2 ** ((packed & 0x7) + 1) if has_gct else 0
    return {
        "kind": "gif",
        "version": payload[3:6].decode("ascii"),
        "width": width,
        "height": height,
        "has_gct": has_gct,
        "gct_colors": gct_colors,
    }



# ------------------------------------------------------------------- bmp


def encode_bmp_headers(width: int, height: int, bpp: int = 24,
                       top_down: bool = False) -> bytes:
    """Assemble a REAL BMP file header + BITMAPINFOHEADER (no pixel
    array — same header-only rationale as the JPEG/GIF encoders).
    Exercises the little-endian i32 dimension fields, the SIGNED
    height convention (negative = top-down row order), and the 4-byte
    row-stride padding arithmetic a metadata pass must replicate."""
    stride = ((bpp * width + 31) // 32) * 4
    h_signed = -height if top_down else height
    size = 54 + stride * height
    if size > 0xFFFFFFFF:
        raise ValueError("BMP file size field is u32; image too large")
    out = bytearray(b"BM")
    out += size.to_bytes(4, "little")
    out += b"\x00\x00\x00\x00"
    out += (54).to_bytes(4, "little")          # pixel-data offset
    out += (40).to_bytes(4, "little")          # BITMAPINFOHEADER size
    out += width.to_bytes(4, "little", signed=True)
    out += h_signed.to_bytes(4, "little", signed=True)
    out += (1).to_bytes(2, "little")           # planes
    out += bpp.to_bytes(2, "little")
    out += (0).to_bytes(4, "little")           # BI_RGB, no compression
    out += bytes(20)                           # image size, ppm, palette
    return bytes(out)


def parse_bmp_header(payload: bytes) -> dict:
    """BMP header parse: magic, LITTLE-endian SIGNED i32 dimensions
    (negative height = top-down), planes==1 sanity, bits-per-pixel,
    and the derived 4-byte-aligned row stride ((bpp·w+31)//32)·4 —
    the padding arithmetic that breaks naive w·bpp/8 readers."""
    if payload[:2] != b"BM":
        raise NotImplementedError("not a BMP payload (missing magic)")
    dib = int.from_bytes(payload[14:18], "little")
    if dib < 40:
        raise NotImplementedError(f"unsupported DIB header size {dib}")
    width = int.from_bytes(payload[18:22], "little", signed=True)
    h_signed = int.from_bytes(payload[22:26], "little", signed=True)
    planes = int.from_bytes(payload[26:28], "little")
    if planes != 1:
        raise NotImplementedError(f"BMP planes must be 1, got {planes}")
    bpp = int.from_bytes(payload[28:30], "little")
    return {
        "kind": "bmp",
        "width": width,
        "height": abs(h_signed),
        "top_down": h_signed < 0,
        "bpp": bpp,
        "row_stride": ((bpp * width + 31) // 32) * 4,
        "data_offset": int.from_bytes(payload[10:14], "little"),
    }


# ------------------------------------------------------------------- wav


def encode_wav_pcm16(samples: np.ndarray, rate: int) -> bytes:
    """Encode int16 mono samples as a WAV container (stdlib wave)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode a WAV container to (int16 sample array, sample_rate)."""
    with wave.open(io.BytesIO(payload), "rb") as f:
        if f.getsampwidth() != 2:
            raise NotImplementedError("only PCM16 supported")
        raw = f.readframes(f.getnframes())
        rate = f.getframerate()
        ch = f.getnchannels()
    samples = np.frombuffer(raw, dtype="<i2")
    if ch > 1:
        samples = samples.reshape(-1, ch)
    return samples, rate


# ------------------------------------------------------------- dispatcher


def sniff_kind(payload: bytes) -> str:
    """Identify a payload by magic bytes (never by metadata)."""
    if payload[:2] == b"P5":
        return "pgm"
    if payload[:2] == b"P6":
        return "ppm"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return "webp"
    if payload[:2] == b"\xff\xd8":
        return "jpeg"
    if payload[:8] == _PNG_MAGIC:
        return "png"
    if payload[:3] == b"GIF":
        return "gif"
    if payload[:2] == b"BM":
        return "bmp"
    return "unknown"


def decode_media(payload: bytes) -> dict:
    """Real decode dispatcher: magic-sniff → codec → typed metadata.

    Returns ``{"kind", "width", "height", "channels"}`` for images and
    ``{"kind", "sample_rate", "n_samples", "channels"}`` for audio.
    Unknown formats raise NotImplementedError — the caller's
    stub/quarantine path owns those."""
    kind = sniff_kind(payload)
    if kind in ("pgm", "ppm"):
        img = decode_netpbm(payload)
        return {
            "kind": kind,
            "width": img.shape[1],
            "height": img.shape[0],
            "channels": 1 if img.ndim == 2 else img.shape[2],
        }
    if kind == "wav":
        samples, rate = decode_wav(payload)
        return {
            "kind": kind,
            "sample_rate": rate,
            "n_samples": int(samples.shape[0]),
            "channels": 1 if samples.ndim == 1 else samples.shape[1],
        }
    if kind == "jpeg":
        # Header-only metadata (dimensions/precision/components from
        # SOF0) — JPEG pixel decode still needs a real codec library.
        return parse_jpeg_header(payload)
    if kind == "png":
        # Header-only metadata (IHDR + CRC check); pixel decode (IDAT
        # inflate + unfiltering) stays behind the boundary.
        return parse_png_header(payload)
    if kind == "gif":
        # Header-only metadata (logical screen descriptor); LZW frame
        # decode stays behind the boundary.
        return parse_gif_header(payload)
    if kind == "bmp":
        # Header-only metadata (file header + BITMAPINFOHEADER); the
        # (trivial) pixel-array read stays behind the boundary with
        # the other formats for symmetry.
        return parse_bmp_header(payload)
    if kind == "webp":
        # Header-only metadata (RIFF walk + VP8/VP8L/VP8X frame
        # header); the entropy-coded image decode stays behind the
        # boundary.
        return parse_webp_header(payload)
    raise NotImplementedError(
        f"no codec for payload kind {kind!r}; wire PIL/ffmpeg here in production"
    )


def walk_riff_chunks(payload: bytes) -> list[dict]:
    """Walk a RIFF container's top-level chunk list (the real parse a
    media pipeline does before deciding which decoder to hand a file
    to): verify the 'RIFF' magic, read the little-endian u32
    container size and form type, then iterate (id, size, offset)
    entries honoring the word-alignment rule — odd-sized chunks are
    padded by one byte that is NOT counted in the stored size."""
    if payload[:4] != b"RIFF" or len(payload) < 12:
        raise NotImplementedError("not a RIFF container (missing magic)")
    riff_size = int.from_bytes(payload[4:8], "little")
    form = payload[8:12].decode("ascii")
    chunks = []
    pos = 12
    end = min(len(payload), 8 + riff_size)
    while pos + 8 <= end:
        cid = payload[pos : pos + 4].decode("ascii")
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        chunks.append({"chunk_id": cid, "size": size, "offset": pos})
        pos += 8 + size + (size & 1)  # word alignment: odd sizes pad
    return [{"form": form, "riff_size": riff_size, **c} for c in chunks]


def encode_id3v2_header(tag_size: int, version: int = 4,
                        unsync: bool = False) -> bytes:
    """Assemble a REAL ID3v2 tag header (the 10 bytes at the front of
    most MP3 files): magic, version pair, flag byte, and the tag size
    as a SYNCSAFE integer — 4 bytes of 7 bits each, high bit always
    clear so the size can never alias an MPEG frame sync. Padding
    bytes follow to make the payload self-consistent."""
    if not 0 <= tag_size < (1 << 28):
        raise ValueError("ID3v2 tag size is a 28-bit syncsafe integer")
    sync = bytes(
        [(tag_size >> s) & 0x7F for s in (21, 14, 7, 0)]
    )
    flags = 0x80 if unsync else 0x00
    return b"ID3" + bytes([version, 0, flags]) + sync + bytes(tag_size)


def parse_id3v2_header(payload: bytes) -> dict:
    """ID3v2 header parse: magic, version, flag bits, and the SYNCSAFE
    size decode (7 bits per byte — a reader that treats it as a plain
    big-endian u32 reports 2x-16x sizes for any tag over 127 bytes
    and walks into the audio frames)."""
    if payload[:3] != b"ID3":
        raise NotImplementedError("not an ID3v2 payload (missing magic)")
    ver, rev, flags = payload[3], payload[4], payload[5]
    if any(b & 0x80 for b in payload[6:10]):
        raise NotImplementedError("ID3v2 size bytes must be syncsafe (<0x80)")
    size = 0
    for b in payload[6:10]:
        size = (size << 7) | (b & 0x7F)
    return {
        "kind": "id3",
        "version": ver,
        "revision": rev,
        "unsync": bool(flags & 0x80),
        "has_extended_header": bool(flags & 0x40),
        "tag_size": size,
    }


def encode_flac_streaminfo(sample_rate: int, channels: int,
                           bits_per_sample: int, total_samples: int) -> bytes:
    """Assemble a REAL FLAC header: 'fLaC' magic + the mandatory
    STREAMINFO metadata block (34 bytes) with its BIT-PACKED core —
    sample rate (20 bits), channels−1 (3 bits), bits-per-sample−1
    (5 bits), total samples (36 bits) packed into one 64-bit span.
    Block sizes/frame sizes/MD5 are zeroed (header-only contract)."""
    if not (1 <= channels <= 8 and 4 <= bits_per_sample <= 32):
        raise ValueError("FLAC channels 1-8, bps 4-32")
    if sample_rate >= (1 << 20) or total_samples >= (1 << 36):
        raise ValueError("FLAC sample_rate is 20-bit, total_samples 36-bit")
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits_per_sample - 1) << 36)
        | total_samples
    )
    block = (
        (0).to_bytes(2, "big") * 2          # min/max block size (zeroed)
        + bytes(6)                          # min/max frame size (24-bit x2)
        + packed.to_bytes(8, "big")
        + bytes(16)                         # MD5 of unencoded audio
    )
    # metadata block header: last-block flag set, type 0, 24-bit length
    return b"fLaC" + bytes([0x80]) + len(block).to_bytes(3, "big") + block


def parse_flac_streaminfo(payload: bytes) -> dict:
    """FLAC STREAMINFO parse: magic, the 24-bit big-endian block
    length, then the bit-packed 64-bit span unpacked with shifts and
    masks — a byte-aligned reader gets every field wrong because
    none of the four core fields sits on a byte boundary."""
    if payload[:4] != b"fLaC":
        raise NotImplementedError("not a FLAC payload (missing magic)")
    header = payload[4]
    if header & 0x7F != 0:
        raise NotImplementedError("first FLAC block must be STREAMINFO")
    length = int.from_bytes(payload[5:8], "big")
    body = payload[8 : 8 + length]
    packed = int.from_bytes(body[10:18], "big")
    return {
        "kind": "flac",
        "is_last_block": bool(header & 0x80),
        "block_len": length,
        "sample_rate": packed >> 44,
        "channels": ((packed >> 41) & 0x7) + 1,
        "bits_per_sample": ((packed >> 36) & 0x1F) + 1,
        "total_samples": packed & ((1 << 36) - 1),
    }


# ------------------------------------------------------------- mp4/iso-bmff


def _mp4_box(btype: bytes, body: bytes, largesize: bool = False) -> bytes:
    """Wrap a box body in an ISO-BMFF box header. `largesize=True`
    emits the 64-bit form (size field = 1, 8-byte largesize follows
    the type) even when the 32-bit field would fit — real muxers do
    this for boxes that MIGHT grow past 4 GiB, so a parser must
    handle it on boxes of any actual size."""
    if largesize:
        return (1).to_bytes(4, "big") + btype + (len(body) + 16).to_bytes(8, "big") + body
    return (len(body) + 8).to_bytes(4, "big") + btype + body


def encode_mp4_boxes(
    brand: bytes,
    timescale: int,
    duration: int,
    track_count: int,
    mvhd_version: int = 0,
    moov_largesize: bool = False,
) -> bytes:
    """Assemble a REAL ISO-BMFF (MP4) box stream: `ftyp` (major brand,
    minor version, one compatible brand) + `moov` containing a
    spec-layout `mvhd` (version 0 = 32-bit times, version 1 = 64-bit)
    and `track_count` minimal `trak` container boxes. Media data
    (mdat) is absent — same header-only contract as the other
    codecs: this exercises the nested box walk, the 64-bit largesize
    form, and the version-dependent mvhd field widths, not sample
    decode."""
    if mvhd_version not in (0, 1):
        raise ValueError("mvhd version is 0 or 1")
    if mvhd_version == 0 and duration >= (1 << 32):
        raise ValueError("mvhd v0 duration is 32-bit; use version 1")
    ftyp = _mp4_box(b"ftyp", brand + (0).to_bytes(4, "big") + b"isom")
    w = 8 if mvhd_version else 4
    mvhd_body = (
        bytes([mvhd_version, 0, 0, 0])          # version + flags
        + (0).to_bytes(w, "big") * 2            # creation/modification time
        + timescale.to_bytes(4, "big")
        + duration.to_bytes(w, "big")
        + (0x00010000).to_bytes(4, "big")       # rate 1.0 (16.16 fixed)
        + (0x0100).to_bytes(2, "big")           # volume 1.0 (8.8 fixed)
        + bytes(10)                             # reserved
        + bytes(36)                             # matrix (zeroed)
        + bytes(24)                             # pre_defined
        + (track_count + 1).to_bytes(4, "big")  # next_track_ID
    )
    moov_body = _mp4_box(b"mvhd", mvhd_body)
    for _ in range(track_count):
        moov_body += _mp4_box(b"trak", b"")
    return ftyp + _mp4_box(b"moov", moov_body, largesize=moov_largesize)


def parse_mp4_meta(payload: bytes) -> dict:
    """ISO-BMFF metadata parse: walk top-level boxes by size (handling
    the size==1 64-bit largesize form), require `ftyp` first (spec
    requirement for file-level brands), then descend into `moov` —
    a CONTAINER box whose body is itself a box stream — to read
    `mvhd` (dispatching 32- vs 64-bit time fields on its version
    byte) and count `trak` children. Returns brand, mvhd version,
    timescale, duration (in timescale units), and track count. No
    sample tables, no codec payloads — the boundary every curation
    metadata pass stops at."""

    def walk(buf: bytes):
        pos = 0
        while pos + 8 <= len(buf):
            size = int.from_bytes(buf[pos : pos + 4], "big")
            btype = buf[pos + 4 : pos + 8]
            hdr = 8
            if size == 1:
                if pos + 16 > len(buf):
                    raise NotImplementedError("truncated largesize box header")
                size = int.from_bytes(buf[pos + 8 : pos + 16], "big")
                hdr = 16
            elif size == 0:  # box extends to end of enclosing stream
                size = len(buf) - pos
            if size < hdr or pos + size > len(buf):
                raise NotImplementedError(
                    f"corrupt box size {size} at offset {pos}"
                )
            yield btype, buf[pos + hdr : pos + size]
            pos += size

    boxes = walk(payload)
    try:
        btype, body = next(boxes)
    except StopIteration:
        raise NotImplementedError("not an ISO-BMFF payload (empty)") from None
    if btype != b"ftyp":
        raise NotImplementedError("first box must be ftyp")
    brand = body[:4].decode("latin-1")
    meta = {
        "kind": "mp4",
        "brand": brand,
        "mvhd_version": -1,
        "timescale": 0,
        "duration": 0,
        "track_count": 0,
    }
    saw_moov = False
    for btype, body in boxes:
        if btype != b"moov":
            continue
        saw_moov = True
        for ctype, cbody in walk(body):
            if ctype == b"mvhd":
                version = cbody[0]
                w = 8 if version else 4
                off = 4 + 2 * w  # version+flags, creation, modification
                meta["mvhd_version"] = version
                meta["timescale"] = int.from_bytes(
                    cbody[off : off + 4], "big"
                )
                meta["duration"] = int.from_bytes(
                    cbody[off + 4 : off + 4 + w], "big"
                )
            elif ctype == b"trak":
                meta["track_count"] += 1
    if not saw_moov:
        raise NotImplementedError("no moov box (metadata-less stream)")
    return meta


# ---------------------------------------------------------------- webp


def encode_webp_headers(
    variant: str, width: int, height: int, alpha: bool = False
) -> bytes:
    """Assemble a REAL WebP header payload — RIFF/'WEBP' container
    around one of the three spec bitstream chunks (header-only, same
    contract as the JPEG/PNG/MP4 codecs: the entropy-coded image data
    is absent, the container/frame-header layout is exact):

    - ``'VP8 '`` (lossy): 3-byte frame tag (keyframe bit 0), the
      0x9D012A keyframe start code, then width and height as
      little-endian u16s whose top 2 bits are the horizontal/vertical
      scale fields — dims are 14-bit (max 16383).
    - ``'VP8L'`` (lossless): 0x2F signature byte, then a 4-byte
      little-endian bitstream packing width-1 (14 bits), height-1
      (14 bits), alpha_is_used (1 bit), version (3 bits, 0).
    - ``'VP8X'`` (extended): feature-flags byte (alpha = 0x10),
      3 reserved bytes, then canvas width-1 and height-1 as 24-bit
      little-endian fields (max 2^24).

    Odd-sized chunk bodies (VP8L's 5 bytes) take the RIFF word-
    alignment pad, which the stored chunk size must NOT count."""
    if variant == "VP8 ":
        if not (1 <= width <= 0x3FFF and 1 <= height <= 0x3FFF):
            raise ValueError("VP8 dimensions are 14-bit")
        if alpha:
            raise ValueError("lossy VP8 has no alpha channel")
        body = (
            bytes([0x00, 0x00, 0x00])  # frame tag: keyframe, v0
            + b"\x9d\x01\x2a"          # keyframe start code
            + width.to_bytes(2, "little")
            + height.to_bytes(2, "little")
        )
    elif variant == "VP8L":
        if not (1 <= width <= 0x4000 and 1 <= height <= 0x4000):
            raise ValueError("VP8L dimensions are 14-bit (+1 biased)")
        bits = (
            (width - 1)
            | ((height - 1) << 14)
            | ((1 if alpha else 0) << 28)
        )
        body = b"\x2f" + bits.to_bytes(4, "little")
    elif variant == "VP8X":
        if not (1 <= width <= 1 << 24 and 1 <= height <= 1 << 24):
            raise ValueError("VP8X canvas dimensions are 24-bit (+1 biased)")
        body = (
            bytes([0x10 if alpha else 0x00])
            + bytes(3)
            + (width - 1).to_bytes(3, "little")
            + (height - 1).to_bytes(3, "little")
        )
    else:
        raise ValueError(f"unknown WebP variant {variant!r}")
    chunk = variant.encode("ascii") + len(body).to_bytes(4, "little") + body
    if len(body) & 1:
        chunk += b"\x00"  # word-alignment pad, excluded from the size
    riff_size = 4 + len(chunk)
    return b"RIFF" + riff_size.to_bytes(4, "little") + b"WEBP" + chunk


def parse_webp_header(payload: bytes) -> dict:
    """WebP metadata parse: RIFF walk to the first bitstream chunk,
    then the variant-specific frame-header decode — VP8 keyframe
    start-code check + 14-bit dims (scale bits masked off), VP8L
    signature byte + packed 4-byte LE bitstream, VP8X feature flags +
    24-bit canvas fields. Returns kind/variant/width/height/alpha."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise NotImplementedError("not a WebP payload (missing magic)")
    for c in walk_riff_chunks(payload):
        cid = c["chunk_id"]
        off = c["offset"] + 8
        body = payload[off : off + c["size"]]
        if cid == "VP8 ":
            # minimum frame-header prefix: 3-byte frame tag + 3-byte
            # start code + 2×2-byte dims = 10 bytes
            if len(body) < 10:
                raise NotImplementedError("truncated VP8 frame header")
            if body[3:6] != b"\x9d\x01\x2a":
                raise NotImplementedError("VP8 keyframe start code missing")
            w = int.from_bytes(body[6:8], "little") & 0x3FFF
            h = int.from_bytes(body[8:10], "little") & 0x3FFF
            return {
                "kind": "webp", "variant": "VP8 ",
                "width": w, "height": h, "alpha": False,
            }
        if cid == "VP8L":
            # signature byte + packed 4-byte LE bitstream = 5 bytes
            if len(body) < 5:
                raise NotImplementedError("truncated VP8L header")
            if body[0] != 0x2F:
                raise NotImplementedError("VP8L signature byte missing")
            bits = int.from_bytes(body[1:5], "little")
            return {
                "kind": "webp", "variant": "VP8L",
                "width": (bits & 0x3FFF) + 1,
                "height": ((bits >> 14) & 0x3FFF) + 1,
                "alpha": bool((bits >> 28) & 1),
            }
        if cid == "VP8X":
            # flags byte + 3 reserved + 2×3-byte canvas dims = 10 bytes
            if len(body) < 10:
                raise NotImplementedError("truncated VP8X header")
            return {
                "kind": "webp", "variant": "VP8X",
                "width": int.from_bytes(body[4:7], "little") + 1,
                "height": int.from_bytes(body[7:10], "little") + 1,
                "alpha": bool(body[0] & 0x10),
            }
    raise NotImplementedError("no WebP bitstream chunk found")
