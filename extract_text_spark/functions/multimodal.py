"""Multimodal column plumbing: image/audio/video as opaque binary columns.

The reference OCRs images via a Tesseract subprocess (app/extractors.py:
1386-1519) and fences it with size/mode validation (app/utils.py:639-682).
In the Spark engine, media are ``binary`` columns with typed metadata; the
*plumbing* — schema, Arrow batch shape, validation gates —
is real and tested. PNG, GIF, TIFF and BMP rasters decode and resize
through the numpy/stdlib decoders below, and the feature kernel parses
BMP, PNG, GIF, WAV, FLAC, MP3, MP4 and WebM headers for dimensions,
rates and durations. Other inputs (JPEG, WebP, compressed codecs) get a
``stubbed``/``planned``/``unsupported`` status instead of pixels; the
decoders raise ``DecoderUnavailable`` for inputs they cannot handle.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

if TYPE_CHECKING:
    import pandas as pd

# Reference OCR gates: pixel cap is 50 * 1024 * 1024 (app/config.py:43-45,
# checked in validate_image_for_ocr app/utils.py:655-663), the minimum is
# 22500 = 150x150 (app/config.py:78-80, checked on the URL-image OCR path
# app/extractors.py:3228-3236).
MAX_PIXELS = 50 * 1024 * 1024
MIN_OCR_PIXELS = 22500
# validate_image_for_ocr whitelists (app/utils.py:666-673)
OCR_FORMATS = ("JPEG", "PNG", "TIFF", "BMP", "GIF")
OCR_MODES = ("L", "RGB", "RGBA", "P")

MEDIA_SCHEMA = StructType([
    StructField("media_ref", StringType(), False),
    StructField("payload", BinaryType()),
    StructField("mime", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
])

FEATURE_SCHEMA = StructType([
    StructField("media_ref", StringType(), False),
    StructField("status", StringType()),
    StructField("n_bytes", LongType()),
    StructField("sniffed_mime", StringType()),
    StructField("feature_hash", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("sample_rate", IntegerType()),
    StructField("duration_ms", LongType()),
])

# Magic-byte prefix table (the reference's soft sniff,
# app/extractors.py:1521-1573 — prefix signatures only).
_MAGIC = [
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"BM", "image/bmp"),
    (b"II*\x00", "image/tiff"),
    (b"MM\x00*", "image/tiff"),
    (b"\x1a\x45\xdf\xa3", "video/webm"),
    (b"fLaC", "audio/flac"),
    (b"ID3", "audio/mpeg"),
]


class DecoderUnavailable(NotImplementedError):
    """Raised by the decoders for input outside their envelope."""


def sniff_mime(payload: bytes | None) -> str | None:
    if not payload:
        return None
    if payload.startswith(b"RIFF") and len(payload) >= 12:
        kind = payload[8:12]
        if kind == b"WAVE":
            return "audio/wav"
        if kind == b"WEBP":
            return "image/webp"
        return "application/octet-stream"
    for sig, mime in _MAGIC:
        if payload.startswith(sig):
            return mime
    # ISO-BMFF: the ftyp box type sits at offset 4, not a prefix
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        return "video/mp4"
    # bare MP3 stream: full first-frame-header validity, not just the
    # 11-bit sync — FF Ex also matches UTF-16LE BOMs and random binary
    # (UTF-16 "\ufeff" is FF FE = a valid Layer I sync), so require the
    # exact MPEG1-Layer-III + legal-bitrate/samplerate shape the decoder
    # itself accepts
    if len(payload) >= 3 and payload[0] == 0xFF:
        b1, b2 = payload[1], payload[2]
        if ((b1 & 0xE0) == 0xE0 and (b1 >> 3) & 0x3 == 0x3
                and (b1 >> 1) & 0x3 == 0x1
                and (b2 >> 4) not in (0, 15) and (b2 >> 2) & 0x3 != 3):
            return "audio/mpeg"
    return "application/octet-stream"


def decode_bmp_header(payload: bytes) -> dict | None:
    """Uncompressed-BMP header decode (pure struct, no codec): BITMAPFILE-
    HEADER 'BM' + BITMAPINFOHEADER width/height at offsets 18/22 (LE i32;
    negative height = top-down rows)."""
    import struct
    if len(payload) < 26 or not payload.startswith(b"BM"):
        return None
    width, height = struct.unpack_from("<ii", payload, 18)
    if width <= 0 or height == 0:
        return None
    out = {"width": width, "height": abs(height)}
    if len(payload) >= 30:
        (bpp,) = struct.unpack_from("<H", payload, 28)
        out["mode"] = {1: "1", 8: "P", 24: "RGB", 32: "RGBA"}.get(bpp, "RGB")
    return out


def decode_png_header(payload: bytes) -> dict | None:
    """PNG IHDR decode (pure struct): the first chunk after the 8-byte
    signature is always IHDR (PNG spec §11.2.2) — width/height are the
    two big-endian u32s at offsets 16/20. Lets the reference's OCR pixel
    gates (app/utils.py:639-682: 150x150 min, 50 MP cap) run on real
    dimensions for the most common web image format."""
    import struct
    if len(payload) < 24 or not payload.startswith(b"\x89PNG\r\n\x1a\n"):
        return None
    if payload[12:16] != b"IHDR":
        return None
    width, height = struct.unpack_from(">II", payload, 16)
    if width == 0 or height == 0:
        return None
    out = {"width": width, "height": height}
    if len(payload) >= 26:
        out["mode"] = {0: "L", 2: "RGB", 3: "P", 4: "LA",
                       6: "RGBA"}.get(payload[25], "RGB")
    return out


def decode_gif_header(payload: bytes) -> dict | None:
    """GIF Logical Screen Descriptor decode: canvas width/height are the
    two little-endian u16s straight after the 6-byte version signature
    (GIF89a spec §18)."""
    import struct
    if len(payload) < 10 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    width, height = struct.unpack_from("<HH", payload, 6)
    if width == 0 or height == 0:
        return None
    return {"width": width, "height": height, "mode": "P"}


def decode_jpeg_header(payload: bytes) -> dict | None:
    """JPEG SOF scan (pure struct): walk marker segments from SOI to the
    first SOFn frame header; height/width are big-endian u16 at offsets
    +3/+5 inside it, the component count at +7 maps to the PIL mode the
    reference's whitelist checks (1 -> L, 3 -> RGB, 4 -> CMYK)."""
    import struct
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        if (0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC)
                and pos + 9 <= len(payload)):
            height, width = struct.unpack_from(">HH", payload, pos + 5)
            ncomp = payload[pos + 9] if pos + 9 < len(payload) else 3
            mode = {1: "L", 3: "RGB", 4: "CMYK"}.get(ncomp, "RGB")
            if width == 0 or height == 0:
                return None
            return {"width": width, "height": height, "mode": mode}
        pos += 2 + seg_len
    return None


def decode_tiff_header(payload: bytes) -> dict | None:
    """TIFF IFD walk (pure struct): first IFD's ImageWidth (256) /
    ImageLength (257) / SamplesPerPixel (277) tags, honouring the II/MM
    byte order. SHORT and LONG inline values only — the forms baseline
    TIFF writers emit."""
    import struct
    if len(payload) < 8:
        return None
    if payload[:4] == b"II*\x00":
        bo = "<"
    elif payload[:4] == b"MM\x00*":
        bo = ">"
    else:
        return None
    (ifd_off,) = struct.unpack_from(bo + "I", payload, 4)
    if ifd_off + 2 > len(payload):
        return None
    (n_entries,) = struct.unpack_from(bo + "H", payload, ifd_off)
    width = height = None
    samples = 1
    for i in range(n_entries):
        e = ifd_off + 2 + 12 * i
        if e + 12 > len(payload):
            break
        tag, typ = struct.unpack_from(bo + "HH", payload, e)
        if typ == 3:       # SHORT
            (val,) = struct.unpack_from(bo + "H", payload, e + 8)
        elif typ == 4:     # LONG
            (val,) = struct.unpack_from(bo + "I", payload, e + 8)
        else:
            continue
        if tag == 256:
            width = val
        elif tag == 257:
            height = val
        elif tag == 277:
            samples = val
    if not width or not height:
        return None
    mode = {1: "L", 3: "RGB", 4: "RGBA"}.get(samples, "RGB")
    return {"width": width, "height": height, "mode": mode}


def decode_webp_header(payload: bytes) -> dict | None:
    """WEBP canvas decode for all three RIFF layouts. PIL identifies any
    of them, so the OCR gate must reach the format-whitelist rejection
    ('Unsupported image format: WEBP'), never 'cannot identify'.

    VP8X (extended): 24-bit LE minus-one width/height at offsets 24/27.
    'VP8 ' (lossy): 3-byte frame tag, 9D 01 2A start code, then two LE
    u16s whose low 14 bits are width/height (VP8 spec RFC 6386 §9.1).
    VP8L (lossless): 0x2F signature then 14-bit minus-one width/height
    packed little-endian; bit 28 of the same u32 is the alpha flag.
    """
    if len(payload) < 16 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        return None
    chunk = payload[12:16]
    if chunk == b"VP8X" and len(payload) >= 30:
        width = 1 + int.from_bytes(payload[24:27], "little")
        height = 1 + int.from_bytes(payload[27:30], "little")
        has_alpha = bool(payload[20] & 0x10)
        return {"width": width, "height": height,
                "mode": "RGBA" if has_alpha else "RGB"}
    if chunk == b"VP8 " and len(payload) >= 30:
        if payload[23:26] != b"\x9d\x01\x2a":
            return None
        width = int.from_bytes(payload[26:28], "little") & 0x3FFF
        height = int.from_bytes(payload[28:30], "little") & 0x3FFF
        if not width or not height:
            return None
        return {"width": width, "height": height, "mode": "RGB"}
    if chunk == b"VP8L" and len(payload) >= 25:
        if payload[20] != 0x2F:
            return None
        bits = int.from_bytes(payload[21:25], "little")
        width = (bits & 0x3FFF) + 1
        height = ((bits >> 14) & 0x3FFF) + 1
        has_alpha = bool((bits >> 28) & 1)
        return {"width": width, "height": height,
                "mode": "RGBA" if has_alpha else "RGB"}
    return None


def decode_wav_header(payload: bytes) -> dict | None:
    """RIFF/WAVE chunk walk: fmt chunk -> channels/sample_rate/byte_rate,
    data chunk size -> duration_ms = data_bytes * 1000 / byte_rate."""
    import struct
    if (len(payload) < 44 or payload[:4] != b"RIFF"
            or payload[8:12] != b"WAVE"):
        return None
    pos, rate, byte_rate, data_size = 12, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"fmt " and pos + 24 <= len(payload):
            _fmt, _ch, rate, byte_rate = struct.unpack_from(
                "<HHII", payload, pos + 8)
        elif cid == b"data":
            data_size = size
        pos += 8 + size + (size & 1)
    if not rate or not byte_rate or data_size is None:
        return None
    return {"sample_rate": rate,
            "duration_ms": data_size * 1000 // byte_rate}


def decode_flac_header(payload: bytes) -> dict | None:
    """FLAC STREAMINFO (the spec-mandated first metadata block): 20-bit
    sample rate, 3-bit channels, 36-bit total samples packed into the
    8 bytes after the frame-size fields — duration is exact, not
    estimated."""
    if len(payload) < 8 + 34 or payload[:4] != b"fLaC":
        return None
    btype, blen = payload[4] & 0x7F, int.from_bytes(payload[5:8], "big")
    if btype != 0 or blen < 34 or len(payload) < 8 + blen:
        return None
    packed = int.from_bytes(payload[18:26], "big")
    rate = packed >> 44
    total_samples = packed & ((1 << 36) - 1)
    if not rate:
        return None
    return {"sample_rate": rate,
            "duration_ms": total_samples * 1000 // rate}


# MPEG1 Layer III side of the header tables (the common web case)
_MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
                 256, 320)
_MP3_RATES = (44100, 48000, 32000)


def decode_mp3_header(payload: bytes) -> dict | None:
    """First MPEG1 Layer III frame header after an optional ID3v2 tag
    (syncsafe size; v2.4 footer flag adds 10). sample_rate is exact;
    duration_ms is EXACT for VBR files carrying a Xing/Info or VBRI
    frame count in the first frame, else the standard CBR estimate
    audio_bytes*8/bitrate — the honest header-only answer."""
    off = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        off = 10 + ((payload[6] & 0x7F) << 21 | (payload[7] & 0x7F) << 14
                    | (payload[8] & 0x7F) << 7 | (payload[9] & 0x7F))
        if payload[5] & 0x10:
            off += 10               # ID3v2.4 footer: 10 bytes after the
            #                         tag, NOT counted in the syncsafe size
    if len(payload) < off + 4:
        return None
    b0, b1, b2 = payload[off], payload[off + 1], payload[off + 2]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    if (b1 >> 3) & 0x3 != 0x3 or (b1 >> 1) & 0x3 != 0x1:
        return None                     # not MPEG1 Layer III
    br_idx = b2 >> 4
    rate_idx = (b2 >> 2) & 0x3
    if br_idx in (0, 15) or rate_idx == 3:
        return None                     # free/bad bitrate, reserved rate
    bitrate = _MP3_BITRATES[br_idx]
    rate = _MP3_RATES[rate_idx]
    # VBR: a Xing/Info (LAME) or VBRI (Fraunhofer) header in the first
    # frame carries the exact frame count — most real podcast/crawl MP3s
    # are VBR, where the CBR estimate below is simply wrong. Xing sits
    # after the MPEG1 side info (32 bytes stereo/joint/dual, 17 mono,
    # ISO 11172-3 §2.4.1.7); VBRI sits at a fixed 32 bytes after the
    # 4-byte frame header. duration = frames * 1152 samples / rate
    # (1152 samples per MPEG1 Layer III frame).
    frames = None
    mode = payload[off + 3] >> 6 if len(payload) > off + 3 else 0
    xo = off + 4 + (17 if mode == 3 else 32)
    if payload[xo:xo + 4] in (b"Xing", b"Info") and len(payload) >= xo + 12:
        flags = int.from_bytes(payload[xo + 4:xo + 8], "big")
        if flags & 0x1:
            frames = int.from_bytes(payload[xo + 8:xo + 12], "big")
    elif payload[off + 36:off + 40] == b"VBRI" and len(payload) >= off + 54:
        frames = int.from_bytes(payload[off + 50:off + 54], "big")
    if frames:
        return {"sample_rate": rate,
                "duration_ms": frames * 1152 * 1000 // rate}
    return {"sample_rate": rate,
            "duration_ms": (len(payload) - off) * 8 * 1000
            // (bitrate * 1000)}


def _mp4_boxes(payload: bytes, start: int, end: int):
    """Iterate (type, body_start, body_end) over ISO-BMFF boxes in
    [start, end); handles 64-bit largesize (size==1) and to-EOF
    (size==0); stops on malformed framing."""
    import struct
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", payload, pos)
        btype = payload[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                return
            (size,) = struct.unpack_from(">Q", payload, pos + 8)
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            return
        yield btype, body, pos + size
        pos += size


def decode_mp4_header(payload: bytes) -> dict | None:
    """ISO-BMFF (MP4) metadata from the box tree: ``moov > mvhd`` gives
    timescale + duration (exact, v0/v1 layouts), and the first
    ``trak > tkhd`` with nonzero 16.16-fixed presentation size gives
    width/height. Pure struct walking, no codec."""
    import struct
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        return None
    out, dims = None, None
    for btype, body, bend in _mp4_boxes(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        for ctype, cbody, cend in _mp4_boxes(payload, body, bend):
            if ctype == b"mvhd" and cend - cbody >= 8:
                ver = payload[cbody]
                if ver == 1 and cend - cbody >= 32:
                    timescale, = struct.unpack_from(">I", payload,
                                                    cbody + 20)
                    duration, = struct.unpack_from(">Q", payload,
                                                   cbody + 24)
                elif ver == 0 and cend - cbody >= 24:
                    timescale, duration = struct.unpack_from(
                        ">II", payload, cbody + 12)
                else:
                    continue
                if timescale:
                    out = {"duration_ms": duration * 1000 // timescale}
            elif ctype == b"trak" and dims is None:
                for t2, b2, e2 in _mp4_boxes(payload, cbody, cend):
                    if t2 != b"tkhd" or e2 - b2 < 84:
                        continue
                    off = b2 + (88 if payload[b2] == 1 else 76)
                    if e2 - off < 8:
                        continue
                    w, h = struct.unpack_from(">II", payload, off)
                    if w and h:
                        dims = (w >> 16, h >> 16)
                        break
    if out is not None and dims is not None:
        out["width"], out["height"] = dims
    return out


def _ebml_vint(payload: bytes, pos: int,
               keep_marker: bool) -> tuple[int, int, int] | None:
    """One EBML variable-length integer at ``pos``: the count of leading
    zero bits in the first byte gives the width (1-8 bytes). Element IDs
    keep the marker bit (they are quoted WITH it in the Matroska spec:
    0x1A45DFA3, 0xAE, ...); sizes strip it. Returns (value, width,
    next_pos) or None on malformed/truncated input."""
    if pos >= len(payload):
        return None
    first = payload[pos]
    if first == 0:
        return None                     # >8-byte vint: not valid EBML
    width = 9 - first.bit_length()
    if pos + width > len(payload):
        return None
    val = first if keep_marker else first & ((1 << (8 - width)) - 1)
    for i in range(1, width):
        val = (val << 8) | payload[pos + i]
    return val, width, pos + width


def _ebml_walk(payload: bytes, start: int, end: int):
    """Iterate (element_id, body_start, body_end) over the EBML elements
    in [start, end). An unknown-size element (all size VALUE bits set
    for the vint's width) extends to the enclosing end, per the EBML
    RFC 8794 §6.2 — streamed WebM writes its Segment that way. Stops on
    malformed framing."""
    pos = start
    while pos < end:
        got = _ebml_vint(payload, pos, keep_marker=True)
        if got is None:
            return
        eid, _w, pos = got
        got = _ebml_vint(payload, pos, keep_marker=False)
        if got is None:
            return
        size, width, pos = got
        unknown = size == (1 << (7 * width)) - 1
        body_end = end if unknown else pos + size
        if body_end > end:
            return                      # declared size past the buffer
        yield eid, pos, body_end
        if body_end >= end:
            return
        pos = body_end


# Matroska/WebM element ids (https://www.matroska.org/technical/elements)
_EBML_SEGMENT = 0x18538067
_EBML_INFO = 0x1549A966
_EBML_TIMECODE_SCALE = 0x2AD7B1
_EBML_DURATION = 0x4489
_EBML_TRACKS = 0x1654AE6B
_EBML_TRACK_ENTRY = 0xAE
_EBML_VIDEO = 0xE0
_EBML_PIXEL_W = 0xB0
_EBML_PIXEL_H = 0xBA


def decode_webm_header(payload: bytes) -> dict | None:
    """WebM/Matroska metadata from the EBML element tree (pure varint
    walking, no codec — the ISO-BMFF twin of decode_mp4_header):
    ``Segment > Info`` gives TimecodeScale (ns per tick, default 10^6) +
    Duration (float ticks); the first ``Tracks > TrackEntry > Video``
    gives PixelWidth/PixelHeight. duration_ms floors
    ticks * scale / 10^6."""
    import struct

    if len(payload) < 8 or not payload.startswith(b"\x1a\x45\xdf\xa3"):
        return None
    out, dims = None, None
    for eid, body, bend in _ebml_walk(payload, 0, len(payload)):
        if eid != _EBML_SEGMENT:
            continue
        for cid, cb, ce in _ebml_walk(payload, body, bend):
            if cid == _EBML_INFO:
                scale, dur = 1_000_000, None
                for iid, ib, ie in _ebml_walk(payload, cb, ce):
                    if iid == _EBML_TIMECODE_SCALE and ie > ib:
                        scale = int.from_bytes(payload[ib:ie], "big")
                    elif iid == _EBML_DURATION:
                        if ie - ib == 4:
                            (dur,) = struct.unpack(">f", payload[ib:ie])
                        elif ie - ib == 8:
                            (dur,) = struct.unpack(">d", payload[ib:ie])
                if dur is not None and dur >= 0 and scale:
                    out = {"duration_ms": int(dur * scale // 1_000_000)}
            elif cid == _EBML_TRACKS and dims is None:
                for tid, tb, te in _ebml_walk(payload, cb, ce):
                    if tid != _EBML_TRACK_ENTRY:
                        continue
                    for vid, vb, ve in _ebml_walk(payload, tb, te):
                        if vid != _EBML_VIDEO:
                            continue
                        w = h = None
                        for pid, pb, pe in _ebml_walk(payload, vb, ve):
                            if pid == _EBML_PIXEL_W and pe > pb:
                                w = int.from_bytes(payload[pb:pe], "big")
                            elif pid == _EBML_PIXEL_H and pe > pb:
                                h = int.from_bytes(payload[pb:pe], "big")
                        if w and h:
                            dims = (w, h)
                            break
                    if dims:
                        break
    if out is None and dims is None:
        return None
    out = out or {}
    if dims is not None:
        out["width"], out["height"] = dims
    return out


_FMT_BY_MIME = {"image/jpeg": "JPEG", "image/png": "PNG", "image/gif": "GIF",
                "image/bmp": "BMP", "image/tiff": "TIFF",
                "image/webp": "WEBP"}


def ocr_gate(payload: bytes | None) -> dict:
    """The reference's pre-OCR validation on REAL header metadata.

    Mirrors validate_image_for_ocr (app/utils.py:639-682) check-for-check
    and in ORDER: pixel cap first (50*1024*1024), then the format
    whitelist (JPEG/PNG/TIFF/BMP/GIF), then the mode whitelist
    (L/RGB/RGBA/P); an unreadable payload fails like PIL's open would.
    ``min_ok`` carries the separate 150x150 (22500 px) minimum the
    URL-image OCR path applies (app/config.py:78-80,
    app/extractors.py:3228-3236) — there it silently skips, not errors.
    """
    decoders = {"JPEG": decode_jpeg_header, "PNG": decode_png_header,
                "GIF": decode_gif_header, "BMP": decode_bmp_header,
                "TIFF": decode_tiff_header, "WEBP": decode_webp_header}
    out = {"eligible": False, "reason": None, "fmt": None, "mode": None,
           "width": None, "height": None, "min_ok": False}
    fmt = _FMT_BY_MIME.get(sniff_mime(payload) or "")
    hdr = decoders[fmt](payload) if fmt else None
    if hdr is None:
        out["reason"] = "Failed to process image: cannot identify image"
        return out
    width, height, mode = hdr["width"], hdr["height"], hdr.get("mode", "RGB")
    pixels = width * height
    out.update({"fmt": fmt, "mode": mode, "width": width, "height": height,
                "min_ok": pixels >= MIN_OCR_PIXELS})
    if pixels > MAX_PIXELS:
        out["reason"] = (f"Image too large: {pixels} pixels "
                         f"(max: {MAX_PIXELS})")
    elif fmt not in OCR_FORMATS:
        out["reason"] = f"Unsupported image format: {fmt}"
    elif mode not in OCR_MODES:
        out["reason"] = f"Unsupported color mode: {mode}"
    else:
        out["eligible"] = True
    return out


def validate_media_df(df: DataFrame) -> DataFrame:
    """Column-level gates mirroring app/utils.py:639-682: pixel cap and
    non-empty payload; quarantine rows get valid=false."""
    return df.withColumn(
        "valid",
        F.col("payload").isNotNull()
        & (F.coalesce(F.col("width") * F.col("height"), F.lit(0)) <= MAX_PIXELS),
    )


def _feature_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
    import hashlib

    import pandas as pd

    for batch in batches:
        rows = []
        for ref, payload in zip(batch["media_ref"], batch["payload"]):
            payload = bytes(payload) if payload is not None else b""
            sniffed = sniff_mime(payload)
            width = height = rate = duration = None
            # Header formats with stdlib-decodable metadata are decoded for
            # real; every other format is reported "stubbed".
            hdr = (decode_bmp_header(payload) if sniffed == "image/bmp"
                   else decode_png_header(payload)
                   if sniffed == "image/png"
                   else decode_gif_header(payload)
                   if sniffed == "image/gif"
                   else decode_wav_header(payload)
                   if sniffed == "audio/wav"
                   else decode_flac_header(payload)
                   if sniffed == "audio/flac"
                   else decode_mp3_header(payload)
                   if sniffed == "audio/mpeg"
                   else decode_mp4_header(payload)
                   if sniffed == "video/mp4"
                   else decode_webm_header(payload)
                   if sniffed == "video/webm" else None)
            status = "decoded" if hdr is not None else "stubbed"
            if hdr is not None:
                width, height = hdr.get("width"), hdr.get("height")
                rate, duration = hdr.get("sample_rate"), hdr.get("duration_ms")
            # Deterministic "feature": content hash stands in for the real
            # embedding/thumbnail so downstream plumbing is exercised.
            rows.append((ref, status, len(payload), sniffed,
                         hashlib.md5(payload).hexdigest(),
                         width, height, rate, duration))
        yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])


def extract_media_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary media rows.

    Pipeline shape: validate -> mapInPandas decode/feature kernel over the
    input partitions.
    """
    valid = validate_media_df(df).filter("valid")
    return valid.select("media_ref", "payload").mapInPandas(
        _feature_batches, schema=FEATURE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Resize + frame-sample plumbing (the training-pipeline media ops)
# ---------------------------------------------------------------------------

RESIZE_SCHEMA = StructType([
    StructField("media_ref", StringType(), False),
    StructField("status", StringType()),
    StructField("src_w", IntegerType()),
    StructField("src_h", IntegerType()),
    StructField("dst_w", IntegerType()),
    StructField("dst_h", IntegerType()),
    StructField("scale_milli", LongType()),
    StructField("resized", BinaryType()),
    StructField("resized_n_bytes", LongType()),
])

FRAME_SCHEMA = StructType([
    StructField("media_ref", StringType(), False),
    StructField("status", StringType()),
    StructField("duration_ms", LongType()),
    StructField("n_frames", IntegerType()),
    StructField("first_ts_ms", LongType()),
    StructField("last_ts_ms", LongType()),
])


def plan_resize_dims(w: int, h: int, max_dim: int) -> tuple[int, int, int]:
    """Aspect-preserving clamp of (w, h) to max_dim — integer arithmetic
    only (floor division), so the plan is bit-exact in any engine:
    dst = max(1, (side * max_dim) // max(w, h)); scale in millionths."""
    m = max(w, h)
    if m <= max_dim:
        return w, h, 1_000_000
    return (max(1, (w * max_dim) // m), max(1, (h * max_dim) // m),
            (1_000_000 * max_dim) // m)


def resize_bmp(payload: bytes, dst_w: int, dst_h: int) -> bytes:
    """REAL nearest-neighbour resize of an uncompressed 24-bit BMP — no
    codec library needed: the raster is raw bottom-up BGR rows padded to
    4 bytes. Source pixel for (x, y) is (x*src_w//dst_w, y*src_h//dst_h),
    PIL's NEAREST floor mapping."""
    import struct

    if len(payload) < 54 or not payload.startswith(b"BM"):
        raise DecoderUnavailable("not a BMP")
    src_w, src_h = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if src_w <= 0 or src_h <= 0 or bpp != 24 or compression != 0:
        # top-down (negative height), paletted, or RLE BMPs -> stub seam
        raise DecoderUnavailable("not an uncompressed bottom-up 24-bit BMP")
    src_row = (3 * src_w + 3) // 4 * 4
    pix_off = struct.unpack_from("<I", payload, 10)[0]
    if len(payload) < pix_off + src_row * src_h:
        # a short slice assigned into the row bytearray would silently
        # SHRINK it and emit a malformed raster — reject truncated input
        raise DecoderUnavailable("truncated BMP raster")
    dst_row = (3 * dst_w + 3) // 4 * 4
    data_size = dst_row * dst_h
    out = bytearray(b"BM" + struct.pack("<IHHI", 54 + data_size, 0, 0, 54))
    out += struct.pack("<IiiHHIIiiII", 40, dst_w, dst_h, 1, 24, 0,
                       data_size, 2835, 2835, 0, 0)
    # vectorized gather in STORED (bottom-up) row order — byte-identical
    # to the original per-pixel loop, pad bytes zero
    import numpy as np
    a = (np.frombuffer(payload, dtype=np.uint8, count=src_row * src_h,
                       offset=pix_off)
         .reshape(src_h, src_row)[:, :3 * src_w].reshape(src_h, src_w, 3))
    ys = np.arange(dst_h, dtype=np.int64) * src_h // dst_h
    xs = np.arange(dst_w, dtype=np.int64) * src_w // dst_w
    rows = np.zeros((dst_h, dst_row), dtype=np.uint8)
    rows[:, :3 * dst_w] = a[ys][:, xs].reshape(dst_h, 3 * dst_w)
    out += rows.tobytes()
    return bytes(out)


_PNG_BPP = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # 8-bit channels per color type

# Adam7 interlace passes: (x_start, y_start, x_step, y_step) — PNG spec
# §8.2; the decompressed stream is the 7 filtered sub-images in order.
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _png_unfilter(data: bytes, pos: int, w: int, h: int,
                  bpp: int) -> tuple[bytearray, int]:
    """Reverse PNG row filters over one (sub-)image of ``w`` x ``h``
    pixels starting at ``pos`` in the decompressed stream (RFC 2083 §6,
    the bpp-aware general form of pdfbytes._png_unpredict, which fixes
    bpp=1 for PDF xref streams). Returns (raw pixels, next position)."""
    import numpy as np

    stride = w * bpp
    if len(data) < pos + h * (stride + 1):
        raise DecoderUnavailable("IDAT shorter than the scanline layout")
    out = bytearray(h * stride)
    prev = bytes(stride)
    for y in range(h):
        ft = data[pos]
        row = bytearray(data[pos + 1:pos + 1 + stride])
        pos += stride + 1
        if ft == 0:
            pass
        elif ft == 1:
            # sub filter is a per-channel prefix sum: uint8 cumsum
            # wraps mod 256 exactly like the former (x + left) & 0xFF
            # byte loop
            arr = np.frombuffer(row, dtype=np.uint8).reshape(w, bpp)
            row = bytearray(np.cumsum(arr, axis=0, dtype=np.uint8)
                            .tobytes())
        elif ft == 2:
            # up filter has no intra-row dependency: one vector add
            row = bytearray((np.frombuffer(row, dtype=np.uint8)
                             + np.frombuffer(prev, dtype=np.uint8))
                            .astype(np.uint8).tobytes())
        elif ft == 3:
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif ft == 4:
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                up = prev[i]
                ul = prev[i - bpp] if i >= bpp else 0
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (
                    up if pb <= pc else ul)
                row[i] = (row[i] + pred) & 0xFF
        else:
            raise DecoderUnavailable(f"bad PNG filter type {ft}")
        out[y * stride:(y + 1) * stride] = row
        prev = row
    return out, pos


def decode_png_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL PNG raster decode with stdlib zlib only: chunk walk ->
    concatenated IDAT inflate (stored AND Huffman deflate both land in
    zlib.decompress) -> per-row filter reversal, Adam7 deinterlace,
    PLTE palette expansion. Returns (width, height, channels, raw
    scanlines without filter bytes); palette images come back as RGB
    and 16-bit samples reduce to 8-bit by taking the most significant
    byte (PNG samples are big-endian; the standard 16->8 reduction).

    Supported: depths 8 and 16 for color types 0/2/4/6 (gray, RGB,
    gray+alpha, RGBA), depth 8 for type 3 (palette — the spec maximum),
    interlace 0 or 1 (Adam7). Sub-byte depths raise DecoderUnavailable
    — the documented plan-only seam."""
    import struct
    import zlib

    if len(payload) < 33 or not payload.startswith(b"\x89PNG\r\n\x1a\n"):
        raise DecoderUnavailable("not a PNG")
    if payload[12:16] != b"IHDR":
        raise DecoderUnavailable("first chunk is not IHDR")
    w, h = struct.unpack_from(">II", payload, 16)
    depth, color, comp, filt, interlace = payload[24:29]
    if (depth not in (8, 16) or color not in _PNG_BPP or comp or filt
            or interlace > 1 or (depth == 16 and color == 3)):
        raise DecoderUnavailable(
            f"unsupported PNG shape depth={depth} color={color} "
            f"interlace={interlace}")
    if w == 0 or h == 0:
        raise DecoderUnavailable("zero-dimension PNG")
    # filter arithmetic operates on BYTES per pixel, so a 16-bit image
    # simply doubles bpp; samples reduce to their high byte at the end
    bpp = _PNG_BPP[color] * (depth // 8)
    # chunk walk: IDAT payloads form ONE zlib stream when concatenated
    idat, plte, pos = [], None, 8
    while pos + 8 <= len(payload):
        (clen,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + clen]
        if len(body) < clen:
            raise DecoderUnavailable("truncated PNG chunk")
        if tag == b"IDAT":
            idat.append(body)
        elif tag == b"PLTE":
            plte = body
        elif tag == b"IEND":
            break
        pos += 12 + clen                # len + tag + body + crc
    if not idat:
        raise DecoderUnavailable("no IDAT data")
    if color == 3 and (not plte or len(plte) % 3):
        raise DecoderUnavailable("palette image without a valid PLTE")
    stride = w * bpp
    # Bound the inflate by the EXACT stream length the header implies
    # (h*(stride+1) scanline bytes non-interlaced; the sum of the seven
    # Adam7 pass layouts otherwise) — an unbounded zlib.decompress over
    # arbitrary crawl payloads lets a tiny decompression-bomb IDAT
    # (valid IHDR, small declared dims, huge ratio) exhaust worker
    # memory instead of failing closed to the 'planned' seam; arclite
    # bounds every inflate the same way. Output past the expectation
    # raises; undershoot falls through to the existing length checks.
    if interlace == 0:
        expected = h * (stride + 1)
    else:
        expected = 0
        for xs, ys, xstep, ystep in _ADAM7:
            pw = (w - xs + xstep - 1) // xstep
            ph = (h - ys + ystep - 1) // ystep
            if pw > 0 and ph > 0:
                expected += ph * (pw * bpp + 1)
    try:
        data = zlib.decompressobj().decompress(b"".join(idat),
                                               expected + 1)
    except zlib.error as exc:
        raise DecoderUnavailable(f"IDAT inflate failed: {exc}") from exc
    if len(data) > expected:
        raise DecoderUnavailable("IDAT inflates past the scanline layout")
    if interlace == 0:
        if len(data) != h * (stride + 1):
            raise DecoderUnavailable("IDAT length != h*(stride+1)")
        out, _ = _png_unfilter(data, 0, w, h, bpp)
    else:
        # Adam7: seven independently-filtered sub-images, scattered
        # back onto the full raster by each pass's start/step grid —
        # the scatter is a strided numpy view assignment, not a loop
        import numpy as np
        out = bytearray(h * stride)
        oa = np.frombuffer(out, dtype=np.uint8).reshape(h, w, bpp)
        dpos = 0
        for xs, ys, xstep, ystep in _ADAM7:
            pw = (w - xs + xstep - 1) // xstep
            ph = (h - ys + ystep - 1) // ystep
            if pw <= 0 or ph <= 0:
                continue
            sub, dpos = _png_unfilter(data, dpos, pw, ph, bpp)
            oa[ys::ystep, xs::xstep] = np.frombuffer(
                bytes(sub), dtype=np.uint8).reshape(ph, pw, bpp)
        if dpos != len(data):
            raise DecoderUnavailable("Adam7 stream length mismatch")
    if color == 3:
        # palette expansion: indices -> RGB (normalizes to channels=3);
        # numpy gather — one C-level lookup instead of a per-pixel loop
        import numpy as np
        n = len(plte) // 3
        idx = np.frombuffer(bytes(out), dtype=np.uint8)
        if idx.size and int(idx.max()) >= n:
            raise DecoderUnavailable("palette index out of range")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(n, 3)
        return w, h, 3, pal[idx].tobytes()
    if depth == 16:
        # big-endian samples: the even bytes ARE the 8-bit reduction
        out = out[0::2]
    return w, h, _PNG_BPP[color], bytes(out)


def _gif_lzw_decode(min_code: int, data: bytes, n_pixels: int) -> bytes:
    """GIF-variant LZW decode (GIF89a spec appendix F): LSB-first bit
    packing, code width starts min_code+1 and grows when the next free
    slot crosses a power of two, capped at 12 bits until a CLEAR;
    deferred clear (full table, no reset) tolerated."""
    # spec max is 8: pixels are palette BYTES, so the root table can
    # never exceed 256 entries (a larger claim would also break the
    # bytes([i]) root-entry construction below)
    if not 2 <= min_code <= 8:
        raise DecoderUnavailable(f"bad LZW min code size {min_code}")
    clear, end = 1 << min_code, (1 << min_code) + 1
    table: dict[int, bytes] = {}
    next_code = width = 0

    def reset():
        nonlocal table, next_code, width
        table = {i: bytes([i]) for i in range(clear)}
        next_code = end + 1
        width = min_code + 1

    reset()
    out = bytearray()
    bitbuf = nbits = pos = 0
    prev_entry = None
    while len(out) < n_pixels:
        while nbits < width:
            if pos >= len(data):
                raise DecoderUnavailable("LZW stream truncated")
            bitbuf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        nbits -= width
        if code == clear:
            reset()
            prev_entry = None
            continue
        if code == end:
            break
        if code in table:
            entry = table[code]
        elif code == next_code and prev_entry is not None:
            entry = prev_entry + prev_entry[:1]     # the KwKwK case
        else:
            raise DecoderUnavailable(f"bad LZW code {code}")
        out += entry
        if prev_entry is not None and next_code < 4096:
            table[next_code] = prev_entry + entry[:1]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev_entry = entry
    if len(out) < n_pixels:
        raise DecoderUnavailable("LZW ended before the declared raster")
    return bytes(out[:n_pixels])


def decode_gif_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL GIF raster decode, pure stdlib: container walk (extensions
    skipped by their sub-block framing) to the first image descriptor,
    GIF-LZW decompression of its index stream, palette lookup
    (local-over-global), 4-pass row deinterlace when flagged. Returns
    (width, height, 3, RGB bytes) — GIF always normalizes to RGB.

    Scope: the first full-frame image (left/top 0, image dims == canvas
    dims) — the shape every single-image web GIF has; partial-frame or
    canvas-composited animations raise DecoderUnavailable (compositing
    needs disposal-method state, an animation tier's job)."""
    import struct

    if len(payload) < 14 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise DecoderUnavailable("not a GIF")
    w, h = struct.unpack_from("<HH", payload, 6)
    flags = payload[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x7)
        gct = payload[pos:pos + 3 * n]
        pos += 3 * n
    while pos < len(payload):
        b = payload[pos]
        if b == 0x3B:                   # trailer
            break
        if b == 0x21:                   # extension: skip sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise DecoderUnavailable(f"bad GIF block 0x{b:02x}")
        if pos + 10 > len(payload):     # truncated image descriptor
            raise DecoderUnavailable("truncated GIF descriptor")
        left, top, iw, ih = struct.unpack_from("<HHHH", payload, pos + 1)
        iflags = payload[pos + 9]
        pos += 10
        pal = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x7)
            pal = payload[pos:pos + 3 * n]
            pos += 3 * n
            if len(pal) < 3 * n:
                raise DecoderUnavailable("truncated GIF local palette")
        if left or top or iw != w or ih != h or not iw or not ih:
            raise DecoderUnavailable("partial-frame GIF")
        if pal is None:
            raise DecoderUnavailable("GIF image without a palette")
        if pos >= len(payload):         # no LZW minimum-code byte
            raise DecoderUnavailable("truncated GIF image data")
        min_code = payload[pos]
        pos += 1
        chunks = []
        while pos < len(payload) and payload[pos] != 0:
            n = payload[pos]
            chunks.append(payload[pos + 1:pos + 1 + n])
            pos += 1 + n
        idx = _gif_lzw_decode(min_code, b"".join(chunks), iw * ih)
        if iflags & 0x40:               # interlaced: rows 0:8,4:8,2:4,1:2
            rows = bytearray(iw * ih)
            src = 0
            for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
                for y in range(start, ih, step):
                    rows[y * iw:(y + 1) * iw] = idx[src:src + iw]
                    src += iw
            idx = bytes(rows)
        import numpy as np
        npal = len(pal) // 3
        ia = np.frombuffer(idx, dtype=np.uint8)
        if ia.size and int(ia.max()) >= npal:
            raise DecoderUnavailable("palette index out of range")
        pa = np.frombuffer(pal[:npal * 3], dtype=np.uint8).reshape(npal, 3)
        return iw, ih, 3, pa[ia].tobytes()
    raise DecoderUnavailable("GIF has no image data")


def decode_gif_animation(payload: bytes) -> tuple[int, int] | None:
    """Animation metadata from a GIF container without touching pixel
    data: walks EVERY block, counting image descriptors (frames) and
    summing Graphic Control Extension delays (GIF89a §23: 0x21 0xF9,
    delay in centiseconds at block bytes 2-3). Returns (n_frames,
    duration_ms) — spec-level arithmetic, no browser minimum-delay
    clamping — or None when the container is malformed or has no image
    data. LZW payloads are skipped by their sub-block framing, never
    decoded, so this is O(blocks) however large the rasters are."""
    import struct

    if len(payload) < 14 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    flags = payload[10]
    pos = 13
    if flags & 0x80:
        pos += 3 * (2 << (flags & 0x7))
    frames, delay_cs = 0, 0

    def skip_subblocks(p: int) -> int:
        while p < len(payload) and payload[p] != 0:
            p += 1 + payload[p]
        return p + 1

    while pos < len(payload):
        b = payload[pos]
        if b == 0x3B:                   # trailer
            break
        if b == 0x21:                   # extension
            if pos + 2 > len(payload):
                return None
            label = payload[pos + 1]
            body = pos + 2
            if (label == 0xF9 and body < len(payload)
                    and payload[body] >= 4 and body + 4 <= len(payload)):
                delay_cs += struct.unpack_from("<H", payload, body + 2)[0]
            pos = skip_subblocks(body)
            continue
        if b != 0x2C:
            return None
        if pos + 10 > len(payload):
            return None
        iflags = payload[pos + 9]
        pos += 10
        if iflags & 0x80:
            pos += 3 * (2 << (iflags & 0x7))
        pos += 1                        # LZW minimum code size
        pos = skip_subblocks(pos)
        frames += 1
    if frames == 0:
        return None
    return frames, delay_cs * 10


def _nn_resize_raw(raw: bytes, src_w: int, src_h: int, ch: int,
                   dst_w: int, dst_h: int) -> bytes:
    """Nearest-neighbour floor mapping over a packed raster (PIL
    NEAREST: src = dst*src_dim//dst_dim) — the shared gather behind
    every real resize arm, vectorized with numpy (int64 floor division
    is exact, uint8 fancy indexing is a C-level gather)."""
    import numpy as np
    a = np.frombuffer(raw, dtype=np.uint8).reshape(src_h, src_w, ch)
    ys = np.arange(dst_h, dtype=np.int64) * src_h // dst_h
    xs = np.arange(dst_w, dtype=np.int64) * src_w // dst_w
    return a[ys][:, xs].tobytes()


def resize_gif(payload: bytes, dst_w: int, dst_h: int) -> bytes:
    """REAL nearest-neighbour GIF resize: LZW-decode the first frame,
    floor-map source pixels, re-encode as a filter-0 stored-deflate PNG
    (``encode_png``) — the training-pipeline normalization choice: one
    deterministic, closed-form output container for every compressed
    raster instead of re-implementing an LZW *encoder* tier."""
    src_w, src_h, ch, raw = decode_gif_pixels(payload)
    return encode_png(dst_w, dst_h, ch,
                      _nn_resize_raw(raw, src_w, src_h, ch, dst_w, dst_h))


def decode_tiff_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL baseline-TIFF raster decode (TIFF 6.0 §3): first-IFD entry
    walk with proper count/offset handling (a value field is an OFFSET
    whenever count*type_size > 4 — e.g. RGB's three-SHORT
    BitsPerSample), Compression must be 1 (none), all samples 8-bit,
    chunky planar config; pixel data is the concatenation of the strips
    named by StripOffsets/StripByteCounts in order. Returns (width,
    height, samples, packed raster). LZW/JPEG/deflate-compressed TIFFs
    raise DecoderUnavailable — codec-library territory."""
    import struct

    if len(payload) < 8:
        raise DecoderUnavailable("not a TIFF")
    if payload[:4] == b"II*\x00":
        bo = "<"
    elif payload[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise DecoderUnavailable("not a TIFF")
    (ifd_off,) = struct.unpack_from(bo + "I", payload, 4)
    if ifd_off + 2 > len(payload):
        raise DecoderUnavailable("IFD offset out of range")
    (n_entries,) = struct.unpack_from(bo + "H", payload, ifd_off)
    type_size = {3: 2, 4: 4}

    def read_values(typ, count, e):
        sz = type_size.get(typ)
        if sz is None:
            return None
        if count * sz <= 4:
            off = e + 8
        else:
            (off,) = struct.unpack_from(bo + "I", payload, e + 8)
        if off + count * sz > len(payload):
            return None
        fmt = bo + ("H" if typ == 3 else "I") * count
        return list(struct.unpack_from(fmt, payload, off))

    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        e = ifd_off + 2 + 12 * i
        if e + 12 > len(payload):
            raise DecoderUnavailable("truncated IFD")
        tag, typ = struct.unpack_from(bo + "HH", payload, e)
        (count,) = struct.unpack_from(bo + "I", payload, e + 4)
        vals = read_values(typ, count, e)
        if vals is not None:
            tags[tag] = vals

    def one(tag, default=None):
        v = tags.get(tag)
        return v[0] if v else default

    w, h = one(256), one(257)
    if not w or not h:
        raise DecoderUnavailable("TIFF without dimensions")
    if one(259, 1) != 1:
        raise DecoderUnavailable("compressed TIFF (codec library)")
    if one(284, 1) != 1:
        raise DecoderUnavailable("planar TIFF not supported")
    samples = one(277, 1)
    bits = tags.get(258, [8])
    if len(bits) not in (1, samples) or any(b != 8 for b in bits):
        raise DecoderUnavailable(f"non-8-bit TIFF samples {bits}")
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise DecoderUnavailable("TIFF without strip layout")
    raw = bytearray()
    for off, cnt in zip(offsets, counts):
        if off + cnt > len(payload):
            raise DecoderUnavailable("strip out of range")
        raw += payload[off:off + cnt]
    if len(raw) != w * h * samples:
        raise DecoderUnavailable("strip bytes != w*h*samples")
    return w, h, samples, bytes(raw)


def resize_tiff(payload: bytes, dst_w: int, dst_h: int) -> bytes:
    """REAL nearest-neighbour TIFF resize, normalized to a filter-0
    stored-deflate PNG like the GIF arm (one deterministic closed-form
    output container for every decoded raster)."""
    src_w, src_h, ch, raw = decode_tiff_pixels(payload)
    return encode_png(dst_w, dst_h, ch,
                      _nn_resize_raw(raw, src_w, src_h, ch, dst_w, dst_h))


def encode_png(width: int, height: int, channels: int,
               raw: bytes) -> bytes:
    """Deterministic PNG encode: filter-0 scanlines, IDAT stored-deflate
    (zlib level 0) so the container size is CLOSED-FORM — with
    L = height*(width*channels+1), size = 63 + 5*ceil(L/65535) + L —
    which is what lets the resize arm sit under the DuckDB hash gate."""
    import struct
    import zlib

    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))

    stride = width * channels
    scan = b"".join(b"\x00" + raw[y * stride:(y + 1) * stride]
                    for y in range(height))
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(scan, 0))
            + chunk(b"IEND", b""))


def resize_png(payload: bytes, dst_w: int, dst_h: int) -> bytes:
    """REAL nearest-neighbour PNG resize, pure stdlib: decode the actual
    IDAT raster (stored or Huffman deflate), floor-map source pixels
    (PIL NEAREST: src = dst*src_dim//dst_dim), re-encode filter-0 +
    stored-deflate. Palette sources come back from the decoder as RGB,
    interlaced as a plain raster, and 16-bit reduced to 8-bit high
    bytes, so all of them resize for real; only sub-byte depths raise
    DecoderUnavailable."""
    src_w, src_h, ch, raw = decode_png_pixels(payload)
    return encode_png(dst_w, dst_h, ch,
                      _nn_resize_raw(raw, src_w, src_h, ch, dst_w, dst_h))


_RESIZERS = {"image/bmp": resize_bmp, "image/png": resize_png,
             "image/gif": resize_gif, "image/tiff": resize_tiff}


def _resize_batches(max_dim: int):
    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for ref, payload in zip(batch["media_ref"], batch["payload"]):
                payload = bytes(payload) if payload is not None else b""
                sniffed = sniff_mime(payload)
                hdr = (decode_bmp_header(payload) if sniffed == "image/bmp"
                       else decode_png_header(payload)
                       if sniffed == "image/png"
                       else decode_gif_header(payload)
                       if sniffed == "image/gif"
                       else decode_tiff_header(payload)
                       if sniffed == "image/tiff" else None)
                if hdr is None:
                    rows.append((ref, "unsupported", None, None, None, None,
                                 None, None, None))
                    continue
                w, h = hdr["width"], hdr["height"]
                dw, dh, sm = plan_resize_dims(w, h, max_dim)
                resizer = _RESIZERS.get(sniffed)
                if resizer is not None:
                    try:
                        rz = resizer(payload, dw, dh)
                        rows.append((ref, "resized", w, h, dw, dh, sm,
                                     rz, len(rz)))
                        continue
                    except DecoderUnavailable:
                        pass
                # rasters outside the real-decode envelope (sub-byte
                # PNG depths, header-only/partial-frame GIF, corrupt
                # streams): the PLAN (real header dims -> target dims)
                # is emitted; pixel work stays behind the stub seam.
                rows.append((ref, "planned", w, h, dw, dh, sm, None, None))
            yield pd.DataFrame(rows, columns=[f.name
                                              for f in RESIZE_SCHEMA.fields])
    return kernel


def resize_media(df: DataFrame, max_dim: int) -> DataFrame:
    """Aspect-preserving image resize over binary media rows — the
    training-pipeline normalization pass. Same shape as
    ``extract_media_features``: validate -> Arrow kernel. Uncompressed
    BMPs AND deflate-compressed PNGs (8-bit gray/RGB/LA/RGBA,
    non-interlaced) are resized for REAL
    (``resize_bmp`` / ``resize_png``, pure-stdlib nearest-neighbour);
    other compressed rasters with decodable headers emit the exact
    integer resize plan with pixels behind the documented stub; unknown
    payloads are 'unsupported'."""
    valid = validate_media_df(df).filter("valid")
    return valid.select("media_ref", "payload").mapInPandas(
        _resize_batches(max_dim), schema=RESIZE_SCHEMA)


def _frame_batches(interval_ms: int):
    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for ref, payload in zip(batch["media_ref"], batch["payload"]):
                payload = bytes(payload) if payload is not None else b""
                sniffed = sniff_mime(payload)
                if sniffed == "audio/wav":
                    hdr = decode_wav_header(payload)
                    if hdr is not None and hdr.get("duration_ms") is not None:
                        d = hdr["duration_ms"]
                        n = int(d // interval_ms) + 1
                        rows.append((ref, "sampled", d, n, 0,
                                     (n - 1) * interval_ms))
                        continue
                if sniffed in ("video/webm",):
                    hdr = decode_webm_header(payload)
                    if hdr is not None and hdr.get("duration_ms") is not None:
                        d = hdr["duration_ms"]
                        n = int(d // interval_ms) + 1
                        rows.append((ref, "sampled", d, n, 0,
                                     (n - 1) * interval_ms))
                        continue
                    # container recognized, Info/Duration absent — the
                    # codec layer would own a Cluster timestamp walk
                    rows.append((ref, "stubbed", None, None, None, None))
                    continue
                if sniffed == "image/gif":
                    # animations have a REAL timeline (GCE delay sum);
                    # a single still frame is a 0 ms timeline with one
                    # sample at t=0
                    anim = decode_gif_animation(payload)
                    if anim is not None:
                        d = anim[1]
                        n = int(d // interval_ms) + 1
                        rows.append((ref, "sampled", d, n, 0,
                                     (n - 1) * interval_ms))
                        continue
                rows.append((ref, "unsupported", None, None, None, None))
            yield pd.DataFrame(rows, columns=[f.name
                                              for f in FRAME_SCHEMA.fields])
    return kernel


def sample_frames(df: DataFrame, interval_ms: int = 1000) -> DataFrame:
    """Fixed-interval frame/segment sampling over time-based media — the
    plan every audio/video featurization pass starts from. Timestamps are
    integer arithmetic over REAL header durations (WAV's is exact:
    data_bytes / byte_rate; animated GIF's is the Graphic Control
    Extension delay sum via ``decode_gif_animation``); frame i samples
    at i*interval_ms, inclusive of t=0, so n_frames = duration //
    interval + 1. WebM containers are recognized and sample when the
    Info Duration is present (otherwise the stub seam — a Cluster
    timestamp walk belongs to the codec layer); other payloads are
    'unsupported'."""
    valid = validate_media_df(df).filter("valid")
    return valid.select("media_ref", "payload").mapInPandas(
        _frame_batches(interval_ms), schema=FRAME_SCHEMA)
