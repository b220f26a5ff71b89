"""Pure-python media codecs: PNG (gray8/rgb8) and WAV (PCM16) — real
byte-level decode with no external libraries.

The reference treats media as opaque attachments; at 100 TB a training
-data pipeline needs at least dimension/duration extraction and basic
signal features from real bytes. PIL/libav are not in this container,
but PNG is zlib (stdlib) + per-scanline filters and WAV is a RIFF header
+ PCM samples — both fully decodable in numpy:

- ``png_decode``: signature + IHDR (width/height/bit depth/color type),
  IDAT concatenation, zlib inflate, scanline unfilter (all five filter
  types), mean pixel value. Supports 8-bit grayscale and RGB, the
  dominant training-corpus cases; everything else raises with the exact
  unsupported field named.
- ``wav_decode``: RIFF/WAVE chunk walk, fmt (PCM16 only) + data chunk,
  sample count / duration, RMS amplitude over the int16 samples.
- ``png_encode_gray`` / ``wav_encode_pcm16``: minimal writers used by
  tests and the mm02 oracle query to round-trip ground-truth payloads
  (encode from known values -> decode -> features the DuckDB twin can
  compute analytically).

These run inside Arrow-batched ``mapInPandas`` (see ``binary_ops``) — a
batch of payloads decodes in one worker call, numpy-vectorized per image
/ clip, which is the same shape a PIL-based decoder would use.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
WAV_MAGIC = b"RIFF"


def sniff_kind(payload: bytes) -> str | None:
    """'png' / 'wav' / 'avi' / 'jpeg' / 'mp4' / 'gif' / 'mkv' when the
    magic bytes match, else None."""
    if payload.startswith(PNG_MAGIC):
        return "png"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if payload[:4] == WAV_MAGIC and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:4] == WAV_MAGIC and payload[8:12] == b"AVI ":
        return "avi"
    if payload[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if payload[4:8] == b"ftyp":
        return "mp4"
    if payload[:4] == b"\x1a\x45\xdf\xa3":
        # EBML header: Matroska/WebM containers. No pure-python decode —
        # inter-frame codecs dispatch via the multimodal/plugins.py seam.
        return "mkv"
    return None


# ------------------------------------------------------------------- PNG

def png_encode_gray(width: int, height: int, value: int) -> bytes:
    """Minimal valid 8-bit grayscale PNG: every pixel = ``value``."""

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)  # bit8, gray
    raw = b"".join(b"\x00" + bytes([value]) * width for _ in range(height))
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _unfilter(raw: np.ndarray, height: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filters (types 0-4). Returns (height, stride)."""
    rows = raw.reshape(height, stride + 1)
    ftypes = rows[:, 0]
    data = rows[:, 1:].astype(np.int64)
    out = np.zeros((height, stride), dtype=np.int64)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        line = data[y].copy()
        ft = int(ftypes[y])
        if ft == 0:  # None
            cur = line
        elif ft == 1:  # Sub
            cur = line
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif ft == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ft == 3:  # Average
            cur = line
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + (left + prev[x]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            cur = line
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"unsupported PNG filter type {ft}")
        out[y] = cur
        prev = cur
    return out


def png_decode_pixels(payload: bytes) -> tuple["np.ndarray", int, int, int]:
    """Full PNG pixel decode: (pixels (height x stride) uint8, width,
    height, bpp). The raw-pixel accessor shared by the stats decode
    (``png_decode``) and perceptual hashing
    (``binary_ops.dhash_features``)."""
    if not payload.startswith(PNG_MAGIC):
        raise ValueError("not a PNG (signature mismatch)")
    pos = 8
    width = height = bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif tag == b"IDAT":
            idat.extend(data)
        elif tag == b"IEND":
            break
        pos += 12 + length  # len + tag + data + crc
    if width is None:
        raise ValueError("PNG has no IHDR chunk")
    if bit_depth != 8:
        raise ValueError(f"unsupported PNG bit depth {bit_depth} (only 8)")
    if color_type not in (0, 2):
        raise ValueError(f"unsupported PNG color type {color_type} (only gray/rgb)")
    if interlace:
        raise ValueError("interlaced PNG not supported")
    bpp = 1 if color_type == 0 else 3
    stride = width * bpp
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if raw.size != height * (stride + 1):
        raise ValueError("PNG pixel data size mismatch")
    pixels = _unfilter(raw, height, stride, bpp)
    return pixels, int(width), int(height), bpp


def png_decode(payload: bytes) -> dict:
    """Real PNG decode: IHDR fields + unfiltered pixels -> mean value.

    Returns {width, height, bit_depth, color_type, mean_val}. Supports
    bit depth 8, color types 0 (gray) and 2 (rgb), no interlace.
    """
    pixels, width, height, bpp = png_decode_pixels(payload)
    return {
        "width": width,
        "height": height,
        "bit_depth": 8,
        "color_type": 0 if bpp == 1 else 2,
        "mean_val": float(pixels.mean()),
    }


def png_encode_gray_pixels(rows: list[list[int]]) -> bytes:
    """Minimal 8-bit grayscale PNG from explicit pixel rows (patterned
    counterpart of ``png_encode_gray`` — needed by anything that tests
    real spatial structure, e.g. perceptual hashing)."""

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    height = len(rows)
    width = len(rows[0])
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(r) for r in rows)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


# ------------------------------------------------------------------- WAV

def wav_encode_pcm16(samples: list[int] | np.ndarray, rate: int = 8000) -> bytes:
    """Minimal mono PCM16 WAV from int16-range samples."""
    data = np.asarray(samples, dtype=np.int16).tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_pcm_samples(payload: bytes) -> tuple["np.ndarray", int, int]:
    """RIFF chunk walk -> (int16 PCM samples, n_channels, sample_rate).
    The raw-sample accessor shared by the stats decode (``wav_decode``)
    and the spectral features (``binary_ops.hadamard_spectrum``)."""
    if payload[:4] != WAV_MAGIC or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV (RIFF/WAVE header mismatch)")
    pos = 12
    n_channels = rate = bits = None
    data = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + length]
        if tag == b"fmt ":
            audio_fmt, n_channels, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if audio_fmt != 1:
                raise ValueError(f"unsupported WAV audio format {audio_fmt} (only PCM)")
        elif tag == b"data":
            data = body
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    if bits != 16:
        raise ValueError(f"unsupported WAV bit depth {bits} (only 16)")
    return np.frombuffer(data, dtype="<i2"), int(n_channels), int(rate)


def wav_decode(payload: bytes) -> dict:
    """Real WAV decode: RIFF chunk walk -> PCM16 samples -> RMS.

    Returns {n_channels, sample_rate, n_samples, duration_ms, rms}.
    """
    samples, n_channels, rate = wav_pcm_samples(payload)
    n_frames = samples.size // n_channels
    rms = float(np.sqrt(np.mean(samples.astype(np.float64) ** 2))) if samples.size else 0.0
    # zero-crossing rate: fraction of consecutive-sample sign changes
    # ((s >= 0) flips), a standard cheap audio feature (speech/music/
    # silence screens); peak = max |sample| (clipping detection)
    if samples.size >= 2:
        nonneg = samples >= 0
        zcr = float(np.count_nonzero(nonneg[1:] != nonneg[:-1])) / (samples.size - 1)
    else:
        zcr = 0.0
    peak = int(np.max(np.abs(samples.astype(np.int32)))) if samples.size else 0
    return {
        "n_channels": int(n_channels),
        "sample_rate": int(rate),
        "n_samples": int(n_frames),
        "duration_ms": 1000.0 * n_frames / rate,
        "rms": rms,
        "zcr": zcr,
        "peak": peak,
    }


# ------------------------------------------------------------------ JPEG

JPEG_MAGIC = b"\xff\xd8\xff"

# Standard luminance DC Huffman spec (JPEG Annex K.3.1): code-length
# counts for lengths 1..16, then the category values in code order.
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
# Minimal AC table for the DC-only encoder: one length-1 code for EOB.
_AC_BITS_EOB = [1] + [0] * 15
_AC_VALS_EOB = [0x00]

_SOF_MARKERS = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, str]:
    """value -> canonical JPEG Huffman code (bit string)."""
    codes: dict[int, str] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = format(code, f"0{length}b")
            code += 1
            k += 1
        code <<= 1
    return codes


def jpeg_encode_gray(width: int, height: int, value: int) -> bytes:
    """Minimal BASELINE JFIF grayscale JPEG, every pixel = ``value``.

    A flat 8x8 block has only a DC coefficient (8 * (value - 128) for the
    orthonormal DCT), so the entropy stream is DC diffs + EOBs — a real,
    spec-conformant baseline scan any JPEG decoder accepts. The DC quant
    step is 8, so the DC is stored EXACTLY and the decoded image is
    lossless for solid fills (decoded pixel = dc * 8 / 8 + 128 = value)."""
    qtab = bytes([8] + [16] * 63)
    dc_codes = _huff_codes(_DC_BITS, _DC_VALS)
    eob = _huff_codes(_AC_BITS_EOB, _AC_VALS_EOB)[0x00]

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    bits: list[str] = []
    d = value - 128  # first block's DC diff; later blocks diff 0
    n_blocks = ((height + 7) // 8) * ((width + 7) // 8)
    for blk in range(n_blocks):
        diff = d if blk == 0 else 0
        s = diff.bit_length() if diff >= 0 else (-diff).bit_length()
        bits.append(dc_codes[s])
        if s:
            mag = diff if diff >= 0 else diff + (1 << s) - 1
            bits.append(format(mag, f"0{s}b"))
        bits.append(eob)
    stream = "".join(bits)
    stream += "1" * (-len(stream) % 8)  # pad to byte boundary with 1s
    raw = bytes(int(stream[i : i + 8], 2) for i in range(0, len(stream), 8))
    entropy = raw.replace(b"\xff", b"\xff\x00")  # byte stuffing

    return (
        b"\xff\xd8"  # SOI
        + seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xDB, b"\x00" + qtab)  # DQT, 8-bit table 0
        + seg(0xC0, struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00")  # SOF0
        + seg(0xC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))  # DHT DC 0
        + seg(0xC4, b"\x10" + bytes(_AC_BITS_EOB) + bytes(_AC_VALS_EOB))  # DHT AC 0
        + seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")  # SOS
        + entropy
        + b"\xff\xd9"  # EOI
    )


class _BitReader:
    """MSB-first bit reader over a JPEG entropy segment with 0xFF00
    byte-unstuffing; stops at any real marker."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        while True:
            if self.pos >= len(self.buf):
                raise ValueError("JPEG entropy stream truncated")
            byte = self.buf[self.pos]
            if byte == 0xFF:
                nxt = self.buf[self.pos + 1] if self.pos + 1 < len(self.buf) else None
                if nxt == 0x00:
                    pass  # stuffed FF — consume normally, skip the 00 below
                elif nxt is not None and 0xD0 <= nxt <= 0xD7:
                    self.pos += 2  # restart marker: reset and continue
                    self.bit = 0
                    continue
                else:
                    raise ValueError("JPEG entropy stream hit a marker")
            b = (byte >> (7 - self.bit)) & 1
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.pos += 1
                if byte == 0xFF:
                    self.pos += 1  # skip the stuffed 0x00
            return b

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _huff_decode(reader: _BitReader, table: dict[str, int]) -> int:
    code = ""
    for _ in range(16):
        code += str(reader.read_bit())
        if code in table:
            return table[code]
    raise ValueError("invalid JPEG Huffman code")


def _extend(mag: int, s: int) -> int:
    if s == 0:
        return 0
    return mag if mag >= (1 << (s - 1)) else mag - (1 << s) + 1


def jpeg_decode(payload: bytes) -> dict:
    """Real JPEG parse, pure python.

    Always extracted (any JPEG, baseline or progressive, any component
    count): width, height, precision, n_components, progressive — the
    marker walk every corpus dimension/aspect-ratio filter needs.

    Additionally, for single-component BASELINE scans (the shape
    ``jpeg_encode_gray`` emits), the DC coefficients are entropy-decoded
    and ``mean_val`` is the mean over blocks of the DC-reconstructed
    block average (exact for flat blocks; the DC term IS the block mean
    by DCT definition). Multi-component / progressive payloads return
    ``mean_val=None`` — full pixel decode needs a real codec library.
    """
    if not payload.startswith(JPEG_MAGIC):
        raise ValueError("not a JPEG (SOI/marker signature mismatch)")
    pos = 2
    width = height = precision = n_comp = None
    progressive = False
    sof_marker = None
    qtabs: dict[int, list[int]] = {}
    dc_tables: dict[int, dict[str, int]] = {}
    scan: bytes | None = None
    comp_tq = comp_td = 0
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (length,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + length]
        if marker in _SOF_MARKERS:
            sof_marker = marker
            progressive = marker == 0xC2
            precision, height, width, n_comp = struct.unpack(">BHHB", body[:6])
            if n_comp == 1:
                comp_tq = body[8]
        elif marker == 0xDB:
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0x0F
                step = 64 * (2 if pq else 1)
                tab = body[b + 1 : b + 1 + step]
                qtabs[tq] = (
                    list(struct.unpack(f">{64}H", tab)) if pq else list(tab)
                )
                b += 1 + step
        elif marker == 0xC4:
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0x0F
                counts = list(body[b + 1 : b + 17])
                nvals = sum(counts)
                vals = list(body[b + 17 : b + 17 + nvals])
                codes = {code: val for val, code in _huff_codes(counts, vals).items()}
                if tc == 0:
                    dc_tables[th] = codes
                b += 17 + nvals
        elif marker == 0xDA:
            ns = body[0]
            if ns == 1:
                comp_td = body[2] >> 4
            scan = payload[pos + 2 + length :]
            # entropy data runs to the next real marker; the bit reader
            # handles stuffing/restarts, so just stop the segment walk
            break
        pos += 2 + length
    if width is None:
        raise ValueError("JPEG has no SOF frame header")
    out = {
        "width": int(width),
        "height": int(height),
        "precision": int(precision),
        "n_components": int(n_comp),
        "progressive": bool(progressive),
        "mean_val": None,
    }
    if (
        sof_marker in (0xC0, 0xC1)
        and n_comp == 1
        and scan is not None
        and comp_td in dc_tables
        and comp_tq in qtabs
    ):
        reader = _BitReader(scan)
        q0 = qtabs[comp_tq][0]
        n_blocks = ((height + 7) // 8) * ((width + 7) // 8)
        # AC skipping needs the AC table in general; the DC-only scans we
        # emit use EOB immediately. Re-parse the AC table for generality.
        ac_tables: dict[int, dict[str, int]] = {}
        p2 = 2
        while p2 + 4 <= len(payload):
            if payload[p2] != 0xFF:
                break
            m2 = payload[p2 + 1]
            if m2 in (0xD9, 0xDA) and m2 == 0xDA:
                break
            if m2 == 0xD9:
                break
            (l2,) = struct.unpack(">H", payload[p2 + 2 : p2 + 4])
            if m2 == 0xC4:
                body2 = payload[p2 + 4 : p2 + 2 + l2]
                b = 0
                while b < len(body2):
                    tc, th = body2[b] >> 4, body2[b] & 0x0F
                    counts = list(body2[b + 1 : b + 17])
                    nvals = sum(counts)
                    vals = list(body2[b + 17 : b + 17 + nvals])
                    if tc == 1:
                        ac_tables[th] = {
                            code: val for val, code in _huff_codes(counts, vals).items()
                        }
                    b += 17 + nvals
            p2 += 2 + l2
        ac = ac_tables.get(comp_td, {})
        try:
            dc = 0
            total = 0.0
            for _ in range(n_blocks):
                s = _huff_decode(reader, dc_tables[comp_td])
                dc += _extend(reader.read_bits(s), s) if s else 0
                # skip AC coefficients to end of block
                k = 1
                while k <= 63 and ac:
                    rs = _huff_decode(reader, ac)
                    if rs == 0x00:  # EOB
                        break
                    run, size = rs >> 4, rs & 0x0F
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += run + 1
                    reader.read_bits(size)
                block_mean = dc * q0 / 8.0 + 128.0
                total += min(255.0, max(0.0, block_mean))
            out["mean_val"] = total / n_blocks if n_blocks else None
        except ValueError:
            out["mean_val"] = None  # keep header facts for odd streams
    return out


# ------------------------------------------------------------------- MP4

def _box(tag: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + tag + payload


_UNITY_MATRIX = struct.pack(
    ">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)


def visual_sample_entry(fourcc: bytes, width: int, height: int, config_tag: bytes, record: bytes) -> bytes:
    """VisualSampleEntry (ISO/IEC 14496-12 §12.1.3) holding one codec
    configuration box (``config_tag`` + ``record``): the stsd entry
    every video tier (avc1/hvc1/av01/vp09) hands to ``mp4_encode``."""
    return _box(
        fourcc,
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16  # pre_defined/reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 0x0018, -1)  # depth, pre_defined
        + _box(config_tag, record),
    )


def mp4_encode(
    width: int,
    height: int,
    duration_ms: int,
    timescale: int = 1000,
    sample_entry: bytes | None = None,
    mdat: bytes = b"",
) -> bytes:
    """Minimal valid ISO-BMFF (MP4) container: ftyp + moov(mvhd +
    trak(tkhd + mdia(mdhd + hdlr))) + mdat. Structure per ISO/IEC
    14496-12; ``width``/``height`` are the tkhd display dims. Without a
    ``sample_entry`` there is no codec payload — the tests and the mm04
    oracle only need the metadata boxes to carry real, decodable values.
    With one (see ``visual_sample_entry``) mdia also gets the complete
    video sample-table path, minf(vmhd + dinf/dref + stbl(stsd(entry) +
    empty stts/stsc/stsz/stco)), and ``mdat`` is the media data body."""
    dur = duration_ms * timescale // 1000
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    mvhd = _box(
        b"mvhd",
        struct.pack(">I", 0)            # version 0 + flags
        + struct.pack(">II", 0, 0)      # creation/modification time
        + struct.pack(">II", timescale, dur)
        + struct.pack(">i", 0x00010000)  # rate 1.0
        + struct.pack(">h", 0x0100)      # volume 1.0
        + b"\x00" * 10                   # reserved
        + _UNITY_MATRIX
        + b"\x00" * 24                   # pre_defined
        + struct.pack(">I", 2),          # next_track_ID
    )
    tkhd = _box(
        b"tkhd",
        struct.pack(">I", 0x000007)      # version 0 + flags (enabled|in_movie|in_preview)
        + struct.pack(">II", 0, 0)       # creation/modification time
        + struct.pack(">I", 1)           # track_ID
        + b"\x00" * 4                    # reserved
        + struct.pack(">I", dur)
        + b"\x00" * 8                    # reserved
        + struct.pack(">hhh", 0, 0, 0)   # layer, alternate_group, volume
        + b"\x00" * 2                    # reserved
        + _UNITY_MATRIX
        + struct.pack(">II", width << 16, height << 16),  # 16.16 fixed
    )
    mdhd = _box(
        b"mdhd",
        struct.pack(">I", 0)
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, dur)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und', pre_defined
    )
    hdlr = _box(
        b"hdlr",
        struct.pack(">I", 0) + struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"VideoHandler\x00",
    )
    mdia = mdhd + hdlr
    if sample_entry is not None:
        stbl = _box(
            b"stbl",
            _box(b"stsd", struct.pack(">II", 0, 1) + sample_entry)
            + _box(b"stts", struct.pack(">II", 0, 0))
            + _box(b"stsc", struct.pack(">II", 0, 0))
            + _box(b"stsz", struct.pack(">III", 0, 0, 0))
            + _box(b"stco", struct.pack(">II", 0, 0)),
        )
        vmhd = _box(b"vmhd", struct.pack(">IHHHH", 1, 0, 0, 0, 0))
        dref = _box(b"dref", struct.pack(">II", 0, 1) + _box(b"url ", struct.pack(">I", 1)))
        mdia += _box(b"minf", vmhd + _box(b"dinf", dref) + stbl)
    trak = _box(b"trak", tkhd + _box(b"mdia", mdia))
    moov = _box(b"moov", mvhd + trak)
    return ftyp + moov + _box(b"mdat", mdat)


def _iter_boxes(buf: bytes, start: int, end: int):
    """Yield (tag, payload_start, payload_end) for each ISO-BMFF box in
    buf[start:end]; handles 64-bit largesize (size==1) and to-end boxes
    (size==0). Raises ValueError on truncation or malformed sizes."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError(f"truncated box header at {pos}")
        (size,) = struct.unpack(">I", buf[pos : pos + 4])
        tag = buf[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError(f"truncated largesize at {pos}")
            (size,) = struct.unpack(">Q", buf[pos + 8 : pos + 16])
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError(f"bad box size {size} for {tag!r} at {pos}")
        yield tag, body, pos + size
        pos += size


def mp4_decode(payload: bytes) -> dict:
    """ISO-BMFF metadata decode by pure-python box walk (same pattern as
    the JPEG marker walk): ftyp brand, mvhd timescale+duration ->
    duration_ms (version 0 and 1 boxes), per-trak tkhd 16.16 fixed-point
    dims (first track with nonzero dims wins), track count. No pixel or
    audio decode — the container carries compressed codec payloads that
    genuinely need libav; everything the container ITSELF says is read
    from real bytes."""
    out: dict = {
        "brand": None,
        "duration_ms": None,
        "width": None,
        "height": None,
        "n_tracks": 0,
    }
    if len(payload) < 8 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF file (no leading ftyp box)")
    moov_span = None
    for tag, body, boxend in _iter_boxes(payload, 0, len(payload)):
        if tag == b"ftyp":
            out["brand"] = payload[body : body + 4].decode("ascii", "replace")
        elif tag == b"moov":
            moov_span = (body, boxend)
    if moov_span is None:
        raise ValueError("no moov box")
    for tag, body, boxend in _iter_boxes(payload, *moov_span):
        if tag == b"mvhd":
            version = payload[body]
            if version == 1:
                timescale, dur = struct.unpack(">IQ", payload[body + 20 : body + 32])
            else:
                timescale, dur = struct.unpack(">II", payload[body + 12 : body + 20])
            if timescale:
                out["duration_ms"] = dur * 1000.0 / timescale
        elif tag == b"trak":
            out["n_tracks"] += 1
            for t2, b2, e2 in _iter_boxes(payload, body, boxend):
                if t2 != b"tkhd":
                    continue
                # width/height are the LAST 8 bytes of tkhd either version
                w16, h16 = struct.unpack(">II", payload[e2 - 8 : e2])
                if (w16 or h16) and out["width"] is None:
                    out["width"] = w16 >> 16
                    out["height"] = h16 >> 16
    return out


def mp4_video_extract(payload: bytes, config_tag: bytes, entry_tags: tuple[bytes, ...], parse) -> dict:
    """Walk a real MP4's box tree moov/trak/mdia/minf/stbl/stsd/<entry>
    to the first ``config_tag`` record inside a sample entry whose
    fourcc is in ``entry_tags``, and return the container's tkhd display
    dims and duration alongside ``parse(record, mdat)`` — the codec's
    own record parse, given the first mdat body (``None`` when the file
    has none) for codecs whose stream metadata rides in the frames. The
    ``dims_match`` QA flag compares container display dims with the
    stream's coded dims."""
    meta = mp4_decode(payload)  # brand/duration/tkhd dims; raises without moov
    moov = mdat = None
    for tag, body, boxend in _iter_boxes(payload, 0, len(payload)):
        if tag == b"moov":
            moov = (body, boxend)
        elif tag == b"mdat" and mdat is None:
            mdat = payload[body:boxend]
    rec = None

    def walk(start: int, end: int) -> None:
        nonlocal rec
        for tag, body, boxend in _iter_boxes(payload, start, end):
            if rec is not None:
                return
            if tag == config_tag:
                rec = payload[body:boxend]
            elif tag in (b"trak", b"mdia", b"minf", b"stbl"):
                walk(body, boxend)
            elif tag == b"stsd":
                # FullBox header (4) + entry_count (4), then sample entries
                walk(body + 8, boxend)
            elif tag in entry_tags:
                # VisualSampleEntry fixed fields are 78 bytes; boxes follow
                walk(body + 78, boxend)

    walk(*moov)
    if rec is None:
        raise ValueError(f"no {config_tag.decode()} record in any sample entry")
    stream = parse(rec, mdat)
    return {
        "container_width": meta["width"],
        "container_height": meta["height"],
        "duration_ms": meta["duration_ms"],
        **stream,
        "dims_match": meta["width"] == stream["width"] and meta["height"] == stream["height"],
    }


def payload_features(df, schema: str, parse, permissive: bool = False):
    """DataFrame operator: (media_id long, payload binary) -> one row per
    payload with the columns of ``schema`` (a flat "name type, ..." DDL
    string that starts with ``media_id long``), filled from the dict
    ``parse(payload)`` returns. Arrow-batched ``mapInPandas``,
    map-only — partition-preserving, no shuffle; at 100 TB this is a
    map-only stage over the blob column. ``parse`` is a module-level
    function of this package: it pickles by import path, and the
    package is shipped to the workers first.

    ``permissive=True`` is the corpus-scale mode: a corrupt or truncated
    payload yields NULL in every field plus an ``error`` column holding
    ``"<ExcType>: <msg>"`` instead of failing the whole stage — one bad
    blob in a billion must not kill the job. The schema gains
    ``, error string``."""
    import pandas as pd  # noqa: PLC0415

    from pyp_etl_pipeline_spark.session import ship_package  # noqa: PLC0415

    fields = [col.split()[0] for col in schema.split(",")][1:]

    def op(batches):
        for pdf in batches:
            rows, errs = [], []
            for p in pdf["payload"]:
                if permissive:
                    try:
                        rows.append(parse(bytes(p)))
                        errs.append(None)
                    except Exception as exc:  # noqa: BLE001 — per-row quarantine
                        rows.append(None)
                        errs.append(f"{type(exc).__name__}: {exc}")
                else:
                    rows.append(parse(bytes(p)))
            out = {"media_id": pdf["media_id"]}
            for k in fields:
                out[k] = [None if r is None else r[k] for r in rows]
            if permissive:
                out["error"] = errs
            yield pd.DataFrame(out)

    ship_package(df.sparkSession)
    return df.mapInPandas(op, schema + (", error string" if permissive else ""))


# ------------------------------------------------------- AVI (MJPEG video)

def _riff_chunk(tag: bytes, body: bytes) -> bytes:
    """One RIFF chunk, word-aligned (chunks pad to even length)."""
    return tag + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")


def _riff_list(subtype: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", subtype + body)


def avi_mjpeg_encode(
    width: int, height: int, frame_values: list[int], fps: int = 4
) -> bytes:
    """Minimal spec-shaped MJPEG-in-AVI writer: RIFF 'AVI ' with hdrl
    (avih main header, strl with a 'vids'/'MJPG' stream header + a
    BITMAPINFOHEADER strf) and a movi LIST of one '00dc' chunk per
    frame, each a real baseline JPEG from ``jpeg_encode_gray``. One
    solid-gray frame per ``frame_values`` entry. Motion JPEG is the one
    video codec with NO inter-frame state — every frame is an
    independent JPEG — which is exactly why it decodes with the
    pure-python JPEG codec while H.264/VP9 genuinely need libav."""
    frames = [jpeg_encode_gray(width, height, v) for v in frame_values]
    n = len(frames)
    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        0, 0, 0, n, 0, 1, 0, width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, n, 0, 0xFFFFFFFF, 0)
        + struct.pack("<4H", 0, 0, width, height)
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG", 0, 0, 0, 0, 0)
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi = _riff_list(b"movi", b"".join(_riff_chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _iter_riff_chunks(payload: bytes, start: int, end: int):
    """(tag, body_start, body_end) over a RIFF chunk run; LIST chunks
    yield their subtype as tag with the body start AFTER the subtype."""
    pos = start
    while pos + 8 <= end:
        tag = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = pos + 8
        body_end = min(body + length, end)
        if tag == b"LIST" and length >= 4:
            yield payload[body : body + 4], body + 4, body_end
        else:
            yield tag, body, body_end
        pos = body + length + (length & 1)


def avi_mjpeg_decode(payload: bytes) -> dict:
    """Real AVI container decode + per-frame access: RIFF walk to the
    'vids' stream header (dwScale/dwRate -> fps), the strf
    BITMAPINFOHEADER (dims), and the movi '00dc'/'00db' frame chunks —
    each an independent JPEG slice ready for ``jpeg_decode``.

    Returns {width, height, fps_num, fps_den, n_frames, duration_ms,
    codec, frames} with ``frames`` the raw per-frame byte slices. All
    values come from the BYTES (the header frame count is
    cross-checked against the movi chunks actually present; the chunk
    walk wins)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI (RIFF/AVI header mismatch)")
    width = height = None
    rate = scale = None
    codec = None
    frames: list[bytes] = []

    def walk(start: int, end: int, in_vids: bool = False) -> None:
        nonlocal width, height, rate, scale, codec
        vids_stream = in_vids
        for tag, body, body_end in _iter_riff_chunks(payload, start, end):
            if tag in (b"hdrl", b"strl", b"movi", b"rec "):
                walk(body, body_end, vids_stream)
            elif tag == b"strh" and body_end - body >= 48:
                if payload[body : body + 4] == b"vids":
                    vids_stream = True
                    codec = payload[body + 4 : body + 8].decode("ascii", "replace")
                    _, _, _, _, scale, rate = struct.unpack(
                        "<IHHIII", payload[body + 8 : body + 28]
                    )
            elif tag == b"strf" and vids_stream and width is None and body_end - body >= 16:
                _, w, h = struct.unpack("<Iii", payload[body : body + 12])
                width, height = abs(w), abs(h)
            elif tag[2:4] in (b"dc", b"db"):
                frames.append(payload[body:body_end])

    walk(12, len(payload))
    if rate in (None, 0) or scale in (None, 0):
        raise ValueError("AVI missing a usable vids stream header")
    n = len(frames)
    return {
        "width": width,
        "height": height,
        "fps_num": int(rate),
        "fps_den": int(scale),
        "n_frames": n,
        "duration_ms": 1000.0 * n * scale / rate,
        "codec": codec,
        "frames": frames,
    }


# ------------------------------------------------------------------- GIF

GIF_MAGICS = (b"GIF87a", b"GIF89a")


def _lzw_pack(codes: list[tuple[int, int]]) -> bytes:
    """Pack (code, bit_width) pairs LSB-first into the GIF bit stream."""
    acc = 0
    nbits = 0
    out = bytearray()
    for code, width in codes:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def gif_lzw_compress(indices: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW: leading CLEAR, variable code width
    (min_code_size+1 .. 12 bits, LSB-first), dictionary reset via CLEAR
    when the 4096-entry table fills. The width grows one entry LATER
    than the encoder's own table would suggest because the decoder's
    table trails the encoder's by exactly one entry (the classic
    non-early-change GIF convention)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    d: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    codes: list[tuple[int, int]] = [(clear, width)]
    w = b""
    for b in indices:
        wk = w + bytes([b])
        if wk in d:
            w = wk
            continue
        codes.append((d[w], width))
        if next_code < 4096:
            d[wk] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        else:
            codes.append((clear, width))
            d = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        w = bytes([b])
    if w:
        codes.append((d[w], width))
    codes.append((eoi, width))
    return _lzw_pack(codes)


def gif_lzw_decompress(data: bytes, min_code_size: int) -> bytes:
    """Inverse of ``gif_lzw_compress`` — the full GIF LZW decoder
    (KwKwK case, width growth at table size 2^width, CLEAR resets,
    additions stop at 4096)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    pos = 0
    total_bits = len(data) * 8
    out = bytearray()
    prev: int | None = None
    while True:
        if pos + width > total_bits:
            break  # truncated stream: emit what we have (tolerant reader)
        byte_i = pos >> 3
        val = (int.from_bytes(data[byte_i : byte_i + 3], "little") >> (pos & 7)) & (
            (1 << width) - 1
        )
        pos += width
        c = val
        if c == eoi:
            break
        if c == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if prev is None:
            if c >= len(table) or not table[c]:
                raise ValueError(f"gif: invalid first code {c}")
            out += table[c]
            prev = c
            continue
        if c < len(table):
            entry = table[c]
        elif c == len(table):
            entry = table[prev] + table[prev][:1]
        else:
            raise ValueError(f"gif: code {c} beyond table size {len(table)}")
        if len(table) < 4096:
            table.append(table[prev] + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        out += entry
        prev = c
    return bytes(out)


def gif_encode_gray_pixels(rows: list[list[int]]) -> bytes:
    """Minimal valid GIF89a: one image, 256-entry grayscale global color
    table (palette[i] = (i, i, i)), real LZW-compressed pixel indices."""
    h = len(rows)
    w = len(rows[0])
    if any(len(r) != w for r in rows):
        raise ValueError("gif_encode_gray_pixels: ragged rows")
    hdr = b"GIF89a" + struct.pack("<HH", w, h) + bytes([0xF7, 0x00, 0x00])
    gct = bytes(v for i in range(256) for v in (i, i, i))
    desc = b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    data = gif_lzw_compress(bytes(b for r in rows for b in r), 8)
    blocks = b"".join(
        bytes([len(data[i : i + 255])]) + data[i : i + 255] for i in range(0, len(data), 255)
    )
    return hdr + gct + desc + b"\x08" + blocks + b"\x00" + b"\x3b"


def gif_decode_frames(payload: bytes) -> list[dict]:
    """Parse the GIF container (header, logical screen descriptor,
    global/local color tables, graphics-control extensions, image
    descriptors, sub-block reassembly) and LZW-decompress EVERY frame.
    Returns a list of {pixels (h x w int16 gray), width, height,
    delay_cs} — delay from the preceding GCE in centiseconds (0 for
    still images); color palettes map through integer luminance
    (r*299 + g*587 + b*114) // 1000. Interlaced images and missing
    color tables raise with the field named."""
    if payload[:6] not in GIF_MAGICS:
        raise ValueError("gif: bad magic")
    w, h = struct.unpack_from("<HH", payload, 6)
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = payload[pos : pos + 3 * n]
        pos += 3 * n
    frames: list[dict] = []
    delay_cs = 0
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            label = payload[pos + 1]
            pos += 2
            if label == 0xF9 and payload[pos] >= 3:
                # graphics control: packed(1) delay(2 LE, cs) transparent(1)
                delay_cs = struct.unpack_from("<H", payload, pos + 2)[0]
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"gif: unexpected block 0x{b0:02x}")
        left, top, iw, ih = struct.unpack_from("<HHHH", payload, pos + 1)
        ipacked = payload[pos + 9]
        pos += 10
        if ipacked & 0x40:
            raise ValueError("gif: interlaced images unsupported")
        ct = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            ct = payload[pos : pos + 3 * n]
            pos += 3 * n
        if ct is None:
            raise ValueError("gif: no color table")
        min_code = payload[pos]
        pos += 1
        chunks = []
        while payload[pos] != 0:
            ln = payload[pos]
            chunks.append(payload[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        idx = np.frombuffer(
            gif_lzw_decompress(b"".join(chunks), min_code), dtype=np.uint8
        )
        if len(idx) < iw * ih:
            raise ValueError(f"gif: {len(idx)} indices for {iw}x{ih} image")
        pal = np.frombuffer(ct, dtype=np.uint8).reshape(-1, 3).astype(np.int64)
        lum = (pal[:, 0] * 299 + pal[:, 1] * 587 + pal[:, 2] * 114) // 1000
        px = lum[idx[: iw * ih]].reshape(ih, iw).astype(np.int16)
        frames.append({"pixels": px, "width": iw, "height": ih, "delay_cs": delay_cs})
        delay_cs = 0
    if not frames:
        raise ValueError("gif: no image descriptor")
    return frames


def gif_decode_pixels(payload: bytes) -> tuple["np.ndarray", int, int]:
    """First frame of ``gif_decode_frames`` as (pixels, width, height)."""
    f = gif_decode_frames(payload)[0]
    return f["pixels"], f["width"], f["height"]


def gif_encode_gray_animation(
    frames: list[list[list[int]]], delay_cs: int = 10
) -> bytes:
    """Animated GIF89a: Netscape loop extension, per-frame graphics
    control (delay in centiseconds) + image descriptor + real LZW data;
    all frames share the 256-gray global color table."""
    if not frames:
        raise ValueError("gif_encode_gray_animation: no frames")
    h = len(frames[0])
    w = len(frames[0][0])
    hdr = b"GIF89a" + struct.pack("<HH", w, h) + bytes([0xF7, 0x00, 0x00])
    gct = bytes(v for i in range(256) for v in (i, i, i))
    loop = b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    out = bytearray(hdr + gct + loop)
    for rows in frames:
        if len(rows) != h or any(len(r) != w for r in rows):
            raise ValueError("gif_encode_gray_animation: frame size mismatch")
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        data = gif_lzw_compress(bytes(b for r in rows for b in r), 8)
        out += b"\x08"
        out += b"".join(
            bytes([len(data[i : i + 255])]) + data[i : i + 255]
            for i in range(0, len(data), 255)
        )
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def gif_decode(payload: bytes) -> dict:
    """Container + LZW decode -> width/height/mean pixel (micro)."""
    px, w, h = gif_decode_pixels(payload)
    return {
        "width": w,
        "height": h,
        "mean_val": float(px.mean()),
        "sum_pixels": int(px.sum()),
    }
