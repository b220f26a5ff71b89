"""VP9 frame-header metadata codec — pure python.

Fourth leg of the video metadata tier (H.264 ``h264.py``, HEVC
``h265.py``, AV1 ``av1.py``), completing the four-codec container QA
surface a web-corpus curation manifest routes on: parse the VP9
KEYFRAME uncompressed header — profile, bit depth, color space/range,
chroma subsampling, frame and render dimensions — per the public VP9
Bitstream & Decoding Process Specification §6.2 (uncompressed header
syntax), and the vpcC ``VPCodecConfigurationRecord`` per the public
"VP Codec ISO Media File Format Binding" spec. Same honest boundary as
the other three: metadata only; VP9 pixel decode stays behind the
plugin seam (``binary_ops.decode_real`` raises ``NotImplementedError``
for video pixels).

VP9 differs structurally from the other three in ways this module
implements faithfully rather than papering over:

- There is NO out-of-band parameter set (no SPS, no sequence header
  OBU): stream-level metadata lives in every keyframe's uncompressed
  header, so the MP4 binding's vpcC record is the ONLY config carrier
  and ``codecInitializationDataSize`` is REQUIRED to be 0 for VP9 —
  record-vs-stream QA must therefore read the first frame from
  ``mdat``, not a config blob (``mp4_vpcc_extract`` does exactly that).
- No start codes and no emulation prevention: frames are
  length-delimited by the container (or superframe index); the header
  is a plain MSB-first bit string.
- Profile couples bit depth and subsampling: profiles 0/1 are 8-bit
  (depth not coded), profiles 2/3 code a ten_or_twelve_bit flag;
  profiles 0/2 are fixed 4:2:0 (subsampling not coded), profiles 1/3
  code subsampling_x/y explicitly and are the only ones that may carry
  CS_RGB (which forces full-range 4:4:4 with no color_range bit).

Honesty note on goldens: no VP9 encoder exists in this container (no
libvpx/ffmpeg), so ``tests/test_vp9.py`` validates the parser against a
HAND-ASSEMBLED spec-layout header built bit-by-bit with an independent
packer (exercising the profile-3 reserved bit, RGB and explicit-
subsampling branches, show-existing and inter-frame rejects), plus
encoder round-trips and the truncation contract — the same documented
approach as ``h265.py``/``av1.py``. If a real libvpx stream ever lands
here, pin it the way test_h264's x264 golden is pinned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyp_etl_pipeline_spark.multimodal.codecs import (
    mp4_encode,
    mp4_video_extract,
    payload_features,
    visual_sample_entry,
)
from pyp_etl_pipeline_spark.multimodal.h264 import _BitReader, _BitWriter

VP9_SYNC_CODE = 0x498342
CS_RGB = 7

# vpcC chromaSubsampling codes (VP codec binding §2.2.1)
_SUB_TO_VPCC = {(1, 1): 1, (1, 0): 2, (0, 0): 3}  # 4:2:0 colocated / 4:2:2 / 4:4:4
_VPCC_TO_SUB = {0: (1, 1), 1: (1, 1), 2: (1, 0), 3: (0, 0)}
_VALID_LEVELS = {0, 10, 11, 20, 21, 30, 31, 40, 41, 50, 51, 52, 60, 61, 62}


def vp9_frame_header_encode(
    width: int,
    height: int,
    profile: int = 0,
    bit_depth: int = 8,
    color_space: int = 2,
    color_range: int = 0,
    sub_x: int | None = None,
    sub_y: int | None = None,
    render_width: int | None = None,
    render_height: int | None = None,
    show_frame: bool = True,
) -> bytes:
    """A spec-shaped VP9 KEYFRAME uncompressed header (§6.2), zero-padded
    to a byte boundary plus two filler bytes standing in for the rest of
    the frame (the parser must not read past the fields it needs).
    Profile/bit-depth/subsampling coupling is validated up front so the
    encoder can only emit legal streams."""
    if width <= 0 or height <= 0:
        raise ValueError("vp9_frame_header_encode: dimensions must be positive")
    if not 0 <= profile <= 3:
        raise ValueError("profile must be 0..3")
    if profile < 2:
        if bit_depth != 8:
            raise ValueError("profiles 0/1 are 8-bit only")
    elif bit_depth not in (10, 12):
        raise ValueError("profiles 2/3 are 10- or 12-bit")
    if color_space == CS_RGB:
        if profile not in (1, 3):
            raise ValueError("CS_RGB requires profile 1 or 3")
        sub_x, sub_y = 0, 0
        color_range = 1
    elif profile in (1, 3):
        sub_x = 1 if sub_x is None else sub_x
        sub_y = 0 if sub_y is None else sub_y
        if (sub_x, sub_y) == (1, 1):
            raise ValueError("profiles 1/3 signal non-4:2:0 subsampling")
    else:
        sub_x, sub_y = 1, 1  # profiles 0/2: fixed 4:2:0, not coded
    w = _BitWriter()
    w.u(2, 2)  # frame_marker
    w.u(1, profile & 1)  # profile_low_bit
    w.u(1, (profile >> 1) & 1)  # profile_high_bit
    if profile == 3:
        w.u(1, 0)  # reserved_zero
    w.u(1, 0)  # show_existing_frame
    w.u(1, 0)  # frame_type = KEY_FRAME
    w.u(1, 1 if show_frame else 0)
    w.u(1, 0)  # error_resilient_mode
    w.u(24, VP9_SYNC_CODE)
    # color_config (§6.2.2)
    if profile >= 2:
        w.u(1, 1 if bit_depth == 12 else 0)  # ten_or_twelve_bit
    w.u(3, color_space)
    if color_space != CS_RGB:
        w.u(1, color_range)
        if profile in (1, 3):
            w.u(1, sub_x)
            w.u(1, sub_y)
            w.u(1, 0)  # reserved_zero
    elif profile in (1, 3):
        w.u(1, 0)  # reserved_zero
    # frame_size + render_size (§6.2.3/6.2.4)
    w.u(16, width - 1)
    w.u(16, height - 1)
    different = (
        render_width is not None
        and render_height is not None
        and (render_width, render_height) != (width, height)
    )
    w.u(1, 1 if different else 0)
    if different:
        w.u(16, render_width - 1)
        w.u(16, render_height - 1)
    bits = w._bits  # plain bit string — VP9 headers are NOT rbsp
    while len(bits) % 8:
        bits.append(0)
    out = bytearray()
    for i in range(0, len(bits), 8):
        b = 0
        for bit in bits[i : i + 8]:
            b = (b << 1) | bit
        out.append(b)
    return bytes(out) + b"\x2a\x2a"  # filler: rest-of-frame stand-in


def vp9_frame_header_parse(payload: bytes) -> dict:
    """Bit-parse a VP9 keyframe uncompressed header (§6.2): profile,
    bit depth, color space/range, chroma subsampling, frame and render
    dimensions. Raises ValueError on non-VP9 bytes, show-existing
    frames (they carry no header), and inter frames (their size fields
    refer to reference slots, not coded dimensions)."""
    r = _BitReader(payload)
    if r.u(2) != 2:
        raise ValueError("not a VP9 frame (frame_marker != 2)")
    profile = r.u(1) | (r.u(1) << 1)
    if profile == 3 and r.u(1) != 0:
        raise ValueError("reserved bit set after profile 3")
    if r.u(1):  # show_existing_frame
        raise ValueError("show-existing frame carries no header")
    frame_type = r.u(1)
    show_frame = r.u(1)
    r.u(1)  # error_resilient_mode
    if frame_type != 0:
        raise ValueError("not a keyframe (inter frames carry no sync code)")
    if r.u(24) != VP9_SYNC_CODE:
        raise ValueError("bad VP9 frame sync code")
    if profile >= 2:
        bit_depth = 12 if r.u(1) else 10
    else:
        bit_depth = 8
    color_space = r.u(3)
    if color_space != CS_RGB:
        color_range = r.u(1)
        if profile in (1, 3):
            sub_x = r.u(1)
            sub_y = r.u(1)
            if r.u(1) != 0:
                raise ValueError("reserved bit set in color_config")
            if (sub_x, sub_y) == (1, 1):
                raise ValueError("profiles 1/3 must not signal 4:2:0")
        else:
            sub_x = sub_y = 1
    else:
        if profile not in (1, 3):
            raise ValueError("CS_RGB is only legal in profiles 1/3")
        color_range = 1
        if r.u(1) != 0:
            raise ValueError("reserved bit set in color_config")
        sub_x = sub_y = 0
    width = r.u(16) + 1
    height = r.u(16) + 1
    if r.u(1):  # render_and_frame_size_different
        render_width = r.u(16) + 1
        render_height = r.u(16) + 1
    else:
        render_width, render_height = width, height
    return {
        "profile": profile,
        "bit_depth": bit_depth,
        "color_space": color_space,
        "color_range": color_range,
        "chroma_sub_x": sub_x,
        "chroma_sub_y": sub_y,
        "width": width,
        "height": height,
        "render_width": render_width,
        "render_height": render_height,
        "show_frame": show_frame,
    }


def vp9_frame_features(df: DataFrame, permissive: bool = False) -> DataFrame:
    """DataFrame operator: (media_id long, payload binary) -> parsed VP9
    keyframe-header metadata; map-only, with the ``permissive``
    quarantine contract of ``codecs.payload_features``."""
    return payload_features(
        df,
        "media_id long, profile int, bit_depth int, color_space int, "
        "color_range int, chroma_sub_x int, chroma_sub_y int, width int, "
        "height int, render_width int, render_height int, show_frame int",
        vp9_frame_header_parse,
        permissive,
    )


# --------------------------------------------------- vpcC-in-MP4 (mm22)
# VP9's MP4 carriage (VP Codec ISO Media File Format Binding): a vp09
# sample entry with a vpcC FullBox (version 1) holding the
# VPCodecConfigurationRecord. Unlike avcC/hvcC/av1C there is NO embedded
# parameter set: codecInitializationDataSize is REQUIRED to be 0 for
# VP9, so the stream's own metadata must be read from the first frame.


def vpcc_record(frame_hdr: bytes, level: int = 0) -> bytes:
    """vpcC FullBox body (version 1, flags 0) + VPCodecConfigurationRecord
    derived from a keyframe header, so record and stream can never
    disagree by construction. ``level`` is the binding's level_idc * 10
    table (10..62) or 0 = undefined."""
    import struct  # noqa: PLC0415

    if level not in _VALID_LEVELS:
        raise ValueError(f"not a VP9 level: {level}")
    meta = vp9_frame_header_parse(frame_hdr)
    sub = (meta["chroma_sub_x"], meta["chroma_sub_y"])
    if sub not in _SUB_TO_VPCC:
        raise ValueError(f"subsampling {sub} not representable in vpcC")
    b2 = (
        ((meta["bit_depth"] & 0xF) << 4)
        | ((_SUB_TO_VPCC[sub] & 0x7) << 1)
        | (meta["color_range"] & 1)
    )
    if meta["color_space"] == CS_RGB:
        cp, tc, mc = 1, 13, 0  # BT.709 primaries, sRGB transfer, identity
    elif meta["color_space"] == 2:  # CS_BT_709
        cp, tc, mc = 1, 1, 1
    else:
        cp, tc, mc = 2, 2, 2  # unspecified
    return (
        b"\x01\x00\x00\x00"  # FullBox version=1, flags=0
        + bytes([meta["profile"], level, b2, cp, tc, mc])
        + struct.pack(">H", 0)  # codecInitializationDataSize — 0 for VP9
    )


def vpcc_parse(rec: bytes) -> dict:
    """Parse a vpcC FullBox body: version gate, record fields, and the
    VP9 binding's codecInitializationDataSize == 0 requirement."""
    import struct  # noqa: PLC0415

    if len(rec) < 12:
        raise ValueError("vpcC record too short")
    if rec[0] != 1:
        raise ValueError(f"unsupported vpcC version {rec[0]}")
    profile, level, b2, cp, tc, mc = rec[4:10]
    init_size = struct.unpack(">H", rec[10:12])[0]
    if init_size != 0:
        raise ValueError("codecInitializationDataSize must be 0 for VP9")
    sub_code = (b2 >> 1) & 0x7
    if sub_code not in _VPCC_TO_SUB:
        raise ValueError(f"reserved chromaSubsampling code {sub_code}")
    sub_x, sub_y = _VPCC_TO_SUB[sub_code]
    return {
        "record_profile": profile,
        "record_level": level,
        "record_bit_depth": (b2 >> 4) & 0xF,
        "record_sub_x": sub_x,
        "record_sub_y": sub_y,
        "record_full_range": b2 & 1,
        "colour_primaries": cp,
        "transfer_characteristics": tc,
        "matrix_coefficients": mc,
    }


def mp4_vp9_encode(
    width: int,
    height: int,
    duration_ms: int,
    profile: int = 0,
    level: int = 10,
    bit_depth: int = 8,
    color_range: int = 0,
    timescale: int = 1000,
    display_width: int | None = None,
    display_height: int | None = None,
) -> bytes:
    """ISO-BMFF with a vp09 sample entry carrying a real vpcC record and
    an mdat holding the keyframe whose header the record was derived
    from, written by the shared ``codecs.mp4_encode`` video path — the
    stream config rides in the FRAME (vpcC carries no init data for
    VP9)."""
    frame = vp9_frame_header_encode(
        width, height, profile=profile, bit_depth=bit_depth, color_range=color_range
    )
    return mp4_encode(
        display_width if display_width is not None else width,
        display_height if display_height is not None else height,
        duration_ms,
        timescale,
        sample_entry=visual_sample_entry(b"vp09", width, height, b"vpcC", vpcc_record(frame, level)),
        mdat=frame,
    )


def _vpcc_with_frame(rec: bytes, mdat: bytes | None) -> dict:
    """vpcC record fields plus the first mdat keyframe's header, with
    ``record_matches`` cross-checking profile/bit-depth/subsampling/
    full-range between the two."""
    out = vpcc_parse(rec)
    if not mdat:
        raise ValueError("no VP9 frame in mdat (vpcC carries no init data)")
    stream = vp9_frame_header_parse(mdat)
    out.update(stream)
    out["record_matches"] = (
        out["record_profile"] == stream["profile"]
        and out["record_bit_depth"] == stream["bit_depth"]
        and (out["record_sub_x"], out["record_sub_y"])
        == (stream["chroma_sub_x"], stream["chroma_sub_y"])
        and out["record_full_range"] == stream["color_range"]
    )
    return out


def mp4_vpcc_extract(payload: bytes) -> dict:
    """Walk a real MP4's box tree to the vpcC record AND the first VP9
    frame in mdat, parse both, and cross-check the record against the
    stream's own keyframe header (``record_matches``) alongside the
    container's tkhd display dims vs the coded dims (``dims_match``) —
    the VP9 shape of the container-vs-stream QA the other three codec
    tiers do, adapted to VP9's in-frame config carriage."""
    return mp4_video_extract(payload, b"vpcC", (b"vp09",), _vpcc_with_frame)


def vp9_container_features(df: DataFrame, permissive: bool = False) -> DataFrame:
    """DataFrame operator: (media_id long, payload binary MP4) ->
    container + VP9 stream metadata with dims_match and record_matches
    QA flags; map-only, same ``permissive`` quarantine mode."""
    return payload_features(
        df,
        "media_id long, container_width int, container_height int, duration_ms double, "
        "profile int, record_level int, bit_depth int, chroma_sub_x int, "
        "chroma_sub_y int, color_range int, width int, height int, "
        "record_matches boolean, dims_match boolean",
        mp4_vpcc_extract,
        permissive,
    )
