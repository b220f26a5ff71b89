"""H.264/AVC sequence-parameter-set (SPS) metadata codec — pure python.

Scope is HONEST and metadata-only: this module parses the SPS NAL — the
stream-level metadata a curation pipeline routes/filters on (profile,
level, picture dimensions including frame cropping, frame rate from VUI
timing) — from a real Annex-B bitstream, with emulation-prevention
handling and exp-Golomb decoding per ISO/IEC 14496-10 §7.3.2.1. It does
NOT decode pictures: inter-frame pixel reconstruction (H.264/VP9/AV1)
genuinely needs libav and stays behind the plugin seam
(``multimodal/plugins.py``); ``binary_ops.decode_real`` keeps raising
``NotImplementedError`` for video PIXELS.

Reference parity: the reference stores media as opaque blobs with typed
metadata and has no video capability at all (memberSchema (2).gql
declares only HNSW embeddings); this extends the engine's metadata tier
the way a 100 TB multimodal pipeline needs — route by resolution/fps
without ever touching a pixel decoder.

The encoder exists for deterministic test-data synthesis (like
``codecs.mp4_encode``): it emits a real, spec-shaped Annex-B SPS that
any H.264 tool can parse, so the parser is exercised against honest
bitstreams rather than a private fixture format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyp_etl_pipeline_spark.multimodal.codecs import (
    mp4_encode,
    mp4_video_extract,
    payload_features,
    visual_sample_entry,
)


class _BitWriter:
    def __init__(self) -> None:
        self._bits: list[int] = []

    def u(self, n: int, v: int) -> None:
        for i in range(n - 1, -1, -1):
            self._bits.append((v >> i) & 1)

    def ue(self, v: int) -> None:
        # Exp-Golomb: leadingZeros zeros, then bin(v+1)
        code = v + 1
        nbits = code.bit_length()
        self.u(nbits - 1, 0)
        self.u(nbits, code)

    def rbsp_bytes(self) -> bytes:
        # rbsp_trailing_bits: stop bit + zero-pad to byte boundary
        bits = [*self._bits, 1]
        while len(bits) % 8:
            bits.append(0)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def _emulation_prevent(rbsp: bytes) -> bytes:
    """Insert 0x03 after any 0x0000 that precedes 0x00/01/02/03 so no
    start-code-like sequence appears inside the NAL payload."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros == 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def _emulation_strip(nal: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    i = 0
    while i < len(nal):
        b = nal[i]
        if zeros == 2 and b == 3 and i + 1 < len(nal) and nal[i + 1] <= 3:
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


def sps_encode(
    width: int,
    height: int,
    profile_idc: int = 66,
    level_idc: int = 31,
    fps: int = 25,
) -> bytes:
    """Annex-B SPS NAL for an even-dimension, frame-coded (progressive),
    4:2:0 stream with VUI timing. Cropping encodes any even dimension
    that is not a macroblock multiple (right/bottom crop, CropUnit=2)."""
    if width % 2 or height % 2 or width <= 0 or height <= 0:
        raise ValueError("sps_encode: dimensions must be positive and even")
    w = _BitWriter()
    w.u(8, profile_idc)
    w.u(8, 0)  # constraint_set flags + reserved_zero_2bits
    w.u(8, level_idc)
    w.ue(0)  # seq_parameter_set_id
    if profile_idc in (100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135):
        w.ue(1)  # chroma_format_idc = 4:2:0
        w.ue(0)  # bit_depth_luma_minus8
        w.ue(0)  # bit_depth_chroma_minus8
        w.u(1, 0)  # qpprime_y_zero_transform_bypass_flag
        w.u(1, 0)  # seq_scaling_matrix_present_flag
    w.ue(0)  # log2_max_frame_num_minus4
    w.ue(0)  # pic_order_cnt_type
    w.ue(0)  # log2_max_pic_order_cnt_lsb_minus4
    w.ue(1)  # max_num_ref_frames
    w.u(1, 0)  # gaps_in_frame_num_value_allowed_flag
    mbs_w = (width + 15) // 16
    mbs_h = (height + 15) // 16
    w.ue(mbs_w - 1)  # pic_width_in_mbs_minus1
    w.ue(mbs_h - 1)  # pic_height_in_map_units_minus1
    w.u(1, 1)  # frame_mbs_only_flag
    w.u(1, 0)  # direct_8x8_inference_flag
    crop_r = (mbs_w * 16 - width) // 2  # CropUnitX = 2 (4:2:0)
    crop_b = (mbs_h * 16 - height) // 2  # CropUnitY = 2 (4:2:0, frame)
    if crop_r or crop_b:
        w.u(1, 1)  # frame_cropping_flag
        w.ue(0)
        w.ue(crop_r)
        w.ue(0)
        w.ue(crop_b)
    else:
        w.u(1, 0)
    # VUI: only timing_info present
    w.u(1, 1)  # vui_parameters_present_flag
    w.u(1, 0)  # aspect_ratio_info_present_flag
    w.u(1, 0)  # overscan_info_present_flag
    w.u(1, 0)  # video_signal_type_present_flag
    w.u(1, 0)  # chroma_loc_info_present_flag
    w.u(1, 1)  # timing_info_present_flag
    w.u(32, 1000)  # num_units_in_tick (00 00 03 E8 — exercises emulation prevention)
    w.u(32, fps * 2000)  # time_scale (field rate x num_units_in_tick)
    w.u(1, 1)  # fixed_frame_rate_flag
    w.u(1, 0)  # nal_hrd_parameters_present_flag
    w.u(1, 0)  # vcl_hrd_parameters_present_flag
    w.u(1, 0)  # pic_struct_present_flag
    w.u(1, 0)  # bitstream_restriction_flag
    nal = bytes([0x67]) + _emulation_prevent(w.rbsp_bytes())  # nal_ref_idc=3, type=7
    return b"\x00\x00\x00\x01" + nal


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self._d = data
        self._pos = 0
        self._nbits = len(data) * 8

    def u(self, n: int) -> int:
        # Bounds-checked: a truncated/corrupt NAL raises the module's
        # documented ValueError contract, not an opaque IndexError that
        # fails a whole Spark stage (ADVICE r11).
        if self._pos + n > self._nbits:
            raise ValueError("truncated NAL")
        v = 0
        for _ in range(n):
            byte = self._d[self._pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self._pos & 7))) & 1)
            self._pos += 1
        return v

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("malformed exp-Golomb code")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)


_HIGH_PROFILES = frozenset((100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135))
# (SubWidthC, SubHeightC) by chroma_format_idc (0 = monochrome)
_CHROMA_SUB = {0: (1, 1), 1: (2, 2), 2: (2, 1), 3: (1, 1)}


def _skip_scaling_list(r: _BitReader, size: int) -> None:
    last, nxt = 8, 8
    for _ in range(size):
        if nxt != 0:
            nxt = (last + r.se() + 256) % 256
        last = nxt if nxt else last


def sps_parse(payload: bytes) -> dict:
    """Parse profile/level/dimensions/fps from an SPS NAL (Annex-B with
    3- or 4-byte start code, or a bare NAL). Implements the full §7.3.2.1
    layout including the high-profile chroma branch, scaling-list skip,
    all three pic_order_cnt_type arms, cropping with spec CropUnits, and
    VUI timing — so it reads real-encoder SPS, not just our own."""
    i = payload.find(b"\x00\x00\x01")
    nal = payload[i + 3 :] if i >= 0 else payload
    if not nal or nal[0] & 0x1F != 7:
        raise ValueError("not an SPS NAL")
    r = _BitReader(_emulation_strip(nal[1:]))
    profile_idc = r.u(8)
    r.u(8)  # constraint flags + reserved
    level_idc = r.u(8)
    r.ue()  # seq_parameter_set_id
    chroma_format_idc = 1
    separate_colour_plane = 0
    if profile_idc in _HIGH_PROFILES:
        chroma_format_idc = r.ue()
        if chroma_format_idc == 3:
            separate_colour_plane = r.u(1)
        r.ue()  # bit_depth_luma_minus8
        r.ue()  # bit_depth_chroma_minus8
        r.u(1)  # qpprime_y_zero_transform_bypass_flag
        if r.u(1):  # seq_scaling_matrix_present_flag
            for k in range(8 if chroma_format_idc != 3 else 12):
                if r.u(1):
                    _skip_scaling_list(r, 16 if k < 6 else 64)
    r.ue()  # log2_max_frame_num_minus4
    poc_type = r.ue()
    if poc_type == 0:
        r.ue()  # log2_max_pic_order_cnt_lsb_minus4
    elif poc_type == 1:
        r.u(1)  # delta_pic_order_always_zero_flag
        r.se()  # offset_for_non_ref_pic
        r.se()  # offset_for_top_to_bottom_field
        for _ in range(r.ue()):
            r.se()
    r.ue()  # max_num_ref_frames
    r.u(1)  # gaps_in_frame_num_value_allowed_flag
    pic_width_in_mbs = r.ue() + 1
    pic_height_in_map_units = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        r.u(1)  # mb_adaptive_frame_field_flag
    r.u(1)  # direct_8x8_inference_flag
    crop_l = crop_r_ = crop_t = crop_b_ = 0
    if r.u(1):  # frame_cropping_flag
        crop_l, crop_r_, crop_t, crop_b_ = r.ue(), r.ue(), r.ue(), r.ue()
    if chroma_format_idc == 0 or separate_colour_plane:
        unit_x, unit_y = 1, 2 - frame_mbs_only
    else:
        sw, sh = _CHROMA_SUB[chroma_format_idc]
        unit_x, unit_y = sw, sh * (2 - frame_mbs_only)
    width = pic_width_in_mbs * 16 - unit_x * (crop_l + crop_r_)
    height = pic_height_in_map_units * 16 * (2 - frame_mbs_only) - unit_y * (crop_t + crop_b_)
    fps = None
    if r.u(1):  # vui_parameters_present_flag (§E.1.1, through timing)
        if r.u(1):  # aspect_ratio_info_present_flag
            if r.u(8) == 255:  # Extended_SAR
                r.u(16)
                r.u(16)
        if r.u(1):  # overscan_info_present_flag
            r.u(1)
        if r.u(1):  # video_signal_type_present_flag
            r.u(3)
            r.u(1)
            if r.u(1):  # colour_description_present_flag
                r.u(24)
        if r.u(1):  # chroma_loc_info_present_flag
            r.ue()
            r.ue()
        if r.u(1):  # timing_info_present_flag
            num_units_in_tick = r.u(32)
            time_scale = r.u(32)
            r.u(1)  # fixed_frame_rate_flag
            if num_units_in_tick:
                # §E.2.1: field rate = time_scale / num_units_in_tick;
                # frame rate halves it (two fields / progressive clock)
                fps = time_scale / (2.0 * num_units_in_tick)
    return {
        "profile_idc": profile_idc,
        "level_idc": level_idc,
        "width": width,
        "height": height,
        "fps": fps,
    }


def sps_features(df: DataFrame, permissive: bool = False) -> DataFrame:
    """DataFrame operator: (media_id long, payload binary) -> parsed SPS
    metadata; map-only over the blob column (the payload slice an ingest
    tier feeds it is the first few hundred bytes of each stream, not the
    full video). ``permissive=True`` quarantines corrupt rows (NULL
    fields + ``error``) — see ``codecs.payload_features``."""
    return payload_features(
        df,
        "media_id long, profile_idc int, level_idc int, width int, height int, fps double",
        sps_parse,
        permissive,
    )


# ---------------------------------------------------- avcC-in-MP4 (mm16)
# How H.264 actually ARRIVES in a lake: not bare Annex-B but inside an
# MP4 sample entry (ISO/IEC 14496-15 AVCDecoderConfigurationRecord under
# moov/trak/mdia/minf/stbl/stsd/avc1/avcC, with LENGTH-prefixed bare
# NALs, no start codes). The writer exists for deterministic synthesis
# (like codecs.mp4_encode); the extractor walks real container bytes and
# feeds the embedded SPS to the same bit-parser, so container metadata
# (tkhd display dims) can be cross-validated against stream metadata
# (SPS coded dims minus crop) — a real curation QA signal.


def pps_encode() -> bytes:
    """Minimal bare PPS NAL (type 8) so the avcC record is spec-complete
    (a configuration record without a PPS is technically malformed)."""
    w = _BitWriter()
    w.ue(0)  # pic_parameter_set_id
    w.ue(0)  # seq_parameter_set_id
    w.u(1, 0)  # entropy_coding_mode_flag (CAVLC)
    w.u(1, 0)  # bottom_field_pic_order_in_frame_present_flag
    w.ue(0)  # num_slice_groups_minus1
    w.ue(0)  # num_ref_idx_l0_default_active_minus1
    w.ue(0)  # num_ref_idx_l1_default_active_minus1
    w.u(1, 0)  # weighted_pred_flag
    w.u(2, 0)  # weighted_bipred_idc
    w.ue(0)  # pic_init_qp_minus26 (se(0) == ue(0) bit pattern)
    w.ue(0)  # pic_init_qs_minus26
    w.ue(0)  # chroma_qp_index_offset
    w.u(1, 0)  # deblocking_filter_control_present_flag
    w.u(1, 0)  # constrained_intra_pred_flag
    w.u(1, 0)  # redundant_pic_cnt_present_flag
    return bytes([0x68]) + _emulation_prevent(w.rbsp_bytes())


def avcc_record(sps_nal: bytes, pps_nal: bytes) -> bytes:
    """AVCDecoderConfigurationRecord from BARE NALs (no start codes)."""
    import struct  # noqa: PLC0415

    if not sps_nal or sps_nal[0] & 0x1F != 7:
        raise ValueError("avcc_record: first argument must be a bare SPS NAL")
    return (
        bytes([1, sps_nal[1], sps_nal[2], sps_nal[3], 0xFF, 0xE1])
        + struct.pack(">H", len(sps_nal))
        + sps_nal
        + bytes([1])
        + struct.pack(">H", len(pps_nal))
        + pps_nal
    )


def avcc_parse(rec: bytes) -> dict:
    """Parse an AVCDecoderConfigurationRecord and bit-parse its first
    SPS; returns the SPS fields plus n_sps/n_pps."""
    import struct  # noqa: PLC0415

    if len(rec) < 7 or rec[0] != 1:
        raise ValueError("not an AVCDecoderConfigurationRecord")
    n_sps = rec[5] & 0x1F
    pos = 6
    sps = None
    for _ in range(n_sps):
        if pos + 2 > len(rec):
            raise ValueError("truncated avcC record")
        (ln,) = struct.unpack(">H", rec[pos : pos + 2])
        if pos + 2 + ln > len(rec):
            raise ValueError("truncated avcC record")
        if sps is None:
            sps = rec[pos + 2 : pos + 2 + ln]
        pos += 2 + ln
    if pos >= len(rec):
        raise ValueError("truncated avcC record")
    n_pps = rec[pos]
    if sps is None:
        raise ValueError("avcC carries no SPS")
    out = sps_parse(sps)
    out["n_sps"] = n_sps
    out["n_pps"] = n_pps
    return out


def mp4_avc_encode(
    width: int,
    height: int,
    duration_ms: int,
    profile_idc: int = 66,
    level_idc: int = 31,
    fps: int = 25,
    timescale: int = 1000,
    display_width: int | None = None,
    display_height: int | None = None,
) -> bytes:
    """Valid ISO-BMFF with a complete video sample-table path
    (``codecs.mp4_encode`` with an avc1(avcC) sample entry) + empty
    mdat. The avcC holds a real SPS (our Annex-B encoder's NAL, start
    code stripped) + minimal PPS; tkhd carries the DISPLAY dims, which
    real pipelines sometimes find disagreeing with the stream's coded
    dims — ``display_width/height`` let tests synthesize that
    corruption."""
    sps_nal = sps_encode(width, height, profile_idc, level_idc, fps)[4:]
    entry = visual_sample_entry(b"avc1", width, height, b"avcC", avcc_record(sps_nal, pps_encode()))
    return mp4_encode(
        display_width if display_width is not None else width,
        display_height if display_height is not None else height,
        duration_ms,
        timescale,
        sample_entry=entry,
    )


def mp4_avcc_extract(payload: bytes) -> dict:
    """Walk a real MP4's box tree to the avcC record, bit-parse its SPS,
    and return stream metadata alongside the container's tkhd display
    dims (``container_width/height``) and ``dims_match`` for
    cross-validation (``codecs.mp4_video_extract``)."""
    return mp4_video_extract(payload, b"avcC", (b"avc1",), lambda rec, _mdat: avcc_parse(rec))


def avc_container_features(df: DataFrame, permissive: bool = False) -> DataFrame:
    """DataFrame operator: (media_id long, payload binary MP4) ->
    container + stream metadata with a dims_match QA flag; map-only,
    same ``permissive`` quarantine mode as ``sps_features``."""
    return payload_features(
        df,
        "media_id long, container_width int, container_height int, duration_ms double, "
        "profile_idc int, level_idc int, width int, height int, fps double, dims_match boolean",
        mp4_avcc_extract,
        permissive,
    )
