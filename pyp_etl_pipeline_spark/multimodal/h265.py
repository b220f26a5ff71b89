"""H.265/HEVC sequence-parameter-set metadata codec — pure python.

The second half of the video metadata tier (H.264 is ``h264.py``; VERDICT
r11 item 8's scoped stretch): parse the HEVC SPS NAL — profile/tier/level,
picture dimensions including the conformance window, bit depth, chroma
format, and frame rate from VUI timing — per ITU-T H.265 §7.3.2.2.1, with
the same honest boundary: NO pixel decode (inter-frame reconstruction
stays behind ``multimodal/plugins.py``; ``binary_ops.decode_real`` keeps
raising ``NotImplementedError`` for video pixels).

The full syntax walk is implemented, not a prefix skim: profile_tier_level
with sub-layer flags (§7.3.3), the scaling-list and PCM branches,
short-term reference picture sets including the inter-RPS-prediction arm
(§7.3.7, which needs NumDeltaPocs tracking), long-term reference pictures,
and VUI front matter through timing (§E.2.1) — so real-encoder SPS with
populated RPS tables parses correctly, not just our own minimal output.

Honesty note on goldens: unlike ``h264.py`` (pinned against a real
x264-produced SPS), this container has no HEVC encoder (no libav/x265/
ffmpeg), so ``tests/test_h265.py`` validates the parser against a
HAND-ASSEMBLED spec-layout bitstream built bit-by-bit in the test,
independently of this module's encoder — it exercises the RPS/PCM/
scaling-list/aspect-ratio skip paths the encoder never emits — plus
encoder round-trips and the truncation contract. If a real x265 stream
ever lands here, pin it the way test_h264 does.

Emulation prevention, exp-Golomb coding, and the bit reader/writer are
shared with ``h264.py`` (identical mechanisms in both specs). The HEVC
NAL header is TWO bytes (forbidden(1) type(6) layer_id(6) tid+1(3));
SPS = type 33.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyp_etl_pipeline_spark.multimodal.codecs import (
    mp4_encode,
    mp4_video_extract,
    payload_features,
    visual_sample_entry,
)
from pyp_etl_pipeline_spark.multimodal.h264 import (
    _BitReader,
    _BitWriter,
    _emulation_prevent,
    _emulation_strip,
)

# (SubWidthC, SubHeightC) by chroma_format_idc; conformance-window offsets
# are in these units (monochrome and 4:4:4 crop in luma units)
_CHROMA_SUB = {0: (1, 1), 1: (2, 2), 2: (2, 1), 3: (1, 1)}


def _write_profile_tier_level(w: _BitWriter, profile_idc: int, level_idc: int) -> None:
    """§7.3.3 with maxNumSubLayersMinus1 = 0 (96 bits + level)."""
    w.u(2, 0)  # general_profile_space
    w.u(1, 0)  # general_tier_flag
    w.u(5, profile_idc)
    w.u(32, 1 << (31 - profile_idc))  # compatibility flag for own profile
    w.u(1, 1)  # general_progressive_source_flag
    w.u(1, 0)  # general_interlaced_source_flag
    w.u(1, 1)  # general_non_packed_constraint_flag
    w.u(1, 1)  # general_frame_only_constraint_flag
    w.u(32, 0)  # general_reserved_zero_43bits (upper 32)
    w.u(12, 0)  # ... lower 11 + general_inbld/reserved bit
    w.u(8, level_idc)


def hevc_sps_encode(
    width: int,
    height: int,
    profile_idc: int = 1,
    level_idc: int = 123,
    fps: int = 25,
) -> bytes:
    """Annex-B HEVC SPS NAL for a progressive 8-bit 4:2:0 stream with
    VUI timing. Coded luma dimensions round up to the 8-sample minimum
    coding block (log2_min_luma_coding_block_size_minus3 = 0); any even
    requested dimension is restored via the conformance window
    (right/bottom offsets in chroma units). ``level_idc`` is the HEVC
    convention: 30 x level (123 = level 4.1)."""
    if width % 2 or height % 2 or width <= 0 or height <= 0:
        raise ValueError("hevc_sps_encode: dimensions must be positive and even")
    coded_w = (width + 7) // 8 * 8
    coded_h = (height + 7) // 8 * 8
    w = _BitWriter()
    w.u(4, 0)  # sps_video_parameter_set_id
    w.u(3, 0)  # sps_max_sub_layers_minus1
    w.u(1, 1)  # sps_temporal_id_nesting_flag
    _write_profile_tier_level(w, profile_idc, level_idc)
    w.ue(0)  # sps_seq_parameter_set_id
    w.ue(1)  # chroma_format_idc = 4:2:0
    w.ue(coded_w)  # pic_width_in_luma_samples
    w.ue(coded_h)  # pic_height_in_luma_samples
    crop_r = (coded_w - width) // 2  # SubWidthC = 2
    crop_b = (coded_h - height) // 2  # SubHeightC = 2
    if crop_r or crop_b:
        w.u(1, 1)  # conformance_window_flag
        w.ue(0)
        w.ue(crop_r)
        w.ue(0)
        w.ue(crop_b)
    else:
        w.u(1, 0)
    w.ue(0)  # bit_depth_luma_minus8
    w.ue(0)  # bit_depth_chroma_minus8
    w.ue(0)  # log2_max_pic_order_cnt_lsb_minus4
    w.u(1, 1)  # sps_sub_layer_ordering_info_present_flag
    w.ue(4)  # sps_max_dec_pic_buffering_minus1[0]
    w.ue(2)  # sps_max_num_reorder_pics[0]
    w.ue(0)  # sps_max_latency_increase_plus1[0]
    w.ue(0)  # log2_min_luma_coding_block_size_minus3 (MinCbSizeY = 8)
    w.ue(3)  # log2_diff_max_min_luma_coding_block_size (CTB = 64)
    w.ue(0)  # log2_min_luma_transform_block_size_minus2
    w.ue(3)  # log2_diff_max_min_luma_transform_block_size
    w.ue(0)  # max_transform_hierarchy_depth_inter
    w.ue(0)  # max_transform_hierarchy_depth_intra
    w.u(1, 0)  # scaling_list_enabled_flag
    w.u(1, 1)  # amp_enabled_flag
    w.u(1, 1)  # sample_adaptive_offset_enabled_flag
    w.u(1, 0)  # pcm_enabled_flag
    w.ue(0)  # num_short_term_ref_pic_sets
    w.u(1, 0)  # long_term_ref_pics_present_flag
    w.u(1, 1)  # sps_temporal_mvp_enabled_flag
    w.u(1, 1)  # strong_intra_smoothing_enabled_flag
    w.u(1, 1)  # vui_parameters_present_flag
    w.u(1, 0)  # aspect_ratio_info_present_flag
    w.u(1, 0)  # overscan_info_present_flag
    w.u(1, 0)  # video_signal_type_present_flag
    w.u(1, 0)  # chroma_loc_info_present_flag
    w.u(1, 0)  # neutral_chroma_indication_flag
    w.u(1, 0)  # field_seq_flag
    w.u(1, 0)  # frame_field_info_present_flag
    w.u(1, 0)  # default_display_window_flag
    w.u(1, 1)  # vui_timing_info_present_flag
    w.u(32, 1000)  # vui_num_units_in_tick (00 00 03 E8: emulation escape)
    w.u(32, fps * 1000)  # vui_time_scale (HEVC fps is the direct ratio)
    w.u(1, 0)  # vui_poc_proportional_to_timing_flag
    w.u(1, 0)  # vui_hrd_parameters_present_flag
    w.u(1, 0)  # sps_extension_present_flag
    nal = bytes([33 << 1, 0x01]) + _emulation_prevent(w.rbsp_bytes())
    return b"\x00\x00\x00\x01" + nal


def _parse_profile_tier_level(r: _BitReader, max_sub_layers_minus1: int) -> dict:
    r.u(2)  # profile_space
    tier = r.u(1)
    profile_idc = r.u(5)
    r.u(32)  # compatibility flags
    r.u(32)  # progressive/interlaced/non_packed/frame_only + reserved(28)
    r.u(16)  # reserved (remaining 15) + inbld/reserved bit
    level_idc = r.u(8)
    if max_sub_layers_minus1 > 0:
        prof_present = []
        lvl_present = []
        for _ in range(max_sub_layers_minus1):
            prof_present.append(r.u(1))
            lvl_present.append(r.u(1))
        for _ in range(max_sub_layers_minus1, 8):
            r.u(2)  # reserved_zero_2bits
        for i in range(max_sub_layers_minus1):
            if prof_present[i]:
                r.u(32)
                r.u(32)
                r.u(24)  # sub_layer profile block is 88 bits
            if lvl_present[i]:
                r.u(8)
    return {"tier": tier, "profile_idc": profile_idc, "level_idc": level_idc}


def _skip_scaling_list_data(r: _BitReader) -> None:
    """§7.3.4: four size classes x six (size 3: two) matrices."""
    for size_id in range(4):
        matrix_count = 6 if size_id != 3 else 2
        for _ in range(matrix_count):
            if not r.u(1):  # scaling_list_pred_mode_flag
                r.ue()  # scaling_list_pred_matrix_id_delta
            else:
                coefs = min(64, 1 << (4 + (size_id << 1)))
                if size_id > 1:
                    r.se()  # scaling_list_dc_coef_minus8
                for _ in range(coefs):
                    r.se()  # scaling_list_delta_coef


def _parse_st_ref_pic_set(r: _BitReader, idx: int, num_delta_pocs: list[int]) -> None:
    """§7.3.7 skip that maintains NumDeltaPocs — the inter-RPS arm reads
    NumDeltaPocs[idx-1]+1 flag pairs, so a naive skim desyncs on any
    real-encoder SPS with predicted RPS entries."""
    inter_pred = r.u(1) if idx != 0 else 0
    if inter_pred:
        # in an SPS, stRpsIdx != num_short_term_ref_pic_sets, so
        # delta_idx_minus1 is absent and RefRpsIdx = idx - 1
        r.u(1)  # delta_rps_sign
        r.ue()  # abs_delta_rps_minus1
        n = 0
        for _ in range(num_delta_pocs[idx - 1] + 1):
            used = r.u(1)
            use_delta = 1 if used else r.u(1)
            if used or use_delta:
                n += 1
        # NumDeltaPocs[idx] <= kept deltas (exact kept count is what the
        # next predicted set iterates over)
        num_delta_pocs.append(n)
    else:
        neg = r.ue()
        pos = r.ue()
        for _ in range(neg + pos):
            r.ue()  # delta_poc_sX_minus1
            r.u(1)  # used_by_curr_pic_sX_flag
        num_delta_pocs.append(neg + pos)


def hevc_sps_parse(payload: bytes) -> dict:
    """Parse profile/tier/level/dimensions/bit depth/chroma/fps from an
    HEVC SPS NAL (Annex-B with 3- or 4-byte start code, or a bare NAL).
    Implements the §7.3.2.2.1 layout through VUI timing — see module
    docstring for exactly which branches are exercised by tests."""
    i = payload.find(b"\x00\x00\x01")
    nal = payload[i + 3 :] if i >= 0 else payload
    if len(nal) < 2 or (nal[0] >> 1) & 0x3F != 33:
        raise ValueError("not an HEVC SPS NAL")
    r = _BitReader(_emulation_strip(nal[2:]))
    r.u(4)  # sps_video_parameter_set_id
    max_sub_layers_minus1 = r.u(3)
    r.u(1)  # sps_temporal_id_nesting_flag
    ptl = _parse_profile_tier_level(r, max_sub_layers_minus1)
    r.ue()  # sps_seq_parameter_set_id
    chroma_format_idc = r.ue()
    if chroma_format_idc == 3:
        r.u(1)  # separate_colour_plane_flag
    pic_w = r.ue()
    pic_h = r.ue()
    crop_l = crop_r_ = crop_t = crop_b_ = 0
    if r.u(1):  # conformance_window_flag
        crop_l, crop_r_, crop_t, crop_b_ = r.ue(), r.ue(), r.ue(), r.ue()
    bit_depth = r.ue() + 8  # bit_depth_luma_minus8
    r.ue()  # bit_depth_chroma_minus8
    log2_max_poc_lsb = r.ue() + 4
    sub_layer_ordering = r.u(1)
    first = 0 if sub_layer_ordering else max_sub_layers_minus1
    for _ in range(first, max_sub_layers_minus1 + 1):
        r.ue()  # sps_max_dec_pic_buffering_minus1
        r.ue()  # sps_max_num_reorder_pics
        r.ue()  # sps_max_latency_increase_plus1
    r.ue()  # log2_min_luma_coding_block_size_minus3
    r.ue()  # log2_diff_max_min_luma_coding_block_size
    r.ue()  # log2_min_luma_transform_block_size_minus2
    r.ue()  # log2_diff_max_min_luma_transform_block_size
    r.ue()  # max_transform_hierarchy_depth_inter
    r.ue()  # max_transform_hierarchy_depth_intra
    if r.u(1):  # scaling_list_enabled_flag
        if r.u(1):  # sps_scaling_list_data_present_flag
            _skip_scaling_list_data(r)
    r.u(1)  # amp_enabled_flag
    r.u(1)  # sample_adaptive_offset_enabled_flag
    if r.u(1):  # pcm_enabled_flag
        r.u(4)  # pcm_sample_bit_depth_luma_minus1
        r.u(4)  # pcm_sample_bit_depth_chroma_minus1
        r.ue()  # log2_min_pcm_luma_coding_block_size_minus3
        r.ue()  # log2_diff_max_min_pcm_luma_coding_block_size
        r.u(1)  # pcm_loop_filter_disabled_flag
    num_st = r.ue()
    num_delta_pocs: list[int] = []
    for idx in range(num_st):
        _parse_st_ref_pic_set(r, idx, num_delta_pocs)
    if r.u(1):  # long_term_ref_pics_present_flag
        for _ in range(r.ue()):  # num_long_term_ref_pics_sps
            r.u(log2_max_poc_lsb)  # lt_ref_pic_poc_lsb_sps
            r.u(1)  # used_by_curr_pic_lt_sps_flag
    r.u(1)  # sps_temporal_mvp_enabled_flag
    r.u(1)  # strong_intra_smoothing_enabled_flag
    fps = None
    if r.u(1):  # vui_parameters_present_flag (§E.2.1 through timing)
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
        r.u(1)  # neutral_chroma_indication_flag
        r.u(1)  # field_seq_flag
        r.u(1)  # frame_field_info_present_flag
        if r.u(1):  # default_display_window_flag
            r.ue()
            r.ue()
            r.ue()
            r.ue()
        if r.u(1):  # vui_timing_info_present_flag
            num_units_in_tick = r.u(32)
            time_scale = r.u(32)
            if num_units_in_tick:
                # HEVC: picture rate IS time_scale/num_units_in_tick
                # (no H.264-style field-rate halving)
                fps = time_scale / float(num_units_in_tick)
    sw, sh = _CHROMA_SUB.get(chroma_format_idc, (1, 1))
    if chroma_format_idc == 0:
        sw, sh = 1, 1
    return {
        "profile_idc": ptl["profile_idc"],
        "tier": ptl["tier"],
        "level_idc": ptl["level_idc"],
        "width": pic_w - sw * (crop_l + crop_r_),
        "height": pic_h - sh * (crop_t + crop_b_),
        "bit_depth": bit_depth,
        "chroma_format_idc": chroma_format_idc,
        "fps": fps,
    }


def hevc_sps_features(df: DataFrame, permissive: bool = False) -> DataFrame:
    """DataFrame operator: (media_id long, payload binary) -> parsed HEVC
    SPS metadata; map-only, with the ``permissive`` corpus-scale
    quarantine contract of ``codecs.payload_features``."""
    return payload_features(
        df,
        "media_id long, profile_idc int, tier int, level_idc int, width int, "
        "height int, bit_depth int, chroma_format_idc int, fps double",
        hevc_sps_parse,
        permissive,
    )


# --------------------------------------------------- hvcC-in-MP4 (mm18)
# HEVC's MP4 carriage (ISO/IEC 14496-15 §8.3.3.1): the
# HEVCDecoderConfigurationRecord under stsd/hvc1/hvcC holds
# length-prefixed bare NALs grouped in per-type arrays (VPS 32 / SPS 33 /
# PPS 34). The writer synthesizes deterministic fixtures; the extractor
# walks real container bytes to the first SPS and cross-validates the
# tkhd display dims against the stream's coded-minus-crop dims — the
# same curation QA signal as h264.mp4_avcc_extract.


def hvcc_record(sps_nal: bytes, profile_idc: int = 1, level_idc: int = 123) -> bytes:
    """HEVCDecoderConfigurationRecord with a single SPS array entry (the
    minimal record this metadata tier routes on; real muxers add VPS/PPS
    arrays — the parser accepts any array layout)."""
    import struct  # noqa: PLC0415

    if len(sps_nal) < 2 or (sps_nal[0] >> 1) & 0x3F != 33:
        raise ValueError("hvcc_record: first argument must be a bare HEVC SPS NAL")
    head = bytes(
        [
            1,  # configurationVersion
            profile_idc & 0x1F,  # profile_space(2)=0, tier(1)=0, profile_idc(5)
        ]
    )
    head += struct.pack(">I", 1 << (31 - profile_idc))  # compatibility flags
    head += b"\x90\x00\x00\x00\x00\x00"  # constraint flags (progressive+frame_only)
    head += bytes([level_idc])
    head += b"\xf0\x00"  # reserved(4)=1111 + min_spatial_segmentation_idc
    head += b"\xfc"  # reserved(6)=111111 + parallelismType
    head += b"\xfd"  # reserved(6)=111111 + chromaFormat (1 = 4:2:0)
    head += b"\xf8"  # reserved(5)=11111 + bitDepthLumaMinus8
    head += b"\xf8"  # reserved(5)=11111 + bitDepthChromaMinus8
    head += b"\x00\x00"  # avgFrameRate
    head += bytes([0x03])  # constantFrameRate(2)=0, numTemporalLayers(3)=0,
    #                        temporalIdNested(1)=0, lengthSizeMinusOne(2)=3
    head += bytes([1])  # numOfArrays
    arr = bytes([0x80 | 33])  # array_completeness=1, NAL_unit_type=33 (SPS)
    arr += struct.pack(">H", 1)  # numNalus
    arr += struct.pack(">H", len(sps_nal)) + sps_nal
    return head + arr


def hvcc_parse(rec: bytes) -> dict:
    """Parse an HEVCDecoderConfigurationRecord: walk the NAL arrays to
    the first SPS and bit-parse it; returns SPS fields + n_arrays."""
    import struct  # noqa: PLC0415

    if len(rec) < 23 or rec[0] != 1:
        raise ValueError("not an HEVCDecoderConfigurationRecord")
    n_arrays = rec[22]
    pos = 23
    sps = None
    for _ in range(n_arrays):
        if pos + 3 > len(rec):
            raise ValueError("truncated hvcC record")
        nal_type = rec[pos] & 0x3F
        (n_nalus,) = struct.unpack(">H", rec[pos + 1 : pos + 3])
        pos += 3
        for _ in range(n_nalus):
            if pos + 2 > len(rec):
                raise ValueError("truncated hvcC record")
            (ln,) = struct.unpack(">H", rec[pos : pos + 2])
            if pos + 2 + ln > len(rec):
                raise ValueError("truncated hvcC record")
            if nal_type == 33 and sps is None:
                sps = rec[pos + 2 : pos + 2 + ln]
            pos += 2 + ln
    if sps is None:
        raise ValueError("hvcC carries no SPS")
    out = hevc_sps_parse(sps)
    out["n_arrays"] = n_arrays
    return out


def mp4_hevc_encode(
    width: int,
    height: int,
    duration_ms: int,
    profile_idc: int = 1,
    level_idc: int = 123,
    fps: int = 25,
    timescale: int = 1000,
    display_width: int | None = None,
    display_height: int | None = None,
) -> bytes:
    """ISO-BMFF with an hvc1 sample entry carrying a real hvcC record,
    written by the shared ``codecs.mp4_encode`` video path
    (``display_width/height`` synthesize the container-vs-stream dims
    corruption tests exercise)."""
    sps_nal = hevc_sps_encode(width, height, profile_idc, level_idc, fps)[4:]
    record = hvcc_record(sps_nal, profile_idc, level_idc)
    return mp4_encode(
        display_width if display_width is not None else width,
        display_height if display_height is not None else height,
        duration_ms,
        timescale,
        sample_entry=visual_sample_entry(b"hvc1", width, height, b"hvcC", record),
    )


def mp4_hvcc_extract(payload: bytes) -> dict:
    """Walk a real MP4's box tree to the hvcC record (hvc1 or hev1
    entry), bit-parse its SPS, and return stream metadata alongside the
    container's tkhd display dims and ``dims_match``
    (``codecs.mp4_video_extract``)."""
    return mp4_video_extract(payload, b"hvcC", (b"hvc1", b"hev1"), lambda rec, _mdat: hvcc_parse(rec))


def hevc_container_features(df: DataFrame, permissive: bool = False) -> DataFrame:
    """DataFrame operator: (media_id long, payload binary MP4) ->
    container + HEVC stream metadata with a dims_match QA flag; map-only,
    same ``permissive`` quarantine mode as ``hevc_sps_features``."""
    return payload_features(
        df,
        "media_id long, container_width int, container_height int, duration_ms double, "
        "profile_idc int, tier int, level_idc int, width int, height int, "
        "bit_depth int, fps double, dims_match boolean",
        mp4_hvcc_extract,
        permissive,
    )
