"""Property-based round-trips for the pure-python media codecs and the
deterministic sampling primitives (hypothesis), plus the contracts the
four video metadata tiers share: byte-pinned MP4 writers and the
permissive per-row quarantine of all eight metadata operators."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import StringType, StructField

from pyp_etl_pipeline_spark.multimodal import av1, codecs, h264, h265, vp9


@settings(max_examples=50, deadline=None)
@given(
    width=st.integers(min_value=1, max_value=40),
    height=st.integers(min_value=1, max_value=40),
    value=st.integers(min_value=0, max_value=255),
)
def test_png_gray_roundtrip_property(width, height, value):
    d = codecs.png_decode(codecs.png_encode_gray(width, height, value))
    assert (d["width"], d["height"]) == (width, height)
    assert d["mean_val"] == float(value)
    assert d["color_type"] == 0 and d["bit_depth"] == 8


@settings(max_examples=50, deadline=None)
@given(
    samples=st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=500),
    rate=st.sampled_from([8000, 16000, 44100]),
)
def test_wav_pcm16_roundtrip_property(samples, rate):
    d = codecs.wav_decode(codecs.wav_encode_pcm16(samples, rate))
    assert d["n_samples"] == len(samples)
    assert d["sample_rate"] == rate
    assert d["duration_ms"] == 1000.0 * len(samples) / rate
    expected_rms = float(np.sqrt(np.mean(np.asarray(samples, dtype=np.float64) ** 2)))
    assert abs(d["rms"] - expected_rms) < 1e-9


@settings(max_examples=30, deadline=None)
@given(payload=st.binary(min_size=0, max_size=64))
def test_sniff_never_lies_on_garbage(payload):
    kind = codecs.sniff_kind(payload)
    if kind == "png":
        assert payload.startswith(codecs.PNG_MAGIC)
    elif kind == "wav":
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"


# Digests of the MP4 writers' output, pinned when each tier still had its
# own writer: a round-trip alone would pass a writer that drops or reorders
# boxes the extractors skip.
_WRITER_PINS = [
    (h264.mp4_avc_encode, (640, 480, 5000), {},
     "da10c2d2b40fedc337b20cbea893bda2c88921105940130e4731cbebe560f147"),
    (h264.mp4_avc_encode, (1918, 1078, 1),
     {"profile_idc": 100, "level_idc": 51, "fps": 60, "timescale": 90000,
      "display_width": 1280, "display_height": 720},
     "7fd87d9e42248fb81b1ab74cbc5d340af5ac05269dcc9b9b223718b4a74f9ee0"),
    (h265.mp4_hevc_encode, (640, 480, 5000), {},
     "7ec9624c5e1822eca285249679922c74e8eb54fe55b40cc4c66dd9755a5d0774"),
    (h265.mp4_hevc_encode, (322, 242, 33333),
     {"profile_idc": 2, "level_idc": 153, "fps": 50, "timescale": 600,
      "display_width": 320, "display_height": 240},
     "d5113888d3d732686899bf80a3750338568dd13958d4a752e476215ea584c0ee"),
    (vp9.mp4_vp9_encode, (640, 480, 5000), {},
     "4a431e18d77c720dce41fe9f99b63c2b03d1ed4f9c9b63579b1d55cec0f8b319"),
    (vp9.mp4_vp9_encode, (1918, 1078, 1),
     {"profile": 2, "level": 41, "bit_depth": 10, "color_range": 1, "timescale": 90000,
      "display_width": 1920, "display_height": 1080},
     "26a61a08ac0c1a552f67b614150c69f260ad81f2c35a1f56a4df9079c12173fd"),
    (av1.mp4_av1_encode, (640, 480, 5000), {},
     "71ed115ef6d0933340a3e8b217e034ae7c3c7a10cda476fdf94126f33af3ec0c"),
    (av1.mp4_av1_encode, (1918, 1078, 1),
     {"seq_profile": 1, "seq_level_idx": 12, "fps": 24, "timescale": 90000,
      "display_width": 1920, "display_height": 1080},
     "8fc4b46e058b9646685b952f90afb283c6e4966422181d6cccfc3304f54f75eb"),
]


@pytest.mark.parametrize(
    "writer,args,kwargs,digest",
    _WRITER_PINS,
    ids=[f"{w.__name__}-{i % 2}" for i, (w, *_) in enumerate(_WRITER_PINS)],
)
def test_mp4_video_writers_are_byte_pinned(writer, args, kwargs, digest):
    assert hashlib.sha256(writer(*args, **kwargs)).hexdigest() == digest


# operator -> (its per-row parser, one valid payload)
_METADATA_OPERATORS = {
    "sps_features": (h264.sps_features, h264.sps_parse, h264.sps_encode(640, 480)),
    "avc_container_features": (
        h264.avc_container_features, h264.mp4_avcc_extract, h264.mp4_avc_encode(320, 240, 1000),
    ),
    "hevc_sps_features": (
        h265.hevc_sps_features, h265.hevc_sps_parse, h265.hevc_sps_encode(640, 480),
    ),
    "hevc_container_features": (
        h265.hevc_container_features, h265.mp4_hvcc_extract,
        h265.mp4_hevc_encode(320, 240, 1000, display_width=322),
    ),
    "av1_seq_features": (
        av1.av1_seq_features, av1.av1_sequence_header_parse,
        av1.av1_sequence_header_encode(640, 480),
    ),
    "av1_container_features": (
        av1.av1_container_features, av1.mp4_av1c_extract, av1.mp4_av1_encode(320, 240, 1000),
    ),
    "vp9_frame_features": (
        vp9.vp9_frame_features, vp9.vp9_frame_header_parse,
        vp9.vp9_frame_header_encode(640, 480, profile=1),
    ),
    "vp9_container_features": (
        vp9.vp9_container_features, vp9.mp4_vpcc_extract, vp9.mp4_vp9_encode(320, 240, 1000),
    ),
}


@pytest.mark.parametrize("name", list(_METADATA_OPERATORS))
def test_permissive_mode_quarantines_bad_rows(spark, name):
    """Corpus-scale contract of every video metadata operator: a corrupt
    blob yields NULL in every field plus an ``"<ExcType>: <msg>"`` error,
    and good rows in the same batch parse exactly as in strict mode."""
    operator, parse, good = _METADATA_OPERATORS[name]
    bad = {1: good[: len(good) // 2], 2: b"\xde\xad\xbe\xef"}
    df = spark.createDataFrame(
        [(0, good), *bad.items(), (3, good)], "media_id long, payload binary"
    )
    strict_df = operator(df.where("media_id IN (0, 3)"))
    permissive_df = operator(df, permissive=True)
    assert "error" not in strict_df.columns
    assert permissive_df.schema.fields == [
        *strict_df.schema.fields, StructField("error", StringType(), True)
    ]

    strict = {r["media_id"]: r.asDict() for r in strict_df.collect()}
    out = {r["media_id"]: r.asDict() for r in permissive_df.collect()}
    for i in (0, 3):
        assert out[i].pop("error") is None
        assert out[i] == strict[i]
    for i, payload in bad.items():
        with pytest.raises(Exception) as exc:
            parse(payload)
        row = out[i]
        assert row["error"].startswith(f"{exc.type.__name__}: ")
        assert all(v is None for k, v in row.items() if k not in ("media_id", "error"))

