"""Multimodal column plumbing: binary payload + metadata schema, decode
stub, frame sampling, feature extraction — Spark-side mechanics are real,
codecs are deterministic fakes (no media libs in this container)."""

from __future__ import annotations

import pytest

from faers_datalakehouse_spark.operators.multimodal import (
    decode_media,
    extract_features,
    make_fake_payload,
    sample_frames,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, make_fake_payload(640, 480, 100, fill=1), ("video", "fake", 640, 480, 100)),
        (2, make_fake_payload(1920, 1080, 30, fill=2), ("video", "fake", 1920, 1080, 30)),
        (3, b"garbage-not-a-container", ("video", "fake", None, None, None)),
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary, "
                                 "meta struct<modality:string,codec:string,"
                                 "width:int,height:int,n_frames:int>")


def test_decode_media(media):
    out = {r["media_id"]: r for r in decode_media(media).collect()}
    assert out[1]["width"] == 640 and out[1]["height"] == 480 and out[1]["ok"]
    assert out[2]["n_frames"] == 30
    assert out[3]["ok"] is False and out[3]["width"] is None


def test_decode_real_codec_is_stubbed(media):
    with pytest.raises(Exception, match="NotImplementedError|not available"):
        decode_media(media, codec="jpeg").collect()


def test_sample_frames(media):
    frames = sample_frames(media, every_n=25).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(
            (r["frame_index"], r["ok"])
        )
    assert by_media[1] == [(0, True), (25, True), (50, True), (75, True)]
    assert by_media[2] == [(0, True), (25, True)]
    # undecodable payload emits ONE quarantine row (never silently absent)
    assert by_media[3] == [(None, False)]


def test_extract_features_shape(media):
    feats = extract_features(media, dim=16).collect()
    assert len(feats) == 3
    for r in feats:
        assert len(r["features"]) == 16
        assert abs(sum(r["features"]) - 1.0) < 1e-5  # normalized histogram
