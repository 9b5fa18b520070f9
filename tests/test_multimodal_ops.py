"""resize_images + VID1 frame sampling: kernel invariants, container
roundtrip, frozen-fixture reproduction, and the Spark-side plumbing.

Reference parity note: the reference crawler has no image pipeline —
these are the training-data-pipeline multimodal ops the build brief
adds as first-class components (decode / resize / frame-sample over
opaque binary columns).
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fundcrawler_spark import fixtures as fx
from fundcrawler_spark.functions import imaging
from fundcrawler_spark.operators.multimodal import (
    _map_rows,
    parse_video,
    resize_images,
    sample_video_frames,
)


# ------------------------------------------------------------- row runner


def test_map_rows_keeps_bigint_exact_next_to_null(spark):
    """One input row yields a NULL and 2^53+1 in one bigint column of one
    batch: a column built through float64 would round the value to
    2^53."""
    big = 2**53 + 1
    df = spark.createDataFrame([("a",)], "k string")
    out = _map_rows(
        df, "k", "k string, v long, n int",
        lambda k: [(k, None, None), (k, big, 2**31 - 1)],
    )
    assert sorted(out.collect(), key=lambda r: r["v"] or 0) == [
        ("a", None, None), ("a", big, 2**31 - 1)
    ]


# ------------------------------------------------------------- resize


def _expected_dims(w, h, m):
    mx = max(w, h)
    if mx <= m:
        return w, h
    return max(1, (w * m) // mx), max(1, (h * m) // mx)


def test_resize_dims_and_content(spark):
    rows = fx.image_rows(24)
    df = spark.createDataFrame(
        [(r[0], r[1]) for r in rows], "image_id string, bytes binary"
    )
    out = {
        r["image_id"]: r
        for r in resize_images(df, max_side=40).collect()
    }
    assert len(out) == 24
    for image_id, blob, w, h, fmt, _cap, _ph in rows:
        r = out[image_id]
        ew, eh = _expected_dims(w, h, 40)
        assert (r["w"], r["h"], r["fmt"]) == (ew, eh, "ppm")
        arr = imaging.decode_image(bytes(r["bytes"]), "ppm")
        assert arr.shape == (eh, ew, 3)
        # box-mean preserves the global mean (within rounding + the
        # uneven-block boundary effect)
        src = imaging.decode_image(bytes(blob), fmt)
        assert abs(float(arr.mean()) - float(src.mean())) < 3.0


def test_resize_constant_image_stays_constant(spark):
    arr = np.full((60, 48, 3), 137, dtype=np.uint8)
    df = spark.createDataFrame(
        [("const", bytearray(imaging.encode_image(arr, "ppm")))],
        "image_id string, bytes binary",
    )
    [r] = resize_images(df, max_side=32).collect()
    assert (r["w"], r["h"]) == ((48 * 32) // 60, 32)
    out = imaging.decode_image(bytes(r["bytes"]), "ppm")
    assert (out == 137).all()


def test_resize_passthrough_within_bounds(spark):
    arr = fx.make_image("small", 20, 24)
    df = spark.createDataFrame(
        [("small", bytearray(imaging.encode_image(arr, "ppm")))],
        "image_id string, bytes binary",
    )
    [r] = resize_images(df, max_side=40).collect()
    assert (r["w"], r["h"]) == (20, 24)
    assert (imaging.decode_image(bytes(r["bytes"]), "ppm") == arr).all()


# -------------------------------------------------------------- video


def test_vid1_container_roundtrip():
    video_id, blob, n_frames, w, h = fx.video_rows(3)[2]
    frames = parse_video(blob)
    assert len(frames) == n_frames
    for j, payload in enumerate(frames):
        arr = imaging.decode_image(payload, "ppm")
        assert arr.shape == (h, w, 3)
        assert (arr == fx.make_image(f"{video_id}_f{j}", w, h)).all()


def test_parse_video_rejects_foreign_bytes():
    with pytest.raises(ValueError):
        parse_video(b"JUNKJUNK")


def test_frozen_frame_fixture_reproduced():
    """The committed frozen fixture (the video_frame_sample oracle's
    independent side) must match what the live parse->decode->phash
    path computes today — same contract as frozen_phash."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from freeze_frames import compute_entries

    from fundcrawler_spark.frozen_frames import FROZEN_FRAME_META

    assert compute_entries() == FROZEN_FRAME_META


def test_sample_video_frames_matches_frozen(spark):
    from fundcrawler_spark.frozen_frames import FROZEN_FRAME_META

    rows = fx.video_rows(24)
    df = spark.createDataFrame(
        [(r[0], r[1]) for r in rows], "video_id string, bytes binary"
    )
    got = sorted(
        (r["video_id"], r["frame_index"], r["w"], r["h"], r["phash"])
        for r in sample_video_frames(df, every_k=2).collect()
    )
    assert got == sorted(FROZEN_FRAME_META)


def test_sample_every_k_indices():
    # ceil(n/k) sampled frames at indices 0, k, 2k, ... for every video
    for _vid, blob, n_frames, _w, _h in fx.video_rows(6):
        frames = parse_video(blob)
        idxs = list(range(0, len(frames), 3))
        assert idxs == [i for i in range(n_frames) if i % 3 == 0]


# -------------------------------------------------------------- audio


def test_aud1_roundtrip_and_features():
    from fundcrawler_spark.functions.audio import decode_audio, pcm_features

    audio_id, blob, rate, n = fx.audio_rows(5)[4]
    samples, r = decode_audio(blob)
    assert (r, len(samples)) == (rate, n)
    rms, zc = pcm_features(samples)
    assert rms > 0 and 0 < zc < n
    # hand-check on a known signal: alternating +-1 crosses every step
    alt = np.array([1, -1] * 50, dtype=np.int16)
    rms2, zc2 = pcm_features(alt)
    assert rms2 == 1.0 and zc2 == 99


def test_frozen_audio_fixture_reproduced():
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from freeze_audio import compute_entries

    from fundcrawler_spark.frozen_audio import FROZEN_AUDIO_META

    assert compute_entries() == FROZEN_AUDIO_META


def test_audio_features_spark_matches_frozen(spark):
    from fundcrawler_spark.frozen_audio import FROZEN_AUDIO_META
    from fundcrawler_spark.operators.multimodal import audio_features

    rows = fx.audio_rows(32)
    df = spark.createDataFrame(
        [(r[0], r[1]) for r in rows], "audio_id string, bytes binary"
    )
    got = {
        r["audio_id"]: (r["sample_rate"], r["n_samples"], r["rms"], r["zero_crossings"])
        for r in audio_features(df).collect()
    }
    assert got == {a: (r, n, rms, zc) for a, r, n, rms, zc in FROZEN_AUDIO_META}
