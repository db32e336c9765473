"""Multimodal plumbing: media metadata, features, resize, frame sampling
and codec detection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openalex_collaboration_crawler_spark.operators.multimodal import (
    build_synthetic_media,
    extract_features,
    media_metadata,
    real_image_decode,
)


def test_media_metadata_and_features(spark):
    media = build_synthetic_media(spark, n=30)
    meta = media_metadata(media).collect()
    assert len(meta) == 30
    assert all(r["n_bytes"] > 0 and r["decode_ok"] for r in meta)
    feats = extract_features(media, batch_rows=7).collect()
    assert len(feats) == 30
    assert all(r["decode_ok"] and len(r["feature"]) == 16 for r in feats)
    # determinism: same blob → same feature
    again = extract_features(media).collect()
    assert {r["media_id"]: r["feature"] for r in feats} == {
        r["media_id"]: r["feature"] for r in again
    }


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def _ffmpeg_available() -> bool:
    import shutil

    return shutil.which("ffmpeg") is not None


@pytest.mark.skipif(_pil_available(), reason="PIL installed: stub replaced by real decoder")
def test_real_decoder_is_stubbed():
    with pytest.raises(NotImplementedError):
        real_image_decode(b"\x89PNG")


def test_autodetect_matches_environment():
    """autodetect_codecs (runs at import, r4) must wire real decoders
    exactly when the library exists, and leave the declared synthetic
    stubs otherwise — and SYNTHETIC_DECODERS must stay untouched so
    the media_features oracle survives detection."""
    from openalex_collaboration_crawler_spark.operators import multimodal as M

    detected = M.autodetect_codecs()  # idempotent re-call
    assert ("image" in detected) == _pil_available()
    assert ("audio" in detected) == _ffmpeg_available()
    assert set(M.MEDIA_DECODERS) >= {"image", "audio", "video_frame"}
    if not _pil_available():
        assert M.MEDIA_DECODERS["image"] is M.SYNTHETIC_DECODERS["image"]
    else:
        assert M.MEDIA_DECODERS["image"] is M.real_image_decode


@pytest.mark.skipif(not _pil_available(), reason="real decode path needs PIL")
def test_real_image_decode_with_pil():  # pragma: no cover - no PIL here
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (8, 8), (128, 64, 32)).save(buf, format="PNG")
    vec = real_image_decode(buf.getvalue())
    assert vec.shape == (16,) and (0.0 <= vec).all() and (vec <= 1.0).all()


@pytest.mark.skipif(not _ffmpeg_available(), reason="real decode path needs ffmpeg")
def test_real_video_decode_with_ffmpeg():  # pragma: no cover - no ffmpeg here
    from openalex_collaboration_crawler_spark.operators.multimodal import (
        real_video_frame_decode,
    )

    # smallest valid input we can synthesize without a codec lib: let
    # ffmpeg itself make one (testsrc), then decode it back
    import subprocess, shutil, tempfile, os as _os

    with tempfile.TemporaryDirectory() as d:
        p = _os.path.join(d, "t.mp4")
        subprocess.run(
            [shutil.which("ffmpeg"), "-v", "error", "-f", "lavfi", "-i",
             "testsrc=duration=0.2:size=64x64:rate=10", p],
            check=True,
        )
        vec = real_video_frame_decode(open(p, "rb").read())
    assert vec.shape == (16,) and (0.0 <= vec).all() and (vec <= 1.0).all()


def test_explicit_decoders_pin_survives_registration(spark):
    """The driver gate passes decoders=SYNTHETIC_DECODERS explicitly;
    registering a different global decoder (as autodetection would on
    a PIL machine) must not change the pinned path — proves the gate's
    exact oracle survives codec detection without needing PIL here."""
    from openalex_collaboration_crawler_spark.operators import multimodal as M

    media = build_synthetic_media(spark, n=12)
    before = {r["media_id"]: r["feature"] for r in
              extract_features(media, decoders=M.SYNTHETIC_DECODERS).collect()}
    old = M.MEDIA_DECODERS["image"]
    try:
        M.register_decoder("image", lambda b: __import__("numpy").zeros(16, dtype="float32"))
        default_path = {r["media_id"]: r["feature"] for r in
                        extract_features(media).collect()}
        pinned = {r["media_id"]: r["feature"] for r in
                  extract_features(media, decoders=M.SYNTHETIC_DECODERS).collect()}
    finally:
        M.register_decoder("image", old)
    assert pinned == before
    assert default_path != before  # the registration DID take effect globally


def test_resize_plumbing(spark):
    from openalex_collaboration_crawler_spark.operators.multimodal import resize_images

    media = build_synthetic_media(spark, n=30)
    out = resize_images(media, width=32, height=32, batch_rows=7).collect()
    assert len(out) == 30  # row count preserved
    imgs = [r for r in out if r["kind"] == "image"]
    rest = [r for r in out if r["kind"] != "image"]
    assert imgs and all(r["resize_ok"] and r["width"] == 32 for r in imgs)
    assert rest and all(not r["resize_ok"] for r in rest)  # passthrough, no decode
    # deterministic output bytes
    again = {r["media_id"]: bytes(r["blob"]) for r in resize_images(media, 32, 32).collect()}
    assert all(bytes(r["blob"]) == again[r["media_id"]] for r in out)


def test_frame_sampling_plumbing(spark):
    from openalex_collaboration_crawler_spark.operators.multimodal import sample_video_frames

    media = build_synthetic_media(spark, n=30)
    n_videos = media.where(F.col("kind") == "video_frame").count()
    frames = sample_video_frames(media, n_frames=4, frame_interval_ms=500).collect()
    assert len(frames) == n_videos * 4  # one-in/many-out flatMap shape
    per = {}
    for r in frames:
        per.setdefault(r["media_id"], []).append((r["frame_idx"], r["ts_ms"]))
    assert all(sorted(v) == [(0, 0), (1, 500), (2, 1000), (3, 1500)] for v in per.values())
