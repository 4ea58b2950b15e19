"""Multimodal plumbing AND raw decode kernels: binary columns + typed
metadata through real mapInPandas seams. Raw x-raw-* formats decode
for real (numpy); compressed codecs stay stubbed (no codec libs)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pcap_to_parquet_spark.operators.multimodal import (
    _nn_resize,
    audio_features,
    media_table,
    raw_media_table,
    resize_images,
    sample_frames,
)
from pcap_to_parquet_spark.sources.tables import load_table
from tests.conftest import SF0001


def _media(spark):
    return media_table(load_table(spark, SF0001, "documents").limit(20))


def test_resize_plumbing(spark):
    out = resize_images(_media(spark), 224, 224)
    rows = out.collect()
    assert len(rows) == 20
    assert all(r.width == 224 and r.height == 224 for r in rows)
    assert all(isinstance(r.payload, (bytes, bytearray)) for r in rows)


def test_sample_frames_fanout(spark):
    media = _media(spark)
    frames = sample_frames(media, every_n_bytes=64)
    n_bytes = media.select(F.sum(F.length("payload"))).first()[0]
    got = frames.count()
    # ceil-division fan-out: one frame per 64-byte slice
    per_doc = media.select(F.ceil(F.length("payload") / 64).alias("k"))
    want = per_doc.select(F.sum("k")).first()[0]
    assert got == want
    # frame indices are dense per media_id
    idx = frames.groupBy("media_id").agg(
        F.min("frame_idx").alias("mn"), F.max("frame_idx").alias("mx"), F.count("*").alias("n")
    )
    bad = idx.filter((F.col("mn") != 0) | (F.col("n") != F.col("mx") + 1)).count()
    assert bad == 0
    assert n_bytes == frames.select(F.sum(F.length("frame"))).first()[0]


def test_nn_resize_kernel_golden():
    """Hand-computed golden: 4×4 → 2×2 samples pixel centers (1,1),
    (1,3), (3,1), (3,3)."""
    arr = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    out = _nn_resize(arr, 2, 2)
    assert out.shape == (2, 2, 3)
    assert (out == arr[[1, 3]][:, [1, 3]]).all()


@pytest.mark.slow  # >=5s
def test_raw_image_resize_real(spark):
    """x-raw-rgb payloads are REALLY resized: output bytes equal the
    numpy kernel applied driver-side to the same payload."""
    docs = load_table(spark, SF0001, "documents").limit(10)
    media = raw_media_table(docs, "image")
    src = {r.media_id: bytes(r.payload) for r in media.collect()}
    out = {r.media_id: bytes(r.payload) for r in resize_images(media, 8, 8).collect()}
    assert set(out) == set(src)
    for mid, b in src.items():
        want = _nn_resize(
            np.frombuffer(b, dtype=np.uint8).reshape(16, 16, 3), 8, 8
        ).tobytes()
        assert out[mid] == want
    # malformed payload (wrong byte count) -> NULL, never a crash
    bad = media.withColumn("payload", F.substring("payload", 1, 100))
    rows = resize_images(bad, 8, 8).collect()
    assert all(r.payload is None for r in rows)


def test_raw_video_frame_sampling(spark):
    """x-raw-rgb video: every 2nd frame of 4 -> 2 rows per clip, each
    exactly one frame (w*h*3 bytes) and equal to the source slice."""
    docs = load_table(spark, SF0001, "documents").limit(6)
    media = raw_media_table(docs, "video", width=4, height=4, n_frames=4)
    fsz = 4 * 4 * 3
    src = {r.media_id: bytes(r.payload) for r in media.collect()}
    rows = sample_frames(media, every_nth=2).collect()
    by_id: dict[int, list] = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append(r)
    assert set(by_id) == set(src)
    for mid, rs in by_id.items():
        assert [r.frame_idx for r in sorted(rs, key=lambda r: r.frame_idx)] == [0, 1]
        for i, r in enumerate(sorted(rs, key=lambda r: r.frame_idx)):
            f = 2 * i  # frames 0 and 2
            assert bytes(r.frame) == src[mid][f * fsz : (f + 1) * fsz]


def test_audio_features_real(spark):
    """pcm16 features: rms/peak equal the numpy reference computed
    driver-side from the same bytes."""
    docs = load_table(spark, SF0001, "documents").limit(8)
    media = raw_media_table(docs, "audio")
    src = {r.media_id: bytes(r.payload) for r in media.collect()}
    rows = {r.media_id: r for r in audio_features(media).collect()}
    assert set(rows) == set(src)
    for mid, b in src.items():
        s = np.frombuffer(b[: len(b) - (len(b) % 2)], dtype="<i2")
        assert rows[mid].n_samples == len(s)
        assert rows[mid].rms == f"{float(np.sqrt(np.mean(s.astype(np.float64) ** 2))):.6f}"
        assert rows[mid].peak == int(np.max(np.abs(s.astype(np.int32))))


def test_real_codecs_stubbed(spark):
    img = _media(spark).withColumn(
        "meta",
        F.struct(
            F.lit("image").alias("kind"),
            F.lit("image/png").alias("mime"),
            F.lit(224).alias("width"),
            F.lit(224).alias("height"),
        ),
    )
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        resize_images(img, 64, 64).collect()


def test_image_dhash_locality(spark):
    """Perceptual property that makes dHash a NEAR-dup key: a one-byte
    payload perturbation flips at most a few of the 64 bits, while
    unrelated images differ by many."""
    from pcap_to_parquet_spark.operators.multimodal import (
        RAW_IMAGE_MIME,
        resize_images,
    )

    def dhash_of(payload: bytes) -> str:
        arr = np.frombuffer(payload, dtype=np.uint8).reshape(16, 16, 3)
        small = _nn_resize(arr, 9, 8).astype(np.int64)
        gray = small.sum(axis=-1) // 3
        bits = (gray[:, :-1] > gray[:, 1:]).astype(np.uint8).ravel()
        return "".join("1" if b else "0" for b in bits)

    rng = np.random.RandomState(7)
    base = rng.randint(0, 256, size=16 * 16 * 3, dtype=np.uint16).astype(np.uint8)
    tweaked = base.copy()
    tweaked[100] ^= 0xFF  # one byte of one pixel
    other = rng.randint(0, 256, size=16 * 16 * 3, dtype=np.uint16).astype(np.uint8)
    h_base, h_tweak, h_other = (
        dhash_of(base.tobytes()),
        dhash_of(tweaked.tobytes()),
        dhash_of(other.tobytes()),
    )
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))  # noqa: E731
    assert ham(h_base, h_tweak) <= 4
    assert ham(h_base, h_other) >= 16

    # and the query's Spark-side kernel agrees with this reference calc
    from pyspark.sql.types import (
        BinaryType, LongType, StringType, StructField, StructType,
    )

    # route the crafted payloads through the engine's own resize+hash
    import pandas as pd
    from pcap_to_parquet_spark.operators import multimodal as mm

    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2, 3],
                "payload": [base.tobytes(), tweaked.tobytes(), other.tobytes()],
                "meta": [
                    {"kind": "image", "mime": mm.RAW_IMAGE_MIME, "width": 16, "height": 16}
                ] * 3,
            }
        ),
        schema=StructType(
            [
                StructField("media_id", LongType()),
                StructField("payload", BinaryType()),
                StructField(
                    "meta",
                    StructType(
                        [
                            StructField("kind", StringType()),
                            StructField("mime", StringType()),
                            StructField("width", LongType()),
                            StructField("height", LongType()),
                        ]
                    ),
                ),
            ]
        ),
    )
    resized = resize_images(media, 9, 8)
    got = {}
    for r in resized.collect():
        arr = np.frombuffer(bytes(r.payload), dtype=np.uint8).reshape(8, 9, 3)
        gray = arr.astype(np.int64).sum(axis=-1) // 3
        bits = (gray[:, :-1] > gray[:, 1:]).astype(np.uint8).ravel()
        got[r.media_id] = "".join("1" if b else "0" for b in bits)
    assert got[1] == h_base and got[2] == h_tweak and got[3] == h_other
