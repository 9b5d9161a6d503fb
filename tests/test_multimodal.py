"""Multimodal plumbing tests: real Spark schema/partitioning/Arrow
batching around the raw-byte decode."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark import multimodal
from clinical_data_warehouse_bi_spark.io import read_table
from clinical_data_warehouse_bi_spark.text import hamming_pairs


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    return multimodal.attach_fake_media(docs).cache()


def test_media_schema(media):
    assert dict(media.dtypes)["content"] == "binary"
    meta = dict(media.dtypes)["media_meta"]
    assert "width" in meta and "duration_s" in meta


def test_feature_extraction_deterministic(spark, sf_dir, media):
    feats = multimodal.extract_features(media).cache()
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = feats.join(docs, "doc_id")
    # n_bytes == utf-8 length of the text for every row
    bad = joined.filter(F.col("n_bytes") != F.length(F.encode("text", "utf-8"))).count()
    assert bad == 0
    # histogram buckets sum to n_bytes
    bad_hist = feats.filter(
        F.aggregate("histogram", F.lit(0).cast("bigint"), lambda a, x: a + x)
        != F.col("n_bytes")
    ).count()
    assert bad_hist == 0
    # spot-check one row against local numpy
    row = joined.orderBy("doc_id").first()
    arr = np.frombuffer(row["text"].encode("utf-8"), dtype=np.uint8)
    assert row["n_bytes"] == arr.size
    assert row["mean_byte"] == pytest.approx(float(arr.mean()))


def test_feature_extraction_partition_invariant(media):
    """mapInPandas result must not depend on partitioning (batch
    shape independence)."""
    f1 = multimodal.extract_features(media.repartition(1)).select("doc_id", "mean_byte")
    f8 = multimodal.extract_features(media.repartition(8)).select("doc_id", "mean_byte")
    assert f1.exceptAll(f8).count() == 0 and f8.exceptAll(f1).count() == 0


def test_frame_sample_plan(media):
    plan = multimodal.frame_sample_plan(media, fps=2.0)
    assert plan.columns == ["doc_id", "frame_idx", "frame_offset_s"]
    assert plan.filter(F.col("frame_offset_s") < 0).count() == 0
    # every doc yields at least one frame
    assert plan.select("doc_id").distinct().count() == media.count()


# ---------------------------------------------------------------------------
# Perceptual image near-dup (round-16 verdict item 3)
# ---------------------------------------------------------------------------


def _hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_phash_reference_properties():
    """phash_py on decode_media's 1-D byte arrays: deterministic,
    signed-long packed, and the raw-byte fold restores a square
    image's grid."""
    rng = np.random.RandomState(7)
    flat = rng.randint(0, 256, 997).astype(np.uint8)
    h = multimodal.phash_py(flat)
    assert h == multimodal.phash_py(flat.copy())
    # packs into a signed 64-bit long (bit 63 may be set)
    assert -(1 << 63) <= h < (1 << 63)
    # a square image's row-major bytes fold back to its own grid
    img = rng.randint(0, 256, (64, 64)).astype(np.uint8)
    folded = multimodal._to_gray(multimodal.decode_media(img.tobytes()))
    assert folded.shape == (64, 64) and (folded == img).all()


def test_phash_planted_near_dup_recall_raw(spark):
    """Planted-recall contract on raw-byte images: 6 distinct
    random 64x64 images, 3 of them with a near-copy carrying +-2
    pixel noise, each blob the image's row-major bytes (the square
    fold restores the 64x64 grid) — image_near_dup must find exactly
    the 3 planted pairs (noise within radius, distinct images far
    apart)."""
    rng = np.random.RandomState(42)
    blobs, ids = [], []
    base_imgs = []
    for i in range(6):
        # smooth structured images (random low-freq mixture), not iid
        # noise: pHash thresholds low-frequency DCT coefficients, so
        # the planted perturbation must not be of the same magnitude
        # as the image's own structure
        yy, xx = np.mgrid[0:64, 0:64]
        img = np.zeros((64, 64))
        for _ in range(5):
            fy, fx = rng.uniform(0.02, 0.2, 2)
            img += rng.uniform(20, 60) * np.sin(
                fy * yy + rng.uniform(0, 6)
            ) * np.cos(fx * xx + rng.uniform(0, 6))
        img = ((img - img.min()) / (img.ptp() + 1e-9) * 255).astype(np.uint8)
        base_imgs.append(img)
        blobs.append(img.tobytes())
        ids.append(i)
    for i in range(3):  # near-copies of images 0..2 at ids 100..102
        noisy = base_imgs[i].astype(np.int32) + rng.randint(-2, 3, (64, 64))
        blobs.append(np.clip(noisy, 0, 255).astype(np.uint8).tobytes())
        ids.append(100 + i)
    rows = [
        (int(ids[j]), bytearray(blobs[j]),
         ("image/raw", 64, 64, 16000, 0.0))
        for j in range(len(ids))
    ]
    media = spark.createDataFrame(
        rows,
        "doc_id long, content binary, media_meta struct<"
        "media_type string, width int, height int, sample_rate int,"
        " duration_s double>",
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in multimodal.image_near_dup(media).collect()
    }
    assert got == {(0, 100), (1, 101), (2, 102)}, got


def test_phash_banding_matches_bruteforce(spark):
    """The banded Hamming join at image_near_dup's geometry (8 bands
    of 8 bits over the 64-bit pHash) is EXACT for radius < n_bands:
    its pair set equals the brute-force all-pairs Hamming filter on
    the same hashes (pigeonhole — 6 differing bits cannot spoil all 8
    bands)."""
    rng = np.random.RandomState(3)
    base = rng.randint(0, 2, 64)
    hashes = []
    for i in range(20):
        v = base.copy()
        flips = rng.choice(64, size=rng.randint(0, 12), replace=False)
        v[flips] ^= 1
        h = 0
        for b in v:
            h = (h << 1) | int(b)
        if h >= 1 << 63:
            h -= 1 << 64
        hashes.append((i, h))
    df = spark.createDataFrame(hashes, "doc_id long, phash long")
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in hamming_pairs(df, "phash", 64, 8, 6).collect()
    }
    want = set()
    for i, (ida, ha) in enumerate(hashes):
        for idb, hb in hashes[i + 1:]:
            d = _hamming64(ha & (1 << 64) - 1, hb & (1 << 64) - 1)
            if d <= 6:
                want.add((min(ida, idb), max(ida, idb), d))
    assert got == want
    with pytest.raises(ValueError, match="exact only"):
        hamming_pairs(df, "phash", 64, 8, 8)
    with pytest.raises(ValueError, match="divide 64"):
        hamming_pairs(df, "phash", 64, 5, 2)


def test_q_image_near_dup_registered(spark, sf_dir):
    """The registered gate entry: the documents table's exact text
    duplicates give identical fake blobs -> hamming-0 pairs, so the
    rows-only gate row is non-empty; output is deterministic across
    partitionings."""
    from clinical_data_warehouse_bi_spark.queries.windows import (
        q_image_near_dup,
    )

    out = q_image_near_dup(spark, sf_dir)
    rows = {tuple(r) for r in out.collect()}
    assert rows and all(h == 0 for *_ab, h in rows)
    assert {tuple(r) for r in q_image_near_dup(spark, sf_dir).collect()} == rows
