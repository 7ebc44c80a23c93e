"""Hostile image corpus (round-5 zoo item): truncated / empty / null
payloads, 1x1 and extreme-aspect dims, all-constant pixels producing an
identical-phash mega-group, and format mismatches — driven through the
REAL image pipeline and the phash dedup family.

Pins: degenerate rows never crash the Arrow kernel, each hostile class
lands in the right drop_reason, identical-phash groups collapse to ONE
band row (linear candidate volume — the round-5 hot-fingerprint guard)
while cluster membership stays complete, and NULL phashes (failed
decodes) never form a fake distance-0 cluster.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkclean.images import codec
from sparkclean.images.decode import (
    phash_duplicate_clusters,
    phash_near_duplicates,
)
from sparkclean.pipeline import run_image_caption_quality

GOOD_CAPTION = "a clear photo of a red vintage car parked near the beach"


def _hostile_rows():
    """(image_id, bytes, w, h, fmt, caption, phash) rows, one hostile
    class each; ids are strings so min-id representatives are
    deterministic."""
    rows = []

    def add(iid, px, fmt, caption=GOOD_CAPTION, blob=None, w=None, h=None):
        if px is not None:
            blob = codec.encode(px, fmt)
            h_, w_ = px.shape[0], px.shape[1]
            ph = codec.phash64(px)
        else:
            w_, h_, ph = w or 0, h or 0, 0
        rows.append((iid, blob, int(w if w is not None else w_),
                     int(h if h is not None else h_), fmt, caption, int(ph)))

    rng = np.random.RandomState(11)
    # healthy baseline rows
    for i in range(4):
        px = rng.randint(0, 256, size=(40, 48, 3)).astype(np.uint8)
        add(f"ok-{i}", px, "png")
    # all-constant mega-group: 12 images, identical pixels -> identical
    # phash (the blank/solid-color corpus hazard)
    flat = np.full((32, 32, 3), 128, dtype=np.uint8)
    for i in range(12):
        add(f"flat-{i:02d}", flat, "png")
    # 1x1 image
    add("tiny", np.array([[[255, 0, 0]]], dtype=np.uint8), "png")
    # extreme aspect (1 x 256 -> aspect 256, odd_aspect flag territory)
    add("ribbon", np.tile(np.arange(256, dtype=np.uint8)[None, :, None], (1, 1, 3)), "png")
    # truncated payload (half of a valid blob)
    good = codec.encode(rng.randint(0, 256, size=(32, 32, 3)).astype(np.uint8), "png")
    rows.append(("truncated", good[: len(good) // 2], 32, 32, "png", GOOD_CAPTION, 0))
    # empty payload and NULL payload
    rows.append(("emptybytes", b"", 32, 32, "png", GOOD_CAPTION, 0))
    rows.append(("nullbytes", None, 32, 32, "png", GOOD_CAPTION, 0))
    # declared fmt disagrees with the actual encoding
    px = rng.randint(0, 256, size=(32, 32, 3)).astype(np.uint8)
    blob = codec.encode(px, "png")
    rows.append(("fmtlie", blob, 32, 32, "jpeg", GOOD_CAPTION, int(codec.phash64(px))))
    # declared dims disagree with the decoded dims
    px = rng.randint(0, 256, size=(16, 16, 3)).astype(np.uint8)
    rows.append(("dimlie", codec.encode(px, "png"), 99, 99, "png", GOOD_CAPTION,
                 int(codec.phash64(px))))
    return rows


@pytest.fixture(scope="module")
def hostile_df(spark):
    return spark.createDataFrame(
        _hostile_rows(),
        "image_id string, bytes binary, w int, h int, fmt string,"
        " caption string, phash long",
    )


def test_pipeline_survives_and_classifies_hostile_rows(spark, hostile_df):
    out = run_image_caption_quality(hostile_df).collect()
    by_id = {r["image_id"]: r for r in out}
    assert len(by_id) == len(_hostile_rows())
    for iid in ("truncated", "emptybytes", "nullbytes"):
        assert by_id[iid]["drop_reason"] == "decode_failed", iid
        assert not by_id[iid]["keep"]
    assert by_id["fmtlie"]["drop_reason"] == "fmt_mismatch"
    assert by_id["dimlie"]["drop_reason"] == "decode_failed"  # dims lie => decode_ok False
    # degenerate-but-valid rows decode fine
    for iid in ("tiny", "ribbon"):
        assert by_id[iid]["decode_ok"], iid
    # constant image: dark/light thresholds straddle 128 -> neither flag,
    # but zero variance => low-information + blurry
    flat = by_id["flat-00"]
    assert flat["is_low_information"] and flat["is_blurry"]
    assert any(by_id[f"ok-{i}"]["keep"] for i in range(4))


def test_identical_phash_group_is_linear_not_quadratic(spark, hostile_df):
    """12 identical phashes must contribute ZERO representative-level
    pairs (distance 0 collapses pre-banding) instead of the 66 all-pairs
    rows the uncollapsed engine emitted; failed decodes (NULL phash)
    must not pair at all."""
    from sparkclean.images.decode import decode_and_project

    projected = decode_and_project(hostile_df).select("image_id", "phash_recomputed")
    pairs = phash_near_duplicates(
        projected, phash_col="phash_recomputed", max_distance=3
    ).collect()
    flat_pairs = [
        r for r in pairs
        if r["id_a"].startswith("flat") or r["id_b"].startswith("flat")
    ]
    assert flat_pairs == []  # collapsed: no distance-0 representative pairs
    for r in pairs:  # NULL fingerprints excluded entirely
        assert not r["id_a"].startswith(("truncated", "emptybytes", "nullbytes"))
        assert r["hamming"] >= 1


def test_identical_phash_group_clusters_completely(spark, hostile_df):
    """The exact-duplicate mega-group still lands in ONE cluster with
    full membership; decode failures stay singletons (no fake cluster
    of NULL fingerprints)."""
    from sparkclean.images.decode import decode_and_project

    projected = decode_and_project(hostile_df)
    clusters = phash_duplicate_clusters(
        projected.where(F.col("phash_recomputed").isNotNull()).select(
            "image_id", F.col("phash_recomputed").alias("phash")
        ),
        id_col="image_id",
    )
    rows = {r["image_id"]: r for r in clusters.collect()}
    # expected groups from the recomputed phashes themselves (constant
    # images of ANY color share the degenerate flat phash, so e.g. the
    # 1x1 red 'tiny' row legitimately joins the gray flat group)
    by_hash: dict[int, list[str]] = {}
    for r in projected.where(F.col("phash_recomputed").isNotNull()).collect():
        by_hash.setdefault(r["phash_recomputed"], []).append(r["image_id"])
    expected = {
        iid: (min(ids), len(ids))
        for ids in by_hash.values()
        if len(ids) > 1
        for iid in ids
    }
    got = {k: (v["cluster_rep"], v["cluster_size"]) for k, v in rows.items()}
    assert got == expected
    flat_group = expected["flat-00"]
    assert flat_group[0] == "flat-00" and flat_group[1] >= 12


def test_decode_scan_names_an_unmappable_column(spark, tmp_path):
    """A source column Spark has no type for (uint32) fails the
    python-native scan when it is built, with a ValueError naming the
    column rather than a bare type error."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkclean.images.decode import decode_scan

    iid, blob, w, h, fmt, caption, _ = _hostile_rows()[0]
    tbl = pa.table({
        "image_id": [iid], "bytes": [blob], "w": [w], "h": [h], "fmt": [fmt],
        "caption": [caption], "views": pa.array([7], type=pa.uint32()),
    })
    (tmp_path / "corpus").mkdir()
    pq.write_table(tbl, str(tmp_path / "corpus" / "part-0.parquet"))
    with pytest.raises(ValueError, match="'views'"):
        decode_scan(spark, str(tmp_path / "corpus"))
