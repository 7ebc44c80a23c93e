"""Synthetic corpus, codec, decode pass, phash dedup, image+caption
pipeline, and checkpoint/resume (FIXTURES.md F1/F6)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkclean import synth
from sparkclean.checkpoint import load_manifest, run_checkpointed
from sparkclean.images import codec
from sparkclean.images.decode import (
    STATS_FIELDS,
    decode_and_project,
    phash_duplicate_clusters,
    with_image_issues,
)
from sparkclean.pipeline import run_image_caption_quality, run_image_caption_quality_from_path

N = 600


@pytest.fixture(scope="module")
def corpus(spark):
    return synth.synth_images(spark, N, with_images=True, partitions=4).cache()


@pytest.fixture(scope="module")
def corpus_path(corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("images") / "corpus")
    corpus.repartition(8).write.parquet(path)
    return path


def _stats(df):
    """image_id + the per-image decode stats, from the DataFrame route."""
    return decode_and_project(df).select(
        "image_id", *[f.split()[0] for f in STATS_FIELDS.split(", ")]
    )


def test_codec_roundtrip_and_psnr():
    px = codec.synth_pixels(42, 64, 48)
    assert px.shape == (48, 64, 3)
    # png lossless
    dec, fmt = codec.decode(codec.encode(px, "png"))
    assert fmt == "png" and np.array_equal(dec, px)
    # jpeg lossy but >= 40 dB (input_hint gate)
    dec_j, fmt_j = codec.decode(codec.encode(px, "jpeg"))
    assert fmt_j == "jpeg"
    assert codec.psnr(px, dec_j) >= 40.0
    # determinism
    assert np.array_equal(codec.synth_pixels(42, 64, 48), px)
    assert codec.phash64(px) == codec.phash64(px.copy())


def test_synth_schema_and_determinism(spark, corpus):
    rows = corpus.orderBy("image_id").limit(5).collect()
    assert [f.name for f in corpus.schema] == [
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
    ]
    # regenerating with different partitioning yields identical rows
    again = (
        synth.synth_images(spark, N, with_images=True, partitions=13)
        .orderBy("image_id")
        .limit(5)
        .collect()
    )
    for a, b in zip(rows, again):
        assert a["image_id"] == b["image_id"]
        assert a["caption"] == b["caption"]
        assert a["phash"] == b["phash"]
        assert bytes(a["bytes"]) == bytes(b["bytes"])


def test_decode_stats_validation(spark, corpus):
    stats = with_image_issues(_stats(corpus)).cache()
    n = stats.count()
    assert n == N
    agg = stats.agg(
        F.sum(F.when(F.col("decode_ok"), 1).otherwise(0)).alias("ok"),
        F.sum(F.when(F.col("fmt_ok"), 1).otherwise(0)).alias("fmt"),
        F.min("psnr_db").alias("min_psnr"),
    ).collect()[0]
    assert agg["ok"] == N and agg["fmt"] == N
    assert agg["min_psnr"] >= 40.0
    # recomputed phash equals stored phash for png rows (lossless path)
    joined = corpus.select("image_id", "phash", "fmt").join(stats, "image_id")
    png_bad = joined.where(
        (F.col("fmt") == "png") & (F.col("phash") != F.col("phash_recomputed"))
    ).count()
    assert png_bad == 0


def test_decode_matches_local_reference(spark, corpus):
    """Per-row invariant: Spark-side decode equals reference (local)
    decode of the same bytes — allclose/bit-exact."""
    sample = corpus.limit(20).collect()
    stats = {
        r["image_id"]: r
        for r in _stats(spark.createDataFrame(sample, corpus.schema)).collect()
    }
    for row in sample:
        px, fmt = codec.decode(bytes(row["bytes"]))
        s = stats[row["image_id"]]
        assert s["decode_ok"]
        np.testing.assert_allclose(s["brightness"], px.astype(float).mean(), rtol=1e-4)
        assert s["phash_recomputed"] == codec.phash64(px)


def test_phash_duplicate_clusters(spark, corpus):
    clusters = phash_duplicate_clusters(corpus).collect()
    assert len(clusters) > 0  # synth plants ~2% duplicate rows
    by_cluster: dict = {}
    for r in clusters:
        by_cluster.setdefault(r["phash"], []).append(r["image_id"])
    # duplicates share identical pixel content → identical bytes per fmt
    rows = {r["image_id"]: r for r in corpus.collect()}
    some = next(iter(by_cluster.values()))
    fmts = {}
    for iid in some:
        r = rows[iid]
        fmts.setdefault((r["fmt"], r["w"], r["h"]), set()).add(bytes(r["bytes"]))
    for blobs in fmts.values():
        assert len(blobs) == 1


def test_image_caption_pipeline(spark, corpus):
    out = run_image_caption_quality(corpus).cache()
    assert out.count() == N
    kept = out.where("keep").count()
    assert 0 < kept < N
    # every dropped row carries a reason; kept rows carry none
    assert out.where(~F.col("keep") & F.col("drop_reason").isNull()).count() == 0
    assert out.where(F.col("keep") & F.col("drop_reason").isNotNull()).count() == 0
    # scrub removed every raw PII token
    leaked = out.where(
        F.col("scrubbed_text").rlike(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    ).count()
    assert leaked == 0


def test_decode_scan_matches_dataframe_path(spark, corpus, corpus_path, tmp_path):
    """The python-native parquet scan must produce identical pipeline
    output to the JVM-scan path — also for NULL and empty captions."""
    blank = (
        corpus.withColumn(
            "caption",
            F.when(F.crc32("image_id") % 7 == 0, F.lit(None).cast("string"))
            .when(F.crc32("image_id") % 7 == 1, F.lit(""))
            .otherwise(F.col("caption")),
        )
    )
    blank_path = str(tmp_path / "blank_captions")
    blank.repartition(8).write.parquet(blank_path)
    for path in (corpus_path, blank_path):
        a = (
            run_image_caption_quality(spark.read.parquet(path))
            .orderBy("image_id")
            .collect()
        )
        b = run_image_caption_quality_from_path(spark, path).orderBy("image_id").collect()
        assert len(a) == len(b) == N
        for ra, rb in zip(a, b):
            assert ra == rb
    assert spark.read.parquet(blank_path).where("caption IS NULL").count() > 0


def test_fast_caption_path_matches_sql_path(spark, corpus_path):
    """The image route's caption scoring (text.fast, fused into the
    decode stage) must agree with the DuckDB twin of the caption
    pipeline (pipeline.oracle_sql_for) over the same (image_id, caption)
    rows: identical labels/issue flags/keep/scrub, scores to 1e-6."""
    import duckdb

    from sparkclean.pipeline import oracle_sql_for

    fast = {
        r["image_id"]: r
        for r in run_image_caption_quality_from_path(spark, corpus_path).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW captions AS SELECT image_id, caption"
        f" FROM read_parquet('{corpus_path}/*.parquet')"
    )
    cur = con.execute(oracle_sql_for("captions", "image_id", "caption"))
    names = [d[0] for d in cur.description]
    sql = {r[0]: dict(zip(names, r)) for r in cur.fetchall()}
    assert set(sql) == set(fast) and len(sql) == N
    for k, a in sql.items():
        b = fast[k]
        assert a["label"] == b["label"], k
        # the image route's keep also needs the image gates to pass
        image_ok = b["drop_reason"] not in ("decode_failed", "fmt_mismatch", "low_psnr")
        assert b["keep"] == (a["keep"] and image_ok), k
        assert a["is_label_issue"] == b["is_label_issue"], k
        assert a["scrubbed_text"] == b["scrubbed_text"], k
        assert abs(a["quality_score"] - b["quality_score"]) <= 1e-6, k


def test_each_image_route_runs_one_python_map(spark, corpus_path):
    """Decode and caption scoring are one fused Python stage: the
    executed plan of each image route holds exactly one MapInPandas
    node (an adaptive plan prints a node in both its initial and final
    plan, so nodes are counted by their distinct plan lines)."""
    for scored in (
        run_image_caption_quality(spark.read.parquet(corpus_path)),
        run_image_caption_quality_from_path(spark, corpus_path),
    ):
        plan = scored._jdf.queryExecution().executedPlan().toString()
        nodes = {ln[ln.index("MapInPandas"):] for ln in plan.splitlines() if "MapInPandas" in ln}
        assert len(nodes) == 1, plan
    spark.catalog.clearCache()


def test_checkpoint_resume(spark, corpus, tmp_path):
    out_dir = str(tmp_path / "ckpt")
    scored = run_image_caption_quality(corpus)

    # phase 1: pretend an earlier run completed only buckets 0..7
    m1 = run_checkpointed(
        scored.where(F.pmod(F.xxhash64("image_id"), F.lit(16)).cast("int") < 8),
        out_dir,
        n_buckets=16,
    )
    # simulate the crash: manifest only knows buckets 0..7
    m1["buckets"] = {k: v for k, v in m1["buckets"].items() if int(k) < 8}
    import json, os

    with open(os.path.join(out_dir, "_sparkclean_manifest.json"), "w") as f:
        json.dump(m1, f)

    # phase 2: resume with the full input — only buckets 8..15 recompute
    m2 = run_checkpointed(scored, out_dir, n_buckets=16)
    assert set(m2["buckets"]) == {str(b) for b in range(16)}

    # single-shot run matches the resumed run exactly
    solo_dir = str(tmp_path / "solo")
    m3 = run_checkpointed(scored, solo_dir, n_buckets=16)
    assert m2["counters"]["rows_scored"] == m3["counters"]["rows_scored"] == N
    assert m2["counters"]["rows_kept"] == m3["counters"]["rows_kept"]
    assert m2["counters"]["dropped_by_rule"] == m3["counters"]["dropped_by_rule"]

    a = spark.read.parquet(out_dir).orderBy("image_id").drop("_bucket").collect()
    b = spark.read.parquet(solo_dir).orderBy("image_id").drop("_bucket").collect()
    assert a == b

    # resume-round join: publish the completed checkpoint as a bucketed
    # table; the next round's id-join against an equally-bucketed feature
    # table must plan with NO Exchange (shuffle-free resume)
    from sparkclean.checkpoint import publish_bucketed
    from sparkclean.io import write_bucketed, read_bucketed

    scored_tbl = publish_bucketed(
        spark, out_dir, "ckpt_scores", n_buckets=8,
        path=str(tmp_path / "scores_bkt"),
    )
    feats = corpus.select("image_id", F.length("caption").alias("cap_len"))
    write_bucketed(
        feats, "ckpt_feats", ["image_id"], 8, sort_cols=["image_id"],
        path=str(tmp_path / "feats_bkt"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        resumed = scored_tbl.join(read_bucketed(spark, "ckpt_feats"), "image_id")
        plan = resumed._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert resumed.count() == N
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS ckpt_scores")
        spark.sql("DROP TABLE IF EXISTS ckpt_feats")


def test_phash_near_duplicates_on_decoded_corpus(spark, corpus):
    """Hamming-ball near-dup over phashes RECOMPUTED from decoded pixels:
    exact vs a NumPy brute force at distance <= 3 (block_bits=16 is
    pigeonhole-exact there) over DISTINCT phashes — identical phashes
    (the planted same-seed clusters) collapse to their min-id
    representative before banding, so their membership surfaces through
    the cluster expansion, not as distance-0 pairs."""
    from sparkclean.images.decode import (
        phash_near_duplicate_clusters,
        phash_near_duplicates,
    )

    stats = _stats(corpus).select("image_id", "phash_recomputed")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_duplicates(
            stats, id_col="image_id", phash_col="phash_recomputed"
        ).collect()
    }

    rows = stats.collect()
    groups: dict[int, list] = {}
    for r in rows:
        groups.setdefault(r["phash_recomputed"] % (1 << 64), []).append(r["image_id"])
    reps = {h: min(ids) for h, ids in groups.items()}
    hs = sorted(reps)
    exp = {}
    for i, hi in enumerate(hs):
        for hj in hs[i + 1 :]:
            d = (hi ^ hj).bit_count()
            if d <= 3:
                a, b = sorted((reps[hi], reps[hj]))
                exp[(a, b)] = d
    assert got == exp
    assert all(d >= 1 for d in got.values())
    # the planted same-seed duplicate clusters surface via the linear
    # membership expansion: every identical-phash group shares a cluster
    cl_rep = {
        r["image_id"]: r["cluster_rep"]
        for r in phash_near_duplicate_clusters(
            stats, id_col="image_id", phash_col="phash_recomputed"
        ).collect()
    }
    dup_groups = [ids for ids in groups.values() if len(ids) > 1]
    assert dup_groups  # the corpus plants same-seed duplicates
    for ids in dup_groups:
        assert len({cl_rep[i] for i in ids}) == 1


def test_failed_decodes_get_null_phash_not_sentinel(spark):
    """Null blobs / corrupt payloads must yield NULL phash_recomputed —
    a 0 sentinel would bucket every broken image into one fake
    distance-0 near-dup cluster (round-4 review finding)."""
    from sparkclean.images.decode import phash_near_duplicates

    good = codec.encode(codec.synth_pixels(1, 32, 32), "png")
    rows = [
        ("ok_1", bytearray(good), 32, 32, "png", "c", 0),
        ("ok_2", bytearray(good), 32, 32, "png", "c", 0),
        ("null_1", None, 32, 32, "png", "c", 0),
        ("null_2", None, 32, 32, "png", "c", 0),
        ("corrupt_1", bytearray(b"SCPNG\x01\x00\x01\x00garbage"), 1, 1, "png", "c", 0),
        ("corrupt_2", bytearray(b"nonsense"), 1, 1, "png", "c", 0),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
    )
    stats = _stats(df).cache()
    got = {r["image_id"]: r["phash_recomputed"] for r in stats.collect()}
    assert got["ok_1"] is not None and got["ok_1"] == got["ok_2"]
    for bad in ("null_1", "null_2", "corrupt_1", "corrupt_2"):
        assert got[bad] is None, bad
    pairs = {
        (r["id_a"], r["id_b"])
        for r in phash_near_duplicates(
            stats, id_col="image_id", phash_col="phash_recomputed"
        ).collect()
    }
    # identical good images collapse to one representative (no pairs at
    # all), and the broken images must not form a phantom cluster: the
    # good pair groups via cluster expansion, NULLs stay singletons
    assert pairs == set()
    from sparkclean.images.decode import phash_near_duplicate_clusters

    cl = {
        r["image_id"]: (r["cluster_rep"], r["cluster_size"])
        for r in phash_near_duplicate_clusters(
            stats, id_col="image_id", phash_col="phash_recomputed"
        ).collect()
    }
    assert cl["ok_1"] == cl["ok_2"] == ("ok_1", 2)
    for bad in ("null_1", "null_2", "corrupt_1", "corrupt_2"):
        assert cl[bad] == (bad, 1), bad
