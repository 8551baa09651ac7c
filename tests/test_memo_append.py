"""Frozen-model memo lifecycle under corpus APPENDS (round-13, verdict
#4): appending files to the embeddings corpus changes every
`_corpus_memo` fingerprint, but must NOT retrain the k-means/PQ models —
the quantizer freezes at its trained version (the `append_to_ivf_index`
contract in operators/ivf.py) and only the new rows are assigned.
A full retrain is forced exactly when the corpus is regenerated in place
(old file stats change) or the algorithm/version changes — see SCALE.md
round-13.

Reference analogue: the climatology normals memo survives new months
without recompute (chirps_rainfall/__init__.py:229-234)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_ingestion_auto_spark.plans.ann_memo import (
    emb_full,
    kmh_assign,
    kml_model,
    kmg_model,
)
from data_ingestion_auto_spark.plans.dedup import _corpus_memo, find_appendable_prior


def _write_corpus(spark, sf, rows, mode="overwrite"):
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(
        1
    ).write.mode(mode).parquet(f"{sf}/embeddings.parquet")


def _rows(ids, scale=1.0, dim=4):
    return [
        (i, [scale * float((i * 7 + j) % 13) for j in range(dim)]) for i in ids
    ]


def _fresh(tmp_path, monkeypatch, name):
    memo = tmp_path / f"memo_{name}"
    memo.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_CC_MEMO_DIR", str(memo))
    sf = tmp_path / name
    sf.mkdir()
    return str(sf)


def test_find_appendable_prior_detects_append_not_regeneration(
    spark, tmp_path, monkeypatch
):
    sf = _fresh(tmp_path, monkeypatch, "sfP")
    _write_corpus(spark, sf, _rows(range(10)))
    got = _corpus_memo(
        spark,
        sf,
        "probe",
        lambda: emb_full(spark, sf).select("vec_id"),
        src_file="embeddings.parquet",
    )
    assert got.count() == 10
    # same fingerprint: no prior (the CURRENT memo is not its own prior)
    assert find_appendable_prior(sf, "probe", "embeddings.parquet") is None

    # append: old part files untouched, new ones added → prior found
    _write_corpus(spark, sf, _rows(range(10, 14)), mode="append")
    prior = find_appendable_prior(sf, "probe", "embeddings.parquet")
    assert prior is not None and "spark_graft_probe_" in prior

    # regeneration in place (same rows rewritten): old stats change → None
    import shutil

    shutil.rmtree(f"{sf}/embeddings.parquet")
    _write_corpus(spark, sf, _rows(range(14)))
    assert find_appendable_prior(sf, "probe", "embeddings.parquet") is None


def test_kml_append_freezes_centroids_and_old_assignments(
    spark, tmp_path, monkeypatch
):
    sf = _fresh(tmp_path, monkeypatch, "sfK")
    _write_corpus(spark, sf, _rows(range(24)))
    build = lambda: emb_full(spark, sf)
    a1, c1 = kml_model(spark, sf, "tfz", build, k=3)
    cents1 = sorted((r.cluster_id, list(r.cvec)) for r in c1.collect())
    assign1 = {r.vec_id: r.cluster_id for r in a1.collect()}
    assert len(assign1) == 24

    # append rows whose magnitude would MOVE the centroids under a
    # retrain — the frozen path must keep them bit-identical
    _write_corpus(spark, sf, _rows(range(24, 32), scale=50.0), mode="append")
    a2, c2 = kml_model(spark, sf, "tfz", build, k=3)
    cents2 = sorted((r.cluster_id, list(r.cvec)) for r in c2.collect())
    assert cents2 == cents1  # quantizer FROZEN across the append
    assign2 = {r.vec_id: r.cluster_id for r in a2.collect()}
    assert len(assign2) == 32
    for vid, cid in assign1.items():
        assert assign2[vid] == cid  # old rows keep exact assignments
    valid = {cid for cid, _ in cents1}
    for vid in range(24, 32):
        assert assign2[vid] in valid  # new rows routed through the model

    # third append chains off the LARGEST prior (the 32-row version)
    _write_corpus(spark, sf, _rows(range(32, 36)), mode="append")
    a3, c3 = kml_model(spark, sf, "tfz", build, k=3)
    assert sorted((r.cluster_id, list(r.cvec)) for r in c3.collect()) == cents1
    assign3 = {r.vec_id: r.cluster_id for r in a3.collect()}
    assert len(assign3) == 36
    for vid, cid in assign2.items():
        assert assign3[vid] == cid


def test_kmh_append_keeps_composite_ids(spark, tmp_path, monkeypatch):
    sf = _fresh(tmp_path, monkeypatch, "sfH")
    _write_corpus(spark, sf, _rows(range(30)))
    build = lambda: emb_full(spark, sf)
    a1 = kmh_assign(spark, sf, "tfz", build, k=6)
    assign1 = {r.vec_id: r.cluster_id for r in a1.collect()}
    assert len(assign1) == 30
    # the model memos published alongside the assignments
    memo_root = os.environ["SPARK_GRAFT_CC_MEMO_DIR"]
    published = os.listdir(memo_root)
    assert any("kmh_tfz_k6i2_ccents" in e for e in published)
    assert any("kmh_tfz_k6i2_fcents" in e for e in published)

    _write_corpus(spark, sf, _rows(range(30, 40), scale=25.0), mode="append")
    a2 = kmh_assign(spark, sf, "tfz", build, k=6)
    assign2 = {r.vec_id: r.cluster_id for r in a2.collect()}
    assert len(assign2) == 40
    for vid, cid in assign1.items():
        assert assign2[vid] == cid  # composite ids frozen for old rows
    assert all(vid in assign2 for vid in range(30, 40))


def test_kmg_append_freezes_fine_centroids(spark, tmp_path, monkeypatch):
    sf = _fresh(tmp_path, monkeypatch, "sfG")
    _write_corpus(spark, sf, _rows(range(20)))

    from data_ingestion_auto_spark.operators.ivf import quantize

    def sub():
        q = quantize(emb_full(spark, sf))
        return q.select(
            F.col("vec_id").alias("rid"),
            (F.col("vec_id") % 2).cast("int").alias("group_id"),
            "qvec",
        )

    codes1, cents1 = kmg_model(spark, sf, "tfz", sub, k_per_group=2)
    c1 = sorted(
        (r.group_id, r.fine_id, list(r.cvec)) for r in cents1.collect()
    )
    m1 = {r.rid: (r.group_id, r.fine_id) for r in codes1.collect()}
    assert len(m1) == 20

    _write_corpus(spark, sf, _rows(range(20, 28), scale=40.0), mode="append")
    codes2, cents2 = kmg_model(spark, sf, "tfz", sub, k_per_group=2)
    c2 = sorted(
        (r.group_id, r.fine_id, list(r.cvec)) for r in cents2.collect()
    )
    assert c2 == c1  # per-group codebook FROZEN
    m2 = {r.rid: (r.group_id, r.fine_id) for r in codes2.collect()}
    assert len(m2) == 28
    for rid, code in m1.items():
        assert m2[rid] == code
