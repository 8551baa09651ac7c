"""Regression pins for the round-11 deep-review fixes: zero-norm /
non-finite vectors must never rank as nearest neighbors (NaN would sort
above every real cosine), quantize must survive NaN/Inf components under
Spark 4's default ANSI mode, and the CDC probe must stay type-generic over
doc_id. StateStore's concurrent-commit pin lives in test_state.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_auto_spark.operators import cdc_index as CI
from data_ingestion_auto_spark.operators import ivf as V


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_zero_norm_vector_never_ranks_first(spark):
    """A stored all-zero vector has no defined cosine: it must rank LAST
    (NULL cosine), not first (the NaN-sorts-high trap)."""
    emb = _emb(
        spark,
        [
            (0, [1.0, 0.0, 0.0, 0.0]),   # query
            (1, [0.9, 0.1, 0.0, 0.0]),   # true near neighbor
            (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
            (3, [0.0, 0.0, 0.0, 0.0]),   # degenerate zero vector
            (4, [0.5, 0.5, 0.0, 0.0]),
            (5, [-1.0, 0.0, 0.0, 0.0]),
        ],
    )
    out = V.ivf_topk(emb, n_queries=1, k=2, iters=1, nprobe=2, topk=5).collect()
    ranks = {r.cand_id: (r.rank, r.cosine) for r in out if r.query_id == 0}
    assert ranks[1][0] == 1  # the true neighbor wins
    if 3 in ranks:  # the zero vector, when probed, sits at the bottom
        assert ranks[3][0] == max(r for r, _ in ranks.values())
        assert ranks[3][1] is None


def test_non_finite_components_quantize_to_null_not_crash(spark):
    """Spark 4 runs ANSI by default: CAST(NaN AS BIGINT) would throw.
    try_cast nulls the component instead; the poisoned vector ranks last
    rather than killing the job."""
    emb = _emb(
        spark,
        [
            (0, [1.0, 0.0]),
            (1, [0.8, 0.1]),
            (2, [float("nan"), 1.0]),
            (3, [float("inf"), 0.0]),
        ],
    )
    q = V.quantize(emb).collect()
    by_id = {r.vec_id: list(r.qvec) for r in q}
    assert by_id[0] == [10000, 0]
    assert by_id[2][0] is None and by_id[2][1] == 10000
    assert by_id[3][0] is None
    # and the full probe pipeline still runs (no ANSI crash), with the
    # poisoned vectors never outranking the real neighbor
    out = V.ivf_topk(emb, n_queries=1, k=2, iters=1, nprobe=2, topk=3).collect()
    mine = sorted((r.rank, r.cand_id) for r in out if r.query_id == 0)
    assert mine[0][1] == 1


def test_cdc_probe_is_type_generic_over_string_ids(spark, tmp_path):
    """dup_of must preserve the corpus's id type (no bigint force-cast):
    a string-keyed corpus probes cleanly and owners resolve."""
    long_text = " ".join(f"w{i}" for i in range(60))
    corpus = spark.createDataFrame(
        [("doc-a", long_text)], "doc_id string, text string"
    )
    spark.sql("DROP TABLE IF EXISTS t_cdc_strid")
    CI.write_chunk_index(corpus, "t_cdc_strid", buckets=4, path=str(tmp_path / "ci"))
    batch = spark.createDataFrame(
        [("doc-b", "lead in words " + long_text), ("doc-c", "nothing shared here")],
        "doc_id string, text string",
    )
    rows = {r.doc_id: r for r in CI.probe_chunk_index(spark, batch, "t_cdc_strid").collect()}
    assert rows["doc-b"].is_dup and rows["doc-b"].dup_of == "doc-a"
    assert rows["doc-c"].dup_of == "doc-c"


def test_clamp_propagates_nan(spark):
    """numpy-clip semantics: NaN in, NaN out — not silently hi."""
    import math

    from data_ingestion_auto_spark.functions import clamp

    out = (
        spark.createDataFrame([(float("nan"),), (200.0,), (5.0,)], "v double")
        .select(clamp(F.col("v"), -180.0, 180.0).alias("c"))
        .collect()
    )
    vals = [r.c for r in out]
    assert math.isnan(vals[0]) and vals[1] == 180.0 and vals[2] == 5.0


def test_is_simple_detects_adjacent_retrace():
    """shapely parity: A->B->A' (collinear backtrack) is NOT simple."""
    import numpy as np

    from data_ingestion_auto_spark.operators.geometry import is_simple

    assert not is_simple(np.array([[0.0, 0.0], [2.0, 0.0], [1.0, 0.0]]))
    assert is_simple(np.array([[0.0, 0.0], [2.0, 0.0], [3.0, 0.0]]))  # extension ok
    assert is_simple(np.array([[0.0, 0.0], [2.0, 0.0], [2.0, 1.0]]))  # turn ok


def test_contour_levels_are_exact_multiples():
    """Non-binary intervals: levels come from k*interval, so no drift and
    no spurious ~max level from accumulated float addition."""
    import numpy as np
    import pandas as pd

    from data_ingestion_auto_spark.operators.contour import _contour_group

    rows = [("t", "2024-01-01", y, x, float(y) / 4.0) for y in range(5) for x in range(3)]
    pdf = pd.DataFrame(rows, columns=["variable", "time", "y", "x", "value"])
    out = _contour_group(pdf, interval=0.1)
    levels = sorted(set(out["level_value"]))
    assert levels == [k * 0.1 for k in range(1, 10)]  # exact doubles, 0.1..0.9
    assert not any(abs(l - 1.0) < 1e-9 and l != 1.0 for l in levels)


def test_multi_level_grid_normals_do_not_contaminate(spark):
    """level joins the climatology keys (null-safely in the join): a
    two-level grid gets per-level normals and anomalies."""
    from data_ingestion_auto_spark.operators.grid import anomaly_join, climatology_normal

    rows = [
        ("ns", "t", "2024-01-05", 500, 0, 0, 10.0),
        ("ns", "t", "2025-01-05", 500, 0, 0, 20.0),
        ("ns", "t", "2024-01-05", None, 0, 0, 100.0),
        ("ns", "t", "2025-01-05", None, 0, 0, 200.0),
    ]
    grid = spark.createDataFrame(
        rows,
        "namespace string, variable string, time string, level int, y int, x int, value double",
    ).withColumn("time", F.to_timestamp("time"))
    normal = climatology_normal(grid, "t")
    n = {(r.level, r.moy): r.normal for r in normal.collect()}
    assert n[(500, 1)] == 15.0 and n[(None, 1)] == 150.0  # per-level, not blended
    cur = grid.filter(F.year("time") == 2025)
    # null-safe level join: the surface (NULL-level) row keeps its anomaly
    got = sorted(r.anomaly for r in anomaly_join(cur, normal).collect())
    assert got == [5.0, 50.0]
