"""Focused pins for the round-14 optimization internals: each test pins
an equivalence claim an optimization relies on, on inputs small enough
to brute-force."""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cc_frontier_shapes_identical(spark):
    """Frontier-filtered connected components must return the identical
    label table at every (hops, jumps) round shape — semi-naive
    evaluation of the monotone min recursion is exact, not a heuristic.
    The graph mixes a long chain (frontier shrinks to the advancing
    min), a triangle, and isolated pairs."""
    from data_ingestion_auto_spark.operators import dedup as D

    edges = (
        [(i, i + 1) for i in range(20, 40)]  # 20-link chain
        + [(1, 2), (2, 3), (1, 3)]  # triangle
        + [(50, 51), (60, 61)]  # islands
    )
    pairs = spark.createDataFrame(edges, "a long, b long")
    ref = None
    for h, j in ((5, 1), (3, 3), (1, 0), (4, 2)):
        out = sorted(
            (r["node"], r["component"])
            for r in D.connected_components(
                pairs, hops_per_round=h, jumps_per_round=j, max_iter=40
            ).collect()
        )
        if ref is None:
            ref = out
        assert out == ref
    # ground truth: chain -> 20, triangle -> 1, islands -> 50/60
    truth = {n: 20 for n in range(20, 41)}
    truth.update({1: 1, 2: 1, 3: 1, 50: 50, 51: 50, 60: 60, 61: 60})
    assert dict(ref) == truth


def test_sql_str_literal_roundtrips_both_parser_modes(spark):
    """The VALUES-literal escaping must survive BOTH parser modes
    (ADVICE r13): default mode backslash-escapes, legacy
    escapedStringLiterals takes backslashes raw."""
    from data_ingestion_auto_spark.plans.tokenizer import _sql_str_literal

    cases = ["plain", "it's", "back\\slash", "both\\'s", "\\\\double", "tick''s"]
    prior = spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
    try:
        for mode in ("false", "true"):
            spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
            legacy = mode == "true"
            for s in cases:
                got = spark.sql(
                    f"SELECT {_sql_str_literal(s, legacy)} AS v"
                ).collect()[0]["v"]
                assert got == s, (mode, s, got)
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", prior)


def test_sort_small_call_sites_are_pinned():
    """sort_small funnels its whole input through ONE task — safe only
    for outputs bounded by construction (ADVICE r13). Pin the call sites
    so a data-sized caller can't slip in silently: additions must be
    reviewed against the bounded-output contract and added here."""
    import re
    import subprocess

    out = subprocess.run(
        ["grep", "-rn", r"sort_small(", os.path.join(REPO, "data_ingestion_auto_spark")],
        capture_output=True,
        text=True,
    ).stdout
    files = sorted(
        {
            os.path.relpath(line.split(":", 1)[0], REPO)
            for line in out.splitlines()
            if line.strip() and "def sort_small" not in line
        }
    )
    allowed = {
        "data_ingestion_auto_spark/plans/binary_decode.py",  # fixed raster dims
        "data_ingestion_auto_spark/plans/contour.py",  # fixed-grid segment inventory
        "data_ingestion_auto_spark/plans/helpers.py",  # the definition module
        "data_ingestion_auto_spark/plans/warp.py",  # fixed output grids
        "data_ingestion_auto_spark/plans/warp_kernels.py",  # fixed output grids
    }
    assert set(files) <= allowed, f"unreviewed sort_small call sites: {files}"


def test_assign_grouped_matches_window_argmin(spark):
    """The grouped argmin's min over struct(dist2 IS NULL, dist2,
    fine_id, ...) must replay the old row_number window's
    (asc_nulls_last(dist2), fine_id) order — including a MIXED-null
    group (one fine centroid with a NULL dimension poisons only its own
    dist², so the leading null flag is load-bearing)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_ingestion_auto_spark.operators.ivf import _DIST2, _assign_df

    vectors = spark.createDataFrame(
        [(1, 0, [1, 2]), (2, 0, [9, 9]), (3, 1, [5, 5])],
        "vec_id long, group_id int, qvec array<bigint>",
    )
    # group 0: fine 0 has a NULL dimension (dist² NULL for every vector
    # probing it), fine 1 is sane — the window ranks fine 1 first, and
    # so must the min-struct; group 1: exact tie on dist² breaks to the
    # smaller fine_id.
    centroids = spark.createDataFrame(
        [(0, 0, [None, 2]), (0, 1, [1, 2]), (1, 0, [5, 6]), (1, 1, [5, 4])],
        "group_id int, fine_id int, cvec array<bigint>",
    )
    got = sorted(tuple(r) for r in _assign_df(vectors, centroids, "vec_id").collect())
    d = vectors.join(centroids, "group_id").withColumn(
        "dist2", F.expr(_DIST2.format(a="qvec", b="cvec"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc_nulls_last("dist2"), "fine_id")
    ref = sorted(
        tuple(r)
        for r in d.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("vec_id", "group_id", "qvec", "fine_id", "dist2")
        .collect()
    )
    assert got == ref
    # and the NULL-dimension centroid never wins while a sane one exists
    by_id = {r[0]: r for r in got}
    assert by_id[1][3] == 1 and by_id[2][3] == 1  # group-0 vectors -> fine 1
    assert by_id[3][3] == 0  # tie in group 1 -> smaller fine_id


def test_min_struct_top1_matches_window(spark):
    """top_ngram_char_fraction's argmin fold: min over
    struct(-c, bigram) must equal row_number over (c DESC, bigram ASC)
    including exact count ties."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    rows = [
        (1, "aa", 3), (1, "ab", 3), (1, "zz", 5),
        (2, "mm", 1), (2, "aa", 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, bigram string, c long")
    w = W.partitionBy("doc_id").orderBy(F.col("c").desc(), "bigram")
    via_window = {
        (r["doc_id"], r["bigram"], r["c"])
        for r in df.withColumn("rn", F.row_number().over(w)).filter("rn = 1").collect()
    }
    via_min = {
        (r["doc_id"], r["t"]["bigram"], r["t"]["c"])
        for r in df.groupBy("doc_id")
        .agg(F.min(F.struct((-F.col("c")).alias("negc"), "bigram", "c")).alias("t"))
        .collect()
    }
    assert via_window == via_min == {(1, "zz", 5), (2, "aa", 1)}
