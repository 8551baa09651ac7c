"""IVF (inverted-file) ANN tier: k-means-lite coarse quantizer + cluster
probing — the third rung of the similarity ladder (brute-force → LSH
buckets → IVF), for when bucket occupancy needs to follow the data
distribution instead of fixed hyperplanes.

Spark-first shape:

- vectors are integer-quantized once (×10⁴, the same quantization as the
  cosine queries) so every distance/centroid computation is exact bigint
  arithmetic — k-means on floats is reduce-order nondeterministic across
  runs/engines, k-means on ints is bit-stable anywhere;
- each Lloyd iteration is: one map-side nearest-centroid assignment
  against the k centroids inlined as literals (zip_with/aggregate —
  built-ins, no UDF, no exchange), one wide (cluster) aggregation;
  centroids (k×dim ints — index METADATA, not data) come back to the
  driver exactly like any ML model state;
- one routing rule: every nearest-centroid pick — training, frozen-model
  appends, the grouped fine level — orders candidates by the same
  `_argmin_key`, so a vector appended under frozen centroids lands where
  training would have put it;
- probing: a query searches only its ``nprobe`` nearest clusters — the
  candidate join is an equi-join on cluster id, linear in corpus size.

The algorithm is iterative, so there is no SQL oracle (rows-only at the
gate); correctness is pinned by tests/test_ivf.py (recall vs brute force,
run-to-run determinism, centroid-update exactness).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..checkpoints import ckpt, ckpt_local

# TRY_CAST, not CAST (review r11): Spark 4 runs ANSI mode by default, so
# a single NaN/Infinity component in one upstream embedding would
# otherwise throw CAST_INVALID_INPUT and kill the whole build/ingest job.
# A non-finite component quantizes to NULL; NULL poisons that vector's
# dist²/norm, which ranks it LAST (the NULL flag leading `_argmin_key`,
# NULL-guarded cosine below) instead of crashing the pipeline.
_QUANT = "transform({col}, x -> TRY_CAST(round(CAST(x AS DOUBLE) * 10000.0) AS BIGINT))"
_DIST2 = "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
_DOT = "aggregate(zip_with(qq, qvec, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
_NRM = "aggregate({v}, 0L, (acc, x) -> acc + x * x)"


def quantize(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    return emb.select(F.col(id_col), F.expr(_QUANT.format(col=vec_col)).alias("qvec"))


def cent_df(spark, cent_rows) -> DataFrame:
    """Driver-held centroid rows → a JVM-side VALUES-literal DataFrame.
    A local-list ``createDataFrame`` is backed by a Python RDD: every
    job that touches it (each Lloyd iteration's broadcast, every model
    memo write) forks Python workers — measured at 2-6 s of pure
    startup latency per tiny write on the round-13 host, which
    dominated the cold memo-build bill. A VALUES literal plans as a
    LocalTableScan: zero Python workers, same rows, same schema. k×dim
    ints is bounded model state, well under any SQL-length concern."""
    if not cent_rows:
        return spark.createDataFrame([], "cluster_id int, cvec array<bigint>")
    vals = ", ".join(
        f"(CAST({int(cid)} AS INT), CAST(array({','.join(str(int(v)) for v in vec)}) AS array<bigint>))"
        for cid, vec in cent_rows
    )
    return spark.sql(f"SELECT cluster_id, cvec FROM (VALUES {vals}) AS t(cluster_id, cvec)")


def _argmin_key(dist2: Column, cid: Column, *payload: Column) -> Column:
    """The ONE nearest-centroid ordering: struct(dist2 IS NULL, dist2,
    cid, *payload), compared field by field. A NULL dist² — a non-finite
    vector, a centroid with a NULL dimension, or a centroid shorter than
    the vector (zip_with pads with NULL) — ranks after every real
    distance, and exact ties break to the smallest centroid id. (dist2,
    cid) is unique per vector, so trailing payload never decides.
    `_assign_lit` folds these keys with least(), `_assign_df` with min();
    training and every frozen-model append therefore route a vector to
    the same centroid. Pass ``dist2`` as an already-projected column: the
    key reads it twice, and an inlined lambda expression would be
    evaluated twice."""
    return F.struct(
        dist2.isNull().alias("isnul"), dist2.alias("dist2"), cid.alias("cid"), *payload
    )


def _assign_df(vectors: DataFrame, centroids: DataFrame, id_col: str) -> DataFrame:
    """Nearest centroid per vector against a centroid DATAFRAME (stored
    centroid tables, frozen models read from parquet, the distributed
    fine centroids of `kmeans_grouped`), picked by `_argmin_key`.

    - Flat model (cluster_id, cvec): a broadcast crossJoin of the k
      centroids. Returns (id, qvec, cluster_id, dist2).
    - Grouped model (group_id, fine_id, cvec): an equi-join on group_id,
      so each vector meets only its own group's fine centroids and
      nothing is collected to the driver. Returns (id, group_id, qvec,
      fine_id, dist2).

    The argmin is a partial-aggregable min() over the key: map-side
    partial aggregation ships one candidate per vector per task instead
    of shuffling all n×k joined rows into a window."""
    if "group_id" in centroids.columns:
        cid, carry = "fine_id", ["group_id", "qvec"]
        d = vectors.join(centroids, "group_id")
    else:
        cid, carry = "cluster_id", ["qvec"]
        d = vectors.crossJoin(F.broadcast(centroids))
    d = d.withColumn("_d2", F.expr(_DIST2.format(a="qvec", b="cvec")))
    key = _argmin_key(F.col("_d2"), F.col(cid), *map(F.col, carry))
    best = d.groupBy(id_col).agg(F.min(key).alias("b"))
    return best.select(
        id_col,
        *[F.col(f"b.{c}") for c in carry],
        F.col("b.cid").alias(cid),
        F.col("b.dist2"),
    )


def _assign_lit(vectors: DataFrame, cent_rows, id_col: str) -> DataFrame:
    """`_assign_df` for DRIVER-HELD centroids: the k×dim model is inlined
    as literal arrays, so nearest-centroid is map-side PROJECTION only —
    the k dist², then least() over their `_argmin_key` structs — with no
    join and no exchange on ``id_col``. Every Lloyd iteration of
    `kmeans_lite` runs through it. Returns (id, qvec, cluster_id, dist2)."""
    if not cent_rows:  # an empty corpus trains an empty model: no rows
        return _assign_df(vectors, cent_df(vectors.sparkSession, cent_rows), id_col)
    d2 = [
        F.expr(_DIST2.format(a="qvec", b=f"array({','.join(f'{int(v)}L' for v in vec)})"))
        .alias(f"_d{i}")
        for i, (_, vec) in enumerate(cent_rows)
    ]
    keys = [
        _argmin_key(F.col(f"_d{i}"), F.lit(int(cid)).cast("int"))
        for i, (cid, _) in enumerate(cent_rows)
    ]
    best = F.least(*keys) if len(keys) > 1 else keys[0]
    return (
        vectors.select(id_col, "qvec", *d2)
        .select(id_col, "qvec", best.alias("_best"))
        .select(
            id_col,
            "qvec",
            F.col("_best.cid").alias("cluster_id"),
            F.col("_best.dist2").alias("dist2"),
        )
    )


def _route_probe_rank(
    queries: DataFrame,
    lists: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    topk: int,
    id_col: str,
    broadcast_probes: bool,
) -> DataFrame:
    """The shared route → probe → cosine → rank block (review r11:
    previously duplicated between ivf_topk and probe_ivf_index, so a
    cosine fix had to land twice). ``queries`` is (query_id, qq);
    ``lists`` is the candidate side (id_col, qvec, cluster_id).

    Zero-norm guard: an all-zero (or NULL-poisoned non-finite) vector
    has no defined cosine — 0/0 would be NaN, and Spark sorts NaN ABOVE
    every number, so a degenerate stored vector would rank #1 for every
    query probing its cluster. The cosine is therefore NULL unless both
    norms are positive, and DESC ordering puts NULLs last."""
    qc = queries.crossJoin(F.broadcast(centroids)).withColumn(
        "dist2", F.expr(_DIST2.format(a="qq", b="cvec"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc_nulls_last("dist2"), "cluster_id")
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qq", "cluster_id")
    )
    if broadcast_probes:
        probes = F.broadcast(probes)
    nrm_q = F.expr(_NRM.format(v="qq"))
    nrm_c = F.expr(_NRM.format(v="qvec"))
    cand = (
        lists.join(probes, "cluster_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("cand_id"),
            F.when(
                (nrm_q > 0) & (nrm_c > 0),
                F.round(F.expr(_DOT) / (F.sqrt(nrm_q) * F.sqrt(nrm_c)), 6),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "cand_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


def _max_dim(vectors: DataFrame) -> int:
    """The longest quantized vector in the training data (0 if empty):
    the width `_centroid_means` averages over."""
    return vectors.agg(F.max(F.size("qvec"))).first()[0] or 0


def _centroid_means(assigned: DataFrame, keys: list[str], dim: int) -> DataFrame:
    """New centroid per ``keys`` group = per-dimension integer mean of its
    member vectors. ``sum div count`` stays in BIGINT end-to-end — a
    DOUBLE division then truncation would lose exactness once a
    cluster's per-dimension sum exceeds 2^53, breaking the
    bit-determinism claim (round-2 advice).

    ``dim`` is the longest training vector (``max(size(qvec))`` over the
    data, never the init rows), so no member dimension is dropped. The
    means run as ``dim`` WIDE aggregates in ONE groupBy: map-side
    partial aggregation, a single exchange of groups×dim partial states.
    try_element_at is NULL past a short member's end and at a NULL
    element, and sum/count skip NULLs, so each mean covers exactly the
    members that carry that dimension; the array is cut to the group's
    own longest member, and a group whose members are all NULL vectors
    (no size) drops out."""
    aggs = [
        F.expr(
            f"sum(try_element_at(qvec, {i + 1})) div count(try_element_at(qvec, {i + 1}))"
        ).alias(f"_c{i}")
        for i in range(dim)
    ]
    arr = ",".join(f"_c{i}" for i in range(dim))
    return (
        assigned.groupBy(*keys)
        .agg(F.expr("max(size(qvec))").alias("_msz"), *aggs)
        .filter(F.col("_msz").isNotNull())
        .select(*keys, F.expr(f"slice(array({arr}), 1, _msz)").alias("cvec"))
    )


def kmeans_lite(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list]:
    """Deterministic Lloyd iterations over quantized vectors. Init:
    centroids = the k smallest ids (deterministic, engine-independent).
    Returns (assignments DataFrame, centroid rows list). Centroids are
    collected per iteration (k×dim ints) and re-broadcast — bounded model
    state, the same pattern as MLlib's driver-held coefficients."""
    spark = emb.sparkSession
    # Materialize the quantized vectors ONCE: the init collect, the dim
    # probe, every Lloyd iteration's assignment and the final one all
    # consume this subtree, and without truncation each re-executes the
    # scan+quantize DAG (round-3 verdict). localCheckpoint, not persist:
    # lineage truncation also keeps the per-iteration plan flat. On a
    # real cluster use a reliable checkpoint() dir so executor loss can't
    # drop blocks mid-iteration.
    #
    # The cut and its dim are shared PER (session, input frame) within
    # this process (optimization r14): three model variants train on the
    # identical embeddings frame, and each paid its own quantize+checkpoint
    # job — same-invocation amortization only (the cache dies with the
    # session object; nothing persists across runs). The key is the
    # frame's 32-bit semantic hash; a hit is reused only if the cached
    # input frame is semantically the same plan, so a hash collision
    # recomputes instead of training on another corpus.
    cache = getattr(spark, "_graft_quant_cache", None)
    if cache is None:
        cache = {}
        spark._graft_quant_cache = cache
    key = (id_col, vec_col, emb.semanticHash())
    hit = cache.get(key)
    if hit is not None and hit[0].sameSemantics(emb):
        _, vectors, dim = hit
    else:
        vectors = ckpt(quantize(emb, id_col, vec_col))
        dim = _max_dim(vectors)
        cache[key] = (emb, vectors, dim)
    init = (
        vectors.orderBy(id_col)
        .limit(k)
        .collect()
    )
    cent_rows = [(i, list(r["qvec"])) for i, r in enumerate(init)]
    for _ in range(iters):
        assigned = _assign_lit(vectors, cent_rows, id_col)
        cent_rows = sorted(
            (r["cluster_id"], list(r["cvec"]))
            for r in _centroid_means(assigned, ["cluster_id"], dim).collect()
        )
    return _assign_lit(vectors, cent_rows, id_col), cent_rows


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    topk: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: queries (the ``n_queries`` smallest ids) search only
    their ``nprobe`` nearest clusters; exact quantized cosine ranks the
    candidates. Output: (query_id, cand_id, cosine, rank)."""
    spark = emb.sparkSession
    assigned, cent_rows = kmeans_lite(emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    centroids = cent_df(spark, cent_rows)

    queries = assigned.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("qq")
    )
    return _route_probe_rank(
        queries, assigned, centroids, nprobe, topk, id_col, broadcast_probes=True
    )


# ---------------------------------------------------------------------------
# Stored IVF index — the production incremental-ANN path (round-9 verdict
# #5: the embedding twin of operators/dedup.py::write_band_index /
# probe_band_index). `plans/ann_incremental.py::incremental_ann_assign` is
# the oracled query twin; these are the operators a real pipeline calls.


def write_ivf_index(
    emb: DataFrame,
    table: str,
    k: int = 8,
    iters: int = 2,
    buckets: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    path: str | None = None,
) -> None:
    """Train the deterministic k-means-lite quantizer on the corpus and
    materialize the IVF index: assignments (id, qvec, cluster_id) as a
    parquet table BUCKETED on cluster_id (every future probe equi-joins
    the lists with zero Exchange on this side), centroids as the
    companion ``{table}_centroids`` table (k×dim ints — model state,
    list-sized, broadcast by every probe).

    At 100 TB: the index is corpus-sized but writing it costs one
    shuffle; probes and appends afterwards never retrain or reshuffle it
    (the IVF contract: centroids are frozen until an explicit rebuild,
    exactly like Faiss's add-after-train)."""
    spark = emb.sparkSession
    assigned, cent_rows = kmeans_lite(emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    writer = (
        assigned.select(id_col, "qvec", "cluster_id")
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(buckets, "cluster_id")
        .sortBy("cluster_id", id_col)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
    cw = cent_df(spark, cent_rows).coalesce(1).write.format("parquet").mode("overwrite")
    if path is not None:
        cw = cw.option("path", path + "_centroids")
    cw.saveAsTable(f"{table}_centroids")


def probe_ivf_index(
    spark,
    batch_emb: DataFrame,
    table: str,
    nprobe: int = 2,
    topk: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search an arriving batch against the STORED IVF index: broadcast
    the stored centroids (bounded model state), coarse-route each batch
    vector to its ``nprobe`` nearest lists, exact quantized cosine
    against the stored list members only, keep ``topk``. Self-matches
    are excluded (``cand_id != query_id``) so probing a batch that was
    already appended is idempotent — the same contract as
    ``probe_band_index``.

    Plan shape (machine-pinned in tests/test_ivf_index.py): the index
    side is a bare bucketed scan on cluster_id with NO Exchange;
    per-probe cost is O(batch·k) routing + O(probed-list rows) ADC —
    independent of corpus size outside the probed lists."""
    centroids = spark.table(f"{table}_centroids").select(
        "cluster_id", F.col("cvec")
    )
    q = quantize(batch_emb, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("qq")
    )
    ranked = _route_probe_rank(
        q, spark.table(table), centroids, nprobe, topk, id_col,
        broadcast_probes=False,  # the pinned bucketed-scan plan relies on
        # the optimizer (not a hint) choosing the probe side as build
    )
    return ranked.select(
        "query_id", "cand_id", "cosine", F.col("rank").cast("int").alias("rank")
    ).orderBy("query_id", "rank")


def append_to_ivf_index(
    spark,
    batch_emb: DataFrame,
    table: str,
    buckets: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Add a new batch to the stored index WITHOUT retraining: route the
    batch through the FROZEN stored centroids (broadcast, map-side) and
    append the routed (id, qvec, cluster_id) rows. Idempotent: ids
    already stored are dropped first (one anti-join against the stored
    id column — ids are unique per vector, so this is the whole key).
    Centroid staleness is the standard IVF trade: lists drift as the
    corpus grows until an explicit ``write_ivf_index`` rebuild, which is
    the Faiss add-vs-retrain contract.

    Scale (review r11): the admission anti-join must NOT shuffle the
    corpus-sized stored id column per epoch. Routing is deterministic
    under the frozen centroids, so a previously stored copy of an id
    lives in the SAME cluster the batch routes it to — the stored side
    is first restricted to the batch's routed cluster_ids (a broadcast
    semi-filter over the bucketed scan), making the anti-join
    probed-list-sized, corpus-size-independent."""
    centroids = spark.table(f"{table}_centroids")
    routed = ckpt_local(  # read twice: cluster set + admission/append
        _assign_df(quantize(batch_emb, id_col, vec_col), centroids, id_col).select(
            id_col, "qvec", "cluster_id"
        )
    )
    batch_clusters = routed.select("cluster_id").distinct()
    stored_ids = (
        spark.table(table)
        .join(F.broadcast(batch_clusters), "cluster_id")
        .select(id_col)
    )
    fresh = routed.join(stored_ids, [id_col], "left_anti")
    (
        fresh.write.format("parquet")
        .mode("append")
        .bucketBy(buckets, "cluster_id")
        .sortBy("cluster_id", id_col)
        .saveAsTable(table)
    )


def retire_from_ivf_index(
    spark,
    table: str,
    retired: DataFrame,
    id_col: str = "vec_id",
    buckets: int = 16,
    path: str | None = None,
) -> None:
    """Retention for the stored IVF index — the embedding twin of
    ``retire_from_band_index`` (operators/dedup.py), completing the
    index lifecycle symmetry: write / probe / append / retire on both
    the text tier and the embedding tier. Vectors deleted from the
    corpus must also leave the index, or probes keep returning ghosts
    as nearest neighbors forever (an ANN index has no capacity cap to
    reclaim, but ghost hits are worse than wasted space — they are
    WRONG answers).

    ``retired`` carries the ids to drop in ``id_col``. Compaction
    rewrites the survivors into the same cluster_id-bucketed layout, so
    the exchange-free probe plan and the frozen-centroid contract both
    survive; ``{table}_centroids`` is deliberately untouched (the
    quantizer is model state — retiring vectors does not retrain it,
    exactly as appending does not; rebuild via ``write_ivf_index`` when
    drift warrants).

    Cost: one anti-join (retirement batch is broadcastable in any sane
    policy) + one index-sized rewrite through a lineage cut (reliable
    checkpoint when a dir is configured) so the overwrite never reads
    the files it replaces. Batch retirements, never per-vector — the
    same amortization contract as the band-index retire."""
    survivors = ckpt(
        spark.table(table).join(retired.select(F.col(id_col)), [id_col], "left_anti")
    )
    writer = (
        survivors.write.format("parquet")
        .mode("overwrite")
        .bucketBy(buckets, "cluster_id")
        .sortBy("cluster_id", id_col)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def kmeans_grouped(
    vectors: DataFrame,
    k_per_group: int,
    iters: int = 2,
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """Data-parallel k-means WITHIN each group of pre-grouped quantized
    vectors (``group_id``, ``qvec`` columns): the second level of the
    hierarchical (IVF-style) clustering used when total k scales with
    the corpus (SemDeDup's k ∝ n regime). Per Lloyd iteration the cost
    is Σ_g n_g·k_g = n·k_per_group — independent of the number of
    groups — versus flat k-means' n·k_total; with k_total ∝ n that is
    the difference between linear and quadratic total work.

    Same determinism contract as ``kmeans_lite``: init = each group's
    ``k_per_group`` smallest ids, the same `_argmin_key` assignment
    (via the grouped `_assign_df`) and the same `_centroid_means`
    update, keyed (group_id, fine_id). Empty fine clusters drop out of
    the update (same behavior as kmeans_lite's collected update).
    Returns ((id, group_id, qvec, fine_id, dist2) assignments, the
    final (group_id, fine_id, cvec) centroid DataFrame they were
    assigned against)."""
    wi = Window.partitionBy("group_id").orderBy(id_col)
    centroids = (
        vectors.withColumn("rn", F.row_number().over(wi))
        .filter(F.col("rn") <= k_per_group)
        .select(
            "group_id", (F.col("rn") - 1).cast("int").alias("fine_id"),
            F.col("qvec").alias("cvec"),
        )
        .transform(ckpt)
    )
    dim = _max_dim(vectors)
    for _ in range(iters):
        assigned = _assign_df(vectors, centroids, id_col)
        centroids = _centroid_means(assigned, ["group_id", "fine_id"], dim).transform(ckpt)
    return _assign_df(vectors, centroids, id_col), centroids


def kmeans_hierarchical(
    emb: DataFrame,
    k: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-level k-means for the k ∝ corpus regime: a coarse
    ``kmeans_lite`` pass with k1 ≈ √k (driver-held centroids, n·√k per
    iteration) routes each vector to a group, then ``kmeans_grouped``
    refines k2 = ⌈k/k1⌉ fine clusters inside every group (n·√k per
    iteration, centroids stay distributed). Total assignment work is
    n·O(√k) instead of flat k-means' n·k — at SemDeDup's deployment
    scale (k ∝ n) that is the difference between O(n^1.5) and O(n²)
    total work. Returns (id, cluster_id) with cluster_id = coarse·k2 +
    fine (stable composite id)."""
    return kmeans_hierarchical_model(emb, k, iters, id_col, vec_col)[0]


def hier_split(k: int) -> tuple[int, int]:
    """The (k1, k2) coarse/fine split for a hierarchical budget of k
    composite clusters — shared by training and the frozen-model
    assignment of appended rows (the composite id is group·k2 + fine,
    so k2 is part of the model's identity)."""
    import math

    k1 = max(2, int(math.isqrt(k)))
    k2 = max(2, math.ceil(k / k1))
    return k1, k2


def kmeans_hierarchical_model(
    emb: DataFrame,
    k: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list, DataFrame]:
    """`kmeans_hierarchical` exposing the trained MODEL alongside the
    assignments: (assign_df, coarse centroid rows, fine centroids
    DataFrame). The memo tier (plans/ann_memo.py) persists all three so
    a corpus APPEND can route new rows through the frozen model — flat
    then grouped `_assign_df` — instead of retraining (round-13; the
    same contract as `append_to_ivf_index`)."""
    k1, k2 = hier_split(k)
    coarse, coarse_cents = kmeans_lite(
        emb, k=k1, iters=iters, id_col=id_col, vec_col=vec_col
    )
    grouped = ckpt(coarse.select(
        id_col, F.col("cluster_id").alias("group_id"), "qvec"
    ))
    fine, fine_cents = kmeans_grouped(
        grouped, k_per_group=k2, iters=iters, id_col=id_col
    )
    assign = fine.select(
        id_col,
        "qvec",
        (F.col("group_id").cast("bigint") * k2 + F.col("fine_id")).alias("cluster_id"),
    )
    return assign, coarse_cents, fine_cents


def assign_hierarchical_frozen(
    vectors: DataFrame,
    coarse_cents: DataFrame,
    fine_cents: DataFrame,
    k: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign (id, qvec) rows under a FROZEN two-level model: the flat
    `_assign_df` routes each vector to its coarse group, the grouped
    `_assign_df` picks the fine cluster within that group, and the
    composite id uses the model's own k2 — bit-compatible with
    `kmeans_hierarchical_model`'s final assignment pass over the same
    rows."""
    _, k2 = hier_split(k)
    routed = _assign_df(vectors, coarse_cents, id_col).select(
        id_col, "qvec", F.col("cluster_id").alias("group_id")
    )
    fine = _assign_df(routed, fine_cents, id_col)
    return fine.select(
        id_col,
        "qvec",
        (F.col("group_id").cast("bigint") * k2 + F.col("fine_id")).alias("cluster_id"),
    )
