"""Workload ``corpus_refresh``: stored index tiers refreshed by streams.

Set-up builds the four stored indexes (``write_band_index``,
``write_ivf_index``, ``write_chunk_index``, ``write_postings_index``) from a
seeded ~80 % split of a generated corpus, then runs one untimed round on
one file and one untimed poll round. The held-out ~20 % of the documents and embeddings arrives as
files, ``files_per_round`` at a time; each round runs the dedup, ANN, CDC and search ingest streams
(``streaming.incremental.start_*_ingest_stream``, ``availableNow``, one
file per trigger) one after the other until each has drained the new
files. Every epoch probes the stored index (a read) and appends to it (a
write).

After the refresh rounds come poll rounds: every tier's stream is started
with no new file, the streaming analogue of a skip tick.

Op = one micro-batch (``triggerExecution`` from ``recentProgress``); poll
= one stream start with nothing new, to termination; item = one arriving
row (a document or a vector), counted per tier.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen

SIZES = {
    "full": {"docs": 1000, "vecs": 1000, "arrive_share": 0.2, "files": 20, "files_per_round": 2},
    "smoke": {"docs": 120, "vecs": 120, "arrive_share": 0.25, "files": 6, "files_per_round": 2},
}
BUCKETS = 8
TERMS = ("spark", "window", "dup")
DOC_SCHEMA = "doc_id long, text string"
EMB_SCHEMA = "vec_id long, embedding array<float>"
TIERS = ("dedup", "ann", "cdc", "search")
MIN_POLL_ROUNDS = 8  # polls take ~40 ms each; a few more than the time allows steady their median
STREAM_TIMEOUT_S = 60  # one availableNow run drains at most two files


def _split(rng, cols: dict, share: float):
    n = len(cols[next(iter(cols))])
    arrive = np.zeros(n, bool)
    arrive[rng.choice(n, int(n * share), replace=False)] = True
    table = pa.table(cols)
    return table.filter(pa.array(~arrive)), table.filter(pa.array(arrive))


def prepare(ctx, rep: int) -> dict:
    """The corpus, its bootstrap/arrival split and the arrival files."""
    size = SIZES[ctx.size]
    base = os.path.join(ctx.root, f"corpus{rep}")
    rng = np.random.default_rng([ctx.seed, 3])
    docs = gen.documents(rng, size["docs"])
    boot_docs, new_docs = _split(rng, {"doc_id": docs["doc_id"], "text": docs["text"]}, size["arrive_share"])
    vecs = gen.embeddings(rng, size["vecs"])
    boot_vecs, new_vecs = _split(rng, {"vec_id": vecs["vec_id"], "embedding": vecs["embedding"]},
                                 size["arrive_share"])
    d = {k: os.path.join(base, k) for k in ("vault_docs", "vault_vecs", "src_docs", "src_vecs", "out", "ckpt")}
    for p in d.values():
        os.makedirs(p, exist_ok=True)
    pq.write_table(boot_docs, os.path.join(base, "boot_docs.parquet"))
    pq.write_table(boot_vecs, os.path.join(base, "boot_vecs.parquet"))
    file_rows = {"docs": [], "vecs": []}
    for kind, table in (("docs", new_docs), ("vecs", new_vecs)):
        for i, part in enumerate(np.array_split(np.arange(table.num_rows), size["files"])):
            pq.write_table(table.take(pa.array(part)), os.path.join(d[f"vault_{kind}"], f"f{i:03d}.parquet"))
            file_rows[kind].append(len(part))

    return {"base": base, "dirs": d, "size": size, "tables": {t: f"pb_{t}_{rep}" for t in TIERS},
            "boot_docs": boot_docs.num_rows, "boot_vecs": boot_vecs.num_rows, "file_rows": file_rows,
            "released": 0, "progress": {t: [] for t in TIERS}, "wall": {t: [] for t in TIERS},
            "run_ids": {t: set() for t in TIERS}}


def warm(ctx, st: dict) -> None:
    """Build the four stored indexes, then one untimed round (the first
    epochs pay stream start-up and codegen)."""
    from data_ingestion_auto_spark.operators import cdc_index as CI
    from data_ingestion_auto_spark.operators import dedup as D
    from data_ingestion_auto_spark.operators import ivf as V
    from data_ingestion_auto_spark.operators import postings as P

    spark, tr, base, tables = ctx.spark, ctx.tracer, st["base"], st["tables"]
    boot_d = spark.read.parquet(os.path.join(base, "boot_docs.parquet"))
    boot_v = spark.read.parquet(os.path.join(base, "boot_vecs.parquet"))
    build_s = st["build_s"] = {}

    def build(name, fn, *a, **kw):
        t0 = time.perf_counter()
        with tr.span(name, "operators"):
            fn(*a, **kw)
        build_s[name] = time.perf_counter() - t0

    build("write_band_index", D.write_band_index,
          D.band_signature(D.minhash_signature(D.shingles(boot_d, distinct=False))), tables["dedup"],
          buckets=BUCKETS)
    build("write_ivf_index", V.write_ivf_index, boot_v, tables["ann"], buckets=BUCKETS)
    build("write_chunk_index", CI.write_chunk_index, boot_d, tables["cdc"], buckets=BUCKETS)
    build("write_postings_index", P.write_postings_index, boot_d, tables["search"], buckets=BUCKETS)
    _round(ctx, st, 1)
    t0 = time.perf_counter()
    _drain(ctx, st, {t: [] for t in TIERS})
    st["warm_poll_s"] = time.perf_counter() - t0


def _release(st: dict, files: int) -> int:
    d, n = st["dirs"], 0
    for _ in range(files):
        i = st["released"]
        if i >= st["size"]["files"]:
            break
        for kind in ("docs", "vecs"):
            name = f"f{i:03d}.parquet"
            os.replace(os.path.join(d[f"vault_{kind}"], name), os.path.join(d[f"src_{kind}"], name))
        st["released"] += 1
        n += 1
    return n


def _round(ctx, st: dict, files: int) -> float:
    """Release the next files, then drain them through each tier's stream;
    returns the round's wall (0 when no file was left)."""
    t0 = time.perf_counter()
    if not _release(st, files):
        return 0.0
    _drain(ctx, st, st["wall"])
    return time.perf_counter() - t0


def _drain(ctx, st: dict, walls: dict) -> None:
    """Run each tier's stream (``availableNow``) until it has processed
    every released file; with nothing new, each start is one poll."""
    from data_ingestion_auto_spark.streaming import incremental as S

    spark, d, tabs = ctx.spark, st["dirs"], st["tables"]

    def stream(kind, schema):
        return (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
                .parquet(d[f"src_{kind}"]))

    out, ck = d["out"], d["ckpt"]
    starts = {
        "dedup": lambda: S.start_dedup_ingest_stream(
            spark, stream("docs", DOC_SCHEMA), tabs["dedup"], f"{out}/dedup", f"{ck}/dedup", buckets=BUCKETS),
        "ann": lambda: S.start_ann_ingest_stream(
            spark, stream("vecs", EMB_SCHEMA), tabs["ann"], f"{out}/ann", f"{ck}/ann", buckets=BUCKETS),
        "cdc": lambda: S.start_cdc_ingest_stream(
            spark, stream("docs", DOC_SCHEMA), tabs["cdc"], f"{out}/cdc", f"{ck}/cdc", buckets=BUCKETS),
        "search": lambda: S.start_search_ingest_stream(
            spark, stream("docs", DOC_SCHEMA), tabs["search"], TERMS, f"{out}/search", f"{ck}/search",
            buckets=BUCKETS),
    }
    for tier, start in starts.items():
        t0 = time.perf_counter()
        with ctx.tracer.span(tier, "streaming"):
            q = start()
            if not q.awaitTermination(STREAM_TIMEOUT_S):
                q.stop()
                raise TimeoutError(f"{tier} stream did not drain within {STREAM_TIMEOUT_S} s")
        walls[tier].append(time.perf_counter() - t0)
        if q.exception() is not None:
            raise RuntimeError(f"{tier} stream failed: {q.exception()}")
        st["run_ids"][tier].add(str(q.runId))
        st["progress"][tier].extend(_progress(p) for p in q.recentProgress)


def _progress(p) -> dict:
    """The fields the benchmark reads from one ``StreamingQueryProgress``."""
    get = (lambda k: p[k]) if isinstance(p, dict) else (lambda k: getattr(p, k))
    # numInputRows counts a row once per execution of the batch plan (the
    # handlers run it more than once), so it only tells epochs from idle runs
    return {"batch_id": get("batchId"), "rows": get("numInputRows"), "ms": dict(get("durationMs"))}


def run(ctx, st: dict, seconds: float) -> dict:
    """Refresh rounds, then poll rounds (every tier started with no new
    file). The refresh phase leaves time for ``MIN_POLL_ROUNDS`` poll
    rounds, estimated from the warm-up poll round."""
    t_end = time.perf_counter() + seconds
    t_refresh = t_end - MIN_POLL_ROUNDS * st["warm_poll_s"]
    first = {t: len(st["progress"][t]) for t in TIERS}
    wall0 = {t: len(st["wall"][t]) for t in TIERS}
    file0 = st["released"]
    last = 0.0  # start a round only if it should end within the refresh time
    while last == 0.0 or time.perf_counter() + last < t_refresh:
        last = _round(ctx, st, st["size"]["files_per_round"])
        if not last:
            break
    st["timed_first"], st["timed_files"] = first, range(file0, st["released"])
    batches = [b for t in TIERS for b in st["progress"][t][first[t]:] if b["rows"] > 0]
    polls = {t: [] for t in TIERS}
    while len(polls["dedup"]) < MIN_POLL_ROUNDS or time.perf_counter() + sum(p[-1] for p in polls.values()) < t_end:
        _drain(ctx, st, polls)
    return {
        "op_s": [b["ms"]["triggerExecution"] / 1000.0 for b in batches],
        "poll_s": [w for t in TIERS for w in polls[t]],
        # each tier ingests every released file once: docs for three tiers, vectors for one
        "items": sum(3 * st["file_rows"]["docs"][i] + st["file_rows"]["vecs"][i]
                     for i in range(file0, st["released"])),
        "item_s": sum(w for t in TIERS for w in st["wall"][t][wall0[t]:]),
        "attempted": len(batches) + sum(len(v) for v in polls.values()),
        "failed_ops": 0,
    }


def _index_ids(ctx, st: dict) -> dict:
    """Distinct ids per tier's stored index."""
    spark, tabs = ctx.spark, st["tables"]
    return {
        "dedup": spark.table(tabs["dedup"]).select("doc_id").distinct().count(),
        "ann": spark.table(tabs["ann"]).select("vec_id").distinct().count(),
        "cdc": spark.table(tabs["cdc"]).select("doc_id").distinct().count(),
        "search": spark.table(f"{tabs['search']}_docs").count(),
    }


def corrupt(ctx, st: dict) -> None:
    """Duplicate one dedup assignment (for the benchmark's self-test)."""
    df = ctx.spark.read.parquet(os.path.join(st["dirs"]["out"], "dedup"))
    df.limit(1).write.mode("append").parquet(os.path.join(st["dirs"]["out"], "dedup"))


def check(ctx, st: dict) -> list[str]:
    from data_ingestion_auto_spark.operators import cdc_index as CI
    from data_ingestion_auto_spark.operators import postings as P
    from pyspark.sql import functions as F

    spark, d, tabs, fails = ctx.spark, st["dirs"], st["tables"], []
    released = [os.path.join(d["src_docs"], f) for f in sorted(os.listdir(d["src_docs"]))]
    new_docs = spark.read.parquet(*released)
    new_vecs = spark.read.parquet(*[os.path.join(d["src_vecs"], f) for f in sorted(os.listdir(d["src_vecs"]))])
    doc_ids = {r[0] for r in new_docs.select("doc_id").collect()}
    vec_ids = {r[0] for r in new_vecs.select("vec_id").collect()}
    all_docs = spark.read.parquet(os.path.join(st["base"], "boot_docs.parquet")).unionByName(new_docs)

    # index rows: bootstrap plus distinct arrivals, per tier (so polls added nothing)
    rows = _index_ids(ctx, st)
    expect = {
        "dedup": st["boot_docs"] + len(doc_ids),
        "ann": st["boot_vecs"] + len(vec_ids),
        "cdc": CI.cdc_chunk_rows(all_docs).select("doc_id").distinct().count(),
        "search": st["boot_docs"] + len(doc_ids),
    }
    st["index_rows"] = {t: spark.table(tabs[t]).count() for t in TIERS}
    for t in TIERS:
        if rows[t] != expect[t]:
            fails.append(f"{t} index holds {rows[t]} ids, expected {expect[t]}")
    # every arriving id resolves to exactly one assignment
    for tier, key, ids in (("dedup", "doc_id", doc_ids), ("cdc", "doc_id", doc_ids), ("ann", "query_id", vec_ids)):
        a = spark.read.parquet(os.path.join(d["out"], tier))
        if tier == "ann":
            a = a.filter(F.col("rank") == 1)
        counts = {r[0]: r[1] for r in a.groupBy(key).count().collect()}
        extra = set(counts) - ids
        missing = ids - set(counts)
        multi = [i for i, c in counts.items() if c != 1]
        if extra or missing or multi:
            fails.append(f"{tier} assignments: {len(missing)} missing, {len(extra)} unknown, "
                         f"{len(multi)} with more than one")
    # the search tier's last epoch equals a from-scratch index over everything
    hits = spark.read.parquet(os.path.join(d["out"], "search"))
    last = hits.agg(F.max("epoch_id")).collect()[0][0]
    got = sorted(tuple(r) for r in hits.filter(F.col("epoch_id") == last).drop("epoch_id").distinct().collect())
    P.write_postings_index(all_docs, f"{tabs['search']}_scratch", buckets=BUCKETS)
    want = sorted(tuple(r) for r in P.bm25_search(spark, TERMS, f"{tabs['search']}_scratch").collect())
    if got != want:
        fails.append(f"search last epoch ({len(got)} hits) differs from a from-scratch index ({len(want)})")
    return fails


def layer_metrics(ctx, st: dict, jobs: list, spans: list) -> dict:
    med = lambda xs: float(np.median(xs)) if xs else 0.0  # noqa: E731
    m = {f"operators.{k}_s": v for k, v in st["build_s"].items()}
    for t, name in zip(TIERS, ("band", "ivf", "chunk", "postings")):
        m[f"operators.{name}_index_rows"] = float(st["index_rows"][t])
    keys = {"trigger_s": "triggerExecution", "add_batch_s": "addBatch", "query_planning_s": "queryPlanning",
            "wal_commit_s": "walCommit", "latest_offset_s": "latestOffset"}
    for t in TIERS:
        batches = [b for b in st["progress"][t][st["timed_first"][t]:] if b["rows"] > 0]
        for k, src in keys.items():
            m[f"streaming.{t}.{k}"] = med([b["ms"].get(src, 0) / 1000.0 for b in batches])
        kind = "vecs" if t == "ann" else "docs"
        m[f"streaming.{t}.rows_per_epoch"] = med([st["file_rows"][kind][i] for i in st["timed_files"]])
        per_batch = {}
        for j in jobs:
            if j["group"] in st["run_ids"][t] and j["batch_id"] is not None:
                per_batch[j["batch_id"]] = per_batch.get(j["batch_id"], 0) + 1
        timed = {str(b["batch_id"]) for b in batches}
        m[f"streaming.{t}.jobs_per_epoch"] = med([n for b, n in per_batch.items() if str(b) in timed])
    return m


def teardown(ctx, st: dict) -> None:
    for q in ctx.spark.streams.active:
        q.stop()
    for t in st["tables"].values():
        for name in (t, f"{t}_centroids", f"{t}_docs", f"{t}_scratch", f"{t}_scratch_docs"):
            ctx.spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(st["base"], ignore_errors=True)
