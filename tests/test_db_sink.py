"""Physical DB upsert sink (sinks_db.py) — the K2-realism seam from
VERDICT r10 item #4: transactional delete-then-insert into an embedded
DuckDB file (the PostGIS stand-in), mirroring the reference's psycopg2
txn (raster_vector.py:146-163) and DDL bootstrap (:61-81). Pinned:
run-twice equality, mid-txn crash atomicity + replay, row-level
retention, and a streaming foreachBatch run equal to the batch control."""

from __future__ import annotations

import os
import threading
import time

import duckdb
import pytest

from data_ingestion_auto_spark import sinks_db as S

_COLS = ["date", "geom", "alert_level"]


def _batch(spark, day: str, n: int, level: float):
    rows = [
        (f"{day} 00:00:00", f"POINT({i} {i})", level + i) for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "date string, geom string, alert_level double"
    ).selectExpr("CAST(date AS TIMESTAMP) AS date", "geom", "alert_level")


def _table(db_path, table="alerts"):
    con = duckdb.connect(db_path)
    try:
        return sorted(
            map(
                tuple,
                con.execute(
                    "SELECT CAST(date AS VARCHAR), geom, alert_level "
                    f"FROM ingest.{table}"
                ).fetchall(),
            )
        )
    finally:
        con.close()


def test_bootstrap_is_idempotent(tmp_path):
    db = str(tmp_path / "a.duckdb")
    S.bootstrap_ddl(db, "alerts", ["alert_level"])
    S.bootstrap_ddl(db, "alerts", ["alert_level"])  # IF NOT EXISTS all the way
    con = duckdb.connect(db)
    cols = {r[0] for r in con.execute("DESCRIBE ingest.alerts").fetchall()}
    con.close()
    assert cols == {"date", "geom", "alert_level"}


def test_publish_twice_is_idempotent_per_date(spark, tmp_path):
    """Re-publishing a date replaces that date's rows exactly (the
    reference's count→delete→insert), leaving other dates untouched."""
    db = str(tmp_path / "b.duckdb")
    S.bootstrap_ddl(db, "alerts", ["alert_level"])
    d1 = _batch(spark, "2026-01-01", 5, 10.0)
    d2 = _batch(spark, "2026-01-02", 3, 20.0)
    S.publish_batch(d1, db, "alerts", str(tmp_path / "st"))
    S.publish_batch(d2, db, "alerts", str(tmp_path / "st"))
    first = _table(db)
    assert len(first) == 8
    # replay day-1 verbatim: table unchanged
    S.publish_batch(d1, db, "alerts", str(tmp_path / "st"))
    assert _table(db) == first
    # republish day-1 with DIFFERENT content: day-1 replaced, day-2 intact
    S.publish_batch(_batch(spark, "2026-01-01", 2, 99.0), db, "alerts", str(tmp_path / "st"))
    rows = _table(db)
    assert len(rows) == 5
    assert {r[2] for r in rows if r[0].startswith("2026-01-01")} == {99.0, 100.0}
    assert sum(r[0].startswith("2026-01-02") for r in rows) == 3


def test_publish_cleans_up_its_staging_dir(spark, tmp_path):
    """A long-running foreachBatch stream must not accumulate one parquet
    copy per micro-batch: publish_batch deletes its stage dir whether the
    txn commits or not."""
    db = str(tmp_path / "s.duckdb")
    S.bootstrap_ddl(db, "alerts", ["alert_level"])
    root = str(tmp_path / "stroot")
    S.publish_batch(_batch(spark, "2026-01-01", 2, 1.0), db, "alerts", root)
    S.publish_batch(_batch(spark, "2026-01-02", 2, 2.0), db, "alerts", root)
    assert os.listdir(root) == []  # consumed and removed
    assert len(_table(db)) == 4


def test_identifier_validation_rejects_injection(tmp_path):
    db = str(tmp_path / "i.duckdb")
    with pytest.raises(ValueError, match="invalid SQL identifier"):
        S.bootstrap_ddl(db, "alerts; DROP TABLE x", ["alert_level"])
    with pytest.raises(ValueError, match="invalid SQL identifier"):
        S.bootstrap_ddl(db, "alerts", ["lvl, geom) VALUES (1,1); --"])


def test_mid_txn_crash_is_invisible_and_replayable(spark, tmp_path):
    """Atomicity: an INSERT failure AFTER the DELETE executed rolls the
    whole txn back — the previously-published rows survive — and the
    fixed replay converges to exactly-once."""
    db = str(tmp_path / "c.duckdb")
    S.bootstrap_ddl(db, "alerts", ["alert_level"])
    S.publish_batch(_batch(spark, "2026-01-01", 4, 1.0), db, "alerts", str(tmp_path / "st"))
    before = _table(db)

    # stage a replacement batch, then corrupt one staged file so the
    # txn's INSERT (which scans the parquet glob) fails after the DELETE
    staging = str(tmp_path / "crash-stage")
    _batch(spark, "2026-01-01", 4, 50.0).write.mode("overwrite").parquet(staging)
    with open(os.path.join(staging, "zz-corrupt.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(duckdb.Error):
        S.upsert_staged(db, "alerts", staging, _COLS)
    assert _table(db) == before  # rollback: the delete never became visible

    os.remove(os.path.join(staging, "zz-corrupt.parquet"))
    S.upsert_staged(db, "alerts", staging, _COLS)  # the replay
    rows = _table(db)
    assert len(rows) == 4 and {r[2] for r in rows} == {50.0, 51.0, 52.0, 53.0}


def test_row_level_retention(spark, tmp_path):
    """K9 row-level: latest_date prunes strictly-older rows in the same
    txn (reference raster_vector.py:162-163 delete_past_data)."""
    db = str(tmp_path / "d.duckdb")
    S.bootstrap_ddl(db, "alerts", ["alert_level"])
    S.publish_batch(_batch(spark, "2026-01-01", 2, 1.0), db, "alerts", str(tmp_path / "st"))
    S.publish_batch(_batch(spark, "2026-01-02", 2, 2.0), db, "alerts", str(tmp_path / "st"))
    S.publish_batch(
        _batch(spark, "2026-01-03", 2, 3.0),
        db,
        "alerts",
        str(tmp_path / "st"),
        latest_date="2026-01-02",
    )
    rows = _table(db)
    assert len(rows) == 4
    assert all(not r[0].startswith("2026-01-01") for r in rows)


def _publish_in_threads(jobs, timeout=120):
    """Run each (batch_df, db, table, staging_root) publish in its own
    thread, all started together; re-raise the first failure."""
    errors = []
    start = threading.Barrier(len(jobs), timeout=timeout)

    def run(args):
        try:
            start.wait()
            S.publish_batch(*args)
        except Exception as e:  # noqa: BLE001 — re-raised in the test thread
            errors.append(e)

    threads = [threading.Thread(target=run, args=(a,)) for a in jobs]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=timeout)
    assert not any(th.is_alive() for th in threads)
    if errors:
        raise errors[0]


def test_concurrent_publishes_to_two_tables_of_one_file(spark, tmp_path):
    """Two jobs publishing into one DuckDB file at once (cams and chirps
    in one tick): each table gets every staged row exactly once."""
    db = str(tmp_path / "two.duckdb")
    for t in ("alerts", "other"):
        S.bootstrap_ddl(db, t, ["alert_level"])
    root = str(tmp_path / "st")
    for rnd in range(3):
        _publish_in_threads([
            (_batch(spark, f"2026-03-0{rnd + 1}", 40, 1.0), db, "alerts", root),
            (_batch(spark, f"2026-03-0{rnd + 1}", 30, 2.0), db, "other", root),
        ])
    for t, n, level in (("alerts", 40, 1.0), ("other", 30, 2.0)):
        want = sorted(
            (f"2026-03-0{d} 00:00:00", f"POINT({i} {i})", level + i)
            for d in (1, 2, 3) for i in range(n)
        )
        assert _table(db, t) == want


def test_concurrent_publishes_of_different_dates_to_one_table(spark, tmp_path):
    """Two threads publishing different dates into one table at once:
    neither delete-then-insert transaction touches the other's rows, and
    every staged row lands exactly once."""
    db = str(tmp_path / "one.duckdb")
    S.bootstrap_ddl(db, "alerts", ["alert_level"])
    root = str(tmp_path / "st")
    for rnd in range(3):
        _publish_in_threads([
            (_batch(spark, "2026-04-01", 40 + rnd, 1.0), db, "alerts", root),
            (_batch(spark, "2026-04-02", 30 + rnd, 5.0), db, "alerts", root),
        ])
    want = sorted(
        [("2026-04-01 00:00:00", f"POINT({i} {i})", 1.0 + i) for i in range(42)]
        + [("2026-04-02 00:00:00", f"POINT({i} {i})", 5.0 + i) for i in range(32)]
    )
    assert _table(db) == want
    assert os.listdir(root) == []


def test_streaming_foreach_batch_equals_batch_control(spark, tmp_path):
    """availableNow stream through foreach_batch_publisher lands the same
    table as direct batch publishes — the W-series closure for the DB
    sink."""
    src = tmp_path / "src"
    src.mkdir()
    batches = [
        _batch(spark, "2026-02-01", 3, 5.0),
        _batch(spark, "2026-02-02", 2, 6.0),
    ]
    for i, b in enumerate(batches):
        f = str(src / f"b{i}")
        b.coalesce(1).write.mode("overwrite").parquet(f)
        t = time.time() - 100 + i * 50
        for root, _, files in os.walk(f):
            for name in files:
                os.utime(os.path.join(root, name), (t, t))

    db_s = str(tmp_path / "stream.duckdb")
    S.bootstrap_ddl(db_s, "alerts", ["alert_level"])
    stream = (
        spark.readStream.schema("date timestamp, geom string, alert_level double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(
            S.foreach_batch_publisher(db_s, "alerts", str(tmp_path / "sstage"))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    db_c = str(tmp_path / "ctrl.duckdb")
    S.bootstrap_ddl(db_c, "alerts", ["alert_level"])
    for b in batches:
        S.publish_batch(b, db_c, "alerts", str(tmp_path / "cstage"))

    def read(db):
        con = duckdb.connect(db)
        try:
            return sorted(
                map(
                    tuple,
                    con.execute(
                        "SELECT CAST(date AS VARCHAR), geom, alert_level FROM ingest.alerts"
                    ).fetchall(),
                )
            )
        finally:
            con.close()

    assert read(db_s) == read(db_c) and len(read(db_s)) == 5


def test_dialect_sql_generation_duckdb_and_postgres():
    """The publish SQL seam (round-12 verdict #5): both dialects generate
    the same txn shape — delete staged dates, bulk-load, retention — with
    engine-appropriate load paths (DuckDB read_parquet vs Postgres COPY
    FROM STDIN) and paramstyles. ``upsert_staged`` executes the DuckDB
    text (pinned by the roundtrip tests above); this pins the Postgres
    twin so the documented live-PostGIS path cannot rot silently."""
    dd, pg = S.DuckDbDialect, S.PostgresDialect
    assert dd.delete_dates_sql("ingest", "alerts") == (
        "DELETE FROM ingest.alerts WHERE date IN "
        "(SELECT DISTINCT date FROM read_parquet(?))"
    )
    assert dd.insert_sql("ingest", "alerts", "date, geom, alert_level") == (
        "INSERT INTO ingest.alerts (date, geom, alert_level) "
        "SELECT date, geom, alert_level FROM read_parquet(?)"
    )
    assert dd.retention_sql("ingest", "alerts") == (
        "DELETE FROM ingest.alerts WHERE date < ?"
    )
    assert pg.delete_dates_sql("ingest", "alerts") == (
        "DELETE FROM ingest.alerts WHERE date = ANY(%(dates)s)"
    )
    assert pg.insert_sql("ingest", "alerts", "date, geom, alert_level") == (
        "COPY ingest.alerts (date, geom, alert_level) "
        "FROM STDIN WITH (FORMAT csv, HEADER false)"
    )
    assert pg.retention_sql("ingest", "alerts") == (
        "DELETE FROM ingest.alerts WHERE date < %(latest)s"
    )
    assert (dd.paramstyle, pg.paramstyle) == ("qmark", "pyformat")
