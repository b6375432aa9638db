"""Real-JDBC warehouse edge (S11/K4) against embedded Derby — the
driver jars ship with PySpark, so the full preactions-then-load →
read-back contract runs in-process, no external DB needed."""

from __future__ import annotations

import pytest

from capital.io import execute_jdbc_statements, read_jdbc, write_jdbc


@pytest.fixture()
def derby_url(tmp_path):
    return f"jdbc:derby:{tmp_path}/wh;create=true"


def test_jdbc_roundtrip_with_ddl_preactions(spark, derby_url):
    df = spark.createDataFrame(
        [(1, "construction", "F"), (2, "mining", "E"), (3, "farming", "A")],
        "code int, name string, grade string",
    )
    write_jdbc(
        df,
        derby_url,
        "industry_code",
        mode="append",
        preactions=[
            # Derby has no IF EXISTS; the reference's DROP/CREATE
            # preaction pair maps to create-once here (fresh tmpdir).
            "CREATE TABLE industry_code ("
            "code INT, name VARCHAR(64), grade VARCHAR(8))",
        ],
    )
    back = read_jdbc(spark, derby_url, "industry_code")
    # Derby folds unquoted identifiers to uppercase on the way back.
    back = back.toDF(*[c.lower() for c in back.columns])
    assert sorted((r.code, r.name, r.grade) for r in back.collect()) == [
        (1, "construction", "F"),
        (2, "mining", "E"),
        (3, "farming", "A"),
    ]


def test_jdbc_preactions_replace_table_idempotently(spark, derby_url):
    """The reference's DROP-then-CREATE preaction makes re-runs
    idempotent: a second write must replace, never duplicate."""
    df = spark.createDataFrame([(1, "x")], "k int, v string")
    ddl = "CREATE TABLE t1 (k INT, v VARCHAR(8))"
    write_jdbc(df, derby_url, "t1", preactions=[ddl])
    write_jdbc(
        df, derby_url, "t1", preactions=["DROP TABLE t1", ddl]
    )
    assert read_jdbc(spark, derby_url, "t1").count() == 1


def test_jdbc_pushdown_subquery_source(spark, derby_url):
    """S12 over JDBC: the source is a SQL result, filtered on the
    warehouse side, not a full-table pull."""
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id int, bucket int"
    )
    write_jdbc(
        df, derby_url, "events30",
        preactions=["CREATE TABLE events30 (id INT, bucket INT)"],
    )
    sub = "(SELECT id FROM events30 WHERE bucket = 0) q"
    got = read_jdbc(spark, derby_url, sub)
    assert got.count() == 10
    assert [c.lower() for c in got.columns] == ["id"]


def test_execute_jdbc_statements_runs_in_order(spark, derby_url):
    execute_jdbc_statements(
        spark, derby_url,
        ["CREATE TABLE seq1 (x INT)",
         "INSERT INTO seq1 VALUES (7)",
         "INSERT INTO seq1 VALUES (8)"],
    )
    vals = sorted(r[0] for r in read_jdbc(spark, derby_url, "seq1").collect())
    assert vals == [7, 8]


def test_jdbc_authenticated_preactions_and_write(spark, tmp_path):
    """K4 against an *authenticated* warehouse: Derby BUILTIN auth is
    enabled on the database, after which every connection — the
    driver-side preactions connection and the executor-side writer
    connections — must present user/password (the reference's
    credentialed Redshift recipe, glue_job_scripts/
    industry_code_glue_job.py:89-101)."""
    url = f"jdbc:derby:{tmp_path}/authwh"
    creds = {"user": "capital", "password": "s3cret"}
    # Bootstrap: create the db and switch on BUILTIN authentication.
    execute_jdbc_statements(
        spark,
        url + ";create=true",
        [
            # Derby 10.16 no longer defaults the provider; without an
            # explicit BUILTIN, requireAuthentication silently no-ops.
            "CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY("
            "'derby.authentication.provider', 'BUILTIN')",
            "CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY("
            "'derby.user.capital', 's3cret')",
            "CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY("
            "'derby.connection.requireAuthentication', 'true')",
            # Without propertiesOnly, unset system-wide properties win
            # at boot and requireAuthentication silently no-ops
            # (verified empirically on Derby 10.16.1.1).
            "CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY("
            "'derby.database.propertiesOnly', 'true')",
        ],
    )
    # Derby only enforces requireAuthentication at boot; shut the db
    # down so the next connection starts a fresh, authenticated boot.
    with pytest.raises(Exception):
        # Successful shutdown *throws* SQLException 08006 by contract.
        execute_jdbc_statements(spark, url + ";shutdown=true", [], creds)

    # Unauthenticated DDL must now be rejected.
    with pytest.raises(Exception):
        execute_jdbc_statements(spark, url, ["CREATE TABLE nope (x INT)"])

    # Authenticated preactions + write + read-back all pass creds.
    df = spark.createDataFrame([(1, "ok")], "k int, v string")
    write_jdbc(
        df,
        url,
        "secured",
        mode="append",
        preactions=["CREATE TABLE secured (k INT, v VARCHAR(8))"],
        options=creds,
    )
    back = read_jdbc(spark, url, "secured", options=creds)
    assert [(r[0], r[1]) for r in back.collect()] == [(1, "ok")]


def test_jdbc_keyed_upsert_delete_insert(spark, derby_url):
    """upsert_jdbc: stage -> transactional DELETE+INSERT. Overlapping
    keys are replaced, new keys inserted, untouched keys survive, and
    re-running the same batch is idempotent."""
    from capital.io import upsert_jdbc

    base = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-01", 20.0)],
        "k int, ymd string, v double",
    )
    write_jdbc(
        base, derby_url, "facts",
        preactions=["CREATE TABLE facts (k INT, ymd VARCHAR(10), v DOUBLE)"],
    )
    batch = spark.createDataFrame(
        [(2, "2024-01-01", 99.0), (3, "2024-01-01", 30.0)],
        "k int, ymd string, v double",
    )
    # createTableColumnTypes: Derby maps StringType to CLOB, which
    # cannot be compared to the target's VARCHAR key (io.upsert_jdbc
    # docstring) — type the staging write like any warehouse user would.
    opts = {"createTableColumnTypes": "k INT, ymd VARCHAR(10), v DOUBLE"}
    upsert_jdbc(batch, derby_url, "facts", keys=["k", "ymd"], options=opts)
    upsert_jdbc(  # idempotent
        batch, derby_url, "facts", keys=["k", "ymd"], options=opts
    )

    back = read_jdbc(spark, derby_url, "facts")
    back = back.toDF(*[c.lower() for c in back.columns])
    assert sorted((r.k, r.v) for r in back.collect()) == [
        (1, 10.0), (2, 99.0), (3, 30.0),
    ]


def test_streaming_upsert_jdbc_replay_converges(spark, derby_url, sf_dir, tmp_path):
    """foreachBatch → keyed upsert: replaying the same batch (crash
    between JDBC write and checkpoint commit, simulated by a fresh
    checkpoint over the same files) converges to the same warehouse
    state instead of duplicating — the CDC-to-warehouse contract."""
    from pyspark.sql import functions as F

    from capital.io import load_table, read_jdbc
    from capital.schemas import EVENTS
    from capital.streaming.incremental import incremental_upsert_jdbc

    src = str(tmp_path / "src")
    ev = load_table(spark, sf_dir, "events").limit(300)
    ev.coalesce(1).write.mode("append").parquet(src)
    n_keys = ev.select("event_id").distinct().count()

    execute_jdbc_statements(
        spark,
        derby_url,
        ["CREATE TABLE stream_events (event_id BIGINT, value DOUBLE)"],
    )

    def run(ckpt: str):
        q = incremental_upsert_jdbc(
            spark,
            src,
            EVENTS,
            lambda df: df.select("event_id", "value").dropDuplicates(
                ["event_id"]
            ),
            derby_url,
            "stream_events",
            ["event_id"],
            ckpt,
        )
        assert q.awaitTermination(180)

    run(str(tmp_path / "ckpt1"))
    back1 = read_jdbc(spark, derby_url, "stream_events")
    assert back1.count() == n_keys

    # Replay the identical files under a fresh checkpoint: the keyed
    # upsert must converge (same keys deleted, same rows inserted).
    run(str(tmp_path / "ckpt2"))
    back2 = read_jdbc(spark, derby_url, "stream_events")
    assert back2.count() == n_keys

    # Same checkpoint again: bookmark semantics -> nothing re-runs.
    run(str(tmp_path / "ckpt2"))
    assert read_jdbc(spark, derby_url, "stream_events").count() == n_keys
