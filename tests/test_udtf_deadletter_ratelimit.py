from __future__ import annotations

from pyspark.sql import functions as F

from capital.io import load_table
from capital.schemas import EVENTS
from capital.sources.rest import TokenBucket, page_windows_udtf
from capital.streaming.incremental import incremental_with_dead_letter


def test_page_windows_udtf(spark):
    PageWindows = page_windows_udtf()
    spark.udtf.register("page_windows", PageWindows)
    rows = spark.sql("SELECT * FROM page_windows(257, 100)").collect()
    assert [(r.page, r.start_offset, r.end_offset) for r in rows] == [
        (0, 0, 99), (1, 100, 199), (2, 200, 256),
    ]


def test_token_bucket_throttles():
    clock = {"t": 0.0}
    sleeps: list[float] = []

    def fake_clock():
        return clock["t"]

    def fake_sleep(s):
        sleeps.append(s)
        clock["t"] += s

    tb = TokenBucket(rate=2.0, capacity=1, clock=fake_clock, sleeper=fake_sleep)
    tb.acquire()          # burst token, no sleep
    tb.acquire()          # must wait ~0.5s at 2 req/s
    tb.acquire()
    assert sleeps and abs(sleeps[0] - 0.5) < 1e-9
    assert len(sleeps) == 2


def test_dead_letter_routing(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    dlq = str(tmp_path / "dlq")
    ev = load_table(spark, sf_dir, "events")
    # Inject 5 ancient events among the fresh ones.
    ancient = ev.limit(5).withColumn(
        "ts", F.col("ts") - F.expr("INTERVAL 400 DAYS")
    )
    ev.unionByName(ancient).coalesce(1).write.mode("append").parquet(src)

    q = incremental_with_dead_letter(
        spark, src, EVENTS, sink, dlq, str(tmp_path / "ckpt"),
        max_age="60 days",
    )
    assert q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == ev.count()
    assert spark.read.parquet(dlq).count() == 5

    # Replay with a fresh checkpoint (crash-before-commit): the batch
    # overwrites its own __batch partition — no duplicates.
    q2 = incremental_with_dead_letter(
        spark, src, EVENTS, sink, dlq, str(tmp_path / "ckpt2"),
        max_age="60 days",
    )
    assert q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == ev.count()
    assert spark.read.parquet(dlq).count() == 5


def test_retry_policy_succeeds_after_n_failures():
    from capital.sources.rest import RetryPolicy

    sleeps = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 4:
            raise ConnectionError("503")
        return {"ok": True}

    pol = RetryPolicy(max_retries=6, delay_s=600.0, sleeper=sleeps.append)
    assert pol.call(flaky) == {"ok": True}
    assert calls["n"] == 4
    # Fixed 10-minute-style delay before each re-attempt, none before
    # the first (mirrors the reference's retries=6/retry_delay=10min).
    assert sleeps == [600.0, 600.0, 600.0]


def test_retry_policy_gives_up_and_raises_last():
    from capital.sources.rest import RetryPolicy

    sleeps = []

    def dead():
        raise ConnectionError("down")

    pol = RetryPolicy(max_retries=2, delay_s=5.0, sleeper=sleeps.append)
    try:
        pol.call(dead)
        raise AssertionError("should have raised")
    except ConnectionError:
        pass
    assert sleeps == [5.0, 5.0]  # 1 try + 2 retries


def test_retry_policy_non_retryable_propagates_immediately():
    from capital.sources.rest import RetryPolicy

    def notfound():
        raise KeyError("404")

    pol = RetryPolicy(
        max_retries=6, delay_s=1.0, sleeper=lambda s: None,
        retry_on=ConnectionError,
    )
    try:
        pol.call(notfound)
        raise AssertionError("should have raised")
    except KeyError:
        pass


def test_retry_policy_composes_with_token_bucket_and_source():
    from capital.sources.rest import PaginatedRestSource, RetryPolicy

    # Every attempt (including retries) must re-pay the throttle.
    acquires = {"n": 0}
    t = [0.0]

    def clock():
        return t[0]

    def bucket_sleep(s):
        t[0] += s

    bucket = TokenBucket(rate=10.0, capacity=1, clock=clock, sleeper=bucket_sleep)

    def acquire():
        acquires["n"] += 1
        bucket.acquire()

    fails = {"n": 0}

    def fetch(page: int) -> dict:
        if page == 1 and fails["n"] < 2:
            fails["n"] += 1
            raise ConnectionError("flap")
        rows = [{"id": page * 10 + i} for i in range(2)] if page < 3 else []
        return {"rows": rows, "total": 6}

    src = PaginatedRestSource(
        fetch_page=fetch,
        records_key="rows",
        total_key="total",
        page_size=2,
        retry=RetryPolicy(
            max_retries=6, delay_s=0.0, sleeper=lambda s: None,
            before_attempt=acquire,
        ),
    )
    rows = list(src.records())
    assert [r["id"] for r in rows] == [0, 1, 10, 11, 20, 21]
    # 3 successful pages + 2 failed attempts, each paid an acquire.
    assert acquires["n"] == 5
