"""transformWithState (Spark 4 stateful API) — stream-vs-batch parity
across micro-batches, mirroring the applyInPandasWithState test so the
two APIs are held to the same contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from capital.io import load_table
from capital.schemas import EVENTS
from capital.streaming.tws import protobuf_available, running_stats_per_user

pytestmark = pytest.mark.skipif(
    not protobuf_available(),
    reason="transformWithState needs google.protobuf at stream runtime; "
    "not installed in this container (no-install policy) — the "
    "operator is exercised on clusters that ship protobuf",
)


def test_tws_running_stats_across_batches(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    ev = load_table(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema(EVENTS).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        running_stats_per_user(stream)
        .writeStream.format("memory")
        .queryName("tws_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    latest = spark.sql(
        """
        SELECT user_id, n_events, total_value, max_value FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY n_events DESC) rn
          FROM tws_stats) WHERE rn = 1
        """
    )
    truth = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("total_value"),
        F.max("value").alias("max_value"),
    )
    lt = {
        r.user_id: (r.n_events, round(r.total_value, 6), r.max_value)
        for r in latest.collect()
    }
    tr = {
        r.user_id: (r.n_events, round(r.total_value, 6), r.max_value)
        for r in truth.collect()
    }
    assert set(lt) == set(tr)
    for u in tr:
        assert lt[u][0] == tr[u][0], u
        assert abs(lt[u][1] - tr[u][1]) < 1e-6, u
        if tr[u][2] is None:
            assert lt[u][2] is None, u
        else:
            assert abs(lt[u][2] - tr[u][2]) < 1e-9, u
