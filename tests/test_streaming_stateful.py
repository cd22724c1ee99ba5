"""applyInPandasWithState sessionization: parity with the batch window
implementation, and checkpointed state continuation across separate bounded
runs (the streaming analog of the Tier-3 resume-from-manifest behavior)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from map_reduce_framework_spark.operators import relational
from map_reduce_framework_spark.sources.io import load_table
from map_reduce_framework_spark.streaming import stateful
from map_reduce_framework_spark.streaming.ops import read_events_stream


def test_stateful_sessionize_matches_batch(spark, sf_smoke, tmp_path):
    """Single micro-batch (one source file): the stateful operator's final
    per-user (n_sessions, n_events) equals the batch window query."""
    out = (
        stateful.sessionize_stream(read_events_stream(spark, sf_smoke))
        .writeStream.format("memory")
        .queryName("sess_parity")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination()
    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in spark.table("sess_parity").collect()
    }
    want = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in relational.user_sessions(
            load_table(spark, sf_smoke, "events")
        ).collect()
    }
    assert got == want and len(got) > 0


def test_state_survives_restart_via_checkpoint(spark, tmp_path):
    """Two bounded runs over a growing directory, same checkpoint: the
    second run restores per-user state, so a session spanning the restart
    is stitched (4 events, one >30min gap -> exactly 2 sessions)."""
    src = str(tmp_path / "events_in")
    out = str(tmp_path / "events_out")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def write_batch(rows):
        df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
        df.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        # File sink: the memory sink rejects checkpoint recovery; the
        # parquet sink is the fault-tolerant one a real pipeline uses.
        stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(src)
        q = (
            stateful.sessionize_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        latest = (
            spark.read.parquet(out)
            .orderBy(F.col("n_events").desc())
            .limit(1)
            .collect()
        )
        return {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in latest}

    # Run 1: two events 5 min apart -> one open session.
    write_batch([(7, t0), (7, t0 + dt.timedelta(minutes=5))])
    assert run_once() == {7: (1, 2)}

    # Run 2 (fresh query, same checkpoint): +10 min (same session), then
    # +2 h (new session). Correct stitching REQUIRES the restored state.
    write_batch(
        [
            (7, t0 + dt.timedelta(minutes=15)),
            (7, t0 + dt.timedelta(hours=2, minutes=15)),
        ]
    )
    assert run_once() == {7: (2, 4)}

