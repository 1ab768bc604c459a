"""Stateful streaming sessionizer == batch window-function sessionizer.

Bounded cross-check: feed the events fixture through the
applyInPandasWithState operator in two micro-batches — the second batch
is one far-future flush event per user, which advances the event-time
watermark and closes every real session. The closed sessions must match
the batch sessionizer (queries_misc._SESS_SQL) on the same events:
same session count per user, same (n_events, total_value) multiset.
"""

import shutil
import tempfile
from pathlib import Path

import pandas as pd
import pyspark.sql.functions as F

from gpiv_spark.streaming.stateful import stream_sessionize

SF = "/root/testdata/sf0.01"
SCHEMA = "user_id long, event_id long, ts timestamp, value double"


def test_stream_sessions_match_batch(spark):
    events = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"),
                "value")
        .filter("user_id < 40")
    )
    epdf = events.toPandas()

    # batch truth: the gate-checked SQL sessionizer on the same rows
    events.createOrReplaceTempView("events")
    from gpiv_spark.queries_misc import _SESS_SQL

    batch = spark.sql(_SESS_SQL).toPandas()
    assert len(batch) > 20, "fixture filter left too few sessions to check"

    work = Path(tempfile.mkdtemp(prefix="sess_stream_"))
    try:
        b1 = work / "in"
        b1.mkdir()
        events.repartition(4).write.mode("overwrite").parquet(str(b1))
        stream = spark.readStream.schema(SCHEMA).parquet(str(b1))
        out = stream_sessionize(stream, gap="30 minutes")
        q = (
            out.writeStream.outputMode("append").format("memory")
            .queryName("sessions")
            .option("checkpointLocation", str(work / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        # batch 2: one flush event per user, far in the future -> the
        # watermark passes every open session's timeout
        flush = epdf.groupby("user_id", as_index=False).agg(
            ts=("ts", "max")
        )
        flush["ts"] = pd.to_datetime(flush["ts"]) + pd.Timedelta(days=365)
        flush["event_id"] = -1
        flush["value"] = 0.0
        spark.createDataFrame(
            flush[["user_id", "event_id", "ts", "value"]], SCHEMA
        ).write.mode("append").parquet(str(b1))
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM sessions").toPandas()
        q.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # flush events open trailing sessions; depending on watermark
    # progression some of those time out and emit too — drop anything
    # starting at/after the flush horizon, keep only REAL sessions
    flush_ms = int(pd.to_datetime(flush["ts"]).min().value // 1_000_000)
    got = got[got["start_ms"] < flush_ms]
    key = lambda df, a, b: sorted(
        (int(u), int(n), round(float(t), 6))
        for u, n, t in zip(df["user_id"], df[a], df[b])
    )
    assert key(got, "n_events", "total_value") == key(
        batch, "n_events", "total_value"
    )


def test_stream_sessions_out_of_order_batches(spark):
    """Cross-batch disorder: events split into two SHUFFLED halves under
    a lenient watermark, so batch 2 delivers events OLDER than sessions
    already open in state (the single-open-session design merged those
    backward / regressed `last`). The multi-cluster state must still
    reproduce the batch sessionizer exactly."""
    events = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id", "event_id",
                F.col("ts").cast("timestamp").alias("ts"), "value")
        .filter("user_id < 25")
    )
    epdf = events.toPandas().sort_values("event_id").reset_index(drop=True)

    events.createOrReplaceTempView("events")
    from gpiv_spark.queries_misc import _SESS_SQL

    batch = spark.sql(_SESS_SQL).toPandas()

    # interleave: even event_ids first, odd second — each user's batch-2
    # half contains events older than their batch-1 maximum
    half1 = epdf[epdf["event_id"] % 2 == 0]
    half2 = epdf[epdf["event_id"] % 2 == 1]

    work = Path(tempfile.mkdtemp(prefix="sess_ooo_"))
    try:
        b1 = work / "in"
        b1.mkdir()
        spark.createDataFrame(half1, SCHEMA).coalesce(2).write.mode(
            "overwrite").parquet(str(b1))
        stream = spark.readStream.schema(SCHEMA).parquet(str(b1))
        # watermark far wider than the data span: nothing is dropped as
        # late, so every batch-2 straggler reaches the operator
        out = stream_sessionize(stream, gap="30 minutes",
                                watermark="3650 days")
        q = (
            out.writeStream.outputMode("append").format("memory")
            .queryName("sessions_ooo")
            .option("checkpointLocation", str(work / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        spark.createDataFrame(half2, SCHEMA).coalesce(2).write.mode(
            "append").parquet(str(b1))
        q.processAllAvailable()
        # flush: advance the watermark past every deadline
        flush = epdf.groupby("user_id", as_index=False).agg(ts=("ts", "max"))
        flush["ts"] = pd.to_datetime(flush["ts"]) + pd.Timedelta(days=7400)
        flush["event_id"] = -1
        flush["value"] = 0.0
        spark.createDataFrame(
            flush[["user_id", "event_id", "ts", "value"]], SCHEMA
        ).write.mode("append").parquet(str(b1))
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM sessions_ooo").toPandas()
        q.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    flush_ms = int(pd.to_datetime(flush["ts"]).min().value // 1_000_000)
    got = got[got["start_ms"] < flush_ms]
    key = lambda df, a, b: sorted(
        (int(u), int(n), round(float(t), 6))
        for u, n, t in zip(df["user_id"], df[a], df[b])
    )
    assert key(got, "n_events", "total_value") == key(
        batch, "n_events", "total_value"
    )
    # session STARTS must match too (the old design emitted starts later
    # than the earliest event when a straggler merged backward); the SQL
    # truth doesn't expose starts, so derive them in pandas
    gap_ms = 30 * 60_000
    exp_starts = []
    for uid, g in epdf.groupby("user_id"):
        t = (pd.to_datetime(g["ts"]).astype("int64") // 1_000_000
             ).sort_values().to_numpy()
        news = [0] + [i for i in range(1, len(t))
                      if t[i] - t[i - 1] > gap_ms]
        exp_starts.extend((int(uid), int(t[i])) for i in news)
    assert sorted(
        (int(u), int(s)) for u, s in zip(got["user_id"], got["start_ms"])
    ) == sorted(exp_starts)


def test_tz_aware_event_time_is_rejected():
    """Both stateful operators read ts through a zero-copy int64 view,
    which is only right for tz-naive datetime64[ns]; a tz-aware column
    must raise a TypeError naming the column, not yield garbage."""
    from types import SimpleNamespace

    import pytest

    from gpiv_spark.streaming.dedup import _make_dedup_fn
    from gpiv_spark.streaming.stateful import _make_session_fn, event_ms

    ts = pd.Series(pd.to_datetime([1_700_000_000_000, 1_700_000_060_000],
                                  unit="ms"))
    naive = pd.DataFrame({"ts": ts, "value": [1.0, 2.0], "doc_id": [1, 2]})
    assert event_ms(naive).tolist() == [1_700_000_000_000, 1_700_000_060_000]

    aware = naive.assign(ts=ts.dt.tz_localize("UTC"))
    state = SimpleNamespace(hasTimedOut=False, exists=False,
                            getCurrentWatermarkMs=lambda: 0)
    for fn, key in ((_make_session_fn(60_000), (7,)),
                    (_make_dedup_fn(60_000, False), (123, 4))):
        with pytest.raises(TypeError, match="'ts'.*datetime64"):
            list(fn(key, iter([aware]), state))
