"""Structured Streaming surfaces: windowed aggregation via the memory sink
and the stateful per-host politeness gate."""

import pytest
from pyspark.sql import functions as F


def test_windowed_stream_matches_batch(spark, tmp_path):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src_dir = str(tmp_path / "events_stream")
    ev.write.parquet(src_dir)
    # watermarks need TimestampType; the parquet column is TIMESTAMP_NTZ
    stream = spark.readStream.schema(ev.schema).parquet(src_dir) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (stream
           .withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "1 hour"), "event_type")
           .agg(F.count("*").alias("n")))
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName("t_stream_out").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r["window"]["start"], r["event_type"]): r["n"]
           for r in spark.sql("SELECT * FROM t_stream_out").collect()}
    want = {(r["window"]["start"], r["event_type"]): r["n"]
            for r in ev.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("n")).collect()}
    assert got == want


def test_politeness_state_stream(spark, tmp_path):
    """applyInPandasWithState per-host delay gate: within one host, admitted
    fetches are spaced >= crawl_delay apart; state persists across
    micro-batches."""
    import datetime as dt

    from kit_spark.streaming.runner import politeness_state_stream

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for host, delay in (("https://fast.test:443", 1.0),
                        ("https://slow.test:443", 30.0)):
        for i in range(12):
            rows.append((host, f"{host}/p{i:02d}",
                         base + dt.timedelta(seconds=5 * i), delay))
    src = str(tmp_path / "req")
    schema = ("host_key string, url_canon string, ts timestamp, "
              "crawl_delay double")
    spark.createDataFrame(rows, schema).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    q = (politeness_state_stream(stream)
         .writeStream.outputMode("append")
         .format("memory").queryName("polite_out").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM polite_out").collect()
    by_host = {}
    for r in got:
        by_host.setdefault(r["host_key"], []).append(r)
    fast = sorted((r for r in by_host["https://fast.test:443"]
                   if r["admitted"]), key=lambda r: r["ts"])
    slow = sorted((r for r in by_host["https://slow.test:443"]
                   if r["admitted"]), key=lambda r: r["ts"])
    assert len(fast) == 12          # 5s spacing >= 1s delay: all admitted
    assert len(slow) == 2           # 55s span / 30s delay: first + one more
    gaps = [(b["ts"] - a["ts"]).total_seconds()
            for a, b in zip(slow, slow[1:])]
    assert all(g >= 30.0 for g in gaps)


def test_host_session_windows(spark, tmp_path):
    """Session windows close after the gap: two fetch bursts to one host
    separated by > gap produce two sessions with correct counts."""
    import datetime as dt

    from kit_spark.streaming.runner import host_session_windows

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for i in range(5):   # burst 1: t+0..t+40s
        rows.append(("https://s.test:443", base + dt.timedelta(seconds=10 * i)))
    for i in range(3):   # burst 2: t+20min..
        rows.append(("https://s.test:443",
                     base + dt.timedelta(minutes=20, seconds=10 * i)))
    rows.append(("https://other.test:443", base))
    src = str(tmp_path / "fetchlog")
    schema = "host_key string, fetched_at timestamp"
    spark.createDataFrame(rows, schema).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src) \
        .withColumn("fetched_at", F.col("fetched_at").cast("timestamp"))
    q = (host_session_windows(stream, gap="5 minutes")
         .writeStream.outputMode("complete")
         .format("memory").queryName("sessions_out").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(((r["host_key"], r["n_fetches"])
                  for r in spark.sql("SELECT * FROM sessions_out").collect()))
    assert got == [("https://other.test:443", 1),
                   ("https://s.test:443", 3), ("https://s.test:443", 5)]
