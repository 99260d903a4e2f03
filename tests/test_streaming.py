"""Structured Streaming surface: windowed aggregation via the memory
sink."""

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
