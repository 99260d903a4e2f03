"""Structured Streaming crawl-loop variant (M7 / SURVEY.md §2C streaming).

The batch driver (kit_spark.crawl) runs rounds as a driver loop; this module
expresses the same per-round dataflow as a Structured Streaming pipeline:

* candidates arrive as a stream (file source over the candidates directory,
  or any source — rate/kafka on a real deployment);
* each micro-batch runs admission -> robots gate -> politeness schedule via
  ``foreachBatch`` (the reference's pull-based AutoParser loop, made
  micro-batch: SURVEY.md §3.2), appending to the schedule sink and feeding
  discovered candidates back through the candidates directory;
* per-host politeness state (last-fetch slot) is carried by the url_seen /
  frontier snapshot tables exactly as in batch — foreachBatch gives
  exactly-once table commits per micro-batch epoch.

Also provides watermarked per-host session windows over the fetch stream
(late fetch logs tolerated up to the watermark) as the
streaming-aggregation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def stream_candidates(spark: SparkSession, directory: str,
                      schema: str = "url string, priority double"):
    """File-source candidate stream: drop candidate parquet files into
    ``directory`` and each becomes a micro-batch."""
    return spark.readStream.schema(schema).parquet(directory)


def run_streaming_rounds(driver, candidate_stream: DataFrame,
                         checkpoint_dir: str):
    """foreachBatch bridge: every micro-batch of raw candidates runs one
    admission+gate+schedule round through the batch driver's operators.

    ``driver`` is a ``kit_spark.crawl.CrawlDriver`` whose store holds the
    persistent url_seen/robots_cache/schedule tables.
    """

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # write the micro-batch as this round's candidates, then run one
        # deterministic round against the shared snapshot store
        n = batch_df.count()
        driver.store.write("candidates", batch_df)
        state = driver._load_driver_state()  # noqa: SLF001
        driver._snapshots["candidates"] = \
            driver.store.current_snapshot("candidates")
        driver._counts["candidates"] = n  # round inputs count via state
        driver._run_round(state)

    return (candidate_stream.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True))


def host_session_windows(fetch_log_stream: DataFrame,
                         gap: str = "5 minutes",
                         watermark: str = "10 minutes") -> DataFrame:
    """Per-host session windows over the fetch stream — the SURVEY §2C
    alternative politeness formulation: a session closes after ``gap`` of
    host inactivity, so each output row is one burst of fetches against a
    host (session start/end, fetch count).  Downstream politeness auditing
    compares per-session fetch density against the host's crawl-delay
    budget; late fetch logs are tolerated up to the watermark."""
    return (fetch_log_stream
            .withWatermark("fetched_at", watermark)
            .groupBy(F.session_window("fetched_at", gap).alias("session"),
                     "host_key")
            .agg(F.count("*").alias("n_fetches"),
                 F.min("fetched_at").alias("first_fetch"),
                 F.max("fetched_at").alias("last_fetch")))


def politeness_state_stream(requests: DataFrame, default_delay: float = 10.0):
    """Custom stateful streaming operator (applyInPandasWithState): per-host
    crawl-delay enforcement with the host's last-admitted fetch time as
    group state.

    Input stream rows: (host_key string, url_canon string, ts timestamp,
    crawl_delay double nullable).  Emits only rows respecting the host's
    delay; state = (last_fetch_epoch double).  This is the streaming
    formulation of the D4 politeness gate — the batch engine's
    budget-per-round is the micro-batch-friendly equivalent.
    """
    import numpy as np
    import pandas as pd

    out_schema = ("host_key string, url_canon string, ts timestamp, "
                  "admitted boolean")
    state_schema = "last_fetch double"

    def gate(key, pdfs, state):
        (host_key,) = key
        last = state.get[0] if state.exists else float("-inf")
        # the delay gate is inherently sequential per host (each admission
        # moves the host's clock), but it runs over plain numpy arrays —
        # no per-row pandas object churn (iterrows is ~50x this cost)
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "url_canon"])
            epochs = pdf["ts"].astype("int64").to_numpy() / 1e9
            delays = pd.to_numeric(pdf["crawl_delay"],
                                   errors="coerce").to_numpy(dtype="float64")
            delays = np.where(np.isnan(delays) | (delays <= 0),
                              default_delay, delays)
            admitted = np.empty(len(epochs), dtype=bool)
            for i in range(len(epochs)):
                ok = epochs[i] - last >= delays[i]
                admitted[i] = ok
                if ok:
                    last = epochs[i]
            yield pd.DataFrame({"host_key": host_key,
                                "url_canon": pdf["url_canon"].to_numpy(),
                                "ts": pdf["ts"].to_numpy(),
                                "admitted": admitted})
        state.update((float(last),))

    return (requests.groupBy("host_key")
            .applyInPandasWithState(gate, out_schema, state_schema,
                                    "append", "NoTimeout"))
