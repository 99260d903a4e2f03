"""Structured Streaming surfaces over the crawl's fetch stream (M7 /
SURVEY.md §2C streaming).

The crawl itself runs as the batch driver's round loop (kit_spark.crawl),
which commits each round with one ``driver_state`` append.  This
module holds the streaming formulations of per-host politeness that sit
beside it:

* watermarked per-host session windows over the fetch stream (late fetch
  logs tolerated up to the watermark) — the streaming-aggregation
  surface;
* a custom stateful operator (applyInPandasWithState) that enforces each
  host's crawl-delay with the host's last fetch time as group state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


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
