"""S10-S13: distributed sitemap sinks with protocol limits.

The reference writes one sitemap at a time (EntryBuilder/IndexBuilder/
PlainBuilder, inclusion/build/); its size-based auto-splitter is an
unimplemented stub (todo!() at inclusion/build/auto.rs:25-55).  The
distributed version supersedes it: a URL DataFrame of any size is split
into <=50,000-record files (inclusion/record/mod.rs:13) via the same
deterministic global sequence used for crawl ordering, each file rendered
by one ``applyInPandas`` group through the kit_py builders (which enforce
the 50 MiB byte limit per file, mod.rs:17), plus a sitemap-index document
listing the generated files.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from kit_spark.kit_py.builders import _BOM, _DECL, XMLNS, IndexBuilder, SinkLimitError
from kit_spark.kit_py.records import (BYTE_LIMIT, RECORD_LIMIT, URL_LEN_LIMIT)
from kit_spark.operators.frontier import global_sequence

_XML_ESCAPES = (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                ('"', "&quot;"), ("'", "&apos;"))


def _escape_xml_series(s: pd.Series) -> pd.Series:
    """Vectorized twin of builders._escape_xml (quick-xml text escaping)."""
    out = s.astype(str)
    for raw, rep in _XML_ESCAPES:
        out = out.str.replace(raw, rep, regex=False)
    return out


def _format_lastmod_series(lm: pd.Series) -> pd.Series:
    """Vectorized twin of records.format_lastmod: ISO8601 with exactly two
    fractional-second digits, UTC rendered as ``Z`` (build/inner.rs:9-13).
    Naive timestamps are taken as UTC, matching the scalar kernel."""
    lm = pd.to_datetime(lm)
    if lm.dt.tz is not None:
        lm = lm.dt.tz_convert("UTC").dt.tz_localize(None)
    frac = (lm.dt.microsecond // 10_000).astype("Int64").astype(str).str.zfill(2)
    return lm.dt.strftime("%Y-%m-%dT%H:%M:%S") + "." + frac + "Z"


def _render_urlset_elements(pdf: pd.DataFrame, cols: list[str]) -> pd.Series:
    """Vectorized twin of builders.EntryBuilder.write: one ``<url>`` element
    per row, optional fields omitted when null, field order loc, lastmod,
    priority, changefreq (inclusion/build/entry.rs:77-156).  Byte-for-byte
    equality with the scalar builder is pinned by
    tests/test_sitemap_sink.py::test_vectorized_render_matches_builder."""
    el = "<url><loc>" + _escape_xml_series(pdf["loc"]) + "</loc>"
    if "lastmod" in cols:
        lastmod = ("<lastmod>" + _format_lastmod_series(pdf["lastmod"])
                   + "</lastmod>")
        el = el + lastmod.where(pdf["lastmod"].notna(), "")
    if "priority" in cols:
        # np.char.mod runs C printf %.1f per element — correctly-rounded
        # ties-to-even decimal conversion, identical to Python's f"{v:.1f}"
        # (records.format_priority) and Rust's {:.1} (priority.rs:85-89).
        pr = pdf["priority"]
        formatted = pd.Series(
            np.char.mod("%.1f", pr.fillna(0.0).to_numpy(dtype="float64")),
            index=pr.index)
        el = el + ("<priority>" + formatted + "</priority>").where(
            pr.notna(), "")
    if "changefreq" in cols:
        cf = pdf["changefreq"]
        el = el + ("<changefreq>" + cf.astype(str) + "</changefreq>").where(
            cf.notna(), "")
    el = el + "</url>"
    too_big = el.str.encode("utf-8").str.len() > BYTE_LIMIT
    if bool(too_big.any()):
        raise SinkLimitError("byte limit")  # entry.rs:113-116
    return el


def render_sitemap_files(urls: DataFrame, base_url: str,
                         kind: str = "urlset",
                         records_per_file: int = RECORD_LIMIT) -> DataFrame:
    """(loc[, lastmod, priority, changefreq]) rows -> one row per rendered
    sitemap file: (file_no, sitemap_url, body, n_records).

    Files split on the deterministic order (loc asc) so output is stable;
    per-file rendering happens executor-side through the kit_py builders.
    """
    if records_per_file > RECORD_LIMIT:
        raise ValueError(f"records_per_file > protocol limit {RECORD_LIMIT}")
    cols = urls.columns
    seq = global_sequence(urls, [F.col("loc").asc()], seq_col="__seq")
    with_file = seq.withColumn(
        "file_no", (F.col("__seq") / records_per_file).cast("int"))

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        # Vectorized pandas string render (no per-row Python); the kit_py
        # builders remain the golden scalar kernels for fixture/property
        # tests, and test_vectorized_render_matches_builder pins the two
        # paths byte-for-byte.
        pdf = pdf.sort_values("__seq")
        file_no = int(pdf["file_no"].iloc[0])
        if len(pdf) > RECORD_LIMIT:
            raise SinkLimitError("record limit")  # entry.rs:78-80
        if kind == "txt":
            loc = pdf["loc"].astype(str)
            bad = ((loc.str.len() > URL_LEN_LIMIT)
                   | loc.str.contains("\n", regex=False)
                   | loc.str.contains("\r", regex=False))
            if bool(bad.any()):
                raise SinkLimitError("url length/newline guard")
            records = loc + "\n"
            if int(records.str.encode("utf-8").str.len().sum()) > BYTE_LIMIT:
                raise SinkLimitError("byte limit")  # plain.rs:57-101
            body = records.str.cat()
            ext = "txt"
        else:
            elements = _render_urlset_elements(pdf, cols)
            body = (f'{_BOM}{_DECL}<urlset xmlns="{XMLNS}">'
                    + elements.str.cat() + "</urlset>")
            ext = "xml"
        return pd.DataFrame({
            "file_no": [file_no],
            "sitemap_url": [f"{base_url}/sitemap-{file_no:05d}.{ext}"],
            "body": [body],
            "n_records": [len(pdf)],
        })

    return with_file.groupBy("file_no").applyInPandas(
        render,
        "file_no int, sitemap_url string, body string, n_records long")


def render_sitemap_index(files: DataFrame) -> str:
    """S11: one sitemap-index document over the rendered files (driver-side;
    the file list is #files-sized, tiny by construction)."""
    builder = IndexBuilder()
    for row in files.select("sitemap_url").orderBy("sitemap_url").collect():
        builder.write(row["sitemap_url"])
    return builder.close()
