"""D1: vectorized URL canonicalization (pandas/Arrow UDFs).

The kernel is ``kit_spark.kit_py.urls``; this module wraps it for Spark with
a vectorized fast path: the overwhelming majority of crawl URLs are already
canonical ASCII http(s) URLs, detected with one pandas ``str.fullmatch``
(C-level regex over the whole Arrow batch) and passed through untouched.
Only the messy minority (uppercase hosts, default ports, dot segments,
percent-encoding, userinfo, backslashes...) drops to the per-element kernel.

The UDF returns only ``url_canon``.  ``host_key`` and ``match_path`` are
derived from the canonical form JVM-side by ``derive_host_and_path`` (one
regex, no Python), so the catalog's ``with_canon`` and the crawl's
admission share one derivation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F, types as T

from kit_spark.kit_py.urls import parse_url

# Already-canonical fast path: lowercase scheme+host, no default port, no
# userinfo, no %/\\ tricks, no dot segments, printable ASCII path/query.
_FAST_RE = (
    r"https?://"                                  # lowercase scheme
    r"[a-z0-9]([a-z0-9\-]*[a-z0-9])?"             # host label
    r"(\.[a-z0-9]([a-z0-9\-]*[a-z0-9])?)*"        # dotted labels
    r"(:[0-9]{1,5})?"                              # explicit port (checked below)
    r"/[!$&-.0-9;=A-Z_a-z~/]*"                     # path: safe ASCII, no % ? # \
    r"(\?[!$&-.0-9;=A-Z_a-z~/:]*)?"                # optional simple query
)


def canonical_series(urls: pd.Series) -> pd.Series:
    """pd.Series[str] -> canonical URL strings (None for invalid/non-http)."""
    urls = urls.astype("object")
    fast = urls.str.fullmatch(_FAST_RE, na=False)
    # fast-path exclusions that the regex can't see: default ports and
    # dot segments
    fast &= ~urls.str.contains(r"//[^/]*:(?:80|443)/", regex=True, na=False)
    fast &= ~urls.str.contains(r"//[^/]*:0", regex=True, na=False)  # 0-led port
    fast &= ~urls.str.contains(r"/\.\.?(?:/|$)", regex=True, na=False)

    canon = pd.Series(index=urls.index, dtype="object")
    canon[fast] = urls[fast]
    slow_mask = ~fast
    if slow_mask.any():
        # vectorized pre-normalization of the *common* messy shapes, then
        # re-test the fast path; only true stragglers pay per-element parse
        pre = urls[slow_mask].str.strip()
        # vectorized scheme+authority lowercase (skip userinfo URLs: WHATWG
        # preserves userinfo case, those go to the full parser)
        ext = pre.str.extract(r"^([A-Za-z]+://[^/@]*)((?:/.*)?)$")
        lowered = ext[0].str.lower() + ext[1].fillna("")
        pre = lowered.where(ext[0].notna(), pre)
        pre = pre.str.replace(r"^(https://[^/]*):443(/|$)", r"\1\2", regex=True)
        pre = pre.str.replace(r"^(http://[^/]*):80(/|$)", r"\1\2", regex=True)
        for _ in range(3):  # bounded dot-segment collapse
            collapsed = pre.str.replace(r"/[^/]+/\.\./", "/", regex=True) \
                           .str.replace(r"/\./", "/", regex=True)
            if collapsed.equals(pre):
                break
            pre = collapsed
        refast = pre.str.fullmatch(_FAST_RE, na=False)
        refast &= ~pre.str.contains(r"//[^/]*:(?:80|443)/", regex=True, na=False)
        refast &= ~pre.str.contains(r"//[^/]*:0", regex=True, na=False)
        refast &= ~pre.str.contains(r"/\.\.?(?:/|$)", regex=True, na=False)
        canon[pre.index[refast]] = pre[refast]
        rest = pre.index[~refast]
        if len(rest):
            canon[rest] = [_slow_canon(u) for u in urls[rest]]
    return canon


def _slow_canon(u) -> str | None:
    if not isinstance(u, str):
        return None
    parsed = parse_url(u)
    if parsed is None or parsed.scheme not in ("http", "https"):
        return None
    return parsed.canonical()


@F.pandas_udf(T.StringType())
def _canon_url_udf_raw(urls: pd.Series) -> pd.Series:
    return canonical_series(urls)


# The canon UDF is marked non-deterministic (it is in fact pure) so the
# optimizer never duplicates it around a pushed-down filter: a filter or
# join condition on its *output* (isnotnull(url_canon), the columns
# derive_host_and_path computes from it, the robots-gate host_key
# equi-join) otherwise plants a second ArrowEvalPython below the filter
# and every row pays the kernel twice — the guide §4.4 pattern, observed
# as 2x canon nodes per branch in the round-6 before-plans
# (plans/r06/*_before.txt).  Callers that filter on *input* columns
# (doc_id slices) apply the filter before the UDF call, so no pushdown is
# lost.
canon_url_udf = _canon_url_udf_raw.asNondeterministic()


def with_canon(df, url_col: str = "url"):
    """Append url_canon/host_key/match_path columns (one UDF call)."""
    return derive_host_and_path(
        df.withColumn("url_canon", canon_url_udf(F.col(url_col))))


# scheme, optional userinfo, bracketed IPv6 or plain host, optional port,
# and the rest (path, query, fragment) as the robots match path
_URL_PARTS = (r"(?s)^(https?)://(?:[^/@]*@)?(\[[^\]]*\]|[^/:?#]+)"
              r"(?::([0-9]+))?(/.*)$")


def derive_host_and_path(df, url_col: str = "url_canon"):
    """JVM-side (no UDF) host_key/match_path from an already-*canonical* URL.

    One regex over the canonical form, the kernel's ``url_host_key`` and
    ``match_path()`` exactly (IPv6 hosts stay bracketed).  No
    ``parse_url``: Spark's goes through ``java.net.URI``, which under ANSI
    raises on characters the kernel keeps in canonical URLs (``|``,
    ``^``, ``[``, ``]``, a malformed ``%`` escape).  A null or
    non-matching URL yields null for both.  Admission calls it after
    dedup, so shuffles carry only (url_canon, priority).
    """
    url = F.col(url_col)
    scheme, host, port, path = (F.regexp_extract(url, _URL_PARTS, i)
                                for i in range(1, 5))
    matched = path != ""  # the path group is never empty in a match
    eff_port = (F.when(port != "", port)
                .when(scheme == "https", F.lit("443")).otherwise(F.lit("80")))
    return (df.withColumn("host_key", F.when(matched, F.concat(
                scheme, F.lit("://"), host, F.lit(":"), eff_port)))
            .withColumn("match_path", F.when(matched, path)))
