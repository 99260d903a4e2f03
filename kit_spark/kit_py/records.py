"""Sitemap record scalar semantics (Priority, Frequency, timestamps).

Mirrors the reference's ``sitemapo::record`` module:
* limits:          inclusion/record/mod.rs:13-22
* Priority:        inclusion/record/priority.rs:32-98
* Frequency:       inclusion/record/frequency.rs:42-100
* lastmod parse:   inclusion/parse/entry.rs:109 (lenient ISO8601 -> None)
* lastmod format:  inclusion/build/inner.rs:9-13 (2-decimal seconds)
"""

from __future__ import annotations

import datetime as dt
import re
from typing import Optional

RECORD_LIMIT = 50_000  # URLs per sitemap (inclusion/record/mod.rs:13)
BYTE_LIMIT = 52_428_800  # 50 MiB uncompressed (inclusion/record/mod.rs:17)
URL_LEN_LIMIT = 65_536  # newline-vuln guard (inclusion/record/mod.rs:19-22)

FREQUENCIES = ("always", "hourly", "daily", "weekly", "monthly", "yearly", "never")

_FLOAT_RE = re.compile(
    r"[+-]?(inf(inity)?|nan|(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?)", re.IGNORECASE
)


def parse_priority(text: str) -> Optional[float]:
    """``Priority::parse``: f32 parse then range-check [0.0, 1.0]
    (inclusion/record/priority.rs:32-37,56-60); invalid -> None (the
    EntryFactory drops the field, inclusion/parse/entry.rs:113)."""
    if text is None:
        return None
    s = text  # Rust f32::from_str does NOT trim
    if not _FLOAT_RE.fullmatch(s):
        return None
    try:
        v = float(s)
    except ValueError:  # pragma: no cover
        return None
    if not (0.0 <= v <= 1.0):  # NaN fails both comparisons, as in Rust
        return None
    return v


DEFAULT_PRIORITY = 0.5  # Priority::AVG (inclusion/record/priority.rs:71)


def format_priority(v: float) -> str:
    """Display as ``{:.1}`` (inclusion/record/priority.rs:85-89)."""
    return f"{v:.1f}"


def parse_frequency(text: str) -> Optional[str]:
    """``Frequency::parse``: trim + lowercase -> 7-way enum, else None
    (inclusion/record/frequency.rs:42-56)."""
    if text is None:
        return None
    f = text.strip().lower()
    return f if f in FREQUENCIES else None


# changefreq -> recrawl interval (inclusion/record/frequency.rs:69-83).
_NEXT_DELTA = {
    "hourly": dt.timedelta(hours=1),
    "daily": dt.timedelta(days=1),
    "weekly": dt.timedelta(days=7),
    "monthly": dt.timedelta(days=30),
    "yearly": dt.timedelta(days=365),
}


def next_date(frequency: str, date: dt.datetime) -> Optional[dt.datetime]:
    """``Frequency::next_date``: always/never -> None; fixed offsets else."""
    delta = _NEXT_DELTA.get(frequency)
    return date + delta if delta is not None else None


def is_outdated(frequency: str, date: dt.datetime, now: dt.datetime) -> bool:
    """``Frequency::is_outdated`` (inclusion/record/frequency.rs:92-100)."""
    if frequency == "always":
        return True
    if frequency == "never":
        return False
    nxt = next_date(frequency, date)
    return nxt is not None and nxt <= now


_TZ_RE = re.compile(r"(Z|[+-]\d{2}:?\d{2})$")


def parse_lastmod(text: str) -> Optional[dt.datetime]:
    """Lenient ISO8601 -> aware UTC datetime, None on failure.

    The reference uses ``OffsetDateTime::parse(_, Iso8601::PARSING)``
    (inclusion/parse/entry.rs:109).  Deviation (documented): date-only values
    like ``2022-06-04`` — ubiquitous in real sitemaps and valid per
    sitemaps.org — are accepted as midnight UTC, where the ``time`` crate
    needs a time+offset to build an OffsetDateTime.
    """
    if text is None:
        return None
    s = text.strip()
    try:
        if _TZ_RE.search(s):
            d = dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
        else:
            d = dt.datetime.fromisoformat(s)
        if d.tzinfo is None:
            d = d.replace(tzinfo=dt.timezone.utc)
        return d.astimezone(dt.timezone.utc)
    except ValueError:
        return None


def format_lastmod(d: dt.datetime) -> str:
    """ISO8601 with exactly 2 fractional-second digits (build/inner.rs:9-13),
    UTC rendered as ``Z``."""
    if d.tzinfo is None:
        d = d.replace(tzinfo=dt.timezone.utc)
    d = d.astimezone(dt.timezone.utc)
    frac = d.microsecond // 10_000
    return d.strftime("%Y-%m-%dT%H:%M:%S") + f".{frac:02d}Z"
