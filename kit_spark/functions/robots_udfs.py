"""Robots compile & match UDFs (S1-S4, L1-L5, P4-P12, D5).

Two vectorized kernels:

* ``compile_robots_udf`` — one call per robots.txt *document* (docs are
  capped at 512,000 bytes; per-doc Python cost is amortized over the 10^10
  URLs the compiled ruleset will gate).  Output mirrors the reference's
  serde cache layout (exclusion/parse/serde.rs:8-32) as a struct column:
  ``always`` short-circuit + sorted rule array + crawl_delay + sitemaps.

* ``match_allowed_udf`` — the hot path.  Rules arrive pre-sorted (compile
  time sort, parser.rs:39-42), so matching is a first-match scan — but
  vectorized: paths are grouped by host within each Arrow batch and every
  rule is evaluated as one pandas C-level string op over the host's
  still-undecided paths (startswith / equality / anchored regex; the
  greedy ``*`` scan of rule.rs:82-103 is existence-equivalent to the
  anchored ``.*``-joined regex used here).  Compiled per-host matchers are
  LRU-cached per executor (the reference's OnceLock/Arc analog,
  rule.rs:55-57, parse/mod.rs:67-70).
"""

from __future__ import annotations

import re
from collections import OrderedDict

import pandas as pd
from pyspark.sql import functions as F, types as T

from kit_spark.kit_py.robots import Robots, normalize_path

RULE_STRUCT = T.StructType([
    T.StructField("pattern", T.StringType()),
    T.StructField("allow", T.BooleanType()),
    T.StructField("kind", T.StringType()),
    T.StructField("mp", T.StringType()),  # kind-specific precompiled form
    # Java-regex form for the pure-Catalyst gate (universal/regex kinds;
    # null for prefix/ending which match with startswith/equality)
    T.StructField("jre", T.StringType()),
])


def _java_regex(kind: str, mp: str) -> str | None:
    """JVM-side matcher form, computed once at compile time.

    * universal: the greedy ``*`` scan (rule.rs:82-103) is existence-
      equivalent to an anchored ``.*``-joined regex.
    * regex: the kernel's Python form ends in ``\\Z`` (absolute end);
      Java's absolute-end anchor is ``\\z`` (Java ``\\Z`` permits a final
      newline, Python ``\\Z`` does not).  The anchor is always trailing —
      it only ever comes from a validated trailing ``$`` — so only the
      tail is rewritten (an *interior* ``\\Z`` would be an escaped literal
      backslash + Z and must stay).
    """
    if kind == "universal":
        return "^" + ".*".join(re.escape(p) for p in mp.split("*"))
    if kind == "regex":
        assert mp.endswith(r"\Z"), mp
        return mp[:-2] + r"\z"
    return None

ROBOTS_STRUCT = T.StructType([
    T.StructField("user_agent", T.StringType()),
    T.StructField("always", T.BooleanType()),
    T.StructField("rules", T.ArrayType(RULE_STRUCT)),
    T.StructField("crawl_delay", T.DoubleType()),
    T.StructField("sitemaps", T.ArrayType(T.StringType())),
])

ROBOTS_CACHE_SCHEMA = T.StructType([
    T.StructField("host_key", T.StringType(), False),
    T.StructField("access_state", T.StringType()),
    *ROBOTS_STRUCT.fields,
])


def make_compile_udf(user_agent: str):
    """Compile UDF bound to the engine's (constant) user agent — UA group
    selection happens at parse time exactly as in the reference (P10),
    with the reference's ``optimal`` global-rule collapse always on."""

    @F.pandas_udf(ROBOTS_STRUCT)
    def compile_robots(access: pd.Series, body: pd.Series) -> pd.DataFrame:
        out = {"user_agent": [], "always": [], "rules": [],
               "crawl_delay": [], "sitemaps": []}
        for acc, data in zip(access.tolist(), body.tolist()):
            if isinstance(data, str):
                data = data.encode("utf-8")
            robots = Robots.from_access(acc or "unavailable", data,
                                        user_agent)
            out["user_agent"].append(robots.user_agent)
            out["always"].append(robots.always)
            out["rules"].append([
                {"pattern": r.pattern, "allow": r.allow, "kind": r.kind,
                 "mp": r.match_pattern,
                 "jre": _java_regex(r.kind, r.match_pattern)}
                for r in robots.rules
            ])
            out["crawl_delay"].append(robots.crawl_delay)
            out["sitemaps"].append(list(robots.sitemaps))
        return pd.DataFrame(out)

    # non-deterministic mark (the kernel is pure): gate_allowed's fast/slow
    # split filters on the compile OUTPUT (always isNull / isNotNull) and
    # the optimizer would otherwise duplicate the compile evaluation below
    # each pushed filter — observed as 2x ArrowEvalPython per union arm in
    # the round-6 robots_gate before-plan (guide §4.4)
    return compile_robots.asNondeterministic()


# --- vectorized matcher -----------------------------------------------------


class _HostMatcher:
    """Pre-sorted rules of one host, each evaluated as a pandas vector op."""

    __slots__ = ("always", "steps")

    def __init__(self, always, rules) -> None:
        self.always = always
        self.steps = []
        if always is None and rules is not None:
            for r in rules:
                kind, mp, allow = r["kind"], r["mp"], bool(r["allow"])
                if kind == "universal":
                    parts = [re.escape(p) for p in mp.split("*")]
                    mp = "^" + ".*".join(parts)
                    kind = "regex"
                self.steps.append((kind, mp, allow))

    def match(self, paths: pd.Series) -> pd.Series:
        """Vector of allowed booleans for normalized match-paths."""
        if self.always is not None:
            return pd.Series(self.always, index=paths.index)
        allowed = pd.Series(True, index=paths.index)  # no match -> allowed
        undecided = paths != "/robots.txt"  # always allowed (inner.rs:96)
        for kind, mp, allow in self.steps:
            if not undecided.any():
                break
            subset = paths[undecided]
            if kind == "prefix":
                hit = subset.str.startswith(mp)
            elif kind == "ending":
                hit = subset == mp
            else:  # regex (incl. translated universal)
                hit = subset.str.match(mp, na=False)
            hit_idx = subset.index[hit]
            allowed.loc[hit_idx] = allow
            undecided.loc[hit_idx] = False
        return allowed


_MATCHER_CACHE: OrderedDict[tuple, _HostMatcher] = OrderedDict()
_MATCHER_CACHE_MAX = 4096


def _matcher_for(host_key: str, always, rules) -> _HostMatcher:
    # cheap fingerprint so a host whose robots changed (recrawl, other test
    # web in the same executor) never reuses a stale matcher
    # rules arrives as a numpy array of dicts via Arrow — no bool() on it
    nrules = len(rules) if rules is not None else -1
    first = rules[0]["pattern"] if nrules > 0 else None
    key = (host_key, always, nrules, first)
    m = _MATCHER_CACHE.get(key)
    if m is None:
        m = _HostMatcher(always, rules)
        _MATCHER_CACHE[key] = m
        if len(_MATCHER_CACHE) > _MATCHER_CACHE_MAX:
            _MATCHER_CACHE.popitem(last=False)
    else:
        _MATCHER_CACHE.move_to_end(key)
    return m


_NEEDS_NORM = re.compile(r'[^!-~]|["<>]')


def _normalize_paths(paths: pd.Series) -> pd.Series:
    """Vectorized normalize_path: unchanged unless a path contains chars the
    percent-encoder touches or lacks the leading slash (the rare case)."""
    needs = paths.str.contains(_NEEDS_NORM, regex=True, na=False) | \
        ~paths.str.startswith("/").fillna(False)
    if needs.any():
        paths = paths.copy()
        paths[needs] = [normalize_path(p) for p in paths[needs]]
    return paths


def match_allowed_batch(host_key: pd.Series, always: pd.Series,
                        rules: pd.Series, match_path: pd.Series) -> pd.Series:
    paths = _normalize_paths(match_path.astype("object"))
    out = pd.Series(True, index=paths.index, dtype="object")
    frame = pd.DataFrame({"h": host_key, "p": paths})
    for host, group in frame.groupby("h", sort=False):
        first = group.index[0]
        matcher = _matcher_for(host, always.get(first), rules.get(first))
        out.loc[group.index] = matcher.match(group["p"])
    return out.astype(bool)


@F.pandas_udf(T.BooleanType())
def _match_allowed_udf_raw(host_key: pd.Series, always: pd.Series,
                           rules: pd.Series, match_path: pd.Series) -> pd.Series:
    return match_allowed_batch(host_key, always, rules, match_path)


# same single-eval mark as the compile UDF: the crawl round filters on the
# gate's OUTPUT (``gated.where(allowed)``, crawl.py), which would otherwise
# re-evaluate the matcher below the pushed filter (guide §4.4)
match_allowed_udf = _match_allowed_udf_raw.asNondeterministic()


def gate_allowed_relational(df, path_col: str = "match_path"):
    """D5 gate with ZERO Python: first-match precedence over the pre-sorted
    rule array via Catalyst higher-order functions — prefix rules match
    with ``startswith``, ``$``-anchored with equality, star/regex rules
    with ``regexp_like`` on the compile-time Java-regex form.  The whole
    gate stays inside whole-stage codegen, so at 10^10 rows no Arrow
    boundary exists on the hot path at all.

    Contract: ``path_col`` must already be a *canonical* match path (the
    canonicalizer's output is a fixed point of the robots path
    normalization, so no re-normalization is needed); arbitrary raw paths
    should use :func:`gate_allowed`, whose kernel re-normalizes.
    Semantics are identical (golden corpus + kernel parity tested).
    """
    p = F.col(path_col)

    def rule_matches(r):
        return (F.when(r["kind"] == "prefix", p.startswith(r["mp"]))
                .when(r["kind"] == "ending", p == r["mp"])
                .otherwise(F.regexp_like(p, r["jre"])))

    # try_element_at: NULL (not an ANSI error) when no rule matched
    first = F.try_element_at(F.filter(F.col("rules"), rule_matches), F.lit(1))
    allowed = F.coalesce(
        F.col("always"),                                   # Always(b)
        F.when(p == "/robots.txt", F.lit(True)),           # inner.rs:96
        first["allow"],                                    # first match
        F.lit(True))                                       # no match
    return df.withColumn("allowed", allowed)


def gate_allowed(df, host_col="host_key", path_col="match_path"):
    """D5 gate: expects the robots_cache columns (always, rules) already
    joined onto ``df``; appends boolean ``allowed``.

    The Always short-circuit stays JVM-side: rows with a non-null ``always``
    are split off *before* the Python UDF (manual pruning per SURVEY.md §4 —
    Spark may evaluate a UDF inside CASE WHEN for all rows, so a plain
    when/otherwise would not prune)."""
    fast = df.where(F.col("always").isNotNull()) \
             .withColumn("allowed", F.col("always"))
    slow = df.where(F.col("always").isNull()).withColumn(
        "allowed",
        match_allowed_udf(F.col(host_col), F.col("always"),
                          F.col("rules"), F.col(path_col)))
    return fast.unionByName(slow)
