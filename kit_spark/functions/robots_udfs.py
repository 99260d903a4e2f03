"""Robots compile UDF and relational gate (S1-S4, L1-L5, P4-P12, D5).

* ``make_compile_udf(user_agent)`` — one call per robots.txt *document* (docs are
  capped at 512,000 bytes; per-doc Python cost is amortized over the 10^10
  URLs the compiled ruleset will gate).  Output mirrors the reference's
  serde cache layout (exclusion/parse/serde.rs:8-32) as a struct column:
  ``always`` short-circuit + sorted rule array + crawl_delay + sitemaps.
  Each rule also carries its compile-time Java-regex form (``jre``).

* ``gate_allowed_relational`` — the hot path, with no Python at all.
  Rules arrive pre-sorted (compile-time sort, parser.rs:39-42), so
  matching is a first-match scan over the rule array with Catalyst
  higher-order functions (startswith / equality / ``regexp_like``; the
  greedy ``*`` scan of rule.rs:82-103 is existence-equivalent to the
  anchored ``.*``-joined regex).  It is the crawl's gate and the
  ``robots_gate`` catalog entry's.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F, types as T

from kit_spark.kit_py.robots import Robots

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

    # non-deterministic mark (the kernel is pure): callers select several
    # fields of the one struct output and then filter or join on them (the
    # gate reads always/rules, the schedule crawl_delay); the optimizer
    # would otherwise inline the call into each use and below a pushed
    # filter — observed as 2x ArrowEvalPython in the round-6 robots_gate
    # before-plan (guide §4.4)
    return compile_robots.asNondeterministic()


def gate_allowed_relational(df, path_col: str = "match_path"):
    """D5 gate with ZERO Python: first-match precedence over the pre-sorted
    rule array via Catalyst higher-order functions — prefix rules match
    with ``startswith``, ``$``-anchored with equality, star/regex rules
    with ``regexp_like`` on the compile-time Java-regex form.  The whole
    gate stays inside whole-stage codegen, so at 10^10 rows no Arrow
    boundary exists on the hot path at all.

    Contract: ``path_col`` must already be a *canonical* match path (the
    canonicalizer's output is a fixed point of the robots path
    normalization, so no re-normalization is needed); a raw path must go
    through ``kit_py.robots.normalize_path`` first.  Semantics equal the
    kernel's ``Robots.is_allowed`` (golden corpus + kernel parity tested).
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

