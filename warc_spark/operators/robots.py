"""robots.txt gating (SURVEY.md §2.B E7).

The rules table is tiny relative to the frontier (one row per host), so it
is *broadcast* — the frontier never shuffles for the gate. Matching is
JVM-side higher-order functions over the per-host rule arrays (whole-stage
codegen, no Python in the gate):

- legacy prefix rules (``disallow_prefixes``): ``exists(prefixes,
  p -> startswith(path, p))``;
- full RFC 9309 rules (``allow_rules``/``disallow_rules``): patterns with
  ``*`` wildcards and ``$`` end-anchors are compiled to regexes ONCE at
  parse time; the gate evaluates longest-match precedence (most octets in
  the original pattern wins; allow wins ties — Google's documented
  semantics) with ``array_max(transform(filter(rules, rlike), len))``.

The reference has no robots machinery — this is engine-side scope from the
north_star ("host-level politeness budgets and robots.txt gating").
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# legacy shape: plain Disallow prefixes only (kept — a valid subset of the
# RFC semantics, and the shape the oracle-sim dict fixtures use)
ROBOTS_SCHEMA = StructType(
    [
        StructField("host", StringType(), False),
        StructField("disallow_prefixes", ArrayType(StringType()), True),
        StructField("crawl_delay", DoubleType(), True),
    ]
)

_RULE_STRUCT = StructType(
    [
        StructField("len", IntegerType(), False),  # octets in the raw pattern
        StructField("rx", StringType(), False),    # compiled regex
    ]
)
_RULE_ARR_SQL = "array<struct<len:int,rx:string>>"

# full shape: Allow + Disallow patterns with * / $ support
ROBOTS_SCHEMA_V2 = StructType(
    [
        StructField("host", StringType(), False),
        StructField("sitemaps", ArrayType(StringType()), True),
        StructField("disallow_prefixes", ArrayType(StringType()), True),
        StructField("allow_rules", ArrayType(_RULE_STRUCT), True),
        StructField("disallow_rules", ArrayType(_RULE_STRUCT), True),
        StructField("crawl_delay", DoubleType(), True),
    ]
)


def url_host(col):
    return F.lower(F.regexp_extract(col, r"//([^/:?#]+)", 1))


def url_path(col):
    path = F.regexp_extract(col, r"//[^/]+(/[^?#]*)", 1)
    return F.when(path == "", "/").otherwise(path)


# ---------------------------------------------------------------------------
# pattern compilation + pure-Python twin (used by tests/oracle_sim.py)
# ---------------------------------------------------------------------------

def pattern_to_regex(pattern: str) -> str:
    """robots.txt path pattern -> anchored regex. ``*`` matches any char
    sequence; a FINAL ``$`` anchors the end of the path; everything else is
    literal (RFC 9309 §2.2.3)."""
    ends = pattern.endswith("$")
    core = pattern[:-1] if ends else pattern
    rx = "^" + "".join(".*" if c == "*" else re.escape(c) for c in core)
    return rx + ("$" if ends else "")


def robots_blocked(path: str, allow: list[str], disallow: list[str]) -> bool:
    """Pure-Python twin of the JVM gate: longest-match precedence, allow
    wins ties. The oracle simulator uses this verbatim."""
    best_allow = max(
        (len(p) for p in allow if re.match(pattern_to_regex(p), path)), default=-1
    )
    best_dis = max(
        (len(p) for p in disallow if re.match(pattern_to_regex(p), path)), default=-1
    )
    return best_dis > best_allow


# ---------------------------------------------------------------------------
# the gate
# ---------------------------------------------------------------------------

def _best_match_len(rules_col, path):
    """Longest raw-pattern length among rules whose regex matches path;
    -1 when none match. Built-ins only (filter/rlike/transform/array_max)."""
    arr = F.coalesce(rules_col, F.array().cast(_RULE_ARR_SQL))
    return F.coalesce(
        F.array_max(
            F.transform(
                F.filter(arr, lambda r: F.rlike(path, r["rx"])),
                lambda r: r["len"],
            )
        ),
        F.lit(-1),
    )


def flag_robots(
    frontier: DataFrame,
    robots: DataFrame | None,
    url_col: str = "url",
    host_col: str = "host",
    flag_col: str = "robots_allowed",
) -> DataFrame:
    """Add a ``robots_allowed`` boolean instead of filtering — lets one
    persisted pass feed both the allowed path and the blocked/retired path
    (no anti-join, no recompute). Unknown hosts (no rules row) are allowed —
    matching common crawler semantics. Accepts either the legacy
    prefix-only table (ROBOTS_SCHEMA) or the full Allow/wildcard table
    (ROBOTS_SCHEMA_V2, longest-match precedence)."""
    if robots is None:
        return frontier.withColumn(flag_col, F.lit(True))
    path = url_path(F.col(url_col))
    if "disallow_rules" in robots.columns:
        gated = frontier.join(
            F.broadcast(robots.select("host", "allow_rules", "disallow_rules")),
            on=host_col,
            how="left",
        )
        blocked = _best_match_len(F.col("disallow_rules"), path) > _best_match_len(
            F.col("allow_rules"), path
        )
        return gated.withColumn(flag_col, ~blocked).drop(
            "allow_rules", "disallow_rules"
        )
    gated = frontier.join(
        F.broadcast(robots.select("host", "disallow_prefixes")),
        on=host_col,
        how="left",
    )
    blocked = F.exists(
        F.coalesce(F.col("disallow_prefixes"), F.array().cast("array<string>")),
        lambda p: path.startswith(p),
    )
    return gated.withColumn(flag_col, ~blocked).drop("disallow_prefixes")


# ---------------------------------------------------------------------------
# robots.txt parsing: raw fetched bodies -> the rules table
# ---------------------------------------------------------------------------

class RobotsRules(NamedTuple):
    allow: list[str]
    disallow: list[str]
    crawl_delay: float | None


def sitemap_urls(body: str) -> list[str]:
    """``Sitemap:`` directives from a robots.txt body (agent-independent
    per the sitemaps protocol — they live outside User-agent groups).
    Feed the result to ``sources.pages.seeds_from_sitemaps`` after
    fetching: robots -> sitemaps -> seeds is the standard discovery
    chain."""
    out = []
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        key, _, val = line.partition(":")
        if key.strip().lower() == "sitemap" and val.strip():
            out.append(val.strip())
    return out


def parse_robots_txt(body: str, agent: str = "*") -> RobotsRules:
    """Parse one robots.txt body into the (allow, disallow, crawl_delay)
    rules for ``agent`` (falling back to the ``*`` group). RFC 9309 subset:
    grouped User-agent stanzas, Allow/Disallow patterns (``*`` wildcard,
    final ``$`` anchor — compiled later by pattern_to_regex), Crawl-delay;
    empty values = no rule; comments and unknown directives ignored. Pure
    function — the executor kernel maps it over a batch."""
    agent = agent.lower()
    groups: dict[str, RobotsRules] = {}
    cur_agents: list[str] = []
    expecting_agents = False
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not expecting_agents:
                cur_agents = []
            cur_agents.append(val.lower())
            for a in cur_agents:
                groups.setdefault(a, RobotsRules([], [], None))
            expecting_agents = True
            continue
        expecting_agents = False
        if not cur_agents:
            continue
        if key == "disallow" and val:
            for a in cur_agents:
                groups[a].disallow.append(val)
        elif key == "allow" and val:
            for a in cur_agents:
                groups[a].allow.append(val)
        elif key == "crawl-delay":
            try:
                d = float(val)
            except ValueError:
                continue
            for a in cur_agents:
                groups[a] = groups[a]._replace(crawl_delay=d)
    return groups.get(agent) or groups.get("*") or RobotsRules([], [], None)


def robots_rules_from_bodies(
    bodies: DataFrame,
    agent: str = "*",
    host_col: str = "host",
    body_col: str = "body",
) -> DataFrame:
    """(host, body) robots.txt fetches -> the ROBOTS_SCHEMA_V2 rules table
    the gate broadcasts. Vectorized: one pandas UDF pass over the bodies,
    which also pre-compiles every pattern to its regex (the gate never
    compiles per row... the JVM regex itself is compiled per evaluation,
    but the *translation* happens once here). The rules table is one row
    per host — tiny vs the frontier, so this runs once per refresh cycle,
    not per batch."""
    import pandas as pd

    def kernel(body):
        bodies_ = [b if b is not None else "" for b in body]
        parsed = [parse_robots_txt(b, agent) for b in bodies_]
        return pd.DataFrame(
            {
                "sitemaps": [sitemap_urls(b) for b in bodies_],
                "disallow_prefixes": [p.disallow for p in parsed],
                "allow_rules": [
                    [(len(pt), pattern_to_regex(pt)) for pt in p.allow]
                    for p in parsed
                ],
                "disallow_rules": [
                    [(len(pt), pattern_to_regex(pt)) for pt in p.disallow]
                    for p in parsed
                ],
                "crawl_delay": [p.crawl_delay for p in parsed],
            }
        )

    udf = F.pandas_udf(
        kernel,
        "sitemaps array<string>, "
        "disallow_prefixes array<string>, "
        "allow_rules array<struct<len:int,rx:string>>, "
        "disallow_rules array<struct<len:int,rx:string>>, "
        "crawl_delay double",
    )
    return bodies.select(
        F.col(host_col).alias("host"), udf(F.col(body_col)).alias("_r")
    ).select(
        "host",
        F.col("_r.sitemaps").alias("sitemaps"),
        F.col("_r.disallow_prefixes").alias("disallow_prefixes"),
        F.col("_r.allow_rules").alias("allow_rules"),
        F.col("_r.disallow_rules").alias("disallow_rules"),
        F.col("_r.crawl_delay").alias("crawl_delay"),
    )
