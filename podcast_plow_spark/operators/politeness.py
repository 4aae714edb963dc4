"""Politeness: robots.txt evaluation (inside the crawl engine's
single-pass candidate gate), per-host fetch scheduling, and hot-host
salting (SURVEY.md §2.10, north-rule axis).

The reference's politeness is a sequential QPS throttle
(``server/services/evidence.py:414-441``) + inter-query sleep
(``server/services/evidence_fetcher.py:742-747``); its distributed
analog keeps *per-host* state consistent by co-locating each host's
URLs in one group (``repartition(N, 'host_hash')`` →
``applyInPandas``).

robots.txt is **new capability** (absent from the reference —
SURVEY.md §2.10 P6); semantics are RFC 9309: group selection by
user-agent (specific group wins over ``*``), longest-match-wins among
allow/disallow rules, ``*`` wildcard and ``$`` anchor, no match →
allowed, empty Disallow → allow-all. Frozen by tests/test_robots.py.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from urllib.parse import urlparse

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from podcast_plow_spark.functions.urls import _canonicalize_series, extract_host

__all__ = [
    "parse_robots",
    "parse_crawl_delay",
    "robots_allowed",
    "robots_filter",
    "schedule_fetches",
    "salt_hot_hosts",
]


# --- RFC 9309 evaluator -------------------------------------------------

def parse_robots(text: str, user_agent: str) -> list[tuple[bool, str]]:
    """Parse robots.txt → ordered (allow, path_pattern) rules for the
    most specific matching user-agent group."""
    groups: list[tuple[list[str], list[tuple[bool, str]]]] = []
    current_agents: list[str] = []
    current_rules: list[tuple[bool, str]] = []
    saw_rule = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if saw_rule:
                groups.append((current_agents, current_rules))
                current_agents, current_rules, saw_rule = [], [], False
            current_agents.append(val.lower())
        elif key in ("allow", "disallow"):
            saw_rule = True
            if val:
                current_rules.append((key == "allow", val))
            elif key == "disallow":
                pass  # empty Disallow = allow all (no rule needed)
        elif key == "crawl-delay":
            # a rule line for group-boundary purposes (keeps group
            # splitting identical to parse_crawl_delay — ADVICE r2):
            # 'UA: a / Crawl-delay / UA: b' is two groups, not one
            saw_rule = True
    if current_agents:
        groups.append((current_agents, current_rules))

    ua = user_agent.lower()
    # most specific agent token wins; '*' is the fallback. RFC 9309
    # §2.2.1: multiple groups naming the SAME token are combined into
    # one group (rules concatenated in document order).
    best_token: str | None = None
    best_len = -1
    for agents, _rules in groups:
        for agent in agents:
            if agent != "*" and agent in ua and len(agent) > best_len:
                best_token, best_len = agent, len(agent)
    merged: list[tuple[bool, str]] = []
    target = best_token if best_token is not None else "*"
    for agents, rules in groups:
        if target in agents:
            merged.extend(rules)
    return merged


def parse_crawl_delay(text: str, user_agent: str) -> float | None:
    """Crawl-delay for the selected (merged) user-agent group, seconds.
    Non-standard but widely honored; the last valid value among the
    chosen groups wins. None when absent/invalid."""
    groups: list[tuple[list[str], float | None]] = []
    current_agents: list[str] = []
    current_delay: float | None = None
    saw_rule = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if saw_rule:
                groups.append((current_agents, current_delay))
                current_agents, current_delay, saw_rule = [], None, False
            current_agents.append(val.lower())
        elif key in ("allow", "disallow", "crawl-delay"):
            saw_rule = True
            if key == "crawl-delay":
                try:
                    current_delay = float(val)
                except ValueError:
                    pass
    if current_agents:
        groups.append((current_agents, current_delay))

    ua = user_agent.lower()
    best_token: str | None = None
    best_len = -1
    for agents, _d in groups:
        for agent in agents:
            if agent != "*" and agent in ua and len(agent) > best_len:
                best_token, best_len = agent, len(agent)
    target = best_token if best_token is not None else "*"
    delay: float | None = None
    for agents, d in groups:
        if target in agents and d is not None:
            delay = d
    return delay


def _pattern_to_regex(pattern: str) -> re.Pattern[str]:
    # RFC 9309 §2.2.3: only a *pattern-final* '$' anchors the match;
    # an interior '$' is a literal character and must be escaped.
    out = []
    last = len(pattern) - 1
    for i, ch in enumerate(pattern):
        if ch == "*":
            out.append(".*")
        elif ch == "$" and i == last:
            out.append("$")
        else:
            out.append(re.escape(ch))
    return re.compile("^" + "".join(out))


def robots_allowed(rules: list[tuple[bool, str]], path: str) -> bool:
    """Longest-match-wins (RFC 9309 §2.2.2); tie → allow; no match → allow."""
    best_len = -1
    verdict = True
    for allow, pattern in rules:
        if _pattern_to_regex(pattern).match(path):
            plen = len(pattern)
            if plen > best_len or (plen == best_len and allow):
                best_len = plen
                verdict = allow
    return verdict


def robots_filter(
    raw: DataFrame,
    robots_by_host: dict[str, str],
    user_agent: str = "plow-spark",
    url_col: str = "url",
) -> DataFrame:
    """Canonicalize, extract the host and apply the robots gate in ONE
    Python pass per candidate row.

    Adds ``url_canon`` and ``host`` to ``raw``'s columns and drops rows
    whose canonical URL is null or whose path robots.txt disallows.
    The per-host robots bodies are broadcast and parsed once per host
    per task. One opaque ``mapInPandas`` instead of two scalar UDFs
    plus a gate: Catalyst cannot push the ``url_canon IS NOT NULL``
    filter below a join and so evaluate the canonicalizer twice, and
    each row crosses the Arrow boundary once."""
    bc = raw.sparkSession.sparkContext.broadcast(robots_by_host)
    # copy — .add() would mutate the input DataFrame's cached schema
    out_schema = StructType(
        list(raw.schema.fields)
        + [StructField("url_canon", StringType()), StructField("host", StringType())]
    )

    def gate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rules: dict[str, list[tuple[bool, str]]] = {}
        bodies = bc.value
        for pdf in batches:
            canon = _canonicalize_series(pdf[url_col])
            keep = canon.notna().to_numpy()
            pdf, canon = pdf[keep].copy(), canon[keep]
            hosts = canon.map(extract_host)
            oks = np.zeros(len(canon), dtype=bool)
            for i, (url, host) in enumerate(zip(canon, hosts)):
                h = (host or "").lower()
                if h not in rules:
                    rules[h] = parse_robots(bodies.get(h, ""), user_agent)
                oks[i] = robots_allowed(rules[h], urlparse(url).path or "/")
            pdf["url_canon"] = canon.to_numpy()
            pdf["host"] = hosts.to_numpy()
            yield pdf[oks]

    return raw.mapInPandas(gate, schema=out_schema)


# --- per-host fetch scheduling ------------------------------------------

def schedule_fetches(
    batch: DataFrame,
    crawl_delay_sec: float,
    max_connections: int = 1,
    rank_col: str = "crawl_rank",
    host_col: str = "host",
    per_host_delay: dict[str, float] | None = None,
    salt_col: str | None = None,
    n_salts_col: str | None = None,
) -> DataFrame:
    """Assign each URL in a dequeued batch its politeness-constrained
    fetch offset (seconds from epoch start).

    Per host: fetches are spaced ``delay / max_connections`` apart in
    crawl-rank order (reference-equivalent setting is
    max_connections=1 → strictly sequential per host, SURVEY.md P7).
    ``per_host_delay`` (e.g. robots Crawl-delay values from
    :func:`parse_crawl_delay`) overrides the default per host — the
    map is inlined as a literal (it's per-host metadata, broadcast-
    sized). Pure window arithmetic — no Python state: offset = (rank
    within host − 1) × spacing. Politeness only ever *delays* URLs,
    so crawl ordering (global rank) is untouched.

    **Salted mode** (``salt_col`` + ``n_salts_col``, the
    :func:`salt_hot_hosts` output): the window partitions by
    ``(host, salt)`` — a hot host's schedule is computed by ``n_salts``
    parallel tasks instead of one, and every stage downstream of this
    window inherits the spread partitioning. The per-host politeness
    budget is divided across lanes: lane ``s`` fetches at offsets
    ``(s + j·n_salts) × spacing`` — every fetch lands on a distinct
    slot of the per-host spacing grid, so any two fetches to the same
    host are ≥ ``spacing`` apart regardless of lane interleaving
    (slots are distinct multiples of ``spacing``). Cold rows carry
    ``salt = 0, n_salts = 1`` and get byte-identical offsets to the
    un-salted mode.
    """
    from pyspark.sql import Window

    if salt_col:
        w = Window.partitionBy(host_col, salt_col).orderBy(F.col(rank_col).asc())
    else:
        w = Window.partitionBy(host_col).orderBy(F.col(rank_col).asc())
    if per_host_delay:
        kv: list = []
        for h, d in per_host_delay.items():
            kv.extend([F.lit(h), F.lit(float(d))])
        delay = F.coalesce(
            F.element_at(F.create_map(*kv), F.col(host_col)), F.lit(float(crawl_delay_sec))
        )
    else:
        delay = F.lit(float(crawl_delay_sec))
    spacing = delay / F.lit(float(max(1, max_connections)))
    rank0 = F.row_number().over(w) - 1
    if salt_col:
        lanes = F.col(n_salts_col) if n_salts_col else F.lit(1)
        offset = F.col(salt_col) * spacing + rank0 * spacing * lanes
    else:
        offset = rank0 * spacing
    return batch.withColumn("fetch_offset_sec", offset.cast("double"))


# --- skew handling --------------------------------------------------------

def salt_hot_hosts(
    frontier: DataFrame,
    hot_threshold: int = 100_000,
    n_salts: int = 16,
    host_col: str = "host",
) -> DataFrame:
    """Explicit salting of skewed hosts (north rule; SURVEY.md §4.1).

    Hosts with more queued URLs than ``hot_threshold`` get their rows
    spread over ``n_salts`` sub-keys (``host_salt``), so one hot host
    no longer pins a single partition/task. The politeness budget must
    then be divided across salts by the scheduler (delay × n_salts per
    salt keeps the *per-host* rate honest) — schedule_fetches is called
    per salt group with the scaled delay.

    AQE's skew-join splitting cannot do this for us: politeness state
    must remain consistent *per real host*, which requires the salt to
    be explicit and budget-aware rather than a runtime partition split.
    """
    counts = frontier.groupBy(host_col).agg(F.count(F.lit(1)).alias("__n"))
    hot = counts.where(F.col("__n") >= hot_threshold).select(host_col, F.lit(True).alias("__hot"))
    out = frontier.join(F.broadcast(hot), host_col, "left")
    return (
        out.withColumn(
            "host_salt",
            F.when(
                F.col("__hot").isNotNull(),
                F.pmod(F.crc32(F.encode(F.col("url_canon"), "utf-8")), F.lit(n_salts)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        # per-row lane count: schedule_fetches divides the per-host
        # politeness budget by this (spacing × lanes per lane), so hot
        # hosts keep their aggregate rate while cold hosts (1 lane)
        # schedule byte-identically to the un-salted path
        .withColumn(
            "host_salts",
            F.when(F.col("__hot").isNotNull(), F.lit(int(n_salts))).otherwise(F.lit(1)).cast("int"),
        )
        .drop("__hot")
    )
