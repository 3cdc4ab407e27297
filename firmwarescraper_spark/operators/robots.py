"""robots.txt compliance — table-driven, protego-compatible core rules.

The reference obeys robots globally (ROBOTSTXT_OBEY = True,
/root/reference/firmware/settings.py:11) via scrapy's protego parser:
longest-match-wins between the most specific Allow and Disallow rule, with
Allow winning ties. The engine reproduces that as pure relational algebra:

  1. ``build_robots_rules`` parses robots.txt pages (``url``, ``html``
     rows: the crawl engine fetches one per new ``scheme://authority``
     through its page fetcher) into a flat rule table
     (host, is_allow, rule_regex, rule_len) plus (host, crawl_delay);
  2. ``robots_filter`` broadcast-joins rules to the frontier on host,
     evaluates each rule as a regex (wildcards * and $ compiled at table
     build time), and aggregates longest-allow vs longest-disallow per URL.

No per-row Python on the Spark path — rule compilation happens once,
driver-side, on a table that is tiny by construction (rules per host).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _rule_to_regex(rule: str) -> str:
    """Compile a robots path rule to an anchored Java-compatible regex:
    '*' -> '.*', trailing '$' -> end anchor, everything else literal."""
    anchored_end = rule.endswith("$")
    body = rule[:-1] if anchored_end else rule
    out = "^" + ".*".join(re.escape(part) for part in body.split("*"))
    if anchored_end:
        out += "$"
    return out


def parse_robots_txt(body: str) -> tuple:
    """Parse one robots.txt into ([(is_allow, rule)], crawl_delay|None) for
    the '*' user-agent group (the reference crawls with a single agent)."""
    rules, delay = [], None
    active = False
    group_started = False
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, _, value = line.partition(":")
        key, value = key.strip().lower(), value.strip()
        if key == "user-agent":
            if group_started:          # a new group begins
                active, group_started = False, False
            if value == "*":
                active = True
        elif key in ("allow", "disallow"):
            group_started = True
            if active and value:
                rules.append((key == "allow", value))
        elif key == "crawl-delay":
            group_started = True
            if active:
                try:
                    delay = float(value)
                except ValueError:
                    pass
    return rules, delay


# RFC 9309 §2.3: Sitemap lines are group-independent — they apply to the
# whole file regardless of user-agent sections, so a pure column harvest
# (no group-state machine) is exact.
_SITEMAP_LINE_RE = r"(?im)^\s*sitemap\s*:\s*(\S+)"


def robots_sitemaps(pages: DataFrame) -> DataFrame:
    """Harvest ``Sitemap:`` lines from every robots.txt in the corpus —
    the seed-discovery input to sources/sitemaps.sitemap_entries. Output:
    (host, sitemap_url), one row per declared sitemap. Pure column
    algebra over the filtered robots scan (regexp_extract_all + explode,
    a narrow generator — no shuffle, no Python), unlike the rules parse
    above which needs the stateful user-agent group machine."""
    robots = pages.filter(
        F.col("url").rlike(r"^[a-z]+://[^/]+/robots\.txt$")
    ).select(
        F.regexp_replace(
            F.regexp_replace(F.col("url"), r"^[a-z]+://", ""),
            r"(:\d+)?/robots\.txt$", "",
        ).alias("host"),
        F.col("html").cast("string").alias("body"),
    )
    return robots.select(
        "host",
        F.explode(
            F.regexp_extract_all(F.col("body"), F.lit(_SITEMAP_LINE_RE), 1)
        ).alias("sitemap_url"),
    )


def build_robots_rules(pages: DataFrame, persist: bool = False) -> tuple:
    """From the pages corpus, build (rules_df, delay_df) — fully
    distributed, no driver-side ``.collect()``: at 10^7 hosts the robots
    rows scale with host count and must stay a DataFrame.

    rules_df: host, is_allow, rule_regex, rule_len
    delay_df: host, crawl_delay
    Consumers broadcast-join the result while it fits and shuffle-join past
    the broadcast threshold — Spark picks per plan.

    ``persist=True`` caches the parsed table that BOTH outputs derive from
    (ADVICE r2: rules_df and delay_df are two filters over the same
    mapInPandas output — uncached, the robots scan + Python parse would
    execute once per derived view). A caller that must release that cache
    builds it with ``robots_table`` and splits it with
    ``split_robots_table``.
    """
    table = robots_table(pages)
    return split_robots_table(table.persist() if persist else table)


def robots_table(pages: DataFrame) -> DataFrame:
    """Every /robots.txt row of ``pages`` parsed into (host, is_allow,
    rule_regex, rule_len, crawl_delay): one row per rule, crawl_delay null,
    and one per crawl delay, the rule columns null. Parsing runs inside one
    Arrow-batched ``mapInPandas`` over the filtered robots scan (the
    pure-Python ``parse_robots_txt`` is shared with the simulator
    oracle)."""
    import pandas as pd

    robots = pages.filter(
        F.col("url").rlike(r"^[a-z]+://[^/]+/robots\.txt$")
    ).select("url", F.col("html").cast("string").alias("body"))

    def _parse(batches):
        for pdf in batches:
            out = []
            for url, body in zip(pdf["url"], pdf["body"]):
                host = re.sub(r"^[a-z]+://([^/]+)/robots\.txt$", r"\1", url)
                # key by the frontier's host definition (url_host_udf
                # strips ports): a rules row keyed "h:8080" would never
                # join a frontier row whose host is "h" — robots silently
                # skipped for any port-carrying URL (caught by the r4
                # HTTP-robots test on a localhost:port corpus).
                # DOCUMENTED DIVERGENCE (ADVICE r4): RFC 9309 / protego
                # scope robots.txt per scheme://host:port authority; this
                # engine conflates ports on one host key, so rules fetched
                # from h:8080 and h merge and longest-match evaluates their
                # union. Distinct-port authorities on one hostname are rare
                # in the reference's crawl universe (zero in its seed set);
                # carrying host:port through BOTH the frontier host key and
                # the rules key is the fix if that ever changes — the
                # politeness budget would then also become per-authority,
                # which is the stricter, safer direction.
                host = re.sub(r":\d+$", "", host)
                rules, delay = parse_robots_txt(body or "")
                for is_allow, rule in rules:
                    out.append((host, is_allow, _rule_to_regex(rule),
                                len(rule), None))
                if delay is not None:
                    out.append((host, None, None, None, float(delay)))
            if out:
                yield pd.DataFrame(
                    out, columns=["host", "is_allow", "rule_regex",
                                  "rule_len", "crawl_delay"],
                )

    return robots.mapInPandas(
        _parse,
        schema="host string, is_allow boolean, rule_regex string, "
               "rule_len int, crawl_delay double",
    )


def split_robots_table(table: DataFrame) -> tuple:
    """(rules_df, delay_df) of a ``robots_table``."""
    rules_df = table.filter(F.col("is_allow").isNotNull()).select(
        "host", "is_allow", "rule_regex", "rule_len"
    )
    delay_df = table.filter(F.col("crawl_delay").isNotNull()).select(
        "host", "crawl_delay"
    )
    return rules_df, delay_df


def robots_filter(frontier: DataFrame, rules_df: DataFrame,
                  persist_split: bool = False) -> tuple:
    """Split frontier into (allowed, blocked) by protego longest-match:
    a URL is blocked iff its longest matching Disallow rule is strictly
    longer than its longest matching Allow rule.

    ``persist_split=True`` persists the verdict-joined parent and
    returns ``(allowed, blocked, joined)`` — both branches then filter
    ONE cached frame instead of each consumer re-running the rules join
    + verdict aggregation (the crawl round's metrics and seen writes
    both read ``blocked``; uncached that was two extra full passes of
    frontier ⋈ rules per round). The caller owns ``joined.unpersist()``.

    Plan shape (round 6): rules pre-group to ONE array row per host —
    the same tiny table, one row instead of rules-per-host — and the
    verdict is a per-frontier-row fold over that array: one join on
    host, zero Exchange of the frontier, no per-URL re-aggregation.
    (The previous shape exploded frontier x rules-per-host, shuffled
    the explosion by url_hash for the max-length aggregation, then
    joined the verdict back — two extra frontier-sized wide ops per
    round. Regex evaluation count is identical; the longest-match /
    Allow-wins-ties semantics are pinned by the same tests.)"""
    path = F.regexp_replace("canon_url", r"^[a-z]+://[^/]*", "")
    # no forced broadcast hint (VERDICT r2): the rules table scales with
    # host count — at 10^7 hosts a forced broadcast is a driver OOM. Under
    # the broadcast threshold Spark/AQE still picks BroadcastHashJoin on
    # its own; past it the join degrades gracefully to a shuffle join.
    per_host = rules_df.groupBy("host").agg(
        F.collect_list(
            F.struct("rule_regex", "rule_len", "is_allow")
        ).alias("_rules")
    )
    best = lambda want_allow: F.aggregate(  # noqa: E731
        F.filter(F.col("_rules"),
                 lambda r: r["is_allow"] if want_allow
                 else ~r["is_allow"]),
        F.lit(-1),
        lambda acc, r: F.when(
            (r["rule_len"] > acc)
            & F.regexp_like(F.col("_path"), r["rule_regex"]),
            r["rule_len"],
        ).otherwise(acc),
    )
    scored = (
        frontier.withColumn("_path", path)
        .join(per_host, "host", "left")
        .withColumn("_allow", F.when(F.col("_rules").isNotNull(),
                                     best(True)).otherwise(F.lit(-1)))
        .withColumn("_deny", F.when(F.col("_rules").isNotNull(),
                                    best(False)).otherwise(F.lit(-1)))
    )
    # tie (equal lengths) -> Allow wins (protego)
    joined = scored.withColumn(
        "_blocked", (F.col("_deny") >= 0) & (F.col("_deny") > F.col("_allow"))
    ).drop("_path", "_rules", "_allow", "_deny")
    if persist_split:
        joined = joined.persist()
    allowed = joined.filter(~F.coalesce(F.col("_blocked"), F.lit(False))).drop("_blocked")
    blocked = joined.filter(F.coalesce(F.col("_blocked"), F.lit(False))).drop("_blocked")
    if persist_split:
        return allowed, blocked, joined
    return allowed, blocked


def host_budget_from_delay(delay_df: DataFrame, round_seconds: float,
                           default_tokens: int) -> DataFrame:
    """Crawl-delay -> per-round token budget (deterministic: the engine's
    correctness mode converts wall-clock delays into fixed tokens/round).
    One row per host, the smallest budget winning: a host serving robots.txt
    under two schemes or ports has two delays, and a second row would
    duplicate each of its frontier rows in the dequeue's join on host."""
    tokens = F.least(
        F.lit(default_tokens),
        F.greatest(F.lit(1), (F.lit(round_seconds) / F.col("crawl_delay")).cast("int")),
    )
    return delay_df.groupBy("host").agg(F.min(tokens).alias("tokens"))
