"""robots.txt compliance — table-driven, protego-compatible core rules.

The reference obeys robots globally (ROBOTSTXT_OBEY = True, the
reference's firmware/settings.py:11) via scrapy's protego parser:
longest-match-wins between the most specific Allow and Disallow rule, with
Allow winning ties. The engine reproduces that as pure relational algebra
over one compiled relation, ``ROBOTS_SCHEMA``: one row per host holding
its rules (wildcards * and $ compiled to regexes at parse time), its
largest Crawl-delay and the ``scheme://authority`` bases it covers.

  1. ``robots_table`` parses robots.txt pages (``url``, ``html`` rows: the
     crawl engine fetches one per new base through its page fetcher) into
     one row of that shape per file; ``compile_robots`` groups such rows
     per host, for the first build and for every merge into a state;
  2. ``robots_filter`` joins the compiled rows to the frontier on host,
     carrying each host's Crawl-delay along for ``delay_budget``, and folds
     each URL's longest Allow and longest Disallow match over the host's
     rule array.

No per-row Python on the Spark path past the parse, and no grouping past
the compile: consumers read the stored rows as they are.
"""

from __future__ import annotations

import math
import re
import string

from pyspark.sql import Column, DataFrame
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
                    d = float(value)
                except ValueError:
                    continue
                # a zero, negative or non-finite delay sets no budget
                if math.isfinite(d) and d > 0:
                    delay = d
    return rules, delay


ROBOTS_SCHEMA = (
    "host string, "
    "rules array<struct<rule_regex:string,rule_len:int,is_allow:boolean>>, "
    "crawl_delay double, bases array<string>")


# lowercased as the frontier's host key (url_host_udf) is, so the robots.txt
# request, the state row and the frontier row name a host alike. ASCII case
# folding: the first F.lower in a fresh JVM costs about 1.5 s on the round's
# serial path (measured on local[2], Spark 4.1).
def url_base(url: Column) -> Column:
    """The ``scheme://authority`` of ``url``, or null when it has none."""
    return F.nullif(F.translate(F.regexp_extract(url, r"^([A-Za-z]+://[^/?#]+)", 1),
                                string.ascii_uppercase, string.ascii_lowercase), F.lit(""))


def robots_files(df: DataFrame) -> DataFrame:
    """The rows of ``df`` whose ``url`` is a robots.txt, with the ``host``
    its rules apply to and the ``base`` it covers."""
    is_robots = F.col("url").rlike(r"^[A-Za-z]+://[^/?#]+/robots\.txt$")
    base = url_base(F.col("url"))
    # the host drops the userinfo and the port because the frontier's host
    # key does: a row keyed "u@h" or "h:8080" would never join; the base
    # keeps both
    return df.filter(is_robots).withColumns({
        "host": F.regexp_extract(base, r"://(?:[^@]*@)?(.+?)(:\d+)?$", 1),
        "base": base,
    })


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
    return robots_files(pages).select(
        "host",
        F.explode(F.regexp_extract_all(
            F.col("html").cast("string"), F.lit(_SITEMAP_LINE_RE), 1)
        ).alias("sitemap_url"),
    )


def build_robots_rules(pages: DataFrame, persist: bool = False) -> tuple:
    """From the pages corpus, build (compiled, delay_df) — fully
    distributed, no driver-side ``.collect()``: at 10^7 hosts the robots
    rows scale with host count and must stay a DataFrame.

    compiled: ``ROBOTS_SCHEMA``, one row per host
    delay_df: host, crawl_delay — the hosts that set a delay
    Consumers broadcast-join the result while it fits and shuffle-join past
    the broadcast threshold — Spark picks per plan. ``persist=True`` caches
    the compiled rows both outputs read, so the scan, parse and grouping
    run once."""
    compiled = compile_robots(robots_table(pages))
    if persist:
        compiled = compiled.persist()
    return compiled, compiled.filter(F.col("crawl_delay").isNotNull()).select(
        "host", "crawl_delay")


def robots_table(pages: DataFrame) -> DataFrame:
    """Every /robots.txt row of ``pages`` parsed into one ``ROBOTS_SCHEMA``
    row; a null body is allow-all with no delay. Parsing runs
    ``parse_robots_txt`` inside one Arrow-batched ``mapInPandas`` over the
    filtered robots scan."""
    files = robots_files(pages).select(
        "host", "base", F.col("html").cast("string").alias("body"))

    def _parse(batches):
        for pdf in batches:
            parsed = [parse_robots_txt(body or "") for body in pdf["body"]]
            yield pdf[["host"]].assign(
                rules=[[(_rule_to_regex(rule), len(rule), is_allow)
                        for is_allow, rule in rules] for rules, _ in parsed],
                crawl_delay=[delay for _, delay in parsed],
                bases=[[base] for base in pdf["base"]],
            )

    return files.mapInPandas(_parse, schema=ROBOTS_SCHEMA)


def compile_robots(rows: DataFrame) -> DataFrame:
    """Group ``ROBOTS_SCHEMA`` rows into one per host: the union of the
    rules, the largest delay (the smallest budget) and every base."""
    return rows.groupBy("host").agg(
        F.flatten(F.collect_list("rules")).alias("rules"),
        F.max("crawl_delay").alias("crawl_delay"),
        F.array_distinct(F.flatten(F.collect_list("bases"))).alias("bases"),
    )


def verdict_columns() -> dict:
    """The columns of ``robots_filter``, by the step of its chain that
    adds them. They name input columns only, so one build serves every
    frontier and every compiled state: the crawl engine builds them once
    and passes them in each round."""
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
    blocked = F.coalesce(F.col("_blocked"), F.lit(False))
    return {
        "path": {"_path": F.regexp_replace("canon_url", r"^[a-z]+://[^/]*", "")},
        "rules": [F.col("host"), F.col("rules").alias("_rules"), F.col("crawl_delay")],
        "scores": {
            side: F.when(F.col("_rules").isNotNull(), best(want_allow))
            .otherwise(F.lit(-1))
            for side, want_allow in (("_allow", True), ("_deny", False))},
        # tie (equal lengths) -> Allow wins (protego)
        "verdict": {"_blocked": (F.col("_deny") >= 0)
                    & (F.col("_deny") > F.col("_allow"))},
        "allowed": ~blocked,
        "blocked": blocked,
    }


def robots_filter(frontier: DataFrame, compiled: DataFrame,
                  persist_split: bool = False,
                  columns: dict | None = None) -> tuple:
    """Split frontier into (allowed, blocked) by protego longest-match:
    a URL is blocked iff its longest matching Disallow rule is strictly
    longer than its longest matching Allow rule. Both carry the host's
    ``crawl_delay`` (null without one), the input of ``delay_budget``.
    ``columns`` is a ``verdict_columns()`` build to reuse.

    ``persist_split=True`` persists the verdict-joined parent and
    returns ``(allowed, blocked, joined)`` — both branches then filter
    ONE cached frame instead of each consumer re-running the rules join
    and the verdict fold. The caller owns ``joined.unpersist()``.

    Plan shape: one join on host against the compiled rows, then a
    per-frontier-row fold over the host's rule array — no aggregate, no
    Exchange of the frontier past the join's own. The join carries no
    broadcast hint: the compiled rows scale with host count, so past the
    broadcast threshold it degrades to a shuffle join."""
    c = verdict_columns() if columns is None else columns
    joined = (
        frontier.withColumns(c["path"])
        .join(compiled.select(*c["rules"]), "host", "left")
        .withColumns(c["scores"])
        .withColumns(c["verdict"])
        .drop("_path", "_rules", "_allow", "_deny")
    )
    if persist_split:
        joined = joined.persist()
    allowed = joined.filter(c["allowed"]).drop("_blocked")
    blocked = joined.filter(c["blocked"]).drop("_blocked")
    if persist_split:
        return allowed, blocked, joined
    return allowed, blocked


def delay_budget(round_seconds: float, default_tokens: int) -> Column:
    """Crawl-delay -> per-round token budget, deterministic (no wall
    clock), as a column over rows that carry ``crawl_delay`` (robots_filter's
    outputs): ``default_tokens`` for a null delay, always in [1,
    default_tokens]; the bounds apply in double, before the cast."""
    default = F.lit(float(default_tokens))
    per_delay = F.lit(float(round_seconds)) / F.col("crawl_delay")
    return F.least(default, F.greatest(F.lit(1.0), F.coalesce(per_delay, default))
                   ).cast("long")
