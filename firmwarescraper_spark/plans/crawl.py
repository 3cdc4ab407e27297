"""The crawl engine: scrapy's scheduler/dupefilter/downloader loop as
round-based DataFrame jobs (SURVEY.md §3.1 "Spark lifecycle equivalent").

One round r:

    frontier(r) --anti-join--> seen --robots--> allowed/blocked
      --politeness dequeue (two-phase salted rank)--> dequeued + deferred
      --join pages corpus (the fetch)--> fetched (miss = 404, logged)
      --rule-pack extraction--> (children, items)
      --canonicalize/hash/offsite/dedup--> new frontier rows
      state appends: seen += dequeued+blocked, items, fetch_log
      frontier(r+1) = deferred ∪ new children
    fixpoint: stop when frontier is empty.

State layout (``state_dir``): parquet tables ``seen/``, ``items/``,
``fetch_log/`` (append, each row stamped with ``round``) and one frontier
snapshot per round ``frontier/round=N``. Every round is a checkpoint:
**resume = read the latest frontier snapshot and continue** — kill the
driver at any round boundary and re-run; appends are idempotent per round
because a resumed round rewrites its own round-stamped partition. On a
real deployment these become Iceberg tables (snapshot IDs = round
manifest); parquet-with-round-column keeps the identical protocol without
an Iceberg catalog in this sandbox.

Per-partition lineage/metrics (north_rule): ``fetch_log`` records
(round, partition_id, host, fetched, bytes, errors) via
``spark_partition_id()`` before the extraction stage.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, MapType, StringType, StructField, StructType,
)

from firmwarescraper_spark.functions import url as U
from firmwarescraper_spark.operators import frontier as FR
from firmwarescraper_spark.operators import robots as RB
from firmwarescraper_spark.plans import rulepacks as RP
from firmwarescraper_spark.plans.fetchers import MAX_FETCH_BYTES

FRONTIER_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("canon_url", StringType()),
    StructField("url_hash", LongType()),
    StructField("host", StringType()),
    StructField("depth", IntegerType()),
    StructField("priority", IntegerType()),
    StructField("rule", StringType()),
    StructField("lineage", MapType(StringType(), StringType())),
    StructField("seq", StringType()),
    StructField("round_added", IntegerType()),
    StructField("form_data", MapType(StringType(), StringType())),
    StructField("fetch_key", StringType()),
    # T3: attempt counter — scrapy retries 5xx/timeout failures RETRY_TIMES=2
    # times (default, inherited via /root/reference/requirements.txt:1)
    StructField("retry_count", IntegerType()),
])


# -- the round's Columns: each builder runs once per engine and setting
# (CrawlEngine._columns); the round stages reuse what it returns


def _frontier_fixes() -> dict:
    """The migrations ``_read_frontier`` applies to a snapshot's columns."""
    return {
        # state-dir forward compat (ADVICE r2): a frontier snapshot written
        # before retry_count existed reads as null under the explicit
        # schema, and null < max_retries would silently drop those rows
        # from the retry path — coalesce to 0 so old state resumes intact
        "retry_count": F.coalesce(F.col("retry_count"), F.lit(0)),
        # seq-width migration (ADVICE r3): snapshots written by the
        # %06d-era engine mix pad widths with new %09d rows on resume,
        # breaking the lexicographic==numeric DFS-order invariant
        # ('000123' > '000000456'). Left-pad every short all-digit
        # dot-component to 9; non-numeric components (e.g. bench frontiers
        # seeded with seq=url) pass through.
        "seq": F.array_join(
            F.transform(
                F.split(F.col("seq"), r"\."),
                lambda c: F.when(
                    c.rlike("^[0-9]{1,8}$"), F.lpad(c, 9, "0")
                ).otherwise(c),
            ),
            ".",
        ),
    }


def _key_columns() -> tuple:
    """The frontier keys of (url, form_data) rows, as the column dicts
    that add them in order: canon_url and host, fetch_key, url_hash."""
    return (
        {"canon_url": U.canonicalize_url_udf()(F.col("url")),
         "host": U.url_host_udf()(F.col("url"))},
        {"fetch_key": U.fetch_key_col(F.col("canon_url"), F.col("form_data"))},
        {"url_hash": F.xxhash64("fetch_key")},
    )


def _frontier_cols() -> list:
    return [F.col(f.name) for f in FRONTIER_SCHEMA.fields]


def _seen_cols() -> list:
    return [F.col("url_hash"), F.col("fetch_key")]


def _survey_columns(obey_robots: bool) -> dict:
    """``CrawlEngine._survey``'s columns: the frontier's and the robots
    state's rows of (rule, base, _covered) and the summary aggregates."""
    fresh = F.array_except(
        F.collect_set(F.when(~F.col("_covered"), F.col("base"))),
        F.collect_set(F.when(F.col("_covered"), F.col("base"))))
    return {
        "frontier": [F.col("rule"), RB.url_base(F.col("canon_url")).alias("base"),
                     F.lit(False).alias("_covered")],
        "covered": [F.lit(None).cast("string").alias("rule"),
                    F.explode("bases").alias("base"), F.lit(True).alias("_covered")],
        "agg": [F.collect_set("rule"),
                fresh if obey_robots else F.array().cast("array<string>")],
    }


def _politeness_columns(tokens_per_host: int, salt_buckets: int,
                        round_seconds: float | None) -> dict:
    """``FR.politeness_columns`` under the Crawl-delay budget over
    ``round_seconds``, or, when None, the literal ``tokens_per_host``,
    which folds both politeness windows out of every consumer's plan."""
    budget = (None if round_seconds is None
              else RB.delay_budget(round_seconds, tokens_per_host))
    return FR.politeness_columns(tokens_per_host, salt_buckets, budget)


def _fetch_on():
    return F.col("_page_url") == F.col("fetch_key")


def _fetch_columns(max_fetch_bytes: int, max_retries: int) -> dict:
    """``CrawlEngine._fetch_parse``'s columns under these settings."""
    from firmwarescraper_spark.functions.html import PAGE_STRUCT, parse_page_udf
    from firmwarescraper_spark.plans.fetchers import RETRY_STATUS

    is_2xx = (F.col("status") >= 200) & (F.col("status") < 300)
    names = [f.name for f in PAGE_STRUCT.fields]
    return {
        "2xx": is_2xx,
        "failed": ~is_2xx,
        # F12 download_maxsize (avm_gpl.py:27): an oversized 2xx body is a
        # retryable failure
        "capped": {"status": F.when(
            is_2xx & (F.length("html") > F.lit(max_fetch_bytes)),
            F.lit(503)).otherwise(F.col("status"))},
        "parse": {
            "page_bytes": F.length("html"),
            "parsed": parse_page_udf(tuple(sorted(RP.RULE_PARSE_FIELDS.items())))(
                F.col("html"), F.col("rule")),
            # raw bodies are kept only for FTP rules, whose pages are JSON
            # listings read downstream; the rest stay out of the cache
            "html": F.when(F.col("rule").contains("ftp"), F.col("html")),
        },
        "split": [F.col("*"), *[F.col("parsed").getField(n).alias("_pf_" + n)
                                for n in names]],
        "struct": {"parsed": F.struct(*[F.col("_pf_" + n).alias(n)
                                        for n in names])},
        "url_hash": F.col("url_hash"),
        "missing": {"status": F.lit(404)},
        "retry": (F.col("status").isin(*RETRY_STATUS)
                  & (F.col("retry_count") < F.lit(max_retries))),
        "retried": {"retry_count": F.col("retry_count") + 1},
    }


def _child_columns(patterns: tuple) -> dict:
    """``CrawlEngine._next_frontier``'s columns for new children under the
    offsite ``patterns`` ((family, host regex) pairs)."""
    # F8 offsite filter: each child checks its rule family's pattern
    family = F.substring_index(F.col("rule"), ":", 1)
    return {
        "offsite": F.coalesce(*[F.when(family == f, F.col("host").rlike(p))
                                for f, p in patterns], F.lit(False)),
        "fill": {
            "priority": FR.priority_score(F.col("url")),
            # seq is a lexicographically ordered DFS path key; %09d must
            # match simulator._pad exactly
            "seq": F.concat_ws(".", F.col("parent_seq"),
                               F.format_string("%09d", F.col("pos"))),
            "retry_count": F.lit(0),
        },
    }


def _metrics_columns() -> dict:
    """``CrawlEngine._metrics``' grouping and its aggregates per kind of
    row: (fetched, bytes, errors, retries)."""
    zero, n = F.lit(0).cast("long"), F.count("*")

    def aggs(*cols):
        return [c.alias(name) for c, name in
                zip(cols, ("fetched", "bytes", "errors", "retries"))]

    return {
        "by": [F.spark_partition_id().alias("partition_id"), F.col("host")],
        "ok": aggs(n, F.sum("page_bytes"), zero, zero),
        "terminal": aggs(zero, zero, n, zero),
        "retryable": aggs(zero, zero, zero, n),
        "blocked": aggs(zero, zero, n, zero),
    }


def _union(dfs) -> DataFrame | None:
    """unionByName of the non-None frames, or None if there are none."""
    dfs = [df for df in dfs if df is not None]
    return reduce(DataFrame.unionByName, dfs) if dfs else None


def _release(df: DataFrame):
    """Unpersist a cached or a locally checkpointed frame: a checkpoint's
    blocks belong to its RDD, which DataFrame.unpersist does not reach."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages_path: str,
        state_dir: str,
        tokens_per_host: int = 10_000,
        salt_buckets: int = 8,
        obey_robots: bool = True,
        round_seconds: float = 60.0,
        max_fetch_bytes: int = MAX_FETCH_BYTES,
        max_retries: int = 2,  # T3: scrapy RETRY_TIMES default
        pages_table: str | None = None,
        compact_every: int | None = 64,
        fetcher=None,
    ):
        # zero tokens would dequeue nothing, round after round; zero salt
        # buckets would divide by zero mid-round under ANSI mode
        if min(tokens_per_host, salt_buckets) < 1:
            raise ValueError("tokens_per_host and salt_buckets must be at least 1")
        # every state reader and writer goes through os paths: a URI would
        # be written by Spark and then not found by the driver mid-run
        if re.match(r"[A-Za-z][A-Za-z0-9+.-]*://", state_dir):
            raise ValueError(
                f"state_dir must be a local path, not a URI: {state_dir!r}")
        self.spark = spark
        self.pages_path = pages_path
        self.state_dir = state_dir
        self.tokens_per_host = tokens_per_host
        self.salt_buckets = salt_buckets
        self.obey_robots = obey_robots
        self.round_seconds = round_seconds
        self.max_fetch_bytes = max_fetch_bytes
        self.max_retries = max_retries
        self.pages_table = pages_table
        self.compact_every = compact_every
        # pluggable fetch stage (S1): CorpusFetcher joins the sandbox pages
        # corpus; HttpFetcher (plans/fetchers.py) does real network GET/POST
        # via mapInPandas at deployment
        if fetcher is None:
            from firmwarescraper_spark.plans.fetchers import CorpusFetcher

            fetcher = CorpusFetcher()
        fetcher.engine = self
        self.fetcher = fetcher
        self._pages = None
        self._robots_state = None  # see _robots
        self._budget_all_unlimited = False
        self._has_fail_col = None
        self._round_cache = []
        self._built = {}  # key -> round-invariant Columns (see _columns)

    def _columns(self, build, *settings):
        """The round-invariant Columns ``build(*settings)``, built the first
        time a round asks for them and reused by every later round. Every
        round runs the same program, so rebuilding its expressions (py4j
        round trips for every ``F.*`` call) is driver time each round pays
        again. A Column is an unresolved expression of one session, so the
        cache lives on the engine; ``settings`` are every value the
        Columns read."""
        key = (build, *settings)
        if key not in self._built:
            self._built[key] = build(*settings)
        return self._built[key]

    # -- state paths ---------------------------------------------------------
    def _p(self, *parts) -> str:
        return os.path.join(self.state_dir, *parts)

    def _raw_pages(self) -> DataFrame:
        """The corpus relation. ``pages_table`` names a bucketed catalog
        table (``write_bucketed`` layout / Iceberg ``bucket(N, url)`` at
        deployment) so the non-broadcast fetch join plans as a co-bucketed
        SortMergeJoin with no corpus Exchange (PLANS.md §2b); the plain
        parquet path is the default sandbox corpus."""
        if self.pages_table is not None:
            return self.spark.table(self.pages_table)
        return self.spark.read.parquet(self.pages_path)

    def pages(self) -> DataFrame:
        if self._pages is None:
            raw = self._raw_pages()
            # optional fault-injection column: a corpus row "responds 5xx"
            # while retry_count < fail_times (T3 tests/simulated outages);
            # absent column = the common case, zero extra plan nodes
            self._has_fail_col = "fail_times" in raw.columns
            # column-pruned scan: extraction needs url + html only
            self._pages = raw.select(
                "url", F.col("html").cast("string").alias("html"),
                *([F.coalesce(F.col("fail_times"), F.lit(0)).cast("int")
                   .alias("fail_times")] if self._has_fail_col else []),
            )
        return self._pages

    def _rollback(self, df: DataFrame) -> DataFrame:
        """Exclude partitions newer than the last committed round: a crash
        between the concurrent state writes and the round-commit marker
        leaves partial round-N partitions; re-running round N must not read
        its own leftovers (ADVICE r1: the seen set would otherwise contain
        round N's dequeued rows and the round would come back empty)."""
        return df.filter(F.col("round") <= F.lit(self.committed_round()))

    # -- state reads: compacted snapshot + recent deltas ----------------------
    # Every state table appends one round=N parquet directory per round; a
    # 10^4-round crawl would otherwise make each read a 10^4-directory
    # small-files scan (r3 verdict #4). compact_state() periodically folds
    # all committed rounds into one snapshot (``<table>_compact/upto=C``);
    # readers then see snapshot ∪ {round=N deltas: N > C}. Delta dirs with
    # N <= C are IGNORED even if present, so a crash between the snapshot
    # write and the delta cleanup can never double-count. On Iceberg this
    # is a rewrite_data_files compaction; the snapshot keeps the ``round``
    # column so the rollback protocol is unchanged.

    def _latest_compact(self, table: str) -> int:
        base = self._p(table + "_compact")
        if not os.path.exists(base):
            return -1
        cands = [
            int(d.split("=")[1]) for d in os.listdir(base)
            if d.startswith("upto=")
            and os.path.exists(os.path.join(base, d, "_SUCCESS"))
        ]
        return max(cands) if cands else -1

    # each table's schema, read explicitly: inferring it from the parquet
    # footers is a Spark job at the start of every round, and a state dir
    # mixing files written before and after a column existed (ADVICE r2:
    # fetch_log's `retries`) must not depend on which footer the reader
    # samples; a missing column reads null
    _STATE_SCHEMAS = {
        "seen": "url_hash long, fetch_key string, round int",
        "items": (
            "vendor array<string>, device_name array<string>, "
            "firmware_version array<string>, device_class array<string>, "
            "release_date array<string>, file_urls array<string>, round int"),
        "fetch_log": (
            "partition_id int, host string, fetched long, bytes long, "
            "errors long, retries long, round int"),
        "quarantine": (
            "url string, rule string, reason string, detail string, round int"),
    }
    _STATE_TABLES = tuple(_STATE_SCHEMAS)

    def _read_state(self, table: str) -> DataFrame:
        schema = self._STATE_SCHEMAS[table]
        base = self._p(table)
        c = self._latest_compact(table)
        dfs = []
        if c >= 0:
            dfs.append(self.spark.read.schema(schema).parquet(
                self._p(table + "_compact", f"upto={c}")))
        if os.path.exists(base):
            deltas = [
                os.path.join(base, d) for d in os.listdir(base)
                if d.startswith("round=") and int(d.split("=")[1]) > c
            ]
            if deltas:
                dfs.append(self.spark.read.schema(schema)
                           .option("basePath", base).parquet(*deltas))
        if not dfs:
            return self.spark.createDataFrame([], schema)
        df = dfs[0]
        for d in dfs[1:]:
            df = df.unionByName(d)
        return self._rollback(df)

    def seen(self) -> DataFrame:
        return self._read_state("seen")

    def items(self) -> DataFrame:
        return self._read_state("items")

    def fetch_log(self) -> DataFrame:
        return self._read_state("fetch_log").withColumn(
            "retries", F.coalesce(F.col("retries"), F.lit(0).cast("long"))
        )

    def quarantine(self) -> DataFrame:
        """J3 class-map misses (the reference raises
        UnknownDeviceClassException, linksys.py:126-133; the engine routes
        the offending rows here so they are auditable, not silently lost)."""
        return self._read_state("quarantine")

    def _state_is_empty(self, table: str) -> bool:
        """True iff ``_read_state`` would return the empty relation
        without reading anything: no compacted snapshot and no delta
        directory at all. A dir holding only rolled-back rounds still
        reads (conservative) — this is a metadata-only fast path, never
        a semantic judgment about row counts."""
        return (self._latest_compact(table) < 0
                and not os.path.exists(self._p(table)))

    def compact_state(self, buckets: int = 32):
        """Fold every committed round's delta directories into one compact
        snapshot per state table. The seen snapshot is hash-distributed and
        sorted by ``url_hash`` (the anti-join key) so the per-round
        frontier⋈seen anti-join scans few, large, sorted files instead of
        one directory per round; the other tables just coalesce. Crash-safe
        by construction: the snapshot write commits via parquet _SUCCESS,
        readers ignore delta dirs the latest snapshot covers, and cleanup
        of superseded dirs is pure garbage collection."""
        upto = self.committed_round()
        if upto < 0:
            return
        for table in self._STATE_TABLES:
            base = self._p(table)
            c = self._latest_compact(table)
            if c >= upto or (not os.path.exists(base) and c < 0):
                continue  # nothing new to fold
            df = getattr(self, table)()
            if table == "seen":
                df = df.repartition(buckets, "url_hash").sortWithinPartitions(
                    "url_hash")
            else:
                df = df.coalesce(max(1, buckets // 4))
            df.write.mode("overwrite").parquet(
                self._p(table + "_compact", f"upto={upto}"))
            # garbage-collect superseded inputs (readers already ignore them)
            if os.path.exists(base):
                for d in os.listdir(base):
                    if d.startswith("round=") and int(d.split("=")[1]) <= upto:
                        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
            cbase = self._p(table + "_compact")
            for d in os.listdir(cbase):
                if d.startswith("upto=") and int(d.split("=")[1]) < upto:
                    shutil.rmtree(os.path.join(cbase, d), ignore_errors=True)

    # -- seeding ---------------------------------------------------------------
    def seed_frontier(self, seeds: list) -> DataFrame:
        """seeds: [(url, rule)] or [(url, rule, form)] — reference start_urls
        in declaration order; form is POST data (S2) or None."""
        rows = []
        for i, seed in enumerate(seeds):
            url, rule, form = seed if len(seed) == 3 else (*seed, None)
            rows.append((url, rule, f"{i:09d}", form or {}))
        df = self._with_keys(self.spark.createDataFrame(
            rows, "url string, rule string, seq string, form_data map<string,string>"
        ))
        return df.withColumns({
            "depth": F.lit(0),
            "priority": FR.priority_score(F.col("url")),
            "lineage": F.create_map().cast("map<string,string>"),
            "round_added": F.lit(0),
            "retry_count": F.lit(0),
        }).select(*self._columns(_frontier_cols))

    def _with_keys(self, df: DataFrame) -> DataFrame:
        """``df`` (url, form_data, ...) with its frontier keys."""
        for step in self._columns(_key_columns):
            df = df.withColumns(step)
        return df

    # -- checkpoint helpers ----------------------------------------------------
    def _write_frontier(self, df: DataFrame, rnd: int):
        df.write.mode("overwrite").parquet(self._p("frontier", f"round={rnd}"))

    def _read_frontier(self, rnd: int) -> DataFrame:
        df = self.spark.read.schema(FRONTIER_SCHEMA).parquet(
            self._p("frontier", f"round={rnd}")
        )
        return df.withColumns(self._columns(_frontier_fixes))

    def _frontier_parts(self, rnd: int) -> list:
        """Paths of the round's frontier snapshot's parquet part files."""
        base = self._p("frontier", f"round={rnd}")
        return [os.path.join(base, f) for f in os.listdir(base)
                if f.startswith("part-")]

    def _frontier_rows(self, rnd: int) -> int:
        """Rows of the round's frontier snapshot, summed from its parquet
        footers on the driver, so the fixpoint check launches no Spark job.
        ``_read_frontier`` drops no row, so this is its count."""
        return sum(pq.read_metadata(f).num_rows
                   for f in self._frontier_parts(rnd))

    def _max_round(self, table: str) -> int:
        """Highest ``round=N`` entry under ``table``, or -1."""
        base = self._p(table)
        if not os.path.exists(base):
            return -1
        return max((int(d.split("=")[1]) for d in os.listdir(base)
                    if d.startswith("round=")), default=-1)

    def latest_round(self) -> int:
        return self._max_round("frontier")

    # -- round commit protocol ---------------------------------------------------
    # The five per-round state writes run concurrently (throughput), so none
    # of them can be the commit point. A round is committed only when its
    # marker exists; resume re-runs the first uncommitted round, and every
    # state reader rolls back partitions newer than the last marker
    # (see _rollback). On Iceberg this marker is the snapshot commit itself.
    def committed_round(self) -> int:
        return self._max_round("_commits")

    def _commit_round(self, rnd: int):
        base = self._p("_commits")
        os.makedirs(base, exist_ok=True)
        with open(os.path.join(base, f"round={rnd}"), "w"):
            pass

    def _append(self, df: DataFrame, table: str, rnd: int):
        # idempotent per round: a resumed round overwrites its own partition;
        # the round value lives in the hive-style directory name and comes
        # back as a `round` column at read time.
        df.write.mode("overwrite").parquet(self._p(table, f"round={rnd}"))

    # -- fetch build-side gating -------------------------------------------------
    def _frontier_bytes(self, rnd: int) -> int:
        """On-disk size of the round's frontier snapshot's part files, 0
        when it is missing — a free metadata upper bound on the dequeued
        set (dequeued ⊆ frontier)."""
        if not os.path.isdir(self._p("frontier", f"round={rnd}")):
            return 0
        return sum(os.path.getsize(f) for f in self._frontier_parts(rnd))

    def _fetch_broadcast_choice(self, rnd: int) -> bool:
        """Broadcast the fetch join's build side only while the frontier
        snapshot fits the session's ``spark.sql.autoBroadcastJoinThreshold``
        (-1: never): an unlimited round over a huge frontier would OOM a
        broadcast. Past it the join runs unhinted, and AQE picks broadcast
        or SMJ (shuffle-free over a bucketed ``pages_table``, PLANS.md §2b)
        from the actual size."""
        conf = self.spark._jsparkSession.sessionState().conf()
        cap = conf.autoBroadcastJoinThreshold()
        return cap >= 0 and self._frontier_bytes(rnd) <= cap

    def _fetch_join(self, dequeued: DataFrame, use_bcast: bool) -> DataFrame:
        """The fetch stage's corpus equi-join; build side per the gate."""
        pages = self.pages().withColumnRenamed("url", "_page_url")
        build = F.broadcast(dequeued) if use_bcast else dequeued
        return pages.join(build, self._columns(_fetch_on), "inner").drop(
            "_page_url")

    # -- the round job -----------------------------------------------------------
    def _survey(self, frontier: DataFrame) -> tuple:
        """One job over the frontier: the rule packs it schedules and, under
        robots, its bases (``scheme://authority``) whose robots.txt the
        robots state does not hold yet. The covered bases join the job as a
        union branch, not a join, so a round that reaches no new base pays
        no job for robots of its own."""
        c = self._columns(_survey_columns, self.obey_robots)
        rows = frontier.select(*c["frontier"])
        if self._robots_state is not None:
            rows = rows.unionByName(self._robots_state.select(*c["covered"]))
        present, bases = rows.agg(*c["agg"]).first()
        return sorted(set(present) & RP.PACKS.keys()), sorted(bases)

    def _robots(self, bases: list, use_bcast: bool = True) -> DataFrame:
        """Extend the robots state with the robots.txt of each of ``bases``
        (bases it does not cover yet, see _survey) and return it. The
        requests go through the round's own fetcher, as scrapy's robots
        middleware sends them through its downloader; they never enter
        seen, fetch_log or the frontier. A non-2xx answer is allow-all and
        is not retried.

        The state is the compiled relation of ``RB.ROBOTS_SCHEMA``, one row
        per host. Each extension compiles the old rows with the new files
        and localCheckpoints the result: the fetch, parse and grouping run
        once per change, and the lineage stays flat over a long crawl."""
        if self._robots_state is None:
            self._robots_state = self.spark.createDataFrame([], RB.ROBOTS_SCHEMA)
        if bases:
            requests = self.spark.createDataFrame(
                [(u, U.fetch_key(U.canonicalize_url(u)), {}, 0)
                 for u in (b + "/robots.txt" for b in bases)],
                "url string, fetch_key string, form_data map<string,string>, "
                "retry_count int")
            fetched = self.fetcher.fetch(requests, use_bcast)
            ok = fetched.filter((F.col("status") >= 200) & (F.col("status") < 300))
            # every base also gets a file with no body, so a base whose
            # answer is not 2xx (or absent) is covered and allow-all
            files = ok.select("url", F.col("html").cast("string")).unionByName(
                requests.select("url", F.lit(None).cast("string").alias("html")))
            old = self._robots_state
            self._robots_state = RB.compile_robots(
                old.unionByName(RB.robots_table(files))).localCheckpoint()
            _release(old)
            if self.tokens_per_host >= FR.UNLIMITED_TOKENS:
                # when every per-host budget is itself unlimited, _dequeue
                # passes the literal budget, so the politeness windows fold
                # away; below an unlimited default some budget always binds
                # and the flag stays False
                low = self._robots_state.agg(F.min(RB.delay_budget(
                    self.round_seconds, self.tokens_per_host))).first()[0]
                self._budget_all_unlimited = (
                    low is None or low >= FR.UNLIMITED_TOKENS)
        return self._robots_state

    def _release_robots(self):
        """Drop the robots state; the next round rebuilds it lazily."""
        if self._robots_state is not None:
            _release(self._robots_state)
        self._robots_state = None
        self._budget_all_unlimited = False

    def run_round(self, rnd: int) -> dict:
        """One crawl round: a driver over the stage methods below. Phase
        walls land in ``last_round_phases``; every frame the round persists
        is unpersisted on exit, committed or not."""
        last = self.committed_round()
        if rnd <= last:
            # its frontier was consumed: a re-run would overwrite its
            # seen/items partitions with an empty delta
            raise ValueError(
                f"round {rnd} is already committed (last committed round: "
                f"{last}); run round {last + 1} or start fresh")
        phases, t = {}, time.monotonic()

        def mark(name):
            nonlocal t
            now = time.monotonic()
            phases[name] = round(now - t, 3)
            t = now

        self._round_cache = []
        pool = ThreadPoolExecutor(max_workers=5)
        committed = False
        try:
            frontier, seen = self._read_frontier(rnd), self.seen()
            use_bcast = self._fetch_broadcast_choice(rnd)
            present, bases = self._survey(frontier)
            candidates, blocked = self._candidates(
                frontier, seen, bases, use_bcast)
            dequeued, deferred = self._dequeue(candidates)
            # the pool's first tasks compute the round's caches while the
            # driver builds the remaining plans: the dequeue chain as soon
            # as its plan exists, then the whole working set, which every
            # write waits on so no two writes race to compute a cache block
            warm = [pool.submit(dequeued.count)]
            mark("dequeue")
            ok, terminal, retryable = self._fetch_parse(dequeued, use_bcast)
            # new seen rows: every fetch resolved this round, robots-blocked
            # rows included; retryable misses must pass the next anti-join.
            # Cached, it is one leaf for the seen write and the children
            # dedup instead of a copy of the whole round plan in each.
            keys = self._columns(_seen_cols)
            seen_add = self._persist(_union([
                df.select(*keys) for df in (ok, terminal, blocked)
                if df is not None]))
            warm.append(pool.submit(seen_add.count))
            mark("materialize")
            children, items, quarantine = self._extract(present, ok)
            next_frontier = self._next_frontier(
                rnd, deferred, retryable, children,
                # a projection keeps the union from flattening seen_add
                # away, so its cache still matches
                seen_add.select(*keys).unionByName(seen.select(*keys)))
            metrics = self._metrics(ok, terminal, retryable, blocked)
            mark("plan_build")
            for fut in warm:
                fut.result()
            mark("mat_wait")
            self._write_round(pool, [
                (self._append, seen_add, "seen", rnd),
                (self._append, metrics, "fetch_log", rnd),
                (self._write_frontier, next_frontier, rnd + 1),
                (self._append, items, "items", rnd),
                (self._append, quarantine, "quarantine", rnd),
            ])
            mark("writes")
            self._commit_round(rnd)
            committed = True
            mark("commit")
            self.last_round_phases = phases
        finally:
            # after a failure, outstanding writes are rolled back by the
            # commit protocol: stop feeding the pool, don't wait on it
            pool.shutdown(wait=False, cancel_futures=not committed)
            for df in reversed(self._round_cache):
                df.unpersist()
            self._round_cache = []
        return {"round": rnd, "fetch_broadcast": use_bcast}

    # -- round stages --------------------------------------------------------
    def _persist(self, df: DataFrame) -> DataFrame:
        """Cache ``df`` for the current round only (see run_round)."""
        self._round_cache.append(df.persist())
        return df

    def _candidates(self, frontier: DataFrame, seen: DataFrame, bases: list,
                    use_bcast: bool) -> tuple:
        """Frontier rows not yet seen, split by robots once the robots.txt
        of the new ``bases`` is in. Returns (allowed, blocked), both with
        their host's ``crawl_delay``; blocked is None without robots."""
        if self._state_is_empty("seen"):
            candidates = frontier  # cold start: the anti-join is the identity
        else:
            candidates = FR.anti_join_seen(frontier, seen)
        if not self.obey_robots:
            # both dequeue outputs read it across several actions
            return self._persist(candidates), None
        # allowed and blocked filter one cached verdict-joined frame
        candidates, blocked, joined = RB.robots_filter(
            candidates, self._robots(bases, use_bcast), persist_split=True,
            columns=self._columns(RB.verdict_columns))
        self._round_cache.append(joined)
        return candidates, blocked

    def _dequeue(self, candidates: DataFrame) -> tuple:
        """Politeness dequeue: (dequeued, deferred) under the per-host
        token budget, a column of the ``crawl_delay`` the verdict join
        carries."""
        by_delay = self.obey_robots and not self._budget_all_unlimited
        columns = self._columns(
            _politeness_columns, self.tokens_per_host, self.salt_buckets,
            self.round_seconds if by_delay else None)
        dequeued, deferred = FR.politeness_dequeue(candidates, columns=columns)
        # read by the fetch, the miss anti-join and the seen/metrics writes
        return (self._persist(dequeued.drop("crawl_delay")),
                deferred.drop("crawl_delay"))

    def _fetch_parse(self, dequeued: DataFrame, use_bcast: bool) -> tuple:
        """Fetch the dequeued rows and parse every 2xx page once. Returns
        (ok, terminal, retryable): parsed pages, failures final this round
        (404s and exhausted retries) and failures re-queued with their
        retry_count bumped (None when only misses can fail)."""
        c = self._columns(_fetch_columns, self.max_fetch_bytes, self.max_retries)
        self.pages()  # resolves _has_fail_col for CorpusFetcher
        fetched = self.fetcher.fetch(dequeued, use_bcast)
        resolves_all = getattr(self.fetcher, "resolves_all", True)
        if resolves_all:
            # a fetcher that returns every row (HttpFetcher: real network
            # requests) must not be re-run by the ok/failed consumers
            fetched = self._persist(fetched)
        capped = self.max_fetch_bytes < MAX_FETCH_BYTES
        if capped:
            # only under a non-default cap, so the corpus fetcher's literal
            # status still folds failures away
            fetched = fetched.withColumns(c["capped"])
        ok = fetched.filter(c["2xx"]).drop("status").withColumns(c["parse"])
        # cache one column per PAGE_STRUCT field (the columnar cache prunes
        # by column); the struct the rule packs read is a view Catalyst
        # folds back onto the cached columns
        ok = self._persist(ok.select(*c["split"]).drop("parsed")).withColumns(
            c["struct"])

        def minus(df, keys):
            keys = keys.select(c["url_hash"])
            return df.join(F.broadcast(keys) if use_bcast else keys,
                           "url_hash", "left_anti")

        if not (resolves_all or self._has_fail_col or capped):
            # every returned row is 2xx: the only failures are the misses
            # (404, terminal), read off the cached ok keys
            return ok, self._persist(minus(dequeued, ok)), None
        # T3 retry split: scrapy retries RETRY_HTTP_CODES (5xx/408/429,
        # oversize, network error) RETRY_TIMES times; a 404 is terminal
        failed = fetched.filter(c["failed"]).drop("html")
        if not resolves_all:
            missing = minus(dequeued, ok.select(c["url_hash"]).unionByName(
                failed.select(c["url_hash"]))).withColumns(c["missing"])
            failed = self._persist(failed.unionByName(missing))
        retryable = self._persist(
            failed.filter(c["retry"]).drop("status").withColumns(c["retried"]))
        terminal = minus(failed.drop("status"), retryable)
        return ok, self._persist(terminal), retryable

    def _extract(self, present: list, ok: DataFrame) -> tuple:
        """Apply the rule packs ``present`` in the frontier (_survey; a
        superset of the fetched ones, where a rule with nothing fetched only
        adds a dead CASE branch). Returns (children, items, quarantine),
        each None when no rule produces it. Each rule's columns are built
        the first round it is present and kept for the engine's life:
        building them is the plan cost."""
        rules = {rule: self._columns(RP.branches, rule) for rule in present}
        return RP.extract(ok, rules, self._columns(RP.page_columns))

    def _next_frontier(self, rnd: int, deferred: DataFrame, retryable,
                       children, known: DataFrame) -> DataFrame:
        """frontier(r+1) = deferred ∪ retried ∪ new children. The raw
        children are normalised in one projection after the union, filtered
        offsite and deduplicated against ``known`` keys and the rows already
        scheduled."""
        cols = self._columns(_frontier_cols)
        carried = deferred.select(*cols)
        if retryable is not None:
            carried = carried.unionByName(retryable.select(*cols))
        if children is None:
            return carried
        c = self._columns(_child_columns,
                          tuple(sorted(RP.ALLOWED_HOST_PATTERNS.items())))
        fresh = (
            self._with_keys(children).filter(c["offsite"])
            .withColumns({**c["fill"], "round_added": F.lit(rnd + 1)})
            .select(*cols)
        )
        # one anti-join covers the seen set and the rows already scheduled
        # (ADVICE r1): the earlier-scheduled row wins, as with scrapy's
        # enqueue-time RFPDupeFilter
        fresh = FR.dedup_new_children(fresh, known.unionByName(
            carried.select(*self._columns(_seen_cols))))
        return carried.unionByName(fresh)

    def _metrics(self, ok, terminal, retryable, blocked) -> DataFrame:
        """Per-partition fetch log (T4 / north_rule): fetched, bytes,
        errors and retries per (partition_id, host). Terminal failures and
        robots-blocked rows count as errors, once."""
        c = self._columns(_metrics_columns)
        parts = {"ok": ok, "terminal": terminal, "retryable": retryable,
                 "blocked": blocked}
        return _union([df.groupBy(*c["by"]).agg(*c[kind])
                       for kind, df in parts.items() if df is not None])

    @staticmethod
    def _write_round(pool: ThreadPoolExecutor, writes: list):
        """Run the state writes ``(writer, df, *args)`` concurrently on
        ``pool``, skipping empty outputs, and wait for all of them. None of
        them is the commit point: see committed_round."""
        for fut in [pool.submit(fn, df, *args)
                    for fn, df, *args in writes if df is not None]:
            fut.result()

    # -- S7 feed export ----------------------------------------------------------
    _FILES_TYPE = "array<struct<url:string, path:string, checksum:string>>"

    def export_feed(self, path: str) -> int:
        """The reference's primary user-facing output: ``scrapy crawl
        <spider> -o items.json`` (/root/reference/README.md:37-41; the FTP
        walker writes dlink.json, ftp/dlink.py:110-118). Writes the items
        table as a JSON-lines feed (scrapy's .jl feed format — one item
        object per line, list-wrapped fields) and returns the item count.

        Each item also carries the post-pipeline ``files`` field scrapy's
        FilesPipeline fills in (/root/reference/firmware/items.py:11,
        firmware/pipelines.py:4-6): one {url, path, checksum} entry per
        file URL that was actually downloaded (joined back from the
        downloads manifest, in file_urls order); never-downloaded URLs do
        not appear, matching FilesPipeline semantics.

        Parquet remains the engine's columnar state format; this is the
        export sink."""
        items = self.items().drop("round")
        manifest_path = self._p("downloads")
        if os.path.exists(manifest_path):
            manifest = self.spark.read.parquet(manifest_path).select(
                F.col("url").alias("_m_url"), "path",
                F.col("sha256").alias("checksum"),
            )
            # The files field is a pure function of file_urls, so the
            # join-back key is content-derived (xxhash64 of the serialized
            # list) — deterministic under recomputation, unlike
            # monotonically_increasing_id over a lazily cached DF whose ids
            # shift if cache partitions are evicted (ADVICE r3). Items
            # sharing a file_urls list share one files row, which is the
            # correct (identical) value for each of them.
            fid = F.xxhash64(F.to_json(F.col("file_urls")))
            items = items.withColumn("_iid", fid)
            distinct_fu = items.select("_iid", "file_urls").dropDuplicates(["_iid"])
            per_file = (
                distinct_fu.select(
                    "_iid", F.posexplode("file_urls").alias("_pos", "_furl")
                )
                .withColumn("_fcanon", U.canonicalize_url_udf()(F.col("_furl")))
                .join(manifest, F.col("_fcanon") == F.col("_m_url"), "inner")
            )
            files = per_file.groupBy("_iid").agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(
                            "_pos", F.col("_furl").alias("url"),
                            "path", "checksum",
                        ))
                    ),
                    lambda s: F.struct(
                        s["url"].alias("url"), s["path"].alias("path"),
                        s["checksum"].alias("checksum"),
                    ),
                ).alias("files")
            )
            items = (
                items.join(files, "_iid", "left")
                .withColumn(
                    "files",
                    F.coalesce(F.col("files"),
                               F.array().cast(self._FILES_TYPE)),
                )
                .drop("_iid")
            )
        else:
            items = items.withColumn(
                "files", F.array().cast(self._FILES_TYPE)
            )
        items.write.mode("overwrite").json(path)
        return items.count()

    # -- S6 file-download sink + F11 resume + A4 media dedup --------------------
    def collect_downloads(self) -> DataFrame:
        """The FilesPipeline stage (S6): dedup every distinct item file URL
        (A4 — FilesPipeline downloads each URL once per job,
        /root/reference/firmware/settings.py:28-33), anti-join against the
        existing downloads manifest (F11 resume — skip files already
        downloaded with identical size, ftp/dlink.py:92-93), fetch the
        blobs from the corpus, and append (url, path, sha256, bytes) to the
        manifest (path = URL basename, pipelines.py:5-6)."""
        from firmwarescraper_spark.functions.versions import url_basename_col

        pending = (
            self.items()
            .select(F.explode("file_urls").alias("url"))
            .dropDuplicates(["url"])  # A4
            .withColumn("canon_url", U.canonicalize_url_udf()(F.col("url")))
        )
        manifest_path = self._p("downloads")
        if os.path.exists(manifest_path):
            manifest = self.spark.read.parquet(manifest_path)
            pending = pending.join(  # F11: already-downloaded skip
                manifest.select(F.col("url").alias("canon_url")),
                "canon_url", "left_anti",
            )
        # The fetch mirrors run_round's shape (r3 verdict #2): a left-outer
        # join with pending on the left cannot broadcast its stream side, so
        # it hash-shuffled the ENTIRE corpus to fetch a handful of blobs.
        # Instead: broadcast-INNER join with the corpus streamed (never
        # exchanged), then recover misses with a broadcast anti-join against
        # the just-written manifest. pending is bounded by distinct item
        # file URLs — orders of magnitude below the corpus — and the
        # broadcast is size-gated on a cheap count over the (small) items
        # table, falling back to an unhinted join AQE can re-plan.
        pending = pending.persist()
        small = pending.count() <= 5_000_000  # ~320 MB of URL strings, tops
        build = F.broadcast(pending) if small else pending
        blobs = self._raw_pages().select(
            F.col("url").alias("canon_url"), F.col("html").alias("blob")
        ).join(build, "canon_url", "inner")
        # only successfully fetched blobs enter the manifest — a URL absent
        # from the corpus this run, or present with a NULL body, must stay
        # pending so a later run retries it (ADVICE r1/r4: the inner join
        # only guarantees row presence, not a non-null body; a null-blob
        # manifest row would permanently mark the file downloaded).
        # Misses are logged to their own table instead.
        blobs = blobs.filter(F.col("blob").isNotNull())
        new_manifest = blobs.select(
            F.col("canon_url").alias("url"),
            url_basename_col(F.col("url")).alias("path"),
            F.sha2(F.col("blob"), 256).alias("sha256"),
            F.length("blob").cast("long").alias("bytes"),
        )
        new_manifest.write.mode("append").parquet(manifest_path)
        # misses = pending minus what just landed in the manifest (reading
        # the manifest back avoids recomputing the corpus join; the manifest
        # is small and broadcastable by Spark's own threshold)
        done = self.spark.read.parquet(manifest_path).select(
            F.col("url").alias("canon_url")
        )
        misses = pending.join(done, "canon_url", "left_anti").select(
            F.col("canon_url").alias("url")
        )
        if not misses.isEmpty():
            misses.write.mode("append").parquet(self._p("download_misses"))
        pending.unpersist()
        return self.spark.read.parquet(manifest_path)

    def run(self, seeds: list | None = None, max_rounds: int = 1000,
            fresh: bool = False) -> dict:
        """Run to fixpoint. With ``fresh=False`` and existing state, resumes
        from the latest frontier snapshot (T4 exactly-once resume)."""
        if fresh and os.path.exists(self.state_dir):
            shutil.rmtree(self.state_dir)
        # resume = first uncommitted round: a crash that left partial
        # round-N writes (but no marker) re-runs round N from the last
        # committed frontier; its leftover partitions are rolled back by
        # the state readers and overwritten idempotently.
        rnd = self.committed_round() + 1
        if self.latest_round() < 0:
            assert seeds is not None, "first run needs seeds"
            self._write_frontier(self.seed_frontier(seeds), 0)
            rnd = 0
        rounds_run = 0
        try:
            while rounds_run < max_rounds and self._frontier_rows(rnd):
                self.run_round(rnd)
                rnd += 1
                rounds_run += 1
                # periodic small-files control: fold committed rounds into
                # one snapshot per state table (r3 verdict #4); long crawls
                # keep a bounded file count and the anti-join scan stays flat
                if self.compact_every and rnd % self.compact_every == 0:
                    self.compact_state()
        finally:
            self._release_robots()
        return {
            "rounds": rnd,
            "seen": self.seen().count(),
            "items": self.items().count(),
        }
