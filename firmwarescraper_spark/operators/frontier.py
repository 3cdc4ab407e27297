"""Frontier discipline: the URL-seen anti-join and the politeness-budgeted,
skew-defused per-host dequeue (SURVEY.md §2.3 J5, §2.7 T1, §4.2).

Scale design (10^10-URL frontier, 1000 executors):

* **Seen set** — authoritative dedup is an exact ``left_anti`` equi-join on
  ``url_hash`` (xxhash64 of the canonical URL). A Bloom filter is only a
  *prefilter*: Spark's own runtime bloom filters (InjectRuntimeFilter,
  Spark 3.3+) fire on this join automatically, and ``bloom_prefilter``
  below builds an explicit partitioned Bloom, one bitmap per ``url_hash``
  bucket, probed bucket by bucket in a cogroup so no bitmap passes
  through the driver at any filter size. The crawl engine runs the plain
  anti-join; the Bloom path serves the ``bloom_anti_join`` query. False
  positives never drop URLs because the anti-join stays authoritative
  (north_rule: seen-set must match the reference exactly).

* **Politeness dequeue** — a global per-host token budget fights
  data-parallel ranking: one hot host (download.avm.de holds >90% of the
  synthetic corpus; FIXTURES.md §1.3) would funnel its entire backlog
  through a single window task. Two-phase salted ranking fixes the skew:

    phase 1: rank within (host, salt=pmod(xxhash64(canon_url), S)) and keep
             only ``budget`` rows per salt bucket — shrinks the hot host's
             candidate set from |backlog| to S×budget rows;
    phase 2: exact global rank within host over survivors, keep ``budget``.

  This is the partial+final pattern of a map-side combine, applied to a
  rank-limit. Order key is (priority DESC, seq ASC): priority carries the
  firmware-href scoring, seq the deterministic DFS path key, so dequeue
  order is reproducible regardless of parallelism.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def anti_join_seen(frontier: DataFrame, seen: DataFrame,
                   bloom: bool = False, fpp: float = 0.03,
                   buckets: int = 64) -> DataFrame:
    """Drop frontier rows whose ``url_hash`` is in the seen set — the
    scrapy RFPDupeFilter equivalent, placed BEFORE the fetch stage (the
    reference's key hand-optimization, SURVEY.md §4).

    With ``bloom=True`` the frontier is split by a partitioned-Bloom
    membership test first: definite non-members bypass the exact
    anti-join and only the "maybe seen" rows go through it. Bloom false
    positives therefore cost one extra row in the join each, never a
    dropped URL — the anti-join stays authoritative (north_rule: seen-set
    must match the reference exactly). Result parity with the plain path
    is pinned by tests/test_operators.py and the ``bloom_anti_join``
    driver oracle."""
    if not bloom:
        return frontier.join(seen.select("url_hash"), "url_hash", "left_anti")
    flagged = bloom_prefilter(frontier, seen, fpp, buckets)
    fresh = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    maybes = flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    return fresh.unionByName(
        maybes.join(seen.select("url_hash"), "url_hash", "left_anti")
    )


def _bloom_geometry(expected_items: int, fpp: float) -> tuple:
    """Standard Bloom sizing: m = -n ln(p)/ln(2)^2 bits, k = m/n ln(2)."""
    import math

    m_bits = max(64, int(-expected_items * math.log(fpp) / (math.log(2) ** 2)))
    m_bits = (m_bits + 63) // 64 * 64
    k = max(1, round(m_bits / expected_items * math.log(2)))
    return m_bits, k


_BLOOM_MIX = 0x9E3779B97F4A7C15  # 64-bit golden-ratio odd multiplier


def _bloom_set_bits(bm, h1_i64, m_bits: int, k: int):
    """Set the k Kirsch–Mitzenmacher probe bits for each 64-bit key in
    ``h1_i64`` (int64 ndarray) into bitmap ``bm`` (uint64 ndarray)."""
    import numpy as np

    h1 = h1_i64.view(np.uint64)
    h2 = (h1 * np.uint64(_BLOOM_MIX)) | np.uint64(1)
    for i in range(k):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
        np.bitwise_or.at(
            bm, (idx >> np.uint64(6)).astype(np.int64),
            np.left_shift(np.uint64(1), idx & np.uint64(63)),
        )


def _bloom_test_bits(bm, h1_i64, m_bits: int, k: int):
    """Vectorized membership test; returns a bool ndarray."""
    import numpy as np

    h1 = h1_i64.view(np.uint64)
    h2 = (h1 * np.uint64(_BLOOM_MIX)) | np.uint64(1)
    res = np.ones(len(h1), dtype=bool)
    for i in range(k):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
        bit = np.left_shift(np.uint64(1), idx & np.uint64(63))
        res &= (bm[(idx >> np.uint64(6)).astype(np.int64)] & bit) != 0
    return res


def build_bloom_buckets(seen: DataFrame, buckets: int = 64,
                        fpp: float = 0.03):
    """Build a PARTITIONED Bloom filter over ``seen.url_hash`` (north_star:
    "partitioned Bloom/cuckoo-filter URL-seen set"): the key space is
    bucketed by ``pmod(url_hash, buckets)`` and each bucket gets its own
    independent bitmap, built completely inside one ``applyInPandas`` task
    — no driver-side merge at all, and no single structure that has to fit
    one node. At 10^10 keys / fpp=0.03 (~7.3 bits/key ≈ 9 GB total),
    buckets=4096 keeps every bitmap ≈ 2.2 MB, shippable as ordinary rows.

    Sizing comes from a ``seen.count()`` (ADVICE r2: a fixed item count
    silently degrades fpp toward 1 as the seen set grows). Keys are
    already 64-bit xxhash64 fingerprints, so per-bucket occupancy is
    uniform (n/buckets) and probe positions come from Kirsch–Mitzenmacher
    double hashing — no re-hashing of URL bytes.

    Returns (bitmaps DataFrame ``(bucket int, bm binary)``, m_bits, k)
    where m_bits/k are the per-bucket geometry."""
    import math

    import numpy as np

    per_bucket = max(64, math.ceil(max(seen.count(), 1) / buckets))
    m_bits, k = _bloom_geometry(per_bucket, fpp)
    words = m_bits // 64

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        bm = np.zeros(words, dtype=np.uint64)
        _bloom_set_bits(bm, pdf["url_hash"].to_numpy(dtype=np.int64), m_bits, k)
        return pd.DataFrame(
            {"bucket": [int(pdf["_bucket"].iloc[0])], "bm": [bm.tobytes()]}
        )

    bitmaps = (
        seen.select("url_hash")
        .withColumn("_bucket", F.pmod(F.col("url_hash"), F.lit(buckets)).cast("int"))
        .groupBy("_bucket")
        .applyInPandas(_build, "bucket int, bm binary")
    )
    return bitmaps, m_bits, k


def bloom_prefilter(frontier: DataFrame, seen: DataFrame,
                    fpp: float = 0.03, buckets: int = 64) -> DataFrame:
    """Tag each frontier row with ``_maybe_seen``: a membership test
    against the partitioned Bloom filter of the seen-set's ``url_hash``.
    Consumed by ``anti_join_seen(..., bloom=True)``, which anti-joins only
    the maybes and unions the definite-unseen rows back.

    The probe groups BOTH sides by bucket in one
    ``cogroup(...).applyInPandas``: each task sees one bucket's frontier
    rows plus that bucket's single bitmap row. It is the one probe that
    works at every filter size: no bitmap ever sits on the driver or in a
    broadcast, so the total filter is bounded by no single node. It costs
    one hash partition of the frontier by bucket. False positives cost
    one extra row in the exact anti-join, never a dropped URL."""
    import numpy as np
    from pyspark.sql import types as T

    bitmaps, m_bits, k = build_bloom_buckets(seen, buckets, fpp)
    tagged = frontier.withColumn(
        "_bucket", F.pmod(F.col("url_hash"), F.lit(buckets)).cast("int"))
    out_schema = T.StructType(
        list(tagged.schema.fields) + [T.StructField("_maybe_seen", T.BooleanType())]
    )

    def _probe(fr_pdf: pd.DataFrame, bm_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(fr_pdf) == 0:
            return fr_pdf.assign(_maybe_seen=pd.Series([], dtype=bool))
        if len(bm_pdf) == 0:  # bucket empty in seen => definitely unseen
            res = np.zeros(len(fr_pdf), dtype=bool)
        else:
            bm = np.frombuffer(bm_pdf["bm"].iloc[0], dtype=np.uint64)
            res = _bloom_test_bits(
                bm, fr_pdf["url_hash"].to_numpy(dtype=np.int64), m_bits, k)
        return fr_pdf.assign(_maybe_seen=res)

    return (
        tagged.groupBy("_bucket")
        .cogroup(bitmaps.groupBy("bucket"))
        .applyInPandas(_probe, out_schema)
        .drop("_bucket")
    )


def write_bucketed(df: DataFrame, table: str, buckets: int = 32,
                   key: str = "url_hash"):
    """Persist a state table bucketed+sorted by the join key — the layout
    that makes the frontier⋈seen anti-join (and the frontier⋈pages fetch
    join) shuffle-free PAST the broadcast threshold: co-bucketed scans feed
    a SortMergeJoin with zero Exchange and zero Sort (captured plan:
    PLANS.md §2b; pinned by tests/test_round2_fixes.py). On Iceberg the
    same property comes from a ``bucket(N, url_hash)`` partition transform
    via storage-partitioned joins; Spark's native bucketed parquet
    exercises the identical planner rule without a catalog."""
    (df.write.bucketBy(buckets, key).sortBy(key)
       .mode("overwrite").saveAsTable(table))
    return df.sparkSession.table(table)


# Budgets at or above this are "unlimited": the per-host rank-limit can
# never bind (no real round backlogs 10^9 URLs on ONE host), so those rows
# always dequeue. A literal budget this large folds the whole rank-limit
# out of the plan: ``_take`` simplifies to ``true``, both windows lose
# their last consumer and are pruned, and ``deferred`` becomes an empty
# relation.
UNLIMITED_TOKENS = 10 ** 9


def politeness_columns(tokens_per_host: int = 64, salt_buckets: int = 8,
                       budget: Column | None = None) -> dict:
    """The columns of ``politeness_dequeue``: ``ranks``, the column dicts
    its chain adds in order, and the ``dequeued`` and ``deferred``
    filters. They name input columns only, so one build serves every
    frontier: the crawl engine builds them once per setting."""
    order = (F.desc("priority"), F.asc("seq"))
    free = F.col("_budget") >= UNLIMITED_TOKENS
    survivor = ~free & (F.col("_r1") <= F.col("_budget"))
    take = free | (survivor & (F.col("_r2") <= F.col("_budget")))
    return {
        "ranks": (
            {"_budget": F.lit(tokens_per_host) if budget is None else budget,
             "_salt": F.pmod(F.xxhash64("canon_url"), F.lit(salt_buckets))},
            {"_r1": F.row_number().over(
                Window.partitionBy("host", "_salt").orderBy(*order))},
            {"_r2": F.row_number().over(
                Window.partitionBy(
                    "host", F.when(survivor, F.lit(-1)).otherwise(F.col("_salt"))
                ).orderBy(*order))},
            {"_take": take},
        ),
        "dequeued": F.col("_take"),
        "deferred": ~F.col("_take"),
    }


def politeness_dequeue(
    frontier: DataFrame,
    tokens_per_host: int = 64,
    salt_buckets: int = 8,
    budget: Column | None = None,
    columns: dict | None = None,
) -> tuple:
    """Dequeue up to ``budget`` URLs per host this round; returns
    (dequeued, deferred).

    ``budget`` (optional): a token count per row over ``frontier``'s own
    columns, default the literal ``tokens_per_host``. The crawl engine
    passes ``robots.delay_budget``: Crawl-delay, the reference's per-domain
    DOWNLOAD_DELAY (its firmware/spiders/asus.py:38-42), as fixed tokens
    per round, no wall clock, in correctness mode — SURVEY.md §7.0.
    ``columns`` is a ``politeness_columns`` build of the same three
    settings to reuse.

    One linear chain, no aggregate, join or union: phase 1 ranks ``_r1``
    within (host, salt); the rows with ``_r1 <= budget`` of a capped host
    are its survivors, and phase 2 ranks them exactly within the host by
    moving them into one extra partition (salt -1), which holds at most
    ``salt_buckets * budget`` rows. Free rows (budget >= UNLIMITED_TOKENS)
    and phase-1 losers keep their salted partitions, so no partition grows
    with the hot host's backlog. ``dequeued`` and ``deferred`` are the two
    filters of the same ranked frame.
    """
    if columns is None:
        columns = politeness_columns(tokens_per_host, salt_buckets, budget)
    ranked = frontier
    for step in columns["ranks"]:
        ranked = ranked.withColumns(step)
    aux = ["_budget", "_salt", "_r1", "_r2", "_take"]
    return (ranked.filter(columns["dequeued"]).drop(*aux),
            ranked.filter(columns["deferred"]).drop(*aux))


def dedup_new_children(children: DataFrame, seen: DataFrame) -> DataFrame:
    """First-yielder-wins dedup of freshly extracted frontier candidates:
    drop already-seen URLs, then keep the lexicographically-smallest seq per
    url_hash (= the first yielder in pinned DFS order — matches the
    simulator's enqueue-time dupefilter, plans/simulator.py)."""
    fresh = anti_join_seen(children, seen)
    w = Window.partitionBy("url_hash").orderBy(F.asc("seq"))
    return (
        fresh.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def priority_score(url_col) -> F.Column:
    """Firmware-link heuristic scoring (north_star: .bin/.img/.zip href
    scoring; reference extension predicates F4 — avm.py:39,
    linksys.py:86-87, ftp/dlink.py:92): firmware-payload-looking URLs
    outrank listing pages at dequeue."""
    return (
        F.when(url_col.rlike(r"\.(image|bin|img|zip|tar|gz|bz2)$"), F.lit(2))
        .when(url_col.rlike(r"(fritz\.os/|firmware|download)"), F.lit(1))
        .otherwise(F.lit(0))
    )
