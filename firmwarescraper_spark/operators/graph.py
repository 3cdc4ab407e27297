"""Link-graph operators for crawl prioritization: PageRank over a
(src, dst) edge table, plus a deterministic synthetic link graph so the
algorithm is testable (and DuckDB-replayable) on the sandbox corpus.

Why this lives in the crawl engine: the reference spiders rank frontier
URLs by hand-written heuristics (vendor-seed depth, firmware-extension
href scoring — see operators/frontier.py priority and SURVEY §2 W5).
At 10^10-URL Common-Crawl scale the standard complement is link
authority: a few PageRank sweeps over the host- or URL-level link graph,
folded into the frontier priority so high-authority hosts are dequeued
first (the OPIC/BFS-vs-PageRank crawl-ordering literature). The operator
here is the Spark-idiomatic batch formulation: one edge table, one rank
table, each iteration a co-partitioned join + groupBy — no RDDs, no
driver-side loops over rows (the only driver work is the fixed, small
iteration count).

Scale notes (the 100 TB / 10^10-edge plan):

* ``edges`` is read once, joined to its out-degree once, and persisted
  hash-partitioned by ``src`` OUTSIDE the loop — each iteration then
  joins ranks (partitioned by the same key) without re-shuffling the
  edge table, so per-iteration cost is one shuffle of the RANK table
  (fixed-width rows: id + double) plus the groupBy(dst) exchange of the
  contribution stream. Edge bytes never move after the first partition.
* partial aggregation (map-side combine) on groupBy(dst) compresses the
  contribution stream to one row per (partition, dst) before the
  exchange — in-link skew (everyone links to the homepage) is absorbed
  map-side exactly like the salted politeness dequeue absorbs hot hosts.
* lineage: every iteration appends a join+agg to the rank plan, so a
  deep run re-analyzes an ever-growing tree; ``checkpoint_every``
  truncates with localCheckpoint — same pattern as
  plans/crawl.py compact_state (r4 verdict #4).
* dangling nodes (no out-edges) contribute only teleport mass — their
  rank is not redistributed. This matches the unrolled-SQL oracle
  semantics exactly; the mass-conserving variant adds one scalar agg per
  iteration and is deliberately not the default (document, don't hide).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _md5_hash64


def synthetic_link_edges(
    nodes: DataFrame, id_col: str = "doc_id", out_degree: int = 3
) -> DataFrame:
    """A deterministic ``(src, dst)`` link graph over the given node
    table: node ``v`` links to ``md5_60bit("edge{i}|v") % N`` for
    ``i in [0, out_degree)`` — reproducible in DuckDB verbatim
    (``('0x' || substr(md5(...), 1, 15))::BIGINT % N``), so the PageRank
    oracle replays the same graph. Requires ids contiguous ``0..N-1``
    (true for the sandbox ``documents`` table); multi-edges and
    self-loops are possible and PageRank sums them like any edge.
    Shuffle-free: one explode fused into the scan.
    """
    n = nodes.count()
    ids = F.array(*[F.lit(i) for i in range(out_degree)])
    return (
        nodes.select(F.col(id_col).alias("src"))
        .withColumn("i", F.explode(ids))
        .select(
            "src",
            F.pmod(
                _md5_hash64(
                    F.concat(
                        F.lit("edge"),
                        F.col("i").cast("string"),
                        F.lit("|"),
                        F.col("src").cast("string"),
                    )
                ),
                F.lit(n),
            ).alias("dst"),
        )
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    id_col: str = "doc_id",
    checkpoint_every: int = 0,
) -> DataFrame:
    """Fixed-iteration PageRank: returns ``(<id_col>, pagerank)`` with
    ``pagerank`` rounded to 6 decimals (cross-engine float parity; the
    compounding double error over a handful of iterations is ~1e-15,
    far below the rounding quantum).

    r_{k+1}(v) = (1-d)/N + d * sum_{(u,v) in E} r_k(u) / outdeg(u)

    The edge⋈outdeg join happens ONCE before the loop and the result is
    persisted partitioned by ``src`` — each iteration shuffles only the
    rank table onto that partitioning, then map-side-combines the
    contributions on ``dst``. ``checkpoint_every > 0`` localCheckpoints
    the rank table every K iterations so deep runs keep a bounded plan
    (crawl.py compact_state pattern).
    """
    n = nodes.count()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # one shuffle each side onto src; persisted so the loop re-reads,
    # never re-shuffles, the edge bytes
    e = (
        edges.join(deg, "src")
        .repartition("src")
        .persist()
    )
    teleport = (1.0 - damping) / n
    ranks = nodes.select(
        F.col(id_col).alias("v"), F.lit(1.0 / n).alias("rank")
    )
    for k in range(iterations):
        contrib = (
            e.join(ranks, e["src"] == ranks["v"])
            .select(F.col("dst"), (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.select(F.col(id_col).alias("v"))
            .join(contrib, F.col("v") == F.col("dst"), "left")
            .select(
                "v",
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if checkpoint_every and (k + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint()
    # NOTE: ``e`` stays persisted — the returned plan references it once
    # per iteration, and unpersisting before the caller's action would
    # silently recompute the edge join per branch. Callers running many
    # pagerank jobs in one session can spark.catalog.clearCache().
    return ranks.select(
        F.col("v").alias(id_col), F.round(F.col("rank"), 6).alias("pagerank")
    )


def hyperball_centrality(
    nodes: DataFrame,
    edges: DataFrame,
    max_t: int = 3,
    p: int = 6,
    id_col: str = "doc_id",
    checkpoint_every: int = 0,
) -> DataFrame:
    """Approximate harmonic centrality via HyperBall (Boldi & Vigna,
    "In-Core Computation of Geometric Centralities with HyperBall") —
    the algorithm behind Common Crawl's published host-level harmonic
    centrality ranking, which is the standard authority prior for
    frontier prioritization alongside :func:`pagerank`.

    State: ONE row-wise HLL register table ``(v, j, mj)`` — node v's
    sketch of the set of nodes that reach v within t hops (the t-ball
    along REVERSE edges, which is what centrality counts). t=0 seeds
    each node's sketch with itself; each iteration ships registers
    along every edge ``src -> dst`` and folds with max:

        regs_t = (regs_{t-1}  UNION  regs_{t-1} joined src->dst)
                 .groupBy(v, j).max(mj)

    Per-t neighborhood sizes come from sketches.hll_estimate_from_regs
    (the exact-integer HLL estimator shared with hll_distinct), and

        harmonic(v) = sum_{t=1..max_t} max(0, N_t(v) - N_{t-1}(v)) / t

    (the deltas are clamped because the linear-counting switchover can
    locally invert an otherwise monotone estimate; the clamp is
    replayed in the oracle). The final round is 6 decimals, strictly
    finer than the 1e-4-grid deltas the sum is built from — a 4-decimal
    round would land on exact .xxxx5 ties where JVM HALF_UP and
    binary-double rounding disagree.

    Scale (10^10 nodes): the register table holds at most
    ``min(|ball|, 2^p)`` rows per node — <= 64·|V| fixed-width rows at
    p=6; the per-iteration shuffle is one equi-join on ``src`` against
    the pre-partitioned edge table plus one map-side-combinable
    groupBy(v, j) max. No RDDs, no driver loops over rows, and
    in-link skew (everyone links to the homepage) combines map-side
    exactly like pagerank's contribution stream. ``checkpoint_every``
    truncates the per-iteration lineage growth (the compact_state /
    robots-state pattern). Common Crawl's config is p=12-14 at host
    granularity (~KB per host, ~100M hosts) — same plan shape.
    """
    from .sketches import hll_estimate_from_regs, hll_register_table

    e = edges.select("src", "dst").repartition("src").persist()
    regs = hll_register_table(
        nodes.select(F.col(id_col).alias("v"), F.col(id_col).alias("_val")),
        "_val", ["v"], p,
    )
    ests = [
        hll_estimate_from_regs(regs, ["v"], p)
        .withColumnRenamed("hll_est", "est_0")
    ]
    for t in range(1, max_t + 1):
        shipped = (
            e.join(regs.withColumnRenamed("v", "src"), on="src")
            .select(F.col("dst").alias("v"), "j", "mj")
        )
        regs = (
            regs.unionByName(shipped)
            .groupBy("v", "j")
            .agg(F.max("mj").alias("mj"))
        )
        if checkpoint_every and t % checkpoint_every == 0:
            regs = regs.localCheckpoint()
        ests.append(
            hll_estimate_from_regs(regs, ["v"], p)
            .withColumnRenamed("hll_est", f"est_{t}")
        )
    out = nodes.select(F.col(id_col).alias("v"))
    for est in ests:
        out = out.join(est, on="v")
    cent = F.lit(0.0)
    for t in range(1, max_t + 1):
        cent = cent + F.greatest(
            F.lit(0.0), F.col(f"est_{t}") - F.col(f"est_{t - 1}")
        ) / F.lit(float(t))
    return out.select(
        F.col("v").alias(id_col), F.round(cent, 6).alias("harmonic")
    )


def hyperball_oracle_sql(
    n_nodes: int, out_degree: int = 3, max_t: int = 2, p: int = 6,
    node_table: str = "documents", id_col: str = "doc_id",
) -> str:
    """DuckDB replay of :func:`hyperball_centrality` over the
    :func:`synthetic_link_edges` graph on the first *n_nodes* ids —
    register seeding, per-edge shipping, max-folds, and the exact HLL
    estimator all unrolled per iteration (the _PAGERANK_SQL pattern)."""
    from .sketches import _hll_params, hll_estimate_sql

    m, k, _, _ = _hll_params(p)
    degs = ", ".join(str(i) for i in range(out_degree))
    parts = [f"""
    WITH nodes AS (SELECT {id_col} AS v FROM {node_table}
                   WHERE {id_col} < {n_nodes}),
    edges AS (
        SELECT n.v AS src,
               ('0x' || substr(md5('edge' || t.i || '|' || n.v), 1, 15))::BIGINT
                   % {n_nodes} AS dst
        FROM nodes n CROSS JOIN (SELECT unnest([{degs}]) AS i) t
    ),
    h0 AS (SELECT v, ('0x' || substr(md5(v::VARCHAR), 1, 15))::BIGINT AS h
           FROM nodes),
    r0 AS (SELECT v, h % {m} AS j,
                  CASE WHEN h // {m} = 0 THEN {k}
                       ELSE {k} - length(bin(h // {m})) END AS mj
           FROM h0)"""]
    for t in range(1, max_t + 1):
        parts.append(f""",
    r{t} AS (
        SELECT v, j, max(mj) AS mj FROM (
            SELECT v, j, mj FROM r{t - 1}
            UNION ALL
            SELECT e.dst AS v, r.j, r.mj
            FROM edges e JOIN r{t - 1} r ON r.v = e.src
        ) GROUP BY v, j
    )""")
    for t in range(0, max_t + 1):
        est = hll_estimate_sql(f"r{t}", ["v"], p)
        parts.append(f""",
    e{t} AS (SELECT v, hll_est AS est_{t} FROM ({est}))""")
    joins = " ".join(f"JOIN e{t} USING (v)" for t in range(0, max_t + 1))
    cent = " + ".join(
        f"greatest(0.0, est_{t} - est_{t - 1}) / {float(t)!r}"
        for t in range(1, max_t + 1)
    )
    parts.append(f"""
    SELECT v AS {id_col}, round({cent}, 6) AS harmonic
    FROM nodes {joins}
    ORDER BY {id_col}""")
    return "".join(parts)


# ---------------------------------------------------------------------------
# redirect-chain resolution (pointer doubling)
# ---------------------------------------------------------------------------


def synthetic_redirect_edges(nodes: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """A deterministic, provably ACYCLIC redirect edge set over contiguous
    ids ``0..N-1``: node ``v`` redirects iff ``md5_60bit("redir|v") % 3
    == 0``, ``v % 16 < 12``, and ``v <= N-5``; its target is
    ``v + 1 + ((h >> 8) % 4)`` — strictly forward, at most ``v + 4``.

    Chain-length bound (why 4 pointer-doubling rounds always suffice):
    a redirecting node has ``v % 16 < 12`` and a hop advances 1..4, so
    from any in-block position ``p % 16 <= 11`` the landing stays
    ``<= p + 4 < next block`` — a chain can never skip the block's
    non-redirecting tail window (positions 12..15) into the next block,
    and terminates within its own 16-id block after at most 12 hops.
    Reproducible verbatim in DuckDB (same md5/shift/mod algebra), so the
    oracle replays the identical graph.
    """
    n = nodes.count()
    v = F.col(id_col)
    h = _md5_hash64(F.concat(F.lit("redir|"), v.cast("string")))
    return (
        nodes.select(v.alias("src"), h.alias("_h"))
        .filter(
            (F.col("_h") % 3 == 0)
            & (F.col("src") % 16 < 12)
            & (F.col("src") <= F.lit(n - 5))
        )
        .select(
            "src",
            (F.col("src") + 1 + F.shiftright(F.col("_h"), 8) % 4).alias("dst"),
        )
    )


def resolve_redirects(
    nodes: DataFrame,
    edges: DataFrame,
    rounds: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Resolve every node to the terminal of its redirect chain by
    POINTER DOUBLING: after round ``r`` the pointer table maps each node
    to the node reached by following ``min(2^r, chain length)`` hops, so
    ``rounds`` rounds resolve every chain of length ``<= 2^rounds`` in
    ``O(log L)`` self-joins instead of the naive per-hop walk's ``O(L)``
    sequential joins — the difference between 4 shuffles and 12 at the
    synthetic bound, and between ~34 and 10^10-ish at web scale where
     3xx chains are short but the FRONTIER is 10^10 rows (each round is
    ONE hash-exchange of fixed-width (v, cur, hops) rows; the edge table
    is touched once, at initialization). Crawl analogue: collapsing
    HTTP 301/302/meta-refresh chains to their canonical landing URL
    before the seen-set/frontier join, so politeness and dedup key on
    the page actually served (scrapy follows redirects inside the
    downloader for the same reason — the reference inherits it via
    ``REDIRECT_ENABLED`` defaults, firmware/settings.py).

    Returns ``(<id_col>, final_id, hops, resolved)``. ``resolved`` is
    false only for nodes whose chain did NOT reach a terminal within
    ``2^rounds`` hops — i.e. a redirect CYCLE (or a chain longer than
    the doubling horizon); ``hops`` is the exact chain length when
    ``resolved``, else the number of hops walked before giving up.
    Cycles never terminate, so flagging beats looping forever — the
    crawl engine treats an unresolved chain like scrapy's
    ``REDIRECT_MAX_TIMES`` breach (drop with a metrics row).
    """
    ptr = (
        nodes.select(F.col(id_col).alias("v"))
        .join(edges.select(F.col("src").alias("v"), "dst"), "v", "left")
        .select(
            "v",
            F.coalesce(F.col("dst"), F.col("v")).alias("cur"),
            F.col("dst").isNotNull().cast("long").alias("hops"),
        )
    )
    for _ in range(rounds):
        nxt = ptr.select(
            F.col("v").alias("nv"),
            F.col("cur").alias("ncur"),
            F.col("hops").alias("nhops"),
        )
        # ptr[cur] may be absent when an edge points OUTSIDE the node
        # table — such a target is terminal by definition (coalesce
        # keeps cur, adds 0 hops)
        ptr = ptr.join(nxt, ptr["cur"] == nxt["nv"], "left").select(
            "v",
            F.coalesce(F.col("ncur"), F.col("cur")).alias("cur"),
            (F.col("hops") + F.coalesce(F.col("nhops"), F.lit(0))).alias("hops"),
        )
    # terminal check: the landing node has no out-edge. One broadcast-able
    # semi-join against the (small) redirect-source set; at web scale the
    # source set is |redirecting URLs|, not |frontier|.
    srcs = edges.select(F.col("src").alias("cur")).distinct()
    out = ptr.join(F.broadcast(srcs.withColumn("_redir", F.lit(True))),
                   "cur", "left")
    return out.select(
        F.col("v").alias(id_col),
        F.col("cur").alias("final_id"),
        F.col("hops"),
        F.col("_redir").isNull().alias("resolved"),
    )
