"""Operator-level tests: frontier discipline, robots matching, dedup
family, similarity search, text analysis."""

import pytest
from pyspark.sql import functions as F

from firmwarescraper_spark.operators import dedup as DD
from firmwarescraper_spark.operators import frontier as FR
from firmwarescraper_spark.operators import robots as RB
from firmwarescraper_spark.operators import similarity as SIM
from firmwarescraper_spark.operators import textops as TX


# --- frontier ---------------------------------------------------------------

def _frontier_df(spark, rows):
    df = spark.createDataFrame(rows, "host string, priority int, seq string")
    return df.withColumn("canon_url", F.concat("host", F.lit("/"), "seq")).withColumn(
        "url_hash", F.xxhash64("canon_url")
    )


def test_politeness_budget_enforced(spark):
    rows = [("h1", 0, f"{i:04d}") for i in range(20)] + [("h2", 0, "0001")]
    fr = _frontier_df(spark, rows)
    dq, deferred = FR.politeness_dequeue(fr, tokens_per_host=5, salt_buckets=4)
    got = {r["host"]: r["n"] for r in dq.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert got == {"h1": 5, "h2": 1}
    assert deferred.count() == 15
    # priority/seq ordering: the 5 dequeued are the lexicographically first
    seqs = sorted(r["seq"] for r in dq.filter(F.col("host") == "h1").collect())
    assert seqs == [f"{i:04d}" for i in range(5)]


def test_politeness_salt_invariance(spark):
    """The two-phase salted rank must select the same rows regardless of the
    salt bucket count (phase 1 only prunes, never changes the final rank)."""
    rows = [("hot", i % 3, f"{i:05d}") for i in range(100)]
    fr = _frontier_df(spark, rows)
    picks = []
    for buckets in (1, 4, 16):
        dq, _ = FR.politeness_dequeue(fr, tokens_per_host=10, salt_buckets=buckets)
        picks.append(sorted((r["priority"], r["seq"]) for r in dq.collect()))
    assert picks[0] == picks[1] == picks[2]
    # priority desc first: all priority-2 rows outrank priority-1
    assert all(p == 2 for p, _ in picks[0][:10]) or max(p for p, _ in picks[0]) == 2


def _plan_nodes(df, name):
    """Count the operator nodes called ``name`` in the optimized plan."""
    import re

    tree = df._jdf.queryExecution().optimizedPlan().treeString()
    return sum(re.match(r"[\s:|+-]*(\w+)", line).group(1) == name
               for line in tree.splitlines())


def test_politeness_plan_shape(spark):
    """The dequeue is one linear chain: a budgeted dequeue plans exactly the
    two row_number windows (salted phase 1, exact phase 2) and no join; an
    unlimited literal budget folds both windows away and leaves deferred
    empty."""
    rows = [("h1", 0, f"{i:04d}") for i in range(20)] + [("h2", 0, "0001")]
    fr = _frontier_df(spark, rows)
    dq, deferred = FR.politeness_dequeue(fr, tokens_per_host=5, salt_buckets=4)
    assert _plan_nodes(dq, "Window") == 2
    assert _plan_nodes(dq, "Join") == 0
    dq, deferred = FR.politeness_dequeue(
        fr, tokens_per_host=FR.UNLIMITED_TOKENS, salt_buckets=4)
    for out in (dq, deferred):
        assert _plan_nodes(out, "Window") == 0
        assert _plan_nodes(out, "Join") == 0
    assert dq.count() == len(rows)
    assert deferred.isEmpty()


def test_priority_score(spark):
    df = spark.createDataFrame(
        [("http://h/a.image",), ("http://h/fw.bin",), ("http://h/x.zip",),
         ("http://h/fritz.os/",), ("http://h/index.html",)], ["url"]
    )
    got = [r["p"] for r in df.select(FR.priority_score(F.col("url")).alias("p")).collect()]
    assert got == [2, 2, 2, 1, 0]


def test_dedup_new_children_first_yielder_wins(spark):
    rows = [("u1", "0001"), ("u1", "0000"), ("u2", "0005")]
    df = spark.createDataFrame(rows, "canon_url string, seq string").withColumn(
        "url_hash", F.xxhash64("canon_url")
    )
    seen = spark.createDataFrame([], "url_hash long")
    out = FR.dedup_new_children(df, seen).collect()
    got = {r["canon_url"]: r["seq"] for r in out}
    assert got == {"u1": "0000", "u2": "0005"}


def test_bloom_prefilter_parity(spark):
    """anti_join_seen(bloom=True) must return exactly the plain anti-join's
    rows — Bloom false positives cost a row in the exact join, never a
    lost URL. Pinned across bucket counts (the filter is partitioned: one
    independent bitmap per pmod(url_hash, B) bucket), with sizing derived
    from seen.count()."""
    frontier = spark.range(0, 5000).select(
        F.col("id"), F.xxhash64("id").alias("url_hash"))
    seen = spark.range(0, 5000, 3).select(F.xxhash64("id").alias("url_hash"))
    plain = {r["id"] for r in FR.anti_join_seen(frontier, seen).collect()}
    for buckets in (2, 64):
        bloom = {r["id"] for r in FR.anti_join_seen(
            frontier, seen, bloom=True, fpp=0.05, buckets=buckets).collect()}
        assert plain == bloom, buckets
    default = {r["id"] for r in FR.anti_join_seen(
        frontier, seen, bloom=True).collect()}
    assert plain == default


def test_bloom_buckets_geometry(spark):
    """Per-bucket bitmaps are independent and sized for n/buckets keys:
    build_bloom_buckets returns one row per non-empty bucket, every key
    tests positive in its own bucket's bitmap, and the per-bucket geometry
    shrinks as buckets grow (the property that keeps any single bitmap
    ~MBs at 10^10 keys)."""
    import numpy as np

    seen = spark.range(0, 3000).select(F.xxhash64("id").alias("url_hash"))
    bm4, m4, k4 = FR.build_bloom_buckets(seen, buckets=4, fpp=0.03)
    bm16, m16, k16 = FR.build_bloom_buckets(seen, buckets=16, fpp=0.03)
    assert m16 < m4  # 4x more buckets => smaller per-bucket bitmap
    rows = {r["bucket"]: r["bm"] for r in bm4.collect()}
    assert set(rows) == {0, 1, 2, 3}
    hashes = [r["url_hash"] for r in seen.collect()]
    for h in hashes[:200]:
        b = h % 4  # python % == pmod for positive modulus
        bm = np.frombuffer(rows[b], dtype=np.uint64)
        assert FR._bloom_test_bits(
            bm, np.array([h], dtype=np.int64), m4, k4)[0]


# --- robots -------------------------------------------------------------------

ROBOTS_TXT = """User-agent: *
Disallow: /private/
Allow: /private/public/
Disallow: /*.zip$
Crawl-delay: 2

User-agent: evilbot
Disallow: /
"""


def test_parse_robots_txt():
    rules, delay = RB.parse_robots_txt(ROBOTS_TXT)
    assert (False, "/private/") in rules
    assert (True, "/private/public/") in rules
    assert (False, "/*.zip$") in rules
    assert all("/" != r for _, r in rules)  # evilbot group not merged
    assert delay == 2.0


def test_robots_filter_longest_match(spark):
    pages = spark.createDataFrame(
        [("http://h.example/robots.txt", ROBOTS_TXT.encode())], ["url", "html"]
    )
    rules, delay = RB.build_robots_rules(pages)
    fr = spark.createDataFrame(
        [
            ("h.example", "http://h.example/ok.html"),
            ("h.example", "http://h.example/private/x.html"),
            ("h.example", "http://h.example/private/public/y.html"),
            ("h.example", "http://h.example/file.zip"),
            ("other.example", "http://other.example/private/z.html"),
        ],
        "host string, canon_url string",
    ).withColumn("url_hash", F.xxhash64("canon_url"))
    allowed, blocked = RB.robots_filter(fr, rules)
    a = {r["canon_url"] for r in allowed.collect()}
    b = {r["canon_url"] for r in blocked.collect()}
    assert "http://h.example/ok.html" in a
    assert "http://h.example/private/x.html" in b
    assert "http://h.example/private/public/y.html" in a  # longest-match: Allow wins
    assert "http://h.example/file.zip" in b  # wildcard + anchor
    assert "http://other.example/private/z.html" in a  # no rules for host


def test_host_budget_from_delay(spark):
    compiled = spark.createDataFrame(
        [("h1", [], 2.0, ["http://h1"]), ("h2", [], 0.5, ["http://h2"]),
         ("h3", [], None, ["http://h3"])], RB.ROBOTS_SCHEMA)
    got = {r["host"]: r["tokens"] for r in compiled.select(
        "host", RB.delay_budget(round_seconds=60, default_tokens=1000)
        .alias("tokens")).collect()}
    assert got == {"h1": 30, "h2": 120, "h3": 1000}  # no delay: the default


def test_host_budget_one_row_per_host(spark):
    """A host that serves robots.txt under two schemes has two crawl delays;
    its compiled row keeps the larger, so its budget is the smaller one,
    and the verdict join on host does not duplicate its frontier rows."""
    pages = spark.createDataFrame(
        [("http://h.example/robots.txt", "User-agent: *\nCrawl-delay: 10\n"),
         ("https://h.example/robots.txt", "User-agent: *\nCrawl-delay: 20\n")],
        "url string, html string")
    compiled, delay = RB.build_robots_rules(pages)
    assert [(r["host"], r["crawl_delay"]) for r in compiled.collect()] == [
        ("h.example", 20.0)]
    budget = RB.delay_budget(round_seconds=60, default_tokens=1000)
    assert [tuple(r) for r in compiled.select("host", budget).collect()] == [
        ("h.example", 3)]
    assert [tuple(r) for r in delay.collect()] == [("h.example", 20.0)]
    fr = _frontier_df(spark, [("h.example", 0, f"{i:04d}") for i in range(3)])
    allowed, _ = RB.robots_filter(fr, compiled)
    dq, deferred = FR.politeness_dequeue(allowed, tokens_per_host=1000,
                                         salt_buckets=4, budget=budget)
    assert dq.count() == 3 and deferred.count() == 0


@pytest.mark.parametrize("value, delay, tokens", [
    ("0", None, None), ("1e-12", 1e-12, 1000), ("-3", None, None),
    ("inf", None, None), ("0.5", 0.5, 120)])
def test_crawl_delay_budget_in_range(spark, value, delay, tokens):
    """A zero, negative or non-finite Crawl-delay sets no delay, so the
    host keeps default_tokens; any other lands in [1, default_tokens]
    without a divide-by-zero or a cast overflow under ANSI mode."""
    body = f"User-agent: *\nCrawl-delay: {value}\n"
    assert RB.parse_robots_txt(body)[1] == delay
    pages = spark.createDataFrame([("http://h.example/robots.txt", body)],
                                  "url string, html string")
    compiled, _ = RB.build_robots_rules(pages)
    budget = RB.delay_budget(round_seconds=60, default_tokens=1000)
    assert [tuple(r) for r in compiled.select(
        "host", "crawl_delay", budget).collect()] == [
        ("h.example", delay, 1000 if tokens is None else tokens)]
    fr = _frontier_df(spark, [("h.example", 0, f"{i:04d}") for i in range(3)])
    allowed, _ = RB.robots_filter(fr, compiled)
    dq, _ = FR.politeness_dequeue(allowed, tokens_per_host=1000,
                                  salt_buckets=4, budget=budget)
    assert dq.count() == 3


# --- dedup family -----------------------------------------------------------------

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog again and again"),
    (1, "the quick brown fox jumps over the lazy dog again and again"),   # exact dup
    (2, "the quick brown fox jumps over the lazy cat again and again"),   # near dup
    (3, "completely different content about spark shuffles and joins here"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark, docs_df):
    out = {r["doc_id"]: r["dup_count"] for r in DD.exact_dedup(docs_df).collect()}
    assert out[0] == 2  # doc 1 collapsed into doc 0
    assert 1 not in out
    assert out[2] == 1 and out[3] == 1


def test_minhash_identical_docs_share_all_bands(spark, docs_df):
    pairs = {(r["id_a"], r["id_b"]) for r in DD.minhash_lsh_pairs(docs_df).collect()}
    assert (0, 1) in pairs                       # identical -> all bands agree
    assert (0, 3) not in pairs and (1, 3) not in pairs


def test_incremental_lsh_equals_full_minus_oldold(spark):
    """incremental_lsh_pairs over (index, new) must equal
    minhash_lsh_pairs over the UNION minus the old-old pairs — the whole
    point of the incremental shape — with vs labels telling the two
    match kinds apart."""
    rows = [(i, f"shared prefix words here plus tail w{i % 4} w{i % 2} end extra pad")
            for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    index_docs = docs.filter("doc_id < 8")
    new_docs = docs.filter("doc_id >= 8")
    inc = {(r["id_new"], r["id_other"], r["vs"])
           for r in DD.incremental_lsh_pairs(
               DD.minhash_signatures(index_docs), new_docs).collect()}
    full = {(r["id_a"], r["id_b"])
            for r in DD.minhash_lsh_pairs(docs).collect()}
    expect = set()
    for a, b in full:
        if a >= 8 and b >= 8:
            expect.add((a, b, "new"))
        elif b >= 8:                       # (old, new) -> new is id_new
            expect.add((b, a, "index"))
        elif a >= 8:
            expect.add((a, b, "index"))
        # old-old pairs are deliberately absent
    assert inc == expect
    assert any(v == "index" for *_, v in inc)  # re-crawl matches exist


def test_incremental_lsh_detects_exact_recrawl(spark):
    index_docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "totally different content with other words")],
        "doc_id long, text string")
    new_docs = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],  # re-crawl of 1
        "doc_id long, text string")
    out = DD.incremental_lsh_pairs(
        DD.minhash_signatures(index_docs), new_docs).collect()
    assert {(r["id_new"], r["id_other"], r["vs"]) for r in out} == {
        (100, 1, "index")}


def test_dedup_keep_best_picks_highest_score(spark):
    """Survivor = argmax(score) per component, ties -> lowest id;
    singletons survive as their own component."""
    scored = spark.createDataFrame(
        [(1, 0.3), (2, 0.9), (3, 0.9),   # cluster {1,2,3}: 2 wins tie vs 3
         (7, 0.1),                        # singleton
         (8, 0.5), (9, 0.8)],             # cluster {8,9}: 9 wins
        "doc_id long, quality double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (8, 9)], "id_a long, id_b long")
    out = {r["doc_id"]: r
           for r in DD.dedup_keep_best(scored, pairs, "quality").collect()}
    assert set(out) == {2, 7, 9}
    assert out[2]["component"] == 1 and out[2]["n_members"] == 3
    assert out[2]["quality"] == 0.9
    assert out[7]["n_members"] == 1 and out[7]["component"] == 7
    assert out[9]["component"] == 8 and out[9]["n_members"] == 2


def test_simhash_properties(spark, docs_df):
    sh = {r["doc_id"]: r["simhash"] for r in DD.simhash(docs_df).collect()}
    assert sh[0] == sh[1]                        # identical text -> same hash
    assert sh[0] != sh[3]


def test_ngram_jaccard(spark, docs_df):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in DD.ngram_jaccard_pairs(docs_df, threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0
    assert 0.3 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_connected_components(spark):
    # two components: a 4-chain 0-1-2-3 (diameter 3, exercises pointer
    # jumping) and a triangle 10-11-12; 99 is an isolated doc
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long",
    )
    cc = {r["id"]: r["component"]
          for r in DD.connected_components(pairs).collect()}
    assert cc == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 12: 10}

    docs = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 3, 10, 11, 12, 99]], "doc_id long")
    lab = {r["doc_id"]: r["component"]
           for r in DD.neardup_components(docs, pairs).collect()}
    assert lab[99] == 99  # singleton labels itself
    assert lab[3] == 0 and lab[12] == 10
    # canonical-survivor filter == one doc per component + singletons
    keep = sorted(d for d, c in lab.items() if d == c)
    assert keep == [0, 10, 99]


def test_connected_components_matches_union_find(spark):
    # randomized-but-deterministic graph vs a pure-python union-find
    import random

    rng = random.Random(42)
    edges = sorted({(rng.randrange(60), rng.randrange(60)) for _ in range(70)})
    edges = [(a, b) for a, b in edges if a != b]
    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    for n in nodes:
        want[n] = find(n)
    # union-find roots are not guaranteed min-of-component; normalize
    groups = {}
    for n, r in want.items():
        groups.setdefault(r, []).append(n)
    want = {n: min(g) for g in groups.values() for n in g}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"]
           for r in DD.connected_components(pairs).collect()}
    assert got == want


def test_embedding_neardup_and_topk(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),   # near dup of 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    pairs = {(r["id_a"], r["id_b"]) for r in
             DD.embedding_neardup_pairs(emb, threshold=0.95).collect()}
    assert pairs == {(0, 1)}
    top = SIM.cosine_topk(emb, [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [0, 1]
    ann = SIM.lsh_bucketed_topk(emb, [1.0, 0.0, 0.0], k=1, planes=4).collect()
    assert ann[0]["vec_id"] == 0


def test_ivf_topk_and_assign_paths(spark):
    """IVF ANN: deterministic centroids, literal == pandas assignment,
    nprobe search finds the brute-force answer on real testdata."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = SIM.ivf_centroids(emb, k=8)
    assert [cid for cid, _ in cents] == list(range(8))
    assert cents == SIM.ivf_centroids(emb, k=8)  # deterministic

    lit = {r["vec_id"]: r["cid"]
           for r in SIM.ivf_assign(emb, cents).select("vec_id", "cid").collect()}
    pnd = {r["vec_id"]: r["cid"]
           for r in SIM.ivf_assign(emb, cents, via="pandas")
           .select("vec_id", "cid").collect()}
    assert lit == pnd and len(lit) == emb.count()
    assert set(lit.values()) <= set(range(8))

    qv = [float(x) for x in
          emb.filter("vec_id = 7").first()["embedding"]]
    ann = [r["vec_id"] for r in SIM.ivf_topk(emb, qv, cents, k=5, nprobe=3).collect()]
    assert ann[0] == 7  # the query's own row lives in a probed list
    brute = [r["vec_id"] for r in SIM.cosine_topk(emb, qv, k=5).collect()]
    # nprobe=3/8 lists must still recover most of the exact top-5
    assert len(set(ann) & set(brute)) >= 3


def test_ivf_assign_rejects_empty_centroids(spark):
    import pytest as _pt

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with _pt.raises(ValueError):
        SIM.ivf_assign(emb, [])


def test_ivf_refine_matches_numpy_lloyd(spark):
    import numpy as np

    vecs = [(i, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(4)])
            for i in range(40)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents = SIM.ivf_centroids(emb, k=4)
    refined = SIM.ivf_refine(emb, cents, iters=2)

    X = np.array([v for _, v in vecs])
    C = np.array([c for _, c in cents])
    for _ in range(2):
        assign = (X @ C.T).argmax(axis=1)
        for cid in range(4):
            if (assign == cid).any():
                C[cid] = X[assign == cid].mean(axis=0)
    for (cid, got), want in zip(refined, C):
        assert np.allclose(got, want, atol=1e-9), (cid, got, want)


# --- text ops -----------------------------------------------------------------------

def test_langid(spark):
    df = spark.createDataFrame(
        [(0, "the cat is in the house and it is warm"),
         (1, "der hund ist nicht mit der katze und ein vogel"),
         (2, "el perro es un animal que vive en la casa"),
         (3, "xyzzy plugh 12345")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang"] for r in
           df.select("doc_id", TX.langid_col(F.col("text")).alias("lang")).collect()}
    assert got == {0: "en", 1: "de", 2: "es", 3: "und"}


def test_token_counts_and_quality(spark):
    df = spark.createDataFrame([(0, "Hello, world! This is a test.")], "doc_id long, text string")
    row = df.select(
        TX.token_count_ws(F.col("text")).alias("ws"),
        TX.token_count_bpe(F.col("text")).alias("bpe"),
        TX.quality_score(F.col("text")).alias("q"),
    ).first()
    assert row["ws"] == 6
    # Hello , world ! This is a test .  -> 9 BPE-ish tokens
    assert row["bpe"] == 9
    assert 0.0 <= row["q"] <= 1.0


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(0, "Hello   World"), (1, "hello world"), (2, " HELLO\tWORLD ")],
        "doc_id long, text string",
    )
    fps = [r["fp"] for r in df.select(TX.fingerprint_md5(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1] == fps[2]


def test_fingerprint_rolling(spark):
    df = spark.createDataFrame(
        [(0, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    row = df.select(TX.fingerprint_rolling(F.col("text"), window=4).alias("r")).first()
    assert isinstance(row["r"], int)


def test_pq_encode_paths_agree_and_are_deterministic(spark):
    """PQ: literal-struct and numpy-matmul encoders produce identical
    codes; codebooks are deterministic; codes land in [0, ksub)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cbs = SIM.pq_codebooks(emb, m=4, ksub=8)
    assert cbs == SIM.pq_codebooks(emb, m=4, ksub=8)
    assert len(cbs) == 4 and len(cbs[0]) == 8 and len(cbs[0][0]) == 16

    lit = {r["vec_id"]: r["codes"]
           for r in SIM.pq_encode(emb, cbs).collect()}
    pnd = {r["vec_id"]: r["codes"]
           for r in SIM.pq_encode(emb, cbs, via="pandas").collect()}
    assert lit == pnd and len(lit) == emb.count()
    assert all(0 <= c < 8 for codes in lit.values() for c in codes)


def test_pq_seed_rows_encode_to_themselves(spark):
    """A codebook seed row's best code in every subspace is its own
    entry (the rounded MIP objective is maximized by the vector itself
    unless another entry ties — none do on this data)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cbs = SIM.pq_codebooks(emb, m=4, ksub=8)
    codes = {r["vec_id"]: r["codes"]
             for r in SIM.pq_encode(emb, cbs).collect()}
    # recover which vec_ids seeded the codebook (same md5 rule)
    import hashlib
    ids = sorted(
        (hashlib.md5(str(i).encode()).hexdigest(), i)
        for i in codes)[:8]
    for rank, (_, vid) in enumerate(ids):
        assert codes[vid] == [rank] * 4, (vid, codes[vid])


def test_pq_adc_topk_recall_on_clustered_corpus(spark):
    """ADC recall where PQ is designed to work — clustered data. 4
    well-separated directions in dim 32, 25 members each with small
    deterministic per-coordinate jitter: the exact inner-product top-10
    for a group-g query are group-g members, and ADC must recover
    nearly all of them (codes separate the groups). Uniform-random
    vectors (the sf0.001 table) are PQ's documented adversarial case —
    pinned separately below."""
    dim, groups, per = 32, 4, 25
    rows = []
    for g in range(groups):
        for t in range(per):
            v = [0.0] * dim
            for j in range(dim // groups):
                # group direction = one dense block; jitter keeps members
                # distinct so the top-10 ordering is nontrivial
                v[g * (dim // groups) + j] = 1.0 + ((t * 7 + j * 3) % 11) / 100.0
            rows.append((g * per + t, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cbs = SIM.pq_codebooks(emb, m=4, ksub=8)
    qv = rows[2][1]  # a group-0 member
    adc = [r["vec_id"] for r in SIM.pq_adc_topk(emb, qv, cbs, k=10).collect()]
    from pyspark.sql import functions as _F
    ip_top = [r["vec_id"] for r in emb.select(
        "vec_id",
        SIM._ip(_F.col("embedding"), SIM._literal_vec(qv)).alias("ip"))
        .orderBy(_F.desc("ip"), _F.asc("vec_id")).limit(10).collect()]
    assert all(v < per for v in adc)  # ADC never leaves the group
    # within-group jitter sits BELOW quantization resolution, so ADC
    # alone cannot order inside the cluster — the exact re-rank stage
    # (refine) is what restores it, and must match brute force exactly
    refined = [r["vec_id"] for r in
               SIM.pq_adc_topk(emb, qv, cbs, k=10, refine=25).collect()]
    assert refined == ip_top


def test_pq_adc_topk_real_data_pin(spark):
    """Real-testdata pin: on uniform-random 64-dim vectors ADC still
    ranks the query's own row first and overlaps the exact
    inner-product top-10 (weak by design — random data has no cluster
    structure for 4x16 codes to exploit; that regime belongs to the
    clustered test above)."""
    from pyspark.sql import functions as _F
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.filter("vec_id = 3").first()["embedding"]]
    cbs = SIM.pq_codebooks(emb, m=4, ksub=16)
    adc = [r["vec_id"] for r in SIM.pq_adc_topk(emb, qv, cbs, k=10).collect()]
    ip_top = [r["vec_id"] for r in emb.select(
        "vec_id",
        SIM._ip(_F.col("embedding").cast("array<double>"),
                SIM._literal_vec(qv)).alias("ip"))
        .orderBy(_F.desc("ip"), _F.asc("vec_id")).limit(10).collect()]
    assert adc[0] == 3 and ip_top[0] == 3
    assert len(adc) == 10
    assert len(set(adc) & set(ip_top)) >= 2


def test_pq_adc_plan_zero_shuffle(spark):
    """Plan pin: encode + ADC scoring is scan-fused — the only wide node
    is TakeOrderedAndProject; no Exchange in the plan."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    cbs = SIM.pq_codebooks(emb, m=4, ksub=8)
    plan = SIM.pq_adc_topk(emb, qv, cbs, k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# exact-substring duplicate spans (Lee et al. 2022 semantics)
# ---------------------------------------------------------------------------

def _span_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dup_spans_hand_values(spark):
    """Shared 4-token run across two docs -> one merged span per doc;
    a unique doc gets no row; a within-doc-only repeat is NOT marked."""
    shared = "alpha beta gamma delta epsilon"   # 5 tokens, L=4 -> 2 windows
    rows = [
        (0, f"{shared} tail0 xx yy"),
        (1, f"head1 h2 {shared} z9"),
        (2, "totally unique words only here today friend"),
        (3, "rep rep rep rep rep rep unique7 unique8 unique9"),
    ]
    out = {r["doc_id"]: r for r in
           DD.dup_spans(_span_docs(spark, rows), L=4).collect()}
    # doc 0: windows at pos 0 and 1 both shared -> merged span 0-4
    assert out[0]["spans"] == "0-4"
    assert out[0]["n_spans"] == 1
    assert out[0]["n_dup_tokens"] == 5
    assert out[0]["n_tokens"] == 8
    # doc 1: same run shifted by its 2-token head -> span 2-6
    assert out[1]["spans"] == "2-6"
    # unique doc and the within-doc-only repeater produce no rows
    assert 2 not in out
    assert 3 not in out


def test_dup_spans_merges_adjacent_and_keeps_gaps(spark):
    """Two shared runs split by a long unique middle stay two spans;
    the gap rule is break iff pos-gap > L."""
    a = "one two three four"
    b = "five six seven eight"
    rows = [
        (0, f"{a} u0 u1 u2 u3 u4 u5 u6 u7 u8 {b}"),
        (1, f"{a} v0 v1 v2 v3 v4 v5 v6 v7 v8 {b}"),
    ]
    out = {r["doc_id"]: r for r in
           DD.dup_spans(_span_docs(spark, rows), L=4).collect()}
    assert out[0]["spans"] == "0-3;13-16"
    assert out[0]["n_spans"] == 2
    assert out[0]["n_dup_tokens"] == 8


def test_dup_spans_short_docs_no_window(spark):
    out = DD.dup_spans(
        _span_docs(spark, [(0, "a b c"), (1, "a b c")]), L=4).collect()
    assert out == []  # 3 tokens < L: no windows at all


def test_dup_spans_matches_duckdb_oracle(spark):
    import duckdb

    rows = [(i, " ".join(
        f"w{(i * 13 + k) % 9}" for k in range(12))) for i in range(30)]
    got = sorted(map(tuple, DD.dup_spans(
        _span_docs(spark, rows), L=4).collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(map(tuple, con.execute(
        DD.dup_spans_oracle_sql(L=4)).fetchall()))
    assert got == want


def test_dup_spans_plan_text_never_shuffles(spark):
    """Both exchanges carry fixed-width columns only: the window rows
    (id, pos, 60-bit hash) and the per-doc position lists — the text
    column must not appear in any Exchange input."""
    df = _span_docs(spark, [(0, "a b c d e f"), (1, "a b c d e f")])
    plan = DD.dup_spans(df, L=4)._jdf.queryExecution() \
        .executedPlan().toString()
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)


def test_excise_spans_hand_values_and_roundtrip(spark):
    shared = "alpha beta gamma delta epsilon"
    rows = [
        (0, f"{shared} tail0 xx yy"),
        (1, f"head1 h2 {shared} z9"),
        (2, "totally unique words only here today friend"),
    ]
    df = _span_docs(spark, rows)
    spans = DD.dup_spans(df, L=4)
    out = {r["doc_id"]: r for r in
           DD.excise_spans(df, spans).collect()}
    assert out[0]["clean_text"] == "tail0 xx yy"
    assert out[0]["n_removed_tokens"] == 5
    assert out[1]["clean_text"] == "head1 h2 z9"
    # no-span doc passes through normalized, zero removed
    assert out[2]["clean_text"] == rows[2][1]
    assert out[2]["n_removed_tokens"] == 0
    # fixpoint: after excision the corpus has no cross-doc L-run left
    clean = DD.excise_spans(df, spans).select(
        "doc_id", F.col("clean_text").alias("text"))
    assert DD.dup_spans(clean, L=4).count() == 0


def test_excise_spans_full_coverage_yields_empty(spark):
    t = "one two three four five"
    df = _span_docs(spark, [(0, t), (1, t)])
    out = {r["doc_id"]: r for r in
           DD.excise_spans(df, DD.dup_spans(df, L=4)).collect()}
    assert out[0]["clean_text"] == ""
    assert out[0]["n_removed_tokens"] == 5


def test_spread_input_only_spreads_few_file_scans(spark, tmp_path):
    """A one-file parquet scan is spread to the session's parallelism; a
    relation with no input files (here a local checkpoint) is returned as
    is, with no Exchange added."""
    from firmwarescraper_spark.operators.partitioning import spread_input

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    path = str(tmp_path / "one_file")
    spark.range(100).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert len(scan.inputFiles()) == 1
    assert "Exchange" in plan(spread_input(scan, "id"))
    checkpointed = spark.range(100).localCheckpoint()
    assert checkpointed.inputFiles() == []
    assert "Exchange" not in plan(spread_input(checkpointed, "id"))
