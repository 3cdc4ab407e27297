"""Property-based hardening (hypothesis): random inputs through the JPEG
codec and the partitioned Bloom filter. Sizes are kept small so the whole
module stays in CI-scale time; determinism comes from hypothesis' own
example database being disabled (derandomize) so driver runs never flake."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from firmwarescraper_spark.multimodal import jpeg as J

_img_shapes = st.tuples(st.integers(8, 33), st.integers(8, 33))


@settings(max_examples=20, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(shape=_img_shapes, seed=st.integers(0, 2**31 - 1),
       quality=st.sampled_from([50, 75, 90]),
       sub=st.sampled_from(["444", "422", "420"]))
def test_jpeg_roundtrip_random(shape, seed, quality, sub):
    """Any uint8 RGB image encodes to a decodable stream with exact
    dimensions and bounded error (quant tables bound the per-pixel error;
    random noise is the worst case for DCT coding)."""
    h, w = shape
    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3),
                                               dtype=np.uint8)
    dec = J.decode_jpeg(J.encode_jpeg(img, quality=quality, subsampling=sub))
    assert dec.shape == img.shape
    # noise at q50/4:2:0 is the loosest case; bound generously but finitely
    assert np.abs(dec.astype(int) - img.astype(int)).mean() < 64


@settings(max_examples=15, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(shape=_img_shapes, seed=st.integers(0, 2**31 - 1),
       quality=st.sampled_from([60, 85]),
       sub=st.sampled_from(["444", "420"]))
def test_jpeg_progressive_identity_random(shape, seed, quality, sub):
    """For EVERY image, progressive must decode pixel-identical to its
    baseline twin — the strongest whole-codec invariant we have: any bit
    misalignment in EOBRUN/refinement cascades into visible garbage."""
    h, w = shape
    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3),
                                               dtype=np.uint8)
    base = J.decode_jpeg(J.encode_jpeg(img, quality=quality, subsampling=sub))
    prog = J.decode_jpeg(
        J.encode_jpeg_progressive(img, quality=quality, subsampling=sub))
    assert np.array_equal(base, prog)


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(seed=st.integers(0, 2**31 - 1), n=st.integers(1, 400),
       ri=st.integers(1, 5))
def test_jpeg_gray_restart_random(seed, n, ri):
    """Grayscale + restart intervals: restarts must be decode-transparent
    for any content and any interval."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (8 + n % 40, 8 + (n * 7) % 40),
                       dtype=np.uint8)
    plain = J.decode_jpeg(J.encode_jpeg(img, quality=80))
    with_rst = J.decode_jpeg(
        J.encode_jpeg(img, quality=80, restart_interval=ri))
    assert np.array_equal(plain, with_rst)


def test_bloom_partition_parity_random(spark):
    """Randomized Bloom parity sweep (driven, not @given — one Spark
    session, several drawn cases): for random seen/frontier overlaps,
    bucket counts, and fpp, the bloom-split anti-join equals the exact
    anti-join."""
    from pyspark.sql import functions as F

    from firmwarescraper_spark.operators import frontier as FR

    rng = np.random.default_rng(42)
    for _ in range(4):
        n_f = int(rng.integers(50, 2000))
        step = int(rng.integers(2, 9))
        buckets = int(rng.choice([1, 3, 16, 64]))
        fpp = float(rng.choice([0.01, 0.1, 0.3]))
        frontier = spark.range(0, n_f).select(
            F.col("id"), F.xxhash64("id").alias("url_hash"))
        seen = spark.range(0, n_f, step).select(
            F.xxhash64("id").alias("url_hash"))
        plain = {r["id"] for r in FR.anti_join_seen(frontier, seen).collect()}
        bloom = {r["id"] for r in FR.anti_join_seen(
            frontier, seen, bloom=True, fpp=fpp, buckets=buckets).collect()}
        assert plain == bloom, (n_f, step, buckets, fpp)


def test_politeness_budget_properties_random(spark):
    """Randomized politeness invariants: dequeued ∪ deferred == frontier
    (no row lost or duplicated), per-host dequeue count <= budget, and the
    dequeued set is the TOP-budget rows per host by (priority desc, seq).
    The last three trials join a per-host budget frame that mixes unlimited
    hosts (every row dequeues) with small per-host budgets and pass its
    column as the budget; hosts it omits keep ``tokens_per_host``."""
    import collections

    from pyspark.sql import functions as F

    from firmwarescraper_spark.operators import frontier as FR

    rng = np.random.default_rng(7)
    for trial in range(6):
        n = int(rng.integers(100, 1200))
        with_budget = trial >= 3
        hosts = int(rng.integers(3 if with_budget else 1, 9))
        budget = int(rng.integers(1, 40))
        salts = int(rng.choice([1, 4, 8]))
        rows = [(f"h{int(rng.integers(0, hosts))}",
                 f"http://x/{i}", int(rng.integers(0, 3)), f"{i:09d}")
                for i in range(n)]
        frontier = spark.createDataFrame(
            rows, "host string, canon_url string, priority int, seq string"
        ).withColumn("url_hash", F.xxhash64("canon_url"))
        host_budget, per_host_budget = None, {}
        if with_budget:
            # host h: default budget, unlimited or small, in rotation
            for h in range(hosts):
                if (h + trial) % 3 == 1:
                    per_host_budget[f"h{h}"] = FR.UNLIMITED_TOKENS + int(
                        rng.integers(0, 2))
                elif (h + trial) % 3 == 2:
                    per_host_budget[f"h{h}"] = int(rng.integers(1, 6))
            frontier = frontier.join(F.broadcast(spark.createDataFrame(
                list(per_host_budget.items()), "host string, tokens int")),
                "host", "left")
            host_budget = F.coalesce("tokens", F.lit(budget))
        deq, defer = FR.politeness_dequeue(
            frontier, tokens_per_host=budget, salt_buckets=salts,
            budget=host_budget)
        d = [(r["host"], r["seq"], r["priority"]) for r in deq.collect()]
        f = [(r["host"], r["seq"], r["priority"]) for r in defer.collect()]
        allrows = [(r[0], r[3], r[2]) for r in rows]
        assert sorted(d + f) == sorted(allrows), "partition property broken"
        per_host = collections.Counter(hhost for hhost, _, _ in d)
        assert all(v <= per_host_budget.get(hhost, budget)
                   for hhost, v in per_host.items())
        by_host = collections.defaultdict(list)
        for hhost, seq, pri in allrows:
            by_host[hhost].append((-pri, seq))
        expect = []
        for hhost, lst in by_host.items():
            cap = per_host_budget.get(hhost, budget)
            # unlimited hosts: the slice keeps every row
            for negp, seq in sorted(lst)[:cap]:
                expect.append((hhost, seq, -negp))
        assert sorted(d) == sorted(expect), (n, hosts, budget, salts,
                                             per_host_budget)
        unlimited = {h for h, t in per_host_budget.items()
                     if t >= FR.UNLIMITED_TOKENS}
        assert not [r for r in f if r[0] in unlimited]


# --- URL canonicalization fast path (round 5) --------------------------------

_url_piece = st.text(
    alphabet=("abcdefghijklmnopqrstuvwxyz"
              "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
              "/;:@&=+$,!~*'()-._%?#[]{}| üß \\"),
    min_size=0, max_size=24,
)


@settings(max_examples=300, deadline=None, derandomize=True)
@given(scheme=st.sampled_from(["http", "HTTP", "https", "ftp"]),
       host=st.sampled_from(["h.example", "Example.COM", "127.0.0.1",
                             "mirror-03.avm.de", "h"]),
       port=st.sampled_from(["", ":80", ":443", ":8080", ":21"]),
       path=_url_piece)
def test_canonicalize_series_parity_random(scheme, host, port, path):
    """The vectorized fast paths in _canonicalize_series/_host_series
    must agree with per-row canonicalize_url/url_host for ANY url
    assembled from adversarial pieces (mixed case, ports,
    escapes-in-waiting, queries, fragments, spaces, brackets,
    non-ascii, userinfo-looking '@' in the path)."""
    import pandas as pd

    from firmwarescraper_spark.functions.url import (
        _canonicalize_series, _host_series, canonicalize_url, url_host)

    url = f"{scheme}://{host}{port}/{path}"
    s = pd.Series([url], dtype=object)
    assert _canonicalize_series(s)[0] == canonicalize_url(url)
    assert _host_series(s)[0] == url_host(url)


@settings(max_examples=40, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(decisions=st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 1)),
    min_size=0, max_size=2000))
def test_qm_coder_roundtrip_property(decisions):
    """ANY (context, bit) decision sequence round-trips through the QM
    coder, including the empty stream, all-MPS runs (carry/stacked-0xFF
    paths), and adversarial alternations."""
    from firmwarescraper_spark.multimodal.jpeg_arith import (
        ArithDecoder, ArithEncoder)

    enc = ArithEncoder()
    st_area = bytearray(16)
    for c, d in decisions:
        enc.encode(st_area, c, d)
    data = enc.flush()
    # stuffing discipline: no bare 0xFF inside the entropy bytes
    i = 0
    while i < len(data):
        if data[i] == 0xFF:
            assert i + 1 < len(data) and data[i + 1] == 0x00
            i += 2
        else:
            i += 1
    dec = ArithDecoder(bytes(data) + b"\xff\xd9", 0)
    st2 = bytearray(16)
    assert all(dec.decode(st2, c) == d for c, d in decisions)


@settings(max_examples=15, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(shape=st.tuples(st.integers(4, 24), st.integers(4, 24)),
       seed=st.integers(0, 2**31 - 1),
       predictor=st.integers(1, 7),
       depth=st.sampled_from([8, 16]))
def test_lossless_arith_exact_random(shape, seed, predictor, depth):
    """SOF11 reconstructs ANY raster exactly, any predictor, 8/16-bit."""
    from firmwarescraper_spark.multimodal import jpeg_arith as JA

    h, w = shape
    rng = np.random.default_rng(seed)
    if depth == 8:
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
    else:
        img = rng.integers(0, 65536, (h, w), dtype=np.uint16)
    out = J.decode_jpeg(JA.encode_jpeg_lossless_arith(img, predictor=predictor))
    assert np.array_equal(out[:, :, 0], img)
