"""Pluggable fetch stage (S1): the seam between "what to fetch" (the
dequeued frontier) and "how bytes arrive".

Every fetcher maps the dequeued DataFrame to the same contract — all
dequeued columns plus::

    html   string  -- response body (null unless 2xx)
    status int     -- 200 ok, 404 not-found (terminal), 5xx/408/429/599
                      retryable (scrapy RETRY_HTTP_CODES + network error)

so the round loop's retry/terminal/seen semantics (T3/T4) are
fetcher-independent. The engine sends each new base's ``/robots.txt``
through the same ``fetch`` (a frame of ``url``, ``fetch_key``, empty
``form_data`` and ``retry_count`` 0), as scrapy sends robots requests
through its downloader. Two implementations:

* ``CorpusFetcher`` — the sandbox default: an equi-join against the pages
  corpus (the corpus IS the web here; SURVEY.md §2.1 S1). Present row =
  200; present-but-failing (``fail_times`` fault injection) = 503; absent
  = 404. Build side per the engine's size gate.
* ``HttpFetcher`` — deployment S1 (SURVEY §2.1: "at real scale: mapInPandas
  async-HTTP fetch stage"): an Arrow-batched ``mapInPandas`` stage issuing
  real HTTP GET/POST via stdlib urllib with bounded per-task concurrency
  and the reference's 320 s timeout (/root/reference/firmware/
  settings.py:13 DOWNLOAD_TIMEOUT). No per-row Python UDF: one pool per
  Arrow batch, results vectorized back into the batch.

Scale notes (HttpFetcher): politeness is already enforced upstream by the
dequeue (per-host token budget), so a batch's URLs are budget-bounded per
host; ``dequeued.repartition(host)`` is deliberately NOT done — hash
partitioning by url spreads a hot host's requests across tasks while the
token budget caps the aggregate rate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# scrapy's RETRY_HTTP_CODES (defaults, inherited by the reference via
# scrapy settings) + 599 as the synthetic "network error / timeout" code
RETRY_STATUS = (500, 502, 503, 504, 522, 524, 408, 429, 599)

# F12 download_maxsize: the 2 GiB the reference's avm_gpl spider sets
MAX_FETCH_BYTES = 2_147_483_648


class CorpusFetcher:
    """Fetch = equi-join against the pages corpus on the canonical URL.

    ``resolves_all = False``: only corpus-PRESENT rows come back; the
    engine derives the missing rows (= 404, scrapy does not retry 404s)
    by anti-joining the dequeued set against the round's CACHED resolved
    keys — zero extra corpus scans (deriving misses here instead would
    re-evaluate the corpus join subtree once per consumer job). The join
    has no side effects, so the engine does not cache its output."""

    resolves_all = False

    def __init__(self, engine=None):
        self.engine = engine

    def fetch(self, dequeued: DataFrame, use_bcast: bool) -> DataFrame:
        eng = self.engine
        hits = eng._fetch_join(dequeued, use_bcast)
        return hits.withColumns(
            eng._columns(_corpus_status, eng._has_fail_col)).drop("fail_times")


def _corpus_status(fail_col: bool) -> dict:
    """The status (and body) columns of a corpus hit."""
    if not fail_col:
        # literal status: downstream not-2xx filters fold this branch away
        return {"status": F.lit(200)}
    # T3 fault injection: the row exists but this attempt "gets a 5xx"
    # while retry_count < fail_times
    up = F.col("retry_count") >= F.col("fail_times")
    return {"status": F.when(up, F.lit(200)).otherwise(F.lit(503)),
            "html": F.when(up, F.col("html"))}


class HttpFetcher:
    """Fetch = real HTTP over the network, as a mapInPandas stage.

    GET by default; rows with non-empty ``form_data`` POST an urlencoded
    body (S2 form semantics, matching scrapy FormRequest). Any transport
    error (timeout, refused, DNS) maps to status 599 — retryable, like
    scrapy's RETRY_EXCEPTIONS.

    Two fidelity/robustness pins (r4 verdict #2/#3):

    * The request goes to the ORIGINAL ``url``, never ``canon_url`` —
      canonicalization (sorted query params, re-percent-encoding, stripped
      fragments) exists only to build the dupefilter fingerprint (X2);
      scrapy fetches ``request.url`` verbatim, and real servers care
      (signed/ordered query strings, case-sensitive escapes).
    * The body is read in bounded chunks up to the engine's cap and ABORTED
      mid-stream past it — scrapy's ``download_maxsize`` semantics
      (/root/reference/firmware/spiders/avm_gpl.py:27 sets 2 GiB for this
      protection). The engine's F12 guard filters on ``F.length`` AFTER
      the body is in executor memory, which is too late against a hostile
      or huge response; here the oversize row comes back as status 503
      (retryable → terminal) with the body never materialized past the cap.

    Redirect policy (scrapy RedirectMiddleware semantics):
    ``follow_redirects=True`` follows chains up to ``max_redirects``
    hops (REDIRECT_MAX_TIMES defaults to 20; urllib's stock handler would
    silently allow 10); past the bound the final 3xx surfaces as the
    row's terminal status (scrapy drops the over-limit request).
    ``follow_redirects=False`` is scrapy's ``dont_redirect`` — the 3xx
    response itself comes back as the row's status (the reference's HP
    spider handles its 302s this way, hp.py:17).

    Per-host pacing: ``per_host_delay_ms > 0`` serializes each host's
    requests within a batch and sleeps between them (scrapy
    DOWNLOAD_DELAY at the downloader), while distinct hosts still run
    concurrently across the pool. This is fetch-TIME politeness layered
    under the dequeue's per-round token budget (which bounds per-host
    VOLUME); a task's batch paces independently — the aggregate per-host
    rate across tasks is still governed by the upstream budget."""

    # every dequeued row returns with a real status; the engine caches
    # the output, so each request runs once per round
    resolves_all = True

    def __init__(self, engine=None, timeout: float = 320.0,
                 concurrency: int = 16, user_agent: str = "firmwarescraper",
                 follow_redirects: bool = True, max_redirects: int = 20,
                 per_host_delay_ms: float = 0.0):
        self.engine = engine
        self.timeout = timeout
        self.concurrency = concurrency
        self.user_agent = user_agent
        self.follow_redirects = follow_redirects
        self.max_redirects = max_redirects
        self.per_host_delay_ms = per_host_delay_ms

    def fetch(self, dequeued: DataFrame, use_bcast: bool) -> DataFrame:
        timeout, concurrency = self.timeout, self.concurrency
        agent = self.user_agent
        follow, max_redirects = self.follow_redirects, self.max_redirects
        delay_s = self.per_host_delay_ms / 1000.0
        # the stream cap is the engine's F12 download_maxsize
        max_bytes = getattr(self.engine, "max_fetch_bytes", MAX_FETCH_BYTES)
        out_schema = T.StructType(
            [f for f in dequeued.schema.fields]
            + [T.StructField("html", T.StringType()),
               T.StructField("status", T.IntegerType())]
        )

        def _fetch_batches(batches):
            import concurrent.futures as cf
            import urllib.error
            import urllib.parse
            import urllib.request

            class _RedirectPolicy(urllib.request.HTTPRedirectHandler):
                # scrapy REDIRECT_MAX_TIMES; urllib default is 10
                max_redirections = max_redirects

                def redirect_request(self, req, fp, code, msg, hdrs, newurl):
                    if not follow:  # dont_redirect: surface the 3xx itself
                        return None
                    return super().redirect_request(
                        req, fp, code, msg, hdrs, newurl)

            opener = urllib.request.build_opener(_RedirectPolicy)

            def _read_capped(resp) -> bytes | None:
                """Chunked read up to max_bytes + 1; None = over cap (the
                +1 byte proves the overflow without buffering past it)."""
                chunks, total = [], 0
                while total <= max_bytes:
                    chunk = resp.read(
                        min(1 << 20, max_bytes + 1 - total))
                    if not chunk:
                        return b"".join(chunks)
                    chunks.append(chunk)
                    total += len(chunk)
                return None  # oversize: abort without materializing

            def _one(url: str, form) -> tuple:
                data = None
                if form:  # S2: POST urlencoded form body
                    data = urllib.parse.urlencode(dict(form)).encode()
                req = urllib.request.Request(
                    url, data=data, headers={"User-Agent": agent})
                try:
                    with opener.open(req, timeout=timeout) as resp:
                        body = _read_capped(resp)
                        if body is None:
                            return None, 503  # oversize: retryable→terminal
                        return body.decode("utf-8", "replace"), resp.status
                except urllib.error.HTTPError as e:
                    return None, int(e.code)
                except Exception:
                    return None, 599  # network error / timeout: retryable

            def _fetch_all(urls, forms) -> list:
                """Batch fan-out: flat pool.map without pacing; with
                pacing, one worker per HOST walks that host's requests
                sequentially with the delay between them."""
                if delay_s <= 0:
                    with cf.ThreadPoolExecutor(concurrency) as pool:
                        return list(pool.map(_one, urls, forms))
                import time
                from urllib.parse import urlsplit

                by_host = {}
                for i, (u, f) in enumerate(zip(urls, forms)):
                    by_host.setdefault(urlsplit(u).netloc, []).append((i, u, f))

                def _host_seq(items):
                    out = []
                    for j, (i, u, f) in enumerate(items):
                        if j:
                            time.sleep(delay_s)
                        out.append((i, _one(u, f)))
                    return out

                res = [None] * len(urls)
                with cf.ThreadPoolExecutor(concurrency) as pool:
                    for chunk in pool.map(_host_seq, by_host.values()):
                        for i, r in chunk:
                            res[i] = r
                return res

            for pdf in batches:
                if len(pdf):
                    # fetch the ORIGINAL url — canon_url/fetch_key are
                    # dedup/join keys, not request targets
                    res = _fetch_all(list(pdf["url"]), list(pdf["form_data"]))
                    pdf = pdf.assign(
                        html=[r[0] for r in res],
                        status=[r[1] for r in res],
                    )
                else:
                    pdf = pdf.assign(html=[], status=[])
                    pdf["status"] = pdf["status"].astype("int32")
                yield pdf

        return dequeued.mapInPandas(_fetch_batches, out_schema)
