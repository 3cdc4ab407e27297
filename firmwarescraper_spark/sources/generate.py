"""Deterministic synthetic Common-Crawl-style corpus generator.

Stamps scaled variants of the reference's golden fixture templates
(/root/reference/firmware/tests/test_avm.py:6-72, test_linksys.py:6-91)
into a ``pages`` table in exactly the BASELINE.json ``input_hint`` shape:

    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Scale/skew design (FIXTURES.md §1.3): ``download.avm.de`` is the
deliberately **hot host** — with the default knobs it holds >90% of all
URLs, exercising the engine's salted per-host dequeue and AQE skew
handling. Everything is a pure function of the integer knobs — no RNG,
no wall clock — so the simulator, the engine, and the benchmarks all see
the same corpus for the same parameters.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from firmwarescraper_spark.functions.html import extract_text
from firmwarescraper_spark.functions.url import canonicalize_url

AVM_HOST = "download.avm.de"
LINKSYS_HOST = "www.linksys.com"
_EPOCH = datetime(2020, 1, 1, tzinfo=timezone.utc)

_MONTH_ABBRS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
                "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]

# Linksys device-name prefixes that resolve in the reference class map
# (linksys.py:26-56) — cycled per product index.
_LINKSYS_PREFIXES = ["EA", "WRT", "WAG", "RE", "WUSB", "LAPAC", "LGS", "WAP",
                     "PL", "SE", "WET", "MR", "LRT", "NMH", "WVC", "AM"]

AVM_FAMILIES = ["fritzbox", "fritzwlan", "fritzpowerline"]


def _listing_page(title_path: str, entries: list) -> str:
    """Apache-style <pre> index page — the AVM fixture template.

    entries: (href, label, date 'DD-Mon-YYYY HH:MM' or None, size or '-')
    """
    rows = []
    for href, label, date, size in entries:
        rows.append(f'                <a href="{href}">{label}</a>')
        if date is not None:
            rows.append(f"                {date} {size}")
    body = "\n".join(rows)
    return (
        '<html lang="en">\n    <head><meta charset="UTF-8">'
        f"<title>Index of {title_path}</title></head>\n    <body>\n"
        f"        <pre>\n{body}\n        </pre>\n    </body>\n</html>"
    )


def _date_for(i: int) -> str:
    return f"{1 + i % 28:02d}-{_MONTH_ABBRS[i % 12]}-{2015 + i % 6}"


def _avm_device_name(family: str, i: int) -> str:
    if family == "fritzbox":
        return f"fritzbox-{7000 + i}"
    if family == "fritzwlan":
        # alternate repeater / usb-stick to exercise the class map
        return (f"fritzwlan-repeater-{300 + i}" if i % 2 == 0
                else f"fritzwlan-usb-stick-ac-{400 + i}")
    return f"fritzpowerline-{1000 + i}e-t"


def _avm_image_name(family: str, device: str, i: int) -> str:
    if family == "fritzpowerline":
        # exercises the permutation search path (avm.py:102-116):
        # device fritzpowerline-1000e-t -> tokens [1000e, t] -> '1000ET'
        num = device.split("-")[1].upper()  # '1000E'
        return f"fritz.powerline_{num}T_{i % 8:02d}_{i % 6 + 1:02d}.image"
    n = device.split("-")[-1]
    if i % 3 == 0:
        return f"FRITZ.Box_{n}.en-de-es-it-fr-pl.1{i % 9}0.07.{i % 28 + 1:02d}.image"
    return f"FRITZ.Box_{n}-{i % 8:02d}.{i % 28 + 1:02d}.image"


# per-listing distractor rows beginning with an ignored prefix ('tools…')
# — fattens pages toward realistic crawl page sizes and adds extraction
# work without growing the frontier (the F2 prefix filter drops them)
def _pad_entries(i: int, n_pad: int) -> list:
    return [
        (f"recover-{j}/", f"recover-{j}/", f"{_date_for(i + j)} 0{j % 10}:1{j % 6}", "-")
        for j in range(n_pad)
    ]


def avm_family_pages(host: str, family: str, n_devices: int, n_pad: int = 0) -> dict:
    """{url: html} for one (host, family) directory tree — the unit of
    distributed corpus generation (write_corpus parallelizes over these)."""
    pages = {}
    base = f"http://{host}"
    devices = [_avm_device_name(family, i) for i in range(n_devices)]
    entries = [("../", "../", None, None), ("beta/", "beta/", f"{_date_for(1)} 02:45", "-")]
    for i, d in enumerate(devices):
        entries.append((f"{d}/", f"{d}/", f"{_date_for(i)} 12:13", "-"))
    entries.append(("tools/", "tools/", f"{_date_for(2)} 21:18", "-"))
    entries.append(("license.txt", "license.txt", f"{_date_for(3)} 01:10", "28193"))
    pages[f"{base}/{family}/"] = _listing_page(f"/{family}/", entries)

    for i, d in enumerate(devices):
        dev_url = f"{base}/{family}/{d}/"
        pages[dev_url] = _listing_page(
            f"/{family}/{d}/",
            [("../", "../", None, None),
             ("deutschland/", "deutschland/", f"{_date_for(i)} 12:13", "-"),
             ("other/", "other/", f"{_date_for(i + 1)} 21:18", "-")]
            + _pad_entries(i, n_pad),
        )
        for loc in ("deutschland", "other"):
            loc_url = f"{dev_url}{loc}/"
            pages[loc_url] = _listing_page(
                f"/{family}/{d}/{loc}/",
                [("../", "../", None, None),
                 ("fritz.os/", "fritz.os/", f"{_date_for(i)} 12:13", "-"),
                 ("recover/", "recover/", f"{_date_for(i + 2)} 21:18", "-")]
                + _pad_entries(i, n_pad),
            )
            img = _avm_image_name(family, d, i)
            pages[f"{loc_url}fritz.os/"] = _listing_page(
                f"/{family}/{d}/{loc}/fritz.os/",
                [("../", "../", None, None),
                 (img, img, f"{_date_for(i)} 12:13", str(20000000 + i)),
                 ("info_de.txt", "info_de.txt", f"{_date_for(i + 3)} 21:18", "47418")],
            )
            # the firmware blob itself — a corpus row so the downloads
            # sink (S6) has real bytes to hash; never enqueued by the
            # crawl (items are not frontier children)
            pages[f"{loc_url}fritz.os/{img}"] = f"FWBLOB {img} " * 64
    return pages


def avm_pages(n_devices_per_family: int, n_pad: int = 0) -> dict:
    """{url: html} for the full AVM tree (all families on the vendor host)."""
    pages = {}
    for family in AVM_FAMILIES:
        pages.update(avm_family_pages(AVM_HOST, family, n_devices_per_family, n_pad))
    return pages


def _linksys_sitemap(products: list) -> str:
    anchors = "\n".join(
        f'        <a href="/de/support-product?pid={pid}">{name}</a>'
        for pid, name in products
    )
    return (
        "<!DOCTYPE html>\n<html><head></head><body><main><div>\n"
        f'    <div class="item"><ul><li>\n{anchors}\n    </li></ul></div>\n'
        "</div></main></body></html>"
    )


def _linksys_product_page(article: int) -> str:
    return (
        "<!DOCTYPE html>\n<html><head></head><body><main><div>\n"
        '    <div class="support-downloads col-sm-6"><div><p>\n'
        f'        <a href="/de/support-article?articleNum={article}" '
        'title="Download Software">Download Software</a>\n'
        f'        <a href="/de/support-article?articleNum={article + 100000}" '
        'title="Lizensvereinbarung">Lizensvereinbarung</a>\n'
        "    </p></div></div>\n</div></main></body></html>"
    )


def linksys_fw_url(device: str, ver: str, build: int, ext: str) -> str:
    return (f"http://downloads.linksys.com/downloads/firmware/"
            f"FW_{device}_{ver}.{build}_prod{ext}")


def _linksys_fw_block(device: str, ver: str, build: int, date: str, ext: str) -> str:
    fname = f"FW_{device}_{ver}.{build}_prod{ext}"
    return (
        f"<h3>Firmware</h3>Ver.{ver} (build {build})<br>"
        f"Datum der letzten Version: {date}<br>"
        f'<a href="http://downloads.linksys.com/downloads/firmware/{fname}">Herunterladen</a>'
    )


def _linksys_article_page(device: str, i: int) -> str:
    # Constraints inherited from the reference's regexes (linksys.py:86,111-121):
    #  * one firmware section per LINE — the 'Ver.+href' span regex is
    #    line-scoped ('.' excludes newlines), so a line is the item unit;
    #  * version/build digits must not form an accidental 'M.D.YYYY' run
    #    (builds start 3xxxx/4xxxx, patch < 19) or the date strptime crashes;
    #  * day-of-month 10..28 — the reference's day alternation has no
    #    zero-padded single digits, so '01' would silently not match.
    v1 = f"{1 + i % 3}.{i % 10}.{i % 18}"
    v2 = f"{1 + i % 2}.{(i + 3) % 10}.{(i + 7) % 18}"
    d1 = f"{1 + i % 12:02d}/{10 + i % 19}/{2015 + i % 6}"
    d2 = f"{1 + (i + 5) % 12:02d}/{10 + (i + 9) % 19}/{2014 + i % 6}"
    blocks = [
        _linksys_fw_block(device, v1, 30000 + i, d1, ".gpg.img"),
        _linksys_fw_block(device, v2, 40000 + i, d2, ".img"),
        # duplicate line — exercises the PRODUCT_DICTIONARIES dedup (A1)
        _linksys_fw_block(device, v2, 40000 + i, d2, ".img"),
        # .exe distractor — exercises the extension filter (F4)
        _linksys_fw_block(device, "9.9.9", 77777, d2, ".exe"),
    ]
    inner = "\n".join(blocks)
    return (
        "<!DOCTYPE html><html><head></head><body><div>"
        '<div id="support-article-downloads">'
        f'<div class="article-accordian-content collapse-me">{inner}</div>'
        "</div></div></body></html>"
    )


def linksys_pages(n_products: int) -> dict:
    pages = {}
    base = f"https://{LINKSYS_HOST}"
    products = []
    for i in range(n_products):
        prefix = _LINKSYS_PREFIXES[i % len(_LINKSYS_PREFIXES)]
        name = f"{prefix}{6000 + i}"
        products.append((1000 + i, name))
    pages[f"{base}/us/support/sitemap/"] = _linksys_sitemap(products)
    for i, (pid, name) in enumerate(products):
        pages[f"{base}/de/support-product?pid={pid}"] = _linksys_product_page(pid)
        pages[f"{base}/de/support-article?articleNum={pid}"] = _linksys_article_page(name, i)
        # firmware blobs for the downloads sink (S6)
        v1 = f"{1 + i % 3}.{i % 10}.{i % 18}"
        v2 = f"{1 + i % 2}.{(i + 3) % 10}.{(i + 7) % 18}"
        pages[linksys_fw_url(name, v1, 30000 + i, ".gpg.img")] = f"FWBLOB {name} {v1} " * 64
        pages[linksys_fw_url(name, v2, 40000 + i, ".img")] = f"FWBLOB {name} {v2} " * 64
    return pages


def robots_pages() -> dict:
    return {
        f"http://{AVM_HOST}/robots.txt": (
            "User-agent: *\nDisallow: /private/\nDisallow: /fritzbox/beta/\n"
            "Crawl-delay: 1\n"
        ),
        f"https://{LINKSYS_HOST}/robots.txt": "User-agent: *\nDisallow: /cart/\n",
    }


MIRROR_HOST_FMT = "mirror-{i}.avm-mirror.example"


def mirror_pages(n_mirrors: int, n_devices: int, n_pad: int = 0) -> dict:
    """AVM-shaped trees replicated across ``n_mirrors`` extra hosts — models
    the many-host shape of a real 10^10-URL frontier (the two vendor hosts
    alone would serialize the crawl behind their politeness budget; a real
    frontier spreads across millions of hosts). download.avm.de remains the
    deliberately hot host when its device count dwarfs the per-mirror one."""
    pages = {}
    for i in range(n_mirrors):
        host = MIRROR_HOST_FMT.format(i=i)
        for family in AVM_FAMILIES:
            pages.update(avm_family_pages(host, family, n_devices, n_pad))
    return pages


def seeds(n_mirrors: int = 0, include_vendors: bool = False) -> list:
    """(url, rule) crawl seeds — reference start_urls
    (avm.py:18-22, linksys.py:66) + one seed per mirror host."""
    s = [
        (f"http://{AVM_HOST}/fritzbox/", "avm:parse"),
        (f"http://{AVM_HOST}/fritzwlan/", "avm:parse"),
        (f"http://{AVM_HOST}/fritzpowerline/", "avm:parse"),
        (f"https://{LINKSYS_HOST}/us/support/sitemap/", "linksys:parse"),
    ]
    for i in range(n_mirrors):
        host = MIRROR_HOST_FMT.format(i=i)
        for family in AVM_FAMILIES:
            s.append((f"http://{host}/{family}/", "avm:parse"))
    if include_vendors:
        from firmwarescraper_spark.sources.vendors import all_vendor_seeds

        s += all_vendor_seeds()
    return s


def corpus_dict(n_avm: int = 8, n_linksys: int = 6, n_mirrors: int = 0,
                n_avm_mirror: int = 2, n_pad: int = 0,
                vendor_scale: int = 0) -> dict:
    """{fetch_key: body} for the simulator and for parquet generation.
    vendor_scale > 0 adds the full 7-vendor + FTP corpus (sources/vendors.py)."""
    pages = {}
    pages.update(avm_pages(n_avm, n_pad))
    pages.update(linksys_pages(n_linksys))
    pages.update(robots_pages())
    if n_mirrors:
        pages.update(mirror_pages(n_mirrors, n_avm_mirror, n_pad))
    out = {canonicalize_url(u): h for u, h in pages.items()}
    if vendor_scale:
        from firmwarescraper_spark.sources.vendors import all_vendor_pages

        out.update(all_vendor_pages(vendor_scale))
    return out


def _rows_from_pages(pages: dict) -> list:
    """pages dict -> input_hint rows; warc_ts derives from a stable CRC of
    the url (deterministic regardless of generation order/partitioning)."""
    import zlib

    rows = []
    for url, html in pages.items():
        canon = url if "|form|" in url else canonicalize_url(url)
        rows.append(
            {
                "url": canon,
                "warc_ts": _EPOCH + timedelta(seconds=zlib.crc32(canon.encode()) % 86400),
                "html": html.encode("utf-8"),
                "text": extract_text(html),
                "lang": "de" if "linksys" in canon else "en",
            }
        )
    return rows


def write_corpus(spark, out_dir: str, n_avm: int = 8, n_linksys: int = 6,
                 partitions: int = 8, n_mirrors: int = 0, n_avm_mirror: int = 2,
                 n_pad: int = 0, vendor_scale: int = 0):
    """Write the pages corpus as parquet, generating the (host, family)
    subtrees DISTRIBUTED via mapInPandas — corpus generation itself scales
    with the cluster. (Iceberg-ready layout: one table, hash-distributed by
    canonical URL so the frontier⋈pages join can be a storage-partitioned
    join when a catalog is attached.)"""
    import pandas as _pd
    from pyspark.sql.types import (BinaryType, StringType, StructField,
                                   StructType, TimestampType)

    schema = StructType([
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ])

    specs = [(AVM_HOST, f, n_avm, n_pad) for f in AVM_FAMILIES]
    for i in range(n_mirrors):
        host = MIRROR_HOST_FMT.format(i=i)
        specs += [(host, f, n_avm_mirror, n_pad) for f in AVM_FAMILIES]
    specs_df = spark.createDataFrame(
        specs, "host string, family string, n int, n_pad int"
    ).repartition(max(partitions, len(specs)))

    def gen(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                pages = avm_family_pages(r.host, r.family, int(r.n), int(r.n_pad))
                yield _pd.DataFrame(_rows_from_pages(pages))

    avm_df = specs_df.mapInPandas(gen, schema)

    small = {}
    small.update(linksys_pages(n_linksys))
    small.update(robots_pages())
    if vendor_scale:
        from firmwarescraper_spark.sources.vendors import all_vendor_pages

        small.update(all_vendor_pages(vendor_scale))
    small_df = spark.createDataFrame(_pd.DataFrame(_rows_from_pages(small)), schema)

    full = avm_df.unionByName(small_df)
    full.repartition(partitions, "url").write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir).count()


# ---------------------------------------------------------------------------
# deterministic multimodal payloads (media_meta oracle + multimodal tests)
# ---------------------------------------------------------------------------

def demo_media_payloads() -> list:
    """[(id, payload_bytes)] — fully deterministic media blobs covering
    every container the sniffer knows: BMP, PNG, baseline JPEG, PCM16 WAV,
    and one garbage payload. Built from fixed arrays (no RNG), so expected
    metadata (dims, sha256) is computable ahead of time for the
    ``media_meta`` DuckDB oracle."""
    import numpy as np

    from firmwarescraper_spark.multimodal import codecs as CX
    from firmwarescraper_spark.multimodal import jpeg as JX

    yy, xx = np.mgrid[0:7, 0:12]
    rgb = np.stack([
        (xx * 21) % 256, (yy * 36) % 256, ((xx + yy) * 17) % 256,
    ], axis=2).astype(np.uint8)
    gray16 = ((np.arange(16 * 9).reshape(9, 16) * 5) % 256).astype(np.uint8)
    t = np.arange(800)
    sine = (np.sin(2 * np.pi * 440 * t / 8000) * 12000).astype(np.int16)
    return [
        (0, CX.encode_bmp(rgb)),                      # 12x7 BMP
        (1, CX.encode_png(gray16)),                   # 16x9 gray PNG
        (2, JX.encode_jpeg(rgb, quality=90)),         # 12x7 baseline JPEG
        (3, CX.encode_wav(sine, rate=8000)),          # 0.1 s WAV
        (4, b"not-a-media-payload"),                  # unknown
        (5, JX.encode_jpeg_progressive(rgb, quality=90)),  # 12x7 SOF2 JPEG
        (6, CX.encode_mp4_skeleton(640, 360, 2500)),  # 2.5 s ISO BMFF video
        # 12x7 Motion-JPEG mp4: a REAL sample table (stsz/stsc/stco) over
        # two JPEG frames — exercised by the mjpeg_frames oracle
        (7, CX.encode_mp4_mjpeg(
            [JX.encode_jpeg(rgb, quality=90),
             JX.encode_jpeg(rgb[::-1].copy(), quality=90)], 12, 7)),
        # 12x7 12-bit extended-sequential JPEG (SOF1, Pq=1 tables) — the
        # high-bit-depth profile decodes for real since round 5
        (8, JX.encode_jpeg_12bit((rgb.astype(np.uint16) << 4) | 0x8,
                                 quality=90)),
        # 12x7 arithmetic-coded sequential JPEG (SOF9, QM coder) — real
        # decode since round 5 (multimodal/jpeg_arith.py)
        (9, _arith_jpeg(rgb)),
    ]


def _arith_jpeg(rgb):
    from firmwarescraper_spark.multimodal import jpeg_arith as JA

    return JA.encode_jpeg_arith(rgb, quality=90)


def demo_image_neardup_payloads() -> list:
    """[(id, payload_bytes)] — deterministic image corpus for the dHash
    near-dup operator (multimodal/binary.dhash_neardup_pairs) and its
    DuckDB oracle: three base rasters, each with the perturbations a
    crawl actually sees (lossless re-encode, JPEG re-compress, uniform
    brightness shift, localized retouch), plus non-image payloads that
    must fall out of the pair join. All arrays are closed-form (no
    RNG), so the oracle can recompute every expected dHash driver-side
    in pure Python."""
    import numpy as np

    from firmwarescraper_spark.multimodal import codecs as CX
    from firmwarescraper_spark.multimodal import jpeg as JX

    yy, xx = np.mgrid[0:36, 0:45]
    # base A: wrapping gradients (the mod-256 wraps keep the 8x9 cell
    # means varied, so the hash is NOT a degenerate all-ones pattern)
    a = np.stack([(xx * 23) % 256, (yy * 29) % 256, ((xx + yy) * 13) % 256],
                 axis=2).astype(np.uint8)
    a_bright = np.clip(a.astype(np.int16) + 7, 0, 255).astype(np.uint8)
    a_patch = a.copy()
    a_patch[0:9, 0:10] = 128  # corner retouch: flips 3 hash bits
    # base B: a different wrap structure entirely
    b = np.stack([(yy * 41) % 256, (xx * 7) % 256,
                  ((2 * yy + xx) * 19) % 256], axis=2).astype(np.uint8)
    b_dim = np.clip(b.astype(np.int16) - 9, 0, 255).astype(np.uint8)
    # base C: asymmetric quadratic ramp, grayscale — its horizontal
    # mirror genuinely reverses gradient signs (hamming ~40), unlike a
    # radially symmetric pattern whose mirror would alias to itself
    c = ((xx * xx // 9 + yy * 13) % 256).astype(np.uint8)
    t = np.arange(400)
    beep = (np.sin(2 * np.pi * 300 * t / 8000) * 9000).astype(np.int16)
    return [
        (0, CX.encode_bmp(a)),                    # A as BMP
        (1, CX.encode_png(a)),                    # A as PNG (same raster)
        (2, JX.encode_jpeg(a, quality=90)),       # A re-compressed
        (3, CX.encode_bmp(a_bright)),             # A +7 brightness
        (4, CX.encode_bmp(a_patch)),              # A retouched
        (5, CX.encode_bmp(b)),                    # B as BMP
        (6, JX.encode_jpeg(b, quality=85)),       # B re-compressed
        (7, CX.encode_bmp(b_dim)),                # B -9 brightness
        (8, CX.encode_png(c)),                    # C (gray PNG)
        (9, CX.encode_png(c[:, ::-1].copy())),    # C mirrored: NOT a dup
        (10, CX.encode_wav(beep, rate=8000)),     # audio -> null dhash
        (11, b"not-an-image"),                    # garbage -> null dhash
    ]
