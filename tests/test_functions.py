"""Golden-vector tests for the scalar/extraction layer — vectors taken
from /root/reference/firmware/tests/test_avm.py and test_linksys.py."""

import pytest
from pyspark.sql import functions as F

from firmwarescraper_spark.functions import html as H
from firmwarescraper_spark.functions import url as U
from firmwarescraper_spark.functions import versions as V
from tests import fixtures as FX


# --- URL layer -------------------------------------------------------------

@pytest.mark.parametrize("url, expected", [
    ("HTTP://Example.COM:80/a/b?z=2&a=1#frag", "http://example.com/a/b?a=1&z=2"),
    ("https://example.com:443/", "https://example.com/"),
    ("http://example.com", "http://example.com/"),
    ("http://example.com/a%2fb?b=&a=x", "http://example.com/a%2Fb?a=x&b="),
])
def test_canonicalize_url(url, expected):
    assert U.canonicalize_url(url) == expected


def test_url_join_matches_reference_semantics():
    # mock_classes.py:12-13 — plain urllib urljoin
    assert U.url_join("/fritzbox/", "fritzbox-1234/") == "/fritzbox/fritzbox-1234/"
    assert (
        U.url_join("https://www.linksys.com/de/support/sitemap/", "/de/support-product?pid=1234")
        == "https://www.linksys.com/de/support-product?pid=1234"
    )


def test_url_udfs(spark):
    df = spark.createDataFrame(
        [("HTTP://Example.COM:80/x?b=2&a=1#f", "/rel/")], ["url", "href"]
    )
    out = df.select(
        U.canonicalize_url_udf()(F.col("url")).alias("canon"),
        U.url_host_udf()(F.col("url")).alias("host"),
        U.url_join_udf()(F.col("url"), F.col("href")).alias("joined"),
        U.url_hash_col(F.col("url")).alias("h"),
    ).first()
    assert out["canon"] == "http://example.com/x?a=1&b=2"
    assert out["host"] == "example.com"
    # urljoin resolves only — no canonicalization (mock_classes.py:12-13)
    assert out["joined"] == "http://Example.COM:80/rel/"
    assert isinstance(out["h"], int)


# --- HTML extraction ---------------------------------------------------------

def test_extract_hrefs_avm_product_page():
    hrefs = H.extract_hrefs(FX.AVM_PRODUCT_PAGE)
    assert hrefs == ["../", "beta/", "fritzbox-1234/", "tools/", "license.txt"]


def test_extract_links_with_ignore_matches_reference():
    # test_avm.py:142-144
    ignore = ("beta", "tools", "license", "..")
    links = [
        U.url_join("/fritzbox/", h)
        for h in H.extract_hrefs(FX.AVM_PRODUCT_PAGE)
        if not h.startswith(ignore)
    ]
    assert links == ["/fritzbox/fritzbox-1234/"]


def test_extract_pre_dates_matches_reference():
    # test_avm.py:147-149
    import re
    dates = []
    for text in H.extract_pre_texts(FX.AVM_FIRMWARE_PAGE):
        m = re.search(V.AVM_DATE_RE, text)
        if m:
            dates.append(V.avm_convert_date(m.group(1)))
    assert dates == ["12-08-2019", "13-09-2017"]


def test_extract_anchors_scoped_linksys():
    # linksys.py:58-64 scoped xpaths
    anchors = H.extract_anchors(FX.LINKSYS_PRODUCT_LIST_PAGE, div_class="item")
    assert [(a[0], a[1]) for a in anchors] == [
        ("/de/support-product?pid=1234", "Broadband Router"),
        ("/de/support-product?pid=5678", "Modem Router"),
    ]
    dl = [
        a for a in H.extract_anchors(FX.LINKSYS_PRODUCT_PAGE, div_class="support-downloads")
        if a[2] == "Download Software"
    ]
    assert dl[0][0] == "/de/support-article?articleNum=1234"


def test_extract_div_html_accordion():
    blocks = H.extract_div_html(
        FX.LINKSYS_FIRMWARE_PAGE,
        div_class="article-accordian-content",
        parent_id="support-article-downloads",
    )
    assert len(blocks) == 1
    assert "Ver.1.203.23" in blocks[0]


def test_html_udfs(spark):
    df = spark.createDataFrame([(FX.AVM_FIRMWARE_PAGE.encode(),)], ["html"])
    row = df.select(
        H.extract_hrefs_udf()(F.col("html").cast("string")).alias("hrefs"),
        H.extract_pre_texts_udf()(F.col("html").cast("string")).alias("pres"),
    ).first()
    assert row["hrefs"] == ["../", "FRITZ.Box_1234-07.12.image", "info_de.txt"]
    assert any("12-Aug-2019" in t for t in row["pres"])


# --- version / date rules ----------------------------------------------------

AVM_VERSION_VECTORS = [
    ("fritz.powerline_1000ET_01_05.image", "fritzpowerline-1000e-t", "01.05"),
    ("fritz.powerline_1000A_E_02_06.image", "fritzpowerline-1000a-e", "02.06"),
    ("FRITZ.Powerline_1260E.157.07.12.image", None, "157.07.12"),
    ("FRITZ.Box_6810_LTE.108.06.34.image", None, "108.06.34"),
    ("FRITZ.Box_3490.en-de-es-it-fr-pl.140.07.01.image", None, "140.07.01"),
    ("FRITZ.Box_1234-07.12.image", "fritzbox-1234", "07.12"),
]


@pytest.mark.parametrize("fw, spec, expected", AVM_VERSION_VECTORS)
def test_avm_extract_version_python(fw, spec, expected):
    assert V.avm_extract_version(fw, spec) == expected


def test_avm_version_spark(spark):
    """The array form the AVM rule pack calls, one file-name array per
    page: each vector next to a main-family name, so the powerline
    versions must zip back onto their own index."""
    df = spark.createDataFrame(
        [(fw, spec) for fw, spec, _ in AVM_VERSION_VECTORS], ["fname", "spec"]
    )
    other = "FRITZ.Box_7490.113.07.29.image"
    got = [
        r["v"]
        for r in df.select(V.avm_versions_col(
            F.array(F.lit(other), "fname"), F.col("spec")).alias("v")).collect()
    ]
    assert got == [["113.07.29", e] for _, _, e in AVM_VERSION_VECTORS]


def test_permutations_match_reference():
    # test_avm.py:168-173
    assert sorted(V._generate_permutations(["a", "b", "c"])) == sorted(
        ["abc", "a_b_c", "a_bc", "ab_c"]
    )
    assert sorted(V._generate_permutations(["a", "b", "c", "d"])) == sorted(
        ["abcd", "a_b_c_d", "a_bcd", "ab_cd", "abc_d", "a_b_cd", "a_bc_d", "ab_c_d"]
    )


@pytest.mark.parametrize("date, expected", [
    ("12-Aug-2019", "12-08-2019"),
    ("24-Dec-2019", "24-12-2019"),
])
def test_avm_convert_date(spark, date, expected):
    assert V.avm_convert_date(date) == expected
    got = spark.range(1).select(V.avm_convert_date_col(F.lit(date)).alias("d")).first()["d"]
    assert got == expected


def test_linksys_meta_golden():
    # test_linksys.py:190-204
    got = V.linksys_meta(FX.LINKSYS_SEARCH_TEXT, "EA6300", "Router")
    assert got == dict(
        file_urls="http://downloads.linksys.com/downloads/firmware/FW_EA6300_1.203.23.20394_prod.gpg.img",
        vendor="Linksys",
        device_name="EA6300",
        firmware_version="1.203.23",
        device_class="Router",
        release_date="2019-08-23",
    )


def test_linksys_meta_spark(spark):
    df = spark.createDataFrame([(FX.LINKSYS_SEARCH_TEXT,)], ["block"])
    row = df.select(
        V.linksys_file_url_col(F.col("block")).alias("f"),
        V.linksys_version_col(F.col("block")).alias("v"),
        V.linksys_date_col(F.col("block")).alias("d"),
    ).first()
    assert row["f"].endswith("FW_EA6300_1.203.23.20394_prod.gpg.img")
    assert row["v"] == "1.203.23"
    assert row["d"] == "2019-08-23"


def test_gpl_meta_cols(spark):
    df = spark.createDataFrame([("  12-Aug-2019 12:13   22241280 ",), ("  x  y  -",)], ["m"])
    d, s, isf = V.gpl_meta_cols(F.col("m"))
    rows = df.select(d.alias("d"), s.alias("s"), isf.alias("f")).collect()
    assert rows[0]["d"] == "12-08-2019" and rows[0]["s"] == 22241280 and rows[0]["f"]
    assert rows[1]["s"] == -1 and not rows[1]["f"]


def test_path_helpers(spark):
    df = spark.createDataFrame(
        [("/fritzbox/fritzbox-1234/deutschland/fritz.os/",)], ["url"]
    )
    row = df.select(
        V.url_path_part_col(F.col("url"), 1).alias("leaf"),
        V.url_path_part_col(F.col("url"), 3).alias("device"),
    ).first()
    # avm.py:29-31 — path[-1]='fritz.os', path[-3]='fritzbox-1234'
    assert row["leaf"] == "fritz.os"
    assert row["device"] == "fritzbox-1234"
