"""Rule-pack builders for every vendor: AVM, Linksys, TP-Link (retail +
GPL), Netgear GPL, Linksys GPL, ASUS, HP, D-Link GPL (POST forms +
sequential pagination, S2/W4) and the D-Link FTP walker (JSON listings,
S4/S5).

Each builder takes no DataFrame and returns a dict of up to three array
Columns over one fetched page row — ``children``, ``items`` and
``quarantine``; plans/rulepacks.py holds their element types, the registry
and the dispatch. Everything is JVM array/column algebra over the
parse-once PAGE_STRUCT (or ``from_json`` for FTP listing bodies): the
page-scoped frame operators of a per-rule DataFrame map onto array
functions — posexplode is ``transform`` with the element index, a union is
``concat``, a per-page dedup is ``array_distinct``, a per-page window is a
look-back over the page's array. The pure-Python twins live in
plans/simulator.py and pin parity. Child ``pos`` values are the simulator's
DFS keys: AVM counts links before its prefix filter, every other rule
counts the children it yields.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from firmwarescraper_spark.functions import url as U
from firmwarescraper_spark.functions import versions as V
from firmwarescraper_spark.plans.simulator import (
    ASUS_DEVICE_DICT,
    AVM_DEVICE_CLASSES,
    FTP_DEVICE_CLASSES,
    FTP_SKIPPED,
    LINKSYS_DEVICE_CLASSES,
    LINKSYS_GPL_WHITELIST,
    NETGEAR_WHITELIST,
)
from firmwarescraper_spark.sources import vendors as VN


# ---------------------------------------------------------------------------
# Element builders. The dispatch casts each array to its element type in
# plans/rulepacks.py; fields are named so that a rule can concat arrays.
# ---------------------------------------------------------------------------

def _c(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


def _child(url, rule: str, pos, lineage=None, form=None) -> Column:
    """One request: url, rule, lineage (default: the page's), pos, POST
    form data (S2; empty for GET)."""
    empty = F.create_map().cast("map<string,string>")
    return F.struct(
        _c(url).alias("url"), F.lit(rule).alias("rule"),
        (F.col("lineage") if lineage is None else lineage).alias("lineage"),
        _c(pos).alias("pos"), (empty if form is None else form).alias("form_data"))


def _item(vendor, device_name, version, device_class, date, file_url) -> Column:
    """F10 item with ItemLoader list-wrapping (items.py:4-12)."""
    return F.struct(*[F.array(_c(x)) for x in (
        vendor, device_name, version, device_class, date, file_url)])


def _keep(arr, fn) -> Column:
    """transform(arr, fn) minus the elements ``fn`` maps to null."""
    return F.filter(F.transform(arr, fn), lambda e: e.isNotNull())


def _flat(arr, fn) -> Column:
    """flatMap: ``fn`` maps each element to an array or null."""
    return F.flatten(_keep(arr, fn))


def _opt(cond, elem) -> Column:
    """[elem] where ``cond`` holds, else []."""
    return F.filter(F.array(F.when(cond, elem)), lambda e: e.isNotNull())


def _anchors():
    return F.col("parsed.anchors")


def _texts():
    return F.col("parsed.texts")


def _rows():
    return F.col("parsed.rows")


def _first(arr):
    return F.try_element_at(arr, F.lit(1))


def _text_of(tag: str, token: str, by_id: bool = False):
    """First parsed.texts entry matching tag + class-token/-id."""
    if by_id:
        pred = lambda t: (t["tag"] == tag) & (t["id"] == token)  # noqa: E731
    else:
        pred = lambda t: (t["tag"] == tag) & F.exists(  # noqa: E731
            t["classes"], lambda c: c.contains(token)
        )
    return _first(F.filter(_texts(), pred))["text"]


def _join(href) -> Column:
    return U.url_join_col(F.col("url"), href)


def _class_case(pairs, product: str) -> Column:
    """J3 lookup join as a generated first-match-wins CASE over the SQL
    expression ``product`` (declaration order == reference iteration
    order). Miss -> NULL (the reference raises; the engine quarantines —
    SURVEY.md §2.3 J3). Generated as SQL text, the table costs one parse
    instead of a py4j round trip per prefix."""
    return F.expr("CASE " + " ".join(
        "WHEN " + " OR ".join(f"startswith({product}, '{p}')" for p in prefixes)
        + f" THEN '{cls}'" for prefixes, cls in pairs) + " END")


# ---------------------------------------------------------------------------
# AVM (avm.py)
# ---------------------------------------------------------------------------

def _avm_links(ignore: tuple, rule: str) -> Column:
    """The page's hrefs minus the F2 prefix-ignore list (avm.py:25,33) as
    ``rule`` requests; pos is the href's index before the filter."""
    def kid(h, i):
        dropped = F.lit(False)
        for p in ignore:
            dropped = dropped | h.startswith(p)
        return F.when(~dropped, _child(_join(h), rule, i))
    return _keep(F.col("parsed.hrefs"), kid)


def avm_parse():
    """Index page -> product-directory requests (avm.py:24-26)."""
    return dict(children=_avm_links(("beta", "tools", "license", ".."),
                                    "avm:parse_product"))


def avm_parse_product():
    """Directory recursion or leaf firmware extraction, dispatched on the
    URL's leaf directory (avm.py:28-34). Leaf: J2 index-aligned link<->date
    join — the index is the join key, so the 1:1 ordering assumption of
    avm.py:37-40 holds exactly (misalignment when a row lacks a date is
    reproduced, not fixed)."""
    leaf_dir = V.url_path_part_col(F.col("url"), 1)
    device = V.url_path_part_col(F.col("url"), 3)
    dates = F.filter(F.transform(F.col("parsed.pre_texts"), V.avm_listing_date_col),
                     lambda d: d.isNotNull())
    files = F.transform(F.filter(F.col("parsed.hrefs"), lambda h: ~h.startswith("..")),
                        _join)
    versions = V.avm_versions_col(F.transform(files, V.url_basename_col), device)
    cls = F.coalesce(  # device == the url's path part 3
        _class_case(AVM_DEVICE_CLASSES, "element_at(split(url, '/'), -4)"),
        F.lit("Router"))
    items = _keep(
        F.arrays_zip(files.alias("f"), versions.alias("v")),
        lambda z, i: F.when(z["f"].endswith(".image"), _item(
            "AVM", device, z["v"], cls, F.get(dates, i), z["f"])),
    )
    return dict(
        children=F.when(leaf_dir != "fritz.os",
                        _avm_links(("recover", ".."), "avm:parse_product")),
        items=F.when(leaf_dir == "fritz.os", items),
    )


# ---------------------------------------------------------------------------
# Linksys (linksys.py)
# ---------------------------------------------------------------------------

def linksys_parse():
    """Sitemap: positional zip join of product hrefs x device names
    (linksys.py:68-72, J1) — lineage carries device_name downstream (J6)."""
    anchors = F.filter(
        _anchors(),
        lambda a: F.array_contains(a["div_classes"], "item") & a["href"].isNotNull(),
    )
    return dict(children=F.transform(anchors, lambda a, i: _child(
        _join(a["href"]), "linksys:parse_product", i,
        F.create_map(F.lit("device_name"), a["text"]))))


def linksys_parse_product():
    """First 'Download Software' anchor -> versions page (linksys.py:74-78,
    W2 first-match-in-list via element_at(filter(...), 1))."""
    href = _first(F.filter(
        _anchors(),
        lambda a: F.array_contains(a["div_classes"], "support-downloads")
        & (a["title"] == "Download Software") & a["href"].isNotNull(),
    ))["href"]
    return dict(children=_opt(href.isNotNull(), _child(
        _join(href), "linksys:parse_versions", 0)))


def linksys_parse_versions():
    """Accordion blocks -> firmware items (linksys.py:80-124): line-scoped
    Ver..href span regex, extension predicate, scalar rule pack, and the
    per-block PRODUCT_DICTIONARIES dedup (A1) as array_distinct over
    (block, item)."""
    blocks = F.transform(
        F.filter(
            F.col("parsed.divs"),
            lambda d: F.array_contains(d["classes"], "article-accordian-content")
            & (d["parent_id"] == "support-article-downloads"),
        ),
        lambda d: d["html"],
    )
    spans = _flat(blocks, lambda b, bi: F.transform(
        F.filter(F.regexp_extract_all(b, F.lit(r'Ver.+href=".+(?:bin|img)"'), F.lit(0)),
                 lambda fw: fw.rlike(r"(\.img|\.bin)")),
        lambda fw: F.struct(bi.alias("b"), fw.alias("fw"))))
    device = F.col("lineage")["device_name"]
    cls = _class_case(LINKSYS_DEVICE_CLASSES, "lineage['device_name']")
    items = F.array_distinct(F.transform(spans, lambda s: F.struct(
        s["b"].alias("b"),
        _item("Linksys", device, V.linksys_version_col(s["fw"]), cls,
              V.linksys_date_col(s["fw"]), V.linksys_file_url_col(s["fw"])).alias("i"))))
    # J3 class-map miss: the reference raises UnknownDeviceClassException
    # (linksys.py:126-133), which scrapy logs and drops. The engine routes
    # the offending page to the auditable quarantine table instead of
    # silently losing it (schema: CrawlEngine.quarantine()).
    quarantine = F.array_distinct(F.transform(spans, lambda s: F.struct(
        F.lit("linksys:parse_versions"), F.lit("unknown_device_class"), device)))
    return dict(
        items=F.when(cls.isNotNull(), F.transform(items, lambda d: d["i"])),
        quarantine=F.when(cls.isNull(), quarantine),
    )


# ---------------------------------------------------------------------------
# TP-Link retail (tplink.py)
# ---------------------------------------------------------------------------

def tplink_parse():
    prods = F.filter(
        _anchors(),
        lambda a: F.array_contains(a["classes"], "tp-product-link") & a["href"].isNotNull(),
    )
    pages = F.filter(
        _anchors(),
        lambda a: F.array_contains(a["classes"], "tp-product-pagination-btn")
        & F.array_contains(a["li_classes"], "tp-product-pagination-item")
        & a["href"].isNotNull(),
    )
    return dict(children=F.concat(
        F.transform(prods, lambda a, i: _child(
            _join(a["href"]), "tplink:parse_product", i)),
        F.transform(pages, lambda a, i: _child(
            _join(a["href"]), "tplink:parse", i + F.size(prods))),
    ))


def _tplink_class_from_url(url):
    # tplink.py:121-131 — 'access_point' (underscore) never matches, quirk kept
    return (
        F.when(
            url.contains("wifi-router") | url.contains("all-gateways")
            | url.contains("mifi"), "Router")
        .when(url.contains("range-extender"), "Repeater")
        .when(url.contains("powerline"), "PLC Adapter")
        .when(url.contains("access_point") | url.contains("deco"), "AP")
        .otherwise("Router")
    )


def tplink_parse_product():
    name = _text_of("h2", "product-name")
    support = _first(
        F.filter(
            _anchors(),
            lambda a: a["class_attr"].isNotNull()
            & a["class_attr"].contains("support") & a["href"].isNotNull(),
        )
    )["href"]
    lineage = F.create_map(
        F.lit("device_name"), name,
        F.lit("device_class"), _tplink_class_from_url(F.col("url")),
    )
    return dict(children=_opt(name.isNotNull() & support.isNotNull(), _child(
        _join(support), "tplink:parse_firmware", 0, lineage)))


def tplink_parse_firmware():
    first_basic = _first(
        F.filter(_rows(), lambda r: F.array_contains(r["tr_classes"], "basic-info"))
    )
    file_url = _join(_first(
        F.flatten(F.transform(first_basic["cells"], lambda c: c["classed_hrefs"]))
    ))
    version = _text_of("span", "verison-hidden", by_id=True)
    first_detail = _first(
        F.filter(_rows(), lambda r: F.array_contains(r["tr_classes"], "detail-info"))
    )
    date_raw = F.try_element_at(
        _first(first_detail["cells"])["span_first_texts"], F.lit(2)
    )
    device = F.col("lineage")["device_name"]
    cls = F.col("lineage")["device_class"]
    found = (device.isNotNull() & cls.isNotNull() & file_url.isNotNull()
             & version.isNotNull()
             & date_raw.isNotNull())  # F7: reference raises ValueError
    return dict(items=_opt(found, _item(
        "TP-Link", device, F.trim(F.replace(version, device, F.lit(""))), cls,
        F.date_format(F.try_to_date(F.trim(date_raw), "yyyy-MM-dd"), "dd-MM-yyyy"),
        file_url)))


# ---------------------------------------------------------------------------
# Netgear GPL (netgear_gpl.py) — bold-paragraph zip join, exact-member whitelist
# ---------------------------------------------------------------------------

def netgear_parse():
    wl = F.array(*[F.lit(w) for w in NETGEAR_WHITELIST])
    paras = F.filter(F.col("parsed.paras"),
                     lambda p: F.arrays_overlap(p["bold_texts"], wl))
    return dict(items=_flat(paras, lambda p: F.transform(
        F.arrays_zip(p["a_texts"].alias("t"), p["a_hrefs"].alias("h")),
        lambda z: F.struct(
            F.array(F.lit("Netgear")),
            p["bold_texts"],  # list-valued device_name (J1 quirk)
            F.array(z["t"]), F.array(F.lit("-")), F.array(F.lit("01-01-1970")),
            F.array(z["h"])))))


# ---------------------------------------------------------------------------
# Linksys GPL (linksys_gpl.py) — 2/3-column table with device carry-over (X19)
# ---------------------------------------------------------------------------

def linksys_gpl_parse():
    # device carry-over: a row's devices are the first-cell texts of the
    # latest 3-cell row at or above it, header (row 0, W3) excluded
    heads = F.transform(_rows(), lambda r, i: F.when(
        (i >= 1) & (F.size(r["cells"]) == 3), F.get(r["cells"], 0)["texts"]))

    def row_items(r, i):
        cells = r["cells"]
        devices = F.try_element_at(
            F.filter(F.slice(heads, 1, i + 1), lambda d: d.isNotNull()), F.lit(-1))
        offset = F.when(F.size(cells) == 3, 1).otherwise(0)
        version = F.trim(F.array_join(F.get(cells, offset)["texts"], ""))
        link = F.trim(F.array_join(F.get(cells, offset + 1)["hrefs"], ""))

        def listed(d):  # substring whitelist
            cond = F.lit(False)
            for w in LINKSYS_GPL_WHITELIST:
                cond = cond | d.contains(w)
            return cond

        return F.when((i >= 1) & F.size(cells).isin(2, 3), F.transform(
            F.filter(devices, listed),
            lambda d: _item("Linksys", F.trim(d), version, "-", "01-01-1970", link)))

    return dict(items=_flat(_rows(), row_items))


# ---------------------------------------------------------------------------
# TP-Link GPL (tplink_gpl.py)
# ---------------------------------------------------------------------------

def tplink_gpl_parse():
    scoped = F.filter(
        _anchors(),
        lambda a: F.array_contains(a["classes"], "ga-click") & a["href"].isNotNull()
        & F.array_contains(a["div_classes"], "data-wi-fi-routers")
        & F.array_contains(a["div_classes"], "item-box"),
    )
    ddl = F.filter(scoped, lambda a: a["href"].contains("static"))
    multi = F.filter(scoped, lambda a: ~a["href"].contains("static"))
    return dict(
        children=F.transform(multi, lambda a, i: _child(
            F.concat(F.lit("https://www.tp-link.com/phppage/gpl-res-list.html"),
                     F.trim(a["href"]), F.lit("&appPath=de")),
            "tplink_gpl:parse_multi", i,
            F.create_map(F.lit("device"), F.trim(a["text"])))),
        items=F.transform(ddl, lambda a: _item(
            "TP-Link", F.trim(a["text"]), "0.0", "Router", "01/01/1970",
            F.trim(a["href"]))),
    )


def tplink_gpl_parse_multi():
    versions = F.flatten(
        F.transform(
            _rows(),
            lambda r: F.filter(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size(r["cells"]) - 2, F.lit(0))),
                    lambda i: F.when(
                        F.array_contains(F.get(r["cells"], i)["td_classes"], "model"),
                        F.get(r["cells"], i + 1)["direct_text"],
                    ),
                ),
                lambda x: x.isNotNull(),
            ),
        )
    )
    links = F.transform(
        F.filter(
            _anchors(),
            lambda a: (a["class_attr"] == "bold ga-click") & (a["text"] == "Download")
            & a["href"].isNotNull(),
        ),
        lambda a: a["href"],
    )
    return dict(items=_keep(
        F.arrays_zip(versions.alias("v"), links.alias("l")),
        lambda z: F.when(z["v"].isNotNull() & z["l"].isNotNull(), _item(
            "TP-Link", F.col("lineage")["device"], F.trim(z["v"]), "Router",
            "01/01/1970", F.trim(z["l"])))))


# ---------------------------------------------------------------------------
# ASUS (asus.py) — X16 script-URL harvest + BIOS extraction
# ---------------------------------------------------------------------------

ASUS_URL_RE = r'"url": "(https://[\w\d\-\_\./]+)"'


def asus_parse():
    redirects = F.filter(
        F.array_distinct(  # keeps first occurrence — A2 pin
            F.flatten(
                F.transform(
                    F.filter(F.col("parsed.scripts"), lambda s: s.contains('"url"')),
                    lambda s: F.regexp_extract_all(s, F.lit(ASUS_URL_RE), F.lit(1)),
                )
            )
        ),
        lambda u: u.endswith("/"),
    )
    return dict(children=F.transform(redirects, lambda u, i: _child(
        F.concat(u, F.lit("HelpDesk_BIOS/")), "asus:parse_firmware", i)))


def asus_parse_firmware():
    name = _text_of("h1", "productTitle")
    version = _text_of("div", "ProductSupportDriverBIOS__version")
    date = _text_of("div", "ProductSupportDriverBIOS__releaseDate")
    file_url = _first(
        F.filter(
            _anchors(),
            lambda a: F.exists(
                a["div_classes"],
                lambda c: c.contains("ProductSupportDriverBIOS__contentRight"),
            ) & a["href"].isNotNull(),
        )
    )["href"]
    class_map = F.create_map(*[F.lit(x) for kv in ASUS_DEVICE_DICT.items() for x in kv])
    return dict(items=_opt(file_url.isNotNull(), _item(  # asus.py:60-61
        "asus", name,
        F.trim(F.replace(version, F.lit("Version"), F.lit(""))),
        F.element_at(class_map, F.lower(F.substring(name, 1, 2))),
        F.date_format(F.try_to_date(F.trim(date), "yyyy/MM/dd"), "yyyy-MM-dd"),
        file_url)))


# ---------------------------------------------------------------------------
# HP (hp.py) — table walk with lineage carry (X19/J6), multi-file items
# ---------------------------------------------------------------------------

def hp_parse():
    candidates = F.filter(
        _rows(),
        lambda r: (F.size(r["cells"]) >= 5)
        & (F.size(F.get(r["cells"], 4)["hrefs"]) > 0),
    )

    def kid(r, i):
        cells = r["cells"]
        next_url = _first(F.get(cells, 4)["hrefs"])
        fixed = F.when(
            ~next_url.contains("http://"), F.concat(F.lit("http://"), next_url)
        ).otherwise(next_url)  # hp.py:24-25 quirk preserved
        raw_date = F.get(cells, 3)["direct_text"]
        date = F.when(
            F.length(raw_date) == 4,
            F.date_format(F.try_to_date(raw_date, "yyyy"), "yyyy-MM-dd"),
        ).otherwise(F.date_format(F.try_to_date(raw_date, "yyyyMMdd"), "yyyy-MM-dd"))
        device = F.regexp_extract(
            F.concat(F.lit("<div>"), F.get(cells, 0)["inner_html"], F.lit("</div>")),
            r"</a> ?(.*?)</div>", 1,
        )
        return _child(fixed, "hp:parse_firmware", i, F.create_map(
            F.lit("device_name"), device,
            F.lit("device_class"), F.lit("Printer"),
            F.lit("firmware_version"), F.get(cells, 2)["direct_text"],
            F.lit("release_date"), date,
        ))

    return dict(children=F.transform(candidates, kid))


def hp_parse_firmware():
    file_urls = F.transform(
        F.filter(
            _anchors(),
            lambda a: (a["class_attr"] == "button-sm primary hpdiaButton desktopHpdia")
            & a["href"].isNotNull(),
        ),
        lambda a: a["href"],
    )
    lineage = F.col("lineage")
    return dict(items=F.array(F.struct(
        F.array(F.lit("HP")),
        *[F.array(lineage[k]) for k in (
            "device_name", "firmware_version", "device_class", "release_date")],
        file_urls)))


# ---------------------------------------------------------------------------
# D-Link GPL (dlink_gpl.py) — POST forms (S2) + sequential pagination (W4)
# ---------------------------------------------------------------------------

def _form_map(d: dict, **dynamic):
    args = []
    for k, v in d.items():
        args += [F.lit(k), F.lit(v)]
    for k, v in dynamic.items():
        args += [F.lit(k), v]
    return F.create_map(*args)


def dlink_parse():
    devices = F.filter(
        _anchors(),
        lambda a: F.array_contains(a["td_classes"], "pord_3") & a["title"].isNotNull(),
    )

    def detail(a, i):
        product = F.get(F.split(a["title"], "-", 2), 0)
        model = F.get(F.split(a["title"], "-", 2), 1)
        return _child(
            VN.DLINK_DETAIL_URL, "dlink_gpl:detail", i,
            F.create_map(F.lit("product"), product, F.lit("model"), model),
            _form_map(dict(Enter="OK", ModelCategory="0", ModelSno="",
                           Model_Sno="", OS="GPL"),
                      ModelCategory_=product, ModelSno_=model))

    cells_flat = F.flatten(F.transform(_rows(), lambda r: r["cells"]))
    pag_cells = F.filter(
        cells_flat, lambda c: F.array_contains(c["input_names"], "sel_PageNo")
    )
    pag_text = F.trim(F.element_at(F.try_element_at(pag_cells, F.lit(-1))["texts"], -1))
    current = _first(
        F.filter(F.col("parsed.inputs"), lambda i: i["name"] == "sel_PageNo")
    )["value"].cast("int")
    g1 = F.regexp_extract(pag_text, r"^\((\d+)\s\/\s(\d+)\)$", 1).try_cast("int")
    g2 = F.regexp_extract(pag_text, r"^\((\d+)\s\/\s(\d+)\)$", 2).try_cast("int")
    has_next = (current.isNotNull() & g1.isNotNull() & (current == g1)
                & (current < g2))
    next_page = _child(
        VN.DLINK_PAGE_URL, "dlink_gpl:parse", F.size(devices),
        F.create_map().cast("map<string,string>"),
        _form_map(dict(Enter="OK", ModelCategory="0", ModelSno="0",
                       ModelCategory_="", ModelSno_="", search_string="",
                       ModelVer="", Model_Sno="", OS="GPL"),
                  sel_PageNo=(current + 1).cast("string")))
    return dict(children=F.concat(F.transform(devices, detail),
                                  _opt(has_next, next_page)))


def dlink_detail():
    fw_rows = F.filter(
        _rows(),
        lambda r: r["onclick"].isNotNull()
        & r["onclick"].rlike(r"^dwn\('([A-Z]+)',['\da-zA-Z]+\)$"),
    )
    product = F.col("lineage")["product"]
    model = F.col("lineage")["model"]

    def kid(r, i):
        identifier = F.regexp_extract(r["onclick"], r"^dwn\('([A-Z]+)',['\da-zA-Z]+\)$", 1)
        desc = F.trim(_first(F.get(r["cells"], 1)["texts"]))
        vraw = F.regexp_extract(desc, r"FW\sv(\d+\..+)", 1)
        version = F.when(vraw == "", "0.0").otherwise(vraw)
        return _child(
            VN.DLINK_DDGO_URL, "dlink_gpl:download", i,
            F.create_map(F.lit("product"), product, F.lit("model"), model,
                         F.lit("version"), version),
            _form_map(dict(Enter="OK", ModelCategory="0", ModelSno="0",
                           Model_Sno="", ModelVer="", docuSource="1"),
                      ModelCategory_=product, ModelSno_=model,
                      docuSno=identifier))

    return dict(children=F.transform(fw_rows, kid))


def dlink_download():
    tds = F.filter(
        F.flatten(F.transform(_rows(), lambda r: r["cells"])),
        lambda c: F.array_contains(c["td_classes"], "MdDclist12"),
    )
    link = _first(
        F.filter(
            F.try_element_at(tds, F.lit(3))["hrefs"],
            lambda h: h.contains("dlink-gpl.s3.amazonaws.com") & ~h.endswith(".txt"),
        )
    )
    date = F.trim(_first(F.try_element_at(tds, F.lit(4))["texts"]))
    lineage = F.col("lineage")
    return dict(items=_opt((F.size(tds) >= 4) & link.isNotNull(), _item(
        "D-Link", F.concat(lineage["product"], F.lit("-"), lineage["model"]),
        lineage["version"], "-",
        F.date_format(F.try_to_date(date, "yyyy/MM/dd"), "dd-MM-yyyy"), link)))


# ---------------------------------------------------------------------------
# D-Link FTP walker (ftp/dlink.py) — JSON listings (S4/S5)
# ---------------------------------------------------------------------------

_FTP_LISTING_SCHEMA = "array<struct<name:string, size:bigint, modify:string, type:string>>"


def _ftp_entries_col():
    arr = F.from_json(F.col("html"), _FTP_LISTING_SCHEMA)
    return F.slice(arr, 4, F.greatest(F.size(arr) - 3, F.lit(0)))  # skip 3 (W3)


def _ftp_dirs(entries, rule: str, lineage=None) -> Column:
    return F.transform(entries, lambda e, i: _child(
        F.concat(F.col("url"), e["name"], F.lit("/")), rule, i,
        None if lineage is None else lineage(e)))


def ftp_root():
    skip = F.array(*[F.lit(x) for x in sorted(FTP_SKIPPED)])
    dirs = F.filter(
        _ftp_entries_col(),
        lambda e: (e["type"] == "dir") & ~F.array_contains(skip, e["name"]),
    )
    return dict(children=_ftp_dirs(dirs, "dlink_ftp:family"))


def ftp_family():
    dirs = F.filter(_ftp_entries_col(), lambda e: e["type"] == "dir")
    return dict(children=_ftp_dirs(
        dirs, "dlink_ftp:device",
        lambda e: F.create_map(F.lit("device_name"), e["name"])))


def ftp_device():
    hits = F.filter(_ftp_entries_col(), lambda e: e["name"] == "driver_software")
    return dict(children=_ftp_dirs(hits, "dlink_ftp:files"))


def ftp_files():
    fw = F.filter(
        _ftp_entries_col(),
        lambda e: e["name"].rlike("zip$") & e["name"].contains("_fw_"),
    )
    device = F.col("lineage")["device_name"]
    initials = F.get(F.split(device, "-"), 0)
    class_map = F.create_map(*[F.lit(x) for kv in FTP_DEVICE_CLASSES.items() for x in kv])
    base_class = F.element_at(class_map, initials)
    device_class = F.when(
        (initials == "dwl") & device.contains("ap") & base_class.isNotNull(),
        F.lit("Access Point"),
    ).otherwise(base_class)

    def item(e):
        epoch = F.unix_timestamp(
            F.try_to_timestamp(e["modify"], F.lit("yyyyMMddHHmmss"))
        ).cast("double")
        return _item(
            "D-Link", device, F.try_element_at(F.split(e["name"], "_"), F.lit(4)),
            device_class, F.format_string("%.1f", epoch),
            F.concat(F.col("url"), e["name"]))

    return dict(items=F.transform(fw, item))
