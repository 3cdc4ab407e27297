"""Declarative per-vendor rule packs — the Spark-side spider logic, as the
per-page function of the extraction layer (SURVEY.md §1, layer 1).

A rule is a builder (plans/rulepacks_vendors.py) that takes no DataFrame and
returns a dict of up to three array Columns over one fetched page row:

  page row columns:  url, depth, seq, rule, lineage (map<string,string>),
                     html (kept for FTP listings only), parsed (the
                     parse-once PAGE_STRUCT — functions/html.py)
  children:   array<struct<url, rule, lineage, pos, form_data>> — one
              request per element; pos is the deterministic ordering key
              within the page, form_data the POST body (S2, empty for GET)
  items:      array<struct<...>> of the FirmwareItem schema with
              ItemLoader list-wrapping (vendor, device_name,
              firmware_version, device_class, release_date, file_urls:
              array<string>) — mirror of the reference's firmware/items.py
  quarantine: array<struct<rule, reason, detail>> — J3 class-map misses

``extract`` runs the built rules (``branches``) over a page frame as one
select per output kind, ``inline(CASE rule WHEN r THEN <r's array> ...
END)``, and adds depth + 1, parent_seq and url from the page row. A Column
is an unresolved expression of one session, so the engine builds each
rule's branches once and reuses them every round; building them is Python
work (py4j round trips for every ``F.*`` call) that dominates the plan
cost, not Catalyst.

Plan shape: HTML is parsed EXACTLY ONCE per fetched page per round, inside
``parse_page_udf``; everything here is JVM array functions and codegen'd
column expressions. The one Python member is the AVM powerline version
search (functions/versions.avm_versions_col).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from firmwarescraper_spark.plans import rulepacks_vendors as RV

PACKS = {
    "avm:parse": RV.avm_parse,
    "avm:parse_product": RV.avm_parse_product,
    "linksys:parse": RV.linksys_parse,
    "linksys:parse_product": RV.linksys_parse_product,
    "linksys:parse_versions": RV.linksys_parse_versions,
    "tplink:parse": RV.tplink_parse,
    "tplink:parse_product": RV.tplink_parse_product,
    "tplink:parse_firmware": RV.tplink_parse_firmware,
    "netgear_gpl:parse": RV.netgear_parse,
    "linksys_gpl:parse": RV.linksys_gpl_parse,
    "tplink_gpl:parse": RV.tplink_gpl_parse,
    "tplink_gpl:parse_multi": RV.tplink_gpl_parse_multi,
    "asus:parse": RV.asus_parse,
    "asus:parse_firmware": RV.asus_parse_firmware,
    "hp:parse": RV.hp_parse,
    "hp:parse_firmware": RV.hp_parse_firmware,
    "dlink_gpl:parse": RV.dlink_parse,
    "dlink_gpl:detail": RV.dlink_detail,
    "dlink_gpl:download": RV.dlink_download,
    "dlink_ftp:root": RV.ftp_root,
    "dlink_ftp:family": RV.ftp_family,
    "dlink_ftp:device": RV.ftp_device,
    "dlink_ftp:files": RV.ftp_files,
}

# PAGE_STRUCT fields each rule reads from `parsed` — the parse UDF trims its
# per-row output to this set (functions/html.py parse_page_udf), which cuts
# the Arrow struct conversion + executor cache to a fraction for the
# listing-shaped rules that dominate a crawl round. A rule absent from the
# map parses in full. The dlink_ftp rules read the raw `html` JSON listing
# through from_json: their empty set skips the HTML parse entirely. A test
# checks each entry against the `parsed.` fields of the rule's columns.
RULE_PARSE_FIELDS = {
    "avm:parse": ("hrefs",),
    "avm:parse_product": ("hrefs", "pre_texts"),
    "linksys:parse": ("anchors",),
    "linksys:parse_product": ("anchors",),
    "linksys:parse_versions": ("divs",),
    "tplink:parse": ("anchors",),
    "tplink:parse_product": ("anchors", "texts"),
    "tplink:parse_firmware": ("rows", "texts"),
    "netgear_gpl:parse": ("paras",),
    "linksys_gpl:parse": ("rows",),
    "tplink_gpl:parse": ("anchors",),
    "tplink_gpl:parse_multi": ("anchors", "rows"),
    "asus:parse": ("scripts",),
    "asus:parse_firmware": ("anchors", "texts"),
    "hp:parse": ("rows",),
    "hp:parse_firmware": ("anchors",),
    "dlink_gpl:parse": ("anchors", "rows", "inputs"),
    "dlink_gpl:detail": ("rows",),
    "dlink_gpl:download": ("rows",),
    "dlink_ftp:root": (),
    "dlink_ftp:family": (),
    "dlink_ftp:device": (),
    "dlink_ftp:files": (),
}

# F8 offsite filter — allowed_domains per spider family as host regexes
# (avm.py:16; linksys implicit single host; mirror hosts for the bench
# corpus's many-host shape, sources/generate.py). Every rule yields children
# of its own family, so a child is checked against its own rule's family.
ALLOWED_HOST_PATTERNS = {
    "avm": r"^(download\.avm\.de|mirror-\d+\.avm-mirror\.example)$",
    "linksys": r"^www\.linksys\.com$",
    "tplink": r"^(www|static)\.tp-link\.com$",
    "netgear_gpl": r"^www\.downloads\.netgear\.com$",
    "linksys_gpl": r"^(www|downloads)\.linksys\.com$",
    "tplink_gpl": r"^(www|static)\.tp-link\.com$",
    # asus.py / hp.py declare no allowed_domains -> offsite filter disabled
    "asus": r".*",
    "hp": r".*",
    "dlink_gpl": r"^(tsd\.dlink\.com\.tw|dlink-gpl\.s3\.amazonaws\.com)$",
    "dlink_ftp": r"^ftp\.dlink\.de$",
}

# output kind -> its element array type
_ELEMENT_TYPES = {
    "children": "array<struct<url:string, rule:string, "
                "lineage:map<string,string>, pos:int, "
                "form_data:map<string,string>>>",
    "items": "array<struct<vendor:array<string>, device_name:array<string>, "
             "firmware_version:array<string>, device_class:array<string>, "
             "release_date:array<string>, file_urls:array<string>>>",
    "quarantine": "array<struct<rule:string, reason:string, detail:string>>",
}


def branches(rule: str) -> dict:
    """Build ``rule`` into the CASE branches ``extract`` dispatches:
    output kind -> (the rule's condition, its array cast to the kind's
    element type), for the kinds the rule produces."""
    pack = PACKS[rule]()
    return {kind: (F.col("rule") == rule, pack[kind].cast(elem_type))
            for kind, elem_type in _ELEMENT_TYPES.items()
            if pack.get(kind) is not None}


def page_columns() -> dict:
    """Output kind -> the page row columns ``extract`` adds to each
    element."""
    return {"children": [(F.col("depth") + 1).alias("depth"),
                         F.col("seq").alias("parent_seq")],
            "items": [],
            "quarantine": [F.col("url")]}


def extract(pages: DataFrame, rules: dict,
            page_cols: dict | None = None) -> tuple:
    """(children, items, quarantine) of the page rows ``pages`` under
    ``rules`` (rule -> its ``branches``): one select per output kind, each
    a single generator over ``CASE rule``. A kind no rule produces is
    None. ``page_cols`` is a ``page_columns()`` build to reuse."""
    out = []
    for kind, cols in (page_columns() if page_cols is None else page_cols).items():
        case = None
        for hit, arr in (b[kind] for b in rules.values() if kind in b):
            case = F.when(hit, arr) if case is None else case.when(hit, arr)
        out.append(None if case is None
                   else pages.select(*cols, F.inline(case)))
    return tuple(out)


def _apply(rule: str, pages: DataFrame) -> tuple:
    return extract(pages, {rule: branches(rule)})


# rule -> fn(pages) -> (children, items, quarantine): one rule's outputs as
# DataFrames, through the same dispatch
RULES = {rule: partial(_apply, rule) for rule in PACKS}
