"""Scalar rule packs: firmware-version and release-date extraction
(SURVEY.md §2.6 X3-X17).

Each rule exists twice, by design:
  * a **Spark column expression** builder (``*_col``) — JVM-side,
    whole-stage-codegen'd, used by the engine's rule packs;
  * a **pure-Python twin** — used by the reference-parity simulator
    (plans/simulator.py) and the unit tests, pinned to the reference's
    golden vectors (/root/reference/firmware/tests/test_avm.py:152-173,
    test_linksys.py:190-204).

The only Python-side member on the Spark path is the AVM powerline
permutation search (X4), which is exposed as an array-in/array-out
Arrow-batched pandas UDF: its candidate set is exponential in the token
count (2^(n-1)) and data-dependent, which a static column expression
cannot express cleanly.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

# ---------------------------------------------------------------------------
# X3 / X4 — AVM version (/root/reference/firmware/spiders/avm.py:94-116)
# ---------------------------------------------------------------------------

_AVM_VERSION_RE = r"FRITZ\.(Box|Powerline|Repeater)_(\w+)(\.(\w{2}-)+\w{2}\.)?([-\.])?(.*)\.image"


def _generate_permutations(tokens: list) -> list:
    """All '_'-separator placements between hardware-number tokens —
    2^(n-1) candidates (reference avm.py:109-116, recursive generator)."""
    results = []

    def rec(prefix: str, index: int):
        if index < len(tokens) - 1:
            rec(prefix + tokens[index] + "_", index + 1)
            rec(prefix + tokens[index], index + 1)
        else:
            results.append(prefix + tokens[index])

    if tokens:
        rec("", 0)
    return results


def avm_extract_version(firmware: str, product_specifier: str | None = None) -> str:
    """Python twin of the AVM version rule; golden vectors test_avm.py:157-165."""
    try:
        if "fritz.powerline" in firmware:
            for cand in _generate_permutations((product_specifier or "").split("-")[1:]):
                m = re.search(r"(?:" + cand.upper() + r")_(.*).image", firmware)
                if m:
                    return m.group(1).replace("_", ".")
            return "0.0"
        m = re.search(_AVM_VERSION_RE, firmware)
        return m.group(6)
    except (AttributeError, IndexError, ValueError, TypeError):
        return "0.0"


from functools import lru_cache


@lru_cache(maxsize=None)
def avm_powerline_udf():
    """Arrow-batched pandas UDF: (file names, device name) -> one version
    per name, None for names outside the powerline family; [] for a null
    array, so the result always zips back onto its input."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ArrayType(StringType()))
    def _avm_powerline(fnames: pd.Series, spec: pd.Series) -> pd.Series:
        return pd.Series(
            [[] if names is None else
             [avm_extract_version(f, s) if f and "fritz.powerline" in f else None
              for f in names]
             for names, s in zip(fnames, spec)],
            index=fnames.index,
        )

    return _avm_powerline


def avm_versions_col(fnames: Column, spec: Column) -> Column:
    """Spark-side AVM version of every file name in the array ``fnames``:
    codegen'd regexp for the main family. The powerline permutation branch
    runs in a pandas UDF over the whole array, called outside any lambda
    (Spark rejects a Python UDF inside a higher-order function) and zipped
    back by index; only arrays holding a powerline name cross to Python."""
    powerline = avm_powerline_udf()(
        F.when(F.exists(fnames, lambda f: f.contains("fritz.powerline")), fnames),
        spec)

    def version(z):
        main = F.regexp_extract(z["f"], _AVM_VERSION_RE, 6)
        return (F.when(z["f"].contains("fritz.powerline"), z["p"])
                .when(main == "", F.lit("0.0")).otherwise(main))

    return F.transform(F.arrays_zip(fnames.alias("f"), powerline.alias("p")), version)


# ---------------------------------------------------------------------------
# X11 — AVM month-abbr date conversion (avm.py:86-92): 12-Aug-2019 -> 12-08-2019
# Locale-independent 12-entry mapping (not MMM parsing — byte parity).
# ---------------------------------------------------------------------------

_MONTHS = {
    "Jan": "01", "Feb": "02", "Mar": "03", "Apr": "04", "May": "05",
    "Jun": "06", "Jul": "07", "Aug": "08", "Sep": "09", "Oct": "10",
    "Nov": "11", "Dec": "12",
}


def avm_convert_date(date: str) -> str:
    d, mon, y = date.split("-")
    return f"{d}-{_MONTHS[mon]}-{y}"


def avm_convert_date_col(date: Column) -> Column:
    parts = F.split(date, "-")
    month_map = F.create_map(*[F.lit(x) for kv in _MONTHS.items() for x in kv])
    return F.concat_ws(
        "-", F.get(parts, 0), F.element_at(month_map, F.get(parts, 1)), F.get(parts, 2)
    )


# X9 — AVM listing date regex over <pre> text (avm.py:77-84)
AVM_DATE_RE = r"(\d{2}-\w{3}-\d{4})"


def avm_listing_date_col(pre_text: Column) -> Column:
    """date string or null from one <pre> text node."""
    raw = F.regexp_extract(pre_text, AVM_DATE_RE, 1)
    return F.when(raw == "", None).otherwise(avm_convert_date_col(raw))


# ---------------------------------------------------------------------------
# X5 / X10 — Linksys version + date (linksys.py:110-124)
# ---------------------------------------------------------------------------

LINKSYS_FILE_RE = r'href="(.*\.bin|.*\.img)"'
LINKSYS_VERSION_RE = r"(?:Ver|Version)\.([^<([a-zA-Z]+]*)"
LINKSYS_DATE_RE = (
    r"((?:[1-9]|0[1-9]|10|11|12)(?:\s|\.|/|-)"
    r"(?:[a-zA-Z]+|[1-9]|[1-2][0-9]|30|31)(?:\s|\.|/|-)(?:20|19)\d{2})"
)


def linksys_meta(firmware: str, device_name: str, device_class: str) -> dict:
    """Python twin of linksys.py:110-124 prepare_meta_data; golden
    vector test_linksys.py:190-204."""
    from datetime import datetime

    m = re.search(LINKSYS_FILE_RE, firmware)
    file_urls = m.group(1) if m else "N/A"
    m = re.search(LINKSYS_VERSION_RE, firmware)
    version = m.group(1).strip(" ").replace("\xa0", "") if m else "N/A"
    m = re.search(LINKSYS_DATE_RE, firmware)
    date = (
        datetime.strptime(
            m.group(1).replace(" ", "/").replace("\xa0", "/"), r"%m/%d/%Y"
        ).strftime("%Y-%m-%d")
        if m
        else "N/A"
    )
    return dict(
        file_urls=file_urls, vendor="Linksys", device_name=device_name,
        firmware_version=version, device_class=device_class, release_date=date,
    )


def linksys_file_url_col(block: Column) -> Column:
    raw = F.regexp_extract(block, LINKSYS_FILE_RE, 1)
    return F.when(raw == "", "N/A").otherwise(raw)


def linksys_version_col(block: Column) -> Column:
    raw = F.regexp_extract(block, LINKSYS_VERSION_RE, 1)
    cleaned = F.trim(F.replace(raw, F.lit("\xa0"), F.lit("")))
    # reference strips only ' ' — trim() also strips tabs/newlines, but the
    # capture class excludes '<' so the captured text never spans tags; the
    # golden vectors pin equality.
    return F.when(raw == "", "N/A").otherwise(cleaned)


def linksys_date_col(block: Column) -> Column:
    raw = F.regexp_extract(block, LINKSYS_DATE_RE, 1)
    normalized = F.replace(
        F.replace(raw, F.lit(" "), F.lit("/")), F.lit("\xa0"), F.lit("/")
    )
    iso = F.date_format(F.try_to_date(normalized, "M/d/yyyy"), "yyyy-MM-dd")
    return F.when(raw == "", "N/A").otherwise(F.coalesce(iso, F.lit("N/A")))


# ---------------------------------------------------------------------------
# X12 — the strptime format zoo (per-spider date normalizations)
# ---------------------------------------------------------------------------

def date_dmy_from_dmb(col: Column) -> Column:
    """avm_gpl.py:96-100: '%d-%b-%Y' -> '%d-%m-%Y', tolerant (raw on failure)."""
    parts = F.split(col, "-")
    month_map = F.create_map(*[F.lit(x) for kv in _MONTHS.items() for x in kv])
    month = F.element_at(month_map, F.get(parts, 1))
    converted = F.concat_ws("-", F.get(parts, 0), month, F.get(parts, 2))
    ok = month.isNotNull() & (F.size(parts) == 3)
    return F.when(ok, converted).otherwise(col)


# ---------------------------------------------------------------------------
# X13 — AVM-GPL whitespace-collapsed (date, size) metadata split
# (avm_gpl.py:90-108)
# ---------------------------------------------------------------------------

def gpl_meta_cols(meta_text: Column) -> tuple:
    """Returns (release_date, file_size, is_file) columns from a raw
    listing-metadata text like '  12-Aug-2019 12:13   22241280 '."""
    collapsed = F.split(F.regexp_replace(F.trim(meta_text), " +", " "), " ")
    date = date_dmy_from_dmb(F.get(collapsed, 0))
    size = F.try_element_at(collapsed, F.lit(3)).try_cast("long")
    is_file = size.isNotNull()
    return date, F.coalesce(size, F.lit(-1)), is_file


# X15 — basename / path-part helpers (pipelines.py:5-6, avm.py:29-31)

def url_basename_col(url: Column) -> Column:
    return F.element_at(F.split(url, "/"), -1)


def url_path_part_col(url: Column, index_from_end: int) -> Column:
    """path[:-1][index] logic of avm.py:29-31 — for a directory URL ending
    in '/', element -2 is the leaf dir, -4 is two levels up (the reference's
    path[-1] / path[-3] after dropping the trailing empty segment)."""
    return F.element_at(F.split(url, "/"), -(index_from_end + 1))
