"""Vectorized HTML extraction — the engine's table-valued UDF layer.

The reference queries pages with parsel/lxml XPath
(/root/reference/firmware/tests/mock_classes.py:15-17). This container has
no lxml, so the engine implements the *specific XPath queries the spiders
use* on top of the stdlib ``html.parser`` — a single parse pass per page
collects everything the rule packs need (anchors with ancestor scope,
``<pre>`` text nodes, raw inner HTML of selected ``<div>`` blocks,
``<script>`` bodies, table cells). Semantics are pinned by the golden
fixtures ported from /root/reference/firmware/tests/test_avm.py:6-72 and
test_linksys.py:6-91.

Spark surface: every extractor is exposed as an Arrow-batched pandas UDF
returning ``array<...>`` columns which rule packs ``explode``/``posexplode``
— the positional-zip-join pattern (SURVEY.md §2.3 J1/J2). No per-row
Python UDFs.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import lru_cache
from html import unescape as _unescape
from html.parser import (
    HTMLParser,
    attrfind_tolerant as _attrfind,
    endtagfind as _endtagfind,
    locatestarttagend_tolerant as _locatestart,
    tagfind_tolerant as _tagfind,
)

import pandas as pd
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)


# Anchors are plain dicts whose keys match PAGE_STRUCT's anchor struct
# exactly, built once at <a> start and appended verbatim to doc.anchors —
# parse_page then ships them with no per-anchor conversion pass (the
# dataclass->dict copy was the single hottest line of the parse profile).
# Keys: href, text, title, onclick, classes (own class tokens),
# class_attr, div_classes / div_ids (all ancestor <div>s), td_classes /
# tr_classes / li_classes (enclosing cell/row/item classes).


@dataclass
class _DivBlock:
    classes: tuple
    div_id: str | None
    parent_classes: tuple
    parent_id: str | None
    start: int
    end: int = -1
    inner_start: int = -1


@dataclass
class _Text:
    tag: str
    classes: tuple
    elem_id: str | None
    text: str  # direct text nodes only (XPath tag/text())


@dataclass
class _Cell:
    td_classes: tuple
    direct_text: str          # direct + div-wrapped text (td//div/text() style)
    texts: list               # all descendant text nodes
    hrefs: list               # descendant a/@href
    a_titles: list            # descendant a/@title
    a_texts: list
    classed_hrefs: list       # hrefs of descendant anchors that carry @class
    span_first_texts: list    # first text node of each descendant <span>
    input_names: list         # names of <input> elements inside the cell
    inner_start: int = -1
    inner_end: int = -1
    inner_html: str = ""


@dataclass
class _Row:
    tr_classes: tuple
    onclick: str | None
    cells: list = field(default_factory=list)


@dataclass
class _Para:
    bold_texts: list = field(default_factory=list)  # strong / bold-span text
    a_texts: list = field(default_factory=list)
    a_hrefs: list = field(default_factory=list)


@dataclass
class _ParsedDoc:
    anchors: list = field(default_factory=list)
    pre_texts: list = field(default_factory=list)
    div_blocks: list = field(default_factory=list)
    head_scripts: list = field(default_factory=list)
    rows: list = field(default_factory=list)      # _Row, document order
    texts: list = field(default_factory=list)     # _Text for classed/id'd h1,h2,span,div
    paras: list = field(default_factory=list)     # _Para for <p> with bold markers
    inputs: list = field(default_factory=list)    # (name, value)
    raw: str = ""

    @property
    def tables(self):
        """Back-compat: rows as lists of concatenated cell text."""
        return [[["".join(c.texts) for c in r.cells] for r in self.rows]]


_BOLD_STYLE = "FONT-WEIGHT: bold"

# close-tag patterns for the fast scanner's raw-text (CDATA) elements —
# the same patterns HTMLParser.set_cdata_mode compiles per element
_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script\s*>", re.I),
    "style": re.compile(r"</\s*style\s*>", re.I),
}


class _Parser(HTMLParser):
    def __init__(self, raw: str):
        super().__init__(convert_charrefs=True)
        self.raw = raw
        self.doc = _ParsedDoc(raw=raw)
        # absolute offset of the tag being dispatched by the fast scanner;
        # None on the stdlib fallback path (then _abs derives it from
        # getpos() + a lazily built newline index)
        self._fast_pos: int | None = None
        self._line_offsets: list[int] | None = None
        self._div_stack: list[_DivBlock] = []
        # cumulative ancestor-div class/id tuples, one entry per open div
        # (index 0 = document root): anchors read the top in O(1)
        self._div_cum_cls: list[tuple] = [()]
        self._div_cum_ids: list[tuple] = [()]
        self._cur_anchor: dict | None = None
        self._in_pre = 0
        self._in_head = 0
        self._in_script = 0
        self._script_buf: list[str] = []
        self._cur_row: _Row | None = None
        self._cur_cell: _Cell | None = None
        self._td_stack: list[tuple] = []
        self._tr_stack: list[tuple] = []
        self._li_stack: list[tuple] = []
        self._text_stack: list[_Text] = []   # open h1/h2/span/div text captures
        self._cur_para: _Para | None = None
        self._bold_depth = 0                 # inside strong / bold span within <p>
        self._span_in_cell: list | None = None  # first-text sink of open span in cell

    def _abs(self) -> int:
        p = self._fast_pos
        if p is not None:
            return p
        line, col = self.getpos()
        return self._line_offsets[line - 1] + col

    def _prepare_stdlib(self):
        """Arm the stdlib-path position machinery (newline index for
        _abs); the fast scanner tracks absolute offsets directly."""
        self._fast_pos = None
        self._line_offsets = offs = [0]
        raw = self.raw
        idx = raw.find("\n")
        while idx != -1:
            offs.append(idx + 1)
            idx = raw.find("\n", idx + 1)

    def _fast_feed(self) -> bool:
        """Single-pass scan equivalent to ``feed(raw); close()`` for
        well-formed markup — the crawl hot path (HTMLParser's goahead /
        parse_starttag / updatepos machinery was ~half the round's parse
        profile). Tag and attribute parsing reuse the stdlib's own
        tolerant regexes, so every construct this scanner ACCEPTS parses
        byte-identically to HTMLParser; anything unusual (bogus tags,
        declarations with brackets, PIs, unterminated constructs, text
        '<') returns False and the caller replays the page through the
        stdlib parser. Offsets for div/td spans come from the scan
        position itself (self._fast_pos)."""
        raw = self.raw
        n = len(raw)
        find = raw.find
        handle_data = self.handle_data
        i = 0
        while i < n:
            lt = find("<", i)
            if lt != i:
                j = n if lt < 0 else lt
                text = raw[i:j]
                if "&" in text:
                    text = _unescape(text)
                handle_data(text)
                if lt < 0:
                    return True
            c = raw[lt + 1:lt + 2]
            if c.isalpha():
                # mirror of HTMLParser.check_for_whole_start_tag
                m = _locatestart.match(raw, lt)
                j = m.end()
                nxt = raw[j:j + 1]
                if nxt == ">":
                    endpos = j + 1
                elif nxt == "/" and raw.startswith("/>", j):
                    endpos = j + 2
                else:
                    return False  # bogus/unterminated start tag
                # mirror of HTMLParser.parse_starttag
                tagm = _tagfind.match(raw, lt + 1)
                tag = tagm.group(1).lower()
                k = tagm.end()
                attrs = []
                while k < endpos:
                    am = _attrfind.match(raw, k)
                    if not am:
                        break
                    attrname, rest, attrvalue = am.group(1, 2, 3)
                    if not rest:
                        attrvalue = None
                    elif attrvalue[:1] == "'" == attrvalue[-1:] or \
                            attrvalue[:1] == '"' == attrvalue[-1:]:
                        attrvalue = attrvalue[1:-1]
                    if attrvalue:
                        attrvalue = _unescape(attrvalue)
                    attrs.append((attrname.lower(), attrvalue))
                    k = am.end()
                end = raw[k:endpos].strip()
                if end == ">":
                    self._fast_pos = lt
                    self.handle_starttag(tag, attrs)
                    if tag in ("script", "style"):
                        cm = _CDATA_CLOSE[tag].search(raw, endpos)
                        if not cm:
                            return False  # unterminated raw-text element
                        em = _endtagfind.match(raw, cm.start())
                        if not em or em.group(1).lower() != tag:
                            return False
                        if cm.start() > endpos:
                            # raw-text content: charrefs NOT converted
                            handle_data(raw[endpos:cm.start()])
                        self._fast_pos = cm.start()
                        self.handle_endtag(tag)
                        i = em.end()
                        continue
                elif end == "/>":
                    self._fast_pos = lt
                    self.handle_starttag(tag, attrs)
                    self.handle_endtag(tag)
                else:
                    return False  # stdlib would re-emit the tag as data
                i = endpos
            elif c == "/":
                em = _endtagfind.match(raw, lt)
                if not em:
                    return False  # '</>' / junk-attred end tag
                self._fast_pos = lt
                self.handle_endtag(em.group(1).lower())
                i = em.end()
            elif c == "!":
                if raw.startswith("<!--", lt):
                    j = find("-->", lt + 4)
                    if j < 0:
                        return False
                    i = j + 3
                else:
                    # simple declaration (<!DOCTYPE html>) — ignored, like
                    # the un-overridden handle_decl; bracketed internal
                    # subsets go to the stdlib path
                    j = find(">", lt)
                    if j < 0 or "[" in raw[lt:j]:
                        return False
                    i = j + 1
            else:
                return False  # PI, literal '<' text, lone '<' at EOF
        return True

    @staticmethod
    def _classes(a: dict) -> tuple:
        return tuple((a.get("class") or "").split())

    # -- tags -------------------------------------------------------------
    # Dispatched per tag so the attr dict / class split only happens for
    # tags that consume them (the generic prologue was ~9% of the parse
    # profile). Behavior is identical to the original single-chain form.
    def handle_starttag(self, tag, attrs):
        if tag == "a":
            a = dict(attrs)
            href = a.get("href")
            title = a.get("title")
            klass = a.get("class")
            self._cur_anchor = {
                "href": href,
                "text": "",
                "title": title,
                "onclick": a.get("onclick"),
                "classes": self._classes(a),
                "class_attr": klass,
                # cumulative ancestor-div tuples maintained on div
                # push/pop — O(1) per anchor instead of a stack walk
                "div_classes": self._div_cum_cls[-1],
                "div_ids": self._div_cum_ids[-1],
                "td_classes": self._td_stack[-1] if self._td_stack else (),
                "tr_classes": self._tr_stack[-1] if self._tr_stack else (),
                "li_classes": self._li_stack[-1] if self._li_stack else (),
            }
            cell = self._cur_cell
            if cell is not None:
                if href is not None:
                    cell.hrefs.append(href)
                    if klass is not None:
                        cell.classed_hrefs.append(href)
                if title is not None:
                    cell.a_titles.append(title)
            return
        if tag == "pre":
            self._in_pre += 1
            return
        if tag == "div":
            a = dict(attrs)
            cls = self._classes(a)
            start = self._abs()
            parent = self._div_stack[-1] if self._div_stack else None
            if a.get("data-class"):
                # XPath @data-class selectors become 'data-<value>' tokens
                cls = cls + tuple("data-" + t for t in a["data-class"].split())
            blk = _DivBlock(
                classes=cls,
                div_id=a.get("id"),
                parent_classes=parent.classes if parent else (),
                parent_id=parent.div_id if parent else None,
                start=start,
            )
            blk.inner_start = self.raw.find(">", start) + 1
            self._div_stack.append(blk)
            self._div_cum_cls.append(self._div_cum_cls[-1] + cls)
            self._div_cum_ids.append(
                self._div_cum_ids[-1] + (blk.div_id,) if blk.div_id
                else self._div_cum_ids[-1])
            if cls or a.get("id"):
                self._text_stack.append(
                    _Text(tag=tag, classes=cls, elem_id=a.get("id"), text=""))
            return
        if tag == "span":
            a = dict(attrs)
            cls = self._classes(a)
            if self._cur_para is not None and _BOLD_STYLE in (a.get("style") or ""):
                self._bold_depth += 1
            if self._cur_cell is not None:
                self._span_in_cell = []  # capture first text node
            if cls or a.get("id"):
                self._text_stack.append(
                    _Text(tag=tag, classes=cls, elem_id=a.get("id"), text=""))
            return
        if tag == "head":
            self._in_head += 1
            return
        if tag == "script":
            self._in_script += 1
            self._script_buf = []
            return
        if tag == "tr":
            a = dict(attrs)
            cls = self._classes(a)
            self._cur_row = _Row(tr_classes=cls, onclick=a.get("onclick"))
            self._tr_stack.append(cls)
            return
        if tag in ("td", "th"):
            a = dict(attrs)
            start = self._abs()
            self._cur_cell = _Cell(
                td_classes=self._classes(a), direct_text="", texts=[],
                hrefs=[], a_titles=[], a_texts=[], classed_hrefs=[],
                span_first_texts=[], input_names=[],
                inner_start=self.raw.find(">", start) + 1,
            )
            self._td_stack.append(self._cur_cell.td_classes)
            return
        if tag == "li":
            self._li_stack.append(self._classes(dict(attrs)))
            return
        if tag == "p":
            self._cur_para = _Para()
            return
        if tag == "strong":
            if self._cur_para is not None:
                self._bold_depth += 1
            return
        if tag == "input":
            a = dict(attrs)
            self.doc.inputs.append((a.get("name"), a.get("value")))
            if self._cur_cell is not None and a.get("name"):
                self._cur_cell.input_names.append(a.get("name"))
            return
        if tag in ("h1", "h2"):
            a = dict(attrs)
            cls = self._classes(a)
            if cls or a.get("id"):
                self._text_stack.append(
                    _Text(tag=tag, classes=cls, elem_id=a.get("id"), text=""))

    def handle_endtag(self, tag):
        if tag == "div" and self._div_stack:
            blk = self._div_stack.pop()
            self._div_cum_cls.pop()
            self._div_cum_ids.pop()
            blk.end = self._abs()
            self.doc.div_blocks.append(blk)
        elif tag == "a" and self._cur_anchor is not None:
            anchor = self._cur_anchor
            self.doc.anchors.append(anchor)
            if self._cur_cell is not None:
                self._cur_cell.a_texts.append(anchor["text"])
            if self._cur_para is not None:
                self._cur_para.a_texts.append(anchor["text"])
                if anchor["href"] is not None:
                    self._cur_para.a_hrefs.append(anchor["href"])
            self._cur_anchor = None
        elif tag == "pre" and self._in_pre:
            self._in_pre -= 1
        elif tag == "head" and self._in_head:
            self._in_head -= 1
        elif tag == "script" and self._in_script:
            self._in_script -= 1
            if self._in_head:
                self.doc.head_scripts.append("".join(self._script_buf))
        elif tag in ("td", "th") and self._cur_cell is not None:
            self._cur_cell.inner_end = self._abs()
            self._cur_cell.inner_html = self.raw[
                self._cur_cell.inner_start:self._cur_cell.inner_end]
            if self._cur_row is not None:
                self._cur_row.cells.append(self._cur_cell)
            self._cur_cell = None
            if self._td_stack:
                self._td_stack.pop()
        elif tag == "tr" and self._cur_row is not None:
            self.doc.rows.append(self._cur_row)
            self._cur_row = None
            if self._tr_stack:
                self._tr_stack.pop()
        elif tag == "li" and self._li_stack:
            self._li_stack.pop()
        elif tag == "p":
            if self._cur_para is not None and self._cur_para.bold_texts:
                self.doc.paras.append(self._cur_para)
            self._cur_para = None
            self._bold_depth = 0
        elif tag == "strong" and self._bold_depth:
            self._bold_depth -= 1
        if tag == "span":
            if self._span_in_cell is not None and self._cur_cell is not None:
                self._cur_cell.span_first_texts.append(
                    self._span_in_cell[0] if self._span_in_cell else "")
            self._span_in_cell = None
        if tag in ("h1", "h2", "span", "div") and self._text_stack and \
                self._text_stack[-1].tag == tag:
            self.doc.texts.append(self._text_stack.pop())

    # -- text ---------------------------------------------------------------
    def handle_data(self, data):
        if self._cur_anchor is not None:
            self._cur_anchor["text"] += data
        elif self._in_pre:
            self.doc.pre_texts.append(data)
        if self._in_script:
            self._script_buf.append(data)
        if self._cur_cell is not None:
            self._cur_cell.texts.append(data)
            if self._cur_anchor is None:
                self._cur_cell.direct_text += data
            if self._span_in_cell is not None:
                self._span_in_cell.append(data)
        if self._text_stack and self._cur_anchor is None:
            self._text_stack[-1].text += data
        if self._cur_para is not None and self._bold_depth and self._cur_anchor is None:
            self._cur_para.bold_texts.append(data)


def parse_html(html) -> _ParsedDoc:
    """Single-pass parse; accepts str or bytes (UTF-8). Well-formed
    markup goes through the fast scanner; anything it declines is
    replayed from scratch through the stdlib HTMLParser (identical
    handler semantics, just slower)."""
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    p = _Parser(html)
    try:
        ok = p._fast_feed()
    except Exception:
        ok = False
    if ok:
        return p.doc
    p = _Parser(html)
    p._prepare_stdlib()
    p.feed(html)
    p.close()
    return p.doc


# ---------------------------------------------------------------------------
# Single-document extractors (shared with plans/simulator.py)
# ---------------------------------------------------------------------------

def extract_hrefs(html) -> list:
    """XPath ``//a/@href`` in document order — F1
    (/root/reference/firmware/spiders/avm.py:73-75)."""
    return [a["href"] for a in parse_html(html).anchors
            if a["href"] is not None]


def extract_anchors(html, div_class: str | None = None, div_id: str | None = None):
    """(href, text, title, onclick) tuples, optionally scoped to anchors
    under a ``<div>`` with the given class token / id — the scoped XPaths
    of /root/reference/firmware/spiders/linksys.py:58-64."""
    out = []
    for a in parse_html(html).anchors:
        if div_class is not None and div_class not in a["div_classes"]:
            continue
        if div_id is not None and div_id not in a["div_ids"]:
            continue
        out.append((a["href"], a["text"], a["title"], a["onclick"]))
    return out


def extract_pre_texts(html) -> list:
    """XPath ``//pre/text()`` — each text node between tags inside <pre>
    (/root/reference/firmware/spiders/avm.py:77-84)."""
    return parse_html(html).pre_texts


def extract_div_html(html, div_class: str | None = None, div_id: str | None = None,
                     parent_id: str | None = None) -> list:
    """Raw inner HTML of each matching <div>, in document order — parsel
    ``extract()`` on a div node (/root/reference/firmware/spiders/linksys.py:63,81)."""
    doc = parse_html(html)
    matched = [
        b for b in doc.div_blocks
        if (div_class is None or div_class in b.classes)
        and (div_id is None or b.div_id == div_id)
        and (parent_id is None or b.parent_id == parent_id)
    ]
    matched.sort(key=lambda b: b.inner_start)
    return [doc.raw[b.inner_start:b.end] for b in matched]


def extract_text(html) -> str:
    """Pinned HTML->text rule (input_hint: byte-identical per url):
    stripped non-empty text nodes (anchors' text, <pre> chunks, cell and
    body text, in document order) joined with a single newline. Both the
    corpus generator and the engine use this one function, so the
    invariant is enforced by construction and tested end-to-end."""
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")

    chunks: list[str] = []

    class _TextParser(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self._skip = 0

        def handle_starttag(self, tag, attrs):
            if tag in ("script", "style"):
                self._skip += 1

        def handle_endtag(self, tag):
            if tag in ("script", "style") and self._skip:
                self._skip -= 1

        def handle_data(self, data):
            if not self._skip:
                s = data.strip()
                if s:
                    chunks.append(s)

    p = _TextParser()
    p.feed(html)
    p.close()
    return "\n".join(chunks)


@lru_cache(maxsize=None)
def extract_text_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(StringType())
    def _extract_text(html: pd.Series) -> pd.Series:
        return html.map(extract_text, na_action="ignore")

    return _extract_text


# ---------------------------------------------------------------------------
# parse-once page struct: ONE parse per page yields every extraction product;
# rule packs then operate with JVM array functions (filter/transform/explode)
# on the struct — no further Python in the round's hot path.
# ---------------------------------------------------------------------------

PAGE_STRUCT = StructType([
    StructField("hrefs", ArrayType(StringType())),
    StructField("anchors", ArrayType(StructType([
        StructField("href", StringType()),
        StructField("text", StringType()),
        StructField("title", StringType()),
        StructField("onclick", StringType()),
        StructField("classes", ArrayType(StringType())),
        StructField("class_attr", StringType()),
        StructField("div_classes", ArrayType(StringType())),
        StructField("div_ids", ArrayType(StringType())),
        StructField("td_classes", ArrayType(StringType())),
        StructField("tr_classes", ArrayType(StringType())),
        StructField("li_classes", ArrayType(StringType())),
    ]))),
    StructField("pre_texts", ArrayType(StringType())),
    StructField("divs", ArrayType(StructType([
        StructField("classes", ArrayType(StringType())),
        StructField("id", StringType()),
        StructField("parent_id", StringType()),
        StructField("html", StringType()),
    ]))),
    StructField("scripts", ArrayType(StringType())),
    StructField("texts", ArrayType(StructType([
        StructField("tag", StringType()),
        StructField("classes", ArrayType(StringType())),
        StructField("id", StringType()),
        StructField("text", StringType()),
    ]))),
    StructField("rows", ArrayType(StructType([
        StructField("tr_classes", ArrayType(StringType())),
        StructField("onclick", StringType()),
        StructField("cells", ArrayType(StructType([
            StructField("td_classes", ArrayType(StringType())),
            StructField("direct_text", StringType()),
            StructField("texts", ArrayType(StringType())),
            StructField("hrefs", ArrayType(StringType())),
            StructField("a_titles", ArrayType(StringType())),
            StructField("a_texts", ArrayType(StringType())),
            StructField("classed_hrefs", ArrayType(StringType())),
            StructField("span_first_texts", ArrayType(StringType())),
            StructField("input_names", ArrayType(StringType())),
            StructField("inner_html", StringType()),
        ]))),
    ]))),
    StructField("paras", ArrayType(StructType([
        StructField("bold_texts", ArrayType(StringType())),
        StructField("a_texts", ArrayType(StringType())),
        StructField("a_hrefs", ArrayType(StringType())),
    ]))),
    StructField("inputs", ArrayType(StructType([
        StructField("name", StringType()),
        StructField("value", StringType()),
    ]))),
])


def parse_page(html, fields=None) -> dict:
    """Single-parse extraction of everything the rule packs consume.

    ``fields`` (optional, a set of PAGE_STRUCT field names) trims the
    OUTPUT: unlisted fields ship as None instead of being assembled and
    Arrow-encoded. The parse itself is unchanged — this only skips the
    per-field dict assembly and (the dominant cost) the Arrow struct
    conversion + cache bytes for products the page's rule provably never
    reads (see rulepacks.RULE_PARSE_FIELDS). ``fields=None`` = full
    output, the safe default for unmapped rules. An EMPTY field set
    means the rule reads nothing from ``parsed`` (the FTP rules consume
    the raw body as JSON): the parse itself is skipped and every field
    ships None — the same output the full parse would trim to."""
    if fields is not None and not fields:
        return dict(_EMPTY_PAGE)
    doc = parse_html(html)
    want = fields.__contains__ if fields is not None else (lambda _f: True)
    out = dict(_EMPTY_PAGE)
    if want("hrefs"):
        out["hrefs"] = [a["href"] for a in doc.anchors
                        if a["href"] is not None]
    if want("anchors"):
        # anchors are already PAGE_STRUCT-keyed dicts (class tuples ship
        # as tuples — Arrow accepts any sequence for list fields)
        out["anchors"] = doc.anchors
    if want("pre_texts"):
        out["pre_texts"] = doc.pre_texts
    if want("divs"):
        divs = sorted(doc.div_blocks, key=lambda b: b.inner_start)
        out["divs"] = [
            {
                "classes": b.classes, "id": b.div_id,
                "parent_id": b.parent_id,
                "html": doc.raw[b.inner_start:b.end],
            }
            for b in divs
        ]
    if want("scripts"):
        out["scripts"] = doc.head_scripts
    if want("texts"):
        out["texts"] = [
            {"tag": t.tag, "classes": t.classes, "id": t.elem_id,
             "text": t.text}
            for t in doc.texts
        ]
    if want("rows"):
        out["rows"] = [
            {
                "tr_classes": r.tr_classes,
                "onclick": r.onclick,
                "cells": [
                    {
                        "td_classes": c.td_classes,
                        "direct_text": c.direct_text,
                        "texts": c.texts,
                        "hrefs": c.hrefs,
                        "a_titles": c.a_titles,
                        "a_texts": c.a_texts,
                        "classed_hrefs": c.classed_hrefs,
                        "span_first_texts": c.span_first_texts,
                        "input_names": c.input_names,
                        "inner_html": c.inner_html,
                    }
                    for c in r.cells
                ],
            }
            for r in doc.rows
        ]
    if want("paras"):
        out["paras"] = [
            {"bold_texts": p.bold_texts, "a_texts": p.a_texts,
             "a_hrefs": p.a_hrefs}
            for p in doc.paras
        ]
    if want("inputs"):
        out["inputs"] = [{"name": n, "value": v} for n, v in doc.inputs]
    return out


_EMPTY_PAGE = {k.name: None for k in PAGE_STRUCT.fields}


@lru_cache(maxsize=None)
def parse_page_udf(fields_map: tuple | None = None):
    """Parse-once UDF. With ``fields_map`` (a hashable tuple of
    (rule, (field, ...)) pairs — see rulepacks.RULE_PARSE_FIELDS) the UDF
    takes (html, rule) and emits only the PAGE_STRUCT fields the row's
    rule consumes (others None — same schema, a fraction of the Arrow
    conversion + executor-cache bytes; unmapped rules parse in full).
    Without it, the single-column full-output form."""
    from pyspark.sql.functions import pandas_udf

    if fields_map is None:
        @pandas_udf(PAGE_STRUCT)
        def _parse_page(html: pd.Series) -> pd.DataFrame:
            parsed = [parse_page(h) if h is not None else dict(_EMPTY_PAGE)
                      for h in html]
            return pd.DataFrame(parsed, index=html.index)

        return _parse_page

    fmap = {rule: frozenset(fs) for rule, fs in fields_map}

    @pandas_udf(PAGE_STRUCT)
    def _parse_page_trimmed(html: pd.Series, rule: pd.Series) -> pd.DataFrame:
        parsed = [
            parse_page(h, fmap.get(r)) if h is not None
            else dict(_EMPTY_PAGE)
            for h, r in zip(html, rule)
        ]
        return pd.DataFrame(parsed, index=html.index)

    return _parse_page_trimmed


@lru_cache(maxsize=None)
def extract_hrefs_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ArrayType(StringType()))
    def _extract_hrefs(html: pd.Series) -> pd.Series:
        return html.map(extract_hrefs, na_action="ignore")

    return _extract_hrefs


@lru_cache(maxsize=None)
def extract_pre_texts_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ArrayType(StringType()))
    def _extract_pre_texts(html: pd.Series) -> pd.Series:
        return html.map(extract_pre_texts, na_action="ignore")

    return _extract_pre_texts
