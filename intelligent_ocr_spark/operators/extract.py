# -*- coding: utf-8 -*-
"""The fused extraction operator — the engine proper.

One Arrow batch kernel (:func:`extract_batch`, run under ``mapInArrow``
by :func:`extract_pages` and by the job's commit stage) replaces the
reference's whole render-thread / bounded-queue / process-pool pipeline
(``core/pdf_processor.py:1018-1646``): per input row (one web page), it

1. takes the existing-text fast path when ``len(text.strip()) > 50``
   (reference page-level skip ``core/pdf_processor.py:527-531``; doc-level
   probe threshold 100 at ``:438-466``);
2. decodes ``html:binary`` (invalid rows → quarantined ``error`` column,
   never a job crash — reference ``validate_pdf`` ``:335-360``);
3. parses the DOM and collects text blocks:
   * *geometric* pages (``data-bbox`` blocks — the OCR-result analog,
     reference ``OCRResult`` ``core/ocr_engine.py:83-116``) go through
     confidence filtering (< 0.5 dropped, ``core/pdf_processor.py:627-628``),
     coordinate rescale by zoom (``:635-640``), vertical detection
     (``h > 2w``, ``:649-650``), projection-profile column segmentation and
     reading-order resolution (``:667-702``);
   * *plain web* pages go through DOM boilerplate stripping with
     link-/text-density heuristics (the web analog of the blank-page
     gradient heuristic ``:763-794``);
4. detects blank pages (no visible text at all → pass-through row with
   ``is_blank=true`` — reference ``:1282,1506-1512``);
5. NFKC-normalizes each block (``:631``), drops empties (``:631-633``),
   and computes the variant-normalized twin text (dual-insert semantics,
   ``:661-665``) via the broadcast-style singleton normalizer;
6. emits ``(extracted_text, norm_text, spans, …)`` with character-level
   span offsets, byte-stable across runs and parallelism levels.

Scale design: the operator is a NARROW transformation — zero shuffles; all
parallelism is partition-level. Python cost is one C-level parse per row
inside an Arrow batch; there is no per-row Python ↔ JVM round trip. The
parser and normalizer are module-level singletons (one init per Python
worker — reference warm-up pattern ``core/parallel_ocr.py:149-173``).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from intelligent_ocr_spark.functions.charset import decode_html_bytes
from intelligent_ocr_spark.functions.fasthtml import (
    _SIMPLE_ATTR_FIND as _FAST_ATTRS,
    _TOK as _FAST_TOK,
    fast_applicable,
    fast_feed,
)
from intelligent_ocr_spark.functions.layout import Block, estimate_font_size, is_vertical, reading_order
from intelligent_ocr_spark.functions.normalize import get_normalizer, nfkc
from intelligent_ocr_spark.functions.pixmap import (
    PXPG_MAGIC,
    analyze_decoded_image,
    decode_page_image,
)

__all__ = [
    "EXTRACT_SCHEMA",
    "extract_batch",
    "extract_pages",
    "extract_record",
    "repartition_by_url",
    "with_host_salt",
    "dual_insert_spans",
]

DEFAULT_MIN_CONFIDENCE = 0.5  # reference core/pdf_processor.py:382,419
DEFAULT_EXISTING_TEXT_MIN_CHARS = 50  # reference core/pdf_processor.py:527
DEFAULT_RETRY_LIMIT = 2  # reference page_retry_limit core/pdf_processor.py:389

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType(), False),
            T.StructField("end", T.IntegerType(), False),
            T.StructField("block_id", T.IntegerType(), False),
            T.StructField("kind", T.StringType(), False),
            T.StructField("conf", T.DoubleType(), False),
            # X4/X5: placement metadata from the geo (layout) path;
            # NULL on DOM-density pages whose bboxes are synthetic
            # (reference placement logic core/pdf_processor.py:646-659)
            T.StructField("font_size", T.DoubleType(), True),
            T.StructField("is_vertical", T.BooleanType(), True),
        ]
    )
)

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("norm_text", T.StringType(), True),
        T.StructField("spans", SPAN_TYPE, True),
        T.StructField("skipped", T.BooleanType(), False),
        T.StructField("is_blank", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("n_dropped", T.IntegerType(), False),
        T.StructField("retries", T.IntegerType(), False),
        T.StructField("html_bytes", T.LongType(), False),
    ]
)

_BLOCK_TAGS = {
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "blockquote", "pre",
}
_BOILER_TAGS = {"nav", "header", "footer", "aside", "script", "style", "head", "title"}
_BOILER_CLASS_TOKENS = {
    "sidebar", "menu", "nav", "footer", "header", "ad", "banner", "breadcrumb",
}
# HTML void elements: no end tag ever arrives, so they must not be pushed
# onto the nesting stack or deepen a geo block
_VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
}
_MAX_LINK_DENSITY = 0.5


class _PageParser(HTMLParser):
    """Single-pass DOM collector for both page styles.

    Geometric blocks (``div.block[data-bbox]``) are collected with their
    bbox/conf/kind. Plain text runs are grouped under their nearest
    block-level ancestor with link-char accounting for density stripping.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.layout: str | None = None
        self.zoom: float = 1.0
        self.geo_blocks: list[dict] = []
        self.dom_blocks: list[dict] = []
        # stack of (tag, is_boiler) — boiler/link depths are derived from
        # what is actually popped, so implicit closes (unclosed elements
        # swallowed by a parent's endtag — ubiquitous in crawled HTML)
        # cannot leak the counters and silently blank whole pages
        self._stack: list[tuple[str, bool]] = []
        self._boiler_depth = 0
        self._link_depth = 0
        self._geo: dict | None = None
        # stack length at geo open: the geo block closes when the nesting
        # stack pops BELOW this level (stack-derived, like boiler/link —
        # a raw starttag/endtag counter desyncs on unclosed inner tags)
        self._geo_open_depth = 0
        self._dom: dict | None = None

    # -- helpers -------------------------------------------------------
    def _flush_dom(self) -> None:
        if self._dom is not None:
            self.dom_blocks.append(self._dom)
            self._dom = None

    # -- HTMLParser hooks ----------------------------------------------
    _EMPTY_ATTRS: dict = {}

    def handle_starttag(self, tag: str, attrs_list) -> None:
        # attrs stay a LIST and are scanned inline (once, at most twice):
        # building a dict per attributed tag measurably dominates this
        # handler at bench scale. Duplicate attribute names keep the LAST
        # occurrence, exactly like the dict(attrs_list) this replaces.
        if tag == "html":
            attrs = dict(attrs_list) if attrs_list else self._EMPTY_ATTRS
            self.layout = attrs.get("data-layout")
            try:
                self.zoom = float(attrs.get("data-zoom") or 1.0)
            except ValueError:
                self.zoom = 1.0
        if tag not in _VOID_TAGS:
            is_boiler = tag in _BOILER_TAGS
            if not is_boiler and attrs_list:
                cls = idv = None
                seen = False
                for k, v in attrs_list:
                    if k == "class":
                        cls = v
                        seen = True
                    elif k == "id":
                        idv = v
                        seen = True
                if seen and (
                    set(((cls or "") + " " + (idv or "")).lower().split())
                    & _BOILER_CLASS_TOKENS
                ):
                    is_boiler = True
            self._stack.append((tag, is_boiler))
            if is_boiler:
                self._boiler_depth += 1
            if tag == "a":
                self._link_depth += 1

        if self._geo is not None:
            return
        if attrs_list:
            bbox = conf = kind = None
            for k, v in attrs_list:
                if k == "data-bbox":
                    bbox = v
                elif k == "data-conf":
                    conf = v
                elif k == "data-kind":
                    kind = v
            if bbox is not None:
                try:
                    x0, y0, x1, y1 = (float(v) for v in bbox.split(","))
                except ValueError:
                    return
                self._geo = {
                    "bbox": (x0, y0, x1, y1),
                    "conf": float(conf or 1.0),
                    "kind": kind or "line",
                    "parts": [],
                }
                self._geo_open_depth = len(self._stack)  # incl. the geo tag itself
                return
        if tag in _BLOCK_TAGS:
            self._flush_dom()
            self._dom = {
                "kind": "heading" if tag[0] == "h" and tag[1:].isdigit() else "line",
                "parts": [],
                "linked": 0,
                "boiler": self._boiler_depth > 0,
            }

    def handle_endtag(self, tag: str) -> None:
        if tag in _VOID_TAGS:
            return  # stray </br> etc. — must not close a geo block
        in_geo = self._geo is not None
        if not in_geo and tag in _BLOCK_TAGS:
            self._flush_dom()
        stack = self._stack
        if stack and stack[-1][0] == tag:
            # fast path: well-nested close (the dominant case) — pop one
            popped_tag, popped_boiler = stack.pop()
            if popped_boiler:
                self._boiler_depth = max(0, self._boiler_depth - 1)
            if popped_tag == "a":
                self._link_depth = max(0, self._link_depth - 1)
        else:
            # pop stack down to the matching tag, unwinding boiler/link
            # depth for EVERY implicitly-closed entry (tolerates malformed
            # nesting)
            for idx in range(len(stack) - 1, -1, -1):
                if stack[idx][0] == tag:
                    for popped_tag, popped_boiler in stack[idx:]:
                        if popped_boiler:
                            self._boiler_depth = max(0, self._boiler_depth - 1)
                        if popped_tag == "a":
                            self._link_depth = max(0, self._link_depth - 1)
                    del stack[idx:]
                    break
        # geo block closes when the stack drops below its open level —
        # robust to unclosed inner tags implicitly closed by the geo
        # element's own endtag
        if in_geo and len(self._stack) < self._geo_open_depth:
            self.geo_blocks.append(self._geo)
            self._geo = None

    def handle_data(self, data: str) -> None:
        if not data:
            return
        if self._geo is not None:
            self._geo["parts"].append(data)
            return
        if self._boiler_depth > 0:
            # still record into a boiler block so blank-detection sees text
            if self._dom is None:
                self._dom = {"kind": "line", "parts": [], "linked": 0, "boiler": True}
            self._dom["parts"].append(data)
            self._dom["boiler"] = True
            if self._link_depth:
                self._dom["linked"] += len(data)
            return
        if self._dom is None:
            if not data.strip():
                return
            self._dom = {"kind": "line", "parts": [], "linked": 0, "boiler": False}
        self._dom["parts"].append(data)
        if self._link_depth:
            self._dom["linked"] += len(data)

    def close(self) -> None:  # flush trailing blocks (truncated fetches)
        # super().close() FIRST: the stdlib parser may still emit buffered
        # trailing data (e.g. a dangling '<') into the open block — flushing
        # before it would silently drop that final fragment
        super().close()
        if self._geo is not None:
            self.geo_blocks.append(self._geo)
            self._geo = None
        self._flush_dom()


# flat geo (OCR-result) page shape: '<html ...><body>' then a contiguous
# run of bbox DIVs with the canonical attribute order and entity-free,
# tag-free text, then '</body></html>'. This is the dominant page shape
# of the OCR-result domain (the reference's result pages are exactly a
# flat list of positioned blocks), so it gets a findall-based fast path
# that skips per-token scanning entirely. ANY deviation — extra
# attributes, different order, '&' anywhere, stray text between divs —
# fails the fullmatch and falls through to the fused scanner / general
# parser, so equivalence holds by strictness (pinned by the differential
# suite and the corpus A/B).
_GEO_DOC = re.compile(
    r'<html((?:\s+[a-z][a-z0-9-]*="[^"&<]*")*)\s*>'
    r"<body>"
    r'((?:<div class="block" data-bbox="[^"&<]*" data-conf="[^"&<]*"'
    r' data-kind="[^"&<]*">[^<&]*</div>)*)'
    r"</body></html>"
)
_GEO_DIV = re.compile(
    r'<div class="block" data-bbox="([^"]*)" data-conf="([^"]*)"'
    r' data-kind="([^"]*)">([^<]*)</div>'
)


def _scan_geo_page(raw: str):
    """Flat geo-page fast path; None when the page is not strictly flat."""
    m = _GEO_DOC.fullmatch(raw)
    if m is None:
        return None
    layout = None
    zv = None
    attrs_raw = m.group(1)
    if attrs_raw:
        for k, v in _FAST_ATTRS.findall(attrs_raw):
            if k == "data-layout":
                layout = v
            elif k == "data-zoom":
                zv = v
            elif k == "data-bbox":
                return None  # the html tag itself would open a geo block
    try:
        zoom = float(zv or 1.0)
    except ValueError:
        zoom = 1.0
    geo_blocks = []
    for bbox, conf, kind, text in _GEO_DIV.findall(m.group(2)):
        parts = bbox.split(",")
        if len(parts) != 4:
            return None  # general path treats a bad bbox div as plain DOM
        try:
            x0, y0, x1, y1 = (float(v) for v in parts)
            confv = float(conf) if conf else 1.0
        except ValueError:
            return None
        geo_blocks.append(
            {
                "bbox": (x0, y0, x1, y1),
                "conf": confv,
                "kind": kind if kind else "line",
                "parts": [text] if text else [],
            }
        )
    return _ScannedPage(layout, zoom, geo_blocks, [])


class _ScannedPage:
    """Result shape of :func:`_scan_page` — duck-typed to the four
    :class:`_PageParser` attributes ``extract_record`` reads."""

    __slots__ = ("layout", "zoom", "geo_blocks", "dom_blocks")

    def __init__(self, layout, zoom, geo_blocks, dom_blocks):
        self.layout = layout
        self.zoom = zoom
        self.geo_blocks = geo_blocks
        self.dom_blocks = dom_blocks


def _scan_page(raw: str):
    """Fused tokenizer + page-model scan: one loop over the master token
    regex with the :class:`_PageParser` state machine inlined on locals —
    no handler-call protocol, no per-tag attribute dict.

    ALL-OR-NOTHING: any token outside the strict grammar (malformed tag,
    bogus comment, self-closing slash, '&' in an attribute value) returns
    ``None`` and the caller re-parses the page through the general
    handler path from scratch, so equivalence holds by construction for
    accepted pages and by fallback for everything else (pinned output-
    identical over the generator corpus + hypothesis fuzz in
    tests/test_fasthtml_differential.py).
    """
    tok = _FAST_TOK.match
    attr_findall = _FAST_ATTRS.findall
    layout = None
    zoom = 1.0
    geo_blocks: list[dict] = []
    dom_blocks: list[dict] = []
    stack: list[tuple[str, bool]] = []
    boiler_depth = 0
    link_depth = 0
    geo: dict | None = None
    geo_open_depth = 0
    dom: dict | None = None
    n = len(raw)
    i = 0
    while i < n:
        m = tok(raw, i)
        if m is None:
            return None  # out-of-grammar token: general path re-parses
        li = m.lastindex
        if li == 1:  # ---- data run -------------------------------------
            data = m[1]
            if "&" in data:
                data = unescape(data)
            if geo is not None:
                geo["parts"].append(data)
            elif boiler_depth > 0:
                if dom is None:
                    dom = {"kind": "line", "parts": [], "linked": 0, "boiler": True}
                dom["parts"].append(data)
                dom["boiler"] = True
                if link_depth:
                    dom["linked"] += len(data)
            else:
                if dom is None:
                    if not data.strip():
                        i = m.end()
                        continue
                    dom = {"kind": "line", "parts": [], "linked": 0, "boiler": False}
                dom["parts"].append(data)
                if link_depth:
                    dom["linked"] += len(data)
        elif li == 4:  # ---- end tag ------------------------------------
            tag = m[4].lower()
            if tag not in _VOID_TAGS:
                in_geo = geo is not None
                if not in_geo and tag in _BLOCK_TAGS and dom is not None:
                    dom_blocks.append(dom)
                    dom = None
                if stack and stack[-1][0] == tag:
                    popped_tag, popped_boiler = stack.pop()
                    if popped_boiler and boiler_depth:
                        boiler_depth -= 1
                    if popped_tag == "a" and link_depth:
                        link_depth -= 1
                else:
                    for idx in range(len(stack) - 1, -1, -1):
                        if stack[idx][0] == tag:
                            for popped_tag, popped_boiler in stack[idx:]:
                                if popped_boiler and boiler_depth:
                                    boiler_depth -= 1
                                if popped_tag == "a" and link_depth:
                                    link_depth -= 1
                            del stack[idx:]
                            break
                if in_geo and len(stack) < geo_open_depth:
                    geo_blocks.append(geo)
                    geo = None
        else:  # ---- start tag ------------------------------------------
            tag = m[2].lower()
            attrs_raw = m[3]
            # ONE pass over the attr list extracts everything any branch
            # below needs (class/id for boiler, data-* for geo/html);
            # last occurrence wins, like the dict this code replaced
            cls = idv = bbox = conf = kind = dlayout = zv = None
            cls_seen = False
            if attrs_raw:
                for k, v in attr_findall(attrs_raw):
                    if k == "class":
                        cls = v
                        cls_seen = True
                    elif k == "id":
                        idv = v
                        cls_seen = True
                    elif k == "data-bbox":
                        bbox = v
                    elif k == "data-conf":
                        conf = v
                    elif k == "data-kind":
                        kind = v
                    elif k == "data-layout":
                        dlayout = v
                    elif k == "data-zoom":
                        zv = v
            if tag == "html":
                layout = dlayout
                try:
                    zoom = float(zv or 1.0)
                except ValueError:
                    zoom = 1.0
            if tag not in _VOID_TAGS:
                is_boiler = tag in _BOILER_TAGS
                if (
                    not is_boiler
                    and cls_seen
                    and (
                        set(((cls or "") + " " + (idv or "")).lower().split())
                        & _BOILER_CLASS_TOKENS
                    )
                ):
                    is_boiler = True
                stack.append((tag, is_boiler))
                if is_boiler:
                    boiler_depth += 1
                if tag == "a":
                    link_depth += 1
            if geo is None:
                if bbox is not None:
                    try:
                        x0, y0, x1, y1 = (float(v) for v in bbox.split(","))
                    except ValueError:
                        i = m.end()
                        continue
                    geo = {
                        "bbox": (x0, y0, x1, y1),
                        "conf": float(conf or 1.0),
                        "kind": kind or "line",
                        "parts": [],
                    }
                    geo_open_depth = len(stack)
                    i = m.end()
                    continue
                if tag in _BLOCK_TAGS:
                    if dom is not None:
                        dom_blocks.append(dom)
                    dom = {
                        "kind": "heading"
                        if tag[0] == "h" and tag[1:].isdigit()
                        else "line",
                        "parts": [],
                        "linked": 0,
                        "boiler": boiler_depth > 0,
                    }
        i = m.end()
    # close(): flush trailing open blocks (truncated fetches)
    if geo is not None:
        geo_blocks.append(geo)
    if dom is not None:
        dom_blocks.append(dom)
    return _ScannedPage(layout, zoom, geo_blocks, dom_blocks)


def _parse_html(raw: str):
    if fast_applicable(raw):
        # flat geo pages take the findall fast path; other in-grammar
        # pages the fused single-loop scan; the goahead port drives the
        # general handler for the rest (equivalence pinned by
        # tests/test_fasthtml_differential.py)
        page = _scan_geo_page(raw)
        if page is not None:
            return page
        page = _scan_page(raw)
        if page is not None:
            return page
        p = _PageParser()
        fast_feed(p, raw)
        p.close()
        return p
    p = _PageParser()
    p.feed(raw)
    p.close()
    return p


def extract_record(
    url: str,
    warc_ts,
    html: bytes | None,
    text: str | None,
    lang: str | None,
    min_confidence: float = DEFAULT_MIN_CONFIDENCE,
    existing_text_min_chars: int = DEFAULT_EXISTING_TEXT_MIN_CHARS,
    retry_limit: int = DEFAULT_RETRY_LIMIT,
    _fail_hook=None,
) -> dict:
    """Extract one page. Pure & deterministic — the unit the golden fixtures
    pin down. ``_fail_hook`` injects transient faults for retry tests
    (reference bounded retry ``core/pdf_processor.py:1195-1212``)."""
    normalizer = get_normalizer()
    out = {
        "url": url,
        "warc_ts": warc_ts,
        "lang": lang,
        "extracted_text": "",
        "norm_text": None,
        "spans": [],
        "skipped": False,
        "is_blank": False,
        "error": None,
        "n_blocks": 0,
        "n_dropped": 0,
        "retries": 0,
        "html_bytes": len(html) if html is not None else 0,
    }

    # F2: existing-text fast path — copy through unchanged (reference copies
    # the page as-is without OCR or normalization).
    if text is not None and len(text.strip()) > existing_text_min_chars:
        out["extracted_text"] = text
        out["skipped"] = True
        return out

    if html is None:
        out["error"] = "html_null"
        return out
    data = bytes(html)
    pix = None
    if data[:4] == PXPG_MAGIC:
        # binary page image (M1/M2 pixel path). Container validation
        # happens HERE, not in the retry loop: a corrupt header is
        # deterministic, so retrying is wasted work. A failed decode
        # quarantines as pxpg_decode rather than falling through to the
        # HTML path — the 4-byte magic makes genuine HTML essentially
        # impossible, while a truncated container whose tail happens to be
        # valid UTF-8 (ASCII pixel rows) would otherwise parse as garbage
        # "HTML", and one with an accidentally self-consistent header
        # would be misrouted.
        try:
            pix = decode_page_image(data)
        except ValueError as e:
            out["error"] = f"pxpg_decode: {e.args[0] if e.args else ''}"
            return out
    if pix is not None:
        arr, vertical, zoom = pix

        def _parse():
            # projection-profile segmentation → glyph recognition,
            # emitting the same geo-block shape as HTML bbox pages
            return analyze_decoded_image(arr, vertical, zoom)

    else:
        # charset resolution (BOM → strict UTF-8 → <meta> sniff with
        # WHATWG label mapping — functions/charset.py): GBK/Big5/Shift-JIS/
        # EUC-KR/cp1252 pages decode instead of quarantining; only genuine
        # decode failure (mislabeled bytes, no charset evidence) quarantines
        raw, cs_err = decode_html_bytes(data)
        if raw is None:
            out["error"] = f"html_decode: {cs_err}"
            return out

        def _parse():
            return _parse_html(raw)

    # R1: bounded in-UDF retry around the parse (deterministic — no sleep;
    # Spark task retries cover process death).
    attempts = 0
    parser = None
    while True:
        try:
            if _fail_hook is not None:
                _fail_hook(url, attempts)
            parser = _parse()
            break
        except Exception as e:  # noqa: BLE001 — quarantine, never crash the job
            attempts += 1
            if attempts > retry_limit:
                out["error"] = f"parse_error: {e.__class__.__name__}"
                out["retries"] = attempts - 1
                return out
    out["retries"] = attempts

    # F3 analog: blank page — no visible text anywhere pre-filtering.
    all_visible = "".join(
        "".join(b["parts"]) for b in parser.geo_blocks + parser.dom_blocks
    )
    if not all_visible.strip():
        out["is_blank"] = True
        return out

    # Collect candidate blocks in (text, conf, kind, bbox|None) form.
    blocks: list[Block] = []
    n_dropped = 0
    if parser.geo_blocks:
        zoom = parser.zoom or 1.0
        for g in parser.geo_blocks:
            conf = g["conf"]
            if conf < min_confidence:  # F4
                n_dropped += 1
                continue
            btext = nfkc("".join(g["parts"]))  # X1, F5
            if not btext:
                n_dropped += 1
                continue
            x0, y0, x1, y1 = g["bbox"]
            blocks.append(
                Block(x0 / zoom, y0 / zoom, x1 / zoom, y1 / zoom, btext, conf, g["kind"])
            )
        ordered = reading_order(blocks, vertical_page=(parser.layout == "vertical"))
    else:
        # DOM-density path: boilerplate + link-density stripping, document order.
        order_i = 0
        for b in parser.dom_blocks:
            raw_text = "".join(b["parts"])
            if b["boiler"]:
                n_dropped += 1
                continue
            total = len(raw_text)
            if total and b["linked"] / total > _MAX_LINK_DENSITY:
                n_dropped += 1
                continue
            btext = nfkc(raw_text)
            if not btext:
                n_dropped += 1
                continue
            blocks.append(
                Block(0.0, float(order_i), 1.0, float(order_i) + 1.0, btext, 1.0, b["kind"])
            )
            order_i += 1
        ordered = blocks  # document order IS reading order for DOM pages

    # Assemble text + spans (byte-identity contract).
    geo = bool(parser.geo_blocks)  # X4/X5 only meaningful with real bboxes
    parts: list[str] = []
    spans: list[dict] = []
    pos = 0
    for block_id, b in enumerate(ordered):
        start = pos
        parts.append(b.text)
        pos += len(b.text)
        spans.append(
            {
                "start": start,
                "end": pos,
                "block_id": block_id,
                "kind": b.kind,
                "conf": b.conf,
                "font_size": (
                    estimate_font_size(b.width, b.height, len(b.text)) if geo else None
                ),
                "is_vertical": is_vertical(b.width, b.height) if geo else None,
            }
        )
        pos += 1  # the "\n" separator
    extracted = "\n".join(parts)

    out["extracted_text"] = extracted
    out["spans"] = spans
    out["n_blocks"] = len(ordered)
    out["n_dropped"] = n_dropped
    # X2/X3 dual layer: variant-normalized twin (identical when no variants).
    out["norm_text"] = (
        normalizer.normalize(extracted)
        if normalizer.needs_normalization(extracted)
        else extracted
    )
    return out


def extract_batch(
    batch,
    min_confidence: float,
    existing_text_min_chars: int,
    retry_limit: int,
):
    """The extraction kernel: one Arrow record batch of pages in, one Arrow
    record batch of :data:`EXTRACT_SCHEMA` rows out, built columnar — no
    pandas layer on either side. :func:`extract_pages` and the job's commit
    stage (``plans/pipeline.py``) both run every batch through it.

    Input columns are read by POSITION: (url, warc_ts, html, text, lang),
    as the callers select them. ``url``, ``warc_ts`` and ``lang`` PASS
    THROUGH as the original Arrow arrays (zero conversion — the timestamp
    column keeps its UTC instants whatever the session time zone); only
    the computed columns are built, with one C-level ``pa.array`` per
    column. Measured ~15% extraction wall-time over the pandas form with
    byte-identical output (round-6).
    """
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(EXTRACT_SCHEMA)
    urls, htmls, texts, langs = (batch.column(i).to_pylist() for i in (0, 2, 3, 4))
    recs = [
        extract_record(
            u, None, h, tx, lg,
            min_confidence=min_confidence,
            existing_text_min_chars=existing_text_min_chars,
            retry_limit=retry_limit,
        )
        for u, h, tx, lg in zip(urls, htmls, texts, langs)
    ]
    passthrough = [batch.column(0), batch.column(1), batch.column(4)]  # url, warc_ts, lang
    computed = [pa.array([r[f.name] for r in recs], f.type) for f in list(schema)[3:]]
    return pa.RecordBatch.from_arrays(passthrough + computed, schema=schema)


def extract_pages(
    df: DataFrame,
    min_confidence: float = DEFAULT_MIN_CONFIDENCE,
    existing_text_min_chars: int = DEFAULT_EXISTING_TEXT_MIN_CHARS,
    retry_limit: int = DEFAULT_RETRY_LIMIT,
) -> DataFrame:
    """The extraction transform: pages → extractions. Narrow (no shuffle).

    Column pruning: only the five input columns are selected, so the scan
    reads nothing else (Catalyst pushes the projection to parquet).
    """
    pruned = df.select("url", "warc_ts", "html", "text", "lang")
    return pruned.mapInArrow(
        lambda it: (
            extract_batch(b, min_confidence, existing_text_min_chars, retry_limit)
            for b in it
        ),
        EXTRACT_SCHEMA,
    )


def repartition_by_url(df: DataFrame, num_partitions: int) -> DataFrame:
    """Explicit url-hash layout (north_rule): co-locates all work for a url
    and decorrelates hot hosts from partition boundaries."""
    return df.repartition(num_partitions, F.xxhash64("url"))


def with_host_salt(df: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Skew salting: hot hosts (mega-host urls) spread over ``salt_buckets``
    sub-keys. Used when a downstream groupBy/join keys on host; the salt is
    a plain column so AQE skew-join still composes with it."""
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    return df.withColumn("host", host).withColumn(
        "salt", F.pmod(F.xxhash64("url"), F.lit(salt_buckets)).cast("int")
    )


def dual_insert_spans(extracted: DataFrame) -> DataFrame:
    """Span-level dual-insert view (X3): explode spans; rows whose text
    changes under variant normalization appear TWICE (original + normalized
    form at the same span), mirroring the reference's two invisible text
    inserts at one bbox (``core/pdf_processor.py:661-665``).

    Pure DataFrame composition — explode + conditional array — no UDF.
    """
    sp = extracted.filter(~F.col("skipped") & F.col("error").isNull()).select(
        "url",
        "extracted_text",
        "norm_text",
        F.posexplode("spans").alias("pos", "span"),
    )
    orig = F.substring(
        F.col("extracted_text"), F.col("span.start") + 1, F.col("span.end") - F.col("span.start")
    )
    norm = F.substring(
        F.col("norm_text"), F.col("span.start") + 1, F.col("span.end") - F.col("span.start")
    )
    forms = F.when(orig != norm, F.array(orig, norm)).otherwise(F.array(orig))
    return sp.select(
        "url",
        F.col("span.start").alias("start"),
        F.col("span.end").alias("end"),
        F.col("span.block_id").alias("block_id"),
        F.col("span.kind").alias("kind"),
        F.col("span.conf").alias("conf"),
        F.explode(forms).alias("form"),
    )
