# -*- coding: utf-8 -*-
"""Differential equivalence: the regex fast-path tokenizer must drive the
extraction handler to EXACTLY the same state as html.parser.HTMLParser for
every input it claims applicability on — over the full generator corpus
and hypothesis-generated adversarial HTML."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from intelligent_ocr_spark.functions import fasthtml
from intelligent_ocr_spark.functions.fasthtml import fast_applicable, fast_feed
from intelligent_ocr_spark.operators.extract import _PageParser, _parse_html, _scan_page
from intelligent_ocr_spark.sources.pages import gen_row


def _state(p: _PageParser):
    """Semantic parser state: block 'parts' lists are compared JOINED
    because event segmentation legitimately differs (the stdlib splits
    text at invalid '<' into multiple handle_data calls) while every
    consumer of parts only ever joins them."""

    def geo(b):
        return (b["bbox"], b["conf"], b["kind"], "".join(b["parts"]))

    def dom(b):
        return (b["kind"], "".join(b["parts"]), b["linked"], b["boiler"])

    return (
        p.layout,
        p.zoom,
        [geo(b) for b in p.geo_blocks],
        [dom(b) for b in p.dom_blocks],
    )


def _both(raw: str):
    slow = _PageParser()
    slow.feed(raw)
    slow.close()
    fast = _PageParser()
    fast_feed(fast, raw)
    fast.close()
    # the fused single-loop scanner and the flat-geo findall path
    # (round-6 optimizations) must agree with the stdlib-driven handler
    # on every page they accept; where they bail (None) the general path
    # takes over, so only acceptance is checked here
    from intelligent_ocr_spark.operators.extract import _scan_geo_page, _scan_page

    for scanner in (_scan_page, _scan_geo_page):
        got = scanner(raw)
        if got is not None:
            assert _state(got) == _state(slow), (scanner.__name__, raw)
    return _state(slow), _state(fast)


def test_corpus_equivalence():
    from intelligent_ocr_spark.operators.extract import _scan_page

    checked = 0
    fused_accepted = 0
    for i in range(2000):
        r = gen_row(i)
        if r["html"] is None:
            continue
        try:
            raw = bytes(r["html"]).decode("utf-8")
        except UnicodeDecodeError:
            continue
        if not fast_applicable(raw):
            continue
        s, f = _both(raw)
        assert s == f, r["url"]
        checked += 1
        if _scan_page(raw) is not None:
            fused_accepted += 1
    assert checked > 1500  # the fast path must actually cover the corpus
    # the fused scanner must actually carry the corpus, not bail it all
    # to the general path
    assert fused_accepted > 1500


# what crawled pages wrap their content in: a doctype, comments and
# <style>/<script> whose bodies hold markup-like text, entities and
# '</' sequences that are not their end tag
_REAL_HEAD = (
    "<!DOCTYPE html>\n<!-- generated -->\n<HEAD><TITLE>t &amp; u</TITLE>"
    '<style type="text/css">p > a { content: "</p>&amp;"; }</ style >'
    '<SCRIPT type="text/javascript">if (a < b && c) { s = "</p>" + "</scr" + '
    '"ipt>"; }</script x>; var t = "<b>";</Script ></HEAD>'
)


def _real_shaped(html: str) -> str:
    if "<body>" in html:
        return html.replace("<body>", "<body>" + _REAL_HEAD, 1)
    return _REAL_HEAD + html


def test_real_shaped_corpus_equivalence():
    checked = 0
    for i in range(500):
        r = gen_row(i)
        if r["html"] is None:
            continue
        try:
            raw = _real_shaped(bytes(r["html"]).decode("utf-8"))
        except UnicodeDecodeError:
            continue
        assert fast_applicable(raw), r["url"]
        s, f = _both(raw)
        assert s == f, r["url"]
        checked += 1
    assert checked > 400


def test_fast_path_enabled_on_this_interpreter():
    # a sentinel mismatch turns the fast path off silently; every
    # equivalence test above would still pass on the stdlib route
    assert fasthtml._FAST_OK


def test_real_shaped_page_never_reaches_stdlib(monkeypatch):
    page = _real_shaped(
        '<html><body><DIV class="main"><H1>Title &mdash; x</H1>'
        "<p>caf&eacute; &#104;i <A href=/x>link</A></p><!-- c -->"
        "<script>document.write('<p>no</p>')</script><p>tail</p></DIV>"
        "</body></html>"
    )
    slow = _PageParser()
    slow.feed(page)
    slow.close()

    def _no_stdlib(self, data):
        raise AssertionError("stdlib HTMLParser.feed reached")

    monkeypatch.setattr(_PageParser, "feed", _no_stdlib)
    assert _state(_parse_html(page)) == _state(slow)
    # the fused scanner must bail on CDATA content, never tokenize it
    assert _scan_page("<p>x</p><script>a<b>c</b></script>") is None
    assert _scan_page("<p>x</p><STYLE>a<b>c</b></STYLE>") is None


_TAGS = [
    "p", "div", "a", "li", "h1", "td", "nav", "em", "my-tag", "br", "img",
    "script", "style", "SCRIPT", "Style",
]
_ATTR_FRAG = [
    "", ' class="menu"', " href=/x", ' data-bbox="1,2,3,4"', ' data-conf="0.7"',
    ' id="a b"', " disabled", ' title="x > y"', " x='1'", ' q="a&amp;b"',
    # strict-attr fast-path stressors: multi-attr runs, no-space packing,
    # empty values, uppercase names, mixed quote styles, trailing slash
    ' a="1" b="2" c="3"', ' href="x"class="y"', ' e=""', ' HREF="UP"',
    ' a-b_c1="v" z="w"', ' a="1" b=\'2\'', ' a="1" disabled', ' a="x/y" /',
    ' a = "1"', ' a="<i>"',
]
_TEXT = [
    "hello", "a & b", "&amp;", "x &lt; y", "  ", "中文 ＡＢ", "", "1 < 2?", "a&b",
    "<!DOCTYPE html>", "<!-- a comment -->", "<!--->", "<?pi data?>", "<!bogus>",
    # CDATA-content stressors: close tags with attributes or spaces, an
    # uppercase open tag with attributes, a self-closing script, end-tag
    # look-alikes inside a body, and an element left open to the end
    "</script x>", "</ script >", '<SCRIPT type="x">', "<script/>", "</STYLE >",
    "</p>", '"</scr"+"ipt>"', "<script>a < b &amp; </p>", "<style>unterminated",
]


@st.composite
def html_doc(draw):
    n = draw(st.integers(0, 20))
    parts = []
    for _ in range(n):
        kind = draw(st.integers(0, 3))
        if kind == 0:
            parts.append(draw(st.sampled_from(_TEXT)))
        elif kind == 1:
            tag = draw(st.sampled_from(_TAGS))
            parts.append(f"<{tag}{draw(st.sampled_from(_ATTR_FRAG))}>")
        elif kind == 2:
            parts.append(f"</{draw(st.sampled_from(_TAGS))}>")
        else:
            tag = draw(st.sampled_from(_TAGS))
            parts.append(f"<{tag}{draw(st.sampled_from(_ATTR_FRAG))}/>")
    return "".join(parts)


@given(html_doc())
@settings(max_examples=400, deadline=None)
def test_structured_fuzz_equivalence(doc):
    if not fast_applicable(doc):
        return
    s, f = _both(doc)
    assert s == f, doc


# raw fuzz: single characters plus the script/style name fragments, so
# CDATA open/close tags (and near misses) appear in the tag soup
_RAW_UNITS = list("<>/ab c=\"'&;!?-.123\n") + [
    "script", "style", "SCRIPT", "<script>", "</script", "<style", "</style>",
]


@given(st.lists(st.sampled_from(_RAW_UNITS), max_size=60).map("".join))
@settings(max_examples=400, deadline=None)
def test_raw_fuzz_equivalence_or_bail(doc):
    """Arbitrary tag-soup: wherever the fast path claims applicability it
    must match the stdlib parser exactly."""
    if not fast_applicable(doc):
        return
    s, f = _both(doc)
    assert s == f, repr(doc)


def test_bail_conditions():
    # real-world page constructs stay ON the fast path
    assert fast_applicable("<!-- comment --><p>x</p>")
    assert fast_applicable("<!DOCTYPE html><p>x</p>")
    assert fast_applicable("<?php echo 1 ?>")
    assert fast_applicable("<p>plain</p>")
    assert fast_applicable("<script>var x;</script>")
    assert fast_applicable("<STYLE>.c{}</STYLE>")
    # marked sections bail to the stdlib
    assert not fast_applicable("<![CDATA[x]]>")
    assert not fast_applicable("<![if IE]>x<![endif]>")
