# -*- coding: utf-8 -*-
"""Fast-path HTML tokenizer — a non-incremental port of
``html.parser.HTMLParser.goahead`` driving the same handler ~2× faster.

``HTMLParser`` is pure Python; most of its per-tag cost is the
incremental-feed machinery (``updatepos`` bookkeeping, buffer-boundary
checks, re-dispatch through ``interesting``/``goahead``) that exists so
``feed()`` can be called with partial data. Extraction always has the whole
document, so this module re-runs the SAME parse — using html.parser's own
compiled tolerant regexes (``tagfind_tolerant``, ``attrfind_tolerant``,
``locatestarttagend_tolerant``, ``endtagfind``, ``starttagopen``) and a
line-by-line port of ``goahead``/``parse_starttag``/``parse_endtag``/
``check_for_whole_start_tag`` under end-of-input semantics — in one tight
loop. Sharing the stdlib's regexes and control flow makes equivalence a
matter of construction; tests/test_fasthtml_differential.py pins it with
corpus + fuzz differentials against the stdlib parser itself.

Comments, doctypes and PIs map to no-op handlers, and the CDATA-content
elements (``<script>``, ``<style>``) run goahead's CDATA mode: their body is
emitted raw up to the matching end tag. The one construct left out,
marked sections (``<![``), is detected by ``fast_applicable`` and routed
to the stdlib parser.
"""

from __future__ import annotations

from html import unescape
import re

try:  # the stdlib's own tolerant grammar, shared — private but stable in
    # practice; an import-time sentinel self-test (below) disables the fast
    # path wholesale if a future CPython renames or changes them
    from html.parser import (
        attrfind_tolerant,
        commentclose,
        endtagfind,
        locatestarttagend_tolerant,
        piclose,
        starttagopen,
        tagfind_tolerant,
    )

    _IMPORTS_OK = True
except ImportError:  # pragma: no cover - future-python guard
    _IMPORTS_OK = False

__all__ = ["fast_applicable", "fast_feed"]

# the one construct the port does not model: marked sections
# ('<![CDATA[', '<![if'). Comments, doctypes, PIs and the CDATA-content
# elements <script>/<style> ARE modeled, so real-world pages — which
# virtually all carry a doctype, comments and script/style — stay on the
# fast path.
_BAIL_RE = re.compile(r"<!\[")

# goahead's CDATA-content mode: after a <script>/<style> start tag,
# set_cdata_mode makes ``interesting`` this end-tag search (CPython's
# CDATA_CONTENT_ELEMENTS is exactly ("script", "style"))
_CDATA_END = {
    tag: re.compile(r"</\s*%s\s*>" % tag, re.I) for tag in ("script", "style")
}

_ALPHA_EQ_SLASH = "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LETTERS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"

# strict common attribute shape: lowercase-name="value", no '&' (no
# unescape needed), value may contain anything else incl. <> (same as the
# stdlib's quoted-value grammar); trailing whitespace consumed like
# attrfind_tolerant does
_SIMPLE_ATTR = re.compile(r'([a-z][a-z0-9_-]*)="([^"&]*)"\s*')

# master token regex for the ONE-matcher dispatch loop in fast_feed: one
# C-level match classifies and consumes the three dominant token shapes
# (data run / strict start tag / plain end tag). Each branch encodes
# EXACTLY the conditions of the corresponding per-construct fast path
# below, so a master miss implies the per-construct fast paths would also
# miss and the fallback route produces the identical event stream:
#   group 1: data run ([^<]+ — unescaped like goahead's data emit);
#   group 2+3: '<' NAME TRAIL ATTRS '>' where NAME/TRAIL mirror
#     tagfind_tolerant ('[a-zA-Z][^\t\n\r\f />\x00]*' then
#     '(?:\s|/(?!>))*') and ATTRS is a run of _SIMPLE_ATTR units
#     (possibly empty — group 3 distinguishes the no-attr fast path);
#   group 4: '</' NAME '>' with an ascii-alnum name (unicode-alnum names
#     — accepted by the per-construct fast path — fall through to it).
_TOK = re.compile(
    r"([^<]+)"
    r"|<([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*"
    r"((?:[a-z][a-z0-9_-]*=\"[^\"&]*\"\s*)*)>"
    r"|</([a-zA-Z][a-zA-Z0-9]*)>"
)
_SIMPLE_ATTR_FIND = re.compile(r'([a-z][a-z0-9_-]*)="([^"&]*)"')


def fast_applicable(raw: str) -> bool:
    """True when the fast port's grammar covers this input."""
    return _FAST_OK and _BAIL_RE.search(raw) is None


def _check_whole_start_tag(raw: str, i: int) -> int:
    """Port of ``check_for_whole_start_tag`` (end-of-input: a buffer
    boundary IS the end, so -1 means 'junk recovery' to the caller)."""
    m = locatestarttagend_tolerant.match(raw, i)
    j = m.end()
    nxt = raw[j : j + 1]
    if nxt == ">":
        return j + 1
    if nxt == "/":
        if raw.startswith("/>", j):
            return j + 2
        if raw.startswith("/", j):
            return -1
        if j > i:
            return j
        return i + 1
    if nxt == "":
        return -1
    if nxt in _ALPHA_EQ_SLASH:
        return -1
    if j > i:
        return j
    return i + 1


def _parse_starttag(handler, raw: str, i: int) -> int:
    """Port of ``parse_starttag``; every start tag it emits goes through
    :func:`_emit_starttag`, except the ``/>`` form (``<script/>`` opens no
    CDATA content)."""
    # fast path: attribute-less tag ('<p>', '<li>', …) — the dominant
    # shape. tagfind_tolerant consumes the name plus trailing space/slash
    # runs, so name-then-'>' means: no attrs, endpos = k+1, end == '>';
    # identical to the full route below (differential suite pins it).
    m = tagfind_tolerant.match(raw, i + 1)
    k0 = m.end()
    if raw[k0 : k0 + 1] == ">":
        return _emit_starttag(handler, raw, k0 + 1, m.group(1).lower(), [])
    # fast path 2: a run of strict name="value" attributes then '>' —
    # exactly what attrfind_tolerant would yield for this shape (names
    # already lowercase, quotes stripped, no '&' so no unescape)
    fast_attrs = []
    j = k0
    while True:
        am = _SIMPLE_ATTR.match(raw, j)
        if am is None:
            break
        fast_attrs.append((am.group(1), am.group(2)))
        j = am.end()
    if fast_attrs and raw[j : j + 1] == ">":
        return _emit_starttag(handler, raw, j + 1, m.group(1).lower(), fast_attrs)
    endpos = _check_whole_start_tag(raw, i)
    if endpos < 0:
        return endpos
    attrs = []
    k = m.end()  # tagfind match from the fast check above (always matches
    # after starttagopen: '<' + letter guarantees the name prefix)
    tag = m.group(1).lower()
    while k < endpos:
        am = attrfind_tolerant.match(raw, k)
        if not am:
            break
        attrname, rest, attrvalue = am.group(1, 2, 3)
        if not rest:
            attrvalue = None
        elif (
            attrvalue[:1] == "'" == attrvalue[-1:]
            or attrvalue[:1] == '"' == attrvalue[-1:]
        ):
            attrvalue = attrvalue[1:-1]
        if attrvalue:
            attrvalue = unescape(attrvalue)
        attrs.append((attrname.lower(), attrvalue))
        k = am.end()
    end = raw[k:endpos].strip()
    if end not in (">", "/>"):
        handler.handle_data(raw[i:endpos])  # stdlib: raw, no unescape here
        return endpos
    if end.endswith("/>"):
        # default handle_startendtag == starttag + endtag
        handler.handle_starttag(tag, attrs)
        handler.handle_endtag(tag)
        return endpos
    return _emit_starttag(handler, raw, endpos, tag, attrs)


def _emit_starttag(handler, raw: str, endpos: int, tag: str, attrs) -> int:
    """``handle_starttag`` plus ``set_cdata_mode``: returns where goahead
    resumes, which is past the CDATA content for ``<script>``/``<style>``."""
    handler.handle_starttag(tag, attrs)
    if tag in _CDATA_END:
        return _parse_cdata_content(handler, raw, endpos, tag)
    return endpos


def _parse_cdata_content(handler, raw: str, i: int, tag: str) -> int:
    """Port of goahead in CDATA-content mode, from ``set_cdata_mode(tag)``
    to ``clear_cdata_mode``: the element body is emitted raw (no unescape)
    up to the first ``</tag>`` that ``parse_endtag`` accepts. Returns where
    normal parsing resumes. With no end tag it returns ``len(raw)``:
    goahead breaks and close() flushes nothing in CDATA mode, so the rest
    of the document is dropped."""
    interesting = _CDATA_END[tag]
    while True:
        m = interesting.search(raw, i)
        if m is None:
            return len(raw)
        j = m.start()
        if i < j:
            handler.handle_data(raw[i:j])
        # parse_endtag with cdata_elem set; the match's only '>' is its
        # last char, so endendtag's gtpos is m.end(). endtagfind rejects a
        # match that re.I found through a non-ASCII case fold ('ſ', 'ı'),
        # and then the end tag is content too.
        gtpos = m.end()
        em = endtagfind.match(raw, j)
        if em is not None and em.group(1).lower() == tag:
            handler.handle_endtag(tag)
            return gtpos
        handler.handle_data(raw[j:gtpos])
        i = gtpos


def _parse_endtag(handler, raw: str, i: int) -> int:
    """Port of ``parse_endtag`` outside CDATA mode (inside it,
    :func:`_parse_cdata_content` handles end tags; handle_comment is a no-op
    on our handler, so bogus comments just skip)."""
    gt = raw.find(">", i + 1)
    if gt < 0:
        return -1
    gtpos = gt + 1
    # fast path: '</name>' with a plain alphanumeric name — what endtagfind
    # would match with group(1) == name; skips the verbose-regex engine.
    name = raw[i + 2 : gt]
    if name and name[0].isascii() and name[0].isalpha() and name.isalnum():
        handler.handle_endtag(name.lower())
        return gtpos
    m = endtagfind.match(raw, i)
    if not m:
        nm = tagfind_tolerant.match(raw, i + 2)
        if not nm:
            if raw[i : i + 3] == "</>":
                return i + 3
            pos = raw.find(">", i + 2)  # parse_bogus_comment; comment ignored
            if pos == -1:
                return -1
            return pos + 1
        handler.handle_endtag(nm.group(1).lower())
        return raw.find(">", nm.end()) + 1
    handler.handle_endtag(m.group(1).lower())
    return gtpos


def _parse_comment(raw: str, i: int) -> int:
    """Port of ``parse_comment`` — handle_comment is a no-op on our handler."""
    m = commentclose.search(raw, i + 4)
    if not m:
        return -1
    return m.end()


def _parse_html_declaration(raw: str, i: int) -> int:
    """Port of ``parse_html_declaration`` for handlers whose decl/comment
    hooks are no-ops (marked sections '<![' bail before the fast path)."""
    if raw[i : i + 4] == "<!--":
        return _parse_comment(raw, i)
    if raw[i : i + 9].lower() == "<!doctype":
        gtpos = raw.find(">", i + 9)
        if gtpos == -1:
            return -1
        return gtpos + 1  # handle_decl: no-op
    pos = raw.find(">", i + 2)  # parse_bogus_comment; handle_comment: no-op
    if pos == -1:
        return -1
    return pos + 1


def _parse_pi(raw: str, i: int) -> int:
    """Port of ``parse_pi`` — handle_pi is a no-op on our handler."""
    m = piclose.search(raw, i + 2)
    if not m:
        return -1
    return m.end()


def fast_feed(handler, raw: str) -> None:
    """Port of ``goahead(end=1)`` for convert_charrefs handlers: drive
    ``handler`` with the exact event stream HTMLParser would produce.

    Hot loop = one ``_TOK.match`` per token (data run / strict start tag /
    plain end tag — ~99% of tokens on real pages); anything else falls to
    the original per-construct ports, unchanged. A ``<script>``/``<style>``
    body is skipped with one end-tag search. Equivalence is pinned by
    tests/test_fasthtml_differential.py (corpus + hypothesis fuzz)."""
    handle_data = handler.handle_data
    handle_starttag = handler.handle_starttag
    handle_endtag = handler.handle_endtag
    tok = _TOK.match
    n = len(raw)
    i = 0
    while i < n:
        m = tok(raw, i)
        if m is not None:
            li = m.lastindex
            if li == 1:
                s = m[1]
                handle_data(unescape(s) if "&" in s else s)
            elif li == 4:
                handle_endtag(m[4].lower())
            else:
                tag = m[2].lower()
                attrs = m[3]
                handle_starttag(
                    tag, _SIMPLE_ATTR_FIND.findall(attrs) if attrs else []
                )
                if tag in _CDATA_END:  # never '<script/>': _TOK excludes '/>'
                    i = _parse_cdata_content(handler, raw, m.end(), tag)
                    continue
            i = m.end()
            continue
        nxt = raw[i + 1 : i + 2]
        if nxt and nxt in _ASCII_LETTERS:  # starttagopen: '<' + letter
            k = _parse_starttag(handler, raw, i)
        elif raw.startswith("</", i):
            k = _parse_endtag(handler, raw, i)
        elif raw.startswith("<!--", i):
            k = _parse_comment(raw, i)
        elif raw.startswith("<?", i):
            k = _parse_pi(raw, i)
        elif raw.startswith("<!", i):
            k = _parse_html_declaration(raw, i)
        elif i + 1 < n:
            handle_data("<")
            k = i + 1
        else:  # lone '<' at EOF: goahead breaks, close() flushes it as data
            handle_data("<")
            k = n
        if k < 0:  # incomplete under end-of-input → junk recovery
            k = raw.find(">", i + 1)
            if k < 0:
                k = raw.find("<", i + 1)
                if k < 0:
                    k = i + 1
            else:
                k += 1
            handle_data(unescape(raw[i:k]))
        i = k


def _selftest() -> bool:
    """Import-time sentinel: the port must reproduce the running stdlib's
    event stream on construct-dense documents; otherwise (e.g. a future
    CPython changed tokenization) the fast path disables itself and every
    input takes the stdlib route.

    The second document pins the CDATA-content mode. Later CPython patch
    releases changed it: ``</script foo>`` closes the element, an
    unterminated element's body is flushed as data, ``--!>`` closes a
    comment, and title/textarea/xmp/iframe/noembed/noframes/plaintext get
    raw-text or RCDATA content. Each of those differs from the port here,
    so such an interpreter turns the fast path off."""
    if not _IMPORTS_OK:
        return False
    from html.parser import HTMLParser

    sentinels = (
        '<!DOCTYPE html><!-- c --><?pi?><p a="1" b=/x/ disabled/>t &amp; x'
        "</><</1><a <>text</p junk><br/><i>&#20013;</i> <",
        '<SCRIPT type="x">if (a < b && c) { s = "</p>" + "</scr" + "ipt>"; }'
        "</script foo>&amp;</Script >t<style>p{}</ style ><script/>&lt;"
        "<style>a</styles></ſtyle></style><!--x--!>y-->"
        "<title>&amp;<b>t</b></title><textarea><i>x</i></textarea>"
        "<xmp><a>z</a></xmp><iframe><p>w</p></iframe><noembed><p>e</p>"
        "</noembed><noframes><p>f</p></noframes><plaintext><p>g</p>"
        "<script>a < b; unterminated</p>",
    )

    class _Rec(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self.ev = []

        def handle_starttag(self, t, a):
            self.ev.append(("s", t, tuple(a)))

        def handle_endtag(self, t):
            self.ev.append(("e", t))

        def handle_data(self, d):
            # record concatenated-equivalent form (segmentation may differ)
            if self.ev and self.ev[-1][0] == "d":
                self.ev[-1] = ("d", self.ev[-1][1] + d)
            else:
                self.ev.append(("d", d))

    try:
        for sentinel in sentinels:
            ref = _Rec()
            ref.feed(sentinel)
            ref.close()
            got = _Rec()
            fast_feed(got, sentinel)
            got.close()
            if ref.ev != got.ev:
                return False
        return True
    except Exception:  # pragma: no cover - future-python guard
        return False


_FAST_OK = _selftest()
