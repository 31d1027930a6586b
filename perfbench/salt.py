"""Deterministic "real-shaped" salt for generator pages.

``salt_html(html, i, seed)`` rewrites one page of the synthetic generator
(``intelligent_ocr_spark.sources.pages.gen_row``) into the shape crawled
pages have: a doctype, comments, a ``<head>`` with multi-KB ``<style>`` and
``<script>`` blocks, entities in the text, uppercase tags, reordered
attributes, and a share re-encoded to GBK, Shift-JIS or windows-1252 with a
``<meta charset>`` inside the first 4 KiB. The result is a pure function of
``(seed, i, html)``.

The salt keeps each row's document class: it adds no visible text (head,
script, style and comments are boilerplate), never touches a row whose html
is NULL or not a generator page (the quarantine rows), and gives blank pages
no script or style, because boilerplate text would make them non-blank.
"""

from __future__ import annotations

import random
import re

from intelligent_ocr_spark.sources.pages import doc_class

BLANK_CLASS = 3

#: legacy encodings the salt uses, as (meta label, Python codec). The labels
#: map to the same codecs in ``functions/charset.py``.
ENCODINGS = (("gbk", "gb18030"), ("shift_jis", "cp932"), ("windows-1252", "cp1252"))

_JS_WORDS = (
    "var let const function return if else for while new this null true "
    "false typeof window document push length map filter reduce JSON "
    "parse stringify setTimeout addEventListener querySelector dataset"
).split()
_CSS_PROPS = (
    "margin padding color background font-size line-height display "
    "border width height position top left z-index opacity"
).split()


def _snippet_pool(kind: str, n: int, size: int) -> tuple[str, ...]:
    """Fixed pool of script/style snippets; rows pick from it, which keeps
    salting cheap while pages still differ."""
    rng = random.Random(f"pool:{kind}")
    out = []
    for k in range(n):
        parts: list[str] = []
        length = 0
        while length < size:
            if kind == "js":
                w = rng.choice(_JS_WORDS)
                piece = f"{w}_{rng.randrange(1000)}({rng.randrange(100)}, \"{rng.choice(_JS_WORDS)}\"); "
            else:
                piece = f".c{k}-{rng.randrange(1000)} {{ {rng.choice(_CSS_PROPS)}: {rng.randrange(40)}px; }}\n"
            parts.append(piece)
            length += len(piece)
        out.append("".join(parts))
    return tuple(out)


_JS_POOL = _snippet_pool("js", 64, 1024)
_CSS_POOL = _snippet_pool("css", 32, 512)

_ATTR_DIV = re.compile(
    r'<div class="block" data-bbox="([^"]*)" data-conf="([^"]*)" data-kind="([^"]*)">'
)
_UPPER_TAGS = re.compile(r"<(/?)(div|p|li|a|ul|nav|footer|header|article|h1|body)\b")
_ENTITIES = (("©", "&copy;"), ("—", "&mdash;"), (" the ", " t&#104;e "))


def _reorder_attrs(m: re.Match) -> str:
    bbox, conf, kind = m.groups()
    return f'<div data-kind="{kind}" data-conf="{conf}" class="block" data-bbox="{bbox}">'


def salt_html(html: bytes | None, i: int, seed: int) -> bytes | None:
    """Salt one generator page; rows that are not generator pages pass."""
    if html is None or not html.startswith(b"<html"):
        return html
    rng = random.Random(f"salt:{seed}:{i}")
    page = html.decode("utf-8")
    if rng.random() < 0.5:
        page = _ATTR_DIV.sub(_reorder_attrs, page)
    if rng.random() < 0.3:
        page = _UPPER_TAGS.sub(lambda m: f"<{m.group(1)}{m.group(2).upper()}", page)
    for plain, ent in _ENTITIES:
        page = page.replace(plain, ent)

    encoding = None
    if rng.random() < 0.35:
        label, codec = ENCODINGS[rng.randrange(len(ENCODINGS))]
        encoding = (label, codec)
    head = ['<meta charset="%s">' % (encoding[0] if encoding else "utf-8")]
    head.append(f"<!-- cache node {rng.randrange(1 << 20):05x} -->")
    if doc_class(i) != BLANK_CLASS:
        if rng.random() < 0.6:
            css = "".join(rng.choice(_CSS_POOL) for _ in range(rng.randint(2, 6)))
            head.append(f"<style>\n{css}</style>")
        if rng.random() < 0.5:
            js = "".join(rng.choice(_JS_POOL) for _ in range(rng.randint(8, 22)))
            head.append(f'<script type="text/javascript">\n{js}\n</script>')
    open_end = page.index(">") + 1
    page = (
        "<!DOCTYPE html>\n<!-- generated page -->\n"
        + page[:open_end]
        + "<head>" + "\n".join(head) + "</head>"
        + page[open_end:]
    )
    if encoding is not None:
        try:
            return page.encode(encoding[1])
        except UnicodeEncodeError:
            # text outside the codec (e.g. Chinese in Shift-JIS): keep utf-8
            # and say so, so the meta never lies about the bytes
            page = page.replace(f'<meta charset="{encoding[0]}">', '<meta charset="utf-8">', 1)
    return page.encode("utf-8")
