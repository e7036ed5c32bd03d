"""Common-Crawl-grade HTML → text extraction (the `html:binary` column).

BASELINE.json's input_hint declares the engine's input as an Iceberg
table of web pages ``(url, warc_ts, html:binary, text, lang)``. The
fixture-grade extractor (`textnorm.extract_text_py`) only strips tags —
enough for the byte-identical flagship contract, but not for real
Common-Crawl payloads. This module is the production extractor:

  * ``<script>/<style>/<noscript>/<template>/<svg>`` subtrees dropped
    (nesting-safe via a skip counter; script/style content arrives as
    raw text and is gated the same way);
  * comments, doctype/declarations, and processing instructions dropped;
  * character references decoded (``&amp;`` → ``&``, ``&#169;`` → ``©``)
    via the stdlib tokenizer's ``convert_charrefs``;
  * block-level elements (``p/div/h1-h6/li/tr/...``) delimit lines;
    inline elements (``a/b/i/span/...``) do not;
  * within a line, whitespace runs collapse to single spaces;
    whitespace-only lines are dropped; lines join with ``\\n``.

Execution model: HTML tokenization is genuinely imperative (stateful
tokenizer, raw-text modes) — the same category as the PNG codec
(`operators/png.py`), so it runs as per-document Python inside
Arrow-batched stages (`pandas_udf`), never as a row-at-a-time Python
UDF in the plan. At 100 TB this stage is embarrassingly parallel
(narrow map over the page scan, zero shuffle), so throughput scales
with cores exactly like the flagship extraction (BENCH.md scaling
runs). The per-doc Python cost is kept to about one C-level regex
match per construct on simple markup: `_fused_feed` matches the text
run and a whole "simple" tag (lowercase name, valueless or quoted
attributes, ``>`` or ``/>``) — or a comment, doctype or script/style
element — in one ``_SIMPLE_TOKEN`` match and applies the extractor's
handlers inline. Any other construct (uppercase names, unquoted
values, ...) takes the per-tag tolerant walk, the stdlib's own tag
regexes with the Untame conditions of `functions/structscan.py`,
which costs what it did before the simple token existed plus that
token's failed match (a page of such tags runs ~15% slower than with
the walk alone); a page outside the tame subset raises ``Untame`` and
re-runs through the stdlib ``HTMLParser``. Both paths give the stdlib's result (differential fuzz
in tests/test_structscan.py).

The extractor is deliberately lossless-structural, not a boilerplate
classifier: nav/footer text is kept (downstream quality scoring —
`operators/text_analysis.py` — is the place where boilerplate-heavy
docs get down-weighted, on extracted text, where the decision is
cheap and model-replaceable).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import (
    HTMLParser,
    attrfind_tolerant,
    commentclose,
    locatestarttagend_tolerant,
    tagfind_tolerant,
)

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from .structscan import _CDATA_CLOSE, _ENDTAG_RE, Untame, _dispatch, _parse_starttag

# Subtrees whose text content is never part of the extracted text.
_SKIP_TAGS = frozenset({"script", "style", "noscript", "template", "svg"})

# Elements that delimit lines. Everything else (a/b/i/em/strong/span/
# code/small/sup/sub/...) is inline: no break, word adjacency preserved.
_BLOCK_TAGS = frozenset(
    {
        "address", "article", "aside", "blockquote", "body", "br",
        "caption", "dd", "div", "dl", "dt", "fieldset", "figcaption",
        "figure", "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6",
        "head", "header", "hr", "html", "li", "main", "nav", "ol", "p",
        "pre", "section", "table", "tbody", "td", "tfoot", "th", "thead",
        "title", "tr", "ul",
    }
)


# Void/separator blocks: they break lines but never *contain* content,
# so they don't join the open-container stack used for provenance.
_VOID_BLOCKS = frozenset({"br", "hr"})


class _TextExtractor(HTMLParser):
    """Streaming tokenizer → (tagged lines, skip-gate) fold.

    ``convert_charrefs=True`` decodes entity/char references inside
    ordinary data (but not inside script/style raw text, which we skip
    anyway). The stdlib parser is lenient by construction — malformed
    markup (unclosed tags, stray ``<``, unknown entities) degrades to
    data or gets dropped, it never raises.

    Each emitted line carries the innermost block element open while its
    text accumulated (``p``/``li``/``h1``/``footer``/… or None at top
    level) — the provenance that downstream main-content selection keys
    on (boilerplate lives in nav/footer/li; prose lives in p).
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip = 0
        self._parts: list[str] = []
        self._blocks: list[tuple[str | None, str]] = []  # (container_tag, line)
        self._stack: list[str] = []
        self._links: list[tuple[str, str]] = []  # (href, anchor_text)
        self._a_href: str | None = None
        self._a_parts: list[str] = []
        self._metas: list[tuple[str, str]] = []  # (name, content)

    # -- tag structure -------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip += 1
        elif self._skip:
            # a block tag INSIDE a skipped subtree (<template><p>…) is
            # inert content, not a line break
            return
        elif tag == "a":
            # a new <a> implicitly closes a dangling one (invalid
            # nesting degrades the way browsers degrade it)
            self._flush_anchor()
            href = next((v for k, v in attrs if k == "href"), None)
            if href is not None:
                self._a_href = href
        elif tag == "meta":
            self._collect_meta(attrs)
        elif tag in _BLOCK_TAGS:
            self._flush_line()
            if tag not in _VOID_BLOCKS:
                self._stack.append(tag)

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            # max() keeps a stray </script> from opening the gate early
            self._skip = max(0, self._skip - 1)
        elif self._skip:
            return
        elif tag == "a":
            self._flush_anchor()
        elif tag in _BLOCK_TAGS:
            self._flush_line()
            # lenient unwind: pop to the matching open tag if present
            if tag in self._stack:
                while self._stack and self._stack.pop() != tag:
                    pass

    # <br/> / <hr/> arrive here; default impl would call start+end, which
    # for skip tags would inc+dec (no-op) — make the block break explicit.
    def handle_startendtag(self, tag: str, attrs) -> None:
        if self._skip:
            return
        if tag == "meta":  # XHTML-style <meta … />
            self._collect_meta(attrs)
        elif tag in _BLOCK_TAGS:
            self._flush_line()

    def _collect_meta(self, attrs) -> None:
        kv = {k: v for k, v in attrs}
        name, content = kv.get("name"), kv.get("content")
        if name is not None and content is not None:
            self._metas.append((name, content))

    # -- content -------------------------------------------------------
    def handle_data(self, data: str) -> None:
        if not self._skip and data:
            self._parts.append(data)
            if self._a_href is not None:
                self._a_parts.append(data)

    # comments / doctype / PIs: intentionally dropped (default no-ops).

    # -- assembly ------------------------------------------------------
    def _flush_line(self) -> None:
        if self._parts:
            line = " ".join("".join(self._parts).split())
            if line:
                self._blocks.append((self._stack[-1] if self._stack else None, line))
            self._parts.clear()

    def _flush_anchor(self) -> None:
        if self._a_href is not None:
            self._links.append(
                (self._a_href, " ".join("".join(self._a_parts).split()))
            )
        self._a_href = None
        self._a_parts.clear()

    def text(self) -> str:
        self._flush_line()
        return "\n".join(line for _tag, line in self._blocks)

    def blocks(self) -> list[tuple[str | None, str]]:
        self._flush_line()
        return list(self._blocks)

    def links(self) -> list[tuple[str, str]]:
        self._flush_anchor()  # a dangling <a> still yields its href
        return list(self._links)

    def metas(self) -> list[tuple[str, str]]:
        return list(self._metas)


def extract_text_rich_py(html: bytes | str | None) -> str:
    """bytes/str HTML → newline-separated visible text (spec above).

    The try/except inside :func:`_parse` is belt-and-braces: HTMLParser
    is documented lenient, so a pathological payload yields its partial
    text, not a task error.
    """
    return _parse(html).text()


# Kernel selector, same contract as functions/structparse.KERNEL:
# "scan" drives _TextExtractor with the FUSED tame tokenizer below
# (equivalence-or-fallback, differential-tested) and re-runs the stdlib
# walk when it raises Untame; "full" pins the stdlib walk.
KERNEL = "scan"

# The simple-tag token: the text run up to the next '<', then (when it
# is one) a whole "simple" construct in the same C-level match:
#   * an inert construct (group 2), which leaves the extractor's state
#     as it was: a comment (the stdlib's own comment closer), a doctype
#     without quotes or '[' (first '>' ends it), or a whole script/style
#     element with simple attributes, whose raw text runs to the
#     stdlib's CDATA closer (the start tag opens the skip gate, the
#     closer shuts it again);
#   * a start tag (groups 3-5) with a lowercase ASCII name and only
#     whitespace-separated ``name`` / ``name="v"`` / ``name='v'``
#     attributes (no '<' or newline inside a value), closed by ``>`` or
#     ``/>``;
#   * an end tag (group 6) with a lowercase ASCII name (the stdlib's own
#     ``endtagfind`` pattern, narrowed to lowercase).
# Over that subset the stdlib's tolerant start-tag grammar
# (locatestarttagend_tolerant / tagfind_tolerant / attrfind_tolerant)
# splits the tag the same way: the name ends at whitespace, '/' or '>'
# (none of them name characters), every attribute follows whitespace
# (the attrfind lookbehind), a quoted value ends at its first closing
# quote in both grammars, and the ``/`` of a ``/>`` is never part of an
# attribute, so it makes a handle_startendtag exactly when the stdlib's
# does. Anything else leaves groups 2-6 empty: the token then ends at
# the '<' and the per-tag tolerant walk takes that construct.
_WS = r"[ \t\n\r\f]"
_ATTR_NAME = r"[a-zA-Z_:][-.:_a-zA-Z0-9]*"
_ATTR_VALUE = r"""=(?:"[^"<\n]*"|'[^'<\n]*')"""
_SIMPLE_ATTR = rf"{_ATTR_NAME}(?:{_ATTR_VALUE})?"
_SIMPLE_ATTR_LIST = rf"(?:{_WS}+{_SIMPLE_ATTR})*"
_INERT = "|".join(
    [
        r"<!--(?s:.*?)" + commentclose.pattern,
        r"""<![dD][oO][cC][tT][yY][pP][eE][^>'"\[]*>""",
    ]
    + [
        rf"<{name}{_SIMPLE_ATTR_LIST}{_WS}*>(?s:.*?){closer.pattern}"
        for name, closer in _CDATA_CLOSE.items()
    ]
)
_SIMPLE_TOKEN = re.compile(
    rf"([^<]*)(?:({_INERT})"
    rf"|<([a-z][-.:_a-z0-9]*)({_SIMPLE_ATTR_LIST}){_WS}*(/?)>"
    r"|</\s*([a-z][-.:_a-z0-9]*)\s*>)?"
)
# the same attribute grammar, to read a simple tag's attributes: (name,
# '="value"' / "='value'" / '' when the attribute has no value)
_SIMPLE_ATTRS = re.compile(rf"({_ATTR_NAME})({_ATTR_VALUE})?")


def _attr_value(eq_quoted: str) -> str:
    """'="v"' → v with character references decoded, as the stdlib's
    attribute parse does."""
    v = eq_quoted[2:-1]
    return unescape(v) if "&" in v else v


# start tags whose attributes or CDATA content the extractor reads, and
# end tags that change its state; every other tag is inert for it
_NEEDS_ATTRS = _SKIP_TAGS | {"a", "meta"}
_INTERESTING_END = _SKIP_TAGS | _BLOCK_TAGS | {"a"}


def _fused_feed(p: _TextExtractor, s: str) -> None:
    """Fused tokenizer+extractor drive of ``p`` over ``s`` (the
    rich-extract kernel ceiling): identical final state to ``p.feed(s);
    p.close()`` on any input it completes (differential fuzz + corpus
    tests in tests/test_structscan.py), ``Untame`` on anything outside
    the tame subset (caller re-runs the stdlib walk).

    Each step is ONE ``_SIMPLE_TOKEN`` match: the text run to the next
    '<' plus, when the construct there is simple, the whole construct
    (a start tag with its attributes and ``>``/``/>``, an end tag, or an
    inert comment/doctype/script/style element). The handlers' effects
    are inlined:

      * text runs append to the open line (and an open anchor) with
        per-run ``&`` unescape — an entity can never span runs because
        runs are tag-delimited, and the stdlib never decodes an entity
        interrupted by a tag; a whitespace-only run that would start a
        line is dropped, since the line's split() strips it anyway;
      * block start/end tags flush the line and push/unwind the
        container stack; their attributes are matched, never built;
      * skip-subtree tags move the skip gate (script/style elements are
        inert tokens: their gate opens and closes within the element);
      * ``a`` opens an anchor at its first ``href`` and ``meta`` records
        its name/content pair, reading attributes with one ``findall``
        over the matched attribute text;
      * inert inline tags (b/i/span/...) and their end tags are no-ops.

    A construct the simple token rejects (uppercase name, unquoted or
    spaced ``=`` value, '<' or newline inside a quoted value, '/' junk,
    a tag cut off at EOF, an unclosed comment, a doctype with quotes,
    PIs and bogus comments, bare '<' data) takes the per-tag tolerant
    walk: the stdlib's own locate, name and attribute regexes with the
    struct scanner's Untame conditions. Like the simple path, it only
    pays for what the extractor reads: an inert or block start tag has
    its attributes validated, never built (a block tag flushes the line
    inline), an end tag reaches ``handle_endtag`` only when it can
    change state, and ``a``/``meta``/skip-subtree tags and every other
    construct go through ``structscan._parse_starttag`` /
    ``structscan._dispatch`` with the real handlers. So the two paths
    share one equivalence-or-Untame contract, and a page of rejected
    tags costs one failed construct match per tag more than the walk
    alone."""
    n = len(s)
    i = 0
    token, endtag = _SIMPLE_TOKEN.match, _ENDTAG_RE.match
    locate, tagname = locatestarttagend_tolerant.match, tagfind_tolerant.match
    attrfind = attrfind_tolerant.match
    needs_attrs, interesting_end = _NEEDS_ATTRS, _INTERESTING_END
    blocks, voids = _BLOCK_TAGS, _VOID_BLOCKS
    # the handlers clear these lists in place, so the aliases stay valid
    parts, a_parts, stack, lines = p._parts, p._a_parts, p._stack, p._blocks
    while i < n:
        m = token(s, i)
        text, inert, tag, attr_text, slash, etag = m.groups()
        i = m.end()
        # a whitespace-only run that would open a line or anchor text is
        # dropped: the flush's split() would strip it anyway
        if text and not p._skip and (parts or a_parts or not text.isspace()):
            if "&" in text:
                text = unescape(text)
            parts.append(text)
            if p._a_href is not None:
                a_parts.append(text)
        if tag is not None:
            if tag in blocks:
                if not p._skip:
                    if parts:
                        line = " ".join("".join(parts).split())
                        if line:
                            lines.append((stack[-1] if stack else None, line))
                        parts.clear()
                    if not slash and tag not in voids:
                        stack.append(tag)
            elif tag in _SKIP_TAGS:
                # a self-closed skip tag is a handle_startendtag no-op
                if not slash:
                    if tag in _CDATA_CLOSE:
                        # a script/style the inert group did not take has
                        # no closer: the stdlib buffers the rest forever
                        return
                    p._skip += 1
            elif tag == "a":
                # a new <a> closes a dangling one and opens an anchor at
                # its first href that has a value; <a/> is a no-op
                if not slash and not p._skip:
                    if p._a_href is not None:
                        p._flush_anchor()
                    for k, v in _SIMPLE_ATTRS.findall(attr_text):
                        if k.lower() == "href":
                            if v:
                                p._a_href = _attr_value(v)
                            break
            elif tag == "meta":
                if not p._skip:
                    kv = {k.lower(): v for k, v in _SIMPLE_ATTRS.findall(attr_text)}
                    name, content = kv.get("name"), kv.get("content")
                    if name and content:  # both present, both with a value
                        p._metas.append((_attr_value(name), _attr_value(content)))
        elif etag is not None:
            if etag in blocks:
                if not p._skip:
                    if parts:
                        line = " ".join("".join(parts).split())
                        if line:
                            lines.append((stack[-1] if stack else None, line))
                        parts.clear()
                    if etag in stack:
                        while stack and stack.pop() != etag:
                            pass
            elif etag in _SKIP_TAGS:
                if p._skip:
                    p._skip -= 1
            elif etag == "a" and p._a_href is not None and not p._skip:
                p._flush_anchor()
        elif inert is None and i < n:
            # a construct the simple token rejects: the per-tag walk,
            # which only pays for handlers on the tags the extractor reads
            c = s[i + 1 : i + 2]
            if c.isascii() and c.isalpha():
                lm = locate(s, i)
                e = lm.end()
                if s[e : e + 1] == ">":
                    end = e + 1
                elif s[e : e + 2] == "/>":
                    end = e + 2
                else:
                    raise Untame("junk between attributes and '>'")
                tm = tagname(s, i + 1)
                tag = tm.group(1).lower()
                if tag in needs_attrs:
                    i = _parse_starttag(p, s, i)
                    continue
                # an inert or block tag: attributes validated, not built
                k = tm.end()
                while k < end:
                    am = attrfind(s, k)
                    if am is None:
                        break
                    k = am.end()
                rest = s[k:end].strip()
                if rest != ">" and rest != "/>":
                    raise Untame("unparsed attribute junk")
                i = end
                if tag in blocks and not p._skip:
                    p._flush_line()
                    if rest == ">" and tag not in voids:
                        stack.append(tag)
            elif c == "/":
                em = endtag(s, i)
                if em is None:
                    raise Untame("malformed end tag")
                i = em.end()
                etag = em.group(1).lower()
                if etag in interesting_end:
                    p.handle_endtag(etag)
            else:
                i = _dispatch(p, s, i)


def _parse(html: bytes | str | None) -> _TextExtractor:
    parser = _TextExtractor()
    if html is None:
        return parser
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    if KERNEL == "scan":
        try:
            _fused_feed(parser, html)
            return parser
        except Untame:
            # outside the tame subset: the stdlib walk decides. Any
            # other exception is a scanner bug and propagates.
            parser = _TextExtractor()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass
    return parser


def extract_links_py(html: bytes | str | None) -> list[tuple[str, str]]:
    """HTML → ordered [(href, anchor_text)] for every ``<a href=…>``.

    Entity references in both href and anchor are decoded (the
    tokenizer decodes attribute charrefs unconditionally). Anchors in
    skipped subtrees are ignored; an ``<a>`` without href contributes
    nothing; a dangling anchor still yields its href with whatever text
    accumulated. The web-graph front half: downstream
    `operators/webtext.py:html_links` resolves these against the page
    url into absolute link targets.
    """
    return _parse(html).links()


def extract_meta_py(html: bytes | str | None) -> list[tuple[str, str]]:
    """HTML → ordered [(name, content)] for every ``<meta name content>``.

    The page-directive surface a crawl pipeline gates on: robots
    noindex/nofollow, description, generator, … Metas lacking either
    attribute (e.g. ``<meta charset>``) contribute nothing; values have
    charrefs decoded by the tokenizer.
    """
    return _parse(html).metas()


def parse_all_py(html: bytes | str | None) -> dict:
    """ONE tokenizer pass → every view: text, blocks, links, metas.

    The 100 TB contract: the corpus is tokenized exactly once. The
    separate extract_*_py functions exist for single-view callers and
    tests; production page profiling goes through here (see
    operators/webtext.py:parse_pages).
    """
    p = _parse(html)
    return {
        "text": p.text(),
        "blocks": p.blocks(),
        "links": p.links(),
        "metas": p.metas(),
    }


def extract_blocks_py(html: bytes | str | None) -> list[tuple[str | None, str]]:
    """HTML → ordered [(container_tag, line)] — text + block provenance.

    Same extraction spec as :func:`extract_text_rich_py` (joining the
    line column reproduces its output exactly), plus the innermost
    block element that produced each line. Main-content selection —
    'keep paragraph prose, drop nav/footer chrome' — is then a plain
    filter on the tag column, which is how the production pipeline
    feeds CLEAN text to triple extraction without a boilerplate model.
    """
    return _parse(html).blocks()


def _extract_series(html: pd.Series) -> pd.Series:
    return html.map(extract_text_rich_py)


@pandas_udf(StringType())
def extract_rich_udf(html: pd.Series) -> pd.Series:
    """binary html → extracted text, Arrow-batched (no per-row plan UDF)."""
    return _extract_series(html)
