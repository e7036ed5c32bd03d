"""Differential tests: the fast scanner vs the stdlib HTMLParser walk.

The fast path's contract is EQUIVALENCE-OR-FALLBACK: wherever
scan_structdata completes, its _StructParser state must match a full
feed() of the same page; anything outside the tame subset must raise
Untame (and parse_structdata_py then silently uses the full walk).
"""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rdf_to_text_spark.fixtures_struct import render_struct_page_py
from rdf_to_text_spark.fixtures_web import render_rich_page_py
from rdf_to_text_spark.functions import structparse
from rdf_to_text_spark.functions.structparse import _StructParser, parse_structdata_py
from rdf_to_text_spark.functions.structscan import Untame, scan_structdata


def _full(html: str) -> dict:
    p = _StructParser()
    try:
        p.feed(html)
        p.close()
    except Exception:
        pass
    p.finalize()
    return {"j": p.jsonld_blocks(), "m": p.md_rows, "t": p.tb_rows}


def _fast(html: str) -> dict | None:
    p = _StructParser()
    try:
        scan_structdata(p, html)
    except Untame:
        return None
    p.finalize()
    return {"j": p.jsonld_blocks(), "m": p.md_rows, "t": p.tb_rows}


def _assert_equiv(html: str):
    fast = _fast(html)
    if fast is not None:
        assert fast == _full(html), html[:400]


def test_struct_fixture_corpus_scans_fast_and_equal():
    completed = 0
    for d in range(0, 400):
        html = render_struct_page_py(d)["html"].decode()
        fast = _fast(html)
        assert fast is not None, f"doc {d} fell back"  # fixture is tame
        assert fast == _full(html), f"doc {d}"
        completed += 1
    assert completed == 400


def test_rich_fixture_corpus_equivalence():
    for d in range(0, 200):
        _assert_equiv(render_rich_page_py(d)["html"].decode())


TAME_CASES = [
    # prose-heavy page, carriers sparse
    "<html><body>" + "<p>plain prose itemscope-free</p>" * 50
    + '<div itemscope itemid="X"><meta itemprop="k" content="v"></div>'
    + "</body></html>",
    # needle word in plain text, real carrier after
    "<p>the word itemscope appears in prose</p>"
    '<table class="infobox"><tr><th>K</th><td>V</td></tr></table>',
    # needle inside an attribute VALUE of a skippable tag
    '<p title="itemscope decoy">x</p>'
    '<div itemscope itemid="Y"><span itemprop="a">b</span></div>',
    # quoted '>' before a REAL itemscope in the same tag
    '<div title="a>b" itemscope itemid="Z"><span itemprop="k">v</span></div>',
    # uppercase everything
    '<TABLE CLASS="infobox"><TR><TH>K</TH><TD>V</TD></TR></TABLE>',
    # comments hiding carriers (must stay hidden)
    '<!-- <table class="infobox"><tr><th>A</th><td>1</td></tr></table> -->'
    '<table class="infobox"><tr><th>B</th><td>2</td></tr></table>',
    # doctype + PI + decoy script + entity refs in captured text
    "<!DOCTYPE html><?php notphp ?>"
    '<script type="text/javascript">var x = "<table>"</script>'
    '<div itemscope itemid="E"><span itemprop="amp">a &amp; b</span></div>',
    # unclosed ld+json at EOF (finalize flush)
    '<script type="application/ld+json">{"@id":"A","p":"v"}',
    # CDATA closer with whitespace
    '<script type="application/ld+json">{"@id":"B","q":"w"}</script >',
    # self-closing script mints nothing
    '<script type="application/ld+json"/><p>x</p>',
    # itemprop with no open item is dropped in idle
    '<span itemprop="orphan">x</span><div itemscope itemid="I"></div>',
    # stray end tags between carriers (depth drift must be harmless)
    "</div></span><table class='infobox'><tr><th>K</th><td>V</td></tr></table>",
    # nested template with fake item inside (skip subtree, not CDATA)
    "<template><div itemscope itemid='F'><span itemprop='x'>no</span></div></template>"
    "<div itemscope itemid='R'><span itemprop='y'>yes</span></div>",
    # svg subtree + table inside svg is inert
    "<svg><table class='infobox'><tr><th>N</th><td>1</td></tr></table></svg>"
    "<table class='infobox'><tr><th>M</th><td>2</td></tr></table>",
    # bare '<' as data, then a carrier
    "<p>3 < 5 itemscope</p><div itemscope itemid='L'></div>",
    # '<' inside an attr name: the tolerant grammar eats it (both paths)
    "<div itemscope <span>",
    # '/x' between attrs: tolerant separator, attrs = itemscope + x
    "<div itemscope /x>",
    # stray malformed end tag in idle: skipped as a no-op, carrier kept
    "</div junk><table class='infobox'><tr><th>a</th><td>b</td></tr></table>",
    # quoted '<' BEFORE itemscope in the same tag (the round-6 ADVICE
    # bug: backward classification misread the quoted '<' as text and
    # dropped the item)
    '<div title="a < b" itemscope itemid="Q"><span itemprop="k">v</span></div>',
    # quoted '<' before the infobox class token in the carrier tag
    '<table title="x < y" class="infobox"><tr><th>K</th><td>V</td></tr></table>',
    # quoted '<' followed by an ALPHA char: must not parse a phantom
    # <p...> tag out of the attribute value
    '<div title="<p" itemscope itemid="W"><span itemprop="a">b</span></div>',
    # unquoted attribute value containing '<' (bare-value grammar
    # allows it); the tag still owns the itemscope
    '<div a=b<c itemscope itemid="U"><span itemprop="x">y</span></div>',
    # uppercase carrier with a quoted '<' in the attribute list
    '<DIV TITLE="A < B" ITEMSCOPE ITEMID="C"><SPAN ITEMPROP="P">q</SPAN></DIV>',
    # end-tag junk swallowing a fake carrier (stdlib discards to the
    # first '>'), then a real one
    '</div junk <table class="infobox">'
    '<table class="infobox"><tr><th>R</th><td>1</td></tr></table>',
    # prose '<' data before a bare-word needle, then a real carrier
    "<p>x</p> a < b itemscope word "
    '<div itemscope itemid="T"><span itemprop="m">n</span></div>',
    # '<' + a non-ASCII letter is '<' data (the stdlib's starttagopen is
    # <[a-zA-Z]), also in the idle walk before a bare needle
    "<p>a <\u00e9 b infobox</p>",
    "<p>\u4e2d <\u4e2d itemscope</p>"
    '<div itemscope itemid="N"><span itemprop="k">v</span></div>',
    # bare self-closing uppercase tags inside an open item: the '/' the
    # locate regex swallows still makes them self-closing, as in the
    # stdlib
    '<div itemscope itemid="S"><BR/><span itemprop="k">v</span><P/></div>',
]


@pytest.mark.parametrize("html", TAME_CASES)
def test_tame_cases_complete_and_match(html):
    fast = _fast(html)
    assert fast is not None, "expected the fast path to complete"
    assert fast == _full(html)


def test_non_ascii_letter_after_lt_is_data(monkeypatch):
    html = "<p>a <\u00e9 b infobox</p>"
    got = parse_structdata_py(html)  # the scanner must not raise
    monkeypatch.setattr(structparse, "KERNEL", "full")
    assert got == parse_structdata_py(html)
    assert _fused_views(html) == _full_views(html)
    assert _full_views(html)["t"] == "a <\u00e9 b infobox"


UNTAME_CASES = [
    "<![CDATA[ <table class='infobox'> ]]>",       # marked section
    "<!-- never closed <table class='infobox'>",   # unterminated comment
    '<div itemscope a="x>',                  # unterminated quoted value
    "<table class='infobox'></tr junk><tr><th>a</th><td>b</td></tr></table>",
]


@pytest.mark.parametrize("html", UNTAME_CASES)
def test_untame_falls_back_to_full_parse(html):
    assert _fast(html) is None  # scanner refuses
    # ...and the public API still answers via the full walk
    assert parse_structdata_py(html) == {
        "jsonld": _full(html)["j"] and __import__(
            "rdf_to_text_spark.functions.structparse", fromlist=["flatten_jsonld"]
        ).flatten_jsonld(_full(html)["j"]) or [],
        "microdata": [tuple(r) for r in _full(html)["m"]],
        "infobox": [tuple(r) for r in _full(html)["t"]],
    }


_soup = st.text(
    alphabet=st.sampled_from(
        list("<>/=\"' abcdeitemscopeitemproptablescriptldjsoninfobox&#;!-?")
    ),
    max_size=220,
)


@given(_soup)
@settings(max_examples=400, deadline=None)
def test_differential_fuzz_soup(html):
    _assert_equiv(html)


# Attribute-soup shapes: random quoted/unquoted attr junk (including
# '<' and '>' inside quotes) in front of a needle word inside a real
# carrier tag — the shape family of the round-6 ADVICE bug.
_attr_soup = st.text(
    alphabet=st.sampled_from(list("<>\"' =/abitemscope")), max_size=24
)


@given(_attr_soup, st.sampled_from(["itemscope", 'class="infobox"']))
@settings(max_examples=300, deadline=None)
def test_differential_fuzz_quoted_attrs(attrs, needle_attr):
    tag = "table" if "infobox" in needle_attr else "div"
    _assert_equiv(
        f"<p>prose</p><{tag} {attrs} {needle_attr} id='z'>"
        f"<tr><th>K</th><td>V</td></tr><span itemprop='k'>v</span></{tag}>"
    )


@given(_attr_soup)
@settings(max_examples=200, deadline=None)
def test_differential_fuzz_idle_span_junk(junk):
    # junk (possibly containing stray '<'/quotes) in PLAIN TEXT before
    # a bare needle word, then a real carrier — classification must not
    # let span junk leak into or hide the carrier
    _assert_equiv(
        f"<p>a</p>{junk} itemscope "
        '<div itemscope itemid="J"><span itemprop="p">q</span></div>'
    )


@given(st.binary(max_size=200))
@settings(max_examples=150, deadline=None)
def test_differential_fuzz_bytes(payload):
    _assert_equiv(payload.decode("utf-8", errors="replace"))


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=80, deadline=None)
def test_differential_fuzz_fixture_ids(d):
    _assert_equiv(render_struct_page_py(d)["html"].decode())


def test_kernel_flag_pins_full_walk(monkeypatch):
    html = render_struct_page_py(7)["html"].decode()
    want = parse_structdata_py(html)
    monkeypatch.setattr(structparse, "KERNEL", "full")
    assert parse_structdata_py(html) == want


# ---------------------------------------------------------------- htmltext
def _full_views(html: str) -> dict:
    from rdf_to_text_spark.functions import htmltext

    p = htmltext._TextExtractor()
    try:
        p.feed(html)
        p.close()
    except Exception:
        pass
    return {"t": p.text(), "b": p.blocks(), "l": p.links(), "m": p.metas()}


def _fast_views(html: str) -> dict | None:
    from rdf_to_text_spark.functions import htmltext
    from rdf_to_text_spark.functions.structscan import feed_events

    p = htmltext._TextExtractor()
    try:
        feed_events(p, html)
    except Untame:
        return None
    return {"t": p.text(), "b": p.blocks(), "l": p.links(), "m": p.metas()}


def test_feed_events_rich_corpus_equivalence_and_completion():
    for d in range(0, 300):
        html = render_rich_page_py(d)["html"].decode()
        fast = _fast_views(html)
        assert fast is not None, f"doc {d} fell back"  # fixture is tame
        assert fast == _full_views(html), f"doc {d}"


@given(_soup)
@settings(max_examples=300, deadline=None)
def test_feed_events_differential_fuzz(html):
    fast = _fast_views(html)
    if fast is not None:
        assert fast == _full_views(html), html[:200]


def test_htmltext_kernel_flag_pins_full_walk(monkeypatch):
    from rdf_to_text_spark.functions import htmltext

    html = render_rich_page_py(11)["html"]
    want = htmltext.parse_all_py(html)
    monkeypatch.setattr(htmltext, "KERNEL", "full")
    assert htmltext.parse_all_py(html) == want


def test_plain_tables_skip_but_infobox_still_found():
    # '<table' is not a needle: plain tables are idle no-ops; the
    # 'infobox' class literal (any tag-name case) re-enters event mode.
    html = (
        "<table><tr><th>plain</th><td>ignored</td></tr></table>" * 20
        + '<TABLE CLASS="infobox"><tr><th>K</th><td>V</td></tr></TABLE>'
        + "<table class='data'><tr><th>D</th><td>x</td></tr></table>"
    )
    fast = _fast(html)
    assert fast is not None and fast == _full(html)
    assert fast["t"] == [[0, 0, "K", "V"]]


def test_unclosed_plain_table_shadowing_infobox_equivalence():
    # tag soup: an unclosed plain table open when the infobox starts —
    # the untracked outer table must not shift infobox rows or pops.
    html = (
        "<table><tr><td>soup"  # unclosed plain table + unclosed row
        '<table class="infobox"><tr><th>A</th><td>1</td></tr></table>'
        "</table></table>"
        '<div itemscope itemid="X"><span itemprop="k">v</span></div>'
    )
    fast = _fast(html)
    assert fast is not None and fast == _full(html)


# ------------------------------------------------- htmltext fused kernel
def _fused_views(html: str) -> dict | None:
    from rdf_to_text_spark.functions import htmltext

    p = htmltext._TextExtractor()
    try:
        htmltext._fused_feed(p, html)
    except Untame:
        return None
    return {"t": p.text(), "b": p.blocks(), "l": p.links(), "m": p.metas()}


def test_fused_feed_rich_corpus_equivalence_and_completion():
    for d in range(0, 300):
        html = render_rich_page_py(d)["html"].decode()
        fast = _fused_views(html)
        assert fast is not None, f"doc {d} fell back"  # fixture is tame
        assert fast == _full_views(html), f"doc {d}"


def test_fused_feed_loose_markup_corpus_equivalence():
    # the rich pages with uppercase tag names and unquoted attribute
    # values: every tag takes the per-tag walk, the page still completes
    # and every view equals both the stdlib's and the original page's
    from rdf_to_text_spark.fixtures_web import loosen_markup_py

    for d in range(0, 100):
        page = render_rich_page_py(d)["html"]
        html = loosen_markup_py(page).decode()
        fast, walked = _counted_fused_views(html)
        assert fast is not None, f"doc {d} fell back"
        assert walked > 0
        assert fast == _full_views(html) == _full_views(page.decode()), f"doc {d}"


def test_fused_feed_struct_corpus_equivalence():
    # the struct fixture (uppercase/mixed-case slices included) through
    # the TEXT extractor: inert-tag skipping must not change any view
    for d in range(0, 200):
        html = render_struct_page_py(d)["html"].decode()
        fast = _fused_views(html)
        if fast is not None:
            assert fast == _full_views(html), f"doc {d}"


@given(_soup)
@settings(max_examples=300, deadline=None)
def test_fused_feed_differential_fuzz(html):
    fast = _fused_views(html)
    if fast is not None:
        assert fast == _full_views(html), html[:200]


@given(_attr_soup)
@settings(max_examples=200, deadline=None)
def test_fused_feed_fuzz_anchor_meta_attrs(attrs):
    # attribute soup on the INTERESTING tags (a/meta carry values the
    # extractor reads) around inert-tag neighbors
    html = (
        f"<p>x <b>y</b> <a {attrs} href='/h'>t</a> "
        f"<meta {attrs} name='n' content='c'><span>z</span></p>"
    )
    fast = _fused_views(html)
    if fast is not None:
        assert fast == _full_views(html), html[:200]


# ------------------------------------- simple-token / per-tag boundary
# Simple tags take the one-regex path; each family below is rejected by
# `_SIMPLE_TOKEN` and must go through the per-tag tolerant walk, once
# per tag, with the same views.
_SIMPLE_FRAGMENTS = [
    "<p>", "</p>", "<li class='c'>", "</li>", '<a href="/h?x=1&amp;y=2">',
    "</a>", "<b>", "</b>", "<br/>", '<meta name="n" content="c">',
    "<div id=\"d\" hidden>", "</div>", "<span />", "<noscript>",
    "</noscript>", "<template>", "</template>",
]
_TEXT_FRAGMENTS = ["x", " ", "\n", "a &amp; b", "words here", "&copy;"]
_REJECTED_TAGS = st.one_of(
    # uppercase names
    st.sampled_from(
        ["<P>", "</P>", "<Div>", "<LI>", "<A HREF='/u'>", "</A>",
         "<META NAME='n' CONTENT='v'>", "<BR>", "<p CLASS=x>",
         "<BR/>", "<P/>", "<SPAN/>", "<A/>", "<META/>", "<NOSCRIPT/>"]
    ),
    # a newline or '<' inside a quoted attribute value
    st.builds(
        "<{} title={}>".format,
        st.sampled_from(["p", "a", "span", "li", "meta"]),
        st.sampled_from(['"a\nb"', "'x < y'", '"<p"', '"\n"', "'<'"]),
    ),
    # unquoted values
    st.builds(
        "<{} {}={}>".format,
        st.sampled_from(["a", "p", "meta", "b"]),
        st.sampled_from(["href", "name", "content", "id"]),
        st.sampled_from(["/u", "x&amp;y", "v", "''x"]),
    ),
    # '/' junk
    st.sampled_from(["<p / >", "<div /x>", "<a href='/h' / >", "<br/ >", "<span/junk>"]),
    # '<' + a non-ASCII letter: '<' data, not a start tag
    st.sampled_from(["<é", "<中 x", "<ü>"]),
)
_boundary_doc = st.lists(
    st.one_of(
        st.sampled_from(_SIMPLE_FRAGMENTS).map(lambda f: (f, 0)),
        st.sampled_from(_TEXT_FRAGMENTS).map(lambda f: (f, 0)),
        _REJECTED_TAGS.map(lambda f: (f, 1)),
    ),
    min_size=1,
    max_size=40,
)


class _CountingToken:
    """`_SIMPLE_TOKEN` stand-in that counts the '<' constructs it
    rejects: the ones `_fused_feed` hands to the per-tag walk."""

    def __init__(self, token):
        self.token, self.rejected = token, 0

    def match(self, s, i):
        m = self.token.match(s, i)
        if m.end() < len(s) and m.group(2, 3, 6) == (None, None, None):
            self.rejected += 1
        return m


def _counted_fused_views(html: str) -> tuple[dict | None, int]:
    """Fused views plus how many constructs took the per-tag walk."""
    from unittest import mock

    from rdf_to_text_spark.functions import htmltext

    token = _CountingToken(htmltext._SIMPLE_TOKEN)
    with mock.patch.object(htmltext, "_SIMPLE_TOKEN", token):
        views = _fused_views(html)
    return views, token.rejected


@given(_boundary_doc)
@settings(max_examples=300, deadline=None)
def test_fused_feed_simple_and_per_tag_paths_agree(frags):
    html = "<p>lead</p>" + "".join(f for f, _ in frags)
    fast, walked = _counted_fused_views(html)
    assert fast is not None, html
    assert fast == _full_views(html), html
    # every rejected tag took the per-tag walk, every other one did not
    assert walked == sum(rejected for _, rejected in frags), html


@given(
    st.lists(st.sampled_from(_SIMPLE_FRAGMENTS + _TEXT_FRAGMENTS), max_size=20),
    st.sampled_from(["<a", "<a href='/x'", '<a href="/x', "<a "]),
)
@settings(max_examples=150, deadline=None)
def test_fused_feed_dangling_start_tag_falls_back(frags, dangling):
    from rdf_to_text_spark.functions import htmltext

    html = "".join(frags) + dangling
    fast, walked = _counted_fused_views(html)
    assert fast is None and walked == 1, html  # the walk refuses it
    assert htmltext.parse_all_py(html) == {
        k: v for k, v in zip(("text", "blocks", "links", "metas"), _full_views(html).values())
    }


def test_scanner_errors_other_than_untame_propagate(monkeypatch):
    """A scanner bug must fail loudly, not quietly take the stdlib walk."""
    from rdf_to_text_spark.functions import htmltext, structscan

    def bug(*args):
        raise RuntimeError("scanner bug")

    monkeypatch.setattr(htmltext, "_parse_starttag", bug)
    with pytest.raises(RuntimeError, match="scanner bug"):
        # <A HREF=/u> takes the per-tag walk's full start-tag parse
        htmltext.extract_blocks_py("<p>x</p><A HREF=/u>y</A>")
    monkeypatch.setattr(structscan, "_dispatch", bug)
    with pytest.raises(RuntimeError, match="scanner bug"):
        parse_structdata_py('<div itemscope itemid="X"></div>')
