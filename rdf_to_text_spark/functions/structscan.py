"""Fast tokenizer for structured-data extraction (the kernel fast path).

`functions/structparse.py` drives the stdlib HTMLParser over the whole
page; on real crawl HTML most of that work is tokenizing PROSE that can
never mint a JSON-LD block, a microdata row, or an infobox row. This
module is a find/regex-driven scanner that:

  * in IDLE state (no open microdata item, no open table, no open text
    frame, no skip subtree, no script capture) jumps straight to the
    next position that could POSSIBLY matter — cached str.find over
    the carrier openers (`<script <style <noscript <template <svg
    <table`), comment/decl/PI/end-tag openers, and the literal
    `itemscope`, on a length-preserving ASCII-lowered copy — skipping
    arbitrary amounts of prose at memchr speed;
  * in EVENT state (any context open) tokenizes every construct, using
    the SAME tolerant regexes as the stdlib parser
    (`tagfind_tolerant` / `attrfind_tolerant` /
    `locatestarttagend_tolerant`, imported from `html.parser`), so
    start-tag parsing is identical by construction;
  * jumps `<script>`/`<style>` content with the stdlib's own CDATA
    closer pattern (`</\\s*elem\\s*>`, case-insensitive);
  * drives the UNCHANGED `_StructParser` semantic handlers — one state
    machine, two tokenizers.

Equivalence contract: on any page the scanner COMPLETES, its output is
identical to the full HTMLParser walk (asserted by the differential
fuzz + fixture-corpus tests in tests/test_structscan.py). Any construct
outside the tame subset (malformed tags the tolerant regexes don't
fully consume, `<![` marked sections, unterminated comments/tags, tag
soup the classifier cannot place) raises `_Untame` and the caller
falls back to the full parse — the fast path may only ever be FAST,
never different.

Why skipping tags in idle state is safe: every piece of context
machinery in `_StructParser` compares the CURRENT depth against depths
recorded when a context OPENED, and contexts only open/close in event
state, where both tokenizers see every tag. Between event episodes the
absolute depth may drift by the (constant, per-episode) number of
unbalanced tags skipped, but every comparison is relative, and the
floor-at-zero clamp pops contexts in exactly the same order either way
(all recorded open depths are >= 1).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import (  # the stdlib's own tolerant tag grammar
    attrfind_tolerant,
    commentclose,
    locatestarttagend_tolerant,
    tagfind_tolerant,
)

__all__ = ["scan_structdata", "feed_events", "Untame"]


class Untame(Exception):
    """Raised when the page leaves the tame subset; caller must fall
    back to the full HTMLParser walk."""


# Idle-state needles: everything that can change parser state when no
# context is open. Tag-opener needles anchor at '<'; the bare literal
# `itemscope` also fires inside a tag we'd otherwise skip (classified
# via locatestarttagend below). `itemprop`/`itemid`/`itemtype` are NOT
# needles: without an open item they are dropped/ignored by the
# handlers, so skipping them is exact. End tags are NOT needles: in
# idle state every handle_endtag branch is a no-op (void/skip-tag
# decrements clamp at zero, _close_at_depth walks empty lists, and the
# depth drift is harmless per the module docstring) — and prose is FULL
# of '</p></b></a>', so skipping them is most of the idle win.
#
# The scan runs as per-needle str.find (C memchr speed, ~GB/s) over an
# ASCII-lowered copy of the page. str.lower() can CHANGE LENGTH on some
# Unicode ('İ' lowers to 2 codepoints), which would break the position
# mapping back into the original — str.translate over the 26 ASCII
# uppercase letters is 1:1 by construction. False prefixes ('<tablet'
# for '<table') just cost one no-op tag parse.
_ASCII_LOWER = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
)
_NEEDLES = (
    "<script", "<style", "<noscript", "<template", "<svg",
    "<!", "<?", "itemscope", "infobox",
)
# "<table" is deliberately NOT a needle: a table only matters if its
# class list carries the literal token "infobox", and the "infobox"
# literal needle finds that inside the <table ...> tag itself (backward
# classification below). Plain tables in idle state are exact no-ops:
# they would join the table stack with idx None and emit nothing, and
# every idx-None interaction (cells ignored, pop by depth) is
# stack-top-relative, so an untracked plain table cannot change which
# rows an infobox emits (tag-soup cases fuzz-verified).

_ENDTAG_RE = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
# searched over the page itself, with ASCII-only case folding spelled
# out: re.IGNORECASE would also fold non-ASCII look-alikes (U+017F LONG
# S matches 's'), and such a closer never ends the element in the
# stdlib, whose end-tag name pattern is ASCII
_CDATA_CLOSE = {
    name: re.compile(
        r"</\s*" + "".join(f"[{c}{c.upper()}]" for c in name) + r"\s*>"
    )
    for name in ("script", "style")
}


def _parse_starttag(p, s: str, i: int) -> int:
    """Mirror of HTMLParser.parse_starttag over the tame subset; drives
    p.handle_starttag / p.handle_startendtag; returns the scan position
    after the tag. Raises Untame on anything parse_starttag would have
    routed through its data/bogus fallbacks."""
    m = locatestarttagend_tolerant.match(s, i)
    if m is None:
        raise Untame("unmatched start tag")
    j = m.end()
    nxt = s[j : j + 1]
    if nxt == ">":
        end = j + 1
    elif nxt == "/" and s[j : j + 2] == "/>":
        end = j + 2
    else:
        raise Untame("junk between attributes and '>'")
    tm = tagfind_tolerant.match(s, i + 1)
    # locatestarttagend matched, so tagfind matches by construction
    k = tm.end()
    tag = tm.group(1).lower()
    attrs = []
    while k < end:
        am = attrfind_tolerant.match(s, k)
        if am is None:
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
    # what is left decides, as in the stdlib: a '/' that the locate
    # regex swallowed ('<BR/>') still makes the tag self-closing
    rest = s[k:end].strip()
    if rest != ">" and rest != "/>":
        raise Untame("unparsed attribute junk")
    if rest == "/>":
        p.handle_startendtag(tag, attrs)
        return end
    p.handle_starttag(tag, attrs)
    if tag in ("script", "style"):
        # stdlib CDATA mode: raw (un-unescaped) content to the closer,
        # no tag events inside; handle_data applies the same capture/
        # suppression rules either way
        cm = _CDATA_CLOSE[tag].search(s, end)
        if cm is None:
            # no closer: the stdlib parser BUFFERS forever (goahead
            # breaks on a missing CDATA closer even at close()), so the
            # content never reaches handle_data — mirror by discarding;
            # finalize() then emits the same empty block
            return len(s)
        p.handle_data(s[end : cm.start()])
        p.handle_endtag(tag)
        return cm.end()
    return end


def _parse_markup_misc(p, s: str, i: int) -> int:
    """Comments, declarations, PIs — all inert for _StructParser (none
    of its handle_comment/decl/pi hooks are overridden), so the tame
    mirror only has to SKIP the same span HTMLParser would consume."""
    if s.startswith("<!--", i):
        cm = commentclose.search(s, i + 4)
        if cm is None:
            raise Untame("unterminated comment")
        return cm.end()
    if s.startswith("<![", i):
        raise Untame("marked section")  # _markupbase territory
    if s.startswith("<?", i):
        j = s.find(">", i + 2)  # stdlib piclose: first '>' ends the PI
        if j < 0:
            raise Untame("unterminated processing instruction")
        return j + 1
    if s.startswith("<!", i):
        # doctype or bogus comment: both consume to the first '>'
        j = s.find(">", i + 2)
        if j < 0:
            raise Untame("unterminated declaration")
        if s[i + 2 : i + 9].translate(_ASCII_LOWER) == "doctype":
            # internal subsets can quote '>', which the stdlib decl
            # parser honors but first-'>' does not — stay tame
            seg = s[i:j]
            if "'" in seg or '"' in seg or "[" in seg:
                raise Untame("doctype with internal subset/quotes")
        return j + 1
    raise Untame("unclassified markup")


def _idle(p) -> bool:
    return (
        not p._frames
        and not p._items
        and not p._tables
        and not p._skip
        and p._script_depth is None
    )


def _starttag_char(c: str) -> bool:
    """Whether '<' + ``c`` opens a start tag: the stdlib's
    ``starttagopen`` (``<[a-zA-Z]``). A non-ASCII letter (``<é``) is
    '<' data there, and str.isalpha() alone would accept it."""
    return c.isascii() and c.isalpha()


def _dispatch(p, s: str, i: int) -> int:
    """One '<'-anchored construct through the handlers; returns the
    position after it. Mirrors goahead's branch order."""
    c = s[i + 1 : i + 2]
    if _starttag_char(c):
        return _parse_starttag(p, s, i)
    if c == "/":
        em = _ENDTAG_RE.match(s, i)
        if em is None:
            raise Untame("malformed end tag")
        p.handle_endtag(em.group(1).lower())
        return em.end()
    if c in ("!", "?"):
        return _parse_markup_misc(p, s, i)
    # '<' + EOF or non-name char: plain data in the stdlib parser
    p.handle_data("<")
    return i + 1


def _classify_bare_needle(p, s: str, i: int, j: int) -> int:
    """Classify a bare literal needle (``itemscope``/``infobox``) at
    ``j`` by walking constructs FORWARD from the known-clean scan
    position ``i`` — the exact mirror of what the stdlib parser would
    consume — instead of guessing from the nearest preceding ``<``
    (which misreads a quoted ``<`` inside the carrier tag's attribute
    list, e.g. ``<div title="a < b" itemscope>``, and can even parse a
    phantom tag out of a quoted ``<p``). Returns the scan position
    after the needle is resolved; fires handlers only when the needle
    turns out to sit inside a real start tag.

    Why the walk is cheap and exact: every construct opener other than
    plain start/end tags (``<!`` ``<?`` ``<script`` ``<style``
    ``<noscript`` ``<template`` ``<svg``) is itself a needle, and ``j``
    is the EARLIEST needle at or after ``i`` — so the span ``[i, j)``
    can only contain plain start tags, end tags, and literal ``<``
    data. Plain tags and end tags are exact no-ops in idle state (see
    the module docstring's depth-drift argument), so the walk only has
    to find their spans (one tolerant-regex match each, no handler
    dispatch, no text slicing), not tokenize them."""
    pos = i
    while True:
        k = s.find("<", pos, j)
        if k < 0:
            return j + 1  # needle is plain text
        c = s[k + 1 : k + 2]
        if _starttag_char(c):
            # '<' + ASCII letter always matches at least the tag name
            e = locatestarttagend_tolerant.match(s, k).end()
            nxt = s[e : e + 1]
            if nxt == ">":
                tag_end = e + 1
            elif nxt == "/" and s[e : e + 2] == "/>":
                tag_end = e + 2
            else:
                raise Untame("junk between attributes and '>'")
            if e > j:
                # the needle sits inside this tag: parse it for real
                return _parse_starttag(p, s, k)
            if tag_end > j:
                return tag_end  # unreachable (terminator is '>'/'/>')
            pos = tag_end
            continue
        if c == "/":
            em = _ENDTAG_RE.match(s, k)
            if em is not None:
                end = em.end()
            else:
                # stdlib parse_endtag's discard path: name via
                # tagfind_tolerant, junk to the first '>' (known-
                # imperfect in CPython too — bug-compatible here)
                nm = tagfind_tolerant.match(s, k + 2)
                if nm is None:
                    raise Untame("bogus end tag")  # '</>' / bogus comment
                gt = s.find(">", nm.end())
                if gt < 0:
                    raise Untame("unterminated end tag")
                end = gt + 1
            # end tags are inert in idle state; if the span swallowed
            # the needle (</div junk itemscope>) it is not a carrier
            pos = end
            if pos > j:
                return pos
            continue
        if c in ("!", "?"):
            # unreachable: '<!'/'<?' are needles, j is the earliest
            raise Untame("markup opener inside idle span")
        # '<' + EOF or non-name char: plain data, one char
        pos = k + 1


def _next_needle(low: str, i: int, cache: list) -> int:
    """Earliest needle occurrence at or after ``i`` over the lowered
    page; per-needle positions are cached and only re-sought once the
    scan passes them (-2 marks a needle absent for good)."""
    best = -1
    for k, ndl in enumerate(_NEEDLES):
        pos = cache[k]
        if pos == -2:
            continue
        if pos < i:
            pos = low.find(ndl, i)
            cache[k] = pos if pos >= 0 else -2
            if pos < 0:
                continue
        if best < 0 or pos < best:
            best = pos
    return best


def scan_structdata(p, s: str) -> None:
    """Drive _StructParser ``p`` over ``s`` with the two-state scanner.
    Raises Untame to request the full-parse fallback; on return, state
    in ``p`` is identical to ``p.feed(s)`` (equivalence contract)."""
    n = len(s)
    low = s.translate(_ASCII_LOWER)
    cache = [-1] * len(_NEEDLES)
    i = 0
    while i < n:
        if _idle(p):
            j = _next_needle(low, i, cache)
            if j < 0:
                return  # nothing state-relevant remains
            if low[j] != "<":  # bare 'itemscope'/'infobox' literal
                i = _classify_bare_needle(p, s, i, j)
                continue
            i = _dispatch(p, s, j)
            continue
        # EVENT state: text to the next '<' goes through the handlers
        nxt = s.find("<", i)
        if nxt < 0:
            chunk = s[i:]
            if "&" in chunk:
                chunk = unescape(chunk)
            p.handle_data(chunk)
            return
        if nxt > i:
            chunk = s[i:nxt]
            if "&" in chunk:
                chunk = unescape(chunk)
            p.handle_data(chunk)
            i = nxt
            continue
        i = _dispatch(p, s, i)


def feed_events(p, s: str) -> None:
    """Event-mode-only driver: tokenize the WHOLE document through the
    tame mirror and fire ``p``'s handle_starttag / handle_startendtag /
    handle_endtag / handle_data — for handler classes that must see
    every text node (functions/htmltext's _TextExtractor), where no
    idle skipping is possible but the stdlib goahead machinery is still
    pure overhead. Same equivalence-or-Untame contract as
    scan_structdata: whatever completes matches ``p.feed(s); p.close()``
    exactly (differential tests in tests/test_structscan.py); anything
    non-tame raises and the caller re-runs the stdlib path."""
    n = len(s)
    i = 0
    while i < n:
        nxt = s.find("<", i)
        if nxt < 0:
            chunk = s[i:]
            if "&" in chunk:
                chunk = unescape(chunk)
            p.handle_data(chunk)
            return
        if nxt > i:
            chunk = s[i:nxt]
            if "&" in chunk:
                chunk = unescape(chunk)
            p.handle_data(chunk)
            i = nxt
            continue
        i = _dispatch(p, s, i)
