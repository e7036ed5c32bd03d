"""Structured-data extraction from HTML: JSON-LD, microdata, infoboxes.

The other half of KG construction from web pages: beyond running
template extraction over visible prose (`operators/extract.py`), real
Common-Crawl pipelines mine the *machine-readable* annotations pages
already carry — `<script type="application/ld+json">` blocks, microdata
``itemscope``/``itemprop`` attributes (the schema.org embedding the Web
Data Commons corpus is built from), and infobox-style key/value tables.
This module is the pure-Python kernel (same layering as
`functions/htmltext.py`): ONE tokenizer pass per page yields all three
views; `operators/structdata.py` wraps it in Arrow-batched stages.

Reference parity: the reference constructs its KG from WebNLG triple
files (`webnlg_baseline_input.py:84-120` reads pre-extracted
``<striple>`` XML elements); this engine must construct the same shape
of (subj, pred, obj) facts from raw crawl HTML, where the on-page
carriers are exactly these three formats.

Scope (documented, tested):
  * JSON-LD — every well-formed ``application/ld+json`` script block;
    malformed JSON skips the block (crawl HTML is hostile, a page must
    never fail the task). ``@graph`` unwrapped; nodes flattened
    depth-first in document order; anonymous nodes get deterministic
    ``_:jN`` labels (N = document-order node counter). ``@context`` is
    NOT expanded (no network, no vocab table) — predicates are emitted
    verbatim, which is what a downstream canonicalization pass keys on.
  * Microdata — ``itemscope`` items in document order (``_:mN`` when no
    ``itemid``), property values resolved per the WHATWG source-attr
    ladder (meta→content, a/area/link→href, img/video/…→src,
    object→data, data/meter→value, time→datetime else text, else
    element text content, whitespace-collapsed). ``itemref`` is not
    supported (requires a second resolution pass over ids; documented
    gap). Nested items yield a reference triple on the parent.
  * Infobox tables — ``<table>`` whose class list contains ``infobox``:
    each ``<tr>`` with at least one ``<th>`` and one ``<td>`` emits
    (row_idx, th-text, td-text); other tables are ignored.

Leniency contract matches `htmltext`: the stdlib tokenizer never
raises; tag-soup degrades to partial output, not task errors.
"""

from __future__ import annotations

import json
from html.parser import HTMLParser

# Elements that never take a closing tag (WHATWG void elements): they
# must not move the element-depth counter the frame machinery keys on.
_VOID_ELEMENTS = frozenset(
    {
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr",
    }
)

# WHATWG microdata: which attribute carries the property value, per tag.
_SRC_TAGS = frozenset({"audio", "embed", "iframe", "img", "source", "track", "video"})
_HREF_TAGS = frozenset({"a", "area", "link"})

# Subtrees whose text/markup is inert (same set as functions/htmltext):
# their data must not leak into open text-capture frames, and markup in
# <template>/<svg>/<noscript> must not mint items or infobox rows.
_SKIP_TAGS = frozenset({"script", "style", "noscript", "template", "svg"})


def _collapse(parts: list[str]) -> str:
    return " ".join("".join(parts).split())


class _StructParser(HTMLParser):
    """One streaming pass → jsonld blocks + microdata rows + infobox rows.

    Document order is preserved by reserving each row's slot at the
    moment its carrier opens (text-content values are filled in when the
    element closes). Depth bookkeeping is lenient: unclosed tags leave
    frames open until end-of-document finalization.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._depth = 0
        self._skip = 0  # open script/style/noscript/template/svg subtrees
        # JSON-LD
        self._jsonld_blocks: list[str] = []
        self._script_depth: int | None = None  # depth of an open ld+json script
        self._script_parts: list[str] = []
        # microdata
        self._item_seq = 0
        self._items: list[tuple[int, int, str]] = []  # (open_depth, item_idx, subj)
        self.md_rows: list[list] = []  # [item_idx, subj, prop, value]
        # open text-capture frames: (open_depth, sink, payload, parts)
        #   sink == "md":   payload = the md_rows entry to fill (value=None)
        #   sink == "cell": payload = (cells_list, kind)
        self._frames: list[list] = []
        # infobox tables: (open_depth, active, cells) — cells per open <tr>
        self._table_seq = 0
        self._tables: list[list] = []  # [open_depth, table_idx|None, row_idx, cells|None]
        self.tb_rows: list[list] = []  # [table_idx, row_idx, key, value]

    # ------------------------------------------------------------ tags
    def handle_starttag(self, tag: str, attrs) -> None:
        kv: dict[str, str | None] = {}
        for k, v in attrs:
            kv.setdefault(k, v)  # first occurrence wins, like browsers
        void = tag in _VOID_ELEMENTS
        if not void:
            self._depth += 1
        if tag in _SKIP_TAGS:
            stype = (kv.get("type") or "").strip().lower()
            if tag == "script" and stype == "application/ld+json" and not self._skip:
                self._script_depth = self._depth
                self._script_parts = []
            else:
                self._skip += 1
            return
        if self._skip:
            return  # markup inside <template>/<svg>/…: inert
        self._microdata_start(tag, kv, void)
        self._infobox_start(tag, kv, void)

    def handle_startendtag(self, tag: str, attrs) -> None:
        # XHTML self-closing: content-free element — attr-carried values
        # still fire; text frames would close immediately so never open.
        if tag in _SKIP_TAGS or self._skip:
            return
        kv: dict[str, str | None] = {}
        for k, v in attrs:
            kv.setdefault(k, v)
        self._microdata_start(tag, kv, void=True)
        self._infobox_start(tag, kv, void=True)

    def handle_endtag(self, tag: str) -> None:
        if tag in _VOID_ELEMENTS:
            return  # stray </br> etc.: no depth move
        if tag in _SKIP_TAGS:
            if (
                tag == "script"
                and self._script_depth is not None
                and self._depth == self._script_depth
            ):
                self._jsonld_blocks.append("".join(self._script_parts))
                self._script_depth = None
                self._script_parts = []
            else:
                # max() keeps a stray </script> from opening the gate early
                self._skip = max(0, self._skip - 1)
            if self._depth:
                self._depth -= 1
            return
        if self._depth:
            self._depth -= 1
        if self._skip:
            return
        self._close_at_depth(self._depth, ending_tag=tag)

    # ------------------------------------------------------------ data
    def handle_data(self, data: str) -> None:
        if self._script_depth is not None:
            self._script_parts.append(data)
            return
        if data and not self._skip:
            for frame in self._frames:
                frame[3].append(data)

    # ------------------------------------------------- microdata logic
    def _microdata_start(self, tag: str, kv: dict, void: bool) -> None:
        has_scope = "itemscope" in kv
        props = (kv.get("itemprop") or "").split()
        open_depth = self._depth if not void else self._depth + 1

        # owner = nearest item already open BEFORE this tag (so a tag
        # carrying both itemscope and itemprop attributes links the new
        # child to its enclosing parent, not to itself)
        owner = self._items[-1][1:] if self._items else None

        child_subj: str | None = None
        if has_scope:
            idx = self._item_seq
            self._item_seq += 1
            child_subj = kv.get("itemid") or f"_:m{idx}"
            if props and owner is not None:
                oidx, osubj = owner
                for p in props:
                    self.md_rows.append([oidx, osubj, p, child_subj])
            itemtype = kv.get("itemtype") or ""
            for t in itemtype.split():
                self.md_rows.append([idx, child_subj, "@type", t])
            if not void:
                self._items.append((open_depth, idx, child_subj))
            return

        if props:
            if owner is None:
                return  # itemprop outside any itemscope: dropped (spec: unowned)
            oidx, osubj = owner
            value = self._attr_value(tag, kv)
            if value is not None:
                for p in props:
                    self.md_rows.append([oidx, osubj, p, value])
            elif not void:
                # text-content value: one row per prop token, filled at close
                rows = []
                for p in props:
                    row = [oidx, osubj, p, None]
                    self.md_rows.append(row)
                    rows.append(row)
                self._frames.append([open_depth, "md", rows, []])

    @staticmethod
    def _attr_value(tag: str, kv: dict) -> str | None:
        """WHATWG source-attribute ladder; None ⇒ value is text content."""
        if tag == "meta":
            return kv.get("content") or ""
        if tag in _SRC_TAGS:
            return kv.get("src") or ""
        if tag in _HREF_TAGS:
            return kv.get("href") or ""
        if tag == "object":
            return kv.get("data") or ""
        if tag in ("data", "meter"):
            return kv.get("value") or ""
        if tag == "time":
            dt = kv.get("datetime")
            return dt if dt is not None else None  # None → text content
        return None

    # -------------------------------------------------- infobox logic
    def _infobox_start(self, tag: str, kv: dict, void: bool) -> None:
        open_depth = self._depth if not void else self._depth + 1
        if tag == "table" and not void:
            classes = (kv.get("class") or "").split()
            if "infobox" in classes:
                idx = self._table_seq
                self._table_seq += 1
            else:
                idx = None
            self._tables.append([open_depth, idx, 0, None])
        elif tag == "tr" and not void:
            if self._tables and self._tables[-1][1] is not None:
                # HTML permits omitting </tr> (implied close by the next
                # <tr>): flush any pending row before opening the next.
                self._flush_row(self._tables[-1])
                self._tables[-1][3] = []  # open a cell list for this row
        elif tag in ("th", "td") and not void:
            if self._tables and self._tables[-1][1] is not None and self._tables[-1][3] is not None:
                self._frames.append([open_depth, "cell", (self._tables[-1][3], tag), []])

    def _flush_row(self, t: list) -> None:
        """Finalize a pending infobox row (explicit </tr>, implied close
        by the next <tr>, or the owning table closing)."""
        cells = t[3]
        if cells is None:
            return
        ths = [txt for kind, txt in cells if kind == "th"]
        tds = [txt for kind, txt in cells if kind == "td"]
        if ths and tds:
            self.tb_rows.append([t[1], t[2], " ".join(ths), " ".join(tds)])
            t[2] += 1
        t[3] = None

    # ------------------------------------------------------- closing
    def _close_at_depth(self, depth: int, ending_tag: str) -> None:
        # close text frames opened deeper than the new depth
        while self._frames and self._frames[-1][0] > depth:
            _d, sink, payload, parts = self._frames.pop()
            text = _collapse(parts)
            if sink == "md":
                for row in payload:
                    row[3] = text
            else:
                cells, kind = payload
                cells.append((kind, text))
        # close microdata items
        while self._items and self._items[-1][0] > depth:
            self._items.pop()
        # finalize infobox rows / tables
        if ending_tag == "tr" and self._tables and self._tables[-1][1] is not None:
            self._flush_row(self._tables[-1])
        while self._tables and self._tables[-1][0] > depth:
            t = self._tables.pop()
            if t[1] is not None:
                # table closing with an open row (</tr> omitted): the
                # implied close finalizes the row, not discards it.
                self._flush_row(t)

    # ------------------------------------------------------ finalize
    def finalize(self) -> None:
        self._close_at_depth(0, ending_tag="")
        if self._script_depth is not None:  # unclosed ld+json script
            self._jsonld_blocks.append("".join(self._script_parts))
            self._script_depth = None

    def jsonld_blocks(self) -> list[str]:
        return list(self._jsonld_blocks)


# ------------------------------------------------------------ JSON-LD
def _scalar(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return v
    return str(v)


def flatten_jsonld(blocks: list[str]) -> list[tuple[int, str, str, str]]:
    """Raw ld+json block texts → [(item_idx, subj, pred, obj)].

    Deterministic flattening: nodes are numbered in depth-first document
    order across all blocks; a node's subject is its ``@id`` when that
    is a string, else ``_:j{idx}``. ``@context`` is dropped, ``@graph``
    unwrapped, list values emit one triple per element, nested objects
    emit a reference triple then recurse. Two JSON-LD expansion forms
    are folded to scalars rather than minted as nodes (the spec's value
    semantics, and what real schema.org payloads use): a *value object*
    ``{"@value": x, ...}`` contributes ``x``; a *list object*
    ``{"@list": [...]}`` contributes its elements in order. Scalars
    stringify (bools lowercase, the JSON spelling). A block that fails
    ``json.loads`` contributes nothing — hostile crawl HTML must
    degrade, not raise.
    """
    rows: list[tuple[int, str, str, str]] = []
    counter = 0

    def emit(idx: int, subj: str, k: str, el) -> None:
        if isinstance(el, dict):
            if "@value" in el:  # value object: fold, don't mint a node
                v = el["@value"]
                if v is not None and not isinstance(v, (dict, list)):
                    rows.append((idx, subj, k, _scalar(v)))
                return
            if "@list" in el:  # list object: ordered elements, in place
                inner = el["@list"]
                for sub in inner if isinstance(inner, list) else [inner]:
                    emit(idx, subj, k, sub)
                return
            pos = len(rows)
            rows.append((idx, subj, k, ""))  # placeholder
            child = walk(el)
            rows[pos] = (idx, subj, k, child)
        elif el is not None and not isinstance(el, list):
            rows.append((idx, subj, k, _scalar(el)))

    def walk(obj: dict) -> str:
        nonlocal counter
        idx = counter
        counter += 1
        oid = obj.get("@id")
        subj = oid if isinstance(oid, str) else f"_:j{idx}"
        for k, v in obj.items():
            if k in ("@id", "@context"):
                continue
            if k == "@graph":
                for el in v if isinstance(v, list) else [v]:
                    if isinstance(el, dict):
                        walk(el)
                continue
            for el in v if isinstance(v, list) else [v]:
                emit(idx, subj, k, el)
        return subj

    for raw in blocks:
        try:
            data = json.loads(raw)
        except Exception:
            continue
        tops = data if isinstance(data, list) else [data]
        for el in tops:
            if isinstance(el, dict):
                walk(el)
    return rows


# ------------------------------------------------------------ façade
def _empty_views() -> dict:
    # Fresh lists every time: callers may mutate a returned view, and a
    # shared module-level constant would leak rows across pages
    # process-wide inside long-lived executor workers.
    return {"jsonld": [], "microdata": [], "infobox": []}


def parse_structdata_py(html: bytes | str | None) -> dict:
    """ONE tokenizer pass → every structured-data view of a page.

    Returns ``{"jsonld": [(item_idx, subj, pred, obj)],
    "microdata": [(item_idx, subj, prop, value)],
    "infobox": [(table_idx, row_idx, key, value)]}``.

    Marker fast-path: most real crawl pages carry NO structured data;
    a substring scan for the three carriers' unavoidable markers
    (``itemscope``, ``ld+json``, ``infobox``) is ~100× cheaper than the
    tokenizer, so marker-less pages skip it entirely. HTML tag and
    attribute names are case-insensitive (the tokenizer lowercases
    them), so the scan runs over a lowercased copy — otherwise
    uppercase crawl markup (``<TABLE CLASS="infobox">``, ``ITEMSCOPE``)
    would be silently dropped. On the lowered text the markers are
    necessary conditions by construction: a table only yields rows if
    its class list contains the literal token ``infobox`` (which the
    handler matches case-SENSITIVELY, per the documented semantics), so
    ``infobox`` — not the far more common ``<table`` — gates that view;
    the fast path can never drop a view — at worst a marker in inert
    text costs one full parse.
    """
    if html is None:
        return _empty_views()
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    lowered = html.lower()
    if (
        "itemscope" not in lowered
        and "ld+json" not in lowered
        and "infobox" not in lowered
    ):
        return _empty_views()
    parser = _run_parser(html)
    return {
        "jsonld": flatten_jsonld(parser.jsonld_blocks()),
        "microdata": [tuple(r) for r in parser.md_rows],
        "infobox": [tuple(r) for r in parser.tb_rows],
    }


# Kernel selector: "scan" = the two-state fast scanner
# (functions/structscan.py) with automatic fallback to the stdlib
# HTMLParser walk on any non-tame construct; "full" pins the stdlib
# walk (the reference kernel, used by the differential tests and as
# the ceiling control in bench_scaling).
KERNEL = "scan"


def _run_parser(html: str) -> "_StructParser":
    if KERNEL == "scan":
        from . import structscan

        parser = _StructParser()
        try:
            structscan.scan_structdata(parser, html)
            parser.finalize()
            return parser
        except structscan.Untame:
            # outside the tame subset: the full parse decides. Any other
            # exception is a scanner bug and propagates.
            pass
    parser = _StructParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass
    parser.finalize()
    return parser
