"""Triple extraction: text → (subj, pred, obj) with provenance.

Inverts the reference's delex/relex machinery:

  * the frozen template pairs (`data/preprocess_input/*-delex.{triple,lex}`,
    e.g. lex ``ENTITIES_1 serves the city of ENTITIES_2 .``) become an
    extraction-pattern bank — each pattern compiled to a regex whose
    slots capture candidate entity surfaces;
  * the delex dictionary scan (`webnlg_baseline_input.py:68-97`) becomes
    an alias-index probe with the same fallback ladder
    (exact / lowercase / paren-stripped prefix, :84-95);
  * the substitution-order determinism (:82 ``sorted(...)``) becomes a
    deterministic best-match rank per sentence.

Execution shape (scale notes):
  * the pattern bank + alias index are broadcast once; each executor
    compiles regexes / builds tries lazily on first batch (process-local
    cache) — the classic fix for the reference re-reading
    delex_dict.json per example (`webnlg_baseline_input.py:47-52`);
  * all work is Arrow-batched ``mapInPandas`` over page rows — a narrow
    map stage with NO shuffle: at 100 TB this scales linearly with
    input splits;
  * output is exploded triples with provenance (doc_id, sent_idx,
    char offsets, template_id) so downstream MERGE is idempotent.
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..templates import TEMPLATES, build_alias_index

TRIPLES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("url", StringType()),
        StructField("sent_idx", IntegerType()),
        StructField("subj", StringType()),
        StructField("pred", StringType()),
        StructField("obj", StringType()),
        StructField("subj_surface", StringType()),
        StructField("obj_surface", StringType()),
        StructField("template_id", IntegerType()),
        StructField("char_start", IntegerType()),
        StructField("char_end", IntegerType()),
    ]
)

_SLOT = re.compile(r"ENTITIES_[0-9]+")


class PatternBank:
    """Compiled template bank, built once per executor from constants.

    Each template pattern (token space) compiles to a full-sentence
    regex: slots become lazy token-sequence captures. Rank for
    overlapping matches = (#literal tokens desc, template_id asc) —
    the longest-field preference of webnlg_baseline_input.py:67-70.
    """

    def __init__(self, templates: list[tuple[str, str, str, str]] | None = None):
        self.templates = templates if templates is not None else TEMPLATES
        self.compiled: list[tuple[int, re.Pattern, str, int]] = []
        bodies: dict[int, str] = {}
        for tid, (pred, _cat, _opool, pattern) in enumerate(self.templates):
            body = pattern[:-2] if pattern.endswith(" .") else pattern
            parts = _SLOT.split(body)
            slots = _SLOT.findall(body)
            rx = re.escape(parts[0])
            for slot, part in zip(slots, parts[1:]):
                group = "e1" if slot == "ENTITIES_1" else "e2"
                rx += rf"(?P<{group}>\S+(?: \S+)*?)" + re.escape(part)
            n_literal = sum(len(p.split()) for p in parts)
            bodies[tid] = rx
            self.compiled.append(
                (tid, re.compile(r"\A" + rx + r" \.\Z"), pred, n_literal)
            )
        # Per-template prefilter literal: the longest literal segment.
        # Arrow's `match_substring` is a C++ substring scan over the
        # whole batch, far cheaper than regex extract; only surviving
        # candidates pay the full anchored extract.
        self.prefilter: list[str] = []
        for _tid, (_pred, _cat, _opool, pattern) in enumerate(self.templates):
            body = pattern[:-2] if pattern.endswith(" .") else pattern
            self.prefilter.append(max(_SLOT.split(body), key=len))


_BANK: PatternBank | None = None
_ALIASES: dict[str, tuple[str, str]] | None = None
_ALIAS_MAP: dict[str, str] | None = None


def _get_bank() -> PatternBank:
    global _BANK
    if _BANK is None:
        _BANK = PatternBank()
    return _BANK


def _get_aliases() -> dict[str, tuple[str, str]]:
    global _ALIASES
    if _ALIASES is None:
        _ALIASES = build_alias_index()
    return _ALIASES


def _get_alias_map() -> dict[str, str]:
    """surface → canonical entity (the alias index without categories),
    built once per process like the bank."""
    global _ALIAS_MAP
    if _ALIAS_MAP is None:
        _ALIAS_MAP = {surf: ent for surf, (ent, _cat) in _get_aliases().items()}
    return _ALIAS_MAP


def link_surface(surface: str, aliases: dict[str, tuple[str, str]]) -> str | None:
    """Alias-ladder lookup: exact → lowercase → paren-stripped prefix.

    Mirrors webnlg_baseline_input.py:84-95 (same order, same transforms).
    Returns the canonical entity name or None.
    """
    hit = aliases.get(surface)
    if hit is None:
        hit = aliases.get(surface.lower())
    if hit is None:
        hit = aliases.get(surface.split("(")[0].strip())
    return hit[0] if hit else None


def _link_series(s: pd.Series, alias_map: dict[str, str]) -> pd.Series:
    """Vectorized alias ladder: exact → lowercase → paren-stripped prefix."""
    exact = s.map(alias_map)
    lower = s.str.lower().map(alias_map)
    paren = s.str.split("(").str[0].str.strip().map(alias_map)
    return exact.combine_first(lower).combine_first(paren)


def _sentence_table(pdf: pd.DataFrame, text_col: str) -> pd.DataFrame:
    """Explode pages into sentences with offsets (vectorized)."""
    text = pdf[text_col].fillna("")
    body = text.str.replace(r" \.$", "", regex=True)  # strip final terminal
    pieces = body.str.split(" . ", regex=False)
    sent = pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].values,
            "url": pdf["url"].values,
            "piece": pieces.values,
        }
    ).explode("piece", ignore_index=True)
    sent = sent[sent["piece"].notna() & (sent["piece"] != "")]
    if sent.empty:
        return sent
    sent["sent_idx"] = sent.groupby("doc_id").cumcount().astype("int32")
    sent["sentence"] = sent.pop("piece") + " ."
    # char offsets: start_i = sum_{j<i} (len(sentence_j) + 1)
    slen = sent["sentence"].str.len() + 1
    sent["char_start"] = (slen.groupby(sent["doc_id"]).cumsum() - slen).astype("int32")
    sent["char_end"] = (sent["char_start"] + slen - 1).astype("int32")
    return sent.reset_index(drop=True)


_META = ["doc_id", "url", "sent_idx", "char_start", "char_end"]


def _extract_batch(pdf: pd.DataFrame, text_col: str) -> pd.DataFrame:
    """Vectorized extraction over one Arrow batch.

    1. explode pages into sentences (vectorized, offset bookkeeping);
    2. per template: C-level substring prefilter on its longest literal,
       then anchored ``str.extract`` on surviving candidates only;
       every template's slot captures are collected first;
    3. vectorized alias-ladder linking, once per batch: the ladder runs
       over the batch's DISTINCT slot surfaces (both slots, all
       templates) and the result maps back to every capture; a
       candidate survives only if both slots link;
    4. best *linked* match per sentence by
       (#literal tokens desc, template_id asc).
    """
    bank = _get_bank()
    cols = [f.name for f in TRIPLES_SCHEMA.fields]

    sent = _sentence_table(pdf, text_col)
    if sent.empty:
        return pd.DataFrame(columns=cols)

    sentences = sent["sentence"]
    arrow_sents = pa.array(sentences.to_numpy(), type=pa.string())
    parts: list[pd.DataFrame] = []
    for (tid, rx, pred, n_literal), lit in zip(bank.compiled, bank.prefilter):
        has_lit = pc.match_substring(arrow_sents, lit).to_numpy(zero_copy_only=False)
        if not has_lit.any():
            continue
        cand_sents = sentences[has_lit]
        ext = cand_sents.str.extract(rx)
        ext = ext[ext["e1"].notna() & ext["e2"].notna()]
        if ext.empty:
            continue
        parts.append(
            pd.DataFrame(
                {
                    "_sid": ext.index.to_numpy(),  # sentence row id
                    "subj_surface": ext["e1"].to_numpy(),
                    "obj_surface": ext["e2"].to_numpy(),
                    "pred": pred,
                    "template_id": tid,
                    "_rank_lit": -n_literal,
                }
            )
        )
    if not parts:
        return pd.DataFrame(columns=cols)
    cand = pd.concat(parts, ignore_index=True)

    surfaces = pd.Series(
        pd.unique(np.concatenate([cand["subj_surface"], cand["obj_surface"]]))
    )
    linked = dict(zip(surfaces, _link_series(surfaces, _get_alias_map())))
    cand["subj"] = cand["subj_surface"].map(linked)
    cand["obj"] = cand["obj_surface"].map(linked)
    cand = cand[cand["subj"].notna() & cand["obj"].notna()]
    if cand.empty:
        return pd.DataFrame(columns=cols)

    best = cand.sort_values(["_sid", "_rank_lit", "template_id"]).drop_duplicates("_sid")
    out = sent.iloc[best["_sid"].to_numpy()][_META].reset_index(drop=True)
    for c in ("subj", "pred", "obj", "subj_surface", "obj_surface"):
        out[c] = best[c].to_numpy()
    out["template_id"] = best["template_id"].to_numpy().astype("int32")
    return out[cols]


def extract_triples(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """pages(doc_id, url, text, …) → triples DataFrame (narrow map stage).

    Arrow-batched ``mapInPandas``; each batch runs the vectorized
    extractor (one compiled-regex pass per template over the whole
    batch — no per-row Python in the hot path).
    """
    cols = ["doc_id", "url", text_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _extract_batch(pdf, text_col)

    return pages.select(*cols).mapInPandas(run, TRIPLES_SCHEMA)


def extract_triples_from_html(pages: DataFrame) -> DataFrame:
    """Fused html → text → normalize → extract in ONE Python stage.

    Chaining separate pandas UDFs for decode/normalize/extract costs a
    Python worker per stage per task (3× process pressure at high
    local parallelism and 3 Arrow (de)serializations per row at
    cluster scale); the fused stage does the identical vectorized work
    through a single Arrow boundary. Normalization reuses the
    byte-identical series kernels from functions.textnorm.
    """
    from ..functions.textnorm import _normalize_series

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = pdf["html"].map(
                lambda b: b.decode("utf-8", errors="replace") if b is not None else ""
            )
            text = _normalize_series(
                decoded.str.replace(r"<[^>]*>", " ", regex=True).str.strip()
            )
            batch = pd.DataFrame(
                {"doc_id": pdf["doc_id"], "url": pdf["url"], "text": text}
            )
            yield _extract_batch(batch, "text")

    return pages.select("doc_id", "url", "html").mapInPandas(run, TRIPLES_SCHEMA)


# ------------------------------------------------------------ mentions
MENTIONS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mention", StringType()),
        StructField("entity", StringType()),
        StructField("category", StringType()),
        StructField("tok_start", IntegerType()),
        StructField("tok_end", IntegerType()),
    ]
)

_SCANNER: "TokenGramScanner | None" = None
_SCAN_COLS: tuple | None = None  # (surf, ent, cat) pa.string arrays by pid


def _get_scanner():
    """Vectorized n-gram scanner over every alias surface, built once per
    executor (pattern ids deterministic via sorted surfaces, W2)."""
    global _SCANNER, _SCAN_COLS
    if _SCANNER is None:
        import pyarrow as pa

        from ..functions.mentionscan import TokenGramScanner

        patterns = sorted(_get_aliases().items())
        _SCAN_COLS = (
            pa.array([surf for surf, _ in patterns], type=pa.string()),
            pa.array([ec[0] for _, ec in patterns], type=pa.string()),
            pa.array([ec[1] for _, ec in patterns], type=pa.string()),
        )
        _SCANNER = TokenGramScanner([surf for surf, _ in patterns])
    return _SCANNER, _SCAN_COLS


def detect_mentions(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """One vectorized scan per batch: all alias occurrences, longest-leftmost.

    This is the inverted delexicalisation scan (P6): the reference loops
    every alias over every example (webnlg_baseline_input.py:68-97); we
    match the whole dictionary against all batch texts with Arrow C
    kernels + numpy n-gram passes (functions/mentionscan.py) — zero
    per-token Python, and `mapInArrow` keeps batches in Arrow end to end
    (no pandas materialization of page texts). Semantics are pinned to
    AhoCorasick.find_longest by fuzz tests.
    """

    def run(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        scanner, (surf_a, ent_a, cat_a) = _get_scanner()
        for batch in batches:
            rows, starts, ends, pids = scanner.scan_arrow(
                batch.column(batch.schema.get_field_index(text_col))
            )
            doc_ids = batch.column(batch.schema.get_field_index("doc_id"))
            pids_pa = pa.array(pids, type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    pc.cast(doc_ids.take(pa.array(rows, type=pa.int64())), pa.int64()),
                    surf_a.take(pids_pa),
                    ent_a.take(pids_pa),
                    cat_a.take(pids_pa),
                    pa.array(starts.astype(np.int32), type=pa.int32()),
                    pa.array(ends.astype(np.int32), type=pa.int32()),
                ],
                names=[f.name for f in MENTIONS_SCHEMA.fields],
            )

    return pages.select("doc_id", text_col).mapInArrow(run, MENTIONS_SCHEMA)
