"""Extraction semantics: round trip, linking ladder, tie-breaks, offsets."""

import pandas as pd
import pytest
from test_noise_robustness import _perturb

from rdf_to_text_spark.fixtures import gold_triples_py, render_page_py
from rdf_to_text_spark.fixtures_web import render_rich_page_py
from rdf_to_text_spark.functions.htmltext import extract_blocks_py
from rdf_to_text_spark.functions.textnorm import _normalize_series
from rdf_to_text_spark.operators.extract import (
    _META,
    TRIPLES_SCHEMA,
    PatternBank,
    _extract_batch,
    _get_aliases,
    _get_bank,
    _link_series,
    _sentence_table,
    link_surface,
)


def _extract_docs(doc_ids):
    rows = []
    for d in doc_ids:
        p = render_page_py(d)
        if p["lang"] != "en":
            continue
        rows.append({"doc_id": d, "url": p["url"], "text": p["text"]})
    pdf = pd.DataFrame(rows)
    return _extract_batch(pdf, "text")


def test_round_trip_pr_is_perfect():
    """delex(relex(x)) == x, inverted: extract(render(gold)) == gold.

    Mirrors the reference round trip webnlg_baseline_input.py:38-104
    (delex) ↔ :191-238 (relex). north_rule demands P/R ≥ 0.95; the
    synthetic corpus must hit 1.0 exactly.
    """
    ids = list(range(500))
    got = _extract_docs(ids)
    got_set = set(
        map(tuple, got[["doc_id", "sent_idx", "subj", "pred", "obj"]].itertuples(index=False))
    )
    gold = set(gold_triples_py(ids))
    assert got_set == gold


def test_linking_ladder():
    """exact / lowercase / paren-stripped — webnlg_baseline_input.py:84-95."""
    aliases = _get_aliases()
    assert link_surface("Aarhus Airport", aliases) == "Aarhus_Airport"
    assert link_surface("aarhus airport", aliases) == "Aarhus_Airport"
    # paren variant: exact full form and the stripped prefix both resolve
    assert link_surface("Ardmore Airport ( New Zealand )", aliases) == "Ardmore_Airport_(New_Zealand)"
    assert link_surface("Ardmore Airport", aliases) == "Ardmore_Airport_(New_Zealand)"
    assert link_surface("Nonexistent Entity", aliases) is None


def test_longest_template_wins():
    """'is located in the city of' must beat 'is located in' (the
    whole-field preference of webnlg_baseline_input.py:67-70)."""
    pdf = pd.DataFrame(
        {
            "doc_id": [1],
            "url": ["u"],
            "text": ["Aarhus Airport is located in the city of Aarhus ."],
        }
    )
    got = _extract_batch(pdf, "text")
    assert len(got) == 1
    row = got.iloc[0]
    assert row["pred"] == "location"
    assert row["obj"] == "Aarhus"  # NOT 'the city of Aarhus'
    assert row["obj_surface"] == "Aarhus"


def test_unlinked_slots_drop_candidate():
    pdf = pd.DataFrame(
        {"doc_id": [1], "url": ["u"], "text": ["Mystery Thing serves the city of Nowhere ."]}
    )
    got = _extract_batch(pdf, "text")
    assert len(got) == 0


def test_char_offsets_slice_text():
    p = render_page_py(5)  # multi-sentence doc
    pdf = pd.DataFrame({"doc_id": [5], "url": [p["url"]], "text": [p["text"]]})
    got = _extract_batch(pdf, "text")
    for _, r in got.iterrows():
        assert p["text"][r["char_start"] : r["char_end"]].strip() != ""
        # the slice is exactly the matched sentence
        sent = p["text"][r["char_start"] : r["char_end"]]
        assert sent.endswith(" .")


def test_schema_columns_stable():
    got = _extract_docs(range(10))
    assert list(got.columns) == [f.name for f in TRIPLES_SCHEMA.fields]


def test_pattern_bank_compiles_all_templates():
    bank = PatternBank()
    from rdf_to_text_spark.templates import TEMPLATES

    assert len(bank.compiled) == len(TEMPLATES)


# ------------------------------------------------- batch alias linking
def _extract_batch_per_template_linking(pdf: pd.DataFrame, text_col: str) -> pd.DataFrame:
    """Reference: the per-template spelling of `_extract_batch`. Each
    template's captures are linked on their own (the ladder's three
    ``Series.map`` calls per slot, 66 ladders per batch), with a pandas
    substring prefilter, before the best linked match per sentence is
    kept."""
    bank = _get_bank()
    alias_map = {surf: ent for surf, (ent, _cat) in _get_aliases().items()}
    cols = [f.name for f in TRIPLES_SCHEMA.fields]
    sent = _sentence_table(pdf, text_col)
    if sent.empty:
        return pd.DataFrame(columns=cols)
    parts = []
    for (tid, rx, pred, n_literal), lit in zip(bank.compiled, bank.prefilter):
        cand_sents = sent["sentence"][sent["sentence"].str.contains(lit, regex=False)]
        if cand_sents.empty:
            continue
        ext = cand_sents.str.extract(rx)
        hit = ext["e1"].notna() & ext["e2"].notna()
        if not hit.any():
            continue
        idx = ext.index[hit]
        cand = sent.loc[idx, _META].copy()
        cand["subj_surface"] = ext.loc[idx, "e1"]
        cand["obj_surface"] = ext.loc[idx, "e2"]
        cand["subj"] = _link_series(cand["subj_surface"], alias_map)
        cand["obj"] = _link_series(cand["obj_surface"], alias_map)
        linked = cand[cand["subj"].notna() & cand["obj"].notna()].copy()
        if linked.empty:
            continue
        linked["pred"] = pred
        linked["template_id"] = tid
        linked["_rank_lit"] = -n_literal
        linked["_sid"] = linked.index
        parts.append(linked)
    if not parts:
        return pd.DataFrame(columns=cols)
    allc = pd.concat(parts, ignore_index=True)
    allc = allc.sort_values(["_sid", "_rank_lit", "template_id"]).drop_duplicates("_sid")
    allc["template_id"] = allc["template_id"].astype("int32")
    return allc[cols]


def _rich_corpus() -> pd.DataFrame:
    """Rich fixture pages as the flagship's rich path feeds them to the
    extractor: English pages, paragraph lines joined, normalized."""
    pages = [p for p in map(render_rich_page_py, range(600)) if p["lang"] == "en"]
    texts = [
        " ".join(line for tag, line in extract_blocks_py(p["html"]) if tag == "p")
        for p in pages
    ]
    return pd.DataFrame(
        {
            "doc_id": [p["doc_id"] for p in pages],
            "url": [p["url"] for p in pages],
            "text": _normalize_series(pd.Series(texts, dtype="object")).to_numpy(),
        }
    )


def _noise_corpus() -> pd.DataFrame:
    """The test_noise_robustness corpus: every 10th page perturbed."""
    rows = []
    for d in (d for d in range(600) if d % 20 != 0):
        p = render_page_py(d)
        text = _perturb(p["text"]) if d % 10 == 3 else p["text"]
        rows.append({"doc_id": d, "url": p["url"], "text": text})
    return pd.DataFrame(rows)


@pytest.mark.parametrize("corpus", [_rich_corpus, _noise_corpus], ids=["rich", "noise"])
def test_batch_linking_equals_per_template_linking(corpus):
    pdf = corpus()
    got = _extract_batch(pdf, "text")
    want = _extract_batch_per_template_linking(pdf, "text")
    assert len(want) > 100  # the corpora do extract
    key = ["doc_id", "sent_idx"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
    )
