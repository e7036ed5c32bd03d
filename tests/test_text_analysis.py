"""Text-analysis operators vs pure-Python twins."""

import re

from rdf_to_text_spark.operators.text_analysis import (
    BPE_ISH_PATTERN,
    bpe_token_count,
)


def test_bpe_token_count_matches_python_re(spark):
    """The engine-side regexp_extract_all must reproduce Python `re`
    exactly on contraction, digit-run, punctuation-run, and
    whitespace-run shapes (the same pattern runs in RE2 for the DuckDB
    oracle)."""
    texts = [
        "I've got 42 cats, don't I?  YES!",
        "hello world",
        "   leading and trailing   ",
        "a1b2c3 --- ...punct... 'quoted'",
        "it's we're they'll you've I'd I'm can't",
        "",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_ws_tokens, r.n_bpe_tokens) for r in bpe_token_count(docs).collect()}
    for i, t in enumerate(texts):
        exp_ws = len(t.strip().split()) if t.strip() else len(re.split(r"\s+", t.strip()))
        exp_bpe = len([m for m in re.findall(BPE_ISH_PATTERN, t) if m.strip()])
        assert got[i][1] == exp_bpe, (i, t, got[i])
        if t.strip():
            assert got[i][0] == exp_ws, (i, t, got[i])


def test_bpe_pair_counts_matches_naive(spark):
    docs = spark.createDataFrame(
        [(1, "low low lower"), (2, "newest widest low"), (3, "  ")],
        "doc_id long, text string",
    )
    from rdf_to_text_spark.operators.text_analysis import bpe_pair_counts

    got = {(r.left, r.right): r.n for r in bpe_pair_counts(docs).collect()}
    # naive recount
    from collections import Counter
    wc = Counter("low low lower newest widest low".split())
    want = Counter()
    for w, n in wc.items():
        for a, b in zip(w, w[1:]):
            want[(a, b)] += n
    assert got == dict(want)


def test_bpe_learn_merges_reference_parity(spark):
    """The driver-side greedy loop vs an independent naive replay:
    identical merge tables on a corpus with real tie cases."""
    text = "low low low lower lower newest newest newest newest widest"
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    from rdf_to_text_spark.operators.text_analysis import bpe_learn_merges

    got = bpe_learn_merges(docs, n_merges=8)

    # independent naive reference (recount + re-merge from scratch)
    from collections import Counter
    words = Counter(text.split())
    vocab = {w: list(w) for w in words}
    want = []
    for step in range(8):
        pc = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += words[w]
        if not pc:
            break
        best = max(pc.values())
        pair = min(p for p, c in pc.items() if c == best)
        want.append((step, pair[0], pair[1], best))
        for w, syms in vocab.items():
            i = 0
            while i < len(syms) - 1:
                if (syms[i], syms[i + 1]) == pair:
                    syms[i : i + 2] = [pair[0] + pair[1]]
                else:
                    i += 1
    assert got == want
    # classic BPE sanity: 'est' assembles within the first merges
    merged_syms = {l + r for _s, l, r, _n in got}
    assert "es" in merged_syms or "st" in merged_syms


def test_bpe_learn_merges_deterministic(spark):
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i % 5}") for i in range(40)],
        "doc_id long, text string",
    )
    from rdf_to_text_spark.operators.text_analysis import bpe_learn_merges

    a = bpe_learn_merges(docs, n_merges=10)
    b = bpe_learn_merges(docs, n_merges=10)
    assert a == b and len(a) == 10


def test_repetition_stats_crafted(spark):
    from rdf_to_text_spark.operators.text_analysis import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "same line\nsame line\nunique\nsame line"),
            (2, "a b a b a b"),  # top bigram 'a b' x3
            (3, "once"),          # single token: no bigrams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(docs).collect()}
    r1 = got[1]
    assert r1.n_lines == 4 and r1.n_dup_lines == 3
    assert r1.dup_line_chars == 3 * len("same line")
    assert got[2].top_bigram_n == 3
    assert got[3].top_bigram_n == 0 and got[3].n_dup_lines == 0


def test_pii_redact_order_and_masks(spark):
    from rdf_to_text_spark.operators.text_analysis import pii_redact

    docs = spark.createDataFrame(
        [
            # the email's digits/dots must be consumed by the EMAIL
            # pattern first — not double-counted as an IP or phone
            (1, "write to a.b-9@host10.example.com or 10.0.0.1 or +4512345678"),
            (2, "clean text, no pii at all"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in pii_redact(docs).collect()}
    assert (got[1].n_emails, got[1].n_ipv4, got[1].n_phones) == (1, 1, 1)
    assert (got[2].n_emails, got[2].n_ipv4, got[2].n_phones) == (0, 0, 0)
    import hashlib
    want = "write to <EMAIL> or <IP> or <PHONE>"
    assert got[1].redacted_md5 == hashlib.md5(want.encode()).hexdigest()


def test_ngram_overlap_flags_counts_distinct(spark):
    from rdf_to_text_spark.operators.text_analysis import ngram_overlap_flags

    bench = spark.createDataFrame(
        [(100, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            # shares two distinct 8-grams with the benchmark
            (1, "zero one two three four five six seven eight nine ten"),
            (2, "totally different words with no overlap here at all ok"),
            # repeats the same overlapping 8-gram twice: DISTINCT => 1
            # (the seam grams wrap around and match nothing)
            (3, "one two three four five six seven eight "
                "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_hit_grams for r in ngram_overlap_flags(docs, bench).collect()}
    assert got.get(1) == 2      # [one..eight], [two..nine]
    assert 2 not in got         # clean doc not flagged
    assert got.get(3) == 1      # duplicates collapse to one distinct gram


def _winnow_ref(tokens, k, w):
    """Pure-Python winnowing oracle (SIGMOD 2003 selection rule):
    rightmost minimum of every w-window of k-shingle md5 slots."""
    import hashlib

    m = len(tokens) - k + 1
    if m < 1:
        return set()
    hv = [
        int(hashlib.md5(" ".join(tokens[i : i + k]).encode()).hexdigest()[:8], 16)
        for i in range(m)
    ]
    eff = min(w, m)
    sel = set()
    for j in range(max(m - w, 0) + 1):
        win = hv[j : j + eff]
        mn = min(win)
        pos = j + max(i for i, v in enumerate(win) if v == mn)
        sel.add((pos, hv[pos]))
    return sel


def test_winnow_matches_pure_python_oracle(spark):
    from rdf_to_text_spark.operators.text_analysis import winnow_fingerprints

    texts = [
        "the quick brown fox jumps over the lazy dog and runs far away home",
        "a b c d e f g h i j k l m n o p q r s t",
        "one two three four five",          # exactly k tokens -> 1 shingle
        "repeat repeat repeat repeat repeat repeat repeat repeat repeat",
        "short doc here",                   # < k tokens -> no shingles
        "six seven eight nine ten eleven",  # m=2 < w -> single short window
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {}
    for r in winnow_fingerprints(docs, k=5, w=8).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    exp = {
        i: _winnow_ref(t.split(), 5, 8)
        for i, t in enumerate(texts)
        if _winnow_ref(t.split(), 5, 8)
    }
    assert got == exp


def test_winnow_guarantee_every_window_covered(spark):
    # winnowing guarantee: every w-window of shingles contains at least
    # one selected position -> consecutive selected positions gap <= w
    import random

    from rdf_to_text_spark.operators.text_analysis import winnow_fingerprints

    rng = random.Random(7)
    words = [rng.choice("abcdefgh") + str(rng.randrange(40)) for _ in range(300)]
    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    pos = sorted(r.pos for r in winnow_fingerprints(docs, k=4, w=6).collect())
    m = len(words) - 4 + 1
    assert pos[0] < 6 and pos[-1] >= m - 6
    assert all(b - a <= 6 for a, b in zip(pos, pos[1:]))
    # density ~ 2/(w+1): selected set is a small fraction of shingles
    assert len(pos) < m


def test_winnow_rejects_bad_params(spark):
    import pytest as _pytest

    from rdf_to_text_spark.operators.text_analysis import winnow_fingerprints

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="k and w"):
        winnow_fingerprints(docs, k=0, w=8)


def test_winnow_match_pairs_shared_run_and_cap(spark):
    from rdf_to_text_spark.operators.text_analysis import winnow_match_pairs

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    texts = [
        (1, "intro words here first " + shared + " tail one"),
        (2, "other lead in tokens " + shared + " tail two"),
        (3, "completely different content with no overlap at all in any span"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    rows = winnow_match_pairs(docs, k=5, w=8).collect()
    # guarantee: docs 1,2 share a 12-token (= w+k-1) verbatim run ->
    # at least one shared fingerprint; doc 3 pairs with nobody
    got = {(r.doc_a, r.doc_b): r.n_shared for r in rows}
    assert set(got) == {(1, 2)} and got[(1, 2)] >= 1

    # boilerplate cap: the same shared run on MANY docs is dropped
    many = spark.createDataFrame(
        [(i, shared) for i in range(10)], "doc_id long, text string"
    )
    assert winnow_match_pairs(many, k=5, w=8, max_docs_per_fp=4).count() == 0


def _winnow_expr_reference(docs, k, w):
    """The fully engine-side spelling of winnow_fingerprints — the form
    the DuckDB oracle replays: one narrow projection (tokenize,
    shingle-hash as a transform over a sequence, per-window rightmost
    argmin as a zip_with over window starts, distinct, explode). Zero
    shuffle, zero Python. Reference for the Arrow kernel."""
    from pyspark.sql import functions as F

    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    d = docs.select(F.col("doc_id"), toks.alias("toks")).filter(F.size("toks") >= k)
    # hv[i] = 32-bit slot of md5(space-joined shingle at 0-based i)
    hv = F.transform(
        F.sequence(F.lit(0), F.size("toks") - k),
        lambda i: F.conv(
            F.substring(F.md5(F.concat_ws(" ", F.slice("toks", i + 1, k))), 1, 8),
            16,
            10,
        ).cast("long"),
    )
    d = d.select("doc_id", hv.alias("hv"))
    m = F.size("hv")
    eff = F.least(F.lit(w), m)  # short docs: one window of all shingles
    starts = F.sequence(F.lit(0), F.greatest(m - w, F.lit(0)))
    wmins = F.transform(starts, lambda j: F.array_min(F.slice("hv", j + 1, eff)))
    # rightmost position of the window minimum, per window start
    sel = F.array_distinct(
        F.zip_with(
            starts,
            wmins,
            lambda j, mn: F.array_max(
                F.filter(F.sequence(j, j + eff - 1), lambda p: F.get("hv", p) == mn)
            ),
        )
    )
    return d.select("doc_id", "hv", F.explode(sel).alias("pos")).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.get("hv", "pos").alias("fp"),
    )


def test_winnow_arrow_kernel_equivalence(spark):
    # the Arrow kernel must emit EXACTLY the engine-side reference's
    # rows — corpus slice plus crafted short/degenerate/whitespace docs
    from rdf_to_text_spark.operators.text_analysis import winnow_fingerprints

    crafted = [
        (100, "one two three four five"),
        (101, "a b"),
        (102, "  tab\tand\nnewline   separated tokens here now ok yes sir "),
        (103, "r r r r r r r r r r r r r r r r"),
        (104, None),
    ]
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).unionByName(spark.createDataFrame(crafted, "doc_id long, text string"))
    a = {
        (r.doc_id, r.pos, r.fp)
        for r in _winnow_expr_reference(docs, k=5, w=8).collect()
    }
    b = {
        (r.doc_id, r.pos, r.fp)
        for r in winnow_fingerprints(docs, k=5, w=8).collect()
    }
    assert a == b and len(a) > 0


def test_winnow_arrow_custom_id_col_and_null_id(spark):
    """The kernel must emit a 'doc_id' output column whatever the input
    id column is named, and must skip NULL-id rows instead of crashing."""
    from rdf_to_text_spark.operators.text_analysis import winnow_fingerprints

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (None, "this row has a null id and must be skipped not crash ok")],
        "page_id long, text string",
    )
    out = winnow_fingerprints(docs, id_col="page_id")
    assert out.columns == ["doc_id", "pos", "fp"]
    rows = out.collect()
    assert rows and all(r.doc_id == 1 for r in rows)
