"""Text analysis for training-data pipelines: language ID, quality
gates, token counting, fingerprinting.

Engine expressions wherever the JVM runs them well, so the DuckDB
oracles can reproduce them exactly; the BPE encoder and the winnowing
kernel run in Arrow batches (mapInPandas). Ratios are rounded to fixed
decimals at the operator boundary — the cross-engine hash contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Small English function-word list for the n-gram/stopword heuristic.
EN_STOPWORDS = [
    "the", "a", "an", "of", "in", "is", "to", "and", "for", "on",
    "with", "by", "was", "as", "at", "from",
]


def _ws_tokens(text_col: str):
    return F.split(F.trim(F.col(text_col)), r"\s+")


# GPT-2-style pre-tokenization pattern, restricted to what BOTH Java
# regex (Spark) and RE2 (DuckDB) support identically: no lookahead, no
# unicode property classes. Contraction suffixes first (leftmost-first
# alternation in both engines), then space-prefixed letter runs, digit
# runs, punctuation runs, whitespace runs.
BPE_ISH_PATTERN = r"'(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_token_count(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens) — whitespace count next to a
    BPE-ish pre-tokenizer count (the GPT-2 split pattern above, pure
    whitespace runs excluded). Engine-side `regexp_extract_all`, no
    Python; the DuckDB oracle runs the same pattern through RE2."""
    matches = F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0))
    n_bpe = F.size(F.filter(matches, lambda m: F.trim(m) != F.lit("")))
    return docs.select(
        F.col(id_col).cast("long"),
        F.size(_ws_tokens(text_col)).cast("int").alias("n_ws_tokens"),
        n_bpe.cast("int").alias("n_bpe_tokens"),
    )


def en_ratio_col(text_col: str = "text") -> F.Column:
    """Stopword fraction of a text column (the lang-ID score), as a
    reusable engine-side expression — no UDF, no extra frame."""
    lower = F.lower(F.col(text_col))
    toks = F.split(F.trim(lower), r"\s+")
    sw_arr = F.array([F.lit(w) for w in EN_STOPWORDS])
    return F.round(
        F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t))) / F.size(toks), 4
    )


def lang_id_col(text_col: str = "text") -> F.Column:
    """pred_lang expression: 'en' when ≥5% of tokens are English
    function words — the same rule lang_id tabulates, exposed as a
    column so ingest paths (run_pipeline --detect-lang) can gate
    inline without a join."""
    r = en_ratio_col(text_col)
    return F.when(r >= 0.05, F.lit("en")).otherwise(F.lit("other"))


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, en_ratio, pred_lang) — stopword-fraction heuristic.

    pred_lang = 'en' when ≥ 5% of tokens are English function words.
    (A real system plugs a fastText model into the same slot as a
    pandas UDF; the plumbing — per-doc score + threshold — is what the
    engine owns.)
    """
    return docs.select(
        F.col(id_col),
        en_ratio_col(text_col).alias("en_ratio"),
        lang_id_col(text_col).alias("pred_lang"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, fp) — md5 of squeezed lowercase text (content identity)."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return docs.select(F.col(id_col), F.md5(norm).alias("fp"))


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals, integer-exact: per document the
    line count, the count and character mass of lines occurring more
    than once, and the occurrence count of the most frequent token
    bigram — the quality gates that catch boilerplate-looped and
    spam-repeated pages, in pure engine expressions so a second engine
    replays them under the hash.

    Plan: two combiner groupBys keyed (doc, line) / (doc, bigram) — the
    keys carry the doc id, so both aggregate map-side and shuffle only
    distinct (doc, value) pairs; no window, no UDF.
    """
    lines = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "\n")).alias("line")
    )
    lc = lines.groupBy(id_col, "line").agg(F.count(F.lit(1)).alias("c"))
    line_agg = lc.groupBy(id_col).agg(
        F.sum("c").alias("n_lines"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("n_dup_lines"),
        F.sum(
            F.when(F.col("c") > 1, F.col("c") * F.length("line")).otherwise(0)
        ).alias("dup_line_chars"),
    )
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != F.lit(""))
    # guard the 1-token case: sequence(0, -1) is DESCENDING in Spark
    bigrams = F.expr(
        "CASE WHEN size(_toks) >= 2 THEN"
        " transform(sequence(0, size(_toks) - 2),"
        " i -> concat(_toks[i], ' ', _toks[i + 1]))"
        " ELSE cast(array() AS array<string>) END"
    )
    bg = (
        docs.select(F.col(id_col), toks.alias("_toks"))
        .select(F.col(id_col), F.explode(bigrams).alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_bigram_n"))
    )
    return line_agg.join(bg, id_col, "left").fillna(0, ["top_bigram_n"])


def ngram_overlap_flags(
    docs: DataFrame,
    benchmark_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag documents sharing any token
    ``n``-gram with an eval/benchmark set — the curation step every
    LLM pipeline runs before training (eval leakage otherwise inflates
    scores). Output: (doc_id, n_hit_grams) for contaminated documents,
    counting DISTINCT overlapping n-grams.

    Plan: both sides tokenize engine-side and explode distinct
    (doc, gram); the benchmark gram set is eval-sized by construction
    → broadcast; one semi-shaped inner join + combiner count. At 100 TB
    the corpus side stays a narrow map + one aggregate.
    """

    def grams(df: DataFrame) -> DataFrame:
        toks = F.filter(
            F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
        )
        arr = F.expr(
            f"CASE WHEN size(_toks) >= {n} THEN"
            f" transform(sequence(0, size(_toks) - {n}),"
            f" i -> array_join(slice(_toks, i + 1, {n}), ' '))"
            f" ELSE cast(array() AS array<string>) END"
        )
        return (
            df.select(F.col(id_col), toks.alias("_toks"))
            .select(F.col(id_col), F.explode(arr).alias("gram"))
            .distinct()
        )

    bench = grams(benchmark_docs).select("gram").distinct()
    return (
        grams(docs)
        .join(F.broadcast(bench), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )


def bpe_pair_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-weighted adjacent-character pair counts over the word
    vocabulary — the FIRST iteration of BPE merge learning, and the
    only part that touches the full corpus: (left, right, n) where n
    sums the containing words' corpus frequencies (a word contributes
    its count once per OCCURRENCE of the pair inside it, the classic
    BPE convention).

    Plan: one combiner word-count groupBy (corpus → vocabulary-sized),
    then pair explosion over the VOCAB only (tiny) + one more combiner
    groupBy. At 100 TB the corpus is touched exactly once.
    """
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )
    wc = (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = F.expr(
        "transform(sequence(1, length(word) - 1),"
        " i -> struct(substring(word, i, 1) AS l, substring(word, i + 1, 1) AS r))"
    )
    return (
        wc.filter(F.length("word") >= 2)
        .select("n", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("n").alias("n"))
    )


def bpe_learn_merges(
    docs: DataFrame,
    n_merges: int = 20,
    max_vocab: int = 50_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[tuple[int, str, str, int]]:
    """Learn BPE merges over the corpus: [(step, left, right, count)].

    The 100 TB shape: Spark computes word counts (the only corpus-wide
    pass — one combiner groupBy); merge learning then runs over the
    VOCABULARY (capped at ``max_vocab`` words by count desc, word asc —
    deterministic), which is dictionary-sized at any corpus scale, so
    the greedy loop is driver-side pure Python (the same split every
    production BPE trainer makes: distributed counting, local merging).
    Ties break (count desc, pair asc) so the merge table is a pure
    function of the corpus. Symbols start as characters; merged symbols
    concatenate (no end-of-word marker — the GPT-2-style pre-tokenizer
    upstream already isolates words).
    """
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )
    rows = (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(max_vocab)
        .collect()
    )
    vocab = [(list(r.word), int(r.n)) for r in rows]
    merges: list[tuple[int, str, str, int]] = []
    for step in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, n in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + n
        if not counts:
            break
        # deterministic argmax: count desc, then pair lexicographic
        (left, right), best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, left, right, best))
        merged = left + right
        for syms, _n in vocab:
            i = 0
            while i < len(syms) - 1:
                if syms[i] == left and syms[i + 1] == right:
                    syms[i : i + 2] = [merged]
                else:
                    i += 1
    return merges


# PII patterns restricted to what Java regex (Spark) and RE2 (DuckDB)
# match identically: no lookaround, no backreferences. The word
# boundary \b exists in both.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_INTL_PHONE = r"\+\d{7,15}"


def pii_redact(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrubbing — the pre-training redaction pass: replace emails,
    IPv4 addresses and international phone numbers with typed mask
    tokens, and count each. Pure engine regexps (whole-stage codegen,
    patterns in the Java∩RE2 dialect) so a second engine replays the
    exact redacted text; the redacted text is fingerprinted (md5) so
    the full replacement output sits under the hash without shipping
    the text twice.

    Order matters and is part of the contract: emails first (an email's
    host part must not be eaten by a later pattern), then IPv4, then
    phones.
    """
    t = F.col(text_col)
    t1 = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_IPV4, "<IP>")
    t3 = F.regexp_replace(t2, PII_INTL_PHONE, "<PHONE>")

    def n(col, pat):
        return F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))

    return docs.select(
        F.col(id_col),
        n(t, PII_EMAIL).alias("n_emails"),
        n(t1, PII_IPV4).alias("n_ipv4"),
        n(t2, PII_INTL_PHONE).alias("n_phones"),
        F.md5(t3).alias("redacted_md5"),
    )


def dup_span_stats(
    docs: DataFrame, n: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Cross-document duplicated n-gram SPAN statistics — the
    exact-substring dedup signal of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), re-expressed for a
    shuffle engine: instead of a suffix array over the concatenated
    corpus, hash-aggregate token n-grams, keep those occurring in >= 2
    distinct documents, and measure per document how much of it sits
    inside duplicated spans.

    Output: (doc_id, n_grams, n_dup_pos, max_dup_run) over documents
    with >= n tokens — n_dup_pos counts gram start positions whose
    n-gram also appears in another document; max_dup_run is the
    longest consecutive run of such positions (a run of r duplicated
    n-grams is a duplicated span of r + n - 1 tokens, the quantity the
    suffix-array method reports).

    Plan: one explode to (doc, pos, gram); document frequency via a
    combiner groupBy on gram (approx of the suffix array's LCP scan)
    filtered to nd >= 2; join back on gram — a shuffle hash join where
    AQE splits hot boilerplate grams; islands per doc via a
    doc-partitioned window (doc-sized partitions, never a global
    sort).
    """
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != F.lit(""))
    arr = F.expr(
        f"CASE WHEN size(_toks) >= {n} THEN"
        f" transform(sequence(0, size(_toks) - {n}),"
        f" i -> array_join(slice(_toks, i + 1, {n}), ' '))"
        f" ELSE cast(array() AS array<string>) END"
    )
    grams = docs.select(F.col(id_col), toks.alias("_toks")).select(
        F.col(id_col), F.posexplode(arr).alias("pos", "gram")
    )
    totals = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    dupg = (
        grams.groupBy("gram")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    hits = grams.join(dupg, "gram").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = hits.withColumn("rid", F.col("pos") - F.row_number().over(w))
    dstats = (
        runs.groupBy(id_col, "rid")
        .agg(F.count(F.lit(1)).alias("rl"))
        .groupBy(id_col)
        .agg(F.sum("rl").alias("n_dup_pos"), F.max("rl").alias("max_dup_run"))
    )
    return totals.join(dstats, id_col, "left").fillna(0, ["n_dup_pos", "max_dup_run"])


def unigram_lm_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cleanup: list | None = None,
) -> DataFrame:
    """CCNet-style language-model quality bucketing, made integer-exact
    so a second engine replays it under a hash: the corpus's own
    unigram frequencies stand in for the LM (a doc whose tokens are
    corpus-typical scores high, like CCNet's Wikipedia-LM perplexity
    but self-contained), each doc gets scaled_score =
    (sum of its tokens' corpus counts) * 1_000_000 div n_tok, and docs
    split into head / middle / tail terciles — CCNet trains on head +
    middle and drops tail.

    Output: (doc_id, n_tok, sum_freq, scaled_score, bucket).

    Plan: unigram counts are a vocabulary-sized combiner aggregate →
    broadcast back onto the token stream (no shuffle of the corpus);
    per-doc score is one doc-keyed combiner groupBy. The tercile split
    uses functions/ranking.py:global_row_numbers (range-partitioned
    rank, driver-side bucket offsets) + explicit NTILE arithmetic
    instead of an unpartitioned NTILE window, so the plan carries NO
    single-partition exchange at any corpus size.
    """
    from ..functions.ranking import global_row_numbers

    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != F.lit(""))
    stream = docs.select(F.col(id_col), F.explode(toks).alias("tok"))
    freq = stream.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    per_doc = (
        stream.join(F.broadcast(freq), "tok")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tok"), F.sum("c").alias("sum_freq"))
        .withColumn("scaled_score", F.expr("(sum_freq * 1000000) div n_tok"))
    )
    n_docs = per_doc.count()
    q, r = divmod(n_docs, 3)
    b1 = q + (1 if r >= 1 else 0)
    b2 = b1 + q + (1 if r >= 2 else 0)
    ranked = global_row_numbers(
        per_doc,
        [F.col("scaled_score").desc(), F.col(id_col)],
        rn_col="_rn",
        small_threshold=0,
        cleanup=cleanup,
    )
    return ranked.select(
        id_col,
        "n_tok",
        "sum_freq",
        "scaled_score",
        F.when(F.col("_rn") <= b1, F.lit("head"))
        .when(F.col("_rn") <= b2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def bpe_encode(
    docs: DataFrame,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Apply a learned BPE merge table (bpe_learn_merges output, or any
    [(left, right), ...] priority list) to encode every document —
    the other half of the tokenizer loop: train once, encode the whole
    corpus.

    Output: (doc_id, n_words, n_symbols, encoded_md5) — encoded_md5
    hashes the doc's full symbol sequence in token order, so the merge
    application AND the order-preserving reassembly ride one value.

    Plan — the same corpus/vocabulary split as the trainer: encoding
    is a pure function of the WORD, so Python runs only over the
    distinct-word vocabulary (Arrow-batched mapInPandas, replaying the
    trainer's sequential merge loop for exact parity), and the result
    joins back onto the token stream — broadcast by default
    (vocabularies are dictionary-sized); pass broadcast_vocab=False
    when a web-scale long tail outgrows the broadcast threshold and
    the join should shuffle instead. The corpus itself is touched once
    and never enters Python.
    """
    import pandas as pd

    merge_list = [
        (m[1], m[2]) if len(m) >= 4 else (m[0], m[1]) for m in merges
    ]

    def _encode_batches(batches):
        for pdf in batches:
            out_sym, out_n = [], []
            for word in pdf["word"]:
                syms = list(word)
                for lft, rgt in merge_list:
                    merged = lft + rgt
                    i = 0
                    while i < len(syms) - 1:
                        if syms[i] == lft and syms[i + 1] == rgt:
                            syms[i : i + 2] = [merged]
                        else:
                            i += 1
                out_sym.append(" ".join(syms))
                out_n.append(len(syms))
            yield pd.DataFrame(
                {"word": pdf["word"], "sym_str": out_sym, "n_sym": out_n}
            )

    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != F.lit(""))
    tokens = docs.select(F.col(id_col), F.posexplode(toks).alias("pos", "word"))
    vocab = tokens.select("word").distinct()
    encoded = vocab.mapInPandas(
        _encode_batches, schema="word string, sym_str string, n_sym int"
    )
    if broadcast_vocab:
        encoded = F.broadcast(encoded)
    return (
        tokens.join(encoded, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_symbols"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("pos"), F.col("sym_str")))
                        ),
                        lambda s: s["sym_str"],
                    ),
                    " ",
                )
            ).alias("encoded_md5"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 8,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003 — the MOSS selector): per document the selected (pos, fp)
    pairs, where `fp` is the 32-bit md5 slot of the k-token shingle at
    0-based shingle position `pos`, and a shingle is selected iff it is
    the RIGHTMOST minimum of at least one window of `w` consecutive
    shingle hashes. The winnowing guarantee: any match of length
    >= w + k - 1 tokens between two documents shares at least one
    selected fingerprint — the local, position-robust complement to the
    whole-doc `fingerprint` above and the MinHash sketch family in
    `operators/dedup.py` (containment/plagiarism spans, not whole-doc
    resemblance).

    Documents with fewer than w shingles keep the guarantee trivially:
    they form a single (short) window and contribute their rightmost
    minimal shingle.

    The kernel is the numpy sliding window of :func:`_winnow_arrow`.
    Work is O(shingles * w) per document with w a small constant.
    Density: expected selected fraction is 2/(w+1) of shingles
    (SIGMOD 2003 §4), so the output is ~4x smaller than the shingle set
    at the default w=8.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1 (got k={k}, w={w})")
    return _winnow_arrow(docs, text_col, id_col, k, w)


def winnow_match_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 8,
    max_docs_per_fp: int = 64,
) -> DataFrame:
    """Cross-document containment candidates from winnowing
    fingerprints — the join half of the MOSS pipeline (SIGMOD 2003 §5:
    build the fingerprint index, report documents sharing selected
    fingerprints): (doc_a, doc_b, n_shared) for every unordered doc
    pair sharing >= 1 selected fingerprint, n_shared = the count of
    DISTINCT shared fp values. By the winnowing guarantee, any pair
    sharing a verbatim run of >= w + k - 1 tokens appears here — the
    local/plagiarism-span complement to MinHash-LSH's whole-doc
    resemblance candidates (`operators/dedup.py`).

    Scale shape: the `minhash_lsh_candidates_md5` ladder discipline — the
    per-doc fingerprint sets are deduped to (doc, fp), fp groups larger
    than `max_docs_per_fp` are dropped BEFORE the self-join (boilerplate
    fingerprints — a shingle shared by thousands of pages — would
    otherwise explode quadratically; same rule as the LSH max_bucket
    cap), and the join is ids-only on the fp key with doc_a < doc_b.
    One distinct + one count-window + one hash join + one pair groupBy,
    all on uniform md5-slot keys.
    """
    fps = winnow_fingerprints(docs, text_col, id_col, k, w).select(
        F.col("doc_id"), "fp"
    ).distinct()
    fp_w = Window.partitionBy("fp")
    kept = (
        fps.withColumn("_n", F.count(F.lit(1)).over(fp_w))
        .filter(F.col("_n") <= max_docs_per_fp)
        .drop("_n")
    )
    return (
        kept.alias("x")
        .join(
            kept.alias("y"),
            (F.col("x.fp") == F.col("y.fp"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .agg(F.count_distinct(F.col("x.fp")).alias("n_shared"))
    )


def _winnow_arrow(
    docs: DataFrame, text_col: str, id_col: str, k: int, w: int
) -> DataFrame:
    """Arrow kernel for :func:`winnow_fingerprints`: numpy sliding
    window in mapInPandas. Why not engine-side: the expression form's
    nested higher-order functions allocate boxed arrays per row on the
    ONE shared JVM heap, and measured 8→32 scaling collapses to ~0.35
    while a raw-multiprocessing md5 control on the same box reaches
    0.68 (BENCH.md round-7 winnow annotation); process-per-core Python
    workers sidestep the shared-heap wall (the rich-extract kernel
    precedent). That expression form — the one the DuckDB oracle
    replays — is kept in tests/test_text_analysis.py as the reference
    this kernel must equal on corpus and crafted inputs.

    Output columns are ``doc_id, pos, fp`` regardless of ``id_col``,
    and rows with a NULL id are skipped like rows with NULL text.

    Tokenization matches the engine exactly: split on the Java-regex
    ASCII \\s class [ \\t\\n\\x0b\\f\\r] with empties dropped (NOT
    Python str.split(), whose Unicode whitespace set is wider)."""
    import re

    import numpy as np
    import pandas as pd

    from numpy.lib.stride_tricks import sliding_window_view

    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def run(batches):
        import hashlib

        for pdf in batches:
            out_doc, out_pos, out_fp = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None or doc_id is None or doc_id != doc_id:
                    continue  # NULL text/id rows are skipped (ADVICE r7)
                toks = [t for t in ws.split(text) if t]
                m = len(toks) - k + 1
                if m < 1:
                    continue
                hv = np.fromiter(
                    (
                        int(
                            hashlib.md5(
                                " ".join(toks[i : i + k]).encode()
                            ).hexdigest()[:8],
                            16,
                        )
                        for i in range(m)
                    ),
                    dtype=np.int64,
                    count=m,
                )
                eff = min(w, m)
                wins = sliding_window_view(hv, eff)
                if m > w:
                    wins = wins[: m - w + 1]
                mins = wins.min(axis=1)
                right = eff - 1 - np.argmax(wins[:, ::-1] == mins[:, None], axis=1)
                pos = np.unique(np.arange(len(wins)) + right)
                out_doc.extend([int(doc_id)] * len(pos))
                out_pos.extend(pos.tolist())
                out_fp.extend(hv[pos].tolist())
            yield pd.DataFrame(
                {"doc_id": out_doc, "pos": out_pos, "fp": out_fp}
            ).astype({"doc_id": "int64", "pos": "int64", "fp": "int64"})

    return docs.select(F.col(id_col).alias(id_col), F.col(text_col)).mapInPandas(
        run, schema="doc_id long, pos long, fp long"
    )
