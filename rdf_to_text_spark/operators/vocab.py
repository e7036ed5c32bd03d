"""Vocabulary construction (SURVEY.md A1/A2).

Reference: `build_vocab.py:11-17` (`get_words`: strip ' < TSP > ' and
' | ' separators, lowercase, whitespace split, Counter) and `:33-44`
(rank by count, prepend 7 special tokens, contiguous ids).

Spark shape: explode → hash-aggregate (map-side partial combine for
free) → rank window. Ties in `Counter.most_common` are insertion-order
(not reproducible), so the engine pins ties by word ascending — a
superset-deterministic version of the reference's ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

SPECIALS = ["<pad>", "<start>", "<end>", "<unk>", "A0", "A1", "NE"]


def word_counts(lines: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) — reference `get_words` semantics, distributed."""
    cleaned = F.lower(
        F.regexp_replace(F.regexp_replace(F.col(text_col), r" < TSP > ", " "), r" \| ", " ")
    )
    return (
        lines.select(F.explode(F.split(F.trim(cleaned), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def build_vocab(
    lines: DataFrame,
    text_col: str = "text",
    limit: int | None = None,
    cleanup: list | None = None,
) -> DataFrame:
    """(word, cnt, vocab_id) — freq-ranked ids after 7 specials.

    Specials occupy ids 0-6 (`build_vocab.py:36`); corpus words start
    at 7. The rank is a DISTRIBUTED global row_number
    (functions/ranking.py: range-partition + bucket offsets), not a
    single-partition window: the reference's vocabulary is 2,793 words,
    but a web corpus's long tail of rare words is itself huge, and the
    id assignment must not funnel it through one task. (cnt desc, word)
    is a total order — `word` is unique after the count groupBy.

    `cleanup` is forwarded to global_row_numbers (persist handle for
    caller-controlled unpersist; see functions/ranking.py).
    """
    from ..functions.ranking import global_row_numbers

    counts = word_counts(lines, text_col)
    if limit:
        counts = counts.orderBy(F.desc("cnt"), "word").limit(limit)
    ranked = global_row_numbers(
        counts, [F.col("cnt").desc(), F.col("word")], rn_col="_rn", cleanup=cleanup
    ).withColumn("vocab_id", (F.col("_rn") + len(SPECIALS) - 1).cast("int")).drop("_rn")
    spark = lines.sparkSession
    specials = local_frame(
        spark,
        [(tok, 0, i) for i, tok in enumerate(SPECIALS)],
        "word string, cnt long, vocab_id int",
    )
    return specials.unionByName(ranked.select("word", F.col("cnt").cast("long"), "vocab_id"))
