"""Seeded input generation: a seed picks a doc-id window, the window is
rendered into files, and the program under test only ever sees those files.

The fixtures are pure doc-id arithmetic, so every window carries the same
mix (1/20 non-English pages, every 5th url recaptured, every 7th page
mirrored) with different strings.
"""

from __future__ import annotations

import random
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from rdf_to_text_spark.fixtures import render_page_py
from rdf_to_text_spark.fixtures_web import render_rich_page_py
from rdf_to_text_spark.sources.warc import write_warc_py

ID_SPACE = 10**9  # mirrors live at d + ID_SPACE, so windows stay below it
CAPTURE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z
MIRROR_LINE = "mirrored archive copy"


def window(seed: int, n: int) -> range:
    """The seed's doc-id window: n consecutive ids with 9 digits each."""
    base = random.Random(seed).randrange(10**8, ID_SPACE - n)
    return range(base, base + n)


def _iso(sec: int) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(sec))


def write_crawl_warc(dest: Path, ids: range, n_files: int) -> int:
    """Rich pages as ``.warc.gz`` files: one capture per url, every 5th url
    recaptured a day later into another file. Returns the record count."""
    dest.mkdir(parents=True)
    files: list[list] = [[] for _ in range(n_files)]
    for i, d in enumerate(ids):
        page = render_rich_page_py(d)
        f = i * n_files // len(ids)
        files[f].append((page["url"], _iso(CAPTURE_EPOCH + d), page["html"]))
        if d % 5 == 0:
            files[(f + n_files // 2) % n_files].append(
                (page["url"], _iso(CAPTURE_EPOCH + d + 86400), page["html"])
            )
    for k, recs in enumerate(files):
        (dest / f"crawl-{k:03d}.warc.gz").write_bytes(write_warc_py(recs))
    return sum(len(r) for r in files)


def _write_parts(dest: Path, table: pa.Table, n_files: int) -> None:
    dest.mkdir(parents=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), dest / f"part-{k:03d}.parquet")


def write_curation_docs(dest: Path, ids: range, n_files: int) -> int:
    """Extracted rich-page text (doc_id, lang, text) plus a near-dup mirror
    of every 7th page (id d + ID_SPACE, one extra line). Returns rows."""
    doc_ids, langs, texts = [], [], []
    for d in ids:
        page = render_rich_page_py(d)
        doc_ids.append(d)
        langs.append(page["lang"])
        texts.append(page["text"])
        if d % 7 == 3:
            doc_ids.append(d + ID_SPACE)
            langs.append(page["lang"])
            texts.append(page["text"] + "\n" + MIRROR_LINE)
    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "lang": pa.array(langs, pa.string()),
            "text": pa.array(texts, pa.string()),
        }
    )
    _write_parts(dest, table, n_files)
    return table.num_rows


def write_plain_pages(dest: Path, ids: range, n_files: int) -> int:
    """Plain pages in the ``fixtures.PAGES_SCHEMA`` layout. Returns rows."""
    pages = [render_page_py(d) for d in ids]
    table = pa.table(
        {
            "doc_id": pa.array([p["doc_id"] for p in pages], pa.int64()),
            "url": pa.array([p["url"] for p in pages], pa.string()),
            "warc_ts": pa.array(
                [(CAPTURE_EPOCH + p["doc_id"]) * 10**6 for p in pages],
                pa.timestamp("us", tz="UTC"),
            ),
            "html": pa.array([p["html"] for p in pages], pa.binary()),
            "text": pa.array([p["text"] for p in pages], pa.string()),
            "lang": pa.array([p["lang"] for p in pages], pa.string()),
        }
    )
    _write_parts(dest, table, n_files)
    return table.num_rows
