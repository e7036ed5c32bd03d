"""Deterministic *realistic* web pages + a by-construction text oracle.

`fixtures.py` renders minimal pages (``<html><body><p>text``) because the
flagship contract there is byte-identical normalization. This module
renders the same doc_id arithmetic into a REALISTIC Common-Crawl-style
page — doctype, comments, head with title/style/script, nav boilerplate,
inline markup inside paragraphs, noscript/template subtrees, entity
references, a footer — so the production HTML→text extractor
(`functions/htmltext.py`) has something honest to chew on.

Same three-way contract as `fixtures.py`:

  1. :func:`render_rich_page_py` — plain Python render AND the expected
     extracted text (the executable spec);
  2. :func:`rich_pages_from_documents` / :func:`rich_pages_from_range`
     — Spark, Arrow-batched;
  3. :func:`rich_text_sql` — generated DuckDB SQL reconstructing the
     ENTIRE expected text (title line, nav lines, heading, every
     sentence with relex-replayed surfaces, decoded-entity footer) from
     doc_id arithmetic alone — the oracle never parses HTML.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .fixtures import _render_sentence, _values, gold_cte
from .templates import FILLERS, TEMPLATES

_T = len(TEMPLATES)

# Outlink targets live in a fixed id space independent of corpus size
# (the web links beyond any crawl's frontier); graph queries inner-join
# targets against the docs actually present.
_LINK_SPACE = 4096

_FOOTER_TEXT = "© 2024 Synth <Example>"
_FOOTER_HTML = "&copy; 2024 Synth &lt;Example&gt;"

# Non-f-string fragments: raw braces + markup that must reach the parser
# verbatim (style content with a fake tag in a string, script with && and
# an entity that must NOT be decoded because script text is skipped).
_STYLE = '<style>body { color: #123; } p::before { content: "<junk>"; }</style>'
_SCRIPT_TMPL = (
    '<script type="text/javascript">var n = %d; '
    'if (n < 9999 && n >= 0) { console.log("skip &amp; ignore"); }</script>'
)


_TAG_OPEN = re.compile(r"<(/?)([a-z][a-z0-9]*)")
_PLAIN_QUOTED = re.compile(r'="([^"\s>]*)"')


def loosen_markup_py(html: bytes) -> bytes:
    """The same page in legacy spelling: uppercase tag names and
    attribute values unquoted wherever the HTML grammar allows it
    (no whitespace or '>' in the value). Every extractor view is
    unchanged (tag and attribute names fold to lowercase), but none of
    the page's tags is in the lowercase, quoted form that
    `functions/htmltext.py`'s one-regex tag scan takes, so it times and
    tests the per-tag walk."""
    s = html.decode("utf-8")
    s = _TAG_OPEN.sub(lambda m: f"<{m[1]}{m[2].upper()}", s)
    return _PLAIN_QUOTED.sub(r"=\1", s).encode("utf-8")


def render_rich_page_py(doc_id: int) -> dict:
    """Realistic page render + its expected extracted text.

    The visible-text contract (what `extract_text_rich_py` must emit):
      line 1           : ``Doc {d} & the {cat} page``   (title, &amp; decoded)
      lines 2-3        : ``Home`` / ``About``           (nav <li> items)
      line 4           : ``Entry {d}``                  (h1 with inline span)
      lines 5..4+n_sent: the sentences (one <p> each, first word <b>-wrapped)
      last line        : ``© 2024 Synth <Example>``     (footer, entities)
    Comments, style, script, noscript, template subtrees contribute
    nothing.
    """
    d = doc_id
    n_sent = 1 + d % 3
    sents = [_render_sentence(d, s)[0] for s in range(n_sent)]
    cat = TEMPLATES[(d * 7) % _T][1]
    lang = "en" if d % 20 != 0 else "xx"

    paras = []
    for s, sent in enumerate(sents):
        w0, _, rest = sent.partition(" ")
        paras.append(f'<p id="s{s}"><b>{w0}</b> {rest}</p>')

    # deterministic outlinks: 1 + (d*7+3) % 4 root-relative hrefs whose
    # targets follow the same /{category}/{doc_id:08d} url scheme
    n_out = 1 + (d * 7 + 3) % 4
    targets = [(d * 37 + k * 61 + 1) % _LINK_SPACE for k in range(n_out)]
    rel_items = [
        f'<li><a href="/{TEMPLATES[(j * 7) % _T][1]}/{j:08d}">Doc {j}</a></li>'
        for j in targets
    ]

    # page directives: a description for every page; robots noindex on
    # every 13th (the crawl-gating surface extract_meta_py feeds)
    metas = [("description", f"Synthetic {cat} page {d}")]
    if d % 13 == 0:
        metas.append(("robots", "noindex"))
    meta_html = [f'<meta name="{k}" content="{v}">' for k, v in metas]

    html = "\n".join(
        [
            "<!DOCTYPE html>",
            f"<!-- synthetic page {d} -->",
            # the lang ATTRIBUTE is the page's self-declared language —
            # what a crawl pipeline recovers after WARC round-trips strip
            # side-channel metadata (kg_e2e_crawl's gate reads it back)
            f'<html lang="{lang}">',
            "<head>",
            '<meta charset="utf-8">',
            *meta_html,
            f"<title>Doc {d} &amp; the {cat} page</title>",
            _STYLE,
            _SCRIPT_TMPL % d,
            "</head>",
            "<body>",
            f'<nav><ul><li>Home</li><li><a href="/about?d={d}&amp;x=1">About</a></li></ul></nav>',
            f'<h1>Entry <span class="num">{d}</span></h1>',
            "<noscript>enable javascript</noscript>",
            *paras,
            '<section class="rel"><ul>',
            *rel_items,
            "</ul></section>",
            "<template><p>hidden boilerplate</p></template>",
            f"<footer>{_FOOTER_HTML}</footer>",
            "</body>",
            "</html>",
            "",
        ]
    )
    lines = [
        f"Doc {d} & the {cat} page",
        "Home",
        "About",
        f"Entry {d}",
        *sents,
        *[f"Doc {j}" for j in targets],
        _FOOTER_TEXT,
    ]
    # expected (tag, line) blocks — the provenance contract of
    # functions.htmltext.extract_blocks_py on this page shape
    blocks = list(
        zip(
            ["title", "li", "li", "h1"]
            + ["p"] * n_sent
            + ["li"] * n_out
            + ["footer"],
            lines,
        )
    )
    # expected (href, anchor) links — the contract of extract_links_py
    links = [(f"/about?d={d}&x=1", "About")] + [
        (f"/{TEMPLATES[(j * 7) % _T][1]}/{j:08d}", f"Doc {j}") for j in targets
    ]
    return {
        "doc_id": d,
        "url": f"https://synth.example/{cat}/{d:08d}",
        "lang": lang,
        "html": html.encode("utf-8"),
        "text": "\n".join(lines),
        "blocks": blocks,
        "links": links,
        "metas": metas,
    }


RICH_PAGES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("url", StringType()),
        StructField("lang", StringType()),
        StructField("html", BinaryType()),
    ]
)


def _pages_df(docs) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [render_rich_page_py(int(x)) for x in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": [r["doc_id"] for r in rows],
                    "url": [r["url"] for r in rows],
                    "lang": [r["lang"] for r in rows],
                    "html": [r["html"] for r in rows],
                }
            )

    return docs.mapInPandas(gen, RICH_PAGES_SCHEMA)


def rich_pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, html) for every row of the driver's documents table."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return _pages_df(docs)


def rich_pages_from_range(
    spark: SparkSession, n_docs: int, partitions: int | None = None
) -> DataFrame:
    """Scale-free bench source: n_docs rich pages from a pure id range."""
    par = partitions or spark.sparkContext.defaultParallelism
    docs = spark.range(n_docs).withColumnRenamed("id", "doc_id").repartition(par, "doc_id")
    return _pages_df(docs)


def _pad8(expr: str) -> str:
    """Zero-pad to a MINIMUM of 8 digits — unlike lpad, which TRUNCATES
    longer strings and would corrupt urls for doc ids >= 10^8."""
    c = f"CAST({expr} AS VARCHAR)"
    return f"CASE WHEN length({c}) >= 8 THEN {c} ELSE lpad({c}, 8, '0') END"


def _web_cte() -> str:
    """Shared WITH-body: gold_cte + per-sentence rendered text + doc
    category — everything both web oracles build on."""
    pat_rows = [(t, pat) for t, (_p, _c, _o, pat) in enumerate(TEMPLATES)]
    fill_rows = list(enumerate(FILLERS))
    return f"""{gold_cte(include_xx=True)},
pat(t, pattern) AS (VALUES
    {_values(pat_rows)}
),
fill(i, txt) AS (VALUES
    {_values(fill_rows)}
),
sent_txt AS (
  SELECT st.doc_id, st.s,
         CASE WHEN (st.doc_id*31 + st.s*17) % 10 = 0
              THEN f.txt || ' .'
              ELSE replace(replace(p.pattern,
                                   'ENTITIES_1 ', g.subj_surface || ' '),
                           'ENTITIES_2 ', g.obj_surface || ' ')
         END AS txt
  FROM sent st
  LEFT JOIN hit h ON h.doc_id = st.doc_id AND h.s = st.s
  LEFT JOIN pat p ON p.t = h.t
  LEFT JOIN gold g ON g.doc_id = st.doc_id AND g.sent_idx = st.s
  LEFT JOIN fill f ON f.i = (st.doc_id*13 + st.s) % {len(FILLERS)}
),
dcat AS (
  SELECT d.doc_id, tm.scat
  FROM documents d JOIN tmpl tm ON tm.t = (d.doc_id*7) % {_T}
),
ks(k) AS (VALUES (0), (1), (2), (3)),
rel AS (
  SELECT d.doc_id, n.k,
         (d.doc_id*37 + n.k*61 + 1) % {_LINK_SPACE} AS j
  FROM documents d JOIN ks n ON n.k < 1 + (d.doc_id*7 + 3) % 4
),
relc AS (
  SELECT r.doc_id, r.k, r.j, tm.scat AS jcat
  FROM rel r JOIN tmpl tm ON tm.t = (r.j*7) % {_T}
)"""


def rich_text_sql(with_meta: bool = False) -> str:
    """Oracle: (doc_id, text, n_lines) — the FULL expected extracted text.

    Sentence bodies replay the reference relex semantics in SQL exactly
    as `fixtures.gold_triples_sql` does for triples: nested replace() in
    sorted slot-key order over the template pattern, surfaces from the
    gold CTE. Structural lines (title/nav/h1/footer) are concatenated
    literals; the line count is pure arithmetic.

    ``with_meta`` adds the page url and the formatted warc_ts
    (base 2024-01-01 + doc_id seconds, the fixture convention) — the
    shape the `warc_roundtrip` query emits after a WARC write/read.
    """
    nl = "chr(10)"
    footer = _FOOTER_TEXT.replace("'", "''")
    meta_cols = (
        f"""
       'https://synth.example/' || c.scat || '/'
         || {_pad8('b.doc_id')} AS url,
       strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(b.doc_id),
                '%Y-%m-%d %H:%M:%S') AS warc_ts,"""
        if with_meta
        else ""
    )
    return f"""WITH {_web_cte()},
body AS (
  SELECT doc_id, string_agg(txt, {nl} ORDER BY s) AS sents
  FROM sent_txt GROUP BY doc_id
),
relbody AS (
  SELECT doc_id,
         string_agg('Doc ' || CAST(j AS VARCHAR), {nl} ORDER BY k) AS rels,
         COUNT(*) AS n_out
  FROM rel GROUP BY doc_id
)
SELECT CAST(b.doc_id AS BIGINT) AS doc_id,{meta_cols}
       'Doc ' || CAST(b.doc_id AS VARCHAR) || ' & the ' || c.scat || ' page'
         || {nl} || 'Home' || {nl} || 'About'
         || {nl} || 'Entry ' || CAST(b.doc_id AS VARCHAR)
         || {nl} || b.sents
         || {nl} || rb.rels
         || {nl} || '{footer}' AS text,
       CAST(6 + b.doc_id % 3 + rb.n_out AS BIGINT) AS n_lines
FROM body b
JOIN dcat c ON c.doc_id = b.doc_id
JOIN relbody rb ON rb.doc_id = b.doc_id"""


def rich_blocks_sql() -> str:
    """Oracle: (doc_id, block_idx, tag, text) — expected tagged blocks.

    Pure structure arithmetic: idx 0 title, 1-2 nav li, 3 h1, 4..3+n_sent
    the <p> sentences, 4+n_sent footer.
    """
    footer = _FOOTER_TEXT.replace("'", "''")
    return f"""WITH {_web_cte()}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(block_idx AS BIGINT) AS block_idx, tag, text
FROM (
  SELECT c.doc_id, 0 AS block_idx, 'title' AS tag,
         'Doc ' || CAST(c.doc_id AS VARCHAR) || ' & the ' || c.scat || ' page' AS text
  FROM dcat c
  UNION ALL
  SELECT doc_id, 1, 'li', 'Home' FROM dcat
  UNION ALL
  SELECT doc_id, 2, 'li', 'About' FROM dcat
  UNION ALL
  SELECT doc_id, 3, 'h1', 'Entry ' || CAST(doc_id AS VARCHAR) FROM dcat
  UNION ALL
  SELECT doc_id, 4 + s, 'p', txt FROM sent_txt
  UNION ALL
  SELECT doc_id, 5 + doc_id % 3 + k, 'li', 'Doc ' || CAST(j AS VARCHAR)
  FROM rel
  UNION ALL
  SELECT doc_id, 6 + doc_id % 3 + (doc_id*7 + 3) % 4, 'footer', '{footer}'
  FROM dcat
)"""


def web_links_sql() -> str:
    """Oracle: (doc_id, link_idx, href, resolved, anchor) — expected
    link set per page, hrefs AND their absolute resolution rebuilt
    arithmetically (the Spark side resolves with urllib.parse.urljoin
    against the page url; on root-relative hrefs the two definitions
    provably coincide)."""
    base = "'https://synth.example'"
    return f"""WITH {_web_cte()}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(link_idx AS BIGINT) AS link_idx,
       href, {base} || href AS resolved, anchor
FROM (
  SELECT doc_id, 0 AS link_idx,
         '/about?d=' || CAST(doc_id AS VARCHAR) || '&x=1' AS href,
         'About' AS anchor
  FROM dcat
  UNION ALL
  SELECT doc_id, 1 + k,
         '/' || jcat || '/' || {_pad8('j')},
         'Doc ' || CAST(j AS VARCHAR)
  FROM relc
)"""


def web_link_degrees_sql() -> str:
    """Oracle: (doc_id, out_links, in_links) over the in-corpus link
    graph — edges are outlink targets that exist in the documents
    table; both degree columns rebuilt from the outlink arithmetic."""
    return f"""WITH {_web_cte()},
edges AS (
  SELECT r.doc_id AS src, r.j AS dst
  FROM rel r JOIN documents d2 ON d2.doc_id = r.j
),
outd AS (SELECT src AS doc_id, COUNT(*) AS c FROM edges GROUP BY src),
ind AS (SELECT dst AS doc_id, COUNT(*) AS c FROM edges GROUP BY dst)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(o.c, 0) AS BIGINT) AS out_links,
       CAST(COALESCE(i.c, 0) AS BIGINT) AS in_links
FROM documents d
LEFT JOIN outd o ON o.doc_id = d.doc_id
LEFT JOIN ind i ON i.doc_id = d.doc_id"""


def web_link_components_sql() -> str:
    """Oracle: (doc_id, component) — weakly connected components of the
    in-corpus link graph, component = min doc_id reachable. DuckDB
    recursive min-label closure over the SAME arithmetic edge set the
    degrees oracle uses; isolated docs label themselves."""
    return f"""WITH RECURSIVE {_web_cte()},
e0 AS (
  SELECT DISTINCT r.doc_id AS a, r.j AS b
  FROM rel r JOIN documents d2 ON d2.doc_id = r.j
  WHERE r.doc_id <> r.j
),
sym AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
reach(node, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.node
)
SELECT CAST(node AS BIGINT) AS doc_id,
       CAST(min(lab) AS BIGINT) AS component
FROM reach GROUP BY node"""


def web_pagerank_sql(iters: int = 3, total: int = 10**12) -> str:
    """Oracle: (doc_id, rank) — the integer-PageRank spec replayed as
    `iters` chained CTE rounds over the arithmetic edge set. All
    arithmetic is BIGINT floor division (``//``), so the replay is
    exact, not approximate."""
    base = total * 15 // 100
    rounds = []
    prev = "r0"
    for i in range(1, iters + 1):
        rounds.append(
            f"""c{i} AS (
  SELECT e.dst AS doc_id, SUM((r.rank * 85 // 100) // g.deg) AS recv
  FROM edges e JOIN {prev} r ON r.doc_id = e.src
  JOIN deg g ON g.src = e.src GROUP BY e.dst
),
r{i} AS (
  SELECT d.doc_id, CAST({base} + COALESCE(c.recv, 0) AS BIGINT) AS rank
  FROM documents d LEFT JOIN c{i} c ON c.doc_id = d.doc_id
)"""
        )
        prev = f"r{i}"
    return f"""WITH {_web_cte()},
edges AS (
  SELECT r.doc_id AS src, r.j AS dst
  FROM rel r JOIN documents d2 ON d2.doc_id = r.j
  WHERE r.doc_id <> r.j
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT doc_id, CAST({total} AS BIGINT) AS rank FROM documents),
{",".join(rounds)}
SELECT CAST(doc_id AS BIGINT) AS doc_id, rank FROM {prev}"""


def web_pagerank_converged_sql(rounds: int, total: int = 10**12) -> str:
    """Oracle: (doc_id, rank, n_rounds) — the dangling-redistribution
    integer-PageRank spec replayed as `rounds` chained CTE rounds.

    Per round: dangling damped mass ``SUM(rank*85//100)`` over nodes
    with no out-edge, shared as ``dang // n_nodes`` to every node
    (floor; remainder lost — the exact spec of
    operators.webtext.pagerank_int_converged). `rounds` must equal the
    round at which the Spark probe stops (delta <= tol): the probe
    replays EXACT integer arithmetic, so the stop round is a
    deterministic function of the fixture — pinned by the n_rounds
    column under the hash."""
    base = total * 15 // 100
    n = "(SELECT COUNT(*) FROM documents)"
    parts = []
    prev = "r0"
    for i in range(1, rounds + 1):
        parts.append(
            f"""dang{i} AS (
  SELECT COALESCE(SUM(r.rank * 85 // 100), 0) // {n} AS share
  FROM {prev} r WHERE r.doc_id NOT IN (SELECT src FROM deg)
),
c{i} AS (
  SELECT e.dst AS doc_id, SUM((r.rank * 85 // 100) // g.deg) AS recv
  FROM edges e JOIN {prev} r ON r.doc_id = e.src
  JOIN deg g ON g.src = e.src GROUP BY e.dst
),
r{i} AS (
  SELECT d.doc_id,
         CAST({base} + (SELECT share FROM dang{i}) + COALESCE(c.recv, 0)
              AS BIGINT) AS rank
  FROM documents d LEFT JOIN c{i} c ON c.doc_id = d.doc_id
)"""
        )
        prev = f"r{i}"
    return f"""WITH {_web_cte()},
edges AS (
  SELECT r.doc_id AS src, r.j AS dst
  FROM rel r JOIN documents d2 ON d2.doc_id = r.j
  WHERE r.doc_id <> r.j
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT doc_id, CAST({total} AS BIGINT) AS rank FROM documents),
{",".join(parts)}
SELECT CAST(doc_id AS BIGINT) AS doc_id, rank,
       CAST({rounds} AS INT) AS n_rounds
FROM {prev}"""


def web_meta_sql() -> str:
    """Oracle: (doc_id, meta_idx, name, content) — the page directives
    rebuilt arithmetically (description on every page, robots noindex
    on every 13th)."""
    return f"""WITH {_web_cte()}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(meta_idx AS BIGINT) AS meta_idx, name, content
FROM (
  SELECT c.doc_id, 0 AS meta_idx, 'description' AS name,
         'Synthetic ' || c.scat || ' page ' || CAST(c.doc_id AS VARCHAR) AS content
  FROM dcat c
  UNION ALL
  SELECT doc_id, 1, 'robots', 'noindex' FROM dcat WHERE doc_id % 13 = 0
)"""


def web_page_profile_sql() -> str:
    """Oracle: per-page profile counts off the parse-once frame —
    every count is closed-form doc_id arithmetic (n_blocks = 5 + n_sent
    + n_out; n_links = 1 + n_out; n_metas = 1 + [d % 13 = 0])."""
    return f"""WITH {_web_cte()}
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(5 + (1 + d.doc_id % 3) + (1 + (d.doc_id*7 + 3) % 4) AS BIGINT) AS n_blocks,
       CAST(1 + 1 + (d.doc_id*7 + 3) % 4 AS BIGINT) AS n_links,
       CAST(1 + CASE WHEN d.doc_id % 13 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_metas,
       CAST(5 + (1 + d.doc_id % 3) + (1 + (d.doc_id*7 + 3) % 4) AS BIGINT) AS n_lines
FROM documents d"""


def web_anchor_text_sql() -> str:
    """Oracle: (doc_id, anchor, n_refs, n_srcs) per in-corpus link
    target — reference counts and distinct referrer counts rebuilt from
    the outlink arithmetic (anchor text is always ``Doc {target}`` in
    this fixture; the COUNTS are what vary)."""
    return f"""WITH {_web_cte()}
SELECT CAST(r.j AS BIGINT) AS doc_id,
       'Doc ' || CAST(r.j AS VARCHAR) AS anchor,
       CAST(COUNT(*) AS BIGINT) AS n_refs,
       CAST(COUNT(DISTINCT r.doc_id) AS BIGINT) AS n_srcs
FROM rel r JOIN documents d2 ON d2.doc_id = r.j
GROUP BY r.j"""


# Messy-url variants for the normalization query, keyed by doc_id % 6.
# BOTH sides build url_in with the same literal replace() on the page
# url, so the operator under test is only the normalizer.
_MESSY_CASE_SQL = """CASE m
    WHEN 0 THEN replace(u, 'https://synth.example', 'HTTPS://SYNTH.EXAMPLE')
    WHEN 1 THEN replace(u, 'example/', 'example:443/')
    WHEN 2 THEN replace(u, 'example/', 'example/x/../')
    WHEN 3 THEN replace(u, 'example/', 'example/%41rchive/')
    WHEN 4 THEN replace(u, 'example/', 'example/./')
    ELSE u || '?b=%42&c=%2f#sec'
  END"""


def web_url_normalize_sql() -> str:
    """Oracle: (doc_id, url_in, url_norm) — six deterministic RFC 3986
    denormalizations (case, default port, dot segments ../ and ./,
    decodable %41 escape, query escapes + fragment) and their expected
    canonical spellings, all closed-form string arithmetic."""
    return f"""WITH {_web_cte()},
base AS (
  SELECT c.doc_id,
         'https://synth.example/' || c.scat || '/' || {_pad8('c.doc_id')} AS u,
         c.doc_id % 6 AS m
  FROM dcat c
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  {_MESSY_CASE_SQL} AS url_in,
  CASE m
    WHEN 3 THEN replace(u, 'example/', 'example/Archive/')
    WHEN 5 THEN u || '?b=B&c=%2F'
    ELSE u
  END AS url_norm
FROM base"""


# The synthetic crawl policy for host synth.example — the SINGLE source
# both the Spark query (parses this text with the real RFC 9309 parser)
# and the SQL oracle (replays its semantics arithmetically) build on.
# '*' group: Airport pages disallowed unless the path ends in 0
# (longest-match Allow with * and $); kgbot group REPLACES '*' per RFC:
# City pages disallowed unless ending in 5, any query string disallowed.
ROBOTS_TXT = """\
# synthetic crawl policy (fixture)
User-agent: *
Disallow: /Airport/
Allow: /Airport/*0$

User-agent: kgbot
Disallow: /City/
Allow: /City/*5$
Disallow: /*?*
Crawl-delay: 2
"""


def web_robots_gate_sql() -> str:
    """Oracle: (doc_id, agent, url, allowed, rule_path) for two agents
    over page urls + ``/about?d=…`` urls — RFC 9309 precedence
    (longest path wins, Allow wins ties, exact agent group replaces
    ``*``) replayed as CASE arithmetic on category and doc_id digits."""
    return f"""WITH {_web_cte()},
urls AS (
  SELECT c.doc_id,
         'https://synth.example/' || c.scat || '/' || {_pad8('c.doc_id')} AS url,
         c.scat, FALSE AS is_about
  FROM dcat c
  UNION ALL
  SELECT c.doc_id,
         'https://synth.example/about?d=' || CAST(c.doc_id AS VARCHAR) || '&x=1',
         c.scat, TRUE
  FROM dcat c
),
agents(agent) AS (VALUES ('anybot'), ('kgbot'))
SELECT CAST(u.doc_id AS BIGINT) AS doc_id, a.agent, u.url,
  CASE
    WHEN a.agent = 'anybot' AND NOT u.is_about AND u.scat = 'Airport'
      THEN u.doc_id % 10 = 0
    WHEN a.agent = 'kgbot' AND u.is_about THEN FALSE
    WHEN a.agent = 'kgbot' AND NOT u.is_about AND u.scat = 'City'
      THEN u.doc_id % 10 = 5
    ELSE TRUE
  END AS allowed,
  CASE
    WHEN a.agent = 'anybot' AND NOT u.is_about AND u.scat = 'Airport'
      THEN CASE WHEN u.doc_id % 10 = 0 THEN '/Airport/*0$' ELSE '/Airport/' END
    WHEN a.agent = 'kgbot' AND u.is_about THEN '/*?*'
    WHEN a.agent = 'kgbot' AND NOT u.is_about AND u.scat = 'City'
      THEN CASE WHEN u.doc_id % 10 = 5 THEN '/City/*5$' ELSE '/City/' END
    ELSE NULL
  END AS rule_path
FROM urls u CROSS JOIN agents a"""


def crawl_snapshot_sql() -> str:
    """Oracle for crawl_latest_snapshot: every 5th page is re-crawled a
    day later, so the kept capture and version count are closed-form."""
    return f"""WITH {_web_cte()}
SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
       'https://synth.example/' || c.scat || '/' || {_pad8('c.doc_id')} AS url,
       strftime(TIMESTAMP '2024-01-01 00:00:00'
                + to_seconds(c.doc_id
                             + CASE WHEN c.doc_id % 5 = 0 THEN 86400 ELSE 0 END),
                '%Y-%m-%d %H:%M:%S') AS kept_ts,
       CAST(CASE WHEN c.doc_id % 5 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_versions
FROM dcat c"""


def crawl_frontier_sql(max_depth: int = 3, seed_mod: int = 97) -> str:
    """Oracle: min-hop BFS depths from the seed set (doc_id % seed_mod
    == 0) over the in-corpus link graph, bounded by max_depth — a
    recursive CTE whose fan-out is bounded (≤4 outlinks per node ×
    max_depth rounds), grouped to the minimum depth per reached doc."""
    return f"""WITH RECURSIVE {_web_cte()},
edges AS (
  SELECT r.doc_id AS src, r.j AS dst
  FROM rel r JOIN documents d2 ON d2.doc_id = r.j
),
reach(doc_id, depth) AS (
  SELECT doc_id, 0 FROM documents WHERE doc_id % {seed_mod} = 0
  UNION ALL
  SELECT e.dst, r.depth + 1
  FROM reach r JOIN edges e ON e.src = r.doc_id
  WHERE r.depth < {max_depth}
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(MIN(depth) AS BIGINT) AS depth
FROM reach GROUP BY doc_id"""


def sitemap_gap_sql() -> str:
    """Oracle for the sitemap-vs-crawl scheduling gap: ghost urls
    (advertised beyond the crawl) are 'uncrawled'; every 6th doc's
    advertised lastmod is one hour past our capture ('stale'); docs
    advertising no lastmod (every 10th+3) or an equal lastmod are
    'fresh' — all closed-form arithmetic over the url scheme."""
    return f"""WITH {_web_cte()}
SELECT url, status FROM (
  SELECT 'https://synth.example/' || scat || '/' || {_pad8('doc_id')} AS url,
         CASE WHEN doc_id % 6 = 0 THEN 'stale' ELSE 'fresh' END AS status
  FROM dcat
  UNION ALL
  SELECT 'https://synth.example/' || scat || '/' ||
         CAST(doc_id + 10000000000 AS VARCHAR),
         'uncrawled'
  FROM dcat WHERE doc_id % 9 = 0
)"""


def fetch_schedule_sql() -> str:
    """Oracle for the composed crawl scheduler: non-fresh advertised
    urls that the '*' robots group allows — Airport paths only when the
    id's last digit is 0 (the Allow '/Airport/*0$' override); ghost ids
    (+10^10) keep the last digit, so the rule bites them identically."""
    return f"""WITH {_web_cte()}
SELECT url, reason FROM (
  SELECT doc_id, scat,
         'https://synth.example/' || scat || '/' || {_pad8('doc_id')} AS url,
         'stale' AS reason
  FROM dcat WHERE doc_id % 6 = 0
  UNION ALL
  SELECT doc_id, scat,
         'https://synth.example/' || scat || '/' ||
         CAST(doc_id + 10000000000 AS VARCHAR),
         'uncrawled'
  FROM dcat WHERE doc_id % 9 = 0
)
WHERE scat <> 'Airport' OR doc_id % 10 = 0"""


def web_hits_sql(iters: int = 2) -> str:
    """Oracle: (doc_id, hub, auth) — the unnormalized integer HITS
    recurrence replayed as chained CTE rounds over the arithmetic edge
    set (self-loops excluded, as in the PageRank oracle)."""
    rounds = []
    prev_h = "h0"
    prev_a = None
    for i in range(1, iters + 1):
        rounds.append(
            f"""a{i} AS (
  SELECT d.doc_id, CAST(COALESCE(s.recv, 0) AS BIGINT) AS auth
  FROM documents d LEFT JOIN (
    SELECT e.dst AS doc_id, SUM(h.hub) AS recv
    FROM edges e JOIN {prev_h} h ON h.doc_id = e.src GROUP BY e.dst
  ) s ON s.doc_id = d.doc_id
),
h{i} AS (
  SELECT d.doc_id, CAST(COALESCE(s.recv, 0) AS BIGINT) AS hub
  FROM documents d LEFT JOIN (
    SELECT e.src AS doc_id, SUM(a.auth) AS recv
    FROM edges e JOIN a{i} a ON a.doc_id = e.dst GROUP BY e.src
  ) s ON s.doc_id = d.doc_id
)"""
        )
        prev_h, prev_a = f"h{i}", f"a{i}"
    return f"""WITH {_web_cte()},
edges AS (
  SELECT r.doc_id AS src, r.j AS dst
  FROM rel r JOIN documents d2 ON d2.doc_id = r.j
  WHERE r.doc_id <> r.j
),
h0 AS (SELECT doc_id, CAST(1 AS BIGINT) AS hub FROM documents),
{",".join(rounds)}
SELECT h.doc_id, h.hub, a.auth
FROM {prev_h} h JOIN {prev_a} a ON a.doc_id = h.doc_id"""


def data_curation_sql(
    min_tokens: int = 30,
    long_bpe: int = 45,
    budget: int = 1000,
    mirror_base: int = 10**9,
) -> str:
    """Oracle for data_curation_e2e: the LLM corpus-curation capstone
    replayed end-to-end from doc_id arithmetic — rebuilt page text
    (rich_text_sql expression), mirror captures (d % 7 == 3, id
    d + mirror_base, one extra footer line), lang gate (xx pages are
    d % 20 == 0 by construction), Gopher-style quality gate with a
    ``min_tokens`` floor, near-dup clustering keeping the min-id
    representative (a mirror survives only when its original was
    quality-gated away — the +3-token footer can carry it past the
    floor), BPE-ish token counts, md5-slot stratified sampling
    (long ≥ ``long_bpe`` BPE tokens: 50 %; short: 10 %), and
    token-``budget`` shard packing in doc_id order."""
    from .operators.text_analysis import BPE_ISH_PATTERN, EN_STOPWORDS

    nl = "chr(10)"
    footer = _FOOTER_TEXT.replace("'", "''")
    bpe = BPE_ISH_PATTERN.replace("'", "''")
    sw = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"""WITH {_web_cte()},
body AS (
  SELECT doc_id, string_agg(txt, {nl} ORDER BY s) AS sents
  FROM sent_txt GROUP BY doc_id
),
relbody AS (
  SELECT doc_id,
         string_agg('Doc ' || CAST(j AS VARCHAR), {nl} ORDER BY k) AS rels
  FROM rel GROUP BY doc_id
),
fulltext AS (
  SELECT b.doc_id,
         'Doc ' || CAST(b.doc_id AS VARCHAR) || ' & the ' || c.scat || ' page'
           || {nl} || 'Home' || {nl} || 'About'
           || {nl} || 'Entry ' || CAST(b.doc_id AS VARCHAR)
           || {nl} || b.sents || {nl} || rb.rels || {nl} || '{footer}' AS text
  FROM body b
  JOIN dcat c ON c.doc_id = b.doc_id
  JOIN relbody rb ON rb.doc_id = b.doc_id
),
cand AS (
  SELECT doc_id, text FROM fulltext WHERE doc_id % 20 <> 0
  UNION ALL
  SELECT doc_id + {mirror_base}, text || {nl} || 'mirrored archive copy'
  FROM fulltext WHERE doc_id % 7 = 3 AND doc_id % 20 <> 0
),
stats AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_ws,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
             x -> list_contains([{sw}], x))) AS n_sw,
         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace,
         len(list_filter(regexp_extract_all(text, '{bpe}', 0),
             x -> trim(x) <> '')) AS n_bpe
  FROM cand
),
gated AS (
  SELECT * FROM stats
  WHERE n_ws BETWEEN {min_tokens} AND 10000 AND 100 * n_sw >= n_ws
    AND 2 * n_alpha >= n_nonspace
),
reps AS (
  SELECT g.* FROM gated g
  WHERE g.doc_id < {mirror_base}
     OR NOT EXISTS (SELECT 1 FROM gated o
                    WHERE o.doc_id = g.doc_id - {mirror_base})
),
sampled AS (
  SELECT doc_id, n_bpe,
         CASE WHEN n_bpe >= {long_bpe} THEN 'long' ELSE 'short' END AS bucket,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 100 AS slot
  FROM reps
),
kept AS (
  SELECT doc_id, n_bpe, bucket FROM sampled
  WHERE (bucket = 'long' AND slot < 50) OR (bucket = 'short' AND slot < 10)
),
packed AS (
  SELECT doc_id, n_bpe, bucket,
         SUM(n_bpe) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM kept
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_bpe AS INT) AS n_bpe_tokens,
       bucket,
       CAST((cum - n_bpe) // {budget} AS BIGINT) AS shard
FROM packed"""
