"""Canonicalization: first-token clustering (G5) + join-based CC."""

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rdf_to_text_spark.operators.canonicalize import (
    alias_clusters,
    canonical_entity_table,
    connected_components,
    first_token_clusters,
)


def test_first_token_clusters_reference_semantics(spark):
    """build_dataset.py:226-246: variants sharing a first token cluster;
    representative = sorted()[0] (v.sort() at :243)."""
    surfaces = spark.createDataFrame(
        [("aarhus airport",), ("aarhus",), ("aarhus lufthavn",), ("kill rock stars",)],
        "surface string",
    )
    got = {r.surface: r.rep for r in first_token_clusters(surfaces).collect()}
    assert got["aarhus airport"] == "aarhus"
    assert got["aarhus"] == "aarhus"
    assert got["aarhus lufthavn"] == "aarhus"
    assert got["kill rock stars"] == "kill rock stars"


def _union_find_components(edges):
    nodes = sorted({n for e in edges for n in e})
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical minimum per component
    groups = {}
    for n in nodes:
        groups.setdefault(find(n), []).append(n)
    return {n: min(groups[find(n)]) for n in nodes}


def test_connected_components_random_graph(spark):
    random.seed(13)
    edges = [(random.randrange(120), random.randrange(120)) for _ in range(150)]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, "src long, dst long")
    # distributed star-contraction path (threshold 0) AND the default
    # hybrid local-finish path must both equal union-find
    got = {r.node: r.component
           for r in connected_components(df, local_finish_threshold=0).collect()}
    exp = _union_find_components(edges)
    assert got == exp
    hybrid = {r.node: r.component for r in connected_components(df).collect()}
    assert hybrid == exp


def test_canonical_entity_table(spark):
    """G5 + CC tail: transitive chains merge; singletons survive."""
    from rdf_to_text_spark.operators.canonicalize import canonical_entity_table

    surfaces = spark.createDataFrame(
        [
            ("aarhus",),
            ("aarhus airport",),
            ("aarhus lufthavn",),
            ("kill rock stars",),   # singleton cluster (own rep)
            ("denmark",),           # singleton
        ],
        "surface string",
    )
    rows = canonical_entity_table(surfaces).collect()
    by_canon = {r.canonical: sorted(r.surfaces) for r in rows}
    assert by_canon["aarhus"] == ["aarhus", "aarhus airport", "aarhus lufthavn"]
    assert by_canon["kill rock stars"] == ["kill rock stars"]
    assert by_canon["denmark"] == ["denmark"]
    assert len(rows) == 3


def test_alias_clusters_no_head_token_overmerge(spark):
    """Corpus-global clustering must NOT merge distinct entities that
    merely share a first token (ADVICE r1); full alias-ladder
    equivalence (lowercase + paren-strip + squeeze) does merge true
    variants."""
    from rdf_to_text_spark.operators.canonicalize import alias_clusters

    surfaces = spark.createDataFrame(
        [
            ("Aarhus",),
            ("aarhus",),                      # case variant -> merges
            ("Aarhus Airport",),
            ("Aarhus Airport (Denmark)",),    # paren variant -> merges
            ("Aarhus Lufthavn A/S",),         # distinct entity -> separate
        ],
        "surface string",
    )
    got = {r.surface: r.rep for r in alias_clusters(surfaces).collect()}
    assert got["Aarhus"] == got["aarhus"] == "Aarhus"
    assert got["Aarhus Airport"] == got["Aarhus Airport (Denmark)"] == "Aarhus Airport"
    assert got["Aarhus Lufthavn A/S"] == "Aarhus Lufthavn A/S"
    assert got["Aarhus"] != got["Aarhus Airport"]


def test_canonical_entity_table_alias_clusterer(spark):
    """The global tail with alias_clusters keeps head-token families
    apart while still resolving transitive variant chains through CC."""
    from rdf_to_text_spark.operators.canonicalize import (
        alias_clusters,
        canonical_entity_table,
    )

    surfaces = spark.createDataFrame(
        [
            ("Aarhus",),
            ("aarhus",),
            ("Aarhus Airport",),
            ("Aarhus Airport (Denmark)",),
            ("aarhus airport",),
        ],
        "surface string",
    )
    rows = canonical_entity_table(surfaces, clusterer=alias_clusters).collect()
    by_canon = {r.canonical: sorted(r.surfaces) for r in rows}
    assert len(rows) == 2
    assert by_canon["Aarhus"] == ["Aarhus", "aarhus"]
    assert by_canon["Aarhus Airport"] == [
        "Aarhus Airport", "Aarhus Airport (Denmark)", "aarhus airport"
    ]


def test_cc_shared_leaf_stars_regression(spark):
    """Regression: the round-1 convergence probe ('no edge src appears as
    any dst') fired on a state of two stars sharing leaves while the
    graph was NOT converged, emitting node 361 as its own component
    instead of 107 (~0.4% of random small graphs in a 30k-trial fuzz).
    The fixed-point probe must keep iterating until the edge set is
    stable across a full round."""
    edges = [
        (890, 392), (624, 107), (392, 673), (673, 489),
        (489, 890), (361, 489), (392, 624), (489, 361),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component
           for r in connected_components(df, local_finish_threshold=0).collect()}
    exp = _union_find_components(edges)
    assert got == exp  # in particular got[361] == 107


def test_cc_max_iter_exhaustion_raises(spark):
    """Truncated contraction must fail loudly, not return split
    components (ADVICE r1: silent partial contraction)."""
    import pytest

    edges = [(i, i + 1) for i in range(300)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1, local_finish_threshold=0)


def test_connected_components_chain(spark):
    """Path graph: worst case for star-contraction depth."""
    edges = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component
           for r in connected_components(df, local_finish_threshold=0).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 31


def test_cc_local_finish_scans_locally(spark):
    """A graph under the local-finish threshold comes back as an Arrow
    local relation, not a Python RDD scan."""
    edges = spark.range(4).selectExpr("id AS src", "id + 1 AS dst")
    stats = {}
    cc = connected_components(edges, stats=stats)
    assert stats["local_finish"]
    plan = cc._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert sorted(map(tuple, cc.collect())) == [(n, 0) for n in range(5)]


def test_alias_clusters_paren_leading_surfaces(spark):
    """Surfaces with an EMPTY pre-paren base (paren-leading titles) must
    not all collapse into one ''-keyed cluster (review regression)."""
    from rdf_to_text_spark.operators.canonicalize import alias_clusters

    surfaces = spark.createDataFrame(
        [
            ("(500) Days of Summer",),
            ("(What's the Story) Morning Glory?",),
            ("Aarhus",),
        ],
        "surface string",
    )
    got = {r.surface: r.rep for r in alias_clusters(surfaces).collect()}
    assert got["(500) Days of Summer"] != got["(What's the Story) Morning Glory?"]
    assert got["(500) Days of Summer"] == "(500) Days of Summer"


def test_cc_chain_edge_count_stays_bounded(spark):
    """Chain-shaped graphs: the round-1/2 star round UNIONED large- and
    small-star outputs, accumulating every intermediate-distance edge
    (~2x per round; a 500k-node path OOMed). The composed (Kiveris)
    round must keep the working set Theta(m + n): on a path graph the
    probed edge count may never exceed a small multiple of n (star
    output ~n plus one n-sized shortcut layer per stall probe)."""
    from rdf_to_text_spark.operators.canonicalize import connected_components

    n = 3000
    e = spark.range(n).selectExpr("id AS src", "id + 1 AS dst")
    st = {}
    out = connected_components(
        e, max_iter=30, local_finish_threshold=0, stats=st
    ).collect()
    assert len(out) == n + 1
    assert {r.component for r in out} == {0}
    assert max(st["counts"]) <= 5 * n, st
    assert st["rounds"] <= 16, st


def test_cc_shortcut_edges_preserve_components(spark):
    """_shortcut_edges is pure edge ADDITION along parent chains:
    components and their min labels are invariant, output canonical."""
    import random

    from rdf_to_text_spark.operators.canonicalize import (
        _local_union_find,
        _shortcut_edges,
    )

    rng = random.Random(7)
    pairs = [(rng.randint(0, 120), rng.randint(0, 120)) for _ in range(150)]
    pairs = [(min(a, b), max(a, b)) for a, b in pairs if a != b]
    e = spark.createDataFrame(sorted(set(pairs)), "src long, dst long")
    cut = _shortcut_edges(e, jumps=3).collect()
    assert all(r.src < r.dst for r in cut)
    base = dict(_local_union_find(pairs))
    aug = dict(_local_union_find([(r.src, r.dst) for r in cut]))
    assert base == aug


def _cc_reference_table(surfaces, clusterer):
    """The earlier spelling of canonical_entity_table: clusters → CC over
    hashed (surface, rep) edges → left-join back with coalesce for
    singletons → groupBy component."""
    clusters = clusterer(surfaces)
    nodes = (
        clusters.select("surface")
        .unionByName(clusters.select(F.col("rep").alias("surface")))
        .distinct()
        .withColumn("node", F.abs(F.xxhash64("surface")))
    )
    cc_edges = clusters.select(
        F.abs(F.xxhash64("surface")).alias("src"),
        F.abs(F.xxhash64("rep")).alias("dst"),
    )
    comp = connected_components(cc_edges, max_iter=8)
    return (
        nodes.join(comp, "node", "left")
        .withColumn("component", F.coalesce("component", "node"))
        .groupBy("component")
        .agg(
            F.min("surface").alias("canonical"),
            F.sort_array(F.collect_set("surface")).alias("surfaces"),
        )
    )


def _table_rows(df):
    return sorted((r.component, r.canonical, tuple(r.surfaces)) for r in df.collect())


# case, whitespace, paren-suffix and paren-leading variants over a few
# shared head words, so both clusterers see real multi-member groups
_word = st.sampled_from(["aarhus", "airport", "denmark", "rock", "stars", "a/s"])
_surface = st.builds(
    lambda words, sep, case, paren, lead: lead + sep.join(case(w) for w in words) + paren,
    st.lists(_word, min_size=1, max_size=3),
    st.sampled_from([" ", "  ", "\t"]),
    st.sampled_from([str.lower, str.title, str.upper]),
    st.sampled_from(["", " (Denmark)", "(city)", " (500)"]),
    st.sampled_from(["", "(500) ", " ", "(x)"]),
)


@pytest.mark.parametrize("clusterer", [first_token_clusters, alias_clusters])
@settings(max_examples=8, deadline=None)
@given(surfaces=st.lists(_surface, min_size=1, max_size=14))
def test_canonical_entity_table_equals_cc_reference(spark, clusterer, surfaces):
    """The one-aggregate tail equals the clusters → CC → join → groupBy
    spelling, and each clusterer honours the contract it relies on: a
    partition whose every rep is a member that maps to itself."""
    df = spark.createDataFrame([(x,) for x in surfaces], "surface string")
    rows = clusterer(df).collect()
    mapping = {r.surface: r.rep for r in rows}
    assert len(rows) == len(mapping) and set(mapping) == set(surfaces)
    assert all(mapping.get(rep) == rep for rep in mapping.values())
    assert _table_rows(canonical_entity_table(df, clusterer=clusterer)) == _table_rows(
        _cc_reference_table(df, clusterer)
    )
