"""Surface-form canonicalization (clustering) + join-based CC.

Mirroring SURVEY.md G5/J7:

1. :func:`first_token_clusters` — the reference's exact 1-hop
   semantics (`build_dataset.py:226-246`): group entity surfaces by
   first token, sort the variant list (`v.sort()` at `:243`), rewrite
   every variant to the representative ``v[0]``;
   :func:`alias_clusters` is its corpus-global sibling.

2. :func:`connected_components` — the generalized transitive closure
   for graphs that are NOT already partitions (curation's near-dup
   pair graph): alternating large-star / small-star DataFrame joins
   (Kiveris et al., "Connected Components in MapReduce"), converging
   in O(log n) rounds. GraphFrames is absent in this environment, and
   an explicit join formulation lets us salt the skewed head keys; AQE
   skew-join handles the residual.

Scale notes: each CC round is two shuffles on (node).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def first_token_clusters(surfaces: DataFrame, surface_col: str = "surface") -> DataFrame:
    """(surface, rep) — representative = lexicographic min among
    surfaces sharing a first token (reference `ent_dict` semantics:
    sorted list, first element)."""
    keyed = surfaces.select(surface_col).distinct().withColumn(
        "first_token", F.split(F.col(surface_col), r"\s+").getItem(0)
    )
    reps = keyed.groupBy("first_token").agg(F.min(surface_col).alias("rep"))
    return keyed.join(reps, "first_token").select(
        F.col(surface_col).alias("surface"), "rep"
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star (Kiveris et al. §3): for every node u, attach each
    strictly-larger neighbor v to m(u) = min(N(u) ∪ {u}). Output is one
    edge per directed (u, v>u) pair — AT MOST |e| edges before dedup,
    and m(u) < v always, so the result is canonical with no
    least/greatest pass. Components preserved (each emitted edge is a
    2-path contraction of existing edges)."""
    nbrs = e.select("src", "dst").unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = nbrs.groupBy("src").agg(F.min("dst").alias("m"))
    mins = mins.withColumn("m", F.least("m", "src"))
    return (
        nbrs.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("m").alias("src"), F.col("dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: for every node u, attach each ≤-neighbor (and u
    itself) to the min of the ≤-neighborhood. ≤ |e| + #nodes edges."""
    sn = e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    smins = sn.groupBy("src").agg(F.min("dst").alias("m"))
    out = (
        sn.join(smins, "src")
        .select(F.col("dst").alias("a"), F.col("m").alias("b"))
        .unionByName(smins.select(F.col("src").alias("a"), F.col("m").alias("b")))
    )
    return (
        out.filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst"))
        .distinct()
    )


def _star_round(e: DataFrame) -> DataFrame:
    """One alternating round over a canonical (src<dst, distinct) edge
    set: large-star THEN small-star, COMPOSED — not unioned.

    The round-1/2 formulation unioned the two operators' outputs, which
    on chain-shaped graphs ACCUMULATES every intermediate-distance edge
    (~2× edges per round: a 50k-node path grew 50k → 200k → 1M edges by
    round 4 and OOMed at 500k nodes). Sequential application is the
    actual Kiveris et al. alternating algorithm: each operator maps
    each edge to exactly one output edge (plus ≤ n root edges), so the
    working set stays Θ(m + n) for the whole run."""
    return _small_star(_large_star(e))


def _shortcut_edges(e: DataFrame, jumps: int = 3) -> DataFrame:
    """Pointer-jumping shortcut pass over the canonical (src<dst) edge
    set: for every non-root node x, par(x) = min smaller-neighbor; the
    parent MAP (one row per non-root node — n rows, not m) is composed
    with itself `jumps` times (reach 2^jumps along parent chains), then
    the jumped edges (par^2ʲ(x), x) are ADDED to the edge set. Pure
    edge addition — every par-chain hop is an existing edge, so
    components are unchanged and every soundness property (fixed-point
    probe, final mapping) is untouched. par^k(x) < ... < par(x) < x
    keeps the output canonical with no re-least/greatest pass.

    Why jumping beats one grandparent step: each composition squares
    the reach for ONE n-row self-join (cheap next to a star round over
    m edges), so a stalled chain segment collapses toward its local
    minimum in O(log) probe visits. Parent chains stop at local minima
    (a node smaller than all its neighbors that is not the component
    min) — only the alternating star rounds merge ACROSS minima, which
    is why this is an accelerator triggered on contraction stall, not a
    replacement (see the probe trigger in connected_components)."""
    par = e.groupBy("dst").agg(F.min("src").alias("par"))
    p = par
    for _ in range(max(0, jumps)):
        hop = p.select(F.col("dst").alias("h_dst"), F.col("par").alias("h_par"))
        p = p.join(hop, p.par == hop.h_dst, "left").select(
            "dst", F.coalesce("h_par", "par").alias("par")
        )
    shortcut = p.select(F.col("par").alias("src"), "dst")
    return e.unionByName(shortcut).distinct()


def _is_min_rooted_star_forest(e: DataFrame) -> bool:
    """True iff the canonical edge set is a disjoint min-rooted star
    forest — which is exactly the set of fixed points of the alternating
    large-star/small-star round:

      (a) no edge src appears as any edge dst (roots are not leaves), and
      (b) every dst has exactly one src (stars are disjoint).

    (a) alone — the round-1 probe — is unsound: two stars sharing leaves
    satisfy it while a further round still merges them. Conversely a
    state failing (b) is provably not fixed (small-star at the shared
    leaf links its two roots), so (a)∧(b) ⇔ fixed point. Both checks
    run on `e` only (probe it right after a checkpoint: two short jobs,
    no lineage recomputation)."""
    multi_parent = e.groupBy("dst").agg(F.count("*").alias("n")).filter(F.col("n") > 1)
    if not multi_parent.isEmpty():
        return False
    chained = e.alias("a").join(
        e.alias("b"), F.col("a.src") == F.col("b.dst"), "left_semi"
    )
    return chained.isEmpty()


def _local_union_find(pairs: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """(node, min-reachable-node) for every node in `pairs` — the
    driver-side finisher for already-contracted edge sets."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(n, find(n)) for n in parent]


def connected_components(
    edges: DataFrame,
    max_iter: int = 16,
    check_every: int = 2,
    local_finish_threshold: int = 100_000,
    shortcut_ratio: float = 0.7,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) — component = min node id reachable.

    edges: (src long, dst long), undirected interpretation. Implements
    alternating large-star/small-star (Kiveris et al.):

      large-star: for each node u, connect every strictly-larger
                  neighbor to min(neighbors ∪ {u});
      small-star: connect every ≤-neighbor to the minimum.

    Convergence is probed at the TRUE fixed point — the edge set is a
    disjoint min-rooted star forest (see
    :func:`_is_min_rooted_star_forest`). The earlier heuristic probe
    ("no edge src appears as any dst") was unsound: two stars sharing
    leaves pass it while unconverged (repro edges in
    tests/test_canonicalize.py::test_cc_shared_leaf_stars_regression),
    silently splitting components on ~0.4% of small random graphs.
    If `max_iter` rounds exhaust without reaching the fixed point the
    function raises rather than returning a partially-contracted —
    i.e. silently wrong — component table.

    Each iteration is a groupBy on node — the natural salting point for
    head-entity skew: the groupBy key is already the node id, so AQE
    skew-split handles hot nodes; `repartition` before the loop bounds
    the reduce fan-in.

    Hybrid local finish: star contraction shrinks the edge set
    geometrically, so after a couple of rounds a web-scale alias graph
    is a few parent pointers per remaining component — but each further
    distributed round still costs fixed job/shuffle latency. When the
    checkpointed edge set drops to ≤ `local_finish_threshold` rows
    (~1.6 MB at the default), the remainder is collected and finished
    with driver-side union-find, returned as an Arrow local relation
    (``session.local_frame``, no Python RDD) — identical output
    (components are invariant under contraction; fuzz-tested vs
    union-find), without the long tail of tiny iterations. Set the threshold to 0 to force
    the fully-distributed path.
    """
    e = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .distinct()
    )
    spark = edges.sparkSession

    def _finish_locally(cur: DataFrame) -> DataFrame:
        comp = _local_union_find([(r.src, r.dst) for r in cur.collect()])
        return local_frame(spark, comp, "node long, component long")

    # each round scans `e` ~3× (both star directions + small-star), so the
    # canonical input is checkpointed before iterating
    e = e.localCheckpoint(eager=True)
    prev_cnt = e.count()
    if stats is not None:
        stats.update(rounds=0, counts=[prev_cnt], shortcuts=0, local_finish=False)
    if local_finish_threshold and prev_cnt <= local_finish_threshold:
        if stats is not None:
            stats["local_finish"] = True
        return _finish_locally(e)
    converged = False
    e_checkpointed = True
    stalls = 0
    for i in range(max_iter):
        new_e = _star_round(e)
        e_checkpointed = False
        if stats is not None:
            stats["rounds"] = i + 1
        # Checkpoint + convergence-probe only every `check_every` rounds:
        # an eager localCheckpoint per round (full edge-set write+read)
        # measured 6x slower end-to-end on chain-heavy graphs (BENCH.md).
        if (i + 1) % check_every == 0:
            new_e = new_e.localCheckpoint(eager=True)  # cut lineage growth
            e_checkpointed = True
            cnt = new_e.count()
            if stats is not None:
                stats["counts"].append(cnt)
            if local_finish_threshold and cnt <= local_finish_threshold:
                if stats is not None:
                    stats["local_finish"] = True
                return _finish_locally(new_e)
            if _is_min_rooted_star_forest(new_e):
                e = new_e
                converged = True
                break
            if shortcut_ratio and cnt > shortcut_ratio * prev_cnt:
                # Contraction stalled — the chain-dominated regime where
                # star rounds propagate the min one hop at a time. A
                # pointer-jumping pass (edge ADDITION, components
                # unchanged) multiplies the propagation rate; on
                # REPEATED stalls the jump depth escalates (reach
                # squares per extra composition, each an n-row join —
                # far cheaper than the star rounds it saves); see
                # :func:`_shortcut_edges`.
                stalls += 1
                new_e = _shortcut_edges(
                    new_e, jumps=min(1 + 2 * stalls, 10)
                ).localCheckpoint(eager=True)
                aug_cnt = new_e.count()
                if stats is not None:
                    stats["shortcuts"] += 1
                    stats["counts"].append(aug_cnt)
            else:
                stalls = 0
            # The stall baseline is the PRE-shortcut star-round count:
            # shortcut augmentation inflates the edge set, and comparing
            # the next round against the inflated number would let a
            # continuing stall pass the ratio test and spuriously reset
            # the jump-depth escalation.
            prev_cnt = cnt
        e = new_e
    if not converged:
        # The loop may have hit the fixed point on an unprobed round.
        # Truncated contraction must fail LOUDLY — a partially-contracted
        # edge set maps nodes to wrong components. (Skip the re-checkpoint
        # when the final loop round already checkpointed.)
        if not e_checkpointed:
            e = e.localCheckpoint(eager=True)
        if not _is_min_rooted_star_forest(e):
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds; "
                "raise max_iter (rounds needed ≈ log2 of the longest chain)"
            )
    comp = e.select(F.col("dst").alias("node"), F.col("src").alias("component"))
    roots = e.select(F.col("src").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return comp.unionByName(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )


def alias_clusters(surfaces: DataFrame, surface_col: str = "surface") -> DataFrame:
    """(surface, rep) — conservative clustering for CORPUS-GLOBAL merges:
    surfaces whose paren-stripped, lowercased, whitespace-squeezed base
    coincides (the alias-variant ladder of
    webnlg_baseline_input.py:84-95) map to the lexicographic-min
    surface of the group.

    Why a second clusterer exists: first-token clustering (G5,
    :func:`first_token_clusters`) mirrors the reference's PER-EXAMPLE
    ent_dict (build_dataset.py:219-246), where sharing a first token
    inside one example is strong evidence of coreference. Applied
    corpus-globally it conflates distinct entities that share a head
    token (``Aarhus``, ``Aarhus Airport``, ``Aarhus Lufthavn A/S`` all
    collapse). The global canonicalization tail therefore demands full
    alias-ladder equivalence; G5 keeps its reference semantics at the
    per-example scope where the reference applies them.
    """
    base = F.trim(
        F.regexp_replace(
            F.lower(F.split(F.col(surface_col), r"\(").getItem(0)), r"\s+", " "
        )
    )
    # paren-LEADING surfaces ("(500) Days of Summer") have an empty
    # pre-paren base; falling back to the full lowered surface keeps
    # them from all collapsing into one ''-keyed cluster
    full = F.trim(F.regexp_replace(F.lower(F.col(surface_col)), r"\s+", " "))
    key = F.when(base == "", full).otherwise(base)
    keyed = (
        surfaces.select(surface_col).distinct().withColumn("alias_key", key)
    )
    reps = keyed.groupBy("alias_key").agg(F.min(surface_col).alias("rep"))
    return keyed.join(reps, "alias_key").select(
        F.col(surface_col).alias("surface"), "rep"
    )


def canonical_entity_table(surfaces: DataFrame, clusterer=None) -> DataFrame:
    """The canonicalization tail (north_rule): cluster, then fold each
    cluster into one row with a single aggregate.

    Clusterer contract: (surface, rep) is a PARTITION — every surface
    maps to one rep, and each rep is a member that maps to itself (both
    clusterers here pick the group's min surface). No transitive chains
    remain, so no CC pass is needed and a 64-bit hash collision cannot
    merge unrelated clusters.

    `clusterer` defaults to :func:`first_token_clusters` (G5 reference
    semantics — right for per-example scopes); corpus-global callers
    should pass :func:`alias_clusters` to avoid merging distinct
    entities that merely share a head token (see its docstring).

    surfaces: one column ``surface``. Output: (component = min
    ``abs(xxhash64)`` over members, canonical, surfaces: array<string>).
    """
    clusters = (clusterer or first_token_clusters)(surfaces)
    return (
        clusters.groupBy("rep")
        .agg(
            F.min(F.abs(F.xxhash64("surface"))).alias("component"),
            F.min("surface").alias("canonical"),
            F.sort_array(F.collect_set("surface")).alias("surfaces"),
        )
        .drop("rep")
    )
