"""Relational query operators over the triple/adjacency tables.

Reference analogs: ``findStatement`` pattern scan with inverse-pair and
symmetric rewrites (src/netbase.cpp:1649-1788); ``getClass`` fallback
chain (src/query.cpp:2148-2169); BFS ``findPath``/``getFurthest``
(src/query.cpp:1737-1790, 1511-1564); set ops ``mergeVectors`` /
``intersect`` / ``exclude`` (src/util.cpp:667-681, 467-481;
src/query.cpp:604-610); paging ``start/page/hitsPerPage``
(src/netbase.hpp:253-271).

Spark-first: a triple pattern is a filter on the predicate-partitioned
triple table (partition pruning does the index work of the reference's
three intrusive statement chains); the inverse rewrite is a UNION of a
second pruned filter, not a scan; every BFS/closure is the one
semi-naive loop of ``frontier.frontier_levels`` (frontier joins, one
pinned level per depth, anti-joined against the earlier levels, exact
stop at the first empty level) with ``frontier.reach`` as its driver
twin under the size gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from netbase_spark.operators.frontier import (
    _pin,
    _unpin,
    driver_rows,
    frontier_levels,
    reach,
    union_all,
)
from netbase_spark.plans.broadcast_gate import local_frame
from netbase_spark.relations import (
    INSTANCE,
    INVERSE_PAIRS,
    SUB_CLASS,
    SUPER_CLASS,
    SYMMETRIC_RELS,
    SYNONYM,
    TYPE,
)


def upward_edges(triples: DataFrame) -> DataFrame:
    """(node, anc): one isA4 recursion step as an edge set — the upward
    step set shared by the closure, ``getTopic`` and the console
    surface (src/query.cpp:2457-2552 recursion relations):
    ``(word, Instance, node)`` climbs node->word, Type/SuperClass climb
    subject->object, SubClass object->subject, Synonym both ways."""
    return (
        triples.where(F.col("rel") == INSTANCE)
        .select(F.col("obj").alias("node"), F.col("subj").alias("anc"))
        .unionByName(
            triples.where(F.col("rel").isin([TYPE, SUPER_CLASS])).select(
                F.col("subj").alias("node"), F.col("obj").alias("anc")
            )
        )
        .unionByName(
            triples.where(F.col("rel") == SUB_CLASS).select(
                F.col("obj").alias("node"), F.col("subj").alias("anc")
            )
        )
        .unionByName(
            triples.where(F.col("rel") == SYNONYM)
            .select(F.col("subj").alias("node"), F.col("obj").alias("anc"))
            .unionByName(
                triples.where(F.col("rel") == SYNONYM).select(
                    F.col("obj").alias("node"), F.col("subj").alias("anc")
                )
            )
        )
        .where(F.col("node") != F.col("anc"))
        .dropDuplicates(["node", "anc"])
    )


def isa_closure(
    triples: DataFrame,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """(node, anc): transitive subsumption closure — the materialized
    replacement for the reference's memoized ``isA4`` recursion
    (src/query.cpp:2457-2552; memo table ``yetvisitedIsA`` 2466-2470).

    Upward edges per isA4's recursion set:
    - ``(word, Instance, node)`` -> node's ancestor is word (the
      abstract/instance model stores the class on the SUBJECT side,
      src/netbase.cpp:641);
    - ``(s, Type, o)`` / ``(s, SuperClass, o)`` -> s's ancestor is o;
    - ``(s, SubClass, o)`` -> o's ancestor is s;
    - Synonym edges connect both directions.

    Size-adaptive like ``connected_components``: taxonomies are
    dimension-sized even at corpus scale, so below ``driver_threshold``
    edges the closure is one collect + Python BFS (``frontier.reach``);
    above it, the semi-naive frontier loop (``frontier_levels``) runs to
    its exact fixpoint, whatever the depth and through any cycle.  The
    closure is the lazy union of the disjoint pinned levels (their
    blocks are context-cleaner managed: freed when the result is
    dropped).  Paths proven equal by
    tests/test_new_operators.py::test_isa_closure_driver_equals_distributed.
    """
    edges = upward_edges(triples)
    pairs = driver_rows(edges, driver_threshold)
    if pairs is not None:
        rows = [(n, a) for n, a, _ in reach(pairs) if a != n]
        f = triples.schema["subj"].dataType.simpleString()
        return local_frame(triples.sparkSession, rows, f"node {f}, anc {f}")

    e2 = None

    def expand(frontier: DataFrame, _depth: int) -> DataFrame:
        nonlocal e2
        if e2 is None:
            # the first frontier is level 0, the pinned edge set itself;
            # explicit column renames, not alias-qualified self-joins: a
            # localCheckpointed plan self-joined through string aliases
            # trips Catalyst attribute resolution (NoSuchElementException)
            e2 = frontier.select(
                F.col("node").alias("e_node"), F.col("anc").alias("e_anc")
            )
        return (
            frontier.join(e2, frontier["anc"] == e2["e_node"])
            .select(frontier["node"].alias("node"), F.col("e_anc").alias("anc"))
            .where(F.col("node") != F.col("anc"))
        )

    levels, _ = frontier_levels(edges, expand, ["node", "anc"])
    return union_all(levels)


def extend_closure(
    closure: DataFrame,
    new_edges: DataFrame,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Incrementally extend a transitive closure with new upward edges
    WITHOUT recomputing it over the historical edge set — the taxonomy
    analog of ``canonicalize.merge_mapping`` (the reference adds
    statements live and its memoized ``isA4`` just sees them on the
    next query, src/query.cpp:2457-2470; a materialized closure must
    splice instead).

    ``closure`` is transitively closed (node, anc); ``new_edges`` is a
    batch of (node, anc) single steps.  Every NEW reachability pair
    contains at least one new edge, and consecutive old-closure steps
    collapse into one (C is closed), so new paths have the shape
    ``C? (E C?)^k`` for k >= 1.  Semi-naive evaluation on k
    (``frontier_levels`` with the old closure as ``seen``): the k=1
    tier is E bracketed by optional closure segments (three delta-keyed
    joins); each next tier extends the FRONTIER (delta-sized) by one
    ``E C?`` segment — the big closure is only ever joined against
    delta-sized sides, never re-iterated, and the loop runs until a
    tier adds nothing.  Below ``driver_threshold`` total pairs the whole
    union solves driver-side (one collect + BFS), same answer — equality
    of the two paths and with a full recompute is pinned by tests and
    the ``isa_incremental`` contract oracle."""
    e = (
        new_edges.select("node", "anc")
        .where(F.col("node") != F.col("anc"))
        .dropDuplicates(["node", "anc"])
    )

    both = driver_rows(closure.select("node", "anc").unionByName(e), driver_threshold)
    if both is not None:
        rows = [(n, a) for n, a, _ in reach(both) if a != n]
        f = closure.schema["node"].dataType.simpleString()
        return local_frame(closure.sparkSession, rows, f"node {f}, anc {f}")

    c = _pin(closure.select("node", "anc"))
    e = _pin(e)

    def compose(left: DataFrame, right: DataFrame) -> DataFrame:
        r = right.select(F.col("node").alias("_m"), F.col("anc").alias("_a"))
        return (
            left.join(r, left["anc"] == r["_m"])
            .select(left["node"].alias("node"), F.col("_a").alias("anc"))
        )

    def then_c(step: DataFrame) -> DataFrame:
        # one optional closure segment after the step's last E edge
        step = step.unionByName(compose(step, c))
        return step.where(F.col("node") != F.col("anc"))

    # k=1 tier: C? E C?
    seed = then_c(e.unionByName(compose(c, e)))
    levels, _ = frontier_levels(
        seed, lambda f, _d: then_c(compose(f, e)), ["node", "anc"], seen=c
    )
    _unpin(e)
    return union_all([c] + levels)


def _semantic_keys(spark, term: str, closure: DataFrame, colname: str) -> DataFrame:
    """{term} ∪ descendants(term) per the closure — the match set for a
    semantic pattern term (isA4 subsumption, src/netbase.cpp:1764-1785)."""
    exact = local_frame(spark, [(term,)], f"{colname} string")
    desc = closure.where(F.col("anc") == term).select(
        F.col("node").alias(colname)
    )
    return exact.unionByName(desc).distinct()


def find_statements(
    triples: DataFrame,
    subj: str | None = None,
    rel: int | None = None,
    obj: str | None = None,
    symmetric: bool = True,
    limit: int | None = None,
    semantic: bool = False,
    closure: DataFrame | None = None,
    rel_subsumption: bool = False,
) -> DataFrame:
    """Triple-pattern match with wildcard terms (None = Any) and the
    reference's reverse-direction semantics.  Returns (subj, rel, obj)
    in query orientation (reverse matches come back flipped, like the
    reference's symmetric result handling).

    ``semantic=True`` probes the materialized ``closure`` (from
    :func:`isa_closure`) instead of exact term equality: a stored term
    matches the pattern term if it IS the term or any isA4-descendant of
    it (src/netbase.cpp:1764-1785 semantic match; src/query.cpp:
    2457-2552 isA4).  The probe is a broadcast semi-join — the
    reference's per-call recursion becomes one closure lookup.

    ``rel_subsumption=True`` widens the relation term to its
    sub-properties per the ``initWikiRelations`` hierarchy
    (src/relations.cpp:595-612): a PartOf pattern also matches P131 /
    P706 edges.  The isin filter doubles as partition pruning on the
    rel-partitioned triple store."""
    from netbase_spark.operators.mutate import sub_predicate_ids
    spark = triples.sparkSession
    if semantic and closure is None:
        closure = isa_closure(triples)

    def term_match(df, col, term):
        if term is None:
            return df
        if not semantic:
            return df.where(F.col(col) == term)
        keys = _semantic_keys(spark, term, closure, col)
        return df.join(F.broadcast(keys), col, "leftsemi")

    def base(df, s, r, o):
        out = df
        if r is not None:
            if rel_subsumption:
                out = out.where(
                    F.col("rel").isin(list(sub_predicate_ids(r)))
                )
            else:
                out = out.where(F.col("rel") == r)
        out = term_match(out, "subj", s)
        out = term_match(out, "obj", o)
        return out.select("subj", "rel", "obj")

    result = base(triples, subj, rel, obj)
    if rel in INVERSE_PAIRS:
        inv = base(triples, obj, INVERSE_PAIRS[rel], subj).select(
            F.col("obj").alias("subj"),
            F.lit(rel).alias("rel"),
            F.col("subj").alias("obj"),
        )
        result = result.unionByName(inv)
    if symmetric and rel in SYMMETRIC_RELS:
        rev = base(triples, obj, rel, subj).select(
            F.col("obj").alias("subj"), "rel", F.col("subj").alias("obj")
        )
        result = result.unionByName(rev)
    result = result.dropDuplicates(["subj", "rel", "obj"])
    if limit:
        result = result.limit(limit)
    return result


def class_of(
    nodes: DataFrame,
    triples: DataFrame,
    rel_priority: list[int],
    inferred_priority: int | None = None,
    rel_names: DataFrame | None = None,
) -> DataFrame:
    """``getClass`` fallback chain: first matching relation in
    ``rel_priority`` wins; min(obj) breaks ties deterministically.
    One aggregation, no N-way left-join chain.

    ``inferred_priority`` enables ``getInferredClass`` (src/query.cpp:
    2134-2147): a statement whose OBJECT is the node names the node's
    class by its PREDICATE ("x.son=milan" => milan is_a son) — custom
    predicates only (rel > 0 or rel < -1000, minus the two hardcoded
    skips).  Priorities are 10 per ``rel_priority`` step (index i ->
    10*i), so ``inferred_priority=35`` slots the leg between the 4th
    and 5th relation — the reference runs it after Type/-10106,
    before Synonym.
    ``rel_names(rel, name)`` maps predicate ids to class names (a
    dimension table, broadcast); without it the rel id's string form
    is used."""
    cands = (
        nodes.join(triples, nodes["node"] == triples["subj"])
        .where(F.col("rel").isin(rel_priority))
        .select("node", "rel", "obj")
    )
    # priority = 10 * index in rel_priority (map literal, JVM-side)
    prio = F.create_map(
        *[F.lit(x) for i, r in enumerate(rel_priority) for x in (r, 10 * i)]
    )[F.col("rel")]
    cands = cands.withColumn("prio", prio)
    if inferred_priority is not None:
        inf = (
            nodes.join(triples, nodes["node"] == triples["obj"])
            .where(
                ((F.col("rel") > 0) | (F.col("rel") < -1000))
                & ~F.col("rel").isin([-10031, -10361])
            )
            .select("node", "rel")
        )
        if rel_names is not None:
            inf = inf.join(F.broadcast(rel_names), "rel").select(
                "node", "rel", F.col("name").alias("obj")
            )
        else:
            inf = inf.select("node", "rel", F.col("rel").cast("string").alias("obj"))
        cands = cands.unionByName(
            inf.withColumn("prio", F.lit(inferred_priority))
        )
    best = (
        cands.groupBy("node")
        .agg(F.min(F.struct("prio", "obj")).alias("b"))
        .select("node", F.col("b.obj").alias("class"))
    )
    return nodes.join(best, "node", "left").select(
        "node", F.coalesce("class", F.lit("Entity")).alias("class")
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 10,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Multi-source BFS: edges(src, dst), sources(node) ->
    (node, root, depth) minimal hop count from each source.

    The distributed path is ``frontier_levels`` keyed on (node, root):
    one pinned level per depth, each anti-joined against the earlier
    levels, returned as their lazy union.  ``getFurthest``/``findPath``
    are wrappers over these distances.

    Size-adaptive like ``isa_closure``/``connected_components``: BFS
    runs on taxonomy/meronymy edge sets, which are dimension-sized, so
    below ``driver_threshold`` edges one collect + Python BFS replaces
    several scheduled jobs per level; the distributed loop remains the
    large-graph guarantee.  Paths proven equal by
    test_bfs_driver_equals_distributed.
    """
    pairs = driver_rows(edges.select("src", "dst"), driver_threshold)
    if pairs is not None:
        roots = {r for (r,) in sources.select("node").collect()}
        rows = [(r, r, 0) for r in roots] + [
            (n, r, d) for r, n, d in reach(pairs, roots, max_depth) if n != r
        ]
        f = sources.schema["node"].dataType.simpleString()
        return local_frame(
            sources.sparkSession, rows, f"node {f}, root {f}, depth int"
        )

    def expand(frontier: DataFrame, depth: int) -> DataFrame:
        return frontier.join(edges, frontier["node"] == edges["src"]).select(
            F.col("dst").alias("node"), "root", F.lit(depth).alias("depth")
        )

    seed = sources.select(
        F.col("node"), F.col("node").alias("root"), F.lit(0).alias("depth")
    )
    levels, _ = frontier_levels(
        seed, expand, ["node", "root"], max_levels=max_depth + 1
    )
    return union_all(levels)


def shortest_path_length(
    edges: DataFrame, src: str, dst: str, max_depth: int = 10
) -> int | None:
    """``findPath`` hop count between two nodes, None if unreachable."""
    spark = edges.sparkSession
    sources = local_frame(spark, [(src,)], "node string")
    hit = (
        bfs_distances(edges, sources, max_depth)
        .where(F.col("node") == dst)
        .agg(F.min("depth"))
        .collect()[0][0]
    )
    return None if hit is None else int(hit)


def find_path(
    edges: DataFrame, src: str, dst: str, max_depth: int = 10
) -> list[str] | None:
    """``findPath`` + ``reconstructPath`` (src/query.cpp:1737-1790,
    1477-1496): level-synchronous BFS recording each node's first-seen
    parent (``enqueued[d] = current``, src/query.cpp:1498-1507), then a
    backtrack from dst.  The reference's queue order leaves the parent
    arbitrary among same-level predecessors; min(parent) per node makes
    the path deterministic here.  The frontier joins stay distributed
    (``frontier_levels`` keyed on node, stopping at the level that
    reaches dst); only single parent rows reach the driver during the
    O(path-length) backtrack, so the operator scales with the edge
    table, not the visited set."""
    if src == dst:
        return [src]
    e = edges.select("src", "dst")

    def expand(frontier: DataFrame, _depth: int) -> DataFrame:
        f = frontier.select(F.col("node").alias("f_node"))
        return (
            f.join(e, f["f_node"] == e["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("f_node").alias("parent"))
        )

    seed = local_frame(
        edges.sparkSession, [(src, None)], "node string, parent string"
    )
    levels, converged = frontier_levels(
        seed, expand, ["node"], max_levels=max_depth + 1,
        stop=F.col("node") == dst,
    )
    path = [dst]
    if not converged:
        # the last level holds dst, or the depth bound cut the walk
        # first; the backtrack's first lookup tells which
        for lvl in reversed(levels[1:]):
            row = lvl.where(F.col("node") == path[-1]).take(1)
            if not row:
                break
            path.append(row[0]["parent"])
    for lvl in levels:
        _unpin(lvl)
    return path[::-1] if path[-1] == src else None


def topic_of(
    nodes: DataFrame,
    edges: DataFrame,
    stop: tuple[str, ...] = (),
    drop: tuple[str, ...] = (),
    max_depth: int = 10,
) -> DataFrame:
    """``getTopic``/``getFurthest`` with hub guards (src/query.cpp:
    2171-2179, 1511-1564): BFS upward to the furthest ancestor, never
    entering DROP-listed hub classes (``filterWikiType``) and halting at
    STOP-listed good classes (``stopAtGoodWiki``).  Returns
    (node, topic).  The guard lists are exactly the reference's manual
    answer to hub-entity skew — broadcast into the join filters here.
    """
    from pyspark.sql import Window

    e = edges.select(F.col("src"), F.col("dst"))
    if drop:
        e = e.where(~F.col("dst").isin(list(drop)))
    seen = _topic_bfs(nodes, e, stop, max_depth)
    w = Window.partitionBy("start").orderBy(F.col("depth").desc(), F.col("cur").asc())
    return (
        seen.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("start").alias("node"), F.col("cur").alias("topic"))
    )


def typed_filter_edges(
    triples: DataFrame,
    fwd_rels: frozenset[int],
    rev_rels: frozenset[int],
    skip_rels: frozenset[int] = frozenset(),
) -> DataFrame:
    """BFS edge set (src, dst) for one per-edge-type filter
    (src/query.cpp:1228-1475): forward predicates step subject->object,
    reverse predicates step object->subject, skip predicates are dropped
    before any match.  The predicate sets are broadcast config — the
    Spark analog of the reference's hardcoded filter functions."""
    t = triples
    if skip_rels:
        t = t.where(~F.col("rel").isin(list(skip_rels)))
    fwd = t.where(F.col("rel").isin(list(fwd_rels))).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    rev = t.where(F.col("rel").isin(list(rev_rels))).select(
        F.col("obj").alias("src"), F.col("subj").alias("dst")
    )
    return fwd.unionByName(rev).where(F.col("src") != F.col("dst")).distinct()


def member_edges(triples: DataFrame) -> DataFrame:
    """``memberFilter`` meronymy step set (src/query.cpp:1266-1336):
    forward Part/Member/Substance/... plus the upward class climb
    (reverse Instance/SubClass), so parts inherit through the type
    hierarchy — has(duck, feather) via duck -> bird -> feather."""
    from netbase_spark.relations import (
        MEMBER_FWD_RELS,
        MEMBER_REV_RELS,
        MEMBER_SKIP_RELS,
    )

    return typed_filter_edges(
        triples, MEMBER_FWD_RELS, MEMBER_REV_RELS, MEMBER_SKIP_RELS
    )


def subclass_edges(triples: DataFrame) -> DataFrame:
    """``subclassFilter`` step set (src/query.cpp:1228-1250)."""
    from netbase_spark.relations import SUBCLASS_FWD_RELS, SUBCLASS_REV_RELS

    return typed_filter_edges(triples, SUBCLASS_FWD_RELS, SUBCLASS_REV_RELS)


def instance_edges(triples: DataFrame) -> DataFrame:
    """``instanceFilter`` step set (src/query.cpp:1197-1224): forward
    Instance, reverse Type/Label."""
    from netbase_spark.relations import INSTANCE_FWD_RELS, INSTANCE_REV_RELS

    return typed_filter_edges(triples, INSTANCE_FWD_RELS, INSTANCE_REV_RELS)


def any_edges(
    triples: DataFrame,
    exclude_srcs: DataFrame | None = None,
) -> DataFrame:
    """``anyFilter`` undirected step set (src/query.cpp:1443-1467):
    every statement steps subject<->object in BOTH directions.  The
    reference's ``includeRelations=false`` guard refuses to expand
    built-in nodes (``subject->id < 1000``); our node ids are strings,
    so the guard is an explicit broadcast ``exclude_srcs`` set (one
    ``node`` column) anti-joined on the expansion side — same hub
    protection, no dense-id numerology."""
    fwd = triples.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    rev = triples.select(F.col("obj").alias("src"), F.col("subj").alias("dst"))
    edges = fwd.unionByName(rev).where(F.col("src") != F.col("dst")).distinct()
    if exclude_srcs is not None:
        edges = edges.join(
            F.broadcast(exclude_srcs.select(F.col("node").alias("src"))),
            "src",
            "left_anti",
        )
    return edges


def relations_of(
    triples: DataFrame, nodes: DataFrame | None = None
) -> DataFrame:
    """``relationsFilter`` (src/query.cpp:1253-1263): the distinct
    predicates on a node's statement chain.  The chain links every
    statement where the node appears as subject OR object
    (``nextStatement`` walks one unified per-node list,
    src/netbase.cpp:468-481), so both directions contribute.

    ``nodes`` (optional, one ``node`` column) restricts the listing via
    a broadcast semi-join BEFORE the distinct, so the only shuffle is
    over the surviving (node, rel) pairs; both legs are column-pruned
    scans of the same rel-partitioned table."""
    legs = triples.select(F.col("subj").alias("node"), "rel").unionByName(
        triples.select(F.col("obj").alias("node"), "rel")
    )
    if nodes is not None:
        legs = legs.join(
            F.broadcast(nodes.select("node").distinct()), "node", "left_semi"
        )
    return legs.distinct()


def member_path_exists(
    triples: DataFrame, src: str, dst: str, max_depth: int = 6
) -> bool:
    """``has(x, y)`` / ``memberPath`` (src/query.cpp:1792-1810): BFS over
    the meronymy step set; True if y is reachable from x."""
    return (
        shortest_path_length(member_edges(triples), src, dst, max_depth)
        is not None
    )


def all_instances(
    triples: DataFrame,
    word: str,
    max_depth: int = 10,
    include_classes: bool = True,
) -> DataFrame:
    """``all_instances2/3`` (src/query.cpp:902-1046): BFS downward from a
    word/class over instanceFilter edges, optionally expanding classes
    via subclassFilter first.  Returns (node, depth)."""
    spark = triples.sparkSession
    edges = instance_edges(triples)
    if include_classes:
        edges = edges.unionByName(subclass_edges(triples)).distinct()
    sources = local_frame(spark, [(word,)], "node string")
    return (
        bfs_distances(edges, sources, max_depth)
        .where(F.col("depth") > 0)
        .select("node", "depth")
        .dropDuplicates(["node"])
    )


def count_instances(
    triples: DataFrame, closure: DataFrame | None = None
) -> DataFrame:
    """``countInstances`` (src/query.cpp:1174-1187): per class node,
    direct instance count (one Instance hop) vs transitive count
    (instances of all isA4 descendants too).  Returns
    (node, n_direct, n_transitive)."""
    direct = (
        triples.where(F.col("rel") == INSTANCE)
        .groupBy(F.col("subj").alias("node"))
        .agg(F.count_distinct("obj").alias("n_direct"))
    )
    if closure is None:
        closure = isa_closure(triples)
    # transitive: every (node, anc) closure row attributes node's direct
    # instances to anc as well
    inst = triples.where(F.col("rel") == INSTANCE).select(
        F.col("subj").alias("cls"), F.col("obj").alias("inst")
    )
    via_desc = inst.join(
        closure.select(F.col("node").alias("cls"), F.col("anc").alias("node")),
        "cls",
    ).select("node", "inst")
    trans = (
        inst.select(F.col("cls").alias("node"), "inst")
        .unionByName(via_desc)
        .groupBy("node")
        .agg(F.count_distinct("inst").alias("n_transitive"))
    )
    return (
        direct.join(trans, "node", "full")
        .select(
            "node",
            F.coalesce("n_direct", F.lit(0)).alias("n_direct"),
            F.coalesce("n_transitive", F.lit(0)).alias("n_transitive"),
        )
    )


def sort_topics(
    nodes: DataFrame,
    edges: DataFrame,
    stop: tuple[str, ...] = (),
    drop: tuple[str, ...] = (),
    max_depth: int = 10,
) -> DataFrame:
    """``sortTopics`` (src/query.cpp:2105-2124): the ORDERED ancestor
    list per node — furthest first, self and placeholder entries
    dropped, halting at STOP-listed classes — not just the single
    furthest topic.  Returns (node, rank, topic): rank 1 = furthest."""
    from pyspark.sql import Window

    e = edges.select("src", "dst")
    if drop:
        e = e.where(~F.col("dst").isin(list(drop)))
    seen = _topic_bfs(nodes, e, stop, max_depth)
    w = Window.partitionBy("start").orderBy(
        F.col("depth").desc(), F.col("cur").asc()
    )
    return (
        seen.where(F.col("depth") > 0)  # drop self (2110)
        .where(F.col("cur") != "◊")  # placeholder names (2112)
        .withColumn("rank", F.row_number().over(w))
        .select(
            F.col("start").alias("node"), "rank", F.col("cur").alias("topic")
        )
    )


def _topic_bfs(nodes, e, stop, max_depth):
    """Shared upward BFS for topic_of/sort_topics: (start, cur, depth),
    depth = FIRST-visit distance.  The per-start visited anti-join is
    load-bearing: Synonym edges are bidirectional in ``upward_edges``,
    so without it any synonym pair ping-pongs the frontier to max_depth
    and the depth-desc furthest-ancestor pick returns a cycle member
    instead of the true topic (the reference's ``yetvisited`` set,
    src/query.cpp:1511-1564) — ``frontier_levels`` keyed on
    (start, cur) is exactly that set."""

    def expand(frontier: DataFrame, depth: int) -> DataFrame:
        if stop:
            frontier = frontier.where(~F.col("cur").isin(list(stop)))
        return frontier.join(e, frontier["cur"] == e["src"]).select(
            "start", F.col("dst").alias("cur"), F.lit(depth).alias("depth")
        )

    seed = nodes.select(
        F.col("node").alias("start"), F.col("node").alias("cur"),
        F.lit(0).alias("depth"),
    )
    levels, _ = frontier_levels(
        seed, expand, ["start", "cur"], max_levels=max_depth + 1
    )
    return union_all(levels)


# rel-class priority for statement listing (the Instance-gap ordering,
# src/netbase.cpp:468-481: type/property statements live BEFORE the
# million-row Instance block so property scans skip instances; our
# set-semantics storage replaces physical position with this explicit
# ordering — SURVEY.md §2.5 Mutation note, testInstancesAtEnd
# src/tests.cpp:565-596)
def rel_priority_col(rel_col="rel"):
    from netbase_spark.relations import MENTIONED_IN

    return (
        F.when(F.col(rel_col).isin([TYPE, SUPER_CLASS, SUB_CLASS]), 0)
        .when(F.col(rel_col) == INSTANCE, 2)
        .when(F.col(rel_col) == MENTIONED_IN, 3)
        .otherwise(1)
    )


def list_statements(triples: DataFrame, node: str) -> DataFrame:
    """Ordered statement listing for one node: types first, properties
    next, Instance block last (the reference's physical insert-order
    invariant, expressed as an explicit sort key)."""
    mine = triples.where((F.col("subj") == node) | (F.col("obj") == node))
    return mine.withColumn("rel_prio", rel_priority_col()).orderBy(
        "rel_prio", "rel", "subj", "obj"
    )


def facet_counts(
    melted: DataFrame,
    max_facets: int = 20,
    min_count: int = 2,
    pred_col: str = "pred",
    val_col: str = "val",
) -> DataFrame:
    """``findFacet`` + top-maxFacets rendering (src/query.cpp:59-78,
    129-147, 222-248): per predicate, the value-count histogram ranked
    by count desc (ties: value asc), values seen fewer than
    ``min_count`` times dropped (renderResults count>1 filter, 243),
    top ``max_facets`` kept (maxFacets=20 default, src/netbase.hpp:258).
    Input is long-form (pred, val) rows; returns (pred, val, n, rank).
    One aggregation + one per-predicate window — the window partitions
    by predicate, so no global sort."""
    from pyspark.sql import Window

    counts = melted.groupBy(pred_col, val_col).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy(pred_col).orderBy(
        F.col("n").desc(), F.col(val_col).asc()
    )
    return (
        counts.where(F.col("n") >= min_count)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= max_facets)
        .select(pred_col, val_col, "n", "rank")
    )


def delete_node(triples: DataFrame, node: str) -> DataFrame:
    """``deleteNode`` (src/netbase.cpp:1790-1840; testDelete
    src/tests.cpp:1198-1226): drop every statement whose subject OR
    object is the node.  Set-semantics tombstone — the reference
    splices the statement chains and nulls the name; re-learning the
    fact afterwards creates a fresh statement (``s != s2``), which in
    our model is simply the fact being present again.  Two pushdown
    filters, no shuffle."""
    return triples.where((F.col("subj") != node) & (F.col("obj") != node))


def merge_vectors(a: DataFrame, b: DataFrame) -> DataFrame:
    """Dedup union (``mergeVectors``)."""
    return a.unionByName(b).distinct()


def intersect_nodes(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def exclude_nodes(a: DataFrame, b: DataFrame) -> DataFrame:
    """NOT filter (``exclude``) — anti-join, preserving duplicates on the
    left like the reference's vector filtering."""
    return a.join(b, list(b.columns), "left_anti")


def page(df: DataFrame, order_cols: list, start: int, hits_per_page: int) -> DataFrame:
    """Deterministic paging: global sort + offset/limit
    (``q.start/hitsPerPage``).  Spark 3.4+ offset is a real operator —
    the sort is the only shuffle."""
    return df.orderBy(*order_cols).offset(start).limit(hits_per_page)


def delete_statement(
    triples: DataFrame, subj: str, rel: int, obj: str
) -> DataFrame:
    """``deleteStatement`` (src/netbase.cpp:1817-1840): remove ONE
    statement by its (subj, rel, obj) key — the chain-splice is a
    pushdown-friendly filter here; `delete_node` is the analog of
    ``deleteStatements(n)`` (every statement touching the node)."""
    return triples.where(
        ~(
            (F.col("subj") == subj)
            & (F.col("rel") == F.lit(rel))
            & (F.col("obj") == obj)
        )
    )


def is_a_nodes(
    triples: DataFrame,
    nodes: DataFrame,
    to: str,
    closure: DataFrame | None = None,
) -> DataFrame:
    """``isA(fro, to)`` wrapper (src/netbase.cpp:2344-2363), set-form:
    the subset of ``nodes(node)`` that are-a ``to`` via any of

    1. subsumption — node == to or (node, to) in the isA4 closure;
    2. predicate-as-class — some statement ``(x, to, node)`` exists
       ("x.son=milan => milan is_a son"), predicate subsumption through
       the ``initWikiRelations`` hierarchy included;
    3. abstract expansion — an Instance of the node satisfies (2).

    The reference's final ``findPath(fro, to, parentFilter)`` fallback
    is the closure probe here: the materialized closure IS reachability
    over the upward parent edges.  Three semi-joins against
    dimension-sized right sides — no per-node recursion."""
    from netbase_spark.normalize import norm_name
    from netbase_spark.operators.mutate import rel_id_for, sub_predicate_ids

    to_n = norm_name(to) or to
    if closure is None:
        closure = isa_closure(triples)
    nodes = nodes.select("node").distinct()
    direct = nodes.where(F.lower(F.col("node")) == to_n)
    sub = nodes.join(
        closure.where(F.lower(F.col("anc")) == to_n).select("node"),
        "node",
        "semi",
    )
    rels = list(sub_predicate_ids(rel_id_for(to_n)))
    pred_hits = (
        triples.where(F.col("rel").isin(rels))
        .select(F.col("obj").alias("node"))
        .distinct()
    )
    pred = nodes.join(pred_hits, "node", "semi")
    inst = triples.where(F.col("rel") == INSTANCE).select(
        F.col("subj").alias("node"), F.col("obj").alias("inst")
    )
    via_inst = (
        nodes.join(inst, "node")
        .join(pred_hits.withColumnRenamed("node", "inst"), "inst", "semi")
        .select("node")
    )
    return (
        direct.unionByName(sub).unionByName(pred).unionByName(via_inst).distinct()
    )


def find_properties(
    triples: DataFrame,
    names: DataFrame | list[str] | tuple[str, ...],
    rel: int,
    allow_inverse: bool = True,
    result_limit: int | None = 200,
    instance_cap: int | None = 10000,
) -> DataFrame:
    """``findProperties(name, prop)`` (src/query.cpp:2295-2350): expand
    each query name to itself plus its direct instances
    (``instanceFilter``, src/query.cpp:2343-2345 — "type of Carlos
    Barbot" answers from the instance's statements), then gather the
    property values for ``rel``: objects of ``(node, rel, ?)`` rows
    plus, when ``allow_inverse``, subjects of ``(?, rel, node)`` rows
    (the inverse retry, src/query.cpp:2302-2306).  Returns
    ``(name, value, via)`` with a direct hit preferred when the same
    value is reachable both ways (the reference pushes direct objects
    before inverse subjects) and a per-name cap mirroring
    ``resultLimit`` (src/webserver.cpp:41).

    ``names`` is a one-column ``name`` DataFrame or a Python list of
    already-normalized keys.  Scale shape: the name side (plus its
    instance expansion, capped at ``instance_cap`` per name — the
    reference's lookupLimit=10000 guard, src/netbase.hpp:253-258) is
    broadcast; the triple side is only ever filtered on ``rel`` — a
    pushdown that prunes to one predicate partition of the
    rel-partitioned triple layout — and never shuffled."""
    spark = triples.sparkSession
    if isinstance(names, (list, tuple)):
        names = local_frame(spark, [(n,) for n in names], "name string")
    names = names.select("name").distinct()

    inst = (
        triples.where(F.col("rel") == INSTANCE)
        .join(F.broadcast(names), F.col("subj") == F.col("name"))
        .select("name", F.col("obj").alias("node"))
    )
    if instance_cap:
        w = Window.partitionBy("name").orderBy("node")
        inst = (
            inst.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= instance_cap)
            .drop("_rk")
        )
    nodes = names.select(
        "name", F.col("name").alias("node")
    ).unionByName(inst)

    rel_rows = triples.where(F.col("rel") == rel)
    direct = rel_rows.join(
        F.broadcast(nodes), rel_rows["subj"] == nodes["node"]
    ).select("name", F.col("obj").alias("value"), F.lit("direct").alias("via"))
    out = direct
    if allow_inverse:
        inverse = rel_rows.join(
            F.broadcast(nodes), rel_rows["obj"] == nodes["node"]
        ).select(
            "name", F.col("subj").alias("value"), F.lit("inverse").alias("via")
        )
        out = out.unionByName(inverse)
    # contains() dedup, direct wins ('direct' < 'inverse')
    out = out.where(F.col("name") != F.col("value")).groupBy(
        "name", "value"
    ).agg(F.min("via").alias("via"))
    if result_limit:
        w = Window.partitionBy("name").orderBy("via", "value")
        out = (
            out.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= result_limit)
            .drop("_rk")
        )
    return out


def get_type(triples: DataFrame, names: DataFrame | list[str]) -> DataFrame:
    """``getType`` (src/query.cpp:2128-2133) = first Type property per
    node, set-form: (name, type).  Direct edges outrank inverse, ties
    break on value — a deterministic stand-in for the reference's
    statement-chain-order "first"."""
    from netbase_spark.relations import TYPE

    props = find_properties(triples, names, TYPE, result_limit=None)
    w = Window.partitionBy("name").orderBy("via", "value")
    return (
        props.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("name", F.col("value").alias("type"))
    )
