"""Entity canonicalization: union-find connected components at scale.

Reference: ``mergeNode`` splices one node's statements into another and
rewrites ids (src/netbase.cpp:2610-2638); merge inputs are sameAs-class
edges — Synonym -32, Label -38/Labeled -39, P460, redirects
(SURVEY.md §2.4).

Spark-first: iterative min-label propagation with pointer jumping
(path doubling) — converges in O(log diameter) rounds; each round is
one shuffle on the node key.  Every iteration is pinned
(``frontier._pin``) to cut the lineage (driver-loop iteration is the
documented pattern for Catalyst, which has no recursion).  The stop is
exact: each round counts, in the job that pins it, the nodes whose rep
changed; reps only decrease, so a round with no change is the fixpoint
and the loop always ends.  The representative is the
lexicographic MIN key of the component — deterministic, and expressible
as a recursive CTE for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from netbase_spark.operators.frontier import _pin, _unpin, driver_rows
from netbase_spark.plans.broadcast_gate import local_frame


def connected_components(
    edges: DataFrame, driver_threshold: int = 200_000
) -> DataFrame:
    """edges(src, dst) undirected -> mapping(node, rep) for non-trivial
    components only (node != rep).

    Size-adaptive: below ``driver_threshold`` edges the component solve
    runs as plain union-find on the driver (the reference's ``mergeNode``
    is O(E α); scheduling distributed rounds for a dimension-sized
    edge set costs orders of magnitude more than computing it) — same
    min-rep output, verified equal to the distributed path by tests.
    Above it, iterative min-label propagation with pointer jumping,
    run until no node's rep changes.
    sameAs-class edge sets are label-table-sized, not corpus-sized, so
    the driver path is the common case even at 10^12 docs; the
    distributed loop is the guarantee it stays correct when it isn't.
    The driver path reads ``edges`` once and returns a ``LocalRelation``.
    """
    got = driver_rows(edges.select("src", "dst"), driver_threshold)
    if got is not None:
        pairs = [(a, b) for a, b in got if a is not None and b is not None]
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                # min-key representative == the distributed min-label result
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(n, find(n)) for n in parent]
        rows = [(n, r) for n, r in rows if n != r]
        f = edges.schema["src"].dataType.simpleString()
        return local_frame(edges.sparkSession, rows, f"node {f}, rep {f}")

    sym = _pin(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    # start: rep = min(self, direct neighbors)
    mapping = _pin(
        sym.groupBy("a")
        .agg(F.least(F.min("b"), F.first("a")).alias("rep"))
        .select(F.col("a").alias("node"), "rep")
    )

    while True:
        # neighbor-min propagation: candidate rep via any neighbor's rep;
        # every neighbor is a mapping node, so each node keeps its
        # previous rep as ``prev`` (null on the neighbor rows)
        nbr = (
            sym.join(mapping, sym["b"] == mapping["node"])
            .select(F.col("a").alias("node"), "rep")
        )
        merged = (
            mapping.withColumn("prev", F.col("rep"))
            .unionByName(nbr, allowMissingColumns=True)
            .groupBy("node")
            .agg(F.min("rep").alias("rep"), F.min("prev").alias("prev"))
        )
        # pointer jumping: rep := rep(rep).  rep is never null, so
        # coalesce(rep, prev) is rep; reading prev keeps this side's
        # aggregate identical to the left side's, so both sides share
        # one exchange instead of pruning prev into a second one
        m2 = merged.select(
            F.col("node").alias("n2"), F.coalesce("rep", "prev").alias("rep2")
        )
        # exact stop, counted in the job that pins the round: reps only
        # ever decrease, so a round that changes no rep is the fixpoint
        obs = Observation()
        jumped = _pin(
            merged.join(m2, merged["rep"] == m2["n2"], "left")
            .select("node", F.coalesce("rep2", "rep").alias("rep"), "prev")
            .observe(obs, F.count_if(F.col("rep") != F.col("prev")).alias("changed"))
            .select("node", "rep")
        )
        _unpin(mapping)
        mapping = jumped
        if not obs.get["changed"]:
            break

    _unpin(sym)
    return mapping.where(F.col("node") != F.col("rep"))


def merge_mapping(
    mapping: DataFrame, new_edges: DataFrame, **cc_kwargs
) -> DataFrame:
    """Incremental canonical-map maintenance: fold new sameAs/merge
    edges into an existing ``(node, rep)`` mapping WITHOUT recomputing
    connected components over the historical edge set.

    The reference can splice a merge at any time (``:merge``,
    src/console.cpp:397-407 -> ``mergeNode`` src/netbase.cpp:2610-2638);
    the distributed analog must not pay an O(all-edges) CC solve per
    correction batch.  Shape:

    1. route both endpoints of the new edges through the CURRENT map
       (left joins, coalesce to self) — edges now connect current
       representatives;
    2. solve CC on that rep-level edge set ONLY (delta-sized: touched
       components + brand-new nodes, never the full node universe);
    3. fold the delta back: old entries whose rep was re-rooted follow
       it (mapping side scanned once, delta side broadcast), and the
       delta's own entries (old reps / fresh nodes -> new reps) append.

    The min-rep invariant is preserved: each old rep is already the min
    of its component, so the min over a merged set of reps IS the min
    over the merged components' full membership.  Equality with a full
    recompute over the edge union is pinned by tests and by the
    ``cc_incremental`` contract query (recursive-CTE DuckDB oracle).
    """
    m_src = mapping.select(F.col("node").alias("src"), F.col("rep").alias("_sr"))
    m_dst = mapping.select(F.col("node").alias("dst"), F.col("rep").alias("_dr"))
    rep_edges = (
        new_edges.join(m_src, "src", "left")
        .join(m_dst, "dst", "left")
        .select(
            F.coalesce("_sr", "src").alias("src"),
            F.coalesce("_dr", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    delta = connected_components(rep_edges, **cc_kwargs)
    # delta nodes are current reps or previously-unmapped nodes, so they
    # are disjoint from mapping's node column; the union needs no dedup.
    # Size-gated broadcast: correction batches are tiny, but a mergeAll-
    # scale edge set must not pin a hard broadcast hint (the gate falls
    # back to a shuffle join above the cap).
    from netbase_spark.plans.broadcast_gate import gated_broadcast

    d2 = gated_broadcast(
        delta.select(F.col("node").alias("rep"), F.col("rep").alias("_r2"))
    )
    updated = mapping.join(d2, "rep", "left").select(
        "node", F.coalesce("_r2", "rep").alias("rep")
    )
    return updated.unionByName(delta).where(F.col("node") != F.col("rep"))


def mapping_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """The entries of ``new`` whose rep differs from ``old``'s (including
    nodes ``old`` did not map at all) — exactly the node set whose
    canonical target changed, i.e. the rewrite frontier for
    :func:`recanonicalize_delta`.  Anti join on the full (node, rep)
    pair; both sides are dimension-sized maps."""
    return new.join(old, ["node", "rep"], "left_anti")


def recanonicalize_delta(
    table: DataFrame, changed: DataFrame, return_delta: bool = False
):
    """Re-canonicalize an EXISTING triple table after a mapping delta,
    rewriting only the touched rows: a row is touched iff its subj or
    obj is in ``changed`` (the :func:`mapping_delta` output — values in
    a previously-canonicalized table are old reps or unmapped nodes, and
    those are precisely the node keys a delta can contain).  Untouched
    rows pass through without a shuffle; touched rows (delta-bounded)
    run the standard three-join rewrite, then merge back with
    first-writer provenance (a rewrite can land on a key the untouched
    side already holds — the reference's dedup-at-insert keeps the
    stored statement, src/netbase.cpp:760-767).

    ``return_delta=True`` returns ``(updated, removed, added)`` where
    ``removed`` is the touched rows leaving the table and ``added`` the
    rewritten rows that actually landed (post first-writer dedup) — the
    exact inputs ``evaluate.apply_count_delta`` needs to maintain a
    degree table through the merge without a full recount
    (composition pinned by test)."""
    from netbase_spark.operators.evaluate import fresh_triples
    from netbase_spark.plans.broadcast_gate import gated_broadcast

    chs = gated_broadcast(
        changed.select(F.col("node").alias("subj"), F.lit(1).alias("_ts"))
    )
    cho = gated_broadcast(
        changed.select(F.col("node").alias("obj"), F.lit(1).alias("_to"))
    )
    t = table.join(chs, "subj", "left").join(cho, "obj", "left")
    untouched = t.where(F.col("_ts").isNull() & F.col("_to").isNull()).drop(
        "_ts", "_to"
    )
    touched = t.where(F.col("_ts").isNotNull() | F.col("_to").isNotNull()).drop(
        "_ts", "_to"
    )
    # materialize the rewritten delta ONCE: fresh_triples consumes it
    # twice (key aggregation + anti join) and each lazy recompute would
    # re-scan the full table through the touched filter.  Delta-bounded
    # in the intended regime (corrections touch few components); the
    # checkpoint blocks are context-cleaner managed.
    rewritten = rewrite_triples(touched, changed).localCheckpoint()
    added = fresh_triples(untouched, rewritten)
    updated = untouched.unionByName(added.select(*untouched.columns))
    if return_delta:
        return updated, touched, added
    return updated


def merge_all_edges(aliases: DataFrame, word: str | None = None) -> DataFrame:
    """``mergeAll`` (src/netbase.cpp:2491-2497): merge every entity
    sharing one surface form into a single node — emitted as star edges
    (min key per name_norm -> each other key) feeding
    :func:`connected_components`.  ``word`` restricts to one alias
    (the console ``:merge`` form); None merges every ambiguous alias
    (collectAbstracts-scale rebuild)."""
    a = aliases.select("name_norm", "key").dropDuplicates(["name_norm", "key"])
    if word is not None:
        a = a.where(F.col("name_norm") == word)
    hub = a.groupBy("name_norm").agg(F.min("key").alias("src"))
    return (
        a.join(hub, "name_norm")
        .where(F.col("key") != F.col("src"))
        .select("src", F.col("key").alias("dst"))
    )


def sameas_edges(triples: DataFrame) -> DataFrame:
    """Extract merge edges from a triple set (sameAs-class relations)."""
    from netbase_spark.relations import SAMEAS_CLASS_RELS

    return triples.where(F.col("rel").isin(list(SAMEAS_CLASS_RELS))).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )


def rewrite_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the canonical map, drop self-loops and
    merge-class edges, dedupe — mergeNode at scale (three-join rewrite
    per SURVEY.md §2.4).  The mapping side is broadcast: components are
    tiny relative to the triple set."""
    from netbase_spark.relations import SAMEAS_CLASS_RELS

    m_s = F.broadcast(mapping.select(F.col("node").alias("subj"), F.col("rep").alias("s_rep")))
    m_o = F.broadcast(mapping.select(F.col("node").alias("obj"), F.col("rep").alias("o_rep")))
    return (
        triples.where(~F.col("rel").isin(list(SAMEAS_CLASS_RELS)))
        .join(m_s, "subj", "left")
        .join(m_o, "obj", "left")
        .select(
            F.coalesce("s_rep", "subj").alias("subj"),
            "rel",
            F.coalesce("o_rep", "obj").alias("obj"),
            "rule",
            "doc_id",
        )
        .where(F.col("subj") != F.col("obj"))
        # exchange FIRST, dedup after: a bare dropDuplicates plans a
        # map-side partial aggregate before its exchange, and on a
        # ~98%-unique key set that partial pass builds (and spills) a
        # full-table hash map for nothing — measured 57s vs 31s for the
        # whole stage at 47M triples/16 cores.  Repartitioning on the
        # dedup key makes the exchange the first thing that happens and
        # leaves one right-sized hash aggregate per partition; the key
        # includes subj+obj, so the distribution is uniform (no hub
        # skew) and the output can feed a partitionBy(rel) write with
        # no further shuffle (write_triples direct mode).
        .repartition("subj", "rel", "obj")
        .dropDuplicates(["subj", "rel", "obj"])
    )


def manual_merge(triples: DataFrame, pairs: DataFrame) -> DataFrame:
    """``:merge a b`` console command (src/console.cpp:397-407;
    ``mergeNode`` src/netbase.cpp:2610-2638): a corrections table
    ``pairs(target, node)`` — each node merges INTO its target (the
    reference keeps the target's id, unlike the min-rep convention the
    sameAs CC uses), chains resolving transitively (b->a then a->c ends
    b at c).  Corrections tables are human-curated and tiny, so the
    chain resolve runs on the driver; the rewrite is the same broadcast
    three-join as every other merge."""
    spark = triples.sparkSession
    rep: dict = {}

    def find(x):
        while x in rep:
            x = rep[x]
        return x

    for t, n in pairs.select("target", "node").collect():
        if t is None or n is None:
            continue
        ft, fn = find(t), find(n)
        if fn != ft:
            rep[fn] = ft
    rows = [(n, find(n)) for n in rep]
    if not rows:
        return triples
    mapping = local_frame(spark, rows, "node string, rep string")
    return rewrite_triples(triples, mapping)
