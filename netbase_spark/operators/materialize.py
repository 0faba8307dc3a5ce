"""Graph materialization: dedup, degree (with skew-salted aggregation),
adjacency tables, partitioned triple output.

Reference analogs: duplicate suppression at insert (src/netbase.cpp:
760-767) -> dropDuplicates; ``statementCount`` degree used as ranking
prior (src/util.cpp:918-929); the three intrusive per-node statement
chains (src/netbase.hpp:193-195) -> subj-/obj-keyed adjacency tables;
hub guards ``filterWikiType`` (src/query.cpp:1632-1734) -> explicit
salting for hub keys per north_rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from netbase_spark.operators.frontier import _pin, _unpin
from netbase_spark.plans.broadcast_gate import local_frame


def node_degrees(triples: DataFrame, salt_buckets: int = 32) -> DataFrame:
    """degree per node over subj and obj sides with two-stage salted
    aggregation: stage 1 aggregates (node, salt) partial counts — hub
    nodes (the Q5/owl:Thing analogs) spread over ``salt_buckets``
    reducers — stage 2 sums the partials.  Equivalent to a plain
    group-count (verified by the DuckDB oracle) but skew-safe at scale.
    """
    # one scan, not subj-select UNION obj-select: the union form reads
    # the triple table twice (at 100 TB, a second full pass for free)
    nodes = triples.select(
        F.explode(F.array(F.col("subj"), F.col("obj"))).alias("node")
    )
    salted = nodes.withColumn(
        "salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    )
    partial = salted.groupBy("node", "salt").agg(F.count(F.lit(1)).alias("c"))
    return partial.groupBy("node").agg(F.sum("c").alias("degree"))


def adjacency(triples: DataFrame) -> DataFrame:
    """(node, dir, nbr, rel): both traversal directions of every triple —
    the statement-chain replacement; partition/bucket by node for
    point-lookup pruning.

    One explode, not fwd-select UNION rev-select: the union form plans
    two full scans of the triple table (at 100 TB the second pass is a
    100-TB read for free)."""
    both = F.array(
        F.struct(
            F.col("subj").alias("node"),
            F.lit("out").alias("dir"),
            F.col("obj").alias("nbr"),
            F.col("rel"),
        ),
        F.struct(
            F.col("obj").alias("node"),
            F.lit("in").alias("dir"),
            F.col("subj").alias("nbr"),
            F.col("rel"),
        ),
    )
    return triples.select(F.explode(both).alias("e")).select("e.*")


def adjacency_reverse(triples: DataFrame) -> DataFrame:
    """The materialized half of the adjacency index: one ``dir='in'``
    row per triple, keyed by the OBJECT.  The forward direction never
    needs a second copy of the data — the rel-partitioned triple table
    already IS the subj-keyed adjacency (same rows, same layout), so
    materializing :func:`adjacency` wholesale writes every statement
    twice for zero information.  Reference parity: the three per-node
    statement chains are INDEXES into one statement array
    (src/netbase.hpp:193-195), not copies of the statements; this
    table is the obj-side chain.  At 10^12 docs the full-explode form
    doubles graph storage and was the last non-scaling stage in the
    N->4N construction profile."""
    return triples.select(
        F.col("obj").alias("node"),
        F.lit("in").alias("dir"),
        F.col("subj").alias("nbr"),
        F.col("rel"),
    )


def adjacency_view(triples: DataFrame, reverse: DataFrame) -> DataFrame:
    """Full ``(node, dir, nbr, rel)`` adjacency as a union VIEW:
    forward direction projected from the triple table (column-pruned
    scan, no copy), reverse from the materialized
    :func:`adjacency_reverse` index.  Row-set-identical to
    :func:`adjacency` (pinned by
    test_adjacency_view_equals_full_explode)."""
    fwd = triples.select(
        F.col("subj").alias("node"),
        F.lit("out").alias("dir"),
        F.col("obj").alias("nbr"),
        F.col("rel"),
    )
    return fwd.unionByName(reverse)


def degrees_from_adjacency(adj: DataFrame) -> DataFrame:
    """Degree per node derived from the materialized adjacency table:
    each adjacency row is ONE (node, nbr) incidence, so degree is a
    group-count over the node column alone — a column-pruned scan of a
    table the pipeline already wrote, instead of a second full triple
    scan + explode (measured ~3x faster at 47M triples).  Identical to
    :func:`node_degrees` by construction (pinned by
    test_degrees_from_adjacency_equals_node_degrees).  No explicit salt:
    map-side partial aggregation collapses hub keys to one row per task
    before the exchange, which is all the skew protection a pure count
    needs."""
    return adj.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))


def reify(triples: DataFrame) -> DataFrame:
    """``reify(s)`` (src/netbase.cpp:352-363): a statement-id surrogate
    usable as a subject FK — md5 of the (subj, rel, obj) key, stable
    across runs and reproducible in SQL (the reference uses the array
    slot; dense physical ids don't survive distributed set semantics).
    Returns the triples with a ``statement_id`` column; provenance or
    qualifier facts can then be stored as (statement_id, rel, obj)
    rows in the same table."""
    sid = F.md5(
        F.concat_ws("|", F.col("subj"), F.col("rel").cast("string"), F.col("obj"))
    )
    return triples.withColumn("statement_id", sid)


def statement_nr(triples: DataFrame, forced_rule: str = "forced") -> DataFrame:
    """``getStatementNr`` ordering with the instance gap
    (``addStatementToNodeWithInstanceGap``, src/netbase.cpp:686-758;
    asserted by testInstanceLogic src/tests.cpp:810-816): per subject,
    property/attribute statements rank BEFORE Instance edges — the gap
    exists so abstract-property access never walks 100k city instances
    first.  Our storage has no physical chain, so within each class the
    deterministic (rel, obj) order stands in for insertion order.

    ``force_insert_at_start`` (src/netbase.cpp:686; testInsertForceStart
    src/tests.cpp:581-596): statements tagged with ``forced_rule`` rank
    before every other statement of their subject — the prepend flag as
    a rule-priority class instead of physical order.  One window
    shuffle on subj; at scale this is only materialized for the nodes a
    query projects, not the whole table."""
    from netbase_spark.relations import INSTANCE

    keys = [
        F.when(F.col("rel") == INSTANCE, F.lit(1)).otherwise(F.lit(0)),
        "rel",
        "obj",
    ]
    if forced_rule is not None and "rule" in triples.columns:
        keys.insert(
            0,
            F.when(F.col("rule") == forced_rule, F.lit(0)).otherwise(F.lit(1)),
        )
    w = Window.partitionBy("subj").orderBy(*keys)
    return triples.withColumn("nr", F.row_number().over(w))


def write_triples(
    triples: DataFrame, path: str, files_per_rel: int | None = None
) -> None:
    """Partitioned triple table: partition by rel (predicate-class
    pruning — the Instance-gap ordering analog, src/netbase.cpp:468-481:
    type/property scans never touch mention/instance partitions).

    Default (``files_per_rel=None``): write straight from the input's
    existing distribution — the right mode when the plan already ends
    in a uniform full-table exchange (the dedup in ``rewrite_triples``
    repartitions on (subj, rel, obj), which is skew-free because the
    key includes subj+obj).  The dynamic-partition writer splits each
    task's rows by rel locally, so the hive layout costs NO extra
    shuffle; per-rel file count == shuffle partition count, so the hub
    rel's files scale with the cluster instead of capping write (and
    every later scan) parallelism.  A second (rel, salt) exchange here
    measurably halved 16-core stage throughput for nothing: it re-
    shuffled 100% of rows only to bound the hub rel to a fixed file
    count.

    Explicit ``files_per_rel``: shuffle on (rel, salt) before writing —
    for inputs that do NOT already end in an exchange (e.g. console
    snapshots of an un-shuffled union), where a plain
    ``repartition("rel")`` would funnel ~90% of rows (the mention hub
    class) through one task.  The salt width takes a floor of 2x the
    cluster parallelism so the write stays as wide as the cluster; at
    100 TB, size it to data/target_file_size instead."""
    if files_per_rel is None:
        triples.write.mode("overwrite").partitionBy("rel").parquet(path)
        return
    sc = triples.sparkSession.sparkContext
    buckets = max(files_per_rel, 2 * sc.defaultParallelism)
    salt = F.pmod(F.xxhash64("subj", "obj"), F.lit(buckets))
    (
        triples.repartition(F.col("rel"), salt)
        .write.mode("overwrite")
        .partitionBy("rel")
        .parquet(path)
    )


def write_triples_bucketed(
    triples: DataFrame,
    table: str,
    buckets: int = 64,
    path: str | None = None,
) -> None:
    """Bucketed triple table: hash-bucketed AND sorted by subj — the
    Spark equivalent of the reference's per-subject statement chains
    (src/netbase.hpp:193-195).  Every subj-keyed self-join, adjacency
    build, or join against another table bucketed the same way is then
    co-located: no Exchange at all (pinned by
    test_bucketed_subj_join_has_no_exchange).  At 10^12 docs this is
    the difference between re-shuffling the full triple set per query
    and a scan-side merge join."""
    w = (
        triples.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, "subj")
        .sortBy("subj")
    )
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def enrich_entities(
    nodes: DataFrame,
    triples: DataFrame,
    class_rels: list[int] | None = None,
    stop: tuple[str, ...] = (),
    drop: tuple[str, ...] = (),
) -> DataFrame:
    """The HTTP server's enriched-entity record (src/webserver.cpp:
    95-527, entity JSON enrichment 396-418) as ONE derived table:
    (node, class, topic, degree, seo) — ``getClass`` fallback chain,
    ``getTopic`` furthest ancestor under the hub guards, the
    ``statementCount`` degree prior, and the ``generateSEOUrl`` slug.

    Composition of the package operators (class_of / topic_of /
    node_degrees / seo_slug_col), all left-joined back to the node set:
    three broadcast-friendly dimension joins + the salted degree agg —
    no per-node recursion, no driver loop beyond topic_of's bounded
    BFS."""
    from netbase_spark.normalize import seo_slug_col
    from netbase_spark.operators.query_ops import (
        class_of,
        topic_of,
        upward_edges,
    )
    from netbase_spark.relations import INSTANCE, SUPER_CLASS, SYNONYM, TYPE

    if class_rels is None:
        class_rels = [SUPER_CLASS, TYPE, SYNONYM, INSTANCE]
    nodes = nodes.select("node").distinct()
    cls = class_of(nodes, triples, class_rels)
    up = upward_edges(triples).select(
        F.col("node").alias("src"), F.col("anc").alias("dst")
    )
    top = topic_of(nodes, up, stop=stop, drop=drop)
    deg = node_degrees(triples)
    return (
        nodes.join(cls, "node", "left")
        .join(top, "node", "left")
        .join(deg, "node", "left")
        .select(
            "node",
            "class",
            "topic",
            F.coalesce("degree", F.lit(0)).alias("degree"),
            seo_slug_col(F.col("node")).alias("seo"),
        )
    )


PAGERANK_E12 = 10**12


def pagerank(
    edges: DataFrame,
    iters: int = 2,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Entity salience by PageRank over the KG adjacency — the scale
    extension of the reference's degree-prior node ordering
    (sortNodes, src/netbase.cpp:2564-2569; our :func:`node_degrees`):
    degree counts saturate on hub entities, PageRank discounts mass
    arriving from low-authority spam nodes.

    Simplified variant: dangling-node mass is NOT redistributed (each
    iteration is ``pr = (1-d)/N + d * sum(pr_in/out_deg)``), so the
    result is exactly expressible as ``iters`` unrolled SQL self-joins
    — the contract oracle.

    ALL-INTEGER e12 fixed point: ranks are ``pr_e12`` longs, damping is
    an integer percent, and every division is an integer floor-div
    (``div``), so the result is BIT-DETERMINISTIC on any engine,
    partitioning, and aggregation order.  The first version iterated in
    doubles and e6-floored at the end; Spark's run-to-run float-sum
    reordering flipped the floor on a knife-edge rank (observed: R1 at
    0.145 exactly) — a sometimes-red contract.  Fixed-point costs
    <= 1e-12 absolute drift per operation vs true PageRank, which the
    e6 output granularity never sees except exactly ON a boundary,
    where it is now deterministic on both sides.  Contribution sums
    cannot overflow: the in-flow of a node is bounded by the total
    mass, ~1e12.

    Scale shape: per-iteration cost is one join of the rank vector
    against the edge table on ``src`` plus one groupBy ``dst`` with
    map-side combine; hub skew on popular objects is bounded by the
    partial aggregation.  Each iteration is ``localCheckpoint``-free
    here because ``iters`` stays small (salience needs 2-3 rounds, not
    convergence); for long runs compose with the checkpoint helper in
    canonicalize.py.  Returns (node, pr_e6 = pr_e12 div 1e6).

    A cold start is a warm start from no prior ranks: this runs
    :func:`pagerank_resume`'s step ``iters`` times from uniform.
    """
    ranks, _ = pagerank_resume(
        edges, None, iters=iters, damping_pct=damping_pct,
        src_col=src_col, dst_col=dst_col,
    )
    return ranks.select("node", "pr_e6")


def pagerank_resume(
    edges: DataFrame,
    prev_pr_e12: DataFrame | None,
    iters: int | None = None,
    tol_e12: int = 1_000_000,
    max_iters: int = 50,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> tuple[DataFrame, int]:
    """Incremental PageRank (round-5): WARM-START the iteration from a
    previous snapshot's ranks instead of recomputing from uniform.
    The power iteration's fixed point is start-independent, so after an
    edge/node delta the old vector is an excellent initial guess and
    convergence needs a fraction of the cold-start rounds — the same
    delta-restart trick the incremental closure/count operators use,
    applied to the one derived table that previously recomputed per
    snapshot.

    ``prev_pr_e12`` is (node, pr_e12) from a previous run (see below);
    nodes new to ``edges`` enter at the uniform 1/N share and vanished
    nodes drop out.  ``None`` is a cold start: every node at 1/N, which
    is how :func:`pagerank` runs this same step.  All-integer e12 fixed
    point throughout — same bit-determinism contract as :func:`pagerank`
    (each ROUND is deterministic; the round COUNT is data-dependent in
    tolerance mode, so resume-vs-cold equality is within tolerance, not
    bitwise — pinned by test).

    ``iters`` set: run exactly that many rounds (the oracle-able form —
    one warm round from a one-round init IS two cold rounds, which the
    ``pagerank_warm`` contract query checks against the unrolled SQL).
    ``iters=None``: iterate until ``max |Δpr_e12| <= tol_e12`` or
    ``max_iters``.  Returns ``(ranks, rounds_run)`` where ranks is
    (node, pr_e12, pr_e6).
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        node_t = nodes.schema["node"].dataType.simpleString()
        return (
            local_frame(
                edges.sparkSession, [], f"node {node_t}, pr_e12 long, pr_e6 long"
            ),
            0,
        )
    d = int(damping_pct)
    base = (PAGERANK_E12 * (100 - d) // 100) // n
    uniform = PAGERANK_E12 // n
    out_deg = e.groupBy("src").agg(F.count("*").alias("outd"))

    # warm init: carried ranks for surviving nodes, uniform for new
    # ones.  No renormalization: the damped iteration is a contraction
    # whose fixed point is init-independent, and skipping it keeps one
    # warm round from a one-round init BIT-EQUAL to two cold rounds
    # (the pagerank_warm oracle)
    if prev_pr_e12 is None:
        pr = nodes.withColumn("pr", F.lit(uniform).cast("long"))
    else:
        pr = _pin(
            nodes.join(
                prev_pr_e12.select("node", F.col("pr_e12").alias("_p")),
                "node",
                "left",
            ).select("node", F.coalesce("_p", F.lit(uniform)).cast("long").alias("pr"))
        )

    def step(pr_df: DataFrame) -> DataFrame:
        contrib = (
            e.join(pr_df, e["src"] == pr_df["node"])
            .join(out_deg, "src")
            .select("dst", F.expr("pr div outd").alias("w"))
            .groupBy("dst")
            .agg(F.sum("w").alias("c"))
        )
        return nodes.join(
            contrib, nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (
                F.lit(base) + F.expr(f"({d} * coalesce(c, 0L)) div 100")
            ).cast("long").alias("pr"),
        )

    rounds = 0
    if iters is not None:
        for _ in range(iters):
            pr = step(pr)
            rounds += 1
    else:
        # each round is pinned and the one it supersedes freed; max |Δ|
        # is observed in the pinning job, so the stop test costs no job
        for _ in range(max_iters):
            obs = Observation()
            nxt = _pin(
                step(pr)
                .join(pr.select("node", F.col("pr").alias("_o")), "node", "left")
                .observe(
                    obs,
                    F.max(F.abs(F.col("pr") - F.coalesce("_o", F.lit(0)))).alias("m"),
                )
                .select("node", "pr")
            )
            _unpin(pr)
            pr = nxt
            rounds += 1
            delta = obs.get["m"]
            if delta is not None and delta <= tol_e12:
                break
    out = pr.select(
        "node",
        F.col("pr").alias("pr_e12"),
        F.expr("pr div 1000000").cast("long").alias("pr_e6"),
    )
    return out, rounds
