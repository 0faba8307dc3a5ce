"""Triple-set evaluation + incremental maintenance (operators/evaluate).

Pins: (a) triple_set_pr equals a driver-side set computation, (b)
merge_triples keeps first-writer provenance and dedupes the delta
deterministically, (c) construct_incremental over a doc batch equals a
full rebuild over the doc union — the property that makes batch-loop
construction correct at 10^12 docs where rebuilds are impossible.
"""

import pytest

from netbase_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="test_incremental", cpus=4, shuffle_partitions=4,
                  driver_memory="4g")
    yield s


def test_triple_set_pr_matches_driver_sets(spark):
    from pyspark.sql import functions as F

    from netbase_spark.operators.evaluate import triple_set_pr

    got = spark.createDataFrame(
        [("a", 1, "x"), ("a", 1, "x"), ("b", 1, "y"), ("c", 2, "z")],
        "subj string, rel int, obj string",
    )
    exp = spark.createDataFrame(
        [("a", 1, "x"), ("b", 1, "y"), ("d", 1, "w"), ("e", 1, "v")],
        "subj string, rel int, obj string",
    )
    row = triple_set_pr(got, exp).collect()[0]
    # driver truth: got={ax,by,cz} (3 distinct), exp=4 distinct, tp=2
    assert (row["tp"], row["got_n"], row["expected_n"]) == (2, 3, 4)
    assert row["precision"] == round(2 / 3, 6)
    assert row["recall"] == 0.5
    assert row["f1"] == round(2 * (2 / 3) * 0.5 / ((2 / 3) + 0.5), 6)
    # one wide exchange in the plan (the union-groupBy), not three
    plan = triple_set_pr(got, exp)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_merge_triples_first_writer_wins(spark):
    from netbase_spark.operators.evaluate import merge_triples

    existing = spark.createDataFrame(
        [("a", 1, "x", "old", "d0"), ("b", 1, "y", "old", "d1")],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    delta = spark.createDataFrame(
        [
            ("a", 1, "x", "new", "d9"),        # key collision: existing wins
            ("c", 1, "z", "new", "d3"),        # fresh key
            ("c", 1, "z", "new", "d2"),        # within-delta dup: min doc_id wins
        ],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    got = {tuple(r) for r in merge_triples(existing, delta).collect()}
    assert got == {
        ("a", 1, "x", "old", "d0"),
        ("b", 1, "y", "old", "d1"),
        ("c", 1, "z", "new", "d2"),
    }
    # forced-overflow path (cap=1 disables both broadcasts): same rows
    got2 = {
        tuple(r) for r in merge_triples(existing, delta, cap_bytes=1).collect()
    }
    assert got2 == got


def test_incremental_equals_full_rebuild(spark):
    """construct_incremental(existing=batchA, new=batchB) emits exactly
    the (subj, rel, obj) set of a full rebuild over A union B.  Compared
    on the key triple: label-side provenance under key-duplicate rules
    is dropDuplicates-arbitrary by design (the P/R boundary is the key
    set, schemas.py)."""
    from netbase_spark.data.synth import docs_df
    from netbase_spark.operators.evaluate import construct_incremental
    from netbase_spark.plans.synth_pipeline import build_artifacts, construct_from

    arts = build_artifacts(spark)
    docs_a = docs_df(spark, 150, seed=42, partitions=4)
    docs_b = docs_df(spark, 100, seed=43, partitions=4)

    existing = construct_from(spark, docs_a, arts).localCheckpoint()
    merged = construct_incremental(spark, existing, docs_b, arts)
    full = construct_from(spark, docs_a.unionByName(docs_b), arts)

    keyset = lambda df: {(r.subj, r.rel, r.obj) for r in df.collect()}
    assert keyset(merged) == keyset(full)
    # merge introduced no key duplicates
    assert merged.count() == merged.dropDuplicates(["subj", "rel", "obj"]).count()
    # provenance of batch-A mention rows survived the merge untouched
    a_rows = {tuple(r) for r in existing.collect()}
    assert a_rows <= {tuple(r) for r in merged.collect()}


def test_merge_counts_matches_full_recount(spark):
    from pyspark.sql import functions as F

    from netbase_spark.operators.evaluate import merge_counts

    rows_a = [("n1",), ("n1",), ("n2",)]
    rows_b = [("n1",), ("n3",), ("n3",)]
    a = spark.createDataFrame(rows_a, "node string")
    b = spark.createDataFrame(rows_b, "node string")
    existing = a.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    merged = merge_counts(existing, b, ("node",), "degree")
    got = {(r.node, r.degree) for r in merged.collect()}
    assert got == {("n1", 3), ("n2", 1), ("n3", 2)}
    # forced-overflow path (cap=1 disables the broadcasts): same rows
    got2 = {
        (r.node, r.degree)
        for r in merge_counts(existing, b, ("node",), "degree", cap_bytes=1).collect()
    }
    assert got2 == got
    # empty delta: table unchanged
    empty = spark.createDataFrame([], "node string")
    unchanged = {
        (r.node, r.degree)
        for r in merge_counts(existing, empty, ("node",), "degree").collect()
    }
    assert unchanged == {("n1", 2), ("n2", 1)}


def test_triple_set_pr_by_group(spark):
    from netbase_spark.operators.evaluate import triple_set_pr

    got = spark.createDataFrame(
        [("a", 1, "x"), ("b", 1, "y"), ("c", 2, "z")],
        "subj string, rel int, obj string",
    )
    exp = spark.createDataFrame(
        [("a", 1, "x"), ("d", 1, "y"), ("e", 3, "w")],
        "subj string, rel int, obj string",
    )
    rows = {r.rel: r for r in triple_set_pr(got, exp, by=("rel",)).collect()}
    assert set(rows) == {1, 2, 3}
    assert (rows[1].tp, rows[1].got_n, rows[1].expected_n) == (1, 2, 2)
    assert rows[1].precision == 0.5 and rows[1].recall == 0.5
    # group present only in got: recall over 0 expected -> 0.0, not NaN
    assert (rows[2].tp, rows[2].got_n, rows[2].expected_n) == (0, 1, 0)
    assert rows[2].recall == 0.0 and rows[2].f1 == 0.0
    # group present only in expected
    assert (rows[3].tp, rows[3].got_n, rows[3].expected_n) == (0, 0, 1)
    assert rows[3].precision == 0.0
    # by must be a subset of keys
    import pytest as _pytest

    with _pytest.raises(ValueError):
        triple_set_pr(got, exp, by=("nope",))


def _cc_full(spark, edges):
    from netbase_spark.operators.canonicalize import connected_components

    return connected_components(edges)


def test_merge_mapping_equals_full_recompute(spark):
    """merge_mapping over (base mapping, late edges) == full CC over the
    edge union, across every structural case: bridge between two
    components, brand-new chain, fresh node attaching to an old
    component, and an edge wholly inside one component (no-op)."""
    from netbase_spark.operators.canonicalize import (
        connected_components,
        merge_mapping,
    )

    base = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d"), ("f", "e"), ("y", "x")],
        "src string, dst string",
    )
    late = spark.createDataFrame(
        [
            ("c", "d"),   # bridge: {a,b,c} + {d,e,f}
            ("q", "p"),   # brand-new component
            ("z", "y"),   # fresh node onto {x,y}
            ("b", "a"),   # inside-component no-op
        ],
        "src string, dst string",
    )
    mapping = connected_components(base)
    want = {
        (r["node"], r["rep"])
        for r in connected_components(base.unionByName(late)).collect()
    }
    # both arms: the driver union-find and the Spark joins
    for driver_threshold in (200_000, 0):
        got = {
            (r["node"], r["rep"])
            for r in merge_mapping(
                mapping, late, driver_threshold=driver_threshold
            ).collect()
        }
        assert got == want
    # spot-check the semantics: the bridge re-roots d/e/f under "a"
    assert ("d", "a") in got and ("f", "a") in got and ("q", "p") in got
    assert ("z", "x") in got


def test_merge_mapping_distributed_path(spark):
    """Same equality with the delta CC forced onto the distributed
    pointer-jumping path (driver_threshold=0)."""
    from netbase_spark.operators.canonicalize import (
        connected_components,
        merge_mapping,
    )

    base = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(0, 40) if i % 5 != 4],
        "src string, dst string",
    )
    late = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(4, 40, 10)],
        "src string, dst string",
    )
    mapping = connected_components(base, driver_threshold=0)
    got = {
        (r["node"], r["rep"])
        for r in merge_mapping(mapping, late, driver_threshold=0).collect()
    }
    want = {
        (r["node"], r["rep"])
        for r in connected_components(base.unionByName(late)).collect()
    }
    assert got == want


def test_recanonicalize_delta_rewrites_only_touched(spark):
    """A late merge edge re-canonicalizes an existing triple table:
    only rows touching re-rooted nodes are rewritten, a rewrite landing
    on an existing key keeps the existing row (first-writer), and
    untouched rows pass through."""
    from pyspark.sql import functions as F

    from netbase_spark.operators.canonicalize import (
        connected_components,
        mapping_delta,
        merge_mapping,
        recanonicalize_delta,
        rewrite_triples,
    )

    base_edges = spark.createDataFrame(
        [("b", "a")], "src string, dst string"
    )
    raw = spark.createDataFrame(
        [
            ("b", 7, "doc1", "mention", "doc1"),   # b -> a under base map
            ("c", 7, "doc1", "mention", "doc1"),   # untouched until late edge
            ("a", 7, "doc2", "mention", "doc2"),
            ("c", 7, "doc2", "mention", "doc2"),   # rewrite collides with a->doc2
            ("d", 7, "doc3", "mention", "doc3"),   # never touched
        ],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    m0 = connected_components(base_edges)
    table = rewrite_triples(raw, m0)
    late = spark.createDataFrame([("c", "a")], "src string, dst string")
    m1 = merge_mapping(m0, late)
    got = recanonicalize_delta(table, mapping_delta(m0, m1))
    want = rewrite_triples(raw, m1)
    gs = {(r["subj"], r["rel"], r["obj"]) for r in got.collect()}
    ws = {(r["subj"], r["rel"], r["obj"]) for r in want.collect()}
    assert gs == ws
    assert ("a", 7, "doc3") not in gs and ("d", 7, "doc3") in gs
    # the doc2 row kept the FIRST writer's provenance (a's original row)
    row = {
        (r["subj"], r["obj"]): r["doc_id"]
        for r in got.where(F.col("obj") == "doc2").collect()
    }
    assert row[("a", "doc2")] == "doc2"


def test_extend_closure_equals_full_recompute(spark):
    """extend_closure(closure, E) == full closure over the edge union,
    on both the driver and the distributed semi-naive paths, including
    chains that need >= 2 new edges (E C? E segments) and new edges
    landing between existing closure segments."""
    from pyspark.sql import functions as F

    from netbase_spark.operators.query_ops import extend_closure, isa_closure
    from netbase_spark.relations import TYPE

    def t(rows):
        return spark.createDataFrame(
            [(s, TYPE, o) for s, o in rows], "subj string, rel int, obj string"
        )

    base = [("s1", "n1"), ("s2", "n1"), ("n1", "r1"), ("n2", "r2")]
    new = [("r1", "z0"), ("r2", "z0"), ("z0", "top"), ("x9", "s1")]
    closure = isa_closure(t(base))
    e_df = spark.createDataFrame(new, "node string, anc string")
    want = {
        (r["node"], r["anc"])
        for r in isa_closure(t(base + new)).collect()
    }
    for thr in (200_000, 0):
        got = {
            (r["node"], r["anc"])
            for r in extend_closure(closure, e_df, driver_threshold=thr).collect()
        }
        assert got == want, thr
    # the chain s1 -> n1 -> r1 -> z0 -> top needs two E edges (k=2)
    assert ("s1", "top") in want and ("x9", "top") in want

    # a 21-node chain whose longest path needs 16 new edges (every
    # fifth link is in the base closure): the tiers run to the fixpoint
    links = [(f"k{i}", f"k{i + 1}") for i in range(20)]
    base, new = links[::5], [p for i, p in enumerate(links) if i % 5]
    closure = isa_closure(t(base))
    e_df = spark.createDataFrame(new, "node string, anc string")
    for thr in (200_000, 0):
        got = {
            (r["node"], r["anc"])
            for r in extend_closure(closure, e_df, driver_threshold=thr).collect()
        }
        assert len(got) == 21 * 20 // 2 and ("k0", "k20") in got, thr


def test_apply_count_delta_matches_full_recount(spark):
    """apply_count_delta over a remove+add batch == a full recount over
    (all - removed + added); zero-count keys drop out, new keys append,
    untouched keys pass through unshuffled."""
    from pyspark.sql import functions as F

    from netbase_spark.operators.evaluate import apply_count_delta

    node = lambda xs: spark.createDataFrame([(x,) for x in xs], "node string")
    all_rows = ["a", "a", "a", "b", "b", "c", "d"]
    existing = node(all_rows).groupBy("node").agg(
        F.count(F.lit(1)).alias("degree")
    )
    removed = node(["b", "b", "c", "a"])     # b: 2->0 (drops), c: 1->0, a: 3->2
    added = node(["a", "e", "e", "d"])       # a: 2->3, e: new 2, d: 1->2
    got = {
        (r["node"], r["degree"])
        for r in apply_count_delta(
            existing, removed, added, ("node",), "degree"
        ).collect()
    }
    survivors = [x for x in all_rows if x not in ("b", "b", "c")]
    # full recount: remove one b... removed is multiset ["b","b","c","a"]
    import collections

    cnt = collections.Counter(all_rows)
    for x in ["b", "b", "c", "a"]:
        cnt[x] -= 1
    for x in ["a", "e", "e", "d"]:
        cnt[x] += 1
    want = {(k, v) for k, v in cnt.items() if v > 0}
    assert got == want
    assert ("b", 0) not in got and all(n != "b" and n != "c" for n, _ in got)


def test_degree_maintenance_through_recanonicalize(spark):
    """Composition: recanonicalize_delta(return_delta=True) feeds
    apply_count_delta so a materialized degree table follows a merge
    without a full recount — equals node_degrees over the updated
    table."""
    from pyspark.sql import functions as F

    from netbase_spark.operators.canonicalize import (
        connected_components,
        mapping_delta,
        merge_mapping,
        recanonicalize_delta,
        rewrite_triples,
    )
    from netbase_spark.operators.evaluate import apply_count_delta
    from netbase_spark.operators.materialize import node_degrees

    raw = spark.createDataFrame(
        [
            ("b", 7, "d1", "m", "d1"), ("c", 7, "d1", "m", "d1"),
            ("a", 7, "d2", "m", "d2"), ("c", 7, "d2", "m", "d2"),
            ("d", 7, "d3", "m", "d3"), ("c", 8, "a", "m", "d1"),
        ],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    m0 = connected_components(
        spark.createDataFrame([("b", "a")], "src string, dst string")
    )
    table = rewrite_triples(raw, m0)
    degrees = node_degrees(table)
    late = spark.createDataFrame([("c", "a")], "src string, dst string")
    m1 = merge_mapping(m0, late)
    updated, removed, added = recanonicalize_delta(
        table, mapping_delta(m0, m1), return_delta=True
    )
    inc = lambda df: df.select(F.col("subj").alias("node")).unionByName(
        df.select(F.col("obj").alias("node"))
    )
    got = {
        (r["node"], r["degree"])
        for r in apply_count_delta(
            degrees, inc(removed), inc(added), ("node",), "degree"
        ).collect()
    }
    want = {(r["node"], r["degree"]) for r in node_degrees(updated).collect()}
    assert got == want
