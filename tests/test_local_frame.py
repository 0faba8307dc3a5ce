"""Driver-built relations stay in the JVM (plans/broadcast_gate.local_frame).

A ``createDataFrame(list)`` frame is a PythonRDD: every job reading it
starts Python workers just to unpickle its rows, and its plan carries no
size statistics.  These tests pin that the engine's driver-built frames
are ``LocalRelation``s, keep their schema when empty, that a bounded
collect is one job, that the connected-components driver path reads
its input once, that a late merge builds no Python RDD, and that no
``createDataFrame`` call outside the helper creeps back into the
package.
"""

from __future__ import annotations

import ast
import pathlib
import uuid

import pytest
from pyspark.sql import functions as F

from netbase_spark.plans.broadcast_gate import collect_limit, local_frame, plan_size_bytes
from netbase_spark.relations import SUPER_CLASS

PKG = pathlib.Path(__file__).resolve().parent.parent / "netbase_spark"
TRIPLE_DDL = "subj string, rel int, obj string, rule string, doc_id string"


def _leaves(df) -> set[str]:
    """Class names of the analyzed plan's leaf nodes."""
    seq = df._jdf.queryExecution().analyzed().collectLeaves()
    return {seq.apply(i).getClass().getSimpleName() for i in range(seq.size())}


def _fields(df) -> list:
    return [(f.name, f.dataType) for f in df.schema.fields]


def test_local_frame_is_a_local_relation_with_its_schema(spark):
    df = local_frame(spark, [("a", 1, None), ("b", None, 2.5)],
                     "k string, n int, x double")
    assert _leaves(df) == {"LocalRelation"}
    assert df.schema.simpleString() == "struct<k:string,n:int,x:double>"
    assert [tuple(r) for r in df.collect()] == [("a", 1, None), ("b", None, 2.5)]
    # exact Catalyst statistics: the size gates pay no job
    assert 0 < plan_size_bytes(df) < 1000
    empty = local_frame(spark, [], "node bigint, rep bigint")
    assert _leaves(empty) == {"LocalRelation"}
    assert empty.schema.simpleString() == "struct<node:bigint,rep:bigint>"
    assert empty.count() == 0


def _jobs(spark, fn):
    """(fn's result, Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"local-frame-test-{uuid.uuid4()}"
    sc.setJobGroup(group, "local frame test")
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_collect_limit_is_one_bounded_job(spark):
    sparse = spark.range(0, 100, 1, 8).where("id % 37 = 5")
    rows, jobs = _jobs(spark, lambda: collect_limit(sparse, 10))
    assert jobs == 1 and sorted(r.id for r in rows) == [5, 42, 79]
    rows, jobs = _jobs(spark, lambda: collect_limit(spark.range(0, 100, 1, 8), 4))
    assert jobs == 1 and len(rows) == 4


def test_cc_driver_path_reads_input_once_into_a_local_relation(spark):
    from netbase_spark.operators.canonicalize import connected_components

    # several partitions, few rows: an incremental take needs 2+ jobs
    edges = spark.range(0, 6, 1, 4).select(
        F.col("id").alias("src"), (F.col("id") % 3).alias("dst")
    )
    mapping, jobs = _jobs(spark, lambda: connected_components(edges))
    assert jobs == 1
    assert _leaves(mapping) == {"LocalRelation"}
    assert mapping.schema.simpleString() == "struct<node:bigint,rep:bigint>"
    assert sorted(tuple(r) for r in mapping.collect()) == [(3, 0), (4, 1), (5, 2)]
    # empty input keeps the non-string id type
    empty = connected_components(edges.where(F.lit(False)))
    assert _leaves(empty) == {"LocalRelation"}
    assert empty.schema.simpleString() == "struct<node:bigint,rep:bigint>"


def test_manual_merge_plan_has_no_python_rdd(spark):
    from netbase_spark.operators.canonicalize import manual_merge

    triples = local_frame(spark, [("b", 1, "x", "r", None)], TRIPLE_DDL)
    pairs = local_frame(spark, [("a", "b")], "target string, node string")
    out = manual_merge(triples, pairs)
    assert _leaves(out) == {"LocalRelation"}
    assert [(r.subj, r.obj) for r in out.collect()] == [("a", "x")]


def test_apply_merges_builds_no_python_rdd(spark, tmp_path, monkeypatch):
    """A late merge on a small versioned table runs no job over a
    library-built PythonRDD: no Python RDD object is created at all
    while it runs (createDataFrame(list), .rdd and parallelize all
    construct one)."""
    from pyspark.rdd import RDD, PipelinedRDD

    from netbase_spark.operators.mentions import Gazetteer
    from netbase_spark.plans import versioned as V
    from netbase_spark.plans.synth_pipeline import ConstructionArtifacts
    from netbase_spark.streaming.construct import apply_merges

    table = str(tmp_path / "t")
    rows = [(f"E{i}", 7, f"D{i}", "m", None) for i in range(6)]
    V.create(local_frame(spark, rows, TRIPLE_DDL), table)
    arts = ConstructionArtifacts(
        local_frame(spark, [], TRIPLE_DDL),
        local_frame(spark, [], "node string, rep string"),
        Gazetteer.broadcast(spark, {}, ()),
    )
    late = local_frame(spark, [("E1", "E0"), ("E3", "E2")], "src string, dst string")

    made: list[str] = []
    for cls in (RDD, PipelinedRDD):
        init = cls.__init__

        def spy(self, *a, _init=init, _name=cls.__name__, **k):
            made.append(_name)
            _init(self, *a, **k)

        monkeypatch.setattr(cls, "__init__", spy)
    out = apply_merges(spark, table, late, arts, batch_id="m1")
    monkeypatch.undo()

    assert made == []
    assert sorted(tuple(r) for r in out.mapping.collect()) == [("E1", "E0"), ("E3", "E2")]
    got = {(r.subj, r.obj) for r in V.read(spark, table).collect()}
    assert got == {("E0", "D0"), ("E0", "D1"), ("E2", "D2"), ("E2", "D3"),
                   ("E4", "D4"), ("E5", "D5")}


def _cc(df):
    from netbase_spark.operators.canonicalize import connected_components

    return connected_components(df)


def _closure(df):
    from netbase_spark.operators.query_ops import isa_closure

    return isa_closure(df)


def _pagerank(df):
    from netbase_spark.operators.materialize import pagerank

    return pagerank(df)


def _pagerank_resume(df):
    from netbase_spark.operators.materialize import pagerank_resume

    prev = local_frame(df.sparkSession, [], "node bigint, pr_e12 long")
    return pagerank_resume(df, prev, iters=1)[0]


def _neardup(df):
    from netbase_spark.operators.dedup import cosine_neardup_pairs

    return cosine_neardup_pairs(df, threshold_e4=0, id_col="id", vec_col="v")


def _lsh(keep_vec):
    def run(df):
        from netbase_spark.operators.dedup import ann_lsh_buckets

        return ann_lsh_buckets(df, 4, id_col="id", vec_col="v", keep_vec=keep_vec)

    return run


def _ivf(df):
    from netbase_spark.operators.dedup import ivf_topk

    return ivf_topk(df, 1, k=2, n_cells=2, nprobe=2, id_col="id", vec_col="v")


def _bucketed(df):
    from netbase_spark.operators.dedup import cosine_neardup_bucketed

    return cosine_neardup_bucketed(df, 0, n_planes=2, id_col="id", vec_col="v")


def _simhash_pairs(df):
    from netbase_spark.operators.dedup import simhash_candidates

    return simhash_candidates(df)


def _minhash_pairs(df):
    from netbase_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(df, bands=2, rows_per_band=2)


def _winnow_pairs(df):
    from netbase_spark.operators.textstats import winnow_overlap_pairs

    return winnow_overlap_pairs(df, min_shared=1)


def _over_cap(df):
    from netbase_spark.operators.dedup import over_cap

    return over_cap(df, ["fp"], 1)


def _scan(cap, triples):
    def run(df):
        from netbase_spark.operators.mentions import Gazetteer

        ae = local_frame(df.sparkSession, [("new york", "Q1"), ("tesla", "Q2")],
                         "alias_key string, entity string")
        return Gazetteer.prepare(ae, set(), cap_bytes=cap).scan(df, triples=triples)

    return run


def _merge_mapping(driver_threshold):
    def run(df):
        from netbase_spark.operators.canonicalize import merge_mapping

        mapping = df.select(F.col("src").alias("node"), F.col("dst").alias("rep"))
        return merge_mapping(mapping, df, driver_threshold=driver_threshold)

    return run


def _mapping_delta(df):
    from netbase_spark.operators.canonicalize import mapping_delta

    return mapping_delta(df.where(F.lit(False)), df)


def _as_map(triples):
    return triples.select(F.col("subj").alias("node"), F.col("obj").alias("rep"))


def _rewrite_triples(df):
    from netbase_spark.operators.canonicalize import rewrite_triples

    return rewrite_triples(df, _as_map(df))


def _recanonicalize_delta(df):
    from netbase_spark.operators.canonicalize import recanonicalize_delta

    return recanonicalize_delta(df, _as_map(df))


def _fresh_triples(df):
    from netbase_spark.operators.evaluate import fresh_triples

    return fresh_triples(df.where(F.lit(False)), df)


_EDGES = ([(1, 2), (2, 3), (3, 1)], "src bigint, dst bigint")
_PAIRS = ([("b", "a"), ("c", "b")], "src string, dst string")
_MAP = ([("b", "a")], "node string, rep string")
_TRIPLES = ([("b", 7, "x", "r", "d1"), ("a", 7, "b", "r", "d2")], TRIPLE_DDL)
_VECS = ([(1, [1.0, 0.0]), (2, [0.9, 0.1])], "id int, v array<double>")
_SIGS = ([(1, 5, 7), (2, 5, 7)], "doc_id bigint, simhash_hi bigint, simhash_lo bigint")
_MINSIGS = ([(1, 1, 2, 3, 4), (2, 1, 2, 3, 4)],
            "doc_id bigint, s0 bigint, s1 bigint, s2 bigint, s3 bigint")
_FPS = ([(1, 10), (2, 10), (1, 11), (2, 11)], "doc_id bigint, fp bigint")
_TAXO = ([("a", SUPER_CLASS, "b"), ("b", SUPER_CLASS, "c")],
         "subj string, rel int, obj string")
_TEXTS = ([("d1", "New York and Tesla"), ("d2", "a tesla")],
          "doc_id string, text string")


@pytest.mark.parametrize("op, data", [
    (_cc, _EDGES),
    (_closure, _TAXO),
    (_pagerank, _EDGES),
    (_pagerank_resume, _EDGES),
    (_neardup, _VECS),
    (_lsh(False), _VECS),
    (_lsh(True), _VECS),
    (_merge_mapping(200_000), _PAIRS),
    (_merge_mapping(0), _PAIRS),
    (_mapping_delta, _MAP),
    (_rewrite_triples, _TRIPLES),
    (_recanonicalize_delta, _TRIPLES),
    (_fresh_triples, _TRIPLES),
    (_ivf, _VECS),
    (_simhash_pairs, _SIGS),
    (_minhash_pairs, _MINSIGS),
    (_winnow_pairs, _FPS),
    (_bucketed, _VECS),
    (_over_cap, _FPS),
    (_scan(None, False), _TEXTS),
    (_scan(1, False), _TEXTS),
    (_scan(None, True), _TEXTS),
    (_scan(1, True), _TEXTS),
], ids=["cc", "isa_closure", "pagerank", "pagerank_resume",
        "cosine_neardup_pairs", "ann_lsh_buckets", "ann_lsh_buckets_keep_vec",
        "merge_mapping_driver", "merge_mapping_spark", "mapping_delta",
        "rewrite_triples", "recanonicalize_delta", "fresh_triples",
        "ivf_topk", "simhash_candidates", "minhash_lsh_pairs",
        "winnow_overlap_pairs", "cosine_neardup_bucketed", "over_cap",
        "mentions_broadcast", "mentions_shuffle", "mention_triples_broadcast",
        "mention_triples_shuffle"])
def test_empty_input_matches_nonempty_schema(spark, op, data):
    rows, ddl = data
    full = op(local_frame(spark, rows, ddl))
    empty = op(local_frame(spark, [], ddl))
    assert _fields(empty) == _fields(full)
    assert empty.count() == 0


def test_create_dataframe_only_inside_local_frame():
    """Static guard: every driver-built relation in the package goes
    through ``local_frame``; a bare ``createDataFrame`` call would bring
    back a PythonRDD-backed, statistics-free dimension frame."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed: set[int] = set()
        if path.name == "broadcast_gate.py":
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame":
                    allowed |= {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert offenders == [], offenders
