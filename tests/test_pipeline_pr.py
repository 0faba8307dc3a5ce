"""End-to-end: Spark pipeline triple set vs the reference-rule oracle.

This is the P/R >= 0.95 gate from BASELINE.md, plus the per-row
span-sequence invariant from input_hint and checkpoint-resume behavior.
"""

import pytest

from netbase_spark.data.fixtures import (
    blacklist_fixture,
    labels_fixture,
    raw_synonym_edges,
    synonym_pairs,
)
from netbase_spark.data.synth import docs_df, docs_local
from netbase_spark.oracle.rules import oracle_triples
from netbase_spark.plans.pipeline import Pipeline
from netbase_spark.schemas import LABELS_SCHEMA

N_DOCS = 120


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kg_out"))
    labels = labels_fixture()
    labels_df = spark.createDataFrame(
        [(r["key"], r["label"], r["label_type"], r["lang"]) for r in labels],
        LABELS_SCHEMA,
    )
    syn_df = spark.createDataFrame(
        [(s, r, o, "raw", None) for s, r, o in raw_synonym_edges()],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    docs = docs_df(spark, N_DOCS, seed=42, partitions=8)
    pipe = Pipeline(spark, out, resume=True)
    triples = pipe.run(docs, labels_df, blacklist_fixture(), raw_triples=syn_df)
    got = {(r.subj, r.rel, r.obj) for r in triples.collect()}
    expected = oracle_triples(
        labels, docs_local(N_DOCS, seed=42), blacklist_fixture(), synonym_pairs()
    )
    return out, got, expected, pipe


def test_precision_recall(built):
    _, got, expected, _ = built
    assert got, "pipeline emitted no triples"
    tp = len(got & expected)
    precision = tp / len(got)
    recall = tp / len(expected)
    print(f"P={precision:.4f} R={recall:.4f} got={len(got)} expected={len(expected)}")
    if precision < 1.0:
        print("false positives sample:", sorted(got - expected)[:10])
    if recall < 1.0:
        print("false negatives sample:", sorted(expected - got)[:10])
    assert precision >= 0.95
    assert recall >= 0.95


def test_span_sequence_invariant(spark):
    """input_hint per-row invariant: the distributed corpus preserves
    (kind, text, media_ref, order) exactly vs the pure-python generator."""
    rows = {r.doc_id: r.spans for r in docs_df(spark, 40, seed=7).collect()}
    local = docs_local(40, seed=7)
    assert len(rows) == 40
    for d in local:
        got = [(s.kind, s.text, s.media_ref, s.offset) for s in rows[d["doc_id"]]]
        want = [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]
        ]
        assert got == want, f"span sequence mismatch in doc {d['doc_id']}"


def test_resume_skips_stages(spark, built):
    out, got, _, _ = built
    labels = labels_fixture()
    labels_df = spark.createDataFrame(
        [(r["key"], r["label"], r["label_type"], r["lang"]) for r in labels],
        LABELS_SCHEMA,
    )
    syn_df = spark.createDataFrame(
        [(s, r, o, "raw", None) for s, r, o in raw_synonym_edges()],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    docs = docs_df(spark, N_DOCS, seed=42)
    pipe2 = Pipeline(spark, out, resume=True)
    triples2 = pipe2.run(docs, labels_df, blacklist_fixture(), raw_triples=syn_df)
    assert all(m["resumed"] for m in pipe2.metrics), pipe2.metrics
    got2 = {(r.subj, r.rel, r.obj) for r in triples2.collect()}
    assert got2 == got
    # the benchmark reads per-stage layers by these names: a merged or
    # renamed stage must fail here, not silently lower its coverage
    names = _perfbench_stage_names()
    assert len(names) == 7
    assert [m["stage"] for m in pipe2.metrics] == names
    assert [m["stage"] for m in built[3].metrics] == names
    # both runs are in the one construction log: the second all resumed,
    # with the first's rows per stage
    import json
    import os

    from netbase_spark.plans.table_io import METRICS_LOG

    with open(os.path.join(out, METRICS_LOG)) as fh:
        recs = [json.loads(line) for line in fh]
    runs = {}
    for r in recs:
        runs.setdefault(r["run"], []).append(r)
    assert len(runs) == 2
    first, second = runs.values()
    assert [r["stage"] for r in first] == [r["stage"] for r in second] == names
    assert all(r["resumed"] for r in second)
    assert [r["rows"] for r in second] == [r["rows"] for r in first]
    assert all(r["rows"] == sum(n for _, n in r["partitions"]) for r in recs)


def _perfbench_stage_names() -> list[str]:
    """The stage names perfbench/layers.construct_layers reads, parsed
    from its source (the module imports perfbench-local modules)."""
    import ast
    import pathlib

    src = pathlib.Path(__file__).resolve().parents[1] / "perfbench" / "layers.py"
    fn = next(
        n for n in ast.walk(ast.parse(src.read_text()))
        if isinstance(n, ast.FunctionDef) and n.name == "construct_layers"
    )
    return next(
        [e.value for e in n.elts] for n in ast.walk(fn)
        if isinstance(n, ast.Tuple) and n.elts
        and all(isinstance(e, ast.Constant) and isinstance(e.value, str)
                for e in n.elts)
    )


@pytest.mark.parametrize("cap_bytes", [None, 1])
def test_pipeline_and_construct_from_agree(spark, tmp_path, cap_bytes):
    """The staged Pipeline and construct_from(build_artifacts(...)) are
    one construction: same labels, raw triples, blacklist and docs give
    the same key set on both gate paths.  "Kiel" collides with its own
    SEO slug and its label_type sorts after "seo"; it must stay a scan
    surface form on both paths."""
    from netbase_spark.plans.broadcast_gate import CONF_KEY
    from netbase_spark.plans.synth_pipeline import build_artifacts, construct_from
    from netbase_spark.relations import MENTIONED_IN, SYNONYM
    from netbase_spark.schemas import DOCS_SCHEMA

    labels = spark.createDataFrame(
        [
            ("S1", "Kiel", "supplier", "en"),
            ("R1", "Oslo", "region", "en"),
            ("S2", "New York", "supplier", "en"),
            ("S3", "Big Apple", "supplier", "en"),
            ("R2", "Bergen", "region", "en"),
        ],
        LABELS_SCHEMA,
    )
    raw = spark.createDataFrame(
        [("S3", SYNONYM, "S2", "raw", None)],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    blacklist = {"bergen"}
    texts = [
        "ships leave Kiel for Oslo",
        "New York is the Big Apple",
        "Bergen and Kiel",
    ]
    docs = spark.createDataFrame(
        [(f"d{i}", [("text", t, None, 0)]) for i, t in enumerate(texts)],
        DOCS_SCHEMA,
    )
    keyset = lambda df: {(r.subj, r.rel, r.obj) for r in df.collect()}  # noqa: E731

    if cap_bytes is not None:
        spark.conf.set(CONF_KEY, str(cap_bytes))
    try:
        staged = keyset(
            Pipeline(spark, str(tmp_path / "kg"), resume=False).run(
                docs, labels, blacklist, raw_triples=raw
            )
        )
    finally:
        spark.conf.unset(CONF_KEY)
    arts = build_artifacts(
        spark, labels_df=labels, cap_bytes=cap_bytes, raw_triples=raw,
        blacklist=blacklist,
    )
    assert (arts.scan_bc is None) == (cap_bytes == 1)
    fused = keyset(construct_from(spark, docs, arts))
    assert staged == fused
    mentions = {(s, o) for s, r, o in fused if r == MENTIONED_IN}
    assert {("S1", "d0"), ("R1", "d0"), ("S1", "d2")} <= mentions
    assert ("S2", "d1") in mentions or ("S3", "d1") in mentions
    assert not any(s == "R2" for s, _ in mentions)  # blacklisted


def test_canonicalization_merged(built):
    _, got, _, _ = built
    merged_away = {k for pair in synonym_pairs() for k in pair} - {
        min(k for pair in synonym_pairs() for k in pair)
    }
    # the lexicographically-max synonym key must not survive as subj
    hi = max(k for pair in synonym_pairs() for k in pair)
    assert not any(s == hi for s, _, _ in got)
    del merged_away


def test_scan_closure_stays_small_at_100k_aliases(spark):
    """The gazetteer must ride sc.broadcast (one block-manager transfer
    per executor), NOT the task closure: at 10^7-10^8 aliases a
    closure-shipped map re-serializes gigabytes per task.  Pin it by
    measuring the pickled size of the scan closure itself with a
    100k-alias gazetteer — broadcast handles pickle to ~KB."""
    import itertools

    from pyspark.serializers import CloudPickleSerializer

    from netbase_spark.operators.mentions import (
        Gazetteer,
        _resolve,
        _trie_scan,
        detect_mentions_text,
    )

    words = [
        f"{a}{b}{c}"
        for a, b, c in itertools.product("abcdefghij", repeat=3)
    ]  # 1000 tokens
    aliases = {
        f"{w1} {w2}": f"Q{i}"
        for i, (w1, w2) in enumerate(itertools.islice(
            itertools.product(words, words), 100_000
        ))
    }
    assert len(aliases) == 100_000
    gaz = Gazetteer.broadcast(spark, aliases, {"the"})
    ser = CloudPickleSerializer()
    for fn in (
        _trie_scan(gaz.bc, False, False, False),
        _trie_scan(gaz.bc, False, True, False),
        _resolve(gaz.blacklist, False, True, False),
    ):
        size = len(ser.dumps(fn))
        assert size < 100_000, f"scan closure serialized to {size} bytes"
    # and the scan still finds mentions against the big gazetteer
    texts = spark.createDataFrame(
        [("0", "prefix aaa aab words trail"), ("1", "no hits here")],
        "doc_id string, text string",
    )
    got = {
        (r.doc_id, r.alias_key)
        for r in detect_mentions_text(
            texts, list(aliases), {"the"}
        ).collect()
    }
    assert got == {("0", "aaa aab")}


def test_construct_fused_matches_oracle(spark):
    """The fused single-pass construction (scan with precomposed
    alias->canonical-entity map, shuffle-free doc side) must emit exactly
    the oracle triple set — same gate as the staged Pipeline."""
    from netbase_spark.plans.synth_pipeline import construct

    n = 300
    out = construct(spark, n, seed=42, partitions=8)
    got = {(r.subj, r.rel, r.obj) for r in out.collect()}
    expected = oracle_triples(
        labels_fixture(), docs_local(n, seed=42), blacklist_fixture(),
        synonym_pairs(),
    )
    assert got == expected


def test_construct_artifacts_reuse_and_overflow(spark):
    """Prebuilt ConstructionArtifacts reused across two doc batches emit
    exactly the inline construct_from triples — on BOTH gate paths (the
    broadcast-dict fast path and the forced-overflow shuffle join).
    This pins the batch-loop API: the dimension side is built once, the
    per-batch scan never rebuilds or re-broadcasts the gazetteer."""
    from netbase_spark.data.synth import docs_df
    from netbase_spark.plans.synth_pipeline import (
        build_artifacts,
        construct_from,
    )

    docs_a = docs_df(spark, 120, seed=42, partitions=4)
    docs_b = docs_df(spark, 80, seed=9, partitions=4)

    def tset(df):
        return sorted(map(tuple, df.collect()))

    inline_a = tset(construct_from(spark, docs_a))
    inline_b = tset(construct_from(spark, docs_b))

    arts = build_artifacts(spark)
    assert arts.scan_bc is not None and arts.gazetteer.table is None
    assert tset(construct_from(spark, docs_a, arts)) == inline_a
    assert tset(construct_from(spark, docs_b, arts)) == inline_b

    arts_small = build_artifacts(spark, cap_bytes=1)
    assert arts_small.scan_bc is None and arts_small.gazetteer.table is not None
    assert tset(construct_from(spark, docs_a, arts_small)) == inline_a
    assert tset(construct_from(spark, docs_b, arts_small)) == inline_b
