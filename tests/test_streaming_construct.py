"""Full-construction streaming loop (streaming/construct.py): docs land
as files, micro-batches append fresh canonical triples against prebuilt
artifacts, checkpoint restart resumes, and the final table equals a
full batch rebuild on the key set."""

from __future__ import annotations

import pathlib

import pytest

from pyspark.sql import functions as F
from test_merge_arms import cap_bytes

from netbase_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="test_streaming_construct", cpus=4,
                  shuffle_partitions=4, driver_memory="4g")
    yield s


def _land(spark, tmp, n_docs, start=0):
    from netbase_spark.data.synth import docs_df

    docs = docs_df(spark, n_docs + start, seed=17).where(
        F.col("doc_id").cast("long") >= start
    )
    docs.write.mode("append").parquet(str(tmp / "landing"))


def test_streaming_construct_versioned_sink(spark, tmp_path: pathlib.Path):
    """Each micro-batch commits a manifest version; across a checkpoint
    restart the final state equals a full rebuild with no duplicate
    key, intermediate versions stay time-travel readable, and the
    per-batch metrics and lineage reconcile with the table."""
    import json

    from netbase_spark.plans import versioned as V
    from netbase_spark.plans.synth_pipeline import build_artifacts, construct_from
    from netbase_spark.streaming.construct import start_incremental_construct

    arts = build_artifacts(spark)
    table = tmp_path / "vtriples"
    ckpt = tmp_path / "vckpt"

    # drain 1: 40 docs
    _land(spark, tmp_path, 40)
    q = start_incremental_construct(
        spark, str(tmp_path / "landing"), str(table), str(ckpt), arts,
        available_now=True, max_files_per_trigger=2,
    )
    q.awaitTermination(180)
    v_mid = V.current_version(str(table))
    assert v_mid >= 1

    # drain 2 (checkpoint restart): 25 more docs
    _land(spark, tmp_path, 25, start=40)
    q2 = start_incremental_construct(
        spark, str(tmp_path / "landing"), str(table), str(ckpt), arts,
        available_now=True, max_files_per_trigger=2,
    )
    q2.awaitTermination(180)
    assert V.current_version(str(table)) > v_mid

    streamed = V.read(spark, str(table))
    full = construct_from(
        spark, spark.read.parquet(str(tmp_path / "landing")), arts
    )
    keyset = lambda df: {(r.subj, r.rel, r.obj) for r in df.collect()}
    assert keyset(streamed) == keyset(full)
    # no key duplicates despite multi-batch appends + the label seed
    assert (
        streamed.count()
        == streamed.dropDuplicates(["subj", "rel", "obj"]).count()
    )
    # time travel: the mid-stream version is a strict subset of final
    mid = V.read(spark, str(table), v_mid)
    assert keyset(mid) < keyset(streamed)
    # per-batch metrics + per-file lineage were recorded, and the
    # lineage row counts reconcile with the appended table
    with open(table / "_construct_metrics.jsonl") as fh:
        recs = [json.loads(l) for l in fh]
    assert len(recs) >= 2  # multiple micro-batches ran
    assert all(r["fresh_rows"] == sum(n for _, n in r["partitions"]) for r in recs)
    label_rows = arts.label_triples.count()
    assert label_rows + sum(r["fresh_rows"] for r in recs) == streamed.count()


def test_late_merge_recanonicalizes_prior_batches(spark, tmp_path: pathlib.Path):
    """A late merge edge arriving BETWEEN micro-batches (the console
    ``:merge`` analog, apply_merges) re-canonicalizes prior batches'
    triples on disk AND re-routes future batches' linking — the end
    state equals constructing everything with the old artifacts and
    applying the full-map rewrite once at the end (full-recompute
    oracle; merge_mapping itself is oracle-checked by cc_incremental)."""
    from netbase_spark.operators.canonicalize import (
        mapping_delta,
        merge_mapping,
        rewrite_triples,
    )
    from netbase_spark.plans import versioned as V
    from netbase_spark.plans.synth_pipeline import build_artifacts, construct_from
    from netbase_spark.streaming.construct import (
        apply_merges,
        start_incremental_construct,
    )

    arts = build_artifacts(spark)
    arts_ref = build_artifacts(spark)  # untouched twin for the oracle
    table = tmp_path / "mtriples"
    ckpt = tmp_path / "mckpt"

    _land(spark, tmp_path, 40)
    q = start_incremental_construct(
        spark, str(tmp_path / "landing"), str(table), str(ckpt), arts,
        available_now=True, max_files_per_trigger=2,
    )
    q.awaitTermination(180)

    # pick two distinct mention subjects present in the table and merge
    from netbase_spark.relations import MENTIONED_IN

    subs = sorted(
        r["subj"]
        for r in V.read(spark, str(table))
        .where(F.col("rel") == MENTIONED_IN)
        .select("subj")
        .distinct()
        .limit(3)
        .collect()
    )
    assert len(subs) >= 2
    late = spark.createDataFrame([(subs[1], subs[0])], "src string, dst string")
    # the same merge on a copy of the table through the Spark arm
    import shutil

    shutil.copytree(table, tmp_path / "mtriples-spark")
    with cap_bytes(spark, 1):
        apply_merges(spark, str(tmp_path / "mtriples-spark"), late,
                     build_artifacts(spark),
                     batch_id="late-merge-1")
    arts2 = apply_merges(
        spark, str(table), late, arts, batch_id="late-merge-1"
    )
    # prior batches' rows were rewritten on disk
    assert (
        V.read(spark, str(table)).where(F.col("subj") == subs[1]).count() == 0
    )
    keyset = lambda df: {(r.subj, r.rel, r.obj) for r in df.collect()}
    assert keyset(V.read(spark, str(table))) == keyset(
        V.read(spark, str(tmp_path / "mtriples-spark")))

    # future batches link against the refreshed artifacts
    _land(spark, tmp_path, 25, start=40)
    q2 = start_incremental_construct(
        spark, str(tmp_path / "landing"), str(table), str(ckpt), arts2,
        available_now=True, max_files_per_trigger=2,
    )
    q2.awaitTermination(180)

    # oracle: construct everything with OLD artifacts, then one full
    # rewrite through the updated map
    full = construct_from(
        spark, spark.read.parquet(str(tmp_path / "landing")), arts_ref
    )
    changed = mapping_delta(
        arts_ref.mapping, merge_mapping(arts_ref.mapping, late)
    )
    expected = rewrite_triples(full, changed)
    got = V.read(spark, str(table))
    assert keyset(got) == keyset(expected)
    # replay idempotence of the merge commit itself
    v_now = V.current_version(str(table))
    apply_merges(
        spark, str(table), late, arts2, batch_id="late-merge-1"
    )
    assert V.current_version(str(table)) == v_now


def test_apply_merges_noop_and_cap_arms(spark, tmp_path: pathlib.Path):
    """apply_merges on a constructed table: a no-op merge returns the
    artifacts unchanged, and a real one rewrites touched rows under the
    default cap and under a 1-byte cap alike."""
    from netbase_spark.operators.canonicalize import (
        mapping_delta,
        merge_mapping,
        rewrite_triples,
    )
    from netbase_spark.plans import versioned as V
    from netbase_spark.plans.synth_pipeline import build_artifacts, construct_from
    from netbase_spark.data.synth import docs_df
    from netbase_spark.streaming.construct import apply_merges

    arts = build_artifacts(spark)
    arts_ref = build_artifacts(spark)
    table = str(tmp_path / "triples")
    docs = docs_df(spark, 30, seed=11, partitions=2)
    V.create(construct_from(spark, docs, arts), table)

    from netbase_spark.relations import MENTIONED_IN

    subs = sorted(
        r["subj"]
        for r in V.read(spark, table)
        .where(F.col("rel") == MENTIONED_IN)
        .select("subj").distinct().limit(2).collect()
    )
    assert len(subs) == 2
    # no-op merge: self-edge -> artifacts returned untouched
    noop = spark.createDataFrame([(subs[0], subs[0])], "src string, dst string")
    assert apply_merges(spark, table, noop, arts) is arts

    late = spark.createDataFrame([(subs[1], subs[0])], "src string, dst string")
    expected = rewrite_triples(
        construct_from(spark, docs, arts_ref),
        mapping_delta(arts_ref.mapping, merge_mapping(arts_ref.mapping, late)),
    )
    keyset = lambda df: {(r.subj, r.rel, r.obj) for r in df.collect()}
    # under the default cap and under a 1-byte cap (every size gate
    # takes its Spark side), each on its own copy of the table
    import shutil

    shutil.copytree(table, table + "-cap1")
    for t, a, cap in ((table, arts, None),
                      (table + "-cap1", build_artifacts(spark), 1)):
        with cap_bytes(spark, cap):
            apply_merges(spark, t, late, a, batch_id="m1")
        got = V.read(spark, t)
        assert got.where(F.col("subj") == subs[1]).count() == 0
        assert keyset(got) == keyset(expected)


def test_plain_mode_raises_before_touching_disk(spark, tmp_path: pathlib.Path):
    """The construction table is always versioned: ``versioned=False``
    raises ValueError before the table, checkpoint or artifacts are
    touched."""
    from netbase_spark.plans.broadcast_gate import local_frame
    from netbase_spark.streaming.construct import (
        apply_merges,
        start_incremental_construct,
    )

    table = tmp_path / "triples"
    with pytest.raises(ValueError, match="versioned"):
        start_incremental_construct(
            spark, str(tmp_path / "landing"), str(table),
            str(tmp_path / "ckpt"), None, versioned=False,
        )
    late = local_frame(spark, [("E1", "E0")], "src string, dst string")
    with pytest.raises(ValueError, match="versioned"):
        apply_merges(spark, str(table), late, None, versioned=False)
    assert not table.exists() and not (tmp_path / "ckpt").exists()


def test_surgical_recanonicalize_rewrites_only_touched_files(
    spark, tmp_path: pathlib.Path
):
    """The versioned merge path rewrites only the data FILES containing
    touched rows: untouched files carry into the new manifest by name,
    and the end state equals a full rewrite through the delta map."""
    from netbase_spark.operators.canonicalize import (
        mapping_delta,
        merge_mapping,
        rewrite_triples,
    )
    from netbase_spark.operators.mentions import Gazetteer
    from netbase_spark.plans import versioned as V
    from netbase_spark.plans.synth_pipeline import ConstructionArtifacts
    from netbase_spark.streaming.construct import apply_merges

    table = str(tmp_path / "surgical")
    rows = [
        (f"E{i}", 7, f"D{j}", "m", f"D{j}")
        for i in range(40)
        for j in range(i * 5, i * 5 + 5)
    ]
    df = spark.createDataFrame(
        rows, "subj string, rel int, obj string, rule string, doc_id string"
    ).repartition(8, "subj")  # each subject lives in exactly one file
    V.create(df, table)
    files_before = set(V.read_manifest(table)["files"])
    assert len(files_before) >= 4

    late = spark.createDataFrame(
        [("E1", "E0"), ("E3", "E2")], "src string, dst string"
    )
    empty_map = spark.createDataFrame([], "node string, rep string")
    arts = ConstructionArtifacts(
        spark.createDataFrame(
            [], "subj string, rel int, obj string, rule string, doc_id string"
        ),
        empty_map, Gazetteer.broadcast(spark, {}, ()),
    )
    import shutil

    m1 = merge_mapping(empty_map, late)
    want = rewrite_triples(df, mapping_delta(empty_map, m1))
    keyset = lambda d: {(r.subj, r.rel, r.obj) for r in d.collect()}
    # both arms: Arrow on the driver under the cap, Spark above it
    shutil.copytree(table, table + "-spark")
    for t, cap in ((table, None), (table + "-spark", 1)):
        with cap_bytes(spark, cap):
            apply_merges(spark, t, late, arts, batch_id="s1")
        files_after = set(V.read_manifest(t)["files"])
        carried = files_before & files_after
        assert carried, "surgical replace must carry untouched files by name"
        assert files_after != files_before  # touched files were replaced
        assert keyset(V.read(spark, t)) == keyset(want)


def test_surgical_path_keeps_untouched_sameas_and_self_loops(
    spark, tmp_path: pathlib.Path
):
    """ADVICE r4: the surgical (versioned) merge path must NOT push
    untouched rows of touched files through rewrite_triples — rows with
    a sameAs-class rel or a self-loop that the delta did not touch
    survive verbatim, exactly as recanonicalize_delta keeps them.  Pins
    the surgical end state == recanonicalize_delta's on such a table."""
    from netbase_spark.operators.canonicalize import (
        mapping_delta,
        merge_mapping,
        recanonicalize_delta,
    )
    from netbase_spark.operators.mentions import Gazetteer
    from netbase_spark.plans import versioned as V
    from netbase_spark.plans.synth_pipeline import ConstructionArtifacts
    from netbase_spark.relations import SYNONYM
    from netbase_spark.streaming.construct import apply_merges

    rows = [
        # untouched rows that rewrite_triples would DROP if they were
        # (wrongly) pushed through it: a sameAs-class rel and a self-loop
        ("K1", SYNONYM, "K2", "m", "d0"),
        ("K3", 7, "K3", "m", "d0"),
        # the touched component
        ("E1", 7, "X", "m", "d1"),
        ("E0", 7, "Y", "m", "d1"),
        # plain untouched rows
        ("Z1", 7, "Z2", "m", "d2"),
    ]
    schema = "subj string, rel int, obj string, rule string, doc_id string"
    # ONE file: every row shares the file with the touched component,
    # the adversarial case for the file-level split
    df = spark.createDataFrame(rows, schema).coalesce(1)

    late = spark.createDataFrame([("E1", "E0")], "src string, dst string")
    empty_map = spark.createDataFrame([], "node string, rep string")

    tv = str(tmp_path / "versioned")
    V.create(df, tv)
    arts_v = ConstructionArtifacts(
        spark.createDataFrame([], schema), empty_map,
        Gazetteer.broadcast(spark, {}, ()),
    )
    apply_merges(spark, tv, late, arts_v, batch_id="adv1")

    want = recanonicalize_delta(
        df, mapping_delta(empty_map, merge_mapping(empty_map, late)))
    keyset = lambda d: {(r.subj, r.rel, r.obj) for r in d.collect()}
    got_v = keyset(V.read(spark, tv))
    assert got_v == keyset(want)
    # the untouched sameAs row and self-loop survived
    assert ("K1", SYNONYM, "K2") in got_v
    assert ("K3", 7, "K3") in got_v
    # and the merge actually happened
    assert ("E0", 7, "X") in got_v and ("E1", 7, "X") not in got_v


def test_streaming_auto_compaction_bounds_layout(spark, tmp_path: pathlib.Path):
    """compact_every: the stream runs rewrite_data_files after every Nth
    micro-batch — the final key set still equals a full rebuild, the
    compaction is recorded in the metrics log, the live file count stays
    bounded instead of growing one batch-file-set per micro-batch, and
    expiry keeps the files on disk to the versions still kept."""
    import json

    from netbase_spark.plans import versioned as V
    from netbase_spark.plans.synth_pipeline import build_artifacts, construct_from
    from netbase_spark.streaming.construct import start_incremental_construct

    arts = build_artifacts(spark)
    table = tmp_path / "vtable"
    ckpt = tmp_path / "ckpt"

    # land 8 single-file doc chunks -> 8 micro-batches at
    # maxFilesPerTrigger=1, so the every-3rd-batch compaction fires
    from pyspark.sql import functions as F

    from netbase_spark.data.synth import docs_df

    all_docs = docs_df(spark, 48, seed=17)
    for i in range(8):
        all_docs.where(
            F.col("doc_id").cast("long") % 8 == i
        ).coalesce(1).write.mode("append").parquet(str(tmp_path / "landing"))
    q = start_incremental_construct(
        spark, str(tmp_path / "landing"), str(table), str(ckpt), arts,
        available_now=True, max_files_per_trigger=1,
        compact_every=3,
    )
    q.awaitTermination(240)

    with open(table / "_construct_metrics.jsonl") as fh:
        recs = [json.loads(l) for l in fh]
    appends = [r for r in recs if not r.get("compaction")]
    compactions = [r for r in recs if r.get("compaction")]
    assert len(appends) >= 6 and compactions
    # compaction bin-packs: file count after <= before, and the CURRENT
    # layout holds fewer files than one-file-set-per-batch growth
    assert all(c["files_after"] <= c["files_before"] for c in compactions)
    n_files = len(V.read_manifest(str(table))["files"])
    assert n_files < sum(len(r["partitions"]) for r in appends) + 1
    # expiry after each compaction: the disk holds the files of the two
    # versions the last compaction kept (it and its parent) plus those
    # of the appends since, and no older version's
    from netbase_spark.streaming.construct import KEEP_VERSIONS

    last = max(int(c["batch_id"].split("-")[1]) for c in compactions)
    later = [r for r in appends if r["batch_id"] > last]
    versions = sorted(
        int(f.name[1:9]) for f in (table / "_versions").glob("v*.json"))
    assert len(versions) == KEEP_VERSIONS + len(later)
    kept = set()
    for v in versions[:KEEP_VERSIONS]:
        kept |= set(V.read_manifest(str(table), v)["files"])
    on_disk = set(f.name for f in (table / "data").iterdir())
    assert len(on_disk) <= len(kept) + sum(len(r["partitions"]) for r in later)

    # correctness unchanged: equality with a full batch rebuild
    streamed = V.read(spark, str(table))
    full = construct_from(
        spark, spark.read.parquet(str(tmp_path / "landing")), arts
    )
    keyset = lambda df: {(r.subj, r.rel, r.obj) for r in df.collect()}
    assert keyset(streamed) == keyset(full)
