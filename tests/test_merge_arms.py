"""The two arms of each small-input maintenance step agree.

Late merges and compactions on a versioned table run in Arrow on the
driver when their input is under ``spark.netbase.broadcastCapBytes``
and on Spark above it; ``merge_mapping`` runs on the driver under its
``driver_threshold``.  These tests force each Spark arm (cap 1,
threshold 0) and compare it with the driver arm on seeded random
inputs, pin the record each run appends to the table's metrics log, and
count the Spark jobs the driver arms leave.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil

import pyarrow as pa
import pytest

from netbase_spark.plans.broadcast_gate import CONF_KEY, local_frame
from netbase_spark.relations import SYNONYM
from test_local_frame import _jobs

TRIPLE_DDL = "subj string, rel int, obj string, rule string, doc_id string"


@contextlib.contextmanager
def cap_bytes(spark, value):
    """Run the block with the broadcast cap conf set to ``value``
    (None: unset, the default cap)."""
    old = spark.conf.get(CONF_KEY, None)
    if value is None:
        spark.conf.unset(CONF_KEY)
    else:
        spark.conf.set(CONF_KEY, str(value))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(CONF_KEY)
        else:
            spark.conf.set(CONF_KEY, old)


def _arrow(rows):
    cols = list(zip(*rows)) if rows else [()] * 5
    types = [pa.string(), pa.int32(), pa.string(), pa.string(), pa.string()]
    return pa.table([pa.array(list(c), t) for c, t in zip(cols, types)],
                    names=["subj", "rel", "obj", "rule", "doc_id"])


def _table_from_files(path, files):
    """A versioned table with one data file per row list, written
    without a Spark job."""
    from netbase_spark.plans import versioned as V

    V.create(_arrow(files[0]), path)
    for rows in files[1:]:
        V.append(_arrow(rows), path)


def _rows(spark, path):
    from netbase_spark.plans import versioned as V

    return [tuple(r) for r in V.read(spark, path).collect()]


def _metrics(path):
    from netbase_spark.plans import versioned as V

    with open(os.path.join(path, V.METRICS_LOG)) as fh:
        return [json.loads(line) for line in fh]


def _random_case(seed):
    """(data files, old map rows, merge edges) over a small node
    universe, so merges collide with rows in kept files; keys are unique
    across the table, as every commit path keeps them."""
    rnd = random.Random(seed)
    nodes = [f"N{i:02d}" for i in range(14)]
    seen, files = set(), []
    for _ in range(rnd.randint(2, 5)):
        rows = []
        for _ in range(rnd.randint(0, 12)):
            s, o = rnd.choice(nodes), rnd.choice(nodes + ["D1", "D2"])
            rel = rnd.choice([7, 7, 8, SYNONYM])
            if (s, rel, o) in seen:
                continue
            seen.add((s, rel, o))
            rows.append((s, rel, o, rnd.choice(["m", "r", None]),
                         rnd.choice(["d0", "d1", None])))
        files.append(rows)
    old_map = [(n, "N00") for n in rnd.sample(nodes[1:4], 2)]
    edges = [tuple(rnd.sample(nodes, 2)) for _ in range(rnd.randint(1, 4))]
    return files, old_map, edges


FIXED_CASES = {
    # the rewritten (N00, 7, D1) is already held by a kept file, and
    # (N00, 8, D2) by an untouched row of the touched file
    "kept_collision": ([[("N01", 7, "D1", "m", "a"), ("N01", 8, "D2", "m", "b"),
                         ("N00", 8, "D2", "x", None)],
                        [("N00", 7, "D1", "x", "c")],
                        [("N05", 7, "D1", "m", None)]],
                       [], [("N01", "N00")]),
    # a touched file whose every row drops (a sameAs rel and a row that
    # becomes a self-loop): the rewrite writes no file
    "empty_result": ([[("N01", SYNONYM, "N05", "m", None),
                       ("N01", 7, "N00", "m", "d")],
                      [("N09", 7, "D1", "m", "d")]],
                     [], [("N01", "N00")]),
    # chained reps: N03 -> N02 -> N01 -> N00 in one merge batch, with a
    # stored self-loop and sameAs row among the untouched rows
    "chain": ([[("N03", 7, "D1", "m", "a"), ("N02", 7, "D1", "m", "b"),
                ("N05", 7, "N05", "m", None), ("N06", SYNONYM, "N07", "m", None)],
               [("N00", 7, "D1", "x", "c"), ("N01", 8, "N03", "m", None)]],
              [("N01", "N00")], [("N03", "N02"), ("N02", "N01")]),
}


@pytest.mark.parametrize(
    "case", ["kept_collision", "empty_result", "chain", 1, 2, 3, 4, 5, 6])
def test_surgical_merge_arms_agree(spark, tmp_path, case):
    """Random tables with merges that collide with kept files, touched
    files holding untouched rows, sameAs-class and self-loop rows among
    the touched ones, chained reps and empty results: both arms leave
    equal key sets, no duplicate key and byte-identical untouched rows."""
    from netbase_spark.plans.synth_pipeline import ConstructionArtifacts
    from netbase_spark.streaming.construct import apply_merges

    files, old_map, edges = FIXED_CASES.get(case) or _random_case(case)
    base = str(tmp_path / "base")
    _table_from_files(base, files)
    before = _rows(spark, base)
    got = {}
    for arm, cap in (("arrow", None), ("spark", 1)):
        path = str(tmp_path / arm)
        shutil.copytree(base, path)
        arts = ConstructionArtifacts(
            local_frame(spark, [], TRIPLE_DDL),
            local_frame(spark, old_map, "node string, rep string"),
            None, None, frozenset(),
        )
        with cap_bytes(spark, cap):
            out = apply_merges(spark, path,
                               local_frame(spark, edges, "src string, dst string"),
                               arts, versioned=True, batch_id="m")
        got[arm] = _rows(spark, path)
        old = dict(old_map)
        changed = {n for n, r in (tuple(x) for x in out.mapping.collect())
                   if old.get(n) != r}
        merges = [r for r in _metrics(path) if r.get("merge")]
        assert [r["path"] for r in merges] == ([arm] if changed else [])
    for arm, rows in got.items():
        keys = [r[:3] for r in rows]
        assert len(keys) == len(set(keys)), arm
    assert {r[:3] for r in got["arrow"]} == {r[:3] for r in got["spark"]}
    untouched = {r for r in before if r[0] not in changed and r[2] not in changed}
    for arm, rows in got.items():
        assert untouched <= set(rows), arm


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_compaction_arms_agree(spark, tmp_path, seed):
    from netbase_spark.plans import versioned as V

    rnd = random.Random(seed)
    files = [[(f"S{rnd.randint(0, 30):02d}", rnd.choice([7, 8]), f"O{j}-{k}",
               rnd.choice(["m", None]), None) for j in range(rnd.randint(1, 30))]
             for k in range(6)]
    base = str(tmp_path / "base")
    _table_from_files(base, files)
    want = sorted(_rows(spark, base))
    for arm, cap in (("arrow", None), ("spark", 1)):
        path = str(tmp_path / arm)
        shutil.copytree(base, path)
        with cap_bytes(spark, cap):
            V.rewrite_data_files(spark, path, cluster_by=["subj"],
                                 min_files=4, batch_id="c")
        assert sorted(_rows(spark, path)) == want, arm
        man = V.read_manifest(path)
        assert len(man["files"]) > 1, arm
        where: dict = {}
        for f in man["files"]:
            t = V.read_arrow(path, [f], man, ["subj"])
            for s in set(t["subj"].to_pylist()):
                where.setdefault(s, []).append(f)
        assert all(len(fs) == 1 for fs in where.values()), arm
        rec = _metrics(path)[-1]
        assert rec["compaction"] and rec["path"] == arm


@pytest.mark.parametrize("seed", [1, 2, 3, 4])
def test_merge_mapping_arms_agree(spark, seed):
    from netbase_spark.operators.canonicalize import (
        connected_components,
        merge_mapping,
    )

    rnd = random.Random(seed)
    nodes = [f"n{i}" for i in range(25)]
    base = [tuple(rnd.sample(nodes, 2)) for _ in range(12)]
    late = [tuple(rnd.sample(nodes, 2)) for _ in range(6)] + [("n3", None)]
    ddl = "src string, dst string"
    mapping = connected_components(local_frame(spark, base, ddl))
    want = {tuple(r) for r in connected_components(
        local_frame(spark, base + late, ddl)).collect()}
    for threshold in (200_000, 0):
        got = merge_mapping(mapping, local_frame(spark, late, ddl),
                            driver_threshold=threshold)
        assert {tuple(r) for r in got.collect()} == want, threshold


def test_merge_records_which_arm_ran(spark, tmp_path):
    """Each merge appends one record naming its arm, files, input bytes,
    cap and secs; no merge record carries ``fresh_rows`` (that key
    marks a micro-batch record)."""
    from netbase_spark.plans import versioned as V
    from netbase_spark.plans.synth_pipeline import ConstructionArtifacts
    from netbase_spark.streaming.construct import apply_merges

    path = str(tmp_path / "t")
    _table_from_files(path, [[("E1", 7, "D1", "m", None)],
                             [("E5", 7, "D5", "m", None)]])
    arts = ConstructionArtifacts(
        local_frame(spark, [], TRIPLE_DDL),
        local_frame(spark, [], "node string, rep string"),
        None, None, frozenset(),
    )
    apply_merges(spark, path, local_frame(spark, [("E1", "E0")], "src string, dst string"),
                 arts, versioned=True, batch_id="m1")
    [rec] = _metrics(path)
    assert set(rec) == {"batch_id", "merge", "path", "candidate_files",
                        "touched_files", "input_bytes", "decoded_bytes",
                        "cap_bytes", "secs"}
    assert rec["batch_id"] == "m1" and rec["path"] == "arrow"
    # the E5 file's recorded bounds exclude E0/E1: one candidate
    assert rec["candidate_files"] == 1 and rec["touched_files"] == 1
    data = os.path.join(path, "data")
    assert rec["input_bytes"] == min(
        os.path.getsize(os.path.join(data, f))
        for f in V.read_manifest(path, 1)["files"])
    # the gate reads the footer: one row at ARROW_ROW_BYTES
    assert rec["decoded_bytes"] == V.ARROW_ROW_BYTES
    assert rec["cap_bytes"] > rec["decoded_bytes"] and rec["secs"] >= 0


def test_spark_arm_caps_the_isin_list(spark, tmp_path, monkeypatch):
    """A rep delta on the driver that is longer than ISIN_NODE_CAP goes
    to the Spark arm as broadcast-marker joins, not as an isin list, and
    gives the same table as the Arrow arm."""
    from netbase_spark.plans.synth_pipeline import ConstructionArtifacts
    from netbase_spark.streaming import construct as C

    files, old_map, edges = FIXED_CASES["chain"]
    base = str(tmp_path / "base")
    _table_from_files(base, files)
    seen = []
    spark_rewrite = C._spark_rewrite

    def spy(*args):
        seen.append(args[5])
        return spark_rewrite(*args)

    monkeypatch.setattr(C, "_spark_rewrite", spy)
    monkeypatch.setattr(C, "ISIN_NODE_CAP", 1)
    got = {}
    for arm, cap in (("arrow", None), ("spark", 1)):
        path = str(tmp_path / arm)
        shutil.copytree(base, path)
        arts = ConstructionArtifacts(
            local_frame(spark, [], TRIPLE_DDL),
            local_frame(spark, old_map, "node string, rep string"),
            None, None, frozenset(),
        )
        with cap_bytes(spark, cap):
            C.apply_merges(spark, path,
                           local_frame(spark, edges, "src string, dst string"),
                           arts, versioned=True, batch_id="m")
        got[arm] = sorted(_rows(spark, path))
    assert seen == [None]  # the marker-join branch
    assert got["arrow"] == got["spark"]


def test_driver_arms_run_no_spark_job(spark, tmp_path):
    """Under the cap, a small compaction and the surgical rewrite run no
    Spark job, and a 3-edge late merge runs at most 8."""
    from netbase_spark.plans import versioned as V
    from netbase_spark.plans.synth_pipeline import ConstructionArtifacts
    from netbase_spark.streaming.construct import (
        _surgical_recanonicalize,
        apply_merges,
    )

    path = str(tmp_path / "t")
    _table_from_files(path, [[(f"E{i}", 7, f"D{i}-{j}", "m", None)
                              for i in range(6) for j in range(3)],
                             [(f"F{i}", 7, "E0", "m", None) for i in range(4)]])
    _, jobs = _jobs(spark, lambda: V.rewrite_data_files(
        spark, path, cluster_by=["subj"], min_files=3))
    assert jobs == 0
    rep_of = {"E1": "E0"}
    changed = local_frame(spark, list(rep_of.items()), "node string, rep string")
    rec, jobs = _jobs(spark, lambda: _surgical_recanonicalize(
        spark, path, changed, "s1", rep_of))
    assert jobs == 0 and rec["path"] == "arrow" and rec["touched_files"] == 1
    arts = ConstructionArtifacts(
        local_frame(spark, [], TRIPLE_DDL),
        local_frame(spark, [], "node string, rep string"),
        None, None, frozenset(),
    )
    late = local_frame(spark, [("E3", "E2"), ("E4", "E2"), ("E5", "F1")],
                       "src string, dst string")
    _, jobs = _jobs(spark, lambda: apply_merges(
        spark, path, late, arts, versioned=True, batch_id="m"))
    assert jobs <= 8
    assert not {r.subj for r in V.read(spark, path).collect()} & {"E1", "E3", "E4", "F1"}
