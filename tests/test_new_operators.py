"""Unit tests for the round-2 operators: mutation path, XML import,
wordnet remap, SEO conflict index, mergeAll, facets, property
questions, reification, instance counting, semantic pattern match."""

from __future__ import annotations

from pyspark.sql import functions as F

from netbase_spark.relations import (
    INSTANCE,
    MEMBER,
    PART,
    SUPER_CLASS,
    SYNONYM,
    TYPE,
)


def _tri(spark, rows):
    return spark.createDataFrame(rows, "subj string, rel int, obj string")


def test_rel_id_python_column_equivalence(spark):
    from netbase_spark.operators.mutate import rel_id_col, rel_id_for

    names = ["loves", "P31", "subClassOf", "owns_a_dog", "see also", "x"]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {
        r["name"]: r["rid"]
        for r in df.select("name", rel_id_col(F.col("name")).alias("rid")).collect()
    }
    for n in names:
        assert got[n] == rel_id_for(n), n
    assert rel_id_for("P31") == TYPE  # canonical registry hit
    assert rel_id_for("loves") >= 0  # hash fallback positive


def test_set_value_and_update(spark):
    from netbase_spark.operators.mutate import (
        rel_id_for,
        set_value,
        update_statements,
    )

    pop = rel_id_for("population")
    base = spark.createDataFrame(
        [("berlin", pop, "100", "raw", None), ("kiel", pop, "5", "raw", None)],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    out = set_value(base, "berlin", "population", "200")
    rows = {(r.subj, r.obj) for r in out.where(F.col("rel") == pop).collect()}
    assert rows == {("berlin", "200"), ("kiel", "5")}

    targets = spark.createDataFrame([("berlin",), ("kiel",)], "node string")
    out2 = update_statements(base, targets, "population", "42")
    rows2 = {(r.subj, r.obj) for r in out2.where(F.col("rel") == pop).collect()}
    assert rows2 == {("berlin", "42"), ("kiel", "42")}


def test_replay_log_roundtrip(spark, tmp_path):
    from netbase_spark.operators.mutate import (
        append_replay_log,
        parse_sentences,
        replay,
    )

    base = spark.createDataFrame(
        [("a", TYPE, "b", "raw", None)],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    new = parse_sentences(
        spark.createDataFrame([("Peter loves Jule",)], "sentence string")
    )
    log = str(tmp_path / "replay")
    append_replay_log(new, log)
    out = replay(base, log)
    assert out.count() == 2
    assert replay(base, str(tmp_path / "missing")).count() == 1


def test_xml_member_edges_and_leaves(spark):
    from netbase_spark.sources.xml import parse_xml_docs

    xml = (
        "<region><name>EMEA</name><code>7</code>"
        "<nation><name>France</name><pop>67</pop></nation>"
        "<nation><name>Kenya</name></nation>"
        "<nation><pop>9</pop></nation>"
        "</region>"
    )
    docs = spark.createDataFrame([(xml,), ("not xml <",)], "xml string")
    rows = {tuple(r) for r in parse_xml_docs(docs).collect()}
    assert ("EMEA", "code", "7") in rows  # leaf triple
    assert ("EMEA", "member", "France") in rows  # nested Member edge
    assert ("EMEA", "member", "Kenya") in rows
    assert ("France", "pop", "67") in rows
    # unnamed nested element falls back to the tag path subject
    assert ("EMEA", "member", "region/nation3") in rows
    assert ("region/nation3", "pop", "9") in rows
    # malformed doc dropped, name fields not re-emitted as leaves
    assert not any(p == "name" for _, p, _ in rows)


def test_wordnet_remap_and_import(spark):
    from netbase_spark.sources.wordnet import import_wordnet

    synset_map = spark.createDataFrame(
        [("W9", "W1")], "old_id string, new_id string"
    )
    senses = spark.createDataFrame(
        [("Duck", "W9"), ("bird", "W2")], "word string, synset_id string"
    )
    synsets = spark.createDataFrame(
        [("W9", "Noun", "a water bird"), ("W2", "Noun", "a feathered animal")],
        "synset_id string, pos string, gloss string",
    )
    lexlinks = spark.createDataFrame(
        [("W9", SUPER_CLASS, "W2"), ("W9", INSTANCE, "W2"), ("W9", PART, "W9")],
        "src_id string, rel int, dst_id string",
    )
    rows = {(r.subj, r.rel, r.obj) for r in
            import_wordnet(senses, synsets, lexlinks, synset_map).collect()}
    assert ("duck", INSTANCE, "W1") in rows  # sense remapped W9->W1
    assert ("W1", TYPE, "noun") in rows
    assert ("W1", SUPER_CLASS, "W2") in rows  # lexlink remapped
    # redundant Instance lexlink skipped; self-loop (W9,Part,W9) dropped
    assert ("W1", INSTANCE, "W2") not in rows
    assert not any(s == o for s, _, o in rows)


def test_seo_index_degree_conflict(spark):
    from netbase_spark.operators.gazetteer import seo_index

    labels = spark.createDataFrame(
        [("Q1", "New York!"), ("Q2", "new-york"), ("Q3", "unique thing")],
        "key string, label string",
    )
    degrees = spark.createDataFrame(
        [("Q1", 5), ("Q2", 9)], "node string, degree long"
    )
    rows = {r.slug: (r.key, r.degree) for r in seo_index(labels, degrees).collect()}
    assert rows["new-york"] == ("Q2", 9)  # higher degree wins the slug
    assert rows["unique-thing"] == ("Q3", 0)


def test_rename_cascade(spark):
    from netbase_spark.operators.gazetteer import build_alias_table, rename_nodes

    entities = spark.createDataFrame(
        [("Q1", "Old Name"), ("Q2", "Stays")], "key string, name string"
    )
    renames = spark.createDataFrame([("Q1", "Fresh Name")],
                                    "key string, new_name string")
    renamed = rename_nodes(entities, renames)
    assert dict(renamed.collect()) == {"Q1": "Fresh Name", "Q2": "Stays"}
    # alias rebuild from renamed entities IS the cascade
    labels = renamed.select(
        "key", F.col("name").alias("label"),
        F.lit("label").alias("label_type"), F.lit("en").alias("lang"),
    )
    aliases = {r.name_norm for r in build_alias_table(labels).collect()}
    assert "fresh name" in aliases and "old name" not in aliases


def test_merge_all(spark):
    from netbase_spark.operators.canonicalize import (
        connected_components,
        merge_all_edges,
    )

    aliases = spark.createDataFrame(
        [("mercury", "Q1"), ("mercury", "Q2"), ("mercury", "Q3"), ("venus", "Q4")],
        "name_norm string, key string",
    )
    edges = merge_all_edges(aliases, "mercury")
    mapping = dict(connected_components(edges).collect())
    assert mapping == {"Q2": "Q1", "Q3": "Q1"}
    # unrestricted form merges every ambiguous alias, singletons untouched
    all_edges = merge_all_edges(aliases)
    assert not any(r.src == "Q4" or r.dst == "Q4" for r in all_edges.collect())


def test_bucketed_subj_join_has_no_exchange(spark, tmp_path):
    """A subj-keyed self-join over the bucketed triple table must plan
    as a co-located (zero-Exchange) join — the whole point of bucketing
    at corpus scale."""
    from netbase_spark.operators.materialize import write_triples_bucketed

    triples = spark.range(200).selectExpr(
        "concat('S', id % 40) AS subj",
        "cast(-3 as int) AS rel",
        "concat('O', id) AS obj",
    )
    write_triples_bucketed(
        triples, "t_bucket_test", buckets=4, path=str(tmp_path / "tb")
    )
    try:
        t = spark.table("t_bucket_test")
        with_conf = spark.conf
        old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = t.alias("a").join(
                t.alias("b"), F.col("a.subj") == F.col("b.subj")
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan[:2000]
            assert j.count() == sum(
                n * n for n in [5] * 40
            )  # 40 subjects x 5 rows each
        finally:
            with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucket_test")


def test_media_resize_and_frame_sampling(spark):
    from netbase_spark.operators.media import resize_plan, sample_frames

    feats = spark.createDataFrame(
        [
            ("1", "a.jpg", 512, 256, None),
            ("2", "b.jpg", 100, 200, None),  # under max_side: unchanged
            ("3", "c.webm", None, None, 130000),
        ],
        "doc_id string, media_ref string, width int, height int, duration_ms int",
    )
    r = {
        row.media_ref: (row.new_width, row.new_height, row.thumb_ref)
        for row in resize_plan(feats, max_side=256).collect()
    }
    assert r == {
        "a.jpg": (256, 128, "a.jpg#256px"),
        "b.jpg": (100, 200, "b.jpg#256px"),
    }
    frames = sample_frames(feats, every_ms=60000).collect()
    assert [(f.frame_ms, f.frame_ref) for f in frames] == [
        (0, "c.webm#t=0"),
        (60000, "c.webm#t=60000"),
        (120000, "c.webm#t=120000"),
    ]


def test_isa_closure_driver_equals_distributed(spark):
    """Driver BFS fast path emits the exact distributed-closure row
    set, including through Synonym cycles and diamond shapes, and on a
    chain deeper than any fixed iteration budget (both walk to the
    fixpoint)."""
    from netbase_spark.operators.query_ops import isa_closure
    from netbase_spark.relations import INSTANCE, SUB_CLASS, SUPER_CLASS, SYNONYM, TYPE

    def both(rows):
        triples = spark.createDataFrame(rows, "subj string, rel int, obj string")
        fast = {(r.node, r.anc) for r in isa_closure(triples).collect()}
        slow = {
            (r.node, r.anc)
            for r in isa_closure(triples, driver_threshold=0).collect()
        }
        assert fast == slow
        return fast

    fast = both([
        ("a", TYPE, "b"),
        ("b", SUPER_CLASS, "c"),
        ("c", SUB_CLASS, "b"),  # downward edge: b's anc is c (dup path)
        ("c", SYNONYM, "d"),  # cycle c<->d
        ("w", INSTANCE, "a"),  # a's anc is w
        ("d", TYPE, "e"),
    ])
    assert ("a", "e") in fast
    # a 15-node SuperClass chain: every ordered pair, 14 hops deep
    chain = both([(f"c{i}", SUPER_CLASS, f"c{i + 1}") for i in range(14)])
    assert len(chain) == 15 * 14 // 2 and ("c0", "c14") in chain


def test_bfs_driver_equals_distributed(spark):
    """Driver BFS fast path emits the exact distributed (node, root,
    depth) rows — minimal depths through diamonds, cycles, multi-root
    overlap."""
    from netbase_spark.operators.query_ops import bfs_distances

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("a", "c"),  # diamond: c at depth 1
            ("c", "a"),  # cycle
            ("c", "d"), ("x", "d"),  # d reachable from both roots
        ],
        "src string, dst string",
    )
    sources = spark.createDataFrame([("a",), ("x",)], "node string")
    fast = {
        (r.node, r.root, r.depth)
        for r in bfs_distances(edges, sources, max_depth=5).collect()
    }
    slow = {
        (r.node, r.root, r.depth)
        for r in bfs_distances(
            edges, sources, max_depth=5, driver_threshold=0
        ).collect()
    }
    assert fast == slow
    assert ("c", "a", 1) in fast and ("d", "x", 1) in fast


def test_near_dup_clusters_survivor_selection(spark):
    from netbase_spark.operators.dedup import near_dup_clusters

    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 200), (4, 50), (5, 80)],
        "doc_id long, n_chars long",
    )
    # component {1,2,3} via chained pairs; 4 and 5 are singletons
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    rows = {
        (r.doc_id, r.cluster_id, r.keep)
        for r in near_dup_clusters(docs, pairs).collect()
    }
    # survivor = max n_chars (doc 2); cluster_id = min member id
    assert rows == {
        (1, 1, 0),
        (2, 1, 1),
        (3, 1, 0),
        (4, 4, 1),
        (5, 5, 1),
    }


def test_near_dup_clusters_random_graphs_vs_naive(spark):
    """Seeded random pair graphs vs a naive Python CC + survivor
    pick — independent of the operator's union-find/window machinery."""
    import random

    from netbase_spark.operators.dedup import near_dup_clusters

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = 40
        quality = {i: rng.randrange(1000) for i in range(n)}
        pairs = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(rng.randrange(5, 30))
            }
        )
        # naive: label propagation to fixpoint, then best-quality keep
        rep = {i: i for i in range(n)}

        def find(x):
            while rep[x] != x:
                x = rep[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                rep[max(ra, rb)] = min(ra, rb)
        clusters: dict = {}
        for i in range(n):
            clusters.setdefault(find(i), []).append(i)
        want = set()
        for members in clusters.values():
            cid = min(members)
            best = max(members, key=lambda i: (quality[i], -i))
            for i in members:
                want.add((i, cid, 1 if i == best else 0))

        docs = spark.createDataFrame(
            [(i, quality[i]) for i in range(n)], "doc_id long, n_chars long"
        )
        pairs_df = spark.createDataFrame(
            pairs or [(0, 0)], "a long, b long"
        ).where(F.col("a") != F.col("b"))
        got = {
            (r.doc_id, r.cluster_id, r.keep)
            for r in near_dup_clusters(docs, pairs_df).collect()
        }
        assert got == want, f"seed {seed}"


def test_near_dup_clusters_quality_tie_min_id(spark):
    from netbase_spark.operators.dedup import near_dup_clusters

    docs = spark.createDataFrame(
        [(7, 10), (8, 10)], "doc_id long, n_chars long"
    )
    pairs = spark.createDataFrame([(8, 7)], "a long, b long")
    rows = {
        (r.doc_id, r.cluster_id, r.keep)
        for r in near_dup_clusters(docs, pairs).collect()
    }
    assert rows == {(7, 7, 1), (8, 7, 0)}


def test_near_dup_clusters_high_dup_rate_no_broadcast(spark):
    """Crawl-shaped dup rate (round-2 verdict wrongness #1): most of the
    corpus is a near-dup member, so the member set is corpus-order and
    must NOT be hard-broadcast.  With the broadcast cap forced to 1 byte
    the anti-join runs as a shuffle join and results are identical to
    the broadcast plan."""
    from netbase_spark.operators.dedup import near_dup_clusters
    from netbase_spark.plans.broadcast_gate import CONF_KEY

    n = 400
    docs = spark.createDataFrame(
        [(i, (i * 37) % 997) for i in range(n)], "doc_id long, n_chars long"
    )
    # 80% of docs are members: chains of 4 over the first 320 ids
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(320) if i % 4 != 3], "a long, b long"
    )
    want = {
        (r.doc_id, r.cluster_id, r.keep)
        for r in near_dup_clusters(docs, pairs).collect()
    }
    old = spark.conf.get(CONF_KEY, None)
    spark.conf.set(CONF_KEY, "1")
    try:
        got = {
            (r.doc_id, r.cluster_id, r.keep)
            for r in near_dup_clusters(docs, pairs).collect()
        }
    finally:
        if old is None:
            spark.conf.unset(CONF_KEY)
        else:
            spark.conf.set(CONF_KEY, old)
    assert got == want
    # sanity: members really are the corpus majority here
    assert sum(1 for (_d, c, _k) in want if c < 320) >= 0.75 * n


def test_clean_corpus_rule_priority(spark):
    from netbase_spark.operators.textstats import clean_corpus

    # en, 30 tokens, mean token length 3.3 (in the 3.0-5.2 keep band)
    good = ("the quick brown fox and the lazy dog is of " * 3).strip()
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, good),  # exact dup of 1 (first-insert-wins)
            (3, "xyz qrs " * 15),  # no stopwords -> lang unk
            (4, "the a and is of"),  # en but < 20 tokens -> too_short
            (5, ("the supercalifragilistic " * 15).strip()),  # mean_len high
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.drop_reason, r.keep)
        for r in clean_corpus(docs, min_tokens=20).collect()
    }
    assert rows[1] == (None, 1)
    assert rows[2] == ("exact_dup", 0)
    assert rows[3] == ("lang", 0)
    assert rows[4] == ("too_short", 0)
    assert rows[5] == ("mean_len", 0)


def test_winnow_guarantee_and_pairs(spark):
    """Winnowing guarantee: docs sharing a contiguous run of >= w+k-1
    tokens share at least one fingerprint; unrelated docs share none;
    short docs (< k tokens) emit no rows; fingerprints are <= one per
    token (the scheme's density bound)."""
    from netbase_spark.operators.textstats import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    k, w = 4, 5
    shared_run = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = w+k-1
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {shared_run} tail one"),
            (2, f"{shared_run} completely different ending text"),
            (3, "nothing in common with the others at all whatsoever"),
            (4, "too few"),  # < k tokens -> no fingerprints
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=k, w=w)
    rows = fps.collect()
    by_doc: dict[int, set] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert 4 not in by_doc
    assert by_doc[1] & by_doc[2], "shared run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    for d, text in [(1, "intro"), (2, "x"), (3, "y")]:
        n_toks = len([t for t in docs.collect() if t.doc_id == d][0].text.split())
        assert len(by_doc[d]) <= n_toks
    pairs = {
        (r.a, r.b, r.shared)
        for r in winnow_overlap_pairs(fps, min_shared=1).collect()
    }
    assert {(a, b) for a, b, _ in pairs} == {(1, 2)}


def test_winnow_hot_fp_cap(spark):
    """fp_cap drops boilerplate fingerprints from the pair join (the
    quadratic hot-bucket guard) and over_cap reports exactly the
    dropped ones — no silent caps."""
    from netbase_spark.operators.dedup import over_cap
    from netbase_spark.operators.textstats import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    boiler = "standard license header tokens apply to this file"
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique tail {i} {'x'*1} {i*7}") for i in range(1, 6)],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=4, w=5)
    uncapped = winnow_overlap_pairs(fps, min_shared=1, fp_cap=None).count()
    capped = winnow_overlap_pairs(fps, min_shared=1, fp_cap=4).count()
    assert uncapped > 0 and capped < uncapped
    hot = {r.fp: r.n for r in over_cap(fps, ["fp"], 4).collect()}
    assert hot and all(n == 5 for n in hot.values())


def test_facet_counts(spark):
    from netbase_spark.operators.query_ops import facet_counts

    melted = spark.createDataFrame(
        [("color", "red"), ("color", "red"), ("color", "blue"),
         ("color", "blue"), ("color", "green"), ("size", "xl"), ("size", "xl")],
        "pred string, val string",
    )
    rows = {(r.pred, r.val, r.n, r.rank) for r in facet_counts(melted, max_facets=1).collect()}
    # green (count 1) dropped; rank-1 per predicate only
    assert rows == {("color", "blue", 2, 1), ("size", "xl", 2, 1)}


def test_property_question(spark):
    from netbase_spark.functions.query_lang import (
        parse_properties,
        property_question,
    )
    from netbase_spark.operators.mutate import rel_id_for

    assert parse_properties("population of berlin") == ("population", "berlin")
    assert parse_properties("berlin.population") == ("population", "berlin")
    assert parse_properties("population:berlin") == ("population", "berlin")
    assert parse_properties("just words and stuff") is None

    pop = rel_id_for("population")
    capital = rel_id_for("capital")
    tri = _tri(spark, [("berlin", pop, "3600000"), ("berlin", capital, "germany")])
    got = property_question("population of berlin", tri).collect()
    assert [(r.name, r.value) for r in got] == [("berlin", "3600000")]
    # plural retry: "cities" resolves via the -ies -> -y singular strip
    # (note "berlins" would NOT strip: the reference's plural heuristic
    # rejects ...ns, src/netbase.cpp:951)
    tri_city = _tri(spark, [("city", pop, "many")])
    got2 = property_question("population of cities", tri_city).collect()
    assert [(r.name, r.value) for r in got2] == [("city", "many")]
    # inverse retry: no (germany, capital, ?) rows -> flipped lookup
    inv = property_question("capital of germany", tri)
    assert [(r.name, r.value) for r in inv.collect()] == [("germany", "berlin")]


def test_reify_statement_ids(spark):
    from netbase_spark.operators.materialize import reify

    tri = _tri(spark, [("a", TYPE, "b"), ("c", MEMBER, "d")])
    out = reify(tri).collect()
    ids = {r.statement_id for r in out}
    assert len(ids) == 2 and all(len(i) == 32 for i in ids)
    # the surrogate is usable as a subject FK: qualifier rows join back
    import hashlib

    want = hashlib.md5(f"a|{TYPE}|b".encode()).hexdigest()
    assert want in ids


def test_count_instances(spark):
    from netbase_spark.operators.query_ops import count_instances

    # word-model Instance edges: (class/word, Instance, entity)
    tri = _tri(
        spark,
        [
            ("animal", INSTANCE, "bird"),
            ("bird", INSTANCE, "duck"),
            ("bird", INSTANCE, "goose"),
        ],
    )
    rows = {r.node: (r.n_direct, r.n_transitive) for r in count_instances(tri).collect()}
    assert rows["bird"] == (2, 2)
    # animal: direct = {bird}; transitive adds bird's instances
    assert rows["animal"] == (1, 3)


def test_find_statements_semantic(spark):
    from netbase_spark.operators.query_ops import find_statements, isa_closure

    tri = _tri(
        spark,
        [
            ("skirmish", SUPER_CLASS, "battle"),
            ("hastings fight", TYPE, "skirmish"),
            ("towton fight", TYPE, "battle"),
            ("picnic", TYPE, "outing"),
        ],
    )
    closure = isa_closure(tri)
    exact = find_statements(tri, rel=TYPE, obj="battle")
    assert {r.subj for r in exact.collect()} == {"towton fight"}
    sem = find_statements(tri, rel=TYPE, obj="battle", semantic=True, closure=closure)
    # "x Type skirmish" matches because skirmish isA battle
    assert {r.subj for r in sem.collect()} == {"towton fight", "hastings fight"}


def test_all_instances_bfs(spark):
    from netbase_spark.operators.query_ops import all_instances

    from netbase_spark.relations import SUB_CLASS

    tri = _tri(
        spark,
        [
            ("bird", INSTANCE, "duck"),
            ("bird", SUB_CLASS, "waterfowl"),
            ("waterfowl", INSTANCE, "goose"),
            ("duck", SYNONYM, "ente"),
        ],
    )
    got = {r.node for r in all_instances(tri, "bird").collect()}
    # downward: duck (Instance), waterfowl (SubClass), goose (via waterfowl)
    assert {"duck", "waterfowl", "goose"} <= got


def test_find_path_reconstruction(spark):
    """findPath+reconstructPath (src/query.cpp:1737-1790, 1477-1496):
    shortest sequence wins, min-parent tie-break, None if unreachable."""
    from netbase_spark.operators.query_ops import find_path

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "d"),  # long way a->d
            ("a", "x"), ("x", "d"),              # short way a->d
            ("a", "y"), ("y", "d"),              # same length: min(parent)
            ("z", "zz"),                         # disconnected
        ],
        "src string, dst string",
    )
    assert find_path(edges, "a", "d") == ["a", "x", "d"]  # x < y
    assert find_path(edges, "a", "c") == ["a", "b", "c"]
    assert find_path(edges, "a", "a") == ["a"]
    assert find_path(edges, "a", "zz") is None
    assert find_path(edges, "a", "d", max_depth=1) is None


def test_predicate_subproperty_hierarchy(spark):
    """initWikiRelations hierarchy (src/relations.cpp:595-612): PartOf
    pattern matches P131 edges only with rel_subsumption=True."""
    from netbase_spark.operators.mutate import rel_id_for, sub_predicate_ids
    from netbase_spark.operators.query_ops import find_statements
    from netbase_spark.relations import PART, PART_OF

    p131 = rel_id_for("p131")
    assert p131 in sub_predicate_ids(PART_OF)
    assert rel_id_for("p150") in sub_predicate_ids(PART)
    t = _tri(
        spark,
        [("berlin", p131, "germany"), ("paris", PART_OF, "france")],
    )
    exact = find_statements(t, rel=PART_OF)
    assert {r["subj"] for r in exact.collect()} == {"paris"}
    wide = find_statements(t, rel=PART_OF, rel_subsumption=True)
    rows = {(r["subj"], r["rel"], r["obj"]) for r in wide.collect()}
    assert rows == {("berlin", p131, "germany"), ("paris", PART_OF, "france")}


def test_yago_parse_branches(spark):
    """importYago line shapes + getYagoConcept branches
    (src/import.cpp:1103-1232)."""
    from netbase_spark.sources.yago import parse_yago_lines

    lines = spark.createDataFrame(
        [
            ("<Berlin>\trdf:type\t<wikicategory_City>",),        # vocab+head
            ("<id1>\t<Berlin>\t<created>\t<Siedlung_X>",),       # 4-col id
            ("<Berlin>\t<hasKind>\t<wordnet_city_108524735>",),  # wordnet key
            ('<Berlin>\tskos:prefLabel\t"Hauptstadt"@eng',),     # label line
            ('<Berlin>\tskos:prefLabel\t"berlin"@eng',),         # self-label
            ("<Berlin>\t<hasGeonamesEntityId>\t<g1>",),          # dropped
            ("<Berlin>\t<weird>\trdf:type",),                    # obj==Type
            ("malformed",),                                       # < 3 cols
            ('<Pi>\t<val>\t"3.14"^^xsd:decimal',),               # typed value
        ],
        "value string",
    )
    rows = {
        (r["subj"], r["pred"], r["obj"])
        for r in parse_yago_lines(lines).collect()
    }
    assert rows == {
        ("Berlin", "type", "City"),
        ("Berlin", "created", "Siedlung_X"),
        ("Berlin", "hasKind", "syn108524735"),
        ("Berlin", "label", "Hauptstadt"),
        ("Pi", "val", "3.14"),
    }


def test_yago_trailing_id_and_remap(spark):
    from netbase_spark.sources.yago import parse_yago_lines

    lines = spark.createDataFrame(
        [("<A>\t<p>\t<wordnet_x_7>\t<id9>",)], "value string"
    )
    m = spark.createDataFrame([("syn7", "syn1007")], "old_id string, new_id string")
    rows = parse_yago_lines(lines, leading_id=False, synset_map=m).collect()
    assert [(r["subj"], r["pred"], r["obj"]) for r in rows] == [
        ("A", "p", "syn1007")
    ]


def test_import_router(spark, tmp_path):
    """import(type, filename) dispatcher (src/import.cpp:2543-2621)."""
    from netbase_spark.sources.router import import_any, import_geodb, GEODB_COLUMNS

    nt = tmp_path / "x.nt"
    nt.write_text('<http://e/S1> <http://e/hasName> "n" .\n')
    out = import_any(spark, str(nt))
    assert {c for c in out.columns} >= {"subj", "pred", "obj"}
    assert out.count() == 1

    geo = tmp_path / "cities.geodb"
    geo.write_text("1\tBerlin\tberlin\t\t52.5\t13.4\tP\tPPLC\tDE\t\t\t\t\t\t3600000\t\t\tEurope/Berlin\t2020-01-01\n")
    g = import_geodb(spark, str(geo))
    vals = {(r["subj"], r["pred"], r["obj_text"]) for r in g.collect()}
    assert ("berlin", "countrycode", "DE") in vals  # subject = asciiname
    assert not any(p == "timezone" for _, p, _ in vals)  # include-list pruning

    import pytest
    with pytest.raises(ValueError):
        import_any(spark, "whatever.unknownext")


def test_wikidata_fillup_rule(spark):
    """importWikiData fill-up-missing (src/import.cpp:2524,2536):
    secondary-language labels only for keys without a primary label;
    alt labels are separate rows."""
    from netbase_spark.sources.wikidata import (
        fill_up_missing,
        parse_wiki_labels,
    )

    def nt(key, pred, text, lang):
        iri = {"label": "<http://www.w3.org/2000/01/rdf-schema#label>",
               "alt": "<http://www.w3.org/2004/02/skos/core#altLabel>"}[pred]
        return (f"<http://www.wikidata.org/entity/{key}> {iri} \"{text}\"@{lang} .",)

    primary = parse_wiki_labels(spark.createDataFrame(
        [nt("Q1", "label", "Universum", "de")], "value string"))
    secondary = parse_wiki_labels(spark.createDataFrame(
        [nt("Q1", "label", "universe", "en"), nt("Q2", "label", "earth", "en")],
        "value string"))
    filled = fill_up_missing(primary, secondary).collect()
    assert [(r["key"], r["label"]) for r in filled] == [("Q2", "earth")]
    alts = parse_wiki_labels(spark.createDataFrame(
        [nt("Q1", "alt", "cosmos", "en"), nt("Q1", "label", "x", "en")],
        "value string"), alt=True).collect()
    assert [(r["key"], r["label"]) for r in alts] == [("Q1", "cosmos")]


def test_ivf_pruned_probe_recall(spark):
    """IVF nprobe=1 returns a rank-consistent subset of brute force and
    assigns every vector to exactly one cell; deterministic centroids
    (no RNG) make two builds identical."""
    import numpy as np

    from netbase_spark.operators.dedup import ivf_assign, ivf_centroids, ivf_topk

    rng = np.random.RandomState(7)
    rows = [(i, (rng.randn(8) + (i % 3) * 4).tolist()) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    c1 = ivf_centroids(emb, n_cells=3, iters=2)
    c2 = ivf_centroids(emb, n_cells=3, iters=2)
    assert np.allclose(c1, c2)  # deterministic init + exact means

    assigned = ivf_assign(emb, c1)
    assert assigned.count() == 120
    assert assigned.groupBy("vec_id").count().where("count > 1").count() == 0

    exact = [r["vec_id"] for r in ivf_topk(emb, 0, k=10, n_cells=3, nprobe=3).collect()]
    pruned = [r["vec_id"] for r in ivf_topk(emb, 0, k=10, n_cells=3, nprobe=1).collect()]
    # pruned results keep brute-force order among the ids they return,
    # and with 3 well-separated clusters recall@10 should be high
    pos = {v: i for i, v in enumerate(exact)}
    in_exact = [v for v in pruned if v in pos]
    assert in_exact == sorted(in_exact, key=lambda v: pos[v])
    assert len(in_exact) >= 8


def test_ensure_singletons_idempotent(spark):
    """getSingleton (src/netbase.cpp:1180-1193): missing names created
    once with a Type row; present names untouched; re-running is a
    no-op."""
    from netbase_spark.operators.mutate import ensure_singletons

    t = spark.createDataFrame(
        [("berlin", TYPE, "city", "base", None)],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    names = spark.createDataFrame(
        [("Berlin",), ("city",), ("Nationalmannschaft",)], "name string"
    )
    out = ensure_singletons(t, names, type_name="Team")
    rows = {(r["subj"], r["rel"], r["obj"], r["rule"]) for r in out.collect()}
    assert rows == {
        ("berlin", TYPE, "city", "base"),
        ("nationalmannschaft", TYPE, "team", "singleton"),
    }
    again = ensure_singletons(out, names, type_name="Team")
    assert again.count() == out.count()  # idempotent


def test_get_new_allocates_fresh_ids(spark):
    """getNew (src/netbase.cpp:1168-1173): always a fresh node; the
    ordinal continues after existing same-named nodes (berlin and
    berlin~2 taken -> next is berlin~3)."""
    from netbase_spark.operators.mutate import get_new_names

    t = spark.createDataFrame(
        [("berlin", TYPE, "city", "base", None),
         ("berlin~2", TYPE, "city", "base", None)],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    names = spark.createDataFrame(
        [("Berlin",), ("Berlin",), ("Paris",)], "name string"
    )
    got = sorted(r["allocated"] for r in get_new_names(t, names).collect())
    assert got == ["berlin~3", "berlin~4", "paris"]


def test_format_image_scheme(spark):
    """formatImage (src/netbase.cpp:2455-2467): space->underscore,
    File: head cut, http passthrough, md5 h/h2 path, thumb variant."""
    import hashlib

    from netbase_spark.operators.media import format_image

    df = spark.createDataFrame(
        [("Blue fin.jpg",), ("Image:File:Tuna.png",), ("http://x/y.jpg",)],
        "name string",
    )
    got = {
        r["name"]: (r["u"], r["t"])
        for r in df.select(
            "name",
            format_image(F.col("name")).alias("u"),
            format_image(F.col("name"), size=120, thumb=True).alias("t"),
        ).collect()
    }
    h = hashlib.md5(b"Blue_fin.jpg").hexdigest()
    base = "http://upload.wikimedia.org/wikipedia/commons/"
    assert got["Blue fin.jpg"][0] == f"{base}{h[0]}/{h[:2]}/Blue_fin.jpg"
    assert got["Blue fin.jpg"][1] == (
        f"{base}thumb/{h[0]}/{h[:2]}/Blue_fin.jpg/120px-Blue_fin.jpg"
    )
    h2 = hashlib.md5(b"Tuna.png").hexdigest()
    assert got["Image:File:Tuna.png"][0] == f"{base}{h2[0]}/{h2[:2]}/Tuna.png"
    assert got["http://x/y.jpg"][0] == "http://x/y.jpg"


def test_import_image_triples_first_wins(spark):
    """importImageTripels lastTitle skip (src/import.cpp:243-245):
    only the first image per title imports."""
    from netbase_spark.operators.media import import_image_triples

    lines = spark.createDataFrame(
        [("Tuna m1 a.jpg", 1), ("Tuna m2 b.jpg", 2), ("Eel m3 c.jpg", 3)],
        "value string, nr int",
    )
    got = {r["subj"]: r["obj"] for r in import_image_triples(lines, order_col="nr").collect()}
    assert got == {"tuna": "a.jpg", "eel": "c.jpg"}


def test_fix_freebase_name(spark):
    """fixFreebaseName (src/import.cpp:1234-1253): namespace strip
    right-to-left, .topic skip, digit guard, file/http passthrough,
    # fragment cut."""
    from netbase_spark.sources.yago import fix_freebase_name

    cases = {
        "organization.organization.parent": "parent",
        "<music.artist.topic>": "artist",
        "base#fragment": "fragment",
        "v3.2": "v3.2",
        "Foo_bar.jpg": "Foo_bar.jpg",
        "http://x/a.b": "http://x/a.b",
        "plain": "plain",
    }
    df = spark.createDataFrame([(k,) for k in cases], "k string")
    got = {
        r["k"]: r["v"]
        for r in df.select("k", fix_freebase_name(F.col("k")).alias("v")).collect()
    }
    assert got == cases


def test_collect_instances_rebuild(spark):
    """collectInstances (src/init.cpp:504-524): global abstract-hash
    rebuild adds the (normalized name, Instance, node) edge for every
    node that differs from its abstract form; idempotent upsert."""
    from netbase_spark.operators.extraction import collect_instances
    from netbase_spark.relations import INSTANCE

    triples = spark.createDataFrame(
        [
            ("Berlin~2", 7, "city", "seed", None),
            ("paris", 7, "city", "seed", None),
        ],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    out = collect_instances(triples)
    inst = {
        (r["subj"], r["obj"])
        for r in out.where(F.col("rel") == INSTANCE).collect()
    }
    # Berlin~2 abstracts to "berlin" (suffix cut + normalize); paris and
    # city are already their own abstract form -> no self edge.
    assert inst == {("berlin", "Berlin~2")}
    # Idempotent: a second rebuild adds nothing.
    again = collect_instances(out)
    assert again.count() == out.count()


def test_delete_statement_single_key(spark):
    """deleteStatement (src/netbase.cpp:1817-1840): removes exactly the
    one keyed statement, leaving other edges of both nodes intact."""
    from netbase_spark.operators.query_ops import delete_statement

    triples = spark.createDataFrame(
        [("a", 1, "b", "r", None), ("a", 1, "c", "r", None), ("a", 2, "b", "r", None)],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    out = delete_statement(triples, "a", 1, "b")
    left = {(r["subj"], r["rel"], r["obj"]) for r in out.collect()}
    assert left == {("a", 1, "c"), ("a", 2, "b")}


def test_is_a_predicate_as_class(spark):
    """isA (src/netbase.cpp:2344-2363): x.son=milan => milan is_a son;
    closure subsumption and instance expansion also answer."""
    from netbase_spark.operators.mutate import rel_id_for
    from netbase_spark.operators.query_ops import is_a_nodes
    from netbase_spark.relations import INSTANCE, TYPE

    t = spark.createDataFrame(
        [
            ("x", rel_id_for("son"), "milan", "r", None),
            ("rex", TYPE, "dog", "r", None),
            # abstract 'offspring' has instance milan
            ("offspring", INSTANCE, "milan", "r", None),
        ],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    nodes = spark.createDataFrame(
        [("milan",), ("rex",), ("dog",), ("offspring",)], "node string"
    )
    got = lambda to: {r["node"] for r in is_a_nodes(t, nodes, to).collect()}
    assert got("son") == {"milan", "offspring"}  # direct + via instance
    assert got("dog") == {"rex", "dog"}  # closure + identity
    assert got("cat") == set()


def test_manual_merge_target_wins(spark):
    """:merge a b (src/console.cpp:397-407): node merges INTO target
    (target id survives, unlike min-rep CC); chains resolve."""
    from netbase_spark.operators.canonicalize import manual_merge

    t = spark.createDataFrame(
        [
            ("zeb", 1, "v1", "r", None),
            ("alpha", 2, "v2", "r", None),
            ("mid", 3, "zeb", "r", None),
        ],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    # alpha -> zeb (zeb is target), then zeb -> omega: alpha ends at omega
    pairs = spark.createDataFrame(
        [("zeb", "alpha"), ("omega", "zeb")], "target string, node string"
    )
    out = {(r["subj"], r["rel"], r["obj"]) for r in manual_merge(t, pairs).collect()}
    assert out == {("omega", 1, "v1"), ("omega", 2, "v2"), ("mid", 3, "omega")}


def test_duplicate_label_edges(spark):
    """importLabels duplicate-label conflict (src/import.cpp:1549-1560):
    later different spellings link to the primary via Label edges."""
    from netbase_spark.operators.gazetteer import duplicate_label_edges
    from netbase_spark.relations import LABEL

    labels = spark.createDataFrame(
        [
            ("Q1", "Strassenverkehr", "altLabel", "de"),
            ("Q1", "Straßenverkehr", "label", "de"),
            ("Q1", "Road traffic", "altLabel", "en"),
            ("Q2", "Only one", "label", "en"),
        ],
        "key string, label string, label_type string, lang string",
    )
    got = {
        (r["subj"], r["rel"], r["obj"])
        for r in duplicate_label_edges(labels).collect()
    }
    assert got == {
        ("straßenverkehr", LABEL, "road traffic"),
        ("straßenverkehr", LABEL, "strassenverkehr"),
    }


def test_parse_sentence_python_equals_column(spark):
    """The learn path's Python sentence parser and its JVM column twin
    must agree — oracle and engine both key on the parse."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from netbase_spark.operators.mutate import parse_sentence, parse_sentences

    word = st.text(
        alphabet=st.sampled_from(list("abcXZ09_-.'=\"")), min_size=1, max_size=8
    )
    sentence = st.one_of(
        # free-form token soup (0-5 tokens, may include stop words)
        st.lists(
            st.one_of(word, st.sampled_from(["a", "the", "A", "The"])),
            max_size=5,
        ).map(" ".join),
        # dotted form s.p=o
        st.tuples(word, word, word).map(lambda t: f"{t[0]}.{t[1]}={t[2]}"),
    )

    @settings(max_examples=40, deadline=None)
    @given(st.lists(sentence, min_size=1, max_size=25, unique=True))
    def check(samples):
        df = spark.createDataFrame([(s,) for s in samples], "sentence string")
        got = {
            (r["subj"], r["rel"], r["obj"])
            for r in parse_sentences(df).collect()
        }
        want = {t for t in (parse_sentence(s) for s in samples) if t is not None}
        assert got == want

    check()


def test_enrich_entities(spark):
    """Enriched-entity record (src/webserver.cpp:396-418): class,
    furthest topic, degree, seo slug in one derived table."""
    from netbase_spark.operators.materialize import enrich_entities
    from netbase_spark.relations import INSTANCE, TYPE

    t = spark.createDataFrame(
        [
            ("Alte Stadt", TYPE, "settlement", "r", None),
            ("settlement", TYPE, "place", "r", None),
            ("Alte Stadt", 9001, "x", "r", None),
        ],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    nodes = spark.createDataFrame([("Alte Stadt",)], "node string")
    got = enrich_entities(nodes, t).collect()[0]
    assert got["class"] == "settlement"
    assert got["topic"] == "place"  # furthest ancestor, not the direct type
    assert got["degree"] == 2
    assert got["seo"] == "alte-stadt"


def test_find_properties_instance_expansion_and_inverse(spark):
    """findProperties semantics (src/query.cpp:2295-2350; testFreebase's
    findProperties("Carlos Barbot","type") shape, src/tests.cpp:1438):
    instance expansion contributes the instance's own property values,
    inverse subjects appear only with allow_inverse, direct wins the
    via tie."""
    from netbase_spark.operators.query_ops import find_properties, get_type

    t = _tri(
        spark,
        [
            ("carlos barbot", INSTANCE, "barbot_q1"),  # instanceFilter edge
            ("barbot_q1", TYPE, "person"),             # instance's type
            ("carlos barbot", TYPE, "author"),         # own direct type
            ("fan_page", TYPE, "carlos barbot"),       # inverse subject
            ("person", TYPE, "class"),                 # unrelated to query
        ],
    )
    got = {
        (r["name"], r["value"], r["via"])
        for r in find_properties(t, ["carlos barbot"], TYPE).collect()
    }
    assert got == {
        ("carlos barbot", "author", "direct"),
        ("carlos barbot", "person", "direct"),
        ("carlos barbot", "fan_page", "inverse"),
    }
    no_inv = {
        r["value"]
        for r in find_properties(
            t, ["carlos barbot"], TYPE, allow_inverse=False
        ).collect()
    }
    assert no_inv == {"author", "person"}
    # direct beats inverse when the same value is reachable both ways
    t2 = _tri(
        spark,
        [("a", TYPE, "b"), ("b", TYPE, "a")],
    )
    got2 = {
        (r["value"], r["via"])
        for r in find_properties(t2, ["a"], TYPE).collect()
    }
    assert got2 == {("b", "direct")}
    # getType picks one deterministic first type per name
    ty = {r["name"]: r["type"] for r in get_type(t, ["carlos barbot"]).collect()}
    assert ty == {"carlos barbot": "author"}


def test_class_of_inferred_from_inverse_predicate(spark):
    """``getInferredClass`` (src/query.cpp:2134-2147): a statement
    whose OBJECT is the node names its class by the PREDICATE
    ("x.son=milan" => class(milan)=son) — custom predicates only,
    ranked after the direct chain but before Synonym."""
    from netbase_spark.operators.mutate import rel_id_for
    from netbase_spark.operators.query_ops import class_of
    from netbase_spark.relations import SUPER_CLASS, SYNONYM

    son = rel_id_for("son")  # hash id > 0 (custom predicate)
    t = spark.createDataFrame(
        [
            ("x", son, "milan"),
            ("milan", SYNONYM, "mailand"),   # weaker than inferred
            ("paris", SUPER_CLASS, "city"),  # direct chain wins
            ("y", son, "paris"),
        ],
        "subj string, rel int, obj string",
    )
    nodes = spark.createDataFrame([("milan",), ("paris",), ("z",)], "node string")
    rel_names = spark.createDataFrame([(son, "son")], "rel int, name string")
    got = {
        r["node"]: r["class"]
        for r in class_of(
            nodes, t, [SUPER_CLASS, SYNONYM], inferred_priority=5,
            rel_names=rel_names,
        ).collect()
    }
    assert got["milan"] == "son"    # inferred beats Synonym (prio 5 < 10)
    assert got["paris"] == "city"   # SuperClass (prio 0) beats inferred
    assert got["z"] == "Entity"     # unchanged fallback


def test_rank_link_candidates_coherence_flips_winner(spark):
    """prior x context-similarity ranking (operators/ranking.py): with
    equal priors, the candidate adjacent to another entity mentioned in
    the same doc must beat the min-key candidate; in a doc with no
    context the ranking collapses to getThe's (prior desc, key asc)."""
    from netbase_spark.operators.ranking import rank_link_candidates

    aliases = spark.createDataFrame(
        [
            ("acme", "E1", 1),  # min-key candidate
            ("acme", "E2", 1),  # coherent candidate
            ("widget", "W1", 1),
        ],
        "name_norm string, key string, prior long",
    )
    mentions = spark.createDataFrame(
        [(1, "acme"), (1, "widget"), (2, "acme")],
        "doc_id long, alias_key string",
    )
    edges = spark.createDataFrame([("E2", "W1")], "src string, dst string")

    got = {
        (r["doc_id"], r["alias_key"]): (r["entity"], r["coh"], r["score"])
        for r in rank_link_candidates(mentions, aliases, edges).collect()
    }
    # doc 1: widget's rank-1 link W1 is adjacent to E2 -> E2 wins
    assert got[(1, "acme")] == ("E2", 1, 2)
    # widget itself: no adjacent context (E2 is not doc 1's acme winner
    # for scoring purposes? coherence counts ctx entities adjacent to W1:
    # ctx of widget = rank-1 of acme = E1, not adjacent) -> min key W1
    assert got[(1, "widget")] == ("W1", 0, 1)
    # doc 2: no other mention -> pure getThe fallback, min key E1
    assert got[(2, "acme")] == ("E1", 0, 1)


def test_rank_link_prior_beats_weak_coherence(spark):
    """A 3x prior outweighs one coherence hit: score=prior*(1+coh)."""
    from netbase_spark.operators.ranking import rank_link_candidates

    aliases = spark.createDataFrame(
        [("acme", "E1", 3), ("acme", "E2", 1), ("widget", "W1", 1)],
        "name_norm string, key string, prior long",
    )
    mentions = spark.createDataFrame(
        [(1, "acme"), (1, "widget")], "doc_id long, alias_key string"
    )
    edges = spark.createDataFrame([("E2", "W1")], "src string, dst string")
    got = {
        (r["doc_id"], r["alias_key"]): (r["entity"], r["score"])
        for r in rank_link_candidates(mentions, aliases, edges).collect()
    }
    assert got[(1, "acme")] == ("E1", 3)  # 3*(1+0) > 1*(1+1)


def test_rank_link_hub_degree_guard(spark):
    """Hub-skew guard (round-2 verdict #2): a 10^5-degree hub entity
    must not multiply the candidate x neighbor expansion by its degree.
    cap_neighbor_degree keeps a deterministic first-k; the end-to-end
    winners on a fixture-sized graph are unchanged by a cap far above
    its true degrees."""
    from pyspark.sql import functions as F

    from netbase_spark.operators.ranking import (
        cap_neighbor_degree,
        rank_link_candidates,
        relatedness_neighbors,
    )

    # one hub with 100k neighbors + one normal entity
    hub_edges = spark.range(100_000).select(
        F.lit("HUB").alias("src"),
        F.concat(F.lit("N"), F.col("id").cast("string")).alias("dst"),
    ).unionByName(
        spark.createDataFrame([("E2", "W1")], "src string, dst string")
    )
    nbrs = relatedness_neighbors(hub_edges)
    capped = cap_neighbor_degree(nbrs, 50)
    per_entity = {
        r["entity"]: r["n"]
        for r in capped.groupBy("entity").agg(F.count("*").alias("n")).collect()
    }
    assert per_entity["HUB"] == 50  # bounded expansion
    assert per_entity["E2"] == 1 and per_entity["W1"] == 1  # untouched
    # deterministic first-k by neighbor key: N0, N1, N10, ... (string asc)
    kept = sorted(
        r["nbr"] for r in capped.where(F.col("entity") == "HUB").collect()
    )
    assert kept == sorted(f"N{i}" for i in range(100_000))[:50]

    # winners unchanged on the coherence fixture when the cap is active
    aliases = spark.createDataFrame(
        [("acme", "E1", 1), ("acme", "E2", 1), ("widget", "W1", 1)],
        "name_norm string, key string, prior long",
    )
    mentions = spark.createDataFrame(
        [(1, "acme"), (1, "widget"), (2, "acme")],
        "doc_id long, alias_key string",
    )
    edges = spark.createDataFrame(
        [("E2", "W1"), ("HUB", "E1")], "src string, dst string"
    )
    uncapped = {
        (r["doc_id"], r["alias_key"]): (r["entity"], r["coh"], r["score"])
        for r in rank_link_candidates(
            mentions, aliases, edges, max_neighbor_degree=None
        ).collect()
    }
    capped_run = {
        (r["doc_id"], r["alias_key"]): (r["entity"], r["coh"], r["score"])
        for r in rank_link_candidates(
            mentions, aliases, edges, max_neighbor_degree=10
        ).collect()
    }
    assert capped_run == uncapped
    assert capped_run[(1, "acme")] == ("E2", 1, 2)


def test_table_io_snapshot_roundtrip_and_iceberg_gate(spark, tmp_path):
    """plans/table_io.py: parquet snapshots round-trip (incl. a
    partitioned layout); fmt='iceberg' without a configured catalog
    fails loudly with the runtime explanation, never silently."""
    import pytest

    from netbase_spark.plans.table_io import (
        iceberg_catalogs,
        read_snapshot,
        write_snapshot,
    )

    df = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y")], "subj string, rel int, obj string"
    )
    p = str(tmp_path / "snap")
    write_snapshot(df, p, fmt="parquet", partition_by=["rel"])
    back = read_snapshot(spark, p, fmt="parquet")
    assert {tuple(r) for r in back.select("subj", "obj").collect()} == {
        ("a", "x"),
        ("b", "y"),
    }

    assert iceberg_catalogs(spark) == []  # sandbox has no Iceberg runtime
    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        write_snapshot(df, "cat.db.t", fmt="iceberg")
    with pytest.raises(ValueError):
        write_snapshot(df, p, fmt="orc")


def test_link_partition_files_publish(spark, tmp_path):
    """plans/table_io.py::link_partition_files: hive partition dirs
    publish by hardlink into the target table, the operation is
    idempotent (a crash between link and _SUCCESS re-runs safely),
    non-partition entries are skipped, and the combined table reads as
    one dataset."""
    import os

    from netbase_spark.plans.table_io import link_partition_files

    src = spark.createDataFrame(
        [("m1", 9, "d1"), ("m2", 9, "d2")], "subj string, rel int, obj string"
    )
    dst = spark.createDataFrame(
        [("s1", -4, "o1")], "subj string, rel int, obj string"
    )
    sp, dp = str(tmp_path / "mention"), str(tmp_path / "triples")
    src.write.partitionBy("rel").parquet(sp)
    dst.write.partitionBy("rel").parquet(dp)

    n = link_partition_files(sp, dp)
    assert n > 0
    # idempotent: already-present targets are skipped, count drops to 0
    assert link_partition_files(sp, dp) == 0
    # hardlink, not copy (same inode on one filesystem)
    f = next(
        f for f in os.listdir(os.path.join(sp, "rel=9")) if f.endswith(".parquet")
    )
    assert os.path.samefile(
        os.path.join(sp, "rel=9", f), os.path.join(dp, "rel=9", f)
    )
    combined = {
        tuple(r)
        for r in spark.read.parquet(dp).select("subj", "rel", "obj").collect()
    }
    assert combined == {("m1", 9, "d1"), ("m2", 9, "d2"), ("s1", -4, "o1")}
    # deleting the source files must not disturb the published table
    import shutil

    shutil.rmtree(sp)
    assert spark.read.parquet(dp).count() == 3


def test_iceberg_catalog_detection_runtime_conf(spark):
    """iceberg_catalogs sees catalogs registered AFTER session start
    (runtime SQL conf) and both SparkCatalog flavors; cleans up after
    itself so the shared session stays Iceberg-free."""
    from netbase_spark.plans.table_io import iceberg_catalogs

    assert iceberg_catalogs(spark) == []
    spark.conf.set(
        "spark.sql.catalog.lake", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set(
        "spark.sql.catalog.spark_catalog",
        "org.apache.iceberg.spark.SparkSessionCatalog",
    )
    try:
        assert iceberg_catalogs(spark) == ["lake", "spark_catalog"]
    finally:
        spark.conf.unset("spark.sql.catalog.lake")
        spark.conf.unset("spark.sql.catalog.spark_catalog")
    assert iceberg_catalogs(spark) == []


def test_rank_link_candidates_matches_naive_reference(spark):
    """Cross-check rank_link_candidates against a pure-Python reference
    on random (mentions, aliases, edges) instances: same winner, prior,
    coherence, and score for every (doc, alias) — guards the min_by
    struct tie-break and the double-left-join coherence count."""
    import random
    from collections import defaultdict

    from netbase_spark.operators.ranking import rank_link_candidates

    def naive(mentions, aliases, edges):
        cand = defaultdict(list)
        for name, key, prior in aliases:
            cand[name].append((key, prior))
        best = {
            name: sorted(lst, key=lambda kp: (-kp[1], kp[0]))[0][0]
            for name, lst in cand.items()
        }
        nbr = defaultdict(set)
        for s, d in edges:
            nbr[s].add(d)
            nbr[d].add(s)
        docs = defaultdict(set)
        for doc, alias in mentions:
            docs[doc].add(alias)
        out = {}
        for doc, alset in docs.items():
            for alias in alset:
                if alias not in cand:
                    continue
                ctx = {best[a2] for a2 in alset if a2 != alias and a2 in best}
                scored = [
                    (key, prior, len(ctx & nbr[key]), prior * (1 + len(ctx & nbr[key])))
                    for key, prior in cand[alias]
                ]
                out[(doc, alias)] = sorted(scored, key=lambda t: (-t[3], t[0]))[0]
        return out

    rng = random.Random(7)
    for trial in range(3):
        n_alias, n_ent = 12, 10
        alias_names = [f"a{i}" for i in range(n_alias)]
        ents = [f"E{i}" for i in range(n_ent)]
        aliases = [
            (a, e, rng.randint(1, 3))
            for a in alias_names
            for e in rng.sample(ents, rng.randint(1, 3))
        ]
        mentions = [
            (d, a)
            for d in range(8)
            for a in rng.sample(alias_names, rng.randint(1, 5))
        ]
        edges = [tuple(rng.sample(ents, 2)) for _ in range(12)]

        got = {
            (r["doc_id"], r["alias_key"]): (
                r["entity"], r["prior"], r["coh"], r["score"]
            )
            for r in rank_link_candidates(
                spark.createDataFrame(mentions, "doc_id long, alias_key string"),
                spark.createDataFrame(aliases, "name_norm string, key string, prior long"),
                spark.createDataFrame(edges, "src string, dst string"),
            ).collect()
        }
        want = naive(mentions, aliases, edges)
        assert got == want, f"trial {trial}: {got} != {want}"


def test_topic_of_survives_synonym_cycle(spark):
    """upward_edges emits Synonym both ways, so the topic BFS must keep
    a visited set (the reference's yetvisited): without it a synonym
    pair ping-pongs to max_depth and beats the true furthest ancestor."""
    from netbase_spark.operators.query_ops import topic_of, upward_edges
    from netbase_spark.relations import SUPER_CLASS, SYNONYM

    triples = _tri(
        spark,
        [
            ("a", SYNONYM, "b"),
            ("a", SUPER_CLASS, "c"),
            ("c", SUPER_CLASS, "d"),
        ],
    )
    nodes = spark.createDataFrame([("a",)], "node string")
    e = upward_edges(triples).select(
        F.col("node").alias("src"), F.col("anc").alias("dst")
    )
    got = {(r["node"], r["topic"]) for r in topic_of(nodes, e).collect()}
    assert got == {("a", "d")}


def test_sort_topics_no_duplicate_ranks_on_cycle(spark):
    """With a synonym cycle, each ancestor appears once at its
    first-visit depth — no duplicate (node, topic) entries."""
    from netbase_spark.operators.query_ops import sort_topics, upward_edges
    from netbase_spark.relations import SUPER_CLASS, SYNONYM

    triples = _tri(
        spark,
        [("a", SYNONYM, "b"), ("a", SUPER_CLASS, "c")],
    )
    nodes = spark.createDataFrame([("a",)], "node string")
    e = upward_edges(triples).select(
        F.col("node").alias("src"), F.col("anc").alias("dst")
    )
    rows = sort_topics(nodes, e).collect()
    topics = [r["topic"] for r in rows]
    assert sorted(topics) == sorted(set(topics))  # no dup ancestors


def test_set_value_replaces_with_raw_caller_name(spark):
    """setValue must replace the stored (normalized-key) row even when
    the caller passes a raw capitalized name — not add a second value."""
    from netbase_spark.operators.mutate import rel_id_for, set_value

    rel = rel_id_for("population")
    triples = spark.createDataFrame(
        [("gehren", rel, "3703", "fact", None)],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    out = set_value(triples, "Gehren", "population", "244797")
    rows = out.where(F.col("rel") == rel).collect()
    assert len(rows) == 1 and rows[0]["obj"] == "244797"


def test_doc_text_skips_empty_spans(spark):
    """Empty/null text spans must not inject empty tokens (they shift
    word indices and burn MAX_WORDS window slots vs the oracle)."""
    from netbase_spark.operators.mentions import doc_text
    from netbase_spark.schemas import DOCS_SCHEMA

    docs = spark.createDataFrame(
        [
            (
                "d1",
                [
                    {"kind": "text", "text": "one two", "media_ref": None, "offset": 0},
                    {"kind": "text", "text": "", "media_ref": None, "offset": 1},
                    {"kind": "image", "text": None, "media_ref": "m", "offset": 2},
                    {"kind": "text", "text": None, "media_ref": None, "offset": 3},
                    {"kind": "text", "text": "three", "media_ref": None, "offset": 4},
                ],
            )
        ],
        DOCS_SCHEMA,
    )
    assert doc_text(docs).collect()[0]["text"] == "one two three"


def test_get_new_allocates_past_noncontiguous_suffixes(spark):
    """getNew must never hand out an EXISTING id: with only 'x~3' in the
    node set (bare 'x' deleted), the next allocation is x~4, not x~2."""
    from netbase_spark.operators.mutate import get_new_names

    triples = spark.createDataFrame(
        [("x~3", 1, "y", "fact", None)],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    names = spark.createDataFrame([("x",), ("x",)], "name string")
    got = sorted(r["allocated"] for r in get_new_names(triples, names).collect())
    assert got == ["x~4", "x~5"]


def test_nt_lines_subtags_escapes_and_rel_family(spark):
    """N3 robustness: BCP-47 language subtags and escaped quotes are
    valid N-Triples (not malformed-line drops, with \\" unescaped);
    unknown predicates get the SAME md5-slice relation id the
    query/mutation path computes, so imported facts stay resolvable."""
    from netbase_spark.operators.mutate import rel_id_for
    from netbase_spark.sources.n3 import canonicalize_predicates, parse_nt_lines

    lines = spark.createDataFrame(
        [
            ('<http://x/Q1> <http://www.w3.org/2000/01/rdf-schema#label> "Foo"@en-GB .',),
            ('<http://x/Q2> <http://x/said> "He said \\"hi\\""@en .',),
            ('<http://x/Q3> <http://www.wikidata.org/prop/P950> "bne-id" .',),  # registry drop
        ],
        "value string",
    )
    parsed = parse_nt_lines(lines)
    rows = {(r["subj"], r["pred"], r["obj"]) for r in parsed.collect()}
    assert ("Q1", "label", "Foo") in rows
    assert ("Q2", "said", 'He said "hi"') in rows
    assert not any(s == "Q3" for s, _, _ in rows)  # registry-wide drop list

    rel = {
        r["pred"]: r["rel"]
        for r in canonicalize_predicates(parsed).collect()
    }
    assert rel["said"] == rel_id_for("said")  # same id family as queries


def test_wikidata_alt_label_blocks_fillup(spark):
    """The fill-up skip tests node->name (import.cpp:1346), which the
    alt-label stage also sets: a key whose only earlier label is an
    altLabel must NOT receive a secondary-language fill-up label."""
    from netbase_spark.sources.wikidata import import_wikidata

    def nt(key, pred, text, lang):
        iri = {"label": "<http://www.w3.org/2000/01/rdf-schema#label>",
               "alt": "<http://www.w3.org/2004/02/skos/core#altLabel>"}[pred]
        return (f"<http://www.wikidata.org/entity/{key}> {iri} \"{text}\"@{lang} .",)

    empty = spark.createDataFrame([], "value string")
    primary = spark.createDataFrame([nt("Q1", "label", "Universum", "de")], "value string")
    alts = spark.createDataFrame([nt("Q2", "alt", "Foo", "de")], "value string")
    fillup = spark.createDataFrame(
        [nt("Q1", "label", "universe", "en"),
         nt("Q2", "label", "bar", "en"),
         nt("Q3", "label", "earth", "en")],
        "value string",
    )
    out = import_wikidata(empty, primary, fillup, alts, empty, empty, empty)
    fills = {r["subj"] for r in out.where(F.col("rule") == "term_fillup").collect()}
    assert fills == {"Q3"}  # Q1 blocked by primary, Q2 blocked by alt


def test_wikimedia_description_demote_and_exclusion(spark):
    """importWikiLabels description branch (src/import.cpp:1365-1389):
    a "Wikimedia..." description demotes the Q-node to the _abstract
    kind in any run; plain descriptions bind as node text only during
    the alt run; and the demoted key is excluded from THE-entity
    selection (getThe's abstract skip, src/netbase.cpp:2310-2335)."""
    from pyspark.sql import functions as F

    from netbase_spark.operators.gazetteer import best_entity_per_alias
    from netbase_spark.operators.mutate import rel_id_for
    from netbase_spark.relations import KIND_ABSTRACT
    from netbase_spark.sources.wikidata import (
        import_wikidata_tagged,
        tag_stage_lines,
        wikimedia_abstract_keys,
    )

    ent = "<http://www.wikidata.org/entity/"
    d = "> <http://schema.org/description> "
    lbl = "> <http://www.w3.org/2000/01/rdf-schema#label> "

    def lines(*vals):
        return spark.createDataFrame([(v,) for v in vals], "value string")

    primary = lines(
        ent + "Q1" + lbl + '"Hamburg"@de .',
        ent + "Q2" + lbl + '"Hamburg (Begriffsklaerung)"@de .',
        ent + "Q2" + d + '"Wikimedia-Begriffsklaerungsseite"@de .',
        ent + "Q1" + d + '"city in Germany"@en .',  # NOT bound (primary run)
    )
    alts = lines(ent + "Q1" + d + '"Stadt in Deutschland"@de .')
    out = import_wikidata_tagged(
        tag_stage_lines([("term_primary", primary), ("term_alt", alts)])
    )
    rows = {(r.subj, r.rel, r.obj, r.rule) for r in out.collect()}
    assert ("Q2", KIND_ABSTRACT, "Wikimedia-Begriffsklaerungsseite", "demote") in rows
    desc_rel = rel_id_for("description")
    assert ("Q1", desc_rel, "Stadt in Deutschland", "description") in rows
    # primary-run plain description is NOT bound (if(!altLabels)continue)
    assert not any(o == "city in Germany" for (_, _, o, _) in rows)

    # exclusion: Q0 would win 'hamburg' by key order; demoting it hands
    # the alias to Q1
    aliases = spark.createDataFrame(
        [("hamburg", "Q0", 1), ("hamburg", "Q1", 1)],
        "name_norm string, key string, prior long",
    )
    demoted = spark.createDataFrame([("Q0",)], "key string")
    best = best_entity_per_alias(aliases, exclude_keys=demoted).collect()
    assert [(r.name_norm, r.key) for r in best] == [("hamburg", "Q1")]
    # helper derives the exclusion set from the imported triples
    t = out.select("subj", "rel", "obj")
    assert {r.key for r in wikimedia_abstract_keys(t).collect()} == {"Q2"}


def test_relations_of_both_directions(spark):
    """relationsFilter lists predicates from BOTH chain directions
    (src/query.cpp:1253-1263; nextStatement walks subject AND object
    links, src/netbase.cpp:468-481): a node that only ever appears as
    an object still reports that statement's predicate."""
    from netbase_spark.operators.query_ops import relations_of

    triples = _tri(
        spark,
        [("a", TYPE, "b"), ("a", PART, "c"), ("x", SYNONYM, "a"), ("x", TYPE, "y")],
    )
    nodes = spark.createDataFrame([("a",)], "node string")
    got = {(r.node, r.rel) for r in relations_of(triples, nodes).collect()}
    assert got == {("a", TYPE), ("a", PART), ("a", SYNONYM)}
    # unrestricted listing covers every node touched by any statement
    allrels = {(r.node, r.rel) for r in relations_of(triples).collect()}
    assert ("y", TYPE) in allrels and ("c", PART) in allrels


def test_any_edges_exclude_guard(spark):
    """anyFilter steps subject<->object undirected but refuses to expand
    excluded hub nodes (the reference's built-in id<1000 guard,
    src/query.cpp:1443-1467): with the hub excluded, the far side of
    the hub is unreachable."""
    from netbase_spark.operators.query_ops import any_edges, bfs_distances

    triples = _tri(spark, [("s1", TYPE, "hub"), ("s2", TYPE, "hub")])
    sources = spark.createDataFrame([("s1",)], "node string")
    open_reach = {
        r.node
        for r in bfs_distances(any_edges(triples), sources, max_depth=3).collect()
    }
    assert open_reach == {"s1", "hub", "s2"}
    hubs = spark.createDataFrame([("hub",)], "node string")
    guarded = {
        r.node
        for r in bfs_distances(
            any_edges(triples, exclude_srcs=hubs), sources, max_depth=3
        ).collect()
    }
    assert guarded == {"s1", "hub"}  # reached but never expanded
