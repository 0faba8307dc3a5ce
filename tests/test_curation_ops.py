"""TF-IDF keyword extraction + deterministic stratified sampling —
training-data curation operators (no reference twin; north-rule
additions alongside dedup/quality/lang-id)."""

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from netbase_spark.operators.textstats import (
    sample_stratified,
    tfidf_top_terms,
)


def test_tfidf_ranks_distinctive_terms_first(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple apple apple banana common"),
            (2, "banana banana cherry common"),
            (3, "cherry dates common common"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, k=2, min_df=1)
    rows = {(r.doc_id, r.rank): (r.term, r.tf, r.df) for r in out.collect()}
    # doc 1: 'apple' (tf=3, df=1) is the most distinctive term
    assert rows[(1, 1)][0] == "apple"
    # 'common' appears in every doc -> idf = ln(4/4) = 0 -> never rank 1
    assert all(term != "common" for (term, _, _) in
               [rows[(d, 1)] for d in (1, 2, 3)])
    # score matches the documented formula exactly
    term, tf, df = rows[(1, 1)]
    score = next(
        r.score_e6 for r in out.collect() if r.doc_id == 1 and r.rank == 1
    )
    assert score == math.floor(tf * math.log((3 + 1) / (df + 1)) * 1e6)


def test_tfidf_min_df_drops_rare_terms(spark):
    docs = spark.createDataFrame(
        [(1, "solo shared"), (2, "shared")], "doc_id long, text string"
    )
    terms = {r.term for r in tfidf_top_terms(docs, k=5, min_df=2).collect()}
    assert terms == {"shared"}  # 'solo' has df=1 < min_df


def test_stratified_sample_is_partition_invariant(spark):
    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("de").alias("lang"),
    )
    frac = {"en": 0.5, "de": 0.2}
    a = {r.doc_id for r in sample_stratified(docs, "lang", frac).collect()}
    b = {
        r.doc_id
        for r in sample_stratified(
            docs.repartition(17, "lang"), "lang", frac
        ).collect()
    }
    assert a == b  # keep set is a pure function of the id, not layout
    # fractions roughly honored (md5 is uniform; 2000 ids)
    en_total = 2000 // 3 + 1
    en_kept = sum(1 for i in a if i % 3 == 0)
    assert abs(en_kept / en_total - 0.5) < 0.1
    de_kept = len(a) - en_kept
    assert abs(de_kept / (2000 - en_total) - 0.2) < 0.1


def test_stratified_sample_drops_unlisted_strata_and_salt_decorrelates(spark):
    docs = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), F.lit("xx").alias("lang")
    )
    assert sample_stratified(docs, "lang", {"en": 1.0}).count() == 0
    full = docs.withColumn("lang", F.lit("en"))
    s1 = {r.doc_id for r in
          sample_stratified(full, "lang", {"en": 0.5}, salt="a").collect()}
    s2 = {r.doc_id for r in
          sample_stratified(full, "lang", {"en": 0.5}, salt="b").collect()}
    assert s1 != s2  # independent draws
    overlap = len(s1 & s2) / 500
    assert 0.15 < overlap < 0.35  # ~0.25 expected for two 50% draws


def test_decontamination_flags_eval_overlap(spark):
    from netbase_spark.operators.textstats import (
        contaminated_doc_ids,
        decontamination_pairs,
        winnow_fingerprints,
    )

    leak = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    corpus = spark.createDataFrame(
        [
            (1, "intro words then " + leak + " trailing text here"),
            (2, "totally unrelated content about different things entirely"),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(900, "question setup " + leak + " answer choices follow")],
        "doc_id long, text string",
    )
    pairs = decontamination_pairs(
        winnow_fingerprints(corpus, k=4, w=5),
        winnow_fingerprints(evals, k=4, w=5),
        min_shared=1,
    )
    got = {(r.doc_id, r.eval_id) for r in pairs.collect()}
    # winnowing guarantee: a shared >= w+k-1 = 8-token run shares a fp
    assert (1, 900) in got
    assert all(d != 2 for d, _ in got)
    assert {r.doc_id for r in contaminated_doc_ids(pairs).collect()} == {1}


def test_domain_quota_cap_and_determinism(spark):
    from netbase_spark.operators.textstats import domain_quota

    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("host"), (F.col("id") % 3).cast("string")).alias(
            "source"
        ),
    )
    a = domain_quota(docs, cap=7)
    counts = {r.source: r.n for r in
              a.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"host0": 7, "host1": 7, "host2": 7}
    b = domain_quota(docs.repartition(13), cap=7)
    assert {r.doc_id for r in a.collect()} == {r.doc_id for r in b.collect()}


def test_repetition_stats_gopher_rule(spark):
    from netbase_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),  # 5 bigrams, 1 distinct
            (2, "all words here are fully unique"),
            (3, "one"),  # < n tokens -> zero ngrams
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(docs, n=2).collect()}
    assert rows[1].total_ngrams == 5 and rows[1].distinct_ngrams == 1
    assert rows[1].dup_ratio_e6 == 800000
    assert rows[2].dup_ratio_e6 == 0
    assert rows[3].total_ngrams == 0 and rows[3].dup_ratio_e6 == 0


def test_pii_scrub_counts_and_redaction(spark):
    from netbase_spark.operators.textstats import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@sub.example.org or 555-123-4567 now"),
            (2, "server 192.168.1.200 and 10.0.0.1 no contact"),
            (3, "clean text only"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert (rows[1].n_emails, rows[1].n_phones, rows[1].n_ipv4) == (1, 1, 0)
    assert rows[1].redacted == "mail me at <EMAIL> or <PHONE> now"
    assert (rows[2].n_emails, rows[2].n_phones, rows[2].n_ipv4) == (0, 0, 2)
    assert rows[2].redacted == "server <IP> and <IP> no contact"
    assert rows[3].redacted == "clean text only"


def test_strip_boilerplate_preserves_order_and_duplicates(spark):
    from netbase_spark.operators.textstats import (
        boilerplate_lines,
        strip_boilerplate,
    )

    # 'footer' appears in all 3 docs -> boilerplate at min_df=3;
    # 'body' lines are unique per doc and must survive, including the
    # duplicated 'same same' line inside doc 1 (order + dup preserved).
    docs = spark.createDataFrame(
        [
            (1, "same same\nfooter\nsame same\nbody one"),
            (2, "body two\nfooter"),
            (3, "footer\nbody three"),
        ],
        "doc_id long, text string",
    )
    bl = {r.line for r in boilerplate_lines(docs, min_df=3).collect()}
    assert bl == {"footer"}
    out = {r.doc_id: r for r in strip_boilerplate(docs, min_df=3).collect()}
    assert (out[1].n_lines, out[1].n_removed) == (4, 1)
    assert (out[2].n_lines, out[2].n_removed) == (2, 1)
    # fingerprint equals md5 of the re-joined survivors in order
    import hashlib

    expect = hashlib.md5("same same\nsame same\nbody one".encode()).hexdigest()
    assert out[1].clean_fp == expect


def test_strip_boilerplate_cap_is_deterministic(spark):
    from netbase_spark.operators.textstats import boilerplate_lines

    # both lines hit min_df; cap=1 keeps the (df desc, line asc) winner
    docs = spark.createDataFrame(
        [(i, "aaa\nbbb") for i in range(4)], "doc_id long, text string"
    )
    kept = [r.line for r in boilerplate_lines(docs, min_df=2, cap=1).collect()]
    assert kept == ["aaa"]


def test_cosine_neardup_bucketed_subset_and_identical_pair(spark):
    from netbase_spark.operators.dedup import (
        cosine_neardup_bucketed,
        cosine_neardup_pairs,
    )

    import math

    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),      # identical to 1 -> same bucket
        (3, [0.99, 0.1, 0.0, 0.0]),     # near 1/2
        (4, [-1.0, 0.0, 0.0, 0.0]),     # opposite
        (5, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {
        (r.a, r.b): r.sim_e4
        for r in cosine_neardup_bucketed(emb, 9000, n_planes=4).collect()
    }
    brute = {
        (r.a, r.b): r.sim_e4
        for r in cosine_neardup_pairs(emb, 9000).collect()
    }
    # bucketed result is a subset of brute force with identical sims
    assert set(got) <= set(brute)
    assert all(brute[k] == v for k, v in got.items())
    # identical vectors share every SRP sign -> always found
    assert got[(1, 2)] == 10000 or math.isclose(got[(1, 2)], 9999, abs_tol=1)


def test_cosine_neardup_bucketed_cap_drops_hot_bucket(spark):
    from netbase_spark.operators.dedup import cosine_neardup_bucketed

    # 6 identical vectors -> one bucket of 6; cap=5 drops it entirely
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    out = cosine_neardup_bucketed(emb, 9000, n_planes=4, bucket_cap=5)
    assert out.count() == 0
    full = cosine_neardup_bucketed(emb, 9000, n_planes=4)
    assert full.count() == 15  # 6 choose 2


def test_unigram_logprob_hand_computed(spark):
    from netbase_spark.operators.textstats import unigram_logprob

    import math

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    # corpus counts: a=3, b=1, c=1, total=5
    lp = {t: math.floor(math.log(c / 5.0) * 1e6) for t, c in
          {"a": 3, "b": 1, "c": 1}.items()}
    got = {r.doc_id: r for r in unigram_logprob(docs).collect()}
    assert got[1].n_tokens == 3
    assert got[1].mean_lp_e6 == math.floor((2 * lp["a"] + lp["b"]) / 3)
    assert got[2].mean_lp_e6 == math.floor((lp["a"] + lp["c"]) / 2)
    # doc 2 leans on rarer tokens -> lower mean log-probability
    assert got[2].mean_lp_e6 < got[1].mean_lp_e6


def test_shard_pack_budget_and_determinism(spark):
    from netbase_spark.operators.textstats import shard_pack

    # 4 docs of 3 tokens each, budget 6 -> shards of exactly 2 docs
    docs = spark.createDataFrame(
        [(i, "x y z", "s") for i in range(4)],
        "doc_id long, text string, source string",
    )
    got = {r.doc_id: r.shard_no for r in shard_pack(docs, 6).collect()}
    assert got == {0: 0, 1: 0, 2: 1, 3: 1}
    # repartitioned input -> identical assignment (layout-independent)
    got2 = {
        r.doc_id: r.shard_no
        for r in shard_pack(docs.repartition(7), 6).collect()
    }
    assert got2 == got


def test_dedup_ops_leave_no_session_cache(spark):
    """The banded/bucketed candidate generators persist their band
    tables internally; after returning the materialized result the SQL
    cache manager must be EMPTY again (a batch loop re-running dedup
    passes must not accumulate session-lifetime caches)."""
    from netbase_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        simhash,
        simhash_candidates,
    )
    from netbase_spark.operators.textstats import winnow_overlap_pairs

    shingles = spark.createDataFrame(
        [(f"d{i:02d}", f"tok{j}") for i in range(30)
         for j in (i % 7, i % 5, i % 3, 11)],
        "doc_id string, shingle string",
    )
    texts = spark.createDataFrame(
        [(f"d{i:02d}", " ".join(f"w{(i * k) % 9}" for k in range(12)))
         for i in range(30)],
        "doc_id string, text string",
    )
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()

    mh = minhash_lsh_pairs(minhash_signatures(shingles, n_hashes=8),
                           bands=4, rows_per_band=2)
    mh.count()
    assert cm.isEmpty(), "minhash_lsh_pairs leaked a session cache"

    sc_pairs = simhash_candidates(simhash(texts))
    sc_pairs.count()
    assert cm.isEmpty(), "simhash_candidates leaked a session cache"

    fps = shingles.select("doc_id", F.col("shingle").alias("fp"))
    winnow_overlap_pairs(fps, min_shared=1).count()
    assert cm.isEmpty(), "winnow_overlap_pairs leaked a session cache"


def _simhash_band_rows(spark):
    from netbase_spark.operators.dedup import simhash, simhash_bands

    docs = spark.createDataFrame(
        [(i, "boilerplate header the same on every single page") for i in range(6)]
        + [(100 + i, f"rare document {i} about turbine bearings") for i in range(3)],
        "doc_id long, text string",
    )
    return simhash_bands(simhash(docs)), ["band", "bv"], 3


def _minhash_band_rows(spark):
    from netbase_spark.operators.dedup import minhash_bands, minhash_signatures

    sh = spark.createDataFrame(
        [(d, s) for d in range(5) for s in ("a b c", "b c d", "c d e")]
        + [(9, "p q r"), (10, "x y z")],
        "doc_id long, shingle string",
    )
    return minhash_bands(minhash_signatures(sh, n_hashes=8), 4, 2), ["band", "bv"], 3


def _shingle_rows(spark):
    rows = spark.createDataFrame(
        [(i, "viral quote here") for i in range(5)]
        + [(i, f"rare {i}") for i in range(5)] + [(7, "rare 1")],
        "doc_id long, shingle string",
    )
    return rows, ["shingle"], 3


def _winnow_rows(spark):
    from netbase_spark.operators.textstats import winnow_fingerprints

    boiler = "standard license header tokens apply to this file"
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique tail {i} x {i * 7}") for i in range(1, 6)],
        "doc_id long, text string",
    )
    return winnow_fingerprints(docs, k=4, w=5), ["fp"], 4


def _srp_bucket_rows(spark):
    from netbase_spark.operators.dedup import ann_lsh_buckets

    emb = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.5]) for i in range(6)]
        + [(10 + i, [math.sin(i), math.cos(i), -0.3 * i]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    return ann_lsh_buckets(emb, 4), ["bucket"], 5


@pytest.mark.parametrize(
    "key_rows",
    [_simhash_band_rows, _minhash_band_rows, _shingle_rows, _winnow_rows,
     _srp_bucket_rows],
    ids=["simhash_bands", "minhash_bands", "shingles", "winnow_fps",
         "srp_buckets"],
)
def test_cap_keys_drops_exactly_what_over_cap_reports(spark, key_rows):
    """For every capped key space, the rows cap_keys removes are exactly
    the rows whose key over_cap reports, and each report counts them."""
    from netbase_spark.operators.dedup import cap_keys, over_cap

    rows, keys, cap = key_rows(spark)
    key = lambda r: tuple(r[k] for k in keys)
    every = Counter(rows.collect())
    kept = Counter(cap_keys(rows, keys, cap).collect())
    reported = {key(r): r.n for r in over_cap(rows, keys, cap).collect()}
    assert not kept - every
    removed = every - kept
    assert removed, "the cap must drop something here"
    assert removed == Counter({r: c for r, c in every.items() if key(r) in reported})
    for k, n in reported.items():
        assert n == sum(c for r, c in every.items() if key(r) == k) > cap


def test_zero_vectors_score_zero_in_topk(spark):
    """A zero vector, as candidate or as query, scores sim_e4 = 0 (not
    the int64 floor of NaN) in both top-k paths; ivf_topk answers an
    absent query id with no rows."""
    from netbase_spark.operators.dedup import ann_topk_bucketed, ivf_topk

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.9, 0.1]), (4, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    ivf = lambda q: {
        r.vec_id: r.sim_e4
        for r in ivf_topk(emb, q, k=5, n_cells=1, nprobe=1).collect()
    }
    got = ivf(1)
    assert got[2] == 0 and got[4] == 0 and got[3] > 0
    assert ivf(2) == {1: 0, 3: 0, 4: 0}
    ann = {r.vec_id: r.sim_e4 for r in ann_topk_bucketed(emb, 2, k=5).collect()}
    assert 4 in ann and set(ann.values()) == {0}
    # an absent query id has no neighbours
    assert ivf_topk(emb, 99, k=5, n_cells=1, nprobe=1).count() == 0
