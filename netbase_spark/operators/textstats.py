"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting + fingerprinting, and the composed
corpus-cleaning filter.

All pure JVM-side column plans (no Python UDF anywhere): the per-doc
stats are map-only expressions inside whole-stage codegen; the only
shuffle in :func:`clean_corpus` is the fingerprint window for exact-dup
ranking (md5 keys are uniform, so no skew at any scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from netbase_spark.operators.dedup import DEDUP_KEY_CAP, cap_keys, shared_key_pairs

EN_STOPWORDS = ("the", "a", "and", "is", "of")
DE_STOPWORDS = ("der", "die", "das", "und", "ist")
QUALITY_STOPWORDS = ("the", "a", "and", "of", "value")


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID by stopword hits: (doc_id, en_hits,
    de_hits, lang_guess) with ties -> 'unk'."""
    toks = F.split(text_col, " ")
    en = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    de = F.size(F.filter(toks, lambda t: t.isin(*DE_STOPWORDS)))
    return docs.select(
        "doc_id",
        en.alias("en_hits"),
        de.alias("de_hits"),
        F.when(en > de, "en")
        .when(de > en, "de")
        .otherwise("unk")
        .alias("lang_guess"),
    )


def text_quality(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality stats: token count, stopword count, char count, mean
    token length (e2-scaled int so the oracle compares exactly)."""
    toks = F.split(text_col, " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(
            F.filter(toks, lambda t: t.isin(*QUALITY_STOPWORDS))
        ).alias("n_stop"),
        F.length(F.regexp_replace(text_col, " ", "")).alias("n_chars"),
        F.expr(
            f"(100 * length(regexp_replace({text_col}, ' ', '')))"
            f" div size(split({text_col}, ' '))"
        ).alias("mean_len_e2"),
    )


def token_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting (whitespace + word-regex) and document
    fingerprint: md5 of the wordhash-normalized text."""
    from netbase_spark.normalize import norm_name_col

    return docs.select(
        "doc_id",
        F.size(F.split(text_col, " ")).alias("n_ws_tokens"),
        F.size(
            F.expr(f"regexp_extract_all({text_col}, '[a-z0-9]+', 0)")
        ).alias("n_word_tokens"),
        F.md5(norm_name_col(F.col(text_col))).alias("fp"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Rolling-hash document fingerprints by winnowing (the MOSS
    scheme, Schleimer/Wilkerson/Aiken SIGMOD'03): hash every ``k``-gram
    of word tokens, slide a window of ``w`` consecutive k-gram hashes,
    keep the MINIMUM of each window, emit the distinct mins as the
    doc's fingerprint set.  Guarantee: two docs sharing a contiguous
    run of >= w+k-1 tokens share at least one fingerprint — the basis
    for substring-level near-dup detection where whole-doc hashing
    (:func:`token_fingerprint`) misses partial overlap.

    Spark-first shape: the token/k-gram/window pipeline is pure
    higher-order array expressions (transform/slice/array_min) — map
    side only, ZERO shuffles at any corpus size; the fingerprint
    explode is linear in text length (<= one fingerprint per token).
    Hashes are the first 8 hex chars of md5 (DuckDB-reproducible, same
    family as :func:`minhash_signatures`).  Docs with fewer than ``k``
    word tokens produce no rows (no k-gram exists).

    Returns distinct (doc_id, fp BIGINT) rows.
    """
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
    # filter BEFORE building the gram sequence: sequence(1, n) with
    # n <= 0 is a DESCENDING [1..n] in Spark, which would feed slice a
    # start of 0 instead of yielding an empty gram list
    tokenized = docs.select("doc_id", toks.alias("t")).where(
        F.size("t") >= k
    )
    grams = tokenized.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.size("t") - (k - 1)),
            lambda i: F.conv(
                F.substring(
                    F.md5(F.array_join(F.slice(F.col("t"), i, k), " ")), 1, 8
                ),
                16,
                10,
            ).cast("long"),
        ).alias("h"),
    )
    m = F.size(F.col("h"))
    # fewer k-grams than the window -> ONE window spanning them all
    # (the short-doc case the oracle mirrors exactly)
    wins = F.when(m <= w, F.array(F.array_min("h"))).otherwise(
        F.transform(
            F.sequence(F.lit(1), m - (w - 1)),
            lambda j: F.array_min(F.slice(F.col("h"), j, w)),
        )
    )
    return (
        grams.select("doc_id", F.explode(wins).alias("fp"))
        .dropDuplicates(["doc_id", "fp"])
    )


def winnow_overlap_pairs(
    fps: DataFrame, min_shared: int = 2, fp_cap: int | None = DEDUP_KEY_CAP
) -> DataFrame:
    """Near-dup candidate pairs from shared winnowing fingerprints:
    docs sharing >= ``min_shared`` fingerprints, with the shared count.
    One fp-keyed shuffle (self-join on the fingerprint value — the
    inverted-index join, never all-pairs) + one pair-keyed count.

    md5 fingerprint VALUES are uniform, but their document frequency is
    not: boilerplate (license headers, navigation chrome) puts one
    fingerprint in millions of docs, and the self-join is quadratic in
    that frequency.  ``fp_cap`` drops fingerprints shared by more than
    that many docs — the hot-key guard of every dedup self-join
    (:func:`~netbase_spark.operators.dedup.cap_keys`); audit what was
    dropped with ``over_cap(fps, ["fp"], fp_cap)`` (no silent caps).
    Returns (a, b, shared) with a < b."""
    return shared_key_pairs(
        cap_keys(fps, ["fp"], fp_cap),
        ["fp"],
        finish=lambda pairs, _: pairs.where(F.col("shared") >= min_shared),
    )


def clean_corpus(
    docs: DataFrame,
    text_col: str = "text",
    min_tokens: int = 20,
    mean_len_range: tuple[int, int] = (300, 520),
) -> DataFrame:
    """Composed training-data corpus filter: per-doc keep decision with
    the FIRST failing rule as drop_reason (priority: exact_dup > lang >
    too_short > mean_len — cheap-to-verify rules first, mirroring the
    reference's dropBad* line filters at import, src/import.cpp:
    1744-1791, applied doc-level).

    Rules:
    - exact_dup: same normalized-text fingerprint as a lower doc_id
      (first-insert-wins, src/netbase.cpp:760-767);
    - lang: language heuristic returns 'unk' (tied stopword hits);
    - too_short: fewer than ``min_tokens`` whitespace tokens;
    - mean_len: e2-scaled mean token length outside
      ``mean_len_range`` (gibberish / run-on detector).

    Returns (doc_id, lang_guess, n_tokens, mean_len_e2, dup_rank,
    drop_reason, keep).  Single pass: all stats are map-side exprs;
    the one shuffle is the fingerprint window.
    """
    from netbase_spark.normalize import norm_name_col

    toks = F.split(text_col, " ")
    en = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    de = F.size(F.filter(toks, lambda t: t.isin(*DE_STOPWORDS)))
    stats = docs.select(
        "doc_id",
        F.when(en > de, "en")
        .when(de > en, "de")
        .otherwise("unk")
        .alias("lang_guess"),
        F.size(toks).alias("n_tokens"),
        F.expr(
            f"(100 * length(regexp_replace({text_col}, ' ', '')))"
            f" div size(split({text_col}, ' '))"
        ).alias("mean_len_e2"),
        F.md5(norm_name_col(F.col(text_col))).alias("fp"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    lo, hi = mean_len_range
    ranked = stats.withColumn("dup_rank", F.row_number().over(w))
    reason = (
        F.when(F.col("dup_rank") > 1, "exact_dup")
        .when(F.col("lang_guess") == "unk", "lang")
        .when(F.col("n_tokens") < min_tokens, "too_short")
        .when(
            (F.col("mean_len_e2") < lo) | (F.col("mean_len_e2") > hi),
            "mean_len",
        )
    )
    return ranked.select(
        "doc_id",
        "lang_guess",
        "n_tokens",
        "mean_len_e2",
        "dup_rank",
        reason.alias("drop_reason"),
        reason.isNull().cast("int").alias("keep"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    min_df: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Distinctive-keyword extraction: top-``k`` terms per document by
    TF-IDF — the tagging/curation primitive a training-data pipeline
    uses to route documents to domain mixtures.

    Classic three-shuffle plan, all JVM-side: explode -> (doc, term)
    counts (map-side combine), document frequency per term (map-side
    combine again), one term-keyed join of the (vocabulary-sized) DF
    table, then a per-doc top-k window.  No vocabulary broadcast — at
    web scale the vocab outgrows any dimension table, so the DF join
    shuffles on the term key (uniform after the stopword-free explode;
    AQE splits residual hot terms).

    Scores compare exactly across engines: ``score_e6 =
    floor(tf * ln((N+1)/(df+1)) * 1e6)`` and the rank orders by the
    FLOORED integer (score_e6 desc, term asc), so Spark and the DuckDB
    oracle agree bit-for-bit.  Residual caveat (round-2 ADVICE): the
    ``ln`` itself is transcendental — JVM ``Math.log`` is specified to
    1 ulp while DuckDB uses libm, so a product landing within 1 ulp of
    an integer e6 boundary could floor differently.  Unlike a SUM's
    reorder nondeterminism this is a fixed per-(tf, df, N) value
    (deterministic run-to-run per engine), needs a measure-zero
    coincidence, and the inputs here are small integers; accepted and
    documented rather than reworked into a log-free form.
    """
    n_docs = docs.count()  # one tiny job; the scalar feeds the idf literal
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df_t, "term")
        .where(F.col("df") >= min_df)
        .withColumn(
            "score_e6",
            F.floor(
                F.col("tf")
                * F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0))
                * 1e6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_e6").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score_e6", "rank")
    )


def sample_stratified(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum subsampling for corpus curation:
    keep a row iff ``md5(id || salt)``'s first 8 hex digits, read as a
    uint32, fall under ``floor(fraction * 2^32)`` for its stratum.

    Unlike ``DataFrame.sample`` (partition-layout-dependent RNG), the
    keep decision is a pure function of the row id — the SAME subset
    comes back on any cluster size, any partitioning, any re-run, which
    is what makes a training-mixture reproducible.  Map-side only: no
    shuffle, no state; strata with no entry in ``fractions`` are
    dropped.  ``salt`` decorrelates independent draws.
    """
    thresholds = F.create_map(
        *[
            F.lit(x)
            for s, frac in fractions.items()
            for x in (s, int(frac * 4294967296))
        ]
    )
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    thr = thresholds[F.col(strata_col)]
    return df.where(thr.isNotNull() & (hv < thr))


def decontamination_pairs(
    corpus_fps: DataFrame,
    eval_fps: DataFrame,
    min_shared: int = 1,
    fp_cap: int | None = DEDUP_KEY_CAP,
) -> DataFrame:
    """Benchmark decontamination: (corpus doc, eval doc) pairs sharing
    >= ``min_shared`` winnowing fingerprints — training documents that
    contain a contiguous >= w+k-1-token run from an evaluation set must
    be dropped before training, or the benchmark leaks.

    Cross-table inverted-index join on the fingerprint value (the
    two-table form of :func:`winnow_overlap_pairs`): the eval side is
    benchmark-sized (broadcastable), so the corpus side joins map-side
    and never self-joins.  ``fp_cap`` drops boilerplate fingerprints by
    CORPUS frequency first (:func:`~netbase_spark.operators.dedup.
    cap_keys`; audit: ``over_cap(corpus_fps, ["fp"], fp_cap)``) — a
    license header shared by millions of training docs is noise, not
    contamination.

    Returns (doc_id, eval_id, shared).
    """
    corpus_fps = cap_keys(corpus_fps, ["fp"], fp_cap)
    ev = F.broadcast(
        eval_fps.select(F.col("doc_id").alias("eval_id"), "fp")
    )
    return (
        corpus_fps.join(ev, "fp")
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


def contaminated_doc_ids(pairs: DataFrame) -> DataFrame:
    """Distinct corpus doc ids flagged by :func:`decontamination_pairs`
    — the drop set for the cleaning filter."""
    return pairs.select("doc_id").distinct()


def domain_quota(
    docs: DataFrame,
    cap: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``cap`` documents per domain — the anti-monoculture
    quota of a corpus mixture (one crawl host must not dominate the
    training set).  Deterministic survivor choice: rank by
    (md5(id), id) inside the domain, so the SAME subset survives on any
    cluster size / partitioning / re-run (the md5 key makes the pick
    uniform over the domain rather than biased to low ids).

    One domain-keyed window.  A single domain's rows land in one task;
    at web scale with 10^8-doc hot domains, pre-thin them first with
    :func:`sample_stratified` (fraction ~ cap/count) and let this exact
    cap finish the job — the quota output is <= cap * n_domains rows
    either way.
    """
    w = Window.partitionBy(domain_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        docs.withColumn("_qr", F.row_number().over(w))
        .where(F.col("_qr") <= cap)
        .drop("_qr")
    )


def repetition_stats(
    docs: DataFrame, n: int = 2, text_col: str = "text"
) -> DataFrame:
    """Intra-document repetition (the Gopher-style duplicate-n-gram
    quality rule): (doc_id, total_ngrams, distinct_ngrams, dup_ratio_e6)
    where dup_ratio_e6 = floor((total-distinct)/total * 1e6) — text
    whose n-grams repeat heavily (generated spam, navigation chrome,
    keyword stuffing) scores high and gets dropped by the cleaning
    filter.  Pure higher-order array exprs, map-side only, zero
    shuffles; docs with fewer than ``n`` tokens report zero n-grams.
    """
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
    d = docs.select("doc_id", toks.alias("t"))
    grams = F.when(F.size("t") < n, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size("t") - (n - 1)),
            lambda i: F.array_join(F.slice(F.col("t"), i, n), " "),
        )
    )
    g = d.select("doc_id", grams.alias("g"))
    total = F.size("g").cast("long")
    distinct = F.size(F.array_distinct("g")).cast("long")
    return g.select(
        "doc_id",
        total.alias("total_ngrams"),
        distinct.alias("distinct_ngrams"),
        F.when(total == 0, F.lit(0).cast("long"))
        .otherwise(F.floor((total - distinct) / total * 1e6))
        .alias("dup_ratio_e6"),
    )


PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}[- ]\d{3}[- ]\d{4}\b"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII detection + redaction for training corpora: (doc_id,
    n_emails, n_phones, n_ipv4, redacted) with each match class
    replaced by a typed placeholder token.

    Pure JVM column expressions (regexp_extract_all + regexp_replace
    inside whole-stage codegen), map-side only, zero shuffles — the
    same patterns compile identically under Java regex and RE2, so the
    DuckDB oracle is bit-equal.  Counts are taken on the ORIGINAL text;
    redaction order (email -> ipv4 -> phone) means the later patterns
    never see digits freed by an earlier replacement.
    """
    t = F.col(text_col)

    def n_matches(pat):
        # F.lit pattern (not F.expr SQL text): the \b\d escapes must
        # reach the Java regex compiler unmangled by SQL-literal parsing
        return F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))

    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        n_matches(PII_EMAIL).alias("n_emails"),
        n_matches(PII_PHONE).alias("n_phones"),
        n_matches(PII_IPV4).alias("n_ipv4"),
        redacted.alias("redacted"),
    )


def boilerplate_lines(
    docs: DataFrame,
    sep: str = "\n",
    min_df: int = 5,
    cap: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-frequent lines (CCNet/RefinedWeb boilerplate rule):
    (line, df) for every line occurring in >= ``min_df`` distinct
    documents, deterministically capped to the ``cap`` hottest
    (df desc, line asc) so the set stays broadcastable at any corpus
    size.  One explode + one agg shuffle on the line value; map-side
    combine applies because array_distinct pre-dedups within the doc.
    """
    import re as _re

    lines = F.split(F.col(text_col), _re.escape(sep))
    return (
        docs.select(F.explode(F.array_distinct(lines)).alias("line"))
        .where(F.col("line") != "")
        .groupBy("line")
        .agg(F.count("*").cast("long").alias("df"))
        .where(F.col("df") >= min_df)
        .orderBy(F.col("df").desc(), F.col("line"))
        .limit(cap)
    )


def strip_boilerplate(
    docs: DataFrame,
    sep: str = "\n",
    min_df: int = 5,
    cap: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove corpus-frequent lines from every document: (doc_id,
    n_lines, n_removed, clean_fp) where clean_fp = md5 of the document
    re-joined WITHOUT its boilerplate lines (order and intra-doc
    duplicates of surviving lines preserved).

    Scale shape: the boilerplate set from :func:`boilerplate_lines` is
    bounded by ``cap``, collapsed to a single array row and broadcast
    into a literal crossJoin; per-document removal is then a map-side
    higher-order ``filter`` — the corpus is never re-shuffled or
    re-grouped (the naive posexplode/anti-join/re-agg plan costs two
    corpus-wide shuffles and loses intra-doc duplicate lines).
    """
    import re as _re

    bl = boilerplate_lines(docs, sep, min_df, cap, id_col, text_col)
    bl_arr = bl.agg(F.sort_array(F.collect_list("line")).alias("bl"))
    lines = F.split(F.col(text_col), _re.escape(sep))
    d = docs.select(id_col, lines.alias("ls")).crossJoin(F.broadcast(bl_arr))
    clean = F.filter("ls", lambda x: ~F.array_contains(F.col("bl"), x))
    return d.select(
        id_col,
        F.size("ls").cast("long").alias("n_lines"),
        (F.size("ls") - F.size(clean)).cast("long").alias("n_removed"),
        F.md5(F.array_join(clean, sep)).alias("clean_fp"),
    )


def unigram_logprob(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unigram language-model quality score (the CCNet/Gopher
    perplexity-filter analog a training pipeline runs when a full LM is
    too expensive): fit unigram probabilities on the corpus itself, then
    score each document by its mean token log-probability — documents of
    improbable gibberish score far below fluent ones.

    Returns (doc_id, n_tokens, mean_lp_e6) where each token's
    ``ln(count/total)`` is e6-floored FIRST and the per-doc mean is then
    floored — integer token scores make the cross-engine compare exact
    (a doubles-all-the-way mean would be aggregation-order sensitive;
    the integer-valued double mean stays EXACT and order-free while the
    per-doc sum is < 2^53, i.e. docs up to ~10^8 tokens).  Residual
    caveat (round-2 ADVICE): the per-token ``ln`` is transcendental —
    JVM Math.log (1-ulp spec) vs DuckDB libm could floor differently
    within 1 ulp of an e6 boundary.  That is a fixed per-(count, total)
    value, not a run-to-run flake; accepted and documented (same note
    as tfidf_top_terms).

    Scale shape: one token-keyed agg (map-side combine) to fit the
    vocab, one token-keyed join to score (hot stopword keys are bounded
    by the partial aggregation on the count side; the scored join's
    skew is inherent to token frequency — salt the join if one token
    exceeds a partition, same discipline as node_degrees).
    """
    toks = docs.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).where(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count("*").cast("double").alias("c"))
    tot = vocab.agg(F.sum("c").alias("t"))
    lp = vocab.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(F.log(F.col("c") / F.col("t")) * 1e6)
        .cast("long")
        .alias("lp_e6"),
    )
    return (
        toks.join(lp, "tok")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.floor(F.avg("lp_e6")).cast("long").alias("mean_lp_e6"),
        )
    )


def shard_pack(
    docs: DataFrame,
    budget_tokens: int = 100_000,
    group_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic token-budget shard assignment for training-data
    export: documents are packed, in (group, order) order, into shards
    of ~``budget_tokens`` whitespace tokens; a doc goes to the shard
    its running total STARTS in, so every shard except a group's last
    holds >= budget tokens and doc order inside a shard is stable.

    Returns (doc_id, source, n_tokens, shard_no) — shard identity is
    (group, shard_no), reproducible on any cluster size/partitioning.

    Scale shape: one window keyed by ``group_col`` — the packing sort
    is PER GROUP (source/domain), never a corpus-wide global sort (a
    single-partition window is the audit's no-go); groups are
    independent, so skewed hot sources bound the critical path but not
    the other partitions.  All integer arithmetic — exact on any
    engine.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tok = F.size(F.split(F.col(text_col), " ")).cast("long")
    d = docs.select(order_col, group_col, n_tok.alias("n_tokens"))
    cum = F.sum("n_tokens").over(w)
    # integer floor division (SQL `div`), NOT float `/` + cast: the
    # float path is double-rounded and goes inexact past 2^53
    # cumulative tokens — the pagerank fixed-point discipline applies
    # to shard boundaries too (oracle mirrors with DuckDB `//`)
    return d.select(
        order_col,
        group_col,
        "n_tokens",
        (cum - F.col("n_tokens")).alias("_started"),
    ).select(
        order_col,
        group_col,
        "n_tokens",
        F.expr(f"_started div {int(budget_tokens)}")
        .cast("long")
        .alias("shard_no"),
    )
