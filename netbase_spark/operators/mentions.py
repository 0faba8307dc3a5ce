"""Gazetteer mention detection over interleaved documents.

Reference: ``findEntites`` sliding-window hash probes + minimal stemming
+ blacklist + longest-match filter (src/query.cpp:1980-2063, 1912-1942).

Spark-first design: the document side NEVER shuffles — the scan is a
``mapInPandas`` over doc partitions.  Text assembly per doc (ordered
concat of kind='text' spans) happens JVM-side with array functions so
only the final string crosses into Arrow.  The per-batch scan uses the
same rule module as the oracle (single source of truth for semantics).

The gazetteer travels as a ``sc.broadcast`` of (alias structure, token
trie): serialized ONCE per executor via the block manager, NOT per task
closure.  Round 1 embedded the alias map in the UDF closure — at the
10^7-10^8-alias WikiData target that re-serializes a multi-GB closure
with every task and OOMs the driver;
tests/test_pipeline_pr.py::test_scan_closure_stays_small_at_100k_aliases
pins the fix.

One scan kernel fills the automaton role: ``rules.find_mentions_trie``,
a token-level goto trie — the Aho-Corasick goto function for this
window grammar, property-tested equal to the naive transcription
``rules.find_mentions_naive``.  Anchored starts + the MAX_WORDS cap make
failure links useless (a per-start walk of depth <= 6 IS the
automaton); what the trie buys is O(1) transition per safe-word
extension and early termination on dead prefixes.  A full AC automaton
over raw token streams would change semantics — span-level
normalization can merge/collapse tokens, so matching stays span-keyed.

Past the broadcast cap the same rules run as a probe-key shuffle join
(the fallback section below); ``plans/synth_pipeline.scan_batch`` is
the one place that picks between the two.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from netbase_spark.schemas import MENTIONS_SCHEMA


def doc_text(docs: DataFrame) -> DataFrame:
    """(doc_id, text): ordered space-join of text spans — JVM-side.

    Null/empty text spans are SKIPPED, matching the oracle's truthy
    filter (oracle/rules.py::oracle_triples): joining them in would
    inject empty tokens that shift word indices and consume MAX_WORDS
    window slots, making the engine miss mentions the oracle finds."""
    spans_sorted = F.array_sort(
        F.filter(
            "spans",
            lambda s: (s["kind"] == F.lit("text"))
            & s["text"].isNotNull()
            & (s["text"] != F.lit("")),
        ),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )
    txt = F.array_join(F.transform(spans_sorted, lambda s: s["text"]), " ")
    return docs.select("doc_id", txt.alias("text"))


def _broadcast_gazetteer(spark, alias_struct, blacklist):
    """One broadcast per scan: (alias struct, token trie, blacklist,
    max alias words).  The trie (rules.build_token_trie) is built on the
    driver so every executor deserializes the finished structure; for
    dict alias_structs (the fused triple scan) the alias->entity map
    rides along."""
    from netbase_spark.oracle.rules import build_token_trie, max_alias_word_count

    keys = alias_struct.keys() if isinstance(alias_struct, dict) else alias_struct
    return spark.sparkContext.broadcast(
        (alias_struct, build_token_trie(keys), frozenset(blacklist),
         max_alias_word_count(keys))
    )


def _scan_candidates(text, payload, german):
    """Run the broadcast trie over one text; returns the
    longest-match-filtered candidate list."""
    from netbase_spark.oracle.rules import filter_candidates, find_mentions_trie

    _struct, trie, bl, maxw = payload
    return filter_candidates(
        find_mentions_trie(text or "", trie, bl, german, max_span_words=maxw)
    )


def _make_mention_scan(bc, german: bool, distinct_per_doc: bool):
    """Build the mapInPandas scan function.  The returned closure
    captures ONLY the broadcast handle (asserted small by
    test_scan_closure_stays_small_at_100k_aliases)."""
    import pandas as pd

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        payload = bc.value
        # NOTE: window growth must stay at the reference's MAX_WORDS —
        # capping at the longest alias token count is NOT safe because
        # punctuation-produced empty tokens collapse at normalization
        # (a 3-token window can match a 2-token alias).
        for pdf in batches:
            out_doc, out_key, out_start, out_n = [], [], [], []
            for doc_id, text in zip(
                pdf["doc_id"].tolist(), pdf["text"].tolist()
            ):
                cands = _scan_candidates(text, payload, german)
                if distinct_per_doc:
                    seen: set[str] = set()
                    cands = [
                        c for c in cands
                        if c[0] not in seen and not seen.add(c[0])
                    ]
                for key, i, n in cands:
                    out_doc.append(doc_id)
                    out_key.append(key)
                    out_start.append(i)
                    out_n.append(n)
            yield pd.DataFrame(
                {
                    "doc_id": out_doc,
                    "alias_key": out_key,
                    "start_word": pd.Series(out_start, dtype="int32"),
                    "n_words": pd.Series(out_n, dtype="int32"),
                }
            )

    return scan


def detect_mentions(
    docs: DataFrame,
    alias_names: list[str],
    blacklist: set[str],
    german: bool = False,
    distinct_per_doc: bool = False,
) -> DataFrame:
    """docs(doc_id, spans) -> mentions(doc_id, alias_key, start_word, n_words)."""
    return detect_mentions_text(
        doc_text(docs), alias_names, blacklist, german, distinct_per_doc
    )


def detect_mentions_text(
    texts: DataFrame,
    alias_names: list[str],
    blacklist: set[str],
    german: bool = False,
    distinct_per_doc: bool = False,
) -> DataFrame:
    """texts(doc_id, text) -> mentions(doc_id, alias_key, start_word, n_words).

    Longest-match filtering (filterCandidates) is applied per document
    inside the batch, exactly as the reference does per query string.

    ``distinct_per_doc`` dedupes (doc, alias) INSIDE the scan (first
    occurrence kept) — the linking path needs only distinct pairs, and
    deduping here instead of a downstream ``dropDuplicates`` removes the
    only shuffle on the doc side (a doc's mentions all live in its own
    scan batch, so per-doc dedup IS global dedup).
    """
    bc = _broadcast_gazetteer(texts.sparkSession, frozenset(alias_names), blacklist)
    scan = _make_mention_scan(bc, german, distinct_per_doc)
    return texts.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    ).mapInPandas(scan, schema=MENTIONS_SCHEMA)


def _make_triple_scan(bc, german: bool = False):
    """Fused scan->link->canonicalize closure; captures only the
    broadcast handle (plus the german flag)."""
    import pandas as pd

    from netbase_spark.relations import MENTIONED_IN

    def scan(batches):
        payload = bc.value
        amap = payload[0]  # alias -> final-entity map rides the payload
        for pdf in batches:
            out_s, out_o = [], []
            for doc_id, text in zip(
                pdf["doc_id"].tolist(), pdf["text"].tolist()
            ):
                cands = _scan_candidates(text, payload, german)
                seen: set[str] = set()
                for key, _i, _n in cands:
                    ent = amap[key]
                    # self-loop guard: parity with rewrite_triples'
                    # subj != obj filter on the staged path
                    if ent != doc_id and ent not in seen:
                        seen.add(ent)
                        out_s.append(ent)
                        out_o.append(doc_id)
            n = len(out_s)
            yield pd.DataFrame(
                {
                    "subj": out_s,
                    "rel": pd.Series([MENTIONED_IN] * n, dtype="int32"),
                    "obj": out_o,
                    "rule": ["mention"] * n,
                    "doc_id": out_o,
                }
            )

    return scan


def prepare_triple_scan(
    spark,
    alias_to_entity: dict[str, str],
    blacklist: set[str],
):
    """Build the fused-scan gazetteer broadcast ONCE and return the
    handle for reuse across :func:`scan_mention_triples_prepared` calls.

    Building the automaton (trie over every surface form) and shipping
    the broadcast is O(gazetteer) work — trivial at fixture scale but
    minutes of driver CPU + multi-GB of broadcast traffic at the
    WikiData north-star (10^7-10^8 aliases).  A deployment constructs
    over a STREAM of document batches against a fixed gazetteer (the
    reference loads its shared-memory DB once at startup,
    src/init.cpp:362, and scans any number of queries against it);
    re-broadcasting per batch would dominate micro-batch latency, so
    the prepared handle is the batch-loop API."""
    return _broadcast_gazetteer(spark, dict(alias_to_entity), blacklist)


def remap_scan_entities(spark, bc, rep_of: dict[str, str]):
    """Refresh a :func:`prepare_triple_scan` broadcast after a canonical-
    map delta: alias -> entity values route through ``rep_of`` (old rep
    -> new rep); aliases whose entity is untouched keep it.  The token
    trie is REUSED — the alias key set is unchanged, and rebuilding it
    is the O(gazetteer) driver cost the incremental loop exists to avoid
    (minutes at 10^7-10^8 aliases, BENCH/gazetteer_scale_probe.json).  The old broadcast is released.
    Reference semantics: ``mergeNode`` rewrites ids in place and later
    lookups see the merged node (src/netbase.cpp:2610-2638)."""
    payload = bc.value
    amap = payload[0]
    if not isinstance(amap, dict):
        raise ValueError("broadcast does not carry an alias->entity map")
    new_map = {k: rep_of.get(v, v) for k, v in amap.items()}
    new_payload = (new_map,) + tuple(payload[1:])
    out = spark.sparkContext.broadcast(new_payload)
    bc.unpersist()
    return out


def scan_mention_triples_prepared(
    docs: DataFrame, bc, german: bool = False
) -> DataFrame:
    """Fused scan against a :func:`prepare_triple_scan` handle — the
    per-batch half of the split: one mapInPandas over doc partitions,
    zero doc-side joins/shuffles, no driver work besides plan assembly."""
    from netbase_spark.schemas import TRIPLES_SCHEMA

    scan = _make_triple_scan(bc, german)
    return (
        doc_text(docs)
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
        .mapInPandas(scan, schema=TRIPLES_SCHEMA)
    )


# --- shuffle-join fallback (gazetteer too large to broadcast) ---------------
#
# Every path above assumes the gazetteer fits one ``sc.broadcast`` — the
# reference's own assumption (Ahash sized 2*maxNodes in RAM,
# src/netbase.cpp:159-228).  At the WikiData north-star (10^7-10^8
# aliases) the broadcast is multi-GB; the fallback decomposes findEntites
# into a JOIN so the alias table stays a partitioned DataFrame:
#
#   docs --mapInPandas--> probe keys (alias-set-independent enumeration,
#        rules.enumerate_probe_keys; ~max_words probes per word)
#        --shuffle join--> partitioned alias table (hits only survive)
#        --groupBy(doc_id).applyInPandas--> per-doc precedence/blacklist/
#        bigram resolution + longest-match filter (rules.resolve_probe_hits
#        + filter_candidates: same rule module as the broadcast path).
#
# Cost: one corpus-sized shuffle (probes) + one doc_id shuffle
# (resolution) that the broadcast path avoids — the price of an unbounded
# gazetteer.  Both paths are property-tested identical
# (tests/test_mention_shuffle.py); plans/synth_pipeline.scan_artifacts
# picks per input size via plans.broadcast_gate.

_PROBE_SCHEMA = (
    "doc_id string, variant string, probe_key string, "
    "start_word int, n_words int"
)


def first_token_hash_filter(
    aliases: DataFrame, alias_col: str = "alias_key", cap_bytes: int | None = None
):
    """Executor-side pre-filter for the shuffle-join scan: the CRC-32
    hashes of every alias's FIRST token, as an ``sc.broadcast`` sorted
    int64 numpy array (8 bytes/entry — it fits a broadcast long after
    the full alias->entity table doesn't; distinct first tokens run
    10-100x fewer than aliases on real gazetteers).

    Soundness: the join matches ``probe_key == alias_key``, which
    implies equal first tokens, which implies equal CRC-32 (JVM
    ``F.crc32`` and Python ``zlib.crc32`` are both standard CRC-32 over
    the UTF-8 bytes — parity pinned by test).  A hash collision only
    lets a doomed probe through to the join; it can never drop a live
    one.  Returns None when even the hash set exceeds the cap (callers
    then shuffle unfiltered, the previous behavior).

    This is the probe-side answer to the shuffle path's cost gap vs the
    broadcast scan: ``enumerate_probe_keys`` emits ~max_words probes
    per token, nearly all of which miss the alias table; dropping them
    executor-side cuts the corpus-sized probe shuffle to the plausible
    subset before any bytes move."""
    import numpy as np

    from netbase_spark.plans.broadcast_gate import broadcast_cap_bytes

    spark = aliases.sparkSession
    cap_rows = broadcast_cap_bytes(spark, cap_bytes) // 8
    h = (
        aliases.where(
            F.col(alias_col).isNotNull() & (F.col(alias_col) != "")
        )
        .select(
            F.crc32(
                F.encode(
                    F.element_at(F.split(F.col(alias_col), " ", 2), 1), "UTF-8"
                )
            ).alias("h")
        )
        .distinct()
    )
    pdf = h.limit(min(cap_rows + 1, (1 << 31) - 2)).toPandas()
    if len(pdf) > cap_rows:
        return None
    arr = np.sort(pdf["h"].to_numpy(dtype="int64"))
    return spark.sparkContext.broadcast(arr)


def _max_alias_words(aliases: DataFrame, alias_col: str) -> int:
    """max word count over the alias table — the scalar pruning hint of
    rules.max_alias_word_count, computed as one cheap agg job."""
    row = aliases.select(
        F.max(F.size(F.split(F.col(alias_col), " "))).alias("m")
    ).first()
    return int(row["m"]) if row and row["m"] is not None else 0


def _probe_frame(
    texts: DataFrame, german: bool, max_span_words: int | None, ft_bc=None
):
    """(doc_id, text) -> findEntites probe keys, one row each.
    Alias-set-independent by default; with ``ft_bc`` (a
    :func:`first_token_hash_filter` broadcast) probes whose first token
    hashes outside the alias first-token set are dropped BEFORE the
    shuffle — pure pruning, the join would discard them anyway."""

    def gen(batches):
        import zlib

        import numpy as np
        import pandas as pd

        from netbase_spark.oracle.rules import enumerate_probe_keys

        arr = ft_bc.value if ft_bc is not None else None
        # per-partition memo: distinct first tokens are vocabulary-
        # bounded, so this stays small relative to the probe stream
        memo: dict[str, bool] = {}

        def tok_ok(tok: str) -> bool:
            v = memo.get(tok)
            if v is None:
                hh = zlib.crc32(tok.encode("utf-8"))
                j = int(np.searchsorted(arr, hh))
                v = bool(j < arr.size and arr[j] == hh)
                memo[tok] = v
            return v

        first_token_ok = tok_ok if arr is not None else None
        for pdf in batches:
            d, v, k, s, n = [], [], [], [], []
            for doc_id, text in zip(pdf["doc_id"].tolist(), pdf["text"].tolist()):
                for variant, key, i, nw in enumerate_probe_keys(
                    text or "", german, max_span_words=max_span_words,
                    first_token_ok=first_token_ok,
                ):
                    d.append(doc_id)
                    v.append(variant)
                    k.append(key)
                    s.append(i)
                    n.append(nw)
            yield pd.DataFrame(
                {
                    "doc_id": d,
                    "variant": v,
                    "probe_key": k,
                    "start_word": pd.Series(s, dtype="int32"),
                    "n_words": pd.Series(n, dtype="int32"),
                }
            )

    return texts.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    ).mapInPandas(gen, schema=_PROBE_SCHEMA)


def _resolve_rows(pdf, blacklist, german, distinct_per_doc):
    """One doc's join-surviving probe rows -> final candidate list."""
    from netbase_spark.oracle.rules import filter_candidates, resolve_probe_hits

    rows = [
        (v, k, int(i), int(n))
        for v, k, i, n in zip(
            pdf["variant"], pdf["probe_key"], pdf["start_word"], pdf["n_words"]
        )
    ]
    cands = filter_candidates(resolve_probe_hits(rows, blacklist, german))
    if distinct_per_doc:
        seen: set[str] = set()
        cands = [c for c in cands if c[0] not in seen and not seen.add(c[0])]
    return cands


def _per_doc_stream(hits: DataFrame, batch_fn, out_schema) -> DataFrame:
    """Per-document resolution as a partition STREAM instead of
    ``groupBy(doc_id).applyInPandas``: hash-repartition on doc_id (the
    same single shuffle the grouped-map form pays), locally sort so a
    doc's rows are contiguous, then ONE ``mapInPandas`` whose generator
    carries the batch-final doc over to the next Arrow batch and hands
    whole batches to ``batch_fn`` (which does a vectorized pandas
    groupby).  The grouped-map form spins up one Python/Arrow
    round-trip per GROUP — measured ~10 s of pure per-group overhead
    for ~8k tiny groups at sf0.1, two thirds of the whole fallback
    scan; this form pays one pandas groupby per ~10k-row batch."""
    import pandas as pd

    def run(batches):
        pending = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            last = pdf["doc_id"].iloc[-1]
            mask = pdf["doc_id"] == last
            pending = pdf[mask]
            body = pdf[~mask]
            if len(body):
                yield batch_fn(body)
        if pending is not None and len(pending):
            yield batch_fn(pending)

    return (
        hits.repartition("doc_id")
        .sortWithinPartitions("doc_id")
        .mapInPandas(run, schema=out_schema)
    )


def detect_mentions_shuffle(
    texts: DataFrame,
    aliases: DataFrame,
    blacklist: set[str],
    german: bool = False,
    distinct_per_doc: bool = False,
    alias_col: str = "alias_key",
    ft_bc="auto",
) -> DataFrame:
    """Shuffle-join twin of :func:`detect_mentions_text`: ``aliases`` is
    a DataFrame with a normalized-surface-form column ``alias_col`` that
    NEVER reaches the driver.  Identical output (property-tested).

    ``ft_bc``: first-token pre-filter — ``"auto"`` builds one from the
    alias table (:func:`first_token_hash_filter`; two dimension-sized
    jobs), ``None`` disables it, or pass a prepared broadcast handle to
    amortize the build across batches."""
    bl = frozenset(blacklist)
    maxw = _max_alias_words(aliases, alias_col)
    if ft_bc == "auto":
        ft_bc = first_token_hash_filter(aliases, alias_col)
    probes = _probe_frame(texts, german, maxw, ft_bc)
    akeys = (
        aliases.select(F.col(alias_col).alias("probe_key"))
        .where(F.col("probe_key").isNotNull() & (F.col("probe_key") != ""))
        .distinct()
    )
    hits = probes.join(akeys, "probe_key")

    def resolve_batch(pdf):
        import pandas as pd

        d, k, s, n = [], [], [], []
        for doc_id, g in pdf.groupby("doc_id", sort=False):
            for key, i, nw in _resolve_rows(g, bl, german, distinct_per_doc):
                d.append(doc_id)
                k.append(key)
                s.append(i)
                n.append(nw)
        return pd.DataFrame(
            {
                "doc_id": d,
                "alias_key": k,
                "start_word": pd.Series(s, dtype="int32"),
                "n_words": pd.Series(n, dtype="int32"),
            }
        )

    return _per_doc_stream(hits, resolve_batch, MENTIONS_SCHEMA)


def scan_mention_triples_shuffle(
    docs: DataFrame,
    alias_entity: DataFrame,
    blacklist: set[str],
    german: bool = False,
    ft_bc=None,
) -> DataFrame:
    """Shuffle-join twin of :func:`scan_mention_triples_prepared`:
    ``alias_entity`` is a DataFrame (alias_key, entity) — the rank-1 x
    canonical composition of :func:`~netbase_spark.operators.linking.
    alias_entity_table` — joined instead of driver-collected.  Identical
    triples (property-tested).  ``ft_bc`` is a prepared
    :func:`first_token_hash_filter` handle (or None: no pre-filter),
    built once per gazetteer, not per batch."""
    from netbase_spark.schemas import TRIPLES_SCHEMA

    bl = frozenset(blacklist)
    maxw = _max_alias_words(alias_entity, "alias_key")
    probes = _probe_frame(doc_text(docs), german, maxw, ft_bc)
    amap = alias_entity.select(
        F.col("alias_key").alias("probe_key"), "entity"
    ).where(F.col("probe_key").isNotNull() & (F.col("probe_key") != ""))
    hits = probes.join(amap, "probe_key")

    def resolve_batch(pdf):
        import pandas as pd

        from netbase_spark.relations import MENTIONED_IN

        out_s, out_o = [], []
        for doc_id, g in pdf.groupby("doc_id", sort=False):
            ent_of = dict(zip(g["probe_key"], g["entity"]))
            seen: set[str] = set()
            for key, _i, _n in _resolve_rows(g, bl, german, distinct_per_doc=False):
                ent = ent_of[key]
                if ent != doc_id and ent not in seen:  # self-loop guard parity
                    seen.add(ent)
                    out_s.append(ent)
                    out_o.append(doc_id)
        n = len(out_s)
        return pd.DataFrame(
            {
                "subj": out_s,
                "rel": pd.Series([MENTIONED_IN] * n, dtype="int32"),
                "obj": out_o,
                "rule": ["mention"] * n,
                "doc_id": out_o,
            }
        )

    return _per_doc_stream(hits, resolve_batch, TRIPLES_SCHEMA)
