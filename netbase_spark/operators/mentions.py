"""Gazetteer mention detection over interleaved documents.

Reference: ``findEntites`` sliding-window hash probes + minimal stemming
+ blacklist + longest-match filter (src/query.cpp:1980-2063, 1912-1942).

Spark-first design: text assembly per doc (ordered concat of
kind='text' spans) happens JVM-side with array functions so only the
final string crosses into Arrow, and every arm uses the same rule
module as the oracle (single source of truth for semantics).

A :class:`Gazetteer` is prepared ONCE from the alias table, the
blacklist and ``german`` and owns the one broadcast-vs-shuffle choice
(the ``collect_under_cap`` gate in :meth:`Gazetteer.prepare`):

- under the broadcast cap the arm is a ``sc.broadcast`` of (alias
  structure, token trie, blacklist, max alias words): serialized ONCE
  per executor via the block manager, NOT per task closure, and the
  doc side is one ``mapInPandas`` with no join and no shuffle.  The
  kernel is ``rules.find_mentions_trie``, a token-level goto trie — the
  Aho-Corasick goto function for this window grammar, property-tested
  equal to the naive transcription ``rules.find_mentions_naive``.
  Anchored starts + the MAX_WORDS cap make failure links useless (a
  per-start walk of depth <= 6 IS the automaton); span-level
  normalization can merge/collapse tokens, so matching stays
  span-keyed.
- above it the alias table stays a partitioned DataFrame and the same
  rules run as a probe-key shuffle join (the fallback section below).

Both arms hand per-document candidate lists to one output stage
(:func:`_emit`): mention rows, or the fused scan -> link -> canonicalize
MENTIONED_IN triples.  The UDF closures capture only broadcast handles
and scalars, never the gazetteer object: round 1 embedded the alias map
in the closure, which at 10^7-10^8 aliases re-serializes a multi-GB
closure with every task;
tests/test_pipeline_pr.py::test_scan_closure_stays_small_at_100k_aliases
pins the fix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from netbase_spark.schemas import MENTIONS_SCHEMA, TRIPLES_SCHEMA


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


class Gazetteer:
    """A prepared gazetteer: one arm of the scan, built once and reused
    across any number of document batches (the reference loads its
    shared-memory DB once at startup, src/init.cpp:362, and scans any
    number of queries against it).

    Exactly one arm is set:

    - ``bc``: the broadcast payload (alias structure, token trie,
      blacklist, max alias words).  The alias structure is a dict
      alias -> entity, or a set of names for mention-only scans;
    - ``table``: the (alias_key[, entity]) DataFrame of the shuffle
      arm, with ``ft_bc``, its first-token pre-filter (None when even
      the filter is over the cap), and ``max_words``, the longest
      alias's word count, computed here once rather than per scan."""

    __slots__ = ("blacklist", "german", "bc", "table", "ft_bc", "max_words")

    def __init__(self, blacklist, german=False, bc=None, table=None,
                 ft_bc=None, max_words=0):
        self.blacklist = frozenset(blacklist)
        self.german = german
        self.bc = bc
        self.table = table
        self.ft_bc = ft_bc
        self.max_words = max_words

    @classmethod
    def prepare(cls, alias_entity: DataFrame, blacklist, german=False,
                cap_bytes: int | None = None) -> Gazetteer:
        """The size gate over an (alias_key, entity) table, in ONE job
        (``broadcast_gate.collect_under_cap``): under the cap the rows
        become the broadcast arm's dict; above it the table is
        checkpointed for the shuffle arm — the reference's fixed
        2*maxNodes Ahash assumption (src/netbase.cpp:159-228) does not
        survive 10^8 aliases."""
        from netbase_spark.plans.broadcast_gate import collect_under_cap

        rows = collect_under_cap(alias_entity, cap_bytes)
        if rows is None:
            return cls.shuffle(alias_entity.localCheckpoint(), blacklist, german)
        amap = {r["alias_key"]: r["entity"] for r in rows}
        return cls.broadcast(alias_entity.sparkSession, amap, blacklist, german)

    @classmethod
    def broadcast(cls, spark, aliases, blacklist, german=False) -> Gazetteer:
        """The broadcast arm over a driver-side dict alias -> entity (or
        a set of alias names).  The trie (rules.build_token_trie) is
        built on the driver so every executor deserializes the finished
        structure."""
        from netbase_spark.oracle.rules import build_token_trie, max_alias_word_count

        keys = aliases.keys() if isinstance(aliases, dict) else aliases
        bc = spark.sparkContext.broadcast(
            (aliases, build_token_trie(keys), frozenset(blacklist),
             max_alias_word_count(keys))
        )
        return cls(blacklist, german, bc=bc)

    @classmethod
    def shuffle(cls, table: DataFrame, blacklist, german=False) -> Gazetteer:
        """The shuffle arm over an alias table with an ``alias_key``
        column (and ``entity`` for triple scans) that NEVER reaches the
        driver: two dimension-sized jobs, the first-token filter and the
        max alias word count."""
        row = table.select(
            F.max(F.size(F.split(F.col("alias_key"), " "))).alias("m")
        ).first()
        return cls(blacklist, german, table=table,
                   ft_bc=first_token_hash_filter(table),
                   max_words=int(row["m"] or 0))

    def scan(self, texts: DataFrame, triples: bool = False,
             distinct_per_doc: bool = False) -> DataFrame:
        """texts(doc_id, text) -> mentions(doc_id, alias_key, start_word,
        n_words), or with ``triples`` the canonical MENTIONED_IN triples
        (subj=entity, obj=doc_id), per-doc distinct on the entity.

        Longest-match filtering (filterCandidates) is applied per
        document, exactly as the reference does per query string.
        ``distinct_per_doc`` dedupes (doc, alias) mentions INSIDE the
        scan (first occurrence kept): a doc's mentions all live in its
        own batch, so per-doc dedup IS global dedup and no downstream
        ``dropDuplicates`` shuffle is needed."""
        schema = TRIPLES_SCHEMA if triples else MENTIONS_SCHEMA
        texts = texts.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
        if self.bc is not None:
            return texts.mapInPandas(
                _trie_scan(self.bc, self.german, triples, distinct_per_doc),
                schema=schema,
            )
        keys = self.table.select(
            F.col("alias_key").alias("probe_key"), *(["entity"] if triples else [])
        ).where(F.col("probe_key").isNotNull() & (F.col("probe_key") != ""))
        if not triples:
            keys = keys.distinct()
        probes = _probe_frame(texts, self.german, self.max_words, self.ft_bc)
        return _per_doc_stream(
            probes.join(keys, "probe_key"),
            _resolve(self.blacklist, self.german, triples, distinct_per_doc),
            schema,
        )

    def remap(self, changed: DataFrame, rep_of: dict | None) -> Gazetteer:
        """The gazetteer after a canonical-map delta (``changed``: (node,
        rep) rows; ``rep_of``: the same delta on the driver): alias ->
        entity values route through it, untouched entities stay.  The
        broadcast arm remaps its dict and REUSES the trie — the alias key
        set is unchanged, and rebuilding it is the O(gazetteer) driver
        cost the incremental loop exists to avoid (minutes at 10^7-10^8
        aliases, BENCH/gazetteer_scale_probe.json); the old broadcast is
        released, so that arm needs ``rep_of``.  The shuffle arm joins
        the delta (size-gated broadcast) and checkpoints; its first-token
        filter survives, since alias KEYS are unchanged.
        Reference semantics: ``mergeNode`` rewrites ids in place and
        later lookups see the merged node (src/netbase.cpp:2610-2638)."""
        if self.bc is not None:
            if rep_of is None:
                raise ValueError("the broadcast gazetteer remaps from a driver-side delta")
            amap, *rest = self.bc.value
            bc = changed.sparkSession.sparkContext.broadcast(
                ({k: rep_of.get(v, v) for k, v in amap.items()}, *rest)
            )
            self.bc.unpersist()
            return Gazetteer(self.blacklist, self.german, bc=bc)
        from netbase_spark.plans.broadcast_gate import gated_broadcast

        d = gated_broadcast(
            changed.select(F.col("node").alias("entity"), F.col("rep").alias("_r"))
        )
        table = (
            self.table.join(d, "entity", "left")
            .select("alias_key", F.coalesce("_r", "entity").alias("entity"))
            .localCheckpoint()
        )
        return Gazetteer(self.blacklist, self.german, table=table,
                         ft_bc=self.ft_bc, max_words=self.max_words)


def _emit(docs, triples: bool, distinct_per_doc: bool):
    """The one output stage of both arms: ``docs`` yields (doc_id,
    candidates, alias -> entity map) per document; returns the pandas
    batch of mention rows, or of MENTIONED_IN triples."""
    import pandas as pd

    if triples:
        from netbase_spark.relations import MENTIONED_IN

        out_s, out_o = [], []
        for doc_id, cands, ent_of in docs:
            seen: set[str] = set()
            for key, _i, _n in cands:
                ent = ent_of[key]
                # self-loop guard: parity with rewrite_triples' subj !=
                # obj filter on the staged path
                if ent != doc_id and ent not in seen:
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
    out_doc, out_key, out_start, out_n = [], [], [], []
    for doc_id, cands, _ in docs:
        if distinct_per_doc:
            seen = set()
            cands = [c for c in cands if c[0] not in seen and not seen.add(c[0])]
        for key, i, n in cands:
            out_doc.append(doc_id)
            out_key.append(key)
            out_start.append(i)
            out_n.append(n)
    return pd.DataFrame(
        {
            "doc_id": out_doc,
            "alias_key": out_key,
            "start_word": pd.Series(out_start, dtype="int32"),
            "n_words": pd.Series(out_n, dtype="int32"),
        }
    )


def _trie_scan(bc, german: bool, triples: bool, distinct_per_doc: bool):
    """The broadcast arm's mapInPandas body: the trie walk per doc.
    Captures ONLY the broadcast handle and scalars."""

    def scan(batches):
        from netbase_spark.oracle.rules import filter_candidates, find_mentions_trie

        amap, trie, bl, maxw = bc.value
        # NOTE: window growth must stay at the reference's MAX_WORDS —
        # capping at the longest alias token count is NOT safe because
        # punctuation-produced empty tokens collapse at normalization
        # (a 3-token window can match a 2-token alias).
        for pdf in batches:
            yield _emit(
                (
                    (doc_id, filter_candidates(find_mentions_trie(
                        text or "", trie, bl, german, max_span_words=maxw
                    )), amap)
                    for doc_id, text in zip(
                        pdf["doc_id"].tolist(), pdf["text"].tolist()
                    )
                ),
                triples, distinct_per_doc,
            )

    return scan


# --- shuffle-join arm (gazetteer too large to broadcast) --------------------
#
# The broadcast arm assumes the gazetteer fits one ``sc.broadcast`` — the
# reference's own assumption (Ahash sized 2*maxNodes in RAM,
# src/netbase.cpp:159-228).  At the WikiData north-star (10^7-10^8
# aliases) the broadcast is multi-GB; this arm decomposes findEntites
# into a JOIN so the alias table stays a partitioned DataFrame:
#
#   docs --mapInPandas--> probe keys (alias-set-independent enumeration,
#        rules.enumerate_probe_keys; ~max_words probes per word)
#        --shuffle join--> partitioned alias table (hits only survive)
#        --doc_id repartition + mapInPandas--> per-doc precedence/blacklist/
#        bigram resolution + longest-match filter (rules.resolve_probe_hits
#        + filter_candidates: same rule module as the broadcast arm).
#
# Cost: one corpus-sized shuffle (probes) + one doc_id shuffle
# (resolution) that the broadcast arm avoids — the price of an unbounded
# gazetteer.  Both arms are property-tested identical
# (tests/test_mention_shuffle.py).

_PROBE_SCHEMA = (
    "doc_id string, variant string, probe_key string, "
    "start_word int, n_words int"
)


def first_token_hash_filter(aliases: DataFrame, cap_bytes: int | None = None):
    """Executor-side pre-filter for the shuffle-join scan: the CRC-32
    hashes of every ``alias_key``'s FIRST token, as an ``sc.broadcast``
    sorted int64 numpy array (8 bytes/entry — it fits a broadcast long
    after the full alias->entity table doesn't; distinct first tokens
    run 10-100x fewer than aliases on real gazetteers).

    Soundness: the join matches ``probe_key == alias_key``, which
    implies equal first tokens, which implies equal CRC-32 (JVM
    ``F.crc32`` and Python ``zlib.crc32`` are both standard CRC-32 over
    the UTF-8 bytes — parity pinned by test).  A hash collision only
    lets a doomed probe through to the join; it can never drop a live
    one.  Returns None when even the hash set exceeds the cap (the scan
    then shuffles unfiltered).

    This is the probe-side answer to the shuffle arm's cost gap vs the
    broadcast scan: ``enumerate_probe_keys`` emits ~max_words probes
    per token, nearly all of which miss the alias table; dropping them
    executor-side cuts the corpus-sized probe shuffle to the plausible
    subset before any bytes move."""
    import numpy as np

    from netbase_spark.plans.broadcast_gate import broadcast_cap_bytes

    spark = aliases.sparkSession
    cap_rows = broadcast_cap_bytes(spark, cap_bytes) // 8
    key = F.col("alias_key")
    h = (
        aliases.where(key.isNotNull() & (key != ""))
        .select(
            F.crc32(F.encode(F.element_at(F.split(key, " ", 2), 1), "UTF-8")).alias("h")
        )
        .distinct()
    )
    pdf = h.limit(min(cap_rows + 1, (1 << 31) - 2)).toPandas()
    if len(pdf) > cap_rows:
        return None
    arr = np.sort(pdf["h"].to_numpy(dtype="int64"))
    return spark.sparkContext.broadcast(arr)


def _probe_frame(
    texts: DataFrame, german: bool, max_span_words: int | None, ft_bc=None
):
    """(doc_id string, text) -> findEntites probe keys, one row each.
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

    return texts.mapInPandas(gen, schema=_PROBE_SCHEMA)


def _resolve(blacklist, german: bool, triples: bool, distinct_per_doc: bool):
    """The shuffle arm's per-batch body: each doc's join-surviving probe
    rows -> its candidate list (and, for triples, its alias -> entity
    map from the joined ``entity`` column) -> :func:`_emit`."""

    def resolve(pdf):
        from netbase_spark.oracle.rules import filter_candidates, resolve_probe_hits

        def docs():
            for doc_id, g in pdf.groupby("doc_id", sort=False):
                rows = [
                    (v, k, int(i), int(n))
                    for v, k, i, n in zip(
                        g["variant"], g["probe_key"], g["start_word"], g["n_words"]
                    )
                ]
                ent_of = dict(zip(g["probe_key"], g["entity"])) if triples else None
                cands = filter_candidates(resolve_probe_hits(rows, blacklist, german))
                yield doc_id, cands, ent_of

        return _emit(docs(), triples, distinct_per_doc)

    return resolve


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
    """texts(doc_id, text) -> mentions, on the broadcast arm over the
    driver-side ``alias_names`` (:meth:`Gazetteer.scan`)."""
    gaz = Gazetteer.broadcast(texts.sparkSession, frozenset(alias_names), blacklist, german)
    return gaz.scan(texts, distinct_per_doc=distinct_per_doc)


def detect_mentions_shuffle(
    texts: DataFrame,
    aliases: DataFrame,
    blacklist: set[str],
    german: bool = False,
    distinct_per_doc: bool = False,
) -> DataFrame:
    """Shuffle-arm twin of :func:`detect_mentions_text`: ``aliases`` is
    a DataFrame whose normalized-surface-form column ``alias_key``
    NEVER reaches the driver.  Identical output (property-tested)."""
    gaz = Gazetteer.shuffle(aliases, blacklist, german)
    return gaz.scan(texts, distinct_per_doc=distinct_per_doc)
