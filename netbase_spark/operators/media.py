"""Multimodal span handling: media columns as opaque binary/ref columns
with typed metadata, decode/feature-extract as Arrow-batched UDFs.

The reference stores image triples keyed by md5 commons URLs
(``formatImage``, src/netbase.cpp:2455-2467; src/import.cpp:148-282) —
media is metadata + a content reference, never inline decoding.  We keep
that model: ``media_ref`` strings (and optionally ``binary`` payload
columns) flow through the pipeline untouched; decode happens in
``mapInPandas`` at the edge.

The actual byte decoding (image/audio/video libs) is NOT available in
this container — ``decode_media_batch`` is the real Spark plumbing
(schema, batching, partition behavior) around a decode core that is
either the real library (guarded import) or a clearly-marked
deterministic fake derived from md5(media_ref), so tests and oracles
are stable.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("content_fp", T.StringType()),
    ]
)


def _decode_core(kind: str, ref: str, payload: bytes | None):
    """Decode one media item -> (width, height, duration_ms, fp).

    Real decoding requires PIL/ffmpeg (absent here); the deterministic
    fake derives metadata from md5(ref) so the Spark plumbing is fully
    testable and oracle-checkable.  Swap this core for the real decoder
    on a cluster with the libs installed.
    """
    try:  # pragma: no cover - libs absent in this sandbox
        import PIL.Image  # noqa: F401

        raise NotImplementedError("real decode path not wired in sandbox")
    except ImportError:
        pass
    import hashlib

    h = hashlib.md5((ref or "").encode()).hexdigest()
    width = int(h[:4], 16) % 4096 if kind == "image" else None
    height = int(h[4:8], 16) % 4096 if kind == "image" else None
    duration = int(h[8:12], 16) % 600000 if kind in ("audio", "video") else None
    return width, height, duration, h


def media_spans(docs: DataFrame) -> DataFrame:
    """Flatten non-text spans: (doc_id, span_idx, kind, media_ref).
    JVM-side explode; media rows are typically a small fraction, and the
    filter prunes before the UDF stage."""
    return (
        docs.select("doc_id", F.posexplode("spans").alias("span_idx", "s"))
        .where(F.col("s.kind") != "text")
        .select(
            "doc_id",
            "span_idx",
            F.col("s.kind").alias("kind"),
            F.col("s.media_ref").alias("media_ref"),
        )
    )


def decode_media(media: DataFrame) -> DataFrame:
    """media(doc_id, kind, media_ref) -> typed metadata features.
    Arrow-batched mapInPandas — one python worker round-trip per batch,
    never per row."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                _decode_core(k, r, None)
                for k, r in zip(pdf["kind"], pdf["media_ref"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype(str),
                    "media_ref": pdf["media_ref"],
                    "kind": pdf["kind"],
                    "width": pd.Series([r[0] for r in rows], dtype="Int32"),
                    "height": pd.Series([r[1] for r in rows], dtype="Int32"),
                    "duration_ms": pd.Series([r[2] for r in rows], dtype="Int32"),
                    "content_fp": [r[3] for r in rows],
                }
            )

    return media.select(
        F.col("doc_id").cast("string").alias("doc_id"), "kind", "media_ref"
    ).mapInPandas(run, schema=MEDIA_FEATURES_SCHEMA)


def resize_plan(features: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize planning over decoded metadata: aspect-preserving target
    dims with the longest side clamped to ``max_side`` (no upscale) and
    a thumb ref per item.  The dimension math and ref naming are the
    real Spark-side plumbing (pure JVM column exprs — integer division
    so the oracle reproduces it exactly); pixel resampling itself is
    the decoder core's job and stays stubbed in this sandbox like
    ``_decode_core``.
    """
    m = F.greatest("width", "height")
    scale = m > max_side
    return features.where(
        F.col("width").isNotNull() & F.col("height").isNotNull()
    ).select(
        "doc_id",
        "media_ref",
        "width",
        "height",
        F.when(scale, F.expr(f"(width * {max_side}) div greatest(width, height)"))
        .otherwise(F.col("width"))
        .cast("int")
        .alias("new_width"),
        F.when(scale, F.expr(f"(height * {max_side}) div greatest(width, height)"))
        .otherwise(F.col("height"))
        .cast("int")
        .alias("new_height"),
        F.concat(F.col("media_ref"), F.lit(f"#{max_side}px")).alias(
            "thumb_ref"
        ),
    )


def sample_frames(features: DataFrame, every_ms: int = 60000) -> DataFrame:
    """Frame-sampling plan for timed media: one row per sample point at
    ``every_ms`` intervals (0-inclusive through duration), with a
    ``#t=<ms>`` fragment ref per frame.  JVM-side
    ``explode(sequence(...))`` — the row fan-out IS the Spark-side
    work; actual frame extraction is the (stubbed) decoder core's."""
    return (
        features.where(F.col("duration_ms").isNotNull())
        .select(
            "doc_id",
            "media_ref",
            F.explode(
                F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
            ).alias("frame_ms"),
        )
        .withColumn(
            "frame_ref",
            F.concat(
                F.col("media_ref"),
                F.lit("#t="),
                F.col("frame_ms").cast("string"),
            ),
        )
    )


def format_image(name, size: int = 200, thumb: bool = False):
    """``formatImage`` commons-URL scheme (src/netbase.cpp:2455-2467):
    spaces become underscores, a leading ``...File:`` head is cut,
    http(s) names pass through unchanged; otherwise
    ``base/h/h2/name`` where h/h2 are the first 1/2 hex chars of
    md5(name) — the thumb variant inserts ``thumb/`` and appends
    ``/{size}px-name``.  Pure column expression, SQL-reproducible."""
    n = F.regexp_replace(name, " ", "_")
    n = F.regexp_replace(n, r"^.*?File:", "")
    h = F.md5(n)
    base = F.lit("http://upload.wikimedia.org/wikipedia/commons/")
    sep = F.lit("/")
    if thumb:
        url = F.concat(
            base, F.lit("thumb/"), h.substr(1, 1), sep, h.substr(1, 2), sep,
            n, sep, F.lit(f"{int(size)}px-"), n,
        )
    else:
        url = F.concat(base, h.substr(1, 1), sep, h.substr(1, 2), sep, n)
    return F.when(n.startswith("http"), n).otherwise(url)


def import_image_triples(
    lines: DataFrame, col: str = "value", order_col: str | None = None
) -> DataFrame:
    """``importImageTripels`` / ``importWordnetImages`` line scan
    (src/import.cpp:147-267): each line is ``title <skipped> image``
    (``sscanf("%s %*s %s")``); only the FIRST image per title is kept
    (the reference's ``lastTitle`` skip over a title-sorted file) and
    the triple is (abstract(title), wiki_image, abstract(image)).

    Distributed first-wins: ``min_by(image, order)`` per title — one
    map-side-combinable aggregation, no window.  ``order_col`` names
    the line-number column; without one, input order is approximated
    with ``monotonically_increasing_id`` (deterministic only for a
    single ordered source, which is what a file scan gives).
    """
    from netbase_spark.normalize import norm_name_col
    from netbase_spark.operators.mutate import rel_id_for

    c = F.col(col)
    toks = F.split(F.trim(c), r"\s+")
    ordc = F.col(order_col) if order_col else F.monotonically_increasing_id()
    parsed = lines.select(
        norm_name_col(F.get(toks, 0)).alias("subj"),
        norm_name_col(F.get(toks, 2)).alias("obj"),
        ordc.alias("_ord"),
    ).where(
        F.col("subj").isNotNull()
        & F.col("obj").isNotNull()
        & (F.length("subj") > 0)
        & (F.length("obj") > 0)
    )
    first = parsed.groupBy("subj").agg(F.min_by("obj", "_ord").alias("obj"))
    return first.select(
        "subj",
        F.lit(rel_id_for("wiki image")).alias("rel"),
        "obj",
    )


# getImage's predicate fallback chain (src/netbase.cpp:2469-2489), in
# priority order: the first image-ish property a node has wins.
IMAGE_PREDICATE_CHAIN = (
    "image",
    "wiki image",
    "product image url",
    "bild",
    "wappen",
    "positionskarte",
)


def get_image(
    triples: DataFrame, size: int = 200, thumb: bool = False
) -> DataFrame:
    """``getImage(node)`` for EVERY node at once (src/netbase.cpp:
    2469-2489): probe the image-predicate fallback chain in priority
    order, take the first hit per subject, and format it as a commons
    URL (``formatImage``).  Nodes with no image property produce no
    row — the reference's ``""`` return.

    Physical plan: one pushdown ``rel IN (...)`` filter (prunes to the
    image rel partitions of the predicate-partitioned triple table),
    a priority lookup via a CASE chain (no join — the chain is 6
    constants), and one map-side-combinable ``min_by`` per subject.
    No shuffle beyond the single aggregation; scale-safe at any node
    count.
    """
    from netbase_spark.operators.mutate import rel_id_for

    prio = {rel_id_for(p): i for i, p in enumerate(IMAGE_PREDICATE_CHAIN)}
    rank = F.lit(None).cast("int")
    for rid, i in sorted(prio.items(), key=lambda kv: kv[1], reverse=True):
        rank = F.when(F.col("rel") == rid, F.lit(i)).otherwise(rank)
    hits = triples.where(F.col("rel").isin(list(prio))).select(
        "subj", rank.alias("_prio"), F.col("obj").alias("_img")
    )
    best = hits.groupBy("subj").agg(
        F.min_by("_img", F.struct("_prio", "_img")).alias("image")
    )
    return best.select(
        "subj", format_image(F.col("image"), size=size, thumb=thumb).alias("url")
    )


def caption_candidates(spans: DataFrame) -> DataFrame:
    """Image-caption pair mining over interleaved spans (the
    text+media training-pair extraction a multimodal pipeline runs
    before CLIP-style contrastive training): for every media span the
    nearest text span IN THE SAME DOCUMENT by |offset| distance, ties
    broken toward the preceding span (captions usually precede or
    immediately follow their figure).

    Input is the input_hint span shape (doc_id, kind, span_text,
    media_ref, offset); returns (doc_id, media_ref, m_off, caption,
    gap) with gap = |media offset - text offset|.

    Scale shape: one doc-keyed join of media spans against text spans —
    spans per document are bounded (document-local), so the join fans
    out by per-doc span count, not corpus size — then a per-media-span
    window rank.  Empty-text spans are excluded up front so the scan
    prunes before the shuffle.
    """
    from pyspark.sql import Window

    media = spans.where(
        (F.col("kind") != "text") & F.col("media_ref").isNotNull()
    ).select("doc_id", "media_ref", F.col("offset").alias("m_off"))
    texts = spans.where(
        (F.col("kind") == "text") & (F.length("span_text") > 0)
    ).select("doc_id", F.col("span_text").alias("caption"),
             F.col("offset").alias("t_off"))
    j = media.join(texts, "doc_id").withColumn(
        "gap", F.abs(F.col("m_off") - F.col("t_off")).cast("long")
    )
    w = Window.partitionBy("doc_id", "media_ref", "m_off").orderBy(
        F.col("gap"), F.col("t_off")
    )
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", "media_ref", "m_off", "caption", "gap")
    )


# --- media near-dup ---------------------------------------------------------


def media_phash(
    features: DataFrame, fp_col: str = "content_fp", id_col: str = "doc_id"
) -> DataFrame:
    """Perceptual-hash analog over decoded media features: the 64-bit
    fingerprint (first 16 hex chars of ``fp_col``) split into the
    simhash column layout (simhash_lo/simhash_hi, 32 bits each) — so
    media items feed the EXISTING banded-LSH candidate machinery
    (:func:`~netbase_spark.operators.dedup.simhash_candidates`, with
    its 16-bit bands and bucket cap) and the CC + survivor selection
    (:func:`~netbase_spark.operators.dedup.near_dup_clusters`)
    completely unchanged.

    With the real decoder, ``content_fp`` is a true perceptual hash
    (DCT-based pHash: near-identical images differ in a few bits, so
    banded matching finds near-dups); the sandbox's deterministic fake
    (md5 of the ref, media.py::_decode_core) makes only EXACT content
    duplicates collide — the Spark-side plumbing, banding, capping and
    clustering are identical either way.  Pure column expressions
    (conv + substring), no UDF."""
    return features.select(
        F.col(id_col).alias("doc_id"),
        F.conv(F.substring(fp_col, 1, 8), 16, 10)
        .cast("long")
        .alias("simhash_lo"),
        F.conv(F.substring(fp_col, 9, 8), 16, 10)
        .cast("long")
        .alias("simhash_hi"),
    )


def media_neardup_pairs(
    features: DataFrame,
    max_hamming: int | None = None,
    bucket_cap: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate media candidate pairs: banded-LSH over the
    perceptual fingerprint (:func:`media_phash` ->
    ``simhash_candidates``), annotated with the exact 64-bit hamming
    distance (JVM-side bit_count(xor)) and optionally thresholded.
    Returns (a, b, hamming); feed into ``near_dup_clusters`` for
    survivor selection.  Scale shape is the simhash path's: one
    band-keyed shuffle with the hot-bucket cap, no all-pairs join."""
    from netbase_spark.operators.dedup import DEDUP_KEY_CAP, simhash_candidates

    if bucket_cap is None:
        bucket_cap = DEDUP_KEY_CAP
    # persist: three consumers (banding + both hamming joins) would
    # otherwise re-run the upstream decode UDF once each
    sigs = media_phash(features, id_col=id_col).persist()
    pairs = simhash_candidates(sigs, band_bits=16, bucket_cap=bucket_cap)
    sa = sigs.select(
        F.col("doc_id").alias("a"),
        F.col("simhash_lo").alias("a_lo"),
        F.col("simhash_hi").alias("a_hi"),
    )
    sb = sigs.select(
        F.col("doc_id").alias("b"),
        F.col("simhash_lo").alias("b_lo"),
        F.col("simhash_hi").alias("b_hi"),
    )
    out = (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            (
                F.bit_count(
                    F.col("a_lo").bitwiseXOR(F.col("b_lo"))
                )
                + F.bit_count(F.col("a_hi").bitwiseXOR(F.col("b_hi")))
            )
            .cast("int")
            .alias("hamming"),
        )
    )
    if max_hamming is not None:
        out = out.where(F.col("hamming") <= max_hamming)
    return out
