"""Deduplication & similarity-search operators for training-data
pipelines: SimHash, MinHash+LSH, embedding-cosine near-dup, LSH-bucketed
ANN.

(Exact-hash dedup and 3-gram Jaccard live in the entry contract as
direct DataFrame plans; this module holds the operators with more
structure.)

Scale notes: every operator here is a pure DataFrame plan plus
Arrow-batched numpy kernels — the only shuffles are the per-doc
aggregations and the bucket joins, both keyed well for AQE.  Hash
functions are md5-derived so the DuckDB oracle can reproduce them
bit-for-bit.  Banded self-joins run on one capped shared-key join
(:func:`cap_keys`, :func:`over_cap`, :func:`shared_key_pairs`), whose
key caps drop oversized buckets (hub/boilerplate artifacts; quadratic
blowup inside one bucket is the classic LSH failure at 10^9 docs) and
whose audit reports every drop.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from netbase_spark.plans.broadcast_gate import local_frame

# 64-bit signature carried as two 32-bit halves: neither Spark conv()
# nor DuckDB '0x..'::BIGINT can build a full unsigned 64-bit value
# without signed overflow, and two ints band-split cleanly.
SIMHASH_BITS = 64
SIMHASH_BAND_BITS = 16
DEDUP_KEY_CAP = 2000
"""Default max rows per key in every capped dedup join: docs per
simhash/minhash (band, value) bucket, per shingle, per winnowing
fingerprint."""


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash_hi, simhash_lo): 64-bit SimHash as two 32-bit
    halves.  Per-token md5 supplies 64 hash bits (two 8-hex slices);
    bitwise majority vote per bit.  Shuffle: one explode + groupBy(doc_id)
    with map-side partial aggregation.

    Reference analog: document fingerprinting for near-dup detection —
    the reference's md5-based image keys (src/import.cpp:148-282) are
    the same content-hash discipline.
    """
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    ).where(F.col("tok") != "")
    m = F.md5("tok")
    h_lo = F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
    h_hi = F.conv(F.substring(m, 9, 8), 16, 10).cast("long")
    half_bits = SIMHASH_BITS // 2
    withbits = toks.select(
        "doc_id",
        *[
            F.when(F.shiftright(h_lo, i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
            .alias(f"lo{i}")
            for i in range(half_bits)
        ],
        *[
            F.when(F.shiftright(h_hi, i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
            .alias(f"hi{i}")
            for i in range(half_bits)
        ],
    )
    agg = withbits.groupBy("doc_id").agg(
        *[F.sum(f"lo{i}").alias(f"lo{i}") for i in range(half_bits)],
        *[F.sum(f"hi{i}").alias(f"hi{i}") for i in range(half_bits)],
    )

    def assemble(prefix):
        sig = None
        for i in range(half_bits):
            term = F.when(F.col(f"{prefix}{i}") > 0, F.lit(1 << i)).otherwise(
                F.lit(0)
            )
            sig = term if sig is None else sig + term
        return sig.cast("long")

    return agg.select(
        "doc_id",
        assemble("hi").alias("simhash_hi"),
        assemble("lo").alias("simhash_lo"),
    )


def _materialize_release(out, *cached):
    """Eagerly materialize a cap-bounded result via localCheckpoint,
    then release the SQL caches that fed it.  ``persist()`` registers
    in the session cache manager and stays there until clearCache — a
    long-lived batch loop re-running dedup passes accumulates orphaned
    caches (round-3 advice item).  The checkpoint blocks of the RESULT
    are context-cleaner-managed instead: freed when the caller drops
    the DataFrame, no session-lifetime registration (same discipline as
    frontier._pin/_unpin).  Candidate-pair outputs are always
    cap-bounded (bucket caps / top-k), so the eager materialization is
    cheap next to the banded subtrees it lets go of."""
    out = out.localCheckpoint()
    for df in cached:
        df.unpersist()
    return out


# --- capped shared-key join -------------------------------------------------
# Every banded/bucketed dedup operator is the same plan: key rows
# (id, key...) -> drop keys held by more than a cap of rows -> self-join
# on the key, a < b.  A key held by k rows costs k^2/2 join rows, and
# such keys are boilerplate hubs whose pairs are near-worthless.


def cap_keys(rows: DataFrame, keys: list[str], cap: int | None) -> DataFrame:
    """``rows`` minus every row whose key is held by more than ``cap``
    rows; ``cap=None`` passes ``rows`` through unchanged.  A window
    count, not groupBy+join: one shuffle on the key and NO re-scan of
    the subtree that built the rows (the join form recomputed the whole
    signature aggregation once per reference).  What it drops is
    exactly :func:`over_cap`'s report."""
    if cap is None:
        return rows
    n = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    return rows.withColumn("_key_n", n).where(F.col("_key_n") <= cap).drop("_key_n")


def over_cap(rows: DataFrame, keys: list[str], cap: int | None) -> DataFrame:
    """(keys..., n): every key :func:`cap_keys` drops at ``cap``, with
    the number of rows holding it — the no-silent-caps audit of every
    capped dedup operator (empty when ``cap`` is None)."""
    n = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    return n.where(F.col("n") > cap if cap is not None else F.lit(False))


def _pair_ids(pairs: DataFrame, rows: DataFrame) -> DataFrame:
    return pairs.select("a", "b")


def shared_key_pairs(
    rows: DataFrame, keys: list[str], id_col: str = "doc_id", finish=None
) -> DataFrame:
    """(a, b, shared): every pair of ids a < b whose rows hold a common
    key, with the number of key matches between them (the
    set-intersection self-join).  ``finish(pairs, rows)`` shapes the
    result while ``rows`` is still cached — a projection, a threshold,
    or a join against another aggregate of the same rows — and the
    result comes back materialized with that cache released
    (:func:`_materialize_release`)."""
    # persist: the self-join reads the rows twice; columnar cache keeps
    # codegen output (an RDD localCheckpoint here measured ~8x slower —
    # the DataFrame->RDD conversion drops whole-stage codegen and
    # columnar storage)
    rows = rows.select(id_col, *keys).persist()
    l = rows.select(F.col(id_col).alias("a"), *keys)
    r = rows.select(F.col(id_col).alias("b"), *keys)
    pairs = (
        l.join(r, keys)
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = finish(pairs, rows) if finish else pairs
    return _materialize_release(out, rows)


def simhash_bands(
    sigs: DataFrame, band_bits: int = SIMHASH_BAND_BITS
) -> DataFrame:
    """(doc_id, band, bv): each 64-bit simhash split into 64/band_bits
    band values — the key rows of :func:`simhash_candidates`, and of its
    drop audit ``over_cap(simhash_bands(sigs), ["band", "bv"], cap)``."""
    half_bits = SIMHASH_BITS // 2
    bands_per_half = half_bits // band_bits
    mask = (1 << band_bits) - 1
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(h * bands_per_half + b).alias("band"),
                        F.shiftright(col, b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for h, col in enumerate(("simhash_lo", "simhash_hi"))
                    for b in range(bands_per_half)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bv")


def simhash_candidates(
    sigs: DataFrame,
    band_bits: int = SIMHASH_BAND_BITS,
    bucket_cap: int | None = DEDUP_KEY_CAP,
) -> DataFrame:
    """Near-dup candidate pairs: docs sharing any of the 64/band_bits
    bands of their simhash (banded LSH — avoids the quadratic all-pairs
    hamming scan).

    16-bit bands give 65,536 distinct values per band: at n docs the
    expected bucket size is n/65,536 per band (vs n/256 for the 8-bit
    bands this replaced, whose within-band self-join degenerated toward
    (n/256)^2 pairs at large n).  ``bucket_cap`` drops buckets larger
    than the cap before the self-join (:func:`cap_keys`; the dropped
    buckets are ``over_cap(simhash_bands(sigs, band_bits), ["band",
    "bv"], bucket_cap)``).
    """
    keys = ["band", "bv"]
    rows = cap_keys(simhash_bands(sigs, band_bits), keys, bucket_cap)
    return shared_key_pairs(rows, keys, finish=_pair_ids)


# --- MinHash + LSH ----------------------------------------------------------


def minhash_signatures(
    shingles: DataFrame, n_hashes: int = 128, id_col: str = "doc_id",
    shingle_col: str = "shingle",
) -> DataFrame:
    """(doc_id, s0..s{n-1}): MinHash signature over a doc's shingle set.

    Hash family: hash k is the (k%4)-th 8-hex slice of
    md5(concat(k//4, ':', shingle)) — one md5 yields four independent
    32-bit hashes, so n_hashes costs n_hashes/4 md5 evaluations per
    shingle (all JVM-side, codegen'd, DuckDB-reproducible).
    """
    out = shingles
    md5s = {}
    for k in range(n_hashes):
        salt = k // 4
        if salt not in md5s:
            md5s[salt] = F.md5(
                F.concat(F.lit(f"{salt}:"), F.col(shingle_col))
            )
        slice_nr = k % 4
        out = out.withColumn(
            f"_h{k}",
            F.conv(
                F.substring(md5s[salt], 1 + 8 * slice_nr, 8), 16, 10
            ).cast("long"),
        )
    return out.groupBy(F.col(id_col).alias("doc_id")).agg(
        *[F.min(f"_h{k}").alias(f"s{k}") for k in range(n_hashes)]
    )


def minhash_bands(
    sigs: DataFrame, bands: int = 16, rows_per_band: int = 8
) -> DataFrame:
    """(doc_id, band, bv): each MinHash signature cut into ``bands``
    bands of ``rows_per_band`` slots, a band's value hashed to one md5
    key — the key rows of :func:`minhash_lsh_pairs` and of its drop
    audit ``over_cap(minhash_bands(...), ["band", "bv"], cap)``.  ONE
    pass over sigs: an exploded array of (band, bv) structs (a per-band
    union would re-run the whole signature aggregation once per band)."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"s{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("bv"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bv")


def minhash_lsh_pairs(
    sigs: DataFrame,
    bands: int = 16,
    rows_per_band: int = 8,
    bucket_cap: int | None = DEDUP_KEY_CAP,
) -> DataFrame:
    """Candidate pairs sharing any band of their MinHash signature.

    Parameterized (bands x rows_per_band must cover the signature):
    at 10^9 docs use >= 16 bands x 8 rows (128 hashes) — the round-1
    toy 2x2 parameterization floods candidates at scale.  Bands hash to
    one md5 band key (not a multi-column equi-join) so the shuffle key
    is a single string; ``bucket_cap`` guards hot bands exactly like
    :func:`simhash_candidates`.
    """
    keys = ["band", "bv"]
    rows = cap_keys(minhash_bands(sigs, bands, rows_per_band), keys, bucket_cap)
    return shared_key_pairs(rows, keys, finish=_pair_ids)


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """End-to-end fuzzy dedup with survivor selection: candidate pairs
    (from :func:`minhash_lsh_pairs` / :func:`simhash_candidates` /
    :func:`cosine_neardup_pairs`) -> connected components -> one kept
    document per cluster (highest ``quality_col``, ties to the lowest
    id — the reference's duplicate-statement rule keeps the first
    insert, netbase.cpp:760-767; here "first" is the best-quality doc).

    Returns (id_col, cluster_id, keep:int).  ``cluster_id`` is the
    min-id member of the near-dup component; singleton docs are their
    own cluster with keep=1.

    Scale shape: ``pairs``/the component mapping are candidate-sized
    (LSH-bucketed, smaller than the corpus) and only cluster members
    pass through the survivor window (per-cluster-keyed, so it
    survives any member count); the 10^12-doc singleton majority is an
    anti-join with literal columns.  The member set is SIZE-GATED, not
    hard-broadcast: on sandbox-like corpora it is tiny, but on a real
    web crawl 30-50% of documents are near-dup members — corpus-order,
    not candidate-order — and round 2's unconditional
    ``F.broadcast(members)`` OOMs exactly there
    (plans/broadcast_gate; tests/test_curation_ops.py high-dup-rate
    case pins the fallback).
    """
    from pyspark.sql import Window

    from netbase_spark.operators.canonicalize import connected_components
    from netbase_spark.operators.frontier import _pin
    from netbase_spark.plans.broadcast_gate import gated_broadcast

    # the pairs DAG is typically EXPENSIVE (shingle/signature joins);
    # it feeds the CC probe, the CC solve, the member-id union and two
    # joins below — materialize once (candidate-sized; stays cached for
    # the consumer's lifetime)
    pairs = _pin(pairs.select("a", "b"))
    mapping = connected_components(
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    # every node that appears in any pair, mapped to its component rep
    # (connected_components omits the rep's self-row — restore it so
    # the survivor window sees whole clusters)
    member_ids = (
        pairs.select(F.col("a").alias("m"))
        .union(pairs.select(F.col("b").alias("m")))
        .distinct()
    )
    members = member_ids.join(
        mapping.withColumnRenamed("node", "m"), "m", "left"
    ).select("m", F.coalesce("rep", F.col("m")).alias("cluster_id"))

    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    clustered = (
        docs.join(members, docs[id_col] == members["m"])
        .withColumn("keep", (F.row_number().over(w) == 1).cast("int"))
        .select(id_col, "cluster_id", "keep")
    )
    singles = docs.join(
        gated_broadcast(members), docs[id_col] == members["m"], "left_anti"
    ).select(
        id_col,
        F.col(id_col).alias("cluster_id"),
        F.lit(1).alias("keep"),
    )
    return clustered.unionByName(singles)


# --- embedding cosine -------------------------------------------------------


def _sim_e4(a_mat, b_mat):
    """floor(cosine * 10^4) as int64 of every row of ``a_mat`` against
    every row of ``b_mat`` (or against the one vector ``b_mat``):
    floor(dot / (na * nb) * 10^4), a zero vector's norm read as 1 so it
    scores 0, not NaN.  The one scoring kernel of the float paths — the
    floor sits on exact boundaries, so every path keeps this order."""
    import numpy as np

    na = np.sqrt((a_mat * a_mat).sum(axis=1))
    nb = np.sqrt((b_mat * b_mat).sum(axis=-1))
    na[na == 0] = 1.0
    nb = np.where(nb == 0, 1.0, nb)
    sims = (a_mat @ b_mat.T) / np.multiply.outer(na, nb)
    return np.floor(sims * 10000).astype(np.int64)


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold_e4: int = 9500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tile_rows: int = 100_000,
) -> DataFrame:
    """All pairs with cosine >= threshold (e4-scaled int for stable
    comparison).  Brute-force O(n^2) baseline — correct reference for
    the LSH variants; at scale ann_lsh_buckets prunes candidates first.

    Physical plan: TILED BLOCK MATRIX PRODUCT.  The right side is
    broadcast one tile (<= ``tile_rows`` rows) at a time; for each tile
    the left side streams through ``mapInPandas`` in Arrow batches and
    each task computes a (batch x tile) similarity block with one BLAS
    gemm.  Driver/executor memory is bounded by the tile, not the
    table; total work stays O(n^2) as the math demands, but no single
    collect ever holds more than one tile (round 1 collected the whole
    table — unbounded driver memory).  Ids stay their native dtype
    (int or string); pairs are oriented a < b in that dtype's order,
    matching the SQL oracle's ``a.id < b.id``.
    """
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    n = emb.count()
    if n == 0:
        id_t = emb.schema[id_col].dataType.simpleString()
        return local_frame(spark, [], f"a {id_t}, b {id_t}, sim_e4 long")
    n_tiles = max(1, math.ceil(n / tile_rows))
    id_t = emb.schema[id_col].dataType.simpleString()
    thr = int(threshold_e4)
    par = spark.sparkContext.defaultParallelism

    def make_block(bc):
        def block(batches):
            b_ids, b_mat = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                a_ids = pdf[id_col].to_numpy()
                a_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
                e4 = _sim_e4(a_mat, b_mat)
                keep = (e4 >= thr) & (a_ids[:, None] < b_ids[None, :])
                ai, bj = np.nonzero(keep)
                yield pd.DataFrame(
                    {"a": a_ids[ai], "b": b_ids[bj], "sim_e4": e4[ai, bj]}
                )

        return block

    left = emb.select(id_col, vec_col).repartition(par)
    out = None
    for t in range(n_tiles):
        tile = emb
        if n_tiles > 1:
            tile = emb.where(
                F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_tiles))
                == t
            )
        rows = tile.select(id_col, vec_col).collect()
        if not rows:
            continue
        b_ids = np.array([r[0] for r in rows])
        b_mat = np.array([r[1] for r in rows], dtype=np.float64)
        bc = spark.sparkContext.broadcast((b_ids, b_mat))
        part = left.mapInPandas(
            make_block(bc), schema=f"a {id_t}, b {id_t}, sim_e4 long"
        )
        # eager per-tile materialization: the threshold-surviving pairs
        # are output-sized, and checkpointing them here keeps the final
        # plan a union of trivial scans instead of n_tiles live
        # mapInPandas branches (at 100+ tiles the single lazy plan grew
        # driver-side analysis cost and re-serialized every tile's
        # broadcast into one job — round-3 advice).  The tile broadcast
        # is released as soon as its block product lands.
        part = part.localCheckpoint()
        bc.unpersist()
        out = part if out is None else out.unionByName(part)
    return out


# --- LSH-bucketed ANN -------------------------------------------------------


def _plane_weights(n_planes: int, dims: int):
    """(dims x n_planes) float hyperplane weights: the md5-derived
    integer weights of :func:`_plane_weights_int` over 2^24, so weight
    (j, i) is md5("j:i")'s first 24 bits / 2^24 - 0.5 in [-0.5, 0.5) —
    bit-exact (a 24-bit integer over a power of two), deterministic and
    reproducible in SQL."""
    return _plane_weights_int(n_planes, dims) / float(1 << 24)


# embedding fixed-point scale for the exact (bit-deterministic) paths:
# one rounded multiply per component — IEEE-exact and identical on any
# engine, unlike SUMS whose float result depends on accumulation order
EMB_FIXED_SCALE = 10_000


def _plane_weights_int(n_planes: int, dims: int):
    """(dims x n_planes) integer hyperplane weights: the raw md5 24-bit
    value minus 2^23, so sign(x . w) == sign(x_int . w_int) when x_int
    is any positive rescale of x — the float weights' denominator 2^24
    is positive and cancels.  Used by the ``exact`` SRP mode: the bucket
    bit becomes a pure int64 comparison with NO float summation
    anywhere.  Computed ONCE here (driver, numpy) — the round-1 version
    re-derived every weight per ROW via interpreted higher-order md5
    expressions, O(n*d*planes) md5 calls and the slowest query in the
    bench."""
    import hashlib

    import numpy as np

    w = np.empty((dims, n_planes), dtype=np.int64)
    for j in range(n_planes):
        for i in range(dims):
            h = hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:6]
            w[i, j] = int(h, 16) - (1 << 23)
    return w


def ann_lsh_buckets(
    emb: DataFrame, n_planes: int = 8, id_col: str = "vec_id",
    vec_col: str = "embedding", keep_vec: bool = False,
    exact: bool = False,
) -> DataFrame:
    """(vec_id, bucket[, embedding]): sign-random-projection LSH.
    At scale the bucket id prunes the candidate set from O(n^2) to
    O(sum b_i^2).  One mapInPandas pass: broadcast weight matrix, one
    BLAS gemm per Arrow batch, sign bits packed into an int.

    ``exact=True`` computes the sign bits over the e4-FIXED-POINT
    embedding (floor(x*10^4)) with INTEGER plane weights
    (:func:`_plane_weights_int`) — pure int64 arithmetic, so a dot
    sitting on the sign boundary cannot flip with BLAS thread count or
    engine summation order (the pagerank e12 fixed-point discipline;
    a float gemm's reduction order is unspecified and a boundary dot
    flipped pagerank's floor in round 2).  The default float path is
    the production scale path; exact mode is for cross-engine-verified
    contracts and defines bucket semantics over the quantized vector."""
    import numpy as np
    import pandas as pd

    id_t = emb.schema[id_col].dataType.simpleString()
    vec_t = emb.schema[vec_col].dataType.simpleString()
    schema = f"vec_id {id_t}, bucket int"
    if keep_vec:
        schema += f", embedding {vec_t}"
    first = emb.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        # empty input: the normal path's columns, no rows
        return local_frame(emb.sparkSession, [], schema)
    dims = int(first["d"])
    bc = emb.sparkSession.sparkContext.broadcast(
        _plane_weights_int(n_planes, dims) if exact
        else _plane_weights(n_planes, dims)
    )
    bits = [1 << j for j in range(n_planes)]

    def block(batches):
        w = bc.value
        bitv = np.array(bits, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if exact:
                mat = np.floor(
                    np.array(list(pdf[vec_col]), dtype=np.float64)
                    * EMB_FIXED_SCALE
                ).astype(np.int64)
            else:
                mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            dots = mat @ w  # int64 matmul in exact mode: order-free
            bucket = ((dots >= 0) * bitv).sum(axis=1).astype(np.int32)
            out = {"vec_id": pdf[id_col], "bucket": bucket}
            if keep_vec:
                out["embedding"] = pdf[vec_col]
            yield pd.DataFrame(out)

    return emb.select(id_col, vec_col).mapInPandas(block, schema=schema)


def ann_topk_bucketed(
    emb: DataFrame, query_id: int, k: int = 10, n_planes: int = 4
) -> DataFrame:
    """Top-k cosine within the query's LSH bucket (the scale path; the
    brute-force baseline in the entry contract is its correctness
    reference at small n).  Buckets and the candidate scoring both run
    as numpy kernels; no join is needed to attach buckets (they are
    computed alongside the vectors in one pass)."""
    import numpy as np
    import pandas as pd

    # persist: consumed twice (query-row lookup + candidate join) — one
    # gemm pass instead of two
    with_b = ann_lsh_buckets(emb, n_planes, keep_vec=True).persist()
    qb = with_b.where(F.col("vec_id") == query_id).select(
        F.col("bucket").alias("qbucket"), F.col("embedding").alias("qv")
    )
    cands = with_b.join(
        F.broadcast(qb), F.col("bucket") == F.col("qbucket")
    ).where(F.col("vec_id") != query_id)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            qv = np.array(pdf["qv"].iloc[0], dtype=np.float64)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "sim_e4": _sim_e4(mat, qv)}
            )

    id_t = emb.schema["vec_id"].dataType.simpleString()
    scored = cands.select("vec_id", "embedding", "qv").mapInPandas(
        score, schema=f"vec_id {id_t}, sim_e4 long"
    )
    # global top-k as orderBy+limit -> TakeOrderedAndProject (per-partition
    # heap + driver merge), NOT a single-partition global Window sort
    topk = scored.orderBy(F.col("sim_e4").desc(), F.col("vec_id").asc()).limit(k)
    return _materialize_release(topk, with_b)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer + per-cell posting
# lists.  The second scale path next to the LSH buckets above: at 10^9
# vectors the cell id becomes the partition key of the posting-list
# table, a query probes `nprobe` cells and scans only those partitions.
# Deterministic throughout: centroid init is the n_cells rows with the
# smallest xxhash64(id) (no RNG — resume/replay safe), Lloyd updates
# are exact means.
# ---------------------------------------------------------------------------


def ivf_centroids(
    emb: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """n_cells x d centroid matrix after ``iters`` Lloyd rounds.
    Assignment is a broadcast-gemm mapInPandas pass; the update is one
    posexplode + avg aggregation (cells x dims rows — dimension-sized,
    safe to collect)."""
    import numpy as np

    init = (
        emb.orderBy(F.xxhash64(F.col(id_col).cast("string")))
        .limit(n_cells)
        .select(vec_col)
        .collect()
    )
    cent = np.array([r[0] for r in init], dtype=np.float64)
    for _ in range(iters):
        assigned = ivf_assign(emb, cent, id_col, vec_col)
        means = (
            assigned.join(emb, id_col)
            .select("cell", F.posexplode(F.col(vec_col)).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = cent.copy()  # empty cells keep their old centroid
        for r in means:
            new[r["cell"], r["pos"]] = r["m"]
        cent = new
    return cent


def ivf_assign(
    emb: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cell): nearest centroid by cosine — one broadcast
    weight matrix, one BLAS gemm per Arrow batch (same kernel shape as
    ann_lsh_buckets)."""
    import numpy as np
    import pandas as pd

    norms = np.sqrt((centroids * centroids).sum(axis=1))
    norms[norms == 0] = 1.0
    bc = emb.sparkSession.sparkContext.broadcast(
        (centroids / norms[:, None]).T  # d x cells, unit columns
    )

    def block(batches):
        w = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            mn = np.sqrt((mat * mat).sum(axis=1))
            mn[mn == 0] = 1.0
            cell = ((mat / mn[:, None]) @ w).argmax(axis=1).astype(np.int32)
            yield pd.DataFrame({id_col: pdf[id_col], "cell": cell})

    id_t = emb.schema[id_col].dataType.simpleString()
    return emb.select(id_col, vec_col).mapInPandas(
        block, schema=f"{id_col} {id_t}, cell int"
    )


def ivf_topk(
    emb: DataFrame,
    query_id,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 2,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine over the ``nprobe`` cells nearest the query vector.
    ``nprobe == n_cells`` degrades to exact brute-force (the contract
    oracle); small nprobe is the 100-TB path — the posting-list table
    partitioned by cell turns the probe into partition pruning."""
    import numpy as np

    id_t = emb.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_t}, sim_e4 long"
    qrow = emb.where(F.col(id_col) == query_id).select(vec_col).first()
    if qrow is None:
        # absent query id, or empty input: no neighbours
        return local_frame(emb.sparkSession, [], out_schema)
    qv = np.array(qrow[0], dtype=np.float64)
    cent = ivf_centroids(emb, n_cells, iters, id_col, vec_col)
    assigned = ivf_assign(emb, cent, id_col, vec_col).persist()
    cn = np.sqrt((cent * cent).sum(axis=1))
    cn[cn == 0] = 1.0
    sims = (cent / cn[:, None]) @ (qv / max(np.sqrt((qv * qv).sum()), 1e-12))
    probe = [int(c) for c in np.argsort(-sims)[:nprobe]]

    cands = (
        assigned.where(F.col("cell").isin(probe))
        .where(F.col(id_col) != query_id)
        .join(emb.select(id_col, vec_col), id_col)
    )
    spark = emb.sparkSession
    qb = spark.sparkContext.broadcast(qv)

    def score(batches):
        import pandas as pd

        q = qb.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            yield pd.DataFrame({id_col: pdf[id_col], "sim_e4": _sim_e4(mat, q)})

    scored = cands.select(id_col, vec_col).mapInPandas(score, schema=out_schema)
    topk = scored.orderBy(
        F.col("sim_e4").desc(), F.col(id_col).asc()
    ).limit(k)
    return _materialize_release(topk, assigned)


def cosine_neardup_bucketed(
    emb: DataFrame,
    threshold_e4: int = 9500,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = None,
    exact: bool = False,
) -> DataFrame:
    """Semantic near-dup pairs, LSH-pruned (the SemDeDup-style scale
    path next to the brute-force :func:`cosine_neardup_pairs`): vectors
    are sign-random-projection bucketed (:func:`ann_lsh_buckets`), then
    cosine pairs >= threshold are computed ONLY within each bucket —
    total work O(sum b_i^2) instead of O(n^2), and near-identical
    vectors land in the same bucket with probability (1 - theta/pi)^p.

    Physical plan: one mapInPandas gemm pass to bucket, one shuffle on
    the bucket id, then a per-bucket pairwise numpy kernel inside
    applyInPandas (each bucket's similarity block is one BLAS gemm).
    ``bucket_cap`` drops buckets larger than the cap before the
    quadratic step (:func:`cap_keys`, as in simhash_candidates; the
    dropped buckets are ``over_cap(ann_lsh_buckets(emb, n_planes, ...,
    exact=exact), ["bucket"], bucket_cap)``) — oversized buckets are
    degenerate hubs (e.g. the all-zeros region) whose within-bucket
    join cost is quadratic.  Each vector has exactly one
    bucket (single SRP code, not banded), so no cross-bucket pair dedup
    is needed.

    ``exact=True`` makes the whole result BIT-DETERMINISTIC across
    engines and BLAS configurations: buckets come from integer SRP
    (see :func:`ann_lsh_buckets`), and sim_e4 is computed over the
    e4-fixed-point vectors as isqrt((10^8 * dot^2) div (na * nb)) —
    exact integer arithmetic, derived from floor(sqrt(floor(x))) ==
    floor(sqrt(x)).  The float path's gemm reduction order is
    unspecified (threaded BLAS), so a similarity exactly on a
    floor/sign boundary can flip run-to-run — the flake class that hit
    pagerank in round 2.  Float stays the default for production speed;
    contracts verified against a sequential-summation SQL oracle use
    exact mode (contract_ext4 semantic_neardup).
    """
    import numpy as np
    import pandas as pd

    id_t = emb.schema[id_col].dataType.simpleString()
    out_schema = f"a {id_t}, b {id_t}, sim_e4 long"
    with_b = ann_lsh_buckets(
        emb, n_planes, id_col=id_col, vec_col=vec_col, keep_vec=True,
        exact=exact,
    )
    with_b = cap_keys(with_b, ["bucket"], bucket_cap)
    thr = int(threshold_e4)
    if exact and thr < 1:
        raise ValueError(
            "exact mode emits only positive-dot pairs; threshold_e4 must be >= 1"
        )

    def pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) < 2:
            return pd.DataFrame({"a": [], "b": [], "sim_e4": []}).astype(
                {"sim_e4": "int64"}
            )
        ids = pdf["vec_id"].to_numpy()
        mat = np.array(list(pdf["embedding"]), dtype=np.float64)
        if exact:
            imat = np.floor(mat * EMB_FIXED_SCALE).astype(np.int64)
            # int64 gram matrix is exact (|dot| <= d * 10^8 << 2^63)
            dots = imat @ imat.T
            na = np.diag(dots)
            # float sims only PRUNE, with a 1-unit margin 10+ orders of
            # magnitude beyond float64 dot error; the exact integer
            # isqrt((10^8 dot^2) div (na nb)) decides every emission
            fn = np.sqrt(na.astype(np.float64))
            fn[fn == 0] = 1.0
            approx = np.floor(
                dots / np.outer(fn, fn) * 10000
            ).astype(np.int64)
            cand = (approx >= thr - 1) & (ids[:, None] < ids[None, :]) & (dots > 0)
            ai, bj = np.nonzero(cand)
            out_a, out_b, out_s = [], [], []
            import math

            for i, j in zip(ai.tolist(), bj.tolist()):
                d = int(dots[i, j])
                denom = int(na[i]) * int(na[j])
                if denom == 0:
                    continue
                s = math.isqrt((100_000_000 * d * d) // denom)
                if s >= thr:
                    out_a.append(ids[i])
                    out_b.append(ids[j])
                    out_s.append(s)
            return pd.DataFrame(
                {"a": out_a, "b": out_b,
                 "sim_e4": pd.Series(out_s, dtype="int64")}
            )
        e4 = _sim_e4(mat, mat)
        keep = (e4 >= thr) & (ids[:, None] < ids[None, :])
        ai, bj = np.nonzero(keep)
        return pd.DataFrame({"a": ids[ai], "b": ids[bj], "sim_e4": e4[ai, bj]})

    return with_b.groupBy("bucket").applyInPandas(pairs, schema=out_schema)
