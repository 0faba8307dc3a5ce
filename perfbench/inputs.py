"""Seeded inputs for the workloads, plus their oracles.

Everything here is a pure function of (workload, seed, size): the same
seed gives byte-identical inputs.  Inputs are written as parquet with
pyarrow (no Spark session needed), and every oracle is computed in plain
Python in the same pass.  Results are cached under ``<cache>/<key>/``
so a repeated seed skips generation; generation is never part of a
timed region or of ``setup_s``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

# bump when generation or oracle semantics change: invalidates the cache
INPUT_VERSION = 2
CACHE_KEEP = 12  # newest per-seed entries kept; pools are never deleted

DOCS_ARROW = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field(
            "spans",
            pa.list_(
                pa.struct(
                    [
                        ("kind", pa.string()),
                        ("text", pa.string()),
                        ("media_ref", pa.string()),
                        ("offset", pa.int32()),
                    ]
                )
            ),
        ),
    ]
)


# ---------------------------------------------------------------------------
# fingerprints: order-independent (count, sum of crc32) over key rows.
# spark_fingerprint in harness.py computes the same value inside Spark.
# ---------------------------------------------------------------------------


def row_key(row) -> bytes:
    return "\t".join(str(v) for v in row).encode()


def fingerprint(rows) -> tuple[int, int]:
    """(row count, sum of crc32 of the tab-joined row): a multiset
    fingerprint, so a dropped, added, changed or duplicated row moves it."""
    n = 0
    h = 0
    for r in rows:
        n += 1
        h += zlib.crc32(row_key(r))
    return n, h


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------


def cached(cache_root: str, key: str, build) -> str:
    """Return ``<cache_root>/<key>``, building it with ``build(tmp_dir)``
    when absent.  The directory is published by rename, so an
    interrupted build never leaves a half-written entry."""
    path = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(path, "meta.json")):
        os.utime(path)
        return path
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    entries = sorted(
        (e for e in os.scandir(cache_root)
         if e.is_dir() and ".tmp" not in e.name and not e.name.startswith("pool-")),
        key=lambda e: e.stat().st_mtime,
    )
    for e in entries[:-CACHE_KEEP]:
        shutil.rmtree(e.path, ignore_errors=True)
    return path


def _write_meta(path: str, meta: dict) -> None:
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump(meta, fh)


def read_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as fh:
        return json.load(fh)


def _write_docs(docs: list[dict], path: str) -> None:
    table = pa.Table.from_pylist(
        [{"doc_id": d["doc_id"], "spans": d["spans"]} for d in docs],
        schema=DOCS_ARROW,
    )
    pq.write_table(table, path)


def _pool_map(fn, tasks, workers: int):
    """Map ``fn`` over ``tasks`` in a spawn pool (fresh interpreters, no
    forked JVM state) and return the results in task order."""
    import gc
    import multiprocessing
    from multiprocessing import resource_tracker

    if workers <= 1 or len(tasks) <= 1:
        return [fn(t) for t in tasks]
    ctx = multiprocessing.get_context("spawn")
    pool = ctx.Pool(min(workers, len(tasks)))
    try:
        return pool.map(fn, tasks)
    finally:
        pool.terminate()
        pool.join()
        del pool
        # the pool's semaphores started multiprocessing's resource-tracker
        # process, which would otherwise outlive this one: release them,
        # then stop it and wait for it to exit
        gc.collect()
        resource_tracker._resource_tracker._stop()


# ---------------------------------------------------------------------------
# construct: uniform synthetic corpus over the fixture gazetteer
# ---------------------------------------------------------------------------


POOL_SEED = 20_240_601
POOL_CHUNKS = 32


def _construct_chunk(task) -> list[tuple[str, int, str]]:
    """Generate docs [lo, hi) into one parquet file; return the oracle
    triples of that slice (label-side triples included — they repeat in
    every chunk and the union removes the copies)."""
    path, lo, hi, seed = task
    from netbase_spark.data.fixtures import (
        blacklist_fixture,
        labels_fixture,
        mentionable_labels,
        synonym_pairs,
    )
    from netbase_spark.data.synth import gen_doc
    from netbase_spark.oracle.rules import oracle_triples

    labels = mentionable_labels()
    docs = [gen_doc(i, seed, labels) for i in range(lo, hi)]
    _write_docs(docs, path)
    return sorted(
        oracle_triples(labels_fixture(), docs, blacklist_fixture(), synonym_pairs())
    )


def construct_inputs(cache_root: str, seed: int, n_docs: int, n_files: int,
                     warm_docs: int, workers: int) -> str:
    """Corpus of ``n_files`` files under ``corpus/``, a ``warm_docs``
    warm-up corpus under ``warm/``, and the oracle fingerprint of the
    full construction over ``corpus/``.

    The oracle costs ~1.7 ms per doc, so it is computed once per chunk
    of a fixed pool of ``POOL_CHUNKS`` chunks (``n_docs / n_files`` docs
    each) and cached; the seed picks which ``n_files`` chunks form the
    corpus, and the oracle is the union of their triple sets."""
    chunk_docs = n_docs // n_files

    def build_pool(tmp: str) -> None:
        tasks = [
            (os.path.join(tmp, f"chunk-{i:03d}.parquet"),
             i * chunk_docs, (i + 1) * chunk_docs, POOL_SEED)
            for i in range(POOL_CHUNKS)
        ]
        # warm-up docs come from another seed, so they share no text
        tasks.append((os.path.join(tmp, "warm.parquet"), 0, warm_docs,
                      POOL_SEED + 7_919))
        for i, triples in enumerate(_pool_map(_construct_chunk, tasks, workers)):
            with open(os.path.join(tmp, f"chunk-{i:03d}.json"), "w") as fh:
                json.dump(triples, fh)
        _write_meta(tmp, {})

    pool = cached(
        cache_root,
        f"pool-construct-v{INPUT_VERSION}-c{POOL_CHUNKS}x{chunk_docs}-w{warm_docs}",
        build_pool,
    )

    def build(tmp: str) -> None:
        chunks = sorted(random.Random(seed).sample(range(POOL_CHUNKS), n_files))
        os.makedirs(os.path.join(tmp, "corpus"))
        os.makedirs(os.path.join(tmp, "warm"))
        oracle: set = set()
        for i in chunks:
            os.link(os.path.join(pool, f"chunk-{i:03d}.parquet"),
                    os.path.join(tmp, "corpus", f"chunk-{i:03d}.parquet"))
            with open(os.path.join(pool, f"chunk-{i:03d}.json")) as fh:
                oracle.update(tuple(t) for t in json.load(fh))
        os.link(os.path.join(pool, "warm.parquet"),
                os.path.join(tmp, "warm", "warm.parquet"))
        n, h = fingerprint(sorted(oracle))
        _write_meta(tmp, {"oracle_count": n, "oracle_fp": h, "chunks": chunks})

    return cached(
        cache_root,
        f"construct-v{INPUT_VERSION}-s{seed}-n{n_docs}-f{n_files}-w{warm_docs}",
        build,
    )


# ---------------------------------------------------------------------------
# stream phase: seeded synthetic gazetteer, docs in rounds, late merges
# ---------------------------------------------------------------------------

_SYLLABLES = (
    "ka ri to mu se na lo vi pe du ha ze bo qi ru sa ne fo gi lu "
    "ta mo ki re wu ya ci no be xa do pi"
).split()


def synthetic_gazetteer(seed: int, n_entities: int) -> list[dict]:
    """``n_entities`` entities keyed ``G<n>`` with one primary label of
    1-3 made-up words each; every 8th entity also gets an altLabel.
    Labels are unique, so every alias resolves to one entity."""
    rng = random.Random(seed * 1_000_003 + 17)
    seen: set[str] = set()
    rows = []
    i = 0
    while i < n_entities:
        n_words = rng.choice((1, 2, 2, 3))
        label = " ".join(
            "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3)))
            for _ in range(n_words)
        )
        if label in seen:
            continue
        seen.add(label)
        key = f"G{i}"
        rows.append({"key": key, "label": label, "label_type": "label", "lang": "en"})
        if i % 8 == 0:
            alt = label.replace(" ", "") + "x"
            if alt not in seen:
                seen.add(alt)
                rows.append({"key": key, "label": alt, "label_type": "altLabel",
                             "lang": "en"})
        i += 1
    return rows


def _stream_round(task) -> list[str]:
    """Write one landing round: ``n_files`` files of ``docs_per_file``
    docs mentioning the synthetic gazetteer.  Returns labels found
    verbatim in the round's first docs (merge-edge candidates)."""
    out_dir, seed, r, n_files, docs_per_file, n_entities = task
    from netbase_spark.data.synth import gen_doc

    labels = [row["label"] for row in synthetic_gazetteer(seed, n_entities)
              if row["label_type"] == "label"]
    label_set = set(labels)
    os.makedirs(out_dir, exist_ok=True)
    base = r * n_files * docs_per_file
    found: list[str] = []
    for f in range(n_files):
        lo = base + f * docs_per_file
        docs = [gen_doc(i, seed, labels) for i in range(lo, lo + docs_per_file)]
        _write_docs(docs, os.path.join(out_dir, f"r{r:03d}-part-{f:05d}.parquet"))
        if f == 0:
            for d in docs[:50]:
                words = d["spans"][0]["text"].split(" ")
                for n in (3, 2):
                    for j in range(len(words) - n + 1):
                        cand = " ".join(words[j:j + n])
                        if cand in label_set and cand not in found:
                            found.append(cand)
    return found


def stream_inputs(cache_root: str, seed: int, n_entities: int, rounds: int,
                  files_per_round: int, docs_per_file: int,
                  merges_per_round: int, workers: int) -> str:
    """Gazetteer parquet (``labels.parquet``), ``rounds`` landing rounds
    under ``rounds/<r>/`` and, per round, a chain of late sameAs edges
    between entities the round's docs mention (``meta.json``)."""

    def build(tmp: str) -> None:
        t0 = time.perf_counter()
        gaz = synthetic_gazetteer(seed, n_entities)
        pq.write_table(
            pa.Table.from_pylist(
                gaz,
                schema=pa.schema([
                    pa.field("key", pa.string(), nullable=False),
                    pa.field("label", pa.string(), nullable=False),
                    ("label_type", pa.string()),
                    ("lang", pa.string()),
                ]),
            ),
            os.path.join(tmp, "labels.parquet"),
        )
        tasks = [
            (os.path.join(tmp, "rounds", f"{r:03d}"), seed, r, files_per_round,
             docs_per_file, n_entities)
            for r in range(rounds)
        ]
        found = _pool_map(_stream_round, tasks, workers)
        key_of: dict[str, str] = {}
        for row in gaz:
            key_of.setdefault(row["label"], row["key"])
        rng = random.Random(seed * 7 + 3)
        merges = []
        for labels in found:
            keys = sorted({key_of[lab] for lab in labels})
            rng.shuffle(keys)
            chain = keys[: merges_per_round + 1]
            merges.append([[a, b] for a, b in zip(chain[1:], chain[:-1])])
        _write_meta(tmp, {"merges": merges,
                          "docs_per_round": files_per_round * docs_per_file,
                          "gen_s": time.perf_counter() - t0})

    return cached(
        cache_root,
        f"stream-v{INPUT_VERSION}-s{seed}-g{n_entities}-r{rounds}"
        f"-f{files_per_round}x{docs_per_file}-m{merges_per_round}",
        build,
    )


# ---------------------------------------------------------------------------
# query phase: taxonomy, sameAs graph, directed co-mention graph, vectors
# ---------------------------------------------------------------------------


def closure_oracle(parent_edges) -> list[tuple[str, str]]:
    """(node, anc) for every ancestor reachable through (child, parent)
    edges, excluding the node itself."""
    up: dict[str, set[str]] = {}
    for c, p in parent_edges:
        if c != p:
            up.setdefault(c, set()).add(p)
    out = []
    for n in up:
        seen: set[str] = set()
        stack = list(up[n])
        while stack:
            a = stack.pop()
            if a in seen:
                continue
            seen.add(a)
            stack.extend(up.get(a, ()))
        out.extend((n, a) for a in seen if a != n)
    return out


def cc_oracle(edges) -> list[tuple[str, str]]:
    """(node, rep) with rep the minimum key of the node's component, for
    nodes that are not their own representative."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = {a for e in edges for a in e}
    return [(n, find(n)) for n in nodes if find(n) != n]


def bfs_levels(edges, src: str) -> dict[str, tuple[int, str | None]]:
    """Level-synchronous BFS over directed edges: node -> (depth, parent)
    with parent the minimum same-level predecessor."""
    adj: dict[str, list[str]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    seen: dict[str, tuple[int, str | None]] = {src: (0, None)}
    frontier = [src]
    d = 0
    while frontier:
        d += 1
        nxt: dict[str, str] = {}
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in seen and (v not in nxt or u < nxt[v]):
                    nxt[v] = u
        for v, p in nxt.items():
            seen[v] = (d, p)
        frontier = sorted(nxt)
    return seen


def path_oracle(levels: dict, dst: str) -> list[str] | None:
    if dst not in levels:
        return None
    path = [dst]
    while levels[path[-1]][1] is not None:
        path.append(levels[path[-1]][1])
    return path[::-1]


def grandparent_oracle(parent_edges) -> list[tuple[str, str, str]]:
    """Bindings of (?x SuperClass ?y) . (?y SuperClass ?z)."""
    par: dict[str, list[str]] = {}
    for c, p in parent_edges:
        par.setdefault(c, []).append(p)
    return [(x, y, z) for x, ps in par.items() for y in ps for z in par.get(y, ())]


def topk_oracle(vecs, q: int, k: int) -> list[int]:
    """Exact cosine top-k ids for row ``q`` (itself excluded), ranked by
    floor(sim * 10^4) desc then id asc — the ivf_topk result order."""
    import numpy as np

    s = vecs @ vecs[q] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[q]))
    e4 = np.floor(s * 10000).astype(np.int64)
    order = sorted((int(-e4[i]), i) for i in range(len(vecs)) if i != q)
    return [i for _, i in order[:k]]


def query_inputs(cache_root: str, seed: int, taxonomy_nodes: int,
                 cc_nodes: int, cc_edges: int, path_nodes: int,
                 path_degree: int, n_vectors: int, dims: int,
                 n_dups: int, n_queries: int, ivf_k: int) -> str:
    """All query-phase inputs as parquet, plus each query's oracle
    fingerprint in ``meta.json``."""
    import numpy as np

    def build(tmp: str) -> None:
        from netbase_spark.relations import SUPER_CLASS

        t0 = time.perf_counter()
        rng = random.Random(seed * 31 + 5)
        meta: dict = {}

        # taxonomy: a forest of depth 6, SuperClass edges child -> parent
        levels: list[list[str]] = [[f"T{i}" for i in range(8)]]
        per_level = max(1, (taxonomy_nodes - 8) // 6)
        tax: list[tuple[str, str]] = []
        n = 8
        for _depth in range(6):
            level = []
            for _ in range(per_level):
                child = f"T{n}"
                n += 1
                tax.append((child, rng.choice(levels[-1])))
                level.append(child)
            levels.append(level)
        pq.write_table(
            pa.table({
                "subj": [c for c, _ in tax],
                "rel": pa.array([SUPER_CLASS] * len(tax), pa.int32()),
                "obj": [p for _, p in tax],
            }),
            os.path.join(tmp, "taxonomy.parquet"),
        )
        meta["closure"] = fingerprint(closure_oracle(tax))
        meta["bgp"] = fingerprint(grandparent_oracle(tax))

        # sameAs graph: sparse random edges -> many small components
        cc = [
            (f"S{rng.randrange(cc_nodes)}", f"S{rng.randrange(cc_nodes)}")
            for _ in range(cc_edges)
        ]
        cc = [(a, b) for a, b in cc if a != b]
        pq.write_table(
            pa.table({"src": [a for a, _ in cc], "dst": [b for _, b in cc]}),
            os.path.join(tmp, "sameas.parquet"),
        )
        meta["cc"] = fingerprint(cc_oracle(cc))

        # directed co-mention graph and (src, dst, oracle path) queries
        # at BFS depth 3-5, so every find_path runs several levels
        pe = sorted({
            (f"P{i}", f"P{j}")
            for i in range(path_nodes)
            for j in (rng.randrange(path_nodes) for _ in range(path_degree))
            if j != i
        })
        pq.write_table(
            pa.table({"src": [a for a, _ in pe], "dst": [b for _, b in pe]}),
            os.path.join(tmp, "paths.parquet"),
        )
        path_queries = []
        while len(path_queries) < n_queries:
            src = f"P{rng.randrange(path_nodes)}"
            lv = bfs_levels(pe, src)
            far = sorted(v for v, (d, _) in lv.items() if 3 <= d <= 5)
            if far:
                dst = rng.choice(far)
                path_queries.append([src, dst, path_oracle(lv, dst)])
        meta["path_queries"] = path_queries

        # vectors: gaussian rows plus n_dups planted exact duplicates
        nrng = np.random.default_rng(seed)
        vecs = nrng.standard_normal((n_vectors, dims))
        half = n_vectors // 2
        dup_src = nrng.choice(half, size=n_dups, replace=False)
        dup_dst = half + nrng.choice(n_vectors - half, size=n_dups, replace=False)
        vecs[dup_dst] = vecs[dup_src]
        pq.write_table(
            pa.table({
                "vec_id": pa.array(np.arange(n_vectors), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float64())),
            }),
            os.path.join(tmp, "vectors.parquet"),
        )
        # near-dup oracle: exactly the planted pairs (random pairs in
        # this many dimensions sit far below the 0.95 cosine threshold)
        meta["neardup"] = fingerprint(sorted(
            (int(min(a, b)), int(max(a, b))) for a, b in zip(dup_src, dup_dst)
        ))
        qs = nrng.choice(n_vectors, size=n_queries, replace=False).tolist()
        meta["ivf_k"] = ivf_k
        meta["ivf_queries"] = [
            [q, fingerprint((i,) for i in topk_oracle(vecs, q, ivf_k))] for q in qs
        ]
        meta["gen_s"] = time.perf_counter() - t0
        _write_meta(tmp, meta)

    return cached(
        cache_root,
        f"query-v{INPUT_VERSION}-s{seed}-t{taxonomy_nodes}-c{cc_nodes}x{cc_edges}"
        f"-p{path_nodes}x{path_degree}-v{n_vectors}x{dims}d{n_dups}"
        f"-q{n_queries}k{ivf_k}",
        build,
    )
