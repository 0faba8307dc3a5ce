#!/usr/bin/env python
"""Gazetteer scale probe: at 10^5..10^6 aliases, measure the token-trie
scan kernel (rules.find_mentions_trie):

- driver build time of the broadcast trie
- serialized broadcast payload bytes (pickle — what sc.broadcast ships)
- single-thread scan throughput (docs/s, tokens/s) over a synthetic
  corpus with a realistic hit rate

Pure driver-side (no Spark session): the scan closure's per-batch work
is exactly these functions, so single-thread numbers measure the kernel
without scheduler noise.  Prints one JSON row per size; ``--out PATH``
also writes them as a JSON list.  BENCH/gazetteer_scale_probe.json is
the historical record of an earlier version that also timed a hash-set
window probe, since removed.

Usage: python scripts/probe_gazetteer_scale.py [--out PATH] [n_aliases ...]
"""

from __future__ import annotations

import json
import os
import pickle
import random
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def synth_aliases(n: int, rng: random.Random) -> list[str]:
    """n distinct normalized alias names, 1-3 tokens, Zipf-ish shared
    token pool (WikiData labels share surname/place tokens heavily)."""
    pool = [f"tok{i}" for i in range(max(1000, n // 20))]
    out: set[str] = set()
    while len(out) < n:
        k = rng.choice((1, 1, 2, 2, 2, 3))
        out.add(" ".join(rng.choice(pool) for _ in range(k)))
    return sorted(out)


def synth_docs(n_docs: int, aliases: list[str], rng: random.Random):
    """Docs of ~80 tokens; ~10% alias-derived tokens so the scan sees
    realistic hit/miss traffic."""
    vocab = [f"word{i}" for i in range(5000)]
    docs = []
    for _ in range(n_docs):
        words: list[str] = []
        while len(words) < 80:
            if rng.random() < 0.10:
                words.extend(rng.choice(aliases).split(" "))
            else:
                words.append(rng.choice(vocab))
        docs.append(" ".join(words[:80]))
    return docs


def main():
    args = sys.argv[1:]
    out = None
    if "--out" in args:
        i = args.index("--out")
        out = args[i + 1]
        del args[i:i + 2]
    sizes = [int(a) for a in args] or [100_000, 1_000_000]
    from netbase_spark.oracle.rules import (
        build_token_trie,
        filter_candidates,
        find_mentions_trie,
        max_alias_word_count,
    )

    rng = random.Random(42)
    results = []
    for n in sizes:
        aliases = synth_aliases(n, rng)
        docs = synth_docs(300, aliases, rng)
        n_tokens = sum(len(d.split(" ")) for d in docs)
        blacklist: frozenset[str] = frozenset()
        maxw = max_alias_word_count(aliases)

        t0 = time.monotonic()
        trie = build_token_trie(aliases)
        build = time.monotonic() - t0
        payload_bytes = len(pickle.dumps((trie, blacklist, maxw)))

        t0 = time.monotonic()
        for d in docs:
            filter_candidates(
                find_mentions_trie(d, trie, blacklist, False, max_span_words=maxw)
            )
        scan = time.monotonic() - t0

        row = {
            "aliases": n,
            "trie": {
                "build_s": round(build, 2),
                "bytes": payload_bytes,
                "docs_per_s": round(len(docs) / scan, 1),
                "tokens_per_s": round(n_tokens / scan, 0),
            },
        }
        results.append(row)
        print(json.dumps(row), flush=True)

    if out:
        with open(out, "w") as f:
            json.dump(results, f, indent=1)
        print(f"wrote {out}")


if __name__ == "__main__":
    main()
