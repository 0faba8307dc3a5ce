#!/usr/bin/env python
"""Shuffle-scan scale probe (round-3 verdict item 2): at 10^6..10^7
synthetic aliases — past the broadcast gate's comfort zone — measure
the shuffle-join mention scan with and without the first-token CRC
pre-filter (operators/mentions.first_token_hash_filter, prepared by
``Gazetteer.shuffle``; the unfiltered gazetteer is prepared under a
1-byte broadcast cap, where the filter does not fit):

- gazetteer build wall time (the filter and the max alias word
  count) and the filter's broadcast payload bytes (8 B/entry: the
  filter fits a broadcast long after the full alias->entity table
  doesn't);
- probe rows shuffled with vs without the filter (the corpus-sized
  exchange the fallback path pays);
- end-to-end scan wall seconds both ways, prepared-filter semantics
  (the batch-loop shape: build once, scan many).

Alias/doc synthesis mirrors probe_gazetteer_scale.py's Zipf-ish shared
token pool (WikiData labels share surname/place tokens heavily), but
generated DISTRIBUTIVELY — 10^7 alias strings never sit in driver
memory, matching the oversized-gazetteer scenario this path exists for.

Usage: python scripts/probe_shuffle_scan_scale.py [n_aliases ...]
Writes BENCH/shuffle_scan_probe.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_DOCS = 20_000
DOC_TOKENS = 80


def alias_df(spark, n: int):
    """n near-distinct 1-3 token aliases over a pool of n//20 tokens,
    generated executor-side (deterministic in the row id)."""
    from pyspark.sql import functions as F

    pool = max(1000, n // 20)
    tok = lambda salt: F.concat(
        F.lit("tok"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(salt)), F.lit(pool)).cast("string"),
    )
    k = F.pmod(F.col("id"), F.lit(6))  # 0,1->1 tok; 2,3,4->2; 5->3
    alias = (
        F.when(k <= 1, tok(1))
        .when(k <= 4, F.concat_ws(" ", tok(1), tok(2)))
        .otherwise(F.concat_ws(" ", tok(1), tok(2), tok(3)))
    )
    return (
        spark.range(n)
        .select(alias.alias("alias_key"))
        .distinct()
        .localCheckpoint()
    )


def docs_df(spark, n_aliases: int):
    """N_DOCS docs of DOC_TOKENS tokens, ~10% alias-pool tokens so the
    scan sees realistic hit/miss traffic; deterministic per doc id."""
    from pyspark.sql import functions as F

    pool = max(1000, n_aliases // 20)

    def gen(batches):
        import random

        import pandas as pd

        for pdf in batches:
            ids, texts = [], []
            for i in pdf["id"].tolist():
                rng = random.Random(10_000 + i)
                words = []
                while len(words) < DOC_TOKENS:
                    if rng.random() < 0.10:
                        for _ in range(rng.choice((1, 1, 2, 2, 2, 3))):
                            words.append(f"tok{rng.randrange(pool)}")
                    else:
                        words.append(f"word{rng.randrange(5000)}")
                ids.append(str(i))
                texts.append(" ".join(words[:DOC_TOKENS]))
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    return (
        spark.range(N_DOCS)
        .repartition(32)
        .mapInPandas(gen, schema="doc_id string, text string")
        .localCheckpoint()
    )


def main():
    sizes = [int(a) for a in sys.argv[1:]] or [1_000_000, 10_000_000]
    from netbase_spark.operators.mentions import Gazetteer, _probe_frame
    from netbase_spark.plans.broadcast_gate import CONF_KEY
    from netbase_spark.session import get_spark

    spark = get_spark(
        app="probe_shuffle_scan",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        shuffle_partitions=32,
        driver_memory="24g",
        extra={"spark.ui.showConsoleProgress": "false"},
    )
    results = []
    for n in sizes:
        aliases = alias_df(spark, n)
        n_alias = aliases.count()
        texts = docs_df(spark, n)
        texts.count()
        rec = {"aliases": n_alias, "docs": N_DOCS, "doc_tokens": DOC_TOKENS}

        t0 = time.monotonic()
        gaz = Gazetteer.shuffle(aliases, frozenset())
        rec["gazetteer_build_s"] = round(time.monotonic() - t0, 2)
        ft = gaz.ft_bc
        rec["filter_entries"] = int(ft.value.size) if ft is not None else None
        rec["filter_bytes"] = int(ft.value.nbytes) if ft is not None else None
        spark.conf.set(CONF_KEY, "1")
        bare = Gazetteer.shuffle(aliases, frozenset())
        spark.conf.unset(CONF_KEY)

        maxw = gaz.max_words
        rec["probe_rows_unfiltered"] = _probe_frame(texts, False, maxw).count()
        rec["probe_rows_filtered"] = _probe_frame(texts, False, maxw, ft).count()

        for tag, g in (("nofilter", bare), ("filter", gaz)):
            best = None
            for _ in range(3):
                t0 = time.monotonic()
                nrows = g.scan(texts).count()
                dt = time.monotonic() - t0
                best = dt if best is None else min(best, dt)
            rec[f"scan_s_{tag}"] = round(best, 2)
            rec["mention_rows"] = nrows
        rec["speedup"] = round(rec["scan_s_nofilter"] / rec["scan_s_filter"], 2)
        results.append(rec)
        print(json.dumps(rec))
        spark.catalog.clearCache()

    out = os.path.join(REPO, "BENCH", "shuffle_scan_probe.json")
    with open(out, "w") as fh:
        json.dump(results, fh, indent=1)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
