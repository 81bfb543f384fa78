#!/usr/bin/env python
"""A/B micro-bench for search_many batch serving (and optionally the
single-query p50) against a persisted 100k-doc bench index in /dev/shm.

Builds the index once (reused across runs — delete the dir to rebuild),
then times `search_many` over the unfiltered reference queries best-of-N.
Run on an idle host; compare before/after a serving-path change.

    python tools/ab_batch.py [--p50] [--reps 5]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--p50", action="store_true", help="also time the single-query set")
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--prune-min", type=int, default=None,
                    help="force search_many prune_min_postings (0=always WAND, huge=always TAAT)")
    ap.add_argument("--gated", action="store_true",
                    help="A/B the gated/parsed batch (search_many_parsed "
                         "shared job vs sequential per-query search_parsed)")
    ap.add_argument("--local", action="store_true",
                    help="also time the batch (and --p50 set) through the "
                         "warm_local driver-side snapshot")
    args = ap.parse_args()

    from dbsyncer_spark.fixtures.corpus import corpus_df_distributed, reference_queries
    from dbsyncer_spark.index.build import build_index
    from dbsyncer_spark.index.search import SearchIndex
    from dbsyncer_spark.session import get_spark, warm_python_workers

    spark = get_spark("ab_batch")  # cpus: $SPARK_GRAFT_CPUS, else 32
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    idx_dir = os.path.join(base, f"ab_bench_idx_{args.docs}")
    if args.rebuild:
        shutil.rmtree(idx_dir, ignore_errors=True)
    if not os.path.exists(os.path.join(idx_dir, "meta.json")):
        corpus = corpus_df_distributed(spark, args.docs, seed=42)
        build_index(spark, corpus, idx_dir, num_shards=32, resume=False)
    warm_python_workers(spark)
    idx = SearchIndex(spark, idx_dir)
    idx.warm(cache_postings=True)
    idx.warm_driver_dictionary()

    batch = {f"q{q['queryId']}": q["text"] for q in reference_queries() if not q["filterLang"]}
    kw = {} if args.prune_min is None else {"prune_min_postings": args.prune_min}
    # warmup
    idx.search_many(batch, k=10, **kw).collect()
    best = float("inf")
    walls = []
    for _ in range(args.reps):
        t0 = time.perf_counter()
        idx.search_many(batch, k=10, **kw).collect()
        w = time.perf_counter() - t0
        walls.append(round(w, 3))
        best = min(best, w)
    out = {
        "batch_n": len(batch),
        "batch_best_s": round(best, 3),
        "batch_q_per_s": round(len(batch) / best, 2),
        "batch_walls": walls,
    }

    if args.gated:
        # The most common production batch shape (+term lang:x term):
        # every query carries a MUST gate and a field filter, so the r4
        # router sent each to its own Spark job. A/B the r5 shared job
        # (_search_many_gated) against that sequential fallback.
        hot = ["import", "return", "shard", "merge", "offset", "token",
               "batch", "query", "score", "rank", "index", "block",
               "skip", "meta", "doc", "hash", "stream", "commit",
               "flush", "buffer"]
        langs = ["python", "java", "go", "js", "c"]
        gated_batch = {
            f"g{i}": f"+{hot[i]} lang:{langs[i % 5]} {hot[(i + 7) % 20]}"
            for i in range(20)
        }
        idx.search_many_parsed(gated_batch, k=10).collect()  # warmup
        best_b = float("inf")
        for _ in range(args.reps):
            t0 = time.perf_counter()
            idx.search_many_parsed(gated_batch, k=10).collect()
            best_b = min(best_b, time.perf_counter() - t0)
        # sequential fallback: per-query search_parsed (the r4 shape)
        best_s = float("inf")
        for _ in range(max(1, args.reps // 2)):
            t0 = time.perf_counter()
            for q in gated_batch.values():
                idx.search_parsed(q, k=10).collect()
            best_s = min(best_s, time.perf_counter() - t0)
        out["gated_n"] = len(gated_batch)
        out["gated_batch_q_per_s"] = round(len(gated_batch) / best_b, 2)
        out["gated_sequential_q_per_s"] = round(len(gated_batch) / best_s, 2)
        out["gated_speedup"] = round(best_s / best_b, 1)

    if args.local:
        idx_local = SearchIndex(spark, idx_dir)
        idx_local.warm_local()
        idx_local.search_many(batch, k=10).collect()  # warmup
        best_l = float("inf")
        for _ in range(args.reps):
            t0 = time.perf_counter()
            idx_local.search_many(batch, k=10).collect()
            best_l = min(best_l, time.perf_counter() - t0)
        out["local_batch_q_per_s"] = round(len(batch) / best_l, 2)
        if args.p50:
            from pyspark.sql import functions as F
            for q in reference_queries()[:4]:
                idx_local.search(q["text"], k=q["k"]).collect()
            lat_l = [float("inf")] * len(reference_queries())
            for _ in range(3):
                for qi, q in enumerate(reference_queries()):
                    flt = (F.col("lang") == q["filterLang"]) if q["filterLang"] else None
                    t0 = time.perf_counter()
                    idx_local.search(q["text"], k=q["k"], mode="wand", doc_filter=flt).collect()
                    lat_l[qi] = min(lat_l[qi], time.perf_counter() - t0)
            out["local_query_p50_ms"] = round(1000 * statistics.median(lat_l), 1)

    if args.p50:
        from pyspark.sql import functions as F
        for q in reference_queries()[:4]:
            idx.search(q["text"], k=q["k"]).collect()
        lat = [float("inf")] * len(reference_queries())
        for _ in range(3):
            for qi, q in enumerate(reference_queries()):
                flt = (F.col("lang") == q["filterLang"]) if q["filterLang"] else None
                t0 = time.perf_counter()
                idx.search(q["text"], k=q["k"], mode="wand", doc_filter=flt).collect()
                lat[qi] = min(lat[qi], time.perf_counter() - t0)
        out["query_p50_ms"] = round(1000 * statistics.median(lat), 1)
        out["query_set_s"] = round(sum(lat), 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
