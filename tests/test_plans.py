"""Physical-plan gates: the optimizations we rely on at scale must be
visible in the executed plan — shard partition pruning + tid pushdown on
the postings scan, broadcast join for the tiny query side, TakeOrdered
(never a global sort) for top-k, no exchange when cached partitioning
matches the grouping."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbsyncer_spark.index.build import build_index, py_shard, term_id
from dbsyncer_spark.index.search import SearchIndex


@pytest.fixture(scope="module")
def pindex(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("planidx"))
    build_index(spark, corpus, d, num_shards=8, range_size=256, num_id_buckets=32)
    return SearchIndex(spark, d)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_postings_scan_is_pruned(pindex):
    """Query-term filter must reach the parquet scan: shard partition
    pruning + tid row-group pushdown (dictionary sorted by tid)."""
    tid = term_id("merge")
    shard = py_shard("merge", pindex.num_shards)
    scan = pindex._postings().filter(
        (F.col("shard") == shard) & (F.col("tid") == tid)
    )
    p = _plan(scan)
    assert "PartitionFilters" in p
    assert f"shard#" in p or "shard" in p
    assert "PushedFilters" in p and "tid" in p.split("PushedFilters", 1)[1][:200]


def test_topk_uses_take_ordered(pindex):
    p = _plan(pindex.search("merge offset", k=10))
    assert "TakeOrderedAndProject" in p
    # local sorts (", false, 0" = global=false) for the pandas grouping
    # are fine; a GLOBAL sort for top-k would be the scale bug
    for line in p.splitlines():
        if "Sort [" in line:
            assert ", false, 0" in line, f"global sort in top-k plan: {line}"


def test_fetch_uses_broadcast_join(pindex):
    top = pindex.search("merge offset", k=5)
    p = _plan(pindex.fetch(top))
    assert "BroadcastHashJoin" in p


def test_exhaustive_bm25_plan(spark, corpus):
    from dbsyncer_spark.index.docids import assign_doc_ids
    from dbsyncer_spark.query.bm25 import bm25_topk

    docs = assign_doc_ids(corpus.limit(200), num_buckets=8)
    p = _plan(bm25_topk(spark, docs, "merge offset", k=10))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p  # df-stats + corpus-stats joins


def test_exhaustive_bm25_scan_budget(spark, corpus, tmp_path):
    """The wide scorer's deterministic scan budget (r4 scan-fusion, see
    bm25_scored_terms): the stats branch counts tokens via regexp_count
    and must never build a token array (``split``), and each tf-lineage
    copy materializes the token array ONCE (``_toks`` stays an attribute
    between the Generate and the doc-length Project — Catalyst must not
    inline the split into both consumers). A parquet-backed corpus is
    required: over a LocalRelation the optimizer constant-folds the
    whole stats scan away and the plan shows nothing to gate."""
    from dbsyncer_spark.index.docids import assign_doc_ids
    from dbsyncer_spark.query.bm25 import bm25_topk_wide

    p = str(tmp_path / "corpus.parquet")
    assign_doc_ids(corpus.limit(200), num_buckets=8).write.parquet(p)
    docs = spark.read.parquet(p)
    r = bm25_topk_wide(spark, docs, "merge offset", k=10)
    r.collect()
    # toString appends the pre-AQE plan after "== Initial Plan ==" —
    # gate the FINAL section only
    final = (r._jdf.queryExecution().executedPlan().toString()
             .split("== Initial Plan ==")[0])
    # regexp_count is RuntimeReplaceable: it prints as
    # size(regexp_extract_all(...))
    assert "regexp_extract_all" in final, \
        f"stats branch must use the scalar count:\n{final[:3000]}"
    # one split per tf-lineage copy; 1 with AQE exchange reuse (the
    # steady state), 2 allowed when the concurrent broadcast stages
    # race past the stage cache. The pre-fusion shape carried 3 full
    # tokenize subtrees.
    n_tokenize = final.count("split(")
    assert 1 <= n_tokenize <= 2, f"{n_tokenize} tokenize subtrees:\n{final[:3000]}"


def test_cached_partitioning_elides_exchange(spark, pindex):
    """With warmed caches, the scoring job must not re-shuffle postings:
    the persisted repartition(range_id) satisfies the groupBy."""
    pindex.warm(cache_postings=True)
    try:
        df = pindex.search("merge offset", k=10)
        p = _plan(df)
        assert "InMemoryTableScan" in p
        # zero shuffle exchanges between the cache read and the pandas
        # grouping (the Exchange inside InMemoryRelation is the one-time
        # cache build, not the per-query hot path)
        hot_path = p.split("FlatMapGroupsInPandas", 1)[1].split("InMemoryRelation", 1)[0]
        assert "Exchange" not in hot_path, hot_path
    finally:
        # don't leak cached blocks into other module tests
        for key in ("postings", "docstats"):
            cached = pindex._df_cache.pop(key, None)
            if cached is not None:
                cached.unpersist()


def test_warm_cache_partition_count_matches_ranges(spark, pindex):
    """The pinned postings cache sizes its partitioning to the number of
    live docId ranges — NOT the session shuffle default — so a small
    index never pays empty Python-worker round trips per query (r2)."""
    pindex.warm(cache_postings=True)
    try:
        n_ranges = max(1, sum(
            (s["max_doc_id"] - s["doc_id_offset"]) // pindex.range_size + 1
            for s in pindex.meta["segments"].values()
            if s["max_doc_id"] >= s["doc_id_offset"]
        ))
        expect = min(n_ranges, int(spark.conf.get("spark.sql.shuffle.partitions")))
        assert pindex._df_cache["postings"].rdd.getNumPartitions() == expect
    finally:
        for key in ("postings", "docstats"):
            cached = pindex._df_cache.pop(key, None)
            if cached is not None:
                cached.unpersist()


def test_miss_query_collects_without_a_job(pindex):
    """Term-miss results fold to an empty LocalRelation (LocalTableScan):
    collect() is driver-side — no 32-task no-op job per miss (r2)."""
    df = pindex.search("zz_never_indexed_zz", k=10)
    assert "LocalTableScan" in _plan(df)
    assert df.collect() == []


def test_ivf_layout_probe_is_partition_pruned(spark, tmp_path):
    """The ivf_write inverted-file layout makes probes partition-pruned
    reads: the _ivf_list filter appears as PartitionFilters on the scan
    (never a post-scan Filter over all rows), plan stays Exchange-free,
    and nprobe=all is row-identical to the full-corpus exact top-k."""
    from dbsyncer_spark.ops.similarity import (
        cosine_topk, ivf_centroids, ivf_probe_topk, ivf_write,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    cents = ivf_centroids(emb, n_centroids=4, sample=100)
    layout = str(tmp_path / "ivf_layout")
    ivf_write(emb, cents, layout)

    probed = ivf_probe_topk(spark, layout, qv, cents, k=5, nprobe=2)
    p = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in p and "_ivf_list" in p.split("PartitionFilters")[1][:200]
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p

    exact = ivf_probe_topk(spark, layout, qv, cents, k=5, nprobe=4)
    want = cosine_topk(emb, qv, k=5).collect()
    assert [(r.vec_id, round(r.score, 9)) for r in exact.collect()] == [
        (r.vec_id, round(r.score, 9)) for r in want
    ]


def test_ivf_plan_is_map_only(spark):
    """IVF probe + rerank: centroid literals in plan, single file scan,
    TakeOrdered — zero Exchange (at scale with a list-partitioned layout
    the filter becomes partition pruning)."""
    from dbsyncer_spark.ops.similarity import ivf_ann_topk, ivf_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    cents = ivf_centroids(emb, n_centroids=4, sample=100)
    p = _plan(ivf_ann_topk(emb, qv, k=5, nprobe=2, centroids=cents))
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p, "IVF probe path must stay map-only"


def test_tombstone_only_search_cogroups_dead_set_not_docstats(spark, corpus, tmp_path_factory):
    """With no doc_filter/allowed_docs, a single tombstone must flip the
    scorer to the INVERTED dead-set cogroup — not ship the entire live
    docstats into the Python workers per query (r3 review). Gate: the
    cogrouped plan reads the tombstones files, never docstats."""
    from dbsyncer_spark.streaming.incremental import delete_docs

    d = str(tmp_path_factory.mktemp("deadidx"))
    build_index(spark, corpus, d, num_shards=8, range_size=256, num_id_buckets=32)
    idx = SearchIndex(spark, d)
    baseline = [(r.doc_id, r.score) for r in idx.search("merge offset", k=10).collect()]
    victim = idx.docstats().orderBy("doc_id").limit(1).select("path")
    assert delete_docs(spark, d, victim) == 1

    idx2 = SearchIndex(spark, d)
    q = idx2.search("merge offset", k=10)
    p = _plan(q)
    assert "tombstones" in p, "masked search must cogroup the dead set"
    assert "docstats" not in p, "tombstone-only search must not scan docstats"
    # and the phrase-less exhaustive path too
    p2 = _plan(idx2.search("merge offset", k=10, mode="exhaustive"))
    assert "docstats" not in p2
    # results: same ranking minus any tombstoned doc
    got = [(r.doc_id, r.score) for r in q.collect()]
    dead = {r.doc_id for r in spark.read.parquet(f"{d}/tombstones").collect()}
    want = [x for x in baseline if x[0] not in dead][: len(got)]
    assert got[: len(want)] == want


def test_broad_filter_cogroups_complement_not_match_set(spark, pindex):
    """r3 VERDICT #1 gate: with a doc_filter matching the MAJORITY of
    docs the cogroup side must be the COMPLEMENT (the smaller set), not
    the match set — a broad MUST filter over a 10^10-doc corpus would
    otherwise ship O(matching docs) ids into the Python scorers per
    query. Selective filters keep the allowed side; both mask sides must
    produce identical rankings."""
    stats = pindex.docstats()
    counts = {
        r.lang: r["cnt"]
        for r in stats.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    total = pindex.n_docs
    majority = max(counts, key=counts.get)
    flt = (
        F.col("lang") == F.lit(majority)
        if counts[majority] > total / 2
        else F.col("lang") != F.lit(majority)
    )
    match_n = stats.filter(flt).count()
    assert match_n > total / 2, "fixture must give a majority-matching filter"
    side, inverted = pindex._mask_plan(flt, pindex._tombstones())
    assert inverted is True, "broad filter must ship the complement, inverted"
    assert side.count() == total - match_n
    # a selective (minority) filter stays allowed-side
    minority = min(counts, key=counts.get)
    side2, inv2 = pindex._mask_plan(
        F.col("lang") == F.lit(minority), pindex._tombstones()
    )
    assert inv2 is False
    assert side2.count() == counts[minority]
    # end-to-end: the inverted-complement ranking is row-identical to a
    # forced allowed-side ranking (filter_selectivity pins the choice)
    a = [
        (r.doc_id, round(r.score, 9))
        for r in pindex.search("merge offset", k=10, doc_filter=flt).collect()
    ]
    b = [
        (r.doc_id, round(r.score, 9))
        for r in pindex.search(
            "merge offset", k=10, doc_filter=flt, filter_selectivity=0.01
        ).collect()
    ]
    assert a == b and len(a) > 0


def test_filtered_wide_one_scan_with_index_stats(spark, corpus, tmp_path):
    """r4 VERDICT wrong-#2 fix: a FILTERED wide query that is handed
    index-precomputed stats (n_docs/avgdl/df) must run exactly ONE
    corpus-content scan — one tokenize subtree, no regexp_count stats
    scan, no unfiltered df lineage — and return the same rounded rows as
    the self-derived-stats plan."""
    from dbsyncer_spark.functions.tokenizer import tokenize_py
    from dbsyncer_spark.index.build import build_index
    from dbsyncer_spark.index.docids import assign_doc_ids
    from dbsyncer_spark.index.search import SearchIndex
    from dbsyncer_spark.query.bm25 import bm25_topk_wide

    p = str(tmp_path / "corpus.parquet")
    assign_doc_ids(corpus, num_buckets=8).write.parquet(p)
    docs = spark.read.parquet(p)
    idx_dir = str(tmp_path / "idx")
    build_index(spark, corpus, idx_dir, num_shards=4, range_size=256,
                num_id_buckets=8)
    idx = SearchIndex(spark, idx_dir)
    q = "merge offset scan"
    flt = F.col("lang") == "python"
    want = [(r.doc_id, r.score) for r in
            bm25_topk_wide(spark, docs, q, k=10, id_col="doc_id",
                           text_col="content", doc_filter=flt).collect()]
    got_df = bm25_topk_wide(
        spark, docs, q, k=10, id_col="doc_id", text_col="content",
        doc_filter=flt, stats=idx.corpus_stats(tokenize_py(q)),
    )
    got = [(r.doc_id, r.score) for r in got_df.collect()]
    assert got == want and len(got) == 10
    final = (got_df._jdf.queryExecution().executedPlan().toString()
             .split("== Initial Plan ==")[0])
    assert final.count("split(") == 1, \
        f"{final.count('split(')} tokenize subtrees with stats provided:\n{final[:3000]}"
    assert "regexp_extract_all" not in final, \
        f"stats scan still present:\n{final[:3000]}"
