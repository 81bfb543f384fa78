"""Regression gates for r2 review findings: tombstone / doc_filter masks
must apply BEFORE the per-range top-k cut (masking after the cut silently
loses live docs ranked behind excluded ones), the cut itself must keep
boundary score-ties and resolve them by doc id, and quarantine replay is
consume-once."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dbsyncer_spark.index.build import build_index, replay_quarantine
from dbsyncer_spark.index.search import SearchIndex, _cut_topk
from dbsyncer_spark.streaming.incremental import delete_docs

SCHEMA = "repo string, path string, commit string, lang string, content string"


def _phrase_corpus():
    """Six docs, all containing the phrase 'alpha beta' once, strictly
    increasing doc length -> strictly decreasing BM25 phrase scores."""
    rows = []
    for i in range(6):
        filler = " ".join(f"filler{i}tok{j}" for j in range(4 + 6 * i))
        rows.append((f"r{i}", f"p{i}.py", f"c{i}", ["java", "python"][i % 2],
                     f"alpha beta {filler}"))
    return rows


@pytest.fixture(scope="module")
def pidx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mask_idx"))
    docs = spark.createDataFrame(_phrase_corpus(), SCHEMA)
    build_index(spark, docs, d, num_shards=4, range_size=128, block_size=16,
                num_id_buckets=4, store_positions=True)
    return d


def test_cut_topk_keeps_lowest_doc_id_on_boundary_ties():
    ids = np.array([40, 10, 30, 20, 50], dtype=np.int64)
    scores = np.array([1.0, 0.5, 0.5, 0.5, 0.2])
    got_ids, got_scores = _cut_topk(ids, scores, 2)
    # three-way tie at the k=2 boundary: the LOWEST doc id must survive
    assert got_ids.tolist() == [40, 10]
    assert got_scores.tolist() == [1.0, 0.5]
    # under-full input: full (score desc, id asc) order
    got_ids, _ = _cut_topk(ids, scores, 10)
    assert got_ids.tolist() == [40, 10, 20, 30, 50]


def test_phrase_tombstone_masks_before_cut(spark, pidx):
    idx = SearchIndex(spark, pidx)
    full = idx.search_phrase("alpha beta", k=10).collect()
    assert len(full) == 6
    top = full[0]
    vic = idx.docstats().filter(F.col("doc_id") == top.doc_id).select("repo", "path")
    assert delete_docs(spark, pidx, vic) == 1

    idx2 = SearchIndex(spark, pidx)
    got = idx2.search_phrase("alpha beta", k=5).collect()
    # post-cut masking would return only 4 rows (rank-1 cut then dropped)
    assert [(r.doc_id, r.score) for r in got] == [
        (r.doc_id, r.score) for r in full[1:6]
    ]


def test_search_and_search_many_tombstone_before_cut(spark, pidx):
    """Depends on the tombstone from the previous test: single range,
    6 matching docs, top-1 deleted — k=3 must return original ranks 2-4."""
    idx = SearchIndex(spark, pidx)
    got_many = idx.search_many({"q": "alpha"}, k=3).collect()
    want = idx.search("alpha", k=3, mode="exhaustive").collect()
    assert len(want) == 3
    assert [(r.doc_id, round(r.score, 12)) for r in got_many] == [
        (r.doc_id, round(r.score, 12)) for r in want
    ]


def test_phrase_doc_filter_masks_before_cut(spark, pidx):
    idx = SearchIndex(spark, pidx)
    full = idx.search_phrase("alpha beta", k=10).collect()
    by_id = {
        r.doc_id: r.lang
        for r in idx.docstats().select("doc_id", "lang").collect()
    }
    top_lang = by_id[full[0].doc_id]
    keep = [r for r in full if by_id[r.doc_id] != top_lang]
    assert len(keep) >= 2, "fixture must have both langs in the ranking"
    k = len(keep)
    got = idx.search_phrase(
        "alpha beta", k=k, doc_filter=(F.col("lang") != top_lang)
    ).collect()
    assert [(r.doc_id, r.score) for r in got] == [(r.doc_id, r.score) for r in keep]


def test_facet_counts_respects_tombstones_and_filter(spark, pidx):
    """Terms-facet (ES aggregation analog): ANY-term match counts per
    lang, excluding tombstoned docs; doc_filter narrows the stats side.
    Runs after the phrase tests, so exactly one doc is tombstoned."""
    idx = SearchIndex(spark, pidx)
    live = {
        r.doc_id: r.lang for r in idx.docstats().select("doc_id", "lang").collect()
    }
    tomb = {r.doc_id for r in spark.read.parquet(f"{pidx}/tombstones").collect()}
    assert len(tomb) == 1
    want: dict[str, int] = {}
    for did, lang in live.items():
        if did not in tomb:  # every doc contains 'alpha'
            want[lang] = want.get(lang, 0) + 1
    got = {r.lang: r.cnt for r in idx.facet_counts("alpha", by="lang").collect()}
    assert got == want
    got_f = {
        r.lang: r.cnt
        for r in idx.facet_counts(
            "alpha", by="lang", doc_filter=(F.col("lang") == "python")
        ).collect()
    }
    assert got_f == {"python": want["python"]}
    # miss query: empty result, right schema, no job needed
    miss = idx.facet_counts("zz_absent_zz", by="lang")
    assert miss.columns == ["lang", "cnt"] and miss.collect() == []
    # count() must skip tombstoned docs too (r2: the single-term
    # dictionary-df shortcut counted deleted docs)
    assert idx.count("alpha") == sum(want.values())
    assert idx.count("alpha beta") == sum(want.values())


def test_search_sorted_field_order_and_tombstones(spark, pidx):
    """Field-sorted match (reference Option.sortField): ANY-term match
    ordered by docstats columns with the stable doc_id tiebreaker; live
    docs only (one tombstone from the earlier tests); TakeOrdered plan."""
    idx = SearchIndex(spark, pidx)
    tomb = {r.doc_id for r in spark.read.parquet(f"{pidx}/tombstones").collect()}
    want = sorted(
        (
            (r.lang, r.path, r.doc_id)
            for r in idx.docstats().select("doc_id", "lang", "path").collect()
            if r.doc_id not in tomb
        ),
    )
    got = idx.search_sorted("alpha", [("lang", True), ("path", True)], k=10)
    assert [(r.lang, r.path, r.doc_id) for r in got.collect()] == want
    p = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p, "field sort must be TakeOrdered, not global Sort"
    # filtered + miss behave
    only_py = idx.search_sorted(
        "alpha", [("path", True)], k=10, doc_filter=(F.col("lang") == "python")
    ).collect()
    assert only_py and all(r.lang == "python" for r in only_py)
    assert idx.search_sorted("zz_absent", [("lang", True)], k=5).collect() == []


def test_replay_quarantine_is_consume_once(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("replay_idx"))
    rows = [("r", f"p{i}.py", f"c{i}", "python", "alpha beta " + "x" * (4000 if i == 0 else 10))
            for i in range(4)]
    docs = spark.createDataFrame(rows, SCHEMA)
    build_index(spark, docs, d, num_shards=4, range_size=128, block_size=16,
                num_id_buckets=4, max_content_bytes=1000)
    idx = SearchIndex(spark, d)
    assert idx.n_docs == 3  # oversized doc quarantined

    meta = replay_quarantine(spark, d, max_content_bytes=10_000)
    assert meta is not None and meta["n_docs"] == 1
    assert SearchIndex(spark, d).n_docs == 4
    # second replay must be a no-op, not a duplicate ingest
    assert replay_quarantine(spark, d, max_content_bytes=10_000) is None
    assert SearchIndex(spark, d).n_docs == 4


def test_phrase_broad_filter_inverted_mask_with_tombstones(spark, tmp_path_factory):
    """r4 adaptive masking on the phrase path: a majority-matching
    doc_filter ships the complement (inverted) and must still mask dead
    docs that MATCH the filter (the dead-set union branch). Ranking must
    be identical to the forced allowed-side plan."""
    d = str(tmp_path_factory.mktemp("ph_inv_idx"))
    rows = []
    for i in range(8):
        filler = " ".join(f"fill{i}w{j}" for j in range(3 + 4 * i))
        lang = "python" if i < 6 else "java"  # 6/8 majority
        rows.append((f"r{i}", f"p{i}.py", f"c{i}", lang, f"alpha beta {filler}"))
    docs = spark.createDataFrame(rows, SCHEMA)
    build_index(spark, docs, d, num_shards=4, range_size=128, block_size=16,
                num_id_buckets=4, store_positions=True)
    idx = SearchIndex(spark, d)
    flt = F.col("lang") == "python"
    before = idx.search_phrase("alpha beta", k=10, doc_filter=flt).collect()
    assert len(before) == 6
    # tombstone the top MATCHING doc — the complement must pick it up
    vic = idx.docstats().filter(F.col("doc_id") == before[0].doc_id).select("repo", "path")
    assert delete_docs(spark, d, vic) == 1
    idx2 = SearchIndex(spark, d)
    side, inverted = idx2._mask_plan(flt, idx2._tombstones())
    assert inverted is True
    assert side.count() == 2 + 1  # 2 java + the dead python doc
    got = [(r.doc_id, round(r.score, 9))
           for r in idx2.search_phrase("alpha beta", k=10, doc_filter=flt).collect()]
    forced = [(r.doc_id, round(r.score, 9))
              for r in idx2.search_phrase("alpha beta", k=10, doc_filter=flt,
                                          filter_selectivity=0.01).collect()]
    assert got == forced and len(got) == 5
    assert before[0].doc_id not in {g[0] for g in got}
