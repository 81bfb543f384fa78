"""One merge transaction behind ``maybe_merge`` and ``compact_segments``:
a failure at any step up to and including the publish leaves the index
exactly as it was — same search results, no leaked name reservation,
tombstone-generation pin, output dir or staged covered set, input dirs
untouched — and an unpatched re-run then succeeds and matches the BM25
oracle. Failures are injected by monkeypatching module names; hard
crashes that never reach the abort path are not covered here."""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pytest

import dbsyncer_spark.index.build as build
import dbsyncer_spark.streaming.incremental as inc
from dbsyncer_spark.fixtures.corpus import gen_corpus_pdf
from dbsyncer_spark.index.build import append_segment, build_index
from dbsyncer_spark.index.search import SearchIndex
from dbsyncer_spark.oracle.bm25_oracle import bm25_oracle_topk, corpus_stats

PARAMS = dict(num_shards=4, range_size=128, block_size=16, num_id_buckets=8)
SCHEMA = "repo string, path string, commit string, lang string, content string"
QUERIES = ["import", "merge offset"]
SMALL = ["seg_000001", "seg_000002", "seg_000003"]


def _results(spark, d):
    idx = SearchIndex(spark, d)
    return {q: [(r.doc_id, r.score) for r in idx.search(q, k=10).collect()]
            for q in QUERIES}


def _tree(d, names):
    out = {}
    for n in names:
        root = os.path.join(d, "segments", n)
        for dp, _dn, fns in os.walk(root):
            for fn in fns:
                p = os.path.join(dp, fn)
                with open(p, "rb") as f:
                    out[os.path.relpath(p, d)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _root_meta(d):
    with open(os.path.join(d, "meta.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def base_env(spark, tmp_path_factory):
    """A 100-doc segment plus three 12-doc appends, with one tombstone in
    each small segment: under the reclaim ratio, so ``maybe_merge``
    tier-merges exactly the three small segments and stages a covered
    set, and ``compact_segments`` masks and stages the same ids."""
    pdf = gen_corpus_pdf(n_docs=136, seed=13)
    d = str(tmp_path_factory.mktemp("txn") / "base")
    build_index(spark, spark.createDataFrame(pdf.iloc[:100], schema=SCHEMA), d, **PARAMS)
    for lo in (100, 112, 124):
        append_segment(spark, spark.createDataFrame(pdf.iloc[lo:lo + 12], schema=SCHEMA),
                       d, num_id_buckets=8)
    idx = SearchIndex(spark, d)
    ids = sorted(r.doc_id for r in idx.docstats().select("doc_id").collect())
    victims = [min(i for i in ids if s["doc_id_offset"] <= i <= s["max_doc_id"])
               for s in (idx.meta["segments"][n] for n in SMALL)]
    assert inc.delete_docs(spark, d, spark.createDataFrame(
        [(v,) for v in victims], "doc_id long")) == 3
    by_key = {(r.repo, r.path, r.commit): r.content for r in pdf.itertuples(index=False)}
    return d, by_key, _results(spark, d)


def _run(spark, op, d):
    if op == "compact":
        return inc.compact_segments(spark, d)
    return inc.maybe_merge(spark, d, merge_at=3)


def _inject(monkeypatch, fault, inputs):
    if fault == "pack":
        real_pack = inc._pack_segment

        def pack_then_fail(*a, **k):
            real_pack(*a, **k)  # the output dir is fully written
            raise RuntimeError("injected pack failure")

        monkeypatch.setattr(inc, "_pack_segment", pack_then_fail)
    elif fault == "stage":
        real_stage = inc._stage_covered_tombstones

        def stage_then_fail(*a, **k):
            assert real_stage(*a, **k), "fixture must stage a covered set"
            raise RuntimeError("injected staging failure")

        monkeypatch.setattr(inc, "_stage_covered_tombstones", stage_then_fail)
    elif fault == "meta_write":
        real_write = build.atomic_write_meta

        def fail_publish(index_dir, meta):
            # the publish is the only meta write that changes the segment set
            if set(meta["segments"]) != inputs:
                raise OSError("injected meta write failure")
            real_write(index_dir, meta)

        monkeypatch.setattr(build, "atomic_write_meta", fail_publish)
    else:  # inputs_taken
        real_locked = inc._write_meta_locked

        def taken_at_publish(index_dir, mut):
            def seen(fresh):
                out = mut(fresh)
                if out is not None and set(out["segments"]) != set(fresh["segments"]):
                    # the publish: show it meta where a concurrent run took its inputs
                    return mut({**fresh, "segments": {}})
                return out

            return real_locked(index_dir, seen)

        monkeypatch.setattr(inc, "_write_meta_locked", taken_at_publish)


@pytest.mark.parametrize("fault", ["pack", "stage", "meta_write", "inputs_taken"])
@pytest.mark.parametrize("op", ["compact", "merge"])
def test_failed_merge_leaves_index_unchanged(spark, base_env, tmp_path, monkeypatch, op, fault):
    base, by_key, before = base_env
    d = str(tmp_path / "idx")
    shutil.copytree(base, d)
    meta_before = _root_meta(d)
    inputs = set(meta_before["segments"])
    tree_before = _tree(d, inputs)

    reserved = []
    real_reserve = inc._reserve_segment_name

    def spy_reserve(index_dir):
        reserved.append(real_reserve(index_dir))
        return reserved[-1]

    monkeypatch.setattr(inc, "_reserve_segment_name", spy_reserve)
    _inject(monkeypatch, fault, inputs)
    if op == "merge" and fault == "inputs_taken":
        assert _run(spark, op, d) is None  # maybe_merge reports a lost race as no merge
    else:
        with pytest.raises((RuntimeError, OSError), match="injected|concurrent"):
            _run(spark, op, d)
    monkeypatch.undo()

    assert len(reserved) == 1
    out = reserved[0]
    root = _root_meta(d)
    assert out not in root.get("reserved", {})
    assert out not in root.get("tomb_pins", {})
    assert root["segments"] == meta_before["segments"]
    assert root.get("covered_gc", {}) == meta_before.get("covered_gc", {})
    assert not os.path.exists(os.path.join(d, "segments", out))
    assert not os.path.exists(os.path.join(d, "tombstones_covered", out))
    assert _tree(d, inputs) == tree_before
    assert _results(spark, d) == before

    meta = _run(spark, op, d)
    assert meta is not None and meta["segment"] is not None
    idx = SearchIndex(spark, d)
    want_segs = 1 if op == "compact" else 2
    assert len(idx.meta["segments"]) == want_segs
    if op == "merge":
        assert sorted(meta["merged"]) == SMALL
    rows = idx.docstats().select("doc_id", "repo", "path", "commit").collect()
    docs = {r.doc_id: by_key[(r.repo, r.path, r.commit)] for r in rows}
    assert len(docs) == 133  # the three tombstoned docs are physically gone
    stats = corpus_stats(docs)
    for q in QUERIES:
        got = idx.search(q, k=10).collect()
        want = bm25_oracle_topk(docs, q, k=10, precomputed=stats)
        assert [r.doc_id for r in got] == [doc for doc, _ in want], q
        for r, (_, s) in zip(got, want):
            assert r.score == pytest.approx(s, abs=1e-9)
