"""One segment transaction behind ``append_segment``, ``maybe_merge`` and
``compact_segments``: a failure at any step up to and including the
publish leaves the index exactly as it was — same search results, no
leaked name or doc-range claim, tombstone-generation pin, output dir or
staged covered set, input dirs untouched — and an unpatched re-run then
succeeds and matches the BM25 oracle. The one exception is an
explicit-named (resumable) append: it keeps its claim, and the re-run
gets the same doc-id offset back. Failures are injected by
monkeypatching module names; hard crashes that never reach the abort
path are not covered here."""

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
    set, and ``compact_segments`` masks and stages the same ids. ``extra``
    is a 12-doc batch with fresh keys for the append cases."""
    pdf = gen_corpus_pdf(n_docs=136, seed=13)
    extra = gen_corpus_pdf(n_docs=12, seed=14)
    extra["path"] = "new/" + extra["path"]
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
    by_key = {(r.repo, r.path, r.commit): r.content
              for p in (pdf, extra) for r in p.itertuples(index=False)}
    return d, by_key, _results(spark, d), extra


def _run(spark, op, d, extra):
    if op == "compact":
        return inc.compact_segments(spark, d)
    if op == "merge":
        return inc.maybe_merge(spark, d, merge_at=3)
    return append_segment(spark, spark.createDataFrame(extra, schema=SCHEMA), d,
                          segment="seg_named" if op == "append_named" else None,
                          num_id_buckets=8)


def _inject(monkeypatch, fault, inputs):
    if fault == "pack":
        # merges pack through _pack_segment, appends through _write_segment
        for mod, name in ((inc, "_pack_segment"), (build, "_write_segment")):
            def pack_then_fail(*a, _real=getattr(mod, name), **k):
                _real(*a, **k)  # the output dir is fully written
                raise RuntimeError("injected pack failure")

            monkeypatch.setattr(mod, name, pack_then_fail)
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
        real_publish, real_read = build.publish_segment, build.read_meta_for_update

        def taken_at_publish(*a, **k):
            # the publish: show it meta where a concurrent run took its inputs
            monkeypatch.setattr(build, "read_meta_for_update",
                                lambda index_dir: {**real_read(index_dir), "segments": {}})
            try:
                return real_publish(*a, **k)
            finally:
                monkeypatch.setattr(build, "read_meta_for_update", real_read)

        monkeypatch.setattr(build, "publish_segment", taken_at_publish)


CASES = [(op, fault) for op in ("compact", "merge")
         for fault in ("pack", "stage", "meta_write", "inputs_taken")]
CASES += [("append", "pack"), ("append", "meta_write"), ("append_named", "pack")]


@pytest.mark.parametrize("op,fault", CASES)
def test_failed_merge_leaves_index_unchanged(spark, base_env, tmp_path, monkeypatch, op, fault):
    base, by_key, before, extra = base_env
    d = str(tmp_path / "idx")
    shutil.copytree(base, d)
    meta_before = _root_meta(d)
    inputs = set(meta_before["segments"])
    tree_before = _tree(d, inputs)

    claimed = []
    real_claim = build.claim_segment

    def spy_claim(*a, **k):
        claimed.append(real_claim(*a, **k))
        return claimed[-1]

    monkeypatch.setattr(build, "claim_segment", spy_claim)
    _inject(monkeypatch, fault, inputs)
    if op == "merge" and fault == "inputs_taken":
        assert _run(spark, op, d, extra) is None  # maybe_merge reports a lost race as no merge
    else:
        with pytest.raises((RuntimeError, OSError), match="injected|concurrent"):
            _run(spark, op, d, extra)
    monkeypatch.undo()

    assert len(claimed) == 1
    out, offset = claimed[0]
    root = _root_meta(d)
    if op == "append_named":
        # resumable: the claim and the written lineage stages stay
        assert root["reserved_ranges"][out]["lo"] == offset
        assert os.path.isdir(os.path.join(d, "segments", out))
    else:
        assert out not in root.get("reserved", {})
        assert out not in root.get("reserved_ranges", {})
        assert out not in root.get("tomb_pins", {})
        assert not os.path.exists(os.path.join(d, "segments", out))
        assert not os.path.exists(os.path.join(d, "tombstones_covered", out))
    assert root["segments"] == meta_before["segments"]
    assert root.get("covered_gc", {}) == meta_before.get("covered_gc", {})
    assert _tree(d, inputs) == tree_before
    assert _results(spark, d) == before

    meta = _run(spark, op, d, extra)
    assert meta is not None and meta["segment"] is not None
    if op == "append_named":
        assert meta["doc_id_offset"] == offset, "a re-run must get its claimed offset back"
    idx = SearchIndex(spark, d)
    want_segs = {"compact": 1, "merge": 2}.get(op, 5)
    assert len(idx.meta["segments"]) == want_segs
    if op == "merge":
        assert sorted(meta["merged"]) == SMALL
    rows = idx.docstats().select("doc_id", "repo", "path", "commit").collect()
    docs = {r.doc_id: by_key[(r.repo, r.path, r.commit)] for r in rows}
    # merges drop the three tombstoned docs physically; appends add 12
    assert len(docs) == (133 if op in ("compact", "merge") else 148)
    tomb = idx._tombstones()
    dead = set() if tomb is None else {r.doc_id for r in tomb.select("doc_id").collect()}
    stats = corpus_stats(docs)
    for q in QUERIES:
        got = idx.search(q, k=10).collect()
        want = bm25_oracle_topk(docs, q, k=10, precomputed=stats,
                                doc_pred=lambda x: x not in dead)
        assert [r.doc_id for r in got] == [doc for doc, _ in want], q
        for r, (_, s) in zip(got, want):
            assert r.score == pytest.approx(s, abs=1e-9)
