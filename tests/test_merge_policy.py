"""Tiered merge policy (Lucene TieredMergePolicy analog, reference
``Shard.java:361-368``): partial merges must preserve doc ids and stay
rank-identical to a from-scratch oracle, reclaim merges must physically
drop tombstoned docs, and untouched segments must never be rewritten."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from dbsyncer_spark.fixtures.corpus import gen_corpus_pdf
from dbsyncer_spark.index.build import append_segment, build_index
from dbsyncer_spark.index.search import SearchIndex
from dbsyncer_spark.oracle.bm25_oracle import bm25_oracle_topk, corpus_stats
from dbsyncer_spark.streaming.incremental import delete_docs, maybe_merge, select_merge

PARAMS = dict(num_shards=4, range_size=128, block_size=16, num_id_buckets=8)
SCHEMA = "repo string, path string, commit string, lang string, content string"


# -- policy unit tests (pure driver-side, no Spark) -----------------------

def _segs(*sizes):
    out, off = {}, 0
    for i, n in enumerate(sizes):
        out[f"seg_{i:06d}"] = {
            "n_docs": n, "sum_dl": n * 50, "doc_id_offset": off, "max_doc_id": off + n - 1,
        }
        off += ((n // 128) + 1) * 128
    return out


def test_select_merge_tier_trigger():
    segs = _segs(5000, 30, 40, 35, 20)
    got = select_merge(segs, merge_at=4, tier_factor=8)
    # the four small segments share a tier; the big one is left alone
    assert sorted(got) == ["seg_000001", "seg_000002", "seg_000003", "seg_000004"]


def test_select_merge_no_op_when_well_shaped():
    assert select_merge(_segs(5000, 30, 40), merge_at=4) == []
    assert select_merge(_segs(100000), merge_at=2) == []


def test_select_merge_reclaim_beats_tier():
    segs = _segs(100, 30, 40, 35, 20)
    got = select_merge(segs, {"seg_000000": 30}, merge_at=4, reclaim_ratio=0.2)
    assert got == ["seg_000000"]  # singleton delete-reclaim rewrite


def test_select_merge_caps_at_max_merge():
    segs = _segs(*([10] * 20))
    assert len(select_merge(segs, merge_at=4, max_merge=10)) == 10


def test_select_merge_respects_max_merged_docs():
    # group truncated so the output segment stays under the cap
    segs = _segs(40, 40, 40, 40)
    got = select_merge(segs, merge_at=4, max_merged_docs=100)
    assert len(got) == 2  # 40+40 fits, +40 more would exceed 100
    # oversized segments never tier-merge (but a huge+small pair isn't
    # proposed either: the survivors alone don't reach merge_at)
    segs = _segs(500, 500, 10, 10)
    assert select_merge(segs, merge_at=2, max_merged_docs=200) == [
        "seg_000002", "seg_000003",
    ]
    # reclaim ignores the cap: delete-heavy oversized segments still rewrite
    segs = _segs(500)
    assert select_merge(segs, {"seg_000000": 200}, max_merged_docs=100) == ["seg_000000"]


def test_select_merge_only_adjacent_runs():
    """Doc ids are preserved verbatim, so a merge must stay consecutive in
    global doc-id order — otherwise the merged interval would swallow a
    bystander segment's id range and break tombstone interval accounting."""
    # small tier split by a big bystander: only the longest run merges
    segs = _segs(30, 5000, 30, 30, 30)
    assert select_merge(segs, merge_at=3, tier_factor=8) == [
        "seg_000002", "seg_000003", "seg_000004",
    ]
    # scattered delete-heavy segments: one run per call, most-reclaimable first
    segs = _segs(100, 5000, 100)
    got = select_merge(segs, {"seg_000000": 30, "seg_000002": 60}, reclaim_ratio=0.2)
    assert got == ["seg_000002"]


# -- end-to-end -----------------------------------------------------------

@pytest.fixture(scope="module")
def merged_env(spark, tmp_path_factory):
    pdf = gen_corpus_pdf(n_docs=400, seed=7)
    d = str(tmp_path_factory.mktemp("merge_idx"))
    build_index(spark, spark.createDataFrame(pdf.iloc[:300], schema=SCHEMA), d, **PARAMS)
    for lo, hi in [(300, 330), (330, 360), (360, 400)]:
        append_segment(
            spark, spark.createDataFrame(pdf.iloc[lo:hi], schema=SCHEMA), d, num_id_buckets=8
        )
    by_key = {(r.repo, r.path, r.commit): r.content for r in pdf.itertuples(index=False)}
    return d, by_key


def _docs_of(spark, idx, by_key):
    rows = idx.docstats().select("doc_id", "repo", "path", "commit").collect()
    return {r.doc_id: by_key[(r.repo, r.path, r.commit)] for r in rows}


def test_tiered_merge_small_segments_only(spark, merged_env):
    d, by_key = merged_env
    docs_before = _docs_of(spark, SearchIndex(spark, d), by_key)

    meta = maybe_merge(spark, d, merge_at=3, tier_factor=8, retire_grace_s=0)
    assert meta is not None
    assert sorted(meta["merged"]) == ["seg_000001", "seg_000002", "seg_000003"]
    assert meta["n_docs"] == 100

    idx = SearchIndex(spark, d)
    assert sorted(idx.meta["segments"]) == ["seg_000000", "seg_000004"]
    # the base segment was never rewritten (its dir is the original)
    assert os.path.exists(os.path.join(d, "segments", "seg_000000"))
    assert not os.path.exists(os.path.join(d, "segments", "seg_000001"))

    # doc ids + content preserved verbatim; ranking identical to oracle
    docs_after = _docs_of(spark, idx, by_key)
    assert docs_after == docs_before
    stats = corpus_stats(docs_after)
    for q in ["merge offset", "import", "token shard batch"]:
        got = idx.search(q, k=10).collect()
        want = bm25_oracle_topk(docs_after, q, k=10, precomputed=stats)
        assert [r.doc_id for r in got] == [doc for doc, _ in want], q
        for r, (_, s) in zip(got, want):
            assert r.score == pytest.approx(s, abs=1e-9)

    # well-shaped now: policy finds nothing further to do
    assert maybe_merge(spark, d, merge_at=3, tier_factor=8, retire_grace_s=0) is None


def test_reclaim_merge_drops_deletes_physically(spark, merged_env):
    d, by_key = merged_env
    idx = SearchIndex(spark, d)
    merged_name = "seg_000004"
    lo = idx.meta["segments"][merged_name]["doc_id_offset"]
    victims = (
        idx.docstats().filter(F.col("doc_id") >= lo).select("repo", "path", "commit").limit(25)
    )
    n = delete_docs(spark, d, victims)
    assert n == 25

    meta = maybe_merge(spark, d, merge_at=3, reclaim_ratio=0.2, retire_grace_s=0)
    assert meta is not None and meta["merged"] == [merged_name]
    assert meta["n_docs"] == 75
    # all tombstones were covered by the rewritten segment -> dir removed
    assert not os.path.exists(os.path.join(d, "tombstones"))

    idx2 = SearchIndex(spark, d)
    assert idx2.n_docs == 375
    docs = _docs_of(spark, idx2, by_key)
    stats = corpus_stats(docs)
    for q in ["merge offset", "import"]:
        got = idx2.search(q, k=10).collect()
        want = bm25_oracle_topk(docs, q, k=10, precomputed=stats)
        assert [r.doc_id for r in got] == [doc for doc, _ in want], q

    # doc-id high-water mark survives the rewrite: a fresh append must
    # allocate ids above every id ever issued, and its auto-name must not
    # collide with live segments after the count shrank
    with open(os.path.join(d, "meta.json")) as f:
        hwm = max(s["max_doc_id"] for s in json.load(f)["segments"].values())
    pdf = gen_corpus_pdf(n_docs=20, seed=99)
    append_segment(spark, spark.createDataFrame(pdf, schema=SCHEMA), d, num_id_buckets=8)
    idx3 = SearchIndex(spark, d)
    new_segs = set(idx3.meta["segments"]) - set(idx2.meta["segments"])
    assert len(new_segs) == 1
    added = idx3.meta["segments"][new_segs.pop()]
    assert added["doc_id_offset"] > hwm
    assert idx3.n_docs == 395


def test_delete_docs_is_idempotent(spark, tmp_path_factory):
    """Re-deleting the same keys reports 0 and never appends duplicate
    tombstone rows (repeated CDC delete events, r2 review)."""
    pdf = gen_corpus_pdf(n_docs=50, seed=3)
    d = str(tmp_path_factory.mktemp("deldup_idx"))
    build_index(spark, spark.createDataFrame(pdf, schema=SCHEMA), d, **PARAMS)
    idx = SearchIndex(spark, d)
    vic = idx.docstats().select("repo", "path", "commit").limit(5)
    assert delete_docs(spark, d, vic) == 5
    assert delete_docs(spark, d, vic) == 0
    assert spark.read.parquet(os.path.join(d, "tombstones")).count() == 5


def test_merge_preserves_pending_quarantine(spark, tmp_path_factory):
    """A tiered merge must not destroy unreplayed dead-letter rows held
    by its input segments: they move under the output segment and replay
    still recovers them (r2 review: rmtree silently lost them)."""
    from dbsyncer_spark.index.build import replay_quarantine

    pdf = gen_corpus_pdf(n_docs=130, seed=13)
    d = str(tmp_path_factory.mktemp("qmerge_idx"))
    big = pdf.copy()
    # base 100 docs = tier 2 (log8), the 10-doc appends = tier 1: only
    # the three small segments merge
    build_index(spark, spark.createDataFrame(big.iloc[:100], schema=SCHEMA), d, **PARAMS)
    # three small appends; the first one quarantines an oversized doc
    bad = big.iloc[100:110].copy()
    bad["content"] = [f"alpha beta tok{i} merge" for i in range(10)]
    bad.loc[bad.index[0], "content"] = "x" * 5000
    append_segment(spark, spark.createDataFrame(bad, schema=SCHEMA), d,
                   num_id_buckets=8, max_content_bytes=2000)
    for lo, hi in [(110, 120), (120, 130)]:
        append_segment(spark, spark.createDataFrame(big.iloc[lo:hi], schema=SCHEMA),
                       d, num_id_buckets=8)
    assert SearchIndex(spark, d).n_docs == 129  # one doc dead-lettered

    meta = maybe_merge(spark, d, merge_at=3, tier_factor=8, retire_grace_s=0)
    assert meta is not None and len(meta["merged"]) == 3
    new_seg = meta["segment"]
    q_root = os.path.join(d, "segments", new_seg, "quarantine")
    assert os.path.isdir(q_root), "pending quarantine must survive the merge"

    replayed = replay_quarantine(spark, d, segment=new_seg, max_content_bytes=10_000)
    assert replayed is not None and replayed["n_docs"] == 1
    assert SearchIndex(spark, d).n_docs == 130
    assert replay_quarantine(spark, d, segment=new_seg, max_content_bytes=10_000) is None


def test_fully_deleted_run_drops_segment_without_writing(spark, merged_env):
    """Reclaim of a 100%-tombstoned segment must not try to write an empty
    parquet segment: the run is dropped from meta and its doc-id
    high-water mark folds into a survivor so ids are never reused."""
    d, _ = merged_env
    idx = SearchIndex(spark, d)
    small = min(idx.meta["segments"], key=lambda n: idx.meta["segments"][n]["n_docs"])
    lo = idx.meta["segments"][small]["doc_id_offset"]
    hi = idx.meta["segments"][small]["max_doc_id"]
    hwm = max(s["max_doc_id"] for s in idx.meta["segments"].values())
    # key by doc_id: the seed-99 appended docs reuse (repo, path, commit)
    # keys of originals (commit ignores the seed), and a key-join would
    # tombstone both copies — here we want exactly this segment's docs
    victims = (
        idx.docstats()
        .filter((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))
        .select("doc_id")
    )
    n_dropped = idx.meta["segments"][small]["n_docs"]
    assert delete_docs(spark, d, victims) == n_dropped

    meta = maybe_merge(spark, d, reclaim_ratio=0.2, retire_grace_s=0)
    assert meta is not None and meta["merged"] == [small] and meta["segment"] is None

    idx2 = SearchIndex(spark, d)
    assert small not in idx2.meta["segments"]
    assert not os.path.exists(os.path.join(d, "segments", small))
    assert not os.path.exists(os.path.join(d, "tombstones"))
    assert max(s["max_doc_id"] for s in idx2.meta["segments"].values()) >= hwm
    assert idx2.n_docs == idx.n_docs - n_dropped
    # index still queryable with the survivors only
    assert idx2.search("import", k=5).count() == 5


def test_retire_grace_keeps_warm_readers_alive(spark, tmp_path):
    """A merge must not pull segment dirs out from under a reader opened
    against the pre-merge meta (r3 review: immediate rmtree broke live
    readers). With the default grace the input dirs stay on disk (only
    unreferenced from meta), the warm reader's queries keep working, and
    a later maintenance call past the grace window purges them."""
    from dbsyncer_spark.streaming.incremental import _purge_retired

    pdf = gen_corpus_pdf(n_docs=160, seed=21)
    d = str(tmp_path / "grace_idx")
    build_index(spark, spark.createDataFrame(pdf.iloc[:100], SCHEMA), d, **PARAMS)
    for lo, hi in [(100, 120), (120, 140), (140, 160)]:
        append_segment(spark, spark.createDataFrame(pdf.iloc[lo:hi], SCHEMA),
                       d, num_id_buckets=8)
    warm = SearchIndex(spark, d)  # pinned to the pre-merge meta
    before = [(r.doc_id, r.score) for r in warm.search("import", k=10).collect()]

    meta = maybe_merge(spark, d, merge_at=3, tier_factor=8)  # default grace
    assert meta is not None and len(meta["merged"]) == 3
    # inputs unreferenced from meta but still on disk for the warm reader
    root = json.load(open(os.path.join(d, "meta.json")))
    assert sorted(root["retired"]) == sorted(meta["merged"])
    for n in meta["merged"]:
        assert os.path.isdir(os.path.join(d, "segments", n))
        assert n not in root["segments"]
    # the warm reader (old meta, old dirs) still answers identically
    again = [(r.doc_id, r.score) for r in warm.search("import", k=10).collect()]
    assert again == before
    # a fresh append must not reuse a retired name (purge would nuke it)
    append_segment(spark, spark.createDataFrame(pdf.iloc[:10], SCHEMA), d,
                   num_id_buckets=8)
    root2 = json.load(open(os.path.join(d, "meta.json")))
    assert not (set(root2["segments"]) & set(root2["retired"]))

    # past the grace window, maintenance purges dirs and registry entries
    purged = _purge_retired(spark, d, 0)
    assert sorted(purged) == sorted(meta["merged"])
    for n in meta["merged"]:
        assert not os.path.exists(os.path.join(d, "segments", n))
    assert json.load(open(os.path.join(d, "meta.json")))["retired"] == {}


def test_covered_tombstone_gc_is_deferred_to_purge(spark, tmp_path):
    """A reclaim merge physically drops tombstoned docs, but a warm
    reader pinned to the pre-merge meta still reads the OLD segment dirs
    — and re-reads the tombstone dir fresh per query. GC'ing the covered
    tombstones at merge time would resurrect the deleted docs in that
    reader's results for the whole grace window (r3 review); the GC is
    therefore staged and executed at purge time."""
    from dbsyncer_spark.streaming.incremental import _purge_retired

    pdf = gen_corpus_pdf(n_docs=120, seed=27)
    d = str(tmp_path / "gcidx")
    build_index(spark, spark.createDataFrame(pdf.iloc[:100], SCHEMA), d, **PARAMS)
    append_segment(spark, spark.createDataFrame(pdf.iloc[100:120], SCHEMA),
                   d, num_id_buckets=8)
    idx = SearchIndex(spark, d)
    seg = max(idx.meta["segments"], key=lambda n: idx.meta["segments"][n]["doc_id_offset"])
    lo = idx.meta["segments"][seg]["doc_id_offset"]
    victims = idx.docstats().filter(F.col("doc_id") >= lo).select("doc_id").limit(8)
    assert delete_docs(spark, d, victims) == 8
    dead = {r.doc_id for r in spark.read.parquet(os.path.join(d, "tombstones")).collect()}

    warm = SearchIndex(spark, d)  # pre-merge meta
    pre = {r.doc_id for r in warm.search("import", k=200).collect()}
    assert not (pre & dead)

    meta = maybe_merge(spark, d, merge_at=3, reclaim_ratio=0.2)  # default grace
    assert meta is not None and meta["merged"] == [seg]
    # covered tombstones still live (staged, not dropped) for the warm reader
    assert os.path.exists(os.path.join(d, "tombstones"))
    root = json.load(open(os.path.join(d, "meta.json")))
    assert root["covered_gc"], "merge must register its staged covered set"
    post = {r.doc_id for r in warm.search("import", k=200).collect()}
    assert not (post & dead), "warm reader resurrected deleted docs"

    # purge past grace: dirs gone, covered tombstones dropped, registries empty
    _purge_retired(spark, d, 0)
    assert not os.path.exists(os.path.join(d, "segments", seg))
    assert not os.path.exists(os.path.join(d, "tombstones"))
    root2 = json.load(open(os.path.join(d, "meta.json")))
    assert root2["retired"] == {} and root2["covered_gc"] == {}
    assert not os.path.exists(os.path.join(d, "tombstones_covered", meta["segment"]))
    # fresh reader: correct live set, no masking leftovers
    idx2 = SearchIndex(spark, d)
    assert idx2.n_docs == 112
    assert not ({r.doc_id for r in idx2.search("import", k=200).collect()} & dead)


def test_tombstone_generation_flip_keeps_uncovered(spark, tmp_path):
    """The covered-GC publishes its rewrite as a NEW tombstone generation
    (root meta pointer flip) instead of rewriting the live dir in place —
    a crash mid-swap of the old two-rename scheme could lose the whole
    tombstone set (r3 review). Tombstones NOT covered by the merge must
    survive the flip in the new generation."""
    from dbsyncer_spark.streaming.incremental import _active_tomb_dir, _purge_retired

    pdf = gen_corpus_pdf(n_docs=140, seed=31)
    d = str(tmp_path / "genidx")
    build_index(spark, spark.createDataFrame(pdf.iloc[:100], SCHEMA), d, **PARAMS)
    append_segment(spark, spark.createDataFrame(pdf.iloc[100:120], SCHEMA),
                   d, num_id_buckets=8)
    append_segment(spark, spark.createDataFrame(pdf.iloc[120:140], SCHEMA),
                   d, num_id_buckets=8)
    idx = SearchIndex(spark, d)
    segs = sorted(idx.meta["segments"], key=lambda n: idx.meta["segments"][n]["doc_id_offset"])
    # covered victims: in the two small (mergeable) segments;
    # uncovered victim: in the big untouched base segment
    lo1 = idx.meta["segments"][segs[1]]["doc_id_offset"]
    covered = idx.docstats().filter(F.col("doc_id") >= lo1).select("doc_id").limit(6)
    uncovered = idx.docstats().filter(F.col("doc_id") < lo1).select("doc_id").limit(3)
    assert delete_docs(spark, d, covered) == 6
    assert delete_docs(spark, d, uncovered) == 3
    uncovered_ids = {r.doc_id for r in uncovered.collect()}

    meta = maybe_merge(spark, d, merge_at=2, reclaim_ratio=0.9)
    assert meta is not None and sorted(meta["merged"]) == sorted(segs[1:])
    _purge_retired(spark, d, 0)

    root = json.load(open(os.path.join(d, "meta.json")))
    assert root["tombstones_dir"].startswith("tombstones_g"), root
    assert root["tomb_retired"] == {} and root["covered_gc"] == {}
    assert not os.path.exists(os.path.join(d, "tombstones"))
    live_tombs = {
        r.doc_id for r in spark.read.parquet(_active_tomb_dir(d, root)).collect()
    }
    assert live_tombs == uncovered_ids, "flip must keep exactly the uncovered set"
    idx2 = SearchIndex(spark, d)
    assert idx2.n_docs == 140 - 6  # merge dropped covered docs physically
    hits = {r.doc_id for r in idx2.search("import", k=300).collect()}
    assert not (hits & uncovered_ids), "uncovered tombstones must keep masking"


def test_append_auto_name_skips_reservations(spark, tmp_path):
    """Auto-named appends allocate their segment name under the meta lock
    and skip names reserved by an in-flight merge/compaction (r3 review:
    an unlocked snapshot let both writers claim the same seg_NNNNNN).
    A failed auto append must release its reservation and remove the
    partial dir."""
    from dbsyncer_spark.index.build import claim_segment

    pdf = gen_corpus_pdf(n_docs=30, seed=33)
    d = str(tmp_path / "residx")
    build_index(spark, spark.createDataFrame(pdf.iloc[:20], SCHEMA), d, **PARAMS)
    # simulate an in-flight merge holding seg_000001
    held, _ = claim_segment(d)
    assert held == "seg_000001"
    meta = append_segment(spark, spark.createDataFrame(pdf.iloc[20:30], SCHEMA),
                          d, num_id_buckets=8)
    assert meta["segment"] == "seg_000002", "append must skip the reserved name"
    root = json.load(open(os.path.join(d, "meta.json")))
    assert "seg_000001" in root["reserved"], "held reservation must survive"
    assert "seg_000002" not in root["reserved"], "publish consumes the reservation"

    # failed append: null content breaks tokenize — name + dir released
    bad = spark.createDataFrame([("r", "x.py", "c", "python", None)], SCHEMA)
    with pytest.raises(Exception):
        append_segment(spark, bad, d, num_id_buckets=8)
    root2 = json.load(open(os.path.join(d, "meta.json")))
    assert set(root2["reserved"]) == {"seg_000001"}
    assert not os.path.exists(os.path.join(d, "segments", "seg_000003"))


def test_publish_rejects_overlapping_doc_id_ranges(tmp_path):
    """Doc ids are globally unique across live segments (F15): publishing
    a segment whose id range overlaps a live one (two unserialized
    concurrent appends) must fail loudly instead of corrupting ranges."""
    from dbsyncer_spark.index.build import publish_segment

    d = str(tmp_path / "ovidx")
    os.makedirs(d)
    base = {"num_shards": 4, "range_size": 128, "block_size": 16,
            "use_stopwords": False, "k1": 1.2, "b": 0.75}
    with open(os.path.join(d, "meta.json"), "w") as f:
        json.dump({"segments": {}, "params": {}}, f)
    publish_segment(d, "seg_000000", {
        **base, "n_docs": 10, "sum_dl": 100, "doc_id_offset": 0, "max_doc_id": 9})
    with pytest.raises(ValueError, match="overlaps live segment"):
        publish_segment(d, "seg_000001", {
            **base, "n_docs": 5, "sum_dl": 50, "doc_id_offset": 5, "max_doc_id": 14})
    # re-publishing the SAME segment (idempotent retry) is fine
    publish_segment(d, "seg_000000", {
        **base, "n_docs": 10, "sum_dl": 100, "doc_id_offset": 0, "max_doc_id": 9})


def test_stale_reader_semantics_after_generation_purge(spark, tmp_path):
    """A reader that outlives the retire-grace window: uncached readers
    re-resolve the current tombstone generation (covered ids never
    pointed into their view; newer deletes only ADD masking), while a
    reader serving from pinned postings caches raises loudly — its cache
    may still hold merged-away docs whose tombstones the newer generation
    dropped, so silent re-resolution would resurrect them (r3 review)."""
    from dbsyncer_spark.streaming.incremental import _active_tomb_dir, _purge_retired

    pdf = gen_corpus_pdf(n_docs=140, seed=37)
    d = str(tmp_path / "staleidx")
    build_index(spark, spark.createDataFrame(pdf.iloc[:100], SCHEMA), d, **PARAMS)
    append_segment(spark, spark.createDataFrame(pdf.iloc[100:120], SCHEMA),
                   d, num_id_buckets=8)
    append_segment(spark, spark.createDataFrame(pdf.iloc[120:140], SCHEMA),
                   d, num_id_buckets=8)
    idx = SearchIndex(spark, d)
    segs = sorted(idx.meta["segments"], key=lambda n: idx.meta["segments"][n]["doc_id_offset"])
    lo1 = idx.meta["segments"][segs[1]]["doc_id_offset"]
    covered = idx.docstats().filter(F.col("doc_id") >= lo1).select("doc_id").limit(5)
    uncovered = idx.docstats().filter(F.col("doc_id") < lo1).select("doc_id").limit(4)
    assert delete_docs(spark, d, covered) == 5
    assert delete_docs(spark, d, uncovered) == 4
    uncovered_ids = {r.doc_id for r in uncovered.collect()}

    meta = maybe_merge(spark, d, merge_at=2, reclaim_ratio=0.9)
    assert meta is not None
    # two post-merge readers, both pinned to the pre-flip generation name
    plain = SearchIndex(spark, d)
    warm = SearchIndex(spark, d)
    warm.warm(cache_postings=True)
    assert plain._tomb_name == "tombstones" and plain._tomb_seen

    _purge_retired(spark, d, 0)  # flip + purge the pinned generation
    assert not os.path.exists(os.path.join(d, "tombstones"))

    # uncached: falls back to the current generation, keeps masking
    hits = {r.doc_id for r in plain.search("import", k=300).collect()}
    assert not (hits & uncovered_ids)
    # cached: must refuse rather than risk resurrecting merged-away docs
    import pytest as _pt
    with _pt.raises(RuntimeError, match="stale SearchIndex"):
        warm.search("import", k=10).collect()
    for cached in warm._df_cache.values():
        cached.unpersist()


def test_reclaim_merge_does_not_rechurn_during_grace(spark, tmp_path):
    """Covered tombstones stay in the live generation for the grace
    window, but maybe_merge's reclaim counts must EXCLUDE staged covered
    ids — counting them re-selected the merge's own output for a full
    rewrite on every subsequent call until the tag expired (r3 review:
    one pointless re-pack per streaming micro-batch)."""
    pdf = gen_corpus_pdf(n_docs=120, seed=41)
    d = str(tmp_path / "churnidx")
    build_index(spark, spark.createDataFrame(pdf.iloc[:100], SCHEMA), d, **PARAMS)
    append_segment(spark, spark.createDataFrame(pdf.iloc[100:120], SCHEMA),
                   d, num_id_buckets=8)
    idx = SearchIndex(spark, d)
    seg = max(idx.meta["segments"], key=lambda n: idx.meta["segments"][n]["doc_id_offset"])
    lo = idx.meta["segments"][seg]["doc_id_offset"]
    victims = idx.docstats().filter(F.col("doc_id") >= lo).select("doc_id").limit(8)
    assert delete_docs(spark, d, victims) == 8

    first = maybe_merge(spark, d, merge_at=99, reclaim_ratio=0.2)  # reclaim only
    assert first is not None and first["merged"] == [seg]
    # default grace: covered ids staged, still live in the generation —
    # the next call must find nothing to do, not rewrite the fresh output
    again = maybe_merge(spark, d, merge_at=99, reclaim_ratio=0.2)
    assert again is None, f"reclaim churned on its own output: {again}"
