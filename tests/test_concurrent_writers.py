"""Concurrent-writer stress gate: interleaved appends, deletes, and
tiered merges from competing threads must never lose a doc, double-book
a doc_id range, or corrupt ranking.

The coordination suite (test_coordination) proves the lock/commit
primitives in isolation with simulated schedules; this test drives the
REAL public lifecycle API concurrently — the shape the reference runs
production in (one writer thread per table actuator feeding a shared
index, ``GeneralBufferActuator.java`` fan-in + the 3 s commit cycle,
with merge threads in the background like Lucene's ConcurrentMergeScheduler).
flock serializes the meta-critical sections across the threads' separate
file descriptors exactly as it would across processes on one host;
the Spark pack jobs themselves overlap freely.

Deterministic final state by construction: appenders use disjoint fresh
keys, the deleter only touches base keys, and merges are logically
no-ops — so ANY interleaving must converge to base − deleted ∪ appended.
Asserted: exact live set, no doc_id collisions (range allocation under
the lock), physical ⊇ live, and BM25 rank+score identity vs the oracle
over the surviving physical corpus.
"""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from dbsyncer_spark.index.build import (
    RESERVATION_TTL_S,
    append_segment,
    atomic_write_meta,
    build_index,
    claim_segment,
)
from dbsyncer_spark.index.search import SearchIndex
from dbsyncer_spark.oracle.bm25_oracle import bm25_oracle_topk, corpus_stats
from dbsyncer_spark.streaming.incremental import delete_docs, maybe_merge

PARAMS = dict(num_shards=2, range_size=32, block_size=8, num_id_buckets=4)
SCHEMA = "repo string, path string, commit string, lang string, content string"
VOCAB = ("merge offset import return shard token batch spark index query "
         "delta vbyte lease commit window").split()


def _doc(i: int, salt: str) -> dict:
    import random
    rng = random.Random(f"{salt}:{i}")
    return {
        "repo": f"org{i % 3}/r{i % 5}",
        "path": f"src/{salt}/f{i}.py",
        "commit": f"c_{salt}_{i:06d}",
        "lang": ["java", "python", "go"][i % 3],
        "content": " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 40))),
    }


def test_concurrent_appends_deletes_merges(spark, tmp_path):
    d = str(tmp_path / "conc_idx")
    base = [_doc(i, "base") for i in range(30)]
    build_index(spark, spark.createDataFrame(base, SCHEMA), d, **PARAMS)

    n_appenders, batches, per_batch = 3, 2, 5
    appended: dict[int, list[dict]] = {
        w: [_doc(w * 1000 + b * 100 + j, f"w{w}")
            for b in range(batches) for j in range(per_batch)]
        for w in range(n_appenders)
    }
    doomed_keys = [(r["repo"], r["path"]) for r in base[:6]]
    errors: list[BaseException] = []

    def appender(w: int) -> None:
        try:
            for b in range(batches):
                rows = appended[w][b * per_batch:(b + 1) * per_batch]
                append_segment(spark, spark.createDataFrame(rows, SCHEMA),
                               d, num_id_buckets=4)
        except BaseException as e:  # noqa: BLE001 — surfaced via errors[]
            errors.append(e)

    def deleter() -> None:
        try:
            time.sleep(0.5)  # land mid-append-storm
            delete_docs(spark, d, spark.createDataFrame(
                [{"repo": r, "path": p} for r, p in doomed_keys],
                "repo string, path string"))
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def maintainer() -> None:
        try:
            for _ in range(2):
                time.sleep(0.8)
                maybe_merge(spark, d, tier_factor=2, merge_at=2,
                            max_merge=4, reclaim_ratio=0.05)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(w,))
               for w in range(n_appenders)]
    threads += [threading.Thread(target=deleter),
                threading.Thread(target=maintainer)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads), "writer thread hung"
    assert not errors, errors

    contents = {(r["repo"], r["path"], r["commit"]): r["content"]
                for r in base}
    for rows in appended.values():
        contents.update({(r["repo"], r["path"], r["commit"]): r["content"]
                         for r in rows})
    # base paths live under src/base/ and appender paths under src/w*/,
    # so (repo, path) uniquely identifies one triple and the doomed set
    # is exactly the base rows with those keys
    dead_keys = set(doomed_keys)
    want_live = {t for t in contents if (t[0], t[1]) not in dead_keys}

    idx = SearchIndex(spark, d)
    rows = idx.docstats().select("doc_id", "repo", "path", "commit").collect()
    by_id = {r.doc_id: (r.repo, r.path, r.commit) for r in rows}
    assert len(by_id) == len(rows), "doc_id collision across concurrent appends"
    physical = set(by_id.values())
    assert physical <= set(contents)
    assert want_live <= physical, f"lost docs: {want_live - physical}"

    tomb = idx._tombstones()
    dead_ids = (set() if tomb is None
                else {r.doc_id for r in tomb.select("doc_id").distinct().collect()})
    live_engine = {t for i, t in by_id.items() if i not in dead_ids}
    assert live_engine == want_live

    docs = {i: contents[t] for i, t in by_id.items()}
    stats = corpus_stats(docs)
    for q in ["merge offset", "import shard", "token batch query"]:
        got = idx.search_rows(q, k=10)
        want = bm25_oracle_topk(docs, q, k=10, precomputed=stats,
                                doc_pred=lambda x: x not in dead_ids)
        assert [i for i, _ in got] == [i for i, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9), q

# ---- reservation-primitive unit gates (r5 review fixes) ---------------


def _backdate_claim(index_dir: str, segment: str, by_s: float) -> None:
    import json
    import os

    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    meta["reserved_ranges"][segment]["ts"] -= by_s
    atomic_write_meta(index_dir, meta)


def test_resume_reservation_refreshes_ttl(spark, tmp_path):
    """Re-reserving an explicit segment name must return the SAME offset
    on a FRESH TTL clock: a resumed run that inherits only the crashed
    run's leftover window can lose its claim mid-pack to an expiry prune
    and die on the publish overlap guard (r5 review)."""
    import json
    import os

    d = str(tmp_path / "ttl_idx")
    build_index(spark, spark.createDataFrame(
        [_doc(i, "base") for i in range(8)], SCHEMA), d, **PARAMS)

    _, off1 = claim_segment(d, "seg_resume", n_docs=5)
    _backdate_claim(d, "seg_resume", RESERVATION_TTL_S - 5.0)  # nearly dead
    _, off2 = claim_segment(d, "seg_resume", n_docs=5)
    assert off2 == off1, "resume must keep the claimed space"
    with open(os.path.join(d, "meta.json")) as f:
        ts = json.load(f)["reserved_ranges"]["seg_resume"]["ts"]
    assert time.time() - ts < 60.0, "resume must refresh the claim's TTL clock"


def test_publish_guard_skips_expired_claims(spark, tmp_path):
    """The publish-time overlap guard must apply the same TTL filter as
    claim_segment: a dead writer's expired claim is reusable space,
    not a permanent block (r5 review). An UNEXPIRED foreign claim must
    still fail the publish loudly."""
    d = str(tmp_path / "guard_idx")
    build_index(spark, spark.createDataFrame(
        [_doc(i, "base") for i in range(8)], SCHEMA), d, **PARAMS)
    build_kwargs = {k: v for k, v in PARAMS.items()}

    _, live_off = claim_segment(d, "seg_live", n_docs=5)
    rows = spark.createDataFrame([_doc(100 + i, "pub") for i in range(5)], SCHEMA)
    with pytest.raises(ValueError, match="in-flight claim"):
        build_index(spark, rows, d, segment="seg_bypass",
                    doc_id_offset=live_off, **build_kwargs)

    _backdate_claim(d, "seg_live", RESERVATION_TTL_S + 60.0)  # dead writer
    meta = build_index(spark, rows, d, segment="seg_bypass2",
                       doc_id_offset=live_off, **build_kwargs)
    assert meta["doc_id_offset"] == live_off


def test_touch_reservations_restamps_both_claims(spark, tmp_path):
    """touch_reservations must refresh the TTL clock of an existing name
    and doc-range claim under the lock, and report False (touching
    nothing) when the segment holds neither — it must never re-CREATE a
    pruned claim, since the space may belong to someone else by then."""
    import json
    import os

    from dbsyncer_spark.index.build import touch_reservations

    d = str(tmp_path / "touch_idx")
    build_index(spark, spark.createDataFrame(
        [_doc(i, "base") for i in range(8)], SCHEMA), d, **PARAMS)

    name, _ = claim_segment(d, n_docs=5)
    _backdate_claim(d, name, 1000.0)
    with open(os.path.join(d, "meta.json")) as f:
        meta = json.load(f)
    meta["reserved"][name] -= 1000.0
    atomic_write_meta(d, meta)

    assert touch_reservations(d, name) is True
    with open(os.path.join(d, "meta.json")) as f:
        meta = json.load(f)
    assert time.time() - meta["reserved"][name] < 60.0
    assert time.time() - meta["reserved_ranges"][name]["ts"] < 60.0

    assert touch_reservations(d, "seg_nonexistent") is False


def test_claim_heartbeat_outlives_reservation_ttl(spark, tmp_path, monkeypatch):
    """A pack job running longer than RESERVATION_TTL_S must NOT lose its
    id-space claim: the claim_heartbeat re-stamps it, so a competing
    claim_segment during the 'job' allocates ABOVE the claimed range
    instead of pruning-and-reusing it (r5 review — without the heartbeat
    a >TTL append is guaranteed to die at the publish overlap guard).
    Once the heartbeat stops (writer finished or crashed), expiry frees
    the space as before."""
    from dbsyncer_spark.index import build as buildmod

    d = str(tmp_path / "hb_idx")
    build_index(spark, spark.createDataFrame(
        [_doc(i, "base") for i in range(8)], SCHEMA), d, **PARAMS)

    monkeypatch.setattr(buildmod, "RESERVATION_TTL_S", 0.8)
    _, off = buildmod.claim_segment(d, "seg_slow", n_docs=5)
    with buildmod.claim_heartbeat(d, "seg_slow"):
        time.sleep(2.5)  # ~3 TTL windows elapse during the "pack job"
        _, rival = buildmod.claim_segment(d, "seg_rival", n_docs=5)
        assert rival > off, (
            "competing writer reused a heartbeated claim's space"
        )
    buildmod.abort_segment(d, "seg_rival")
    time.sleep(1.0)  # heartbeat stopped; claim now expires normally
    _, reclaimed = buildmod.claim_segment(d, "seg_after", n_docs=5)
    assert reclaimed == off, "expired claim of a finished writer not freed"
