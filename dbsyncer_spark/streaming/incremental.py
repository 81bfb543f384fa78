"""Incremental index maintenance — the CDC analog (SURVEY.md §2.7, §3.2).

The reference tails binlogs into per-table buffer actuators and applies
merged micro-batches (``GeneralBufferActuator.java``). Our engine models
the same semantics as append/delete batches against the segmented index:

- ``append_segment`` (in index.build): a new-docs batch becomes a new
  segment; visibility flips with the atomic root-meta swap (the analog of
  the reference's 3 s commit cycle, ``DiskStorageService.java:62-95``).
  Appends, merges and compactions all claim, publish and abort through
  the one ``index.build.segment_transaction``.
- ``delete_docs``: tombstones by key; the scorer masks tombstoned docs
  (reference delete-by-Term, ``Shard.java:122-145``).
- ``maybe_merge``: the TieredMergePolicy analog (``Shard.java:361-368``)
  — decode + re-pack a selected run of segments into one, dropping
  tombstoned docs; ``compact_segments`` (forceMerge) is the same merge
  transaction over every segment. Both run out-of-band like Lucene's
  merge threads.
- ``stream_to_index``: Structured Streaming ``foreachBatch`` wrapper — a
  micro-batch of new docs runs the same deterministic build pipeline
  (exactly-once by segment-name idempotence: batchId names the segment).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbsyncer_spark.index.build import (
    _InputsTaken,
    append_segment,
    atomic_write_meta,
    build_index,
    meta_lock,
    read_meta_for_update as _read_meta_for_update,
    segment_transaction,
    write_meta_locked as _write_meta_locked,
)
from dbsyncer_spark.index.search import SearchIndex

#: how long a merged-away segment dir stays on disk after it is
#: unreferenced from meta — long enough for any warm reader / mid-flight
#: query planned against the pre-merge meta to finish.
DEFAULT_RETIRE_GRACE_S = 600.0


def _active_tomb_dir(index_dir: str, meta: dict | None = None) -> str:
    """Resolve the ACTIVE tombstone generation dir. Root meta's
    ``tombstones_dir`` names the current generation ("tombstones" when
    absent — the initial layout, and every index built before the pointer
    existed). The covered-tombstone GC never rewrites a generation's
    files in place: survivors go to the NEXT generation dir and this
    pointer flips atomically with the meta write, while the old
    generation stays on disk for the same retire-grace window as
    merged-away segment dirs. A reader therefore sees a consistent
    snapshot — its pinned meta names both the segment set and the
    tombstone generation that masks it (Lucene reader-snapshot
    semantics: deletes landing after a generation flip become visible on
    re-open, not mid-reader)."""
    if meta is None:
        meta = _read_root_meta(index_dir) or {}
    return os.path.join(index_dir, meta.get("tombstones_dir", "tombstones"))


def _next_tomb_gen(current_basename: str) -> str:
    if current_basename == "tombstones":
        return "tombstones_g000001"
    return f"tombstones_g{int(current_basename.rsplit('_g', 1)[1]) + 1:06d}"


def delete_docs(spark: SparkSession, index_dir: str, keys: DataFrame) -> int:
    """Tombstone docs matching ``keys`` (columns subset of repo/path/commit).

    Returns number of docs tombstoned. Deletes require a condition —
    mirrors the reference guard (``AbstractStorageService.java:62-75``).
    """
    if not keys.columns:
        raise ValueError("delete requires at least one key column")
    return _append_tombstones(index_dir, _doomed_docs(SearchIndex(spark, index_dir), keys))


def _doomed_docs(idx: SearchIndex, keys: DataFrame) -> DataFrame:
    """The doomed-docs plan of ``delete_docs`` and ``update_docs``:
    doc_ids of ``idx``'s docstats rows matching ``keys`` on all of its
    columns, minus the ids already tombstoned. Lazy, over the segment and
    tombstone files ``idx`` listed at open — evaluating it later never
    sees a segment appended since."""
    doomed = idx.docstats().join(keys, on=list(keys.columns), how="left_semi").select("doc_id")
    tomb = idx._tombstones()
    if tomb is not None:
        # idempotent: re-deleting already-tombstoned docs reports 0 and
        # never appends duplicate rows (repeated CDC delete events would
        # otherwise grow the tombstone set unboundedly)
        doomed = doomed.join(tomb.select("doc_id"), "doc_id", "left_anti")
    return doomed


def _append_tombstones(index_dir: str, doomed: DataFrame) -> int:
    """Materialize the doomed-docs plan ONCE (persist → count → write,
    r3 review: count-then-write ran the docstats⋉keys join twice per CDC
    op), into a staging dir with NO lock held — holding the meta lock
    across these Spark jobs stalled every other meta writer (streaming
    HWM, merge publishes) behind each CDC delete (r3 review). The lock
    is taken only for the final step: re-resolve the ACTIVE tombstone
    generation and rename the staged part files in (unique Spark part
    names — concurrent appenders compose). Correctness against a
    generation flip (``_flip_tomb_generation``): the rewrite reads a
    pinned file listing outside the lock, but the flip re-lists the
    generation under this same lock and commits only if the listing is
    unchanged — a file moved in after the listing was pinned makes the
    rewriter discard its result and recompute, so the flip can never
    silently drop it; and the plan's own anti-join listing (pinned at
    planning, possibly the PREVIOUS generation) stays readable because
    retired generations survive the grace window. A flip between
    planning and the move can't introduce duplicates either: the new
    generation's rows are a subset of the old one's (the rewrite only
    drops covered ids, whose docs left docstats and so can never be
    re-doomed)."""
    import uuid

    doomed = doomed.persist()
    try:
        n = doomed.count()
        if n:
            staging = os.path.join(index_dir, "tomb_staging", uuid.uuid4().hex[:12])
            try:
                doomed.write.mode("overwrite").parquet(staging)
                with meta_lock(index_dir):
                    dest = _active_tomb_dir(index_dir)
                    os.makedirs(dest, exist_ok=True)
                    for fname in os.listdir(staging):
                        if fname.endswith(".parquet"):
                            os.replace(os.path.join(staging, fname),
                                       os.path.join(dest, fname))
            finally:
                # success: only the empty shell + _SUCCESS remain; failure:
                # never leave a half-moved staging dir to leak (a crash
                # still can — _purge_retired sweeps those by age)
                shutil.rmtree(staging, ignore_errors=True)
    finally:
        doomed.unpersist()
    return n


def update_docs(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    key_cols: tuple[str, ...] = ("repo", "path"),
    **build_kwargs,
) -> dict:
    """Update-by-key: one call = delete the old versions + append the new
    docs as a segment — the reference's ``Shard.update(Term, doc)``
    (``Shard.java:102-120``: deleteDocuments(term) then addDocument in a
    single operation, so callers can't forget the delete or invert the
    order).

    ``key_cols``: the identity columns (the update Term); every row of
    ``new_docs`` replaces any existing doc with the same key values.
    ``new_docs`` must carry ONE row per key — Lucene's updateDocument
    takes one doc per term, and "which duplicate wins" has no defined
    answer in an unordered DataFrame, so duplicates raise (pre-reduce the
    batch to the latest version per key first). Keys with no existing doc
    are plain inserts (the delete is a no-op for them — same as Lucene's
    updateDocument on an absent term). Returns the new segment meta plus
    ``"deleted"``: the number of old docs tombstoned.

    Ordering: the doomed doc_ids are resolved against the PRE-append
    docstats, the new segment is appended, and only then are the
    tombstones written. A crash between the two steps leaves both
    versions briefly visible — re-running the same update converges to
    one live doc (the rerun tombstones both) — never a window where the
    key resolves to nothing, which is what delete-first would produce
    and is worse than a transient duplicate (the reference keeps the old
    doc readable until the update lands, ``Shard.java:102-120``)."""
    missing = [c for c in key_cols if c not in new_docs.columns]
    if missing:
        raise ValueError(f"update_docs: new_docs lacks key column(s) {missing}")
    dup = (new_docs.groupBy(*key_cols).count()
           .filter(F.col("count") > 1).limit(1).collect())
    if dup:
        raise ValueError(
            "update_docs: new_docs has multiple rows for key "
            f"{tuple(dup[0][c] for c in key_cols)!r}; update-by-key needs "
            "exactly one row per key — pre-reduce the batch (e.g. keep the "
            "latest version per key) before calling")
    keys = new_docs.select(*key_cols).distinct()
    # lazy plan over pre-append segment files only, so evaluating it
    # after the append cannot see (or self-tombstone) the new segment
    doomed = _doomed_docs(SearchIndex(spark, index_dir), keys)
    meta = append_segment(spark, new_docs, index_dir, **build_kwargs)
    n_del = _append_tombstones(index_dir, doomed)
    return {**meta, "deleted": n_del}


def _pack_segment(
    spark: SparkSession,
    decoded: DataFrame,
    stats: DataFrame,
    seg_dir: str,
    params: dict,
    *,
    segment: str,
    doc_id_offset: int,
    max_doc_id_floor: int,
) -> dict | None:
    """Write one segment (docstats + postings + dictionary + seg_meta)
    from already-decoded (tid, doc_id, tf, dl[, pos]) rows. Shared by
    full compaction and tiered merge; one shuffle keyed exactly like the
    fresh-build packer, so merged segments are row-identical to fresh
    builds. Docstats go first: when its count aggregate reads 0 rows
    (every doc tombstoned) nothing else is written and None is returned,
    so the caller drops the run without a separate emptiness probe."""
    from dbsyncer_spark.index.build import postings_from_tf, write_dictionary
    from dbsyncer_spark.index.lineage import commit_stage, params_hash

    os.makedirs(seg_dir, exist_ok=True)
    stats.write.mode("overwrite").parquet(os.path.join(seg_dir, "docstats"))
    agg = spark.read.parquet(os.path.join(seg_dir, "docstats")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl"), F.max("doc_id").alias("mx")
    ).collect()[0]
    if not agg.n:
        return None
    parallelism = int(spark.conf.get("spark.sql.shuffle.partitions"))
    packed = postings_from_tf(
        decoded, params["num_shards"], params["range_size"], params["block_size"],
        parallelism, with_positions=bool(params.get("store_positions")),
    )
    packed.write.mode("overwrite").partitionBy("shard").parquet(os.path.join(seg_dir, "postings"))
    # one shared dictionary-stage definition with fresh builds — merged
    # segments stay row-identical by construction (r3 review)
    write_dictionary(spark, os.path.join(seg_dir, "postings"),
                     os.path.join(seg_dir, "dictionary"), parallelism)
    seg_meta = {
        **params,
        "segment": segment,
        "doc_id_offset": doc_id_offset,
        "n_docs": int(agg.n),
        "sum_dl": int(agg.sum_dl),
        "max_doc_id": max(int(agg.mx), max_doc_id_floor),
    }
    with open(os.path.join(seg_dir, "seg_meta.json"), "w") as f:
        json.dump(seg_meta, f, indent=2)
    commit_stage(seg_dir, "meta", params_hash(seg_meta), metrics=seg_meta)
    return seg_meta


def _merge_run(
    spark: SparkSession,
    index_dir: str,
    meta: dict,
    names: list[str],
    tomb: DataFrame | None,
    tomb_meta: dict,
    retire_grace_s: float,
) -> dict | None:
    """The merge behind ``maybe_merge`` and ``compact_segments``: rewrite
    the live docs of segments ``names`` (a run consecutive in doc-id
    order, described by the root-meta snapshot ``meta``) as one fresh
    segment, published through ``segment_transaction``. ``tomb`` is the
    tombstone DataFrame the anti-join masks with (None: no tombstones),
    read from the generation named by the snapshot ``tomb_meta``.

    Returns the new segment's meta; ``{"segment": None, "n_docs": 0}``
    when every doc of the run was tombstoned and the run was dropped
    instead; None when every doc of the whole index is tombstoned
    (nothing changes and the tombstones keep masking). Raises
    ``_InputsTaken`` when a concurrent run took an input first. Any
    failure undoes what this call claimed or wrote.

    Readers are never disturbed: the output is written under
    ``segments/`` (invisible until referenced), the publish re-reads
    fresh meta under the meta lock, and the inputs stay on disk for
    ``retire_grace_s`` seconds for warm readers pinned to the pre-merge
    meta (purged on a later maintenance call)."""
    params = meta["params"]
    segments = meta["segments"]
    seg_root = os.path.join(index_dir, "segments")
    sel_dirs = [os.path.join(seg_root, n) for n in names]

    def union_read(sub: str) -> DataFrame:
        dfs = [spark.read.parquet(os.path.join(d, sub)) for d in sel_dirs]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    # rather than re-tokenizing, decode every live posting back to
    # (tid, doc_id, tf, dl[, pos]) rows and re-pack — a pure shuffle job,
    # no Python-per-row, no re-analysis
    decoded = decode_postings(union_read("postings"),
                              with_positions=bool(params.get("store_positions")))
    stats = union_read("docstats")
    if tomb is not None:
        # no distinct: a left-anti join ignores duplicate right-side
        # keys, and a distinct would add a shuffle stage to both plans
        tomb_ids = tomb.select("doc_id")
        decoded = decoded.join(tomb_ids, "doc_id", "left_anti")
        stats = stats.join(tomb_ids, "doc_id", "left_anti")

    def write(tag: str, _offset):
        seg_meta = _pack_segment(
            spark, decoded, stats, os.path.join(seg_root, tag), params,
            segment=tag,
            doc_id_offset=min(segments[n]["doc_id_offset"] for n in names),
            # inputs' doc-id high-water mark survives even if their tail
            # docs were all tombstoned — append_segment must never reuse
            # ids (and the floor goes into seg_meta.json too, so rebuilding
            # root meta from per-segment files can never shrink the HWM)
            max_doc_id_floor=max(segments[n]["max_doc_id"] for n in names),
        )
        if seg_meta is None and all(n in names for n in segments):
            return None  # fully-deleted index: leave tombstone masking in place
        # stage covered tombstones for deferred GC (their docs are
        # physically absent from the output; the live rows stay until
        # the retire grace expires so warm readers keep masking — pure
        # hygiene after). Every tombstone id came from docstats, so it
        # lies in some input's interval; ids of runs dropped earlier
        # were staged under their own tag.
        return seg_meta, tomb is not None and _stage_covered_tombstones(index_dir, [
            (segments[n]["doc_id_offset"], segments[n]["max_doc_id"]) for n in names
        ], tomb, tag)

    done = segment_transaction(
        index_dir, write, inputs=names,
        tomb_gen=None if tomb is None else os.path.basename(
            _active_tomb_dir(index_dir, tomb_meta)))
    if done is None:
        return None
    seg_meta, into = done
    _preserve_quarantines(sel_dirs, names, os.path.join(seg_root, into))
    _purge_retired(spark, index_dir, retire_grace_s)
    return seg_meta or {"segment": None, "n_docs": 0}


def compact_segments(
    spark: SparkSession,
    index_dir: str,
    *,
    retire_grace_s: float = DEFAULT_RETIRE_GRACE_S,
) -> dict | None:
    """Merge all segments into one, dropping tombstones (the forceMerge /
    optimize analog). Doc ids and content are preserved; stats recomputed.
    Returns the compacted segment's meta, or None when every doc of the
    index is tombstoned: then no segment changes and the tombstones keep
    masking (``maybe_merge`` does the same), and later appends still get
    ids above the old high-water mark.

    This is ``maybe_merge``'s merge transaction (``_merge_run``) over
    every live segment; for routine maintenance at scale use
    ``maybe_merge`` (tiered policy) instead: full compaction rewrites the
    entire index in one job. Raises ``RuntimeError`` when a concurrent
    merge/compaction took an input segment first (re-run it).
    """
    _purge_retired(spark, index_dir, retire_grace_s)
    idx = SearchIndex(spark, index_dir)
    return _merge_run(spark, index_dir, idx.meta, sorted(idx.meta["segments"]),
                      idx._tombstones(), idx.meta, retire_grace_s)


def _preserve_quarantines(old_dirs: list, old_names: list, new_seg_dir: str) -> None:
    """Move PENDING dead-letter rows out of segments about to be deleted
    into the merge output's quarantine (one subdir per input segment —
    ``replay_quarantine`` reads recursively). Without this a merge would
    silently destroy unreplayed capture-and-replay rows (r2 review)."""
    for name, d in zip(old_names, old_dirs):
        q = os.path.join(d, "quarantine")
        if os.path.isdir(q):
            dest = os.path.join(new_seg_dir, "quarantine", name)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.replace(q, dest)


def select_merge(
    segments: dict,
    tombstone_counts: dict | None = None,
    *,
    tier_factor: int = 8,
    merge_at: int = 4,
    max_merge: int = 10,
    reclaim_ratio: float = 0.2,
    max_merged_docs: int | None = None,
) -> list[str]:
    """Pick the next merge under a tiered policy (Lucene TieredMergePolicy
    analog, the reference's merge scheduler: ``Shard.java:361-368``).

    Pure driver-side function over segment metadata — unit-testable with
    no Spark. Two triggers, deletes first:

    1. *Reclaim*: any segment whose tombstoned fraction >= reclaim_ratio
       is rewritten (possibly alone) to physically drop deletes.
    2. *Tier*: segments bucket by floor(log_{tier_factor}(n_docs)); the
       smallest tier holding >= merge_at segments merges its max_merge
       smallest members. Each doc is thus rewritten O(log_{tier_factor} N)
       times over the index lifetime instead of O(appends) — the property
       that keeps a 10^12-doc index's write amplification bounded.

    ``max_merged_docs`` (Lucene's maxMergedSegment, 128 MB in the
    reference): a tier merge never produces a segment above this size —
    the selected run is truncated to fit, and segments already at/over
    the cap are never tier-merged at all (reclaim still rewrites them).

    INVARIANT: a returned set is always CONSECUTIVE in the global
    doc-id-offset order of all segments. We preserve doc ids verbatim
    (Lucene renumbers instead), so the merged segment's recorded interval
    is the union [min offset, max id] — merging non-adjacent segments
    would make that interval swallow a bystander segment's id range,
    breaking the interval-disjointness that per-segment tombstone
    counting and covered-tombstone GC depend on.
    """
    import math

    counts = tombstone_counts or {}
    order = sorted(segments, key=lambda n: segments[n]["doc_id_offset"])

    def runs_of(names: set) -> list[list[str]]:
        out, cur = [], []
        for n in order:
            if n in names:
                cur.append(n)
            elif cur:
                out.append(cur)
                cur = []
        if cur:
            out.append(cur)
        return out

    def truncate(run: list[str]) -> list[str]:
        run = run[:max_merge]
        if max_merged_docs is not None:
            kept, total = [], 0
            for n in run:
                if kept and total + segments[n]["n_docs"] > max_merged_docs:
                    break
                kept.append(n)
                total += segments[n]["n_docs"]
            run = kept
        return run

    reclaim = {
        name for name, s in segments.items()
        if s["n_docs"] and counts.get(name, 0) / s["n_docs"] >= reclaim_ratio
    }
    if reclaim:
        # one merge per call: take the run with the most reclaimable docs
        best = max(runs_of(reclaim), key=lambda r: sum(counts.get(n, 0) for n in r))
        return truncate(best)

    tiers: dict[int, set] = {}
    for name, s in segments.items():
        if max_merged_docs is not None and s["n_docs"] >= max_merged_docs:
            continue
        tier = int(math.log(max(s["n_docs"], 1), tier_factor)) if s["n_docs"] > 1 else 0
        tiers.setdefault(tier, set()).add(name)
    for tier in sorted(tiers):
        group = tiers[tier]
        if len(group) >= merge_at:
            # longest adjacent run of this tier's members; tie -> smallest
            best = max(
                runs_of(group),
                key=lambda r: (len(r), -sum(segments[n]["n_docs"] for n in r)),
            )
            picked = truncate(best)
            if len(picked) >= min(merge_at, 2):
                return picked
    return []


def maybe_merge(
    spark: SparkSession,
    index_dir: str,
    *,
    tier_factor: int = 8,
    merge_at: int = 4,
    max_merge: int = 10,
    reclaim_ratio: float = 0.2,
    max_merged_docs: int | None = None,
    retire_grace_s: float = DEFAULT_RETIRE_GRACE_S,
) -> dict | None:
    """Run ONE tiered merge if the policy finds a candidate set; returns
    the new segment meta (plus ``"merged"``: the replaced segment names)
    or None when the index is already well-shaped.

    Unlike ``compact_segments`` this rewrites only the selected segments
    — the steady-state maintenance path for a continuously-appending
    index; both publish through the same merge transaction
    (``_merge_run``), so readers are never disturbed. Doc ids are global
    and range-aligned per segment, so merging preserves them verbatim
    and untouched segments' postings are never read.
    """
    _purge_retired(spark, index_dir, retire_grace_s)
    # ONE meta snapshot for both selection and the pinned tombstone
    # listing (a second direct read could see a concurrent compaction's
    # swap and select just-retired segments, wasting a full pack job
    # that only aborts at publish — r3 review)
    idx = SearchIndex(spark, index_dir)
    meta = idx.meta
    params = meta["params"]
    segments = meta["segments"]
    def _tomb_counts(idx_snap: SearchIndex, meta_snap: dict) -> dict[str, int]:
        tomb = idx_snap._tombstones()
        if tomb is None:
            return {}
        live_tomb = tomb.select("doc_id").distinct()
        # exclude ids already staged for deferred covered-GC: their docs
        # are physically gone from the (already merged) segments, they
        # stay in the live generation only for warm readers through the
        # grace window — counting them re-triggered a reclaim rewrite of
        # the merge's own output on every auto_merge call until the tag
        # expired (r3 review: steady-state churn, one full re-pack per
        # micro-batch)
        cov_root = os.path.join(index_dir, "tombstones_covered")
        staged_dirs = [
            p for p in (os.path.join(cov_root, t) for t in meta_snap.get("covered_gc", {}))
            if os.path.exists(p)
        ]
        if staged_dirs:
            staged = spark.read.parquet(*staged_dirs).select("doc_id").distinct()
            live_tomb = live_tomb.join(staged, "doc_id", "left_anti")
        # tombstone count per segment: broadcast the (few, driver-known)
        # doc-id intervals against the tombstone set — one tiny job.
        intervals = spark.createDataFrame(
            [(n, s["doc_id_offset"], s["max_doc_id"]) for n, s in segments.items()],
            "seg string, lo long, hi long",
        )
        rows = (
            live_tomb
            .join(F.broadcast(intervals),
                  (F.col("doc_id") >= F.col("lo")) & (F.col("doc_id") <= F.col("hi")))
            .groupBy("seg").count().collect()
        )
        return {r.seg: int(r["count"]) for r in rows}

    # the staged covered dirs (and the pinned tombstone generation) are
    # existence-checked here but read lazily inside the count job, all
    # OUTSIDE the meta lock — a concurrent maintenance run's
    # _purge_retired/_gc_staged_tombstones can apply + delete them
    # mid-scan (ADVICE r3 TOCTOU). Tolerate the vanish: recompute the
    # counts from a fresh meta/index snapshot instead of crashing the
    # merge. Segment selection keeps using OUR original snapshot; a
    # concurrent segment swap is already handled at publish.
    counts: dict[str, int] = {}
    snap_idx, snap_meta = idx, meta
    for attempt in range(3):
        try:
            counts = _tomb_counts(snap_idx, snap_meta)
            break
        except Exception:
            if attempt == 2:
                raise
            snap_idx = SearchIndex(spark, index_dir)
            snap_meta = snap_idx.meta
    # the tombstone view the merge itself masks with — from the same
    # snapshot the counts came from
    tomb = snap_idx._tombstones()

    merged = select_merge(
        segments, counts, tier_factor=tier_factor, merge_at=merge_at,
        max_merge=max_merge, reclaim_ratio=reclaim_ratio,
        max_merged_docs=max_merged_docs,
    )
    if not merged:
        return None
    try:
        out = _merge_run(spark, index_dir, meta, merged, tomb, snap_meta, retire_grace_s)
    except _InputsTaken:
        return None
    return None if out is None else {**out, "merged": merged}


def _stage_covered_tombstones(
    index_dir: str, intervals: list, pinned: DataFrame, tag: str
) -> bool:
    """Stage (don't yet drop) tombstones covered by a merge: tombstones
    whose doc id falls in the given (lo, hi) intervals AND were visible
    in ``pinned`` — the tombstone DataFrame whose file listing the
    merge's anti-join actually used. A delete landing DURING the merge
    targets a doc that was re-packed live, so its (fresh) tombstone row
    must survive to keep masking it (r2 review: GC'ing by interval over
    a fresh listing silently lost such deletes).

    Staging instead of immediate rewrite (r3 review): the retire-grace
    window keeps the merged-away segment dirs readable for warm readers
    pinned to the pre-merge meta — but those readers re-read the
    tombstone dir fresh on every query, so dropping covered tombstones
    immediately would resurrect deleted docs in THEIR results for the
    whole grace window. The covered ids are written to
    ``tombstones_covered/<tag>/`` here; ``_purge_retired`` performs the
    actual rewrite when the grace expires, together with the dir purge.
    Exactness of the deferred anti-join: doc ids are never reused and
    deletes can only target ids present in docstats, so a covered id
    (doc physically dropped by the merge) can never reappear as a LIVE
    doc's tombstone later — anti-joining the fresh listing by the staged
    ids at purge time removes exactly the hygienic leftovers.

    Returns True when a covered set was staged (caller registers ``tag``
    in root meta's ``covered_gc``). Never collects to the driver."""
    cond = None
    for lo, hi in intervals:
        c = (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
        cond = c if cond is None else (cond | c)
    if cond is None:
        return False
    dest = os.path.join(index_dir, "tombstones_covered", tag)
    shutil.rmtree(dest, ignore_errors=True)
    removed = pinned.select("doc_id").filter(cond).distinct()
    removed.write.mode("overwrite").parquet(dest)
    # emptiness checked on the WRITTEN files (one cheap footer-count
    # scan), not by re-running the source plan
    if not pinned.sparkSession.read.parquet(dest).head(1):
        # nothing covered: registering an empty tag would later trigger a
        # pointless full-copy rewrite + generation flip (r3 review)
        shutil.rmtree(dest, ignore_errors=True)
        return False
    return True


def _tomb_data_files(d: str) -> list:
    """Sorted data-file listing of a tombstone generation dir (markers
    like _SUCCESS excluded) — the pinned snapshot the optimistic GC /
    compaction rewrites verify against under the meta lock."""
    try:
        return sorted(os.path.join(d, f) for f in os.listdir(d)
                      if not f.startswith(("_", ".")))
    except FileNotFoundError:
        return []


#: live-generation file-count compaction trigger (r3 VERDICT #4): a
#: high-frequency CDC delete stream renames a few tiny part files per
#: batch into the generation; past this many data files every query's
#: _tombstones() read pays the listing even when no covered-GC flip
#: ever rewrites the dir
TOMB_COMPACT_MAX_FILES = 64


def _commit_tomb_flip(index_dir: str, meta: dict, cur: str, tmp: str | None) -> None:
    """Publish the next generation after ``cur`` — the rewrite in ``tmp``
    renamed in, or no dir at all when ``tmp`` is None (readers treat an
    absent generation as "no tombstones") — and flip root meta's
    ``tombstones_dir`` to it, retiring ``cur`` on the same grace clock as
    merged-away segment dirs. The caller holds the meta lock and passes
    the meta it read under it."""
    nxt_name = _next_tomb_gen(os.path.basename(cur))
    nxt = os.path.join(index_dir, nxt_name)
    shutil.rmtree(nxt, ignore_errors=True)
    if tmp is not None:
        os.replace(tmp, nxt)  # rename(2): atomic dir publish
    meta["tombstones_dir"] = nxt_name
    meta.setdefault("tomb_retired", {})[os.path.basename(cur)] = time.time()
    atomic_write_meta(index_dir, meta)


def _inflight_dir(index_dir: str, cur: str) -> str:
    """Temp dir of a rewrite of generation ``cur`` (see ``_purge_retired``)."""
    return os.path.join(
        index_dir, f".{_next_tomb_gen(os.path.basename(cur))}.inflight-{os.getpid()}")


def _flip_tomb_generation(index_dir: str, rewrite, verify=lambda: True,
                          on_flip=lambda: None) -> bool:
    """The one optimistic tombstone-generation flip, shared by the
    file-count compaction and the covered-tombstone GC. The rewrite —
    full Spark jobs over the live generation — runs OUTSIDE the meta
    lock, which it would otherwise hold for an unbounded time, stalling
    every CDC delete's staged-file move and every streaming HWM write
    (r4 ADVICE). Each of up to three attempts:

    1. snapshots the active generation ``cur`` and its exact data-file
       listing ``pinned`` (``_tomb_data_files``);
    2. calls ``rewrite(cur, pinned, tmp)``, which reads only the pinned
       files (a mid-scan append must not leak into the rewrite) and
       writes the next generation into the temp dir ``tmp``. It returns
       True when it wrote rows, False when the next generation is empty
       (nothing written), or None to stop without a flip;
    3. takes the lock only to check that the generation and its listing
       are unchanged and that ``verify()`` holds, then commits
       (``_commit_tomb_flip``) and calls ``on_flip()``, still under the
       lock.

    Tombstone appends move their files in under this same lock, so the
    listing compare is a complete conflict detector: a file that landed
    after the listing was pinned would be silently dropped by the flip
    (resurrecting its deleted doc), so a conflict discards the rewrite
    and recomputes from a fresh snapshot — as does a rewrite that fails
    because a concurrent run purged what it read. A crash before the
    meta write leaves only an orphan temp dir (swept by
    ``_purge_retired``). Returns True when a flip was committed."""
    for _ in range(3):
        cur = _active_tomb_dir(index_dir)
        pinned = _tomb_data_files(cur)
        tmp = _inflight_dir(index_dir, cur)
        try:
            wrote = rewrite(cur, pinned, tmp)
        except Exception:
            shutil.rmtree(tmp, ignore_errors=True)
            continue
        if wrote is None:
            return False
        with meta_lock(index_dir):
            fresh = _read_meta_for_update(index_dir) or {}
            if (_active_tomb_dir(index_dir, fresh) == cur
                    and _tomb_data_files(cur) == pinned and verify()):
                _commit_tomb_flip(index_dir, fresh, cur, tmp if wrote else None)
                on_flip()
                return True
        shutil.rmtree(tmp, ignore_errors=True)
    return False


def _compact_tombstones(spark: SparkSession, index_dir: str,
                        max_files: int = TOMB_COMPACT_MAX_FILES) -> bool:
    """Rewrite the live tombstone generation compacted (distinct doc_ids,
    bounded file count) when its data-file count exceeds ``max_files`` —
    even when nothing is covered — through ``_flip_tomb_generation``.
    Returns True when a compaction flip happened."""

    def rewrite(cur: str, pinned: list, tmp: str) -> bool | None:
        if len(pinned) <= max_files:
            return None
        (spark.read.parquet(*pinned).select("doc_id").distinct()
         .repartition(max(1, len(pinned) // max_files))
         .write.mode("overwrite").parquet(tmp))
        return True

    return _flip_tomb_generation(index_dir, rewrite)


def _gc_staged_tombstones(spark: SparkSession, index_dir: str, tags: list) -> None:
    """The deferred rewrite for expired ``covered_gc`` entries: drop the
    staged covered ids from the live tombstone set. The rewrite NEVER
    touches the current generation's files (r3 review: the old in-place
    two-rename swap could be destroyed mid-flight by a concurrent purge's
    pre-lock cleanup, and a crash between the renames lost the whole
    tombstone dir with no repair path): survivors are written to the
    NEXT generation dir, the root-meta pointer flips atomically with the
    meta write, and the old generation is retired on the same grace
    clock as merged-away segment dirs (in-flight readers/merges pinned
    to it keep reading real files).

    The rewrite runs lock-free through ``_flip_tomb_generation``, whose
    under-lock check here also requires the tags to be still staged. On
    contention the optimistic path retries; after 3 conflicts it falls
    back to the r3 fully-locked rewrite, so progress is guaranteed. The
    tags stay registered until applied, so a crashed GC is retried."""
    cov_root = os.path.join(index_dir, "tombstones_covered")

    def _staged_dirs() -> list:
        return [d for d in (os.path.join(cov_root, t) for t in tags)
                if os.path.exists(d)]

    def _compute(dirs: list, pinned: list, tmp: str) -> bool:
        """Anti-join the PINNED file listing against the staged covered
        ids; write survivors to ``tmp``. False = empty result (no dir
        written; the flip targets an absent generation)."""
        if not pinned:
            return False
        covered = spark.read.parquet(*dirs).select("doc_id").distinct()
        keep = spark.read.parquet(*pinned).join(covered, "doc_id", "left_anti")
        # persist: isEmpty + write would otherwise run the anti-join twice
        keep = keep.persist()
        try:
            if keep.isEmpty():
                return False
            keep.write.mode("overwrite").parquet(tmp)
            return True
        finally:
            keep.unpersist()

    def _drop_applied(dirs: list) -> None:
        # INSIDE the lock: the staged dirs' existence doubles as "not yet
        # applied" for concurrent runs (r3 review — a post-lock delete
        # window let a concurrent purge re-apply the same tags as a
        # pointless full rewrite)
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)

    staged: dict = {}

    def rewrite(cur: str, pinned: list, tmp: str) -> bool | None:
        staged["dirs"] = _staged_dirs()
        if not staged["dirs"] or not os.path.exists(cur):
            # applied by a concurrent run, or no tombstones at all: the
            # locked path below settles both without a rewrite
            return None
        return _compute(staged["dirs"], pinned, tmp)

    if _flip_tomb_generation(index_dir, rewrite,
                             verify=lambda: _staged_dirs() == staged["dirs"],
                             on_flip=lambda: _drop_applied(staged["dirs"])):
        return
    # contended (or nothing to rewrite): the r3 way — listing, rewrite
    # and flip all under the lock
    with meta_lock(index_dir):
        dirs = _staged_dirs()
        if not dirs:
            return
        meta = _read_meta_for_update(index_dir) or {}
        cur = _active_tomb_dir(index_dir, meta)
        if os.path.exists(cur):
            tmp = _inflight_dir(index_dir, cur)
            wrote = _compute(dirs, _tomb_data_files(cur), tmp)
            _commit_tomb_flip(index_dir, meta, cur, tmp if wrote else None)
        # covered ids with no live tombstones are trivially applied
        _drop_applied(dirs)


def decode_postings(postings: DataFrame, with_positions: bool = False) -> DataFrame:
    """Compressed posting rows -> (term, doc_id, tf, dl[, pos]) via
    mapInPandas. ``with_positions`` decodes the positions stream too, so
    compaction of a positional index round-trips positions losslessly."""
    import numpy as np
    import pandas as pd

    from dbsyncer_spark.index.codec import unpack_postings, unpack_row_positions

    def gen(batches):
        for pdf in batches:
            outs = []
            for r in pdf.itertuples(index=False):
                row = {
                    "blob": r.blob,
                    "block_off": list(r.block_off),
                    "block_n": list(r.block_n),
                    "block_first": list(r.block_first),
                }
                if with_positions:
                    row["pos_blob"] = r.pos_blob
                    row["pos_off"] = list(r.pos_off)
                    d, t, l, flat = unpack_row_positions(row)
                else:
                    d, t, l = unpack_postings(row)
                out = {
                    "tid": np.repeat(np.int64(r.tid), d.size),
                    "doc_id": d.astype("int64"),
                    "tf": t.astype("int32"),
                    "dl": l.astype("int32"),
                }
                if with_positions:
                    bounds = np.zeros(d.size + 1, dtype=np.int64)
                    np.cumsum(t.astype(np.int64), out=bounds[1:])
                    out["pos"] = [
                        flat[bounds[i]:bounds[i + 1]].astype(np.int32)
                        for i in range(d.size)
                    ]
                outs.append(pd.DataFrame(out))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    schema = "tid long, doc_id long, tf int, dl int"
    if with_positions:
        schema += ", pos array<int>"
    return postings.mapInPandas(gen, schema)


def _read_root_meta(index_dir: str) -> dict | None:
    root = os.path.join(index_dir, "meta.json")
    if not os.path.exists(root):
        return None
    with open(root) as f:
        return json.load(f)


def _purge_retired(spark: SparkSession, index_dir: str, grace_s: float) -> list:
    """Delete segment dirs retired at least ``grace_s`` seconds ago, and
    run the deferred covered-tombstone GC for merges equally past grace.

    Merges/compactions unreference their input dirs in meta but leave
    them on disk (``meta["retired"]``: name -> retire walltime), so a
    warm reader pinned to the pre-merge meta — or a query already
    executing over those files — finishes unharmed: the Lucene
    keep-files-until-readers-close discipline, time-based instead of
    refcounted (r3 review — immediate rmtree broke live readers).
    Covered tombstones stay live for the same window (see
    ``_stage_covered_tombstones``) so those warm readers keep masking
    the docs the merge physically dropped.

    Every maintenance entry point purges expired entries. Before a dir
    is rmtree'd, any quarantine subdir still inside (a crash between the
    meta swap and ``_preserve_quarantines`` orphans one, r3 review) is
    rescued into a live segment so unreplayed dead-letter rows are never
    destroyed. Dirs are rmtree'd FIRST and unregistered after, so a
    crash between the two re-purges harmlessly on the next call."""
    import time

    meta = _read_root_meta(index_dir)
    if not meta:
        return []
    now = time.time()
    doomed = [
        n for n, ts in meta.get("retired", {}).items()
        if now - ts >= grace_s and n not in meta["segments"]  # never a live name
    ]
    gc_tags = [
        t for t, ts in meta.get("covered_gc", {}).items() if now - ts >= grace_s
    ]
    from dbsyncer_spark.index.build import RESERVATION_TTL_S

    def expired_gens(m: dict, at: float) -> list:
        # retired tombstone generations past grace at time ``at``. Those
        # pinned by an in-flight merge/compaction pack survive the grace
        # clock for as long as the pack heartbeats its pin (see
        # claim_segment; a crashed pack's pin expires with the TTL); the
        # active generation is never purged
        active = os.path.basename(_active_tomb_dir(index_dir, m))
        pins = {p["gen"] for p in m.get("tomb_pins", {}).values()
                if at - p.get("ts", 0.0) < RESERVATION_TTL_S}
        return [n for n, ts in m.get("tomb_retired", {}).items()
                if at - ts >= grace_s and n != active and n not in pins]

    tomb_doomed = expired_gens(meta, now)
    # crash-orphaned append stagings (the appender died between the
    # parquet write and the locked move): swept unconditionally — a
    # delete-heavy index that never merges would otherwise accumulate
    # them forever behind the early return (r3 review)

    stage_root = os.path.join(index_dir, "tomb_staging")
    if os.path.isdir(stage_root):
        for n in os.listdir(stage_root):
            p = os.path.join(stage_root, n)
            try:
                if now - os.path.getmtime(p) >= RESERVATION_TTL_S:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass
    # covered-id sets staged by a merge that crashed BEFORE registering
    # its covered_gc tag: nothing references them and no future run
    # reuses the tag name — swept by age like stagings (r3 review).
    # Registered tags are protected regardless of age.
    cov_root = os.path.join(index_dir, "tombstones_covered")
    if os.path.isdir(cov_root):
        registered = set(meta.get("covered_gc", {}))
        for n in os.listdir(cov_root):
            if n in registered:
                continue
            p = os.path.join(cov_root, n)
            try:
                if now - os.path.getmtime(p) >= RESERVATION_TTL_S:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass
    # leftovers of the pre-generation in-place swap scheme (an index
    # upgraded after crashing between its two renames): nothing current
    # writes these names, and the reader's generation-detection listdir
    # must not mistake them for live generations (r3 review).
    # tombstones.old may be the ONLY complete copy (the legacy crash
    # window lost the live dir between the renames) — restore, don't
    # delete, when the active flat dir is gone; .rewriting is always an
    # incomplete rewrite and is dropped.
    # crash-orphaned lock-free GC rewrites (r4): the optimistic
    # _gc_staged_tombstones writes ".{gen}.inflight-{pid}" temp dirs
    # before taking the lock; a crash before the flip leaves them.
    # Leading dot keeps them out of the reader's generation-detection
    # listdir; swept here by age AND owner liveness (r4 ADVICE): a
    # rewrite slower than the TTL is still only a liveness hazard (the
    # owner retries), but sweeping it mid-write wastes its whole Spark
    # job, so when the embedded pid is alive on THIS host we skip it —
    # same-host concurrent maintenance is the default deployment. A
    # recycled or foreign-host pid degrades to the age-only sweep,
    # which is where the 24 h TTL (not minutes) earns its size.
    for n in os.listdir(index_dir):
        if n.startswith(".tombstones") and ".inflight-" in n:
            p = os.path.join(index_dir, n)
            try:
                pid = int(n.rsplit(".inflight-", 1)[1])
                os.kill(pid, 0)  # raises if no such local process
                continue  # owner still running here: not orphaned
            except (ValueError, ProcessLookupError):
                pass  # unparsable or dead pid: age decides
            except PermissionError:
                continue  # alive but not ours: still a live owner
            try:
                if now - os.path.getmtime(p) >= RESERVATION_TTL_S:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass
    legacy_old = os.path.join(index_dir, "tombstones.old")
    flat = os.path.join(index_dir, "tombstones")
    if os.path.isdir(legacy_old):
        if meta.get("tombstones_dir") is None and not os.path.exists(flat):
            os.replace(legacy_old, flat)
        else:
            shutil.rmtree(legacy_old, ignore_errors=True)
    shutil.rmtree(os.path.join(index_dir, "tombstones.rewriting"),
                  ignore_errors=True)
    seg_root = os.path.join(index_dir, "segments")
    # orphaned partial segment dirs: a hard-crashed build's dir is in no
    # registry (its reservation expired) but still occupies its name —
    # claim_segment skips on-disk dirs precisely so a crashed
    # run's committed lineage stages can't be resumed as a DIFFERENT
    # batch's data (r3 review). Sweeping once nothing inside has changed
    # for the reservation TTL frees the disk and the name; deep mtime,
    # not the dir's own, so a long-running explicit-named build that is
    # still writing files is never swept.
    if os.path.isdir(seg_root):
        import re as _re

        # TTL-filter reservations here too: a hard-crashed run's stale
        # entry would otherwise shield its orphan dir from this sweep
        # forever when nothing ever claims an auto name again (r3
        # review — the pruning inside claim_segment is not guaranteed
        # to run)
        live_reserved = {
            n for n, ts in meta.get("reserved", {}).items()
            if now - ts < RESERVATION_TTL_S
        }
        known = (set(meta["segments"]) | set(meta.get("retired", {}))
                 | live_reserved)
        for n in os.listdir(seg_root):
            p = os.path.join(seg_root, n)
            # AUTO-pattern names only: explicit names (streaming seg_b*
            # batch segments, user-chosen names) are never reserved, so
            # the mtime heuristic alone could destroy a long-stalled
            # in-flight build (r3 review); their lifecycle belongs to
            # the caller (streaming redelivery reuses the same batch
            # name and resumes/overwrites the dir)
            if n in known or not _re.match(r"^seg_\d{6}$", n) or not os.path.isdir(p):
                continue
            newest = os.path.getmtime(p)
            for dirpath, _dirnames, filenames in os.walk(p):
                for fn in filenames:
                    try:
                        newest = max(newest,
                                     os.path.getmtime(os.path.join(dirpath, fn)))
                    except OSError:
                        pass
            if now - newest >= RESERVATION_TTL_S:
                shutil.rmtree(p, ignore_errors=True)
    expired_res = [
        n for n, ts in meta.get("reserved", {}).items()
        if now - ts >= RESERVATION_TTL_S
    ]
    # live-generation file-count compaction (r3 VERDICT #4): a delete-
    # heavy CDC stream accumulates tiny part files that every query's
    # _tombstones() read must list; compact even when nothing is covered
    # (the check is one listdir; the rewrite only fires past the
    # threshold). The flipped-away generation joins tomb_retired and is
    # purged by a later call on the normal grace clock.
    if _compact_tombstones(spark, index_dir):
        meta = _read_root_meta(index_dir) or meta
    if not doomed and not gc_tags and not tomb_doomed and not expired_res:
        return []
    if doomed and meta["segments"]:
        # rescue orphaned quarantines into the newest live segment
        rescue_to = os.path.join(
            seg_root,
            max(meta["segments"], key=lambda n: meta["segments"][n]["doc_id_offset"]),
        )
        _preserve_quarantines(
            [os.path.join(seg_root, n) for n in doomed], doomed, rescue_to
        )
    for n in doomed:
        shutil.rmtree(os.path.join(seg_root, n), ignore_errors=True)
    if gc_tags:
        _gc_staged_tombstones(spark, index_dir, gc_tags)
        # the GC may have just retired the then-active generation: with
        # grace 0 (tests / explicit force) it is purgeable in this same
        # call, so re-derive the expired set from the post-flip registry
        tomb_doomed = expired_gens(_read_root_meta(index_dir) or {}, time.time())
    for n in tomb_doomed:
        shutil.rmtree(os.path.join(index_dir, n), ignore_errors=True)
    gone, gone_tags, gone_gens = set(doomed), set(gc_tags), set(tomb_doomed)

    def mut(fresh):
        return {
            **fresh,
            "retired": {
                k: v for k, v in fresh.get("retired", {}).items() if k not in gone
            },
            "covered_gc": {
                k: v for k, v in fresh.get("covered_gc", {}).items()
                if k not in gone_tags
            },
            "tomb_retired": {
                k: v for k, v in fresh.get("tomb_retired", {}).items()
                if k not in gone_gens
            },
            # registry hygiene: drop reservations a crashed run left past
            # their TTL (claim_segment prunes these too, but only when
            # someone claims an auto name again)
            "reserved": {
                k: v for k, v in fresh.get("reserved", {}).items()
                if time.time() - v < RESERVATION_TTL_S
            },
            # ...and tombstone-generation pins of crashed packs likewise
            "tomb_pins": {
                k: p for k, p in fresh.get("tomb_pins", {}).items()
                if time.time() - p.get("ts", 0.0) < RESERVATION_TTL_S
            },
        }

    _write_meta_locked(index_dir, mut)
    return doomed


def _stream_instance_id(checkpoint_dir: str) -> str | None:
    """Spark's per-checkpoint streaming query id, from the ``metadata``
    file Structured Streaming writes at query start. Deleting and
    recreating the checkpoint dir (the standard "reprocess from scratch"
    move) regenerates this id — which is exactly the signal that old
    batch numbering no longer applies. Returns None when the file is
    absent (e.g. the handler is driven directly in unit tests)."""
    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as f:
            v = json.load(f).get("id")
        return str(v) if v else None
    except (OSError, ValueError):
        return None


def _record_stream_hwm(index_dir: str, ck_key: str, batch_id: int) -> None:
    """Record in root meta that ``batch_id`` of the stream identified by
    ``ck_key`` is fully ingested. Locked read-modify-write + atomic
    rename, same as every other meta.json writer; merges preserve the
    key (their rewrites re-read fresh meta under the same lock)."""

    def mut(meta):
        hwm = meta.setdefault("streaming_hwm", {})
        hwm[ck_key] = max(int(batch_id), int(hwm.get(ck_key, -1)))
        return meta

    _write_meta_locked(index_dir, mut)


def make_batch_handler(
    index_dir: str,
    checkpoint_dir: str,
    auto_merge: bool = False,
    **build_kwargs,
):
    """The foreachBatch callable behind ``stream_to_index`` — exposed so
    redelivery semantics are directly unit-testable (call it twice with
    the same batch_id)."""
    ck_path = os.path.abspath(checkpoint_dir)
    # Resolved lazily at first batch (the query id file exists by then):
    # the HWM key and segment names are scoped to the stream INSTANCE,
    # not just the checkpoint path. If the user deletes the checkpoint
    # dir to reprocess, Spark restarts batch ids at 0 under a fresh query
    # id — a path-only key would drop those batches as stale redeliveries
    # (silent data loss), and instance-less seg_b names would collide
    # with the old run's segments and no-op. With the id in both, a
    # reprocess re-ingests visibly (duplicates are the caller's stated
    # intent); redelivery within one instance stays exactly-once.
    state: dict = {"key": None, "qid": None}

    def handle_batch(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        if state["key"] is None:
            qid = _stream_instance_id(checkpoint_dir)
            state["qid"] = qid
            state["key"] = f"{ck_path}#{qid}" if qid else ck_path
        ck_key = state["key"]
        spark = batch_df.sparkSession
        # Exactly-once under at-least-once foreachBatch redelivery needs
        # THREE guards, because a merge can rename the just-appended
        # batchId-named segment into seg_NNNNNN BEFORE the streaming
        # checkpoint commits (ADVICE r2 — the name-exists no-op alone
        # re-ingested such a batch as duplicate docs):
        #   1. the per-checkpoint batch high-water mark in root meta,
        #      written AFTER the append's root-meta swap and BEFORE any
        #      in-process merge — a redelivered batch_id <= hwm is a
        #      no-op even when its segment name no longer exists;
        #   2. append_segment's name-exists no-op, covering the window
        #      between the append's meta swap and the hwm write;
        #   3. the retired-name check below, covering an OUT-OF-BAND
        #      merge process (explicitly supported) consuming the batch
        #      segment inside that same window — guard 1's "before any
        #      merge" only binds the in-process auto_merge (r5 review).
        # Every window of a crash timeline lands in one of the three.
        qid = state["qid"]
        seg_name = (f"seg_b{qid[:8]}_{batch_id:09d}" if qid
                    else f"seg_b{batch_id:09d}")
        meta = _read_root_meta(index_dir)
        if meta is not None:
            if batch_id <= int(meta.get("streaming_hwm", {}).get(ck_key, -1)):
                return
            if seg_name in meta.get("retired", {}):
                # the batch's segment was published and then merged away
                # before the hwm landed: retirement PROVES prior ingest —
                # heal the missing hwm and skip. Residual: retired
                # entries purge after the grace window (default 600 s),
                # far longer than any stream-restart redelivery; later
                # than that is the documented reprocess semantics.
                _record_stream_hwm(index_dir, ck_key, batch_id)
                return
            append_segment(spark, batch_df, index_dir, segment=seg_name, **build_kwargs)
        else:
            build_index(spark, batch_df, index_dir, segment=seg_name, **build_kwargs)
        _record_stream_hwm(index_dir, ck_key, batch_id)
        if auto_merge:
            maybe_merge(spark, index_dir)

    return handle_batch


def stream_to_index(
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    auto_merge: bool = False,
    **build_kwargs,
):
    """Structured Streaming sink: each micro-batch of new docs becomes a
    segment — exactly-once by batchId idempotence (see
    ``make_batch_handler``; one stream per index, identified by its
    checkpoint dir).

    ``auto_merge=True`` runs one tiered-policy merge after each batch
    lands — the analog of Lucene's merge-on-commit
    (``ConcurrentMergeScheduler``, reference ``Shard.java:60-64``), so a
    long-running ingest keeps segment count O(log N) instead of O(batches)."""
    return (
        docs_stream.writeStream.foreachBatch(
            make_batch_handler(index_dir, checkpoint_dir, auto_merge, **build_kwargs)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
