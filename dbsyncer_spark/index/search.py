"""BM25 top-k query engine over the persisted index.

The Spark shape of the reference's storage-query path (SURVEY.md §3.3):
tokenize query -> dictionary point-lookup (md5-shard partition pruning,
driver-cached) -> read only matching (shard, term) posting rows -> score
per docId-range in parallel -> global top-k merge -> fetch display fields
from docstats.

Two scorers, both vectorized numpy inside ``applyInPandas``:

- ``exhaustive``: decode every block of the query terms' postings and
  accumulate into a dense per-range score array (the correctness path).
- ``wand`` (default): block-max pruning, TAAT MaxScore-family. Terms are
  processed in descending upper-bound order; a block is skipped iff

      max(S_partial over block's docId span) + U_term(block) + R_rest < θ

  where θ is the current k-th best *partial* (= lower bound of the true
  k-th best final) score. Skipping is strict-<, so any doc in a skipped
  block has true score strictly below the true k-th — pruning never
  changes the top-k set, order, or reported scores (rank-identical by
  construction; tests/test_index_build.py checks it on every query).

Both produce ≤ k candidates per range; the global merge is a
TakeOrdered over (score desc, docId asc) — the docId tiebreak mirrors
Lucene's ``_doc`` sort field (reference ``Shard.java:234-247``).
"""

from __future__ import annotations

import json
import os
from math import log

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbsyncer_spark.functions.tokenizer import tokenize_py
from dbsyncer_spark.index.build import _limit_arrow_threads, py_shard, term_id
from dbsyncer_spark.index.codec import unpack_blocks
from dbsyncer_spark.session import empty_df


class TermsTableMissing(ValueError):
    """The index was built without ``store_terms=True``, so wildcard /
    prefix / fuzzy expansion has no dictionary to expand against.
    Subclasses ValueError for callers that caught the old generic
    raise; ``search_parsed`` catches THIS type (not a message
    substring, r4 ADVICE) to route its documented literal-term
    degrade."""

_SCORE_SCHEMA = "doc_id long, score double"

# Parsed-once StructType twins of the serving result schemas. The
# zero-job warm_local paths build their results with createDataFrame /
# empty_df on EVERY query; passing the DDL string there costs a JVM
# parseDataType py4j round-trip (~5-10 ms) per call — measurable against
# a ~10 ms scoring kernel. Distributed paths keep the DDL strings (one
# parse per job is noise there).
_SCORE_SCHEMA_T = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("score", T.DoubleType()),
])
_QSCORE_SCHEMA_T = T.StructType([
    T.StructField("query_id", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("score", T.DoubleType()),
])
#: empty (doc_ids, scores) result of the warm_local single-query loop
_NO_HITS = (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64))


def _strictly_after(sort_cols: list[tuple[str, bool]], after) -> "F.Column":
    """Column predicate: rows strictly AFTER the cursor in the total
    order (sort_cols..., doc_id asc). ``after`` = the previous page's
    last row's values in that exact column order (sort keys then doc_id).

    Lexicographic expansion: OR over prefixes of (all earlier keys equal
    AND this key strictly past the cursor value). Sort keys must be
    non-null (plain comparisons — a NULL key row would be dropped);
    docstats columns all are."""
    cols = list(sort_cols) + [("doc_id", True)]
    if len(after) != len(cols):
        raise ValueError(
            f"cursor has {len(after)} values; expected {len(cols)} "
            "(one per sort column, then doc_id)"
        )
    pred = None
    eq_chain = None
    for (c, asc), v in zip(cols, after):
        col = F.col(c)
        strict = (col > F.lit(v)) if asc else (col < F.lit(v))
        clause = strict if eq_chain is None else (eq_chain & strict)
        pred = clause if pred is None else (pred | clause)
        eq = col.eqNullSafe(F.lit(v))
        eq_chain = eq if eq_chain is None else (eq_chain & eq)
    return pred


def _range_mask(ids, base: int, range_size: int, inverted: bool):
    """Boolean allowed-mask over one docId-range from an array of doc ids,
    or None when no masking is needed. ``inverted``: ``ids`` is the
    EXCLUDED set (the dead set for tombstones-only masking, or the filter
    complement + dead set when a broad filter's complement is the smaller
    side — r4) — a range with no excluded docs needs no mask at all;
    otherwise ``ids`` is the allowed set (selective filters / boolean
    gates)."""
    if inverted:
        if ids is None or not len(ids):
            return None
        m = np.ones(range_size, dtype=bool)
        m[ids - base] = False
        return m
    m = np.zeros(range_size, dtype=bool)
    if ids is not None and len(ids):
        m[ids - base] = True
    return m


def _side_ids(pdf):
    """The ``doc_id`` column of a cogrouped mask side as an array (None
    stays None: the no-cogroup branch)."""
    return None if pdf is None else pdf["doc_id"].to_numpy()


def _dead_ranges(tomb: DataFrame, range_size: int) -> DataFrame:
    """The distinct dead set keyed by docId-range — THE cogroup side for
    tombstones-only masking (search / search_phrase / search_many all
    use it; one definition so range_id derivation can never diverge)."""
    return (
        tomb.select("doc_id").distinct()
        .withColumn("range_id", (F.col("doc_id") / F.lit(range_size)).cast("long"))
    )


def _decode_row(base: int, r, keep=None):
    """Default posting-row decode: straight ``unpack_blocks`` on the raw
    blob (``base`` — the range's first docId, unique per range — is
    unused here; it exists so a caching decode can key on it). This is
    the seam the executor scorers always use; the warm_local driver
    paths may inject a ``_DecodedPostingsCache`` instead."""
    return unpack_blocks(r.blob, r.block_off, r.block_n, r.block_first,
                         keep=keep)


class _DecodedPostingsCache:
    """Byte-budgeted LRU of fully-decoded posting rows for warm_local
    serving, keyed by (range base docId, tid).

    Profiling the warm_local kernel showed ~50% of per-query latency was
    ``_vbyte_decode_arr`` re-decoding the SAME hot-term rows on every
    query ('import'/'return'-class terms touch every range). Postings
    are immutable within a meta generation (the same invariant
    ``_local_refresh_tombstones`` relies on), so decoded (doc, tf, dl)
    arrays can be reused verbatim across queries — the Python analog of
    Lucene serving hot postings from the OS page cache, except here the
    saved cost is decode CPU, not I/O. Strictly bounded: decoded arrays
    are ~24 B/posting vs ~4-8 B on disk, so the default budget
    (4x the warm_local on-disk budget) admits the whole working set of a
    budget-sized index while staying O(budget) if it can't.

    When a WAND call wants a block subset (``keep``), the kept blocks
    are gathered from the cached FULL decode via the per-block posting
    offsets — value-identical to ``unpack_blocks(keep=...)``
    (pytest-gated). The first touch of a row decodes all its blocks even
    if WAND would have skipped some; hot rows amortize that immediately
    and cold rows are the ones WAND skips anyway. Callers must not
    mutate returned arrays (the scorers ``.astype``-copy before any
    arithmetic). Not thread-safe, like the rest of the warm_local
    snapshot; never shipped to executors."""

    def __init__(self, max_bytes: int):
        from collections import OrderedDict
        self.max_bytes = int(max_bytes)
        self._rows: "OrderedDict[tuple, tuple]" = OrderedDict()
        self._bytes = 0

    def __call__(self, base: int, r, keep=None):
        # (base, tid) alone is NOT unique: a direct build_index append
        # at a non-range-aligned offset legally shares a range, giving
        # two posting rows per (range, term) — a plain (base, tid) key
        # served one row's decode for the other (r5 review; found by
        # the misaligned-append identity gate). The first docId +
        # posting count disambiguate: distinct rows of one snapshot
        # cover disjoint ascending doc spans.
        key = (base, int(r.tid),
               int(r.block_first[0]) if len(r.block_first) else -1,
               len(r.blob))
        hit = self._rows.get(key)
        if hit is None:
            d, tf, dl = unpack_blocks(r.blob, r.block_off, r.block_n,
                                      r.block_first, keep=None)
            bn = np.asarray(r.block_n, dtype=np.int64)
            p0 = np.zeros(bn.size + 1, dtype=np.int64)
            np.cumsum(bn, out=p0[1:])
            hit = (d, tf, dl, p0)
            cost = d.nbytes + tf.nbytes + dl.nbytes + p0.nbytes
            if cost <= self.max_bytes:
                while self._bytes + cost > self.max_bytes and self._rows:
                    _, (ed, etf, edl, ep0) = self._rows.popitem(last=False)
                    self._bytes -= ed.nbytes + etf.nbytes + edl.nbytes + ep0.nbytes
                self._rows[key] = hit
                self._bytes += cost
            # else: a single row larger than the whole budget is decoded
            # per call rather than evicting the entire cache for it
        else:
            self._rows.move_to_end(key)
        d, tf, dl, p0 = hit
        if keep is None:
            return d, tf, dl
        kb = np.asarray(keep, dtype=np.int64)
        lens = p0[kb + 1] - p0[kb]
        total = int(lens.sum())
        if total == d.size:
            return d, tf, dl
        # output offset of each kept block, then one flat gather
        o0 = np.zeros(kb.size, dtype=np.int64)
        np.cumsum(lens[:-1], out=o0[1:])
        gidx = np.repeat(p0[kb] - o0, lens) + np.arange(total, dtype=np.int64)
        return d[gidx], tf[gidx], dl[gidx]


def _shared_taat_range(rows, base: int, allowed, idfs: dict, by_tid: dict,
                       k1: float, b: float, avgdl: float, k: int,
                       decode=_decode_row) -> list:
    """Sparse shared-decode TAAT over ONE docId-range: decode every block
    of every term once; per query hold REFERENCES to the shared
    (idx, contrib) arrays, then finalize one query at a time with a
    transient bincount (accumulation order = the fixed global term
    order, so float sums are bit-identical to the single-query
    exhaustive scorer's). ``rows`` are (ub_max, tid, row, ub_blocks)
    already sorted by (-ub_max, tid); ``allowed`` is an optional boolean
    mask (applied BEFORE the per-query top-k cut — found r2). Returns a
    list of per-query ``(query_id, doc_ids, scores)`` array triples.
    Shared by ``search_many``'s executor-side scorer and the
    ``warm_local`` driver-side batch path so the two can never
    diverge."""
    hits: dict[str, list] = {}
    for _, tid_v, r, _ in rows:
        idf = idfs[tid_v]
        d, tf, dl = decode(base, r, keep=None)
        tf = tf.astype(np.float64)
        dl = dl.astype(np.float64)
        tfn = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        idx = (d - np.uint64(base)).astype(np.int64)
        contrib = idf * tfn
        if allowed is not None:
            m = allowed[idx]
            idx, contrib = idx[m], contrib[m]
        if idx.size == 0:
            continue
        for qid in by_tid[tid_v]:
            hits.setdefault(qid, []).append((idx, contrib))
    out = []
    for qid, parts in hits.items():
        if len(parts) == 1:
            cat_idx, cat_c = parts[0]
        else:
            cat_idx = np.concatenate([p[0] for p in parts])
            cat_c = np.concatenate([p[1] for p in parts])
        S = np.bincount(cat_idx, weights=cat_c)
        uniq = np.unique(cat_idx)
        fidx, scores = _cut_topk(uniq, S[uniq], k)
        out.append((qid, base + fidx, scores))
    return out


def _ranked_rows(recs, idfs: dict, k1: float, b: float, avgdl: float) -> list:
    """One range's posting records as ``(ub_max, tid, rec, ub_blocks)``
    in the fixed processing order every scorer uses.

    ``ub_blocks`` is the per-block BM25 upper bound (idf x tfnorm
    bound). (-ub, tid, first docId) is a TOTAL order over the range's
    records, so summation order — and thus every float score — is the
    same in every execution, which cursor paging's exact score-equality
    test requires. The first-docId tiebreak matters when a range holds
    TWO records for one term (non-aligned direct appends share ranges):
    (-ub, tid) alone left their order to shuffle arrival (r5 review)."""
    rows = []
    for r in recs:
        tid = int(r.tid)
        ub_blocks = idfs[tid] * _tfnorm_bound(
            np.asarray(r.block_max_tf), np.asarray(r.block_min_dl), k1, b, avgdl
        )
        rows.append((float(ub_blocks.max()), tid, r, ub_blocks))
    rows.sort(key=lambda x: (
        -x[0], x[1], int(x[2].block_first[0]) if len(x[2].block_first) else -1,
    ))
    return rows


def _qframe(parts: list) -> pd.DataFrame:
    """Per-query ``(query_id, doc_ids, scores)`` triples as one
    (query_id, doc_id, score) frame — the executor-side result of the
    batch kernels."""
    if not parts:
        return pd.DataFrame({"query_id": [], "doc_id": [], "score": []}).astype(
            {"query_id": "object", "doc_id": "int64", "score": "float64"}
        )
    return pd.DataFrame({
        "query_id": np.repeat(np.array([q for q, _, _ in parts], dtype=object),
                              [len(d) for _, d, _ in parts]),
        "doc_id": np.concatenate([d for _, d, _ in parts]).astype(np.int64),
        "score": np.concatenate([s for _, _, s in parts]),
    })


def _topk_per_query(parts: list, k: int):
    """Driver-side cross-range cut of per-query ``(query_id, doc_ids,
    scores)`` triples: ``(query_ids, doc_ids, scores)`` arrays with at
    most ``k`` rows per query, ordered (query_id, score desc, doc_id asc)
    by one lexsort."""
    qids = sorted({q for q, _, _ in parts})
    code = {q: i for i, q in enumerate(qids)}
    qc = np.repeat(np.array([code[q] for q, _, _ in parts], dtype=np.int64),
                   [len(d) for _, d, _ in parts])
    d = np.concatenate([d for _, d, _ in parts]).astype(np.int64)
    s = np.concatenate([s for _, _, s in parts])
    order = np.lexsort((d, -s, qc))
    qc, d, s = qc[order], d[order], s[order]
    first = np.searchsorted(qc, qc)  # start of each row's query run
    keep = np.arange(qc.size) - first < k
    return np.asarray(qids, dtype=object)[qc[keep]], d[keep], s[keep]


#: search_many: engage per-query WAND pruning only when one range's
#: union-of-query-terms posting volume reaches this (below it the
#: bookkeeping costs more than the skipped decodes). Tuned by r4 idle-
#: host A/B at the 100k-doc bench (ranges of 1.29M/0.68M postings):
#: always-WAND 13.35 q/s, always-TAAT 13.05, mixed at this threshold
#: 14.02 — WAND pays off on the hot range, TAAT on the light one.
_BATCH_PRUNE_MIN_POSTINGS = 1_000_000
#: search_many: per-query dense accumulators (needed for WAND theta /
#: segmax) are capped — above this many queries a range uses sparse
#: TAAT, bounding range-task memory at O(decoded postings) instead of
#: n_queries × range_size × 9 B
_BATCH_PRUNE_MAX_QUERIES = 128


def _cut_topk(idx: np.ndarray, scores: np.ndarray, k: int):
    """Exact per-range top-k cut under (score desc, doc_id asc).

    ``np.argpartition`` alone breaks boundary score-ties arbitrarily —
    with exact-duplicate documents (identical tf and dl give bit-equal
    float scores) it could drop the tie member with the LOWEST doc id,
    which the documented total order (and the DuckDB oracles) must keep.
    Keep every boundary tie, then resolve the full order by doc id."""
    if idx.size > k:
        kth = scores[np.argpartition(-scores, k - 1)[k - 1]]
        keep = scores >= kth
        idx, scores = idx[keep], scores[keep]
    order = np.lexsort((idx, -scores))[:k]
    return idx[order], scores[order]


def _tfnorm_bound(max_tf, min_dl, k1: float, b: float, avgdl: float):
    """Upper bound of tfnorm for any posting with tf<=max_tf, dl>=min_dl
    (monotone increasing in tf, decreasing in dl — valid for any avgdl)."""
    mt = np.asarray(max_tf, dtype=np.float64)
    md = np.asarray(min_dl, dtype=np.float64)
    return mt * (k1 + 1.0) / (mt + k1 * (1.0 - b + b * md / avgdl))


def _range_kernel(idfs: dict, k1: float, b: float, avgdl: float, k: int,
                  range_size: int, prune: bool,
                  after: tuple[float, int] | None = None, decode=_decode_row):
    """Build the per-range BM25 kernel ``kernel(recs, base, mask) ->
    (doc_ids, scores)``: top-k of one docId-range over an iterable of
    posting records (anything with the postings columns as attributes —
    ``itertuples`` rows on the executors, the warm_local snapshot's
    records on the driver), under an optional boolean ``mask`` over the
    range (applied BEFORE the top-k cut). The closure carries the tiny
    query-side state: idf per term, BM25 params, k.

    ``after=(score, doc_id)``: cursor paging — keep only docs strictly
    after the cursor in (score desc, doc_id asc) order, applied BEFORE
    the per-range top-k cut. Requires ``prune=False`` (WAND's theta is
    the k-th best overall, which would prune exactly the post-cursor
    candidates a later page needs). Score equality against the cursor is
    exact BECAUSE summation order is pinned by ``_ranked_rows``' total
    order and, within a term, the decode emits docIds ascending. Float
    addition is then performed in an execution-independent order, so a
    page-2 run reproduces page-1's scores bit-for-bit (ADVICE r2: the
    previous input-order sort made cursor equality depend on shuffle
    arrival order)."""
    assert not (prune and after is not None)

    def kernel(recs, base: int, mask):
        rows = _ranked_rows(recs, idfs, k1, b, avgdl)
        S = np.zeros(range_size, dtype=np.float64)
        seen = np.zeros(range_size, dtype=bool)
        suffix = np.zeros(len(rows) + 1)
        for i in range(len(rows) - 1, -1, -1):
            suffix[i] = suffix[i + 1] + rows[i][0]

        theta = None
        for i, (_, tid, r, ub_blocks) in enumerate(rows):
            idf = idfs[tid]
            block_first = np.asarray(r.block_first, dtype=np.int64)
            nb = block_first.size
            keep = np.ones(nb, dtype=bool)
            if prune and theta is not None:
                starts = block_first - base
                segmax = np.maximum.reduceat(S, starts) if starts[0] < range_size else None
                if segmax is not None:
                    keep = (segmax + ub_blocks + suffix[i + 1]) >= theta
            if keep.any():
                # all kept blocks of this term decode in ONE vectorized
                # pass (theta only updates per TERM, so this is WAND-
                # identical to the old per-block loop)
                d, tf, dl = decode(
                    base, r,
                    keep=None if keep.all() else np.flatnonzero(keep),
                )
                tf = tf.astype(np.float64)
                dl = dl.astype(np.float64)
                tfn = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
                idx = (d - np.uint64(base)).astype(np.int64)
                if mask is not None:
                    m = mask[idx]
                    idx, tfn = idx[m], tfn[m]
                S[idx] += idf * tfn
                seen[idx] = True
            if prune:
                cnt = int(seen.sum())
                if cnt >= k:
                    theta = np.partition(S[seen], cnt - k)[cnt - k]

        idx = np.flatnonzero(seen)
        if after is not None and idx.size:
            s_after, id_after = after
            gid = base + idx
            m = (S[idx] < s_after) | ((S[idx] == s_after) & (gid > id_after))
            idx = idx[m]
        idx, scores = _cut_topk(idx, S[idx], k)
        return base + idx, scores

    return kernel


def _make_scorer(idfs: dict, k1: float, b: float, avgdl: float, k: int,
                 range_size: int, prune: bool, use_allowed: bool,
                 after: tuple[float, int] | None = None,
                 mask_is_dead: bool = False):
    """The per-range applyInPandas scorer: ``_range_kernel`` over the
    group's rows, masked by the cogrouped side when ``use_allowed``.

    ``mask_is_dead``: the cogrouped side is the EXCLUDED set (dead set
    and/or broad-filter complement) — inverted (r3 review: the
    allowed-set shape shipped the ENTIRE live docstats into every range
    task once a single tombstone existed; r4: a broad filter shipped
    O(matching docs) — _mask_plan now ships whichever side is
    smaller)."""
    kernel = _range_kernel(idfs, k1, b, avgdl, k, range_size, prune, after)

    def score_range_impl(key, postings, allow_pdf):
        _limit_arrow_threads()
        if postings.empty:
            # before the mask build: under dead-only masking the cogroup
            # also yields ranges with tombstones but none of the query's
            # terms — allocating a range_size mask just to discard it
            # wasted an array per such range per query (r3 review)
            return pd.DataFrame({"doc_id": [], "score": []}).astype(
                {"doc_id": "int64", "score": "float64"}
            )
        base = int(key[0]) * range_size
        mask = (_range_mask(_side_ids(allow_pdf), base, range_size, mask_is_dead)
                if use_allowed else None)
        doc_ids, scores = kernel(postings.itertuples(index=False), base, mask)
        return pd.DataFrame({"doc_id": doc_ids.astype("int64"), "score": scores})

    def grouped(key, pdf):
        return score_range_impl(key, pdf, None)

    def cogrouped(key, left, right):
        return score_range_impl(key, left, right)

    return cogrouped if use_allowed else grouped


def _phrase_hits(per_tid: dict, instances: list, tids: list, slop: int,
                 m: int):
    """Match ONE phrase against one docId-range's decoded positional
    streams: returns (hit_docs, freqs) — range-local doc offsets and
    anchor counts — or None when nothing matches. ``per_tid`` maps
    tid -> (docs, dls, token_docs, token_pos); ``instances`` is the
    phrase's (tid, position) list, ``m`` its length. Shared by the
    single-phrase scorer (``_phrase_exec``) and the batched
    ``search_many_phrase`` so their match semantics can never diverge
    (Lucene sum-of-moves slop; see ``_phrase_exec`` docstring)."""
    from dbsyncer_spark.index.codec import POS_CAP

    if slop == 0:
        inter = None
        for tid_v, i in instances:
            _, _, tdocs, tpos = per_tid[tid_v]
            if tpos.size and int(tpos.max()) >= POS_CAP - m:
                raise ValueError(
                    f"token position {int(tpos.max())} exceeds POS_CAP "
                    f"({POS_CAP}) — doc too long for phrase encoding"
                )
            keys = tdocs * POS_CAP + (tpos - i + m)
            inter = keys if inter is None else np.intersect1d(
                inter, keys, assume_unique=True
            )
            if inter.size == 0:
                return None
        hit_docs, freqs = np.unique(inter // POS_CAP, return_counts=True)
        return hit_docs, freqs
    # candidate docs contain every distinct term; per-doc
    # anchor check via searchsorted (candidates are few)
    cand = None
    for tid_v in tids:
        d = per_tid[tid_v][0]
        cand = d if cand is None else np.intersect1d(cand, np.sort(d))
        if cand.size == 0:
            return None
    # per tid, ONE (doc, pos) sort + candidate boundary scan —
    # the old inner loop re-masked the range's whole token
    # stream per candidate per instance, O(candidates ×
    # range_tokens) (r3 review); this is O(tokens log tokens
    # + candidates log tokens) total
    tok_slices: dict[int, tuple] = {}
    for tid_v in tids:
        _, _, tdocs, tpos = per_tid[tid_v]
        order = np.lexsort((tpos, tdocs))
        td_s, tp_s = tdocs[order], tpos[order]
        tok_slices[tid_v] = (
            tp_s,
            np.searchsorted(td_s, cand, side="left"),
            np.searchsorted(td_s, cand, side="right"),
        )
    hit_l, freq_l = [], []
    for j, doc in enumerate(cand):
        anchors = None
        total = None
        for tid_v, i in instances:
            tp_s, clo, chi = tok_slices[tid_v]
            adj = tp_s[clo[j]:chi[j]] - i  # pos-sorted already
            if i == 0 and anchors is None:
                anchors = adj
                total = np.zeros(adj.size)
                continue
            # nearest adjusted occurrence to each anchor (both
            # searchsorted neighbors) -> this instance's
            # minimal move distance; the SHARED slop budget is
            # the sum across instances (Lucene semantics)
            lo = np.searchsorted(adj, anchors, side="left")
            d_hi = np.where(
                lo < adj.size,
                np.abs(adj[np.minimum(lo, adj.size - 1)] - anchors),
                np.inf,
            )
            d_lo = np.where(
                lo > 0,
                np.abs(anchors - adj[np.maximum(lo - 1, 0)]),
                np.inf,
            )
            total += np.minimum(d_hi, d_lo)
        f = int((total <= slop).sum())
        if f:
            hit_l.append(doc)
            freq_l.append(f)
    if not hit_l:
        return None
    return (np.asarray(hit_l, dtype=np.int64),
            np.asarray(freq_l, dtype=np.int64))


def _decode_positional_range(recs, base: int) -> dict:
    """tid -> (docs, dls, token_docs, token_pos) for one range's
    positional posting records (concatenated across segments' rows). The
    shared decode both phrase paths build before matching."""
    from dbsyncer_spark.index.codec import unpack_row_positions

    by_tid: dict[int, list] = {}
    for r in recs:
        by_tid.setdefault(int(r.tid), []).append(r)
    per_tid: dict[int, tuple] = {}
    for tid_v, grp in sorted(by_tid.items()):
        # deterministic concatenation in first-docId order — rows of one
        # (range, term) have disjoint ascending doc spans (a non-aligned
        # direct append shares a range, r5 review), so this keeps the
        # concatenated doc stream globally ascending
        grp.sort(key=lambda r: int(r.block_first[0]) if len(r.block_first) else -1)
        docs_l, tok_docs_l, tok_pos_l, dls_l = [], [], [], []
        for r in grp:
            d, tf, dl, flat = unpack_row_positions(
                {
                    "blob": r.blob,
                    "block_off": list(r.block_off),
                    "block_n": list(r.block_n),
                    "block_first": list(r.block_first),
                    "pos_blob": r.pos_blob,
                    "pos_off": list(r.pos_off),
                }
            )
            d = d.astype(np.int64) - base
            docs_l.append(d)
            dls_l.append(dl.astype(np.int64))
            tok_docs_l.append(np.repeat(d, tf.astype(np.int64)))
            tok_pos_l.append(flat)
        per_tid[int(tid_v)] = (
            np.concatenate(docs_l),
            np.concatenate(dls_l),
            np.concatenate(tok_docs_l),
            np.concatenate(tok_pos_l),
        )
    return per_tid


class SearchIndex:
    """Handle to a persisted index (all segments merged at query time)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        with open(os.path.join(index_dir, "meta.json")) as f:
            self.meta = json.load(f)
        self.params = self.meta["params"]
        self.num_shards = self.params["num_shards"]
        self.range_size = self.params["range_size"]
        self.k1 = self.params["k1"]
        self.b = self.params["b"]
        segs = self.meta["segments"]
        self.n_docs = sum(s["n_docs"] for s in segs.values())
        sum_dl = sum(s["sum_dl"] for s in segs.values())
        self.avgdl = sum_dl / self.n_docs if self.n_docs else 0.0
        self._seg_dirs = [os.path.join(index_dir, "segments", name) for name in sorted(segs)]
        self._tomb_name = self.meta.get("tombstones_dir", "tombstones")
        self._tomb_seen = os.path.exists(os.path.join(index_dir, self._tomb_name))
        self._term_cache: dict[str, int] = {}
        self._TERM_CACHE_MAX = 200_000  # ~a few MB of driver memory
        self._df_cache: dict[str, DataFrame] = {}
        self._driver_dict: dict[int, int] | None = None
        # doc_filter selectivity cache (keyed by predicate expr string):
        # makes the adaptive mask-side choice free for repeated filters;
        # staleness after appends/deletes only risks the larger side
        self._sel_cache: dict[str, float] = {}
        # warm_local() state: driver-resident postings/docstats/dead-set
        # for the zero-job serving fast path (None = cluster path)
        self._local: dict | None = None
        self._local_budget: int = 256 << 20
        self._warmed: dict | None = None  # warm() args, replayed by refresh()

    # -- paths ----------------------------------------------------------
    def _union_read(self, sub: str) -> DataFrame:
        # per-segment reads unioned (a single multi-path read rejects
        # multiple partitioned roots); Catalyst pushes filters into each
        # branch, so shard pruning still applies per segment.
        # The resolved plan is cached per handle — repeated queries skip
        # file re-listing/schema inference (serving-path latency).
        if sub in self._df_cache:
            return self._df_cache[sub]
        dfs = [self.spark.read.parquet(os.path.join(d, sub)) for d in self._seg_dirs]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        self._df_cache[sub] = out
        return out

    def _postings(self) -> DataFrame:
        return self._union_read("postings")

    def docstats(self) -> DataFrame:
        return self._union_read("docstats")

    def _mask_plan(self, doc_filter, allowed_docs, tomb,
                   filter_selectivity: float | None = None):
        """Choose the cogroup mask side for one query: returns
        ``(mask_side | None, inverted)``.

        The scorers mask per docId-range via a boolean array built from
        the cogrouped side (``_range_mask``); what matters at 100 TB is
        HOW MANY ids ride the cogroup into the Python workers per query:

        - nothing to mask → ``(None, False)``: plain groupBy, no cogroup.
        - tombstones only → the (small) dead set, inverted (r3).
        - ``doc_filter`` → ADAPTIVE (r3 VERDICT #1, the last serving-path
          scale-killer): a broad MUST filter (``lang='en'`` matching half
          a 10^10-doc corpus) would ship O(matching docs) ids per query;
          when the matching fraction exceeds 1/2, ship the COMPLEMENT
          (predicate-FALSE-or-NULL live docs, plus the dead set) instead,
          inverted. The reference evaluates MUST clauses index-side for
          the same reason (``DiskStorageService.java:294-346``).
          Selectivity comes from ``filter_selectivity`` (caller-known),
          a per-session cache keyed by the predicate's expression string,
          or ONE pushed-down docstats count job. A stale cached fraction
          can only pick the larger side — never wrong results.
        - an explicit ``allowed_docs`` id set stays allowed-side: the
          caller already materialized exactly that set; deriving its
          complement would cost the very anti-join shuffle this avoids.
        """
        if doc_filter is None and allowed_docs is None:
            if tomb is None:
                return None, False
            return _dead_ranges(tomb, self.range_size), True
        allowed = self.docstats()
        if doc_filter is not None:
            allowed = allowed.filter(doc_filter)
        if allowed_docs is not None:
            allowed = allowed.join(
                allowed_docs.select("doc_id"), "doc_id", "left_semi"
            )
        if doc_filter is not None and allowed_docs is None:
            sel = filter_selectivity
            if sel is None:
                key = str(doc_filter)
                sel = self._sel_cache.get(key)
                if sel is None:
                    sel = allowed.count() / max(self.n_docs, 1)
                    if len(self._sel_cache) > 256:
                        self._sel_cache.clear()
                    self._sel_cache[key] = sel
            if sel > 0.5:
                # NULL-safe complement: rows where the predicate is FALSE
                # or NULL (.filter() keeps only TRUE rows)
                comp = self.docstats().filter(
                    ~F.coalesce(doc_filter.cast("boolean"), F.lit(False))
                ).select("range_id", "doc_id")
                if tomb is not None:
                    # dead docs that MATCH the filter aren't in comp;
                    # union the dead set (duplicates for dead non-matching
                    # docs are harmless — the mask just re-clears a bit)
                    comp = comp.unionByName(
                        _dead_ranges(tomb, self.range_size)
                        .select("range_id", "doc_id")
                    )
                return comp, True
        if tomb is not None:
            allowed = allowed.join(tomb.select("doc_id"), "doc_id", "left_anti")
        return allowed.select("range_id", "doc_id"), False

    def _dictionary(self) -> DataFrame:
        return self._union_read("dictionary")

    def refresh(self) -> bool:
        """Read-your-writes re-open IN PLACE — the analog of the
        reference's blocking searcher refresh before a query
        (``Shard.java:219-229`` ``prepareSearcherForRead``; its commit
        scheduler pairs with our writers' atomic meta swap). Readers are
        snapshot-pinned at open (Lucene semantics); ``refresh()`` is the
        explicit step that makes writes since then visible WITHOUT
        building a new handle: re-reads root meta lock-free (atomic
        swap ⇒ old or new, never torn), and when the snapshot moved —
        new/merged segments, a flipped tombstone generation — drops this
        handle's cached plans/persisted frames and re-establishes every
        warm tier that was active (driver dictionary, pinned postings,
        ``warm_local``, each at its recorded settings; the local budget
        is re-checked, so an index that outgrew it raises here rather
        than serving stale). Returns True when the snapshot advanced
        (warm tiers rebuilt), False when meta was unchanged — then only
        what CAN have moved inside a generation is re-pulled: volatile
        caches (selectivity, local filter sets) are cleared and an
        active warm_local snapshot re-reads just the tombstone dead set
        (postings/docstats are immutable per segment, so the full
        driver re-collect is skipped — r5 review); same-generation
        tombstone appends flow through the normal per-query tombstone
        read on the cluster path. A warm_local snapshot CAN still go
        stale against same-generation deletes without a meta change —
        callers mixing warm_local with live deletes should refresh on
        the writer's cadence (the reference's 3 s commit/refresh loop)
        or after ``delete_docs`` returns."""
        with open(os.path.join(self.index_dir, "meta.json")) as f:
            fresh = json.load(f)
        was_dict = self._driver_dict is not None
        dict_cap = getattr(self, "_dict_max_terms", None)
        was_warm = self._warmed
        was_local = self._local is not None
        local_budget = self._local_budget
        local_decode_budget = getattr(self, "_local_decode_budget", None)

        def _visible(m: dict):
            # only what a READER can observe decides a full re-warm:
            # segments, shared params, and the tombstone-generation
            # pointer. Writer bookkeeping (reservations, claim/pin
            # timestamps, retirement registries, streaming HWMs) churns
            # 2-3 meta writes per append + heartbeats — comparing the
            # FULL dict made every one of those tear down and re-collect
            # the whole warm_local snapshot on the documented 3 s
            # refresh cadence (r5 review).
            return (m.get("segments"), m.get("params"),
                    m.get("tombstones_dir", "tombstones"))

        if _visible(fresh) == _visible(self.meta):
            self._sel_cache.clear()
            if was_local:  # re-pull: picks up same-generation deletes
                self._local_refresh_tombstones()
            return False
        for df in self._df_cache.values():
            try:
                df.unpersist()
            except Exception:
                pass
        self.__init__(self.spark, self.index_dir)
        if was_warm is not None:
            self.warm(**was_warm)
        if was_dict:
            self.warm_driver_dictionary(
                **({} if dict_cap is None else {"max_terms": dict_cap})
            )
        if was_local:
            self.warm_local(max_bytes=local_budget,
                            decode_cache_bytes=local_decode_budget)
        return True

    def warm(self, cache_dictionary: bool = True, cache_postings: bool = False) -> None:
        """Serving-session warm-up: resolve the file indexes and pin the
        dictionary in executor memory (it is ~1e-4 of index size —
        term df/cf metadata only, never the posting blobs).

        ``cache_postings`` additionally pins the postings table — right
        for a dedicated serving session whose index (or hot shard subset)
        fits cluster memory; at full 100 TB scale leave it off and rely
        on shard partition pruning + the OS page cache."""
        prev = self._warmed or {}
        self._warmed = {  # OR across calls so refresh() replays the union
            "cache_dictionary": cache_dictionary or prev.get("cache_dictionary", False),
            "cache_postings": cache_postings or prev.get("cache_postings", False),
        }
        self._postings()
        if cache_dictionary:
            d = self._dictionary().persist()
            d.count()
            self._df_cache["dictionary"] = d
        if cache_postings:
            # pre-partitioned by range_id: the per-query
            # groupBy(range_id).applyInPandas then reuses the cached
            # partitioning — no exchange inside the serving hot path.
            # Partition count = number of live docId ranges (capped at
            # shuffle.partitions), NOT the session default: a 100k-doc
            # index has 2 ranges, and a 32-partition cache costs 30 empty
            # Python-worker round trips per query (~12 ms each — the
            # whole p50 was scheduling floor, measured r2). ClusteredDist
            # is satisfied by any hash partitioning on range_id, so fewer
            # partitions than ranges stays correct (ranges co-group).
            # live ranges from segment id-spans, NOT n_docs/range_size
            # (r2 review) — ONE definition shared with the batch
            # reduction heuristic
            n_ranges = self._live_range_count()
            default_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            n_parts = min(n_ranges, default_parts)
            p = self._postings().repartition(n_parts, "range_id").persist()
            p.count()
            self._df_cache["postings"] = p
            d = self.docstats().repartition(n_parts, "range_id").persist()
            d.count()
            self._df_cache["docstats"] = d

    def warm_local(self, max_bytes: int = 256 << 20,
                   decode_cache_bytes: int | None = None) -> None:
        """Driver-local serving mode for indexes that fit a driver budget
        (r4 VERDICT #3): pull the RAW compressed postings rows, the
        docstats metadata, and the dead set to the driver once; ``search``
        / ``search_after`` then score entirely driver-side — the same
        range kernels the executors run (``_range_kernel``,
        ``_shared_taat_range``, the gated batch kernel), zero Spark jobs
        — and return a LocalRelation DataFrame. This removes
        the per-query scheduling + Python-runner stage floor (~150-250 ms
        on the bench host regardless of rows, SURVEY §8.10), which pinned
        p50 at ~250-300 ms for a 100k-doc index whose actual scoring work
        is single-digit milliseconds.

        Snapshot layout, built once here: ``rows[range_id] = {tid:
        [posting record, ...]}``. A record is one postings row as an
        ``itertuples`` namedtuple (attributes = the postings columns);
        the kernels read records directly, so a query gathers its terms'
        records with dict lookups — no pandas frame is kept or sliced
        per query. The dead set is ``dead[range_id] = doc_id array`` and
        a filter's allowed set ``filters[predicate][range_id] = doc_id
        array``; per-range masks are built from those arrays per query.

        Budget: refuses when the postings' ON-DISK parquet bytes exceed
        ``max_bytes`` (default 256 MiB — raw blobs stay compressed in
        driver memory, so resident size is the same order). At 100 TB
        scale this always refuses and the cluster path — untouched —
        serves; the fast path is for the reference's single-node serving
        shape (DiskStorageService keeps its whole index on one node).

        Filtered queries stay zero-job: ``doc_filter`` Columns are
        evaluated against a LocalRelation copy of docstats (Catalyst's
        ConvertToLocalRelation folds Filter+Project driver-side), with
        the allowed id set cached per predicate string. ``allowed_docs``
        (arbitrary DataFrame lineage) still routes to the cluster path.

        ``decode_cache_bytes`` bounds the decoded-postings LRU
        (``_DecodedPostingsCache``) the local kernels consult before
        VByte-decoding a posting row; default 4x ``max_bytes`` — decoded
        arrays are ~24 B/posting vs ~4-8 B on disk, so that admits the
        whole working set of a budget-sized index. 0 disables it.

        Snapshot semantics like ``warm(cache_postings=True)``: deletes /
        merges landing after warm_local are not visible — call
        ``refresh()`` (or re-open the index; the maintenance path's
        reader-snapshot rules apply)."""
        self._local_budget = max_bytes
        est = 0
        for seg in self._seg_dirs:
            p = os.path.join(seg, "postings")
            for root, _, files in os.walk(p):
                est += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        if est > max_bytes:
            raise ValueError(
                f"postings are {est} bytes on disk > warm_local budget "
                f"{max_bytes} — serve via the cluster path"
            )
        if self._driver_dict is None:
            self.warm_driver_dictionary()
        # tid -> ALL records: a range can legally hold several posting
        # rows per term (a direct build_index append at a non-range-
        # aligned offset passes the publish overlap guard and shares a
        # range with its neighbor); a tid -> single-row map silently
        # dropped all but the last, diverging warm_local from the
        # cluster scorers which iterate every row (r5 review). No kernel
        # reads shard / n_docs / sum_tf; dropping them saves every record
        # three tuple slots and their int objects.
        rows_by_range: dict[int, dict[int, list]] = {}
        for r in self._postings().drop("shard", "n_docs", "sum_tf") \
                .toPandas().itertuples(index=False):
            rows_by_range.setdefault(int(r.range_id), {}) \
                .setdefault(int(r.tid), []).append(r)
        stats_pdf = self.docstats().toPandas()
        self._local = {
            "rows": rows_by_range,
            "docstats_pdf": stats_pdf,
            # LocalRelation twin of docstats: Column predicates fold
            # driver-side (no job) when filtering it. The ORIGINAL schema
            # is passed explicitly — schema inference would crash on an
            # all-NULL metadata column and drift nullable-int dtypes to
            # double, where a doc_filter could evaluate differently than
            # on the cluster path (r5 review)
            "docstats_df": self.spark.createDataFrame(
                stats_pdf, self.docstats().schema
            ),
            "filters": {},  # predicate str -> {range_id: allowed doc_id ndarray}
            # field-column tuple -> {range_id: {column: live-doc values}}
            # (the gated kernel's side data)
            "live_sides": {},
            # decoded-postings LRU consulted by the local kernels; valid
            # for this snapshot's lifetime (postings are immutable within
            # a meta generation — tombstone-only refresh keeps it)
            "decoded": (
                _DecodedPostingsCache(
                    4 * max_bytes if decode_cache_bytes is None
                    else decode_cache_bytes
                )
                if (decode_cache_bytes is None or decode_cache_bytes > 0)
                else None
            ),
        }
        self._local_decode_budget = decode_cache_bytes
        self._local_refresh_tombstones()  # fills "dead" / "dead_ids"

    def _local_refresh_tombstones(self) -> None:
        """(Re-)pull ONLY the dead set into the warm_local snapshot:
        ``dead`` (range_id -> doc_id array) and ``dead_ids`` (a set).

        Within one meta generation the only thing that can change is
        tombstone appends — postings, docstats, and the dictionary are
        immutable per segment and any segment/generation change moves
        root meta. So ``refresh()`` on an UNCHANGED meta must not re-run
        ``warm_local`` in full (re-collecting every posting blob +
        docstats to the driver on the writer's 3 s refresh cadence, r5
        review); it re-reads the pinned generation's tombstone parquet
        and invalidates the cached per-predicate allowed sets and live
        sides, which fold ``dead_ids`` in."""
        loc = self._local
        dead_of: dict[int, np.ndarray] = {}
        tomb = self._tombstones()
        if tomb is not None:
            ids = tomb.select("doc_id").distinct().toPandas()["doc_id"]
            dead_of = {int(rid): g.to_numpy(np.int64)
                       for rid, g in ids.groupby(ids // self.range_size)}
        loc["dead"] = dead_of
        loc["dead_ids"] = (set(np.concatenate(list(dead_of.values())).tolist())
                           if dead_of else set())
        loc["filters"].clear()
        loc["live_sides"].clear()

    def _search_local(self, query: str, k: int, mode: str, doc_filter,
                      after, boosts) -> DataFrame:
        """Zero-job twin of ``search`` over the ``warm_local`` snapshot —
        same range kernel, same per-range masking and top-k cut, same
        final (score desc, doc_id asc) order; rank- and score-identical
        to the cluster path (pytest-gated)."""
        doc_ids, scores = self._search_local_topk(query, k, mode, doc_filter,
                                                  after, boosts)
        return self._local_frame({"doc_id": doc_ids, "score": scores},
                                 _SCORE_SCHEMA_T)

    def _local_frame(self, cols: dict, schema) -> DataFrame:
        """LocalRelation over driver-side result arrays — the one pandas
        frame of a DataFrame-returning warm_local call (zero jobs)."""
        if not len(cols["doc_id"]):
            return empty_df(self.spark, schema)
        return self.spark.createDataFrame(pd.DataFrame(cols), schema)

    def search_rows(
        self,
        query: str,
        k: int = 10,
        mode: str = "wand",
        doc_filter=None,
        after: tuple[float, int] | None = None,
        boosts: dict[str, float] | None = None,
    ) -> list[tuple[int, float]]:
        """``search`` for serving loops: plain ``(doc_id, score)`` tuples
        in the same (score desc, doc_id asc) order, no DataFrame.

        On a ``warm_local`` snapshot this is the pure driver kernel with
        ZERO py4j traffic: dict lookups gather the query terms' posting
        records per range, the range kernel scores them, and one lexsort
        merges the ranges — no pandas on the path. At the 6,000-doc
        perfbench index (``serve_local``, 4 cores) a plain query costs
        ~1.2 ms p50 (BASELINE.md, "Where the time goes"). ``search``
        wraps the identical result in a LocalRelation, whose create +
        collect py4j round trips cost more than the kernel. The
        reference's serving API
        returns result maps, not frames
        (``DiskStorageService.java:294-346`` -> ``Paging``), so this is
        the parity surface; ``search`` stays the composable DataFrame
        view over the same kernel (rank- and score-identity pytest-
        gated). Without a warm_local snapshot it falls back to
        ``search(...).collect()`` — same rows, cluster latency."""
        if self._local is not None:
            doc_ids, scores = self._search_local_topk(query, k, mode, doc_filter,
                                                      after, boosts)
            return list(zip(doc_ids.tolist(), scores.tolist()))
        return [
            (r.doc_id, r.score)
            for r in self.search(
                query, k=k, mode=mode, doc_filter=doc_filter,
                after=after, boosts=boosts,
            ).collect()
        ]

    def _search_local_topk(self, query: str, k: int, mode: str, doc_filter,
                           after, boosts):
        """The warm_local scoring loop shared by ``_search_local`` and
        ``search_rows``: top-k ``(doc_ids, scores)`` arrays in contract
        order (empty on a dictionary miss / no surviving docs). Per range
        the query terms' records and the mask go straight into
        ``_range_kernel``; one lexsort merges the ranges. Pure driver
        compute — no Spark jobs, no py4j, no pandas."""
        terms = sorted(set(tokenize_py(query)))
        dfs = self.lookup(terms)  # driver dictionary: no job
        if not dfs:
            return _NO_HITS
        n = self.n_docs
        boosts = boosts or {}
        idfs = {
            term_id(t): boosts.get(t, 1.0) * log(1.0 + (n - df_ + 0.5) / (df_ + 0.5))
            for t, df_ in dfs.items()
        }
        kernel = _range_kernel(
            idfs, self.k1, self.b, self.avgdl, k, self.range_size,
            prune=(mode == "wand" and after is None), after=after,
            decode=self._local["decoded"] or _decode_row,
        )
        hits = [kernel(recs, base, mask) for base, recs, mask in
                self._local_ranges(idfs, self._local_allowed_of(doc_filter))]
        if not hits:
            return _NO_HITS
        doc_ids = np.concatenate([d for d, _ in hits])
        scores = np.concatenate([s for _, s in hits])
        order = np.lexsort((doc_ids, -scores))[:k]
        return doc_ids[order], scores[order]

    def _local_ranges(self, tids, allowed_of):
        """``(base, records, mask)`` for every warm_local range holding a
        record of ``tids``: with ``allowed_of`` (range_id -> allowed doc
        ids) the mask is the range's allowed set and ranges without one
        are skipped, else it is the inverted dead set (None when the
        range has no dead doc)."""
        dead_of = self._local["dead"]
        range_size = self.range_size
        for rid, by_tid in self._local["rows"].items():
            recs = [r for t in tids if t in by_tid for r in by_tid[t]]
            if not recs:
                continue
            base = rid * range_size
            if allowed_of is None:
                yield base, recs, _range_mask(dead_of.get(rid), base,
                                              range_size, True)
            elif rid in allowed_of:
                yield base, recs, _range_mask(allowed_of[rid], base,
                                              range_size, False)

    def _local_allowed_of(self, doc_filter) -> dict | None:
        """range_id -> live doc_ids matching ``doc_filter``, evaluated
        against the warm_local docstats LocalRelation (no Spark job) and
        cached per predicate string; None without a filter."""
        if doc_filter is None:
            return None
        loc = self._local
        key = str(doc_filter)
        allowed_of = loc["filters"].get(key)
        if allowed_of is None:
            # ConvertToLocalRelation folds this Filter+Project into
            # the LocalRelation — executeCollect, no Spark job
            rows = loc["docstats_df"].filter(doc_filter) \
                .select("range_id", "doc_id").collect()
            dead = loc["dead_ids"]
            allowed_of = {}
            for r in rows:
                if r.doc_id not in dead:
                    allowed_of.setdefault(int(r.range_id), []).append(r.doc_id)
            allowed_of = {rid: np.asarray(ids, dtype=np.int64)
                          for rid, ids in allowed_of.items()}
            if len(loc["filters"]) > 256:
                loc["filters"].clear()
            loc["filters"][key] = allowed_of
        return allowed_of

    def _local_live_sides(self, field_cols) -> dict:
        """range_id -> {column: values over the range's live docs} for
        ``range_id``, ``doc_id`` and the referenced field columns — the
        side data of the gated kernel on warm_local, cached per column
        set (like ``filters``, cleared when the dead set is re-pulled)."""
        loc = self._local
        cols = ("range_id", "doc_id",
                *(c for c in field_cols if c not in ("range_id", "doc_id")))
        sides = loc["live_sides"].get(cols)
        if sides is None:
            spdf = loc["docstats_pdf"]
            if loc["dead_ids"]:
                spdf = spdf[~spdf["doc_id"].isin(loc["dead_ids"])]
            sides = {int(rid): {c: g[c].to_numpy() for c in cols}
                     for rid, g in spdf[list(cols)].groupby("range_id")}
            if len(loc["live_sides"]) > 256:
                loc["live_sides"].clear()
            loc["live_sides"][cols] = sides
        return sides

    def _search_many_local(self, idfs: dict, by_tid: dict, k: int,
                           doc_filter) -> DataFrame:
        """Zero-job batch twin of ``search_many`` over the warm_local
        snapshot: per docId-range the SAME sparse shared-decode TAAT
        kernel (``_shared_taat_range``) the executors run, then the
        cross-range per-query cut applied driver-side with the same
        (score desc, doc_id asc) discipline — rank- and score-identical
        to the cluster batch (pytest-gated). At bench index size the
        whole batch costs milliseconds per query instead of a shared
        Spark job; past the warm_local budget the cluster batch is the
        only path, unchanged."""
        k1, b, avgdl = self.k1, self.b, self.avgdl
        decode = self._local["decoded"] or _decode_row
        parts = []
        for base, recs, mask in self._local_ranges(
                idfs, self._local_allowed_of(doc_filter)):
            parts.extend(_shared_taat_range(
                _ranked_rows(recs, idfs, k1, b, avgdl), base, mask, idfs,
                by_tid, k1, b, avgdl, k, decode=decode,
            ))
        if not parts:
            return empty_df(self.spark, _QSCORE_SCHEMA_T)
        q, d, s = _topk_per_query(parts, k)
        return self._local_frame({"query_id": q, "doc_id": d, "score": s},
                                 _QSCORE_SCHEMA_T)

    def warm_driver_dictionary(self, max_terms: int = 5_000_000) -> None:
        """Pull the whole (tid -> df) dictionary to the driver: term
        lookups then cost zero Spark jobs. Serving-session option for
        indexes whose dictionary fits the driver (refuses above
        ``max_terms``); the at-scale default stays the shard-pruned
        per-query lookup with the bounded driver term cache."""
        d = self._dictionary().groupBy("tid").agg(F.sum("df").alias("df"))
        n = d.count()
        if n > max_terms:
            raise ValueError(f"dictionary has {n} terms > max_terms={max_terms}")
        self._driver_dict = {r.tid: int(r.df) for r in d.collect()}
        # refresh() replays this tier at the RECORDED cap — replaying
        # the default would spuriously refuse a dictionary the caller's
        # larger cap had accepted (r5 review)
        self._dict_max_terms = max_terms

    def _tombstones(self) -> DataFrame | None:
        # resolve the tombstone GENERATION named by this reader's pinned
        # meta (not a fixed path): the covered-tombstone GC publishes its
        # rewrite as a new generation dir + atomic pointer flip, so a
        # warm reader keeps masking from its own generation's files
        # (kept on disk through the retire-grace window) instead of
        # racing an in-place rewrite. Reader-snapshot semantics: deletes
        # landing after a flip become visible on re-open.
        from pyspark.errors import AnalysisException

        p = os.path.join(self.index_dir, self._tomb_name)
        if os.path.exists(p):
            try:
                return self.spark.read.parquet(p)
            except AnalysisException:
                pass  # purged between the exists check and the read —
                # fall through to the current-generation resolution
        elif not self._tomb_seen:
            # nothing existed at open. One cheap listdir tells the clean
            # index (the common serving case — NO per-query meta.json
            # read, r3 review) from a post-open delete -> flip -> purge
            # cycle that left only newer generations behind.
            gens = [
                e for e in os.listdir(self.index_dir)
                if e == "tombstones" or e.startswith("tombstones_g")
            ]
            if not gens:
                return None
        # the pinned generation is gone (reader outlived the retire
        # grace). A reader serving from pinned caches must NOT silently
        # re-resolve: its cached postings may still contain docs whose
        # tombstones the newer generation dropped as covered (their
        # segments were merged away) — falling back would resurrect them
        # with no error (r3 review). Uncached readers are safe: if their
        # segments were merged, the postings read itself fails loudly;
        # if not, the covered ids never pointed into their view and
        # newer deletes only ADD masking.
        pinned_postings = self._df_cache.get("postings")
        if pinned_postings is not None and pinned_postings.is_cached:
            # is_cached (persisted), not mere plan memoization: an
            # unpersisted plan over purged segment files fails loudly on
            # its own; persisted blocks keep serving them silently
            raise RuntimeError(
                "stale SearchIndex: the tombstone generation pinned at open "
                "was purged while postings are cached — re-open the index "
                "(reader outlived the retire-grace window)"
            )
        with open(os.path.join(self.index_dir, "meta.json")) as f:
            cur = json.load(f).get("tombstones_dir", "tombstones")
        p = os.path.join(self.index_dir, cur)
        if not os.path.exists(p):
            return None
        try:
            return self.spark.read.parquet(p)
        except AnalysisException:
            raise RuntimeError(
                "stale SearchIndex: tombstone generations are being purged "
                "faster than this reader re-resolves them — re-open the index"
            )

    # -- dictionary point lookup (shard-pruned, driver-cached) ----------
    def lookup(self, terms: list[str]) -> dict[str, int]:
        """term -> merged document frequency across segments.

        The dictionary is keyed by tid = md5_64(term) (computed here in
        plain Python — no JVM round trip), with shard partition pruning."""
        if self._driver_dict is not None:
            return {
                t: df_
                for t in terms
                if (df_ := self._driver_dict.get(term_id(t), 0)) > 0
            }
        missing = [t for t in terms if t not in self._term_cache]
        if missing:
            shards = sorted({py_shard(t, self.num_shards) for t in missing})
            tids = {term_id(t): t for t in missing}
            rows = (
                self._dictionary()
                .filter(F.col("shard").isin(shards) & F.col("tid").isin(list(tids)))
                .groupBy("tid")
                .agg(F.sum("df").alias("df"))
                .collect()
            )
            found = {tids[r.tid]: int(r.df) for r in rows}
            for t in missing:
                self._term_cache[t] = found.get(t, 0)
            # bounded: a long-lived serving session streaming diverse
            # queries (incl. zero-df misses, cached as 0) must not grow
            # the driver dict forever — evict the oldest half on overflow
            # (insertion order approximates recency well enough here).
            # The CURRENT query's terms are exempt: evicting a cache-hit
            # term of this very query would KeyError in the return below
            # (ADVICE r2 — reproduced with >200k cached terms + a query
            # mixing an old hit with enough new misses).
            if len(self._term_cache) > self._TERM_CACHE_MAX:
                current = set(terms)
                doomed = [t for t in self._term_cache if t not in current]
                for old in doomed[: self._TERM_CACHE_MAX // 2]:
                    del self._term_cache[old]
        return {t: self._term_cache[t] for t in terms if self._term_cache[t] > 0}

    def corpus_stats(self, terms: list[str]) -> tuple:
        """``(n_docs, avgdl, {term: df})`` for the given terms — the
        precomputed-statistics bundle ``bm25_topk_wide(stats=)`` takes,
        so a filtered wide/exhaustive query over the SAME corpus runs
        one content scan instead of re-deriving df/avgdl from a second
        tokenize lineage (r4 VERDICT wrong-#2). Uses the shard-pruned
        dictionary lookup (or the driver dictionary when warmed)."""
        return self.n_docs, self.avgdl, self.lookup(sorted(set(terms)))

    # -- search ----------------------------------------------------------
    def search(
        self,
        query: str,
        k: int = 10,
        mode: str = "wand",
        doc_filter=None,
        allowed_docs: DataFrame | None = None,
        after: tuple[float, int] | None = None,
        boosts: dict[str, float] | None = None,
        filter_selectivity: float | None = None,
    ) -> DataFrame:
        """Top-k BM25. Returns DataFrame(doc_id long, score double) ordered
        by (score desc, doc_id asc), k rows max.

        ``filter_selectivity``: optional caller-known fraction of docs
        matching ``doc_filter`` — skips the one count job the adaptive
        mask-side choice otherwise runs (see ``_mask_plan``).

        ``doc_filter``: optional Column predicate over docstats columns
        (repo/path/lang/...) — the reference's MUST clauses. Corpus-level
        stats (idf, avgdl) stay global, matching filtered Lucene queries.
        ``allowed_docs``: optional DataFrame with a ``doc_id`` column —
        candidates are restricted to it (the boolean-clause gate used by
        ``search_parsed``).
        ``after``: cursor ``(score, doc_id)`` of the previous page's last
        row — results are strictly after it in (score desc, doc_id asc)
        order (the reference's searchAfter paging, ``Shard.java:57-58,
        182-183``); forces exhaustive scoring (see ``_range_kernel``).
        ``boosts``: per-term multiplier on the BM25 partial (parser
        ``term^2.5`` clauses). Folding the boost into the term's idf also
        scales WAND's per-block upper bounds by the same factor, so
        block-max pruning stays exact under boosting.
        """
        if self._local is not None and allowed_docs is None:
            # warm_local fast path: same scorer, zero Spark jobs
            # (allowed_docs carries arbitrary DataFrame lineage the
            # driver can't evaluate — cluster path below handles it)
            return self._search_local(query, k, mode, doc_filter, after, boosts)
        terms = sorted(set(tokenize_py(query)))
        dfs = self.lookup(terms)
        spark = self.spark
        if not dfs:
            return empty_df(spark, _SCORE_SCHEMA_T)

        n = self.n_docs
        boosts = boosts or {}
        idfs = {
            term_id(t): boosts.get(t, 1.0) * log(1.0 + (n - df_ + 0.5) / (df_ + 0.5))
            for t, df_ in dfs.items()
        }
        shards = sorted({py_shard(t, self.num_shards) for t in dfs})

        postings = self._postings().filter(
            F.col("shard").isin(shards) & F.col("tid").isin(list(idfs))
        )

        tomb = self._tombstones()
        # mask-side selection is adaptive: small dead set inverted for
        # tombstones-only, allowed set for selective filters, COMPLEMENT
        # inverted for broad filters (see _mask_plan — r3 VERDICT #1)
        mask_side, mask_inverted = self._mask_plan(
            doc_filter, allowed_docs, tomb, filter_selectivity
        )
        use_allowed = mask_side is not None
        scorer = _make_scorer(
            idfs, self.k1, self.b, self.avgdl, k, self.range_size,
            prune=(mode == "wand" and after is None), use_allowed=use_allowed,
            after=after, mask_is_dead=mask_inverted,
        )
        if use_allowed:
            scored = (
                postings.groupBy("range_id")
                .cogroup(mask_side.groupBy("range_id"))
                .applyInPandas(scorer, _SCORE_SCHEMA)
            )
        else:
            scored = postings.groupBy("range_id").applyInPandas(scorer, _SCORE_SCHEMA)
        return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)

    def search_after(
        self,
        query: str,
        after: tuple[float, int],
        k: int = 10,
        doc_filter=None,
        allowed_docs: DataFrame | None = None,
        boosts: dict[str, float] | None = None,
    ) -> DataFrame:
        """Next ``k`` results strictly after cursor ``after=(score,
        doc_id)`` — the reference's searchAfter deep paging
        (``Shard.java:57-58, 182-183``: step-500 cursor walk instead of
        ever-growing OFFSET). Each page is one bounded job: per range
        the scorer discards everything at-or-before the cursor BEFORE
        the top-k cut, so page N costs the same as page 1 (no offset
        materialization). Union of cursor pages is row-identical to one
        big top-K (pytest-gated).

        ``boosts`` / ``allowed_docs`` must match the page-1 call exactly
        (the cursor's float-equality test assumes the SAME ranking —
        paging a boosted or parsed query with different knobs would skip
        or duplicate rows at the page boundary)."""
        return self.search(
            query, k=k, mode="exhaustive", doc_filter=doc_filter, after=after,
            allowed_docs=allowed_docs, boosts=boosts,
        )

    def _docs_with_term(self, term: str) -> DataFrame:
        """All doc_ids containing ``term`` (shard/tid-pruned postings scan,
        decode-ids only — the blob's docId stream, never scores)."""
        tid = term_id(term)
        postings = self._postings().filter(
            (F.col("shard") == py_shard(term, self.num_shards)) & (F.col("tid") == tid)
        )
        return postings.select(
            F.explode(
                _decode_ids_udf()(
                    F.col("blob"), F.col("block_first"), F.col("block_n"), F.col("block_off")
                )
            ).alias("doc_id")
        )

    def search_parsed(self, query: str, k: int = 10):
        """Parsed boolean/field/phrase query over the index — the
        reference's QueryParser + MUST/SHOULD composition
        (``LuceneFactoryTest.java:380-428``,
        ``DiskStorageService.java:294-346``).

        SHOULD ∪ MUST terms score (BM25, global stats); MUST terms,
        phrases and ``field:value`` clauses gate candidates; MUST_NOT
        terms/phrases exclude. For queries with at least one scored term,
        row-identical to the DataFrame twin
        ``dbsyncer_spark.query.parser.parsed_topk_wide`` (pytest-gated);
        filter-only queries diverge by design — the twin returns empty
        (pinned by ``tests/test_parser.py``) while the index path routes
        to ``match_all`` as described below. Phrase clauses need a
        positional index.

        A query with NO scored terms (filter-only: just field clauses,
        phrases, and/or exclusions — or fully empty) routes to
        ``match_all`` with the same gates: constant score 1.0 per doc
        (Lucene MatchAllDocsQuery) ordered by the default doc_id-desc
        sort — the reference UI's default query
        (``DiskStorageService.java:176-179``). r2 returned empty here,
        which had no reference analog. Display-fetching such constant-
        score pages: pass the order explicitly —
        ``idx.fetch(rows, sort_cols=[("score", False), ("doc_id",
        False)])`` — the default fetch sort tie-breaks doc_id ASC and
        would flip the page oldest-first."""
        from dbsyncer_spark.query.parser import (
            check_fields, field_filter, parse_query,
        )

        pq = parse_query(query)
        check_fields(pq, self.docstats().columns)
        scored, must_any, not_any = self._fold_parsed(pq)
        if self._local is not None and scored:
            # warm_local: evaluate gates range-locally against the
            # driver snapshot via the shared gated kernel — zero Spark
            # jobs (filter-only queries keep the cluster match_all
            # route; expansion units were resolved above). Rank- and
            # score-identical to the cluster path (pytest-gated).
            return self._search_many_gated(
                {"q": (pq, scored, must_any, not_any)}, k=k, single=True
            )
        allowed: DataFrame | None = None

        def intersect(df: DataFrame | None, other: DataFrame, anti: bool = False):
            base = self.docstats().select("doc_id") if df is None else df
            return base.join(
                other.select("doc_id"), "doc_id", "left_anti" if anti else "left_semi"
            )

        for t in pq.must:
            allowed = intersect(allowed, self._docs_with_term(t))
        for t in pq.must_not:
            allowed = intersect(allowed, self._docs_with_term(t), anti=True)
        for p in pq.phrases:
            allowed = intersect(allowed, self._phrase_match_ids(p))
        for p in pq.not_phrases:
            allowed = intersect(allowed, self._phrase_match_ids(p), anti=True)
        for terms in must_any:
            allowed = intersect(
                allowed,
                self._docs_with_any_term(terms) if terms
                # empty expansion on a MUST clause: unsatisfiable gate
                else self.docstats().select("doc_id").limit(0),
            )
        for terms in not_any:
            if terms:
                allowed = intersect(
                    allowed, self._docs_with_any_term(terms), anti=True
                )

        doc_filter = field_filter(pq)

        if not scored:
            if any(e.mod != "-" for e in pq.expansions):
                # a scoring expansion that matched ZERO dictionary terms:
                # Lucene's rewritten empty BooleanQuery matches nothing —
                # routing to match_all would invert the semantics
                return empty_df(self.spark, _SCORE_SCHEMA_T)
            rows = self.match_all(doc_filter=doc_filter, allowed_docs=allowed, k=k)
            return rows.select("doc_id", F.lit(1.0).alias("score"))
        return self.search(
            " ".join(scored), k=k, mode="exhaustive",
            doc_filter=doc_filter, allowed_docs=allowed,
            boosts=pq.boosts or None,
        )


    def _fold_parsed(self, pq):
        """Resolve ``pq.expansions`` against the terms table and fold the
        matches into the query: returns ``(scored_terms, must_any,
        not_any)``. Shared by ``search_parsed`` and the batched
        ``search_many_parsed`` so modifier/expansion semantics can never
        diverge between the per-query and batch paths.

        Prefix/wildcard/fuzzy units -> dictionary expansion (reference
        F10 Prefix/Wildcard/FuzzyQuery inside the parsed surface,
        ``LuceneFactoryTest.java:338-405``); shared fold with the wide
        twin (``fold_expansions``). On an index without a terms table the
        units degrade to their literal tokens with a RuntimeWarning (and
        ``pq.expansions`` is cleared)."""
        from dbsyncer_spark.query.parser import MAX_EXPANSIONS, fold_expansions

        try:
            expanded = [self._expand_unit(e, MAX_EXPANSIONS)
                        for e in pq.expansions]
        except TermsTableMissing:
            import warnings

            warnings.warn(
                "index has no terms table (store_terms=False): wildcard/"
                "prefix/fuzzy units degrade to their literal tokens — "
                "rebuild with store_terms=True for Lucene expansion "
                "semantics",
                RuntimeWarning,
                stacklevel=2,
            )
            # index built without store_terms (the default): degrade each
            # expansion unit to its tokenized literal text — the pre-r4
            # behavior — instead of crashing the query (review r4: a
            # stray '?' in user text like "what is this?" is common, and
            # a serving surface that 500s on every default-built index is
            # worse than literal-term semantics; rebuild with
            # store_terms=True for true Lucene wildcard semantics)
            # boost merge follows parse_query's rule exactly: largest
            # boost wins including the implicit 1.0 of unboosted clauses
            # — a 1.0 default would silently drop down-boosts on
            # expansion-only terms (review r4 pass 2)
            unboosted = {t for t in (*pq.should, *pq.must)
                         if t not in pq.boosts}
            for e in pq.expansions:
                lit_terms = tokenize_py(e.pattern)
                dest = {"": pq.should, "+": pq.must, "-": pq.must_not}[e.mod]
                dest.extend(lit_terms)
                if e.mod == "-":
                    continue
                if e.boost != 1.0:
                    for t in lit_terms:
                        pq.boosts[t] = max(pq.boosts.get(t, 0.0), e.boost)
                else:
                    unboosted.update(lit_terms)
            for t in unboosted:
                if t in pq.boosts:
                    pq.boosts[t] = max(pq.boosts[t], 1.0)
            pq.expansions = []
            expanded = []
        extra_scored, must_any, not_any = fold_expansions(pq, expanded)
        return sorted(set(pq.scored_terms) | extra_scored), must_any, not_any

    def _phrase_match_ids(self, query: str, slop: int = 0) -> DataFrame:
        """All doc_ids matching the phrase — UNSORTED, no top-k cut, no
        tombstone/filter masking: the boolean-gate shape ``search_parsed``
        semi-joins against (liveness and filters are applied there).

        This exists because gating through ``search_phrase(k=2**30)`` made
        Spark global-sort the ENTIRE match set just to throw the order
        away (VERDICT r2 'What's wrong #1') — the gate only needs a doc_id
        set, which the matcher already has before any scoring."""
        return self._phrase_exec(query, k=0, slop=slop, doc_filter=None, ids_only=True)

    def search_phrase(
        self,
        query: str,
        k: int = 10,
        slop: int = 0,
        doc_filter=None,
        filter_selectivity: float | None = None,
    ) -> DataFrame:
        """Phrase top-k (see ``_phrase_exec`` for semantics): the
        reference's PhraseQuery / sloppy PhraseQuery
        (``LuceneFactoryTest.java:351-367``)."""
        return self._phrase_exec(query, k=k, slop=slop, doc_filter=doc_filter,
                                 ids_only=False,
                                 filter_selectivity=filter_selectivity)

    def _phrase_exec(
        self,
        query: str,
        k: int,
        slop: int,
        doc_filter,
        ids_only: bool,
        filter_selectivity: float | None = None,
    ) -> DataFrame:
        """Phrase top-k over a positional index (build with
        ``store_positions=True``) — the reference's PhraseQuery
        (``LuceneFactoryTest.java:351-367``).

        Match semantics: tokenize the phrase in order (duplicates kept);
        anchor at each occurrence p of term_0. The anchor matches iff

            sum over instances i of min_q |q - i - p| <= slop

        where q ranges over term_i's occurrences — i.e. the total
        move-distance to align every instance against the anchor, which
        is Lucene's sloppy-phrase budget (one SHARED slop across all
        terms, not a per-term window), INCLUDING out-of-order matches:
        for a two-term phrase the condition reduces to
        |pos_b - pos_a - 1| <= slop, so ``slop=2`` matches the reversed
        adjacent pair exactly as Lucene does
        (``LuceneFactoryTest.java:351-367`` asserts that case).
        Documented divergences: repeated phrase terms may map to the
        same occurrence (Lucene requires distinct positions), and each
        instance independently picks its nearest occurrence (for
        non-repeated terms that IS the minimal total alignment cost).
        ``slop=0`` is the exact consecutive phrase (separate vectorized
        fast path). ``phrase_freq`` = number of matching anchors.

        Scoring mirrors Lucene's PhraseQuery: score = (sum of the phrase
        terms' idfs, duplicates counted, in phrase order) *
        tfnorm(phrase_freq, dl). Returns (doc_id, score) ordered
        (score desc, doc_id asc), <= k rows. Tombstones and
        ``doc_filter`` (a Column over docstats) mask candidates BEFORE
        the per-range top-k cut (cogrouped allowed set, same shape as
        ``search()``) — masking after the cut would silently drop live
        docs ranked behind excluded ones within a range.
        """
        if not self.params.get("store_positions"):
            raise ValueError(
                "search_phrase needs a positional index — build with store_positions=True"
            )
        out_schema = "doc_id long" if ids_only else _SCORE_SCHEMA
        terms = tokenize_py(query)
        spark = self.spark
        if not terms:
            return empty_df(spark, out_schema)
        uniq = sorted(set(terms))
        dfs = self.lookup(uniq)
        if len(dfs) < len(uniq):
            # a phrase containing an unindexed term matches nothing
            return empty_df(spark, out_schema)
        n, avgdl, k1, b = self.n_docs, self.avgdl, self.k1, self.b
        idf = {t: log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5)) for t in uniq}
        idf_sum = 0.0
        for t in terms:  # duplicates counted, phrase order (oracle twin)
            idf_sum += idf[t]
        instances = [(term_id(t), i) for i, t in enumerate(terms)]
        tids = sorted({tid for tid, _ in instances})
        shards = sorted({py_shard(t, self.num_shards) for t in uniq})
        range_size, m = self.range_size, len(terms)
        tomb = None if ids_only else self._tombstones()
        # adaptive mask side (same rationale as search(), see _mask_plan):
        # dead set inverted for tombstones-only, complement inverted for
        # broad filters, allowed set for selective filters
        mask_side, mask_inverted = self._mask_plan(
            doc_filter, None, tomb, filter_selectivity
        )
        use_allowed = mask_side is not None

        def score_impl(key, pdf, allow_pdf):
            _limit_arrow_threads()
            if ids_only:
                empty = pd.DataFrame({"doc_id": []}).astype({"doc_id": "int64"})
            else:
                empty = pd.DataFrame({"doc_id": [], "score": []}).astype(
                    {"doc_id": "int64", "score": "float64"}
                )
            if pdf.empty or len(pdf["tid"].unique()) < len(tids):
                return empty
            base = int(key[0]) * range_size
            per_tid = _decode_positional_range(pdf.itertuples(index=False), base)
            hf = _phrase_hits(per_tid, instances, tids, slop, m)
            if hf is None:
                return empty
            hit_docs, freqs = hf
            if ids_only:
                # gate shape: the match set itself, no scoring, no cut —
                # the caller semi-joins it (and applies liveness there)
                return pd.DataFrame({"doc_id": (base + hit_docs).astype("int64")})
            if use_allowed:
                amask = _range_mask(_side_ids(allow_pdf), base, range_size,
                                    mask_inverted)
                if amask is not None:
                    keep = amask[hit_docs]
                    hit_docs, freqs = hit_docs[keep], freqs[keep]
                    if hit_docs.size == 0:
                        return empty
            # dl lookup from term_0's doc list
            d0, dl0 = per_tid[instances[0][0]][0], per_tid[instances[0][0]][1]
            order0 = np.argsort(d0)
            dl = dl0[order0[np.searchsorted(d0[order0], hit_docs)]].astype(np.float64)
            f = freqs.astype(np.float64)
            tfn = f * (k1 + 1.0) / (f + k1 * (1.0 - b + b * dl / avgdl))
            scores = idf_sum * tfn
            idx, scores = _cut_topk(hit_docs, scores, k)
            return pd.DataFrame(
                {"doc_id": (base + idx).astype("int64"), "score": scores}
            )

        postings = self._postings().filter(
            F.col("shard").isin(shards) & F.col("tid").isin(tids)
        )
        if use_allowed:
            scored = (
                postings.groupBy("range_id")
                .cogroup(mask_side.groupBy("range_id"))
                .applyInPandas(lambda key, l, r: score_impl(key, l, r), out_schema)
            )
        else:
            scored = postings.groupBy("range_id").applyInPandas(
                lambda key, pdf: score_impl(key, pdf, None), out_schema
            )
        if ids_only:
            return scored
        return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)

    def _terms_table(self) -> DataFrame:
        dirs = [d for d in self._seg_dirs if os.path.exists(os.path.join(d, "terms"))]
        if not dirs:
            raise TermsTableMissing(
                "term expansion needs the terms table — build with store_terms=True"
            )
        dfs = [self.spark.read.parquet(os.path.join(d, "terms")) for d in dirs]
        terms = dfs[0]
        for d in dfs[1:]:
            terms = terms.unionByName(d)
        return terms

    def _expand(self, predicate, limit: int) -> list[str]:
        """Multi-term expansion (capped like Lucene's maxClauseCount)."""
        rows = (
            self._terms_table()
            .filter(predicate)
            .select("term")
            .distinct()
            .orderBy("term")
            .limit(limit)
            .collect()
        )
        return [r.term for r in rows]

    def expand_prefix(self, prefix: str, limit: int = 1024) -> list[str]:
        """Terms starting with ``prefix`` (reference F10 PrefixQuery)."""
        if not prefix:
            return []
        return self._expand(F.col("term").startswith(prefix), limit)

    def expand_wildcard(self, pattern: str, limit: int = 1024) -> list[str]:
        """Terms matching a Lucene-style wildcard pattern (``*`` = any
        run, ``?`` = one char) — reference F10 WildcardQuery."""
        if not pattern:
            return []
        like = pattern.replace("%", r"\%").replace("_", r"\_")
        like = like.replace("*", "%").replace("?", "_")
        return self._expand(F.col("term").like(like), limit)

    def expand_fuzzy(self, term: str, max_edits: int = 1, limit: int = 1024) -> list[str]:
        """Terms within ``max_edits`` Levenshtein distance — reference
        F10 FuzzyQuery (Lucene default max 2 edits)."""
        if not term:
            return []
        return self._expand(
            F.levenshtein(F.col("term"), F.lit(term)) <= max_edits, limit
        )

    def _expand_unit(self, exp, limit: int) -> list[str]:
        """Resolve a parsed Expansion (prefix/wildcard/fuzzy unit)
        against the terms table; raises past ``limit`` like Lucene's
        BooleanQuery.TooManyClauses (the plain expand_* APIs cap
        silently — the parsed surface matches Lucene instead)."""
        from dbsyncer_spark.query.parser import (
            expansion_predicate, too_many_clauses,
        )

        terms = self._expand(expansion_predicate(exp), limit + 1)
        if len(terms) > limit:
            raise too_many_clauses(exp, limit)
        return terms

    def _docs_with_any_term(self, terms: list[str]) -> DataFrame:
        """doc_ids containing >= 1 of ``terms`` (shard/tid-pruned ids-only
        decode) — the candidate gate for MUST/MUST_NOT expansion clauses.
        May emit duplicate ids (semi/anti-join right sides tolerate them)."""
        tids = sorted({term_id(t) for t in terms})
        shards = sorted({py_shard(t, self.num_shards) for t in terms})
        postings = self._postings().filter(
            F.col("shard").isin(shards) & F.col("tid").isin(tids)
        )
        return postings.select(
            F.explode(
                _decode_ids_udf()(
                    F.col("blob"), F.col("block_first"), F.col("block_n"), F.col("block_off")
                )
            ).alias("doc_id")
        )

    def _search_expanded(self, terms: list[str], k: int) -> DataFrame:
        if not terms:
            return empty_df(self.spark, _SCORE_SCHEMA_T)
        return self.search(" ".join(terms), k=k)

    def search_prefix(self, prefix: str, k: int = 10, limit: int = 1024) -> DataFrame:
        """BM25 top-k over the OR of all terms with the given prefix —
        the scoring-rewrite analog of Lucene's PrefixQuery (reference
        exercised it in tests only, ``LuceneFactoryTest.java:338-428``)."""
        return self._search_expanded(self.expand_prefix(prefix, limit), k)

    def search_wildcard(self, pattern: str, k: int = 10, limit: int = 1024) -> DataFrame:
        """WildcardQuery analog: BM25 over the expansion set."""
        return self._search_expanded(self.expand_wildcard(pattern, limit), k)

    def search_fuzzy(self, term: str, k: int = 10, max_edits: int = 1,
                     limit: int = 1024) -> DataFrame:
        """FuzzyQuery analog: BM25 over terms within edit distance."""
        return self._search_expanded(self.expand_fuzzy(term, max_edits, limit), k)


    def _live_range_count(self) -> int:
        """Live docId-range count from segment id-spans — NOT
        ``n_docs // range_size``: appends align each segment to a fresh
        range boundary, so a 50-segment index can hold 50 live ranges
        while the quotient says 1, mis-sizing the batch reduction's
        small-bound heuristic by that factor (r2 found this for the
        warm cache; r5 review found the batch paths still using the
        quotient)."""
        return max(
            1,
            sum(
                (s["max_doc_id"] - s["doc_id_offset"]) // self.range_size + 1
                for s in self.meta["segments"].values()
                if s["max_doc_id"] >= s["doc_id_offset"]
            ),
        )

    def _reduce_per_query(self, scored: DataFrame, n_queries: int,
                          k: int) -> DataFrame:
        """THE adaptive cross-range per-query reduction shared by
        ``search_many`` / ``search_many_phrase`` / ``_search_many_gated``
        (was copy-pasted three times — r5 review): the per-range cut
        already bounds rows to <= k per (query, range-with-hits) and the
        range count is driver-known, so when the bound is small ONE
        SinglePartition task does sort+window+output-order in one
        exchange, replacing two (hash for the window + range-sampling
        for the global orderBy) — two fewer stages of fixed serving
        latency (r4). At scale the hash-window shuffle shape returns
        automatically."""
        from pyspark.sql import Window as W

        w = W.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        small = self._live_range_count() * n_queries * k <= 200_000
        if small:
            scored = scored.repartition(1)
        ranked = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )
        if small:
            return ranked.sortWithinPartitions(
                "query_id", F.col("score").desc(), F.col("doc_id").asc()
            )
        return ranked.orderBy(
            "query_id", F.col("score").desc(), F.col("doc_id").asc()
        )

    def search_many(self, queries: dict[str, str], k: int = 10,
                    mode: str = "wand",
                    prune_min_postings: int | None = None,
                    doc_filter=None,
                    filter_selectivity: float | None = None) -> DataFrame:
        """Batched top-k for many queries in ONE Spark job — the high-
        throughput serving shape (per-query jobs waste scheduler overhead;
        at cluster scale a query front-end batches by arrival window).

        Postings for the union of all query terms are read once; each
        term's blocks are decoded at most once per docId-range and
        accumulated into every query that contains the term
        (shared-decode TAAT). ``mode="wand"`` adds PER-QUERY block-max
        pruning over the shared decode, engaged ADAPTIVELY per range
        (r3 VERDICT #2: the per-query bookkeeping — keep masks, segmax
        reduceats, theta partitions — measurably cost more than the
        skipped decodes at bench index size, 13.3→8.5 q/s): pruning
        turns on only when the range's union-of-terms posting volume
        reaches ``prune_min_postings`` (default
        ``_BATCH_PRUNE_MIN_POSTINGS``) AND the batch has at most
        ``_BATCH_PRUNE_MAX_QUERIES`` queries. When engaged, a block is
        decoded iff at least one query still needs it, and accumulated
        into query q iff q's own WAND bound keeps it —

            segmax_q(block span) + U_term(block) + R_rest_q >= theta_q

        with theta_q = q's current k-th best partial and R_rest_q = the
        sum of q's UNPROCESSED terms' upper bounds. Pruning never changes
        any query's top-k set, order, or reported scores (rank-identity
        to per-query ``search()`` is pytest-gated; pruned blocks can only
        hold docs provably outside q's top-k, and the fixed global
        (-max UB, tid) term order pins every float summation).

        Per-range memory (r3 VERDICT #3): the TAAT path accumulates
        SPARSELY — per query it holds references to the shared decoded
        arrays (no per-query copies) and materializes one transient
        dense array at finalization, so a 1,000-query batch costs
        O(decoded postings), not 1,000 × range_size × 9 B. Only the
        pruning path needs per-query dense running scores (theta/segmax),
        hence its ``_BATCH_PRUNE_MAX_QUERIES`` cap — above it the range
        falls back to sparse TAAT (memory-bounded, still shared-decode).

        ``doc_filter`` (r4): one MUST filter over docstats columns shared
        by the WHOLE batch (the common front-end shape: many queries, one
        tenant/lang/repo gate) — the adaptive mask side (``_mask_plan``)
        is planned and counted once per batch, not per query;
        ``filter_selectivity`` skips the count like in ``search``.

        Returns DataFrame(query_id string, doc_id long, score double),
        per query ordered (score desc, doc_id asc), <= k rows each.
        """
        spark = self.spark
        all_terms = sorted({t for q in queries.values() for t in tokenize_py(q)})
        dfs = self.lookup(all_terms)
        out_schema = "query_id string, doc_id long, score double"
        if not dfs:
            return empty_df(spark, out_schema)
        n, avgdl, k1, b = self.n_docs, self.avgdl, self.k1, self.b
        idfs = {term_id(t): log(1.0 + (n - df_ + 0.5) / (df_ + 0.5)) for t, df_ in dfs.items()}
        # query_id -> {tid} for terms present in the index
        qterms = {
            qid: {term_id(t) for t in set(tokenize_py(q)) if term_id(t) in idfs}
            for qid, q in queries.items()
        }
        qterms = {qid: ts for qid, ts in qterms.items() if ts}
        if not qterms:
            return empty_df(spark, out_schema)
        by_tid: dict[int, list[str]] = {}
        for qid, ts in qterms.items():
            for t in ts:
                by_tid.setdefault(t, []).append(qid)
        if self._local is not None:
            # warm_local batch fast path: the same shared-decode TAAT
            # kernel, driver-side, zero Spark jobs (see _search_many_local)
            return self._search_many_local(idfs, by_tid, k, doc_filter)
        shards = sorted({py_shard(t, self.num_shards) for t in dfs})
        range_size = self.range_size
        prune = mode == "wand"
        prune_min = (_BATCH_PRUNE_MIN_POSTINGS if prune_min_postings is None
                     else prune_min_postings)
        n_queries = len(qterms)

        def _wand(rows, base, allowed):
            """Per-query block-max pruning over the shared decode (see
            docstring); dense per-query accumulators allocate lazily on
            first contribution."""
            acc: dict[str, tuple[np.ndarray, np.ndarray]] = {}
            ub_of = {tid: u for u, tid, _, _ in rows}
            remaining = {
                qid: sum(ub_of.get(t, 0.0) for t in ts)
                for qid, ts in qterms.items()
            }
            theta: dict[str, float | None] = {qid: None for qid in qterms}

            for _ub_max, tid_v, r, ub_blocks in rows:
                idf = idfs[tid_v]
                qids = by_tid[tid_v]
                nb = ub_blocks.size
                block_first = np.asarray(r.block_first, dtype=np.int64)
                # keep_by_q[qid] = None means "keeps every block" (no
                # theta yet) — avoids an np.ones alloc per query per term
                keep_by_q: dict[str, np.ndarray | None] = {}
                union_keep = np.zeros(nb, dtype=bool)
                any_all = False
                for qid in qids:
                    remaining[qid] -= ub_of.get(tid_v, 0.0)
                    th = theta[qid]
                    if th is None:
                        keep_by_q[qid] = None
                        any_all = True
                        continue
                    S, _ = acc[qid]
                    starts = block_first - base
                    segmax = np.maximum.reduceat(S, starts)
                    kq = (segmax + ub_blocks + remaining[qid]) >= th
                    keep_by_q[qid] = kq
                    union_keep |= kq
                if any_all:
                    union_keep[:] = True
                elif not union_keep.any():
                    continue
                kept_idx = np.flatnonzero(union_keep)
                d, tf, dl = unpack_blocks(
                    r.blob, r.block_off, r.block_n, r.block_first,
                    keep=None if union_keep.all() else kept_idx,
                )
                tf = tf.astype(np.float64)
                dl = dl.astype(np.float64)
                tfn = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
                idx = (d - np.uint64(base)).astype(np.int64)
                contrib = idf * tfn
                live = None
                if allowed is not None:
                    # mask BEFORE the per-query top-k cut (found r2)
                    live = allowed[idx]
                # decoded-row -> kept-block membership, for per-query
                # sub-selection of the shared decode
                sizes = np.asarray(r.block_n, dtype=np.int64)[kept_idx]
                row_block = np.repeat(kept_idx, sizes)
                for qid in qids:
                    kq = keep_by_q[qid]
                    if kq is None or kq[kept_idx].all():
                        qsel = slice(None)
                    elif not kq.any():
                        continue
                    else:
                        qsel = kq[row_block]
                    qidx, qcontrib = idx[qsel], contrib[qsel]
                    if live is not None:
                        ql = live[qsel]
                        qidx, qcontrib = qidx[ql], qcontrib[ql]
                    pair = acc.get(qid)
                    if pair is None:
                        if qidx.size == 0:
                            continue  # nothing to contribute — stay lazy
                        pair = acc[qid] = (
                            np.zeros(range_size),
                            np.zeros(range_size, dtype=bool),
                        )
                    S, seen = pair
                    S[qidx] += qcontrib
                    seen[qidx] = True
                    cnt = int(seen.sum())
                    if cnt >= k:
                        theta[qid] = np.partition(S[seen], cnt - k)[cnt - k]
            out = []
            for qid, (S, seen) in acc.items():
                idx = np.flatnonzero(seen)
                if idx.size == 0:
                    continue
                idx, scores = _cut_topk(idx, S[idx], k)
                out.append((qid, base + idx, scores))
            return out

        def score_impl(key, pdf, mask_pdf):
            _limit_arrow_threads()
            if pdf.empty:
                return _qframe([])
            base = int(key[0]) * range_size
            # allowed-mask via the shared helpers (adaptive side choice,
            # see _mask_plan), not a fourth hand-rolled copy (r3 review).
            # mask_pdf is None ONLY in the no-cogroup branch (no masking
            # at all); an EMPTY cogrouped side is meaningful (no allowed
            # docs in this range under a filter / no dead docs inverted)
            allowed = (None if mask_pdf is None else
                       _range_mask(_side_ids(mask_pdf), base, range_size,
                                   mask_inverted))
            # heaviest terms first raises thetas early, and the fixed
            # order pins float summation (see _ranked_rows)
            rows = _ranked_rows(pdf.itertuples(index=False), idfs, k1, b, avgdl)
            n_postings = sum(int(np.asarray(r.block_n).sum()) for _, _, r, _ in rows)
            # adaptive engage (r3 VERDICT #2/#3 — see docstring)
            if (prune and n_postings >= prune_min
                    and n_queries <= _BATCH_PRUNE_MAX_QUERIES):
                return _qframe(_wand(rows, base, allowed))
            return _qframe(_shared_taat_range(
                rows, base, allowed, idfs, by_tid, k1, b, avgdl, k
            ))

        postings = self._postings().filter(
            F.col("shard").isin(shards) & F.col("tid").isin(list(idfs))
        )
        tomb = self._tombstones()
        # ONE mask side serves the whole batch: a front-end batching
        # queries under a common MUST filter (e.g. lang) pays the
        # adaptive mask-plan count once per batch, not per query (r4)
        mask_side, mask_inverted = self._mask_plan(
            doc_filter, None, tomb, filter_selectivity
        )
        if mask_side is not None:
            scored = (
                postings.groupBy("range_id")
                .cogroup(mask_side.groupBy("range_id"))
                .applyInPandas(lambda key, l, r: score_impl(key, l, r), out_schema)
            )
        else:
            scored = postings.groupBy("range_id").applyInPandas(
                lambda key, pdf: score_impl(key, pdf, None), out_schema
            )
        return self._reduce_per_query(scored, n_queries, k)

    def search_many_phrase(self, queries: dict[str, str], k: int = 10,
                           slop: int = 0, doc_filter=None,
                           filter_selectivity: float | None = None) -> DataFrame:
        """Batched phrase top-k in ONE Spark job — the positional analog
        of ``search_many`` (r3 VERDICT stretch #9): positional postings
        for the union of every phrase's terms are read and DECODED once
        per docId-range (the decode dominates phrase cost), then each
        phrase matches against the shared streams via the same
        ``_phrase_hits`` kernel ``search_phrase`` uses — per-query rows
        are rank-identical to per-query ``search_phrase`` (pytest-gated).

        Phrases with an unindexed term (or no tokens) match nothing, like
        ``search_phrase``. ``slop`` applies to every phrase in the batch.
        Returns DataFrame(query_id string, doc_id long, score double),
        per query ordered (score desc, doc_id asc), <= k rows each."""
        if not self.params.get("store_positions"):
            raise ValueError(
                "search_many_phrase needs a positional index — build with "
                "store_positions=True"
            )
        spark = self.spark
        out_schema = "query_id string, doc_id long, score double"
        all_terms = sorted({t for q in queries.values() for t in tokenize_py(q)})
        dfs = self.lookup(all_terms)
        n, avgdl, k1, b = self.n_docs, self.avgdl, self.k1, self.b
        idf = {t: log(1.0 + (n - dfv + 0.5) / (dfv + 0.5))
               for t, dfv in dfs.items()}
        qinfo: dict[str, tuple] = {}
        for qid, q in queries.items():
            terms = tokenize_py(q)
            uniq = sorted(set(terms))
            if not terms or any(t not in dfs for t in uniq):
                continue  # unindexed term -> phrase matches nothing
            idf_sum = 0.0
            for t in terms:  # duplicates counted, phrase order (oracle twin)
                idf_sum += idf[t]
            instances = [(term_id(t), i) for i, t in enumerate(terms)]
            tids_q = sorted({tid for tid, _ in instances})
            qinfo[qid] = (instances, tids_q, len(terms), idf_sum)
        if not qinfo:
            return empty_df(spark, out_schema)
        all_tids = sorted({t for _, tids_q, _, _ in qinfo.values() for t in tids_q})
        shards = sorted({py_shard(t, self.num_shards)
                         for t in dfs if term_id(t) in set(all_tids)})
        range_size = self.range_size
        n_queries = len(qinfo)

        def score_impl(key, pdf, mask_pdf):
            _limit_arrow_threads()
            if pdf.empty:
                return _qframe([])
            base = int(key[0]) * range_size
            # None only in the no-cogroup branch; an EMPTY cogrouped side
            # is meaningful (see search_many)
            amask = (None if mask_pdf is None else
                     _range_mask(_side_ids(mask_pdf), base, range_size, mask_inverted))
            per_tid = _decode_positional_range(pdf.itertuples(index=False), base)
            out = []
            for qid, (instances, tids_q, m, idf_sum) in qinfo.items():
                if any(t not in per_tid for t in tids_q):
                    continue  # a term of this phrase is absent from the range
                hf = _phrase_hits(per_tid, instances, tids_q, slop, m)
                if hf is None:
                    continue
                hit_docs, freqs = hf
                if amask is not None:
                    keep = amask[hit_docs]
                    hit_docs, freqs = hit_docs[keep], freqs[keep]
                    if hit_docs.size == 0:
                        continue
                d0, dl0 = per_tid[instances[0][0]][0], per_tid[instances[0][0]][1]
                order0 = np.argsort(d0)
                dl = dl0[order0[np.searchsorted(d0[order0], hit_docs)]].astype(np.float64)
                f = freqs.astype(np.float64)
                tfn = f * (k1 + 1.0) / (f + k1 * (1.0 - b + b * dl / avgdl))
                scores = idf_sum * tfn
                idx, scores = _cut_topk(hit_docs, scores, k)
                out.append((qid, base + idx, scores))
            return _qframe(out)

        postings = self._postings().filter(
            F.col("shard").isin(shards) & F.col("tid").isin(all_tids)
        )
        tomb = self._tombstones()
        # one adaptive mask side for the whole batch (see search_many)
        mask_side, mask_inverted = self._mask_plan(
            doc_filter, None, tomb, filter_selectivity
        )
        if mask_side is not None:
            scored = (
                postings.groupBy("range_id")
                .cogroup(mask_side.groupBy("range_id"))
                .applyInPandas(lambda key, l, r: score_impl(key, l, r), out_schema)
            )
        else:
            scored = postings.groupBy("range_id").applyInPandas(
                lambda key, pdf: score_impl(key, pdf, None), out_schema
            )
        return self._reduce_per_query(scored, n_queries, k)

    def search_many_parsed(self, queries: dict[str, str], k: int = 10) -> DataFrame:
        """Batched parsed serving: each query string is parsed and routed
        to the cheapest batch shape —

        - PURE term queries (SHOULD clauses only) share ONE
          ``search_many`` job (shared decode + adaptive per-query WAND);
        - GATED/boosted/phrase queries (MUST/MUST_NOT terms, expansion
          gates, ``field:value`` clauses, ``"phrases"``, ``^boosts``)
          share ONE ``_search_many_gated`` job (r4 VERDICT #2: this shape
          — ``+term lang:en`` — is the most common production batch and
          previously fell back to one Spark job per query at the ~250 ms
          scheduling floor each);
        - only filter-only queries (no scored term: ``match_all`` routing)
          fall back to per-query ``search_parsed`` — their result is a
          docstats TakeOrdered, not a postings scan, so there is no
          decode to share.

        Expansion units are resolved against the terms table at PLANNING
        time (one bounded dictionary job per unit — the same cost the
        per-query path pays); the scoring/gating work is what batches.
        Per-query rows are identical to calling ``search_parsed``
        individually (pytest-gated, exact float equality). Returns
        (query_id, doc_id, score), per query ordered (score desc, doc_id
        asc), <= k rows each. One documented divergence: filter-only
        queries return the same ROWS as ``search_parsed`` but re-ordered
        into this batch contract — their constant-score match_all pages
        are doc_id-DESC (the reference UI's newest-first default) on the
        per-query path, which the batch's (score desc, doc_id asc) order
        flips; call ``search_parsed`` directly when that page order
        matters."""
        from dbsyncer_spark.query.parser import check_fields, parse_query

        cols = self.docstats().columns
        term_batch: dict[str, str] = {}
        gated: dict[str, tuple] = {}
        fallback: dict[str, str] = {}
        fallback_gated = False  # any fallback part that is NOT a pure
        # field-filter match_all (term/phrase/expansion gates build
        # cluster-lineage semi-joins even on warm_local snapshots)
        for qid, q in queries.items():
            pq = parse_query(q)
            check_fields(pq, cols)
            scored, must_any, not_any = self._fold_parsed(pq)
            if not scored:
                fallback[qid] = q
                fallback_gated = fallback_gated or bool(
                    pq.must or pq.must_not or pq.phrases or pq.not_phrases
                    or must_any or not_any
                )
                continue
            if not (pq.must or pq.must_not or pq.phrases or pq.not_phrases
                    or pq.fields or pq.not_fields or pq.boosts
                    or pq.field_ranges or pq.not_field_ranges
                    or must_any or not_any):
                # search_parsed scores sorted-unique SHOULD terms
                # exhaustively; search_many's shared decode is
                # rank-identical (pytest-gated), so the rows match
                term_batch[qid] = " ".join(scored)
            else:
                gated[qid] = (pq, scored, must_any, not_any)
        parts = []
        if term_batch:
            parts.append(self.search_many(term_batch, k=k))
        if gated:
            parts.append(self._search_many_gated(gated, k=k))
        for qid, q in fallback.items():
            parts.append(
                self.search_parsed(q, k=k).select(
                    F.lit(qid).alias("query_id"), "doc_id", "score"
                )
            )
        if not parts:
            return empty_df(self.spark, "query_id string, doc_id long, score double")
        if len(parts) == 1 and not fallback:
            # the batch KERNELS already emit the contract order
            # (query_id, score desc, doc_id asc) — no re-sort needed. A
            # lone fallback part must NOT take this exit: its match_all
            # page is doc_id-DESC, and skipping the re-sort would make a
            # single filter-only query's order depend on batch size
            # (r5 review)
            return parts[0]
        if self._local is not None and not fallback_gated:
            # warm_local: the parts are LocalRelations — a Spark orderBy
            # over them would launch the only job of the batch (Sort
            # doesn't fold like Filter/Project do); merge driver-side.
            # Pure-field-filter fallback parts are LocalRelations too
            # (zero-job _match_all_local). A fallback query carrying
            # term/phrase gates keeps the lazy union+orderBy branch
            # below instead: eagerly collecting each such part here
            # would pay one Spark job chain PER part where the union is
            # one composite job (review) — and callers keep a lazy
            # DataFrame either way.
            rows = [(r.query_id, r.doc_id, r.score)
                    for p in parts for r in p.collect()]
            pdf = pd.DataFrame(rows, columns=["query_id", "doc_id", "score"])
            pdf = pdf.sort_values(
                ["query_id", "score", "doc_id"],
                ascending=[True, False, True], kind="mergesort",
            ).reset_index(drop=True)
            return self.spark.createDataFrame(pdf, _QSCORE_SCHEMA_T)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy(
            "query_id", F.col("score").desc(), F.col("doc_id").asc()
        )

    def _search_many_gated(self, gated: dict[str, tuple], k: int,
                           single: bool = False) -> DataFrame:
        """ONE Spark job for a batch of gated parsed queries (r4 VERDICT
        #2): postings for the union of every query's scored AND gate
        terms are read and decoded once per docId-range; each query then
        evaluates its own gates RANGE-LOCALLY against the shared decode
        and scores exhaustively in its own summation order.

        Range-local gate equivalence: every gate ``search_parsed``
        evaluates with a global semi-join is a per-document property —
        "contains term t" (MUST/MUST_NOT), "contains >= 1 of set S"
        (expansion gates), "matches phrase p" (positional streams never
        cross documents), "field f = v" (a docstats row), "is live"
        (tombstones) — and a document lives in exactly one range, so
        intersecting boolean masks inside the range task yields exactly
        the semi-join's candidate set without any gate shuffle.

        Bit-identity to per-query ``search_parsed`` (pytest-gated): per
        query, present scored terms are accumulated in that query's own
        (-boosted_upper_bound, tid) order — the same total order
        ``_range_kernel``'s exhaustive path uses — with contributions
        computed by the same expression ``(boost*idf) * tfn``; gating
        before vs after accumulation cannot change a surviving doc's sum.
        ``max(idf*bounds) == idf*max(bounds)`` exactly (multiplication by
        a positive constant is monotone in IEEE754), so the order key
        matches too.

        Scale shape: the only per-query state is O(its own postings)
        references plus transient O(range_size) gate masks — same sparse
        profile as ``search_many``'s TAAT path. The cogrouped mask side
        ships the dead set (inverted) when no query has field clauses;
        when any does, it ships live docstats ids + ONLY the referenced
        field columns once per batch — the per-batch analog of
        ``_mask_plan``'s allowed side (per-query adaptive complements
        don't compose across differing predicates; amortized over the
        whole batch this is already far below one mask-plan count job
        per query). Field values are compared as numpy arrays after
        casting the literal to the column dtype (docstats metadata
        columns are strings in practice; a non-castable literal matches
        nothing, like the Spark cast yielding NULL).

        On a warm_local snapshot the batch runs driver-side with zero
        Spark jobs; ``single`` then returns the lone query's rows as a
        (doc_id, score) frame — the ``search_parsed`` shape."""
        spark = self.spark
        out_schema = "query_id string, doc_id long, score double"
        n, avgdl, k1, b = self.n_docs, self.avgdl, self.k1, self.b
        range_size = self.range_size

        all_terms = set()
        for pq, scored, must_any, not_any in gated.values():
            all_terms.update(scored, pq.must, pq.must_not)
            for g in must_any:
                all_terms.update(g)
            for g in not_any:
                all_terms.update(g)
            for p in (*pq.phrases, *pq.not_phrases):
                all_terms.update(tokenize_py(p))
        dfs = self.lookup(sorted(all_terms))
        tid_of = {t: term_id(t) for t in all_terms}

        if any(pq.phrases or pq.not_phrases for pq, *_ in gated.values()) \
                and not self.params.get("store_positions"):
            raise ValueError(
                "phrase clauses need a positional index — build with "
                "store_positions=True"
            )

        plans: dict[str, dict] = {}
        scoring_tids: set[int] = set()
        gate_tids: set[int] = set()
        pos_tids: set[int] = set()
        for qid, (pq, scored, must_any, not_any) in gated.items():
            boosts = pq.boosts or {}
            qidf = {
                tid_of[t]: boosts.get(t, 1.0)
                * log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
                for t in scored if t in dfs
            }
            if not qidf:
                continue  # no scored term indexed -> empty (like search())
            # driver-known unsatisfiable gates -> the query yields nothing
            if any(t not in dfs for t in pq.must):
                continue
            any_groups = []
            dead = False
            for g in must_any:
                tids = sorted({tid_of[t] for t in g if t in dfs})
                if not tids:
                    dead = True  # empty/unindexed MUST expansion
                    break
                any_groups.append(tids)
            if dead:
                continue
            phrases = []
            for p in pq.phrases:
                toks = tokenize_py(p)
                if any(t not in dfs for t in toks):
                    dead = True  # unindexed term -> phrase matches nothing
                    break
                inst = [(term_id(t), i) for i, t in enumerate(toks)]
                phrases.append((inst, sorted({t for t, _ in inst}), len(toks)))
            if dead:
                continue
            not_phrases = []
            for p in pq.not_phrases:
                toks = tokenize_py(p)
                if not toks or any(t not in dfs for t in toks):
                    continue  # matches nothing -> exclusion is a no-op
                inst = [(term_id(t), i) for i, t in enumerate(toks)]
                not_phrases.append((inst, sorted({t for t, _ in inst}), len(toks)))
            plan = {
                "qidf": qidf,
                "must": sorted({tid_of[t] for t in pq.must}),
                "must_not": sorted({tid_of[t] for t in pq.must_not if t in dfs}),
                "any": any_groups,
                "not_any": [
                    tids for g in not_any
                    if (tids := sorted({tid_of[t] for t in g if t in dfs}))
                ],
                "phrases": phrases,
                "not_phrases": not_phrases,
                "fields": [(f, v, False) for f, v in pq.fields.items()]
                + [(f, v, True) for f, v in pq.not_fields.items()],
                "ranges": [(f, lo, hi, False) for f, lo, hi in pq.field_ranges]
                + [(f, lo, hi, True) for f, lo, hi in pq.not_field_ranges],
            }
            plans[qid] = plan
            scoring_tids.update(qidf)
            gate_tids.update(plan["must"], plan["must_not"])
            for g in plan["any"] + plan["not_any"]:
                gate_tids.update(g)
            for _, tids, _ in plan["phrases"] + plan["not_phrases"]:
                pos_tids.update(tids)
        if not plans:
            return empty_df(spark, _SCORE_SCHEMA_T if single else out_schema)

        decode_tids = scoring_tids | gate_tids
        all_tids = sorted(decode_tids | pos_tids)
        field_cols = sorted(
            {f for p in plans.values() for f, _, _ in p["fields"]}
            | {f for p in plans.values() for f, _, _, _ in p["ranges"]}
        )
        n_queries = len(plans)

        def gated_range(recs, base, live, side, decode=_decode_row):
            """The gated batch's range kernel: per-query ``(query_id,
            doc_ids, scores)`` triples for one docId-range. ``live`` is
            the range's boolean liveness mask (None: every doc is live);
            ``side`` maps ``range_id``, ``doc_id`` and the referenced
            field columns to arrays over the range's live docs (None
            when no query has field clauses)."""
            srid = None
            if side is not None and len(side["doc_id"]):
                srid = side["doc_id"] - base

            fmask_cache: dict[tuple, np.ndarray] = {}

            def field_mask(f, v):
                m = fmask_cache.get((f, v))
                if m is None:
                    m = np.zeros(range_size, dtype=bool)
                    if srid is not None:
                        col = side[f]
                        if col.dtype == object:
                            eq = col == v
                        else:
                            try:
                                vv = col.dtype.type(v)
                            except (ValueError, TypeError):
                                eq = None  # uncastable literal: matches nothing
                            else:
                                eq = col == vv
                        if eq is not None:
                            m[srid[eq]] = True
                    fmask_cache[(f, v)] = m
                return m

            def range_mask_of(f, lo, hi):
                """docs whose field value is inside the inclusive range
                (NULL never matches — like the Spark/Lucene predicate);
                mirrors parser._range_cond on the column's values."""
                key_ = (f, lo, hi)
                m = fmask_cache.get(key_)
                if m is None:
                    m = np.zeros(range_size, dtype=bool)
                    if srid is not None:
                        col = side[f]
                        ok = ~pd.isna(col)
                        vals = col[ok]
                        inr = np.ones(vals.size, dtype=bool)
                        try:
                            if col.dtype != object:
                                lo = None if lo is None else col.dtype.type(lo)
                                hi = None if hi is None else col.dtype.type(hi)
                            if lo is not None:
                                inr &= vals >= lo
                            if hi is not None:
                                inr &= vals <= hi
                        except (ValueError, TypeError):
                            inr[:] = False  # uncastable endpoint: matches nothing
                        m[srid[ok][inr]] = True
                    fmask_cache[key_] = m
                return m

            # shared decode: ids for gate terms, ids+tfn for scored
            # terms, positional streams for phrase terms. A range can
            # hold SEVERAL records per term (a direct build_index append
            # at a non-range-aligned offset shares a range) — plain
            # ``idx_of[tid] = ...`` silently kept only the last one
            # (r5 review); records concatenate in first-docId order
            # (spans are disjoint, so per-doc contributions never
            # interleave).
            rows_of: dict[int, list] = {}
            pos_recs = []
            for r in recs:
                tid = int(r.tid)
                if tid in decode_tids:
                    rows_of.setdefault(tid, []).append(r)
                if tid in pos_tids:
                    pos_recs.append(r)
            idx_of: dict[int, np.ndarray] = {}
            tfn_of: dict[int, np.ndarray] = {}
            ubmax_of: dict[int, float] = {}
            for tid, rs in rows_of.items():
                if len(rs) > 1:
                    rs.sort(key=lambda r: (int(r.block_first[0])
                                           if len(r.block_first) else -1))
                parts_i, parts_t, ub = [], [], 0.0
                for r in rs:
                    d, tf, dl = decode(base, r, keep=None)
                    parts_i.append((d - np.uint64(base)).astype(np.int64))
                    if tid in scoring_tids:
                        tf = tf.astype(np.float64)
                        dl = dl.astype(np.float64)
                        parts_t.append(tf * (k1 + 1.0) / (
                            tf + k1 * (1.0 - b + b * dl / avgdl)
                        ))
                        ub = max(ub, float(_tfnorm_bound(
                            np.asarray(r.block_max_tf),
                            np.asarray(r.block_min_dl),
                            k1, b, avgdl,
                        ).max()))
                idx_of[tid] = (parts_i[0] if len(parts_i) == 1
                               else np.concatenate(parts_i))
                if tid in scoring_tids:
                    tfn_of[tid] = (parts_t[0] if len(parts_t) == 1
                                   else np.concatenate(parts_t))
                    ubmax_of[tid] = ub
            per_tid_pos = (_decode_positional_range(pos_recs, base)
                           if pos_recs else {})

            def member(idxs):
                m = np.zeros(range_size, dtype=bool)
                m[idxs] = True
                return m

            def phrase_docs(inst, tids, m_len):
                """range-local doc offsets matching the phrase, or None"""
                if any(t not in per_tid_pos for t in tids):
                    return None
                hf = _phrase_hits(per_tid_pos, inst, tids, 0, m_len)
                return None if hf is None else hf[0]

            out = []
            for qid, plan in plans.items():
                g = live.copy() if live is not None else None
                dead_q = False
                for tid in plan["must"]:
                    ii = idx_of.get(tid)
                    if ii is None:
                        dead_q = True
                        break
                    m = member(ii)
                    g = m if g is None else (g & m)
                if dead_q:
                    continue
                for tids in plan["any"]:
                    pres = [idx_of[t] for t in tids if t in idx_of]
                    if not pres:
                        dead_q = True
                        break
                    m = member(np.concatenate(pres) if len(pres) > 1 else pres[0])
                    g = m if g is None else (g & m)
                if dead_q:
                    continue
                for inst, tids, m_len in plan["phrases"]:
                    hd = phrase_docs(inst, tids, m_len)
                    if hd is None:
                        dead_q = True
                        break
                    m = member(hd)
                    g = m if g is None else (g & m)
                if dead_q:
                    continue
                for f, v, neg in plan["fields"]:
                    if not neg:
                        m = field_mask(f, v)
                        g = m.copy() if g is None else (g & m)
                for f, lo, hi, neg in plan["ranges"]:
                    if not neg:
                        m = range_mask_of(f, lo, hi)
                        g = m.copy() if g is None else (g & m)
                # exclusions clear bits — materialize the mask lazily
                for tid in plan["must_not"]:
                    ii = idx_of.get(tid)
                    if ii is not None and ii.size:
                        if g is None:
                            g = np.ones(range_size, dtype=bool)
                        g[ii] = False
                for tids in plan["not_any"]:
                    for t in tids:
                        ii = idx_of.get(t)
                        if ii is not None and ii.size:
                            if g is None:
                                g = np.ones(range_size, dtype=bool)
                            g[ii] = False
                for inst, tids, m_len in plan["not_phrases"]:
                    hd = phrase_docs(inst, tids, m_len)
                    if hd is not None and hd.size:
                        if g is None:
                            g = np.ones(range_size, dtype=bool)
                        g[hd] = False
                for f, v, neg in plan["fields"]:
                    if neg:
                        if g is None:
                            g = np.ones(range_size, dtype=bool)
                        g &= ~field_mask(f, v)
                for f, lo, hi, neg in plan["ranges"]:
                    if neg:
                        if g is None:
                            g = np.ones(range_size, dtype=bool)
                        g &= ~range_mask_of(f, lo, hi)
                if g is not None and not g.any():
                    continue

                qidf = plan["qidf"]
                pres = [t for t in qidf if t in tfn_of]
                if not pres:
                    continue
                # the query's OWN summation order: (-boosted ub, tid) —
                # matches the single-query exhaustive scorer bit-for-bit
                pres.sort(key=lambda t: (-(qidf[t] * ubmax_of[t]), t))
                if len(pres) == 1:
                    cat_idx = idx_of[pres[0]]
                    cat_c = qidf[pres[0]] * tfn_of[pres[0]]
                else:
                    cat_idx = np.concatenate([idx_of[t] for t in pres])
                    cat_c = np.concatenate(
                        [qidf[t] * tfn_of[t] for t in pres]
                    )
                S = np.bincount(cat_idx, weights=cat_c)
                uniq = np.unique(cat_idx)
                if g is not None:
                    uniq = uniq[g[uniq]]
                if uniq.size == 0:
                    continue
                fidx, scores = _cut_topk(uniq, S[uniq], k)
                out.append((qid, base + fidx, scores))
            return out

        loc = self._local
        if loc is not None:
            # warm_local: the SAME range kernel driver-side over the
            # snapshot's records — zero Spark jobs for the whole gated
            # batch (expansion units were already resolved at planning).
            # Side data comes from the snapshot: the cached live side
            # (+ referenced field columns) when any query has field
            # clauses, else the dead set (inverted), mirroring the
            # cluster cogroup sides below.
            sides = self._local_live_sides(field_cols) if field_cols else None
            decode = loc["decoded"] or _decode_row
            parts = []
            allowed_of = (None if sides is None else
                          {rid: side["doc_id"] for rid, side in sides.items()})
            for base, recs, live in self._local_ranges(all_tids, allowed_of):
                side = None if sides is None else sides[base // range_size]
                parts.extend(gated_range(recs, base, live, side, decode))
            schema = _SCORE_SCHEMA_T if single else _QSCORE_SCHEMA_T
            if not parts:
                return empty_df(spark, schema)
            q, d, s = _topk_per_query(parts, k)
            cols = {"doc_id": d, "score": s}
            return self._local_frame(cols if single else {"query_id": q, **cols},
                                     schema)

        all_set = set(all_tids)
        shards = sorted({py_shard(t, self.num_shards)
                         for t in dfs if tid_of[t] in all_set})
        postings = self._postings().filter(
            F.col("shard").isin(shards) & F.col("tid").isin(all_tids)
        )
        tomb = self._tombstones()
        if field_cols:
            # doc_id/range_id already ride along (a field clause on them
            # is odd but legal — check_fields allows any docstats column)
            extra = [c for c in field_cols if c not in ("range_id", "doc_id")]
            side = self.docstats().select("range_id", "doc_id", *extra)
            if tomb is not None:
                side = side.join(tomb.select("doc_id"), "doc_id", "left_anti")
            side_mode = "live"
        elif tomb is not None:
            side = _dead_ranges(tomb, self.range_size)
            side_mode = "dead"
        else:
            side, side_mode = None, "none"

        def score_impl(key, pdf, side_pdf):
            _limit_arrow_threads()
            if pdf.empty:
                return _qframe([])
            base = int(key[0]) * range_size
            cols = None
            if side_mode == "dead":
                live = _range_mask(_side_ids(side_pdf), base, range_size, True)
            elif side_mode == "live":
                cols = {c: side_pdf[c].to_numpy() for c in side_pdf.columns}
                live = _range_mask(cols["doc_id"], base, range_size, False)
            else:
                live = None
            return _qframe(gated_range(pdf.itertuples(index=False), base, live, cols))

        if side is not None:
            scored_df = (
                postings.groupBy("range_id")
                .cogroup(side.groupBy("range_id"))
                .applyInPandas(lambda key, l, r: score_impl(key, l, r), out_schema)
            )
        else:
            scored_df = postings.groupBy("range_id").applyInPandas(
                lambda key, pdf: score_impl(key, pdf, None), out_schema
            )
        return self._reduce_per_query(scored_df, n_queries, k)

    def fetch(self, topk: DataFrame,
              sort_cols: list[tuple[str, bool]] | None = None) -> DataFrame:
        """Join top-k back to docstats for display fields + sha256
        (reference doc-fetch, ``Shard.java:281-303``).

        ``sort_cols``: [(col, ascending)] display order; default is the
        relevance order (score desc, doc_id asc). Constant-score results
        (``match_all`` / filter-only ``search_parsed``, every score 1.0)
        are ordered newest-first (doc_id desc) — under the DEFAULT sort
        their tie-break would silently flip the page to oldest-first (r3
        review), so pass their order explicitly:
        ``idx.fetch(rows, sort_cols=[("score", False), ("doc_id", False)])``."""
        if sort_cols is None:
            sort_cols = [("score", False), ("doc_id", True)]
        order = [
            F.col(c).asc() if asc else F.col(c).desc() for c, asc in sort_cols
        ]
        return (
            self.docstats()
            .join(F.broadcast(topk), "doc_id")
            .select("doc_id", "score", "repo", "path", "commit", "lang", "dl", "sha256")
            .orderBy(*order)
        )

    def _matching_doc_ids(self, dfs: dict) -> DataFrame:
        """Distinct LIVE doc_ids containing ANY of the looked-up terms:
        shard/tid-pruned postings scan, docId streams decoded (blob
        column only, never scores), tombstones anti-joined. The single
        source of match semantics for count / facet_counts /
        search_sorted (three prior copies had already diverged on
        tombstone handling — r2 review)."""
        shards = sorted({py_shard(t, self.num_shards) for t in dfs})
        postings = self._postings().filter(
            F.col("shard").isin(shards) & F.col("tid").isin([term_id(t) for t in dfs])
        )
        ids = postings.select(
            F.explode(
                _decode_ids_udf()(
                    F.col("blob"), F.col("block_first"), F.col("block_n"), F.col("block_off")
                )
            ).alias("doc_id")
        ).distinct()
        tomb = self._tombstones()
        if tomb is not None:
            ids = ids.join(tomb.select("doc_id"), "doc_id", "left_anti")
        return ids

    def facet_counts(self, query: str, by: str = "lang", doc_filter=None) -> DataFrame:
        """Matching-document counts grouped by a docstats column — the
        terms-facet the reference serves through its ES capability
        (``SearchSourceBuilder`` aggregations, S6) and its count
        short-circuit (``Shard.java:196-201``) generalized to group-by.
        Match semantics = ``count()``: docs containing ANY query term.

        Plan at scale: shard/tid-pruned postings scan -> docId streams
        decoded (blob column only, never scores) -> distinct -> join to
        docstats pruned to (doc_id, by) -> partial-agg count. Never a
        full-corpus scan; returns (by, cnt) ordered by the facet value.
        """
        terms = sorted(set(tokenize_py(query)))
        dfs = self.lookup(terms)
        stats = self.docstats()
        if doc_filter is not None:
            stats = stats.filter(doc_filter)
        if not dfs:
            # zero-job empty result with the right (by, cnt) schema
            return (
                stats.select(by).where(F.lit(False))
                .groupBy(by).agg(F.count(F.lit(1)).alias("cnt"))
            )
        return (
            self._matching_doc_ids(dfs)
            .join(stats.select("doc_id", by), "doc_id")
            .groupBy(by)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(by)
        )

    def search_sorted(
        self,
        query: str,
        sort_cols: list[tuple[str, bool]],
        k: int = 10,
        doc_filter=None,
        after: tuple | None = None,
    ) -> DataFrame:
        """Field-sorted match: docs containing ANY query term, ordered by
        docstats columns instead of relevance — the reference's sorted
        queries (``Option.sortField`` / ``ensureSortForPaging``,
        ``Shard.java:231-247``), with the same stable ``_doc`` tiebreaker
        (doc_id asc appended, so paging is total-ordered).

        ``sort_cols``: list of (column, ascending). ``after``: cursor =
        the previous page's last row's (sort key values..., doc_id) —
        the searchAfter-under-field-sort analog ``ensureSortForPaging``
        exists for: page N filters to strictly-after rows BEFORE the
        top-k cut, so it costs the same as page 1 and the stitched pages
        are row-identical to one big top-K (pytest-gated). Plan: pruned
        postings docId streams -> distinct -> join docstats ->
        TakeOrdered (never a global sort). Returns docstats rows +
        doc_id, <= k rows.
        """
        terms = sorted(set(tokenize_py(query)))
        dfs = self.lookup(terms)
        stats = self.docstats()
        if doc_filter is not None:
            stats = stats.filter(doc_filter)
        if after is not None:
            stats = stats.filter(_strictly_after(sort_cols, after))
        order = [
            (F.col(c).asc() if asc else F.col(c).desc()) for c, asc in sort_cols
        ] + [F.col("doc_id").asc()]
        if not dfs:
            return stats.where(F.lit(False)).orderBy(*order).limit(k)
        return self._matching_doc_ids(dfs).join(stats, "doc_id").orderBy(*order).limit(k)

    def match_all(
        self,
        doc_filter=None,
        sort_cols: list[tuple[str, bool]] | None = None,
        k: int = 10,
        after: tuple | None = None,
        allowed_docs: DataFrame | None = None,
        exclude_docs: DataFrame | None = None,
    ) -> DataFrame:
        """Filter-only (match-all) query: page the whole live corpus by a
        field sort, with no keyword clause — the reference's
        MatchAllDocsQuery storage path and the monitor UI's DEFAULT query
        (``DiskStorageService.java:176-179`` builds MatchAllDocsQuery
        when no filters parse; ``:420-436`` applies the default
        ``updateTime DESC`` sort). Our default sort is (doc_id desc) —
        doc ids are assigned in ingest order, so newest-first is the
        updateTime DESC analog.

        ``doc_filter``: Column predicate over docstats. ``allowed_docs``
        / ``exclude_docs``: optional doc_id frames semi-/anti-joined
        (the parsed-query gates). ``after``: cursor = previous page's
        last (sort key values..., doc_id) — same paging contract as
        ``search_sorted``. Tombstones always masked.

        Plan at scale: a docstats-ONLY scan (never postings), filter
        pushed to parquet, TakeOrdered top-k — no shuffle, no global
        sort. Returns docstats rows, <= k rows.

        On a ``warm_local`` snapshot this serves driver-side with ZERO
        Spark jobs (``_match_all_local``) — the reference UI's DEFAULT
        query (filter-only newest-first browse) was the last serving
        shape still paying the per-job scheduling floor after r5's
        warm_local tier (r5 review). ``allowed_docs``/``exclude_docs``
        carry arbitrary DataFrame lineage and keep the cluster path,
        same rule as ``search`` — as does a sort column containing
        NULLs (pandas and Spark disagree on NULL placement). Tombstone
        masking on the local route follows warm_local's snapshot
        semantics like every other local surface: deletes landing after
        ``warm_local()`` become visible at ``refresh()``; the cluster
        path re-reads the pinned generation per query."""
        sort_cols = sort_cols if sort_cols is not None else [("doc_id", False)]
        if (self._local is not None and allowed_docs is None
                and exclude_docs is None):
            local = self._match_all_local(doc_filter, sort_cols, k, after)
            if local is not None:
                return local
        stats = self.docstats()
        if doc_filter is not None:
            stats = stats.filter(doc_filter)
        if allowed_docs is not None:
            stats = stats.join(allowed_docs.select("doc_id"), "doc_id", "left_semi")
        if exclude_docs is not None:
            stats = stats.join(exclude_docs.select("doc_id"), "doc_id", "left_anti")
        tomb = self._tombstones()
        if tomb is not None:
            stats = stats.join(tomb.select("doc_id"), "doc_id", "left_anti")
        if after is not None:
            stats = stats.filter(_strictly_after(sort_cols, after))
        order = [
            (F.col(c).asc() if asc else F.col(c).desc()) for c, asc in sort_cols
        ] + [F.col("doc_id").asc()]
        return stats.orderBy(*order).limit(k)

    def _match_all_local(self, doc_filter, sort_cols, k: int, after) -> DataFrame:
        """Zero-job ``match_all`` twin over the warm_local snapshot.

        Runs on the pandas docstats frame, NOT the LocalRelation: a
        100k-row LocalRelation pays ~0.3-0.8 s/query of per-row
        interpreted predicate evaluation + full-frame collect (measured
        — worse than the cluster path it replaces). Instead,
        ``doc_filter`` goes through the cached ``_local_allowed_of``
        sets (so repeated UI pages of one filter evaluate it once), the
        cursor mask is the vectorized numpy mirror of
        ``_strictly_after``'s lexicographic expansion, and the
        (sort_cols..., doc_id asc) order is an argsort cached per
        sort-cols signature — valid for the snapshot's lifetime because
        the doc SET of a meta generation is immutable (tombstone
        refresh only grows ``dead_ids``, which are masked per call).
        Steady state: one boolean gather over the cached order per page.
        Row-identity vs the cluster path is pytest-gated
        (tests/test_local_serving.py).

        Returns None — caller falls back to the cluster path — when any
        sort column contains NULLs: Spark orders NULLS FIRST for asc /
        LAST for desc while pandas pins NaN per na_position regardless
        of direction, and the cursor comparison would raise on None in
        an object column (review). The per-column null flag is cached
        for the snapshot's lifetime."""
        loc = self._local
        pdf = loc["docstats_pdf"]
        n = len(pdf)
        schema = self.docstats().schema

        cols = list(sort_cols) + [("doc_id", True)]
        if after is not None and len(after) != len(cols):
            raise ValueError(
                f"cursor has {len(after)} values; expected {len(cols)} "
                "(one per sort column, then doc_id)"
            )
        na_cols = loc.setdefault("ma_na_cols", {})
        for c, _ in cols:
            has_na = na_cols.get(c)
            if has_na is None:
                has_na = na_cols[c] = bool(pdf[c].isna().any())
            if has_na:
                return None  # NULL ordering differs; cluster path serves

        pos_index = loc.get("ma_pos_index")
        if pos_index is None:
            pos_index = loc["ma_pos_index"] = pd.Index(pdf["doc_id"])

        mask = np.ones(n, dtype=bool)
        if doc_filter is not None:
            allowed_of = self._local_allowed_of(doc_filter)  # dead excluded
            ids = (np.concatenate(list(allowed_of.values()))
                   if allowed_of else np.empty(0, dtype=np.int64))
            m = np.zeros(n, dtype=bool)
            pos = pos_index.get_indexer(ids)
            m[pos[pos >= 0]] = True  # ids come from docstats, but never
            mask &= m                # let a stray -1 allow the last row
        elif loc["dead_ids"]:
            dead_pos = pos_index.get_indexer(
                np.fromiter(loc["dead_ids"], dtype=np.int64))
            mask[dead_pos[dead_pos >= 0]] = False
        if after is not None:
            # vectorized mirror of _strictly_after: OR over prefixes of
            # (earlier keys equal AND this key strictly past the cursor)
            pred = np.zeros(n, dtype=bool)
            eq = np.ones(n, dtype=bool)
            for (c, asc), v in zip(cols, after):
                colv = pdf[c]
                strict = (colv > v) if asc else (colv < v)
                pred |= eq & strict.to_numpy()
                eq &= (colv == v).to_numpy()
            mask &= pred

        okey = tuple(sort_cols)
        orders = loc.setdefault("ma_orders", {})
        order = orders.get(okey)
        if order is None:
            if len(orders) > 64:  # bound like loc["filters"]: each entry
                orders.clear()    # is an n-length int64 array (~800 KB
                                  # at 100k docs) living snapshot-long
            by = [c for c, _ in sort_cols] + ["doc_id"]
            asc = [a for _, a in sort_cols] + [True]
            order = orders[okey] = (
                pdf.sort_values(by, ascending=asc, kind="mergesort")
                .index.to_numpy()  # RangeIndex -> positional order
            )
        sel = order[mask[order]][:k]
        if not sel.size:
            return empty_df(self.spark, schema)
        return self.spark.createDataFrame(
            pdf.iloc[sel].reset_index(drop=True), schema
        )

    def count(self, query: str) -> int:
        """Count-only query (reference count short-circuit,
        ``Shard.java:196-201``). The decode-free dictionary-df shortcut
        applies only to single-term queries on a tombstone-free index —
        with deletes pending, counts decode the docId streams and
        anti-join tombstones like every other query surface (r2: the
        shortcut previously counted deleted docs)."""
        terms = sorted(set(tokenize_py(query)))
        dfs = self.lookup(terms)
        if not dfs:
            return 0
        if len(dfs) == 1 and self._tombstones() is None:
            return sum(dfs.values())
        return self._matching_doc_ids(dfs).count()


def _decode_ids_udf():
    """pandas UDF: decode just the docId stream of each posting row."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def decode_ids(blob: pd.Series, bf: pd.Series, bn: pd.Series, boff: pd.Series) -> pd.Series:
        out = []
        for blob_i, bf_i, bn_i, boff_i in zip(blob, bf, bn, boff):
            # whole-row vectorized decode; arrays stay numpy end-to-end
            d, _, _ = unpack_blocks(blob_i, boff_i, bn_i, bf_i)
            out.append(d.astype(np.int64))
        return pd.Series(out, index=blob.index)

    return decode_ids
