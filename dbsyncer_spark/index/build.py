"""Distributed inverted-index build (the reference's "full sync" analog —
query lifecycle SURVEY.md §3.1, re-expressed as one declarative Spark job
chain instead of reader/picker/writer thread pools).

Pipeline (every stage a DataFrame op; Python only in Arrow UDFs):

  docs(repo,path,commit,lang,content)
    -> assign dense deterministic doc_ids        (docids.py, two-pass)
    -> ONE vectorized mapInPandas pass: code-aware tokenize + per-doc
       tf count -> fixed-width rows (doc_id, dl, tid, tf)
       where tid = signed-int64 md5 of the term    [stage: termdocs]
    -> docstats: metadata scan + sha256 + dl join  [stage: docstats]
    -> shard = pmod(tid, S), range_id = doc_id // range_size
       (hot terms are *split* across ranges = the north rule's per-term
       split postings; the salted repartition below spreads pack work)
    -> repartition(salted) -> sortWithinPartitions(shard,tid,range_id,doc_id)
    -> mapInPandas streaming packer -> delta+VByte blocks w/ skip +
       block-max metadata                        [stage: postings]
    -> dictionary from postings metadata cols    [stage: dictionary]
    -> meta.json (N, avgdl, params)              [stage: meta]

Why term *ids* and not term strings past the tokenizer: everything JVM-side
(shuffle, sort, agg, pack input) then moves fixed-width 24-byte rows —
measured ~2x less GC/alloc pressure than string rows at local[32], and the
query side can recompute tid = md5_64(term) in plain Python, so no
term->tid mapping table is ever needed. Collision risk of 64-bit md5 over
T distinct terms is ~T^2/2^65 (1e8 terms -> ~3e-4); the dictionary stage
can't detect collisions without strings, so `store_terms=True` adds a
small (tid, term) audit table (an extra tokenize pass — off by default) —
postings stay tid-only either way.

The termdocs intermediate is materialized (parquet): it is the tokenize
checkpoint (tokenize runs ONCE even though docstats and postings both
consume it — and a resumed build never re-tokenizes), and it is the Spark
analog of the reference's buffered row batches between reader and writer
(``AbstractBufferActuator``).

Each stage commits a lineage manifest (lineage.py); a re-run with the same
params skips committed stages — resume without recompute.

Index layout on disk::

    index_dir/
      meta.json                    # root: segments list + shared params
      segments/<name>/
        termdocs/   (parquet: doc_id, dl, tid, tf)
        docstats/   (parquet, sorted by doc_id)
        postings/   (parquet, partitioned by shard, sorted tid,range_id)
        dictionary/ (parquet, partitioned by shard)
        terms/      (parquet: tid, term — optional audit table)
        seg_meta.json
        _lineage/stage_*.json
      tombstones/  (parquet doc_id, optional — delete support)

Shard function: shard = term_id(term) % num_shards, computable identically
driver-side (Python) for partition pruning at query time.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading as _threading
import time as _time
from contextlib import contextmanager as _contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbsyncer_spark import BM25_B, BM25_K1
from dbsyncer_spark.functions.tokenizer import (
    CAMEL_RULES,
    _STOP_SETS,
    _TOKEN_RE,
    tokenize_arrow,
)
from dbsyncer_spark.index.codec import BLOCK_SIZE, MAX_DOC_POSITIONS, pack_postings
from dbsyncer_spark.index.docids import (
    assign_doc_ids,
    bucket_counts,
    bucket_offsets,
    offsets_from_counts,
)
from dbsyncer_spark.index.lineage import commit_stage, params_hash, stage_committed

DEFAULT_NUM_SHARDS = 32
DEFAULT_RANGE_SIZE = 1 << 16

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("tid", T.LongType()),
        T.StructField("range_id", T.LongType()),
        T.StructField("n_docs", T.IntegerType()),
        T.StructField("sum_tf", T.LongType()),
        T.StructField("blob", T.BinaryType()),
        T.StructField("block_first", T.ArrayType(T.LongType())),
        T.StructField("block_n", T.ArrayType(T.IntegerType())),
        T.StructField("block_off", T.ArrayType(T.IntegerType())),
        T.StructField("block_max_tf", T.ArrayType(T.IntegerType())),
        T.StructField("block_min_dl", T.ArrayType(T.IntegerType())),
    ]
)

TERMDOCS_SCHEMA = "doc_id long, dl int, tid long, tf int"
# positional build (store_positions=True): per-(doc,term) ascending token
# positions ride along as an array column; postings gain a SEPARATE
# pos_blob parquet column so BM25/WAND scans never read it
TERMDOCS_SCHEMA_POS = TERMDOCS_SCHEMA + ", pos array<int>"
POSTINGS_SCHEMA_POS = T.StructType(
    POSTINGS_SCHEMA.fields
    + [
        T.StructField("pos_blob", T.BinaryType()),
        T.StructField("pos_off", T.ArrayType(T.IntegerType())),
    ]
)


def _limit_arrow_threads() -> None:
    """Cap pyarrow's internal thread pool to 1 inside UDF workers.

    Each executor core runs its own Python worker; pyarrow's default pool
    (= machine cores) times N workers oversubscribes the machine N-fold —
    measured 3.2x slowdown of the tokenize-count kernel at 32 concurrent
    workers. One worker = one core is the Spark contract."""
    try:
        import pyarrow as pa

        if pa.cpu_count() != 1:
            pa.set_cpu_count(1)
            pa.set_io_thread_count(1)
    except Exception:
        pass


def term_id(term: str) -> int:
    """Signed-int64 term id: first 8 bytes (big-endian) of md5(term).
    Pure function, identical driver-side and in the count UDF."""
    return int.from_bytes(hashlib.md5(term.encode()).digest()[:8], "big", signed=True)


def py_shard(term: str, num_shards: int) -> int:
    """Driver-side shard of a term — pmod semantics (non-negative)."""
    return term_id(term) % num_shards


def shard_of_tid_col(tid_col, num_shards: int):
    """JVM-side shard from the tid column; pmod matches Python %."""
    c = F.col(tid_col) if isinstance(tid_col, str) else tid_col
    return F.pmod(c, F.lit(num_shards)).cast("int")


def _tokenize_count(use_stopwords: bool, store_positions: bool = False):
    """mapInPandas: (doc_id, lang, content) -> (doc_id, dl, tid, tf[, pos]).

    One vectorized pass does tokenize + per-doc term-frequency count, so
    the JVM never sees token strings — and neither does Python: the whole
    tokenize runs in pyarrow compute kernels (RE2 regex replace/split,
    utf8_lower, dictionary_encode as the factorize), so per-token Python
    string objects are never materialized (they dominated the profile —
    ~70M objects per 1M docs). Python only touches the per-batch UNIQUE
    terms (md5 -> tid, cached per worker). Token semantics are byte-
    identical to ``tokenize_py`` (camel split, lower, [a-z0-9]+ runs,
    stopwords) — asserted by tests/test_tokenizer.py and the rank-
    identity gates. Zero-token docs emit no rows (docstats coalesces
    their dl to 0).

    ``store_positions``: additionally emit each (doc, term)'s ascending
    token positions (0-based indices into the KEPT token sequence — i.e.
    after stopword removal, matching Lucene's removed-token position
    semantics only when stopwords are off, which is the default). The
    per-group position lists come from one stable argsort of the
    (doc, term) key, so the non-positional np.unique hot path is
    untouched when the flag is off."""

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        _limit_arrow_threads()
        tid_cache: dict[str, int] = {}
        stop_arrays = {lg: pa.array(sorted(sw)) for lg, sw in _STOP_SETS.items()}

        def tids_for(uniques: list) -> np.ndarray:
            out = np.empty(len(uniques), dtype=np.int64)
            for i, t in enumerate(uniques):
                v = tid_cache.get(t)
                if v is None:
                    v = term_id(t)
                    tid_cache[t] = v
                out[i] = v
            return out

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            lists = tokenize_arrow(pdf["content"].fillna(""))
            la = lists.combine_chunks() if isinstance(lists, pa.ChunkedArray) else lists
            flat = la.flatten()
            per_doc = pc.list_value_length(la).to_numpy(zero_copy_only=False).astype(np.int64)
            doc_idx = np.repeat(np.arange(n, dtype=np.int64), per_doc)
            keep = pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
            if use_stopwords:
                langs = pdf["lang"].to_numpy()
                for lg, sa in stop_arrays.items():
                    rows = np.flatnonzero(langs == lg)
                    if rows.size == 0:
                        continue
                    is_stop = pc.is_in(flat, value_set=sa).to_numpy(zero_copy_only=False)
                    lang_mask = np.isin(doc_idx, rows)
                    keep &= ~(is_stop & lang_mask)
            if not keep.any():
                continue
            doc_idx = doc_idx[keep]
            enc = pc.dictionary_encode(flat.filter(pa.array(keep)))
            if isinstance(enc, pa.ChunkedArray):
                enc = enc.combine_chunks()
            codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            uniques = enc.dictionary.to_pylist()
            k = len(uniques)
            dls = np.bincount(doc_idx, minlength=n).astype(np.int64)
            key = doc_idx * k + codes
            tids = tids_for(uniques)
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            if not store_positions:
                ukey, counts = np.unique(key, return_counts=True)
                d_i = (ukey // k).astype(np.int64)
                c_i = (ukey % k).astype(np.int64)
                yield pd.DataFrame(
                    {
                        "doc_id": ids[d_i],
                        "dl": dls[d_i].astype(np.int32),
                        "tid": tids[c_i],
                        "tf": counts.astype(np.int32),
                    }
                )
                continue
            # positional build rejects over-long docs UP FRONT: the
            # phrase matcher packs (doc, pos) as doc*POS_CAP+pos, and a
            # doc accepted here would instead fail EVERY phrase query
            # touching its range at query time. Use max_content_bytes to
            # quarantine such docs instead of failing the build.
            if dls.size and int(dls.max()) > MAX_DOC_POSITIONS:
                raise ValueError(
                    f"store_positions build: doc {int(pdf['doc_id'].iloc[int(np.argmax(dls))])} "
                    f"has {int(dls.max())} tokens > MAX_DOC_POSITIONS "
                    f"({MAX_DOC_POSITIONS}); set max_content_bytes to "
                    "quarantine oversized docs"
                )
            # positions: doc_idx is ascending (tokens in doc order), so
            # the in-doc token index is global index minus the doc's
            # first index; a STABLE sort by (doc, term) then keeps each
            # group's positions ascending
            seg_starts = np.r_[0, np.flatnonzero(np.diff(doc_idx)) + 1].astype(np.int64)
            seg_counts = np.diff(np.r_[seg_starts, doc_idx.size]).astype(np.int64)
            pos = np.arange(doc_idx.size, dtype=np.int64) - np.repeat(seg_starts, seg_counts)
            order = np.argsort(key, kind="stable")
            sk = key[order]
            g_starts = np.r_[0, np.flatnonzero(np.diff(sk)) + 1].astype(np.int64)
            g_counts = np.diff(np.r_[g_starts, sk.size]).astype(np.int64)
            ukey = sk[g_starts]
            d_i = (ukey // k).astype(np.int64)
            c_i = (ukey % k).astype(np.int64)
            pos_sorted = pos[order].astype(np.int32)
            yield pd.DataFrame(
                {
                    "doc_id": ids[d_i],
                    "dl": dls[d_i].astype(np.int32),
                    "tid": tids[c_i],
                    "tf": g_counts.astype(np.int32),
                    "pos": np.split(pos_sorted, g_starts[1:].tolist()),
                }
            )

    return run


def _terms_rows(use_stopwords: bool):
    """mapInPandas: (doc_id, lang, content) -> distinct-per-batch
    (tid, term) rows for the optional audit table."""

    def run(batches):
        seen: set[str] = set()
        for pdf in batches:
            s = pdf["content"].fillna("")
            for pat, repl in CAMEL_RULES:
                s = s.str.replace(pat, repl, regex=True)
            toks = s.str.lower().str.findall(_TOKEN_RE)
            if use_stopwords:
                toks = pd.Series(
                    [
                        [t for t in tk if t not in sw] if (sw := _STOP_SETS.get(lg)) else tk
                        for tk, lg in zip(toks, pdf["lang"])
                    ],
                    index=toks.index,
                )
            new = {t for tk in toks for t in tk if t not in seen}
            seen.update(new)
            if new:
                terms = sorted(new)
                yield pd.DataFrame(
                    {"tid": np.array([term_id(t) for t in terms], dtype=np.int64),
                     "term": terms}
                )

    return run


def _pack_stream(block_size: int, with_positions: bool = False):
    """mapInPandas streaming packer: rows sorted by (shard, tid,
    range_id, doc_id) within the partition; groups never span partitions
    (repartition guarantees it) but may span Arrow batches.

    Linear-time: each batch is split into groups by numpy boundary
    detection; the possibly-incomplete tail group is carried as a LIST of
    array chunks and concatenated once, when the group completes. (A
    naive per-batch re-concat carry is quadratic in group size — a Zipf
    rank-1 term like 'import' spans dozens of Arrow batches.)

    ``with_positions``: input rows carry a ``pos`` array column; each
    group additionally packs the concatenated position stream."""

    def run(batches):
        _limit_arrow_threads()
        tail_key: tuple | None = None
        tail_chunks: list[tuple] = []

        def pack_group(key, ids, tfs, dls, pos=None) -> dict:
            packed = pack_postings(ids, tfs, dls, block_size, positions=pos)
            row = {
                "shard": int(key[0]),
                "tid": int(key[1]),
                "range_id": int(key[2]),
                "n_docs": packed["n_docs"],
                "sum_tf": int(tfs.sum()),
                "blob": packed["blob"],
                "block_first": packed["block_first"],
                "block_n": packed["block_n"],
                "block_off": packed["block_off"],
                "block_max_tf": packed["block_max_tf"],
                "block_min_dl": packed["block_min_dl"],
            }
            if with_positions:
                row["pos_blob"] = packed["pos_blob"]
                row["pos_off"] = packed["pos_off"]
            return row

        def pack_tail() -> dict | None:
            nonlocal tail_key, tail_chunks
            if tail_key is None:
                return None
            ids = np.concatenate([c[0] for c in tail_chunks])
            tfs = np.concatenate([c[1] for c in tail_chunks])
            dls = np.concatenate([c[2] for c in tail_chunks])
            pos = (
                np.concatenate([c[3] for c in tail_chunks]) if with_positions else None
            )
            row = pack_group(tail_key, ids, tfs, dls, pos)
            tail_key, tail_chunks = None, []
            return row

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            tid = pdf["tid"].to_numpy(dtype=np.int64)
            rng = pdf["range_id"].to_numpy(dtype=np.int64)
            shard = pdf["shard"].to_numpy()
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            dls = pdf["dl"].to_numpy(dtype=np.int64)
            tfs = pdf["tf"].to_numpy(dtype=np.int64)
            pos_col = pdf["pos"].to_numpy() if with_positions else None
            change = np.flatnonzero((tid[1:] != tid[:-1]) | (rng[1:] != rng[:-1])) + 1
            starts = np.concatenate([[0], change]).astype(np.int64)
            ends = np.concatenate([change, [n]]).astype(np.int64)

            def group_chunk(s: int, e: int) -> tuple:
                base = (ids[s:e], tfs[s:e], dls[s:e])
                if not with_positions:
                    return base
                flat = (
                    np.concatenate([np.asarray(p, dtype=np.int64) for p in pos_col[s:e]])
                    if e > s
                    else np.zeros(0, dtype=np.int64)
                )
                return base + (flat,)

            out: list[dict] = []
            for gi in range(starts.size):
                s, e = int(starts[gi]), int(ends[gi])
                key = (int(shard[s]), int(tid[s]), int(rng[s]))
                chunk = group_chunk(s, e)
                if gi == 0 and tail_key is not None:
                    if key == tail_key:
                        tail_chunks.append(chunk)
                        if starts.size == 1:
                            break  # whole batch continues the tail group
                        out.append(pack_tail())
                        continue
                    out.append(pack_tail())
                if gi == starts.size - 1:
                    tail_key, tail_chunks = key, [chunk]
                else:
                    out.append(pack_group(key, *chunk))
            if out:
                yield pd.DataFrame(out)
        last = pack_tail()
        if last is not None:
            yield pd.DataFrame([last])

    return run


def postings_from_tf(
    tf: DataFrame,
    num_shards: int,
    range_size: int,
    block_size: int,
    pack_parallelism: int,
    with_positions: bool = False,
) -> DataFrame:
    """(doc_id, dl, tid, tf[, pos]) rows (unique per (tid, doc_id)) ->
    packed posting rows.

    The salted repartition keys on (shard, tid, range_id) so a hot term's
    ranges land on *different* tasks (split postings), and the within-
    partition sort keeps groups contiguous for the streaming packer."""
    enriched = tf.withColumn("shard", shard_of_tid_col("tid", num_shards)).withColumn(
        "range_id", (F.col("doc_id") / F.lit(range_size)).cast("long")
    )
    schema = POSTINGS_SCHEMA_POS if with_positions else POSTINGS_SCHEMA
    return (
        enriched.repartition(pack_parallelism, "shard", "tid", "range_id")
        .sortWithinPartitions("shard", "tid", "range_id", "doc_id")
        .mapInPandas(_pack_stream(block_size, with_positions), schema)
    )


def build_index(spark: SparkSession, docs: DataFrame, index_dir: str, **kwargs) -> dict:
    """Build one index segment and publish it; returns the segment meta
    dict. ``kwargs`` are ``_write_segment``'s (segment name, doc-id
    offset, build params, resume, quarantine threshold). The publish is
    ``publish_segment``, the same step appends and merges publish
    through."""
    seg_meta = _write_segment(spark, docs, index_dir, **kwargs)
    publish_segment(index_dir, seg_meta["segment"], seg_meta)
    return seg_meta


def _write_segment(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    *,
    segment: str = "seg_000000",
    doc_id_offset: int = 0,
    num_shards: int = DEFAULT_NUM_SHARDS,
    range_size: int = DEFAULT_RANGE_SIZE,
    block_size: int = BLOCK_SIZE,
    use_stopwords: bool = False,
    k1: float = BM25_K1,
    b: float = BM25_B,
    num_id_buckets: int = 256,
    pack_parallelism: int | None = None,
    resume: bool = True,
    docs_have_ids: bool = False,
    store_terms: bool = False,
    store_positions: bool = False,
    max_content_bytes: int | None = None,
    id_offsets: dict[int, int] | None = None,
) -> dict:
    """Write one index segment's dir, unpublished; returns the segment
    meta dict.

    Deterministic: same (docs, params) -> row-identical index (parquet
    footers may differ between JVM runs). Resume: committed stages are
    skipped (per-stage lineage manifests).

    ``max_content_bytes``: rows with NULL or oversized content are
    diverted to ``<segment>/quarantine`` (keys + reason) instead of
    failing the build — the analog of the reference's dead-letter
    capture-and-replay (``FlushStrategyImpl`` persist +
    ``DataSyncServiceImpl.java:106-206`` replay, SURVEY.md C10);
    re-running the build on the fixed quarantined rows is the replay.

    ``id_offsets``: per-bucket id offsets from ``docids.bucket_counts``
    over the SAME ``docs`` (``append_segment`` shares its claim-sizing
    pass this way — one batch scan instead of two). Ignored when a
    quarantine filter is active: the filter changes the row set, so
    caller offsets computed pre-filter would misnumber the survivors."""
    seg_dir = os.path.join(index_dir, "segments", segment)
    os.makedirs(seg_dir, exist_ok=True)
    if pack_parallelism is None:
        pack_parallelism = int(spark.conf.get("spark.sql.shuffle.partitions"))
    params = {
        "segment": segment,
        "doc_id_offset": doc_id_offset,
        "num_shards": num_shards,
        "range_size": range_size,
        "block_size": block_size,
        "use_stopwords": use_stopwords,
        "k1": k1,
        "b": b,
        "tokenizer": "code_aware_v3_cjk",
        "store_positions": store_positions,
        # doc ids depend on the bucket count, so it must pin the stage
        # hash: a resume after changing it would otherwise mix committed
        # stages numbered under the old scheme with recomputed stages
        # numbered under the new one (r5 review)
        "num_id_buckets": num_id_buckets,
    }
    # the stage hash must ALSO pin everything that changes the row set
    # or the id source: resuming with a different quarantine threshold
    # (the documented relax-and-replay knob) or ids-provided flag would
    # pair committed termdocs from one row set with recomputed docstats
    # from another — silently corrupt ids (r5 review). Kept out of
    # ``params`` (== published seg meta, shared-across-segments compare)
    # since both are legitimately per-batch.
    phash = params_hash({
        **params,
        "max_content_bytes": max_content_bytes,
        "docs_have_ids": docs_have_ids,
    })

    seg_quarantine = os.path.join(seg_dir, "quarantine")
    if max_content_bytes is not None:
        bad_reason = (
            F.when(F.col("content").isNull(), "null_content")
            .when(F.octet_length("content") > max_content_bytes, "oversized_content")
        )
        flagged = docs.withColumn("_reason", bad_reason)
        bad = flagged.filter(F.col("_reason").isNotNull())
        if not (resume and stage_committed(seg_dir, "quarantine", phash)):
            # full row image (content included) — replay must not depend
            # on the source still holding the bad rows (the reference
            # persists the protobuf row image for UI-driven replay,
            # FlushStrategyImpl / DataSyncServiceImpl.java:106-206)
            (
                bad.select("repo", "path", "commit", "lang", "content", "_reason")
                .withColumnRenamed("_reason", "reason")
                .write.mode("overwrite")
                .parquet(seg_quarantine)
            )
            n_bad = spark.read.parquet(seg_quarantine).count()
            commit_stage(seg_dir, "quarantine", phash, metrics={"rows": int(n_bad)})
        docs = flagged.filter(F.col("_reason").isNull()).drop("_reason")

    if docs_have_ids:
        base = docs
        id_offsets = None
    else:
        # Pass 1 (bucket counts) runs ONCE; both the wide termdocs
        # lineage and the narrow docstats lineage below reuse it —
        # or zero times, when append_segment already ran it to size
        # the doc-range claim and passed the offsets in.
        if id_offsets is None or max_content_bytes is not None:
            id_offsets = bucket_offsets(docs, num_buckets=num_id_buckets)
        base = assign_doc_ids(docs, num_buckets=num_id_buckets, offsets=id_offsets)
    if doc_id_offset:
        base = base.withColumn("doc_id", F.col("doc_id") + F.lit(doc_id_offset))

    termdocs_path = os.path.join(seg_dir, "termdocs")
    docstats_path = os.path.join(seg_dir, "docstats")
    postings_path = os.path.join(seg_dir, "postings")
    dict_path = os.path.join(seg_dir, "dictionary")
    terms_path = os.path.join(seg_dir, "terms")

    # ---- stage: termdocs (tokenize ONCE; fixed-width rows ever after) --
    if not (resume and stage_committed(seg_dir, "termdocs", phash)):
        (
            base.select("doc_id", "lang", "content")
            .mapInPandas(
                _tokenize_count(use_stopwords, store_positions),
                TERMDOCS_SCHEMA_POS if store_positions else TERMDOCS_SCHEMA,
            )
            .write.mode("overwrite")
            .parquet(termdocs_path)
        )
        commit_stage(seg_dir, "termdocs", phash)

    termdocs = spark.read.parquet(termdocs_path)

    # ---- stage: docstats ---------------------------------------------
    if not (resume and stage_committed(seg_dir, "docstats", phash)):
        # doc_id is a pure function of the key set (docids.py), so this
        # stage assigns ids on a NARROW projection: sha256/dl are
        # computed map-side BEFORE the id shuffle, and the shuffle then
        # carries ~100-byte fixed-width rows instead of document
        # content. The termdocs lineage above is the only place content
        # crosses the wire. At 10^12 files that removes an entire
        # content-sized shuffle from the build.
        if docs_have_ids:
            stats_base = base
        else:
            narrow = docs.select(
                "repo",
                "path",
                "commit",
                "lang",
                F.sha2("content", 256).alias("sha256"),
            )
            stats_base = assign_doc_ids(
                narrow, num_buckets=num_id_buckets, offsets=id_offsets
            )
            if doc_id_offset:
                stats_base = stats_base.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(doc_id_offset)
                )
        sha_col = (
            F.col("sha256") if not docs_have_ids else F.sha2("content", 256).alias("sha256")
        )
        range_col = (F.col("doc_id") / F.lit(range_size)).cast("long").alias("range_id")
        # dl = sum(tf) over the committed termdocs parquet. That table is
        # written DOC-MAJOR straight out of the per-doc tokenizer, so the
        # groupBy(doc_id) partial-aggregates each input split down to its
        # distinct docs before the exchange — the shuffle carries ~one
        # 12-byte row per DOC, not per termdocs row, and the scan prunes
        # to the (doc_id, tf) columns. The map-side alternative (a scalar
        # regexp twin of the tokenizer over content) is value-identical
        # for no-stopword builds but ~25x the CPU of a content scan
        # (measured 67 s vs 2.5 s sha256 at 2M docs x 8 cores) — it only
        # ever looked good at 100k-doc bench scale where the exchange's
        # fixed overhead dominates. With stopwords the aggregate is also
        # the only correct source (dl must exclude dropped stopwords).
        dls = termdocs.groupBy("doc_id").agg(F.sum("tf").cast("int").alias("dl"))
        stats = (
            stats_base.select(
                "doc_id", "repo", "path", "commit", "lang", sha_col, range_col
            )
            .join(dls, "doc_id", "left")
            .withColumn("dl", F.coalesce(F.col("dl"), F.lit(0)))
        )
        (
            stats
            .select("doc_id", "repo", "path", "commit", "lang", "dl", "sha256", "range_id")
            # hash-spread on doc_id: partitioning by range_id alone would
            # put any corpus with < range_size docs per range into a
            # handful of tasks (serial write). Files stay doc_id-sorted.
            .repartition(pack_parallelism, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .parquet(docstats_path)
        )
        per_part = (
            spark.read.parquet(docstats_path)
            .groupBy(F.input_file_name().alias("file"))
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("dl").alias("sum_dl"),
                F.max("doc_id").alias("max_doc_id"),
            )
            .collect()
        )
        commit_stage(
            seg_dir,
            "docstats",
            phash,
            partitions=[
                {
                    "file": os.path.basename(r.file),
                    "rows": r.rows,
                    "sum_dl": r.sum_dl,
                    "max_doc_id": r.max_doc_id,
                }
                for r in per_part
            ],
            metrics={
                "rows": int(sum(r.rows for r in per_part)),
                "sum_dl": int(sum(r.sum_dl for r in per_part)),
                "max_doc_id": int(max((r.max_doc_id for r in per_part), default=-1)),
            },
        )

    # ---- stage: postings ---------------------------------------------
    if not (resume and stage_committed(seg_dir, "postings", phash)):
        packed = postings_from_tf(
            termdocs, num_shards, range_size, block_size, pack_parallelism,
            with_positions=store_positions,
        )
        (
            packed.write.mode("overwrite")
            .partitionBy("shard")
            .parquet(postings_path)
        )
        per_shard = (
            spark.read.parquet(postings_path)
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("n_docs").alias("postings"),
                F.sum(F.length("blob")).alias("bytes"),
            )
            .collect()
        )
        commit_stage(
            seg_dir,
            "postings",
            phash,
            partitions=[
                {"shard": r.shard, "rows": r.rows, "postings": int(r.postings), "bytes": int(r.bytes)}
                for r in per_shard
            ],
            metrics={"total_postings": int(sum(r.postings for r in per_shard))},
        )

    # ---- stage: dictionary (from postings metadata columns only —
    # column-pruned scan, the blob column is never read) ----------------
    if not (resume and stage_committed(seg_dir, "dictionary", phash)):
        write_dictionary(spark, postings_path, dict_path, pack_parallelism)
        commit_stage(seg_dir, "dictionary", phash)

    # ---- stage: terms (optional audit table: tid -> term) --------------
    if store_terms and not (resume and stage_committed(seg_dir, "terms", phash)):
        (
            base.select("doc_id", "lang", "content")
            .mapInPandas(_terms_rows(use_stopwords), "tid long, term string")
            .dropDuplicates(["tid", "term"])
            .write.mode("overwrite")
            .parquet(terms_path)
        )
        commit_stage(seg_dir, "terms", phash)

    # ---- stage: seg meta (from the docstats lineage manifest — no extra
    # Spark job; the manifest carries per-file rows/sum_dl/max_doc_id) ----
    from dbsyncer_spark.index.lineage import read_manifest

    m = read_manifest(seg_dir, "docstats")["metrics"]
    seg_meta = {
        **params,
        "n_docs": int(m["rows"]),
        "sum_dl": int(m["sum_dl"]),
        "max_doc_id": int(m["max_doc_id"]),
    }
    with open(os.path.join(seg_dir, "seg_meta.json"), "w") as f:
        json.dump(seg_meta, f, indent=2)
    commit_stage(seg_dir, "meta", phash, metrics=seg_meta)
    return seg_meta


def write_dictionary(
    spark: SparkSession, postings_path: str, dict_path: str, parallelism: int
) -> None:
    """The segment dictionary stage: per-(shard, tid) df/cf and block
    bounds, aggregated from the postings' METADATA columns only (the
    blob column is never read), laid out shard-partitioned and
    tid-sorted. THE single definition of the dictionary schema/layout —
    fresh builds and merge/compaction re-packs (``_pack_segment``) both
    call it, so merged segments can never silently diverge from
    fresh-built ones (r3 review: the two pipelines were verbatim
    copies)."""
    (
        spark.read.parquet(postings_path)
        .groupBy("shard", "tid")
        .agg(
            F.sum("n_docs").cast("long").alias("df"),
            F.sum("sum_tf").cast("long").alias("cf"),
            F.max(F.array_max("block_max_tf")).alias("max_tf"),
            F.min(F.array_min("block_min_dl")).alias("min_dl"),
        )
        .repartition(max(4, parallelism // 4), "shard")
        .sortWithinPartitions("tid")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(dict_path)
    )


@_contextmanager
def meta_lock(index_dir: str):
    """Advisory inter-process lock serializing root ``meta.json``
    read-modify-writes. Every writer (the claim, publish and abort of
    ``segment_transaction``, the streaming batch HWM, the tombstone
    generation flip, the retire purge) re-reads meta INSIDE the lock
    before writing, so an out-of-band merge process running
    next to a streaming ingester can't clobber the other's update — the
    lost-segment / lost-HWM interleave found in the r3 review. Readers
    stay lock-free: they see either the old or the new meta via the
    atomic commit.

    The implementation is INJECTABLE (r3 VERDICT portability caveat,
    ``dbsyncer_spark.index.coordination``): default ``FlockLock`` is
    same-host POSIX; ``LeaseFileLock`` (expiry + steal) covers shared
    filesystems without flock; object-store deployments implement the
    same two-method interface against a catalog/lock service instead of
    falling back to "single writer".

    NOT reentrant (flock blocks a second acquisition even in-process):
    never nest, and never call another lock-taking helper while held."""
    from dbsyncer_spark.index.coordination import get_lock_provider

    with get_lock_provider().lock(index_dir):
        yield


def atomic_write_meta(index_dir: str, meta: dict) -> None:
    """The ONE way root meta reaches disk — delegated to the injectable
    committer (``dbsyncer_spark.index.coordination``; default POSIX:
    json to a tmp file, fsync, atomic rename, dir fsync). The atomic
    swap protects concurrent readers (old or new meta, never torn); the
    fsyncs protect against CRASHES — without them a power loss after the
    rename can leave an empty meta.json that bricks every reader (r3
    review). Meta is tiny, so the two fsyncs are noise next to the lock
    hold. Callers must hold the meta lock."""
    from dbsyncer_spark.index.coordination import get_meta_committer

    get_meta_committer().commit(index_dir, meta)


def read_meta_for_update(index_dir: str) -> dict | None:
    """Read root meta as the FIRST HALF of a lock-held read-modify-write
    — the committer's ``load`` seam, paired with ``atomic_write_meta``.
    A fenced committer (``CasFencedCommitter``) pins the store's fence
    version here so a paused writer's later commit is store-rejected
    instead of clobbering its successor; the default committer just
    reads the file. Callers must hold the meta lock (same contract as
    ``atomic_write_meta``); lock-free READERS keep reading ``meta.json``
    directly. Returns None when the index has no root meta yet.

    Committers installed via ``set_meta_committer`` that predate the
    ``load`` seam (the documented contract was commit-only until r5)
    are still honored: when the object has no ``load``, fall back to
    the default POSIX read instead of crashing every lock-held RMW
    with AttributeError (r5 review)."""
    from dbsyncer_spark.index.coordination import (
        PosixRenameCommitter,
        get_meta_committer,
    )

    committer = get_meta_committer()
    load = getattr(committer, "load", None)
    if load is None:
        return PosixRenameCommitter().load(index_dir)
    return load(index_dir)


def write_meta_locked(index_dir: str, mutate) -> dict | None:
    """Re-read root meta INSIDE the meta lock, apply ``mutate`` (fresh
    meta dict -> new meta dict, or None to abort without writing), then
    atomic-rename write. Re-reading under the lock is what makes
    concurrent writers compose: a merge that started from a stale
    snapshot folds its segment swap into whatever appends / streaming
    HWM updates landed meanwhile, instead of clobbering them with its
    stale copy (r3 review — the lost-segment interleave)."""
    root = os.path.join(index_dir, "meta.json")
    if not os.path.exists(root):
        raise FileNotFoundError(
            f"{root} does not exist — the index has not been built yet "
            "(meta mutations require an existing root meta)"
        )
    with meta_lock(index_dir):
        fresh = read_meta_for_update(index_dir)
        if fresh is None:  # root vanished between the check and the lock
            raise FileNotFoundError(f"{root} disappeared before the update")
        meta = mutate(fresh)
        if meta is None:
            return None
        atomic_write_meta(index_dir, meta)
        return meta


#: a claim (in-flight output name, doc-id range or tombstone-generation
#: pin) expires after this long — long enough for any real pack job, so
#: a crashed run can't block its name or id space forever.
RESERVATION_TTL_S = 24 * 3600.0

#: the root-meta keys holding claims, all keyed by output segment name
_CLAIM_KEYS = ("reserved", "reserved_ranges", "tomb_pins")


def claim_segment(
    index_dir: str,
    segment: str | None = None,
    *,
    n_docs: int | None = None,
    tomb_gen: str | None = None,
) -> tuple[str, int | None]:
    """The claim step of ``segment_transaction``: ONE locked meta write
    records everything a writer holds while its Spark jobs run, each
    claim keyed by the output segment name and expiring after
    ``RESERVATION_TTL_S`` (``claim_heartbeat`` keeps them alive):

    - ``reserved`` (name -> walltime): the output name, allocated here
      when ``segment`` is None. Picking it from an unlocked snapshot let
      two concurrent writers (an auto-named append racing a merge) claim
      the same seg_NNNNNN and clobber each other's dir (r3 review). The
      allocation skips live, retired, covered-GC and claimed names, and
      never re-issues a name whose dir exists on disk: a hard-crashed
      run's partial dir may hold committed lineage stages for its OWN
      batch, which a resume under the same name+offset would silently
      publish as the new batch (r3 review). ``_purge_retired`` sweeps
      such orphans after the TTL, freeing the name.
    - ``reserved_ranges`` (name -> {lo, hi, ts}): with ``n_docs``, a
      range-aligned doc-id range. Offsets taken from an unlocked
      snapshot let two concurrent appends pick the same offset, and the
      second died at the publish overlap guard (found by
      tests/test_concurrent_writers.py). Lucene's IndexWriter serializes
      doc-id assignment the same way (the reference feeds one ``Shard``
      from several buffer-actuator threads, ``GeneralBufferActuator``):
      the lock is held only to claim, the pack jobs overlap freely.
      Allocation is a monotonic high-water mark over committed segments
      and live claims, never gap-filling (same crashed-dir hazard as
      names). Re-claiming a held name returns the SAME offset on a fresh
      TTL window, so an explicit-name (resumable) append that crashes
      and re-runs keeps its lineage stages valid.
    - ``tomb_pins`` (name -> {gen, ts}): with ``tomb_gen``, the tombstone
      generation a merge's anti-join reads, so ``_purge_retired`` keeps
      its files however long the pack runs. Without it a delete-heavy
      CDC stream could flip, retire and purge the generation in the
      600 s grace while the pack runs for hours, then die on
      FileNotFound (r5 review).

    Returns ``(name, doc-id offset or None)``. ``publish_segment``
    releases the claims; ``abort_segment`` releases them on failure."""
    out: dict = {}

    def mut(fresh):
        now = _time.time()
        meta = dict(fresh)
        name = segment
        if name is None:
            reserved = {n: ts for n, ts in fresh.get("reserved", {}).items()
                        if now - ts < RESERVATION_TTL_S}
            taken = (set(fresh["segments"]) | set(fresh.get("retired", {}))
                     | set(fresh.get("covered_gc", {})) | set(reserved))
            name = next_segment_name(taken)
            while os.path.exists(os.path.join(index_dir, "segments", name)):
                taken.add(name)
                name = next_segment_name(taken)
            meta["reserved"] = {**reserved, name: now}
        if n_docs is not None:
            rs = fresh["params"].get("range_size", DEFAULT_RANGE_SIZE)
            ranges = {n: r for n, r in fresh.get("reserved_ranges", {}).items()
                      if now - r["ts"] < RESERVATION_TTL_S}
            need = ((max(int(n_docs), 1) + rs - 1) // rs) * rs
            held = ranges.pop(name, None)
            if held is None or held["hi"] - held["lo"] + 1 < need:
                # new claim, or the batch grew past the old one
                hwm = max([s["max_doc_id"] for s in fresh["segments"].values()]
                          + [r["hi"] for r in ranges.values()], default=-1)
                lo = ((hwm // rs) + 1) * rs
                held = {"lo": lo, "hi": lo + need - 1}
            # a resumed run must not inherit only the crashed run's
            # leftover clock and lose its claim mid-pack to an expiry prune
            ranges[name] = {**held, "ts": now}
            meta["reserved_ranges"] = ranges
            out["offset"] = held["lo"]
        if tomb_gen is not None:
            meta["tomb_pins"] = {**fresh.get("tomb_pins", {}),
                                 name: {"gen": tomb_gen, "ts": now}}
        out["name"] = name
        return meta

    write_meta_locked(index_dir, mut)
    return out["name"], out.get("offset")


class _InputsTaken(RuntimeError):
    """A concurrent maintenance run took (some of) a merge's input
    segments before the merge could publish."""


#: the build params every segment of one index shares
_SHARED_PARAMS = ("num_shards", "range_size", "block_size", "use_stopwords",
                  "k1", "b", "tokenizer", "store_positions", "num_id_buckets")


def publish_segment(
    index_dir: str,
    segment: str,
    seg_meta: dict | None,
    *,
    inputs=(),
    covered: bool = False,
) -> str | None:
    """The publish step of ``segment_transaction`` and of a base
    ``build_index``: every change to root meta's ``segments`` is this one
    locked, atomic meta write. Under the lock it re-reads fresh meta (so
    segments appended and HWMs recorded since the writer's snapshot
    survive), then:

    1. refuses with ``_InputsTaken`` when an input segment is gone: a
       concurrent merge/compaction took it, and publishing would put its
       docs in two live segments (r3 review);
    2. checks the output ``seg_meta`` against the index: build params
       must match, except that params added after the index was built
       (e.g. ``num_id_buckets``) are adopted on first publish (r5
       review); its doc-id range must not overlap a remaining segment or
       another writer's unexpired range claim (F15: a direct
       ``build_index`` with a hand-picked offset becomes a loud error,
       not corrupt ranges). Re-publishing the same segment is fine;
    3. splices ``inputs`` out and ``segment`` in, or, when ``seg_meta``
       is None (every doc of the run was tombstoned), drops the inputs
       and folds their doc-id high-water mark into the highest remaining
       segment, so appends never reuse ids;
    4. retires the inputs (their dirs stay on disk for the retire grace)
       and, when ``covered``, registers the covered-tombstone set staged
       under ``segment`` for deferred GC;
    5. releases ``segment``'s name, range and pin claims.

    A base build creates root meta. Returns the segment now holding the
    output (``segment``, or the one a drop folded into), or None when a
    drop would leave no segment (nothing is written)."""
    now = _time.time()
    with meta_lock(index_dir):
        fresh = read_meta_for_update(index_dir) or {"segments": {}, "params": {}}
        if any(n not in fresh["segments"] for n in inputs):
            raise _InputsTaken(
                "input segments changed during the merge (a concurrent "
                "merge/compact took them) — re-run")
        rest = {n: s for n, s in fresh["segments"].items() if n not in inputs}
        params = fresh["params"]
        if seg_meta is None:
            if not rest:
                return None
            into = max(rest, key=lambda n: rest[n]["max_doc_id"])
            hwm = max(fresh["segments"][n]["max_doc_id"] for n in inputs)
            rest[into] = {**rest[into],
                          "max_doc_id": max(rest[into]["max_doc_id"], hwm)}
        else:
            into = segment
            shared = {k: seg_meta[k] for k in _SHARED_PARAMS if k in seg_meta}
            legacy = {k for k in shared if k not in params}
            if params and {k: v for k, v in shared.items() if k not in legacy} != params:
                raise ValueError(f"segment params mismatch: {shared} vs index {params}")
            params = {**params, **{k: shared[k] for k in legacy}}
            lo, hi = seg_meta["doc_id_offset"], seg_meta["max_doc_id"]
            held = [(n, s["doc_id_offset"], s["max_doc_id"], "live segment")
                    for n, s in rest.items()]
            held += [(n, r["lo"], r["hi"], "in-flight claim of segment")
                     for n, r in fresh.get("reserved_ranges", {}).items()
                     if now - r.get("ts", now) < RESERVATION_TTL_S]
            for n, a, z, what in held:
                if n != segment and not (hi < a or lo > z):
                    raise ValueError(
                        f"segment {segment} doc-id range [{lo},{hi}] overlaps "
                        f"{what} {n} [{a},{z}] — claim id space via "
                        "claim_segment/append_segment")
            rest[segment] = {k: seg_meta[k] for k in (
                "n_docs", "sum_dl", "doc_id_offset", "max_doc_id")}
        meta = {**fresh, "params": params, "segments": rest}
        if inputs:
            meta["retired"] = {**fresh.get("retired", {}), **{n: now for n in inputs}}
        if covered:
            meta["covered_gc"] = {**fresh.get("covered_gc", {}), segment: now}
        atomic_write_meta(index_dir, _released(meta, segment) or meta)
    return into


def _released(meta: dict, segment: str) -> dict | None:
    """``meta`` without ``segment``'s claims; None when it holds none."""
    held = [k for k in _CLAIM_KEYS if segment in meta.get(k, {})]
    if not held:
        return None
    return {**meta, **{k: {n: v for n, v in meta[k].items() if n != segment}
                       for k in held}}


def abort_segment(index_dir: str, segment: str) -> None:
    """The abort step of ``segment_transaction``: remove ``segment``'s
    unpublished output dir and staged covered-tombstone set, and release
    its claims (no meta write when it holds none)."""
    shutil.rmtree(os.path.join(index_dir, "segments", segment), ignore_errors=True)
    shutil.rmtree(os.path.join(index_dir, "tombstones_covered", segment),
                  ignore_errors=True)
    write_meta_locked(index_dir, lambda fresh: _released(fresh, segment))


#: claim heartbeat period as a fraction of RESERVATION_TTL_S (6 h at the
#: 24 h default — four beats per TTL window, so a single missed beat
#: never expires a live claim)
RESERVATION_HEARTBEAT_FRACTION = 0.25


def touch_reservations(index_dir: str, segment: str) -> bool:
    """Re-stamp the TTL clock on ``segment``'s name, doc-range and
    tombstone-pin claims under the meta lock. Returns False when none exists
    (already consumed by the publish, released, or expired-and-pruned —
    in the last case the space may belong to someone else now, so the
    toucher must NOT re-create it). One tiny locked meta rewrite."""
    out = {"touched": False}

    def mut(fresh):
        now = _time.time()
        upd = {k: {**fresh[k], segment: now if k == "reserved"
                   else {**fresh[k][segment], "ts": now}}
               for k in _CLAIM_KEYS if segment in fresh.get(k, {})}
        out["touched"] = bool(upd)
        return {**fresh, **upd} if upd else None

    write_meta_locked(index_dir, mut)
    return out["touched"]


@_contextmanager
def claim_heartbeat(index_dir: str, segment: str):
    """Keep ``segment``'s claims (``claim_segment``) alive while a pack
    job runs: a daemon thread re-stamps their TTL clocks every
    ``RESERVATION_TTL_S * RESERVATION_HEARTBEAT_FRACTION`` seconds.

    Without it, any append/merge whose Spark job outlives
    ``RESERVATION_TTL_S`` (plausible at the 10^12-file scale this engine
    targets) silently loses its claim to a competing writer's expiry
    prune and is guaranteed to die at the publish overlap guard — the
    whole multi-hour job discarded at the very last step (r5 review).
    The TTL stays the crash-recovery story: a writer that dies stops
    beating and its claims expire as before. Heartbeat failures are
    swallowed (best-effort — a transient lock error must not kill the
    pack; the next beat retries). The interval re-reads the module
    globals each tick so tests can shrink both."""
    stop = _threading.Event()

    def beat():
        while not stop.wait(RESERVATION_TTL_S * RESERVATION_HEARTBEAT_FRACTION):
            try:
                touch_reservations(index_dir, segment)
            except Exception:
                pass  # best-effort; TTL expiry remains the backstop

    t = _threading.Thread(
        target=beat, daemon=True, name=f"claim-heartbeat-{segment}"
    )
    t.start()
    try:
        yield
    finally:
        stop.set()
        t.join(timeout=5.0)


def segment_transaction(
    index_dir: str,
    write,
    *,
    segment: str | None = None,
    n_docs: int | None = None,
    tomb_gen: str | None = None,
    inputs=(),
):
    """The one segment transaction behind ``append_segment`` and every
    merge, compaction and fully-deleted drop: claim -> write -> publish,
    or abort. Visibility is one root-meta swap, the Spark analog of the
    reference's commit-interval snapshot (``DiskStorageService.java:62-95``).

    1. claim (``claim_segment``): one locked meta write holding the
       output name (auto-allocated when ``segment`` is None), the doc-id
       range for ``n_docs`` docs and the pin on tombstone generation
       ``tomb_gen``;
    2. write: ``write(name, offset)`` writes ``segments/<name>`` (and any
       covered-tombstone set staged under ``name``) while
       ``claim_heartbeat`` keeps the claims alive. It returns
       ``(seg_meta, covered)`` (``seg_meta`` None to drop the
       ``inputs``), or None to publish nothing;
    3. publish (``publish_segment``): one locked meta write splicing
       ``inputs`` out and the output in, releasing the claims;
    4. abort (``abort_segment``) on any failure, or when there is
       nothing to publish: the output dir and staged set are removed and
       the claims released. An explicit-named (resumable) append keeps
       its claim and dir on failure, so a re-run gets the same offset
       back and resumes its committed lineage stages; abandonment frees
       the claim by TTL.

    Returns ``(seg_meta, segment now holding the output)``, or None when
    nothing was published."""
    name, offset = claim_segment(index_dir, segment, n_docs=n_docs, tomb_gen=tomb_gen)
    try:
        with claim_heartbeat(index_dir, name):
            out = write(name, offset)
        into = None if out is None else publish_segment(
            index_dir, name, out[0], inputs=inputs, covered=out[1])
    except BaseException:
        if segment is None:
            try:
                abort_segment(index_dir, name)
            except Exception:
                pass  # never mask the failure; the TTL frees the claims
        raise
    if into is None:
        abort_segment(index_dir, name)
        return None
    if out[0] is None:  # dropped: the output dir holds only empty docstats
        shutil.rmtree(os.path.join(index_dir, "segments", name), ignore_errors=True)
    return out[0], into


def replay_quarantine(
    spark: SparkSession,
    index_dir: str,
    segment: str = "seg_000000",
    **kwargs,
) -> dict | None:
    """Re-ingest a segment's dead-letter rows from the quarantine's own
    row images (no source read — the reference's capture-and-replay,
    ``DataSyncServiceImpl.java:106-206``). Pass relaxed/fixed build
    kwargs (e.g. a higher ``max_content_bytes``); rows that still fail
    are re-quarantined in the new segment. Returns the new segment's
    meta, or None if the quarantine is empty/absent.

    Replay is consume-once: on success the source quarantine is renamed
    to ``quarantine.replayed-<new segment>`` (audit trail kept), so a
    retry loop or second call can't re-ingest the same rows as duplicate
    doc ids — the reference likewise removes replayed dead-letter rows
    (``DataSyncServiceImpl.java:193-204``)."""
    q = os.path.join(index_dir, "segments", segment, "quarantine")
    if not os.path.exists(q):
        return None
    # recursive: a tiered merge relocates its inputs' pending quarantines
    # under the output segment as quarantine/<old segment name>/
    rows = (
        spark.read.option("recursiveFileLookup", "true").parquet(q).drop("reason")
    )
    if not rows.head(1):
        return None
    meta = append_segment(spark, rows, index_dir, **kwargs)
    os.replace(q, q + f".replayed-{meta['segment']}")
    return meta


def next_segment_name(names) -> str:
    """Next auto segment name: max NUMERIC seg_NNNNNN suffix + 1 (non-
    numeric names — e.g. batchId-derived streaming segments — are skipped,
    never collided with). NOT len(names): after a partial (tiered) merge
    the count shrinks while high-numbered segments survive."""
    import re as _re

    nums = [
        int(m.group(1)) for n in names if (m := _re.match(r"^seg_(\d+)$", n))
    ]
    return f"seg_{1 + max(nums, default=-1):06d}"


def append_segment(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    segment: str | None = None,
    **kwargs,
) -> dict:
    """Incremental append (CDC-analog): new docs become a new segment with
    doc_ids offset to the next range boundary so ranges never straddle
    segments, published through ``segment_transaction``.

    ``segment``: explicit name (e.g. a batchId-derived name for
    exactly-once streaming appends); auto-numbered when omitted. If the
    name already exists the append is a NO-OP returning the existing
    segment's meta — the idempotence hook ``stream_to_index`` relies on.
    An auto-named append that fails leaves nothing behind and is NOT
    resumable; an explicit-named one keeps its claim and lineage stages.

    Concurrency: safe to call from competing writers — the doc-id space
    is CLAIMED under the meta lock (``claim_segment``) before the pack
    job runs, so parallel appends get disjoint ranges and only the meta
    flips serialize (IndexWriter semantics). Sizing the claim reuses the
    id-assignment bucket-count pass (``docids.bucket_counts`` — the
    counts sum to the row count), so it costs no scan beyond what the
    build needs anyway."""
    root = os.path.join(index_dir, "meta.json")
    with open(root) as f:
        meta = json.load(f)
    if segment is not None and segment in meta["segments"]:
        seg_dir = os.path.join(index_dir, "segments", segment)
        with open(os.path.join(seg_dir, "seg_meta.json")) as f:
            return json.load(f)
    for k in ("num_shards", "block_size", "use_stopwords", "k1", "b", "range_size",
              "store_positions", "num_id_buckets"):
        if k not in meta["params"]:  # index built before this param existed
            continue
        if k in kwargs and kwargs[k] != meta["params"][k]:
            raise ValueError(
                f"append_segment: param {k}={kwargs[k]} conflicts with index "
                f"params ({meta['params'][k]}) — segments must share build params"
            )
        kwargs[k] = meta["params"][k]
    # Size the id-space claim from the id-assignment bucket counts (one
    # aggregation over the batch) instead of a separate docs.count()
    # scan; when no quarantine filter will drop rows, the derived
    # offsets feed straight into the build so the pass runs ONCE.
    if kwargs.get("docs_have_ids"):
        n_new = docs.count()
        shared_offsets = None
    else:
        nb = kwargs.get("num_id_buckets", 256)
        counts = bucket_counts(docs, num_buckets=nb)
        n_new = sum(counts.values())
        shared_offsets = (
            offsets_from_counts(counts, nb)
            if kwargs.get("max_content_bytes") is None else None
        )

    def write(name: str, offset: int):
        return _write_segment(spark, docs, index_dir, segment=name, doc_id_offset=offset,
                              id_offsets=shared_offsets, **kwargs), False

    return segment_transaction(index_dir, write, segment=segment, n_docs=n_new)[0]
