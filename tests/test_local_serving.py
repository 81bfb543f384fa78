"""warm_local driver-side serving fast path (r4 VERDICT #3): rank- and
score-identity vs the cluster path, the zero-Spark-jobs property that
removes the scheduling-floor latency, the budget refusal, and tombstone
masking over the local snapshot."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import zero_spark_jobs
from dbsyncer_spark.index.build import build_index
from dbsyncer_spark.index.search import SearchIndex

QUERIES = [
    dict(q="merge scan", k=10, mode="wand"),
    dict(q="merge scan", k=10, mode="exhaustive"),
    dict(q="offset shard token", k=25, mode="wand"),
    dict(q="merge", k=10, mode="wand", doc_filter=("lang", "python")),
    dict(q="merge scan", k=10, mode="wand", boosts={"merge": 2.5, "scan": 0.5}),
    dict(q="zzzqx", k=5, mode="wand"),  # miss
]


def _rows(df):
    return [(r.doc_id, r.score) for r in df.collect()]


@pytest.fixture(scope="module")
def pair(spark, corpus, tmp_path_factory):
    """(cluster SearchIndex, warm_local SearchIndex) over one build."""
    d = str(tmp_path_factory.mktemp("localidx"))
    build_index(spark, corpus, d, num_shards=8, range_size=256,
                num_id_buckets=32)
    cold = SearchIndex(spark, d)
    hot = SearchIndex(spark, d)
    hot.warm_local()
    return cold, hot


@pytest.mark.parametrize("spec", QUERIES)
def test_local_matches_cluster(pair, spec):
    cold, hot = pair
    kw = dict(spec)
    q, k, mode = kw.pop("q"), kw.pop("k"), kw.pop("mode")
    if "doc_filter" in kw:
        col, val = kw.pop("doc_filter")
        kw["doc_filter"] = F.col(col) == val
    want = _rows(cold.search(q, k=k, mode=mode, **kw))
    got = _rows(hot.search(q, k=k, mode=mode, **kw))
    assert got == want, spec  # exact float equality, not approx


def test_local_search_after_page_identity(pair):
    """Cursor paging through the local path stitches to the same rows as
    one big cluster top-K (the search_after contract)."""
    cold, hot = pair
    big = _rows(cold.search("merge scan offset", k=20, mode="exhaustive"))
    p1 = _rows(hot.search("merge scan offset", k=10, mode="exhaustive"))
    last = p1[-1]
    p2 = _rows(hot.search_after("merge scan offset",
                                after=(last[1], last[0]), k=10))
    assert p1 + p2 == big


def test_local_serving_runs_zero_spark_jobs(spark, pair):
    """The point of the fast path: a warm query — term lookup, scoring,
    filter evaluation, collect — submits NO Spark job (LocalRelation
    folds drive everything; the ~150-250 ms per-job scheduling floor is
    gone, SURVEY §8.10)."""
    _, hot = pair
    # prime the per-predicate allowed-set cache (its first evaluation is
    # also job-free, but prove steady-state separately from warm-up)
    hot.search("merge", k=5, doc_filter=F.col("lang") == "go").collect()
    with zero_spark_jobs(spark, "local_serving_gate"):
        hot.search("merge scan", k=10).collect()
        hot.search("merge", k=5, doc_filter=F.col("lang") == "go").collect()
        hot.search("merge scan", k=10, mode="exhaustive",
                   boosts={"merge": 2.0}).collect()


def test_local_budget_refusal(spark, pair, tmp_path_factory):
    _, hot = pair
    with pytest.raises(ValueError, match="warm_local budget"):
        SearchIndex(spark, hot.index_dir).warm_local(max_bytes=1)


def test_local_masks_tombstones(spark, corpus, tmp_path_factory):
    """Deletes present at warm_local time are masked by the local
    scorer's inverted dead-set mask, identical to the cluster path."""
    from dbsyncer_spark.streaming.incremental import delete_docs

    d = str(tmp_path_factory.mktemp("localtomb"))
    build_index(spark, corpus, d, num_shards=8, range_size=256,
                num_id_buckets=32)
    cold0 = SearchIndex(spark, d)
    victims = [r.doc_id for r in
               cold0.search("merge scan", k=3).select("doc_id").collect()]
    delete_docs(spark, d, cold0.docstats().filter(
        F.col("doc_id").isin(victims)).select("repo", "path"))
    cold = SearchIndex(spark, d)
    hot = SearchIndex(spark, d)
    hot.warm_local()
    want = _rows(cold.search("merge scan", k=10))
    got = _rows(hot.search("merge scan", k=10))
    assert got == want
    assert not set(victims) & {i for i, _ in got}


def test_tombstoned_multi_range_local_matches_cluster(spark, corpus,
                                                     tmp_path_factory):
    """Every warm_local loop takes the dead-mask branch on a tombstoned
    multi-range snapshot: search_rows (wand, exhaustive, filtered,
    ``after`` cursor), search_many (with and without ``doc_filter``) and
    search_parsed (``field:value`` clause, ``-mustnot``) must match the
    cluster path exactly."""
    from dbsyncer_spark.streaming.incremental import delete_docs

    d = str(tmp_path_factory.mktemp("localtomb_multi"))
    build_index(spark, corpus, d, num_shards=8, range_size=256,
                num_id_buckets=32)
    cold0 = SearchIndex(spark, d)
    victims = sorted({r.doc_id for q in ("merge scan", "offset shard token")
                      for r in cold0.search(q, k=6).collect()})
    assert len({v // 256 for v in victims}) >= 2, "victims in one range: vacuous"
    delete_docs(spark, d, cold0.docstats().filter(
        F.col("doc_id").isin(victims)).select("repo", "path"))
    cold = SearchIndex(spark, d)
    hot = SearchIndex(spark, d)
    hot.warm_local()
    assert len(hot._local["dead"]) >= 2 and len(hot._local["rows"]) > 1
    py = F.col("lang") == "python"
    for q in ("merge scan", "offset shard token", "merge"):
        for kw in (dict(mode="wand"), dict(mode="exhaustive"),
                   dict(mode="wand", doc_filter=py)):
            want = _rows(cold.search(q, k=10, **kw))
            got = hot.search_rows(q, k=10, **kw)
            assert got == want and got, (q, kw)
            assert not set(victims) & {i for i, _ in got}
    p1 = hot.search_rows("merge scan offset", k=10, mode="exhaustive")
    p2 = hot.search_rows("merge scan offset", k=10, mode="exhaustive",
                         after=(p1[-1][1], p1[-1][0]))
    assert p1 + p2 == _rows(cold.search("merge scan offset", k=20,
                                        mode="exhaustive"))
    batch = {"q1": "merge scan", "q2": "offset shard token", "q3": "merge"}
    for flt in (None, py):
        want = [tuple(r) for r in
                cold.search_many(batch, k=7, doc_filter=flt).collect()]
        got = [tuple(r) for r in
               hot.search_many(batch, k=7, doc_filter=flt).collect()]
        assert got == want and got, flt
    for q in ("merge scan lang:python", "merge offset -scan",
              "offset shard -merge lang:go"):
        want = _rows(cold.search_parsed(q, k=10))
        got = _rows(hot.search_parsed(q, k=10))
        assert got == want and got, q


def test_local_batch_matches_cluster(pair):
    """search_many over the warm_local snapshot (driver-side shared-decode
    TAAT) must return exactly the cluster batch's rows — including under
    a batch-wide filter."""
    cold, hot = pair
    batch = {"q1": "merge scan", "q2": "offset shard token",
             "q3": "getconfig", "miss": "zzzqx"}
    for flt in (None, F.col("lang") == "python"):
        want = [(r.query_id, r.doc_id, r.score)
                for r in cold.search_many(batch, k=7, doc_filter=flt).collect()]
        got = [(r.query_id, r.doc_id, r.score)
               for r in hot.search_many(batch, k=7, doc_filter=flt).collect()]
        assert got == want and len(got) > 0, flt


def test_local_batch_runs_zero_spark_jobs(spark, pair):
    _, hot = pair
    batch = {"q1": "merge scan", "q2": "offset shard"}
    hot.search_many(batch, k=5).collect()  # warm the path
    with zero_spark_jobs(spark, "local_batch_gate"):
        hot.search_many(batch, k=5).collect()


@pytest.fixture(scope="module")
def parsed_pair(spark, corpus, tmp_path_factory):
    """(cluster, warm_local) over a positional + terms-table build, for
    the parsed/gated local routes."""
    d = str(tmp_path_factory.mktemp("localparsed"))
    build_index(spark, corpus, d, num_shards=8, range_size=256,
                num_id_buckets=32, store_positions=True, store_terms=True)
    cold = SearchIndex(spark, d)
    hot = SearchIndex(spark, d)
    hot.warm_local()
    return cold, hot


PARSED_LOCAL_QS = [
    "merge +scan lang:python",        # MUST gate + field
    "merge^2.5 offset scan^0.5",      # boosts
    'merge +"merge scan"',            # phrase gate (positional local decode)
    'offset -"merge scan"',           # excluded phrase
    "(merge OR offset) AND scan",     # OR-group + operator
    "merge lang:[go TO java]",        # field range
    "offset -(sync OR shard)",        # excluded group
    "mer* offset",                    # expansion (planning jobs, local scoring)
    "merge scan",                     # pure terms
    "offset +zzzqqqx",                # unsatisfiable MUST -> empty
]


@pytest.mark.parametrize("q", PARSED_LOCAL_QS)
def test_local_parsed_matches_cluster(parsed_pair, q):
    cold, hot = parsed_pair
    want = _rows(cold.search_parsed(q, k=10))
    got = _rows(hot.search_parsed(q, k=10))
    assert got == want, q  # exact float equality


def test_local_parsed_gates_run_zero_spark_jobs(spark, parsed_pair):
    """Gated/boosted/phrase/range parsed queries on a warm_local index
    submit no Spark job (expansion units are the documented exception —
    their dictionary lookups run at planning)."""
    _, hot = parsed_pair
    gated = [q for q in PARSED_LOCAL_QS if "*" not in q]
    for q in gated:  # warm the per-predicate filter caches untimed
        hot.search_parsed(q, k=5).collect()
    with zero_spark_jobs(spark, "local_parsed_gate"):
        for q in gated:
            hot.search_parsed(q, k=5).collect()
        hot.search_many_parsed(
            {"a": "+merge lang:go scan", "b": "merge scan",
             "c": '(merge OR offset) AND scan'}, k=5).collect()


def test_local_batch_parsed_matches_cluster(parsed_pair):
    batch = {f"q{i}": q for i, q in enumerate(PARSED_LOCAL_QS)}
    cold, hot = parsed_pair
    want = [(r.query_id, r.doc_id, r.score)
            for r in cold.search_many_parsed(batch, k=7).collect()]
    got = [(r.query_id, r.doc_id, r.score)
           for r in hot.search_many_parsed(batch, k=7).collect()]
    assert got == want and len(got) > 0


def test_refresh_read_your_writes(spark, corpus, tmp_path_factory):
    """SearchIndex.refresh() — the reference's prepareSearcherForRead
    analog: a warm (dictionary + warm_local) handle picks up appends,
    deletes, and merges in place, matching a freshly opened handle
    exactly; same-generation deletes (no meta change) surface via the
    documented False-return re-pull path."""
    from dbsyncer_spark.streaming.incremental import (
        delete_docs, maybe_merge, update_docs,
    )

    d = str(tmp_path_factory.mktemp("refreshidx"))
    build_index(spark, corpus, d, num_shards=8, range_size=256,
                num_id_buckets=32)
    h = SearchIndex(spark, d)
    h.warm_driver_dictionary()
    h.warm_local()
    before = _rows(h.search("merge scan", k=10))
    assert before

    # same-generation delete: meta is untouched, refresh returns False
    # but re-pulls the local dead set — deletes become visible
    victims = [r.doc_id for r, _ in zip(
        (x for x in h.search("merge scan", k=10).collect()), range(3))]
    kdf = (h.docstats().filter(F.col("doc_id").isin(victims))
           .select("repo", "path"))
    delete_docs(spark, d, kdf)
    rows_before_refresh = h._local["rows"]
    assert h.refresh() is False
    after_del = _rows(h.search("merge scan", k=10))
    assert not ({r[0] for r in after_del} & set(victims))
    # the unchanged-meta path re-pulls ONLY the dead set: postings are
    # immutable within a generation, so the full driver re-collect must
    # be skipped on the writer's refresh cadence (r5 review) — object
    # identity proves warm_local was not re-run
    assert h._local["rows"] is rows_before_refresh
    assert set(victims) <= h._local["dead_ids"]
    # the zero-job match_all twin masks the same re-pulled dead set
    ma_ids = {r["doc_id"] for r in h.match_all(k=1_000_000).collect()}
    assert not (ma_ids & set(victims))

    # snapshot-advancing writes: append + merge -> refresh returns True
    extra = corpus.limit(40).withColumn(
        "repo", F.concat(F.lit("zz_"), F.col("repo")))
    update_docs(spark, d, extra, key_cols=("repo", "path"))
    maybe_merge(spark, d, merge_at=2)
    assert h.refresh() is True
    assert h._local is not None and h._driver_dict is not None, \
        "refresh dropped the warm tiers instead of re-establishing them"

    fresh = SearchIndex(spark, d)
    fresh.warm_local()
    for q in ("merge scan", "offset shard token", "zz"):
        assert _rows(h.search(q, k=10)) == _rows(fresh.search(q, k=10)), q
    # and the refreshed handle still runs zero-job local serving
    with zero_spark_jobs(spark, "refresh_local_gate"):
        h.search("merge scan", k=10).collect()


@pytest.mark.parametrize("spec", QUERIES)
def test_search_rows_identity(pair, spec):
    """search_rows (the no-DataFrame serving surface, r5) returns
    exactly the tuples search().collect() yields — every query shape,
    exact float equality."""
    cold, hot = pair
    kw = dict(spec)
    q, k, mode = kw.pop("q"), kw.pop("k"), kw.pop("mode")
    if "doc_filter" in kw:
        col, val = kw.pop("doc_filter")
        kw["doc_filter"] = F.col(col) == val
    want = _rows(cold.search(q, k=k, mode=mode, **kw))
    assert hot.search_rows(q, k=k, mode=mode, **kw) == want, spec
    # and the cold (no warm_local) fallback produces the same rows
    assert cold.search_rows(q, k=k, mode=mode, **kw) == want, spec


def test_search_rows_after_cursor(pair):
    cold, hot = pair
    big = _rows(cold.search("merge scan offset", k=20, mode="exhaustive"))
    p1 = hot.search_rows("merge scan offset", k=10, mode="exhaustive")
    last = p1[-1]
    p2 = hot.search_rows("merge scan offset", k=10, mode="exhaustive",
                         after=(last[1], last[0]))
    assert p1 + p2 == big


def test_search_rows_zero_spark_jobs(spark, pair):
    """The whole point of the rows surface: not merely zero jobs but
    zero DataFrame construction — gate the job half here (py4j traffic
    is not observable from statusTracker, but createDataFrame would
    show up as neither; the latency win is recorded in bench.py as
    query_p50_ms_rows)."""
    _, hot = pair
    hot.search_rows("merge scan", k=5)  # prime
    with zero_spark_jobs(spark, "rows_serving_gate"):
        hot.search_rows("merge scan", k=10)
        hot.search_rows("merge", k=5, doc_filter=F.col("lang") == "go")
        hot.search_rows("zzzqx", k=5)


def test_decode_cache_populated_and_bounded(pair):
    """The warm_local decoded-postings LRU (r5) actually serves the
    kernels — populated after queries, bytes within its budget — and the
    identity tests above all ran through it (it is on by default), so a
    cache bug cannot hide from this file."""
    _, hot = pair
    cache = hot._local["decoded"]
    assert cache is not None
    hot.search_rows("merge scan offset", k=10)
    assert len(cache._rows) > 0
    assert 0 < cache._bytes <= cache.max_bytes
    # default budget: 4x the warm_local on-disk budget
    assert cache.max_bytes == 4 * hot._local_budget


def test_decode_cache_disabled_identity(spark, pair, corpus,
                                        tmp_path_factory):
    """decode_cache_bytes=0 disables the LRU; results stay identical
    (the seam degrades to impacts computed per call) for single queries,
    batches and parsed queries: cache on, cache off and the cluster path
    agree exactly."""
    cold, hot = pair
    off = SearchIndex(spark, hot.index_dir)
    off.warm_local(decode_cache_bytes=0)
    assert off._local["decoded"] is None
    for spec in QUERIES:
        kw = dict(spec)
        q, k, mode = kw.pop("q"), kw.pop("k"), kw.pop("mode")
        if "doc_filter" in kw:
            col, val = kw.pop("doc_filter")
            kw["doc_filter"] = F.col(col) == val
        want = _rows(cold.search(q, k=k, mode=mode, **kw))
        assert off.search_rows(q, k=k, mode=mode, **kw) == want, spec
    batch = {"q1": "merge scan", "q2": "offset shard token",
             "q3": "getconfig", "miss": "zzzqx"}
    for flt in (None, F.col("lang") == "python"):
        want = [tuple(r) for r in
                cold.search_many(batch, k=7, doc_filter=flt).collect()]
        assert want, flt
        for idx in (hot, off):
            got = [tuple(r) for r in
                   idx.search_many(batch, k=7, doc_filter=flt).collect()]
            assert got == want, flt
    for q in ("merge +scan lang:python", "merge^2.5 offset scan^0.5",
              "(merge OR offset) AND scan", "offset -(sync OR shard)",
              "merge scan"):
        want = _rows(cold.search_parsed(q, k=10))
        assert want, q
        assert _rows(hot.search_parsed(q, k=10)) == want, q
        assert _rows(off.search_parsed(q, k=10)) == want, q


def test_forced_batch_wand_matches_taat(pair):
    """search_many's per-query WAND (forced on the cluster with
    prune_min_postings=0) and its shared TAAT (the default at this size,
    and the warm_local kernel over cached impacts) return the same rows
    and exact scores, with and without a batch-wide filter."""
    cold, hot = pair
    batch = {"q1": "merge scan", "q2": "offset shard token",
             "q3": "merge offset import return", "q4": "getconfig"}
    for flt in (None, F.col("lang") == "python"):
        wand = [tuple(r) for r in cold.search_many(
            batch, k=5, prune_min_postings=0, doc_filter=flt).collect()]
        taat = [tuple(r) for r in cold.search_many(
            batch, k=5, prune_min_postings=1 << 62, doc_filter=flt).collect()]
        local = [tuple(r) for r in
                 hot.search_many(batch, k=5, doc_filter=flt).collect()]
        assert wand and wand == taat == local, flt


def test_local_frames_keep_result_schema(pair):
    """warm_local results are LocalRelations built from arrow tables;
    each keeps its result StructType, nullable flags included."""
    from dbsyncer_spark.index.search import _QSCORE_SCHEMA_T, _SCORE_SCHEMA_T

    _, hot = pair
    assert hot.search("merge scan", k=5).schema == _SCORE_SCHEMA_T
    assert hot.search_parsed("merge +scan", k=5).schema == _SCORE_SCHEMA_T
    assert hot.search_many({"a": "merge", "b": "offset scan"},
                           k=5).schema == _QSCORE_SCHEMA_T


def test_local_empty_results_reuse_one_frame(spark, pair, monkeypatch):
    """A no-hit warm_local query (a typo) returns a cached empty frame of
    the right schema: no Spark job, and no second frame is built for a
    schema already served."""
    import dbsyncer_spark.index.search as search_mod

    _, hot = pair
    built, real_empty_df = [], search_mod.empty_df

    def counting_empty_df(spark_, schema):
        built.append(schema)
        return real_empty_df(spark_, schema)

    monkeypatch.setattr(search_mod, "empty_df", counting_empty_df)
    calls = [
        lambda: hot.search_parsed("zzzqx", k=5),
        lambda: hot.search_parsed("merge +zzzqqqx", k=5),
        lambda: hot.search_many({"a": "zzzqx", "b": "qqzzx"}, k=5),
        lambda: hot.search_many_parsed({"a": "merge +zzzqqqx"}, k=5),
    ]
    first = [f() for f in calls]  # may build (at most) one frame per schema
    n_built = len(built)
    assert n_built <= 2
    with zero_spark_jobs(spark, "empty_frame_gate"):
        for f, df0 in zip(calls, first):
            df = f()
            assert df is df0
            assert df.collect() == []
    assert len(built) == n_built
    assert [f.name for f in first[0].schema.fields] == ["doc_id", "score"]
    assert first[2].schema == first[3].schema
    assert [f.name for f in first[2].schema.fields] == [
        "query_id", "doc_id", "score"]


def test_decode_cache_survives_tombstone_refresh(spark, corpus,
                                                 tmp_path_factory):
    """Within one meta generation postings are immutable, so a
    tombstone-only refresh() must keep the decoded cache (same object)
    while results reflect the delete."""
    from dbsyncer_spark.streaming.incremental import delete_docs

    d = str(tmp_path_factory.mktemp("dcache_refresh"))
    build_index(spark, corpus, d, num_shards=8, range_size=256,
                num_id_buckets=32)
    idx = SearchIndex(spark, d)
    idx.warm_local()
    before = idx.search_rows("merge scan", k=5)
    assert before
    cache = idx._local["decoded"]
    assert len(cache._rows) > 0
    victim = before[0][0]
    delete_docs(spark, d, idx.docstats().filter(
        F.col("doc_id") == victim).select("repo", "path"))
    assert idx.refresh() is False  # same meta generation: tombstone-only
    assert idx._local["decoded"] is cache  # cache kept, not rebuilt
    after = idx.search_rows("merge scan", k=5)
    assert victim not in [d_ for d_, _ in after]
    # cluster path agrees (cache returned live-doc-identical scores)
    want = [(r.doc_id, r.score)
            for r in SearchIndex(spark, d).search("merge scan", k=5).collect()]
    assert after == want


def test_match_all_local_identity_and_zero_jobs(spark, pair):
    """match_all on a warm_local snapshot — the reference UI's default
    filter-only newest-first browse — must return the cluster path's
    exact rows (any sort_cols / doc_filter / cursor combination) while
    submitting ZERO Spark jobs (r5: the last serving shape still paying
    the per-job scheduling floor after the warm_local tier)."""
    cold, hot = pair

    def rows(df):
        return [tuple(r) for r in df.collect()]

    specs = [
        dict(),  # default (doc_id desc) newest-first page
        dict(k=25),
        dict(doc_filter=F.col("lang") == "python"),
        dict(sort_cols=[("lang", True), ("dl", False)], k=15),
        dict(doc_filter=F.col("dl") > 10, sort_cols=[("dl", True)], k=7),
        dict(doc_filter=F.col("lang") == "nosuchlang"),  # empty result
    ]
    for kw in specs:
        assert rows(hot.match_all(**kw)) == rows(cold.match_all(**kw)), kw

    # cursor paging: two local pages stitch to one big cluster page
    p1 = hot.match_all(k=10).collect()
    last = p1[-1]
    p2 = hot.match_all(k=10, after=(last["doc_id"], last["doc_id"])).collect()
    assert [tuple(r) for r in p1 + p2] == rows(cold.match_all(k=20))

    # the filter-only parsed route rides the same twin
    want = [(r.doc_id, r.score)
            for r in cold.search_parsed("lang:go", k=12).collect()]
    got = [(r.doc_id, r.score)
           for r in hot.search_parsed("lang:go", k=12).collect()]
    assert got == want

    with zero_spark_jobs(spark, "matchall_local_gate"):
        hot.match_all(doc_filter=F.col("lang") == "go", k=10).collect()
        hot.match_all(sort_cols=[("dl", True)], k=5).collect()
        hot.search_parsed("lang:go", k=12).collect()


def test_match_all_local_null_sort_falls_back(spark, tmp_path_factory):
    """A sort column containing NULLs must route warm_local match_all
    back to the cluster path (Spark: NULLS FIRST asc / LAST desc;
    pandas: NaN pinned per na_position regardless of direction — the
    local twin would return a different page, and cursor comparisons
    would raise on object-dtype None). Identity, not speed, wins."""
    rows = [
        ("r", f"p{i}.py", f"c{i}", None if i % 3 == 0 else "go",
         f"merge scan offset tok{i}")
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    d = str(tmp_path_factory.mktemp("nullsort"))
    build_index(spark, df, d, num_shards=2, range_size=64, num_id_buckets=4)
    cold = SearchIndex(spark, d)
    hot = SearchIndex(spark, d)
    hot.warm_local()
    for sort_cols in ([("lang", True)], [("lang", False), ("dl", True)]):
        want = [tuple(r) for r in cold.match_all(sort_cols=sort_cols, k=12).collect()]
        got = [tuple(r) for r in hot.match_all(sort_cols=sort_cols, k=12).collect()]
        assert got == want, sort_cols
    # the asc page actually exercises NULL placement (NULLS FIRST)
    first = cold.match_all(sort_cols=[("lang", True)], k=12).collect()
    assert any(r["lang"] is None for r in first), "no null rows on page: vacuous"
    # non-null sorts on the same snapshot still serve locally (zero jobs)
    hot.match_all(k=5).collect()  # prime caches
    with zero_spark_jobs(spark, "nullsort_gate"):
        hot.match_all(k=5).collect()


# (predicate, lowered to numpy?) over the NULL-metadata index below
_LOWERING_CASES = [
    (lambda: F.col("lang") == "go", True),
    (lambda: F.col("lang") == F.lit(None), True),  # = NULL: nothing
    (lambda: ~(F.col("lang") == F.lit(None)), True),  # !(NULL) is NULL
    (lambda: ~(F.col("lang") == "go"), True),  # NULL langs stay out
    (lambda: (F.col("lang") == "go") | (F.col("lang") == F.lit(None)), True),
    (lambda: (F.col("lang") == "go") | F.col("lang").isNull(), True),
    (lambda: ~(F.lit(None) & (F.col("lang") == "go")), True),
    (lambda: (F.col("lang") != "go") & (F.col("dl") > 3), True),
    (lambda: F.col("lang").eqNullSafe("go"), True),
    (lambda: F.col("lang").eqNullSafe(None), True),
    (lambda: ~F.col("lang").eqNullSafe(None), True),
    (lambda: F.col("lang").eqNullSafe(F.col("repo")), True),
    (lambda: F.col("lang").isin("go", "python"), True),
    (lambda: F.col("lang").isin("go", None), True),
    (lambda: ~F.col("lang").isin("go", None), True),
    (lambda: F.col("repo").isin("r0", "r2"), True),
    (lambda: F.col("lang").isNull(), True),
    (lambda: F.col("lang").isNotNull(), True),
    (lambda: F.col("dl") > 5, True),
    (lambda: F.col("dl") <= 3, True),
    (lambda: F.col("dl").between(3, 6), True),
    (lambda: F.lit(4) < F.col("dl"), True),
    (lambda: F.col("dl").isin(2, 4), True),
    (lambda: F.col("doc_id") >= 2 ** 33, True),  # long literal: nothing
    (lambda: F.lit(True), True),
    (lambda: F.lit(False) | (F.col("repo") == "r1"), True),
    # Spark-evaluated forms
    (lambda: F.expr("lang = 'go'"), False),
    (lambda: F.col("lang").startswith("g"), False),
    (lambda: F.col("dl") == 2.5, False),  # float literal
    (lambda: F.col("lang") == 3, False),  # string vs int: Spark raises
    (lambda: F.col("lang") == "it's", False),  # backslash-escaped literal
    (lambda: F.col("lang") < "h", False),  # string ordering
    (lambda: F.col("LANG") == "go", False),  # Spark resolves names
]                                             # case-insensitively


def test_doc_filter_lowering_matches_spark(spark, tmp_path_factory):
    """A warm_local filter's allowed ids — lowered to numpy, or evaluated
    by Spark for forms outside the lowered grammar — equal Spark's own
    filter over the persisted docstats minus the tombstoned doc, as exact
    per-range id sets, on metadata with NULLs. The lowering must take
    the predicates it covers (Kleene logic, ``<=>``, IN with NULL,
    integer comparisons) and leave the rest to Spark."""
    from dbsyncer_spark.index import local_filter
    from dbsyncer_spark.streaming.incremental import delete_docs

    langs = [None, "go", "python"]
    rows = [
        (f"r{i % 3}", f"p{i}.py", f"c{i}", langs[i % 4 % 3],
         " ".join(["merge", "scan"] + [f"tok{j}" for j in range(i % 7)]))
        for i in range(80)
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    d = str(tmp_path_factory.mktemp("lowering"))
    build_index(spark, df, d, num_shards=2, range_size=16, num_id_buckets=4)
    victim = SearchIndex(spark, d).docstats().filter(
        (F.col("lang") == "go") & (F.col("dl") > 5)).orderBy("doc_id").first()
    delete_docs(spark, d, spark.createDataFrame(
        [(victim.repo, victim.path)], "repo string, path string"))
    cold = SearchIndex(spark, d)
    hot = SearchIndex(spark, d)
    hot.warm_local()
    loc = hot._local
    assert loc["dead_ids"] == {victim.doc_id}

    covered, victim_matched, raised = set(), False, 0
    for make, lowered in _LOWERING_CASES:
        pred = make()
        key = str(pred)
        assert (local_filter.lower(key, loc["docstats_pdf"],
                                   loc["docstats_schema"], {})
                is not None) == lowered, key
        try:
            spark_rows = cold.docstats().filter(pred).select("doc_id").collect()
        except Exception as e:  # ANSI: 'go' does not cast to a number
            with pytest.raises(type(e)):  # the same error, never a
                hot._local_allowed_of(pred)  # silently empty id set
            raised += 1
            continue
        want: dict = {}
        for r in spark_rows:
            if r.doc_id != victim.doc_id:
                want.setdefault(r.doc_id // 16, []).append(r.doc_id)
            else:
                victim_matched = True
        got = hot._local_allowed_of(pred)
        assert {rid: ids.tolist() for rid, ids in got.items()} == \
            {rid: sorted(ids) for rid, ids in want.items()}, key
        covered |= set(want)
        if lowered:  # the Spark twin of docstats is built on first need
            assert "docstats_df" not in loc, key
    assert len(covered) > 1, "one range only: the range split is untested"
    assert victim_matched, "no predicate matched the tombstoned doc"
    assert raised == 1  # only the string-vs-int comparison
    assert "docstats_df" in loc
    pred = F.col("lang") == "go"
    assert hot.search_rows("merge scan", k=50, doc_filter=pred) == \
        cold.search_rows("merge scan", k=50, doc_filter=pred)


def test_first_filter_use_sends_one_py4j_command(spark, pair, monkeypatch):
    """The first use of a plain equality filter on warm_local costs one
    py4j command (the ``str()`` that keys the cache) and no Spark job:
    the predicate is lowered to numpy from its rendering. A Spark
    version that renders Columns differently fails here instead of
    silently falling back to the ~20 ms Spark evaluation."""
    from py4j.clientserver import ClientServerConnection

    cold, hot = pair
    h = SearchIndex(spark, hot.index_dir)
    h.warm_local()
    pred = F.col("lang") == "python"
    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        sent.append(command)
        return send(self, command)

    with zero_spark_jobs(spark, "first_filter_gate"):
        monkeypatch.setattr(ClientServerConnection, "send_command", counting)
        got = h.search_rows("merge scan", k=10, doc_filter=pred)
        monkeypatch.undo()
    assert len(sent) <= 1, sent
    assert got and got == cold.search_rows("merge scan", k=10,
                                           doc_filter=pred)


def test_misaligned_direct_append_warm_local_identity(spark, corpus, tmp_path_factory):
    """A direct build_index append at a NON-range-aligned offset passes
    the publish overlap guard and legally shares a docId-range with its
    neighbor — the range then holds TWO posting rows per common term.
    warm_local's old tid -> single-row map silently dropped one, so the
    warm path scored only one segment's postings for that term while
    the cluster path (which iterates every row) scored both (r5
    review)."""
    from dbsyncer_spark.index.build import build_index as bi

    d = str(tmp_path_factory.mktemp("misaligned"))
    pdf_all = corpus.limit(120).toPandas()
    a = spark.createDataFrame(pdf_all.iloc[:70])
    b = spark.createDataFrame(pdf_all.iloc[70:])
    bi(spark, a, d, num_shards=4, range_size=256, num_id_buckets=8)
    # second segment starts at offset 70 inside range 0 (256-wide)
    bi(spark, b, d, segment="seg_manual", doc_id_offset=70,
       num_shards=4, range_size=256, num_id_buckets=8)
    cold = SearchIndex(spark, d)
    hot = SearchIndex(spark, d)
    hot.warm_local()
    # sanity: the shape under test actually exists (some range holds
    # two or more records for one tid)
    assert any(len(recs) > 1 for by_tid in hot._local["rows"].values()
               for recs in by_tid.values()), "no duplicate (tid, range) rows: vacuous"
    for q in ("merge scan", "offset shard token", "merge"):
        for mode in ("wand", "exhaustive"):
            want = _rows(cold.search(q, k=15, mode=mode))
            got = _rows(hot.search(q, k=15, mode=mode))
            assert got == want and got, (q, mode)
    want = cold.search_many({"a": "merge scan", "b": "offset"}, k=8).collect()
    got = hot.search_many({"a": "merge scan", "b": "offset"}, k=8).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # cursor paging's exact score-equality also holds across the
    # duplicate-row shape (the summation-order tiebreak)
    p1 = _rows(hot.search("merge scan", k=8, mode="exhaustive"))
    p2 = _rows(hot.search_after("merge scan", after=(p1[-1][1], p1[-1][0]), k=8))
    assert p1 + p2 == _rows(cold.search("merge scan", k=16, mode="exhaustive"))


def test_misaligned_append_gated_and_phrase_paths(spark, corpus, tmp_path_factory):
    """Same range-straddling shape, positional + terms-table build: the
    gated batch kernel's per-tid decode dicts and the positional decode
    must concatenate duplicate (range, term) rows, not overwrite
    (r5 review — idx_of[tid] silently kept only the last row)."""
    from dbsyncer_spark.index.build import build_index as bi

    d = str(tmp_path_factory.mktemp("misgated"))
    pdf_all = corpus.limit(120).toPandas()
    kw = dict(num_shards=4, range_size=256, num_id_buckets=8,
              store_positions=True, store_terms=True)
    bi(spark, spark.createDataFrame(pdf_all.iloc[:70]), d, **kw)
    bi(spark, spark.createDataFrame(pdf_all.iloc[70:]), d,
       segment="seg_manual", doc_id_offset=70, **kw)
    cold = SearchIndex(spark, d)
    hot = SearchIndex(spark, d)
    hot.warm_local()
    for q in ("merge +scan", "merge lang:python", 'offset +"merge scan"',
              "merge^2 scan"):
        want = _rows(cold.search_parsed(q, k=12))
        got = _rows(hot.search_parsed(q, k=12))
        assert got == want, q
    batch = {"a": "+merge scan", "b": "offset lang:go", "c": "merge scan"}
    want = [(r.query_id, r.doc_id, r.score)
            for r in cold.search_many_parsed(batch, k=6).collect()]
    got = [(r.query_id, r.doc_id, r.score)
           for r in hot.search_many_parsed(batch, k=6).collect()]
    assert got == want and got
    want = _rows(cold.search_phrase("merge scan", k=10))
    got = _rows(hot.search_phrase("merge scan", k=10)) if hasattr(
        hot, "search_phrase") else want
    assert got == want


def test_refresh_ignores_writer_bookkeeping_churn(spark, corpus, tmp_path_factory):
    """Claim/pin churn (one meta write per append claim, plus
    heartbeats) must NOT tear down the warm tiers: only the VISIBLE
    snapshot (segments, params, tombstone generation) decides a full
    re-warm — the old full-dict compare re-collected every posting blob
    to the driver on each bookkeeping write (r5 review)."""
    from dbsyncer_spark.index.build import (
        abort_segment,
        build_index as bi,
        claim_segment,
        touch_reservations,
    )

    d = str(tmp_path_factory.mktemp("churn"))
    bi(spark, corpus.limit(80), d, num_shards=4, range_size=256,
       num_id_buckets=8)
    h = SearchIndex(spark, d)
    h.warm_local()
    rows_obj = h._local["rows"]
    name, _ = claim_segment(d, n_docs=10)  # claim write
    touch_reservations(d, name)           # heartbeat write
    assert h.refresh() is False, "bookkeeping churn forced a re-warm"
    assert h._local["rows"] is rows_obj, "warm_local snapshot was rebuilt"
    abort_segment(d, name)
    # a real snapshot change still re-warms
    from dbsyncer_spark.index.build import append_segment
    append_segment(spark, corpus.limit(100).exceptAll(corpus.limit(80)), d)
    assert h.refresh() is True
    assert h._local is not None and h._local["rows"] is not rows_obj
