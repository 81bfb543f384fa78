"""Correctness checks, all off the clock.

Sampled answers are compared with the exhaustive BM25 oracle
(``dbsyncer_spark/oracle/bm25_oracle.py``) over the documents the index
holds: the same rank order and scores within 1e-9, as tier-1 requires.
Like the engine (and Lucene before a merge), the oracle's corpus
statistics count tombstoned versions; only live documents may be
returned.
"""

from __future__ import annotations

from dbsyncer_spark.functions.tokenizer import tokenize_py
from dbsyncer_spark.oracle.bm25_oracle import bm25_oracle_topk, corpus_stats

SCORE_TOL = 1e-9


class Oracle:
    """Oracle over an index's current documents.

    ``content_of``: commit -> content of every version ever written;
    ``live_commits``: the commits of the live version of each key."""

    def __init__(self, idx, content_of: dict[str, str], live_commits: set[str]):
        rows = idx.docstats().select("doc_id", "repo", "lang", "commit").collect()
        self.docs = {r.doc_id: content_of[r.commit] for r in rows}
        self.fields = {r.doc_id: {"repo": r.repo, "lang": r.lang} for r in rows}
        self.live = {r.doc_id for r in rows if r.commit in live_commits}
        self.pre = corpus_stats(self.docs)
        self.tf = self.pre[0]

    def topk(self, query: str, k: int, pred=None):
        live = self.live
        ok = (lambda d: d in live) if pred is None else (lambda d: d in live and pred(d))
        return bm25_oracle_topk(self.docs, query, k=k, doc_pred=ok, precomputed=self.pre)

    def filtered(self, query: str, k: int, filt: tuple[str, str]):
        col, val = filt
        return self.topk(query, k, lambda d: self.fields[d][col] == val)

    def parsed(self, query: str, k: int):
        """``+must should -mustnot field:value`` units (the stream's grammar)."""
        scored, must, mustnot, fields = [], [], [], []
        for unit in query.split():
            if ":" in unit:
                fields.append(tuple(unit.split(":", 1)))
            elif unit.startswith("-"):
                mustnot += tokenize_py(unit[1:])
            elif unit.startswith("+"):
                must += tokenize_py(unit[1:])
                scored += tokenize_py(unit[1:])
            else:
                scored += tokenize_py(unit)
        tf, meta = self.tf, self.fields

        def pred(d):
            return (all(t in tf[d] for t in must) and not any(t in tf[d] for t in mustnot)
                    and all(meta[d][c] == v for c, v in fields))

        return self.topk(" ".join(scored), k, pred)


def same(got, want) -> bool:
    return (len(got) == len(want)
            and all(g[0] == w[0] and abs(g[1] - w[1]) <= SCORE_TOL
                    for g, w in zip(got, want)))


def check_answers(oracle: Oracle, answers: dict[str, list], batch_queries: int) -> list[str]:
    """Compare recorded ``(op, result)`` pairs (of a batch op, its first
    ``batch_queries`` queries); returns one line per mismatch."""
    bad = []
    for kind, pairs in answers.items():
        for op, got in pairs:
            if kind == "plain":
                todo = [(op.query, got, oracle.topk(op.query, op.k))]
            elif kind == "filtered":
                todo = [(op.query, got, oracle.filtered(op.query, op.k, op.filt))]
            elif kind == "parsed":
                todo = [(op.query, got, oracle.parsed(op.query, op.k))]
            else:
                todo = [(q, got.get(f"q{i}", []), oracle.topk(q, op.k))
                        for i, q in enumerate(op.batch[:batch_queries])]
            for q, g, w in todo:
                if not same(g, w):
                    bad.append(f"{kind} {q!r} k={op.k} {op.filt or ''}: "
                               f"got {g[:3]}... want {w[:3]}...")
    return bad


def zero_jobs(spark, fn) -> list[int]:
    """Job ids that ``fn()`` launched (job group + statusTracker)."""
    sc = spark.sparkContext
    group = "perfbench-zero-job-check"
    sc.setJobGroup(group, "local tier ops must launch no Spark job")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))
