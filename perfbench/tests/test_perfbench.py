"""Tests of the benchmark's own code: input determinism, the tail rule,
self-time arithmetic, and tiny smoke runs of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, gen, run, stats, workloads  # noqa: E402
from perfbench.trace import Span, self_times, subtree  # noqa: E402

MIX = {"plain": 12, "filtered": 6, "parsed": 2, "batch": 1}


def _inputs(seed: int) -> tuple[bytes, bytes]:
    vocab = gen.Vocabulary()
    corpus = gen.make_corpus(seed, 300, vocab)
    rounds = gen.make_rounds(seed, vocab, 20, MIX, 8)
    stream = json.dumps([[op.__dict__ for op in r] for r in rounds], sort_keys=True).encode()
    src = gen.EventSource(seed, corpus, vocab)
    log = b"".join(gen.encode_events(src.batch(200)) for _ in range(3))
    return stream, log


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = _inputs(7), _inputs(7), _inputs(8)
    assert a == b
    assert a[0] != c[0] and a[1] != c[1]


def test_event_batches_end_with_an_upsert_and_track_live_state():
    vocab = gen.Vocabulary()
    corpus = gen.make_corpus(3, 200, vocab)
    src = gen.EventSource(3, corpus, vocab)
    for _ in range(4):
        events = src.batch(100)
        assert events[-1]["event"] != "DELETE"
        ops = {e["event"] for e in events}
        assert ops == {"INSERT", "UPDATE", "DELETE"}
        for e in events:
            key = gen.key_of(e["changedRow"])
            if e["event"] == "DELETE":
                continue
            assert f"pk{key}" in e["changedRow"]["content"].split()
    for key, row in src.live.items():
        assert src.by_commit[row["commit"]] == row["content"]


def test_stream_mix_is_the_same_for_every_seed():
    def shape(seed):
        rounds = gen.make_rounds(seed, gen.Vocabulary(), 10, MIX, 4)
        return sorted((op.kind, op.k, op.filt[0] if op.filt else "",
                       0 if op.kind == "parsed" else len(op.query.split()))
                      for r in rounds for op in r)

    assert shape(1) == shape(2)


def test_repo_filters_follow_a_zipf_law_over_all_repos():
    from collections import Counter

    rounds = gen.make_rounds(5, gen.Vocabulary(), 200, MIX, 4)
    repos = Counter(op.filt[1] for r in rounds for op in r
                    if op.filt is not None and op.filt[0] == "repo")
    assert len(repos) == gen.N_REPOS  # the tail is reached, not just a few tenants
    assert repos.most_common(1)[0][0] == "repo0"  # rank order is fixed
    assert repos["repo0"] > 10 * repos[f"repo{gen.N_REPOS - 1}"]


class _FakeIndex:
    def search_rows(self, query, k, doc_filter=None):
        return []


class _FakeBench:
    sampled = dict.fromkeys(("plain", "filtered", "parsed", "batch"), 0)

    @staticmethod
    def collect_garbage():
        pass

    @staticmethod
    def column(filt):
        return filt


def test_first_use_of_a_predicate_is_timed_apart():
    java, go = gen.Op("filtered", "x", 10, ("lang", "java")), gen.Op("filtered", "x", 10, ("lang", "go"))
    parsed_go = gen.Op("parsed", "+x lang:go", 10, ("lang", "go"))
    client = workloads.Client(_FakeBench(), _FakeIndex(), None)
    client.execute = lambda op: []  # parsed ops need no engine here
    client.serve([java, java, parsed_go, go], float("inf"), {})
    assert len(client.lat["filtered_first"]) == 1  # java's first use
    assert len(client.lat["filtered"]) == 2        # java again; go, warmed by the field clause
    client.refreshed()
    client.serve([java, go], float("inf"), {})
    assert len(client.lat["filtered_first"]) == 3


def test_tail_keeps_ten_samples_beyond_it():
    xs = list(range(1, 2001))  # 2,000 samples: the p99 has 20 beyond it
    assert stats.tail(xs) == 1980
    xs = list(range(1, 201))   # 200 samples: lowered to the 190th value
    assert stats.tail(xs) == 190
    assert sum(x > stats.tail(xs) for x in xs) == 10
    assert stats.tail(list(range(11))) == 0
    assert stats.tail_rank_q(200) == 95.0
    with pytest.raises(ValueError):
        stats.tail(list(range(10)))


def test_self_time_subtracts_other_layer_children_only():
    spans = [
        Span(0, "index.search.search_rows", "index.search", 0.0, 10.0, None, 1),
        Span(1, "functions.tokenizer.tokenize_py", "functions.tokenizer", 1.0, 2.0, 0, 1),
        Span(2, "index.search.lookup", "index.search", 2.0, 4.0, 0, 1),
        # other-layer grandchild under a same-layer child counts against the root
        Span(3, "index.codec.unpack_blocks", "index.codec", 2.5, 3.5, 2, 1),
        # overlapping other-layer children are covered once
        Span(4, "index.codec.unpack_blocks", "index.codec", 5.0, 7.0, 0, 1),
        Span(5, "index.codec.unpack_blocks", "index.codec", 6.0, 8.0, 0, 1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 1.0 - 1.0 - 3.0)
    assert st[2] == pytest.approx(2.0 - 1.0)
    assert st[4] == pytest.approx(2.0)
    assert {s.id for s in subtree(spans)[2]} == {2, 3}
    assert len(subtree(spans)[0]) == 6


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.E2E_UNITS
    assert set(spec["paths"]) == {"perfbench"}
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "serve_local",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert r.returncode != 0
    assert r.stdout == ""


TINY = workloads.Scale(
    n_docs=300, warmup_docs=40, setups=2, batch_queries=4, cdc_batches=2,
    batch_events=60, oracle_ops=2, key_checks=2,
    mix_local={"plain": 3, "filtered": 2, "parsed": 1, "batch": 1},
    mix_cluster={"plain": 2, "filtered": 1, "parsed": 1, "batch": 1},
    min_samples={"plain": 11, "filtered": 2, "parsed": 1, "batch": 1},
    min_cluster={"plain": 11, "filtered": 2, "parsed": 1, "batch": 1},
    warmup_serve_s=0.2, warmup_min={"parsed": 2, "batch": 1},
)


def _smoke(workload, capsys, trace=0):
    code = run.main(["--workload", workload, "--seed", "3", "--seconds", "0.2",
                     "--trace", str(trace)], scale=TINY)
    last = capsys.readouterr().out.strip().splitlines()[-1]
    return code, json.loads(last)


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_smoke_run(workload, capsys):
    code, res = _smoke(workload, capsys)
    assert code == 0 and res["correct"] and res["failed"] == 0, res
    assert set(res["metrics"]) == set(workloads.E2E_UNITS)
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_smoke_traced_run(capsys):
    code, res = _smoke("cdc_mixed", capsys, trace=1)
    assert code == 0 and res["correct"]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["index.search.spark_jobs_per_query"] == 0
    assert m["streaming.incremental.spark_jobs_per_flush"] > 0
    assert m["index.coordination.meta_commits_per_flush"] > 0


def test_wrong_answer_fails_the_run(capsys, monkeypatch):
    monkeypatch.setattr(check, "SCORE_TOL", -1.0)  # every score comparison now fails
    code, res = _smoke("serve_local", capsys)
    assert code == 1
    assert not res["correct"] and res["failed"] > 0
