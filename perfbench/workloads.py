"""The three workloads, driven by one closed-loop client in one process.

``run(workload, seed, seconds, trace)`` generates the inputs, starts the
Spark session, warms up, measures, checks correctness off the clock and
returns the result object that ``run.py`` prints. See README.md for what
each metric means and which layer it should move.
"""

from __future__ import annotations

import gc
import json
import os
import resource
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import check, gen, stats
from perfbench.trace import Tracer

WORKLOADS = ("serve_local", "serve_cluster", "cdc_mixed")

#: build parameters of every index the benchmark builds (sized for 4 task threads)
BUILD_PARAMS = {"num_shards": 4, "num_id_buckets": 16}
#: tiered-merge policy of cdc_mixed: two same-tier segments merge, so the
#: merge path runs within a run's few batches (the default waits for four)
MERGE_POLICY = {"merge_at": 2}


@dataclass(frozen=True)
class Scale:
    n_docs: int = 6000          # corpus size of every workload
    warmup_docs: int = 400      # the throwaway warm-up build
    setups: int = 2             # timed set-ups per run; setup_s is their median
    batch_queries: int = 64     # queries per search_many op
    cdc_batches: int = 2        # CDC batches applied in a cdc_mixed run
    batch_events: int = 1000    # events per CDC batch (the reference's batchNum)
    oracle_ops: int = 6         # sampled ops (batch: queries) per kind checked by the oracle
    key_checks: int = 8         # sampled upserted and deleted keys per CDC batch
    #: ops per round of the query stream, per tier
    mix_local: dict = field(default_factory=lambda: {
        "plain": 20, "filtered": 16, "parsed": 2, "batch": 1})
    mix_cluster: dict = field(default_factory=lambda: {
        "plain": 4, "filtered": 2, "parsed": 1, "batch": 1})
    #: a serving phase goes on past its time until each kind has this many
    #: samples, per tier (a cluster-tier op is a Spark job of ~0.4 s)
    min_samples: dict = field(default_factory=lambda: {
        "plain": 200, "filtered": 60, "parsed": 4, "batch": 2})
    min_cluster: dict = field(default_factory=lambda: {
        "plain": 20, "filtered": 12, "parsed": 4, "batch": 2})
    #: the untimed warm-up serves this long, and at least this many parsed and batch ops
    warmup_serve_s: float = 1.5
    warmup_min: dict = field(default_factory=lambda: {"parsed": 30, "batch": 4})


DEFAULT = Scale()


def _cpus() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _loadavg() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return None


def _calibration_ms() -> float:
    """Wall time of a fixed pure-Python loop: a machine-speed reading for
    the context, so a slow window can be told from a slow engine."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i % 7
    return 1e3 * (time.perf_counter() - t0)


def _rss_mb() -> float:
    """Current resident set size of this process, in MiB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmRSS in /proc/self/status")


def _peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def _steal_s() -> float | None:
    """Cumulative hypervisor steal time across CPUs, in seconds."""
    try:
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("cpu "):
                    parts = line.split()
                    return int(parts[8]) / os.sysconf("SC_CLK_TCK") if len(parts) > 8 else None
    except OSError:
        pass
    return None


class Client:
    """One closed-loop client: every op waits for the previous answer.

    A filtered op is timed as ``filtered_first`` when its predicate is
    used for the first time since the reader was opened or refreshed (by
    a filtered op or a parsed op's field clause), else as ``filtered``."""

    KINDS = ("plain", "filtered", "filtered_first", "parsed", "batch")

    def __init__(self, bench: "Bench", idx, tracer: Tracer | None):
        self.bench, self.idx, self.tracer = bench, idx, tracer
        self.lat: dict[str, list[float]] = {k: [] for k in self.KINDS}
        self.batch_queries = 0
        self.ops_done = 0
        self.attempted = 0
        self.failed = 0
        self.answers: dict[str, list] = {k: [] for k in ("plain", "filtered", "parsed", "batch")}
        self.used_filters: set = set()

    def refreshed(self) -> None:
        """The reader was refreshed: every predicate is new to it again."""
        self.used_filters.clear()

    def _collect(self, df):
        if self.tracer is None:
            return df.collect()
        with self.tracer.client("index.search.collect"):
            return df.collect()

    def execute(self, op: gen.Op):
        idx = self.idx
        if op.kind == "plain":
            return idx.search_rows(op.query, k=op.k)
        if op.kind == "filtered":
            return idx.search_rows(op.query, k=op.k, doc_filter=self.bench.column(op.filt))
        if op.kind == "parsed":
            return [(r.doc_id, r.score) for r in self._collect(idx.search_parsed(op.query, k=op.k))]
        rows = self._collect(idx.search_many(
            {f"q{i}": q for i, q in enumerate(op.batch)}, k=op.k))
        out: dict[str, list] = {}
        for r in rows:
            out.setdefault(r.query_id, []).append((r.doc_id, r.score))
        return {qid: sorted(v, key=lambda x: (-x[1], x[0])) for qid, v in out.items()}

    def serve(self, ops, seconds: float, min_samples: dict) -> int:
        """Serve ``ops`` in order for ``seconds``, then until every kind
        has its minimum sample count (or the stream ends). Returns the
        number of ops taken from ``ops``."""
        self.bench.collect_garbage()
        want = {k: len(self.lat[k]) + v for k, v in min_samples.items()}
        end = time.perf_counter() + seconds
        taken = 0
        for op in ops:
            if time.perf_counter() >= end and all(
                    len(self.lat[k]) >= v for k, v in want.items()):
                break
            taken += 1
            self.ops_done += 1
            if self.tracer is not None:
                self.tracer.op = self.ops_done
                self.tracer.op_kinds[self.ops_done] = op.kind
            self.attempted += 1
            timed_as = op.kind
            if op.kind == "filtered" and op.filt not in self.used_filters:
                timed_as = "filtered_first"
            if op.filt is not None:
                self.used_filters.add(op.filt)
            t0 = time.perf_counter()
            try:
                res = self.execute(op)
            except Exception:
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
                continue
            dt = time.perf_counter() - t0
            self.lat[timed_as].append(dt)
            if op.kind == "batch":
                self.batch_queries += len(op.batch)
            if len(self.answers[op.kind]) < self.bench.sampled[op.kind]:
                self.answers[op.kind].append((op, res))
        if self.tracer is not None:
            self.tracer.op = None
        return taken

    def metrics(self) -> dict:
        lat = self.lat
        return {
            "query_p50_ms": 1e3 * stats.median(lat["plain"]),
            "query_p99_ms": 1e3 * stats.tail(lat["plain"]),
            "filtered_p50_ms": 1e3 * stats.median(lat["filtered"]),
            "filtered_first_p50_ms": 1e3 * stats.median(lat["filtered_first"]),
            "parsed_p50_ms": 1e3 * stats.median(lat["parsed"]),
            "batch_qps": self.batch_queries / sum(lat["batch"]),
        }


class Bench:
    """State of one benchmark process: inputs, session, work directory."""

    def __init__(self, workload: str, seed: int, seconds: float, scale: Scale, root: str):
        self.workload, self.seed, self.seconds, self.scale = workload, seed, seconds, scale
        self.root = root
        self.work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.tier = "cluster" if workload == "serve_cluster" else "local"
        #: answers kept per op kind for the oracle (one batch op: its first queries)
        self.sampled = {"plain": scale.oracle_ops, "filtered": scale.oracle_ops,
                        "parsed": scale.oracle_ops, "batch": 1}
        self.problems: list[str] = []
        self._columns: dict = {}
        self.spark = None
        self.rss_base_mb = 0.0  # driver RSS after inputs and session start
        # -- inputs (off the clock) --
        self.vocab = gen.Vocabulary()
        self.corpus = gen.make_corpus(seed, scale.n_docs, self.vocab)
        mix = scale.mix_cluster if self.tier == "cluster" else scale.mix_local
        n_rounds = 40 if self.tier == "cluster" else 400
        self.ops = [op for rnd in gen.make_rounds(seed, self.vocab, n_rounds, mix,
                                                  scale.batch_queries) for op in rnd]
        self.corpus_path = self._write_parquet("corpus.parquet", self.corpus)
        self.warmup_path = self._write_parquet("warmup.parquet", self.corpus[:scale.warmup_docs])

    def _write_parquet(self, name: str, rows: list[dict]) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.work, name)
        os.makedirs(path)
        table = pa.table({c: [r[c] for r in rows] for c in gen.DOC_COLUMNS})
        pq.write_table(table, os.path.join(path, "part-0.parquet"))
        return path

    def problem(self, msg: str) -> None:
        self.problems.append(msg)
        print(f"perfbench: check failed: {msg}", file=sys.stderr)

    # -- session --------------------------------------------------------
    def start_session(self) -> float:
        from dbsyncer_spark import session

        cpus = _cpus()
        tmp = os.path.join(self.work, "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_DRIVER_MEM"] = "2g"
        os.environ["TMPDIR"] = tmp
        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus, extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        })
        session.warm_python_workers(self.spark)
        t1 = time.perf_counter()
        # import what the run uses first, so driver_rss_growth_mb counts the
        # engine's data (snapshots, caches, results), not code being loaded
        import pandas  # noqa: F401
        from dbsyncer_spark.index import build, search  # noqa: F401
        from dbsyncer_spark.sources import cdc  # noqa: F401
        from dbsyncer_spark.streaming import incremental  # noqa: F401
        gc.collect()
        self.rss_base_mb = _rss_mb()
        return t1 - t0

    def stop(self) -> None:
        """Stop Spark, then the JVM it launched (it exits when its stdin
        closes, taking its Python workers along), and wait for it."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            self.spark = None
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                SparkContext._gateway = SparkContext._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)

    def collect_garbage(self) -> None:
        """Before a timed block: a full collection in Python and in the
        JVM, so a pause left over from earlier work does not land in it."""
        gc.collect()
        if self.spark is not None:
            self.spark.sparkContext._jvm.java.lang.System.gc()

    def column(self, filt: tuple[str, str]):
        col = self._columns.get(filt)
        if col is None:
            from pyspark.sql import functions as F

            col = self._columns[filt] = F.col(filt[0]) == filt[1]
        return col

    # -- building and opening an index ----------------------------------
    def build(self, docs_path: str, index_dir: str) -> None:
        from dbsyncer_spark.index import build

        docs = self.spark.read.parquet(docs_path)
        build.build_index(self.spark, docs, index_dir, resume=False, **BUILD_PARAMS)

    def open_tier(self, index_dir: str):
        from dbsyncer_spark.index.search import SearchIndex

        idx = SearchIndex(self.spark, index_dir)
        if self.tier == "local":
            idx.warm_local()
            return idx
        seg_root = os.path.join(index_dir, "segments")
        budget = sum(_dir_bytes(os.path.join(seg_root, s, "postings"))
                     for s in os.listdir(seg_root)) // 2
        try:
            idx.warm_local(max_bytes=budget)
            self.problem(f"warm_local accepted a {budget}-byte budget below the postings size")
        except ValueError:
            pass  # refused, as it must: serve from the cluster tier
        idx.warm(cache_postings=True)
        idx.warm_driver_dictionary()
        return idx

    def drop_index(self, index_dir: str) -> None:
        self.spark.catalog.clearCache()
        shutil.rmtree(index_dir, ignore_errors=True)

    # -- phases ---------------------------------------------------------
    def warmup(self) -> None:
        """Untimed: one throwaway build of a small corpus, opened on the
        workload's tier and served for a while, so the build, open and
        serving paths are JIT-compiled before anything is timed."""
        d = os.path.join(self.work, "warmup-idx")
        self.build(self.warmup_path, d)
        Client(self, self.open_tier(d), None).serve(
            self.ops, self.scale.warmup_serve_s, self.scale.warmup_min)
        self.drop_index(d)

    def setups(self, tag: str) -> tuple[list[float], list[float], str, object]:
        """``setups`` timed (build + open tier) repetitions; returns their
        walls, build walls, and the last index (left open)."""
        walls, builds = [], []
        idx = index_dir = None
        for i in range(self.scale.setups):
            if index_dir is not None:
                self.drop_index(index_dir)
            index_dir = os.path.join(self.work, f"idx-{tag}-{i}")
            self.collect_garbage()
            t0 = time.perf_counter()
            self.build(self.corpus_path, index_dir)
            t1 = time.perf_counter()
            idx = self.open_tier(index_dir)
            walls.append(time.perf_counter() - t0)
            builds.append(t1 - t0)
        return walls, builds, index_dir, idx

    def measure(self, session_s: float, tracer: Tracer | None, tag: str) -> "Pass":
        walls, builds, index_dir, idx = self.setups(tag)
        p = Pass(index_dir=index_dir, idx=idx, batch_size=self.scale.batch_queries)
        p.e2e["setup_s"] = session_s + stats.median(walls)
        p.e2e["build_docs_per_s"] = self.scale.n_docs / stats.median(builds)
        client = p.client = Client(self, idx, tracer)
        if self.workload == "cdc_mixed":
            self.cdc(p)
        else:
            client.serve(self.ops, self.seconds, self.scale.min_cluster
                         if self.tier == "cluster" else self.scale.min_samples)
        p.e2e.update(client.metrics())
        p.e2e["driver_rss_growth_mb"] = _peak_rss_mb() - self.rss_base_mb
        return p

    def cdc(self, p: "Pass") -> None:
        """Batches of events appended to a JSON-lines log; after each:
        replay (checkpointed offset), maybe_merge, refresh the warm_local
        reader, find the batch's last event, then serve a block of queries."""
        from dbsyncer_spark.sources import cdc
        from dbsyncer_spark.streaming import incremental

        sc = self.scale
        src = gen.EventSource(self.seed, self.corpus, self.vocab)
        log = os.path.join(self.work, f"events-{id(p)}.jsonl")
        ckpt = log + ".offset"
        open(log, "wb").close()
        block_s = self.seconds / sc.cdc_batches
        min_block = {k: -(-v // sc.cdc_batches) for k, v in sc.min_samples.items()}
        start = 0
        for b in range(sc.cdc_batches):
            events = src.batch(sc.batch_events)
            last_key = gen.key_of(events[-1]["changedRow"])
            self.collect_garbage()
            with open(log, "ab") as f:
                f.write(gen.encode_events(events))
            t_written = time.perf_counter()
            try:
                st = cdc.replay_changed_events(self.spark, log, p.index_dir, checkpoint_file=ckpt)
                t_replayed = time.perf_counter()
                if incremental.maybe_merge(self.spark, p.index_dir, **MERGE_POLICY) is not None:
                    p.merges += 1
                p.idx.refresh()
                p.client.refreshed()
                hits = p.idx.search_rows(f"pk{last_key}", k=10)
                t_visible = time.perf_counter()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                p.client.attempted += len(events)
                p.client.failed += len(events)
                self.problem(f"CDC batch {b} raised")
                continue
            p.client.attempted += len(events)
            p.client.failed += st["dead_letter"]
            p.dead_letter += st["dead_letter"]
            p.events += len(events)
            p.replay_wall += t_replayed - t_written
            p.flushes += st["batches"]
            if len(hits) == 1:
                p.lags.append(t_visible - t_written)
            else:
                self.problem(f"batch {b}: last event's key pk{last_key} has {len(hits)} live hits")
                p.client.failed += 1
            self.check_keys(p, events, b)
            start += p.client.serve(self.ops[start:], block_s, min_block)
        p.src = src

    def check_keys(self, p: "Pass", events: list[dict], b: int) -> None:
        """Off the clock: sampled upserted keys have exactly one live doc,
        sampled deleted keys none."""
        last: dict[int, str] = {}
        for e in events:
            last[gen.key_of(e["changedRow"])] = e["event"]
        ups = [k for k, ev in last.items() if ev != "DELETE"][:self.scale.key_checks]
        dels = [k for k, ev in last.items() if ev == "DELETE"][:self.scale.key_checks]
        for key, want in [(k, 1) for k in ups] + [(k, 0) for k in dels]:
            got = len(p.idx.search_rows(f"pk{key}", k=10))
            if got != want:
                self.problem(f"batch {b}: key pk{key} has {got} live docs, want {want}")
                p.client.failed += 1


@dataclass
class Pass:
    """One measured pass: its index, client and end-to-end numbers."""

    index_dir: str
    idx: object
    client: Client | None = None
    e2e: dict = field(default_factory=dict)
    events: int = 0
    replay_wall: float = 0.0
    lags: list = field(default_factory=list)
    merges: int = 0
    dead_letter: int = 0
    flushes: int = 0
    live_segments: int = 0
    tombstoned: int = 0
    batch_size: int = 0
    src: object = None


#: end-to-end metrics every workload reports (name -> unit), as in BENCHMARK.json
E2E_UNITS = {
    "setup_s": "s", "build_docs_per_s": "docs/s", "query_p50_ms": "ms",
    "query_p99_ms": "ms", "filtered_p50_ms": "ms", "filtered_first_p50_ms": "ms",
    "parsed_p50_ms": "ms", "batch_qps": "queries/s",
    "index_bytes_per_content_byte": "ratio", "driver_rss_growth_mb": "MiB",
}
#: end-to-end metrics printed on the context line, without a bound: they
#: exist on cdc_mixed only
CDC_UNITS = {"cdc_events_per_s": "events/s", "visible_lag_p50_s": "s"}


def finish(bench: Bench, p: Pass) -> None:
    """Off the clock: index size ratio and every correctness check."""
    meta_path = os.path.join(p.index_dir, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    on_disk = sum(_dir_bytes(os.path.join(p.index_dir, "segments", s)) for s in meta["segments"])
    on_disk += _dir_bytes(os.path.join(p.index_dir, meta.get("tombstones_dir", "tombstones")))
    if p.src is not None:
        rows, content_of = list(p.src.live.values()), p.src.by_commit
    else:
        rows, content_of = bench.corpus, {r["commit"]: r["content"] for r in bench.corpus}
    p.e2e["index_bytes_per_content_byte"] = on_disk / sum(len(r["content"].encode()) for r in rows)
    p.live_segments = len(meta["segments"])

    oracle = check.Oracle(p.idx, content_of, {r["commit"] for r in rows})
    p.tombstoned = len(oracle.docs) - len(oracle.live)
    answers = p.client.answers
    if p.src is not None:  # the index moved under the recorded answers: ask again
        again = Client(bench, p.idx, None)
        seen = dict.fromkeys(again.lat, 0)
        sample = []
        for op in bench.ops:
            if seen[op.kind] < bench.sampled[op.kind]:
                seen[op.kind] += 1
                sample.append(op)
        again.serve(sample, float("inf"), {})  # every op of the sample
        answers = again.answers
    for line in check.check_answers(oracle, answers, bench.scale.oracle_ops):
        bench.problem(f"oracle mismatch: {line}")
        p.client.failed += 1
    if bench.tier == "local":
        sample = [op for op in bench.ops if op.kind in ("plain", "filtered")][:10]
        client = Client(bench, p.idx, None)
        jobs = check.zero_jobs(bench.spark, lambda: [client.execute(op) for op in sample])
        if jobs:
            bench.problem(f"local-tier plain/filtered queries launched Spark jobs {jobs}")
            p.client.failed += 1


def cdc_metrics(p: Pass) -> dict:
    return {"cdc_events_per_s": p.events / p.replay_wall if p.replay_wall else 0.0,
            "visible_lag_p50_s": stats.median(p.lags) if p.lags else 0.0}


def layer_metrics(tracer: Tracer, p: Pass, session_spans: int) -> dict:
    """Per-layer metrics (name -> (value, unit)) from the traced pass."""
    from perfbench.trace import self_times, subtree

    spans = tracer.spans
    selfs, sub = self_times(spans), subtree(spans)
    kind = tracer.op_kinds

    def named(name, top=None, kinds=None):
        return [s for s in spans if s.name == name
                and (top is None or (s.parent is None) == top)
                and (kinds is None or kind.get(s.op) in kinds)]

    def med(xs, scale=1.0):
        return scale * stats.median(xs) if xs else 0.0

    def jobs(span_list, attr="jobs"):
        return sum(getattr(d, attr) for s in span_list for d in sub[s.id])

    def per(total, n):
        return total / n if n else 0.0

    def ops_of(kinds):
        return [o for o, k in kind.items() if k in kinds]

    q_ops = set(ops_of(("plain", "filtered")))
    in_q = [s for s in spans if s.op in q_ops]
    tops = {o: [s for s in spans if s.op == o and s.parent is None] for o in kind}
    replays = named("sources.cdc.replay_changed_events")
    in_replay = [d for r in replays for d in sub[r.id]]
    flushes = p.flushes
    builds = named("index.build.build_index", top=True)
    appends = named("index.build.append_segment")
    batch_ops = ops_of(("batch",))
    many = named("index.search.search_many", top=True)
    return {
        "session.get_spark_s": (med([s.end - s.start for s in spans[:session_spans]
                                     if s.name == "session.get_spark"]), "s"),
        "session.warm_python_workers_s": (med([s.end - s.start for s in spans[:session_spans]
                                               if s.name == "session.warm_python_workers"]), "s"),
        "index.build.build_index_s": (med([s.end - s.start for s in builds]), "s"),
        "index.build.spark_jobs_per_build": (per(jobs(builds), len(builds)), "count"),
        "index.build.append_segment_s": (med([s.end - s.start for s in appends]), "s"),
        "index.build.spark_jobs_per_append": (per(jobs(appends), len(appends)), "count"),
        "functions.tokenizer.tokenize_py_us": (per(1e6 * sum(
            s.end - s.start for s in in_q if s.name == "functions.tokenizer.tokenize_py"),
            len(q_ops)), "us"),
        "index.search.lookup_us": (per(1e6 * sum(
            s.end - s.start for s in in_q if s.name == "index.search.lookup"), len(q_ops)), "us"),
        "index.search.search_rows_self_ms": (med([selfs[s.id] for s in named(
            "index.search.search_rows", True, ("plain",))], 1e3), "ms"),
        "index.search.filtered_self_ms": (med([selfs[s.id] for s in named(
            "index.search.search_rows", True, ("filtered",))], 1e3), "ms"),
        "index.search.search_parsed_self_ms": (med([selfs[s.id] for s in named(
            "index.search.search_parsed", True, ("parsed",))], 1e3), "ms"),
        "index.search.search_many_ms_per_query": (med([
            (s.end - s.start) / p.batch_size for s in many if s.op in kind], 1e3), "ms"),
        "index.search.collect_ms": (med([s.end - s.start for s in named(
            "index.search.collect")], 1e3), "ms"),
        "index.search.spark_jobs_per_query": (per(sum(jobs(tops[o]) for o in q_ops),
                                                  len(q_ops)), "count"),
        "index.search.spark_tasks_per_query": (per(sum(jobs(tops[o], "tasks") for o in q_ops),
                                                   len(q_ops)), "count"),
        "index.search.spark_jobs_per_parsed": (per(sum(jobs(tops[o]) for o in ops_of(
            ("parsed",))), len(ops_of(("parsed",)))), "count"),
        "index.search.spark_jobs_per_batch": (per(sum(jobs(tops[o]) for o in batch_ops),
                                                  len(batch_ops)), "count"),
        "index.search.warm_local_s": (med([s.end - s.start for s in named(
            "index.search.warm_local", True)]), "s"),
        "index.search.warm_s": (med([s.end - s.start for s in named(
            "index.search.warm", True)]), "s"),
        "index.search.refresh_s": (med([s.end - s.start for s in named(
            "index.search.refresh", True)]), "s"),
        "index.codec.unpack_blocks_calls_per_query": (per(sum(
            1 for s in in_q if s.name == "index.codec.unpack_blocks"), len(q_ops)), "count"),
        "index.codec.unpack_blocks_ms_per_query": (per(1e3 * sum(
            s.end - s.start for s in in_q if s.name == "index.codec.unpack_blocks"),
            len(q_ops)), "ms"),
        "query.parser.parse_query_us": (med([s.end - s.start for s in named(
            "query.parser.parse_query", None, ("parsed",))], 1e6), "us"),
        "streaming.incremental.update_docs_s": (med([s.end - s.start for s in named(
            "streaming.incremental.update_docs")]), "s"),
        "streaming.incremental.delete_docs_s": (med([s.end - s.start for s in named(
            "streaming.incremental.delete_docs")]), "s"),
        "streaming.incremental.spark_jobs_per_flush": (per(jobs(replays), flushes), "count"),
        "streaming.incremental.maybe_merge_s": (med([s.end - s.start for s in named(
            "streaming.incremental.maybe_merge")]), "s"),
        "streaming.incremental.merges": (p.merges, "count"),
        "streaming.incremental.live_segments": (p.live_segments, "count"),
        "streaming.incremental.tombstoned_docs": (p.tombstoned, "count"),
        "sources.cdc.replay_s": (med([s.end - s.start for s in replays]), "s"),
        "sources.cdc.replay_self_s": (med([selfs[s.id] for s in replays]), "s"),
        "sources.cdc.tail_ms": (med([s.end - s.start for s in named(
            "sources.cdc.tail_changed_events")], 1e3), "ms"),
        "sources.cdc.dead_letter": (p.dead_letter, "count"),
        "index.coordination.meta_commits_per_flush": (per(sum(
            1 for s in in_replay if s.name == "index.coordination.commit"), flushes), "count"),
        "index.coordination.lock_wait_ms": (per(1e3 * sum(
            s.end - s.start for s in in_replay if s.name == "index.coordination.lock_wait"),
            flushes), "ms"),
    }


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: Scale = DEFAULT, root: str | None = None) -> tuple[dict, dict]:
    """One benchmark run; returns ``(result, context)`` where ``result``
    is the object of the last output line."""
    root = root or os.getcwd()
    ctx = {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
           "cpus": _cpus(), "n_docs": scale.n_docs,
           "loadavg_start": _loadavg(), "steal_s_start": _steal_s(),
           "calibration_ms_start": _calibration_ms()}
    t0 = time.perf_counter()
    phases = ctx["phase_s"] = {}

    def lap(name):
        nonlocal t0
        t1 = time.perf_counter()
        phases[name] = round(t1 - t0, 2)
        t0 = t1

    bench = Bench(workload, seed, seconds, scale, root)
    lap("inputs")
    tracer = Tracer() if trace else None
    try:
        if tracer:
            tracer.install({"session"})
        session_s = bench.start_session()
        ctx["rss_base_mb"], ctx["peak_rss_at_base_mb"] = bench.rss_base_mb, _peak_rss_mb()
        lap("session")
        if tracer:
            tracer.uninstall()
            tracer.bind_spark(bench.spark)
            n_session = len(tracer.spans)
        bench.warmup()
        lap("warmup")
        p = bench.measure(session_s, None, "a")
        lap("measure")
        finish(bench, p)
        lap("checks")
        passes = [p]
        if tracer:
            tracer.install()
            try:
                t = bench.measure(session_s, tracer, "b")
            finally:
                tracer.uninstall()
            finish(bench, t)
            passes.append(t)
            tracer.attach_jobs()
            lap("traced")
            layers = layer_metrics(tracer, t, n_session)
            ctx["tracing_overhead"] = {m: t.e2e[m] / p.e2e[m] - 1.0
                                       for m in E2E_UNITS}
            if workload == "cdc_mixed":
                tc, pc = cdc_metrics(t), cdc_metrics(p)
                ctx["tracing_overhead"].update(
                    {m: tc[m] / pc[m] - 1.0 for m in CDC_UNITS if pc[m]})
            trace_dir = os.path.join(root, ".bench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            span_file = os.path.join(trace_dir, f"{workload}-seed{seed}.jsonl")
            tracer.write(span_file, {"context": ctx, "layers": layers})
            ctx["span_file"] = os.path.relpath(span_file, root)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        else:
            metrics = {k: {"value": p.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        attempted = sum(x.client.attempted for x in passes)
        failed = sum(x.client.failed for x in passes)
        if workload == "cdc_mixed":
            ctx.update({k: {"value": v, "unit": CDC_UNITS[k]} for k, v in cdc_metrics(p).items()})
            ctx["merges"] = p.merges
            ctx["live_segments"] = p.live_segments
        ctx["samples"] = {k: len(v) for k, v in p.client.lat.items()}
        ctx["query_p99_is_percentile"] = stats.tail_rank_q(len(p.client.lat["plain"]))
        ctx["failed_op_ratio"] = failed / attempted
        ctx["problems"] = bench.problems[:20]
    finally:
        bench.stop()
        lap("stop")
        ctx["loadavg_end"], ctx["steal_s_end"] = _loadavg(), _steal_s()
        ctx["calibration_ms_end"] = _calibration_ms()
    result = {"correct": not bench.problems and failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, ctx
