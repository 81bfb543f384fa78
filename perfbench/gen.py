"""Seeded input generator shared by all three workloads.

Everything the engine receives comes from here: the corpus, the query
stream and the CDC event batches. The same seed gives byte-identical
inputs; nothing reads the clock or the engine. The engine's own fixture
generator is deliberately not used, so a change to the engine cannot
change what the benchmark feeds it.

Terms follow one Zipf law over ``HOT + identifiers`` for both documents
and queries, so hot terms are shared between queries and the tail is
not. The vocabulary and its ranking are fixed, like the language of a
code base; the seed draws the documents, queries and events from it, so
runs at different seeds do the same kind of work. Every document carries
a unique key token ``pk<n>`` (its primary key as text), which lets the CDC
checks find one key's live version.
"""

from __future__ import annotations

import functools
import hashlib
import itertools
import json
import re
from dataclasses import dataclass, field

import numpy as np

LANGS = ("python", "java", "go", "js", "c")
EXT = {"python": "py", "java": "java", "go": "go", "js": "js", "c": "c"}
N_REPOS = 40  # repo filters are narrow (1/40 of the corpus), lang broad (1/5)
HOT = ("import", "return", "def", "public", "func", "var", "if", "else",
       "for", "class", "int", "string", "new", "const", "static", "void")
ROOTS = ("get", "set", "parse", "build", "load", "flush", "merge", "scan",
         "read", "write", "index", "query", "token", "shard", "batch", "sync",
         "user", "name", "config", "buffer", "offset", "commit", "stream",
         "field", "value", "filter", "page", "score", "rank", "term", "doc",
         "split", "hash", "byte", "block", "skip", "meta")
ZIPF_S = 1.1
VOCAB_SEED = 20_000  # fixed: a seed varies what is drawn, not the vocabulary

# independent random streams, so resizing one input leaves the others as they were
_CORPUS, _QUERIES, _BATCHES, _EVENTS = range(4)

DOC_COLUMNS = ("repo", "path", "commit", "lang", "content")


@dataclass(frozen=True)
class Op:
    """One client operation. ``kind`` is ``plain``, ``filtered``, ``parsed``
    or ``batch``; ``filt`` is ``(column, value)`` for filtered ops; a batch
    op carries its queries in ``batch``."""

    kind: str
    query: str = ""
    k: int = 10
    filt: tuple[str, str] | None = None
    batch: tuple[str, ...] = field(default_factory=tuple)


class Vocabulary:
    """Identifier vocabulary and the Zipf law shared by docs and queries."""

    def __init__(self, size: int = 3000):
        rng = np.random.default_rng(VOCAB_SEED)
        words = []
        for _ in range(size):
            parts = [ROOTS[i] for i in rng.integers(0, len(ROOTS), rng.integers(2, 4))]
            if rng.random() < 0.5:
                words.append(parts[0] + "".join(p.capitalize() for p in parts[1:]))
            else:
                words.append("_".join(parts))
        self.words = list(HOT) + words

    def draw(self, rng: np.random.Generator, n: int) -> list[str]:
        return zipf_at(self.words, rng.random(n))


@functools.lru_cache(maxsize=None)
def _zipf_cdf(n: int) -> np.ndarray:
    probs = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return np.cumsum(probs / probs.sum())


def zipf_at(items: list, u) -> list:
    """Items at quantiles ``u`` of the Zipf law over ``items`` in rank
    order (inverse CDF)."""
    idx = np.minimum(np.searchsorted(_zipf_cdf(len(items)), u, side="right"), len(items) - 1)
    return [items[i] for i in idx]


def _content(rng: np.random.Generator, vocab: Vocabulary, key: int) -> str:
    dl = int(np.clip(rng.lognormal(mean=4.2, sigma=1.0), 10, 2000))
    words = vocab.draw(rng, dl)
    words.insert(int(rng.integers(0, dl + 1)), f"pk{key}")
    lines, cur = [], ""
    for w in words:
        if cur and len(cur) + len(w) + 1 > 80:
            lines.append(cur)
            cur = w
        else:
            cur = w if not cur else cur + " " + w
    lines.append(cur)
    return "\n".join(lines)


def doc_row(seed: int, key: int, version: int, content: str) -> dict:
    lang = LANGS[key % len(LANGS)]
    commit = hashlib.sha1(f"{seed}:{key}:{version}".encode()).hexdigest()
    return {"repo": f"repo{key % N_REPOS}", "path": f"src/m{key % 13}/f{key}.{EXT[lang]}",
            "commit": commit, "lang": lang, "content": content}


def make_corpus(seed: int, n_docs: int, vocab: Vocabulary) -> list[dict]:
    """``n_docs`` rows with keys ``0..n_docs-1`` at version 0."""
    rng = np.random.default_rng([seed, _CORPUS, 1])
    return [doc_row(seed, i, 0, _content(rng, vocab, i)) for i in range(n_docs)]


#: per-round shape of plain, filtered and batch queries, the same for every
#: seed: (terms, k) cycled in order, about 40/40/20% one/two/three terms and
#: 80/10/10% k = 10/1/100; every 20th query is a miss (terms = 0)
SHAPES = ((1, 10), (2, 10), (1, 10), (3, 10), (2, 1), (1, 10), (2, 10), (0, 10),
          (1, 100), (2, 10), (1, 10), (3, 10), (2, 10), (1, 1), (2, 10), (1, 10),
          (3, 10), (2, 100), (1, 10), (3, 10))


class _Strata:
    """Stratified Zipf draws: the n-th draw of the stream sits at a
    quantile in the n-th of ``n`` equal strata, visited in seeded order,
    so every seed asks for the same mix of hot and tail items."""

    def __init__(self, rng: np.random.Generator, items: list, n: int):
        u = (rng.permutation(n) + rng.random(n)) / n
        self.items, self.i = zipf_at(items, u), 0

    def take(self, n: int) -> list:
        out = self.items[self.i:self.i + n]
        self.i += n
        return out


def _tokens(word: str) -> list[str]:
    return re.findall(r"[a-z]+", re.sub(r"([a-z])([A-Z])", r"\1 \2", word).lower())


def make_rounds(seed: int, vocab: Vocabulary, n_rounds: int, mix: dict[str, int],
                batch_size: int) -> list[list[Op]]:
    """The query stream, cut into rounds of ``mix[kind]`` ops per kind.

    A closed-loop client serves rounds in order, so every run sees the
    same interleaving; the round count only bounds how far it can get.
    Filters alternate between a broad ``lang`` value (1/5 of the corpus)
    and a narrow ``repo`` value (1/40), the repo drawn from a Zipf law over
    all repos in fixed rank order, so busy tenants repeat and the tail
    does not. Parsed ops are ``+must should -mustnot`` over single tokens,
    every other one with a field clause (carried in ``filt``)."""
    rng = np.random.default_rng([seed, _QUERIES])
    n_queries = n_rounds * (mix.get("plain", 0) + mix.get("filtered", 0)
                            + mix.get("batch", 0) * batch_size)
    terms = _Strata(rng, vocab.words, 3 * n_queries + 3 * n_rounds * mix.get("parsed", 0))
    repos = _Strata(rng, [f"repo{r}" for r in range(N_REPOS)],
                    n_rounds * (mix.get("filtered", 0) + mix.get("parsed", 0)))
    shapes = {kind: itertools.cycle(SHAPES) for kind in ("plain", "filtered", "batch")}
    count = dict.fromkeys(("filtered", "parsed"), 0)

    def query(kind: str) -> tuple[str, int]:
        n, k = next(shapes[kind])
        if n == 0:
            return "zq" + "".join(chr(97 + c) for c in rng.integers(0, 26, 5)), k
        return " ".join(terms.take(n)), k

    def filt(i: int) -> tuple[str, str]:
        if i % 2 == 0:
            return ("lang", LANGS[int(rng.integers(0, len(LANGS)))])
        return ("repo", repos.take(1)[0])

    def parsed(i: int) -> Op:
        must, should, mustnot = (_tokens(w)[0] for w in terms.take(3))
        units = [f"+{must}", should]
        if mustnot not in (must, should):
            units.append(f"-{mustnot}")
        f = filt(i // 2) if i % 2 == 0 else None
        if f is not None:
            units.append("%s:%s" % f)
        return Op("parsed", " ".join(units), 10, f)

    rounds = []
    for _ in range(n_rounds):
        ops = []
        for _ in range(mix.get("plain", 0)):
            ops.append(Op("plain", *query("plain")))
        for _ in range(mix.get("filtered", 0)):
            ops.append(Op("filtered", *query("filtered"), filt(count["filtered"])))
            count["filtered"] += 1
        for _ in range(mix.get("parsed", 0)):
            ops.append(parsed(count["parsed"]))
            count["parsed"] += 1
        for _ in range(mix.get("batch", 0)):
            ops.append(Op("batch", k=10, batch=tuple(
                query("batch")[0] for _ in range(batch_size))))
        rounds.append([ops[i] for i in rng.permutation(len(ops))])
    return rounds


class EventSource:
    """CDC batches over the corpus: UPDATEs over Zipf-skewed live keys,
    INSERTs of new keys and ~10% DELETEs. Tracks the resulting live state
    (key -> row), which is what the engine must converge to, and the
    content of every version written (commit -> content), since an old
    version stays in its segment until a merge drops it."""

    def __init__(self, seed: int, corpus: list[dict], vocab: Vocabulary):
        self.seed = seed
        self.vocab = vocab
        self.rng = np.random.default_rng([seed, _EVENTS])
        self.live: dict[int, dict] = dict(enumerate(corpus))
        self.version = {k: 0 for k in self.live}
        self.next_key = len(corpus)
        self.by_commit = {r["commit"]: r["content"] for r in corpus}
        # hot keys are a seeded random subset, not the lowest ids
        self.rank = list(np.random.default_rng([seed, _BATCHES]).permutation(len(corpus)))

    def _pick_live(self) -> int:
        while True:
            r = int(self.rng.zipf(ZIPF_S + 0.1)) - 1
            key = self.rank[r % len(self.rank)]
            if key in self.live:
                return key

    def _upsert(self, key: int, op: str) -> dict:
        self.version[key] = self.version.get(key, -1) + 1
        row = doc_row(self.seed, key, self.version[key],
                      _content(self.rng, self.vocab, key))
        self.live[key] = row
        self.by_commit[row["commit"]] = row["content"]
        return {"type": "ROW", "event": op, "changedRow": row}

    def batch(self, n_events: int) -> list[dict]:
        """One batch; its last event is always an upsert, so a reader can
        find the batch's last event by its key token."""
        out = []
        for i in range(n_events):
            u = self.rng.random() if i < n_events - 1 else 1.0
            if u < 0.1 and len(self.live) > 1:
                key = self._pick_live()
                row = self.live.pop(key)
                out.append({"type": "ROW", "event": "DELETE",
                            "changedRow": {"repo": row["repo"], "path": row["path"]}})
            elif u < 0.35:
                key = self.next_key
                self.next_key += 1
                self.rank.append(key)
                out.append(self._upsert(key, "INSERT"))
            else:
                out.append(self._upsert(self._pick_live(), "UPDATE"))
        return out


def key_of(row: dict) -> int:
    """The integer key encoded in a row's path (``src/mX/f<key>.<ext>``)."""
    return int(row["path"].rsplit("/f", 1)[1].split(".")[0])


def encode_events(events: list[dict]) -> bytes:
    return b"".join(json.dumps(e, sort_keys=True).encode() + b"\n" for e in events)
