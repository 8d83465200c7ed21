"""Seeded input generators for the benchmark.

Everything the engine receives is made here from the run's ``--seed`` and
handed over as parquet files, so a change to the engine's own synthetic
sources cannot change what the benchmark feeds it. Pure Python + pyarrow:
the same seed gives byte-identical parquet (``selftest.py`` checks it).
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

THRESHOLD = 4096  # claim-check offload threshold (bytes, strictly greater)
LANGS = ["py", "java", "scala", "sql", "md", "json"]

LOG_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("commit_seq", pa.int64()),
        ("op", pa.string()),
        ("ts_ms", pa.int64()),
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
    ]
)
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("batch_no", pa.int32())])


def _rng(seed: int, stream: str) -> random.Random:
    # string seeds hash with sha512 inside random.seed: stable across runs
    # and interpreter versions, independent per stream
    return random.Random(f"perfbench/{stream}/{seed}")


def _text_pool(rng: random.Random, n_words: int) -> str:
    """Word soup that payload slices are cut from: compresses like source
    text, not like a repeated token."""
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz_") for _ in range(rng.randint(2, 10)))
        for _ in range(4000)
    ]
    return " ".join(rng.choices(vocab, k=n_words))


def key_path(key: int) -> tuple[str, str]:
    return f"org{key % 7}/repo{key % 97}", f"src/d{key % 13}/f_{key}.{LANGS[key % len(LANGS)]}"


class ChangeLog:
    """A seeded CDC change log, cut into epochs on demand: epoch ``i`` is
    the same bytes for a seed however many epochs a run asks for.

    Quadratic key skew (few hot keys take most events, several updates per
    key), ~2% deletes, ~5% payloads above the offload threshold with sizes
    into the tens of KB, and one in ten oversized payloads a copy of an
    earlier one (vendored files: exercises content-addressed dedup). The
    generator's own view of the live keys (``live``: key -> payload bytes)
    drives the lookup key draws."""

    def __init__(self, seed: int, n_keys: int):
        self.rng = _rng(seed, "cdc")
        self.n_keys = n_keys
        self.pool = _text_pool(self.rng, 60_000)
        self.seen: set[int] = set()
        self.live: dict[int, int] = {}
        self.big_payloads: list[str] = []
        self.next_event = 0

    def epoch(self, n: int) -> pa.Table:
        rng = self.rng
        cols: dict[str, list] = {f.name: [] for f in LOG_SCHEMA}
        for _ in range(n):
            eid = self.next_event
            self.next_event += 1
            u = rng.random()
            key = int(self.n_keys * u * u)
            repo, path = key_path(key)
            if key not in self.seen:
                op = "insert"
                self.seen.add(key)
            elif rng.random() < 0.02:
                op = "delete"
                self.seen.discard(key)  # the key's next event re-inserts it
            else:
                op = "update"
            t = rng.random()
            if t < 0.70:
                size = rng.randint(64, 511)
            elif t < 0.95:
                size = rng.randint(512, THRESHOLD - 1)
            else:
                size = rng.randint(THRESHOLD + 1, 40_000)
            if size > THRESHOLD and self.big_payloads and rng.random() < 0.10:
                content = rng.choice(self.big_payloads)
            else:
                head = f"k{key}c{eid}\n"
                start = rng.randrange(len(self.pool) - size)
                content = head + self.pool[start : start + size - len(head)]
                if size > THRESHOLD:
                    self.big_payloads.append(content)
            if op == "delete":
                self.live.pop(key, None)
            else:
                self.live[key] = len(content)
            cols["event_id"].append(eid)
            cols["commit_seq"].append(eid)
            cols["op"].append(op)
            cols["ts_ms"].append(1_700_000_000_000 + eid)
            cols["repo"].append(repo)
            cols["path"].append(path)
            cols["commit"].append(f"{rng.getrandbits(160):040x}")
            cols["lang"].append(path.rsplit(".", 1)[1])
            cols["content"].append(content)
        return pa.table(cols, schema=LOG_SCHEMA)


class KeyDraws:
    """Seeded lookup key sets over a change log's keys live at draw time:
    hot-skewed, each set holding at least one key whose payload is
    offloaded, so every lookup reads through the blob store."""

    def __init__(self, seed: int):
        self.rng = _rng(seed, "lookup")

    def draw(self, log: ChangeLog, size: int) -> list[tuple[str, str]]:
        keys = sorted(log.live)  # small keys are the hot ones (quadratic skew)
        big = [k for k in keys if log.live[k] > THRESHOLD]
        chosen = {self.rng.choice(big)}
        while len(chosen) < min(size, len(keys)):
            u = self.rng.random()
            chosen.add(keys[int(len(keys) * u * u)])
        return [key_path(k) for k in sorted(chosen)]


def _mutate(rng: random.Random, words: list[str], vocab: list[str], rate: float) -> list[str]:
    out = list(words)
    for i in range(len(out)):
        if rng.random() < rate:
            out[i] = rng.choice(vocab)
    return out


@dataclass
class Corpus:
    base: pa.Table  # indexed in set-up
    batches: list[pa.Table]  # probed then added, one per timed cycle
    planted: list[tuple[int, int]]  # (near-dup doc, its source doc)

    def write(self, directory: str) -> tuple[str, list[str]]:
        base = f"{directory}/base.parquet"
        pq.write_table(self.base, base, compression="zstd")
        paths = []
        for i, t in enumerate(self.batches):
            p = f"{directory}/batch={i:04d}.parquet"
            pq.write_table(t, p, compression="zstd")
            paths.append(p)
        return base, paths


def neardup_corpus(seed: int, n_base: int, n_batches: int, batch_size: int) -> Corpus:
    """Word documents; a third of each micro-batch are planted near-dups of
    earlier documents, edited at token rates that straddle the 0.5 Jaccard
    threshold on 8-char shingles, the rest fresh text."""
    rng = _rng(seed, "neardup")
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))
        for _ in range(20_000)
    ]
    docs: dict[int, list[str]] = {}

    def fresh() -> list[str]:
        return rng.choices(vocab, k=rng.randint(20, 45))

    planted: list[tuple[int, int]] = []
    base_ids = list(range(n_base))
    for i in base_ids:
        docs[i] = fresh()
    # a few near-dup pairs inside the base too, so probes find old partners
    for i in base_ids[n_base // 2 :: 10]:
        src = rng.randrange(n_base // 2)
        docs[i] = _mutate(rng, docs[src], vocab, rng.choice([0.02, 0.05, 0.1, 0.2]))
        planted.append((i, src))

    def table(ids: list[int], batch_no: int) -> pa.Table:
        return pa.table(
            {
                "doc_id": ids,
                "text": [" ".join(docs[i]) for i in ids],
                "batch_no": [batch_no] * len(ids),
            },
            schema=DOC_SCHEMA,
        )

    batches = []
    next_id = 1_000_000
    for b in range(n_batches):
        ids = []
        for j in range(batch_size):
            d = next_id
            next_id += 1
            if j % 3 == 0:
                src = rng.choice(list(docs))
                docs[d] = _mutate(rng, docs[src], vocab, rng.choice([0.02, 0.05, 0.1, 0.2, 0.3]))
                planted.append((d, src))
            else:
                docs[d] = fresh()
            ids.append(d)
        batches.append(table(ids, b))
    return Corpus(table(base_ids, -1), batches, planted)


def shingles(text: str, k: int = 8) -> set[str]:
    return {text[i : i + k] for i in range(max(len(text) - k + 1, 1))}
