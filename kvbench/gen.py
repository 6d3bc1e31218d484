"""Seeded input generator for the three workloads (numpy and pandas only).

Everything the engine sees comes from here: the key-value tables, the op
streams (Zipf-chosen keys, scan widths, head sizes), the mutation batches
and the document shards. A workload's inputs are a pure function of
(workload, seed); op ``cycle`` inputs are drawn from their own stream
``default_rng([seed, stream, cycle])`` so a run can generate as many cycles
as it reaches without the earlier ones depending on how far it got.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

#: catalog of every KV table (rowkey plus four cells in three families)
KV_CATALOG = {
    "table": "bench:kv",
    "rowkey": "rk",
    "columns": {
        "rk": {"cf": "rowkey", "col": "rk", "type": "long"},
        "v": {"cf": "d", "col": "v", "type": "long"},
        "score": {"cf": "d", "col": "score", "type": "double"},
        "tag": {"cf": "m", "col": "tag", "type": "string"},
        "cnt": {"cf": "c", "col": "cnt", "type": "long"},
    },
}
KV_COLUMNS = list(KV_CATALOG["columns"])
DOC_CATALOG = {
    "table": "bench:docs",
    "rowkey": "doc_id",
    "columns": {
        "doc_id": {"cf": "rowkey", "col": "doc_id", "type": "long"},
        "text": {"cf": "t", "col": "text", "type": "string"},
    },
}

TAGS = np.array(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"])
V_MAX = 1_000_000
#: scans keep rows with v below this: about 5% of the range
SCAN_V_BELOW = 50_000

# kv_serve sizes
SERVE_ROWS = 200_000
SERVE_FILES = 16
# kv_ingest sizes
INGEST_ROWS = 60_000
INGEST_FILES = 4
#: rows per put, increment and merge batch: one size for every write
BATCH_ROWS = 2_000
#: a merge batch updates BATCH_ROWS/2 old keys (every 10th of them tagged
#: for delete) and inserts BATCH_ROWS/2 new ones
MERGE_DELETE_EVERY = 10
#: key universe per initial row; the rest feeds inserts
INGEST_KEY_SPACE = 40
# corpus_dedup sizes
SHARDS = 3
SHARD_DOCS = 5_000
VOCAB = 20_000
WORDS_MIN, WORDS_MAX = 45, 90
BOILERPLATE_SHARE = 0.2
JACCARD = 0.85
SHINGLE_W = 3
MAX_HAMMING = 3

#: op kinds: lookup = point read through sources.table.load_table; get =
#: point read through the hbasekv connector; scan = rowkey range through
#: hbasekv with a pushed value filter; head = stats_scan.head_by_rowkey.
#: Every cycle holds one op of each class (no hand-set weights); see
#: WORKLOADS.md for the sources of the key distributions
SERVE_CYCLE = ("lookup", "scan", "head")
#: the put leaves flush files that the reads see and compaction packs; the
#: increment and merge rewrites leave the table compact for the next cycle
INGEST_CYCLE = ("put", "get", "scan", "lookup", "head", "compact", "incr", "merge")
DEDUP_CYCLE = ("components", "minhash", "simhash")
#: YCSB's Zipfian constant (ZipfianGenerator.ZIPFIAN_CONSTANT)
ZIPF_THETA = 0.99

_STREAM = {"serve": 1, "ingest": 2, "corpus": 3, "table": 4}


def _rng(seed: int, stream: str, *more: int) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAM[stream], *more])


def _zipf_rank(rng: np.random.Generator, n: int, size: int) -> np.ndarray:
    """Ranks in [0, n), rank r drawn with weight 1 / (r + 1) ** ZIPF_THETA:
    YCSB's bounded Zipfian over n items."""
    cdf = np.cumsum(np.arange(1, n + 1, dtype=np.float64) ** -ZIPF_THETA)
    return np.minimum(np.searchsorted(cdf, rng.random(size) * cdf[-1]), n - 1)


def kv_rows(rng: np.random.Generator, keys: np.ndarray) -> pd.DataFrame:
    n = len(keys)
    return pd.DataFrame(
        {
            "rk": keys.astype(np.int64),
            "v": rng.integers(0, V_MAX, n, dtype=np.int64),
            "score": rng.random(n),
            "tag": TAGS[rng.integers(0, len(TAGS), n)],
            "cnt": rng.integers(0, 1000, n, dtype=np.int64),
        }
    )


# ----------------------------------------------------------------- kv_serve


class ServeInputs:
    """One compacted, rowkey-sorted table and its read-only op stream."""

    def __init__(self, seed: int, rows: int = SERVE_ROWS) -> None:
        self.seed = seed
        rng = _rng(seed, "table")
        keys = np.arange(rows, dtype=np.int64) * 8 + rng.integers(0, 8, rows)
        self.table = kv_rows(rng, keys)
        # hot keys land anywhere in the key range, not only at its start
        self.hot = rng.permutation(rows)

    def cycle(self, c: int) -> list[tuple]:
        rng = _rng(self.seed, "serve", c)
        keys = self.table["rk"].to_numpy()
        n = len(keys)
        # YCSB's scrambled Zipfian: hot keys are scattered over the range
        lookup = int(keys[self.hot[_zipf_rank(rng, n, 1)[0]]])
        # one to three files wide, starting anywhere
        width = int(n // SERVE_FILES * rng.integers(1, 4))
        lo = int(rng.integers(0, n - width))
        return [("lookup", lookup),
                ("scan", int(keys[lo]), int(keys[lo + width]), SCAN_V_BELOW),
                ("head", int(rng.choice([10, 100, 1000])))]


# ---------------------------------------------------------------- kv_ingest


class IngestInputs:
    """A starting table, a pool of never-used keys for inserts, and a
    write-lifecycle op stream (puts, increments, merges, compactions and
    read-your-writes reads)."""

    def __init__(self, seed: int, rows: int = INGEST_ROWS) -> None:
        self.seed = seed
        rng = _rng(seed, "table")
        universe = np.arange(rows * INGEST_KEY_SPACE, dtype=np.int64) * 4 + 1
        #: keys in insertion order: the starting rows, then every insert.
        #: Shuffled, as YCSB's load phase hashes its keys
        self.order = universe[rng.permutation(len(universe))]
        self.initial_keys = np.sort(self.order[:rows])
        self.table = kv_rows(rng, self.initial_keys)
        self.hot = rng.permutation(rows)
        self.per_cycle_inserts = BATCH_ROWS + BATCH_ROWS // 2

    def cycle(self, c: int) -> list[tuple]:
        rng = _rng(self.seed, "ingest", c)
        base = self.initial_keys
        n = len(base)
        inserted = n + c * self.per_cycle_inserts
        if inserted + self.per_cycle_inserts > len(self.order):
            raise ValueError("kv_ingest key pool exhausted; raise INGEST_KEY_SPACE")
        fresh = self.order[inserted : inserted + self.per_cycle_inserts]
        ops: list[tuple] = []
        for kind in INGEST_CYCLE:
            if kind == "put":
                ops.append(("put", kv_rows(rng, fresh[:BATCH_ROWS])))
                inserted += BATCH_ROWS
            elif kind in ("get", "lookup"):
                # YCSB's "latest" distribution: Zipfian over the keys by
                # recency, newest first, so most reads hit recent writes
                ops.append((kind, int(self.order[inserted - 1 - _zipf_rank(rng, inserted, 1)[0]])))
            elif kind == "head":
                ops.append(("head", int(rng.choice([10, 100, 1000]))))
            elif kind == "scan":
                # one starting file's worth of keys, starting anywhere
                width = n // INGEST_FILES
                lo = int(rng.integers(0, n - width))
                ops.append(("scan", int(base[lo]), int(base[lo + width]), SCAN_V_BELOW))
            elif kind == "incr":
                # YCSB's scrambled Zipfian over the starting keys
                keys = base[self.hot[_zipf_rank(rng, n, BATCH_ROWS)]]
                deltas = rng.integers(-5, 50, BATCH_ROWS, dtype=np.int64)
                ops.append(("incr", pd.DataFrame({"rk": keys, "cnt": deltas})))
            elif kind == "merge":
                # a merge source holds each key once: updates are drawn
                # uniformly without replacement
                half = BATCH_ROWS // 2
                upd = base[rng.choice(n, half, replace=False)]
                src = kv_rows(rng, np.concatenate([upd, fresh[BATCH_ROWS:]]))
                src.loc[np.arange(0, half, MERGE_DELETE_EVERY), "tag"] = "del"
                ops.append(("merge", src))
            else:
                ops.append(("compact",))
        return ops


# ------------------------------------------------------------- corpus_dedup


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: dict[str, None] = {}
    while len(words) < n:
        lens = rng.integers(3, 10, n)
        for ln in lens:
            words.setdefault("".join(letters[rng.integers(0, 26, ln)]), None)
            if len(words) == n:
                break
    return np.array(list(words), dtype=object)


#: chain docs slide s tokens per step; s/n_shingles in (0.0406, 0.0526]
#: makes adjacent links Jaccard >= 0.9 and two-step links < 0.85, so
#: chains stay chains and no planted pair sits just above the threshold
_CHAIN_SLIDE = {**{w: 2 for w in range(45, 52)}, **{w: 3 for w in range(60, 76)},
                **{w: 4 for w in range(79, 91)}}


class CorpusInputs:
    """Document shards with planted near-duplicate cliques and chains plus
    a boilerplate share."""

    def __init__(self, seed: int, docs: int = SHARD_DOCS) -> None:
        self.seed = seed
        rng = _rng(seed, "corpus", 0)
        self.vocab = _vocab(rng, VOCAB)
        weight = 1.0 / (np.arange(1, VOCAB + 1, dtype=np.float64) + 10.0)
        self.cdf = np.cumsum(weight / weight.sum())
        self.boiler = [self._words(rng, 12) for _ in range(5)]
        self.shards = [self._shard(_rng(seed, "corpus", 1 + i), docs, i)
                       for i in range(SHARDS)]

    def _words(self, rng, n: int) -> list:
        idx = np.minimum(np.searchsorted(self.cdf, rng.random(n)), VOCAB - 1)
        return list(self.vocab[idx])

    def _doc(self, rng, n_words: int) -> list:
        if rng.random() < BOILERPLATE_SHARE:
            b = self.boiler[rng.integers(0, len(self.boiler))]
            return b + self._words(rng, n_words - len(b))
        return self._words(rng, n_words)

    def _shard(self, rng: np.random.Generator, n_docs: int, shard: int) -> pd.DataFrame:
        texts: list[list] = []
        # cliques: copies differ from the base only in the last token
        while len(texts) < n_docs * 0.15:
            base = self._doc(rng, int(rng.integers(WORDS_MIN, WORDS_MAX + 1)))
            texts.append(base)
            for _ in range(int(rng.integers(1, 6))):
                texts.append(base[:-1] + self._words(rng, 1))
        # chains of 2-4 docs: each doc slides the previous one by s tokens
        chain_lengths = np.array(sorted(_CHAIN_SLIDE))
        while len(texts) < n_docs * 0.30:
            n_words = int(rng.choice(chain_lengths))
            s = _CHAIN_SLIDE[n_words]
            doc = self._words(rng, n_words)
            texts.append(doc)
            for _ in range(int(rng.integers(1, 4))):
                doc = doc[s:] + self._words(rng, s)
                texts.append(doc)
        while len(texts) < n_docs:
            texts.append(self._doc(rng, int(rng.integers(WORDS_MIN, WORDS_MAX + 1))))
        texts = texts[:n_docs]
        # ids are shuffled so cluster order says nothing about min ids
        ids = shard * 10_000_000 + rng.permutation(n_docs * 3)[:n_docs].astype(np.int64)
        return pd.DataFrame({"doc_id": ids, "text": [" ".join(t) for t in texts]})

    def cycle(self, c: int) -> list[tuple]:
        """Each cycle touches every shard; each op class rotates over them."""
        return [(kind, (c + j) % SHARDS) for j, kind in enumerate(DEDUP_CYCLE)]


INPUTS = {"kv_serve": ServeInputs, "kv_ingest": IngestInputs, "corpus_dedup": CorpusInputs}


def _feed(h, obj) -> None:
    if isinstance(obj, pd.DataFrame):
        h.update(",".join(obj.columns).encode())
        for col in obj.columns:
            values = obj[col].to_numpy()
            if values.dtype == object:
                h.update("\x00".join(map(str, values)).encode())
            else:
                h.update(np.ascontiguousarray(values).tobytes())
    elif isinstance(obj, (list, tuple)):
        h.update(b"[")
        for x in obj:
            _feed(h, x)
        h.update(b"]")
    else:
        h.update(repr(obj).encode())


def digest(workload: str, seed: int, cycles: int = 3) -> str:
    """sha256 over every input a workload's engine calls would receive in
    its set-up and first ``cycles`` op cycles."""
    inputs = INPUTS[workload](seed)
    h = hashlib.sha256()
    for name in ("table", "shards"):
        if hasattr(inputs, name):
            _feed(h, getattr(inputs, name))
    for c in range(cycles):
        _feed(h, inputs.cycle(c))
    return h.hexdigest()
