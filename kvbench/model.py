"""Reference answers, computed outside the timed region.

- ``KvModel``: the generator's pandas model of a KV table. It replays puts,
  increments and merges with the engine's documented semantics and answers
  gets, scans and heads.
- ``DedupModel``: exact near-duplicate pairs, SimHash pairs and connected
  components of one shard, from DuckDB and numpy over the shard's text.
"""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pandas as pd

from kvbench.gen import JACCARD, KV_COLUMNS, MAX_HAMMING, SHINGLE_W


def _cell(x):
    return None if x is None or x is pd.NA or (isinstance(x, float) and np.isnan(x)) else x


class KvModel:
    def __init__(self, table: pd.DataFrame) -> None:
        t = table.set_index("rk", drop=False).sort_index()
        self.t = t.astype({"v": "Int64", "cnt": "Int64", "score": "Float64"})

    # ---- answers (canonical: tuples of python scalars, None for NULL)
    def _rows(self, frame: pd.DataFrame, cols=KV_COLUMNS) -> list[tuple]:
        return [tuple(_cell(x) for x in row) for row in frame[cols].itertuples(index=False)]

    def get(self, key: int) -> list[tuple]:
        return self._rows(self.t.loc[[key]]) if key in self.t.index else []

    def scan(self, lo: int, hi: int, v_below: int) -> list[tuple]:
        t = self.t.loc[lo : hi - 1]
        return self._rows(t[(t["v"] < v_below).fillna(False)], ["rk", "v"])

    def head(self, n: int) -> list[tuple]:
        return self._rows(self.t.iloc[:n])

    def user_bytes(self) -> int:
        """Bytes of live user data: 8 per non-NULL number, UTF-8 length per
        string."""
        t = self.t
        numeric = sum(int(t[c].notna().sum()) for c in ("rk", "v", "score", "cnt")) * 8
        return numeric + int(t["tag"].dropna().str.len().sum())

    # ---- mutations
    def put(self, batch: pd.DataFrame) -> None:
        new = KvModel(batch).t
        self.t = pd.concat([self.t, new]).sort_index()

    def incr(self, inc: pd.DataFrame) -> None:
        """operators.mutations.apply_increments: NULL counts as 0 and keys
        only in the batch are created with NULL cells."""
        deltas = inc.groupby("rk")["cnt"].sum().astype("Int64")
        hit = deltas.index.intersection(self.t.index)
        self.t.loc[hit, "cnt"] = self.t.loc[hit, "cnt"].fillna(0) + deltas[hit]
        miss = deltas.index.difference(self.t.index)
        if len(miss):
            new = pd.DataFrame({"rk": miss, "v": pd.NA, "score": pd.NA, "tag": None,
                                "cnt": deltas[miss].to_numpy()})
            self.put(new)

    def merge(self, src: pd.DataFrame) -> None:
        """MERGE: matched and tag == 'del' deletes, matched updates v and
        score, not matched inserts the source row."""
        s = KvModel(src).t
        matched = s.index.intersection(self.t.index)
        dele = matched[(s.loc[matched, "tag"] == "del").to_numpy()]
        upd = matched.difference(dele)
        self.t.loc[upd, ["v", "score"]] = s.loc[upd, ["v", "score"]]
        self.t = self.t.drop(index=dele)
        self.put(src[~src["rk"].isin(matched)])


def _shingles(text: str) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[p : p + SHINGLE_W]) for p in range(len(toks) - SHINGLE_W + 1)}


class DedupModel:
    """Exact answers for one shard (DataFrame with doc_id, text)."""

    def __init__(self, shard: pd.DataFrame) -> None:
        ids, sets = shard["doc_id"].to_numpy(), [_shingles(t) for t in shard["text"]]
        posts = pd.DataFrame(
            {"id": np.repeat(ids, [len(s) for s in sets]),
             "s": [x for s in sets for x in s]}
        )
        con = duckdb.connect()
        try:
            con.register("posts", posts)
            self.pairs = con.execute(
                f"""
                WITH sizes AS (SELECT id, count(*) AS n FROM posts GROUP BY id),
                inter AS (SELECT a.id AS id1, b.id AS id2, count(*) AS i
                          FROM posts a JOIN posts b ON a.s = b.s AND a.id < b.id
                          GROUP BY 1, 2)
                SELECT id1, id2, i / (sa.n + sb.n - i) AS jaccard
                FROM inter JOIN sizes sa ON sa.id = id1 JOIN sizes sb ON sb.id = id2
                WHERE i / (sa.n + sb.n - i) >= {JACCARD}
                """
            ).df()
            words = pd.DataFrame({"id": ids, "h": [_simhash(s) for s in sets]})
            con.register("words", words)
            self.simhash = con.execute(
                f"""
                SELECT a.id AS id1, b.id AS id2,
                       bit_count(xor(a.h, b.h))::INTEGER AS hamming
                FROM words a JOIN words b ON a.id < b.id
                WHERE bit_count(xor(a.h, b.h)) <= {MAX_HAMMING}
                """
            ).df()
        finally:
            con.close()
        self.components = _components(self.pairs)

    def pair_set(self) -> set[tuple]:
        return set(self.pairs.itertuples(index=False, name=None))

    def simhash_set(self) -> set[tuple]:
        return set(self.simhash.itertuples(index=False, name=None))

    def band_pairs(self, lo: float, hi: float) -> int:
        """Planted-pair audit: exact pairs with lo <= jaccard < hi."""
        j = self.pairs["jaccard"]
        return int(((j >= lo) & (j < hi)).sum())


def _simhash(shingles: set[str]) -> int:
    """64-bit SimHash: bit b is set iff most shingle hashes (first 8 bytes
    of md5, big-endian) have it set; as a signed long."""
    h = np.fromiter(
        (int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") for s in shingles),
        dtype=np.uint64, count=len(shingles),
    )
    bits = (h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
    word = int(((bits.sum(axis=0) * 2 > len(h)).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum())
    return word - 2**64 if word >= 2**63 else word


def _components(pairs: pd.DataFrame) -> set[tuple]:
    """(id, comp) with comp = min id reachable, for ids in some pair."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["id1"].tolist(), pairs["id2"].tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in parent}
