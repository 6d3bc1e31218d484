"""The generator is a pure function of the seed.

    python3 -m pytest kvbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kvbench import gen  # noqa: E402
from kvbench.model import DedupModel  # noqa: E402


#: sha256 of every input of seed 7. A change here changes the benchmark's
#: inputs, so results before and after it are not comparable
SEED7 = {
    "corpus_dedup": "91ce9642c7064482df05357f1b11bdf160436ace14103a1ecaf70018fbec0389",
    "kv_ingest": "7a791b5a3288ddfc69a602ef8df08a1550c6423a0f725f87b31594439b2491e7",
    "kv_serve": "ea13a9becae565ee145ed09bac76b0ac32b74d017603dae934ef0f8109103ecc",
}


@pytest.mark.parametrize("workload", sorted(gen.INPUTS))
def test_same_seed_same_inputs(workload):
    assert gen.digest(workload, 7) == SEED7[workload]


@pytest.mark.parametrize("workload", sorted(gen.INPUTS))
def test_seeds_differ(workload):
    assert gen.digest(workload, 7) != gen.digest(workload, 8)


def _hash(obj) -> str:
    h = hashlib.sha256()
    gen._feed(h, obj)
    return h.hexdigest()


def test_cycles_are_independent_streams():
    """A run may stop anywhere: cycle c does not depend on earlier cycles."""
    fresh, used = gen.IngestInputs(3), gen.IngestInputs(3)
    used.cycle(0)
    used.cycle(1)
    assert _hash(fresh.cycle(2)) == _hash(used.cycle(2))


def test_planted_pairs_stay_clear_of_the_threshold():
    """Cliques and chain links sit at Jaccard >= 0.9 and two-step chain
    links below 0.85, so MinHash-LSH recall is not left to chance."""
    shard = gen.CorpusInputs(5).shards[0]
    m = DedupModel(shard)
    assert len(m.pairs) > 500
    assert m.band_pairs(gen.JACCARD, 0.9) == 0
