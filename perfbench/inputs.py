"""Seeded benchmark inputs.

Everything here is a pure function of ``(workload, seed)``: the same seed
gives byte-identical inputs, another seed gives different ones.  The
engine only ever sees the DataFrames built from these values.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass

from smatchpp_spark.corpus import generate_penman

PAIR_SCHEMA = "pair_id string, content string"

# B-side perturbation: rates and vocabulary.  The A side comes from the
# program's own ``corpus.generate_penman``, so a change to that generator
# changes these inputs; a test pins a digest of them.
P_SWAP = 0.10
P_DROP = 0.15
P_ADD = 0.06
SELF_PAIR_FRAC = 0.05
_SWAP_CONCEPTS = (
    "man", "cat", "dog", "duck", "ant", "test", "train", "fast", "small",
    "very", "run-01", "see-01", "give-01", "control-01", "computer",
    "mouse", "city", "name", "possible", "country", "person", "go-02",
    "want-01",
)
_ADD_RELATIONS = (":mod", ":quant", ":time", ":location", ":manner")
_ADD_CONSTANTS = ("2", "3", "100", "-", '"Paris"', "imperative")

# Graph500 R-MAT quadrant probabilities (d = 1 - a - b - c)
RMAT_A, RMAT_B, RMAT_C = 0.57, 0.19, 0.19

_CONCEPT_RE = re.compile(r"/ ([^\s()]+)")
# a relation whose value is a leaf (constant, quoted literal or variable
# reference), never a bracketed subgraph
_LEAF_RE = re.compile(r" :[A-Za-z0-9-]+ (?:\"[^\"]*\"|'[^']*'|[^\s()\"']+)")


@dataclass(frozen=True)
class AmrSpec:
    n_pairs: int
    max_nodes: int


@dataclass(frozen=True)
class RmatSpec:
    scale: int
    n_edges: int


def perturb_penman(text: str, rng: random.Random) -> str:
    """Seeded near-copy of ``text``: drops some leaf relations, swaps some
    concepts and adds some leaves, so the pair scores near, not at, 100."""
    out = _LEAF_RE.sub(lambda m: "" if rng.random() < P_DROP else m.group(0), text)
    out = _CONCEPT_RE.sub(
        lambda m: f"/ {rng.choice(_SWAP_CONCEPTS)}" if rng.random() < P_SWAP else m.group(0),
        out,
    )

    def add(m: re.Match) -> str:
        if rng.random() < P_ADD:
            return f" {rng.choice(_ADD_RELATIONS)} {rng.choice(_ADD_CONSTANTS)})"
        return m.group(0)

    return re.sub(r"\)", add, out)


def amr_pairs(
    spec: AmrSpec, seed: int, index: int = 0
) -> tuple[list[tuple[str, str]], list[tuple[str, str]], list[str]]:
    """Input ``index`` of run ``seed``: ``(rows_a, rows_b, self_pair_ids)``,
    rows being ``(pair_id, content)``.  A seeded share of pairs has B
    identical to A (the self-pair slice)."""
    rows_a: list[tuple[str, str]] = []
    rows_b: list[tuple[str, str]] = []
    self_ids: list[str] = []
    for i in range(spec.n_pairs):
        pair_id = f"p{i:06d}"
        rng = random.Random(f"perfbench:{seed}:{index}:{i}")
        a = generate_penman(rng, max_nodes=spec.max_nodes)
        if rng.random() < SELF_PAIR_FRAC:
            b = a
            self_ids.append(pair_id)
        else:
            b = perturb_penman(a, rng)
        rows_a.append((pair_id, a))
        rows_b.append((pair_id, b))
    return rows_a, rows_b, self_ids


def rmat_seed(seed: int, index: int = 0) -> int:
    """Generator seed handed to ``rmat_edges`` for input ``index`` (below
    1000) of run ``seed``; distinct for every pair, positive for the runs'
    non-negative seeds and negative for the warm-up seed."""
    return 1000 * seed + index + 1
