"""Seeded query stream drawn from the corpus dictionary.

Shapes (share of the stream):
  hot     20%  one term in >= 10% of the docs            (long posting lists)
  rare    20%  one term in <= 3 docs                      (dictionary lookups)
  mixed   30%  2-3 terms: hot + mid-df [+ rare]           (WAND's hard case)
  camel   15%  a camelCase identifier the analyzer splits (two mid-df terms)
  absent  15%  a term the dictionary does not hold        (empty answer)
k is one of {1, 10, 100}. Every query also comes as an ES ``bool`` body
(must / should / filter / must_not over the same terms) for ``execute_dsl``.

The (shape, k) sequence is one fixed 20-query cycle for every seed, so two
runs with different seeds time the same query mix; the seed draws the terms.
Position 0 of the cycle is a mixed query with k = 10; it is the first query
after the cdc workload's change batch and the first distributed query of
both workloads' traced runs.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

# (shape, k) cycle with the shares above; every shape meets more than one k
CYCLE = tuple(zip(
    ("mixed", "hot", "rare", "camel", "mixed", "absent", "hot", "rare", "mixed", "camel",
     "hot", "absent", "rare", "mixed", "hot", "camel", "rare", "mixed", "absent", "mixed"),
    (10, 1, 100, 10, 100, 10, 100, 1, 1, 100, 10, 1, 10, 10, 10, 1, 10, 100, 100, 1),
))


@dataclass(frozen=True)
class Query:
    shape: str
    text: str
    k: int
    bool_body: dict


def _match(term: str) -> dict:
    return {"match": {"content": term}}


def query_stream(dfs: pd.DataFrame, n_docs: int, n: int, seed: int) -> list[Query]:
    """``n`` queries over the ``term -> df`` table ``dfs``."""
    rng = np.random.default_rng([seed, 0x9E3779B9])
    terms = dfs["term"].to_numpy(object)
    df = dfs["df"].to_numpy(np.int64)
    hot = terms[df >= max(2, n_docs // 10)]
    rare = terms[df <= 3]
    mid = terms[(df > 3) & (df < max(4, n_docs // 10))]
    alpha = pd.Series(terms).str.fullmatch(r"[a-z]{3,}").to_numpy()
    word_mid = terms[alpha & (df > 1) & (df < max(4, n_docs // 10))]
    vocab = set(terms)

    def pick(pool) -> str:
        return str(pool[rng.integers(len(pool))])

    out = []
    for i in range(n):
        shape, k = CYCLE[i % len(CYCLE)]
        if shape == "hot":
            qt = [pick(hot)]
        elif shape == "rare":
            qt = [pick(rare)]
        elif shape == "mixed":
            qt = [pick(hot), pick(mid)] + ([pick(rare)] if rng.random() < 0.5 else [])
        elif shape == "camel":
            qt = [pick(word_mid), pick(word_mid)]
        else:
            while True:
                t = f"zq{int(rng.integers(1 << 30)):x}"
                if t not in vocab:
                    break
            qt = [t]
        text = qt[0] + qt[1].capitalize() if shape == "camel" else " ".join(qt)
        body = {
            "must": [_match(qt[0])],
            "should": [_match(t) for t in qt[1:]],
            "filter": [_match(pick(hot))],
            "must_not": [_match(pick(mid))],
        }
        out.append(Query(shape, text, k, {"bool": body}))
    return out


def shape_shares(queries: list[Query]) -> dict[str, float]:
    s = pd.Series([q.shape for q in queries]).value_counts(normalize=True)
    return {k: round(float(v), 4) for k, v in s.sort_index().items()}
