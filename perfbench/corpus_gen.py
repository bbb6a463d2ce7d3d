"""Seeded long-tail source-code corpus for the benchmark.

Wraps ``corpus.generate_corpus(n, seed)`` (986 distinct terms, whatever the
size) and appends to every file one line of Zipf-distributed identifiers and
literals, so the vocabulary grows with the corpus the way real code does:
a few identifiers everywhere, most of them in one or two files.

Per appended token: 70% identifiers (lowercase three-syllable words, rank
drawn from Zipf(1.1)), 15% hex constants (uniform 32-bit, nearly all
distinct), 15% decimal numbers (Zipf ranks). Every file also carries one
unique ``docNNN`` token, so a single document can be addressed by a query.
At 1,000 files this gives about 20k distinct terms (20 per file; the stock
generator has under 1 per file at 1,000).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from search_replica_spark.analysis.tokenizer import tokenize_flat
from search_replica_spark.corpus import _SYLLABLES, generate_corpus

ZIPF_A = 1.1
TOKENS_PER_FILE = 30
_S = len(_SYLLABLES)


def _identifier(ranks: np.ndarray) -> np.ndarray:
    # spread the Zipf ranks over the 3-syllable space so the hot ranks are
    # not all "agag..." words; the multiplier is coprime with _S**3
    code = (ranks.astype(np.uint64) * np.uint64(2654435761)) % np.uint64(_S**3)
    code = code.astype(np.int64)
    syl = np.array(_SYLLABLES, dtype=object)
    return syl[code // (_S * _S)] + syl[(code // _S) % _S] + syl[code % _S]


def long_tail_corpus(n_files: int, seed: int, doc_tag: str = "doc") -> pd.DataFrame:
    """``generate_corpus(n_files, seed)`` with one long-tail line per file."""
    df = generate_corpus(n_files, seed)
    rng = np.random.default_rng([seed, 0x10E7A11])
    k = rng.poisson(TOKENS_PER_FILE, n_files) + 1
    total = int(k.sum())
    kind = rng.random(total)
    ranks = rng.zipf(ZIPF_A, total)
    hexes = np.char.add("0x", np.char.mod("%08x", rng.integers(0, 1 << 32, total)))
    toks = np.where(
        kind < 0.70,
        _identifier(ranks),
        np.where(kind < 0.85, hexes.astype(object), np.char.mod("%d", ranks).astype(object)),
    )
    owner = np.repeat(np.arange(n_files), k)
    line = pd.Series(toks, dtype=object).groupby(owner).agg(" ".join).to_numpy()
    tag = np.char.mod(f"{doc_tag}%d", np.arange(n_files)).astype(object)
    df["content"] = df["content"] + "\n// " + tag + " " + line
    return df


def describe(df: pd.DataFrame) -> tuple[dict, pd.DataFrame]:
    """Workload descriptors (files, content bytes, tokens, distinct terms,
    postings) and the term -> df table the built dictionary must equal.
    Analysis is the engine's own analyzer (the one the oracle uses)."""
    lens, flat = tokenize_flat(df["content"])
    owner = np.repeat(np.arange(len(df)), lens)
    post = pd.DataFrame({"doc": owner, "term": flat}).drop_duplicates()
    dfs = post.groupby("term", sort=True).size().rename("df").reset_index()
    desc = {
        "files": int(len(df)),
        "content_bytes": int(df["content"].str.encode("utf-8").str.len().sum()),
        "tokens": int(lens.sum()),
        "terms": int(len(dfs)),
        "postings": int(len(post)),
    }
    return desc, dfs
