"""Seeded inputs: transcript corpora and query streams.

The corpus comes from the library's own deterministic generator, with the
conversation numbers offset by the seed so every seed yields different
conversations of the same shape. Each corpus is cut to an exact turn count
so run-to-run sizes do not vary with the seed. Queries draw their terms from
document-frequency bands of the corpus they run against.
"""

from __future__ import annotations

import functools
from collections import Counter

import numpy as np
import pandas as pd

from parser_indexer_py_spark.datagen import (
    MAX_TOKENS,
    MIN_TOKENS,
    _gen_convs,
    make_vocab,
    zipf_cdf,
)
from parser_indexer_py_spark.functions.analyzer import analyze_series

@functools.cache
def _vocab_cdf() -> tuple[np.ndarray, np.ndarray]:
    return np.array(make_vocab()), zipf_cdf()


def transcripts(
    seed: int, n_turns: int, *, stream: int = 0, topical: float = 0.0,
    min_tokens: int = MIN_TOKENS,
) -> pd.DataFrame:
    """Exactly ``n_turns`` transcript rows for ``seed``; ``stream`` picks a
    disjoint block of conversations for the same seed (micro-batches)."""
    vocab, cdf = _vocab_cdf()
    # ~33 turns per conversation: twice that many conversations always
    # covers n_turns; offsets keep seeds and streams disjoint and the
    # conv-%08d ids of fixed width
    n_convs = 2 * n_turns // 33 + 8
    first = (seed % 499) * 200_000 + stream * n_convs
    pdf = _gen_convs(
        np.arange(first, first + n_convs, dtype=np.uint64), vocab, cdf,
        min_tokens=min_tokens, max_tokens=MAX_TOKENS, topical=topical,
    )
    if len(pdf) < n_turns:
        raise ValueError(f"generator produced {len(pdf)} < {n_turns} turns")
    return pdf.iloc[:n_turns].reset_index(drop=True)


def text_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["text"].fillna("").str.encode("utf-8").str.len().sum())


def doc_freqs(pdf: pd.DataFrame) -> Counter:
    df = Counter()
    for toks in analyze_series(pdf["text"]):
        df.update(set(toks))
    return df


def df_bands(df: Counter, n_docs: int) -> dict[str, list[str]]:
    """Query terms by document frequency: hot (in 3-10% of docs), mid
    (0.3-1%) and rare (2-5 docs). Narrow bands keep the cost of a query
    shape similar from seed to seed."""
    def band(lo, hi):
        return sorted(t for t, c in df.items() if lo <= c <= hi)

    return {
        "hot": band(max(6, 0.03 * n_docs), max(12, 0.10 * n_docs)),
        "mid": band(max(3, 0.003 * n_docs), max(5, 0.01 * n_docs)),
        "rare": band(2, 5),
    }


def term_queries(rng: np.random.Generator, bands: dict, n: int) -> list[str]:
    """``n`` distinct 1-3 term queries mixing the df bands: hot+rare,
    mid+mid, hot+mid+rare, mid, ... in a fixed rotation."""
    shapes = [("hot", "rare"), ("mid", "mid"), ("hot", "mid", "rare"),
              ("mid",), ("hot", "mid"), ("mid", "rare")]
    out: list[str] = []
    while len(out) < n:
        shape = shapes[len(out) % len(shapes)]
        terms = sorted({str(rng.choice(bands[b])) for b in shape})
        q = " ".join(terms)
        if q not in out:
            out.append(q)
    return out


def zipf_picks(rng: np.random.Generator, n_items: int, n: int, s: float = 1.1) -> list[int]:
    """``n`` indexes into ``n_items`` items, item ``i`` with weight 1/(i+1)^s."""
    w = 1.0 / np.arange(1, n_items + 1) ** s
    return [int(i) for i in rng.choice(n_items, size=n, p=w / w.sum())]
