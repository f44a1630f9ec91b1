"""Seeded document corpus with planted duplicate clusters.

Every stage count of ``plans.corpus.run_corpus_pipeline`` is known from the
plan of the corpus, not from running it:

- low-quality docs: three tokens and no stopword, so ``quality_score`` is
  1/3 and the default ``quality_min=0.5`` drops them;
- exact duplicates: byte-identical copies of a source doc (the exact stage
  keeps the smallest id of each group);
- near duplicates: the source's tokens re-joined with a different run of
  spaces. Their bytes differ, so the exact stage keeps them, but their word
  shingles equal the source's (Jaccard 1.0), so MinHash-LSH pairs them with
  certainty and the near stage drops them;
- every other doc is drawn from a 600-word vocabulary, so two of them never
  come near the 0.7 Jaccard threshold. Some carry an e-mail address for the
  PII scrub, which masks it to one token and keeps token counts unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ("the", "a", "of", "and", "to")
_SYL = ("ka", "lo", "mi", "ne", "su", "ra", "te", "vo", "pi", "du", "xe", "gor", "fa", "zu", "bel")
VOCAB = tuple(a + b + c for a in _SYL for b in _SYL for c in ("", "n", "s"))[:600]
CHUNK_TOKENS, OVERLAP_TOKENS = 128, 32


def n_chunks(n_tokens: int) -> int:
    """Chunks ``chunk_documents`` emits for a doc of ``n_tokens`` tokens."""
    stride = CHUNK_TOKENS - OVERLAP_TOKENS
    return 1 + (max(n_tokens - CHUNK_TOKENS, 0) + stride - 1) // stride


@dataclass
class CorpusTruth:
    docs_in: int
    docs_after_quality: int
    docs_after_exact: int
    docs_after_near: int
    chunks: int
    input_bytes: int


def _tokens(rng, n: int) -> list[str]:
    words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]
    for i in np.flatnonzero(rng.random(n) < 0.15):
        words[i] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    words[0] = "the"  # at least one stopword: quality_score 1.0
    if rng.random() < 0.05:
        words[int(rng.integers(1, n))] = f"user{int(rng.integers(0, 10**6))}@example.com"
    return words


def generate_corpus(path: str, seed: int, n_docs: int) -> CorpusTruth:
    """Write ``n_docs`` documents (doc_id, text) as one parquet file."""
    rng = np.random.default_rng([seed, 11])
    n_low, n_exact, n_near = n_docs // 50, n_docs // 10, n_docs // 10
    n_unique = n_docs - n_low - n_exact - n_near
    docs = [_tokens(rng, int(t)) for t in rng.integers(20, 400, n_unique)]
    texts = [" ".join(d) for d in docs]
    kept_tokens = [len(d) for d in docs]
    texts += [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), 3)) for _ in range(n_low)]
    sources = rng.integers(0, n_unique, n_exact + n_near)
    texts += [texts[s] for s in sources[:n_exact]]
    # each near copy gets its own spacing so no two of them are byte-equal
    for j, s in enumerate(sources[n_exact:]):
        toks = docs[s]
        texts.append(toks[0] + " " * (2 + j) + " ".join(toks[1:]))
    order = rng.permutation(len(texts))
    ids = np.empty(len(texts), dtype=np.int64)
    ids[order] = np.arange(len(texts), dtype=np.int64)
    table = pa.table({"doc_id": ids, "text": texts})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table.sort_by("doc_id"), path)
    return CorpusTruth(
        docs_in=len(texts),
        docs_after_quality=len(texts) - n_low,
        docs_after_exact=n_unique + n_near,
        docs_after_near=n_unique,
        chunks=sum(n_chunks(t) for t in kept_tokens),
        input_bytes=os.path.getsize(path),
    )
