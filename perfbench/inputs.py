"""Seeded benchmark inputs.

The corpora are copies of the project's synthetic 500-document
``documents`` tables, ``(doc_id bigint, text, lang, source, n_chars)``,
in ``data/<scale>/documents.parquet``: ``sf0.01`` is measured and
``sf0.001`` is the warm lap and the smoke corpus. Both are the corpora
the package's frozen oracles (the neural golden among them) cover. The
workload seed only permutes and offsets the ``doc_id`` values
(``Remap``). Outputs are compared after the remap is undone, so the
oracles hold for every seed while the partitioning, hashing and
shuffle layout still change from seed to seed.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def base_corpus(scale: str) -> pd.DataFrame:
    """The fixed corpus of one scale, base doc ids 0..n-1."""
    return pd.read_parquet(os.path.join(DATA, scale, "documents.parquet"))


class Remap:
    """Seeded doc_id remap: replica ``r`` of base document ``b`` gets
    id ``offset + perm[b] * copies + r``. ``base()`` undoes it."""

    def __init__(self, seed: int, n_docs: int, copies: int = 1):
        rng = np.random.default_rng(seed)
        self.n_docs = n_docs
        self.copies = copies
        self.offset = int(rng.integers(1, 1_000_000)) * 1000
        self.perm = rng.permutation(n_docs)
        self.inv = np.argsort(self.perm)

    def apply(self, base: pd.DataFrame) -> pd.DataFrame:
        """Remapped replicas of ``base``; doc_id keeps its type (the raw
        twin carries string ids)."""
        ids = base["doc_id"].to_numpy().astype(np.int64)
        numeric = base["doc_id"].dtype.kind in "iu"
        parts = []
        for r in range(self.copies):
            p = base.copy()
            new = (self.offset + self.perm[ids] * self.copies + r).astype(np.int64)
            p["doc_id"] = new if numeric else new.astype(str)
            parts.append(p)
        out = pd.concat(parts, ignore_index=True)
        return out.sort_values("doc_id", ignore_index=True)

    def base(self, doc_ids) -> np.ndarray:
        """Remapped ids (int or numeric str) -> base ids; raises on an
        id the remap never produced."""
        x = np.asarray(doc_ids).astype(np.int64) - self.offset
        if len(x) and (x.min() < 0 or x.max() >= self.n_docs * self.copies):
            raise ValueError("doc_id outside the remapped range")
        return self.inv[x // self.copies]

    def replica(self, doc_ids) -> np.ndarray:
        return (np.asarray(doc_ids).astype(np.int64) - self.offset) % self.copies
