"""Output checks, run outside the timed regions.

A search result is a list of ``(doc_id, score)`` in rank order per query.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd

from baguetter_spark.functions.preprocess import make_processor
from baguetter_spark.oracle.bm25_ref import OracleBM25Index, oracle_calculate_scores_dense


def by_query(rows) -> dict[str, list[tuple[str, float]]]:
    """Spark result rows (query_id, rank, doc_id, score) -> ranked lists."""
    out: dict[str, list] = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out[r["query_id"]].append((r["doc_id"], r["score"]))
    return dict(out)


class Oracle:
    """Dense NumPy reference scores over a corpus in (conv_id, turn_idx)
    order, the insertion order the engine's doc ids follow."""

    def __init__(self, pdf: pd.DataFrame, config) -> None:
        ordered = pdf.sort_values(["conv_id", "turn_idx"])
        self.keys = [f"{c}:{t}" for c, t in zip(ordered["conv_id"], ordered["turn_idx"])]
        self.pos = {k: i for i, k in enumerate(self.keys)}
        self._process = make_processor(config.preprocessor)
        self.ref = OracleBM25Index(config).add_many(self.keys, list(ordered["text"]))

    def dense(self, text: str) -> np.ndarray:
        ids = self.ref.to_token_ids(self._process(text))
        return oracle_calculate_scores_dense(self.ref.index, ids)

    def matches(self, text: str, got: list, k: int, *, exact_ties: bool) -> bool:
        """``got`` is the parity top-k: float32 scores equal the reference
        bit for bit, rank by rank.  With ``exact_ties`` the doc order is the
        canonical (score desc, doc_idx asc); otherwise any order of equal
        scores is accepted (each doc's own reference score must match)."""
        dense = self.dense(text)
        order = np.lexsort((np.arange(len(dense)), -dense.astype(np.float64)))
        expected = [(self.keys[i], dense[i]) for i in order[:k] if dense[i] > 0]
        got = [(d, s) for d, s in got if s > 0]
        if len(got) != len(expected):
            return False
        for (gd, gs), (ed, es) in zip(got, expected):
            if np.float32(gs) != es or gd not in self.pos:
                return False
            if np.float32(gs) != dense[self.pos[gd]]:
                return False
            if exact_ties and gd != ed:
                return False
        return True

