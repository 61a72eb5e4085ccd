"""Single-core timings of the engine's public NumPy kernels, in-process, on
seeded inputs drawn from the benchmark corpus.

Posting blocks follow the corpus: one small block per term of the corpus
(its df), plus 20k-posting blocks at the density of the corpus's hottest
terms over one ``block_doc_range`` of doc ids, the shape hot terms take on a
large corpus.
"""

from __future__ import annotations

import os
import time
from collections import Counter

import numpy as np
import pandas as pd

import data
from baguetter_spark.compress import (
    decode_doc_ids,
    decode_impacts,
    encode_doc_ids,
    encode_impacts,
    encode_tfs,
)
from baguetter_spark.functions.preprocess import process_series
from baguetter_spark.operators.indexer import count_terms_batch
from baguetter_spark.operators.wand import maxscore_topk

LARGE_BLOCKS = 4
MIN_SECONDS = 0.2


def seconds_per_call(fn) -> float:
    """Median of at least three timed calls, repeated for MIN_SECONDS."""
    times: list[float] = []
    while len(times) < 3 or sum(times) < MIN_SECONDS:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def postings(pdf: pd.DataFrame, pre, block_doc_range: int, rng):
    """Per-term (doc ids, tfs, impacts) of the corpus, plus the large
    blocks.  Impacts are BM25 (lucene) in float32."""
    tokens = process_series(pdf["text"], pre)
    lists: dict[str, tuple[list, list]] = {}
    doc_len = np.empty(len(tokens), dtype=np.int64)
    for doc, toks in enumerate(tokens):
        doc_len[doc] = len(toks)
        for term, tf in Counter(toks).items():
            ids, tfs = lists.setdefault(term, ([], []))
            ids.append(doc)
            tfs.append(tf)
    n, avg = len(tokens), float(doc_len.mean())

    def impacts(ids: np.ndarray, tfs: np.ndarray, dl: np.ndarray) -> np.ndarray:
        df = len(ids)
        idf = np.float32(np.log(1.0 + (n - df + 0.5) / (df + 0.5)))
        tf = tfs.astype(np.float32)
        return idf * tf / (tf + np.float32(1.2) * (np.float32(0.25) + np.float32(0.75) * dl / np.float32(avg)))

    blocks = []
    for term in sorted(lists):
        ids, tfs = (np.asarray(x, dtype=np.int64) for x in lists[term])
        blocks.append((term, ids, tfs, impacts(ids, tfs, doc_len[ids].astype(np.float32))))
    hot = sorted(blocks, key=lambda b: -len(b[1]))[:LARGE_BLOCKS]
    for term, ids, _, _ in hot:
        big = np.flatnonzero(rng.random(block_doc_range) < len(ids) / n).astype(np.int64)
        ones = np.ones(len(big), dtype=np.int64)
        blocks.append((term, big, ones, impacts(big, ones, np.full(len(big), avg, np.float32))))
    return blocks


def kernel_metrics(pdf: pd.DataFrame, query_texts: list[str], seed: int) -> dict[str, float]:
    cfg = data.index_config()
    pre = cfg.preprocessor
    rng = np.random.default_rng([seed, 11])
    affinity = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {min(affinity)})
    try:
        sample = pdf.iloc[np.sort(rng.choice(len(pdf), size=min(2000, len(pdf)), replace=False))]
        texts = sample["text"].reset_index(drop=True)
        batch = pd.DataFrame({"text": texts})
        doc_idx = np.arange(len(texts), dtype=np.int64)
        out = {
            "preprocess.process_series.turns_per_s": len(texts)
            / seconds_per_call(lambda: process_series(texts, pre)),
            "indexer.count_terms_batch.turns_per_s": len(texts)
            / seconds_per_call(lambda: count_terms_batch(batch, doc_idx, pre, set())),
        }

        blocks = postings(pdf, pre, cfg.block_doc_range, rng)
        total = sum(len(b[1]) for b in blocks)
        ids = [b[1] for b in blocks]
        enc_ids = [encode_doc_ids(a) for a in ids]
        enc_imp = [encode_impacts(b[3]) for b in blocks]
        enc_tf = [encode_tfs(b[2]) for b in blocks]
        counts = [len(a) for a in ids]
        out["compress.encode_doc_ids.postings_per_s"] = total / seconds_per_call(
            lambda: [encode_doc_ids(a) for a in ids]
        )
        out["compress.decode_doc_ids.postings_per_s"] = total / seconds_per_call(
            lambda: [decode_doc_ids(b, c) for b, c in zip(enc_ids, counts)]
        )
        out["compress.decode_impacts.postings_per_s"] = total / seconds_per_call(
            lambda: [decode_impacts(b) for b in enc_imp]
        )
        out["compress.bytes_per_posting"] = (
            sum(map(len, enc_ids)) + sum(map(len, enc_imp)) + sum(map(len, enc_tf))
        ) / total

        # one (query, doc-range block) group per query: the corpus fits one block
        small = {b[0]: b for b in blocks[: len(blocks) - LARGE_BLOCKS]}
        groups = []
        for toks in process_series(pd.Series(query_texts), pre):
            terms = [small[t] for t in toks if t in small]
            if terms:
                groups.append((
                    np.ones(len(terms), dtype=np.float32),
                    [b[1] for b in terms],
                    [b[3] for b in terms],
                ))
        out["wand.maxscore_topk.groups_per_s"] = len(groups) / seconds_per_call(
            lambda: [maxscore_topk(w, d, i, data.TOP_K) for w, d, i in groups]
        )
        return out
    finally:
        os.sched_setaffinity(0, affinity)
