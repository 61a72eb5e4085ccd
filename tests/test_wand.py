"""Rank-safety of the block-max MaxScore pruned path: identical top-k doc
sets + scores vs exhaustive scoring, on randomized posting sets and through
the full Spark query path."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from baguetter_spark.config import SparseIndexConfig, TextPreprocessorConfig
from baguetter_spark.fixtures import gen_queries, gen_transcripts
from baguetter_spark.operators.indexer import build_index
from baguetter_spark.operators.search import score_queries
from baguetter_spark.operators.wand import maxscore_topk


def exhaustive(weights, doc_arrays, impact_arrays):
    acc: dict[int, float] = {}
    for w, ids, imp in zip(weights, doc_arrays, impact_arrays):
        for d, x in zip(ids, imp):
            acc[int(d)] = acc.get(int(d), 0.0) + float(w) * float(x)
    return acc


@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("k", [1, 3, 10, 100])
def test_kernel_rank_safe(seed, k):
    rng = np.random.default_rng(seed)
    n_docs = 500
    n_terms = rng.integers(1, 8)
    doc_arrays, impact_arrays = [], []
    for _ in range(n_terms):
        df = int(rng.integers(1, 400))
        ids = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        imp = rng.random(df).astype(np.float32) * rng.choice([0.5, 2.0, 8.0])
        doc_arrays.append(ids)
        impact_arrays.append(imp)
    weights = rng.choice([1.0, 1.0, 2.0, 0.5], size=n_terms)

    ids, scores = maxscore_topk(weights, doc_arrays, impact_arrays, k)
    truth = exhaustive(weights, doc_arrays, impact_arrays)
    # canonical top-k of the truth
    ordered = sorted(truth.items(), key=lambda t: (-t[1], t[0]))[:k]
    got = sorted(zip(ids.tolist(), scores.tolist()), key=lambda t: (-t[1], t[0]))
    assert len(got) == len(ordered)
    for (gd, gs), (ed, es) in zip(got, ordered):
        assert abs(gs - es) < 1e-9, (gd, gs, ed, es)
    # doc sets must agree except equal-score boundary swaps
    gset, eset = {d for d, _ in got}, {d for d, _ in ordered}
    if gset != eset:
        boundary = min(s for _, s in ordered)
        for d in gset ^ eset:
            assert abs(truth[d] - boundary) < 1e-9


def test_empty_terms():
    ids, scores = maxscore_topk(
        np.array([1.0]), [np.empty(0, dtype=np.int64)], [np.empty(0, dtype=np.float32)], 5
    )
    assert len(ids) == 0


@pytest.mark.parametrize("mode", [True])
def test_spark_pruned_equals_exhaustive(spark, mode):
    corpus = gen_transcripts(120, 15, seed=17, vocab_size=200)
    cfg = SparseIndexConfig(
        preprocessor=TextPreprocessorConfig.parity(),
        block_doc_range=32,  # force multiple doc-range groups (4 blocks)
    )
    index = build_index(spark, spark.createDataFrame(corpus), cfg)
    queries = gen_queries(10, seed=9, vocab_size=200)
    qdf = spark.createDataFrame(queries)

    def keyed(rows):
        return {(r["query_id"], r["doc_id"]): (r["rank"], float(r["score"])) for r in rows}

    f = keyed(score_queries(index, qdf, top_k=10, parity=False).collect())
    p = keyed(score_queries(index, qdf, top_k=10, pruned=mode).collect())
    assert set(f) == set(p)
    for key in f:
        assert f[key][0] == p[key][0], (key, f[key], p[key])
        # f64 summation order differs between the two kernels
        assert abs(f[key][1] - p[key][1]) < 1e-6


def test_blockmax_single_probe_block(spark):
    """k larger than any single block's candidate count: every block's local
    top-k is its whole candidate set, and the pruned kernel's threshold never
    forms inside a block.  Ranks must still equal exhaustive scoring."""
    corpus = gen_transcripts(90, 15, seed=23, vocab_size=120)
    cfg = SparseIndexConfig(
        preprocessor=TextPreprocessorConfig.parity(), block_doc_range=16
    )
    index = build_index(spark, spark.createDataFrame(corpus), cfg)
    qdf = spark.createDataFrame(gen_queries(6, seed=4, vocab_size=120))
    fast = score_queries(index, qdf, top_k=50, parity=False).collect()
    pruned = score_queries(index, qdf, top_k=50, pruned=True).collect()
    f = {(r["query_id"], r["doc_id"]): (r["rank"], float(r["score"])) for r in fast}
    p = {(r["query_id"], r["doc_id"]): (r["rank"], float(r["score"])) for r in pruned}
    assert set(f) == set(p)
    for key in f:
        assert f[key][0] == p[key][0], (key, f[key], p[key])
        # f64 summation order differs between the two kernels
        assert abs(f[key][1] - p[key][1]) < 1e-5


def test_pruned_tie_boundary(spark):
    """All-equal scores over several doc-range blocks: the MaxScore kernel's
    local top-k and the global window must keep the canonical (score desc,
    doc_idx asc) tie order, identical to exhaustive scoring."""
    corpus = gen_transcripts(8, 12, seed=3, vocab_size=50)
    # identical text everywhere → every doc scores identically for any query
    corpus["text"] = "alpha beta gamma"
    cfg = SparseIndexConfig(
        preprocessor=TextPreprocessorConfig.parity(), block_doc_range=16
    )
    index = build_index(spark, spark.createDataFrame(corpus), cfg)
    qdf = spark.createDataFrame(
        pd.DataFrame({"query_id": ["q0"], "text": ["alpha gamma"]})
    )
    fast = score_queries(index, qdf, top_k=7, parity=False).collect()
    pruned = score_queries(index, qdf, top_k=7, pruned=True).collect()
    f = {(r["query_id"], r["doc_id"]): r["rank"] for r in fast}
    p = {(r["query_id"], r["doc_id"]): r["rank"] for r in pruned}
    assert f == p and len(f) == 7


def test_invalid_pruned_value(spark):
    corpus = gen_transcripts(10, 5, seed=1, vocab_size=30)
    cfg = SparseIndexConfig(preprocessor=TextPreprocessorConfig.parity())
    index = build_index(spark, spark.createDataFrame(corpus), cfg)
    qdf = spark.createDataFrame(pd.DataFrame({"query_id": ["q0"], "text": ["x"]}))
    for bad in ("wand-ish", "blockmax"):
        with pytest.raises(ValueError, match="pruned"):
            score_queries(index, qdf, pruned=bad)


@pytest.mark.parametrize("mode", [True])
def test_negative_weight_pruned_falls_back(spark, mode):
    """MaxScore's suffix bound is invalid under negative weights (a partial
    score can DECREASE later): the pruned mode must detect the negative
    weight and fall back to exhaustive scoring — results identical to
    parity=False."""

    corpus = gen_transcripts(100, 12, seed=5, vocab_size=150)
    cfg = SparseIndexConfig(
        preprocessor=TextPreprocessorConfig.parity(), block_doc_range=32
    )
    index = build_index(spark, spark.createDataFrame(corpus), cfg)
    qdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": ["q0", "q0"],
                "part": [0, 1],
                "text": ["term00001 term00002 spark", "term00003 the hot01"],
                "weight": [1.0, -2.0],
            }
        )
    )
    fast = score_queries(index, qdf, top_k=10, parity=False).collect()
    pruned = score_queries(index, qdf, top_k=10, pruned=mode).collect()
    f = {(r["query_id"], r["doc_id"]): (r["rank"], round(float(r["score"]), 9)) for r in fast}
    p = {(r["query_id"], r["doc_id"]): (r["rank"], round(float(r["score"]), 9)) for r in pruned}
    assert f == p


def test_nan_weight_drops_nan_scores(spark):
    """A NaN query weight makes every doc its terms touch score NaN.  Those
    docs are dropped, never returned with a null score: a query whose only
    part is NaN-weighted returns 0 rows, and parity, fast and pruned
    search agree on the rest.  The weight is a Spark NaN (cast from the
    string "NaN"); a pandas NaN would arrive as null and be coalesced to
    1.0."""
    from pyspark.sql import functions as F

    corpus = gen_transcripts(100, 12, seed=5, vocab_size=150)
    cfg = SparseIndexConfig(
        preprocessor=TextPreprocessorConfig.parity(), block_doc_range=32
    )
    index = build_index(spark, spark.createDataFrame(corpus), cfg)
    qdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": ["q0", "q0", "q1"],
                "part": [0, 1, 0],
                "text": ["term00001 term00002", "term00003 term00004", "term00005"],
                "weight": ["1.0", "NaN", "NaN"],
            }
        )
    ).withColumn("weight", F.col("weight").cast("double"))
    ids = {}
    for mode in ({"parity": True}, {"parity": False}, {"pruned": True}):
        rows = score_queries(index, qdf, top_k=10, **mode).collect()
        assert all(r["score"] is not None for r in rows), (mode, rows)
        assert {r["query_id"] for r in rows} == {"q0"}, mode
        ids[str(mode)] = sorted((r["query_id"], r["rank"], r["doc_id"]) for r in rows)
    assert len(set(map(tuple, ids.values()))) == 1, ids
