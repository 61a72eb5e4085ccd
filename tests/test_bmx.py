"""Differential tests: Spark BMX engine vs vendored NumPy BMX oracle.

Contract mirrors the BM25 parity suite: float32-bit-exact scores, canonical
rank identity (score desc, doc_idx asc) against the oracle's dense score
vector.  Oracle semantics: `baguetter/indices/sparse/models/bmx/index.py`
(see oracle/bmx_ref.py docstring for the float-discipline notes).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from baguetter_spark.config import SparseIndexConfig, TextPreprocessorConfig
from baguetter_spark.engine import BMXSparkIndex
from baguetter_spark.fixtures import (
    CORPUS_A_KEYS,
    CORPUS_A_TEXTS,
    gen_queries,
    gen_transcripts,
)
from baguetter_spark.oracle.bmx_ref import OracleBMXIndex, oracle_bmx_scores_dense


def canonical_topk(dense: np.ndarray, k: int) -> list[tuple[int, np.float32]]:
    order = np.lexsort((np.arange(len(dense)), -dense.astype(np.float64)))
    return [(int(i), dense[i]) for i in order[:k] if dense[i] > 0]


@pytest.fixture(scope="module")
def small_corpus():
    return gen_transcripts(60, 8, seed=11, vocab_size=150)


@pytest.fixture(scope="module")
def small_queries():
    qs = gen_queries(10, seed=3, vocab_size=150)
    return list(qs["text"])


def check_bmx_parity(spark, corpus_pdf, queries, cfg, top_k=10, parity=True):
    ordered = corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    keys = [f"{c}:{t}" for c, t in zip(ordered["conv_id"], ordered["turn_idx"])]
    oracle = OracleBMXIndex(cfg).add_many(keys, list(ordered["text"]))

    engine = BMXSparkIndex(spark, cfg)
    engine.build(spark.createDataFrame(corpus_pdf))

    # index-level invariants first: vocabulary, doc lens, idf, entropy
    vocab_rows = {r["term"]: r for r in engine.index.vocab.collect()}
    assert set(vocab_rows) == set(oracle.index.vocabulary)
    for term, tid in oracle.index.vocabulary.items():
        row = vocab_rows[term]
        assert row["term_id"] == tid, (term, row["term_id"], tid)
        entry = oracle.index.inverted_index[tid]
        assert np.float32(row["idf"]) == entry["idf"], term
        assert row["entropy"] == pytest.approx(float(entry["entropy"]), rel=1e-12)

    doc_rows = sorted(engine.index.doc_map.collect(), key=lambda r: r["doc_idx"])
    assert [r["doc_len"] for r in doc_rows] == [
        int(v) for v in oracle.index.doc_lens
    ]
    assert engine.index.avg_doc_len == oracle.index.avg_doc_len
    for r in doc_rows:
        assert np.float32(r["rel_len"]) == oracle.index.relative_doc_lens[r["doc_idx"]]

    qdf = spark.createDataFrame(
        pd.DataFrame({"query_id": [f"q{i}" for i in range(len(queries))], "text": queries})
    )
    res = engine.score_queries(qdf, top_k=top_k, parity=parity).collect()
    by_q: dict[str, list] = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)

    key_to_idx = {k: i for i, k in oracle.key_mapping.items()}
    n_checked = 0
    for i, qtext in enumerate(queries):
        tokens = oracle._process(qtext)
        token_ids = oracle.to_token_ids(tokens)
        dense = oracle_bmx_scores_dense(
            oracle.index, token_ids, alpha=cfg.alpha, beta=cfg.beta
        )
        expected = canonical_topk(dense, top_k)
        got = sorted(by_q.get(f"q{i}", []), key=lambda r: r["rank"])
        got_pos = [r for r in got if r["score"] > 0]
        assert len(got_pos) == len(expected), (i, qtext)
        for r, (exp_idx, exp_score) in zip(got_pos, expected):
            assert key_to_idx[r["doc_id"]] == exp_idx, (i, qtext, r["rank"])
            if parity:
                assert np.float32(r["score"]) == exp_score, (
                    i, r["rank"], r["score"], exp_score,
                )
            else:
                assert abs(r["score"] - float(exp_score)) <= 1e-5 * max(
                    1.0, abs(float(exp_score))
                )
            n_checked += 1
    assert n_checked > 0


def test_bmx_parity_default(spark, small_corpus, small_queries):
    cfg = SparseIndexConfig(preprocessor=TextPreprocessorConfig.parity())
    check_bmx_parity(spark, small_corpus, small_queries, cfg)


def test_bmx_parity_full_preprocessor(spark, small_corpus, small_queries):
    cfg = SparseIndexConfig()
    check_bmx_parity(spark, small_corpus, small_queries[:5], cfg)


def test_bmx_parity_min_df(spark, small_corpus, small_queries):
    """min_df IS applied for BMX (reference bmx.py:51) — vocabulary and
    doc_lens both shrink to the filtered doc-term matrix."""
    cfg = SparseIndexConfig(min_df=3, preprocessor=TextPreprocessorConfig.parity())
    check_bmx_parity(spark, small_corpus, small_queries[:5], cfg)


def test_bmx_parity_fast_path(spark, small_corpus, small_queries):
    cfg = SparseIndexConfig(preprocessor=TextPreprocessorConfig.parity())
    check_bmx_parity(spark, small_corpus, small_queries[:5], cfg, parity=False)


def test_bmx_parity_alpha_beta_override(spark, small_corpus, small_queries):
    cfg = SparseIndexConfig(
        alpha=0.9, beta=0.05, preprocessor=TextPreprocessorConfig.parity()
    )
    check_bmx_parity(spark, small_corpus, small_queries[:5], cfg)


def test_bmx_journey_miles(spark):
    """Reference model_test.py:14-85 expectation, BMX flavor: 'journey miles'
    ranks doc2 first at k=2."""
    cfg = SparseIndexConfig(preprocessor=TextPreprocessorConfig.parity())
    engine = BMXSparkIndex(spark, cfg).add_many(CORPUS_A_KEYS, CORPUS_A_TEXTS)
    keys, scores = engine.search("journey miles", top_k=2)
    assert keys[0] == "doc2"
    oracle = OracleBMXIndex(cfg).add_many(CORPUS_A_KEYS, CORPUS_A_TEXTS)
    okeys, oscores = oracle.search("journey miles", top_k=2)
    assert okeys[0] == "doc2"
    assert np.float32(scores[0]) == oscores[0]


def test_bmx_weighted_search(spark):
    cfg = SparseIndexConfig(preprocessor=TextPreprocessorConfig.parity())
    texts = [
        "spark shuffle partition skew salt",
        "partition pruning scan filter spark",
        "skew join broadcast hash",
        "salt skew hot term posting",
    ]
    keys = [f"d{i}" for i in range(len(texts))]
    engine = BMXSparkIndex(spark, cfg).add_many(keys, texts)
    oracle = OracleBMXIndex(cfg).add_many(keys, texts)
    queries = ["spark skew", "partition salt"]
    weights = [2.0, 0.5]
    ekeys, escores = engine.search_weighted(queries, weights, top_k=4)
    okeys, oscores = oracle.search_weighted(queries, weights, top_k=4)
    e = sorted(zip(ekeys, escores), key=lambda t: (-float(t[1]), t[0]))
    o = sorted(zip(okeys, oscores), key=lambda t: (-float(t[1]), t[0]))
    assert [k for k, _ in e] == [k for k, _ in o]
    for (_, es), (_, os_) in zip(e, o):
        assert np.float32(es) == os_


def test_bmx_normalized_scores(spark):
    cfg = SparseIndexConfig(
        preprocessor=TextPreprocessorConfig.parity(), normalize_scores=True
    )
    engine = BMXSparkIndex(spark, cfg).add_many(CORPUS_A_KEYS, CORPUS_A_TEXTS)
    oracle = OracleBMXIndex(cfg).add_many(CORPUS_A_KEYS, CORPUS_A_TEXTS)
    ekeys, escores = engine.search("journey miles step", top_k=3)
    okeys, oscores = oracle.search("journey miles step", top_k=3)
    e = dict(zip(ekeys, [np.float32(s) for s in escores]))
    o = dict(zip(okeys, oscores))
    for k in e:
        assert e[k] == o[k], (k, e[k], o[k])


# ------------------------------------------------ multi-block differential

# (query_id, [(text, weight), ...]): sub-queries concatenate in part order
BMX_MULTIBLOCK_QUERIES = [
    ("q_plain", [("term00002 hot3 term00011 term00005", 1.0)]),
    ("q_dup", [("term00003 term00003 term00007 term00003", 1.0)]),
    (
        "q_parts",
        [("term00001 term00002 hot4", 2.5), ("term00004 term00001", -0.75)],
    ),
    ("q_neg", [("term00006 hot5", -1.5)]),
    ("q_neg_dense", [("term00000 term00001", -1.0)]),
]


@pytest.fixture(scope="module")
def bmx_multiblock(spark):
    """Default preprocessor at block_doc_range=16: 70 docs over 5 doc-range
    blocks, so every query's score is folded in several (query, block)
    groups, each counting its own docs' query-token hits for sim."""
    from baguetter_spark.operators.bmx import build_bmx_index

    cfg = SparseIndexConfig(block_doc_range=16)
    corpus = gen_transcripts(70, 9, seed=23, vocab_size=60)
    ordered = corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    keys = [f"{c}:{t}" for c, t in zip(ordered["conv_id"], ordered["turn_idx"])]
    oracle = OracleBMXIndex(cfg).add_many(keys, list(ordered["text"]))
    index = build_bmx_index(spark, spark.createDataFrame(corpus), cfg)
    rows = [
        (qid, part, text, weight)
        for qid, parts in BMX_MULTIBLOCK_QUERIES
        for part, (text, weight) in enumerate(parts)
    ]
    qdf = spark.createDataFrame(
        rows, "query_id string, part int, text string, weight double"
    )
    key_to_idx = {k: i for i, k in oracle.key_mapping.items()}
    return index, oracle, qdf, key_to_idx


def bmx_oracle_topk(oracle, parts, k, normalize, dense_topk=False):
    """Canonical (score desc, doc_idx asc) top-k of the reference BMX kernel
    over the docs with at least one posting of the query, or over every doc
    (the dense vector ``empty_query="reference"`` reproduces)."""
    ids: list[int] = []
    weights: list[float] = []
    for text, w in parts:
        tids = oracle.to_token_ids(oracle._process(text))
        ids.extend(int(t) for t in tids)
        weights.extend([w] * len(tids))
    idx = oracle.index
    dense = oracle_bmx_scores_dense(
        idx, np.array(ids, dtype=np.int64), np.array(weights, dtype=np.float32)
    )
    if dense_topk:
        docs = np.arange(idx.n_docs, dtype=np.int64)
    else:
        docs = np.unique(
            np.concatenate([idx.inverted_index[t]["doc_ids"] for t in ids])
        ).astype(np.int64)
    top = docs[np.lexsort((docs, -dense[docs].astype(np.float64)))][:k]
    scores = dense[top]
    if normalize:
        scores = oracle._normalize(len(ids), scores)
    return list(top), list(scores)


@pytest.mark.parametrize(
    ("parity", "top_k", "normalize"),
    [(True, 10, False), (True, 10, True), (True, 200, False), (False, 200, True)],
)
def test_bmx_multiblock_matches_oracle(spark, bmx_multiblock, parity, top_k, normalize):
    """BMX top-k across doc-range blocks: duplicate tokens, weighted
    sub-queries with a negative weight, normalization and top_k > n_docs.
    Parity scores equal the reference bit for bit; the float64 fast mode
    is within 1e-5 relative."""
    from baguetter_spark.operators.bmx import bmx_score_queries

    index, oracle, qdf, key_to_idx = bmx_multiblock
    assert index.n_docs > 4 * 16
    got = bmx_score_queries(
        index, qdf, top_k=top_k, parity=parity, normalize=normalize
    ).collect()
    by_q: dict[str, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, parts in BMX_MULTIBLOCK_QUERIES:
        exp_idx, exp_scores = bmx_oracle_topk(oracle, parts, top_k, normalize)
        rows = sorted(by_q[qid], key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1)), qid
        assert [key_to_idx[r["doc_id"]] for r in rows] == exp_idx, qid
        for r, exp in zip(rows, exp_scores):
            if parity:
                assert np.float32(r["score"]) == exp, (qid, r["rank"])
            else:
                assert abs(r["score"] - float(exp)) <= 1e-5 * abs(float(exp)), qid


def test_bmx_multiblock_reference_padding(spark, bmx_multiblock):
    """empty_query="reference" returns the reference's dense BMX top-k bit
    for bit: zero-score docs outrank negative sums."""
    from baguetter_spark.operators.bmx import bmx_score_queries

    index, oracle, qdf, key_to_idx = bmx_multiblock
    got = bmx_score_queries(index, qdf, top_k=10, empty_query="reference").collect()
    by_q: dict[str, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, parts in BMX_MULTIBLOCK_QUERIES:
        exp_idx, exp_scores = bmx_oracle_topk(oracle, parts, 10, False, dense_topk=True)
        rows = sorted(by_q[qid], key=lambda r: r["rank"])
        assert [key_to_idx[r["doc_id"]] for r in rows] == exp_idx, qid
        assert [np.float32(r["score"]) for r in rows] == exp_scores, qid
