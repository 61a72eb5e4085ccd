"""Differential tests: Spark engine vs vendored NumPy oracle.

The north-rule contract: top-k docIDs and BM25 scores rank-identical to the
reference `BM25SparseIndex` (float32-bit-exact scores; canonical tie order
score desc / doc_idx asc, since the reference's argpartition tie order is
nondeterministic — SURVEY §4.2.6).

Strategy: build both engines over the same corpus (stable (conv_id, turn_idx)
order == oracle insertion order), run the same queries, then assert
1. every engine score equals the oracle's dense float32 score bit-exactly;
2. the engine ranking equals the canonical ranking of the oracle's dense
   score vector (positive-score prefix).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from baguetter_spark.config import SparseIndexConfig, TextPreprocessorConfig
from baguetter_spark.engine import BM25SparkIndex
from baguetter_spark.fixtures import (
    CORPUS_A_KEYS,
    CORPUS_A_TEXTS,
    gen_queries,
    gen_transcripts,
)
from baguetter_spark.oracle import OracleBM25Index
from baguetter_spark.oracle.bm25_ref import (
    oracle_calculate_scores_dense,
)

ALL_METHODS = ["lucene", "robertson", "atire", "bm25l", "bm25plus"]


def canonical_topk(dense: np.ndarray, k: int) -> list[tuple[int, np.float32]]:
    """Canonical (score desc, doc_idx asc) top-k of a dense score vector,
    positive scores only (engine omits unmatched/zero docs)."""
    order = np.lexsort((np.arange(len(dense)), -dense.astype(np.float64)))
    out = [(int(i), dense[i]) for i in order[:k] if dense[i] > 0]
    return out


def check_parity(spark, corpus_pdf, queries, cfg, top_k=10, parity=True):
    # oracle: ingest docs in (conv_id, turn_idx) order
    ordered = corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    keys = [
        f"{c}:{t}" for c, t in zip(ordered["conv_id"], ordered["turn_idx"])
    ]
    oracle = OracleBM25Index(cfg).add_many(keys, list(ordered["text"]))

    engine = BM25SparkIndex(spark, cfg)
    engine.build(spark.createDataFrame(corpus_pdf))

    qdf = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": [f"q{i}" for i in range(len(queries))], "text": queries}
        )
    )
    res = engine.score_queries(qdf, top_k=top_k, parity=parity).collect()
    by_q: dict[str, list] = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)

    key_to_idx = {k: i for i, k in oracle.key_mapping.items()}
    assert len(key_to_idx) == len(keys)

    n_checked = 0
    for i, qtext in enumerate(queries):
        tokens = oracle._process(qtext)
        token_ids = oracle.to_token_ids(tokens)
        dense = oracle_calculate_scores_dense(oracle.index, token_ids)
        expected = canonical_topk(dense, top_k)
        got = sorted(by_q.get(f"q{i}", []), key=lambda r: r["rank"])
        got_pos = [r for r in got if r["score"] > 0]
        assert len(got_pos) == len(expected), (
            f"q{i} {qtext!r}: engine returned {len(got_pos)} positive rows, "
            f"oracle {len(expected)}"
        )
        for r, (exp_idx, exp_score) in zip(got_pos, expected):
            assert key_to_idx[r["doc_id"]] == exp_idx, (
                f"q{i} {qtext!r} rank {r['rank']}: doc {r['doc_id']} "
                f"(idx {key_to_idx[r['doc_id']]}) != oracle idx {exp_idx}"
            )
            if parity:
                assert np.float32(r["score"]) == exp_score, (
                    f"q{i} rank {r['rank']}: score {r['score']!r} != "
                    f"{exp_score!r} (diff {abs(r['score'] - float(exp_score))})"
                )
            else:
                assert abs(r["score"] - float(exp_score)) <= 1e-5 * max(
                    1.0, abs(float(exp_score))
                )
            n_checked += 1
    assert n_checked > 0


@pytest.fixture(scope="module")
def small_corpus():
    return gen_transcripts(60, 8, seed=11, vocab_size=150)


@pytest.fixture(scope="module")
def small_queries():
    qs = gen_queries(12, seed=3, vocab_size=150)
    return list(qs["text"])


@pytest.mark.parametrize("method", ALL_METHODS)
def test_parity_all_methods(spark, small_corpus, small_queries, method):
    cfg = SparseIndexConfig(
        method=method,
        idf_method=method,
        preprocessor=TextPreprocessorConfig.parity(),
    )
    check_parity(spark, small_corpus, small_queries, cfg)


def test_parity_full_preprocessor(spark, small_corpus, small_queries):
    """Default pipeline (vendored stopwords + stemmer) — engine and oracle
    share the preprocessing code, so this checks the Spark plumbing."""
    cfg = SparseIndexConfig()
    check_parity(spark, small_corpus, small_queries, cfg)


def test_parity_fast_path(spark, small_corpus, small_queries):
    """parity=False (double-sum fast path): ranks may theoretically permute
    on near-ties, scores within 1e-5 relative; doc sets must agree."""
    cfg = SparseIndexConfig(preprocessor=TextPreprocessorConfig.parity())
    check_parity(spark, small_corpus, small_queries[:6], cfg, parity=False)


def test_journey_miles_corpus_a(spark):
    cfg = SparseIndexConfig(preprocessor=TextPreprocessorConfig.parity())
    engine = BM25SparkIndex(spark, cfg).add_many(CORPUS_A_KEYS, CORPUS_A_TEXTS)
    (keys, scores) = engine.search("journey miles", top_k=2)
    assert keys[0] == "doc2"
    oracle = OracleBM25Index(cfg).add_many(CORPUS_A_KEYS, CORPUS_A_TEXTS)
    okeys, oscores = oracle.search("journey miles", top_k=2)
    assert okeys[0] == "doc2"
    assert np.float32(scores[0]) == oscores[0]


def test_weighted_search_parity(spark):
    cfg = SparseIndexConfig(preprocessor=TextPreprocessorConfig.parity())
    texts = [
        "spark shuffle partition skew salt",
        "partition pruning scan filter spark",
        "skew join broadcast hash",
        "salt skew hot term posting",
    ]
    keys = [f"d{i}" for i in range(len(texts))]
    engine = BM25SparkIndex(spark, cfg).add_many(keys, texts)
    oracle = OracleBM25Index(cfg).add_many(keys, texts)

    queries = ["spark skew", "partition salt"]
    weights = [2.0, 0.5]
    ekeys, escores = engine.search_weighted(queries, weights, top_k=4)
    okeys, oscores = oracle.search_weighted(queries, weights, top_k=4)
    # canonicalize oracle ties: stable sort by (-score, key)
    o = sorted(zip(okeys, oscores), key=lambda t: (-float(t[1]), t[0]))
    e = sorted(zip(ekeys, escores), key=lambda t: (-float(t[1]), t[0]))
    assert [k for k, _ in e] == [k for k, _ in o]
    for (_, es), (_, os_) in zip(e, o):
        assert np.float32(es) == os_


def test_normalized_scores_parity(spark):
    cfg = SparseIndexConfig(
        preprocessor=TextPreprocessorConfig.parity(), normalize_scores=True
    )
    engine = BM25SparkIndex(spark, cfg).add_many(CORPUS_A_KEYS, CORPUS_A_TEXTS)
    oracle = OracleBM25Index(cfg).add_many(CORPUS_A_KEYS, CORPUS_A_TEXTS)
    ekeys, escores = engine.search("journey miles step", top_k=3)
    okeys, oscores = oracle.search("journey miles step", top_k=3)
    e = dict(zip(ekeys, [np.float32(s) for s in escores]))
    o = dict(zip(okeys, oscores))
    for k in e:
        assert e[k] == o[k], (k, e[k], o[k])


def test_empty_query_reference_mode(spark):
    """empty_query='reference': every query padded to exactly k rows with
    deterministic zero-score docs (reference always-k contract,
    index.py:176-185); default mode returns 0 rows for an all-OOV query."""
    from baguetter_spark.operators.search import score_queries

    cfg = SparseIndexConfig(preprocessor=TextPreprocessorConfig.parity())
    corpus = gen_transcripts(30, 6, seed=3, vocab_size=50)
    engine = BM25SparkIndex(spark, cfg).build(spark.createDataFrame(corpus))
    qdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": ["qoov", "qok"],
                "text": ["zzoov1 zzoov2", "term00001 the"],
            }
        )
    )
    k = 5
    default = score_queries(engine.index, qdf, top_k=k, parity=False).collect()
    assert not [r for r in default if r["query_id"] == "qoov"]

    padded = score_queries(
        engine.index, qdf, top_k=k, parity=False, empty_query="reference"
    ).collect()
    by_q: dict = {}
    for r in padded:
        by_q.setdefault(r["query_id"], []).append(r)
    for q in ("qoov", "qok"):
        rows = sorted(by_q[q], key=lambda r: r["rank"])
        assert len(rows) == k, (q, len(rows))
        assert [r["rank"] for r in rows] == list(range(1, k + 1))
    # the all-OOV query gets the deterministic lowest doc ids, score 0
    oov = sorted(by_q["qoov"], key=lambda r: r["rank"])
    assert all(float(r["score"]) == 0.0 for r in oov)
    # real matches of qok keep their scores and outrank any pads
    ok = sorted(by_q["qok"], key=lambda r: r["rank"])
    scores = [float(r["score"]) for r in ok]
    assert scores == sorted(scores, reverse=True)


# ------------------------------------------------ multi-block differential

# (query_id, [(text, weight), ...]): sub-queries concatenate in part order
MULTIBLOCK_QUERIES = [
    ("q_plain", [("term00002 hot3 term00011 term00005", 1.0)]),
    ("q_dup", [("term00003 term00003 term00007 term00003", 1.0)]),
    ("q_hot", [("hot1 hot2 hot1 the", 1.0)]),
    (
        "q_parts",
        [
            ("term00001 term00002 hot4", 2.5),
            ("term00004 term00001", -0.75),
            ("term00009 zzoov", 0.3),
        ],
    ),
    ("q_neg", [("term00006 hot5", -1.5)]),
    # 15 of the 20 lowest doc ids (and 59 of 70 docs) score below zero
    ("q_neg_dense", [("term00000 term00001", -1.0)]),
]
# no in-vocab token: empty text, null text, all stopwords, all OOV
EMPTY_QUERIES = [
    ("q_empty", [("", 1.0)]),
    ("q_null", [(None, 1.0)]),
    ("q_stop", [("the and of is", 1.0)]),
    ("q_oov", [("zzqx1 zzqx2", 1.0)]),
]


@pytest.fixture(scope="module")
def multiblock(spark):
    """Default preprocessor (stopwords + stemmer) at block_doc_range=16:
    ~70 docs spread over 5 doc-range blocks, so every query's score is
    folded in several (query, block) groups."""
    cfg = SparseIndexConfig(block_doc_range=16)
    corpus = gen_transcripts(70, 9, seed=23, vocab_size=60)
    ordered = corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    keys = [f"{c}:{t}" for c, t in zip(ordered["conv_id"], ordered["turn_idx"])]
    oracle = OracleBM25Index(cfg).add_many(keys, list(ordered["text"]))
    engine = BM25SparkIndex(spark, cfg).build(spark.createDataFrame(corpus))
    rows = [
        (qid, part, text, weight)
        for qid, parts in MULTIBLOCK_QUERIES + EMPTY_QUERIES
        for part, (text, weight) in enumerate(parts)
    ]
    qdf = spark.createDataFrame(
        rows, "query_id string, part int, text string, weight double"
    )
    key_to_idx = {k: i for i, k in oracle.key_mapping.items()}
    return engine.index, oracle, qdf, key_to_idx


def oracle_multiblock_topk(oracle, parts, k, normalize, dense_topk=False):
    """Canonical (score desc, doc_idx asc) top-k scored by the reference
    kernel.  The candidates are every doc with at least one posting of the
    query — the engine's default candidate set, zero and negative sums
    included — or, with ``dense_topk``, every doc: the reference's dense
    score vector that ``empty_query="reference"`` reproduces."""
    ids: list[int] = []
    weights: list[float] = []
    for text, w in parts:
        tids = oracle.to_token_ids(oracle._process(text or ""))
        ids.extend(int(t) for t in tids)
        weights.extend([w] * len(tids))
    idx = oracle.index
    token_ids = np.array(ids, dtype=np.int64)
    dense = oracle_calculate_scores_dense(
        idx, token_ids, np.array(weights, dtype=np.float32)
    )
    if dense_topk:
        docs = np.arange(len(dense), dtype=np.int64)
    else:
        docs = np.unique(
            np.concatenate(
                [np.empty(0, dtype=np.int64)]
                + [
                    idx.doc_indices[idx.col_pointers[t] : idx.col_pointers[t + 1]]
                    for t in ids
                ]
            )
        ).astype(np.int64)
    top = docs[np.lexsort((docs, -dense[docs].astype(np.float64)))][:k]
    scores = dense[top]
    if normalize:
        scores = oracle._normalize(len(ids), scores)
    return list(top), list(scores)


def _by_query(rows):
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append(r)
    return {q: sorted(rs, key=lambda r: r["rank"]) for q, rs in out.items()}


@pytest.mark.parametrize(
    ("top_k", "normalize"), [(10, False), (10, True), (200, False)]
)
def test_parity_multiblock_matches_oracle(spark, multiblock, top_k, normalize):
    """Parity top-k equals the reference bit for bit at a multi-block
    layout: duplicate tokens, weighted sub-queries (one negative weight),
    normalization and top_k > n_docs.  Queries without an in-vocab token
    return no rows."""
    from baguetter_spark.operators.search import score_queries

    index, oracle, qdf, key_to_idx = multiblock
    assert index.n_docs > 4 * 16
    assert (top_k > index.n_docs) == (top_k == 200)
    got = _by_query(
        score_queries(index, qdf, top_k=top_k, normalize=normalize).collect()
    )
    for qid, parts in MULTIBLOCK_QUERIES:
        exp_idx, exp_scores = oracle_multiblock_topk(oracle, parts, top_k, normalize)
        rows = got.get(qid, [])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert [key_to_idx[r["doc_id"]] for r in rows] == exp_idx, qid
        assert [np.float32(r["score"]) for r in rows] == exp_scores, qid
    for qid, _ in EMPTY_QUERIES:
        assert qid not in got, (qid, got[qid])


@pytest.mark.parametrize("top_k", [10, 200])
def test_parity_multiblock_reference_padding(spark, multiblock, top_k):
    """empty_query="reference" returns the reference's dense top-k bit for
    bit: min(k, n_docs) rows per query, empty ones included.  Zero-score
    docs outrank negative sums (q_neg, q_neg_dense), and a query without an
    in-vocab token gets the lowest doc ids."""
    from baguetter_spark.operators.search import score_queries

    index, oracle, qdf, key_to_idx = multiblock
    m = min(top_k, index.n_docs)
    got = _by_query(
        score_queries(index, qdf, top_k=top_k, empty_query="reference").collect()
    )
    for qid, parts in MULTIBLOCK_QUERIES + EMPTY_QUERIES:
        rows = got[qid]
        exp_idx, exp_scores = oracle_multiblock_topk(
            oracle, parts, top_k, False, dense_topk=True
        )
        assert len(exp_idx) == m
        assert [r["rank"] for r in rows] == list(range(1, m + 1)), qid
        assert [key_to_idx[r["doc_id"]] for r in rows] == exp_idx, qid
        assert [np.float32(r["score"]) for r in rows] == exp_scores, qid
