"""Plan-shape regression tests for the scale-critical physical plans
(round-3 VERDICT item 9).  These assert on ``explain()`` output so a future
refactor cannot silently reintroduce a shuffle or lose a pushed filter —
each guarded property is worth orders of magnitude at the 100 TB target:

1. presorted build — the fused tokenize+assign+TF Arrow pass produces the
   per-(doc, term) table (the heaviest text-derived intermediate) with ZERO
   Exchange nodes: corpus text never crosses a shuffle boundary;
2. saved-index search — the query's term-id set reaches the parquet scan
   as ``PushedFilters`` (row-group pruning on the postings table, not a
   post-scan filter over the full index);
3. IVF pretrained assignment — cell assignment is a map-side broadcast
   argmax: no Exchange hash-partitioned by ``vec_id`` anywhere in the plan
   (the shape the old crossJoin+row_number window plan required);
4. parity search — the query tokenize UDF is evaluated once and the
   float32 fold is the grouped block kernel, not a ``collect_list`` gather;
5. per-query top-k — no Python local top-k pass where Spark already plans
   a partial WindowGroupLimit;
6. every exhaustive BM25 and BMX mode scores in that one grouped kernel:
   no ``mapInPandas`` decode, no gather.
"""

from __future__ import annotations

import re

import pandas as pd
import pytest

from baguetter_spark.config import SparseIndexConfig, TextPreprocessorConfig
from baguetter_spark.fixtures import gen_transcripts


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_presorted_tf_plan_has_no_shuffle(spark):
    from baguetter_spark.operators.presorted import (
        partition_layout,
        presorted_local_tf,
    )

    corpus = (
        spark.createDataFrame(gen_transcripts(120, 10, seed=7, vocab_size=120))
        .repartitionByRange(4, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
        .persist()
    )
    try:
        layout = partition_layout(corpus)
        assert layout is not None, "fixture corpus must verify as presorted"
        cfg = SparseIndexConfig(preprocessor=TextPreprocessorConfig.parity())
        tf = presorted_local_tf(corpus, layout, cfg)
        plan = _executed(tf)
        # the InMemoryRelation section replays the FIXTURE's own
        # repartitionByRange lineage (display only — the cache is already
        # materialized); the TF pass is everything above the cache scan
        tf_section = plan.split("InMemoryRelation")[0]
        assert "Exchange" not in tf_section, plan
        # and the Arrow kernel is really in the plan (not optimized away)
        assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan
        # sanity: the pass actually produces the TF contract
        row = tf.limit(1).collect()
        assert row and row[0]["tf"] >= 1
    finally:
        corpus.unpersist()


@pytest.fixture(scope="module")
def loaded_index(spark, tmp_path_factory):
    from baguetter_spark.io import load_index, save_index
    from baguetter_spark.operators.indexer import build_index

    cfg = SparseIndexConfig(preprocessor=TextPreprocessorConfig.parity())
    idx = build_index(
        spark,
        spark.createDataFrame(gen_transcripts(40, 4, seed=3, vocab_size=80)),
        cfg,
    )
    base = str(tmp_path_factory.mktemp("planidx"))
    save_index(idx, base)
    return load_index(spark, base)


def test_search_term_filter_reaches_parquet_scan(spark, loaded_index):
    from baguetter_spark.operators.search import score_queries

    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": ["q0"], "text": ["term00001 term00002"]})
    )
    res = score_queries(loaded_index, queries, top_k=5, parity=False)
    plan = _executed(res)
    # the pushed-filter annotation must sit on the file scan itself:
    # "PushedFilters: [In(term_id, ..." — a Filter node above the scan
    # reads the whole postings table at scale and does NOT count
    m = re.search(r"PushedFilters:\s*\[([^\]]*)\]", plan)
    assert m is not None, plan[:3000]
    assert "term_id" in m.group(1), m.group(0)


def test_parity_search_tokenizes_once_without_gather(spark, loaded_index):
    from baguetter_spark.operators.search import score_queries

    queries = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": ["q0", "q1"], "text": ["term00001 term00002", "term00003"]}
        )
    )
    plan = _executed(score_queries(loaded_index, queries, top_k=5))
    # an inferred size(toks) > 0 filter or a self-joined token count would
    # each plan the Python tokenize UDF again
    assert len(re.findall(r"ArrowEvalPython \[_tokenize\(", plan)) == 1, plan
    assert "collect_list" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan


@pytest.mark.parametrize("top_k, n_python_passes", [(10, 1), (1001, 2)])
def test_topk_local_pass_only_above_window_group_limit(
    spark, loaded_index, top_k, n_python_passes
):
    from baguetter_spark.operators.search import score_queries

    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": ["q0"], "text": ["term00001 term00002"]})
    )
    plan = _executed(score_queries(loaded_index, queries, top_k=top_k, parity=False))
    # up to spark.sql.optimizer.windowGroupLimitThreshold (1000) Spark plans a
    # partial WindowGroupLimit before the window's shuffle, so the grouped
    # block kernel is the only Python pass; above it per_query_topk adds its
    # mapInPandas pass
    passes = re.findall(r"\b(?:MapInPandas|FlatMapGroupsInPandas)\b", plan)
    assert len(passes) == n_python_passes, plan
    assert ("WindowGroupLimit" in plan) == (n_python_passes == 1), plan


def test_ivf_pretrained_assignment_is_map_side(spark):
    from baguetter_spark.operators.similarity import ivf_cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F_col_double("embedding")
    )
    res = ivf_cosine_topk(
        emb,
        [0, 1, 2],
        k=3,
        n_probe=2,
        centroid_ids=[5, 6, 7, 8],
    )
    plan = _executed(res)
    # broadcast-argmax assignment: the only hash partitionings allowed are
    # the per-query gather/top-k (query_id); a vec_id-partitioned Exchange
    # is the signature of the old crossJoin + row_number-window assignment
    assert not re.search(r"hashpartitioning\(vec_id", plan), plan
    # the Arrow argmax kernel must be present
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan


def F_col_double(name: str):
    from pyspark.sql import functions as F

    return F.col(name).cast("array<double>").alias(name)


def test_bmx_fast_path_scalars_stay_jvm_side(spark):
    """Round-4 guard: the fast-path per-query scalars (ent_max,
    avg_entropy) are ONE JVM hash aggregate; reintroducing the
    collect_list + pandas-UDF plan would add a whole Python stage per
    search (the bmx_search_20q root cause — BENCH/BASELINE.md round 4)."""
    import pandas as pd

    from baguetter_spark.config import SparseIndexConfig, TextPreprocessorConfig
    from baguetter_spark.operators.bmx import bmx_score_queries, build_bmx_index

    cfg = SparseIndexConfig(preprocessor=TextPreprocessorConfig.parity())
    idx = build_bmx_index(
        spark,
        spark.createDataFrame(gen_transcripts(30, 4, seed=11, vocab_size=60)),
        cfg,
    )
    qdf = spark.createDataFrame(
        pd.DataFrame({"query_id": ["q0"], "text": ["term00001 term00002"]})
    )
    fast = bmx_score_queries(idx, qdf, top_k=5, parity=False)
    plan = _executed(fast)
    assert "collect_list" not in plan, plan
    # the Python passes are the tokenize and the block kernel
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan


@pytest.fixture(scope="module")
def loaded_bmx_index(spark, tmp_path_factory):
    """Saved and reloaded, so the plan holds no cached build lineage."""
    from baguetter_spark.io import load_index, save_index
    from baguetter_spark.operators.bmx import build_bmx_index

    cfg = SparseIndexConfig(preprocessor=TextPreprocessorConfig.parity())
    idx = build_bmx_index(
        spark,
        spark.createDataFrame(gen_transcripts(30, 4, seed=11, vocab_size=60)),
        cfg,
    )
    base = str(tmp_path_factory.mktemp("planbmx"))
    save_index(idx, base)
    return load_index(spark, base)


@pytest.mark.parametrize(
    "model, parity", [("bm25", False), ("bmx", True), ("bmx", False)]
)
def test_exhaustive_search_is_one_block_kernel(
    spark, loaded_index, loaded_bmx_index, model, parity
):
    from baguetter_spark.operators.bmx import bmx_score_queries
    from baguetter_spark.operators.search import score_queries

    queries = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": ["q0", "q1"], "text": ["term00001 term00002", "term00003"]}
        )
    )
    if model == "bm25":
        res = score_queries(loaded_index, queries, top_k=10, parity=parity)
    else:
        res = bmx_score_queries(loaded_bmx_index, queries, top_k=10, parity=parity)
    plan = _executed(res)
    # one grouped (query, block) pass decodes, folds and ranks; no
    # mapInPandas decode feeding a JVM sum or a collect_list gather
    assert len(re.findall(r"\bFlatMapGroupsInPandas\b", plan)) == 1, plan
    assert not re.findall(r"\bMapInPandas\b", plan), plan
    # BMX parity keeps one collect_list aggregate (its final phase; the
    # partial phase prints as partial_collect_list): the per-query scalars
    n_gathers = 1 if (model, parity) == ("bmx", True) else 0
    assert len(re.findall(r"\bcollect_list\(", plan)) == n_gathers, plan
