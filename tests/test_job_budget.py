"""Job budgets: the number of Spark jobs a build, a resumable build, an
incremental add and a parity search launch.  Jobs are the deterministic cost
signal (wall time moves with the host); a change that adds a job to any of
these paths fails here."""

from __future__ import annotations

import itertools

import pandas as pd
import pytest

from baguetter_spark.config import SparseIndexConfig, TextPreprocessorConfig
from baguetter_spark.fixtures import gen_queries, gen_transcripts
from baguetter_spark.io import build_index_resumable, load_index, save_index
from baguetter_spark.operators.indexer import build_index
from baguetter_spark.operators.search import score_queries

BUILD_JOBS = 27
# one reindex pass, measured at these settings; the segment build + removal
# + merge composition it replaced took 76
ADD_JOBS = 29

# the resumable build runs build_index's stages with parquet checkpoints;
# its own stats path (a doc_map aggregation and a closing df-sum) took 43
RESUMABLE_JOBS = 39
RESUMED_JOBS = 9

# one grouped (query, block) kernel and a single tokenize pass, measured at
# these settings; the decode + collect_list gather + fold + local top-k plan
# it replaced took 9 in memory and 14 on a reloaded index
SEARCH_JOBS = 6
# a reloaded index adds the term-id pushdown collect and the parquet reads
LOADED_SEARCH_JOBS = 9
# every exhaustive BM25 and BMX mode runs the same grouped kernel, measured
# at these settings; BMX adds its persisted query-term table and per-query
# scalars (a JVM aggregate in the fast mode, a collect_list + pandas UDFs in
# parity mode)
FAST_SEARCH_JOBS = 6
BMX_FAST_SEARCH_JOBS = 12
BMX_PARITY_SEARCH_JOBS = 12

_groups = itertools.count()


def count_jobs(spark, fn) -> int:
    """Run ``fn()`` under its own job group; return the jobs it launched."""
    sc = spark.sparkContext
    group = f"job-budget-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _cfg():
    return SparseIndexConfig(preprocessor=TextPreprocessorConfig.parity())


def test_build_job_budget(spark):
    corpus = spark.createDataFrame(gen_transcripts(60, 8, seed=81, vocab_size=60))

    def build():
        idx = build_index(spark, corpus, _cfg())
        idx.postings.count()
        idx.doc_map.count()

    assert count_jobs(spark, build) <= BUILD_JOBS


def test_resumable_build_job_budget(spark, tmp_path):
    """A fresh resumable build, then a re-run that resumes every stage."""
    corpus = spark.createDataFrame(gen_transcripts(60, 8, seed=81, vocab_size=60))
    workdir = str(tmp_path / "ckpt")

    def build():
        build_index_resumable(spark, corpus, _cfg(), workdir)

    assert count_jobs(spark, build) <= RESUMABLE_JOBS
    assert count_jobs(spark, build) <= RESUMED_JOBS


def test_add_transcripts_job_budget(spark, tmp_path):
    """An add onto a reloaded base with ~10% of the delta replacing turns
    (the shape of a refresh) runs one reindex, not a segment build plus a
    removal reindex plus a merge reindex."""
    from baguetter_spark.engine import BM25SparkIndex

    base = gen_transcripts(60, 8, seed=82, vocab_size=60)
    replaced = base.iloc[::15].assign(text=lambda d: d["text"] + " swapped")
    fresh = gen_transcripts(20, 3, seed=83, vocab_size=60)
    fresh["conv_id"] = "z" + fresh["conv_id"]
    delta = spark.createDataFrame(pd.concat([replaced, fresh], ignore_index=True))

    eng = BM25SparkIndex(spark, _cfg()).build(spark.createDataFrame(base))
    save_index(eng.index, str(tmp_path / "base"))
    eng.index = load_index(spark, str(tmp_path / "base"))

    assert count_jobs(spark, lambda: eng.add_transcripts(delta)) <= ADD_JOBS
    assert eng.index.n_docs == len(base) + len(fresh)


@pytest.fixture(scope="module")
def search_setup(spark):
    corpus = spark.createDataFrame(gen_transcripts(60, 8, seed=81, vocab_size=60))
    index = build_index(spark, corpus, _cfg())
    index.postings.count()
    index.doc_map.count()
    queries = spark.createDataFrame(
        gen_queries(10, seed=5, vocab_size=60)[["query_id", "text"]]
    )
    return index, queries


def test_parity_search_job_budget(spark, search_setup):
    """A 10-query parity batch over the in-memory index."""
    index, queries = search_setup
    jobs = count_jobs(spark, lambda: score_queries(index, queries, top_k=10).collect())
    assert jobs <= SEARCH_JOBS


def test_parity_search_reloaded_job_budget(spark, search_setup, tmp_path):
    """The same batch over the index saved and reloaded (term-id pushdown
    into the parquet scan)."""
    index, queries = search_setup
    save_index(index, str(tmp_path / "idx"))
    loaded = load_index(spark, str(tmp_path / "idx"))
    jobs = count_jobs(spark, lambda: score_queries(loaded, queries, top_k=10).collect())
    assert jobs <= LOADED_SEARCH_JOBS


def test_fast_search_job_budget(spark, search_setup):
    """The same batch in the float64 mode (``parity=False``)."""
    index, queries = search_setup
    jobs = count_jobs(
        spark, lambda: score_queries(index, queries, top_k=10, parity=False).collect()
    )
    assert jobs <= FAST_SEARCH_JOBS


@pytest.fixture(scope="module")
def bmx_index(spark):
    from baguetter_spark.operators.bmx import build_bmx_index

    corpus = spark.createDataFrame(gen_transcripts(60, 8, seed=81, vocab_size=60))
    index = build_bmx_index(spark, corpus, _cfg())
    index.postings.count()
    index.doc_map.count()
    return index


@pytest.mark.parametrize(
    "parity, seed, budget",
    [(False, 6, BMX_FAST_SEARCH_JOBS), (True, 7, BMX_PARITY_SEARCH_JOBS)],
)
def test_bmx_search_job_budget(spark, bmx_index, parity, seed, budget):
    """A 10-query batch over a BMX index of the same corpus.  Each mode
    gets a batch of its own: a batch searched before reuses its persisted
    query-term table and runs 5 jobs fewer."""
    from baguetter_spark.operators.bmx import bmx_score_queries

    queries = spark.createDataFrame(
        gen_queries(10, seed=seed, vocab_size=60)[["query_id", "text"]]
    )
    jobs = count_jobs(
        spark,
        lambda: bmx_score_queries(bmx_index, queries, top_k=10, parity=parity).collect(),
    )
    assert jobs <= budget
