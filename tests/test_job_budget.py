"""Job budgets: the number of Spark jobs a build and an incremental add
launch.  Jobs are the deterministic cost signal (wall time moves with the
host); a change that adds a job to either path fails here."""

from __future__ import annotations

import itertools

import pandas as pd

from baguetter_spark.config import SparseIndexConfig, TextPreprocessorConfig
from baguetter_spark.fixtures import gen_transcripts
from baguetter_spark.io import load_index, save_index
from baguetter_spark.operators.indexer import build_index

BUILD_JOBS = 27
# one reindex pass, measured at these settings; the segment build + removal
# + merge composition it replaced took 76
ADD_JOBS = 29

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
