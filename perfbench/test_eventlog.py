"""Event-log folding, checked on a tiny traced build.

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

from eventlog import fold, no_task_seconds  # noqa: E402
from harness import Recorder, Session, remove_tree  # noqa: E402


def test_no_task_seconds_merges_overlaps_and_clips():
    # busy [100,300] ∪ [250,400] ∪ [900,1200→clipped 1000] inside [0,1000]
    intervals = [(250, 400), (100, 300), (900, 1200)]
    assert no_task_seconds(intervals, 0, 1000) == pytest.approx(0.6)
    assert no_task_seconds([], 0, 500) == pytest.approx(0.5)


@pytest.fixture(scope="module")
def traced_build(tmp_path_factory):
    from baguetter_spark.config import SparseIndexConfig, TextPreprocessorConfig
    from baguetter_spark.fixtures import gen_transcripts
    from baguetter_spark.merge import release_index
    from baguetter_spark.operators.indexer import build_index

    work = tmp_path_factory.mktemp("perfbench")
    session = Session(work)
    spark = session.start()
    try:
        corpus = spark.createDataFrame(gen_transcripts(300, seed=5, vocab_size=200))
        cfg = SparseIndexConfig(preprocessor=TextPreprocessorConfig())
        rec = Recorder(spark)
        with rec.call("untraced.build"):
            release_index(build_index(spark, corpus, cfg))
        session.start_event_log(work / "events", "traced")
        rec.traced = True
        for _ in range(2):
            with rec.call("indexer.build_index"):
                idx = build_index(spark, corpus, cfg)
                idx.postings.count()
                idx.doc_map.count()
            release_index(idx)
        log = session.stop_event_log()
        yield fold([log]), rec
    finally:
        session.close()
        remove_tree(work)


def test_fold_attributes_each_call(traced_build):
    groups, rec = traced_build
    spans = [s for s in rec.spans if s.call == "indexer.build_index"]
    assert sorted(groups) == sorted(s.group for s in spans)
    first, second = (groups[s.group] for s in spans)
    # both builds are warm and identical: counts repeat exactly
    assert first.jobs == second.jobs > 0
    assert len(first.stages) == len(second.stages) >= first.jobs
    for c in (first, second):
        assert c.executor_cpu_s > 0
        assert c.shuffle_write_bytes > 0
        # the tokenizer is an Arrow pass: text is sent to Python workers
        assert c.python_bytes_sent > 0
        assert c.python_worker_s > 0
    for s in spans:
        c = groups[s.group]
        idle = no_task_seconds(c.task_intervals, s.start * 1e3, s.end * 1e3)
        assert 0 < idle < s.end - s.start
