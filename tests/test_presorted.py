"""Presorted (shuffle-free) build path: digest-identical to the general
range-shuffle build on partition-ordered input, automatic fallback on
unsorted input, and the layout verifier's accept/reject behavior."""

from __future__ import annotations

import pandas as pd
import pytest

from baguetter_spark.config import SparseIndexConfig, TextPreprocessorConfig
from baguetter_spark.fixtures import gen_transcripts
from baguetter_spark.operators.indexer import build_index
from baguetter_spark.operators.presorted import partition_layout


def _index_digest(index):
    """Deterministic digest: scalar stats + doc_map + vocab + raw posting
    block bytes (delta/varint doc ids AND impact bytes — bit-level parity)."""
    doc_map = sorted(
        (r["doc_idx"], r["doc_id"], r["doc_len"]) for r in index.doc_map.collect()
    )
    vocab = sorted(
        (r["term_id"], r["term"], r["df"], round(r["idf"], 12))
        for r in index.vocab.collect()
    )
    blocks = sorted(
        (r["term_id"], r["block_id"], r["n_postings"],
         bytes(r["doc_ids_delta"]), bytes(r["impacts_f32"]))
        for r in index.postings.collect()
    )
    return (
        index.n_docs,
        index.avg_doc_len,
        index.total_postings,
        doc_map,
        vocab,
        blocks,
    )


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = gen_transcripts(300, 40, seed=31, vocab_size=300)
    return (
        spark.createDataFrame(pdf)
        .repartitionByRange(5, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
        .persist()
    )


def test_presorted_build_matches_general(spark, corpus):
    cfg = SparseIndexConfig(preprocessor=TextPreprocessorConfig.parity())
    general = build_index(spark, corpus, cfg)
    fast = build_index(spark, corpus, cfg, assume_sorted=True)
    assert _index_digest(fast) == _index_digest(general)


def test_presorted_falls_back_on_unsorted(spark):
    """Unsorted input must fail verification and silently use the general
    path — identical results, never corrupted ids."""
    pdf = gen_transcripts(200, 30, seed=13, vocab_size=200)
    shuffled = pdf.sample(frac=1.0, random_state=99).reset_index(drop=True)
    sdf = spark.createDataFrame(shuffled).repartition(4).persist()
    assert partition_layout(sdf) is None  # repartition() interleaves rows
    cfg = SparseIndexConfig(preprocessor=TextPreprocessorConfig.parity())
    general = build_index(spark, sdf, cfg)
    fast = build_index(spark, sdf, cfg, assume_sorted=True)
    assert _index_digest(fast) == _index_digest(general)


def test_require_mode_raises_on_unsorted(spark):
    """assume_sorted="require" disables the silent fallback: unsorted input
    must raise, and the under-parallelism heuristic must be skipped (a
    sorted corpus with few partitions still takes the presorted path)."""
    pdf = gen_transcripts(200, 30, seed=13, vocab_size=200)
    shuffled = pdf.sample(frac=1.0, random_state=99).reset_index(drop=True)
    sdf = spark.createDataFrame(shuffled).repartition(4).persist()
    cfg = SparseIndexConfig(preprocessor=TextPreprocessorConfig.parity())
    with pytest.raises(ValueError, match="assume_sorted='require'"):
        build_index(spark, sdf, cfg, assume_sorted="require")
    # few-partition sorted input: bool mode falls back (heuristic), require
    # mode must still build on the presorted path with identical digest
    narrow = (
        spark.createDataFrame(gen_transcripts(150, 20, seed=7, vocab_size=150))
        .repartitionByRange(2, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
        .persist()
    )
    general = build_index(spark, narrow, cfg)
    required = build_index(spark, narrow, cfg, assume_sorted="require")
    assert _index_digest(required) == _index_digest(general)


def test_layout_offsets_cover_all_rows(spark, corpus):
    layout = partition_layout(corpus)
    assert layout is not None
    assert layout.n_rows == corpus.count()
    assert sum(layout.counts.values()) == layout.n_rows
    starts = sorted(layout.offsets.values())
    sizes = [layout.counts[p] for p, _ in sorted(layout.offsets.items(), key=lambda kv: kv[1])]
    acc = 0
    for s, c in zip(starts, sizes):
        assert s == acc
        acc += c


def test_empty_input(spark):
    empty = spark.createDataFrame(
        [], schema="conv_id string, turn_idx int, text string"
    )
    layout = partition_layout(empty)
    assert layout is not None and layout.n_rows == 0


def test_stream_assembly_equals_collect(spark):
    """The streaming (repartition+sort+run-encode) posting assembly must
    produce byte-identical blocks to the aggregation-based reference plan."""
    import numpy as np

    from baguetter_spark.operators.indexer import (
        assemble_posting_blocks,
        assemble_posting_blocks_collect,
    )

    rng = np.random.default_rng(5)
    n = 5000
    pdf = pd.DataFrame(
        {
            "term_id": rng.integers(0, 40, n).astype("int64"),
            "doc_idx": rng.integers(0, 2000, n).astype("int64"),
            "tf": rng.integers(1, 5, n).astype("int64"),
            "impact": rng.random(n).astype("float32"),
        }
    ).drop_duplicates(["term_id", "doc_idx"])
    flat = spark.createDataFrame(pdf)
    cfg = SparseIndexConfig(block_doc_range=256)

    def digest(rows):
        return {
            (r["term_id"], r["block_id"]): (
                r["n_postings"],
                bytes(r["doc_ids_delta"]),
                bytes(r["impacts_f32"]),
                bytes(r["tfs"]),
                r["block_max"],
            )
            for r in rows
        }

    a = digest(assemble_posting_blocks(flat, cfg).collect())
    b = digest(assemble_posting_blocks_collect(flat, cfg).collect())
    assert a == b
