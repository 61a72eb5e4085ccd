"""Seeded benchmark inputs: the corpus, query batches and refresh deltas.

Every input is a pure function of ``--seed``.  Sizes are fixed here, small
enough that one run of each workload, with Spark start-up and set-up, takes
about a minute on a 4-core host: the engine's calls cost mostly per-job
overhead there, so a larger corpus would add run time, not signal.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd

from baguetter_spark.config import SparseIndexConfig, TextPreprocessorConfig
from baguetter_spark.fixtures import gen_queries, gen_transcripts

N_TURNS = 4_000
VOCAB_SIZE = 2_000
ROW_GROUPS = 8  # parquet row groups per file
TOP_K = 10
SMALL_BATCH = 10
KERNEL_QUERIES = 125  # queries whose top-k the wand kernel timing runs
DELTA_TURNS = 400
REPLACE_SHARE = 0.10  # share of a delta's keys that replace existing turns


def index_config() -> SparseIndexConfig:
    """BM25 lucene, default preprocessor (stemming + stopwords)."""
    return SparseIndexConfig(preprocessor=TextPreprocessorConfig())


def corpus(seed: int, n_turns: int = N_TURNS) -> pd.DataFrame:
    """Transcript turns sorted by (conv_id, turn_idx), the key order a
    sorted table has."""
    return gen_transcripts(n_turns, seed=seed, vocab_size=VOCAB_SIZE)


def write_parquet(pdf: pd.DataFrame, path: Path) -> Path:
    pdf.to_parquet(path, index=False, row_group_size=max(1, -(-len(pdf) // ROW_GROUPS)))
    return path


def queries(seed: int, n: int, prefix: str) -> pd.DataFrame:
    q = gen_queries(n, seed=seed, vocab_size=VOCAB_SIZE)
    q["query_id"] = [f"{prefix}{i:05d}" for i in range(n)]
    return q


def text_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["text"].map(lambda t: len(t.encode("utf-8"))).sum())


def delta(seed: int, cycle: int, current: pd.DataFrame) -> pd.DataFrame:
    """A refresh delta: new turns under fresh conversation ids, except that
    REPLACE_SHARE of its rows reuse (conv_id, turn_idx) keys of ``current``
    with new text, so the add replaces those turns."""
    rng = np.random.default_rng([seed, cycle])
    d = gen_transcripts(DELTA_TURNS, seed=int(rng.integers(1 << 31)), vocab_size=VOCAB_SIZE)
    d["conv_id"] = f"new-{cycle:03d}-" + d["conv_id"]
    n_rep = int(round(REPLACE_SHARE * len(d)))
    rows = rng.choice(len(d), size=n_rep, replace=False)
    keys = current.iloc[rng.choice(len(current), size=n_rep, replace=False)]
    d.loc[rows, "conv_id"] = keys["conv_id"].to_numpy()
    d.loc[rows, "turn_idx"] = keys["turn_idx"].to_numpy()
    return d.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def apply_delta(current: pd.DataFrame, d: pd.DataFrame) -> pd.DataFrame:
    """The corpus after an add with replace semantics."""
    key = ["conv_id", "turn_idx"]
    kept = current.merge(d[key], on=key, how="left", indicator=True)
    kept = kept[kept["_merge"] == "left_only"].drop(columns="_merge")
    out = pd.concat([kept, d], ignore_index=True)
    return out.sort_values(key).reset_index(drop=True)
