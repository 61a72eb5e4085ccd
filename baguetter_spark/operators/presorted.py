"""Shuffle-free doc-idx assignment for partition-ordered input.

At 100 TB the transcripts normally live in an Iceberg/parquet table whose
files are written sorted by ``(conv_id, turn_idx)`` — the table's own sort
order.  For such input the general build's range-shuffle zipWithIndex
(operators/zipindex.py) and the follow-up text join move every byte of the
corpus through a shuffle only to recover an ordering the storage already
has.  This module exploits (and VERIFIES) that ordering instead:

    pass 1 (narrow, column-pruned): per-partition summary over the key
        columns only — row count, min/max key, is-sorted flag;
    driver: order partitions by min key, check each partition is internally
        sorted and partition key ranges don't overlap; prefix-sum counts in
        key order -> per-partition doc_idx offsets.  ANY violation returns
        None and the caller falls back to the general path — the fast path
        can never produce wrong ids on unsorted input;
    pass 2: ``mapInPandas`` assigns ``offset[pid] + local_position`` and (for
        the build) tokenizes in the SAME Arrow pass — the corpus text never
        crosses a shuffle at all before the TF aggregation.

Both passes scan the same source DataFrame; Spark's file-split planning is
deterministic for an identical plan, and pass 2 additionally asserts the
per-partition row count it sees matches pass 1's (any planner
nondeterminism becomes a loud error, never silent id corruption).

Reference tie-in: doc ids must equal the reference's insertion order
(``key_mapping = dict(enumerate(keys))``, base.py:251) == rank in
(conv_id, turn_idx) — identical to the general path (differentially
tested), so a presorted build is digest-identical to a general build.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class PartitionLayout:
    """Verified partition-ordered layout: doc_idx offsets + expected counts
    per Spark partition id, and the total row count."""

    offsets: dict[int, int]
    counts: dict[int, int]
    n_rows: int


def _keys_sorted(conv: np.ndarray, turn: np.ndarray) -> bool:
    if len(conv) < 2:
        return True
    c_prev, c_next = conv[:-1], conv[1:]
    t_prev, t_next = turn[:-1], turn[1:]
    ok = (c_next > c_prev) | ((c_next == c_prev) & (t_next >= t_prev))
    return bool(np.asarray(ok, dtype=bool).all())


def partition_layout(transcripts: DataFrame) -> PartitionLayout | None:
    """Verify the input is partition-ordered by (conv_id, turn_idx) and
    return the doc_idx layout, or None if the ordering doesn't hold.

    One narrow pass (conv_id, turn_idx only — parquet column pruning keeps
    it ~2% of corpus bytes); #partitions summary rows to the driver.

    The summary schema carries conv_id min/max at the INPUT's native type
    (derived, not hardcoded string): a bigint conv_id must order numerically
    ('10' < '9' as strings would silently diverge from the general
    zipindex path's native-type ordering).  Any failure of the verification
    pass itself (e.g. an exotic key type Arrow can't round-trip) returns
    None — fallback to the general path, never an error on the fast path.
    """
    conv_type = transcripts.schema["conv_id"].dataType.simpleString()
    narrow = transcripts.select("conv_id", "turn_idx").withColumn(
        "__pid", F.spark_partition_id()
    )

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = None
        cnt = 0
        mn = mx = None  # (conv, turn) tuples
        ok = True
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["__pid"].iloc[0])
            conv = pdf["conv_id"].to_numpy(dtype=object)
            turn = pdf["turn_idx"].to_numpy(dtype=np.int64)
            if ok and not _keys_sorted(conv, turn):
                ok = False
            first = (conv[0], int(turn[0]))
            last = (conv[-1], int(turn[-1]))
            if mn is None:
                mn = first
            elif ok and first < mx:  # batch boundary must continue the order
                ok = False
            mx = last if mx is None or last >= mx else mx
            cnt += len(pdf)
        if pid is not None:
            yield pd.DataFrame(
                {
                    "pid": [pid],
                    "cnt": [cnt],
                    "min_conv": [mn[0]],
                    "min_turn": [mn[1]],
                    "max_conv": [mx[0]],
                    "max_turn": [mx[1]],
                    "sorted": [ok],
                }
            )

    try:
        rows = narrow.mapInPandas(
            summarize,
            schema=(
                f"pid int, cnt long, min_conv {conv_type}, min_turn long, "
                f"max_conv {conv_type}, max_turn long, sorted boolean"
            ),
        ).collect()
    except Exception:  # noqa: BLE001 — any verification failure means "not provably sorted"
        return None
    if not rows:
        return PartitionLayout(offsets={}, counts={}, n_rows=0)
    if not all(r["sorted"] for r in rows):
        return None
    ordered = sorted(rows, key=lambda r: (r["min_conv"], r["min_turn"]))
    prev_max = None
    offsets: dict[int, int] = {}
    counts: dict[int, int] = {}
    acc = 0
    for r in ordered:
        mn = (r["min_conv"], r["min_turn"])
        if prev_max is not None and mn < prev_max:
            return None  # overlapping partition key ranges
        prev_max = (r["max_conv"], r["max_turn"])
        offsets[r["pid"]] = acc
        counts[r["pid"]] = r["cnt"]
        acc += r["cnt"]
    return PartitionLayout(offsets=offsets, counts=counts, n_rows=acc)


def _assign_idx(pdf_pid: int, local: int, layout_off, layout_cnt) -> int:
    start = layout_off[pdf_pid] + local
    return start


def presorted_keys(transcripts: DataFrame, layout: PartitionLayout) -> DataFrame:
    """(conv_id, turn_idx) -> (doc_idx, doc_id): the doc_map key frame,
    assigned from the verified layout with no shuffle."""
    narrow = transcripts.select("conv_id", "turn_idx").withColumn(
        "__pid", F.spark_partition_id()
    )
    b_off = transcripts.sparkSession.sparkContext.broadcast(
        (layout.offsets, layout.counts)
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = 0
        pid = None
        off, cnts = b_off.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["__pid"].iloc[0])
            start = off[pid] + local
            local += len(pdf)
            doc_idx = np.arange(start, start + len(pdf), dtype=np.int64)
            doc_id = (
                pdf["conv_id"].astype(str)
                + ":"
                + pdf["turn_idx"].astype(np.int64).astype(str)
            )
            yield pd.DataFrame({"doc_idx": doc_idx, "doc_id": doc_id})
        if pid is not None and local != cnts[pid]:
            msg = (
                f"presorted layout mismatch: partition {pid} saw {local} rows, "
                f"expected {cnts[pid]} (nondeterministic input partitioning)"
            )
            raise RuntimeError(msg)

    return narrow.mapInPandas(assign, schema="doc_idx long, doc_id string")


def presorted_local_tf(
    transcripts: DataFrame, layout: PartitionLayout, config
) -> DataFrame:
    """Fused assign+tokenize+count: (conv_id, turn_idx, text) -> per-(doc,
    term) counts (doc_idx, doc_len, term_hash, term?, tf) in ONE Arrow pass
    with no shuffle — the presorted counterpart of
    indexer.local_term_frequencies (same output contract)."""
    from baguetter_spark.operators.indexer import TF_BATCH_SCHEMA, count_terms_batch

    pre = config.preprocessor
    narrow = transcripts.select("conv_id", "turn_idx", "text").withColumn(
        "__pid", F.spark_partition_id()
    )
    b_off = transcripts.sparkSession.sparkContext.broadcast(
        (layout.offsets, layout.counts)
    )

    def tok_tf_assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = 0
        pid = None
        off, cnts = b_off.value
        seen: set[str] = set()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["__pid"].iloc[0])
            start = off[pid] + local
            local += len(pdf)
            di_in = np.arange(start, start + len(pdf), dtype=np.int64)
            out = count_terms_batch(pdf, di_in, pre, seen)
            if out is not None:
                yield out
        if pid is not None and local != cnts[pid]:
            msg = (
                f"presorted layout mismatch: partition {pid} saw {local} rows, "
                f"expected {cnts[pid]} (nondeterministic input partitioning)"
            )
            raise RuntimeError(msg)

    return narrow.mapInPandas(
        tok_tf_assign,
        schema=TF_BATCH_SCHEMA,
    )
