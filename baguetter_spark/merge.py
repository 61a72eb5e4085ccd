"""Distributed index maintenance: add, merge and remove without
re-tokenizing what is already indexed.

The reference rebuilds the whole index on every add/remove
(`baguetter/indices/sparse/base.py:244-256,372-398`).  At 10^12-turn scale
we keep that SEMANTIC (global df/avg_doc_len/N and sorted-rank vocabulary
are recomputed over the new corpus) while skipping the expensive part:
indexes store raw term frequencies in their posting blocks, so an existing
index decodes straight back into the rows the tokenizer would emit
(``decode_postings``), and every operation here is ONE reindex —
``indexer.index_from_term_frequencies``, the same tail ``build_index`` runs
after tokenization — over those rows:

- ``add_docs``: tokenizes ONLY the new transcripts; the existing index is
  decoded once, turns the batch replaces are dropped and the survivors
  renumbered, and the batch follows the survivors in key order;
- ``merge_indexes``: decodes every segment, doc ids offset by the doc
  count of the segments before it (segment order == insertion order);
- ``remove_docs`` / ``remove_docs_df``: decodes the survivors only.

Survivor doc_idx compacts to the rank among survivors
(``renumber_survivors``), which equals a rebuild's assignment because
insertion order is preserved; terms whose last posting died leave the
vocabulary and term ids re-rank.  Merge and remove results are
bit-identical to a from-scratch build of the concatenated / filtered corpus
(differential-tested), because impacts are pure functions of
(tf, doc_len, df, N, avg_doc_len).  An add equals a rebuild of the
survivors followed by the batch: replaced turns take NEW doc positions.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baguetter_spark.config import SparseIndexConfig
from baguetter_spark.operators.indexer import (
    BM25Index,
    doc_map_from,
    docs_from_transcripts,
    index_from_term_frequencies,
    keyed_term_frequencies,
    term_hash_udf,
)
from baguetter_spark.operators.zipindex import zip_with_index


def release_index(index) -> None:
    """Unpersist an index's cached frames (the three public tables plus the
    internal ``caches`` pins collected by index_from_term_frequencies).

    DataFrame ``persist()`` entries live in Spark's CacheManager, which is
    keyed by logical plan and holds strong references — unlike RDD blocks
    they are NEVER garbage-collected.  Any code that REPLACES an index
    (chained add_transcripts / remove rounds) must release the superseded
    one, or executor storage grows by a full index copy per round until
    eviction thrash.  Only call once nothing downstream will re-read the
    frames (i.e. after the successor's checkpoint has materialized).

    Accepts any index shape with doc_map/vocab/postings DataFrames —
    BM25Index and BMXIndex (which has no ``caches`` field) both qualify."""
    if index is None:
        return
    for df in (index.doc_map, index.vocab, index.postings, *getattr(index, "caches", ())):
        try:
            df.unpersist(blocking=False)
        except Exception:  # pragma: no cover - already released / plan gone
            pass


def truncate_lineage(index: BM25Index) -> BM25Index:
    """Cut the logical plan under the three index tables (eager
    ``localCheckpoint``) after a maintenance op.

    merge_indexes / remove_docs build their outputs ON TOP of the previous
    index's plans; a loop of incremental adds therefore stacks
    decode+union+join subtrees geometrically until even rendering the
    explain string OOMs the driver (observed at ~3 chained maintenance
    ops on a toy corpus).  ``persist()`` caches data but keeps the plan;
    checkpointing replaces the plan with the materialized blocks, so each
    maintenance round starts from a flat scan — the same reason iterative
    algorithms (GraphX, ALS) checkpoint every N steps.

    ``localCheckpoint`` stores blocks on executors (lost if an executor
    dies); for durable production batches prefer ``io.save_index`` /
    ``load_index`` between rounds — a parquet checkpoint with the same
    lineage-cutting effect plus fault tolerance.
    """
    out = BM25Index(
        doc_map=index.doc_map.localCheckpoint(eager=True),
        vocab=index.vocab.localCheckpoint(eager=True),
        postings=index.postings.localCheckpoint(eager=True),
        n_docs=index.n_docs,
        avg_doc_len=index.avg_doc_len,
        total_postings=index.total_postings,
        config=index.config,
        # checkpointed RDD blocks are ContextCleaner-managed (freed when the
        # plan is GC'd), so the new index carries no explicit pins
    )
    # the eager checkpoints above have materialized: the input's pinned
    # frames (CacheManager entries, never GC'd) are now garbage — free them
    release_index(index)
    return out


def decode_postings(
    index: BM25Index, mapping: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Decode posting blocks back into the tokenizer's row shape
    (indexer.TF_BATCH_SCHEMA: doc_idx, doc_len, term_hash, term, tf) under
    NEW doc ids: ``mapping`` (doc_idx, new_doc_idx, doc_id, doc_len) renames
    each kept doc and supplies its length; docs absent from it are dropped.
    Returns (rows, doc_map of the kept docs under their new ids).

    term_hash/term come from the vocab (term ids are index-local sorted
    ranks), so no posting is re-hashed; only a vocab saved before the
    hashed columns existed hashes its terms, once per term."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from baguetter_spark.compress import decode_doc_ids, decode_tfs

        for pdf in batches:
            if len(pdf) == 0:
                continue
            terms, docs, tfs = [], [], []
            for tid, n, ids_buf, tf_buf in zip(
                pdf["term_id"], pdf["n_postings"], pdf["doc_ids_delta"], pdf["tfs"]
            ):
                terms.append(np.full(n, tid, dtype=np.int64))
                docs.append(decode_doc_ids(ids_buf, n))
                tfs.append(decode_tfs(tf_buf, n))
            yield pd.DataFrame(
                {
                    "term_id": np.concatenate(terms),
                    "doc_idx": np.concatenate(docs),
                    "tf": np.concatenate(tfs),
                }
            )

    vocab = index.vocab
    if "term_hash" not in vocab.columns:
        vocab = vocab.withColumn("term_hash", term_hash_udf()(F.col("term")))
    rows = (
        index.postings.mapInPandas(decode, schema="term_id long, doc_idx long, tf long")
        .join(mapping.select("doc_idx", "new_doc_idx", "doc_len"), "doc_idx")
        .join(F.broadcast(vocab.select("term_id", "term_hash", "term")), "term_id")
        .select(
            F.col("new_doc_idx").alias("doc_idx"), "doc_len", "term_hash", "term", "tf"
        )
    )
    return rows, mapping.select(F.col("new_doc_idx").alias("doc_idx"), "doc_id", "doc_len")


def renumber_survivors(
    spark: SparkSession,
    index: BM25Index,
    removed: np.ndarray | DataFrame,
    pins: list,
) -> tuple[DataFrame, int]:
    """The index's doc_map minus the removed docs, each survivor numbered by
    its rank among survivors (old doc_idx order — a rebuild's assignment):
    -> (mapping (doc_idx, new_doc_idx, doc_id, doc_len), n_survivors).

    ``removed`` is either a sorted array of doc_idx — bounded, rides a
    broadcast into one searchsorted pass, no shuffle — or a DataFrame whose
    first column holds doc ids, for unbounded sets that must never reach
    the driver: survivors are then ranked by the two-pass zip_with_index
    the build uses, and the survivor count rides its counts pass.
    ``pins`` collects the zipindex pinned state."""
    doc_map = index.doc_map.select("doc_idx", "doc_id", "doc_len")
    if isinstance(removed, DataFrame):
        keys = removed.select(F.col(removed.columns[0]).alias("doc_id")).distinct()
        mapping, stats = zip_with_index(
            doc_map.join(keys, "doc_id", "left_anti"),
            ["doc_idx"],
            "new_doc_idx",
            extra_sums={},
            cleanup=pins,
        )
        return mapping, int(stats["count"])
    if removed.size == 0:
        return doc_map.withColumn("new_doc_idx", F.col("doc_idx")), index.n_docs

    bc = spark.sparkContext.broadcast(removed)

    @F.pandas_udf("long")
    def survivor_rank(idx: pd.Series) -> pd.Series:
        rem = bc.value
        old = idx.to_numpy()
        # -1 marks a removed doc; a survivor moves down by the removed
        # docs before it
        return pd.Series(np.where(np.isin(old, rem), -1, old - np.searchsorted(rem, old)))

    mapping = doc_map.withColumn("new_doc_idx", survivor_rank("doc_idx")).where(
        F.col("new_doc_idx") >= 0
    )
    return mapping, index.n_docs - int(removed.size)


def _reindex(
    parts: list[tuple[DataFrame, DataFrame]],
    n_docs: int,
    config: SparseIndexConfig,
    pins: list,
) -> BM25Index:
    """Union (rows, doc_map) parts into one corpus and run the build tail."""
    rows = reduce(DataFrame.unionByName, [r for r, _ in parts])
    doc_map = reduce(DataFrame.unionByName, [d for _, d in parts])
    return index_from_term_frequencies(rows, doc_map, n_docs, config, pins)


def merge_indexes(
    spark: SparkSession,
    segments: list[BM25Index],
    config: SparseIndexConfig | None = None,
) -> BM25Index:
    """Merge immutable segments into one index (doc_ids must be disjoint)."""
    config = config or segments[0].config
    pins: list = []
    parts, offset = [], 0
    for seg in segments:
        mapping = seg.doc_map.select(
            "doc_idx",
            (F.col("doc_idx") + F.lit(offset)).alias("new_doc_idx"),
            "doc_id",
            "doc_len",
        )
        parts.append(decode_postings(seg, mapping))
        offset += seg.n_docs
    return _reindex(parts, offset, config, pins)


def remove_docs(
    spark: SparkSession,
    index: BM25Index,
    keys: list[str],
    config: SparseIndexConfig | None = None,
) -> BM25Index:
    """Remove documents by key WITHOUT re-tokenizing the surviving corpus:
    bit-identical to rebuilding on the filtered corpus (the reference's
    remove/remove_many semantics, base.py:372-398 — pop + full
    `_update_index`), but the only work is a posting-block decode of the
    survivors plus the stats/vocab/impacts recompute the rebuild would run
    anyway.

    Unknown keys are ignored (the reference pops with ``pop(key, None)``);
    removing every document raises (an empty index has no stats — build
    fresh instead).

    Scale shape: the removed id set rides a broadcast (the list-of-keys
    API bounds it driver-side by construction; ~8 bytes per removed doc);
    tokenization and the raw-text scan are skipped entirely.
    """
    config = config or index.config
    removed_rows = (
        index.doc_map.where(F.col("doc_id").isin(list(keys)))
        .select("doc_idx")
        .collect()
    )
    if not removed_rows:
        return index
    removed = np.array(sorted(r["doc_idx"] for r in removed_rows), dtype=np.int64)
    if removed.size >= index.n_docs:
        msg = "remove_docs would remove every document; build a fresh index instead"
        raise ValueError(msg)
    pins: list = []
    mapping, n_surv = renumber_survivors(spark, index, removed, pins)
    return _reindex([decode_postings(index, mapping)], n_surv, config, pins)


def remove_docs_df(
    spark: SparkSession,
    index: BM25Index,
    keys: DataFrame,
    config: SparseIndexConfig | None = None,
) -> BM25Index:
    """``remove_docs`` for UNBOUNDED key sets: ``keys`` is a one-column
    DataFrame of doc ids and the removed set never touches the driver
    (survivors are ranked through zip_with_index, see renumber_survivors).
    Digest-equal to ``remove_docs`` / a filtered rebuild
    (differential-tested in tests/test_persistence.py).

    Prefer ``remove_docs`` below ~10^5 removed keys (its survivor ranking
    is map-side only).

    The result is returned LINEAGE-TRUNCATED (eager localCheckpoint).  The
    raw plan nests two zip_with_index subtrees plus the posting decode
    under whatever the caller builds next; composed with further
    maintenance ops, Catalyst re-analysis of that nesting alone OOMs a
    4 GiB driver at 500 docs (measured — the cost is plan DEPTH, not
    data).  Cutting here keeps every downstream plan shallow regardless of
    how the caller composes maintenance ops.
    """
    config = config or index.config
    pins: list = []
    mapping, n_surv = renumber_survivors(spark, index, keys, pins)
    if n_surv in (0, index.n_docs):
        for df in pins:
            df.unpersist(blocking=False)
        if n_surv == index.n_docs:  # nothing matched (reference pop(key, None))
            return index
        msg = "remove_docs_df would remove every document; build a fresh index instead"
        raise ValueError(msg)
    # truncate_lineage materializes the checkpoints, then releases the
    # superseded pins (the tail's frames + the zipindex two-pass state)
    return truncate_lineage(
        _reindex([decode_postings(index, mapping)], n_surv, config, pins)
    )


def add_docs(
    spark: SparkSession,
    index: BM25Index,
    transcripts: DataFrame,
    config: SparseIndexConfig | None = None,
    *,
    driver_key_bound: int,
) -> BM25Index:
    """Add a transcripts batch to ``index`` in ONE reindex pass; a batch
    turn whose doc_id is already indexed replaces the old turn.

    Only the batch is tokenized.  The index decodes once into tokenizer
    rows, minus the replaced turns; survivors keep their order and the
    batch follows them in (conv_id, turn_idx) order — the doc ids a
    rebuild of [survivors, batch] assigns — and the union runs through the
    build tail once.  The replaced turns are found by ONE bounded probe:
    at most ``driver_key_bound`` doc_idx come back to the driver; a larger
    replaced set is renumbered through zip_with_index and never leaves the
    executors (see renumber_survivors).

    The result is lineage-truncated (see truncate_lineage).  On failure
    every frame this call pinned is released."""
    config = config or index.config
    pins: list = []
    out = None
    try:
        batch_ids = docs_from_transcripts(transcripts).select("doc_id")
        probe = (
            index.doc_map.join(batch_ids, "doc_id", "left_semi")
            .select("doc_idx")
            .limit(driver_key_bound + 1)
            .collect()
        )
        removed = (
            np.array(sorted(r["doc_idx"] for r in probe), dtype=np.int64)
            if len(probe) <= driver_key_bound
            else batch_ids
        )
        mapping, n_surv = renumber_survivors(spark, index, removed, pins)
        keys, tf, n_new = keyed_term_frequencies(transcripts, config, pins, offset=n_surv)
        rows, doc_map = tf, None
        if n_surv:  # a batch that replaces every turn leaves no base rows
            base_rows, doc_map = decode_postings(index, mapping)
            rows = base_rows.unionByName(tf)
        # the batch's doc lengths read the reindex's pinned rows: the batch
        # is tokenized once
        new_map = doc_map_from(keys, rows.where(F.col("doc_idx") >= n_surv))
        doc_map = new_map if doc_map is None else doc_map.unionByName(new_map)
        out = index_from_term_frequencies(rows, doc_map, n_surv + n_new, config, pins)
        return truncate_lineage(out)
    except BaseException:
        release_index(out)
        for df in pins:
            df.unpersist(blocking=False)
        raise
