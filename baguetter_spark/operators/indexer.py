"""Index construction: transcripts -> (doc_map, vocab, postings, stats).

Spark-first re-expression of the reference build dataflow
(`baguetter/indices/sparse/models/bm25/index.py:50-147` and
`.../scoring.py:207-329`):

    stable doc_idx (zip_with_index)       ~ key_mapping    (base.py:251)
    -> tokenize + per-doc TF (one Arrow   ~ corpus scan +  (B1/T11/B7)
       pass, 8-byte term_hash keys)         per-doc TF
    -> groupBy(term_hash): df, ttf        ~ doc freq       (B4)
    -> sorted-term zip_with_index         ~ vocabulary     (B2)
    -> idf/nonoccurrence pandas UDF       ~ idf array      (B6/B10)
    -> join + float32 impact kernel       ~ impacts        (B8/B9)
    -> groupBy(term, doc-range block)     ~ CSC assembly   (B11)
       with delta+varint/f32 encoding + a per-block max impact

Scale notes (the whole point of the re-design):
- no global window: doc ids and term ids use the two-pass range zipWithIndex;
- the posting aggregation groups by ``(term_id, block_id)`` where
  ``block_id = doc_idx // block_doc_range`` — every group is bounded by the
  doc-range, so a stopword term with 10^11 postings becomes many bounded
  rows instead of one unbounded ``collect_list`` (hot-term skew defense;
  no salting needed because the salt IS the block id, and it is
  order-preserving);
- all shuffles are hash/range on (term_id[, block_id]) or (doc_idx) — AQE
  handles residual skew;
- float32 impact math runs inside Arrow-batched pandas UDFs (bit-parity with
  the reference, see oracle/bm25_ref.py); everything else is JVM-side.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baguetter_spark.compress import encode_doc_ids, encode_impacts, encode_tfs
from baguetter_spark.config import NON_OCCURRENCE_METHODS, SparseIndexConfig
from baguetter_spark.operators.zipindex import zip_with_index

# ---------------------------------------------------------------------------
# numpy kernels (shared by build + merge): exact reference float discipline
# ---------------------------------------------------------------------------


def idf_values(
    df: np.ndarray, n_docs: int, idf_method: str, *, allow_negative: bool = False
) -> np.ndarray:
    """Vectorized IDF in float64 (reference computes with math.log then stores
    float32; scoring.py:39-58,167-192). Returns float64 — caller casts.

    ``allow_negative`` (robertson only, scoring.py:167-172): skip the
    clamp-at-1 so df > n/2 terms get negative idf."""
    df = df.astype(np.float64)
    n = float(n_docs)
    if idf_method in ("lucene", "robertson"):
        inner = (n - df + 0.5) / (df + 0.5)
        if idf_method == "robertson":
            if not allow_negative:
                inner = np.maximum(inner, 1.0)
            return np.log(inner)
        return np.log(1.0 + inner)
    if idf_method == "atire":
        return np.log(n / df)
    if idf_method == "bm25l":
        return np.log((n + 1.0) / (df + 0.5))
    if idf_method == "bm25plus":
        return np.log((n + 1.0) / df)
    msg = f"unknown idf method {idf_method}"
    raise ValueError(msg)


def nonoccurrence_values(
    idf64: np.ndarray, avg_doc_len: float, k1: float, b: float, delta: float, method: str
) -> np.ndarray:
    """Non-occurrence per term (scoring.py:61-95): float64 math with
    tf=0, l_d=l_avg; stored float32 by the caller."""
    if method == "bm25l":
        # c = 0; tfc = (k1+1)*delta / (k1 + delta)
        tfc = ((k1 + 1) * (0.0 + delta)) / (k1 + 0.0 + delta)
    elif method == "bm25plus":
        # (k1+1)*0/den + delta = delta
        tfc = delta
    else:
        return np.zeros_like(idf64)
    return idf64 * tfc


def impact_values_f64(
    tf: np.ndarray,
    doc_len: np.ndarray,
    idf64: np.ndarray,
    nonocc64: np.ndarray | None,
    avg_doc_len: float,
    k1: float,
    b: float,
    delta: float,
    method: str,
) -> np.ndarray:
    """Double-precision impacts (index dtype='float64' — same formulas, no
    float32 rounding; used when downstream comparison/serving is double)."""
    tf64 = tf.astype(np.float64)
    ld64 = doc_len.astype(np.float64)
    norm = 1.0 - b + b * ld64 / avg_doc_len
    if method in ("robertson", "lucene"):
        tfc = tf64 / (k1 * norm + tf64)
    elif method == "atire":
        tfc = (tf64 * (k1 + 1.0)) / (tf64 + k1 * norm)
    elif method == "bm25l":
        c = tf64 / norm
        tfc = ((k1 + 1.0) * (c + delta)) / (k1 + c + delta)
    elif method == "bm25plus":
        tfc = ((k1 + 1.0) * tf64) / (k1 * norm + tf64) + delta
    else:
        msg = f"unknown method {method}"
        raise ValueError(msg)
    impact = idf64 * tfc
    if nonocc64 is not None:
        impact = impact - nonocc64
    return impact


def impact_values(
    tf: np.ndarray,
    doc_len: np.ndarray,
    idf32: np.ndarray,
    nonocc32: np.ndarray | None,
    avg_doc_len: float,
    k1: float,
    b: float,
    delta: float,
    method: str,
) -> np.ndarray:
    """Vectorized float32 impact = idf * tfc [- nonoccurrence], replicating
    the reference's per-doc numpy dtype semantics exactly (scoring.py:207-274):
    tf is float32, per-doc scalars are float64 cast to float32 at the array op.
    """
    tf32 = tf.astype(np.float32)
    ld64 = doc_len.astype(np.float64)
    if method in ("robertson", "lucene"):
        s = (k1 * ((1.0 - b) + b * ld64 / avg_doc_len)).astype(np.float32)
        tfc = tf32 / (s + tf32)
    elif method == "atire":
        s = (k1 * (1.0 - b + b * ld64 / avg_doc_len)).astype(np.float32)
        num = tf32 * np.float32(k1 + 1.0)
        tfc = num / (tf32 + s)
    elif method == "bm25l":
        s = (1.0 - b + b * ld64 / avg_doc_len).astype(np.float32)
        c = tf32 / s
        num = np.float32(k1 + 1.0) * (c + np.float32(delta))
        den = (np.float32(k1) + c) + np.float32(delta)
        tfc = num / den
    elif method == "bm25plus":
        s = (k1 * (1.0 - b + b * ld64 / avg_doc_len)).astype(np.float32)
        num = np.float32(k1 + 1.0) * tf32
        tfc = (num / (s + tf32)) + np.float32(delta)
    else:
        msg = f"unknown method {method}"
        raise ValueError(msg)
    impact = idf32 * tfc
    if nonocc32 is not None:
        impact = impact - nonocc32
    return impact


# ---------------------------------------------------------------------------
# the build pipeline
# ---------------------------------------------------------------------------


@dataclass
class BM25Index:
    """Handle to the four index tables (DataFrames) + scalar stats."""

    doc_map: DataFrame  # doc_idx, doc_id, doc_len
    vocab: DataFrame  # term_id, term, df, idf, nonoccurrence
    postings: DataFrame  # POSTINGS_SCHEMA blocks
    n_docs: int
    avg_doc_len: float
    total_postings: int
    config: SparseIndexConfig
    # Internal pinned frames (tf aggregate, zipindex two-pass state) that the
    # three public tables were computed FROM.  DataFrame persist entries are
    # never GC-cleaned, so maintenance code that replaces an index must free
    # them explicitly (merge.release_index) or leak one set per build.
    caches: tuple = ()


def docs_from_transcripts(transcripts: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, text) -> (doc_id, text) with the stable document
    identity doc_id = conv_id || ':' || turn_idx (FIXTURES.md §1)."""
    return transcripts.select(
        F.concat_ws(":", F.col("conv_id"), F.col("turn_idx").cast("string")).alias("doc_id"),
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("text"),
    )


def hash_terms(terms: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit term hash (SipHash via pandas' fixed-key
    hash_array — stable across processes/machines, independent of
    PYTHONHASHSEED).  int64 view of the uint64 hash so it rides Spark's
    native long type.

    Why: term STRINGS are the widest column in the build; hashing them at
    the tokenizer lets every downstream shuffle/join (TF persist, impacts
    join, posting shuffle) carry an 8-byte long instead of a variable-width
    string.  The string itself crosses the wire once per unique term per
    partition (nullable ``term`` column) — just enough to reconstruct the
    vocabulary.  Collisions are detected exactly (min!=max over the string
    witnesses per hash) and fail loudly; at 10^9 unique terms the expected
    collision count is ~0.03 (birthday bound V^2/2^65)."""
    arr = np.asarray(terms, dtype=object)
    return pd.util.hash_array(arr).view(np.int64)


def term_hash_udf():
    """Column form of hash_terms for frames that already carry term strings
    (segment merge re-derives hashes from decoded vocab strings)."""

    @F.pandas_udf("long")
    def h(s: pd.Series) -> pd.Series:
        return pd.Series(hash_terms(s.to_numpy(dtype=object)))

    return h


# cap on the per-partition "term string already emitted" memo; clearing it
# merely re-emits some strings (first() needs only >=1 non-null per hash)
_SEEN_TERMS_CAP = 2_000_000


def local_term_frequencies(docs: DataFrame, config: SparseIndexConfig) -> DataFrame:
    """(doc_idx, text) -> per-(doc, term) counts in ONE Arrow pass:
    (doc_idx, doc_len, term_hash, term?, tf).

    Per-doc TF is embarrassingly local — a document never spans Arrow
    batches — so counting happens INSIDE the tokenizer pass (C-speed
    Counter per doc) and the heavy (doc, term, tf) intermediate is born
    already aggregated: the engine's biggest shuffle (the token-level TF
    groupBy) disappears entirely.  Each term's string is emitted at most
    once per partition (``term`` nullable elsewhere); everything downstream
    keys on the 8-byte term_hash (reference corpus scan + per-doc TF,
    scoring.py:207-329 B1/B7)."""
    pre = config.preprocessor

    def tok_tf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen: set[str] = set()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            di_in = pdf["doc_idx"].to_numpy(dtype=np.int64)
            out = count_terms_batch(pdf, di_in, pre, seen)
            if out is not None:
                yield out

    return docs.select("doc_idx", "text").mapInPandas(
        tok_tf, schema=TF_BATCH_SCHEMA
    )


TF_BATCH_SCHEMA = "doc_idx long, doc_len int, term_hash long, term string, tf long"


def count_terms_batch(
    pdf: pd.DataFrame, di_in: np.ndarray, pre, seen: set[str]
) -> pd.DataFrame | None:
    """Tokenize-and-count one Arrow batch: the shared kernel body of
    local_term_frequencies and presorted.presorted_local_tf (the two build
    paths must stay byte-identical — any fix to the witness emission or the
    seen cap lands here once).

    ``di_in`` is the caller's per-row doc index (column-read vs presorted
    arange — the ONLY difference between the two paths); ``seen`` is the
    partition-scoped witness set.  Returns None for a token-free batch.
    """
    from collections import Counter

    from baguetter_spark.functions.preprocess import process_series

    toks = process_series(pdf["text"], pre)
    terms: list[str] = []
    tfs: list[int] = []
    n_unique = np.empty(len(pdf), dtype=np.int64)
    doc_lens = np.empty(len(pdf), dtype=np.int64)
    for i, lst in enumerate(toks):
        c = Counter(lst)
        terms.extend(c.keys())
        tfs.extend(c.values())
        n_unique[i] = len(c)
        doc_lens[i] = len(lst)
    if not terms:
        return None
    doc_idx = np.repeat(di_in, n_unique)
    doc_len = np.repeat(doc_lens, n_unique).astype(np.int32)
    term_arr = np.asarray(terms, dtype=object)
    hashes = hash_terms(term_arr)
    # string witness: first occurrence in batch AND not yet emitted
    # by this partition (vectorized dedup; the Python loop touches
    # only batch-unique terms, a small set under Zipf)
    first_mask = ~pd.Series(hashes).duplicated().to_numpy()
    if len(seen) > _SEEN_TERMS_CAP:
        seen.clear()
    for j in np.flatnonzero(first_mask):
        t = term_arr[j]
        if t in seen:
            first_mask[j] = False
        else:
            seen.add(t)
    term_col = np.where(first_mask, term_arr, None)
    return pd.DataFrame(
        {
            "doc_idx": doc_idx,
            "doc_len": doc_len,
            "term_hash": hashes,
            "term": term_col,
            "tf": np.asarray(tfs, dtype=np.int64),
        }
    )


def vocab_scores(
    vocab_base: DataFrame, n_docs: int, avg_doc_len: float, config: SparseIndexConfig
) -> DataFrame:
    """Attach idf/nonoccurrence columns (B6/B10) to a ranked vocab frame.

    idf/nonoccurrence are stored as DOUBLE columns; in float32 mode values
    are rounded to float32 first (the reference stores idf into a float32
    array, scoring.py:49-56) then widened losslessly."""
    method, idf_method = config.method, config.idf_method
    k1, b, delta = config.k1, config.b, config.delta
    needs_nonocc = method in NON_OCCURRENCE_METHODS
    is_f32 = config.dtype == "float32"
    allow_neg = bool(getattr(config, "allow_negative", False))

    @F.pandas_udf("double")
    def idf_udf(df_s: pd.Series) -> pd.Series:
        vals = idf_values(df_s.to_numpy(), n_docs, idf_method, allow_negative=allow_neg)
        if is_f32:
            vals = vals.astype(np.float32).astype(np.float64)
        return pd.Series(vals)

    @F.pandas_udf("double")
    def nonocc_udf(df_s: pd.Series) -> pd.Series:
        idf64 = idf_values(df_s.to_numpy(), n_docs, idf_method, allow_negative=allow_neg)
        vals = nonoccurrence_values(idf64, avg_doc_len, k1, b, delta, method)
        if is_f32:
            vals = vals.astype(np.float32).astype(np.float64)
        return pd.Series(vals)

    vocab = vocab_base.withColumn("idf", idf_udf(F.col("df")))
    vocab = vocab.withColumn(
        "nonoccurrence",
        nonocc_udf(F.col("df")) if needs_nonocc else F.lit(None).cast("double"),
    )
    keep = ["term_id", "term", "df", "idf", "nonoccurrence"]
    if "term_hash" in vocab.columns:
        keep.insert(1, "term_hash")
    return vocab.select(*keep)


def hashed_term_stats(tf: DataFrame) -> DataFrame:
    """tf (term_hash, term?, tf) -> per-term df/ttf + the collision witness.

    ``coll`` = 1 iff two DIFFERENT strings hashed to this term_hash (min/max
    over the non-null string witnesses disagree) — summed by the caller for
    an exact, loud 64-bit-collision check that rides existing jobs."""
    return tf.groupBy("term_hash").agg(
        F.first("term", ignorenulls=True).alias("term"),
        F.count("*").alias("df"),
        F.sum("tf").alias("ttf"),
        (F.min("term") != F.max("term")).cast("long").alias("coll"),
    )


def _check_collisions(n: int) -> None:
    if int(n or 0) > 0:
        msg = (
            f"{n} term-hash collision(s): two distinct terms share a 64-bit "
            "hash. Exact build impossible with hashed term keys; rebuild via "
            "the string-keyed path or report the colliding corpus."
        )
        raise RuntimeError(msg)


def impacts_flat(
    tf: DataFrame,
    vocab: DataFrame,
    n_docs: int,
    avg_doc_len: float,
    config: SparseIndexConfig,
) -> DataFrame:
    """(doc_idx, term_hash, tf) ⋈ vocab -> (term_id, doc_idx, tf, impact) with
    the float32 (or float64) impact kernel (B8/B9).  The join keys on the
    8-byte term_hash — no string crosses this (posting-sized) shuffle."""
    method = config.method
    k1, b, delta = config.k1, config.b, config.delta
    needs_nonocc = method in NON_OCCURRENCE_METHODS
    is_f32 = config.dtype == "float32"
    avg_len_b = avg_doc_len

    scored = tf.select("doc_idx", "doc_len", "term_hash", "tf").join(
        vocab.select("term_hash", "term_id", "idf", "nonoccurrence"), "term_hash"
    )

    @F.pandas_udf("float" if is_f32 else "double")
    def impact_udf(
        tf_s: pd.Series, dl_s: pd.Series, idf_s: pd.Series, nonocc_s: pd.Series
    ) -> pd.Series:
        if is_f32:
            nonocc = (
                nonocc_s.to_numpy(dtype=np.float32, na_value=0.0)
                if needs_nonocc
                else None
            )
            vals = impact_values(
                tf_s.to_numpy(), dl_s.to_numpy(), idf_s.to_numpy(dtype=np.float32),
                nonocc, avg_len_b, k1, b, delta, method,
            )
        else:
            nonocc = (
                nonocc_s.to_numpy(dtype=np.float64, na_value=0.0)
                if needs_nonocc
                else None
            )
            vals = impact_values_f64(
                tf_s.to_numpy(), dl_s.to_numpy(), idf_s.to_numpy(dtype=np.float64),
                nonocc, avg_len_b, k1, b, delta, method,
            )
        return pd.Series(vals)

    return scored.select(
        "term_id",
        "doc_idx",
        F.col("tf").cast("int").alias("tf"),
        impact_udf(
            F.col("tf"), F.col("doc_len"), F.col("idf"), F.col("nonoccurrence")
        ).alias("impact"),
    )


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    config: SparseIndexConfig | None = None,
    *,
    assume_sorted: bool | str = False,
) -> BM25Index:
    """Build the full BM25 index from a transcripts DataFrame.

    The stage graph: keys + per-doc TF (keyed_term_frequencies, or the
    presorted path) -> doc_map (doc_map_from) -> vocab, impacts and posting
    blocks (index_from_term_frequencies).  Every stage is persisted
    in-session; io.build_index_resumable runs the same graph with each
    stage checkpointed to parquet instead.

    ``assume_sorted=True``: the input is expected partition-ordered by
    (conv_id, turn_idx) — the natural state of an Iceberg/parquet table
    sorted on its key.  The build then VERIFIES the ordering with one narrow
    pass and assigns doc ids with NO shuffle, fusing assignment into the
    tokenizer's Arrow pass (operators/presorted.py); the corpus text never
    crosses a shuffle before the TF aggregation.  Falls back to the general
    range-shuffle path automatically if verification fails — results are
    digest-identical either way (differentially tested).
    ``assume_sorted="require"``: same fast path, but fallback is DISABLED —
    unsorted input raises instead, and the under-parallelism heuristic is
    skipped.  Used by the driver gate (gate3.bm25_presorted_digest) so a
    green row proves the shuffle-free path itself ran, and by callers who
    contract-guarantee a key-sorted table and want layout drift to be loud.

    Driver-side scalar stats (n_docs, total_len, total_postings) piggyback
    on the zipWithIndex counts passes instead of separate jobs — the fixed
    per-build job count is 2 scheduled scans lower than a naive plan, which
    matters for scaling-efficiency at small-N (BENCH/BASELINE.md).
    """
    config = config or SparseIndexConfig()
    pins: list = []  # internal pinned frames -> BM25Index.caches

    layout = None
    if assume_sorted:
        from baguetter_spark.operators.presorted import partition_layout

        layout = partition_layout(transcripts)
        if assume_sorted != "require" and layout is not None and layout.n_rows > 0:
            # Under-partitioned input (e.g. one giant parquet row group)
            # would serialize the whole tokenize stage onto the few
            # populated partitions — the shuffle path parallelizes better.
            par = spark.sparkContext.defaultParallelism
            if len(layout.offsets) < max(2, par // 2):
                layout = None
        if assume_sorted == "require" and layout is None:
            raise ValueError(
                "assume_sorted='require': input is not partition-ordered by "
                "(conv_id, turn_idx); fallback to the general path is disabled"
            )

    if layout is not None:
        from baguetter_spark.operators.presorted import (
            presorted_keys,
            presorted_local_tf,
        )

        n_docs = layout.n_rows
        keys = presorted_keys(transcripts, layout)
        tf = presorted_local_tf(transcripts, layout, config)
    else:
        keys, tf, n_docs = keyed_term_frequencies(transcripts, config, pins)
    return index_from_term_frequencies(
        tf, lambda kept: doc_map_from(keys, kept), n_docs, config, pins
    )


def doc_map_from(keys: DataFrame, tf: DataFrame) -> DataFrame:
    """keys (doc_idx, doc_id) + tf rows -> doc_map (doc_idx, doc_id,
    doc_len): doc_len = sum(tf) per doc (== token count); empty docs get 0.
    Built from the NARROW key frame — no second pass over the text; lazy
    (materialized by the first search/save, not on the build critical
    path)."""
    doc_lens = tf.groupBy("doc_idx").agg(F.sum("tf").cast("int").alias("doc_len"))
    return keys.join(doc_lens, "doc_idx", "left").fillna(0, subset=["doc_len"])


def keyed_term_frequencies(
    transcripts: DataFrame, config: SparseIndexConfig, pins: list, offset: int = 0
) -> tuple[DataFrame, DataFrame, int]:
    """transcripts -> (keys (doc_idx, doc_id), tf rows, n_docs): doc_idx =
    ``offset`` + rank of (conv_id, turn_idx), the general (shuffle) path of
    build_index.  ``offset`` places a batch after the docs of an existing
    index (merge.add_docs).

    The rank runs over the NARROW key frame: parquet column pruning keeps
    the zipindex sampling pass and its persisted two-pass state at ~2% of
    corpus size instead of caching the corpus text, and the text joins back
    on the key so it crosses the wire exactly once."""
    # shuffle_hash: without the hint this compiles to a sort-merge join
    # that fully SORTS the text side by its string key — pure overhead,
    # since the text only needs to MEET its doc_idx, not be ordered by
    # conv_id.  SHJ shuffles both sides (the text moves exactly once
    # either way) and builds the hash table on the narrow key side.
    keys_frame = docs_from_transcripts(transcripts).select("conv_id", "turn_idx", "doc_id")
    keys_full, kstats = zip_with_index(
        keys_frame, ["conv_id", "turn_idx"], "doc_idx", extra_sums={}, cleanup=pins
    )
    doc_idx = (
        (F.col("doc_idx") + F.lit(offset)).alias("doc_idx") if offset else F.col("doc_idx")
    )
    keys = keys_full.select(doc_idx, "doc_id")
    docs = (
        docs_from_transcripts(transcripts)
        .select("conv_id", "turn_idx", "text")
        .join(
            keys_full.select("conv_id", "turn_idx", "doc_idx").hint("shuffle_hash"),
            ["conv_id", "turn_idx"],
        )
        .select(doc_idx, "text")
    )
    # per-doc counting is fused into the tokenizer's Arrow pass (no
    # token-level shuffle — the corpus crosses the Python boundary once,
    # already aggregated)
    return keys, local_term_frequencies(docs, config), kstats["count"]


def _persist_stage(
    name: str, produce: Callable[[], DataFrame], stats: dict | None = None
) -> DataFrame:
    """The in-session stage policy of index_from_term_frequencies: each
    stage is a lazy frame pinned by ``persist``; ``stats`` is filled by the
    producer itself.  The checkpointed counterpart is io's StageRunner."""
    return produce().persist()


def index_from_term_frequencies(
    tf: DataFrame,
    doc_map_of: Callable[[DataFrame], DataFrame],
    n_docs: int,
    config: SparseIndexConfig,
    pins: list,
    keep: Callable[..., DataFrame] = _persist_stage,
) -> BM25Index:
    """Everything after tokenization: tf rows (TF_BATCH_SCHEMA) + the
    doc_map of all ``n_docs`` docs (``doc_map_of`` the kept tf rows) -> the
    index.  Shared by build_index, io.build_index_resumable and the
    maintenance ops in merge.py, which feed it decoded posting rows instead
    of tokenizer output.  ``pins`` collects the internal pinned frames
    (-> BM25Index.caches).

    The four heavy frames are stages, in order tf, vocab, doc_map,
    postings: ``keep(name, produce, stats)`` decides how each is kept —
    persisted in-session by default, or checkpointed to parquet by the
    resumable build.  The global scalars ride the vocab stage's ``stats``,
    so a stage restored from a checkpoint brings them back with it."""
    # tf is the one heavy intermediate: the vocab pass, the impacts join and
    # (on a build) doc_map all read it
    tf = keep("tf", lambda: tf)
    pins.append(tf)
    stats = {"n_docs": n_docs}

    def vocab_stage() -> DataFrame:
        # vocabulary term ids + the global scalar stats in ONE pass: ttf
        # (total tokens of the term) sums to total_len, df sums to
        # total_postings, and the term-hash collision witness sums to
        # hash_collisions — all ride the zipindex counts job instead of
        # separate driver actions
        term_stats = hashed_term_stats(tf).persist()
        pins.append(term_stats)
        vocab_base, vstats = zip_with_index(
            term_stats,
            ["term"],
            "term_id",
            extra_sums={
                "total_len": "ttf",
                "total_postings": "df",
                "hash_collisions": "coll",
            },
            cleanup=pins,
        )
        _check_collisions(vstats["hash_collisions"])
        stats.update(
            total_len=vstats["total_len"], total_postings=vstats["total_postings"]
        )
        return vocab_scores(
            vocab_base.select("term_id", "term_hash", "term", "df"),
            n_docs,
            _avg_doc_len(stats),
            config,
        )

    vocab = keep("vocab", vocab_stage, stats)
    # after the vocab pass: in-session, that pass has materialized tf, so
    # doc_map's join is planned with tf's real size (a broadcast of the doc
    # lengths while they are small) instead of being re-planned at run time
    doc_map = keep("doc_map", lambda: doc_map_of(tf))
    avg_doc_len = _avg_doc_len(stats)
    # an index is built once and searched many times: in-session the
    # postings are persisted, at cluster scale they are a parquet write
    # (io.save_index / the resumable build's checkpoint)
    postings = keep(
        "postings",
        lambda: assemble_posting_blocks(
            impacts_flat(tf, vocab, n_docs, avg_doc_len, config), config
        ),
    )

    return BM25Index(
        doc_map=doc_map,
        vocab=vocab,
        postings=postings,
        n_docs=n_docs,
        avg_doc_len=avg_doc_len,
        total_postings=int(stats["total_postings"]),
        config=config,
        caches=tuple(pins),
    )


def _avg_doc_len(stats: dict) -> float:
    """float64 avg over the exact int64 token total — bit-equal to the
    reference's float(np.mean(...)) for integer lengths (index.py:87)."""
    n_docs = stats["n_docs"]
    return float(stats["total_len"]) / n_docs if n_docs else 0.0


# one row per (term_id, block_id): see schema.POSTINGS_SCHEMA
_POSTING_BLOCK_DDL = (
    "term_id long, block_id long, n_postings int, doc_ids_delta binary, "
    "impacts_f32 binary, tfs binary, block_max float"
)
_POSTING_COLUMNS = [
    "term_id", "block_id", "n_postings", "doc_ids_delta", "impacts_f32", "tfs", "block_max",
]


def assemble_posting_blocks(
    postings_flat: DataFrame, config: SparseIndexConfig
) -> DataFrame:
    """(term_id, doc_idx, tf, impact) -> encoded posting-block rows.

    block_id = doc_idx // block_doc_range bounds every aggregation group
    (hot-term skew defense — the CSC column of a stopword term becomes many
    bounded rows).  Arrays are docID-ascending within a block; ascending
    blocks concatenate into the full docID-sorted posting list (reference
    CSC invariant, index.py:133-147).

    Physical strategy: repartition on (term_id, block_id) — the same
    shuffle the aggregation needs — then a Tungsten sortWithinPartitions
    and ONE streaming Arrow pass that encodes consecutive key runs with
    numpy.  This replaces the earlier collect_list(struct) + sort_array +
    triple transform plan: no JVM object-array buildup, no per-group sort,
    and the Python boundary carries flat primitive columns instead of
    nested arrays.  Groups can span Arrow batches; the encoder holds back
    each batch's trailing run and stitches it to the next (runs never span
    partitions — the hash repartition guarantees that).
    """
    block_range = config.block_doc_range
    dtype = config.dtype
    np_dtype = np.float32 if dtype == "float32" else np.float64

    parts = int(postings_flat.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    arranged = (
        postings_flat.withColumn(
            "block_id", (F.col("doc_idx") / F.lit(block_range)).cast("long")
        )
        .repartition(parts, "term_id", "block_id")
        .sortWithinPartitions("term_id", "block_id", "doc_idx")
    )

    def encode_runs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        held: pd.DataFrame | None = None  # trailing (possibly incomplete) run

        def emit(pdf: pd.DataFrame) -> pd.DataFrame:
            tid = pdf["term_id"].to_numpy(dtype=np.int64)
            bid = pdf["block_id"].to_numpy(dtype=np.int64)
            ids_all = pdf["doc_idx"].to_numpy(dtype=np.int64)
            tf_all = pdf["tf"].to_numpy(dtype=np.int64)
            imp_all = pdf["impact"].to_numpy(dtype=np_dtype)
            # boundaries of consecutive (term_id, block_id) runs
            change = np.flatnonzero((tid[1:] != tid[:-1]) | (bid[1:] != bid[:-1])) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(pdf)]))
            rows = []
            for s, e in zip(starts, ends):
                ids = ids_all[s:e]
                imp = imp_all[s:e]
                rows.append(
                    (
                        int(tid[s]),
                        int(bid[s]),
                        int(e - s),
                        encode_doc_ids(ids),
                        encode_impacts(imp, dtype),
                        encode_tfs(tf_all[s:e]),
                        float(imp.max()),
                    )
                )
            return pd.DataFrame(rows, columns=_POSTING_COLUMNS)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            if held is not None:
                pdf = pd.concat([held, pdf], ignore_index=True)
            last_t = pdf["term_id"].iloc[-1]
            last_b = pdf["block_id"].iloc[-1]
            tail_mask = (pdf["term_id"] == last_t) & (pdf["block_id"] == last_b)
            n_tail = int(tail_mask.sum())
            if n_tail == len(pdf):
                held = pdf  # whole batch is one run — keep accumulating
                continue
            held = pdf.iloc[len(pdf) - n_tail :].reset_index(drop=True)
            yield emit(pdf.iloc[: len(pdf) - n_tail])
        if held is not None and len(held):
            yield emit(held)

    return arranged.mapInPandas(encode_runs, schema=_POSTING_BLOCK_DDL)


def assemble_posting_blocks_collect(
    postings_flat: DataFrame, config: SparseIndexConfig
) -> DataFrame:
    """Aggregation-based assembly (collect_list + sort_array) — kept as the
    reference plan for differential testing of the streaming encoder."""
    block_range = config.block_doc_range
    dtype = config.dtype
    np_dtype = np.float32 if dtype == "float32" else np.float64

    grouped = (
        postings_flat.withColumn(
            "block_id", (F.col("doc_idx") / F.lit(block_range)).cast("long")
        )
        .groupBy("term_id", "block_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_idx", "impact", "tf"))
            ).alias("plist")
        )
        .select(
            "term_id",
            "block_id",
            F.transform("plist", lambda x: x["doc_idx"]).alias("doc_ids"),
            F.transform("plist", lambda x: x["impact"]).alias("impacts"),
            F.transform("plist", lambda x: x["tf"]).alias("tfs_arr"),
        )
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for term_id, block_id, doc_ids, impacts, tfs in zip(
                pdf["term_id"], pdf["block_id"], pdf["doc_ids"], pdf["impacts"], pdf["tfs_arr"]
            ):
                ids = np.asarray(doc_ids, dtype=np.int64)
                imp = np.asarray(impacts, dtype=np_dtype)
                tf_arr = np.asarray(tfs, dtype=np.int64)
                rows.append(
                    (
                        term_id,
                        block_id,
                        len(ids),
                        encode_doc_ids(ids),
                        encode_impacts(imp, dtype),
                        encode_tfs(tf_arr),
                        float(imp.max()) if len(imp) else float("-inf"),
                    )
                )
            yield pd.DataFrame(rows, columns=_POSTING_COLUMNS)

    return grouped.mapInPandas(encode, schema=_POSTING_BLOCK_DDL)
