"""Index construction: transcripts -> (doc_map, vocab, postings, stats).

Spark-first re-expression of the reference build dataflow
(`baguetter/indices/sparse/models/bm25/index.py:50-147` and
`.../scoring.py:207-329`):

    tokenize (pandas UDF)                 ~ process_many   (B1/T11)
    -> stable doc_idx (zip_with_index)    ~ key_mapping    (base.py:251)
    -> explode tokens                     ~ corpus scan    (B1)
    -> groupBy(doc,term).count            ~ per-doc TF     (B7)
    -> groupBy(term).count                ~ doc freq       (B4)
    -> sorted-term zip_with_index         ~ vocabulary     (B2)
    -> idf/nonoccurrence pandas UDF       ~ idf array      (B6/B10)
    -> join + float32 impact kernel       ~ impacts        (B8/B9)
    -> groupBy(term, doc-range block)     ~ CSC assembly   (B11)
       with delta+varint/f32 encoding + per-sub-block max metadata

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

import math
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baguetter_spark.compress import (
    encode_doc_ids,
    encode_impacts,
    encode_tfs,
    sub_block_maxes,
)
from baguetter_spark.config import NON_OCCURRENCE_METHODS, SparseIndexConfig
from baguetter_spark.functions.preprocess import tokens_udf
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


def indexed_keys(transcripts: DataFrame, cleanup: list | None = None) -> DataFrame:
    """transcripts -> (conv_id, turn_idx, doc_id, doc_idx); doc_idx = rank of
    (conv_id, turn_idx) — the reference's insertion order (SURVEY §4.2.4).

    The rank is computed over the NARROW key frame — parquet column pruning
    keeps the zipindex range-sampling pass and its persisted two-pass state
    at ~2% of corpus size instead of caching the raw text of the whole
    corpus.  Consumers that need text (the tokenizer) join it back on the
    key so the text column crosses the wire exactly once; consumers that
    don't (doc_map) read the persisted narrow frame.  At 10^12 turns this is
    the difference between persisting terabytes and persisting key columns."""
    keys = docs_from_transcripts(transcripts).select("conv_id", "turn_idx", "doc_id")
    return zip_with_index(keys, ["conv_id", "turn_idx"], "doc_idx", cleanup=cleanup)


def indexed_docs(transcripts: DataFrame) -> DataFrame:
    """transcripts -> (doc_idx, doc_id, text): the text-joined form (see
    indexed_keys for the narrow-rank design)."""
    keys = indexed_keys(transcripts)
    docs = docs_from_transcripts(transcripts).select("conv_id", "turn_idx", "text")
    return docs.join(keys.hint("shuffle_hash"), ["conv_id", "turn_idx"]).select(
        "doc_idx", "doc_id", "text"
    )


def exploded_terms(docs: DataFrame, config: SparseIndexConfig) -> DataFrame:
    """(doc_idx, text) -> flat (doc_idx, doc_len, term) rows, tokenizing and
    exploding INSIDE one Arrow pass.

    Emitting flat columns instead of array<string> avoids the expensive
    nested-Arrow transfer, the JVM explode stage, and the GC pressure of
    caching token arrays — the corpus crosses the Python boundary exactly
    once, as three primitive columns.  doc_len rides along (+4 bytes/row)
    so the impact kernel never needs a doc-length join at any scale."""
    from baguetter_spark.functions.preprocess import process_series

    pre = config.preprocessor

    def tok_explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            toks = process_series(pdf["text"], pre)
            lens = toks.map(len).to_numpy(dtype=np.int64)
            doc_idx = np.repeat(pdf["doc_idx"].to_numpy(dtype=np.int64), lens)
            doc_len = np.repeat(lens, lens)
            flat: list[str] = []
            for lst in toks:
                flat.extend(lst)
            yield pd.DataFrame(
                {"doc_idx": doc_idx, "doc_len": doc_len.astype(np.int32), "term": flat}
            )

    return docs.select("doc_idx", "text").mapInPandas(
        tok_explode, schema="doc_idx long, doc_len int, term string"
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
    keys on the 8-byte term_hash.  Replaces exploded_terms+groupBy
    (reference corpus scan + per-doc TF, scoring.py:207-329 B1/B7)."""
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


def tokenized_docs(transcripts: DataFrame, config: SparseIndexConfig) -> DataFrame:
    """transcripts -> (doc_idx, doc_id, tokens, doc_len): array-valued form
    (kept for tests/consumers that need per-doc token lists; the build
    pipeline itself uses the flat exploded_terms path)."""
    docs = indexed_docs(transcripts)
    tokenize = tokens_udf(config.preprocessor)
    return (
        docs.withColumn("tokens", tokenize(F.col("text")))
        .withColumn("doc_len", F.size("tokens"))
        .select("doc_idx", "doc_id", "tokens", "doc_len")
    )


def corpus_stats(doc_map: DataFrame) -> tuple[int, float]:
    """n_docs + float64 avg doc length (reference index.py:87 computes
    float(np.mean(...)); sum/count in exact int64 then one float64 division
    is bit-equal for integer lengths)."""
    row = doc_map.agg(
        F.count("*").alias("n"), F.sum("doc_len").alias("total_len")
    ).collect()[0]
    n_docs = int(row["n"])
    avg_doc_len = float(row["total_len"]) / n_docs if n_docs else 0.0
    return n_docs, avg_doc_len


def term_frequencies(docs_tok: DataFrame) -> DataFrame:
    """explode -> per-(doc, term) counts (B7); hash aggregate with map-side
    partial combine — the heavy shuffle is on (doc_idx, term)."""
    doc_terms = docs_tok.select("doc_idx", "doc_len", F.explode("tokens").alias("term"))
    return doc_terms.groupBy("doc_idx", "doc_len", "term").agg(F.count("*").alias("tf"))


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


def build_vocab(
    tf: DataFrame,
    n_docs: int,
    avg_doc_len: float,
    config: SparseIndexConfig,
    cleanup: list | None = None,
) -> DataFrame:
    """Sorted-rank term ids (B2) + df (B4) + idf/nonoccurrence (B6/B10).

    Input tf carries (term_hash, term?) — see local_term_frequencies.
    ``cleanup`` collects the internal pinned frames (see zip_with_index)."""
    # persist the (small) term aggregate: zip_with_index evaluates its input
    # for range sampling + counts + assignment — without this, the heavy
    # per-(doc,term) frame would aggregate three times
    term_stats = hashed_term_stats(tf).persist()
    if cleanup is not None:
        cleanup.append(term_stats)
    vocab_base, vstats = zip_with_index(
        term_stats, ["term"], "term_id", extra_sums={"coll": "coll"}, cleanup=cleanup
    )
    _check_collisions(vstats["coll"])
    return vocab_scores(
        vocab_base.select("term_id", "term_hash", "term", "df"),
        n_docs,
        avg_doc_len,
        config,
    )


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
    """Build the full BM25 index from a transcripts DataFrame (in-session
    caching; for the checkpoint-resumable variant see io.build_index_resumable).

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
    return index_from_term_frequencies(tf, doc_map_from(keys, tf), n_docs, config, pins)


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
    index (merge.add_docs)."""
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


def index_from_term_frequencies(
    tf: DataFrame,
    doc_map: DataFrame,
    n_docs: int,
    config: SparseIndexConfig,
    pins: list,
) -> BM25Index:
    """Everything after tokenization: tf rows (TF_BATCH_SCHEMA) + the
    doc_map of all ``n_docs`` docs -> the index.  Shared by build_index and
    the maintenance ops in merge.py, which feed it decoded posting rows
    instead of tokenizer output.  ``pins`` collects the internal pinned
    frames (-> BM25Index.caches)."""
    # tf is the one heavy intermediate: the vocab pass, the impacts join and
    # (on a build) doc_map all read it
    tf = tf.persist()
    # vocabulary term ids + the global scalar stats in ONE pass: ttf (total
    # tokens of the term) sums to total_len, df sums to total_postings, and
    # the term-hash collision witness sums to hash_collisions — all ride
    # the zipindex counts job instead of separate driver actions
    term_stats = hashed_term_stats(tf).persist()
    pins += [tf, term_stats]
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
    total_postings = int(vstats["total_postings"])
    # float64 avg over exact int64 sum — bit-equal to the reference's
    # float(np.mean(...)) for integer lengths (see corpus_stats)
    avg_doc_len = float(vstats["total_len"]) / n_docs if n_docs else 0.0

    vocab = vocab_scores(
        vocab_base.select("term_id", "term_hash", "term", "df"),
        n_docs,
        avg_doc_len,
        config,
    ).cache()
    flat = impacts_flat(tf, vocab, n_docs, avg_doc_len, config)
    doc_map = doc_map.persist()

    # Persisted: an index is built once and searched many times; at cluster
    # scale this is a parquet write (io.save_index) instead of a cache.
    postings = assemble_posting_blocks(flat, config).persist()

    return BM25Index(
        doc_map=doc_map,
        vocab=vocab,
        postings=postings,
        n_docs=n_docs,
        avg_doc_len=avg_doc_len,
        total_postings=total_postings,
        config=config,
        caches=tuple(pins),
    )


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
    sub = config.sub_block_size
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

    out_schema = (
        "term_id long, block_id long, n_postings int, doc_ids_delta binary, "
        "impacts_f32 binary, tfs binary, block_max float, sub_block_max array<float>"
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
                sbm = sub_block_maxes(imp, sub)
                rows.append(
                    (
                        int(tid[s]),
                        int(bid[s]),
                        int(e - s),
                        encode_doc_ids(ids),
                        encode_impacts(imp, dtype),
                        encode_tfs(tf_all[s:e]),
                        float(imp.max()),
                        sbm.tolist(),
                    )
                )
            return pd.DataFrame(
                rows,
                columns=[
                    "term_id", "block_id", "n_postings", "doc_ids_delta",
                    "impacts_f32", "tfs", "block_max", "sub_block_max",
                ],
            )

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

    return arranged.mapInPandas(encode_runs, schema=out_schema)


def assemble_posting_blocks_collect(
    postings_flat: DataFrame, config: SparseIndexConfig
) -> DataFrame:
    """Aggregation-based assembly (collect_list + sort_array) — kept as the
    reference plan for differential testing of the streaming encoder."""
    block_range = config.block_doc_range
    sub = config.sub_block_size
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

    out_schema = (
        "term_id long, block_id long, n_postings int, doc_ids_delta binary, "
        "impacts_f32 binary, tfs binary, block_max float, sub_block_max array<float>"
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
                sbm = sub_block_maxes(imp, sub)
                rows.append(
                    (
                        term_id,
                        block_id,
                        len(ids),
                        encode_doc_ids(ids),
                        encode_impacts(imp, dtype),
                        encode_tfs(tf_arr),
                        float(imp.max()) if len(imp) else float("-inf"),
                        sbm.tolist(),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "term_id",
                    "block_id",
                    "n_postings",
                    "doc_ids_delta",
                    "impacts_f32",
                    "tfs",
                    "block_max",
                    "sub_block_max",
                ],
            )

    return grouped.mapInPandas(encode, schema=out_schema)
