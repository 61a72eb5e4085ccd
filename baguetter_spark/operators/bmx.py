"""BMX index build + scoring, Spark-first.

Re-expresses the reference BMX path (SURVEY §2 B12-B14, Q10-Q11;
`baguetter/indices/sparse/models/bmx/index.py`, `.../bmx.py`) as DataFrame
stages sharing the BM25 build skeleton:

    keys + tokenize + per-doc TF        ~ CountVectorizer     (index.py:209-233)
      (indexer.keyed_term_frequencies)    doc-term matrix     (B12)
    -> df filter (min_df) + sorted vocab~ feature selection   (index.py:211-218)
    -> per-term idf(f32) + entropy(f64) ~ inverted index      (B13, index.py:151-183)
    -> per-doc filtered lens, rel_lens  ~ doc_lens            (B14, index.py:245-247)
    -> posting blocks (doc_ids, tfs, rel_lens)                (skew-bounded, as BM25)

Query serving (Q10) is BM25 search's scatter and its grouped (query, block)
kernel (search.block_topk); only the per-row contribution differs.  Its
query-dependent part cannot be precomputed at index time:
``w * (idf * tf*(a+1)/(tf + a*rel_len + a*avg_entropy) + sim * entropy_norm
* beta)`` where ``avg_entropy``/``entropy_norm`` are per-QUERY normalized
entropies (one small aggregate over the query-term table, broadcast onto the
scatter rows) and ``sim = |Q∩D|/|Q|`` counts duplicate query tokens
(index.py:36-50,105-148) — the kernel takes it from its per-doc hit counts.
So posting blocks carry ``(doc_ids, tfs, rel_lens)`` — rel_len is baked per
posting exactly like BM25 bakes impacts, which removes the doc-side join
from the hot query path at 100 TB scale.

Float discipline (parity mode, differential-tested vs oracle/bmx_ref.py):
- idf computed entirely in float32 (the reference casts df to float32 first);
- entropy in float64; per-query normalization (max, mean) in float64 numpy;
- avg_doc_len emulates the reference's ``float(np.mean(float32_lens))``:
  exact float32 sum/divide while total tokens < 2**24 (always true at parity
  test scale; above that we fall back to the exact float64 mean and document
  the ~1e-7 divergence — the single-node reference cannot reach that scale);
- contributions computed in float64, accumulated into a float32 accumulator
  in query-token order (``scores[ids] += f64`` semantics of the kernel).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baguetter_spark.compress import (
    decode_impacts,
    decode_tfs,
    encode_doc_ids,
    encode_impacts,
    encode_tfs,
)
from baguetter_spark.config import SparseIndexConfig
from baguetter_spark.operators.indexer import (
    _check_collisions,
    hashed_term_stats,
    keyed_term_frequencies,
)
from baguetter_spark.operators.search import (
    _TOPK_SCHEMA,
    _sql_float,
    block_topk,
    pad_to_k,
    per_query_topk,
    scatter,
    tokenize_queries,
)
from baguetter_spark.operators.zipindex import zip_with_index

# f32 parity entropy materializes a term's full posting list in one pandas
# group; above this df the term routes to the distributed JVM sum instead
# (skew/OOM defense — a stopword with df ~ n_docs must never be one task).
# 1M postings ~ 16 MB per group: far above any parity-suite corpus, far
# below an executor's memory.
ENTROPY_EXACT_DF_CAP = 1 << 20


@dataclass
class BMXIndex:
    """Handle to the BMX index tables + scalar stats (mirror of the reference
    `BMX` dataclass, index.py:24-33, as DataFrames)."""

    doc_map: DataFrame  # doc_idx, doc_id, doc_len (min_df-filtered), rel_len
    vocab: DataFrame  # term_id, term, df, idf (f32-exact), entropy (f64)
    postings: DataFrame  # term_id, block_id, n_postings, doc_ids_delta, tfs, rel_lens
    n_docs: int
    avg_doc_len: float
    config: SparseIndexConfig
    # internal pinned frames the public tables were computed from — see
    # indexer.BM25Index.caches / merge.release_index (persist entries are
    # never GC'd; whoever supersedes this index must release them)
    caches: tuple = ()


def _avg_doc_len_f32_emulated(total_len: int, n_docs: int) -> float:
    """float(np.mean(doc_lens_f32)) — numpy sums float32 pairwise then divides
    by the count in float32.  For integer-valued lens this is exact while the
    total stays < 2**24, so sum-in-int64 → one f32 divide reproduces it
    bit-for-bit at any partitioning.  Above 2**24 the reference's pairwise
    rounding is partition-order-dependent (not reproducible distributed):
    use the exact float64 mean (divergence ~1e-7 relative)."""
    if n_docs == 0:
        return 0.0
    if total_len < (1 << 24):
        return float(np.float32(total_len) / np.float32(n_docs))
    return float(total_len) / float(n_docs)


def build_bmx_index(
    spark: SparkSession,
    transcripts: DataFrame,
    config: SparseIndexConfig | None = None,
) -> BMXIndex:
    """Build the BMX index (reference bmx.build_index, index.py:186-256)."""
    config = config or SparseIndexConfig()
    min_df = int(config.min_df)
    is_f32 = config.dtype == "float32"
    pins: list = []  # internal pinned frames -> BMXIndex.caches

    # keys + per-doc counts: the BM25 build's prelude (one Arrow tokenizer
    # pass, 8-byte term_hash keys — see indexer.keyed_term_frequencies)
    keys, tf, n_docs = keyed_term_frequencies(transcripts, config, pins)
    tf = tf.persist()
    pins.append(tf)

    # vocabulary: sorted rank over terms with df >= min_df (CountVectorizer
    # min_df semantics, index.py:211-218; unlike BM25, min_df IS applied).
    # ttf (sum tf of KEPT terms) rides the zipindex counts pass -> total_len
    # of the min_df-filtered doc-term matrix with no extra job.
    term_stats = hashed_term_stats(tf).where(F.col("df") >= min_df).persist()
    pins.append(term_stats)
    vocab_base, vstats = zip_with_index(
        term_stats,
        ["term"],
        "term_id",
        extra_sums={"total_len": "ttf", "hash_collisions": "coll"},
        cleanup=pins,
    )
    _check_collisions(vstats["hash_collisions"])
    total_len = int(vstats["total_len"])

    @F.pandas_udf("double")
    def idf_udf(df_s: pd.Series) -> pd.Series:
        # reference (index.py:171-172): df is cast to float32 FIRST, then the
        # formula runs in float64 (numpy scalar-scalar ops promote f32+float
        # to f64), and the result is stored float32.  Replicate: round df to
        # f32 (lossless below 2**24), f64 math, f32-round iff dtype=float32.
        df64 = df_s.to_numpy(dtype=np.float32).astype(np.float64)
        vals = np.log(1.0 + ((n_docs - df64) + 0.5) / (df64 + 0.5))
        if is_f32:
            vals = vals.astype(np.float32).astype(np.float64)
        return pd.Series(vals)

    # per-term entropy: -sum(p * ln p), p = sigmoid(tf)  (index.py:175-176).
    # Parity (f32) mode replicates the reference's docID-ordered numpy
    # pairwise sum bit-for-bit (a distributed f64 SUM is partitioning-order
    # dependent at the last ulp, which would make the bit-exact parity suite
    # flaky).  A pandas group materializes the term's FULL posting list in
    # one task, so the bit-exact kernel is df-capped: terms with
    # df > ENTROPY_EXACT_DF_CAP (hot/stopword terms — the unbounded-task
    # skew risk at 100 TB) fall back to the skew-safe distributed JVM sum,
    # whose ulp wobble is invisible after the gate's 4-dp rounding.  Parity
    # suites run at corpus sizes far below the cap, so every term they see
    # takes the bit-exact kernel.  The f64 scale path always uses the JVM sum.
    if is_f32:
        tf_ids = tf.join(
            vocab_base.select("term_hash", "term_id", "df"), "term_hash"
        ).select("term_id", "doc_idx", "tf", "df")

        def ent_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("doc_idx")
            tf_arr = pdf["tf"].to_numpy(dtype=np.int64)
            p_arr = 1.0 / (1.0 + np.exp(-tf_arr))
            return pd.DataFrame(
                {
                    "term_id": [int(pdf["term_id"].iloc[0])],
                    "entropy": [float(-np.sum(p_arr * np.log(p_arr)))],
                }
            )

        ent_exact = (
            tf_ids.where(F.col("df") <= ENTROPY_EXACT_DF_CAP)
            .select("term_id", "doc_idx", "tf")
            .groupBy("term_id")
            .applyInPandas(ent_kernel, schema="term_id long, entropy double")
        )
        p = 1.0 / (1.0 + F.exp(-F.col("tf").cast("double")))
        ent_hot = (
            tf_ids.where(F.col("df") > ENTROPY_EXACT_DF_CAP)
            .groupBy("term_id")
            .agg((-F.sum(p * F.log(p))).alias("entropy"))
        )
        ent = ent_exact.unionByName(ent_hot)
    else:
        p = 1.0 / (1.0 + F.exp(-F.col("tf").cast("double")))
        ent = tf.join(vocab_base.select("term_hash", "term_id"), "term_hash").groupBy(
            "term_id"
        ).agg((-F.sum(p * F.log(p))).alias("entropy"))

    vocab = (
        vocab_base.withColumn("idf", idf_udf(F.col("df")))
        .join(ent, "term_id", "left")
        .select("term_id", "term_hash", "term", "df", "idf", "entropy")
        .persist()
    )

    # doc lengths over RETAINED terms only (the min_df-filtered doc-term
    # matrix defines doc_lens, index.py:245): sum tf where term in vocab
    kept_tf = tf.select("doc_idx", "term_hash", "tf").join(
        vocab.select("term_hash", "term_id"), "term_hash"
    )
    doc_lens = kept_tf.groupBy("doc_idx").agg(F.sum("tf").cast("long").alias("doc_len"))
    doc_map = (
        keys.join(doc_lens, "doc_idx", "left")
        .fillna(0, subset=["doc_len"])
        .persist()
    )
    pins.append(doc_map)  # pre-rel_len base; the final doc_map re-persists
    avg_doc_len = (
        _avg_doc_len_f32_emulated(total_len, n_docs)
        if is_f32
        else (float(total_len) / n_docs if n_docs else 0.0)
    )

    # rel_len = f32(doc_len) / f32(avg)  (f32 array / weak python-float scalar
    # stays float32, index.py:247); f64 mode divides exactly
    if is_f32:

        @F.pandas_udf("double")
        def rel_udf(dl: pd.Series) -> pd.Series:
            vals = dl.to_numpy(dtype=np.float32) / np.float32(avg_doc_len)
            return pd.Series(vals.astype(np.float64))

        doc_map = doc_map.withColumn("rel_len", rel_udf(F.col("doc_len")))
    else:
        doc_map = doc_map.withColumn(
            "rel_len", F.col("doc_len").cast("double") / F.lit(avg_doc_len)
        )
    doc_map = doc_map.persist()

    postings = _assemble_bmx_blocks(
        kept_tf.join(doc_map.select("doc_idx", "rel_len"), "doc_idx").select(
            "term_id", "doc_idx", "tf", "rel_len"
        ),
        config,
    ).persist()

    return BMXIndex(
        doc_map=doc_map,
        vocab=vocab,
        postings=postings,
        n_docs=n_docs,
        avg_doc_len=avg_doc_len,
        config=config,
        caches=tuple(pins),
    )


def _assemble_bmx_blocks(flat: DataFrame, config: SparseIndexConfig) -> DataFrame:
    """(term_id, doc_idx, tf, rel_len) -> encoded blocks; same doc-range
    bounding as the BM25 assembly (hot-term skew defense) and the same
    streaming physical strategy (repartition + Tungsten sort + one flat
    Arrow pass over consecutive key runs; see indexer.assemble_posting_blocks)."""
    block_range = config.block_doc_range
    dtype = config.dtype
    np_dtype = np.float32 if dtype == "float32" else np.float64

    parts = int(flat.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    arranged = (
        flat.withColumn("block_id", (F.col("doc_idx") / F.lit(block_range)).cast("long"))
        .repartition(parts, "term_id", "block_id")
        .sortWithinPartitions("term_id", "block_id", "doc_idx")
    )

    out_schema = (
        "term_id long, block_id long, n_postings int, doc_ids_delta binary, "
        "tfs binary, rel_lens binary"
    )

    def encode_runs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        held: pd.DataFrame | None = None

        def emit(pdf: pd.DataFrame) -> pd.DataFrame:
            tid = pdf["term_id"].to_numpy(dtype=np.int64)
            bid = pdf["block_id"].to_numpy(dtype=np.int64)
            ids_all = pdf["doc_idx"].to_numpy(dtype=np.int64)
            tf_all = pdf["tf"].to_numpy(dtype=np.int64)
            rel_all = pdf["rel_len"].to_numpy(dtype=np_dtype)
            change = np.flatnonzero((tid[1:] != tid[:-1]) | (bid[1:] != bid[:-1])) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(pdf)]))
            rows = []
            for s, e in zip(starts, ends):
                rows.append(
                    (
                        int(tid[s]),
                        int(bid[s]),
                        int(e - s),
                        encode_doc_ids(ids_all[s:e]),
                        encode_tfs(tf_all[s:e]),
                        encode_impacts(rel_all[s:e], dtype),
                    )
                )
            return pd.DataFrame(
                rows,
                columns=[
                    "term_id", "block_id", "n_postings", "doc_ids_delta", "tfs", "rel_lens",
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
                held = pdf
                continue
            held = pdf.iloc[len(pdf) - n_tail :].reset_index(drop=True)
            yield emit(pdf.iloc[: len(pdf) - n_tail])
        if held is not None and len(held):
            yield emit(held)

    return arranged.mapInPandas(encode_runs, schema=out_schema)


def bmx_score_queries(
    index: BMXIndex,
    queries: DataFrame,
    *,
    top_k: int = 100,
    parity: bool = True,
    normalize: bool | None = None,
    empty_query: str = "empty",
) -> DataFrame:
    """Batch BMX search -> results(query_id, rank, doc_id, score).

    Same scatter and grouped (query, block) kernel as BM25 `score_queries`,
    with the BMX contribution (index.py:105-148); ``parity`` picks the
    float32 reference accumulator or the float64 fast one.

    ``empty_query="empty"`` (default) returns only matched docs;
    ``"reference"`` returns the reference's dense top-k, min(top_k, n_docs)
    rows per query with zero-score pads on the lowest unmatched doc ids —
    its ``zeros(top_k), arange(top_k)`` contract (index.py:63-65), made
    deterministic.
    """
    cfg = index.config
    is_f32 = cfg.dtype == "float32"
    normalize = cfg.normalize_scores if normalize is None else normalize
    if parity and not is_f32:
        msg = "parity mode requires dtype='float32'"
        raise ValueError(msg)

    alpha = cfg.alpha
    if alpha is None:
        alpha = max(min(1.5, index.avg_doc_len / 100), 0.5)
    beta = cfg.beta if cfg.beta is not None else float(1.0 / np.log(1 + index.n_docs))

    qterms = tokenize_queries(index, queries).select(
        "query_id",
        "tok_pos",
        "term_id",
        F.coalesce(F.col("weight"), F.lit(1.0)).cast("float").alias("weight"),
        "n_tokens",
    )
    # attach per-term scalars to the (small) query-term table before the
    # scatter: broadcast the QUERY side — the vocab is huge at scale
    qterms = (
        index.vocab.select("term_id", "idf", "entropy")
        .join(F.broadcast(qterms), "term_id")
        .select(
            "query_id", "tok_pos", "term_id", "weight", "n_tokens", "idf", "entropy"
        )
    )
    # qterms feeds >= 3 downstream consumers (the qscalars aggregate, the
    # scatter broadcast, and the saved-index pushdown collect); without a
    # persist each one re-executes the Arrow tokenize pipeline + vocab join
    # from scratch — profiling showed that subtree is seconds of pure
    # small-stage overhead per execution and the dominant (and most
    # weather-sensitive) cost of a small BMX batch.  Bounded by the query
    # batch; freed by Spark's ContextCleaner when the result goes out of
    # scope (same contract as search.py's cand_a).
    qterms = qterms.persist()

    # per-query scalars: entropy normalized by the query max; avg over tokens
    # in token order (np.asarray/max/mean float64, index.py:123-131)
    if parity:
        # bit-exact token-order mean for the parity contract
        @F.pandas_udf("double")
        def ent_max_udf(ent_list: pd.Series) -> pd.Series:
            return pd.Series(
                [
                    float(np.max(np.asarray([e["entropy"] for e in lst])))
                    for lst in ent_list
                ]
            )

        @F.pandas_udf("double")
        def avg_ent_udf(ent_list: pd.Series) -> pd.Series:
            out = []
            for lst in ent_list:
                arr = np.asarray([e["entropy"] for e in lst])
                out.append(float(np.mean(arr / np.max(arr))))
            return pd.Series(out)

        qscalars = (
            qterms.groupBy("query_id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("tok_pos", "entropy"))
                ).alias("ents")
            )
            .select(
                "query_id",
                ent_max_udf(F.col("ents")).alias("ent_max"),
                avg_ent_udf(F.col("ents")).alias("avg_entropy"),
            )
        )
    else:
        # FAST PATH: mean(arr/amax) == mean(arr)/amax up to one f64
        # rounding, so both scalars are a single JVM hash aggregate — the
        # collect_list + two-pandas-UDF plan this replaces cost a whole
        # extra Python stage per search, which profiling showed dominates
        # this (tiny) query batch: bmx_search_20q spends its seconds on
        # small-stage fixed overheads, not on data (round-4 BASELINE.md
        # "bmx_search_20q root cause").
        qscalars = qterms.groupBy("query_id").agg(
            F.max("entropy").alias("ent_max"),
            (F.avg("entropy") / F.max("entropy")).alias("avg_entropy"),
        )

    dt = cfg.dtype
    a64, b64 = float(alpha), float(beta)

    def contribs(pdf, local_ids, hits):
        # sims = |Q∩D|/|Q| in float32 over the block's hit counts, duplicate
        # query tokens counted (index.py:36-50); the token's f64
        # contribution (index.py:143-146) then folds into the accumulator
        sim = (hits.astype(np.float32) / np.float32(pdf["n_tokens"].iloc[0])).astype(
            np.float64
        )
        emax = float(pdf["ent_max"].iloc[0])
        eavg = float(pdf["avg_entropy"].iloc[0])
        for local, w, idf, ent, n, tf_buf, rel_buf in zip(
            local_ids, pdf["weight"], pdf["idf"], pdf["entropy"],
            pdf["n_postings"], pdf["tfs"], pdf["rel_lens"],
        ):
            tf = decode_tfs(tf_buf, int(n)).astype(np.float64)
            rel = decode_impacts(rel_buf, dt).astype(np.float64)
            yield np.float64(w) * (
                idf * ((tf * (a64 + 1.0)) / (tf + a64 * rel + a64 * eavg))
                + sim[local] * (ent / emax) * b64
            )

    # scatter (pushdown + broadcast join, as BM25 search), then one grouped
    # (query, block) pass: parity folds into a float32 accumulator in
    # query-token order (``scores[ids] += f64``), the fast mode into float64
    acc_dtype = np.float32 if parity else np.float64
    kernel = block_topk(
        top_k,
        contribs,
        acc_dtype,
        np.float32 if is_f32 else np.float64,
        (cfg.block_doc_range, index.n_docs) if empty_query == "reference" else None,
    )
    scattered = scatter(index.postings, qterms)
    scores = (
        scattered.join(F.broadcast(qscalars), "query_id")
        .select(
            "query_id", "block_id", "tok_pos", "weight", "idf", "entropy", "n_tokens",
            "ent_max", "avg_entropy", "n_postings", "doc_ids_delta", "tfs", "rel_lens",
        )
        .groupBy("query_id", "block_id")
        .applyInPandas(kernel, schema=_TOPK_SCHEMA.format(_sql_float(dt)))
    )
    topk = per_query_topk(scores, top_k).join(
        index.doc_map.select("doc_idx", "doc_id"), "doc_idx"
    )

    if normalize:
        n_docs = index.n_docs

        @F.pandas_udf("double")
        def norm_udf(score_s: pd.Series, n_s: pd.Series) -> pd.Series:
            # BMXSparseIndex.normalize_scores (bmx.py:17-33): f32 scores /
            # weak f64 scalar stays float32
            n = n_s.to_numpy(dtype=np.float64)
            factor = n * np.log(1 + (n_docs - 0.5) / 1.5)
            if is_f32:
                s32 = score_s.to_numpy(dtype=np.float32)
                return pd.Series((s32 / factor.astype(np.float32)).astype(np.float64))
            return pd.Series(score_s.to_numpy(dtype=np.float64) / factor)

        n_tok = qterms.select("query_id", "n_tokens").distinct()
        topk = topk.join(n_tok, "query_id").withColumn(
            "score", norm_udf(F.col("score"), F.col("n_tokens"))
        )

    if is_f32:
        topk = topk.withColumn("score", F.col("score").cast("float"))
    res = topk.select("query_id", "rank", "doc_idx", "doc_id", "score")
    if empty_query == "reference":
        res = pad_to_k(res, queries, scattered, index, top_k)
    return res.select("query_id", "rank", "doc_id", "score")
