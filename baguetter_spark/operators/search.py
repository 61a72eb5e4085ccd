"""Batch top-k search: broadcast query scatter over posting blocks + one
grouped block kernel.

Re-expresses the reference query path (`baguetter/indices/sparse/base.py:
417-536`, numba kernel `models/bm25/index.py:150-185`, top-k
`utils/numpy_utils.py:46-73`) as one plan per query batch (the reference's
`search_many` thread pool becomes partition parallelism):

    queries -> tokenize once (same UDF as docs) -> posexplode_outer
               (token order kept; empty/null token lists dropped)
            -> vocab join (OOV silently dropped; duplicates kept)   [Q2]
            -> broadcast-join onto posting blocks on term_id        [scatter]
            -> groupBy(query_id, block_id).applyInPandas: decode the
               group's blocks, score its doc range, local top-k     [Q3]
            -> per-query row_number window top-k
               (score desc, doc_idx asc)                            [Q4]
            -> doc_map join -> doc_id                               [Q5]
            [-> query-count normalization]                          [Q6]

Doc-range blocks partition documents, so a doc's whole score lives in one
(query_id, block_id) group: the group kernel's local top-k rows carry exact
final scores, each group's memory is bounded by ``block_doc_range`` at any
corpus size, and the global window only ranks <= k rows per group (Spark's
WindowGroupLimit cuts them to k per partition before the shuffle).

Scoring modes:
- exhaustive (``block_topk``, shared with BMX): the group kernel sorts the
  group's rows by token position, decodes them, and folds
  ``acc[ids] += impact * w`` over the block's doc range in query-token
  order.  ``parity`` picks only the accumulator dtype: float32 with
  ``parity=True`` (default) is the reference kernel itself, so scores are
  bit-identical (float32 addition is order-sensitive; SURVEY §4.2.2);
  float64 with ``parity=False`` is mathematically equal within 1e-7
  relative.
- ``pruned=True`` / ``"blockmax"``: the group kernel is the rank-safe
  MaxScore kernel (wand.py), float64 arithmetic.

Tie handling: the reference's argpartition tie order is nondeterministic, so
we define the canonical total order (score desc, doc_idx asc) — SURVEY §4.2.6.

Empty/fully-OOV queries: by default they return 0 rows; with
``empty_query="reference"`` every query is padded to exactly k rows with
zero-score docs, matching the reference's always-k contract
(index.py:176-185 + utils/numpy_utils.py:63-73 — its pad docs are
argpartition-arbitrary; ours are the deterministic lowest doc ids).  The
kernel then ranks each touched block's whole doc range and pads come from
untouched blocks only, so the result is the reference's dense top-k.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from baguetter_spark.compress import decode_doc_ids, decode_impacts
from baguetter_spark.functions.preprocess import tokens_udf
from baguetter_spark.operators.indexer import BM25Index


def per_query_topk(
    scores: DataFrame,
    top_k: int,
    *,
    id_col: str = "doc_idx",
    score_col: str = "score",
) -> DataFrame:
    """(query_id, <id_col>, <score_col>) -> rows with rank <= top_k per
    query, canonical tie order (score desc, id asc).

    Two-phase: a partition-local top-k first, then the global window.  The
    naive `row_number() OVER (PARTITION BY query_id)` funnels EVERY candidate
    of a query through one task — a hot-term query over 10^12 docs has ~10^10
    candidates, which is a guaranteed straggler/OOM at scale.  The local
    phase bounds the window's input to k rows per (query, partition); it is
    rank-safe because any global top-k row is also in its own partition's
    top-k under the same total order.

    For k up to ``spark.sql.optimizer.windowGroupLimitThreshold`` (default
    1000) Spark itself plans the ``row_number() <= k`` filter as a partial
    WindowGroupLimit before the window's shuffle, so the local phase is the
    JVM's.  Above it, a ``mapInPandas`` pass takes its place: it folds ALL
    Arrow batches of a partition into one bounded accumulator (k rows per
    query at any time), so the bound holds however many batches the
    partition yields.

    NaN scores are DROPPED up front: the two phases would otherwise disagree
    (pandas sorts NaN last, Spark's descending window ranks NaN first), making
    results partition-dependent.  BM25/BMX scores are never NaN; the dense/ANN
    callers filter NaN themselves, so this is a belt-and-braces contract.
    """
    scores = scores.where(~F.isnan(F.col(score_col).cast("double")))

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            merged = pdf if acc is None else pd.concat([acc, pdf], ignore_index=True)
            merged = merged.sort_values(
                ["query_id", score_col, id_col], ascending=[True, False, True]
            )
            acc = merged.groupby("query_id", sort=False).head(top_k)
        if acc is not None:
            yield acc

    threshold = scores.sparkSession.conf.get(
        "spark.sql.optimizer.windowGroupLimitThreshold", "1000"
    )
    if top_k > int(threshold):
        scores = scores.mapInPandas(local_topk, schema=scores.schema)
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return scores.withColumn("rank", F.row_number().over(w_rank)).where(
        F.col("rank") <= top_k
    )


def tokenize_queries(index: BM25Index, queries: DataFrame) -> DataFrame:
    """queries(query_id, text[, weight, part]) -> (query_id, tok_pos, term_id,
    weight, n_tokens).  n_tokens counts IN-VOCAB tokens (reference normalizes
    by len(token_ids) post-OOV-drop, base.py:438).

    The tokenize UDF runs once per query row.  ``posexplode`` would let
    Spark infer a ``size(toks) > 0`` filter in front of the generator, which
    evaluates the Python UDF a second time; ``posexplode_outer`` plus a null
    filter drops the same empty/null token lists without it.  n_tokens is a
    window count over the same rows (a grouped self-join would plan the whole
    tokenize branch twice); callers that do not select it pay nothing, since
    column pruning removes the window."""
    tokenize = tokens_udf(index.config.preprocessor)
    has_weight = "weight" in queries.columns
    has_part = "part" in queries.columns
    q = queries.withColumn("toks", tokenize(F.col("text")))
    q = q.select(
        "query_id",
        F.posexplode_outer("toks").alias("tok_pos", "term"),
        *([F.col("weight")] if has_weight else [F.lit(None).cast("double").alias("weight")]),
        *([F.col("part")] if has_part else []),
    ).where(F.col("term").isNotNull())
    if has_part:
        # search_weighted concatenates sub-queries (base.py:516-520): global
        # token order = (sub-query order, token order).  2^20 tokens/part cap.
        q = q.withColumn(
            "tok_pos", (F.col("part").cast("long") * (1 << 20) + F.col("tok_pos")).cast("int")
        ).drop("part")
    # OOV dropped by the inner join; duplicates kept (one row per position).
    q = q.join(index.vocab.select("term", "term_id"), "term").drop("term")
    # in-vocab token count per query (for normalization)
    return q.withColumn(
        "n_tokens", F.count(F.lit(1)).over(Window.partitionBy("query_id"))
    )


_TOPK_SCHEMA = "query_id string, doc_idx long, score {}"


def _sql_float(dtype: str) -> str:
    return "float" if dtype == "float32" else "double"


def _doc_ids(pdf: pd.DataFrame) -> list[np.ndarray]:
    return [
        decode_doc_ids(buf, int(n))
        for buf, n in zip(pdf["doc_ids_delta"], pdf["n_postings"])
    ]


def _decode_group(
    pdf: pd.DataFrame, dtype: str
) -> tuple[np.ndarray, list[np.ndarray], list[np.ndarray]]:
    """BM25 posting rows (one (query, block) group) -> (query-token weights,
    doc-id arrays, impact arrays), one entry per row in row order."""
    impact_arrays = [decode_impacts(buf, dtype) for buf in pdf["impacts_f32"]]
    return pdf["weight"].to_numpy(), _doc_ids(pdf), impact_arrays


def _group_frame(pdf: pd.DataFrame, ids: np.ndarray, scores: np.ndarray) -> pd.DataFrame:
    qid = pdf["query_id"].iloc[0]
    return pd.DataFrame(
        {"query_id": np.full(len(ids), qid, dtype=object), "doc_idx": ids, "score": scores}
    )


def block_topk(k: int, contribs, acc_dtype, out_dtype, dense: tuple[int, int] | None):
    """The exhaustive search kernel of every model, over one (query, block)
    group of the scatter join: sort the rows by ``tok_pos``, decode their doc
    ids, count the hits per doc over the block's doc range, fold
    ``acc[local] += contrib`` in query-token order, and emit the group's top-k
    by (score desc, doc_idx asc) on the ``out_dtype`` score.

    The model supplies ``contribs(pdf, local_ids, hits)``: one contribution
    array per (sorted) row, aligned with that row's ``local_ids`` entry.
    A float32 ``acc_dtype`` is the reference kernel itself (index.py:150-185;
    float32 addition is order-sensitive, SURVEY §4.2.2), so its scores are
    bit-identical; float64 is the fast mode.  Each tok_pos occurs once per
    group and ids are unique within a row, so the fancy-indexed add is exact.

    Candidates are the docs with at least one posting, zero and negative
    sums included.  ``dense=(block_doc_range, n_docs)`` ranks the block's
    whole doc range instead (clamped to n_docs), unmatched docs at 0.0: the
    reference's dense score vector restricted to the block."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("tok_pos")
        doc_arrays = _doc_ids(pdf)
        if dense is None:
            base = min(int(ids[0]) for ids in doc_arrays)
            span = max(int(ids[-1]) for ids in doc_arrays) - base + 1
        else:
            block_range, n_docs = dense
            base = int(pdf["block_id"].iloc[0]) * block_range
            span = min(block_range, n_docs - base)
        local_ids = [ids - base for ids in doc_arrays]
        hits = np.zeros(span, dtype=np.int32)
        for local in local_ids:
            hits[local] += 1
        acc = np.zeros(span, dtype=acc_dtype)
        for local, contrib in zip(local_ids, contribs(pdf, local_ids, hits)):
            acc[local] += contrib
        docs = np.arange(span) if dense else np.flatnonzero(hits)
        scores = acc[docs].astype(out_dtype, copy=False)
        keep = np.lexsort((docs, -scores))[:k]
        return _group_frame(pdf, docs[keep] + base, scores[keep])

    return kernel


def _bm25_contribs(dtype: str, acc_dtype):
    """BM25's per-row contribution: ``impact * w`` (baked impacts)."""

    def contribs(pdf, local_ids, hits):
        for w, buf in zip(pdf["weight"].to_numpy(), pdf["impacts_f32"]):
            yield decode_impacts(buf, dtype).astype(acc_dtype, copy=False) * acc_dtype(w)

    return contribs


def _maxscore_block_topk(k: int, dtype: str):
    """The rank-safe MaxScore kernel (wand.py) over one (query, block)
    group: its <= k exact-scored local candidates."""
    from baguetter_spark.operators.wand import maxscore_topk

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, scores = maxscore_topk(*_decode_group(pdf, dtype), k)
        return _group_frame(pdf, ids, scores)

    return kernel


def scatter(postings: DataFrame, qterms: DataFrame) -> DataFrame:
    """Broadcast the (small) query-term table onto the posting blocks.

    Pushdown: materialize the set of queried term ids and FILTER the posting
    scan with it.  On a saved index (parquet range-partitioned + sorted by
    term_id, io.save_index) this turns into row-group min/max pruning — at
    100 TB only the queried terms' blocks are read instead of the whole
    posting table (the broadcast join alone would scan all of it).
    Collecting the id set costs one extra Spark job (tokenize + vocab join),
    so it runs only when the posting table actually hits storage — for an
    in-memory (persisted) index the filter saves nothing and the job is pure
    per-batch latency."""
    if not postings.storageLevel.useMemory:
        qterm_ids = [r["term_id"] for r in qterms.select("term_id").distinct().collect()]
        if len(qterm_ids) <= 10_000:  # keep the isin literal sane for huge batches
            postings = postings.where(F.col("term_id").isin(qterm_ids))
    return postings.join(F.broadcast(qterms), "term_id")


def score_queries(
    index: BM25Index,
    queries: DataFrame,
    *,
    top_k: int = 100,
    parity: bool = True,
    normalize: bool | None = None,
    pruned: bool | str = False,
    empty_query: str = "empty",
    probe_blocks: int = 2,
) -> DataFrame:
    """Returns results(query_id, rank, doc_id, score) — canonical tie order.

    ``pruned=True`` routes through the rank-safe block-max MaxScore kernel
    (wand.py) instead of exhaustive scoring; implies ``parity=False`` score
    arithmetic (float64) but identical doc sets/ranks (property-tested).

    ``pruned="blockmax"`` additionally skips ENTIRE doc-range blocks whose
    query upper bound (sum over query terms of weight * per-block max
    impact, metadata written at index time) cannot reach the running top-k
    threshold: phase A scores the ``probe_blocks`` most-promising blocks per
    query exactly (doc ranges partition docs, so a local candidate's score
    is its exact final score), the k-th phase-A score becomes θ, and phase B
    scores only blocks with bound >= θ (an epsilon-margin keep guards f64
    summation-order ulps; ties at θ are kept, so canonical tie order is
    preserved).  At sf-bench scale (1-2 blocks) this is pure overhead; at
    10^12 turns (~10^7 blocks) it is the block-max WAND scan-skip that makes
    selective queries sublinear in corpus size.  Rank-safe: a doc in a
    skipped block has score <= block bound < θ <= true k-th score.

    ``empty_query``: "empty" (default) returns only matched docs; "reference"
    returns the reference's dense top-k, exactly min(top_k, n_docs) rows per
    query with zero-score pads on the lowest unmatched doc ids
    (index.py:176-185); it scores exhaustively, whatever ``pruned`` says.
    """
    cfg = index.config
    dtype = cfg.dtype
    normalize = cfg.normalize_scores if normalize is None else normalize
    if empty_query not in ("empty", "reference"):
        msg = f"empty_query must be 'empty' or 'reference', got {empty_query!r}"
        raise ValueError(msg)
    if pruned not in (False, True, "blockmax"):
        msg = f"pruned must be False, True or 'blockmax', got {pruned!r}"
        raise ValueError(msg)
    if pruned == "blockmax" and probe_blocks < 1:
        msg = f"probe_blocks must be >= 1, got {probe_blocks}"
        raise ValueError(msg)
    if pruned and "weight" in queries.columns:
        # Rank-safety guard: MaxScore's suffix bound assumes every term's
        # contribution is bounded ABOVE by its max impact, which a negative
        # weight inverts (a candidate's partial score can DECREASE later, so
        # θ is no longer a valid cutoff).  Fall back to exhaustive scoring.
        # The check is one scalar agg over the (tiny) query table.
        min_w = queries.agg(F.min("weight")).collect()[0][0]
        if min_w is not None and float(min_w) < 0.0:
            pruned = False
    if pruned:
        parity = False
    dense = None
    if empty_query == "reference":
        # every doc of a touched block is ranked, so there is nothing to prune
        pruned = False
        dense = (cfg.block_doc_range, index.n_docs)

    qterms = tokenize_queries(index, queries)
    # Weighted search concatenates sub-queries: global token positions must
    # follow the caller's order; weight cast to float32 (base.py:524).
    qterms = qterms.select(
        "query_id",
        "tok_pos",
        "term_id",
        F.coalesce(F.col("weight"), F.lit(1.0)).cast("float").alias("weight"),
        *(["n_tokens"] if normalize else []),
    )

    scattered = scatter(index.postings, qterms)
    joined = scattered.select(
        "query_id", "block_id", "tok_pos", "weight", "n_postings",
        "doc_ids_delta", "impacts_f32",
    )

    if pruned:
        # Doc ranges partition documents, so a doc's FULL score lives inside
        # one (query_id, block_id) group: run the MaxScore kernel per group
        # (bounded memory, parallel across ranges), emit exact-scored local
        # top-k candidates, take the global top-k of the union.
        local_topk = _maxscore_block_topk(top_k, dtype)
        topk_schema = _TOPK_SCHEMA.format("double")
        if pruned == "blockmax":
            # --- phase 0: per-(query, block) upper bounds from block_max
            # metadata.  Narrow projection — parquet column pruning keeps the
            # posting payload (doc_ids_delta/impacts) out of this scan.
            ub = (
                scattered.select(
                    "query_id",
                    "block_id",
                    (
                        F.col("weight").cast("double")
                        * F.col("block_max").cast("double")
                    ).alias("ubc"),
                )
                .groupBy("query_id", "block_id")
                .agg(F.sum("ubc").alias("ub"))
            )
            wb = Window.partitionBy("query_id").orderBy(
                F.desc("ub"), F.col("block_id").asc()
            )
            ub = ub.withColumn("brank", F.row_number().over(wb))
            # --- phase A: exact top-k inside the most-promising blocks ---
            probe = ub.where(F.col("brank") <= probe_blocks).select(
                "query_id", "block_id"
            )
            cand_a = (
                joined.join(F.broadcast(probe), ["query_id", "block_id"])
                .groupBy("query_id", "block_id")
                .applyInPandas(local_topk, schema=topk_schema)
            )
            # tiny (<= queries * probe_blocks * k rows); reused for θ + union.
            # No explicit unpersist: the caller consumes the returned plan
            # later, and Spark's ContextCleaner unpersists the (bounded)
            # block once the DataFrame goes out of driver scope.
            cand_a = cand_a.persist()
            wk = Window.partitionBy("query_id").orderBy(
                F.desc("score"), F.col("doc_idx").asc()
            )
            theta = (
                cand_a.withColumn("r", F.row_number().over(wk))
                .where(F.col("r") == top_k)
                .select("query_id", F.col("score").alias("theta"))
            )
            # --- phase B: only blocks whose bound can still matter.  The
            # epsilon keep-margin covers f64 summation-order ulps (ub and the
            # kernel sum contributions in different orders); scores are >= 0
            # here (negative weights fell back to exhaustive above).
            keep = (
                ub.where(F.col("brank") > probe_blocks)
                .join(theta, "query_id", "left")
                .where(
                    F.col("theta").isNull()
                    | (F.col("ub") >= F.col("theta") * (1.0 - 1e-9) - 1e-12)
                )
                .select("query_id", "block_id")
            )
            cand_b = (
                joined.join(keep, ["query_id", "block_id"])
                .groupBy("query_id", "block_id")
                .applyInPandas(local_topk, schema=topk_schema)
            )
            # doc ranges partition docs → a doc appears in exactly one block;
            # the union is duplicate-free by construction
            scores = cand_a.unionByName(cand_b)
        else:
            scores = joined.groupBy("query_id", "block_id").applyInPandas(
                local_topk, schema=topk_schema
            )
    else:
        if parity and dtype != "float32":
            msg = "parity mode requires dtype='float32' (the reference's default)"
            raise ValueError(msg)
        # one grouped pass: decode, fold in token order, local top-k
        acc_dtype = np.float32 if parity else np.float64
        out_dtype = np.float32 if dtype == "float32" else np.float64
        kernel = block_topk(
            top_k, _bm25_contribs(dtype, acc_dtype), acc_dtype, out_dtype, dense
        )
        scores = joined.groupBy("query_id", "block_id").applyInPandas(
            kernel, schema=_TOPK_SCHEMA.format(_sql_float(dtype))
        )

    # --- per-query top-k (canonical tie order) + doc_id remap --------------
    topk = per_query_topk(scores, top_k).join(
        index.doc_map.select("doc_idx", "doc_id"), "doc_idx"
    )

    if normalize:
        n_tok = qterms.select("query_id", "n_tokens").distinct()
        method = cfg.method

        is_f32 = dtype == "float32"

        @F.pandas_udf("float" if is_f32 else "double")
        def norm_udf(score_s: pd.Series, n_s: pd.Series) -> pd.Series:
            # reference bm25.py:30-53: scores(f32) / (n * fn(n)) — the float64
            # denominator is cast to f32 at the array op (numpy semantics)
            n = n_s.to_numpy(dtype=np.float64)
            if method in ("lucene", "robertson"):
                denom = n * np.log(1 + (n - 0.5) / 1.5)
            elif method == "atire":
                denom = n * np.log(n)
            elif method == "bm25l":
                denom = n * np.log((n + 1) / 1.5)
            else:  # bm25plus
                denom = n * np.log(n + 1)
            if is_f32:
                s32 = score_s.to_numpy(dtype=np.float32)
                return pd.Series(s32 / denom.astype(np.float32))
            return pd.Series(score_s.to_numpy(dtype=np.float64) / denom)

        topk = topk.join(n_tok, "query_id").withColumn(
            "score", norm_udf(F.col("score"), F.col("n_tokens"))
        )

    res = topk.select("query_id", "rank", "doc_idx", "doc_id", "score")
    if empty_query == "reference":
        res = pad_to_k(res, queries, scattered, index, top_k)
    return res.select("query_id", "rank", "doc_id", "score")


def pad_to_k(
    res: DataFrame, queries: DataFrame, scattered: DataFrame, index, top_k: int
) -> DataFrame:
    """Pad every query's results to exactly min(top_k, n_docs) rows with
    zero-score docs (reference always-k contract, index.py:176-185; the
    reference's pad docs are argpartition-arbitrary — ours are the
    deterministic lowest doc ids).

    ``res`` ranks every doc of each block the query touches (the kernel's
    ``dense`` mode), so pads come only from blocks where the query has no
    (query, block) group in ``scattered``: their reference score is exactly
    0.0, and ``res`` plus the lowest-id docs of those blocks is the
    reference's dense canonical top-k.  Doc ids are dense, so the lowest
    ``need`` free blocks supply every pad; they lie below block
    ``groups + need`` — the work is bounded by the scatter itself.  Shared
    by the BM25 and BMX indexes."""
    n_docs, block_range = index.n_docs, index.config.block_doc_range
    if n_docs == 0:
        return res
    n_blocks = -(-n_docs // block_range)
    need = min(-(-top_k // block_range), n_blocks)
    groups = scattered.select("query_id", "block_id").distinct()
    n_groups = groups.groupBy("query_id").agg(F.count("*").alias("n_groups"))
    last = F.least(F.lit(n_blocks), F.coalesce("n_groups", F.lit(0)) + need) - 1
    free = (
        queries.select("query_id")
        .distinct()
        .join(n_groups, "query_id", "left")
        .select("query_id", F.explode(F.sequence(F.lit(0).cast("long"), last)).alias("block_id"))
        .join(groups, ["query_id", "block_id"], "left_anti")
        .withColumn(
            "r", F.row_number().over(Window.partitionBy("query_id").orderBy("block_id"))
        )
        .where(F.col("r") <= need)
    )
    start = F.col("block_id") * block_range
    stop = F.least(start + min(block_range, top_k), F.lit(n_docs).cast("long")) - 1
    zero = F.lit(0.0).cast(_sql_float(index.config.dtype)).alias("score")
    pads = (
        free.select("query_id", F.explode(F.sequence(start, stop)).alias("doc_idx"))
        .join(index.doc_map.select("doc_idx", "doc_id"), "doc_idx")
        .select("query_id", "doc_idx", "doc_id", zero)
    )
    unioned = res.select("query_id", "doc_idx", "doc_id", "score").unionByName(pads)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_idx").asc()
    )
    return (
        unioned.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "rank", "doc_idx", "doc_id", "score")
    )


def blockmax_skip_stats(
    index: BM25Index,
    queries: DataFrame,
    *,
    top_k: int = 10,
    probe_blocks: int = 1,
) -> DataFrame:
    """Measurement companion to ``score_queries(pruned="blockmax")`` —
    round-4 VERDICT item 5 (skip-rate evidence).  Reproduces phases 0/A/θ
    with the same formulas (upper bound = sum over query terms of
    weight * block_max; θ = exact k-th score inside the probe_blocks
    most-promising blocks; keep iff ub >= θ*(1-1e-9)-1e-12) and returns
    per-query block accounting WITHOUT running phase B:

        (query_id, blocks_total, blocks_probed, blocks_kept,
         blocks_skipped, theta)

    blocks_total counts blocks containing >= 1 queried term (blocks with
    no query term never enter the scatter join in the first place — that
    is term-pushdown skipping, not θ-skipping, so it is deliberately NOT
    counted here).  blocks_skipped = total - probed - kept is the number
    of candidate-bearing blocks the θ-gate prunes; at the driver SFs with
    one 65536-doc block per corpus it is structurally 0 — the evidence
    run (scripts/blockmax_evidence.py) builds indexes at smaller
    block_doc_range to reach the multi-block regime a 10^12-doc corpus
    lives in.  Diagnostic only: the serving path in ``score_queries`` is
    untouched."""
    qterms = tokenize_queries(index, queries).select(
        "query_id",
        "term_id",
        F.coalesce(F.col("weight"), F.lit(1.0)).cast("float").alias("weight"),
    )
    scattered = scatter(index.postings, qterms)
    ub = (
        scattered.select(
            "query_id",
            "block_id",
            (F.col("weight").cast("double") * F.col("block_max").cast("double")).alias("ubc"),
        )
        .groupBy("query_id", "block_id")
        .agg(F.sum("ubc").alias("ub"))
    )
    wb = Window.partitionBy("query_id").orderBy(F.desc("ub"), F.col("block_id").asc())
    ub = ub.withColumn("brank", F.row_number().over(wb))

    probe = ub.where(F.col("brank") <= probe_blocks).select("query_id", "block_id")
    joined = scattered.select(
        "query_id", "block_id", "weight", "n_postings", "doc_ids_delta", "impacts_f32"
    )
    cand_a = (
        joined.join(F.broadcast(probe), ["query_id", "block_id"])
        .groupBy("query_id", "block_id")
        .applyInPandas(
            _maxscore_block_topk(top_k, index.config.dtype),
            schema=_TOPK_SCHEMA.format("double"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("doc_idx").asc())
    theta = (
        cand_a.withColumn("r", F.row_number().over(wk))
        .where(F.col("r") == top_k)
        .select("query_id", F.col("score").alias("theta"))
    )
    rest = ub.where(F.col("brank") > probe_blocks).join(theta, "query_id", "left")
    kept = rest.where(
        F.col("theta").isNull() | (F.col("ub") >= F.col("theta") * (1.0 - 1e-9) - 1e-12)
    )
    totals = ub.groupBy("query_id").agg(F.count("*").alias("blocks_total"))
    probed = probe.groupBy("query_id").agg(F.count("*").alias("blocks_probed"))
    n_kept = kept.groupBy("query_id").agg(F.count("*").alias("blocks_kept"))
    out = (
        totals.join(probed, "query_id", "left")
        .join(n_kept, "query_id", "left")
        .join(theta, "query_id", "left")
        .select(
            "query_id",
            "blocks_total",
            F.coalesce("blocks_probed", F.lit(0)).alias("blocks_probed"),
            F.coalesce("blocks_kept", F.lit(0)).alias("blocks_kept"),
            (
                F.col("blocks_total")
                - F.coalesce("blocks_probed", F.lit(0))
                - F.coalesce("blocks_kept", F.lit(0))
            ).alias("blocks_skipped"),
            "theta",
        )
    )
    return out
