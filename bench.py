"""Headline benchmark: index-build + search timings.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., extras...}

Inputs: $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) documents table +
a deterministic synthetic transcripts corpus (FIXTURES.md §1; cached parquet
under .bench_cache/), $BENCH_TURNS turns (default 120000).  $SPARK_GRAFT_CPUS
controls local[N] (default 32); $BENCH_REPS repeats the suite (default 2).
The driver heap is min(24 GiB, half of host RAM).

This is the headline run, not the regression signal: that is perfbench
(``python3 perfbench/run.py``, deterministic per-call counters).  The N vs 4N
scaling check (north rule: >= 0.8) is two runs of this script, pinned to 1 and
4 cores, comparing ``turns_per_sec_sorted`` (README "Benchmarks").
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

N_TURNS = int(os.environ.get("BENCH_TURNS", "120000"))
N_QUERIES = 100
TOP_K = 10


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def get_transcripts_path() -> str:
    cache_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")
    path = os.path.join(cache_dir, f"transcripts_{N_TURNS}_seed42.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        from baguetter_spark.fixtures import gen_transcripts

        t0 = time.time()
        pdf = gen_transcripts(N_TURNS, seed=42, vocab_size=20_000)
        # many row groups = realistic sorted-table layout (the presorted
        # path needs populated scan splits)
        pdf.to_parquet(path, index=False, row_group_size=15_000)
        log(f"generated {N_TURNS} synthetic turns in {time.time()-t0:.1f}s")
    return path


def driver_memory_mb() -> int:
    """Driver heap: 24 GiB, or half of host RAM if that is smaller."""
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return min(24 * 1024, host_mb // 2)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from pyspark.sql import SparkSession

    # Long-lived-executor allocator tuning: allocators hold their arenas
    # instead of returning pages to the OS between stages.  Set before the
    # JVM / Python workers are forked (they inherit the env).
    os.environ["MALLOC_TRIM_THRESHOLD_"] = "-1"
    os.environ["MALLOC_MMAP_THRESHOLD_"] = str(256 * 1024 * 1024)
    os.environ["ARROW_DEFAULT_MEMORY_POOL"] = "system"

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("baguetter-spark-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
        .config(
            "spark.executorEnv.MALLOC_MMAP_THRESHOLD_", str(256 * 1024 * 1024)
        )
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import pandas as pd

    from baguetter_spark.config import SparseIndexConfig, TextPreprocessorConfig
    from baguetter_spark.fixtures import gen_queries
    from baguetter_spark.gate import GATE_PREPROCESSOR, documents_as_transcripts
    from baguetter_spark.operators.indexer import build_index
    from baguetter_spark.operators.search import score_queries

    # --- unmeasured warm-up: JVM codegen, Python worker pool, allocator ----
    # A long-lived cluster executor is warm; cold-start is not what the
    # headline measures.  A tiny build (2k synthetic turns) walks every
    # stage: tokenizer UDF, zipindex, posting assembly, search kernels.
    t0 = time.time()
    from baguetter_spark.fixtures import gen_transcripts

    warm_tr = spark.createDataFrame(gen_transcripts(2_000, seed=7, vocab_size=2_000))
    warm_idx = build_index(
        spark, warm_tr, SparseIndexConfig(preprocessor=TextPreprocessorConfig())
    )
    warm_idx.postings.count()
    warm_idx.doc_map.count()
    warm_q = spark.createDataFrame(gen_queries(8, seed=11, vocab_size=2_000))
    score_queries(warm_idx, warm_q, top_k=TOP_K, parity=False).count()
    score_queries(warm_idx, warm_q, top_k=TOP_K, pruned=True).count()
    warm_idx.postings.unpersist()
    warm_idx.doc_map.unpersist()
    warm_idx.vocab.unpersist()
    log(f"warm-up build+search (unmeasured): {time.time()-t0:.1f}s")

    def run_suite() -> tuple[dict[str, float], dict[str, float]]:
        """One full pass over the headline queries.  Every index is
        unpersisted and the cache cleared at the end so a later rep redoes
        identical work from the parquet scans."""
        timings: dict[str, float] = {}
        extras: dict[str, float] = {}

        # --- q1: index build over the driver's documents table -------------
        t0 = time.time()
        cfg_docs = SparseIndexConfig(preprocessor=GATE_PREPROCESSOR)
        idx_docs = build_index(spark, documents_as_transcripts(spark, sf_dir), cfg_docs)
        n_blocks = idx_docs.postings.count()
        idx_docs.doc_map.count()  # materialize the full index (doc_map is lazy now)
        timings["index_build_documents"] = time.time() - t0
        log(f"documents index: {idx_docs.n_docs} docs, {idx_docs.total_postings} postings, {n_blocks} blocks")

        # --- q2: index build over synthetic transcripts (full pipeline) ----
        tpath = get_transcripts_path()
        transcripts = spark.read.parquet(tpath)
        t0 = time.time()
        cfg_tr = SparseIndexConfig(preprocessor=TextPreprocessorConfig())  # stem+stopwords
        idx_tr = build_index(spark, transcripts, cfg_tr)
        idx_tr.postings.count()
        idx_tr.doc_map.count()
        dt = time.time() - t0
        timings["index_build_transcripts"] = dt
        extras["turns_per_sec"] = round(N_TURNS / dt, 1)
        extras["n_turns"] = N_TURNS
        log(f"transcripts index: {idx_tr.n_docs} docs, {idx_tr.total_postings} postings, {extras['turns_per_sec']} turns/s")

        # --- q2b: same build through the shuffle-free presorted path --------
        t0 = time.time()
        idx_sorted = build_index(spark, transcripts, cfg_tr, assume_sorted=True)
        idx_sorted.postings.count()
        idx_sorted.doc_map.count()
        dt = time.time() - t0
        timings["index_build_transcripts_sorted"] = dt
        extras["turns_per_sec_sorted"] = round(N_TURNS / dt, 1)
        log(f"sorted-path index: {extras['turns_per_sec_sorted']} turns/s")

        # --- q3/q4: batch search fast + parity -------------------------------
        qpdf = gen_queries(N_QUERIES, seed=5, vocab_size=20_000)
        qdf = spark.createDataFrame(qpdf)
        t0 = time.time()
        n = score_queries(idx_tr, qdf, top_k=TOP_K, parity=False).count()
        timings["search_fast_100q"] = time.time() - t0
        extras["queries_per_sec_fast"] = round(N_QUERIES / timings["search_fast_100q"], 2)
        log(f"fast search: {n} result rows")

        t0 = time.time()
        score_queries(idx_tr, qdf, top_k=TOP_K, parity=True).count()
        timings["search_parity_100q"] = time.time() - t0

        # --- q5: rank-safe block-max MaxScore pruned search ------------------
        t0 = time.time()
        score_queries(idx_tr, qdf, top_k=TOP_K, pruned=True).count()
        timings["search_pruned_100q"] = time.time() - t0

        # --- q6: BMX build + search over the documents table -----------------
        from baguetter_spark.operators.bmx import bmx_score_queries, build_bmx_index

        t0 = time.time()
        idx_bmx = build_bmx_index(spark, documents_as_transcripts(spark, sf_dir), cfg_docs)
        idx_bmx.postings.count()
        timings["bmx_build_documents"] = time.time() - t0
        t0 = time.time()
        qdoc = spark.createDataFrame(
            pd.DataFrame(
                {"query_id": [f"b{i}" for i in range(20)],
                 "text": ["sort merge join", "fast window scan hash", "group filter value",
                          "stream batch line", "slow row query"] * 4}
            )
        )
        bmx_score_queries(idx_bmx, qdoc, top_k=TOP_K, parity=False).count()
        timings["bmx_search_20q"] = time.time() - t0

        for idx in (idx_docs, idx_tr, idx_sorted):
            idx.postings.unpersist()
            idx.doc_map.unpersist()
            idx.vocab.unpersist()
        idx_bmx.postings.unpersist()
        spark.catalog.clearCache()
        return timings, extras

    # timeit-style repetition: interference on a shared box only ever ADDS
    # time, so the rep with the smallest total is the least-contaminated
    # real run (a coherent single pass, not a per-query envelope).  The
    # per-query minima across reps are also reported, as the tightest
    # unbiased code-speed estimate (BENCH/BASELINE.md, headline record).
    reps = max(1, int(os.environ.get("BENCH_REPS", "2")))
    best: tuple[dict[str, float], dict[str, float]] | None = None
    env_min: dict[str, float] = {}
    for rep in range(reps):
        timings, extras = run_suite()
        log(f"rep {rep + 1}/{reps}: total {sum(timings.values()):.1f}s")
        for k, v in timings.items():
            env_min[k] = min(env_min.get(k, v), v)
        if best is None or sum(timings.values()) < sum(best[0].values()):
            best = (timings, extras)
    timings, extras = best

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "bm25_index_build_and_search_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf,
        **extras,
    }
    if reps > 1:
        out["reps"] = reps
        out["queries_min_envelope"] = {k: round(v, 3) for k, v in env_min.items()}
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
