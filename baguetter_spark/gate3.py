"""Driver-gate queries, part 3 (round 2): every shipped component gets a
CORRECTNESS row (VERDICT round-1 next-round #2).

- ``bm25_topk_pruned``   — block-max MaxScore pruned search == exhaustive
  (rank-safe pruning, wand.py), against the same lucene top-k oracle;
- ``merge_equals_rebuild`` — build two segment halves, merge
  (merge.merge_indexes), digest of the merged postings == digest of a
  full-corpus build (reference full-rebuild semantics, base.py:244-256);
- ``resumable_build_digest`` — build_index_resumable twice (second run
  must RESUME: all stages skipped via SUCCESS manifests) then load_index
  round-trip; postings digest through save/load + codec;
- ``streaming_ingest_digest`` — availableNow file-source stream ingestion
  (exactly-once, checkpointed); per-turn text must survive byte-identical
  (md5 digest vs DuckDB over the same parquet);
- ``dedup_simhash_pairs`` — SimHash Hamming-ball banding near-dup pairs
  at max_hamming=3 (4x8-bit bands; pigeonhole candidate generation is
  COMPLETE in this regime; exact popcount verification), oracle mirrors
  the identical banded procedure;
- ``bm25_presorted_digest`` (round 3) — shuffle-free presorted build with
  fallback disabled (assume_sorted="require") over a range-partitioned
  key-sorted rewrite of the corpus; digest vs the same postings oracle.
- ``dedup_embedding_cosine`` (round 3) — embedding-cosine near-dup pairs:
  banded-LSH candidate generation + exact cosine verify at >= 0.4; oracle
  mirrors the identical integer-plane banding (pairs the banding misses
  are missed by both sides; recall-vs-exhaustive pinned in test_dense).

Same determinism rules as gate.py.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baguetter_spark.config import SparseIndexConfig
from baguetter_spark.gate import (
    GATE_PREPROCESSOR,
    TOP_K,
    _gate_query_df,
    _rounded_topk,
    _SQL_DOCS,
    bm25_topk_sql,
    documents_as_transcripts,
    gate_index,
    KNN_BRUTE_SQL,
    postings_digest_of,
    POSTINGS_DIGEST_SQL,
)
from baguetter_spark.operators.search import score_queries


def _gate_cfg() -> SparseIndexConfig:
    return SparseIndexConfig(dtype="float64", preprocessor=GATE_PREPROCESSOR)


def pruned_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruned (MaxScore) search must reproduce the exhaustive lucene top-k.
    top_k=60 before the 4-dp rounded re-rank keeps a deep-enough safety
    margin that rounding cannot pull a sub-60 doc into the rounded top-10."""
    index = gate_index(spark, sf_dir, "lucene")
    res = score_queries(index, _gate_query_df(spark), top_k=60, pruned=True)
    return _rounded_topk(res)


def multiblock_pruned_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruned (MaxScore) search over many doc-range blocks must reproduce
    the exhaustive lucene top-k.  Built with block_doc_range=256 so the
    corpus splits into many blocks, each its own (query, block) kernel
    group: the only gate row that runs the MaxScore kernel across many
    blocks (the default 2^16 range puts the whole sf0.01 corpus in one
    block, as ``bm25_topk_pruned`` does).  The row keeps the name of the
    retired two-phase block-skipping mode, which it used to run."""
    cfg = SparseIndexConfig(
        dtype="float64", preprocessor=GATE_PREPROCESSOR, block_doc_range=256
    )
    from baguetter_spark.gate import documents_as_transcripts
    from baguetter_spark.operators.indexer import build_index

    index = build_index(spark, documents_as_transcripts(spark, sf_dir), cfg)
    res = score_queries(index, _gate_query_df(spark), top_k=60, pruned=True)
    return _rounded_topk(res)


def ann_ivf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-probe ANN, k-means-trained path — oracle-checkable
    invariant row (round-4 upgrade of the former rows-only entry).

    k-means centroid *placement* is seeded but not SQL-reproducible in
    DuckDB, so instead of hashing the approximate hit list this row
    computes, INSIDE the Spark query, the three invariants any correct
    IVF must satisfy against the brute-force scan and emits one boolean
    row per query that the DuckDB oracle asserts as constant TRUE:

    - ``recall_monotone`` — brute-top-k hits recovered at n_probe=4 <=
      hits at n_probe=8 <= hits at n_probe=16 (probe cells are ranked, so
      candidates(4) ⊆ candidates(8) ⊆ candidates(16); a brute-top-k doc
      in the candidate set always survives the local top-k because fewer
      than k docs outscore it globally — any violation means cell
      assignment or probe ranking lost a candidate);
    - ``exhaustive_full`` — n_probe == n_centroids recovers the full
      brute top-k (cells partition the corpus: nothing lost, nothing
      duplicated);
    - ``scores_exact`` — every hit shared with brute carries the
      identical 6-dp cosine (cell-local scoring is the flat-scan math).

    Tie-safety (round-5, ADVICE item): all three invariants hold even if
    the fixture produces a cosine tie at the rank-k boundary, because
    both ``cosine_topk`` and ``ivf_cosine_topk`` rank through
    ``per_query_topk``'s canonical TOTAL order (cos_r desc, vec_id asc) —
    the deterministic lowest-vec-id tie-break is part of both contracts.
    Under a total order, any brute-top-k member t has at most k-1
    universe elements preceding it, so t is in the top-k of EVERY
    candidate set containing it: hits(n_probe) = |brute_topk ∩
    candidates(n_probe)|, which is monotone in the nested candidate
    sets, and candidates(n_centroids) = universe forces h16 == k.

    Absolute recall at n_probe=4 stays property-tested on the clustered
    fixture (test_dataops.test_ivf_recall_clustered, recall@10 >= 0.9);
    on the unclustered gate embeddings it is governed by n_probe/n_cells
    and is not a stable constant, hence invariants rather than a floor."""
    from baguetter_spark.gate import EMB_QUERY_IDS, _emb_double
    from baguetter_spark.operators.similarity import cosine_topk, ivf_cosine_topk

    emb = _emb_double(spark, sf_dir)
    k = 5
    brute = cosine_topk(emb, EMB_QUERY_IDS, k=k).select(
        "query_id", "vec_id", F.col("cos_r").alias("brute_cos")
    )

    def _hits(n_probe: int, tag: str) -> DataFrame:
        ivf = ivf_cosine_topk(
            emb, EMB_QUERY_IDS, k=k, n_centroids=16, n_probe=n_probe
        )
        return (
            ivf.join(brute, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(
                F.count("*").alias(f"hits{tag}"),
                F.min(
                    (F.col("cos_r") == F.col("brute_cos")).cast("int")
                ).alias(f"exact{tag}"),
            )
        )

    per_q = brute.select("query_id").distinct()
    for n_probe, tag in ((4, "4"), (8, "8"), (16, "16")):
        per_q = per_q.join(_hits(n_probe, tag), "query_id", "left")
    zero = F.lit(0)
    h4 = F.coalesce(F.col("hits4"), zero)
    h8 = F.coalesce(F.col("hits8"), zero)
    h16 = F.coalesce(F.col("hits16"), zero)
    one = F.lit(1)
    exact_all = (
        F.coalesce(F.col("exact4"), one)
        + F.coalesce(F.col("exact8"), one)
        + F.coalesce(F.col("exact16"), one)
    )
    return per_q.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.lit(k).cast("long").alias("k"),
        ((h4 <= h8) & (h8 <= h16)).alias("recall_monotone"),
        (h16 == F.lit(k)).alias("exhaustive_full"),
        (exact_all == F.lit(3)).alias("scores_exact"),
    ).orderBy("query_id")


ANN_IVF_INVARIANTS_SQL = """
SELECT CAST(vec_id AS BIGINT) AS query_id, CAST(5 AS BIGINT) AS k,
       TRUE AS recall_monotone, TRUE AS exhaustive_full, TRUE AS scores_exact
FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
ORDER BY query_id
"""


def ann_ivf_exhaustive_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with ``n_probe == n_centroids`` (every cell probed) must equal
    brute-force cosine top-k EXACTLY, whatever centroids k-means picked —
    the strong (hash-checked) oracle row for the IVF plumbing: proves cell
    assignment partitions the corpus (no candidate lost to an unprobed
    cell, none duplicated across cells) and that the cell-local score +
    global merge path is the same math as the flat scan.  The
    ``ann_ivf_cosine`` row (n_probe=4) is oracle-checked too, via
    in-query invariant booleans (see ``ann_ivf_invariants_query``)."""
    from baguetter_spark.gate import EMB_QUERY_IDS, _emb_double
    from baguetter_spark.operators.similarity import ivf_cosine_topk

    return ivf_cosine_topk(
        _emb_double(spark, sf_dir), EMB_QUERY_IDS, k=5, n_centroids=16, n_probe=16
    )


# pretrained-centroid cells for the deterministic IVF row: 8 corpus vectors
# (disjoint from EMB_QUERY_IDS) become the quantizer, cell j = j-th id asc
IVF_PRETRAINED_CENTROID_IDS = [5, 6, 7, 8, 9, 10, 11, 12]


def ann_ivf_pretrained_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with INJECTED (pretrained) centroids — the production quantizer
    re-use shape — probing 3 of 8 cells.  Unlike the k-means rows this
    path is bit-deterministic (assignment and probe rank round(cosine,6)
    with cell-id tie-breaks), so the approximate-probe result itself is
    hash-checked against the DuckDB oracle, not just the exhaustive
    degenerate case."""
    from baguetter_spark.gate import EMB_QUERY_IDS, _emb_double
    from baguetter_spark.operators.similarity import ivf_cosine_topk

    return ivf_cosine_topk(
        _emb_double(spark, sf_dir),
        EMB_QUERY_IDS,
        k=5,
        n_probe=3,
        centroid_ids=IVF_PRETRAINED_CENTROID_IDS,
    )


def merge_equals_rebuild_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segments [doc_id < split] + [doc_id >= split] merged ==
    full-corpus build (digest compared against the full-corpus oracle)."""
    from baguetter_spark.merge import merge_indexes
    from baguetter_spark.operators.indexer import build_index

    cfg = _gate_cfg()
    tr = documents_as_transcripts(spark, sf_dir)
    split = "000000000250"  # lpad'ed doc_id split point: halves stay ordered
    seg_a = build_index(spark, tr.where(F.col("conv_id") < split), cfg)
    seg_b = build_index(spark, tr.where(F.col("conv_id") >= split), cfg)
    merged = merge_indexes(spark, [seg_a, seg_b], cfg)
    return postings_digest_of(merged)


def incremental_add_digest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-level incremental ingestion: ``build`` on the first slice of
    the corpus, then TWO chained ``add_transcripts`` batches (each tokenizes
    only the new docs and reindexes them with the decoded postings — no
    re-tokenization, with lineage truncated between rounds) must leave an
    index digest-identical to the full-corpus build oracle.  Chaining two
    adds is the point: it
    exercises the maintenance-over-maintenance plan that used to blow up
    driver memory before ``merge.truncate_lineage``.  The replace-on-
    collision path is pytest-verified instead (replaced docs re-append, so
    their doc_idx — and hence the digest — intentionally differs from a
    plain rebuild)."""
    from baguetter_spark.engine import BM25SparkIndex

    cfg = _gate_cfg()
    tr = documents_as_transcripts(spark, sf_dir)
    # lpad'ed doc_id boundaries: three ordered slices at any sf
    cut1, cut2 = "000000000150", "000000000300"
    eng = BM25SparkIndex(spark, cfg).build(tr.where(F.col("conv_id") < cut1))
    eng.add_transcripts(
        tr.where((F.col("conv_id") >= cut1) & (F.col("conv_id") < cut2))
    )
    eng.add_transcripts(tr.where(F.col("conv_id") >= cut2))
    return postings_digest_of(eng.index)


# remove_equals_rebuild: docs whose id ends in this digit get removed; the
# oracle rebuilds the digest over `WHERE doc_id NOT LIKE '%7'`
REMOVE_SUFFIX = "7"


def remove_equals_rebuild_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """remove_docs (posting-block filter + stats/vocab/impacts recompute,
    NO re-tokenization) must leave an index digest-identical to rebuilding
    on the filtered corpus."""
    from baguetter_spark.merge import remove_docs
    from baguetter_spark.operators.indexer import build_index

    cfg = _gate_cfg()
    full = build_index(spark, documents_as_transcripts(spark, sf_dir), cfg)
    # doc_map keys are "conv:turn" with turn always 0 for the documents
    # table, so the suffix digit sits before ":0"
    keys = [
        r["doc_id"]
        for r in full.doc_map.where(
            F.col("doc_id").endswith(f"{REMOVE_SUFFIX}:0")
        ).collect()
    ]
    return postings_digest_of(remove_docs(spark, full, keys))


def resumable_build_digest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resumable staged build + save/load round-trip: run the
    staged build, re-run it (must SKIP every stage via SUCCESS manifests),
    then read the index back through load_index and digest the postings."""
    from baguetter_spark.io import build_index_resumable, load_index, read_manifest

    cfg = _gate_cfg()
    workdir = os.path.join(
        tempfile.gettempdir(), f"gate_resume_{os.path.basename(sf_dir)}"
    )
    shutil.rmtree(workdir, ignore_errors=True)
    tr = documents_as_transcripts(spark, sf_dir)
    build_index_resumable(spark, tr, cfg, workdir, input_id=sf_dir)
    # second run resumes: every stage must be skipped, none re-executed
    build_index_resumable(spark, tr, cfg, workdir, input_id=sf_dir)
    manifest = read_manifest(workdir)
    if manifest.get("stages_executed"):
        msg = f"resume failed: stages re-executed {manifest['stages_executed']}"
        raise AssertionError(msg)
    loaded = load_index(spark, workdir)
    return postings_digest_of(loaded)


def repository_roundtrip_digest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IndexRepository push/pull round-trip (the reference's hub
    persistence surface, utils/persistable.py:96-165, over a Hadoop FS
    URI): push the built index into a ``file:``-schemed repository (the
    manifest travels through the Hadoop FileSystem API, the same code
    path an s3a:// deployment uses), assert the catalog lists it, pull
    it back and digest the postings against the build oracle."""
    from baguetter_spark.operators.indexer import build_index
    from baguetter_spark.repository import IndexRepository

    cfg = _gate_cfg()
    base = os.path.join(
        tempfile.gettempdir(), f"gate_repo_{os.path.basename(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    repo = IndexRepository(spark, base)  # scheme-less -> file: URI
    idx = build_index(spark, documents_as_transcripts(spark, sf_dir), cfg)
    repo.push(idx, "gate-docs")
    if repo.list_indexes() != ["gate-docs"]:
        msg = f"repository catalog mismatch: {repo.list_indexes()}"
        raise AssertionError(msg)
    return postings_digest_of(repo.pull("gate-docs"))


def streaming_ingest_digest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow streaming ingestion of the documents corpus (as
    transcript drops); per-turn text must survive byte-identical —
    digested as md5 per doc against DuckDB's md5 over the same parquet."""
    from baguetter_spark.streaming.ingest import stream_ingest

    base = os.path.join(
        tempfile.gettempdir(), f"gate_stream_{os.path.basename(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))
    tr = documents_as_transcripts(spark, sf_dir).select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    tr.write.mode("overwrite").parquet(src)
    q = stream_ingest(spark, src, out, ckpt, available_now=True)
    q.awaitTermination()
    ingested = spark.read.parquet(out)
    return ingested.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.md5(F.col("text")).alias("text_md5"),
    )


def simhash_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_hamming=3 = sh_bands-1, the regime where 4-band pigeonhole
    candidate generation is COMPLETE (every qualifying pair is found); at
    >= sh_bands the banding is a recall heuristic on both engine and oracle,
    which would make the row's equality check weaker than it looks."""
    from baguetter_spark.gate import _docs_with_id
    from baguetter_spark.operators.dedup import simhash_near_dup_pairs

    index = gate_index(spark, sf_dir, "lucene")
    return simhash_near_dup_pairs(
        _docs_with_id(spark, sf_dir), index.vocab, max_hamming=3
    )


def presorted_build_digest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """42nd gate row (VERDICT round-2 #7): the shuffle-free presorted build
    proven at driver level.  The corpus is rewritten as a range-partitioned,
    key-sorted parquet table (the natural layout of an Iceberg table sorted
    on its key), read back one-file-per-split, and built with
    assume_sorted="require" — fallback to the general path is DISABLED, so
    a green row means the presorted path itself produced the reference
    postings digest, not the general path behind a silent fallback."""
    from baguetter_spark.operators.indexer import build_index

    cfg = _gate_cfg()
    base = os.path.join(
        tempfile.gettempdir(), f"gate_presorted_{os.path.basename(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    tr = documents_as_transcripts(spark, sf_dir)
    (
        tr.repartitionByRange(32, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.parquet(base)
    )
    # One file per scan split: the default openCostInBytes packs many small
    # files into one split ordered by SIZE, which breaks the global key
    # ordering the presorted path verifies.  Restored after materialization.
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", str(128 * 1024 * 1024))
    try:
        sorted_tr = spark.read.parquet(base)
        index = build_index(spark, sorted_tr, cfg, assume_sorted="require")
        # materialize every scan-derived leg (postings via tf, doc_map via
        # keys) while the split conf is still in force — the digest itself
        # is evaluated lazily by the driver after this function returns
        index.doc_map.count()
        index.postings.count()
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", old_cost)
    return postings_digest_of(index)


RADIUS_MIN_COS = 0.25


def knn_radius_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """43rd gate row (VERDICT round-2 #9): dense radius search (reference
    usearch search-by-threshold surface) — every vector with cosine >=
    min_cos per query, no top-k cut; pure scan+broadcast+filter plan."""
    from baguetter_spark.gate import EMB_QUERY_IDS, _emb_double
    from baguetter_spark.operators.similarity import cosine_radius

    return cosine_radius(
        _emb_double(spark, sf_dir), EMB_QUERY_IDS, min_cos=RADIUS_MIN_COS
    )


# Embedding-cosine near-dup: 0.4 yields a non-trivial pair set on the
# synthetic fixture (59 true pairs at sf0.01, 920 at sf0.1); real near-dup
# workloads run 0.9+ where the banding s-curve is far sharper.
NEAR_DUP_COS = 0.4


def embedding_near_dup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dense member of the dedup
    family): banded-LSH candidate generation (ids only through the
    distinct), exact-cosine verification at >= NEAR_DUP_COS.  The oracle
    mirrors the identical integer-plane banding, so the row verifies the
    bucketed plan end-to-end; pairs the banding misses are missed by both
    sides (recall-vs-exhaustive is pinned in tests/test_dense.py)."""
    from baguetter_spark.gate import EMB_DIM, _emb_double
    from baguetter_spark.operators.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        _emb_double(spark, sf_dir), threshold=NEAR_DUP_COS, dim=EMB_DIM
    )


def _embedding_near_dup_sql() -> str:
    from baguetter_spark.operators.similarity import (
        N_BANDS,
        N_PLANES_PER_BAND,
        PLANE_A,
        PLANE_B,
        PLANE_MOD,
        PLANE_SHIFT,
    )

    n_total = N_BANDS * N_PLANES_PER_BAND
    planes = ", ".join(
        f"({p // N_PLANES_PER_BAND}, {p % N_PLANES_PER_BAND}, {PLANE_A[p]}, {PLANE_B[p]})"
        for p in range(n_total)
    )
    return f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
flat AS (
  SELECT vec_id, generate_subscripts(v, 1) - 1 AS d, unnest(v) AS x FROM emb
),
planes(band, r, a, b) AS (VALUES {planes}),
proj AS (
  SELECT vec_id, band, r, sum(x * (((a * d + b) % {PLANE_MOD}) - {PLANE_SHIFT})) AS pr
  FROM flat CROSS JOIN planes GROUP BY vec_id, band, r
),
bucket AS (
  SELECT vec_id, band,
         CAST(sum(CASE WHEN pr > 0 THEN (1 << r) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id, band
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bucket a JOIN bucket b USING (band, bucket)
  WHERE a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       round(list_dot_product(ea.v, eb.v)
             / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cos_r
FROM cand c JOIN emb ea ON ea.vec_id = c.id_a JOIN emb eb ON eb.vec_id = c.id_b
WHERE round(list_dot_product(ea.v, eb.v)
            / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) >= {NEAR_DUP_COS}
"""


def _knn_radius_sql() -> str:
    from baguetter_spark.gate import EMB_QUERY_IDS

    ids = ", ".join(str(i) for i in EMB_QUERY_IDS)
    return f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id IN ({ids}))
SELECT q.query_id, e.vec_id,
       round(list_dot_product(e.v, q.qv)
             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_r
FROM emb e CROSS JOIN q
WHERE e.vec_id <> q.query_id
  AND round(list_dot_product(e.v, q.qv)
            / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) >= {RADIUS_MIN_COS}
"""


STREAMING_INGEST_SQL = """
SELECT doc_id, md5(text) AS text_md5 FROM documents
"""


def _simhash_pairs_sql() -> str:
    from baguetter_spark.operators.dedup import SH_A, SH_B, SH_BANDS, SH_BITS

    return f"""
WITH {_SQL_DOCS},
vocab AS (SELECT term, CAST(row_number() OVER (ORDER BY term) - 1 AS BIGINT) AS term_id
          FROM dfreq),
tfv AS (
  SELECT tf.doc_id, tf.tf, ({SH_A} * (v.term_id + 1) + {SH_B}) % 4294967296 AS h
  FROM tf JOIN vocab v USING (term)
),
bits(j) AS (SELECT unnest(range(0, {SH_BITS}))),
contrib AS (
  SELECT doc_id, j,
         CASE WHEN CAST(floor(h / power(2.0, j)) AS BIGINT) % 2 = 1 THEN tf ELSE -tf END AS c
  FROM tfv CROSS JOIN bits
),
sums AS (SELECT doc_id, j, sum(c) AS s FROM contrib GROUP BY doc_id, j),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN power(2.0, j) ELSE 0 END) AS BIGINT) AS simhash
  FROM sums GROUP BY doc_id
),
bands AS (
  SELECT doc_id, simhash, b.band,
         (simhash >> (8 * b.band)) & 255 AS bval
  FROM fp CROSS JOIN (SELECT unnest(range(0, {SH_BANDS})) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS fp_a,
                  b.doc_id AS doc_b, b.simhash AS fp_b
  FROM bands a JOIN bands b USING (band, bval)
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
"""


def _ivf_pretrained_sql() -> str:
    """DuckDB mirror of ``ann_ivf_pretrained_query``: same centroid cells
    (cell = rank of centroid vec_id asc), same round(cosine,6) ranking with
    cell-id tie-breaks for assignment and probe, same exact-cosine top-k
    inside the probed cells (KNN_BRUTE_SQL float discipline)."""
    from baguetter_spark.gate import EMB_QUERY_IDS

    cent_ids = ", ".join(str(i) for i in IVF_PRETRAINED_CENTROID_IDS)
    qids = ", ".join(str(i) for i in EMB_QUERY_IDS)
    cos = (
        "round(list_dot_product({a}, {b})"
        " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    return f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
  FROM emb WHERE vec_id IN ({cent_ids})
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos.format(a='e.v', b='c.cv')} DESC, c.cell ASC) AS rn
    FROM emb e CROSS JOIN cents c) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id IN ({qids})),
qprobe AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {cos.format(a='q.qv', b='c.cv')} DESC, c.cell ASC) AS rn
    FROM q CROSS JOIN cents c) WHERE rn <= 3
),
pairs AS (
  SELECT p.query_id, a.vec_id,
         {cos.format(a='e.v', b='q.qv')} AS cos_r
  FROM qprobe p
  JOIN assign a ON a.cell = p.cell
  JOIN q ON q.query_id = p.query_id
  JOIN emb e ON e.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos_r,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, vec_id ASC) AS rank
  FROM pairs
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos_r FROM ranked WHERE rank <= 5
"""


def _remove_digest_sql() -> str:
    """Digest over the corpus minus docs whose id ends in REMOVE_SUFFIX —
    the rebuild side of remove_equals_rebuild."""
    from baguetter_spark.gate import postings_digest_sql

    return postings_digest_sql(
        f"WHERE CAST(doc_id AS VARCHAR) NOT LIKE '%{REMOVE_SUFFIX}'"
    )


def gate3_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "bm25_topk_pruned": pruned_topk_query,
        "bm25_topk_blockmax": multiblock_pruned_topk_query,
        "ann_ivf_cosine": ann_ivf_query,
        "ann_ivf_exhaustive": ann_ivf_exhaustive_query,
        "ann_ivf_pretrained": ann_ivf_pretrained_query,
        "merge_equals_rebuild": merge_equals_rebuild_query,
        "incremental_add_digest": incremental_add_digest_query,
        "remove_equals_rebuild": remove_equals_rebuild_query,
        "resumable_build_digest": resumable_build_digest_query,
        "repository_roundtrip_digest": repository_roundtrip_digest_query,
        "streaming_ingest_digest": streaming_ingest_digest_query,
        "dedup_simhash_pairs": simhash_pairs_query,
        "bm25_presorted_digest": presorted_build_digest_query,
        "knn_cosine_radius": knn_radius_query,
        "dedup_embedding_cosine": embedding_near_dup_query,
    }


def gate3_oracle_sql() -> dict[str, str]:
    return {
        "bm25_topk_pruned": bm25_topk_sql("lucene"),
        "bm25_topk_blockmax": bm25_topk_sql("lucene"),
        # invariant booleans computed in-Spark; oracle asserts constant TRUE
        "ann_ivf_cosine": ANN_IVF_INVARIANTS_SQL,
        # exhaustive probing degenerates to the flat scan -> brute oracle
        "ann_ivf_exhaustive": KNN_BRUTE_SQL,
        "ann_ivf_pretrained": _ivf_pretrained_sql(),
        "merge_equals_rebuild": POSTINGS_DIGEST_SQL,
        "incremental_add_digest": POSTINGS_DIGEST_SQL,
        "remove_equals_rebuild": _remove_digest_sql(),
        "resumable_build_digest": POSTINGS_DIGEST_SQL,
        "repository_roundtrip_digest": POSTINGS_DIGEST_SQL,
        "streaming_ingest_digest": STREAMING_INGEST_SQL,
        "dedup_simhash_pairs": _simhash_pairs_sql(),
        "bm25_presorted_digest": POSTINGS_DIGEST_SQL,
        "knn_cosine_radius": _knn_radius_sql(),
        "dedup_embedding_cosine": _embedding_near_dup_sql(),
    }
