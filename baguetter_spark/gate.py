"""Driver correctness-gate queries: Spark engine vs DuckDB oracle SQL.

Each entry in ``QUERIES``/``ORACLE_SQL`` exercises one operator family from
SURVEY.md §2 over the driver's ``documents`` parquet table, producing
column-name-aligned results the driver hash-compares at sf=0.01.

Determinism rules shared by both sides:
- tokenization: ``lower(text)`` split on whitespace runs, empties dropped —
  the SQL-expressible subset of the pipeline (the full pipeline incl. the
  lookahead acronym regex is NOT RE2-expressible; it is differentially
  tested against the vendored oracle in tests/ instead);
- the gate index runs with ``dtype='float64'`` (a reference config option,
  sparse/config.py:21) so engine impacts match DuckDB's double math to
  ~1e-15; scores are rounded to 4 decimals and ranks computed ON the rounded
  score with doc_id as the total tie-break;
- doc identity: numeric ``doc_id`` (documents.doc_id); internally
  conv_id = lpad(doc_id, 12, '0') so lexicographic (conv_id, turn_idx)
  order == numeric order.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from baguetter_spark.config import SparseIndexConfig, TextPreprocessorConfig
from baguetter_spark.merge import flat_postings
from baguetter_spark.operators.indexer import BM25Index, build_index
from baguetter_spark.operators.search import score_queries

# --- shared fixtures -------------------------------------------------------

GATE_PREPROCESSOR = TextPreprocessorConfig(
    stemmer=None,
    stopwords=None,
    do_ampersand_normalization=False,
    do_special_chars_normalization=False,
    do_acronyms_normalization=False,
    do_punctuation_removal=False,
)

GATE_QUERIES: list[tuple[str, str]] = [
    ("q1", "sort merge join"),
    ("q2", "fast window scan hash"),
    ("q3", "the dup data"),
    ("q4", "group group filter"),
    ("q5", "stream batch value customer line"),
    ("q6", "slow row spark query zzoovtoken"),
]

WEIGHTED_PARTS: list[tuple[int, str, float]] = [
    (0, "sort merge join", 2.0),
    (1, "fast window dup", 0.5),
]

TOP_K = 10
_ALL = 1 << 30  # "no limit" for internal scoring before rounded re-rank

# --- engine-side helpers ---------------------------------------------------

_INDEX_CACHE: dict[tuple, BM25Index] = {}


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def documents_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_documents(spark, sf_dir).select(
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("text"),
    )


def gate_index(spark: SparkSession, sf_dir: str, method: str = "lucene") -> BM25Index:
    key = (sf_dir, method, spark.sparkContext.applicationId)
    if key not in _INDEX_CACHE:
        cfg = SparseIndexConfig(
            method=method,
            idf_method=method,
            dtype="float64",
            preprocessor=GATE_PREPROCESSOR,
        )
        _INDEX_CACHE[key] = build_index(
            spark, documents_as_transcripts(spark, sf_dir), cfg
        )
    return _INDEX_CACHE[key]


def _numeric_doc_id(col: str = "doc_id"):
    return F.split(F.col(col), ":").getItem(0).cast("long").alias("doc_id")


def _gate_query_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        pd.DataFrame(
            {"query_id": [q for q, _ in GATE_QUERIES], "text": [t for _, t in GATE_QUERIES]}
        )
    )


def _rounded_topk(results: DataFrame, k: int = TOP_K) -> DataFrame:
    """Re-rank on the 4-dp-rounded double score (tie-break doc_id asc) —
    identical ranking rule on the SQL side avoids float-noise rank flips."""
    r = results.select(
        "query_id", _numeric_doc_id(), F.round(F.col("score"), 4).alias("score_r")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    return (
        r.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score_r")
    )


def bm25_topk_query(method: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        index = gate_index(spark, sf_dir, method)
        res = score_queries(index, _gate_query_df(spark), top_k=_ALL, parity=False)
        return _rounded_topk(res)

    return run


def bm25_weighted_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    index = gate_index(spark, sf_dir, "lucene")
    qdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": ["qw"] * len(WEIGHTED_PARTS),
                "part": [p for p, _, _ in WEIGHTED_PARTS],
                "text": [t for _, t, _ in WEIGHTED_PARTS],
                "weight": [w for _, _, w in WEIGHTED_PARTS],
            }
        )
    )
    res = score_queries(index, qdf, top_k=_ALL, parity=False)
    return _rounded_topk(res)


def bm25_normalized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    index = gate_index(spark, sf_dir, "lucene")
    res = score_queries(
        index, _gate_query_df(spark), top_k=_ALL, parity=False, normalize=True
    )
    return _rounded_topk(res)


def doc_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    index = gate_index(spark, sf_dir, "lucene")
    return index.doc_map.select(
        _numeric_doc_id(), F.col("doc_len").cast("long").alias("n_tokens")
    )


def vocab_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    index = gate_index(spark, sf_dir, "lucene")
    return index.vocab.select("term_id", "term", F.col("df").cast("long").alias("df"))


def term_idf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    index = gate_index(spark, sf_dir, "lucene")
    return index.vocab.select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.round(F.col("idf"), 6).alias("idf_r"),
    )


def doc_tf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc term frequencies read back OUT OF the posting blocks — this
    round-trips the delta+varint/f64 codec and block assembly (B7+B11)."""
    index = gate_index(spark, sf_dir, "lucene")

    return (
        flat_postings(index.postings).join(index.vocab.select("term_id", "term"), "term_id")
        .join(index.doc_map.select("doc_idx", "doc_id"), "doc_idx")
        .select(_numeric_doc_id(), "term", F.col("tf"))
    )


def postings_digest_of(index: BM25Index) -> DataFrame:
    """Per-term posting-list digest of ANY index: df, docID range, head of
    the docID-sorted list — checks CSC ordering invariants (B11) through the
    codec.  Shared by the direct, merge and resume gate rows."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from baguetter_spark.compress import decode_doc_ids

        for pdf in batches:
            rows = []
            for tid, bid, n, ids_buf in zip(
                pdf["term_id"], pdf["block_id"], pdf["n_postings"], pdf["doc_ids_delta"]
            ):
                ids = decode_doc_ids(ids_buf, n)
                rows.append((tid, bid, n, int(ids.min()), int(ids.max()),
                             ",".join(str(i) for i in ids[:8])))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["term_id", "block_id", "n", "min_d", "max_d", "head"],
                )

    blocks = index.postings.mapInPandas(
        decode,
        schema="term_id long, block_id long, n long, min_d long, max_d long, head string",
    )
    # gate corpora fit in one block per term; assert that invariant holds here
    agg = blocks.groupBy("term_id").agg(
        F.sum("n").alias("df2"),
        F.min("min_d").alias("min_doc"),
        F.max("max_d").alias("max_doc"),
        F.min_by("head", "block_id").alias("head_docs"),
    )
    return agg.join(index.vocab.select("term_id", "term"), "term_id").select(
        "term", F.col("df2").alias("df"), "min_doc", "max_doc", "head_docs"
    )


def postings_digest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return postings_digest_of(gate_index(spark, sf_dir, "lucene"))


# --- SQL side --------------------------------------------------------------

_SQL_DOCS = """
docs AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS toks
  FROM documents
),
toks AS (SELECT doc_id, unnest(toks) AS term FROM docs),
dl AS (SELECT doc_id, len(toks) AS dlen FROM docs),
stats AS (SELECT count(*) AS n_docs, avg(dlen) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
"""


def _sql_values_queries() -> str:
    vals = ", ".join(f"('{q}', '{t}')" for q, t in GATE_QUERIES)
    return f"queries(query_id, qtext) AS (VALUES {vals})"


_IDF_SQL = {
    "lucene": "ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))",
    "robertson": "ln(greatest(1.0, (s.n_docs - d.df + 0.5) / (d.df + 0.5)))",
    "atire": "ln(CAST(s.n_docs AS DOUBLE) / d.df)",
    "bm25l": "ln((s.n_docs + 1.0) / (d.df + 0.5))",
    "bm25plus": "ln((s.n_docs + 1.0) / d.df)",
}

# tfc with k1=1.2, b=0.75, delta=0.5; norm = 1-b+b*dlen/avgdl
_TFC_SQL = {
    "lucene": "tf.tf / (1.2 * (0.25 + 0.75 * dl.dlen / s.avgdl) + tf.tf)",
    "robertson": "tf.tf / (1.2 * (0.25 + 0.75 * dl.dlen / s.avgdl) + tf.tf)",
    "atire": "(tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dlen / s.avgdl))",
    "bm25l": "(2.2 * (tf.tf / (0.25 + 0.75 * dl.dlen / s.avgdl) + 0.5)) / (1.2 + tf.tf / (0.25 + 0.75 * dl.dlen / s.avgdl) + 0.5)",
    "bm25plus": "(2.2 * tf.tf) / (1.2 * (0.25 + 0.75 * dl.dlen / s.avgdl) + tf.tf) + 0.5",
}

# non-occurrence tfc at tf=0, l_d=l_avg (norm=1): bm25l c=0 -> 1.1/1.7; bm25plus -> delta
_NONOCC_SQL = {
    "lucene": "0.0",
    "robertson": "0.0",
    "atire": "0.0",
    "bm25l": "(2.2 * 0.5) / (1.2 + 0.5)",
    "bm25plus": "0.5",
}


def bm25_topk_sql(method: str) -> str:
    idf, tfc, nonocc = _IDF_SQL[method], _TFC_SQL[method], _NONOCC_SQL[method]
    return f"""
WITH {_SQL_DOCS},
{_sql_values_queries()},
qtok AS (
  SELECT query_id,
         unnest(list_filter(regexp_split_to_array(lower(qtext), '\\s+'), t -> t <> '')) AS term
  FROM queries
),
qterm AS (SELECT query_id, term, count(*) AS mult FROM qtok GROUP BY query_id, term),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.mult * (({idf}) * ({tfc}) - ({idf}) * ({nonocc}))) AS score
  FROM qterm q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(score, 4) AS score_r,
         row_number() OVER (PARTITION BY query_id ORDER BY round(score, 4) DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score_r
FROM ranked WHERE rank <= {TOP_K}
"""


def bm25_weighted_sql() -> str:
    vals = ", ".join(f"({p}, '{t}', {w})" for p, t, w in WEIGHTED_PARTS)
    return f"""
WITH {_SQL_DOCS},
parts(part, qtext, w) AS (VALUES {vals}),
qtok AS (
  SELECT 'qw' AS query_id, w,
         unnest(list_filter(regexp_split_to_array(lower(qtext), '\\s+'), t -> t <> '')) AS term
  FROM parts
),
qterm AS (SELECT query_id, term, sum(w) AS wsum FROM qtok GROUP BY query_id, term),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.wsum * ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                    * (tf.tf / (1.2 * (0.25 + 0.75 * dl.dlen / s.avgdl) + tf.tf))) AS score
  FROM qterm q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(score, 4) AS score_r,
         row_number() OVER (PARTITION BY query_id ORDER BY round(score, 4) DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score_r
FROM ranked WHERE rank <= {TOP_K}
"""


def bm25_normalized_sql() -> str:
    return f"""
WITH {_SQL_DOCS},
{_sql_values_queries()},
qtok AS (
  SELECT query_id,
         unnest(list_filter(regexp_split_to_array(lower(qtext), '\\s+'), t -> t <> '')) AS term
  FROM queries
),
qterm AS (SELECT query_id, term, count(*) AS mult FROM qtok GROUP BY query_id, term),
ntok AS (
  SELECT query_id, sum(mult) AS n_tokens
  FROM qterm WHERE term IN (SELECT term FROM dfreq) GROUP BY query_id
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.mult * ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                    * (tf.tf / (1.2 * (0.25 + 0.75 * dl.dlen / s.avgdl) + tf.tf))) AS score
  FROM qterm q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
),
normed AS (
  SELECT s.query_id, s.doc_id,
         s.score / (n.n_tokens * ln(1 + (n.n_tokens - 0.5) / 1.5)) AS score
  FROM scored s JOIN ntok n USING (query_id)
),
ranked AS (
  SELECT query_id, doc_id, round(score, 4) AS score_r,
         row_number() OVER (PARTITION BY query_id ORDER BY round(score, 4) DESC, doc_id ASC) AS rank
  FROM normed
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score_r
FROM ranked WHERE rank <= {TOP_K}
"""


DOC_STATS_SQL = f"""
WITH {_SQL_DOCS}
SELECT doc_id, CAST(dlen AS BIGINT) AS n_tokens FROM dl
"""

VOCAB_SQL = f"""
WITH {_SQL_DOCS}
SELECT CAST(row_number() OVER (ORDER BY term) - 1 AS BIGINT) AS term_id,
       term, CAST(df AS BIGINT) AS df
FROM dfreq
"""

TERM_IDF_SQL = f"""
WITH {_SQL_DOCS}
SELECT term, CAST(df AS BIGINT) AS df,
       round(ln(1 + (s.n_docs - df + 0.5) / (df + 0.5)), 6) AS idf_r
FROM dfreq CROSS JOIN stats s
"""

DOC_TF_SQL = f"""
WITH {_SQL_DOCS}
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf FROM tf
"""

def postings_digest_sql(doc_where: str = "") -> str:
    """Postings-digest oracle, optionally over a filtered documents table
    (``doc_where`` = full WHERE clause) — the filtered variant backs the
    remove_equals_rebuild row: doc_idx re-ranks over the kept docs exactly
    as remove_docs compacts survivor ranks."""
    if doc_where:
        # textual splice: valid only while _SQL_DOCS scans `documents`
        # exactly once and carries no WHERE of its own — assert both so a
        # future edit to the CTE fails loudly instead of computing a digest
        # over the wrong doc set
        assert _SQL_DOCS.count("FROM documents") == 1, "_SQL_DOCS changed shape"
        assert "WHERE" not in _SQL_DOCS.upper(), "_SQL_DOCS already filters"
        docs_cte = _SQL_DOCS.replace("FROM documents", f"FROM documents {doc_where}")
    else:
        docs_cte = _SQL_DOCS
    return f"""
WITH {docs_cte},
didx AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS doc_idx
         FROM documents {doc_where}),
plist AS (
  SELECT tf.term, didx.doc_idx
  FROM tf JOIN didx USING (doc_id)
)
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       min(doc_idx) AS min_doc,
       max(doc_idx) AS max_doc,
       array_to_string(list_slice(list(doc_idx ORDER BY doc_idx), 1, 8), ',') AS head_docs
FROM plist GROUP BY term
"""


POSTINGS_DIGEST_SQL = postings_digest_sql()


# --- training-data operators: engine wrappers --------------------------------

EMB_QUERY_IDS = [0, 1, 2, 3, 4]
EMB_DIM = 64


def _docs_with_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_documents(spark, sf_dir).select("doc_id", "text")


def quality_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from baguetter_spark.operators.textstats import quality_score

    q = quality_score(_docs_with_id(spark, sf_dir))
    return q.select(
        "doc_id",
        "n_tokens",
        "stopword_ratio",
        F.col("too_short").cast("int").alias("too_short"),
        F.col("bad_word_len").cast("int").alias("bad_word_len"),
        F.col("low_stopword").cast("int").alias("low_stopword"),
        "quality",
    )


def lang_id_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from baguetter_spark.operators.textstats import language_id

    return language_id(_docs_with_id(spark, sf_dir))


def token_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from baguetter_spark.operators.textstats import token_stats

    return token_stats(_docs_with_id(spark, sf_dir))


def fingerprint_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from baguetter_spark.operators.textstats import fingerprint

    index = gate_index(spark, sf_dir, "lucene")
    return fingerprint(_docs_with_id(spark, sf_dir), index.vocab)


def exact_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from baguetter_spark.operators.dedup import exact_duplicates

    d = exact_duplicates(_docs_with_id(spark, sf_dir))
    return d.select(
        "doc_id",
        "text_md5",
        "group_size",
        F.col("is_canonical").cast("int").alias("is_canonical"),
    )


def ngram_jaccard_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from baguetter_spark.operators.dedup import ngram_jaccard_pairs

    docs = _docs_with_id(spark, sf_dir).where(F.col("doc_id") < 120)
    return ngram_jaccard_pairs(docs, n=3, threshold=0.02)


def minhash_lsh_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from baguetter_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs_with_id(spark, sf_dir).where(F.col("doc_id") < 80)
    index = gate_index(spark, sf_dir, "lucene")
    return minhash_lsh_pairs(docs, index.vocab, threshold=0.5)


def simhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from baguetter_spark.operators.dedup import simhash

    index = gate_index(spark, sf_dir, "lucene")
    return simhash(_docs_with_id(spark, sf_dir), index.vocab)


def _emb_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def knn_brute_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from baguetter_spark.operators.similarity import cosine_topk

    return cosine_topk(_emb_double(spark, sf_dir), EMB_QUERY_IDS, k=5)


def ann_lsh_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from baguetter_spark.operators.similarity import ann_lsh_topk

    return ann_lsh_topk(_emb_double(spark, sf_dir), EMB_QUERY_IDS, k=5, dim=EMB_DIM)


def fusion_query(algorithm: str) -> Callable[[SparkSession, str], DataFrame]:
    """Fuse two BM25 runs (lucene + atire) with the given algorithm; output
    rank on 4-dp-rounded fused score, doc_id tie-break."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from baguetter_spark.operators.fuser import fuse

        runs = []
        for m in ("lucene", "atire"):
            idx = gate_index(spark, sf_dir, m)
            res = score_queries(idx, _gate_query_df(spark), top_k=_ALL, parity=False)
            # rounded re-rank + rounded run scores: keeps the engine and the
            # double-math SQL oracle rank/normalization-identical
            topped = _rounded_topk(res, k=20)
            runs.append(
                topped.select(
                    "query_id",
                    F.lit(m).alias("run"),
                    "doc_id",
                    F.col("score_r").alias("score"),
                )
            )
        runs_df = runs[0].unionByName(runs[1])
        weights = {"lucene": 0.7, "atire": 1.3} if "weighted" in algorithm else None
        fused = fuse(runs_df, algorithm, weights=weights, top_k=TOP_K)
        w = Window.partitionBy("query_id").orderBy(
            F.col("score_r").desc(), F.col("doc_id").asc()
        )
        return (
            fused.select("query_id", "doc_id", F.round("score", 4).alias("score_r"))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .select("query_id", "rank", "doc_id", "score_r")
        )

    return run


def setops_query(op: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from baguetter_spark.operators import setops

        index = gate_index(spark, sf_dir, "lucene")
        fn = {
            "union": setops.posting_union,
            "intersect": setops.posting_intersect,
            "diff": setops.posting_diff,
        }[op]
        return fn(index, "dup", "spark").select(F.col("doc_idx").cast("long").alias("doc_idx"))

    return run


# --- training-data operators: SQL oracles ------------------------------------

from baguetter_spark.functions.stopwords import ENGLISH_STOPWORDS as _SW

_STOPWORDS_SQL_LIST = (
    "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in sorted(_SW)) + "]"
)

QUALITY_SQL = f"""
WITH {_SQL_DOCS},
base AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(list_filter(toks, t -> list_contains({_STOPWORDS_SQL_LIST}, t)))
           / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio,
         list_sum(list_transform(toks, t -> length(t)))
           / CAST(greatest(len(toks), 1) AS DOUBLE) AS mean_tok_len
  FROM docs
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(stopword_ratio, 4) AS stopword_ratio,
       CAST(n_tokens < 5 AS INT) AS too_short,
       CAST(mean_tok_len < 2 OR mean_tok_len > 12 AS INT) AS bad_word_len,
       CAST(stopword_ratio < 0.03 AS INT) AS low_stopword,
       round(
         CAST(NOT (n_tokens < 5) AS INT) * CAST(NOT (n_tokens > 5000) AS INT)
         * CAST(NOT (mean_tok_len < 2 OR mean_tok_len > 12) AS INT)
         * least(1.0, n_tokens / 50.0), 4) AS quality
FROM base
"""


def _lang_sql() -> str:
    from baguetter_spark.operators.textstats import LANG_MARKERS

    hit_cols = []
    for lg in sorted(LANG_MARKERS):
        lst = "[" + ", ".join(f"'{w}'" for w in LANG_MARKERS[lg]) + "]"
        hit_cols.append(
            f"CAST(len(list_filter(toks, t -> list_contains({lst}, t))) AS BIGINT) AS hits_{lg}"
        )
    langs = sorted(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"hits_{lg}" for lg in langs) + ")"
    case = "CASE WHEN " + best + " <= 0 THEN 'und' " + " ".join(
        f"WHEN hits_{lg} = {best} THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""
WITH {_SQL_DOCS},
hits AS (SELECT doc_id, {', '.join(hit_cols)} FROM docs)
SELECT doc_id, {case} AS lang_pred, {', '.join(f'hits_{lg}' for lg in langs)}
FROM hits
"""


TOKEN_STATS_SQL = f"""
WITH {_SQL_DOCS}
SELECT d.doc_id,
       CAST(len(d.toks) AS BIGINT) AS n_tokens,
       CAST(length(doc.text) AS BIGINT) AS n_chars,
       round(list_sum(list_transform(d.toks, t -> length(t)))
             / CAST(greatest(len(d.toks), 1) AS DOUBLE), 4) AS avg_token_len
FROM docs d JOIN documents doc USING (doc_id)
"""

FINGERPRINT_SQL = f"""
WITH {_SQL_DOCS},
vocab AS (SELECT term, CAST(row_number() OVER (ORDER BY term) - 1 AS BIGINT) AS term_id
          FROM dfreq),
posed AS (
  SELECT doc_id, unnest(toks) AS term,
         generate_subscripts(toks, 1) - 1 AS pos
  FROM docs
),
contrib AS (
  SELECT p.doc_id,
         ((v.term_id + 1) * ((1000003 * p.pos + 7) % 2147483647)) % 2147483647 AS c
  FROM posed p JOIN vocab v USING (term)
)
SELECT doc_id, CAST(sum(c) % 2147483647 AS BIGINT) AS fingerprint
FROM contrib GROUP BY doc_id
"""

EXACT_DEDUP_SQL = """
SELECT doc_id,
       md5(text) AS text_md5,
       CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS group_size,
       CAST(doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS is_canonical
FROM documents
"""

NGRAM_JACCARD_SQL = """
WITH docs AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS toks
  FROM documents WHERE doc_id < 120
),
sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) - 1),
                                 i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
    FROM docs WHERE len(toks) >= 3
  )
),
sdf AS (SELECT sh, count(*) AS c FROM sh GROUP BY sh),
cand_src AS (SELECT s.doc_id, s.sh FROM sh s JOIN sdf USING (sh) WHERE sdf.c <= 1000),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM cand_src a JOIN cand_src b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 4) >= 0.02
"""


def _minhash_sql() -> str:
    from baguetter_spark.operators.dedup import MH_A, MH_B, MH_P, N_HASHES

    params = ", ".join(f"({i}, {MH_A[i]}, {MH_B[i]})" for i in range(N_HASHES))
    return f"""
WITH docs AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS toks
  FROM documents WHERE doc_id < 80
),
alldocs AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS toks
  FROM documents
),
dfreq AS (
  SELECT term FROM (SELECT DISTINCT doc_id, unnest(toks) AS term FROM alldocs) GROUP BY term
),
vocab AS (SELECT term, CAST(row_number() OVER (ORDER BY term) - 1 AS BIGINT) AS term_id
          FROM dfreq),
ids AS (
  SELECT DISTINCT t.doc_id, v.term_id
  FROM (SELECT doc_id, unnest(toks) AS term FROM docs) t JOIN vocab v USING (term)
),
params(i, a, b) AS (VALUES {params}),
sig AS (
  SELECT doc_id, i, min((a * term_id + b) % {MH_P}) AS mh
  FROM ids CROSS JOIN params GROUP BY doc_id, i
),
band AS (
  SELECT doc_id, i // 4 AS band,
         array_to_string(list_sort(list(i || ':' || mh)), ',') AS band_key
  FROM sig GROUP BY doc_id, i // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band a JOIN band b USING (band, band_key)
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM ids GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN ids ia ON ia.doc_id = c.doc_a
  JOIN ids ib ON ib.doc_id = c.doc_b AND ib.term_id = ia.term_id
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       round(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 4) >= 0.5
"""


def _simhash_sql() -> str:
    from baguetter_spark.operators.dedup import SH_A, SH_B, SH_BITS

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
sums AS (SELECT doc_id, j, sum(c) AS s FROM contrib GROUP BY doc_id, j)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN power(2.0, j) ELSE 0 END) AS BIGINT) AS simhash
FROM sums GROUP BY doc_id
"""


KNN_BRUTE_SQL = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id IN ({', '.join(str(i) for i in EMB_QUERY_IDS)})),
pairs AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(e.v, q.qv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_r
  FROM emb e CROSS JOIN q WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos_r,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, vec_id ASC) AS rank
  FROM pairs
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos_r FROM ranked WHERE rank <= 5
"""


def _ann_lsh_sql() -> str:
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
q AS (SELECT vec_id AS query_id, band, bucket FROM bucket
      WHERE vec_id IN ({', '.join(str(i) for i in EMB_QUERY_IDS)})),
cand AS (
  SELECT DISTINCT q.query_id, b.vec_id
  FROM bucket b JOIN q USING (band, bucket) WHERE b.vec_id <> q.query_id
),
qv AS (SELECT vec_id AS query_id, v AS qv FROM emb
       WHERE vec_id IN ({', '.join(str(i) for i in EMB_QUERY_IDS)})),
pairs AS (
  SELECT c.query_id, c.vec_id,
         round(list_dot_product(e.v, q.qv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_r
  FROM cand c JOIN emb e ON e.vec_id = c.vec_id JOIN qv q ON q.query_id = c.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos_r,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, vec_id ASC) AS rank
  FROM pairs
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos_r FROM ranked WHERE rank <= 5
"""


_FUSION_COMBINE_SQL = {
    "reciprocal_rank": "sum(1.0 / (rank0 + nscore))",
    "weighted": "sum(w * nscore)",
    "weighted_reciprocal_rank": "sum(w / (rank0 + nscore))",
    "comb_sum": "sum(nscore)",
    "comb_mnz": "sum(nscore) * count(*)",
    "borda_count": "CAST(sum(n_run - rank0) AS DOUBLE)",
    "isr": "sum(1.0 / ((rank0 + 1) * (rank0 + 1)))",
    "median_rank": "median(rank0 + 1)",
    "z_score": None,  # handled with an extra CTE
}


def fusion_sql(algorithm: str) -> str:
    """Two BM25 runs (lucene k=20, atire k=20) fused per reference semantics."""
    run_ctes = []
    for m in ("lucene", "atire"):
        idf, tfc = _IDF_SQL[m], _TFC_SQL[m]
        run_ctes.append(
            f"""
scored_{m} AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.mult * ({idf}) * ({tfc})) AS score
  FROM qterm q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
),
run_{m} AS (
  SELECT query_id, doc_id, round(score, 4) AS score_r,
         row_number() OVER (PARTITION BY query_id ORDER BY round(score, 4) DESC, doc_id ASC) AS rank
  FROM scored_{m}
)"""
        )
    weights_case = (
        "CASE run WHEN 'lucene' THEN 0.7 WHEN 'atire' THEN 1.3 END"
        if "weighted" in algorithm
        else "1.0"
    )
    combine = _FUSION_COMBINE_SQL[algorithm]
    if algorithm == "z_score":
        fused_cte = """
zs AS (
  SELECT query_id, doc_id,
         (nscore - avg(nscore) OVER (PARTITION BY query_id, run))
           / stddev_pop(nscore) OVER (PARTITION BY query_id, run) AS z
  FROM prepared
),
fused AS (SELECT query_id, doc_id, sum(z) AS fscore FROM zs GROUP BY query_id, doc_id)"""
    else:
        fused_cte = f"""
fused AS (
  SELECT query_id, doc_id, {combine} AS fscore FROM prepared GROUP BY query_id, doc_id
)"""
    return f"""
WITH {_SQL_DOCS},
{_sql_values_queries()},
qtok AS (
  SELECT query_id,
         unnest(list_filter(regexp_split_to_array(lower(qtext), '\\s+'), t -> t <> '')) AS term
  FROM queries
),
qterm AS (SELECT query_id, term, count(*) AS mult FROM qtok GROUP BY query_id, term),
{', '.join(run_ctes)},
runs AS (
  SELECT 'lucene' AS run, query_id, doc_id, score_r AS score FROM run_lucene WHERE rank <= 20
  UNION ALL
  SELECT 'atire' AS run, query_id, doc_id, score_r AS score FROM run_atire WHERE rank <= 20
),
prepared AS (
  SELECT query_id, run, doc_id,
         row_number() OVER (PARTITION BY query_id, run ORDER BY score DESC, doc_id ASC) - 1 AS rank0,
         count(*) OVER (PARTITION BY query_id, run) AS n_run,
         (score - min(score) OVER (PARTITION BY query_id, run))
           / greatest(max(score) OVER (PARTITION BY query_id, run)
                      - min(score) OVER (PARTITION BY query_id, run), 1e-9) AS nscore,
         {weights_case} AS w
  FROM runs
),
{fused_cte},
normed AS (
  SELECT query_id, doc_id, fscore / greatest(2, 1e-9) AS score,
         row_number() OVER (PARTITION BY query_id ORDER BY fscore DESC, doc_id ASC) AS prelim
  FROM fused
),
final AS (
  SELECT query_id, doc_id, round(score, 4) AS score_r,
         row_number() OVER (PARTITION BY query_id ORDER BY round(score, 4) DESC, doc_id ASC) AS rank
  FROM normed WHERE prelim <= {TOP_K}
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score_r FROM final
"""


_SETOPS_SQL_BASE = """
WITH docs AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS toks
  FROM documents
),
didx AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS doc_idx
         FROM documents),
has_a AS (SELECT DISTINCT x.doc_id FROM (SELECT doc_id, unnest(toks) AS term FROM docs) x WHERE x.term = 'dup'),
has_b AS (SELECT DISTINCT x.doc_id FROM (SELECT doc_id, unnest(toks) AS term FROM docs) x WHERE x.term = 'spark')
"""

SETOPS_SQL = {
    "union": _SETOPS_SQL_BASE
    + """
SELECT doc_idx FROM didx WHERE doc_id IN (SELECT doc_id FROM has_a UNION SELECT doc_id FROM has_b)
""",
    "intersect": _SETOPS_SQL_BASE
    + """
SELECT doc_idx FROM didx WHERE doc_id IN (SELECT doc_id FROM has_a INTERSECT SELECT doc_id FROM has_b)
""",
    "diff": _SETOPS_SQL_BASE
    + """
SELECT doc_idx FROM didx WHERE doc_id IN (SELECT doc_id FROM has_a EXCEPT SELECT doc_id FROM has_b)
""",
}


# --- registry ---------------------------------------------------------------


def gate_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from baguetter_spark.operators.fuser import ALGORITHMS

    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "doc_token_stats": doc_stats_query,
        "vocab_sorted_rank": vocab_query,
        "term_idf_lucene": term_idf_query,
        "doc_term_tf": doc_tf_query,
        "postings_digest": postings_digest_query,
        "bm25_weighted_search": bm25_weighted_query,
        "bm25_normalized_scores": bm25_normalized_query,
        "text_quality_score": quality_query,
        "language_id_heuristic": lang_id_query,
        "token_stats_ext": token_stats_query,
        "doc_fingerprint": fingerprint_query,
        "dedup_exact": exact_dedup_query,
        "dedup_ngram_jaccard": ngram_jaccard_query,
        "dedup_minhash_lsh": minhash_lsh_query,
        "dedup_simhash": simhash_query,
        "knn_cosine_brute": knn_brute_query,
        "ann_lsh_cosine": ann_lsh_query,
    }
    for m in ("lucene", "robertson", "atire", "bm25l", "bm25plus"):
        q[f"bm25_topk_{m}"] = bm25_topk_query(m)
    for alg in ALGORITHMS:
        q[f"fuse_{alg}"] = fusion_query(alg)
    for op in ("union", "intersect", "diff"):
        q[f"postings_{op}"] = setops_query(op)
    from baguetter_spark.gate2 import gate2_queries
    from baguetter_spark.gate3 import gate3_queries
    from baguetter_spark.gate4 import gate4_queries

    from baguetter_spark.gate5 import gate5_queries

    q.update(gate2_queries())
    q.update(gate3_queries())
    q.update(gate4_queries())
    q.update(gate5_queries())
    return q


def gate_oracle_sql() -> dict[str, str]:
    from baguetter_spark.operators.fuser import ALGORITHMS

    s = {
        "doc_token_stats": DOC_STATS_SQL,
        "vocab_sorted_rank": VOCAB_SQL,
        "term_idf_lucene": TERM_IDF_SQL,
        "doc_term_tf": DOC_TF_SQL,
        "postings_digest": POSTINGS_DIGEST_SQL,
        "bm25_weighted_search": bm25_weighted_sql(),
        "bm25_normalized_scores": bm25_normalized_sql(),
        "text_quality_score": QUALITY_SQL,
        "language_id_heuristic": _lang_sql(),
        "token_stats_ext": TOKEN_STATS_SQL,
        "doc_fingerprint": FINGERPRINT_SQL,
        "dedup_exact": EXACT_DEDUP_SQL,
        "dedup_ngram_jaccard": NGRAM_JACCARD_SQL,
        "dedup_minhash_lsh": _minhash_sql(),
        "dedup_simhash": _simhash_sql(),
        "knn_cosine_brute": KNN_BRUTE_SQL,
        "ann_lsh_cosine": _ann_lsh_sql(),
    }
    for m in ("lucene", "robertson", "atire", "bm25l", "bm25plus"):
        s[f"bm25_topk_{m}"] = bm25_topk_sql(m)
    for alg in ALGORITHMS:
        s[f"fuse_{alg}"] = fusion_sql(alg)
    for op in ("union", "intersect", "diff"):
        s[f"postings_{op}"] = SETOPS_SQL[op]
    from baguetter_spark.gate2 import gate2_oracle_sql
    from baguetter_spark.gate3 import gate3_oracle_sql
    from baguetter_spark.gate4 import gate4_oracle_sql

    from baguetter_spark.gate5 import gate5_oracle_sql

    s.update(gate2_oracle_sql())
    s.update(gate3_oracle_sql())
    s.update(gate4_oracle_sql())
    s.update(gate5_oracle_sql())
    return s
