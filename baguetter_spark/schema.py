"""Table schemas: input transcripts + index-segment tables.

The input table shape comes verbatim from BASELINE.json ``input_hint``:
``(conv_id:string, turn_idx:int, role:string, text:string, tool:string,
ts:timestamp)``.  Document identity follows FIXTURES.md: ``doc_id =
conv_id || ':' || turn_idx`` and ``doc_idx`` = rank of ``(conv_id,
turn_idx)`` — mirroring the reference's insertion-order ``key_mapping =
dict(enumerate(keys))`` (`baguetter/indices/sparse/base.py:251`).
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# doc_map: one row per document (stable order -> dense doc_idx)
DOC_MAP_SCHEMA = T.StructType(
    [
        T.StructField("doc_idx", T.LongType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("doc_len", T.IntegerType(), False),
    ]
)

# vocab: term id = rank in globally sorted distinct terms (reference
# scoring.py:298-307); df + idf materialized at build time.
VOCAB_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("idf", T.FloatType(), False),
        T.StructField("nonoccurrence", T.FloatType(), True),
    ]
)

# postings: one row per (term_id, block_id) — block_id = doc_idx // block_doc_range.
# Bounded row size + bounded shuffle groups at any scale (hot terms produce
# many block rows instead of one unbounded row — this is the skew defense).
# Arrays are docID-ascending within the row; doc_ids are delta+varint
# compressed; impacts are raw little-endian float32 bytes; block_max (the
# block's max impact) is the upper bound the pruned search paths read.
POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.LongType(), False),
        T.StructField("block_id", T.LongType(), False),
        T.StructField("n_postings", T.IntegerType(), False),
        T.StructField("doc_ids_delta", T.BinaryType(), False),
        T.StructField("impacts_f32", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),  # varint tf values (for merge/rebuild)
        T.StructField("block_max", T.FloatType(), False),
    ]
)

RESULTS_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("score", T.FloatType(), False),
    ]
)
