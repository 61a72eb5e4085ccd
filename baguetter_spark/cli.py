"""spark-submit entry points: build-index / search / evaluate.

The reference ships a typer CLI (`baguetter/cli.py:1-120`) whose commands
evaluate retrievers over HF datasets; this is the cluster-shaped
counterpart (SURVEY §7.2): argparse (typer isn't in the sandbox), parquet
paths in/out, and a SparkSession that inherits spark-submit's master/conf.

    python scripts/make_pyfiles_zip.py dist/baguetter_spark.zip
    spark-submit --py-files dist/baguetter_spark.zip baguetter_spark/cli.py \\
        build-index --input s3://.../transcripts --output s3://.../index \\
        --resumable

(spark-submit has no ``-m``: the app file is this module submitted by
path; the zip provides the package to the driver AND the executors'
UDF unpickling.  Verified end-to-end from a clean cwd — build-index +
search produce correct results with imports resolved from the zip only.)

Subcommands:
- ``build-index``: transcripts parquet -> saved index.  ``--resumable``
  runs the build's stages with a parquet checkpoint each
  (io.build_index_resumable: a re-run skips finished stages, and the
  checkpoints ARE the saved index); otherwise the in-session build runs,
  with ``--assume-sorted`` taking the shuffle-free presorted path for
  key-sorted tables, and the index is saved;
- ``search``: saved index + queries parquet (query_id, text) -> results
  parquet (query_id, rank, doc_id, score);
- ``evaluate``: datasets base dir (corpus/queries/qrels parquet) ->
  report.json/timings.json per dataset (evaluation.evaluate_retrievers).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def _spark(app: str) -> SparkSession:
    builder = SparkSession.builder.appName(app)
    if not SparkSession.getActiveSession():
        builder = builder.config(
            "spark.sql.execution.arrow.pyspark.enabled", "true"
        )
    return builder.getOrCreate()


def _config_from_args(args: argparse.Namespace):
    from baguetter_spark.config import SparseIndexConfig, TextPreprocessorConfig

    pre = TextPreprocessorConfig(
        tokenizer=args.tokenizer,
        stemmer=None if args.stemmer in (None, "none") else args.stemmer,
        stopwords=None if args.stopwords in (None, "none") else args.stopwords,
    )
    return SparseIndexConfig(
        method=args.method,
        idf_method=args.idf_method or args.method,
        k1=args.k1,
        b=args.b,
        delta=args.delta,
        dtype=args.dtype,
        preprocessor=pre,
    )


def cmd_build_index(args: argparse.Namespace) -> int:
    from baguetter_spark.io import build_index_resumable, save_index
    from baguetter_spark.operators.indexer import build_index

    spark = _spark("baguetter-build-index")
    cfg = _config_from_args(args)
    transcripts = spark.read.parquet(args.input)
    if args.resumable:
        index = build_index_resumable(
            spark, transcripts, cfg, args.output, input_id=args.input
        )
        # staged tables already live in args.output with a SUCCESS manifest
    else:
        index = build_index(
            spark, transcripts, cfg, assume_sorted=args.assume_sorted
        )
        save_index(index, args.output)
    print(
        json.dumps(
            {
                "n_docs": index.n_docs,
                "avg_doc_len": index.avg_doc_len,
                "total_postings": index.total_postings,
                "output": args.output,
            }
        )
    )
    return 0


def cmd_search(args: argparse.Namespace) -> int:
    from baguetter_spark.io import load_index
    from baguetter_spark.operators.search import score_queries

    spark = _spark("baguetter-search")
    index = load_index(spark, args.index)
    if not args.queries and not args.query:
        msg = "provide --queries <parquet> or at least one --query <text>"
        raise SystemExit(msg)
    if args.queries:
        queries = spark.read.parquet(args.queries)
    else:
        import pandas as pd

        queries = spark.createDataFrame(
            pd.DataFrame(
                {
                    "query_id": [f"q{i}" for i in range(len(args.query))],
                    "text": list(args.query),
                }
            )
        )
    res = score_queries(
        index,
        queries,
        top_k=args.top_k,
        parity=False,
        pruned={None: False, "true": True, "blockmax": "blockmax"}[args.pruned],
        empty_query=args.empty_query,
    )
    if args.output:
        res.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"output": args.output}))
    else:
        for r in res.orderBy("query_id", "rank").collect():
            print(
                json.dumps(
                    {
                        "query_id": r["query_id"],
                        "rank": r["rank"],
                        "doc_id": r["doc_id"],
                        "score": float(r["score"]),
                    }
                )
            )
    return 0


def cmd_evaluate(args: argparse.Namespace) -> int:
    from baguetter_spark.config import SparseIndexConfig, TextPreprocessorConfig
    from baguetter_spark.engine import BM25SparkIndex, BMXSparkIndex
    from baguetter_spark.evaluation import (
        SparkDataset,
        create_metrics,
        evaluate_retrievers,
    )

    spark = _spark("baguetter-evaluate")
    factories = {}
    cfg = SparseIndexConfig(preprocessor=TextPreprocessorConfig())
    valid = {"bm25": BM25SparkIndex, "bmx": BMXSparkIndex}
    for m in args.retrievers:
        if m not in valid:
            msg = f"invalid retriever {m!r}; choose from {sorted(valid)}"
            raise SystemExit(msg)
        factories[m] = (lambda klass: lambda: klass(spark, cfg))(valid[m])
    datasets = [
        SparkDataset.from_parquet(spark, name, f"{args.datasets_dir}/{name}")
        for name in args.datasets
    ]
    metrics = create_metrics(args.metric_names, args.metric_k_values)
    results = evaluate_retrievers(
        datasets, factories, metrics=metrics, top_k=args.top_k
    )
    results.save(args.output)
    print(json.dumps({"output": args.output, "datasets": args.datasets}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="baguetter-spark")
    sub = p.add_subparsers(dest="command", required=True)

    b = sub.add_parser("build-index", help="build + save a BM25 index")
    b.add_argument("--input", required=True, help="transcripts parquet path")
    b.add_argument("--output", required=True, help="index output dir")
    b.add_argument("--method", default="lucene")
    b.add_argument("--idf-method", dest="idf_method", default=None)
    b.add_argument("--k1", type=float, default=1.2)
    b.add_argument("--b", type=float, default=0.75)
    b.add_argument("--delta", type=float, default=0.5)
    b.add_argument("--dtype", default="float32", choices=["float32", "float64"])
    b.add_argument("--tokenizer", default="whitespace")
    b.add_argument("--stemmer", default="english")
    b.add_argument("--stopwords", default="english")
    b.add_argument(
        "--resumable",
        action="store_true",
        help="checkpoint-resumable staged build (re-runs skip SUCCESS stages)",
    )
    b.add_argument(
        "--assume-sorted",
        action="store_true",
        help="input is partition-ordered by (conv_id, turn_idx): verify and "
        "skip the doc-id shuffle (falls back automatically)",
    )
    b.set_defaults(fn=cmd_build_index)

    s = sub.add_parser("search", help="search a saved index")
    s.add_argument("--index", required=True, help="saved index dir")
    s.add_argument("--queries", help="queries parquet (query_id, text)")
    s.add_argument(
        "--query", action="append", default=[], help="inline query text (repeatable)"
    )
    s.add_argument("--top-k", dest="top_k", type=int, default=10)
    s.add_argument(
        "--pruned", nargs="?", const="true", default=None,
        choices=["true", "blockmax"],
        help="rank-safe pruning: bare flag = per-block MaxScore; "
        "'blockmax' additionally θ-skips whole doc-range blocks",
    )
    s.add_argument(
        "--empty-query", dest="empty_query", default="empty",
        choices=["empty", "reference"],
    )
    s.add_argument("--output", help="results parquet path (default: stdout JSONL)")
    s.set_defaults(fn=cmd_search)

    e = sub.add_parser("evaluate", help="evaluate retrievers on datasets")
    e.add_argument(
        "--datasets-dir", dest="datasets_dir", required=True,
        help="base dir: <dir>/<name>/{corpus,queries,qrels}.parquet",
    )
    e.add_argument("--datasets", nargs="+", required=True)
    e.add_argument(
        "--retrievers", nargs="+", default=["bm25"], help="bm25 and/or bmx"
    )
    e.add_argument("--metric-names", nargs="+", default=["ndcg", "precision", "mrr"])
    e.add_argument("--metric-k-values", nargs="+", type=int, default=[1, 5, 10])
    e.add_argument("--top-k", dest="top_k", type=int, default=100)
    e.add_argument("--output", required=True, help="results dir")
    e.set_defaults(fn=cmd_evaluate)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
