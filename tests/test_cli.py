"""CLI smoke tests: build-index / search / evaluate subcommands end-to-end
over tiny parquet fixtures (SURVEY §7.2; reference cli.py surface)."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from baguetter_spark.cli import main
from baguetter_spark.fixtures import gen_transcripts


@pytest.fixture(scope="module")
def paths(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("cli")
    tpath = str(base / "transcripts")
    spark.createDataFrame(gen_transcripts(120, 20, seed=41, vocab_size=80)).write.mode(
        "overwrite"
    ).parquet(tpath)
    qpath = str(base / "queries")
    spark.createDataFrame(
        pd.DataFrame({"query_id": ["q0", "q1"], "text": ["term00001 the", "term00002"]})
    ).write.mode("overwrite").parquet(qpath)
    return base, tpath, qpath


def test_cli_build_and_search(spark, paths, capsys):
    base, tpath, qpath = paths
    idx_dir = str(base / "index")
    rc = main(
        [
            "build-index", "--input", tpath, "--output", idx_dir,
            "--stemmer", "none", "--stopwords", "none",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] == 120
    assert os.path.exists(os.path.join(idx_dir, "_manifest.json"))

    res_dir = str(base / "results")
    rc = main(
        ["search", "--index", idx_dir, "--queries", qpath, "--top-k", "5",
         "--output", res_dir]
    )
    assert rc == 0
    rows = spark.read.parquet(res_dir).collect()
    assert rows and {r["query_id"] for r in rows} <= {"q0", "q1"}
    capsys.readouterr()  # drain the {"output": ...} line

    # inline query to stdout
    rc = main(["search", "--index", idx_dir, "--query", "term00001", "--top-k", "3"])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert lines and all("doc_id" in l for l in lines)

    # the same query through the MaxScore kernel returns the same docs
    rc = main(
        ["search", "--index", idx_dir, "--query", "term00001", "--top-k", "3",
         "--pruned"]
    )
    assert rc == 0
    pruned = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert [l["doc_id"] for l in pruned] == [l["doc_id"] for l in lines]

    # --pruned is a plain flag: the retired "blockmax" value is an argparse error
    with pytest.raises(SystemExit) as exc:
        main(["search", "--index", idx_dir, "--query", "term00001", "--pruned",
              "blockmax"])
    assert exc.value.code == 2
    capsys.readouterr()


def test_cli_build_resumable(spark, paths, capsys):
    base, tpath, _ = paths
    idx_dir = str(base / "index_resumable")
    for _ in range(2):  # second run must resume from SUCCESS manifests
        rc = main(
            ["build-index", "--input", tpath, "--output", idx_dir, "--resumable",
             "--stemmer", "none", "--stopwords", "none"]
        )
        assert rc == 0
    manifest = json.load(open(os.path.join(idx_dir, "_manifest.json")))
    assert manifest["stages_executed"] == []  # everything skipped on rerun
    capsys.readouterr()


def test_cli_evaluate(spark, paths, capsys):
    base, _, _ = paths
    ds_dir = base / "datasets" / "tiny"
    corpus = pd.DataFrame(
        {"doc_id": ["d0", "d1", "d2"],
         "text": ["alpha beta gamma", "beta gamma delta", "delta epsilon zeta"]}
    )
    queries = pd.DataFrame({"query_id": ["q0"], "text": ["beta gamma"]})
    qrels = pd.DataFrame(
        {"query_id": ["q0", "q0"], "doc_id": ["d0", "d1"], "relevance": [1, 2]}
    )
    spark.createDataFrame(corpus).write.mode("overwrite").parquet(str(ds_dir / "corpus.parquet"))
    spark.createDataFrame(queries).write.mode("overwrite").parquet(str(ds_dir / "queries.parquet"))
    spark.createDataFrame(qrels).write.mode("overwrite").parquet(str(ds_dir / "qrels.parquet"))

    out_dir = str(base / "eval_out")
    rc = main(
        ["evaluate", "--datasets-dir", str(base / "datasets"), "--datasets", "tiny",
         "--retrievers", "bm25", "bmx", "--output", out_dir]
    )
    assert rc == 0
    report = json.load(open(os.path.join(out_dir, "tiny", "report.json")))
    assert set(report) == {"bm25", "bmx"}
    for metrics_by_name in report.values():
        assert any(k.startswith("ndcg@") for k in metrics_by_name)
    capsys.readouterr()
