"""save/load roundtrip, checkpoint-resume (stage skip), and segment merge
== rebuild differential tests."""

from __future__ import annotations

import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from baguetter_spark.config import SparseIndexConfig, TextPreprocessorConfig
from baguetter_spark.fixtures import gen_transcripts
from baguetter_spark.io import (
    build_index_resumable,
    load_index,
    read_manifest,
    save_index,
    write_manifest,
)
from baguetter_spark.merge import merge_indexes
from baguetter_spark.operators.indexer import build_index
from baguetter_spark.operators.search import score_queries


@pytest.fixture(scope="module")
def corpus():
    return gen_transcripts(40, 6, seed=21, vocab_size=80)


def _cfg():
    return SparseIndexConfig(preprocessor=TextPreprocessorConfig.parity())


def _queries(spark):
    return spark.createDataFrame(
        pd.DataFrame(
            {"query_id": ["q0", "q1"], "text": ["term00001 term00004", "hot00 term00002"]}
        )
    )


def _results_map(df):
    return {
        (r["query_id"], r["doc_id"]): (r["rank"], np.float32(r["score"]))
        for r in df.collect()
    }


def test_save_load_roundtrip(spark, corpus, tmp_path):
    idx = build_index(spark, spark.createDataFrame(corpus), _cfg())
    path = str(tmp_path / "seg1")
    save_index(idx, path)
    loaded = load_index(spark, path)
    assert loaded.n_docs == idx.n_docs
    assert loaded.avg_doc_len == idx.avg_doc_len
    assert loaded.total_postings == idx.total_postings
    r1 = _results_map(score_queries(idx, _queries(spark), top_k=5))
    r2 = _results_map(score_queries(loaded, _queries(spark), top_k=5))
    assert r1 == r2


def test_resumable_build_skips_completed_stages(spark, corpus, tmp_path):
    workdir = str(tmp_path / "ckpt")
    sdf = spark.createDataFrame(corpus)
    cfg = _cfg()

    idx1 = build_index_resumable(spark, sdf, cfg, workdir, input_id="c1")
    m = read_manifest(workdir)
    assert m["stages_executed"] == ["stage_tf", "stage_vocab", "stage_doc_map", "stage_postings"]
    # per-partition lineage recorded
    sm = read_manifest(f"{workdir}/stage_postings")
    assert sm["status"] == "SUCCESS"
    assert sum(p["rows"] for p in sm["partitions"]) == sm["rows"] > 0

    # re-run: everything skipped
    idx2 = build_index_resumable(spark, sdf, cfg, workdir, input_id="c1")
    m2 = read_manifest(workdir)
    assert m2["stages_executed"] == []
    assert set(m2["stages_skipped"]) == {
        "stage_tf",
        "stage_doc_map",
        "stage_vocab",
        "stage_postings",
    }

    # results identical to a direct build (checked BEFORE the simulated
    # crash below invalidates idx1/idx2's underlying files)
    direct = build_index(spark, sdf, cfg)
    q = _queries(spark)
    base = _results_map(score_queries(direct, q, top_k=5))
    for idx in (idx1, idx2):
        assert _results_map(score_queries(idx, q, top_k=5)) == base

    # kill/restart mid-pipeline: postings lost -> only postings re-runs
    shutil.rmtree(f"{workdir}/stage_postings")
    idx3 = build_index_resumable(spark, sdf, cfg, workdir, input_id="c1")
    m3 = read_manifest(workdir)
    assert m3["stages_executed"] == ["stage_postings"]
    assert "stage_tf" in m3["stages_skipped"]
    assert _results_map(score_queries(idx3, q, top_k=5)) == base

    # loadable from the final manifest
    loaded = load_index(spark, workdir)
    assert _results_map(score_queries(loaded, q, top_k=5)) == base


def test_resumable_build_equals_build_index(spark, corpus, tmp_path):
    """The resumable build runs build_index's stage graph: a fresh run, a
    fully resumed run and runs resumed after losing the postings (or the
    vocab and postings) stages all give build_index's postings, doc_map,
    vocab and stats.  A resumed vocab stage brings the corpus stats back
    from its manifest."""
    workdir = str(tmp_path / "ckpt")
    sdf = spark.createDataFrame(corpus)
    cfg = _cfg()
    want = _index_rows(build_index(spark, sdf, cfg))

    assert _index_rows(build_index_resumable(spark, sdf, cfg, workdir)) == want
    vocab_manifest = read_manifest(f"{workdir}/stage_vocab")
    assert vocab_manifest["stats"]["n_docs"] == len(corpus)
    assert vocab_manifest["stats"]["total_postings"] == want["scalars"][2]

    assert _index_rows(build_index_resumable(spark, sdf, cfg, workdir)) == want
    assert read_manifest(workdir)["stages_executed"] == []

    for lost in (["stage_postings"], ["stage_vocab", "stage_postings"]):
        for stage in lost:
            shutil.rmtree(f"{workdir}/{stage}")
        assert _index_rows(build_index_resumable(spark, sdf, cfg, workdir)) == want
        assert read_manifest(workdir)["stages_executed"] == lost


def test_load_index_older_posting_format(spark, corpus, tmp_path):
    """An index saved before the per-sub-block maxima were dropped (a
    ``sub_block_max`` posting column, ``sub_block_size`` in the manifest's
    config) still loads and searches the same."""
    idx = build_index(spark, spark.createDataFrame(corpus), _cfg())
    path = str(tmp_path / "old")
    save_index(idx, path)
    (
        spark.read.parquet(f"{path}/postings")
        .withColumn("sub_block_max", F.array("block_max"))
        .write.parquet(f"{path}/postings_old")
    )
    shutil.rmtree(f"{path}/postings")
    shutil.move(f"{path}/postings_old", f"{path}/postings")
    manifest = read_manifest(path)
    manifest["config"]["sub_block_size"] = 128
    write_manifest(path, manifest)

    loaded = load_index(spark, path)
    assert loaded.config == idx.config
    assert _index_rows(loaded) == _index_rows(idx)
    q = _queries(spark)
    assert _results_map(score_queries(loaded, q, top_k=5)) == _results_map(
        score_queries(idx, q, top_k=5)
    )


def test_config_change_invalidates_stages(spark, corpus, tmp_path):
    workdir = str(tmp_path / "ckpt2")
    sdf = spark.createDataFrame(corpus)
    build_index_resumable(spark, sdf, _cfg(), workdir, input_id="c1")
    cfg2 = SparseIndexConfig(
        method="atire", idf_method="atire", preprocessor=TextPreprocessorConfig.parity()
    )
    build_index_resumable(spark, sdf, cfg2, workdir, input_id="c1")
    m = read_manifest(workdir)
    # all stages re-ran (different config hash)
    assert m["stages_executed"] == ["stage_tf", "stage_vocab", "stage_doc_map", "stage_postings"]


def test_merge_equals_rebuild(spark, tmp_path):
    cfg = _cfg()
    a = gen_transcripts(25, 4, seed=31, vocab_size=60)
    b = gen_transcripts(25, 4, seed=32, vocab_size=60)
    b["conv_id"] = "z" + b["conv_id"]  # disjoint doc ids, sorts after a

    seg_a = build_index(spark, spark.createDataFrame(a), cfg)
    seg_b = build_index(spark, spark.createDataFrame(b), cfg)
    merged = merge_indexes(spark, [seg_a, seg_b], cfg)

    both = pd.concat([a, b], ignore_index=True)
    rebuilt = build_index(spark, spark.createDataFrame(both), cfg)

    assert merged.n_docs == rebuilt.n_docs
    assert merged.avg_doc_len == rebuilt.avg_doc_len
    assert merged.total_postings == rebuilt.total_postings

    # vocabulary identical (sorted-rank over the union)
    vm = {r["term"]: (r["term_id"], r["df"]) for r in merged.vocab.collect()}
    vr = {r["term"]: (r["term_id"], r["df"]) for r in rebuilt.vocab.collect()}
    assert vm == vr

    # search results bit-identical
    q = _queries(spark)
    assert _results_map(score_queries(merged, q, top_k=8)) == _results_map(
        score_queries(rebuilt, q, top_k=8)
    )


def test_remove_equals_rebuild(spark):
    """remove_docs == build on the filtered corpus: same stats, identical
    sorted-rank vocabulary (term ids re-rank), bit-identical search."""
    from baguetter_spark.merge import remove_docs

    cfg = _cfg()
    corpus = gen_transcripts(30, 4, seed=33, vocab_size=60)
    # plant a term that ONLY occurs in docs we will remove: it must leave
    # the vocabulary, shifting every later term id
    victims = sorted(corpus["conv_id"].unique())[::5]
    mask = corpus["conv_id"].isin(victims)
    corpus.loc[mask, "text"] = corpus.loc[mask, "text"] + " onlyinremoved"
    full = build_index(spark, spark.createDataFrame(corpus), cfg)
    # doc_id = "conv_id:turn_idx" (indexer.py doc_map construction); convs
    # have variable turn counts, so enumerate victim keys from the doc_map
    dm_keys = {r["doc_id"] for r in full.doc_map.collect()}
    keys = [k for k in dm_keys if k.split(":")[0] in set(victims)]
    assert keys, "victim keys must resolve against the doc_map"

    removed = remove_docs(spark, full, keys)
    kept = corpus[~corpus["conv_id"].isin(victims)].reset_index(drop=True)
    rebuilt = build_index(spark, spark.createDataFrame(kept), cfg)

    assert removed.n_docs == rebuilt.n_docs
    assert removed.avg_doc_len == rebuilt.avg_doc_len
    assert removed.total_postings == rebuilt.total_postings

    vm = {r["term"]: (r["term_id"], r["df"]) for r in removed.vocab.collect()}
    vr = {r["term"]: (r["term_id"], r["df"]) for r in rebuilt.vocab.collect()}
    assert vm == vr
    assert "onlyinremoved" not in vm

    dmap_removed = sorted(
        (r["doc_idx"], r["doc_id"], r["doc_len"]) for r in removed.doc_map.collect()
    )
    dmap_rebuilt = sorted(
        (r["doc_idx"], r["doc_id"], r["doc_len"]) for r in rebuilt.doc_map.collect()
    )
    assert dmap_removed == dmap_rebuilt

    q = _queries(spark)
    assert _results_map(score_queries(removed, q, top_k=8)) == _results_map(
        score_queries(rebuilt, q, top_k=8)
    )

    # unknown keys are a no-op (reference pop(key, None) semantics)
    assert remove_docs(spark, full, ["nosuchkey"]) is full
    # removing everything is loud
    with pytest.raises(ValueError, match="every document"):
        remove_docs(spark, full, sorted(dm_keys))


def test_engine_remove_without_corpus(spark):
    """remove_many on a DataFrame-built engine (no driver corpus) filters
    the postings via merge.remove_docs instead of silently no-opping; the
    BMX facade raises loudly (entropy-folded postings can't be filtered)."""
    from baguetter_spark.engine import BM25SparkIndex, BMXSparkIndex

    corpus = gen_transcripts(20, 3, seed=41, vocab_size=50)
    eng = BM25SparkIndex(spark, _cfg()).build(spark.createDataFrame(corpus))
    n0 = eng.index.n_docs
    victim = eng.index.doc_map.limit(1).collect()[0]["doc_id"]
    eng.remove_many([victim])
    assert eng.index.n_docs == n0 - 1
    assert eng.index.doc_map.where(f"doc_id = '{victim}'").count() == 0
    # unknown key: no-op
    eng.remove_many(["nosuchkey"])
    assert eng.index.n_docs == n0 - 1

    bmx = BMXSparkIndex(spark, _cfg()).build(spark.createDataFrame(corpus))
    with pytest.raises(NotImplementedError, match="BMX"):
        bmx.remove_many(["anything"])


def test_engine_add_transcripts_incremental(spark):
    """add_transcripts == rebuild on the concatenated corpus (new keys) and
    replace-on-collision (overlapping keys), without re-tokenizing the
    existing corpus."""
    from baguetter_spark.engine import BM25SparkIndex, BMXSparkIndex

    cfg = _cfg()
    a = gen_transcripts(20, 3, seed=51, vocab_size=50)
    b = gen_transcripts(12, 3, seed=52, vocab_size=50)
    b["conv_id"] = "z" + b["conv_id"]  # disjoint, sorts after a

    eng = BM25SparkIndex(spark, cfg).build(spark.createDataFrame(a))
    eng.add_transcripts(spark.createDataFrame(b))
    rebuilt = build_index(
        spark, spark.createDataFrame(pd.concat([a, b], ignore_index=True)), cfg
    )
    assert eng.index.n_docs == rebuilt.n_docs
    assert eng.index.avg_doc_len == rebuilt.avg_doc_len
    vm = {r["term"]: (r["term_id"], r["df"]) for r in eng.index.vocab.collect()}
    vr = {r["term"]: (r["term_id"], r["df"]) for r in rebuilt.vocab.collect()}
    assert vm == vr
    q = _queries(spark)
    assert _results_map(score_queries(eng.index, q, top_k=8)) == _results_map(
        score_queries(rebuilt, q, top_k=8)
    )

    # replace semantics: re-adding existing conv ids with new text swaps
    # the docs instead of duplicating them
    n_before = eng.index.n_docs
    b2 = b.copy()
    b2["text"] = b2["text"] + " replacedmarker"
    eng.add_transcripts(spark.createDataFrame(b2))
    assert eng.index.n_docs == n_before
    vm2 = {r["term"] for r in eng.index.vocab.collect()}
    assert "replacedmarker" in vm2

    # batch that replaces everything degenerates to the fresh segment
    eng2 = BM25SparkIndex(spark, cfg).build(spark.createDataFrame(a))
    a2 = a.copy()
    a2["text"] = a2["text"] + " totalswap"
    eng2.add_transcripts(spark.createDataFrame(a2))
    assert eng2.index.n_docs == build_index(spark, spark.createDataFrame(a2), cfg).n_docs
    assert "totalswap" in {r["term"] for r in eng2.index.vocab.collect()}

    bmx = BMXSparkIndex(spark, cfg).build(spark.createDataFrame(a))
    with pytest.raises(NotImplementedError, match="BMX"):
        bmx.add_transcripts(spark.createDataFrame(b))


def _index_rows(idx):
    """Everything an add must reproduce: postings digest and raw blocks,
    doc_map and vocab rows, and the three scalar stats."""
    from baguetter_spark.gate import postings_digest_of

    return {
        "digest": sorted(map(tuple, postings_digest_of(idx).collect())),
        "postings": sorted(
            (r["term_id"], r["block_id"], r["n_postings"], bytes(r["doc_ids_delta"]),
             bytes(r["impacts_f32"]), bytes(r["tfs"]))
            for r in idx.postings.collect()
        ),
        "doc_map": sorted(
            map(tuple, idx.doc_map.select("doc_idx", "doc_id", "doc_len").collect())
        ),
        "vocab": sorted(
            map(tuple, idx.vocab.select("term_id", "term", "df", "idf").collect())
        ),
        "scalars": (idx.n_docs, idx.avg_doc_len, idx.total_postings),
    }


def _replace_case(case):
    """(base transcripts or None, delta transcripts, add kwargs) per case."""
    base = gen_transcripts(36, 6, seed=71, vocab_size=50)
    if case == "none":
        return None, base, {}
    if case == "all":
        delta = base.copy()
        delta["text"] = delta["text"] + " allswapped"
        return base, delta, {}
    if case == "disjoint":
        delta = gen_transcripts(10, 3, seed=72, vocab_size=50)
        # sorts before every base key, yet its turns are appended
        delta["conv_id"] = "a" + delta["conv_id"]
        return base, delta, {}
    if case == "empty_docs":
        delta = gen_transcripts(8, 2, seed=73, vocab_size=50)
        delta["conv_id"] = "e" + delta["conv_id"]
        delta.loc[::2, "text"] = ""
        delta.loc[1::4, "text"] = "   "  # whitespace only: no tokens either
        # and an empty turn that replaces a base turn
        delta = pd.concat([delta, base.iloc[:1].assign(text="")], ignore_index=True)
        return base, delta, {}
    # ~10% of the base turns replaced, plus new turns
    replaced = base.iloc[::10].copy()
    replaced["text"] = replaced["text"] + " swapped"
    fresh = gen_transcripts(6, 2, seed=74, vocab_size=50)
    fresh["conv_id"] = "a" + fresh["conv_id"]
    delta = pd.concat([replaced, fresh], ignore_index=True)
    return base, delta, {"driver_key_bound": 0} if case == "distributed" else {}


@pytest.mark.parametrize(
    "case", ["disjoint", "ten_pct", "distributed", "all", "none", "empty_docs", "reloaded"]
)
def test_add_transcripts_equals_segment_merge(spark, tmp_path, case):
    """add_transcripts (one reindex pass) == the segment composition it
    replaced: remove the replaced turns from the base, build the delta as
    a segment, merge, cut lineage.  Same postings, doc_map, vocab and
    stats, bit for bit, on every replace shape.  (The oracle also cuts
    lineage after the removal: a checkpoint changes no data, and planning
    two stacked reindexes costs minutes and GiBs of driver heap.)"""
    from baguetter_spark.engine import BM25SparkIndex
    from baguetter_spark.merge import remove_docs, truncate_lineage

    cfg = _cfg()
    base_pdf, delta_pdf, kwargs = _replace_case(case)
    delta = spark.createDataFrame(delta_pdf)
    eng = BM25SparkIndex(spark, cfg)
    if base_pdf is None:
        oracle = build_index(spark, delta, cfg)
    else:
        eng.build(spark.createDataFrame(base_pdf))
        if case == "reloaded":
            save_index(eng.index, str(tmp_path / "base"))
            eng.index = load_index(spark, str(tmp_path / "base"))
        base = eng.index
        delta_ids = {f"{c}:{t}" for c, t in zip(delta_pdf["conv_id"], delta_pdf["turn_idx"])}
        replaced = [
            r["doc_id"] for r in base.doc_map.collect() if r["doc_id"] in delta_ids
        ]
        if len(replaced) == base.n_docs:
            oracle = build_index(spark, delta, cfg)
        else:
            kept = truncate_lineage(remove_docs(spark, base, replaced)) if replaced else base
            oracle = truncate_lineage(
                merge_indexes(spark, [kept, build_index(spark, delta, cfg)], cfg)
            )
    want = _index_rows(oracle)

    eng.add_transcripts(delta, **kwargs)
    assert _index_rows(eng.index) == want
    assert eng.index.n_docs == len(want["doc_map"])


def test_release_and_truncate_free_cached_frames(spark):
    """release_index unpersists the public tables AND the internal pins
    (tf/zipindex two-pass state); truncate_lineage releases its input
    automatically once the checkpoints have materialized, and the
    checkpointed output stays readable afterwards."""
    from baguetter_spark.merge import release_index, truncate_lineage

    cfg = _cfg()
    t = gen_transcripts(10, 3, seed=61, vocab_size=40)

    idx = build_index(spark, spark.createDataFrame(t), cfg)
    idx.postings.count()  # materialize the pinned frames
    frames = [idx.doc_map, idx.vocab, idx.postings, *idx.caches]
    assert idx.caches, "build_index should report its internal pins"
    assert any(f.is_cached for f in frames)
    release_index(idx)
    assert not any(f.is_cached for f in frames)

    idx2 = build_index(spark, spark.createDataFrame(t), cfg)
    idx2.postings.count()
    out = truncate_lineage(idx2)
    assert not any(
        f.is_cached for f in (idx2.doc_map, idx2.vocab, idx2.postings, *idx2.caches)
    )
    assert out.postings.count() > 0 and out.doc_map.count() == idx2.n_docs


def test_remove_docs_df_equals_remove_docs(spark, corpus):
    """merge.remove_docs_df (distributed key set) is row-identical to
    remove_docs (driver-broadcast keys): same survivor compaction, same
    re-ranked vocabulary; unknown-key DataFrames are a no-op and removing
    everything raises."""
    from baguetter_spark.merge import remove_docs, remove_docs_df

    cfg = _cfg()
    full = build_index(spark, spark.createDataFrame(corpus), cfg)
    victims = [r["doc_id"] for r in full.doc_map.orderBy("doc_idx").limit(7).collect()]
    victims = victims[::2]  # non-contiguous

    a = remove_docs(spark, full, victims)
    b = remove_docs_df(
        spark, full, spark.createDataFrame([(k,) for k in victims], "doc_id string")
    )
    dm = lambda ix: {(r["doc_idx"], r["doc_id"], r["doc_len"]) for r in ix.doc_map.collect()}
    vm = lambda ix: {(r["term_id"], r["term"], r["df"]) for r in ix.vocab.collect()}
    assert (a.n_docs, a.avg_doc_len, a.total_postings) == (
        b.n_docs,
        b.avg_doc_len,
        b.total_postings,
    )
    assert dm(a) == dm(b)
    assert vm(a) == vm(b)
    # the result must come back lineage-truncated: composed with merge +
    # the engine's final checkpoint, the raw nested plan OOMs a 4 GiB
    # driver on plan DEPTH alone (measured at 500 docs)
    for df in (b.doc_map, b.vocab, b.postings):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan or "ExistingRDD" in plan, plan[:200]

    nothing = spark.createDataFrame([("nosuchkey",)], "doc_id string")
    assert remove_docs_df(spark, full, nothing) is full
    everything = full.doc_map.select("doc_id")
    with pytest.raises(ValueError, match="every document"):
        remove_docs_df(spark, full, everything)


def test_engine_add_transcripts_distributed_removal_path(spark):
    """driver_key_bound=0 forces the remove_docs_df branch; the result is
    identical to the default driver-broadcast branch."""
    from baguetter_spark.engine import BM25SparkIndex

    cfg = _cfg()
    a = gen_transcripts(45, 15, seed=62, vocab_size=50)
    convs = sorted(a["conv_id"].unique())[:6]
    b = a[a["conv_id"].isin(convs)].copy()
    b["text"] = b["text"] + " swapped"
    assert 0 < len(b) < len(a)

    eng_df = BM25SparkIndex(spark, cfg).build(spark.createDataFrame(a))
    eng_df.add_transcripts(spark.createDataFrame(b), driver_key_bound=0)
    eng_ls = BM25SparkIndex(spark, cfg).build(spark.createDataFrame(a))
    eng_ls.add_transcripts(spark.createDataFrame(b))

    dm = lambda e: {
        (r["doc_idx"], r["doc_id"], r["doc_len"]) for r in e.index.doc_map.collect()
    }
    vm = lambda e: {(r["term_id"], r["term"], r["df"]) for r in e.index.vocab.collect()}
    assert eng_df.index.n_docs == eng_ls.index.n_docs == 45
    assert dm(eng_df) == dm(eng_ls)
    assert vm(eng_df) == vm(eng_ls)


def test_engine_mode_transitions_no_data_loss(spark):
    """The engine survives list-API <-> DataFrame-API interleaving without
    dropping documents: add_transcripts leaves list mode (stale driver
    corpus can no longer clobber the index on the next list op), and
    add_many on a DataFrame-built index routes through the incremental
    path instead of silently replacing the whole index."""
    from baguetter_spark.engine import BM25SparkIndex

    cfg = _cfg()
    eng = BM25SparkIndex(spark, cfg).add_many(
        ["doc1", "doc2"], ["alpha bravo charlie", "delta echo foxtrot"]
    )
    assert eng.synthetic_turn_suffix is True
    t = gen_transcripts(8, 4, seed=63, vocab_size=30)
    eng.add_transcripts(spark.createDataFrame(t))
    assert eng.synthetic_turn_suffix is False  # left list-API mode
    assert eng.index.n_docs == 2 + 8  # nothing lost

    eng.remove_many(["nosuchkey"])  # distributed branch, not a stale rebuild
    assert eng.index.n_docs == 10
    eng.remove_many(["doc1"])  # no exact id -> conv-id removal of doc1:0
    assert eng.index.n_docs == 9
    assert eng.index.doc_map.where("doc_id = 'doc1:0'").count() == 0

    eng2 = BM25SparkIndex(spark, cfg).build(spark.createDataFrame(t))
    eng2.add_many(["extra1"], ["golf hotel india"])
    assert eng2.index.n_docs == 8 + 1  # incremental, not replace
    assert eng2.index.doc_map.where("doc_id = 'extra1:0'").count() == 1
    assert eng2.index.doc_map.count() == 9  # original docs still present


def test_add_many_replaces_whole_conversation(spark):
    """add_many on a DataFrame-built index replaces the ENTIRE conversation
    named by the key (reference corpus[key]=value replaces the whole
    document) — not just turn 0, which would leave stale turns 1..n
    searchable and disagree with remove_many's bare-key resolution."""
    from baguetter_spark.engine import BM25SparkIndex

    cfg = _cfg()
    t = gen_transcripts(18, 5, seed=66, vocab_size=30)
    counts = t.groupby("conv_id").size()
    conv = counts[counts >= 2].index[0]
    eng = BM25SparkIndex(spark, cfg).build(spark.createDataFrame(t))

    eng.add_many([conv], ["replacement text only"])
    # all old turns of `conv` gone; exactly one new doc `conv:0`
    assert eng.index.n_docs == 18 - int(counts[conv]) + 1
    got = {
        r["doc_id"]
        for r in eng.index.doc_map.where(
            F.col("doc_id").startswith(f"{conv}:")
        ).collect()
    }
    assert got == {f"{conv}:0"}


def test_bmx_build_leaves_list_mode_and_releases(spark):
    """BMXSparkIndex.build must behave like the BM25 base: reset the driver
    corpus (stale list corpus can no longer clobber the index; ':0' on
    transcript ids is a real turn index) and release the superseded
    index's pinned frames (BMXIndex now reports its internal pins)."""
    from baguetter_spark.engine import BMXSparkIndex
    from baguetter_spark.merge import release_index

    cfg = _cfg()
    eng = BMXSparkIndex(spark, cfg).add_many(["k1"], ["alpha bravo charlie"])
    assert eng.synthetic_turn_suffix is True
    first = eng.index
    first.postings.count()
    frames = [first.doc_map, first.vocab, first.postings, *first.caches]
    assert first.caches, "build_bmx_index should report its internal pins"
    assert any(f.is_cached for f in frames)

    t = gen_transcripts(8, 4, seed=67, vocab_size=30)
    eng.build(spark.createDataFrame(t))
    assert eng.synthetic_turn_suffix is False  # left list-API mode
    assert eng.index.n_docs == 8
    assert not any(f.is_cached for f in frames)  # superseded build released

    # release_index accepts a BMXIndex directly (no caches-field AttributeError)
    eng.index.postings.count()
    release_index(eng.index)

    # and a list op on the DataFrame-built index is LOUD, not a silent replace
    with pytest.raises(NotImplementedError, match="BMX"):
        eng.add_many(["k2"], ["delta echo"])


def test_add_transcripts_failure_leaves_state_intact(spark, monkeypatch):
    """A mid-operation failure (the final lineage cut dies) must leave the
    engine exactly as it was: index untouched and still searchable,
    list-API mode intact, and the half-built index's pinned frames
    released."""
    import baguetter_spark.merge as merge_mod
    from baguetter_spark.engine import BM25SparkIndex

    cfg = _cfg()
    eng = BM25SparkIndex(spark, cfg).add_many(
        ["doc1", "doc2"], ["alpha bravo charlie", "delta echo foxtrot"]
    )
    before = eng.index

    built = []

    def boom(index):
        built.append(index)
        raise RuntimeError("checkpoint exploded")

    monkeypatch.setattr(merge_mod, "truncate_lineage", boom)
    t = gen_transcripts(6, 3, seed=68, vocab_size=30)
    with pytest.raises(RuntimeError, match="checkpoint exploded"):
        eng.add_transcripts(spark.createDataFrame(t))
    (half,) = built
    assert not any(
        f.is_cached for f in (half.doc_map, half.vocab, half.postings, *half.caches)
    )

    assert eng.index is before  # untouched
    assert eng.synthetic_turn_suffix is True  # still in list-API mode
    keys, _ = eng.search("alpha")
    assert keys[0] == "doc1"  # suffix stripping still applies
    # and the engine recovers: the same op succeeds once the cut works again
    monkeypatch.undo()
    eng.add_transcripts(spark.createDataFrame(t))
    assert eng.index.n_docs == 2 + 6


def test_resumable_build_releases_pins(spark, tmp_path):
    """build_index_resumable's zipindex and term-stats pins are parquet-backed
    garbage once the run finishes — they must be unpersisted, or a
    resumable-seeded maintenance chain leaks one set per build."""
    import gc

    from baguetter_spark.io import build_index_resumable

    cfg = _cfg()
    sc = spark.sparkContext._jsc.sc()
    jvm = spark.sparkContext._jvm
    t = gen_transcripts(12, 4, seed=69, vocab_size=30)

    gc.collect()
    jvm.java.lang.System.gc()
    before = sc.getPersistentRDDs().size()
    idx = build_index_resumable(
        spark, spark.createDataFrame(t), cfg, str(tmp_path / "resume")
    )
    assert idx.doc_map.count() == 12
    gc.collect()
    jvm.java.lang.System.gc()
    after = sc.getPersistentRDDs().size()
    assert after <= before + 1, f"resumable build leaked pins: {before} -> {after}"


def test_chained_maintenance_bounded_storage(spark):
    """A loop of incremental adds must hold ONE index's storage, not one
    per round: release_index frees the superseded CacheManager pins
    deterministically, and the superseded localCheckpoint blocks are
    ContextCleaner-managed (freed once the JVM GCs the dropped plans).
    Locks in the fix for the per-round pin leak (persistent-RDD count grew
    linearly with chain length before release_index existed)."""
    import gc
    import time

    from baguetter_spark.engine import BM25SparkIndex

    cfg = _cfg()
    sc = spark.sparkContext._jsc.sc()
    jvm = spark.sparkContext._jvm

    def settled_count(bound, tries=15):
        # checkpoint blocks are cleaned asynchronously after a JVM GC —
        # poll until the count settles at/below the bound or timeout
        for _ in range(tries):
            gc.collect()
            jvm.java.lang.System.gc()
            n = sc.getPersistentRDDs().size()
            if n <= bound:
                return n
            time.sleep(1.0)
        return sc.getPersistentRDDs().size()

    eng = BM25SparkIndex(spark, cfg).build(
        spark.createDataFrame(gen_transcripts(24, 8, seed=65, vocab_size=40))
    )
    eng.index.postings.count()
    gc.collect()
    jvm.java.lang.System.gc()
    base = sc.getPersistentRDDs().size()  # post-build level (plain read)

    for i in range(3):
        batch = gen_transcripts(10 + 2 * i, 4, seed=70 + i, vocab_size=40)
        eng.add_transcripts(spark.createDataFrame(batch))

    # one live index = its 3 checkpointed tables (+ a little cleaner slack);
    # a leak of one index per round would add >= 3 per iteration
    final = settled_count(bound=base + 4)
    assert final <= base + 4, f"storage grew {base} -> {final} over 3 chained adds"
    assert eng.index.doc_map.count() == eng.index.n_docs  # still readable


def test_remove_many_conversation_semantics(spark):
    """A bare conv_id removes EVERY turn of that conversation; an exact
    doc_id removes exactly that turn (previously 'conv' silently removed
    only turn 0 of a multi-turn conversation)."""
    from baguetter_spark.engine import BM25SparkIndex

    cfg = _cfg()
    t = gen_transcripts(18, 5, seed=64, vocab_size=30)
    counts = t.groupby("conv_id").size()
    eng = BM25SparkIndex(spark, cfg).build(spark.createDataFrame(t))
    assert eng.index.n_docs == 18

    conv = counts[counts >= 2].index[0]  # a multi-turn conversation
    eng.remove_many([conv])
    assert eng.index.n_docs == 18 - int(counts[conv])
    assert eng.index.doc_map.where(f"doc_id like '{conv}:%'").count() == 0

    conv2 = counts[counts >= 2].index[1]
    eng.remove_many([f"{conv2}:0"])  # exact id: only turn 0 goes
    assert eng.index.n_docs == 18 - int(counts[conv]) - 1
    assert eng.index.doc_map.where(f"doc_id = '{conv2}:1'").count() == 1
