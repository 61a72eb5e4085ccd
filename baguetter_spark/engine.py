"""High-level engine facade: the Spark counterpart of `BM25SparseIndex`.

API parity with the reference (`baguetter/indices/sparse/base.py` +
`bm25.py`): add_many / remove_many / search / search_many / search_weighted /
to_token_ids-equivalent semantics, plus DataFrame-native entry points
(`build`, `score_queries`) for pipeline use.  Driver-side list results mirror
the reference's `SearchResults` (keys + float32 scores, descending).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baguetter_spark.config import SparseIndexConfig
from baguetter_spark.fixtures import transcripts_from_corpus
from baguetter_spark.operators.bmx import BMXIndex, bmx_score_queries, build_bmx_index
from baguetter_spark.operators.indexer import BM25Index, build_index
from baguetter_spark.operators.search import score_queries


class BM25SparkIndex:
    """Distributed BM25 index with the reference's add/search contract.

    Unlike the reference's in-memory dicts, state lives in DataFrames; like
    the reference, every add/remove triggers a full rebuild
    (`baguetter/indices/sparse/base.py:244-256` — rebuild-on-add semantics),
    which at scale maps to one reindex over decoded postings (see merge.py).
    """

    def __init__(
        self,
        spark: SparkSession,
        config: SparseIndexConfig | None = None,
    ) -> None:
        self.spark = spark
        self.config = config or SparseIndexConfig()
        self.index: BM25Index | None = None
        self._corpus: pd.DataFrame | None = None  # driver-side (list-API mode only)

    @property
    def synthetic_turn_suffix(self) -> bool:
        """True iff this index was built through the list API (add_many),
        whose keys become ``key:0`` doc ids (one synthetic turn per key).
        Consumers (MultiSparkIndex, SparkSearchEngine) use this to decide
        whether a ``:0`` suffix is synthetic (strip to recover the user key)
        or a real turn index of a DataFrame-built transcript corpus (keep)."""
        return self._corpus is not None

    # ------------------------------------------------------------------ build
    def build(self, transcripts: DataFrame) -> BM25SparkIndex:
        """DataFrame-native build (the production entry point)."""
        from baguetter_spark.merge import release_index

        old = self.index
        self.index = build_index(self.spark, transcripts, self.config)
        self._corpus = None
        release_index(old)  # superseded frames are CacheManager-pinned
        return self

    def add_many(self, keys: list[str], values: list[str]) -> BM25SparkIndex:
        """List API mirroring the reference; keys become conv_ids (one turn
        each) so (conv_id, turn_idx) order == insertion order requires keys
        to be handed in sorted order OR treated as the stable order.

        NOTE: the stable order is (conv_id, turn_idx) = (key, 0); the
        reference uses insertion order.  For parity tests, pass keys that are
        already lexicographically ordered (doc1, doc2, ...), which makes the
        two orders coincide.
        """
        if len(keys) != len(set(keys)):
            msg = "Keys must be unique."
            raise ValueError(msg)
        new = transcripts_from_corpus(keys, values)
        if self._corpus is None and self.index is not None:
            # DataFrame-built or loaded index: there is no driver corpus to
            # rebuild from — rebuilding from `new` alone would silently
            # REPLACE the whole index.  Route through the distributed
            # incremental path instead; doc ids are exposed verbatim
            # (``key:0``).  Replacement covers the WHOLE conversation
            # (reference ``corpus[key] = value`` replaces the entire
            # document): drop every existing turn of each key first —
            # the add's same-doc_id replacement alone would replace only
            # ``key:0`` and leave stale turns 1..n of a multi-turn
            # conversation searchable, disagreeing with remove_many's
            # bare-key = whole-conversation resolution.
            new_df = self.spark.createDataFrame(new)
            self.index = self._remove_from_index(keys)
            return self.add_transcripts(new_df)
        self._corpus = (
            new
            if self._corpus is None
            else pd.concat(
                [self._corpus[~self._corpus["conv_id"].isin(set(keys))], new],
                ignore_index=True,
            )
        )
        return self._rebuild()

    # Above this many replaced turns, add_transcripts ranks the survivors
    # through zip_with_index instead of a driver-broadcast doc_idx list
    # (nothing about the replaced set then ever touches the driver).
    DRIVER_KEY_BOUND = 100_000

    def add_transcripts(
        self, transcripts: DataFrame, *, driver_key_bound: int | None = None
    ) -> BM25SparkIndex:
        """DataFrame-scale incremental add with the list API's replace
        semantics (reference add_many = corpus-dict update + full rebuild,
        base.py:324-356), as ONE reindex pass (merge.add_docs): only the new
        transcripts are tokenized, the existing index is decoded once from
        its posting blocks minus the turns the batch replaces (same
        doc_id), and the union runs through the build's post-tokenize tail
        — global stats, vocabulary, impacts and posting blocks are exactly
        a rebuild's.

        The replaced set stays bounded on the driver: one probe returns at
        most ``driver_key_bound`` (default DRIVER_KEY_BOUND) + 1 doc ids,
        and a larger set renumbers the survivors through zip_with_index, so
        re-ingesting a corrected 10^8-doc partition never materializes
        10^8 ids on the driver.  Calling this switches the engine out of
        list-API mode: the driver corpus (if any) is dropped, doc ids are
        exposed verbatim from then on (``synthetic_turn_suffix`` -> False),
        and the superseded index's cached frames are released.  A failure
        leaves the engine exactly as it was.

        Documented divergence shared with this engine's list-API add_many:
        replaced docs take NEW doc_idx positions (insertion order = append)
        rather than keeping their original slot, so exact-tie ranking
        against a replaced doc may break differently than the reference's
        in-place dict update.  Scores and result sets are unaffected.
        """
        from baguetter_spark.merge import add_docs, release_index

        old = self.index
        if old is None:
            self.index = build_index(self.spark, transcripts, self.config)
        else:
            bound = self.DRIVER_KEY_BOUND if driver_key_bound is None else driver_key_bound
            self.index = add_docs(
                self.spark, old, transcripts, self.config, driver_key_bound=bound
            )
        self._corpus = None  # leave list-API mode (see docstring)
        release_index(old)  # the new index has materialized: old is garbage
        return self

    def tokenize(self, text: str) -> list[str]:
        """Run the index's preprocessing pipeline on one string (reference
        base.py:293-323 `tokenize`) — driver-side, same code the UDF runs."""
        from baguetter_spark.functions.preprocess import make_processor

        return make_processor(self.config.preprocessor)(text)

    def add(self, key: str, value: str) -> BM25SparkIndex:
        """Single-doc alias (reference indices/base.py add -> add_many)."""
        return self.add_many([key], [value])

    def remove(self, key: str) -> BM25SparkIndex:
        return self.remove_many([key])

    def remove_many(self, keys: list[str]) -> BM25SparkIndex:
        if self._corpus is not None:
            self._corpus = self._corpus[~self._corpus["conv_id"].isin(set(keys))]
            return self._rebuild()
        if self.index is None:
            return self
        # Loaded / DataFrame-built index: there is no driver corpus to
        # rebuild from, so filter the postings directly (merge.remove_docs
        # == rebuild, differential-tested).  Previously this branch was a
        # silent no-op.
        self.index = self._remove_from_index(keys)
        return self

    def _remove_from_index(self, keys: list[str]):
        from baguetter_spark.merge import release_index, remove_docs, truncate_lineage

        # Per key: an EXACT doc_id match wins; a key with no exact match is
        # treated as a conv_id and removes every turn of that conversation.
        # This covers both id dialects — a loaded list-API index stores user
        # key 'k' as 'k:0' (one synthetic turn), and a DataFrame-built
        # corpus uses real 'conv:turn' ids, where a bare conv_id means the
        # whole conversation.  (Probing 'k' AND 'k:0' unconditionally, the
        # previous rule, silently removed only turn 0 of a multi-turn
        # conversation and removed BOTH real docs 'k' and 'k:0' on a
        # request for 'k'.)  Unknown keys are ignored (reference
        # pop(key, None)).  Driver traffic is bounded by len(keys) plus the
        # turns of the requested conversations.
        dm = self.index.doc_map
        exact = {
            r["doc_id"]
            for r in dm.where(F.col("doc_id").isin(list(keys)))
            .select("doc_id")
            .collect()
        }
        probe = sorted(exact)
        miss = [k for k in keys if k not in exact]
        if miss:
            conv = F.regexp_extract(F.col("doc_id"), r"^(.*):\d+$", 1)
            probe += [
                r["doc_id"]
                for r in dm.where(conv.isin(miss)).select("doc_id").collect()
            ]
        if not probe:
            return self.index
        removed = remove_docs(self.spark, self.index, probe, self.config)
        if removed is self.index:  # nothing matched — no new plan to cut
            return removed
        out = truncate_lineage(removed)
        release_index(self.index)  # superseded by `out`
        return out

    def _rebuild(self) -> BM25SparkIndex:
        from baguetter_spark.merge import release_index

        sdf = self.spark.createDataFrame(self._corpus)
        old = self.index
        self.index = build_index(self.spark, sdf, self.config)
        release_index(old)  # rebuilt from the driver corpus — old is garbage
        return self

    # ----------------------------------------------------------------- search
    def score_queries(
        self,
        queries: DataFrame,
        *,
        top_k: int = 100,
        parity: bool = True,
        pruned: bool | str = False,
        probe_blocks: int = 2,
    ) -> DataFrame:
        """Batch search: queries(query_id, text[, weight, part]) ->
        results(query_id, rank, doc_id, score).  ``pruned``: False
        (exhaustive), True (rank-safe MaxScore per doc-range block) or
        "blockmax" (additionally θ-skips whole blocks via block_max
        metadata — see operators/search.py)."""
        return score_queries(
            self.index,
            queries,
            top_k=top_k,
            parity=parity,
            pruned=pruned,
            probe_blocks=probe_blocks,
        )

    def _collect(self, results: DataFrame, query_ids: list[str], strip_turn: bool):
        rows = results.collect()
        by_q: dict[str, list] = {q: [] for q in query_ids}
        for r in rows:
            by_q[r["query_id"]].append((r["rank"], r["doc_id"], r["score"]))
        out = []
        for q in query_ids:
            entries = sorted(by_q[q])
            keys = [d[:-2] if strip_turn and d.endswith(":0") else d for _, d, _ in entries]
            scores = np.array([s for _, _, s in entries], dtype=np.float32)
            out.append((keys, scores))
        return out

    def search(self, query: str, *, top_k: int = 100):
        return self.search_many([query], top_k=top_k)[0]

    def search_many(self, queries: list[str], *, top_k: int = 100):
        qdf = self.spark.createDataFrame(
            pd.DataFrame({"query_id": [f"q{i}" for i in range(len(queries))], "text": queries})
        )
        res = self.score_queries(qdf, top_k=top_k)
        return self._collect(
            res,
            [f"q{i}" for i in range(len(queries))],
            strip_turn=self.synthetic_turn_suffix,
        )

    def search_weighted(
        self, queries: list[str], query_weights: list[float], *, top_k: int = 100
    ):
        """Reference base.py:491-536: one fused query, per-sub-query weights."""
        qdf = self.spark.createDataFrame(
            pd.DataFrame(
                {
                    "query_id": ["q0"] * len(queries),
                    "part": list(range(len(queries))),
                    "text": queries,
                    "weight": query_weights,
                }
            )
        )
        res = self.score_queries(qdf, top_k=top_k)
        return self._collect(res, ["q0"], strip_turn=self.synthetic_turn_suffix)[0]

    # ------------------------------------------------------------ persistence
    def push_to_repository(self, repository, name: str) -> str:
        """Save the built index into an IndexRepository (reference
        ``push_to_hub``, utils/persistable.py:131-165 — repo swapped for a
        Hadoop FS URI, see repository.py).  Returns the index URI."""
        if self.index is None:
            msg = "build() the index before pushing it to a repository"
            raise RuntimeError(msg)
        return repository.push(self.index, name)

    @classmethod
    def load_from_repository(cls, spark: SparkSession, repository, name: str):
        """Load a named index from an IndexRepository (reference
        ``load_from_hub``, utils/persistable.py:97-129).  ``repository`` may
        be an IndexRepository or a base URI string.  The loaded kind must
        match the class: BM25 saves load through BM25SparkIndex, BMX saves
        through BMXSparkIndex."""
        from baguetter_spark.repository import IndexRepository

        if isinstance(repository, str):
            repository = IndexRepository(spark, repository)
        idx = repository.pull(name)
        want_bmx = issubclass(cls, BMXSparkIndex)
        if isinstance(idx, BMXIndex) != want_bmx:
            kind = "bmx" if isinstance(idx, BMXIndex) else "bm25"
            msg = f"repository index {name!r} is kind={kind}; load it via the matching class"
            raise TypeError(msg)
        inst = cls(spark, idx.config)
        inst.index = idx
        return inst


class BMXSparkIndex(BM25SparkIndex):
    """Distributed BMX index: the Spark counterpart of `BMXSparseIndex`
    (`baguetter/indices/sparse/bmx.py:10-83`).  Shares the add/remove/search
    API with the BM25 facade; the build and the scoring kernel come from
    operators/bmx.py (min_df applied, query-dependent entropy/sim terms)."""

    def build(self, transcripts: DataFrame) -> BMXSparkIndex:
        from baguetter_spark.merge import release_index

        old = self.index
        self.index = build_bmx_index(self.spark, transcripts, self.config)
        # leave list-API mode: a stale driver corpus must never clobber a
        # DataFrame-built index on the next list op, and ':0' suffixes on
        # transcript doc ids are real turn indexes, not synthetic
        self._corpus = None
        release_index(old)
        return self

    def _rebuild(self) -> BMXSparkIndex:
        from baguetter_spark.merge import release_index

        sdf = self.spark.createDataFrame(self._corpus)
        old = self.index
        self.index = build_bmx_index(self.spark, sdf, self.config)
        release_index(old)
        return self

    def _remove_from_index(self, keys: list[str]):
        msg = (
            "BMX indexes store entropy-folded postings; corpus-less removal "
            "is not supported — rebuild from the source transcripts "
            "(build()) instead"
        )
        raise NotImplementedError(msg)

    def add_transcripts(self, transcripts: DataFrame) -> BMXSparkIndex:
        msg = (
            "BMX segment merge is not supported (entropy terms are global); "
            "rebuild from the full transcripts (build()) instead"
        )
        raise NotImplementedError(msg)

    def score_queries(
        self,
        queries: DataFrame,
        *,
        top_k: int = 100,
        parity: bool = True,
    ) -> DataFrame:
        return bmx_score_queries(self.index, queries, top_k=top_k, parity=parity)
