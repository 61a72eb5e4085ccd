"""The two workloads.  Each drives the engine through its public functions
only, from one closed-loop client (the next call starts when the previous
one has returned), and times every public call with ``Recorder.call``.

Both report the same metrics: a write makes turns searchable, a 10-query
parity batch searches the result, and ``io.save_index`` writes it to disk.
They differ in the write and in the index the search reads:

``build_search``: the write is ``build_index`` over the whole corpus, and
the search reads the freshly built index, which Spark holds in memory.
The last index built is saved and reloaded once, after the cycles.

``refresh``: a base index saved and reloaded during set-up; the write is
``BM25SparkIndex.add_transcripts`` of a delta, which is saved and reloaded,
and the search reads the reloaded version from disk (term pushdown over
parquet).
"""

from __future__ import annotations

from pathlib import Path

import data
from checks import Oracle, by_query
from harness import Recorder, median, remove_tree

from baguetter_spark import io as index_io
from baguetter_spark.engine import BM25SparkIndex
from baguetter_spark.gate import postings_digest_of
from baguetter_spark.merge import release_index
from baguetter_spark.operators.indexer import build_index
from baguetter_spark.operators.search import score_queries


def materialize(index) -> None:
    index.postings.count()
    index.doc_map.count()


def digest(index) -> set:
    return set(map(tuple, postings_digest_of(index).collect()))


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class Workload:
    name = ""
    exact_ties = True  # whether doc order among equal scores is canonical

    def __init__(self, spark, seed: int, work: Path, rec: Recorder) -> None:
        self.spark, self.seed, self.work, self.rec = spark, seed, work, rec
        self.cfg = data.index_config()
        self.attempted = 0
        self.failed = 0
        self.version = 0
        self.write_s: list[float] = []  # untraced write calls
        self.written_turns: list[int] = []
        self.written_text_bytes: list[int] = []
        self.saved_bytes: list[int] = []
        self.target = None  # the index the last cycle searched, for probe()

    def setup(self) -> None:
        q = data.queries(self.seed + 1, data.SMALL_BATCH, "s")
        self.queries = self.read_table(q, "queries")
        self.query_text = dict(zip(q["query_id"], q["text"]))
        self.prepare()

    def timed(self, call: str, fn):
        self.attempted += 1
        with self.rec.call(call):
            return fn()

    def verdict(self, ok: bool) -> None:
        if not ok:
            self.failed += 1

    def read_table(self, pdf, name: str):
        path = data.write_parquet(pdf, self.work / f"{name}.parquet")
        return self.spark.read.parquet(str(path))

    def write(self, fn, turns: int, text_bytes: int):
        index = self.timed("write", fn)
        if not self.rec.traced:
            self.write_s.append(self.rec.spans[-1].end - self.rec.spans[-1].start)
        self.written_turns.append(turns)
        self.written_text_bytes.append(text_bytes)
        return index

    def save_and_load(self, index):
        self.version += 1
        path = self.work / f"v{self.version:03d}"
        self.timed("io.save_index", lambda: index_io.save_index(index, str(path)))
        self.saved_bytes.append(dir_bytes(path))
        return self.timed("io.load_index", lambda: index_io.load_index(self.spark, str(path)))

    def search(self, index) -> dict:
        self.target = index
        return by_query(self.timed(
            "search.small_parity",
            lambda: score_queries(index, self.queries, top_k=data.TOP_K).collect(),
        ))

    def check_search(self, oracle: Oracle, got: dict) -> None:
        """Parity top-k equals the NumPy reference on every query."""
        self.verdict(all(
            oracle.matches(t, got.get(q, []), data.TOP_K, exact_ties=self.exact_ties)
            for q, t in self.query_text.items()
        ))

    def finish(self) -> None:
        """Work after the last cycle; none by default."""

    def probe(self) -> None:
        score_queries(self.target, self.queries, top_k=data.TOP_K).collect()

    def end_to_end(self, scale: float) -> dict:
        """Rates and latencies from the untraced calls; wall times are
        multiplied by ``scale``."""
        rates = [n / (t * scale) for n, t in zip(self.written_turns, self.write_s)]
        return {
            "write_turns_per_s": (median(rates), "turns/s"),
            "search_small_p50_s": (
                median(self.rec.walls("search.small_parity")) * scale, "s"
            ),
            "index_bytes_per_text_byte": (
                self.saved_bytes[-1] / data.text_bytes(self.corpus_now()), "ratio"
            ),
        }

    def layer_ratios(self, counters: dict) -> dict:
        text = median(self.written_text_bytes)
        return {
            "write.shuffle_bytes_per_text_byte": counters["write.shuffle_write_bytes"] / text,
            "io.save_index.bytes_per_written_text_byte": (
                self.saved_bytes[-1] / self.written_text_bytes[-1]
            ),
        }


class BuildSearch(Workload):
    name = "build_search"

    def prepare(self) -> None:
        spark = self.spark
        self.pdf = data.corpus(self.seed)
        self.corpus = self.read_table(self.pdf, "corpus")
        self.index = None  # the last build, released when the next one is made
        self.oracle = None
        # warm-up, one build and search of the corpus: JVM code generation
        # and the Python workers.  Save and load run once per run, after the
        # cycles, and time no end-to-end metric, so they are not warmed.
        warm = build_index(spark, self.corpus, self.cfg)
        materialize(warm)
        score_queries(warm, self.queries, top_k=data.TOP_K).collect()
        release_index(warm)

    def corpus_now(self):
        return self.pdf

    def cycle(self) -> None:
        def build():
            idx = build_index(self.spark, self.corpus, self.cfg)
            materialize(idx)
            return idx

        built = self.write(build, len(self.pdf), data.text_bytes(self.pdf))
        got = self.search(built)
        release_index(self.index)
        self.index = built
        if self.oracle is None:
            self.oracle = Oracle(self.pdf, self.cfg)
        self.check_search(self.oracle, got)

    def finish(self) -> None:
        """Save and reload the last index: the copy holds every turn and
        the built postings."""
        loaded = self.save_and_load(self.index)
        self.verdict(loaded.n_docs == len(self.pdf) and digest(self.index) == digest(loaded))


class Refresh(Workload):
    name = "refresh"
    # replaced turns take new doc positions (the divergence add_transcripts
    # documents), so equal scores may come in another order
    exact_ties = False

    def prepare(self) -> None:
        spark = self.spark
        self.current = data.corpus(self.seed)
        base = self.read_table(self.current, "base")
        # the engine continues from the saved base: a lineage-free index,
        # as a durable deployment restarts from its last version
        engine = BM25SparkIndex(spark, self.cfg).build(base)
        index_io.save_index(engine.index, str(self.work / "v000"))
        release_index(engine.index)
        engine.index = index_io.load_index(spark, str(self.work / "v000"))
        self.engine = engine

    def corpus_now(self):
        return self.current

    def cycle(self) -> None:
        """Add a delta, save and reload the new version, search it.  The
        reloaded index holds every turn of the refreshed corpus, and its
        search equals the reference over that corpus."""
        d = data.delta(self.seed, self.version + 1, self.current)
        delta_df = self.read_table(d, f"delta{self.version + 1:03d}")

        def add():
            self.engine.add_transcripts(delta_df)
            return self.engine.index

        written = self.write(add, len(d), data.text_bytes(d))
        loaded = self.save_and_load(written)
        got = self.search(loaded)
        self.current = data.apply_delta(self.current, d)
        self.verdict(loaded.n_docs == len(self.current))
        self.check_search(Oracle(self.current, self.cfg), got)
        remove_tree(self.work / f"v{self.version - 1:03d}")


WORKLOADS = {w.name: w for w in (BuildSearch, Refresh)}
