"""The benchmark's workloads, driven through the engine's public API.

Both workloads start with the same timed set-up on the fresh session:
`Indexer.index` of the whole corpus plus opening a `Searcher` on it. Every
end-to-end metric is reported by both; they differ in what they measure
most and in the state of the index their reads see:

  search  — read traffic on the freshly built, immutable index: a closed
            loop of point searches (1 client, `server.make_api` →
            `Searcher.search`, the gather/MaxScore path) for --seconds,
            then a `search_all` batch above the scatter threshold, saved
            with `Ranking.save`; its crawl-update cycle runs last, so no
            read sees update debt.
  ingest  — a crawl-update cycle (`IndexUpdater.remove` + `add` of
            re-captured pages), then a fresh `Searcher`, point searches
            for --seconds and a batch: every read hits tombstones and
            appended segments.

Every ranking is checked against the numpy oracle; an exception or a wrong
ranking counts as a failed operation.
"""

from __future__ import annotations

import statistics
import sys
import time
import traceback
from pathlib import Path

import numpy as np

import gen
import oracle
import spans

#: corpus and stream sizes (corpus and index are a few MB each, so every
#: read is served from the page cache)
NUM_DOCS = 5_000
VOCAB = 50_000
K = 10
BATCH_QUERIES = 96            # > Searcher._AUTO_SCATTER_QUERIES (64)
RECRAWL_PAGES = 100
MIN_POINT_CALLS = 5


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def index_bytes(root: Path) -> int:
    """On-disk size of an index, without the filesystem's .crc sidecars."""
    return sum(p.stat().st_size for p in root.rglob("*")
               if p.is_file() and not p.name.endswith(".crc"))


def postings_files(root: Path) -> int:
    return sum(1 for _ in (root / "postings").rglob("*.parquet"))


def read_ranking_tsv(path: Path) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list[tuple[int, int, float]]] = {}
    for line in path.read_text().splitlines():
        qid, pid, rank, score = line.split("\t")
        out.setdefault(int(qid), []).append((int(rank), int(pid), float(score)))
    return {q: [(p, s) for _, p, s in sorted(rows)] for q, rows in out.items()}


class Run:
    """One benchmark run: inputs, engine session, counters, samples."""

    def __init__(self, tracer: spans.Tracer, work: Path, seed: int,
                 seconds: float, cores: int):
        from colbert_spark import ColBERTConfig

        self.spark = self.docs = None
        self.tracer, self.work = tracer, work
        self.seed, self.seconds, self.cores = seed, seconds, cores
        self.cfg = ColBERTConfig(index_root=str(work / "indexes"))
        self.attempted = self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}   # per-layer metrics taken mid-run
        self.index_bytes = 0

    # -- inputs -----------------------------------------------------------
    def make_inputs(self) -> None:
        """Corpus, oracle and the corpus file; needs no Spark session, so
        it overlaps the JVM's start."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.pids, self.texts = gen.corpus(self.seed, NUM_DOCS, VOCAB)
        self.oracle = oracle.BM25Oracle(self.pids, self.texts)
        self.corpus_path = self.work / "corpus.parquet"
        pq.write_table(pa.table({"pid": self.pids, "text": self.texts}),
                       str(self.corpus_path))

    def attach(self, spark) -> None:
        self.spark = spark
        # an explicit schema spares a schema-inference job
        self.docs = spark.read.schema("pid long, text string").parquet(
            str(self.corpus_path))

    # -- bookkeeping ------------------------------------------------------
    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts as a failure."""
        self.attempted += 1
        t = time.time()
        try:
            return fn()
        except Exception:
            self.failed += 1
            print(f"[perfbench] {what} raised:", file=sys.stderr)
            traceback.print_exc()
            return None
        finally:
            print(f"[perfbench] {time.time() - t:7.2f} s  {what[:60]}",
                  file=sys.stderr, flush=True)

    def check(self, what: str, ok: bool) -> None:
        if not ok:
            self.failed += 1
            print(f"[perfbench] wrong ranking: {what}", file=sys.stderr)

    # -- operations -------------------------------------------------------
    def setup(self, name: str):
        """Build the index of the corpus and open a Searcher on it; one
        set-up sample."""
        from colbert_spark import Indexer, Searcher

        def run():
            with self.tracer.span("plans.indexer.index") as b:
                Indexer(self.cfg).index(name, self.docs)
            with self.tracer.span("plans.searcher.open") as o:
                searcher = Searcher(name, self.spark, self.cfg)
            self.sample("setup_s", b.wall + o.wall)
            self.sample("build_s", b.wall)
            return searcher

        return self.attempt(f"setup {name}", run)

    def open_searcher(self, name: str):
        from colbert_spark import Searcher

        def run():
            with self.tracer.span("plans.searcher.open"):
                return Searcher(name, self.spark, self.cfg)

        return self.attempt(f"open {name}", run)

    def point_search(self, api, query: str, record: bool = True) -> None:
        def run():
            with self.tracer.span("plans.searcher.search") as sp:
                hits = api(query, k=K)
            if record:
                self.sample("search_s", sp.wall)
            got = [(h["pid"], h["score"]) for h in hits]
            want = self.oracle.search(query, K)
            self.check(query, oracle.same_ranking(got, want))

        self.attempt(f"search {query!r}", run)

    def batch_search(self, searcher, queries: list[str], path: Path) -> None:
        qmap = dict(enumerate(queries))

        def run():
            with self.tracer.span("plans.searcher.search_all") as sp:
                searcher.search_all(qmap, k=K).save(str(path))
            self.sample("batch_qps", len(queries) / sp.wall)
            self.sample("scored_pairs", self.scored_pairs(queries))
            got = read_ranking_tsv(path)
            bad = [q for qid, q in qmap.items() if not oracle.same_ranking(
                got.get(qid, []), self.oracle.search(q, K))]
            self.check(f"{len(bad)} of {len(queries)} batch queries", not bad)

        self.attempt(f"batch of {len(queries)}", run)

    def update_cycle(self, updater, index_root: Path, pids: np.ndarray) -> None:
        """Remove then re-add identical re-captured pages."""
        import pandas as pd

        pages = pd.DataFrame({"pid": pids,
                              "text": [self.texts[int(p)] for p in pids]})

        def run():
            batch = self.spark.createDataFrame(pages)
            with self.tracer.span("plans.index_updater.remove") as r:
                updater.remove([int(p) for p in pids])
            before = postings_files(index_root)
            with self.tracer.span("plans.index_updater.add") as a:
                updater.add(batch)
            a.attrs["files_written"] = postings_files(index_root) - before
            self.sample("update_s", r.wall + a.wall)

        self.attempt(f"update cycle of {len(pids)} pages", run)

    def after_reads(self, searcher, api, queries: list[str]) -> None:
        """What the reads left, taken before any update (whose catalog
        refresh drops every cached frame of the index): persisted RDDs
        and, in a traced run, the read-side layer probes."""
        self.layer["plans.searcher.persisted_rdds"] = len(
            self.spark.sparkContext._jsc.getPersistentRDDs())
        if self.tracer.enabled:
            import layers

            self.layer.update(layers.probe_reads(self, searcher, api, queries))

    def scored_pairs(self, queries: list[str]) -> int:
        """Σ df × (queries holding the term) — postings a batch scores."""
        nq: dict[str, int] = {}
        for q in queries:
            for t in self.oracle.query_terms(q):
                nq[t] = nq.get(t, 0) + 1
        return sum(self.oracle.df(t) * n for t, n in nq.items())


# -- workloads ----------------------------------------------------------------
def _setup(run: Run):
    """The timed set-up of index B over the whole corpus. It runs on a cold
    JVM, as a fresh deployment's first build does: an untimed warm-up build
    would cost as much again, and a run must stay near a minute."""
    searcher = run.setup("B")
    if searcher is None:
        raise RuntimeError("set-up failed")
    run.index_bytes = index_bytes(run.work / "indexes" / "B")
    return searcher


def _point_loop(run: Run, api, queries: list[str]) -> list[str]:
    """Closed loop, one client. The first call is checked but not timed:
    it pays the JIT and code generation of the search path, which a
    long-running server pays once. Then timed calls until --seconds have
    passed and at least MIN_POINT_CALLS were made. Returns the queries
    asked."""
    run.point_search(api, queries[0], record=False)
    t0 = time.time()
    asked: list[str] = []
    for q in queries[1:]:
        if len(asked) >= MIN_POINT_CALLS and time.time() - t0 >= run.seconds:
            break
        run.point_search(api, q)
        asked.append(q)
    return asked


def _updater(run: Run, name: str):
    from colbert_spark.plans.index_updater import IndexUpdater

    updater = run.attempt(f"open updater {name}",
                          lambda: IndexUpdater(name, run.spark, run.cfg))
    if updater is None:
        raise RuntimeError("updater failed to open")
    return updater


def search_workload(run: Run) -> None:
    from colbert_spark.server import make_api

    searcher = _setup(run)
    api = make_api(searcher)
    asked = _point_loop(run, api, gen.queries(run.seed, 0, 400, VOCAB))
    run.batch_search(searcher, gen.queries(run.seed, 1, BATCH_QUERIES, VOCAB),
                     run.work / "batch.tsv")
    run.after_reads(searcher, api, asked)
    run.update_cycle(_updater(run, "B"), run.work / "indexes" / "B",
                     gen.recrawl(run.seed, NUM_DOCS, RECRAWL_PAGES))


def ingest_workload(run: Run) -> None:
    from colbert_spark.server import make_api

    _setup(run)
    pids = gen.recrawl(run.seed, NUM_DOCS, RECRAWL_PAGES)
    run.update_cycle(_updater(run, "B"), run.work / "indexes" / "B", pids)
    searcher = run.open_searcher("B")
    if searcher is None:
        raise RuntimeError("searcher failed to open after the update")
    api = make_api(searcher)
    # queries over the re-crawled pages, so re-added documents rank
    pages = [run.texts[int(p)] for p in pids]
    asked = _point_loop(run, api,
                        gen.page_queries(run.seed, 0, pages, 100, VOCAB))
    run.batch_search(searcher, gen.queries(run.seed, 1, BATCH_QUERIES, VOCAB),
                     run.work / "batch.tsv")
    run.after_reads(searcher, api, asked)


WORKLOADS = {"search": search_workload, "ingest": ingest_workload}


def end_to_end(run: Run,
               peak_rss_mb: float) -> dict[str, tuple[float, str, str]]:
    """name → (value, unit, how it was taken)."""
    def med(name, unit):
        xs = run.samples[name]
        return median(xs), unit, f"median of {len(xs)}"

    return {
        "setup_s": med("setup_s", "s"),
        "search_p50_s": med("search_s", "s"),
        "batch_qps": med("batch_qps", "1/s"),
        "update_p50_s": med("update_s", "s"),
        "index_bytes_per_text_byte": (
            run.index_bytes / run.oracle.text_bytes, "ratio",
            "index B after its build"),
        "peak_rss_mb": (peak_rss_mb, "MB", "whole process tree"),
    }


def build_docs_per_s(run: Run) -> float:
    """Corpus pages over the set-up's build time; printed, not gated, as it
    restates the build share of setup_s."""
    return NUM_DOCS / median(run.samples["build_s"])
