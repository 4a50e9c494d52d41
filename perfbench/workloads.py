"""The benchmark's workloads and the run that drives them.

Both workloads run every operation type, so each reports every
end-to-end metric, but they weight the layers differently:

- ``bulk``: large positions-free snapshots (3000 pages), so per-document
  analysis and posting work outweigh each build's fixed stage cost; query
  strings that are all new in the run, so every query misses the plan and
  term-stats caches.
- ``refresh``: small positional snapshots (100 pages); query strings drawn
  Zipf-skewed from a fixed pool of a few hundred (phrases included), one
  of them re-sent, so the plan cache is hit.

After the set-up (session, input generation, Iceberg staging, base
build, warm-up) a run does ``round(seconds / ROUND_S)`` rounds, at least
one, so the work of a run depends on ``--seconds`` only, never on how
fast the program is.  A round is three refreshes (commit a snapshot,
sync it, find its pages through a fresh Searcher), each followed by a
query burst through that Searcher over the grown multi-segment index,
with ``search_wand`` on its disjunctions and one ``search_batch`` call,
so the queries of a run are spread over all of it.  Every round attempts
the same operations.  A traced run adds, outside the timed window, the
block-max kernel on the same disjunctions, the analyzer on a text
sample, a re-crawl through ``update_documents`` and a full merge, each
checked against the oracle.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np

from perfbench.corpus import (
    ICEBERG_FIELDS,
    PageGenerator,
    QueryGenerator,
    Vocabulary,
    marker,
    render,
)
from perfbench.oracle import Oracle, compare
from perfbench.probes import ProcTree, SparkCounters, Tracer, host_steal

K = 10  # page size of every query
SPARK_CORES = 2  # below nproc (4): the driver, py4j and the sampler need cores too
MIB = 1024 * 1024

E2E_UNITS = {
    "setup_s": "s",
    "build_docs_per_s": "1/s",
    "index_bytes_per_text_byte": "ratio",
    "query_p50_ms": "ms",
    "wand_p50_ms": "ms",
    "batch_queries_per_s": "1/s",
    "refresh_lag_s": "s",
    "peak_rss_mib": "MiB",
}

LAYER_UNITS = {
    "iceberg.sync_s": "s",
    "analysis.tokens_per_s": "1/s",
    "build.segment_s": "s",
    "build.docmap_s": "s",
    "build.analyze_s": "s",
    "build.postings_s": "s",
    "build.terms_s": "s",
    "build.doclens_s": "s",
    "build.blocks_s": "s",
    "build.postings_rows": "count",
    "store.postings_bytes": "bytes",
    "store.terms_bytes": "bytes",
    "store.blocks_bytes": "bytes",
    "store.doclens_bytes": "bytes",
    "store.docmap_bytes": "bytes",
    "store.segments": "count",
    "store.tombstones": "count",
    "merge.merge_s": "s",
    "merge.docs_rewritten": "count",
    "merge.update_s": "s",
    "parser.parse_ms": "ms",
    "query.index_open_ms": "ms",
    "query.plan_ms": "ms",
    "query.collect_ms": "ms",
    "query.spark_jobs": "count",
    "query.spark_stages": "count",
    "query.spark_tasks": "count",
    "wand.plan_ms": "ms",
    "wand.collect_ms": "ms",
    "wand.kernel_ms": "ms",
    "batch.plan_ms": "ms",
    "batch.collect_ms": "ms",
    "batch.spark_stages": "count",
    "jvm.gc_ms.setup": "ms",
    "jvm.gc_ms.write": "ms",
    "jvm.gc_ms.read": "ms",
    "proc.cpu_s.setup": "s",
    "proc.cpu_s.write": "s",
    "proc.cpu_s.read": "s",
    "trace.query_p50_ms": "ms",
    "trace.overhead_pct": "%",
    "trace.flagged_calls": "count",
}

# stage marker name -> per-layer metric (seconds the build recorded)
BUILD_STAGES = {
    "docmap": "build.docmap_s",
    "postings_raw": "build.analyze_s",
    "postings": "build.postings_s",
    "terms": "build.terms_s",
    "doclens": "build.doclens_s",
    "blocks": "build.blocks_s",
}
STORE_TABLES = ("postings", "terms", "blocks", "doclens", "docmap")
TOP_LEVEL = {"op.refresh", "op.update", "op.query", "op.wand", "op.batch", "op.merge"}


@dataclass(frozen=True)
class Spec:
    name: str
    positions: bool
    base_pages: int  # the set-up table
    delta_pages: int  # new pages per snapshot
    refreshes: int  # snapshots per round
    update_pages: int  # pages a traced run re-crawls
    median_len: int  # median content tokens per page
    pool: bool  # False: every query string new in the run; True: drawn from POOL


WORKLOADS = {
    "bulk": Spec("bulk", False, base_pages=400, delta_pages=3000, refreshes=3, update_pages=20, median_len=150,
                 pool=False),
    "refresh": Spec("refresh", True, base_pages=400, delta_pages=100, refreshes=3, update_pages=20, median_len=120,
                    pool=True),
}

# The burst after each refresh: N_OR disjunctions (each also sent through
# search_wand), N_AND conjunctions and its share of the special kinds,
# dealt round-robin over the refreshes of a round; the pool workload
# re-sends its first disjunction at the end, a plan-cache hit.  One
# search_batch call takes the disjunctions and conjunctions together.
N_OR, N_AND = 3, 2
WARM_UP = 1  # disjunction-conjunction pairs the set-up sends before any timing
ROUND_S = 30  # seconds of --seconds per round
SPECIALS = {True: ("prefix", "phrase", "fuzzy", "andnot"),
            False: ("prefix", "term", "fuzzy", "andnot")}
POOL = {"or": 90, "and": 90, "prefix": 30, "phrase": 30, "fuzzy": 30, "andnot": 30}  # 300 strings


class CheckFailed(Exception):
    pass


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _rows(df) -> list[tuple[int, float]]:
    return [(int(r["docid"]), float(r["score"])) for r in df.collect()]


class Run:
    def __init__(self, spec: Spec, seed: int, seconds: float, trace: bool, work: str):
        self.spec = spec
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer(trace)
        self.samples: dict[str, list[float]] = {}
        self.totals: dict[str, list[float]] = {}  # throughput metrics: [work, seconds]
        self.layer: dict[str, list[float]] = {}
        self.attempted: Counter = Counter()
        self.failed: Counter = Counter()
        self.problems: list[str] = []
        self.proc = ProcTree()
        self.vocab = Vocabulary()
        self.phase_gc: Counter = Counter()
        self.phase_cpu: Counter = Counter()
        self.per_burst: list[dict] = []
        self.req_text: dict[int, str] = {}  # traced request id -> query string
        self.job_groups: list[tuple[str, str]] = []  # traced calls to count
        self.t0 = time.perf_counter()

    # ---------------------------------------------------------- helpers
    def note(self, msg: str) -> None:
        """Timeline on stderr: seconds since the run began."""
        print(f"perfbench {time.perf_counter() - self.t0:7.2f}s {msg}", file=sys.stderr, flush=True)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))

    def add_total(self, name: str, work: float, seconds: float) -> None:
        t = self.totals.setdefault(name, [0.0, 0.0])
        t[0] += work
        t[1] += seconds

    def value(self, name: str) -> float:
        """A throughput is all its work over all its seconds; every other
        end-to-end metric is the median of its samples."""
        if name in self.totals:
            work, seconds = self.totals[name]
            return work / seconds
        return statistics.median(self.samples[name])

    def layer_add(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(float(value))

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)

    @contextmanager
    def phase(self, name: str):
        """JVM GC time and process-tree CPU time of a phase (traced runs)."""
        if not self.trace:
            yield
            return
        gc0, cpu0 = self.counters.gc_ms(), self.proc.cpu_s()
        try:
            yield
        finally:
            self.phase_gc[name] += self.counters.gc_ms() - gc0
            self.phase_cpu[name] += self.proc.cpu_s() - cpu0

    # ---------------------------------------------------------- session
    def start_session(self) -> None:
        from whoosh_novo_spark.session import get_spark

        local = os.path.join(self.work, "spark-local")
        jtmp = os.path.join(self.work, "jvm-tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(jtmp, exist_ok=True)
        self.spark = get_spark(
            "perfbench",
            cores=SPARK_CORES,
            shuffle_partitions=SPARK_CORES,
            extra_conf={
                # the session factory defaults to 16g; the host has 15 GiB
                "spark.driver.memory": "1g",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.counters = SparkCounters(self.spark)

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers) to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gw = spark.sparkContext._gateway
        jvm_proc = getattr(gw, "proc", None)
        spark.stop()
        gw.shutdown()
        if jvm_proc is not None:
            try:
                jvm_proc.stdin.close()
                jvm_proc.wait(timeout=60)
            except Exception:
                jvm_proc.kill()
                jvm_proc.wait()

    # ---------------------------------------------------------- program calls
    def _config(self):
        from whoosh_novo_spark.schema import FieldConfig, IndexConfig

        return IndexConfig(
            id_col="url",
            stored_cols=(),
            fields=(FieldConfig("text", positions=self.spec.positions),),
        )

    def _stage(self, name: str, pages_list) -> None:
        """Write pages as one parquet file and commit it as a snapshot."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from whoosh_novo_spark.sources.iceberg import append_snapshot

        os.makedirs(os.path.join(self.loc, "data"), exist_ok=True)
        path = os.path.join(self.loc, "data", f"{name}.parquet")
        table = pa.concat_tables([p.arrow() for p in pages_list])
        pq.write_table(table, path)
        append_snapshot(self.loc, [(path, {}, table.num_rows, os.path.getsize(path))], ICEBERG_FIELDS)

    def _sync(self, req: int) -> float:
        from whoosh_novo_spark.sources.iceberg import sync_index_from_iceberg

        t0 = time.perf_counter()
        with self.tracer.span("iceberg.sync", req):
            sync_index_from_iceberg(self.spark, self.loc, self.store, self.cfg, columns=["url", "text"])
        return time.perf_counter() - t0

    def _open(self, req: int):
        from whoosh_novo_spark.operators.query import Index, Searcher

        t0 = time.perf_counter()
        with self.tracer.span("query.index_open", req):
            s = Searcher(Index(self.spark, self.store, self.cfg))
        self.layer_add("query.index_open_ms", (time.perf_counter() - t0) * 1e3)
        return s

    def _query(self, searcher, text: str, limit: int, req: int, record: bool):
        """parse -> search -> collect; returns (rows, seconds)."""
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("parser.parse", req):
            q = self.parser.parse(text)
        t1 = time.perf_counter()
        gid = self.counters.begin() if self.trace and record else None
        with tr.span("query.plan", req):
            df = searcher.search(q, limit=limit)
        t2 = time.perf_counter()
        with tr.span("query.collect", req):
            rows = _rows(df)
        t3 = time.perf_counter()
        if gid is not None:
            self.counters.end()
            self.job_groups.append(("query", gid))
        if record:
            self.layer_add("parser.parse_ms", (t1 - t0) * 1e3)
            self.layer_add("query.plan_ms", (t2 - t1) * 1e3)
            self.layer_add("query.collect_ms", (t3 - t2) * 1e3)
        return rows, t3 - t0

    def _count_jobs(self) -> None:
        """Spark jobs, stages and tasks of the traced calls (untimed)."""
        for kind, gid in self.job_groups:
            n = self.counters.count(gid)
            if kind == "query":
                self.layer_add("query.spark_jobs", n["jobs"])
                self.layer_add("query.spark_stages", n["stages"])
                self.layer_add("query.spark_tasks", n["tasks"])
            else:
                self.layer_add("batch.spark_stages", n["stages"])
        self.job_groups.clear()

    def _newest_segment(self):
        return self.store.read_manifest().segments[-1]

    def _record_build(self, seg, docs: int, sync_s: float) -> None:
        self.add_total("build_docs_per_s", docs, sync_s)
        self.layer_add("iceberg.sync_s", sync_s)
        self.layer_add("build.segment_s", seg.meta.get("build_seconds", sync_s))
        for stage, name in BUILD_STAGES.items():
            m = self.store.read_stage_marker(seg.segment_id, stage)
            if m is not None and "seconds" in m:
                self.layer_add(name, m["seconds"])
        m = self.store.read_stage_marker(seg.segment_id, "postings")
        if m is not None and "file_rows" in m:
            self.layer_add("build.postings_rows", sum(m["file_rows"].values()))

    def _store_bytes(self) -> dict[str, int]:
        """Bytes of the committed store: the segments the current
        manifest names and its tombstone table, total and per table."""
        man = self.store.read_manifest()
        out = {t: 0 for t in STORE_TABLES}
        total = 0
        for s in man.segments:
            d = self.store.segment_dir(s.segment_id)
            total += _dir_bytes(d)
            for t in STORE_TABLES:
                if os.path.isdir(os.path.join(d, t)):
                    out[t] += _dir_bytes(os.path.join(d, t))
        tomb = self.store.tombstones_dir(man)
        if tomb is not None and os.path.isdir(tomb):
            total += _dir_bytes(tomb)
        out["total"] = total
        return out

    # ---------------------------------------------------------- set-up
    def setup(self) -> None:
        """Session start, input generation, Iceberg staging, the base
        build and a warm-up of the read path.  Done once per process: the
        first build and the warm-up pay the JVM's JIT and code-generation
        warm-up, so every later operation of the run is measured warm.
        The oracle's work between the two timed parts is not timed."""
        from whoosh_novo_spark.plans.parser import QueryParser
        from whoosh_novo_spark.sources.segment_store import SegmentStore

        spec = self.spec
        t0 = time.perf_counter()
        self.start_session()
        self.note(f"session {time.perf_counter() - t0:.2f}s")
        # the base's last pages are generation 0, which the set-up re-crawls
        n_plain = spec.base_pages - spec.base_pages // 4
        with self.phase("setup"):
            self.gen = PageGenerator(self.vocab, np.random.default_rng([self.seed, 1]), spec.median_len)
            plain = self.gen.pages(list(range(n_plain)), None)
            gen0 = self.gen.pages(list(range(n_plain, spec.base_pages)), marker("mark", 0))
            self.base = (plain, gen0)
            self.loc = os.path.join(self.work, "table")
            self._stage("base", [plain, gen0])
            self.store = SegmentStore(os.path.join(self.work, "index"))
            self.cfg = self._config()
            self.parser = QueryParser("text")
            self._sync(self.tracer.request())
        setup_s = time.perf_counter() - t0

        seg = self._newest_segment().segment_id
        self.oracle = Oracle(self.vocab.words)
        self.page_text: dict[str, str] = {}
        for p in self.base:
            self.oracle.add(p, seg)
            self.page_text.update(zip(p.urls, p.texts))
        self._check_stats()
        self.rng = np.random.default_rng([self.seed, 2])
        self.gen0 = list(range(n_plain, spec.base_pages))
        self.next_page = spec.base_pages
        self.qgen = QueryGenerator(self.vocab, self.rng, plain.tokens)
        self.seen: set[str] = set()
        t1 = time.perf_counter()
        with self.phase("setup"):
            self._warm_up()
        warm_s = time.perf_counter() - t1
        setup_s += warm_s
        self.add("setup_s", setup_s)
        self.note(f"set-up {setup_s:.2f}s (warm-up {warm_s:.2f}s)")
        if spec.pool:
            self.pool = {}
            for k, n in POOL.items():
                qs, texts = [], set()
                while len(qs) < n:
                    q = self.qgen.make(k)
                    if render(q) not in texts:
                        texts.add(render(q))
                        qs.append(q)
                self.pool[k] = qs

    def _warm_up(self) -> None:
        """Queries, search_wand and search_batch on the base index, with
        query strings the run never sends again.  In a fresh JVM the first
        of these calls take two to three times as long as later ones."""
        from whoosh_novo_spark.operators.batch import search_batch
        from whoosh_novo_spark.operators.query import Index, Searcher
        from whoosh_novo_spark.operators.wand import search_wand

        s = Searcher(Index(self.spark, self.store, self.cfg))
        texts = [render(self._new_query(k)) for k in ("or", "and") * WARM_UP]
        for t in texts:
            _rows(s.search(self.parser.parse(t), limit=K))
        for t in texts[::2]:
            _rows(search_wand(s, self.parser.parse(t), limit=K))
        for i in range(0, len(texts), 2):
            pair = {f"q{j}": self.parser.parse(t) for j, t in enumerate(texts[i:i + 2])}
            search_batch(s, pair, limit=K).collect()

    def _check_stats(self) -> None:
        """Document count and df of sampled terms equal the generator's."""
        from whoosh_novo_spark.operators.query import Index

        ix = Index(self.spark, self.store, self.cfg)
        self.check(
            ix.doc_count_all == self.oracle.n_docs,
            f"doc count {ix.doc_count_all} != generated {self.oracle.n_docs}",
        )
        words = [str(self.vocab.words[i]) for i in (0, 1, 5, 20, 100, 400, 1500, 6000)]
        words.append(marker("mark", 0))
        stats = ix.term_stats([("text", w) for w in words])
        for w in words:
            st = stats.get(("text", w))
            got = 0 if st is None else int(st.df)
            self.check(got == self.oracle.df(w), f"df({w}) {got} != generated {self.oracle.df(w)}")

    # ---------------------------------------------------------- one round
    def round(self, r: int) -> None:
        """Snapshot refreshes, each followed by a query burst over the
        grown index, so the queries of a run are spread over all of it."""
        n = self.spec.refreshes
        for i in range(n):
            c = n * (r - 1) + i + 1
            s = self.refresh(c)
            with self.phase("read"):
                self.burst(c, s, SPECIALS[self.spec.positions][i::n])

    def refresh(self, c: int):
        """A snapshot of new pages, each carrying marker c; the lag runs
        from the snapshot commit until a fresh Searcher returns all of
        them."""
        spec, tr = self.spec, self.tracer
        ids = list(range(self.next_page, self.next_page + spec.delta_pages))
        self.next_page += spec.delta_pages
        pages = self.gen.pages(ids, marker("mark", c))
        self._stage(f"snapshot-{c}", [pages])
        req = tr.request()
        with self.phase("write"), tr.span("op.refresh", req):
            t0 = time.perf_counter()
            sync_s = self._sync(req)
            s = self._open(req)
            rows, _ = self._query(s, marker("mark", c), spec.delta_pages, req, False)
            lag = time.perf_counter() - t0
        self.attempted["refresh"] += 1
        self.add("refresh_lag_s", lag)
        self.note(f"refresh {c}: {lag:.2f}s (sync {sync_s:.2f}s)")
        seg = self._newest_segment()
        self.oracle.add(pages, seg.segment_id)
        self.page_text.update(zip(pages.urls, pages.texts))
        self.check(len(rows) == spec.delta_pages, f"snapshot {c}: {len(rows)} of {spec.delta_pages} new pages visible")
        self._record_build(seg, spec.delta_pages, sync_s)
        return s

    def recrawl(self) -> None:
        """Re-crawl pages of generation 0 with ``update_documents`` (traced
        runs, after the timed window): the new versions must be returned,
        the old ones gone, and queries over the tombstones must still
        agree with the oracle."""
        import pandas as pd

        from whoosh_novo_spark.operators.merge import update_documents

        spec, tr = self.spec, self.tracer
        prev = self.gen0
        victims = sorted(self.rng.choice(prev, spec.update_pages, replace=False).tolist())
        new = self.gen.pages(victims, marker("ver", 0))
        docs = self.spark.createDataFrame(pd.DataFrame({"url": new.urls, "text": new.texts}))
        req = tr.request()
        with tr.span("op.update", req):
            t0 = time.perf_counter()
            with tr.span("merge.update", req):
                update_documents(self.spark, self.store, self.cfg, docs)
            t1 = time.perf_counter()
            s = self._open(req)
            got_new, _ = self._query(s, marker("ver", 0), spec.update_pages, req, False)
            got_old, _ = self._query(s, marker("mark", 0), len(prev), req, False)
        self.attempted["update"] += 1
        self.layer_add("merge.update_s", t1 - t0)
        self.tombstones = s.index.manifest.deleted_count
        self.note(f"re-crawl: update_documents {t1 - t0:.2f}s")
        self.oracle.add(new, self._newest_segment().segment_id)
        self.page_text.update(zip(new.urls, new.texts))
        self.check(len(got_new) == spec.update_pages, f"{len(got_new)} of {spec.update_pages} re-crawled versions")
        self.check(
            len(got_old) == len(prev) - spec.update_pages,
            f"{len(got_old)} pages of generation 0, want {len(prev) - spec.update_pages}",
        )
        self._oracle_check(s, "over tombstones")

    def _burst_queries(self, specials) -> list:
        spec = self.spec
        kinds = ["or"] * N_OR + ["and"] * N_AND + list(specials)
        if not spec.pool:
            return [self._new_query(k) for k in kinds]
        out = []
        for k in kinds:
            pool = self.pool[k]
            w = np.arange(1, len(pool) + 1, dtype=np.float64) ** -1.1
            out.append(pool[int(self.rng.choice(len(pool), p=w / w.sum()))])
        return out + [out[0]]

    def _new_query(self, kind: str):
        """A query whose string the run has not sent yet."""
        while True:
            q = self.qgen.make(kind)
            if render(q) not in self.seen:
                self.seen.add(render(q))
                return q

    def burst(self, c: int, s, specials) -> None:
        """Queries, search_wand and search_batch through the Searcher that
        found snapshot c's pages."""
        from whoosh_novo_spark.operators.batch import search_batch
        from whoosh_novo_spark.operators.wand import search_wand

        tr = self.tracer
        burst = self._burst_queries(specials)
        results: dict[str, list] = {}
        for q in burst:
            text = render(q)
            req = tr.request()
            self.req_text[req] = text
            self.attempted["query"] += 1
            try:
                with tr.span("op.query", req):
                    rows, lat = self._query(s, text, K, req, True)
            except Exception as e:  # a failed query is counted; the run goes on
                self.failed["query"] += 1
                print(f"perfbench: query {text!r} failed: {type(e).__name__}: {e}", file=sys.stderr)
                continue
            self.add("query_p50_ms", lat * 1e3)
            results[text] = rows

        wand_rows = {}
        for q in burst[:N_OR]:
            text = render(q)
            req = tr.request()
            self.req_text[req] = text
            with tr.span("op.wand", req):
                t0 = time.perf_counter()
                with tr.span("parser.parse", req):
                    pq = self.parser.parse(text)
                with tr.span("wand.plan", req):
                    df = search_wand(s, pq, limit=K)
                t1 = time.perf_counter()
                with tr.span("wand.collect", req):
                    rows = _rows(df)
                t2 = time.perf_counter()
            self.attempted["wand"] += 1
            self.add("wand_p50_ms", (t2 - t0) * 1e3)
            self.layer_add("wand.plan_ms", (t1 - t0) * 1e3)
            self.layer_add("wand.collect_ms", (t2 - t1) * 1e3)
            wand_rows[text] = (pq, rows)

        batch_rows = []
        for qs in [burst[:N_OR + N_AND]]:
            texts = [render(q) for q in qs]
            req = tr.request()
            with tr.span("op.batch", req):
                t0 = time.perf_counter()
                with tr.span("parser.parse", req):
                    parsed = {f"q{i}": self.parser.parse(t) for i, t in enumerate(texts)}
                gid = self.counters.begin() if self.trace else None
                with tr.span("batch.plan", req):
                    df = search_batch(s, parsed, limit=K)
                t1 = time.perf_counter()
                with tr.span("batch.collect", req):
                    brows = df.collect()
                t2 = time.perf_counter()
            if gid is not None:
                self.counters.end()
                self.job_groups.append(("batch", gid))
            self.attempted["batch"] += 1
            self.add_total("batch_queries_per_s", len(texts), t2 - t0)
            self.layer_add("batch.plan_ms", (t1 - t0) * 1e3)
            self.layer_add("batch.collect_ms", (t2 - t1) * 1e3)
            batch_rows.append((texts, brows))
        self.note(f"burst {c}: {len(burst)} queries, {len(wand_rows)} wand, {len(batch_rows)} batch")

        # ---- counts and checks, never timed
        if self.trace:
            self._count_jobs()
        man = s.index.manifest
        self.per_burst.append({"snapshot": c, "segments": len(man.segments), "tombstones": man.deleted_count})
        urls = self._docmap(s)
        self.check(
            len(urls) == self.oracle.live_count(),
            f"live docs {len(urls)} != appended minus deleted {self.oracle.live_count()}",
        )
        for q in burst:
            text = render(q)
            if text in results:
                why = compare([(urls.get(d), sc) for d, sc in results[text]], self.oracle, q, K)
                self.check(why is None, f"{text!r}: {why}")
        for text, (pq, rows) in wand_rows.items():
            self.check(_same_rows(rows, results.get(text)), f"search_wand != search for {text!r}")
            if self.trace:
                # the block-max kernel on the same disjunction: a per-layer
                # figure, timed outside the measured operations
                t0 = time.perf_counter()
                krows = _rows(search_wand(s, pq, limit=K, force_kernel=True))
                self.layer_add("wand.kernel_ms", (time.perf_counter() - t0) * 1e3)
                self.check(_same_rows(krows, rows), f"wand kernel != default route for {text!r}")
        for texts, brows in batch_rows:
            by_q: dict[str, list] = {}
            for r in sorted(brows, key=lambda r: (r["qid"], r["rank"])):
                by_q.setdefault(r["qid"], []).append((int(r["docid"]), float(r["score"])))
            for i, t in enumerate(texts):
                self.check(_same_rows(by_q.get(f"q{i}", []), results.get(t)), f"search_batch != search for {t!r}")

    def _docmap(self, s) -> dict[int, str]:
        return {
            int(r["docid"]): r["url"]
            for r in s.index.docmap(columns=["docid", "url"], apply_deletes=True).collect()
        }

    # ---------------------------------------------------------- whole run
    def run(self) -> dict:
        steal0 = host_steal()
        self.proc.start()
        try:
            self.setup()
            t_start = time.perf_counter()
            rounds = max(1, round(self.seconds / ROUND_S))
            for r in range(1, rounds + 1):
                self.round(r)
            window_s = time.perf_counter() - t_start
            store_bytes = self._store_bytes()
            text = sum(len(self.page_text[u].encode("utf-8")) for u in self.oracle.live_by_url)
            self.add("index_bytes_per_text_byte", store_bytes["total"] / text)
            if self.trace:
                self._analysis_rate()
                self.recrawl()
                self._final_merge()
        finally:
            self.proc.stop()
        self.add("peak_rss_mib", self.proc.peak_mem / MIB)
        steal1 = host_steal()
        self.steal_pct = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        self.note(f"memory sampler used {self.proc.sampler_cpu_s:.2f}s of CPU; host steal {self.steal_pct:.1f}%")
        self.note(f"done: {rounds} rounds in {window_s:.2f}s")
        for k, v in self.samples.items():
            self.note(f"{k}: {len(v)} samples, min {min(v):.4g} median {statistics.median(v):.4g} max {max(v):.4g}")
        out = {"e2e": {k: self.value(k) for k in E2E_UNITS}}
        if self.trace:
            out["layers"] = self._layers(store_bytes, window_s)
        return out

    def _final_merge(self) -> None:
        """Full merge, then the oracle on fresh queries: compaction must
        keep every live page and score as whoosh would."""
        from whoosh_novo_spark.operators.merge import merge_segments

        man = self.store.read_manifest()
        req = self.tracer.request()
        with self.tracer.span("op.merge", req):
            t0 = time.perf_counter()
            with self.tracer.span("merge.merge", req):
                merge_segments(self.spark, self.store, self.cfg)
            merge_s = time.perf_counter() - t0
        self.attempted["merge"] += 1
        seg = self._newest_segment()
        written = self.oracle.merge([x.segment_id for x in man.segments], seg.segment_id)
        self.check(seg.doc_count == written, f"full merge wrote {seg.doc_count} docs, oracle {written}")
        self.layer_add("merge.merge_s", merge_s)
        self.layer_add("merge.docs_rewritten", seg.doc_count)
        self.note(f"full merge {merge_s:.2f}s")
        self._oracle_check(self._open(0), "after the full merge")

    def _oracle_check(self, s, when: str) -> None:
        """Fresh queries of every kind against the oracle (untimed)."""
        urls = self._docmap(s)
        self.check(len(urls) == self.oracle.live_count(), f"live docs {when}")
        kinds = ("or", "and") + SPECIALS[self.spec.positions]
        for q in [self.qgen.make(k) for k in kinds] + [("term", marker("mark", 1))]:
            rows, _ = self._query(s, render(q), K, 0, False)
            why = compare([(urls.get(d), sc) for d, sc in rows], self.oracle, q, K)
            self.check(why is None, f"{when}: {render(q)!r}: {why}")

    def _analysis_rate(self) -> None:
        import pandas as pd

        from whoosh_novo_spark.functions.analysis import standard_analyze_batch

        texts = pd.Series(self.base[0].texts[:300])
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            n = len(standard_analyze_batch(texts).term)
            rates.append(n / (time.perf_counter() - t0))
        self.layer_add("analysis.tokens_per_s", statistics.median(rates))

    def _layers(self, store_bytes: dict, window_s: float) -> dict:
        out = {k: statistics.median(v) for k, v in self.layer.items()}
        for t in STORE_TABLES:
            out[f"store.{t}_bytes"] = store_bytes[t]
        out["store.segments"] = self.per_burst[-1]["segments"]
        out["store.tombstones"] = self.tombstones
        for ph in ("setup", "write", "read"):
            out[f"jvm.gc_ms.{ph}"] = self.phase_gc[ph]
            out[f"proc.cpu_s.{ph}"] = self.phase_cpu[ph]
        out["trace.query_p50_ms"] = statistics.median(self.samples["query_p50_ms"])
        cost = self.tracer.span_cost_s()
        out["trace.overhead_pct"] = 100.0 * len(self.tracer.spans) * cost / window_s
        self.trace_summary = self.tracer.summary(TOP_LEVEL)
        out["trace.flagged_calls"] = len(self.trace_summary["flagged"])
        missing = [k for k in LAYER_UNITS if k not in out]
        if missing:
            raise CheckFailed(f"traced run is missing {missing}")
        return {k: out[k] for k in LAYER_UNITS}


def _same_rows(a, b) -> bool:
    """Two top-k (docid, score) pages agree: equal scores place by
    place, and the same documents strictly above the last score (a tie
    there may be filled by either document)."""
    if b is None or len(a) != len(b):
        return False
    tol = 1e-9
    for (_, s1), (_, s2) in zip(a, b):
        if abs(s1 - s2) > tol * max(1.0, abs(s1)):
            return False
    if not a:
        return True
    cut = a[-1][1] + tol * max(1.0, abs(a[-1][1]))
    return {d for d, s in a if s > cut} == {d for d, s in b if s > cut}
