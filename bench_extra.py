"""Round-6 extra measurement harness (bench.py stays frozen).

Noop-sink isolation (guide §1.4) and phase splits for the places the
round optimized.  Each leg prints one labelled line; run on an idle host
and interleave A/B sides in one window (this sandbox shows 2.5-3x
window-to-window drift on identical code — see OPTIMIZATION_r06.md).

Legs:
  build      1M synth build wall + per-stage marker seconds
  analyze    analyze stage with noop sink vs parquet write
  sortleg    posting sort leg: production shape vs narrow-shuffle shape
  queries    warm query profile: plan-build ms vs collect ms vs job count
  wand       driver kernel vs Spark kernel (force_kernel) vs exact plan at
             several selectivities
  batch      search_batch build/collect phases, cold and warm stats

Usage: python bench_extra.py <leg> [repo_path]
Needs the staged bench corpus/indexes from a prior bench.py run
(/tmp/wns_bench_corpus, /tmp/wns_bench_ix, /tmp/wns_bench_ix_synth).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

REPO = sys.argv[2] if len(sys.argv) > 2 else os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from whoosh_novo_spark.session import get_spark  # noqa: E402


def _spark(name):
    return get_spark(
        name,
        cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        shuffle_partitions=32,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def _med3(fn):
    fn()
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    return round(statistics.median(runs) * 1000)


def leg_build() -> None:
    from whoosh_novo_spark.operators.build import build_segment
    from whoosh_novo_spark.schema import FieldConfig, IndexConfig
    from whoosh_novo_spark.sources.segment_store import SegmentStore

    spark = _spark("bx-build")
    corpus = spark.read.parquet("/tmp/wns_bench_corpus")
    cfg = IndexConfig(id_col="url", fields=(FieldConfig("text"),), stored_cols=())
    ix = "/tmp/bx_build_ix"
    shutil.rmtree(ix, ignore_errors=True)
    t0 = time.time()
    build_segment(spark, corpus, cfg, SegmentStore(ix), partitions=None)
    wall = round(time.time() - t0, 2)
    stages = {}
    seg = os.path.join(ix, "segments")
    for sid in os.listdir(seg):
        for fn in os.listdir(os.path.join(seg, sid)):
            if fn.startswith("_stage_") and fn.endswith(".json"):
                with open(os.path.join(seg, sid, fn)) as f:
                    stages[fn[7:-5]] = json.load(f).get("seconds")
    print(f"BUILD wall={wall}s stages={stages} loadavg={os.getloadavg()[0]:.1f}")
    spark.stop()


def leg_analyze() -> None:
    from whoosh_novo_spark.operators.build import (
        _analyze_partition,
        _postings_schema,
        _widen_input_splits,
        read_docmap,
    )
    from whoosh_novo_spark.schema import FieldConfig, IndexConfig
    from whoosh_novo_spark.sources.segment_store import SegmentStore

    spark = _spark("bx-analyze")
    store = SegmentStore("/tmp/wns_bench_ix_synth")
    m = store.read_manifest()
    seg = m.segments[0]
    cfg = IndexConfig(id_col="url", fields=(FieldConfig("text"),), stored_cols=())
    _widen_input_splits(spark, store.table_path(seg.segment_id, "docmap"), 250)
    dm = read_docmap(spark, store, seg, columns=["docid", "text"])
    out = dm.mapInPandas(_analyze_partition(cfg, False), _postings_schema(cfg))
    t0 = time.time()
    out.write.format("noop").mode("overwrite").save()
    print(f"ANALYZE noop={round(time.time()-t0, 2)}s")
    t0 = time.time()
    out.write.mode("overwrite").option("compression", "snappy").parquet(
        "/tmp/bx_raw"
    )
    print(f"ANALYZE write={round(time.time()-t0, 2)}s")
    spark.stop()


def leg_sortleg() -> None:
    import pyspark.sql.functions as F

    spark = _spark("bx-sort")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
    raw = spark.read.parquet("/tmp/bx_raw")
    t0 = time.time()
    (raw.select("field", "term", "docid", "weight", "len_q")
        .repartitionByRange(250, "field", "term", "docid")
        .sortWithinPartitions("field", "term", "docid")
        .write.mode("overwrite").parquet("/tmp/bx_sort_wide"))
    print(f"SORT wide={round(time.time()-t0, 2)}s")
    t0 = time.time()
    (raw.select("term", "docid", "tf", "len_q")
        .repartitionByRange(250, "term", "docid")
        .sortWithinPartitions("term", "docid")
        .select(F.lit("text").alias("field"), "term", "docid",
                (F.col("tf").cast("double") * F.lit(1.0)).alias("weight"), "len_q")
        .write.mode("overwrite").parquet("/tmp/bx_sort_narrow"))
    print(f"SORT narrow={round(time.time()-t0, 2)}s")
    spark.stop()


def leg_queries() -> None:
    from whoosh_novo_spark.operators.query import Index, Searcher
    from whoosh_novo_spark.operators.wand import search_wand
    from whoosh_novo_spark.plans import ast
    from whoosh_novo_spark.schema import FieldConfig, IndexConfig
    from whoosh_novo_spark.sources.segment_store import SegmentStore

    spark = _spark("bx-queries")
    sc = spark.sparkContext
    T = lambda w: ast.Term("text", w)  # noqa: E731

    def profile(s, qs):
        for name, fn in qs.items():
            fn().collect()
            builds, collects, jobs = [], [], 0
            for _ in range(3):
                j0 = sc._jsc.sc().dagScheduler().nextJobId()
                t0 = time.perf_counter()
                df = fn()
                t1 = time.perf_counter()
                df.collect()
                t2 = time.perf_counter()
                jobs = sc._jsc.sc().dagScheduler().nextJobId() - j0
                builds.append(t1 - t0)
                collects.append(t2 - t1)
            print(
                f"Q {name:14s} build={statistics.median(builds)*1000:6.1f}ms "
                f"collect={statistics.median(collects)*1000:7.1f}ms jobs={jobs}"
            )

    cfg = IndexConfig(id_col="doc_id", fields=(FieldConfig("text"),))
    s = Searcher(Index(spark, SegmentStore("/tmp/wns_bench_ix"), cfg))
    profile(s, {
        "term": lambda: s.search(T("spark"), limit=10),
        "or3": lambda: s.search(ast.Or((T("spark"), T("data"), T("query"))), limit=10),
        "prefix": lambda: s.search(ast.Prefix("text", "qu"), limit=10),
        "fuzzy": lambda: s.search(ast.FuzzyTerm("text", "spark"), limit=10),
    })
    cfg2 = IndexConfig(id_col="url", fields=(FieldConfig("text"),), stored_cols=())
    s2 = Searcher(Index(spark, SegmentStore("/tmp/wns_bench_ix_synth"), cfg2))
    or3 = ast.Or((T("render"), T("shade"), T("texture")))
    profile(s2, {
        "1m_or3": lambda: s2.search(or3, limit=10),
        "1m_wand_routed": lambda: search_wand(s2, or3, limit=10, n_buckets=32),
        "1m_prefix": lambda: s2.search(ast.Prefix("text", "w0002"), limit=10),
    })
    spark.stop()


def leg_wand() -> None:
    from whoosh_novo_spark.operators import wand
    from whoosh_novo_spark.operators.query import Index, Searcher
    from whoosh_novo_spark.operators.wand import search_wand
    from whoosh_novo_spark.plans import ast
    from whoosh_novo_spark.schema import FieldConfig, IndexConfig
    from whoosh_novo_spark.sources.segment_store import SegmentStore

    spark = _spark("bx-wand")
    cfg = IndexConfig(id_col="url", fields=(FieldConfig("text"),), stored_cols=())
    s = Searcher(Index(spark, SegmentStore("/tmp/wns_bench_ix_synth"), cfg))
    T = lambda w: ast.Term("text", w)  # noqa: E731
    # time the driver route past its bound too: where it crosses the
    # exact plan is what DRIVER_KERNEL_MAX_POSTINGS is set from
    wand.DRIVER_KERNEL_MAX_POSTINGS = float("inf")
    for words in (["render", "shade", "texture"],
                  ["w00050", "w00100", "w00200"],
                  ["w00500", "w01000", "w02000"]):
        q = ast.Or(tuple(T(w) for w in words))
        st = s._cached_stats([("text", w) for w in words])
        dfs = [st[("text", w)].df for w in words if ("text", w) in st]
        files = s.index._local_pruned_files("blocks", {"fieldname": "text", "terms": words})
        d = _med3(lambda q=q: wand._search_local(s, q, 10).collect())
        k = _med3(lambda q=q: search_wand(s, q, limit=10, n_buckets=32,
                                          force_kernel=True).collect())
        e = _med3(lambda q=q: s.search(q, limit=10).collect())
        print(f"WAND {words} sum_df={sum(dfs)} files={len(files)} driver={d}ms kernel={k}ms "
              f"exact={e}ms loadavg={os.getloadavg()[0]:.1f}")
    spark.stop()


def leg_batch() -> None:
    from whoosh_novo_spark.operators.batch import search_batch
    from whoosh_novo_spark.operators.query import Index, Searcher
    from whoosh_novo_spark.plans import ast
    from whoosh_novo_spark.schema import FieldConfig, IndexConfig
    from whoosh_novo_spark.sources.segment_store import SegmentStore

    spark = _spark("bx-batch")
    T = lambda w: ast.Term("text", w)  # noqa: E731
    cfg = IndexConfig(id_col="doc_id", fields=(FieldConfig("text"),))
    many = {
        f"b{i}": ast.Or((T("spark"), T("data"), T(f"w{i:05d}"))) for i in range(50)
    }
    for rep in range(3):
        s = Searcher(Index(spark, SegmentStore("/tmp/wns_bench_ix"), cfg))
        t0 = time.perf_counter()
        df = search_batch(s, many, limit=10)
        t1 = time.perf_counter()
        df.collect()
        t2 = time.perf_counter()
        print(
            f"BATCH rep{rep} build={round((t1-t0)*1000)}ms "
            f"collect={round((t2-t1)*1000)}ms"
        )
    spark.stop()


if __name__ == "__main__":
    leg = sys.argv[1] if len(sys.argv) > 1 else "queries"
    {
        "build": leg_build,
        "analyze": leg_analyze,
        "sortleg": leg_sortleg,
        "queries": leg_queries,
        "wand": leg_wand,
        "batch": leg_batch,
    }[leg]()
