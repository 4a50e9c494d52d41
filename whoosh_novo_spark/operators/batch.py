"""Batch query evaluation: many top-k queries in ONE Spark job.

The reference evaluates queries one at a time on one core
(searching.py:772-859).  At cluster scale the right shape for a query *set*
is a single pass: a tiny broadcast frame of (qid, term, factor) joined into
one postings scan, one (qid, docid) aggregation, and a per-qid top-k
window.  Per-query work amortizes to near zero; the postings scan reads
each needed term's posting list exactly once even if many queries share
terms.

Supports the flat boolean shapes of the reference query set — Term,
And/Or/DisjunctionMax over Terms (FIXTURES.md §2).  Arbitrary nested trees
fall back to ``Searcher.search`` per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whoosh_novo_spark.operators.query import Searcher
from whoosh_novo_spark.plans import ast


def _flatten(q: ast.Query) -> tuple[str, list[ast.Term]] | None:
    """(qtype, term leaves) for flat shapes, else None."""
    qn = q.normalize()
    if isinstance(qn, ast.Term):
        return "or", [qn]
    if isinstance(qn, (ast.And, ast.Or, ast.DisjunctionMax)):
        if not all(isinstance(c, ast.Term) for c in qn.children):
            return None
        if isinstance(qn, ast.Or) and qn.minmatch and qn.minmatch > 1:
            return None
        kind = {ast.And: "and", ast.Or: "or", ast.DisjunctionMax: "dismax"}[type(qn)]
        return kind, list(qn.children)
    return None


def search_batch(
    searcher: Searcher,
    queries: dict[str, ast.Query],
    limit: int = 10,
) -> DataFrame:
    """Evaluate all queries; returns (qid, docid, score, rank) with
    rank 1..limit per qid ordered (score desc, docid asc) — identical
    per-query results to Searcher.search.

    Term stats come from one bounded driver lookup (the searcher's stats
    cache) and ride as literal factors in the broadcast (qid, term,
    factor) map."""
    ix = searcher.index
    spark = ix.spark

    flat: dict[str, tuple[str, list[ast.Term]]] = {}
    fallback: dict[str, ast.Query] = {}
    for qid, q in queries.items():
        sh = _flatten(q)
        if sh is None:
            fallback[qid] = q
        else:
            flat[qid] = sh

    model = searcher.model
    if not model.separable():
        # non-separable models can't share one base expression across the
        # broadcast map; evaluate per query instead
        fallback.update({qid: queries[qid] for qid in flat})
        flat = {}

    fieldnames = sorted({t.fieldname for _, ts in flat.values() for t in ts})

    parts: list[DataFrame] = []
    if flat:
        # internal INT query ids: the (qid x posting) fanout pushes tens of
        # millions of rows through join-hash, agg-hash and shuffle — an
        # int key is materially cheaper than a repeated string; the
        # string qid is re-attached after the top-k filter (tiny)
        qno_of = {qid: i for i, qid in enumerate(flat)}
        pairs = sorted(
            {(t.fieldname, t.text) for _, ts in flat.values() for t in ts}
        )
        stats = searcher._cached_stats(pairs)
        qt_rows = []
        qmeta_rows = []
        for qid, (kind, ts) in flat.items():
            n = len(ts)
            present = 0
            for t in ts:
                st = stats.get((t.fieldname, t.text))
                if st is None:
                    continue
                present += 1
                scorable = ix.config.field(t.fieldname).scorable
                factor = (
                    model.factor(searcher, t.fieldname, st) if scorable else 1.0
                ) * t.boost
                qt_rows.append((qno_of[qid], t.fieldname, t.text, float(factor)))
            qmeta_rows.append((qno_of[qid], kind, n, present))
        # drop AND queries with absent required terms before the big
        # scan — known driver-side here, so filter the PYTHON rows
        # instead of paying a broadcast + semi join in the plan
        dead = {
            qno
            for qno, kind, n, present in qmeta_rows
            if kind == "and" and present < n
        }
        if dead:
            qt_rows = [r for r in qt_rows if r[0] not in dead]
            qmeta_rows = [r for r in qmeta_rows if r[0] not in dead]
        qt = spark.createDataFrame(
            qt_rows, "qno int, field string, term string, factor double"
        )
        # per-query metadata (qtype / required-term count / string qid):
        # for small batches these ride as literal MAPs on the aggregate
        # instead of two broadcast joins + two createDataFrame round
        # trips (r6 — measured ~0.3-0.5 s of the cold batch50 plan);
        # big batches keep the joins so codegen never sees a giant map
        lit_meta = len(qmeta_rows) <= 256
        qmeta = None
        if not lit_meta:
            qmeta = spark.createDataFrame(
                qmeta_rows, "qno int, qtype string, n_terms int, present int"
            )

        texts = sorted({t for _, _, t, _ in qt_rows})
        p = ix.postings_span_pairs(
            [(f, t) for f in fieldnames for t in texts]
        ).where(F.col("field").isin(fieldnames) & F.col("term").isin(texts))
        # one scan x broadcast join: each posting row fans out only to the
        # queries that contain its term
        w, flq = F.col("weight"), F.col("len_q")
        if len(fieldnames) == 1:
            base = (
                model.base_col(searcher, fieldnames[0], w, flq)
                if ix.config.field(fieldnames[0]).scorable
                else w
            )
        else:
            base = None
            for f in fieldnames:
                b = (
                    model.base_col(searcher, f, w, flq)
                    if ix.config.field(f).scorable
                    else w
                )
                base = (
                    F.when(F.col("field") == f, b)
                    if base is None
                    else base.when(F.col("field") == f, b)
                )
        j = p.join(F.broadcast(qt), ["field", "term"])
        scored = j.select(
            "qno", "docid", (base * F.col("factor")).alias("score")
        )
        grouped = scored.groupBy("qno", "docid").agg(
            F.sum("score").alias("_sum"),
            F.max("score").alias("_max"),
            F.count(F.lit(1)).alias("_nc"),
        )
        if lit_meta:
            m_type = F.create_map(
                *[F.lit(x) for qno, qtype, _n, _p in qmeta_rows for x in (qno, qtype)]
            )
            m_n = F.create_map(
                *[F.lit(x) for qno, _qt, n, _p in qmeta_rows for x in (qno, n)]
            )
            agg = grouped.where(
                (m_type[F.col("qno")] != "and")
                | (F.col("_nc") == m_n[F.col("qno")])
            )
            res = agg.select(
                "qno",
                "docid",
                F.when(m_type[F.col("qno")] == "dismax", F.col("_max"))
                .otherwise(F.col("_sum"))
                .alias("score"),
            )
        else:
            agg = grouped.join(F.broadcast(qmeta), "qno").where(
                (F.col("qtype") != "and") | (F.col("_nc") == F.col("n_terms"))
            )
            res = agg.select(
                "qno",
                "docid",
                F.when(F.col("qtype") == "dismax", F.col("_max"))
                .otherwise(F.col("_sum"))
                .alias("score"),
            )
        w_ = Window.partitionBy("qno").orderBy(F.desc("score"), F.asc("docid"))
        topk = res.withColumn("rank", F.row_number().over(w_)).where(
            F.col("rank") <= limit
        )
        if lit_meta:
            m_qid = F.create_map(
                *[F.lit(x) for q, n in qno_of.items() for x in (n, q)]
            )
            parts.append(
                topk.select(
                    m_qid[F.col("qno")].alias("qid"), "docid", "score", "rank"
                )
            )
        else:
            names = spark.createDataFrame(
                [(n, q) for q, n in qno_of.items()], "qno int, qid string"
            )
            parts.append(
                topk.join(F.broadcast(names), "qno").select(
                    "qid", "docid", "score", "rank"
                )
            )

    for qid, q in fallback.items():
        r = searcher.search(q, limit=limit)
        parts.append(
            r.select(
                F.lit(qid).alias("qid"),
                "docid",
                "score",
                F.row_number()
                .over(Window.orderBy(F.desc("score"), F.asc("docid")))
                .alias("rank"),
            )
        )

    if not parts:
        return spark.createDataFrame([], "qid string, docid long, score double, rank int")
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d)
    return out
