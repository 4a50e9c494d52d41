"""Block-max pruned top-k (the reference's WAND path, SURVEY §4.3).

The reference's TopCollector feeds the kth score back as ``minscore`` and
matchers skip whole 128-posting blocks whose upper-bound quality can't
beat it (collectors.py:405-413, whoosh3.py:1085-1098, binary.py:270-295).
That loop is inherently sequential per query; the distributed shape here:

1. partition the docid space into ranges ("buckets"); every posting block
   overlapping a bucket is routed to it (blocks are sorted disjoint docid
   runs, so the overlap set comes straight from the min/max skip pointers
   — no decode);
2. inside each bucket an Arrow kernel runs candidate introduction with
   block-max pruning (MaxScore/BMW family): terms rarest-first
   (compound.py:261-266), candidates fully scored on introduction via
   skip-pointer lookups into other terms' blocks (decode on touch),
   a local k-heap supplies the pruning threshold;
3. the union of per-bucket top-k candidates (<= buckets x k rows) gets an
   exact global ORDER BY score DESC, docid LIMIT k.

Exactness: a block is skipped only when every not-yet-candidate doc in it
has upper bound STRICTLY below the kth fully-scored score, so skipped docs
can never enter the true top-k even via docid tie-break — the pruned path
is rank-identical to the exact aggregation path (which remains the test
oracle, tests/test_wand.py).  Tombstoned indexes stay on the pruned path:
deleted docids are cogrouped into their buckets and filtered at candidate
introduction (statistics keep counting deletes, like the exact path).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whoosh_novo_spark.operators.blocks import decode_ids, decode_lens
from whoosh_novo_spark.plans import ast


def _bm25(idf: float, w: np.ndarray, flq: np.ndarray, avgfl: float, B: float, K1: float):
    return idf * (w * (K1 + 1)) / (w + K1 * ((1 - B) + B * flq / avgfl))


class _TermBlocks:
    """Per-term block arrays with lazy decode + cache."""

    __slots__ = ("mins", "maxs", "maxw", "minlq", "ids_b", "w_b", "l_b", "cache", "shift")

    def __init__(self, g: pd.DataFrame):
        g = g.sort_values("min_docid", kind="mergesort")
        self.mins = g["min_docid"].to_numpy(dtype=np.int64)
        self.maxs = g["max_docid"].to_numpy(dtype=np.int64)
        self.maxw = g["max_weight"].to_numpy(dtype=np.float64)
        self.minlq = g["min_len_q"].to_numpy(dtype=np.int64)
        self.ids_b = g["ids"].tolist()
        self.w_b = g["weights"].tolist()
        self.l_b = g["lens"].tolist()
        # FederatedIndex (operators/federate.py) shifts min/max_docid at
        # read but cannot rewrite the varbyte blobs; the per-row shift is
        # added here after decode.  Single-store blocks carry no column.
        self.shift = (
            g["docid_shift"].to_numpy(dtype=np.int64)
            if "docid_shift" in g.columns
            else None
        )
        self.cache: dict[int, tuple] = {}

    def decode(self, bi: int):
        got = self.cache.get(bi)
        if got is None:
            ids = decode_ids(self.ids_b[bi]).astype(np.int64)
            if self.shift is not None and self.shift[bi]:
                ids = ids + self.shift[bi]
            w = np.frombuffer(self.w_b[bi], dtype=np.float32).astype(np.float64)
            lq = decode_lens(self.l_b[bi])
            got = (ids, w, lq)
            self.cache[bi] = got
        return got

    def lookup(self, docids: np.ndarray):
        """Vectorized (weight, len_q) lookup via skip pointers; 0 where
        absent.  Decodes only blocks that contain probed ids."""
        n = len(docids)
        w_out = np.zeros(n, dtype=np.float64)
        l_out = np.ones(n, dtype=np.int64)
        if len(self.mins) == 0:
            return w_out, l_out
        bi = np.searchsorted(self.maxs, docids, side="left")
        ok = (bi < len(self.mins)) & (docids >= self.mins[np.minimum(bi, len(self.mins) - 1)])
        for b in np.unique(bi[ok]):
            m = ok & (bi == b)
            ids, w, lq = self.decode(int(b))
            pos = np.searchsorted(ids, docids[m])
            pos = np.minimum(pos, len(ids) - 1)
            hit = ids[pos] == docids[m]
            rows = np.nonzero(m)[0][hit]
            w_out[rows] = w[pos[hit]]
            l_out[rows] = lq[pos[hit]]
        return w_out, l_out


def _bucket_kernel(pdf, params, deleted: np.ndarray | None = None) -> pd.DataFrame:
    """Candidate introduction with block-max pruning — fully vectorized
    (r6): no per-doc Python.  Dedup across intro terms uses skip-pointer
    presence probes instead of a Python ``seen`` set: a doc present in an
    EARLIER intro term was either already introduced there (its block was
    decoded) or lives in a skipped block, and a skipped block's docs are
    provably below theta forever (theta only grows) — so "present in any
    earlier intro term" is an exact already-handled test.  The top-k heap
    becomes a sorted (score desc, docid asc) array pair merged per block
    with one lexsort over <= k + block_limit rows."""
    k = params["k"]
    mode = params["mode"]
    B, K1, avgfl = params["B"], params["K1"], params["avgfl"]
    idf = params["idf"]           # term -> idf
    order = params["order"]       # terms rarest-first
    mq = params["mq"]             # term -> max quality

    tb = {t: _TermBlocks(g) for t, g in pdf.groupby("term") if t in idf}
    order = [t for t in order if t in tb]
    if not order or (mode == "and" and len(order) < len(params["order"])):
        return pd.DataFrame({"docid": [], "score": []})
    total_mq = sum(mq[t] for t in order)
    suffix = np.cumsum([mq[t] for t in order][::-1])[::-1]

    lo = int(params["lo"])
    hi = int(params["hi"])
    topk_id = np.empty(0, dtype=np.int64)
    topk_sc = np.empty(0, dtype=np.float64)
    theta = None

    intro_terms = order[:1] if mode == "and" else order
    n_req = len(order)
    for i, t in enumerate(intro_terms):
        if theta is not None and suffix[i] < theta:
            break
        T = tb[t]
        earlier = set(intro_terms[:i])
        others = [o for o in order if o != t]
        others_mq = total_mq - mq[t]
        # per-block quality bounds + bucket overlap, one vectorized pass
        in_bucket = (T.maxs >= lo) & (T.mins < hi)
        bqs = _bm25(idf[t], T.maxw, T.minlq.astype(np.float64), avgfl, B, K1)
        for b in np.flatnonzero(in_bucket):
            if theta is not None and bqs[b] + others_mq < theta:
                continue  # block-max skip (strict: preserves ties)
            ids, w, lq = T.decode(int(b))
            m = (ids >= lo) & (ids < hi)
            if deleted is not None and len(deleted):
                # tombstoned docs never become candidates; block-max
                # bounds stay valid upper bounds after deletions
                pos = np.searchsorted(deleted, ids)
                pos = np.minimum(pos, len(deleted) - 1)
                m &= deleted[pos] != ids
            if not m.all():
                ids, w, lq = ids[m], w[m], lq[m]
            if len(ids) == 0:
                continue
            scores = _bm25(idf[t], w, lq.astype(np.float64), avgfl, B, K1)
            nmatch = np.ones(len(ids), dtype=np.int64)
            new = np.ones(len(ids), dtype=bool)
            for t2 in others:
                w2, lq2 = tb[t2].lookup(ids)
                hit = w2 > 0
                if t2 in earlier:
                    new &= ~hit  # already introduced (or provably < theta)
                if hit.any():
                    scores[hit] += _bm25(
                        idf[t2], w2[hit], lq2[hit].astype(np.float64), avgfl, B, K1
                    )
                    nmatch[hit] += 1
            if mode == "and":
                new &= nmatch == n_req
            if not new.any():
                continue
            ids_n, sc_n = ids[new], scores[new]
            # vectorized top-k merge: (score desc, docid asc), theta = kth
            all_id = np.concatenate([topk_id, ids_n])
            all_sc = np.concatenate([topk_sc, sc_n])
            if len(all_id) > k:
                sel = np.lexsort((all_id, -all_sc))[:k]
                topk_id, topk_sc = all_id[sel], all_sc[sel]
                theta = topk_sc[-1] if len(topk_sc) == k else theta
            else:
                topk_id, topk_sc = all_id, all_sc
                if len(topk_id) == k:
                    theta = topk_sc.min()

    return pd.DataFrame({"docid": topk_id, "score": topk_sc})


def search_wand(
    searcher,
    q: ast.Query,
    limit: int = 10,
    n_buckets: int | None = None,
    multiterm: bool = False,
    force_kernel: bool = False,
) -> DataFrame:
    """Plan-cached wrapper over the pruned top-k (Searcher._cached_plan —
    same cache and contract as Searcher.search: plans only, never rows;
    cache hits hand out a fresh Dataset so shuffle outputs are never
    reused)."""
    return searcher._cached_plan(
        ("wand", q, limit, n_buckets, multiterm, force_kernel),
        lambda: _search_wand(searcher, q, limit, n_buckets, multiterm, force_kernel),
    )


def _search_wand(
    searcher,
    q: ast.Query,
    limit: int = 10,
    n_buckets: int | None = None,
    multiterm: bool = False,
    force_kernel: bool = False,
) -> DataFrame:
    """Pruned top-k for flat And/Or-of-Terms queries over the blocks table.

    Returns (docid, score) ordered (score desc, docid asc) limit k —
    rank-identical to ``Searcher.search``.

    ``multiterm=True`` additionally prunes scored multiterm queries
    (Prefix/Wildcard/Regex — flat Ors after lexicon expansion) up to the
    1024-clause expansion cap.  OFF by default because it measured a net
    LOSS at 1M docs (exact 1.1/1.2 s vs pruned 2.0/19.3 s at 10/100
    expanded terms, BENCH/prefix_wand_ab.json): the expansion is an extra
    Spark job per query and the kernel's per-term block walk scales with
    clause count, while the exact path's joined-stats aggregation is one
    scan regardless of expansion size.  Kept (parity-tested) for reuse as
    the skip-list machinery for future bounded expansions; by default
    multiterm queries take the exact path.
    """
    ix = searcher.index
    spark = ix.spark
    qn = q.normalize()
    expanded_stats = None
    if isinstance(qn, ast.Term):
        terms, mode = [qn], "or"
    elif isinstance(qn, ast.And) and all(isinstance(c, ast.Term) for c in qn.children):
        terms, mode = list(qn.children), "and"
    elif isinstance(qn, ast.Or) and all(isinstance(c, ast.Term) for c in qn.children):
        terms, mode = list(qn.children), "or"
    elif (
        multiterm
        and isinstance(qn, (ast.Prefix, ast.Wildcard, ast.Regex))
        and getattr(qn, "boost", 1.0) == 1.0
    ):
        # scored multiterm == Or over the lexicon expansion (terms.py:
        # 182-201 simplify): prune it like any flat Or.  The expansion is
        # the exact path's bounded driver expansion (Or.TOO_MANY_CLAUSES
        # = 1024 cap, compound.py:282) — beyond the cap the distributed
        # joined-stats exact path is the right plan anyway (the kernel
        # needs per-term driver stats), so fall back rather than collect
        # an unbounded term list.
        try:
            expansion = ix.expand_terms(qn)
        except ValueError:
            return searcher.search(q, limit=limit)
        if not expansion:
            return spark.createDataFrame([], "docid long, score double")
        terms = [ast.Term(qn.fieldname, t) for t, _ in expansion]
        mode = "or"
        expanded_stats = {(qn.fieldname, t): st for t, st in expansion}
    else:
        return searcher.search(q, limit=limit)  # non-flat: exact path

    from whoosh_novo_spark.plans.weighting import BM25F as _BM25F

    if not isinstance(searcher.model, _BM25F):
        # the numpy kernel hard-codes the BM25 bound math; other models
        # use the exact path (pruning is an optimization, not semantics)
        return searcher.search(q, limit=limit)

    if not all(s.has_blocks for s in ix.manifest.segments):
        # a segment without block metadata (e.g. one store of a
        # federation built by an older writer) has no skip pointers to
        # prune with — exact path keeps rank identity
        return searcher.search(q, limit=limit)

    fieldname = terms[0].fieldname
    if (
        any(t.boost != 1.0 for t in terms)
        or getattr(qn, "boost", 1.0) != 1.0
        or (isinstance(qn, ast.Or) and getattr(qn, "minmatch", 0) and qn.minmatch > 1)
        or len({t.fieldname for t in terms}) != 1
        or not ix.config.field(fieldname).scorable
    ):
        # the kernel hard-codes unboosted single-field BM25 (no Term.boost,
        # no minmatch counting, no WeightScorer for unscorable fields) —
        # rank-identity with Searcher.search requires the exact path here
        return searcher.search(q, limit=limit)
    pairs = [(t.fieldname, t.text) for t in terms]
    # a lexicon expansion already carries aggregated TermStats — reuse
    # them instead of a second terms-table lookup
    stats = expanded_stats if expanded_stats is not None else searcher._cached_stats(pairs)
    present = [t for t in terms if (t.fieldname, t.text) in stats]
    if not present or (mode == "and" and len(present) < len(terms)):
        return spark.createDataFrame([], "docid long, score double")

    # Cost-based route (r6, guide §1.2 "choose the algorithm"): the
    # bucket kernel pays a fixed ~0.7-0.9 s of plan machinery (blocks
    # scan + explode + cogroup shuffle + per-bucket Python eval) before
    # any pruning can help, while the exact JVM aggregation rides
    # row-group pruning and whole-stage codegen.  Same-window medians at
    # the 1M-doc index: kernel 0.84-1.4 s vs exact 0.20-0.55 s at every
    # selectivity (sum_df 41k..2.9M), and the r3 4M probe still had the
    # kernel behind.  The kernel only wins when the candidate volume is
    # large enough that skipped blocks dominate its fixed cost, so below
    # WNS_WAND_EXACT_CUTOFF total postings (default 5M) the planner
    # chooses the rank-identical exact plan.  force_kernel=True pins the
    # kernel (tests, plan dumps, calibration runs).
    if not force_kernel:
        import os as _os

        cutoff = int(_os.environ.get("WNS_WAND_EXACT_CUTOFF", "5000000"))
        if sum(stats[(t.fieldname, t.text)].df for t in present) < cutoff:
            return searcher.search(q, limit=limit)

    avgfl = ix.avg_field_length(fieldname)
    B, K1 = searcher.model.field_b(fieldname), searcher.model.K1
    idf = {
        t.text: searcher.idf(stats[(t.fieldname, t.text)].df, t.fieldname)
        for t in present
    }
    # whole-list max quality (scoring.py:205-212: score(max_weight, min_length))
    mq = {
        t.text: float(
            _bm25(
                idf[t.text],
                np.array([stats[(t.fieldname, t.text)].max_weight]),
                np.array([float(stats[(t.fieldname, t.text)].min_len_q)]),
                avgfl, B, K1,
            )[0]
        )
        for t in present
    }
    order = [t.text for t in sorted(present, key=lambda t: stats[(t.fieldname, t.text)].df)]

    from whoosh_novo_spark.session import shuffle_partitions_of

    n_buckets = n_buckets or shuffle_partitions_of(spark)
    max_docid = ix.manifest.next_docid
    R = max(1, math.ceil(max_docid / n_buckets))

    blocks = ix.blocks_span(fieldname, terms=[t.text for t in present]).where(
        (F.col("field") == fieldname) & F.col("term").isin([t.text for t in present])
    )
    spanned = blocks.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                (F.col("min_docid") / R).cast("long"),
                (F.col("max_docid") / R).cast("long"),
            )
        ),
    )

    params_base = {
        "k": limit, "mode": mode, "B": B, "K1": K1, "avgfl": float(avgfl),
        "idf": idf, "mq": mq, "order": order,
    }

    if ix.manifest.has_tombstones:
        # tombstones are routed to their docid bucket and filtered inside
        # the kernel at candidate introduction (a deleted doc can never
        # enter the heap; block-max bounds remain valid upper bounds, and
        # statistics keep counting deletes exactly like the exact path)
        tomb = ix.tombstones().withColumn(
            "bucket", (F.col("docid") / R).cast("long")
        )

        def run_cg(key, left, right):
            bucket = int(key[0])
            p = dict(params_base)
            p["lo"] = bucket * R
            p["hi"] = (bucket + 1) * R
            deleted = (
                np.sort(right["docid"].to_numpy(dtype=np.int64))
                if len(right)
                else None
            )
            return _bucket_kernel(left, p, deleted)

        cand = (
            spanned.groupBy("bucket")
            .cogroup(tomb.groupBy("bucket"))
            .applyInPandas(run_cg, "docid long, score double")
        )
        return cand.orderBy(F.desc("score"), F.asc("docid")).limit(limit)

    def run(key, pdf):
        bucket = int(key[0])
        p = dict(params_base)
        p["lo"] = bucket * R
        p["hi"] = (bucket + 1) * R
        return _bucket_kernel(pdf, p)

    cand = spanned.groupBy("bucket").applyInPandas(
        run, "docid long, score double"
    )
    return cand.orderBy(F.desc("score"), F.asc("docid")).limit(limit)
