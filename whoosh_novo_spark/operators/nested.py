"""Nested (parent/child) queries over doc-block layouts.

Reference: ``whoosh.query.nested`` — documents indexed in "groups" where a
parent doc is immediately followed by its children in docid order.
``NestedParent`` (nested.py:33-207): for each doc matched by the sub-query,
act as if the nearest preceding parent matched; parent score =
``score_fn`` (default sum) over its matching sub-docs, with an optional
``per_parent_limit`` on how many sub-docs are counted (in docid order).
``NestedChildren`` (nested.py:209-280): matches the child docs of parents
matched by the wanted-parents query; score = boost.

Two physical strategies for "previous set bit in the parent bitset":

- **small-parent fast path**: broadcast the sorted parent-docid array and
  searchsorted inside an Arrow kernel — parents are usually a small
  fraction of the corpus.
- **distributed path** (default above ``BROADCAST_PARENT_LIMIT``): a
  bucketed running-max.  Both sides are bucketed on
  ``floor((docid-min)/W)``; within each bucket a window running-max over
  the unioned (parents ∪ matches) stream finds the nearest preceding
  parent; the cross-bucket carry (the last parent of every earlier bucket)
  comes from a bucket-count-sized aggregate joined back broadcast.  One
  shuffle on the bucket key, no driver collect, no global single-partition
  window — the shape survives a parent set of any size.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whoosh_novo_spark.plans import ast

#: parent sets up to this size use the broadcast searchsorted kernel
BROADCAST_PARENT_LIMIT = 200_000


def _parent_ids_df(searcher, parents) -> DataFrame:
    if isinstance(parents, ast.Query):
        return searcher.score_df(parents.normalize()).select("docid")
    return parents.select("docid")


def _attach_parent_kernel(df: DataFrame, parent_ids: np.ndarray) -> DataFrame:
    """Small-parent fast path: ``parent`` = nearest parent docid <= docid
    via a broadcast sorted array + searchsorted in an Arrow kernel."""

    def kernel(batches):
        for pdf in batches:
            d = pdf["docid"].to_numpy(dtype=np.int64)
            pos = np.searchsorted(parent_ids, d, side="right") - 1
            parent = np.where(pos >= 0, parent_ids[np.maximum(pos, 0)], -1)
            out = pdf.copy()
            out["parent"] = parent
            yield out

    from pyspark.sql import types as T

    schema = T.StructType(
        list(df.schema.fields) + [T.StructField("parent", T.LongType())]
    )
    return df.mapInPandas(kernel, schema)


def _attach_parent_distributed(
    spark, df: DataFrame, parents: DataFrame, n_buckets: int | None = None
) -> DataFrame:
    """Distributed nearest-preceding-parent: bucketed running max.

    ``df`` must have a ``docid`` column; returns ``df`` columns plus
    ``parent`` (= -1 when no parent precedes).  The only shuffles are one
    exchange on the bucket key and a tiny (#buckets-row) aggregate."""
    from whoosh_novo_spark.session import shuffle_partitions_of

    st = parents.agg(
        F.min("docid").alias("mn"), F.max("docid").alias("mx")
    ).first()
    if st["mn"] is None:
        return df.withColumn("parent", F.lit(-1).cast("long"))
    mn, mx = int(st["mn"]), int(st["mx"])
    n_buckets = n_buckets or shuffle_partitions_of(spark)
    W = max(1, math.ceil((mx - mn + 1) / n_buckets))
    bucket = lambda c: F.floor((c - F.lit(mn)) / F.lit(W)).cast("long")

    cols = [f for f in df.columns]
    u = df.select(
        *cols, F.lit(0).alias("_isp"), bucket(F.col("docid")).alias("_bkt")
    ).unionByName(
        parents.select(
            *[
                F.col("docid") if c == "docid" else F.lit(None).cast(dict(df.dtypes)[c]).alias(c)
                for c in cols
            ],
            F.lit(1).alias("_isp"),
            bucket(F.col("docid")).alias("_bkt"),
        )
    )
    # within-bucket running max of parent docids; parents sort before
    # same-docid matches so a parent doc is its own parent
    w = (
        Window.partitionBy("_bkt")
        .orderBy(F.asc("docid"), F.desc("_isp"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = u.withColumn(
        "_pin", F.max(F.when(F.col("_isp") == 1, F.col("docid"))).over(w)
    )
    # cross-bucket carry: last parent of every earlier bucket (tiny table)
    bmax = parents.groupBy(bucket(F.col("docid")).alias("_bkt")).agg(
        F.max("docid").alias("_bmax")
    )
    all_buckets = u.select("_bkt").distinct()
    wc = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    carry = (
        all_buckets.join(bmax, "_bkt", "left")
        .withColumn("_carry", F.max("_bmax").over(wc))
        .select("_bkt", "_carry")
    )
    out = (
        u.join(F.broadcast(carry), "_bkt")
        .where(F.col("_isp") == 0)
        .withColumn(
            "parent",
            F.coalesce(F.col("_pin"), F.col("_carry"), F.lit(-1)).cast("long"),
        )
        .select(*cols, "parent")
    )
    return out


def _attach_parent(searcher, df: DataFrame, parents_df: DataFrame, n_parents: int) -> DataFrame:
    if n_parents <= BROADCAST_PARENT_LIMIT:
        rows = parents_df.collect()
        ids = np.array(sorted(r["docid"] for r in rows), dtype=np.int64)
        return _attach_parent_kernel(df, ids)
    return _attach_parent_distributed(searcher.index.spark, df, parents_df)


def nested_parent(
    searcher,
    parents,
    subq: ast.Query,
    per_parent_limit: int | None = None,
    score_fn: str = "sum",
    limit: int | None = 10,
) -> DataFrame:
    """NestedParent: (parent docid, combined score), ordered like search."""
    pdf = _parent_ids_df(searcher, parents)
    n_parents = pdf.count()
    if n_parents == 0:
        return searcher.index.empty_scored()
    matches = searcher.score_df(subq.normalize()).select("docid", "score")
    withp = _attach_parent(searcher, matches, pdf, n_parents).where(F.col("parent") >= 0)
    if per_parent_limit is not None:
        w = Window.partitionBy("parent").orderBy(F.asc("docid"))
        withp = withp.withColumn("_rn", F.row_number().over(w)).where(
            F.col("_rn") <= per_parent_limit
        )
    agg = {
        "sum": F.sum("score"),
        "max": F.max("score"),
        "min": F.min("score"),
        "avg": F.avg("score"),
        "mean": F.avg("score"),
    }[score_fn]
    out = (
        withp.groupBy("parent")
        .agg(agg.alias("score"))
        .select(F.col("parent").alias("docid"), "score")
        .orderBy(F.desc("score"), F.asc("docid"))
    )
    return out.limit(limit) if limit is not None else out


def nested_children(
    searcher,
    all_parents,
    wanted_parents: ast.Query,
    boost: float = 1.0,
    limit: int | None = None,
) -> DataFrame:
    """NestedChildren: child docs whose block parent matches
    ``wanted_parents``; score = boost (nested.py:261-300).  The wanted set
    stays distributed — a semi join on the attached parent column."""
    pdf = _parent_ids_df(searcher, all_parents)
    n_parents = pdf.count()
    if n_parents == 0:
        return searcher.index.empty_scored()
    wanted = searcher.score_df(wanted_parents.normalize()).select(
        F.col("docid").alias("parent")
    )
    alldocs = searcher.index.live_docids()
    withp = _attach_parent(searcher, alldocs, pdf, n_parents)
    out = (
        withp.where((F.col("parent") >= 0) & (F.col("docid") != F.col("parent")))
        .join(wanted, "parent", "left_semi")
        .select("docid", F.lit(float(boost)).alias("score"))
        .orderBy(F.asc("docid"))
    )
    return out.limit(limit) if limit is not None else out
