"""Federated read over several independently-built index stores.

The 100 TB build pattern this enables: N executors (or N independent
``spark-submit`` jobs — ``scripts/scaling_run.py``'s high leg) each build
their OWN SegmentStore over their document partition with zero
coordination (no shared writer lock, no cross-job shuffle), and
``FederatedIndex`` opens those stores as ONE logical index WITHOUT a
physical merge:

- per-store docid spaces are made disjoint by a read-time offset (a
  plan-level ``docid + lit(shift)`` projection that stays inside
  whole-stage codegen — nothing is rewritten on disk), exactly how
  whoosh's ``MultiReader`` offsets sub-reader docnums
  (reference ``src/whoosh/reading.py:1047-1077`` ``_document_segment``/
  doc-offset arithmetic) one level up: stores instead of segments;
- BM25 statistics (df, cf, dc, field lengths, per-language doc counts)
  aggregate across all stores through the same cross-segment fold the
  multi-segment ``Index`` already uses (``Index.term_stats``,
  ``Manifest.doc_count_all`` summing — reference ``reading.py:1097-1133``
  MultiReader summing per-segment stats), so every query is rank- AND
  score-identical to a single global build over the same corpus
  (gated in tests/test_federated.py);
- block-max WAND rides along: block ``min_docid``/``max_docid`` columns
  are shifted at read and a ``docid_shift`` column tells the bucket
  kernel to shift blob-decoded ids post-decode (the varbyte blobs are
  never re-encoded);
- file-level (field, term) pruning prunes each store's manifest
  independently and unions the shifted survivors.

The federation is a READ view: writes (new segments, deletes, merges)
go to the owning store as usual; re-open the FederatedIndex to see
them.  A physical cross-store merge stays available via each store's
own ``merge_segments`` — federation is for serving *between* merges,
or instead of them when the per-store indexes are already well-shaped.
"""

from __future__ import annotations

import dataclasses
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whoosh_novo_spark.operators.query import Index
from whoosh_novo_spark.schema import IndexConfig
from whoosh_novo_spark.sources.segment_store import Manifest, SegmentStore

# tables carrying docids as plain columns; "blocks" additionally gets the
# docid_shift marker column for the WAND kernel's post-decode shift
_SHIFT_COLS = ("docid", "min_docid", "max_docid")


def _shift(df: DataFrame, shift: int, mark: bool = False) -> DataFrame:
    if shift:
        for c in _SHIFT_COLS:
            if c in df.columns:
                df = df.withColumn(c, (F.col(c) + F.lit(int(shift))).cast("long"))
    if mark:
        df = df.withColumn("docid_shift", F.lit(int(shift)).cast("long"))
    return df


class FederatedIndex(Index):
    """Read-side handle over MULTIPLE committed SegmentStores.

    Drop-in for ``Index`` everywhere a read is involved (``Searcher``,
    ``search_wand``, facets, more_like, suggest, batch evaluation): the
    combined manifest carries every store's segments with shifted docid
    bounds, and every table read unions per-store scans with the store's
    docid offset applied.
    """

    def __init__(
        self,
        spark: SparkSession,
        stores: list[SegmentStore | str],
        config: IndexConfig | None = None,
    ):
        self.spark = spark
        self.config = config or IndexConfig()
        self._parts: list[tuple[SegmentStore, Manifest, int]] = []
        segments = []
        id_cols: set[str] = set()
        shift = 0
        deleted = 0
        has_tomb = False
        for pi, s in enumerate(stores):
            store = s if isinstance(s, SegmentStore) else SegmentStore(str(s))
            man = store.read_manifest()
            self._parts.append((store, man, shift))
            if man.segments:
                id_cols.add(man.id_col)
            deleted += man.deleted_count
            has_tomb = has_tomb or man.has_tombstones
            for seg in man.segments:
                # segment ids are per-store sequential (seg-00000, ...);
                # namespace the combined view's copies so they stay unique.
                # Reads never resolve paths through these copies — they go
                # through the per-store manifests in self._parts.
                segments.append(
                    dataclasses.replace(
                        seg,
                        segment_id=f"store{pi}/{seg.segment_id}",
                        min_docid=seg.min_docid + shift,
                        max_docid=seg.max_docid + shift,
                    )
                )
            shift += man.next_docid
        if not segments:
            raise ValueError("no committed segments in any federated store")
        if len(id_cols) > 1:
            raise ValueError(f"federated stores disagree on id_col: {sorted(id_cols)}")
        self.manifest = Manifest(
            generation=-1,
            segments=segments,
            next_docid=shift,
            id_col=id_cols.pop(),
            deleted_count=deleted,
            has_tombstones=has_tomb,
            tombstones_rel=None,
        )
        # base-class convenience only; every store-touching method is
        # overridden to iterate self._parts
        self.store = self._parts[0][0]

    # --- raw table reads -------------------------------------------------

    def _union_table(self, table: str) -> DataFrame:
        parts = []
        for store, man, shift in self._parts:
            paths = store.table_paths(man, table)
            if not paths:
                continue
            parts.append(
                _shift(self.spark.read.parquet(*paths), shift, mark=(table == "blocks"))
            )
        if not parts:
            raise ValueError(f"no {table} files in any federated store")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def tombstones(self) -> DataFrame:
        parts = []
        for store, man, shift in self._parts:
            p = store.tombstones_dir(man)
            if p is not None:
                parts.append(
                    _shift(self.spark.read.parquet(p).select("docid"), shift)
                )
        if not parts:
            return self.spark.createDataFrame([], "docid long")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def docmap(
        self, columns: list[str] | None = None, apply_deletes: bool = False
    ) -> DataFrame:
        from whoosh_novo_spark.operators.build import read_docmap

        dfs = []
        for store, man, shift in self._parts:
            for seg in man.segments:  # ORIGINAL segments: read_docmap uses meta["base"]
                dfs.append(_shift(read_docmap(self.spark, store, seg), shift))
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        if apply_deletes and self.manifest.has_tombstones:
            out = out.join(self.tombstones(), "docid", "left_anti")
        return out.select(*columns) if columns else out

    def vector_table(self, fieldname: str) -> DataFrame | None:
        if not all(
            fieldname in s.meta.get("vector_fields", [])
            for s in self.manifest.segments
        ):
            return None
        parts = []
        for store, man, shift in self._parts:
            paths = [
                store.table_path(s.segment_id, "vectors") for s in man.segments
            ]
            parts.append(
                _shift(
                    self.spark.read.parquet(*paths).where(
                        F.col("field") == fieldname
                    ),
                    shift,
                )
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if self.manifest.has_tombstones:
            df = df.join(self.tombstones(), "docid", "left_anti")
        return df

    def _table_dirs(self, table: str) -> list[tuple[str, int]]:
        """Every store's directories of ``table`` with the store's docid
        offset — what the driver-local readers (``Index._local_files``)
        list, so a federation's term stats and small block-max queries
        stay in-process like a single store's."""
        out = []
        for store, man, shift in self._parts:
            if table == "tombstones":
                p = store.tombstones_dir(man)
                dirs = [] if p is None else [p]
            else:
                dirs = store.table_paths(man, table)
            out.extend((d, shift) for d in dirs)
        return out

    # --- file-level (field, term) pruning --------------------------------
    # each store's range manifest prunes independently; survivors union
    # with their store's shift.  Any store without usable bounds makes the
    # WHOLE lookup fall back to the full union scan (pruning must never
    # drop a store silently).

    def _part_ranges(self, store: SegmentStore, man: Manifest, table: str):
        if os.environ.get("WNS_NO_FILE_PRUNE") == "1":
            return None
        cache = getattr(self, "_range_cache", None)
        if cache is None:
            cache = self._range_cache = {}
        key = (store.path, table)
        if key not in cache:
            from whoosh_novo_spark.sources.file_prune import segment_ranges

            cache[key] = segment_ranges(store, man.segments, table)
        return cache[key]

    def _file_ranges(self, table: str):
        """All stores' file spans, for the driver-local readers' pruning
        (``Index._local_pruned_files``); the Spark scans prune per store
        in ``_pruned_table``."""
        out = []
        for store, man, _shift in self._parts:
            ranges = self._part_ranges(store, man, table)
            if ranges is None:
                return None  # pruning disabled
            out.extend(ranges)
        return out

    def _pruned_table(
        self,
        table: str,
        fieldname: str | None,
        terms: list[str] | None = None,
        lo: str | None = None,
        hi: str | None = None,
        pairs: list[tuple[str, str]] | None = None,
    ) -> DataFrame | None:
        from whoosh_novo_spark.sources.file_prune import prune_files

        keeps: list[tuple[list[str], int]] = []  # (files, shift)
        total = kept = 0
        fallback_file: str | None = None
        fallback_shift = 0
        for store, man, shift in self._parts:
            ranges = self._part_ranges(store, man, table)
            if ranges is None:
                return None  # pruning disabled
            if not ranges:
                if man.segments and store.table_paths(man, table):
                    return None  # store has the table but no usable bounds
                continue  # store is empty for this table
            if fallback_file is None:
                fallback_file, fallback_shift = ranges[0].path, shift
            keep = prune_files(ranges, fieldname, terms=terms, lo=lo, hi=hi, pairs=pairs)
            if keep is None:
                return None
            total += len(ranges)
            kept += len(keep)
            if keep:
                keeps.append((keep, shift))
        if fallback_file is None or kept >= total:
            return None
        if not keeps:
            # no file can contain the keys; scan one file so the plan keeps
            # the on-disk schema (caller's filters match nothing)
            keeps = [([fallback_file], fallback_shift)]
        parts = [
            _shift(self.spark.read.parquet(*files), shift, mark=(table == "blocks"))
            for files, shift in keeps
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
