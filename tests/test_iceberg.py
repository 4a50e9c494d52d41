"""Iceberg input-table support: metadata walk, snapshots, time travel,
partition pruning, and ingest into the index build.

Gates ``sources/iceberg.py`` + ``sources/avro_io.py``: the north-rule
input is "an Iceberg table of Common-Crawl-style web pages"; tables here
are created by the module's own spec-shaped writer (no Iceberg runtime
in the environment) and every read goes through the REAL metadata walk —
version-hint -> metadata.json -> manifest-list avro -> manifest avro ->
parquet file set.
"""

from __future__ import annotations

import os
import shutil

import pytest

from whoosh_novo_spark.sources.avro_io import read_ocf, write_ocf
from whoosh_novo_spark.sources.corpus import corpus_pandas
from whoosh_novo_spark.sources.iceberg import (
    IcebergTable,
    append_snapshot,
    read_iceberg,
    write_iceberg_table,
)

SCHEMA = [
    ("url", "string"),
    ("text", "string"),
    ("lang", "string"),
]


def _pages(spark, n=120, seed=11):
    pdf = corpus_pandas(n, seed=seed, vocab_size=200)
    return spark.createDataFrame(
        list(zip(pdf["url"], pdf["text"], pdf["lang"])),
        "url string, text string, lang string",
    )


# ---------------------------------------------------------------- avro


def test_avro_roundtrip_nested(tmp_path):
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "n", "type": ["null", "long"], "default": None},
            {"name": "b", "type": "bytes"},
            {
                "name": "arr",
                "type": {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "kv",
                        "fields": [
                            {"name": "k", "type": "string"},
                            {"name": "v", "type": "double"},
                        ],
                    },
                },
            },
            {"name": "m", "type": {"type": "map", "values": "int"}},
            {"name": "bool", "type": "boolean"},
        ],
    }
    recs = [
        {
            "s": "hello é中",
            "n": None,
            "b": b"\x00\x01",
            "arr": [{"k": "a", "v": 1.5}, {"k": "b", "v": -2.25}],
            "m": {"x": -1, "y": 2},
            "bool": True,
        },
        {"s": "", "n": -12345678901234, "b": b"", "arr": [], "m": {}, "bool": False},
    ]
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"t_{codec}.avro")
        write_ocf(p, schema, recs, codec=codec)
        _, out = read_ocf(p)
        assert out == recs


# ------------------------------------------------------------ table reads


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """Two-snapshot partitioned table: snapshot 1 = first 120 pages,
    snapshot 2 appends 60 more."""
    from pyspark.sql import functions as F

    loc = str(tmp_path_factory.mktemp("ice") / "pages")
    d1 = _pages(spark, 120, seed=11)
    s1 = write_iceberg_table(spark, d1, loc, SCHEMA, partition_col="lang", ts_ms=1000)
    # distinct url space for the append (corpus_pandas always starts at
    # doc 0, and duplicate ids would make docid tie-order build-dependent)
    d2 = _pages(spark, 60, seed=77).withColumn("url", F.concat(F.col("url"), F.lit("-b")))
    s2 = write_iceberg_table(spark, d2, loc, SCHEMA, partition_col="lang", ts_ms=2000)
    return loc, d1, d2, s1, s2


def _urlset(df):
    return {r["url"] for r in df.select("url").collect()}


def test_current_snapshot_reads_all(spark, table):
    loc, d1, d2, _, _ = table
    got = read_iceberg(spark, loc)
    assert _urlset(got) == _urlset(d1) | _urlset(d2)
    assert got.count() == d1.count() + d2.count()


def test_snapshot_id_and_time_travel(spark, table):
    loc, d1, d2, s1, s2 = table
    assert _urlset(read_iceberg(spark, loc, snapshot_id=s1)) == _urlset(d1)
    assert _urlset(read_iceberg(spark, loc, snapshot_id=s2)) == _urlset(d1) | _urlset(d2)
    # as-of between the two commits resolves to snapshot 1
    assert _urlset(read_iceberg(spark, loc, as_of_ms=1500)) == _urlset(d1)
    with pytest.raises(ValueError, match="no snapshot"):
        read_iceberg(spark, loc, as_of_ms=10)


def test_partition_pruning_selects_fewer_files(spark, table):
    loc, d1, d2, _, _ = table
    t = IcebergTable(loc)
    all_files = t.data_files()
    en_files = t.data_files(partition_filter={"lang": "en"})
    assert 0 < len(en_files) < len(all_files)
    assert all(f.partition["lang"] == "en" for f in en_files)
    got = t.read(spark, partition_filter={"lang": "en"})
    want = read_iceberg(spark, loc).where("lang = 'en'")
    assert _urlset(got.where("lang = 'en'")) == _urlset(want)
    # range-filter form
    rng = t.data_files(partition_filter={"lang": ("de", "es")})
    assert rng and all("de" <= f.partition["lang"] <= "es" for f in rng)
    # unknown / non-identity fields never prune (conservative)
    assert len(t.data_files(partition_filter={"nope": "x"})) == len(all_files)


def test_manifest_rowcounts_match_footers(table):
    loc, d1, d2, _, _ = table
    t = IcebergTable(loc)
    assert sum(f.record_count for f in t.data_files()) == d1.count() + d2.count()


def test_relocated_table_still_resolves(spark, table, tmp_path):
    loc, d1, d2, _, _ = table
    moved = str(tmp_path / "moved_pages")
    shutil.copytree(loc, moved)
    got = read_iceberg(spark, moved)
    assert got.count() == d1.count() + d2.count()


def test_delete_manifests_refused(spark, tmp_path):
    import json

    loc = str(tmp_path / "del_pages")
    d = _pages(spark, 30, seed=3)
    write_iceberg_table(spark, d, loc, SCHEMA)
    # rewrite the current manifest list IN PLACE with a delete-content entry
    t = IcebergTable(loc)
    snap = t.snapshot()
    mlist = t._local(snap["manifest-list"])
    meta, entries = read_ocf(mlist)
    entries[0]["content"] = 1  # DELETES manifest
    write_ocf(mlist, json.loads(meta["avro.schema"]), entries)
    with pytest.raises(NotImplementedError, match="delete"):
        IcebergTable(loc).data_files()


def test_append_snapshot_carries_prior_manifests(spark, table):
    """The manifest list of snapshot 2 must reference BOTH manifests —
    i.e. appends never rewrite or drop earlier data files."""
    loc, *_ = table
    t = IcebergTable(loc)
    snap = t.snapshot()
    mlist = os.path.join(
        loc, "metadata", os.path.basename(snap["manifest-list"])
    )
    _, manifests = read_ocf(mlist)
    assert len(manifests) == 2
    assert len({m["manifest_path"] for m in manifests}) == 2


def test_ingest_to_index_build(spark, table, tmp_path):
    """End-to-end: Iceberg pages table -> build_segment -> queries answer
    identically to a direct-parquet build over the same rows."""
    from whoosh_novo_spark.operators.build import build_segment
    from whoosh_novo_spark.operators.query import Index, Searcher
    from whoosh_novo_spark.plans import ast
    from whoosh_novo_spark.schema import FieldConfig, IndexConfig
    from whoosh_novo_spark.sources.segment_store import SegmentStore

    loc, d1, d2, _, _ = table
    cfg = IndexConfig(id_col="url", fields=(FieldConfig("text"),))
    ice_store = SegmentStore(str(tmp_path / "ix_ice"))
    direct_store = SegmentStore(str(tmp_path / "ix_direct"))
    docs_ice = read_iceberg(spark, loc).select("url", "text")
    docs_direct = d1.select("url", "text").unionByName(d2.select("url", "text"))
    build_segment(spark, docs_ice, cfg, ice_store, partitions=2)
    build_segment(spark, docs_direct, cfg, direct_store, partitions=2)
    si = Searcher(Index(spark, ice_store, cfg))
    sd = Searcher(Index(spark, direct_store, cfg))
    for q in (
        ast.Term("text", "render"),
        ast.Or((ast.Term("text", "render"), ast.Term("text", "shade"))),
    ):
        ours = [(r["docid"], round(float(r["score"]), 9)) for r in si.search(q, limit=None).collect()]
        want = [(r["docid"], round(float(r["score"]), 9)) for r in sd.search(q, limit=None).collect()]
        assert ours == want


def test_unpartitioned_table(spark, tmp_path):
    loc = str(tmp_path / "flat")
    d = _pages(spark, 40, seed=5)
    write_iceberg_table(spark, d, loc, SCHEMA)
    assert _urlset(read_iceberg(spark, loc)) == _urlset(d)
    t = IcebergTable(loc)
    # no partition fields -> filters prune nothing, never wrong
    assert len(t.data_files(partition_filter={"lang": "en"})) == len(t.data_files())


def test_append_snapshot_direct_api(tmp_path):
    """append_snapshot is usable standalone (paths + stats provided)."""
    loc = str(tmp_path / "manual")
    s1 = append_snapshot(
        loc, [("f1.parquet", {"lang": "en"}, 10, 100)], SCHEMA, [("lang", "string")]
    )
    s2 = append_snapshot(
        loc, [("f2.parquet", {"lang": "de"}, 5, 50)], SCHEMA, [("lang", "string")]
    )
    t = IcebergTable(loc)
    assert sum(f.record_count for f in t.data_files()) == 15
    assert sum(f.record_count for f in t.data_files(snapshot_id=s1)) == 10
    assert {f.partition["lang"] for f in t.data_files(snapshot_id=s2)} == {"en", "de"}


# ---------------------------------------------------------- incremental sync


def test_incremental_sync(spark, tmp_path):
    """Growing table -> sync indexes only appended files; results match a
    direct 2-batch build; unchanged snapshot is a no-op."""
    from pyspark.sql import functions as F

    from whoosh_novo_spark.operators.build import build_segment
    from whoosh_novo_spark.operators.query import Index, Searcher
    from whoosh_novo_spark.plans import ast
    from whoosh_novo_spark.schema import FieldConfig, IndexConfig
    from whoosh_novo_spark.sources.iceberg import (
        last_synced_snapshot,
        sync_index_from_iceberg,
    )
    from whoosh_novo_spark.sources.segment_store import SegmentStore

    cfg = IndexConfig(id_col="url", fields=(FieldConfig("text"),))
    loc = str(tmp_path / "grow")
    d1 = _pages(spark, 90, seed=21)
    write_iceberg_table(spark, d1, loc, SCHEMA, ts_ms=1000)

    store = SegmentStore(str(tmp_path / "ix_sync"))
    m, snap, n = sync_index_from_iceberg(
        spark, loc, store, cfg, columns=["url", "text"], partitions=2
    )
    assert n > 0 and m.doc_count_all == 90
    assert last_synced_snapshot(store) == snap

    # no new snapshot -> no-op (no new segment, marker unchanged)
    m2, snap2, n2 = sync_index_from_iceberg(spark, loc, store, cfg)
    assert (snap2, n2, len(m2.segments)) == (snap, 0, len(m.segments))

    d2 = _pages(spark, 45, seed=63).withColumn(
        "url", F.concat(F.col("url"), F.lit("-b"))
    )
    write_iceberg_table(spark, d2, loc, SCHEMA, ts_ms=2000)
    m3, snap3, n3 = sync_index_from_iceberg(
        spark, loc, store, cfg, columns=["url", "text"], partitions=2
    )
    assert snap3 != snap and n3 > 0
    assert m3.doc_count_all == 135 and len(m3.segments) == len(m.segments) + 1

    # parity vs a direct 2-batch build over the same rows
    direct = SegmentStore(str(tmp_path / "ix_direct"))
    build_segment(spark, d1.select("url", "text"), cfg, direct, partitions=2)
    build_segment(spark, d2.select("url", "text"), cfg, direct, partitions=2)
    ss, sd = Searcher(Index(spark, store, cfg)), Searcher(Index(spark, direct, cfg))
    for q in (
        ast.Term("text", "render"),
        ast.Or((ast.Term("text", "render"), ast.Term("text", "shade"))),
    ):
        ours = [(r["docid"], round(float(r["score"]), 9)) for r in ss.search(q, limit=None).collect()]
        want = [(r["docid"], round(float(r["score"]), 9)) for r in sd.search(q, limit=None).collect()]
        assert ours == want


def test_incremental_sync_refuses_rewrites(spark, tmp_path):
    """A data file vanishing between snapshots (compaction/delete) cannot
    be expressed as an append diff -> loud failure, never a silent skip."""
    import json as _json

    from whoosh_novo_spark.schema import FieldConfig, IndexConfig
    from whoosh_novo_spark.sources.iceberg import sync_index_from_iceberg
    from whoosh_novo_spark.sources.segment_store import SegmentStore

    cfg = IndexConfig(id_col="url", fields=(FieldConfig("text"),))
    loc = str(tmp_path / "rewrite")
    write_iceberg_table(spark, _pages(spark, 30, seed=8), loc, SCHEMA, ts_ms=1000)
    store = SegmentStore(str(tmp_path / "ix_rw"))
    sync_index_from_iceberg(spark, loc, store, cfg, columns=["url", "text"])

    # forge snapshot 2 whose manifest DROPS one of snapshot 1's files
    t = IcebergTable(loc)
    files = t.data_files()
    keep = [(f.path, f.partition, f.record_count, f.file_size) for f in files[1:]]
    # write a fresh manifest-list with only the kept files by appending a
    # snapshot then rewriting its manifest list to exclude the prior one
    append_snapshot(loc, keep, SCHEMA, [], ts_ms=2000)
    t2 = IcebergTable(loc)
    snap = t2.snapshot()
    mlist = t2._local(snap["manifest-list"])
    meta, manifests = read_ocf(mlist)
    write_ocf(mlist, _json.loads(meta["avro.schema"]), manifests[-1:])
    with pytest.raises(NotImplementedError, match="append-only"):
        sync_index_from_iceberg(spark, loc, store, cfg)


# ----------------------------------------------------------- column bounds


def test_column_bounds_prune_files(spark, tmp_path):
    """Manifests carry per-file column min/max (spec lower/upper_bounds,
    field-id keyed, single-value binary); a url-range scan selects only
    the spanning files — the input-table twin of the index side's
    file-level (field, term) pruning."""
    from pyspark.sql import functions as F

    loc = str(tmp_path / "bounded")
    # 3 snapshots = 3 disjoint url ranges -> at least 3 files with
    # disjoint url bounds
    for i, seed in enumerate((1, 2, 3)):
        d = _pages(spark, 40, seed=seed).withColumn(
            "url", F.concat(F.lit(f"https://site{i}.test/"), F.col("url"))
        ).coalesce(1)
        write_iceberg_table(spark, d, loc, SCHEMA, ts_ms=(i + 1) * 1000,
                            bound_cols=["url"])
    t = IcebergTable(loc)
    allf = t.data_files()
    one = t.data_files(column_filter={"url": ("https://site1.test/", "https://site1.test/~")})
    assert 0 < len(one) < len(allf)
    got = t.read(spark, column_filter={"url": ("https://site1.test/", "https://site1.test/~")})
    want = read_iceberg(spark, loc).where(F.col("url").startswith("https://site1.test/"))
    assert _urlset(got.where(F.col("url").startswith("https://site1.test/"))) == _urlset(want)
    # point filter form + conservative on unknown columns
    assert len(t.data_files(column_filter={"nope": "x"})) == len(allf)
    # disjoint range proves empty
    assert t.data_files(column_filter={"url": ("zzz", None)}) == []


def test_column_bounds_long_type(spark, tmp_path):
    """long-typed bounds use the spec's little-endian single-value form."""
    loc = str(tmp_path / "longs")
    df = spark.createDataFrame(
        [(f"u{i:04d}", f"text {i}", i) for i in range(100)],
        "url string, text string, n long",
    ).orderBy("n").coalesce(1)
    schema = [("url", "string"), ("text", "string"), ("n", "long")]
    write_iceberg_table(spark, df.where("n < 50"), loc, schema, ts_ms=1000, bound_cols=["n"])
    write_iceberg_table(spark, df.where("n >= 50"), loc, schema, ts_ms=2000, bound_cols=["n"])
    t = IcebergTable(loc)
    lo = t.data_files(column_filter={"n": (0, 10)})
    hi = t.data_files(column_filter={"n": (90, None)})
    assert len(lo) < len(t.data_files()) and len(hi) < len(t.data_files())
    assert t.read(spark, column_filter={"n": (0, 10)}).where("n <= 10").count() == 11
    # files without bounds are always kept: mixed-table conservatism
    write_iceberg_table(spark, df.where("n = 50"), loc, schema, ts_ms=3000)
    both = IcebergTable(loc).data_files(column_filter={"n": (0, 10)})
    assert len(both) == len(lo) + 1  # the boundless new file is kept


def test_sync_crash_recovery_no_duplicates(spark, tmp_path):
    """A crash between the segment commit and the final sync marker must
    NOT re-index that batch's files on the next sync: the pending marker
    records the start generation, and a committed generation bump means
    the build landed."""
    import json as _json
    import os as _os

    from whoosh_novo_spark.schema import FieldConfig, IndexConfig
    from whoosh_novo_spark.sources.iceberg import (
        _SYNC_MARKER,
        last_synced_snapshot,
        sync_index_from_iceberg,
    )
    from whoosh_novo_spark.sources.segment_store import SegmentStore

    cfg = IndexConfig(id_col="url", fields=(FieldConfig("text"),))
    loc = str(tmp_path / "crash")
    write_iceberg_table(spark, _pages(spark, 50, seed=4), loc, SCHEMA, ts_ms=1000)
    store = SegmentStore(str(tmp_path / "ix_crash"))
    m, snap, _ = sync_index_from_iceberg(spark, loc, store, cfg, columns=["url", "text"])
    assert m.doc_count_all == 50

    # simulate the crash: the sync that indexed snapshot 1 committed its
    # segment (generation bumped) but died before the final marker.
    # Reconstruct that state: roll the marker back to "never synced" and
    # plant the pending marker with a PRE-build generation.
    _os.remove(_os.path.join(store.path, _SYNC_MARKER))
    with open(_os.path.join(store.path, _SYNC_MARKER + ".pending"), "w") as f:
        _json.dump(
            {"snapshot_id": snap, "location": loc, "start_generation": 0}, f
        )
    m2, snap2, n2 = sync_index_from_iceberg(spark, loc, store, cfg, columns=["url", "text"])
    assert (snap2, n2) == (snap, 0)  # finalized, NOT re-indexed
    assert m2.doc_count_all == 50  # no duplicate docs
    assert last_synced_snapshot(store) == snap

    # inverse case: pending marker but the build never committed
    # (generation unchanged) -> plain retry indexes the appended snapshot
    from pyspark.sql import functions as F

    d2 = _pages(spark, 20, seed=91).withColumn("url", F.concat(F.col("url"), F.lit("-c")))
    write_iceberg_table(spark, d2, loc, SCHEMA, ts_ms=2000)
    gen_now = store.current_generation()
    with open(_os.path.join(store.path, _SYNC_MARKER + ".pending"), "w") as f:
        _json.dump(
            {"snapshot_id": 999, "location": loc, "start_generation": gen_now}, f
        )
    m3, _, n3 = sync_index_from_iceberg(spark, loc, store, cfg, columns=["url", "text"])
    assert n3 > 0 and m3.doc_count_all == 70

    # pending from a different table is refused
    with open(_os.path.join(store.path, _SYNC_MARKER + ".pending"), "w") as f:
        _json.dump({"snapshot_id": 1, "location": "/elsewhere", "start_generation": 0}, f)
    with pytest.raises(ValueError, match="different"):
        sync_index_from_iceberg(spark, loc, store, cfg)
    _os.remove(_os.path.join(store.path, _SYNC_MARKER + ".pending"))


def test_additive_schema_evolution(spark, tmp_path):
    """A column added after files were written: the read projects the
    table's CURRENT schema — old files yield null for the new column,
    new field ids are minted, old ids never renumber."""
    loc = str(tmp_path / "evolve")
    two = [("url", "string"), ("text", "string")]
    d1 = _pages(spark, 30, seed=12).select("url", "text")
    write_iceberg_table(spark, d1, loc, two, ts_ms=1000)
    t1 = IcebergTable(loc)
    assert set(read_iceberg(spark, loc).columns) == {"url", "text"}

    from pyspark.sql import functions as F

    d2 = (
        _pages(spark, 20, seed=34)
        .withColumn("url", F.concat(F.col("url"), F.lit("-e")))
        .select("url", "text", "lang")
    )
    write_iceberg_table(spark, d2, loc, SCHEMA, ts_ms=2000)
    t2 = IcebergTable(loc)
    # new schema entry, old field ids preserved, new id minted
    f1 = t1._schema_fields()
    f2 = t2._schema_fields()
    assert f2["url"] == f1["url"] and f2["text"] == f1["text"]
    assert "lang" in f2 and f2["lang"][0] > max(i for i, _ in f1.values())

    got = read_iceberg(spark, loc)
    assert got.columns == ["url", "text", "lang"]
    assert got.count() == 50
    # pre-evolution rows read null for the added column
    assert got.where("lang is null").count() == 30
    assert got.where("lang is not null").count() == 20


def test_float_partition_and_date_bounds(spark, tmp_path):
    """float partition values and date-typed column bounds go through the
    writer's avro/manifest maps (r5 review fix: _ICE_TO_AVRO lacked
    float/date and _encode_bound had no date packing — both KeyError'd
    on write despite _ICE_TO_SPARK advertising read support)."""
    import datetime as dt

    loc = str(tmp_path / "fd")
    df = spark.createDataFrame(
        [
            (f"u{i:03d}", f"text {i}", float(i % 2), dt.date(2026, 1, 1 + i % 20))
            for i in range(40)
        ],
        "url string, text string, score float, day date",
    ).orderBy("day").coalesce(1)
    schema = [
        ("url", "string"),
        ("text", "string"),
        ("score", "float"),
        ("day", "date"),
    ]
    write_iceberg_table(
        spark,
        df.where("day < date'2026-01-11'"),
        loc,
        schema,
        partition_col="score",
        ts_ms=1000,
        bound_cols=["day"],
    )
    write_iceberg_table(
        spark,
        df.where("day >= date'2026-01-11'"),
        loc,
        schema,
        partition_col="score",
        ts_ms=2000,
        bound_cols=["day"],
    )
    t = IcebergTable(loc)
    allf = t.data_files()
    early = t.data_files(column_filter={"day": (None, dt.date(2026, 1, 5))})
    assert 0 < len(early) < len(allf)  # date bounds prune the late files
    got = t.read(spark, column_filter={"day": (None, dt.date(2026, 1, 5))})
    assert got.where("day <= date'2026-01-05'").count() == df.where(
        "day <= date'2026-01-05'"
    ).count()
    # typed read side: schema projection keeps float/date types
    assert dict(t.read(spark).dtypes)["score"] == "float"
    assert dict(t.read(spark).dtypes)["day"] == "date"


def test_sync_projects_table_schema_across_evolution(spark, tmp_path):
    """A sync delta that straddles an additive schema evolution must read
    with the TABLE schema (r5 review fix): files written before the new
    column existed read as null for it, deterministically, instead of
    letting parquet inference pick whichever file's schema wins."""
    from whoosh_novo_spark.schema import FieldConfig, IndexConfig
    from whoosh_novo_spark.sources.iceberg import sync_index_from_iceberg
    from whoosh_novo_spark.sources.segment_store import SegmentStore

    loc = str(tmp_path / "evo")
    old_schema = [("url", "string"), ("text", "string")]
    d1 = spark.createDataFrame(
        [(f"u{i}", f"alpha beta {i}") for i in range(10)], "url string, text string"
    ).coalesce(1)
    write_iceberg_table(spark, d1, loc, old_schema, ts_ms=1000)
    new_schema = old_schema + [("title", "string")]
    d2 = spark.createDataFrame(
        [(f"v{i}", f"gamma delta {i}", f"title {i}") for i in range(10)],
        "url string, text string, title string",
    ).coalesce(1)
    write_iceberg_table(spark, d2, loc, new_schema, ts_ms=2000)

    store = SegmentStore(str(tmp_path / "ix_evo"))
    cfg = IndexConfig(id_col="url", fields=(FieldConfig("text"),), stored_cols=())
    # one sync sees BOTH files; the select of the evolved column must work
    # and pre-evolution rows must carry null for it
    _, _, n = sync_index_from_iceberg(
        spark, loc, store, cfg, columns=["url", "text", "title"]
    )
    assert n == 2  # both data files indexed in one delta
