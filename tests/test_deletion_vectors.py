"""Deletion vectors (Iceberg v3, lake/dv.py + delete.representation=dv).

The shared MoR battery (test_mor_deletes.py) runs whole under DV mode;
this file covers what that battery can't: the codec itself (array AND
bitmap containers), the supersession invariant (a newer vector contains
the older one; at most one LIVE vector per file), delta accounting
under stacked deletes, streaming CDC emitting exactly the per-commit
delta, and file-GC keeping live vectors."""

import os

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from icebergplus_spark.lake import LocalLakeCatalog, compact, expire_snapshots
from icebergplus_spark.lake import dv as dvmod
from icebergplus_spark.lake.manifest_list import snapshot_lists

SCHEMA = StructType(
    [StructField("k", IntegerType(), True), StructField("v", StringType(), True)]
)


# -- codec ------------------------------------------------------------------


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**40), max_size=300),
    st.lists(st.integers(min_value=0, max_value=2**40), max_size=300),
)
def test_codec_roundtrip_and_merge_property(a, b):
    ea, eb = dvmod.encode_dv(a), dvmod.encode_dv(b)
    assert list(dvmod.decode_positions(ea)) == sorted(set(a))
    assert dvmod.cardinality(ea) == len(set(a))
    merged = dvmod.merge(ea, eb)
    assert list(dvmod.decode_positions(merged)) == sorted(set(a) | set(b))
    probe = np.array(sorted(set(a) | set(b) | {0, 1, 2**41}), dtype=np.int64)
    mask = dvmod.contains(merged, probe)
    truth = np.isin(probe, np.array(sorted(set(a) | set(b)), dtype=np.int64))
    assert np.array_equal(mask, truth)


def test_codec_dense_flips_to_bitmap_container():
    """>4096 positions in one 64 Ki block must use the fixed 8 KiB
    bitmap container (roaring density trade) — and stay correct."""
    pos = np.arange(0, 60000, 2)  # 30k in container 0
    blob = dvmod.encode_dv(pos)
    assert len(blob) < 2 * pos.size  # bitmap, not 2-byte-per-entry array
    assert dvmod.cardinality(blob) == pos.size
    probe = np.arange(0, 60000)
    assert np.array_equal(dvmod.contains(blob, probe), probe % 2 == 0)
    assert np.array_equal(dvmod.decode_positions(blob), pos)


# -- table integration ------------------------------------------------------


@pytest.fixture
def table(spark, tmp_path):
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.dv", SCHEMA)
    t.set_property("delete.representation", "dv")
    t.append(
        spark.createDataFrame([(i, f"a{i}") for i in range(10)], SCHEMA).coalesce(1)
    )
    return t


def _live_dv_state(t):
    """{victim file → (cardinality, blob)} last-wins over live entries."""
    import pyarrow.parquet as pq

    state = {}
    for e in t._delete_entries(t.snapshot()):
        if e["content"] != "dv":
            continue
        pt = pq.read_table(e["file_path"])
        for f, b in zip(
            pt.column("file_path").to_pylist(), pt.column("dv").to_pylist()
        ):
            state[f] = bytes(b)
    return state


def test_supersession_invariant_and_delta_accounting(table):
    """Stacked deletes: the newest vector per file CONTAINS the older
    one, the live state has at most one vector per file, and summary
    deltas sum to the true live cardinality."""
    table.delete_where({"k": ("<", 3)})
    v1 = dict(_live_dv_state(table))
    table.delete_where({"k": (">=", 8)})
    v2 = _live_dv_state(table)
    assert len(v2) == 1  # one data file → one live vector
    (old_blob,), (new_blob,) = v1.values(), v2.values()
    old_pos = set(dvmod.decode_positions(old_blob).tolist())
    new_pos = set(dvmod.decode_positions(new_blob).tolist())
    assert old_pos < new_pos  # strict containment
    assert new_pos == {0, 1, 2, 8, 9}
    assert table.snapshot()["summary"]["total-position-deletes"] == 5
    # per-entry record_count carries the DELTA, not the cardinality
    deltas = [
        e["record_count"]
        for e in table._delete_entries(table.snapshot())
        if e["content"] == "dv"
    ]
    assert sorted(deltas) == [2, 3]


def test_large_delete_uses_bitmap_and_scan_is_exact(spark, tmp_path):
    """10k-row dense delete in one file: exercises the bitmap container
    through the whole write→scan path."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "whl")).start()
    t = cat.create_table("db.big", SCHEMA)
    t.set_property("delete.representation", "dv")
    t.append(
        spark.createDataFrame(
            [(i, "x") for i in range(12000)], SCHEMA
        ).coalesce(1)
    )
    t.delete_where({"k": ("<", 10000)})
    assert t.scan().count() == 2000
    assert (
        t.scan().agg({"k": "min"}).collect()[0][0] == 10000
    )
    (blob,) = _live_dv_state(t).values()
    assert dvmod.cardinality(blob) == 10000
    assert len(blob) <= 8192 + 64  # bitmap containers, not 20k uint16s


def test_cdc_stream_emits_exact_delta_per_commit(spark, tmp_path):
    """Streaming CDC under DV mode: each delete commit emits exactly the
    rows newly tombstoned by that commit (new vector MINUS previous),
    never the merged history."""
    from icebergplus_spark.streaming.lake_source import read_lake_cdc_stream

    cat = LocalLakeCatalog(spark, str(tmp_path / "whc")).start()
    t = cat.create_table("db.cdcdv", SCHEMA)
    t.set_property("delete.representation", "dv")
    t.append(
        spark.createDataFrame([(i, f"r{i}") for i in range(6)], SCHEMA).coalesce(1)
    )
    s_app = t.current_snapshot_id
    t.delete_where({"k": ("<", 2)})
    s_d1 = t.current_snapshot_id
    t.delete_where({"k": (">=", 4)})  # merged vector now {0,1,4,5}
    s_d2 = t.current_snapshot_id

    q = (
        read_lake_cdc_stream(spark, t.table_dir)
        .writeStream.format("memory")
        .queryName("cdcdv")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(
        (r["k"], r["_change_type"], r["_commit_snapshot_id"])
        for r in spark.sql("SELECT * FROM cdcdv").collect()
    )
    assert rows == [
        (0, "delete", s_d1),
        (0, "insert", s_app),
        (1, "delete", s_d1),
        (1, "insert", s_app),
        (2, "insert", s_app),
        (3, "insert", s_app),
        (4, "delete", s_d2),  # delta only — 0/1 NOT re-emitted
        (4, "insert", s_app),
        (5, "delete", s_d2),
        (5, "insert", s_app),
    ]


def test_vacuum_keeps_live_vectors_then_purge_removes(table):
    # second data file so the purge-compaction has a rewrite set
    table.append(
        table.spark.createDataFrame(
            [(i, f"b{i}") for i in range(10, 12)], SCHEMA
        ).coalesce(1)
    )
    table.delete_where({"k": ("<", 4)})
    state = _live_dv_state(table)
    dv_files = {
        e["file_path"]
        for e in table._delete_entries(table.snapshot())
        if e["content"] == "dv"
    }
    assert dv_files and state
    expire_snapshots(table, keep_last=1)
    assert all(os.path.exists(p) for p in dv_files)
    keep = [4, 5, 6, 7, 8, 9, 10, 11]
    assert sorted(r["k"] for r in table.scan().collect()) == keep
    compact(table, target_file_size=64 * 1024 * 1024, purge_deletes=True)
    assert snapshot_lists(table._meta_dir, table.snapshot()).delete_manifests == []
    expire_snapshots(table, keep_last=1)
    assert all(not os.path.exists(p) for p in dv_files)
    assert sorted(r["k"] for r in table.scan().collect()) == keep


def test_mixed_representation_history(spark, tmp_path):
    """A table that switches position→dv mid-history applies BOTH
    tombstone kinds at scan."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "whx")).start()
    t = cat.create_table("db.mix", SCHEMA)
    t.append(
        spark.createDataFrame([(i, f"r{i}") for i in range(8)], SCHEMA).coalesce(1)
    )
    t.delete_where({"k": ("=", 0)})  # classic position delete file
    t.set_property("delete.representation", "dv")
    t.delete_where({"k": ("=", 7)})  # deletion vector
    contents = {
        e["content"] for e in t._delete_entries(t.snapshot())
    }
    assert contents == {"position", "dv"}
    assert sorted(r["k"] for r in t.scan().collect()) == [1, 2, 3, 4, 5, 6]
    assert t.snapshot()["summary"]["total-position-deletes"] == 2


def test_rewrite_deletion_vectors_consolidates(spark, tmp_path):
    """DV consolidation (rewrite_position_delete_files analogue): three
    delete commits → three vector parquets; one consolidation commit →
    ONE live vector parquet with the full live cardinality; scan
    identical; changelog/CDC silent on the consolidation; expiry
    reclaims the superseded blobs."""
    import pyarrow.parquet as pq

    from icebergplus_spark.lake import rewrite_deletion_vectors

    cat = LocalLakeCatalog(spark, str(tmp_path / "whrc")).start()
    t = cat.create_table("db.cons", SCHEMA)
    t.set_property("delete.representation", "dv")
    for lo in (0, 10):
        t.append(
            spark.createDataFrame(
                [(lo + i, f"r{lo + i}") for i in range(10)], SCHEMA
            ).coalesce(1)
        )
    t.delete_where({"k": ("<", 3)})
    t.delete_where({"k": (">=", 17)})
    t.delete_where({"k": ("=", 9)})
    before = sorted(r["k"] for r in t.scan().collect())
    cl_before = t.current_snapshot_id
    old_entries = [
        e for e in t._delete_entries(t.snapshot()) if e["content"] == "dv"
    ]
    assert len(old_entries) == 3

    rep = rewrite_deletion_vectors(t)
    assert rep == {
        "dv_files_before": 3,
        "dv_files_after": 1,
        "live_vectors": 2,
    }
    live = [e for e in t._delete_entries(t.snapshot()) if e["content"] == "dv"]
    assert len(live) == 1
    assert live[0]["record_count"] == 7  # 3 + 3 + 1 live positions
    assert t.snapshot()["summary"]["total-position-deletes"] == 7
    assert sorted(r["k"] for r in t.scan().collect()) == before
    # consolidation is changelog-silent
    assert t.scan_changelog(from_snapshot_id=cl_before).count() == 0
    # another delete merges into the CONSOLIDATED vector set
    t.delete_where({"k": ("=", 5)})
    assert sorted(r["k"] for r in t.scan().collect()) == [
        k for k in before if k != 5
    ]
    # expiry reclaims superseded vector parquets, keeps the live ones
    import os as _os

    from icebergplus_spark.lake import expire_snapshots

    expire_snapshots(t, keep_last=1)
    assert all(not _os.path.exists(e["file_path"]) for e in old_entries)
    for e in (x for x in t._delete_entries(t.snapshot()) if x["content"] == "dv"):
        assert _os.path.exists(e["file_path"])
        pq.read_table(e["file_path"])  # still readable
    assert sorted(r["k"] for r in t.scan().collect()) == [
        k for k in before if k != 5
    ]


def test_rewrite_deletion_vectors_via_sql_call(spark, tmp_path):
    from icebergplus_spark.lake.sql_dml import lake_sql

    cat = LocalLakeCatalog(spark, str(tmp_path / "whsql")).start()
    t = cat.create_table("db.sq", SCHEMA)
    t.set_property("delete.representation", "dv")
    t.append(
        spark.createDataFrame([(i, "x") for i in range(8)], SCHEMA).coalesce(1)
    )
    t.delete_where({"k": ("<", 2)})
    t.delete_where({"k": (">", 5)})
    lake_sql(cat, "CALL system.rewrite_deletion_vectors('db.sq')")
    t = cat.load_table("db.sq")
    assert (
        len([e for e in t._delete_entries(t.snapshot()) if e["content"] == "dv"])
        == 1
    )
    assert sorted(r["k"] for r in t.scan().collect()) == [2, 3, 4, 5]


def test_auto_maintain_consolidates_vectors(spark, tmp_path):
    from icebergplus_spark.lake import auto_maintain

    cat = LocalLakeCatalog(spark, str(tmp_path / "wham")).start()
    t = cat.create_table("db.am", SCHEMA)
    t.set_property("delete.representation", "dv")
    t.append(
        spark.createDataFrame([(i, "x") for i in range(30)], SCHEMA).coalesce(1)
    )
    for k in range(5):  # five vector files > threshold (max(2, 8//4)=2)
        t.delete_where({"k": ("=", k)})
    before = sorted(r["k"] for r in t.scan().collect())
    rep = auto_maintain(t, max_manifests=8)
    assert rep["rewrite_deletion_vectors"]["dv_files_after"] == 1
    assert sorted(r["k"] for r in t.scan().collect()) == before
    # healthy table → trigger does not fire again
    rep2 = auto_maintain(t, max_manifests=8)
    assert "skipped" in rep2["rewrite_deletion_vectors"]


def test_eq_to_dv_materialization(spark, tmp_path):
    """delete.eq-to-dv=true: equality deletes resolve to positions at
    WRITE time and land as merged bitmaps (the v3 direction — equality
    deletes are writer-cheap but reader-costly). Sequence semantics
    must hold by construction: a later append of the same key
    survives. Candidate files are pruned by the same range/bloom tiers
    scans use."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "whe2d")).start()
    t = cat.create_table("db.e2d", SCHEMA, bloom_cols=["k"])
    t.set_property("delete.representation", "dv")
    t.set_property("delete.eq-to-dv", "true")
    for lo in (0, 100):
        t.append(
            spark.createDataFrame(
                [(lo + i, f"r{lo + i}") for i in range(10)], SCHEMA
            ).coalesce(1)
        )
    t.delete_by_key(spark.createDataFrame([(3,), (105,)], "k int"))
    # NO equality entry exists — both tombstones are vectors
    contents = [e["content"] for e in t._delete_entries(t.snapshot())]
    assert contents and set(contents) == {"dv"}
    assert t.snapshot()["summary"]["total-equality-deletes"] == 0
    assert t.snapshot()["summary"]["total-position-deletes"] == 2
    got = sorted(r["k"] for r in t.scan().collect())
    assert 3 not in got and 105 not in got and len(got) == 18

    # sequence semantics: re-appending key 3 AFTER the delete survives
    t.append(spark.createDataFrame([(3, "reborn")], SCHEMA).coalesce(1))
    assert [r["v"] for r in t.scan().collect() if r["k"] == 3] == ["reborn"]

    # a second key delete MERGES into the existing vectors (and hits
    # the reborn row, which exists now)
    t.delete_by_key(spark.createDataFrame([(3,), (7,)], "k int"))
    got = sorted(r["k"] for r in t.scan().collect())
    assert 3 not in got and 7 not in got
    # vectors only, still
    assert {e["content"] for e in t._delete_entries(t.snapshot())} == {"dv"}

    # empty / all-NULL key frames are no-ops (no snapshot churn)
    v = t._meta["_version"]
    t.delete_by_key(spark.createDataFrame([], "k int"))
    t.delete_by_key(spark.createDataFrame([(None,)], "k int"))
    assert t._meta["_version"] == v

    # streaming watermark passthrough: extra_summary lands on the commit
    t.delete_by_key(
        spark.createDataFrame([(101,)], "k int"),
        extra_summary={"streaming-sink-id": "s", "streaming-batch-id": 9},
    )
    assert t.snapshot()["summary"]["streaming-batch-id"] == 9


def test_deletion_vectors_metadata_table(table):
    assert table.metadata_df("deletion_vectors").count() == 0
    table.delete_where({"k": ("<", 3)})
    table.delete_where({"k": (">=", 8)})
    rows = table.metadata_df("deletion_vectors").collect()
    assert len(rows) == 1  # one data file → one live vector
    assert rows[0]["cardinality"] == 5
    assert rows[0]["vector_bytes"] > 4
    import os as _os

    assert _os.path.exists(rows[0]["vector_file"])


def test_compact_delete_threshold_targets_heavy_vectors(spark, tmp_path):
    """compact(min_deleted_ratio=r): a LARGE file whose live vector
    tombstones >= r of its rows is pulled into the rewrite (even
    alone), dropping dead rows + vector; lightly-deleted files stay
    untouched."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "whdt")).start()
    t = cat.create_table("db.dt", SCHEMA)
    t.set_property("delete.representation", "dv")
    # two files: A [0..99], B [100..199]
    for lo in (0, 100):
        t.append(
            spark.createDataFrame(
                [(lo + i, f"r{lo + i}") for i in range(100)], SCHEMA
            ).coalesce(1)
        )
    t.delete_where({"k": ("<", 60)})    # 60% of file A dead
    t.delete_where({"k": ("=", 150)})   # 1% of file B dead
    before = {f["file_path"] for f in t.plan_files()}
    live_before = sorted(r["k"] for r in t.scan().collect())

    # below both ratios → nothing targeted (files are "small" though;
    # use a tiny small_file_threshold so size-based selection is off)
    rep = compact(
        t, small_file_threshold=1, min_deleted_ratio=0.7,
        target_file_size=64 * 1024 * 1024,
    )
    assert rep["compacted"] == 0

    rep = compact(
        t, small_file_threshold=1, min_deleted_ratio=0.5,
        target_file_size=64 * 1024 * 1024,
    )
    assert rep["compacted"] == 1  # file A only
    after = {f["file_path"] for f in t.plan_files()}
    assert len(before & after) == 1  # B untouched
    assert sorted(r["k"] for r in t.scan().collect()) == live_before
    # A's vector is gone from the live metadata view; B's remains
    mdt = t.metadata_df("deletion_vectors").collect()
    assert len(mdt) == 1 and mdt[0]["cardinality"] == 1


def test_orphan_sweep_reclaims_crashed_dv_commit_debris(table):
    """A dv commit that died between writing its vector parquet and
    publishing metadata leaves an orphan dv dir — the orphan sweep
    reclaims it while keeping every LIVE vector file."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from icebergplus_spark.lake import remove_orphan_files

    table.delete_where({"k": ("<", 3)})
    stray_dir = _os.path.join(table.table_dir, "data", "deletes", "dv-crashed")
    _os.makedirs(stray_dir)
    stray = _os.path.join(stray_dir, "part-0.parquet")
    pq.write_table(
        pa.table(
            {"file_path": ["x"], "dv": [b"DV1\x00\x00\x00\x00\x00"], "n_new": [0]}
        ),
        stray,
    )
    rep = remove_orphan_files(table, older_than_s=0)
    assert rep["deleted"] >= 1
    assert not _os.path.exists(stray)
    live_dv = [
        e["file_path"]
        for e in table._delete_entries(table.snapshot())
        if e["content"] == "dv"
    ]
    assert live_dv and all(_os.path.exists(p) for p in live_dv)
    assert sorted(r["k"] for r in table.scan().collect()) == list(range(3, 10))


def test_dv_blob_loads_are_per_file(spark, tmp_path):
    """r13: a scan task loads vectors for exactly the data files it
    touches through a path-only index, never the table's whole live
    blob set — and the keyed loads agree with the full manifest walk."""
    from icebergplus_spark.lake.table import (
        _DV_BLOB_CACHE,
        _DV_INDEX_CACHE,
        _dv_blobs_for,
        _dv_index,
    )

    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.dvidx", SCHEMA)
    t.set_property("delete.representation", "dv")
    # 4 single-file appends → 4 data files, then 2 stacked deletes so
    # some files carry superseding vectors across dv parquets
    for lo in range(0, 40, 10):
        t.append(
            spark.createDataFrame(
                [(i, f"a{i}") for i in range(lo, lo + 10)], SCHEMA
            ).coalesce(1)
        )
    t.delete_where({"k": (">", 25)})
    t.delete_where({"k": ("<", 5)})
    dv_paths = tuple(
        e["file_path"]
        for e in t._delete_entries(t.snapshot())
        if e["content"] == "dv"
    )
    assert dv_paths
    _DV_INDEX_CACHE.clear()
    _DV_BLOB_CACHE.clear()
    idx = _dv_index(dv_paths)
    assert idx and all(isinstance(v, str) for v in idx.values())
    full = _live_dv_state(t)  # authoritative full walk (last-wins)
    assert set(idx) == set(full)
    one = sorted(full)[0]
    got = _dv_blobs_for(dv_paths, [one])
    assert set(got) == {one}
    assert got[one] == full[one]
    # only the requested file's blob was cached — per-file, not per-set
    assert {f for (_p, f) in _DV_BLOB_CACHE} == {one}
    rest = _dv_blobs_for(dv_paths, sorted(full))
    assert rest == full
    # unknown files resolve to nothing rather than a full-map load
    assert _dv_blobs_for(dv_paths, ["file:/nope.parquet"]) == {}
    # and the scan itself stays exact under the keyed loads
    assert sorted(r["k"] for r in t.scan().collect()) == list(range(5, 26))
