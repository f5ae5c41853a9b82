"""Merge-on-read deletes (Iceberg v2 delete-file parity): position
deletes (`delete_where`), equality deletes (`delete_by_key`), scan-time
tombstone application, sequence semantics (append-after-delete), rewrite
interop (compact/merge/cow-delete must not resurrect rows), and the
commit counters the reference's MetricsReporter names
(totalPositionalDeletes / totalDeleteFiles / totalEqualityDeletes,
IntegrationTest.java:106-117)."""

import os

import pytest
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from icebergplus_spark.lake import (
    LocalLakeCatalog,
    compact,
    expire_snapshots,
    remove_orphan_files,
)
from icebergplus_spark.localrel import local_rows_df
from icebergplus_spark.lake.manifest_list import snapshot_lists

SCHEMA = StructType(
    [StructField("k", IntegerType(), True), StructField("v", StringType(), True)]
)


@pytest.fixture(params=["position", "dv"])
def table(spark, tmp_path, request):
    """Whole battery runs under BOTH row-level delete representations:
    classic v2 position-delete files and v3 deletion vectors
    (``delete.representation=dv``, lake/dv.py)."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.mor", SCHEMA)
    if request.param == "dv":
        t.set_property("delete.representation", "dv")
    t.append(local_rows_df(spark, [(i, f"a{i}") for i in range(5)], SCHEMA))
    t.append(local_rows_df(spark, [(i, f"b{i}") for i in range(5, 10)], SCHEMA))
    return t


def _keys(t):
    return sorted(r["k"] for r in t.scan().collect())


def test_position_delete_no_rewrite(table):
    before_paths = {f["file_path"] for f in table.plan_files()}
    pre_delete = table.current_snapshot_id

    table.delete_where({"k": ("<", 3)})
    assert _keys(table) == [3, 4, 5, 6, 7, 8, 9]
    # MOR: data files untouched — that's the write-side win
    assert {f["file_path"] for f in table.plan_files()} == before_paths
    snap = table.snapshot()
    assert snap["operation"] == "delete"
    assert snap["summary"]["total-position-deletes"] == 3
    assert snap["summary"]["total-delete-files"] >= 1
    # time travel behind the delete still sees everything
    assert len(table.scan(snapshot_id=pre_delete).collect()) == 10


def test_position_delete_stacks_and_double_delete_is_noop(table):
    table.delete_where({"k": ("<", 3)})
    table.delete_where({"k": (">=", 8)})
    assert _keys(table) == [3, 4, 5, 6, 7]
    assert table.snapshot()["summary"]["total-position-deletes"] == 5
    # re-deleting already-tombstoned rows adds no snapshot (nothing matched)
    n = len(table.history())
    table.delete_where({"k": ("<", 3)})
    assert len(table.history()) == n
    assert _keys(table) == [3, 4, 5, 6, 7]


def test_delete_files_metadata_table(spark, table):
    assert table.metadata_df("delete_files").count() == 0
    table.delete_where({"k": ("<", 3)})
    table.delete_by_key(
        spark.createDataFrame([(9,)], StructType([StructField("k", IntegerType(), True)]))
    )
    rows = table.metadata_df("delete_files").collect()
    mode = (table.properties or {}).get("delete.representation", "position")
    by_content = {r["content"] for r in rows}
    assert by_content == {mode, "equality"}
    assert sum(r["record_count"] for r in rows if r["content"] == mode) == 3


def test_predicate_scan_with_tombstones(table):
    table.delete_where({"k": ("=", 6)})
    got = sorted(
        r["k"] for r in table.scan(predicates={"k": (">=", 5)}).collect()
    )
    assert got == [5, 7, 8, 9]


def test_equality_delete_and_sequence_semantics(spark, table):
    keys = spark.createDataFrame([(2,), (7,)], StructType([StructField("k", IntegerType(), True)]))
    table.delete_by_key(keys)
    assert _keys(table) == [0, 1, 3, 4, 5, 6, 8, 9]
    assert table.snapshot()["summary"]["total-equality-deletes"] == 2
    # append the same key AFTER the delete: the new row survives
    # (applies_before ≈ Iceberg sequence numbers)
    table.append(local_rows_df(spark, [(2, "new2")], SCHEMA))
    assert _keys(table) == [0, 1, 2, 3, 4, 5, 6, 8, 9]
    assert [r["v"] for r in table.scan().collect() if r["k"] == 2] == ["new2"]


def test_commit_metrics_report_delete_counters(spark, tmp_path):
    from icebergplus_spark.lake import MetricsReporter, MetricsSink

    sink = MetricsSink()
    cat = LocalLakeCatalog(spark, str(tmp_path / "whm")).start()
    cat.set_metrics_reporter(MetricsReporter(sink))
    t = cat.create_table("db.metr", SCHEMA)
    t.append(local_rows_df(spark, [(i, "x") for i in range(4)], SCHEMA))
    t.delete_where({"k": ("<", 2)})

    def val(name):
        return sum(
            c.value for (n, _), c in sink._counters.items() if n == name
        )

    assert val("iceberg.commitReport.totalPositionalDeletes") == 2
    assert val("iceberg.commitReport.totalDeleteFiles") >= 1


def test_rewrites_do_not_resurrect(spark, table):
    table.delete_where({"k": ("=", 1)})
    # copy-on-write delete of a different range reads through tombstones
    table.delete({"k": (">=", 8)})
    assert _keys(table) == [0, 2, 3, 4, 5, 6, 7]
    # upsert over a file containing a tombstoned row
    table.merge(spark.createDataFrame([(2, "upd")], SCHEMA), key="k")
    assert _keys(table) == [0, 2, 3, 4, 5, 6, 7]
    assert [r["v"] for r in table.scan().collect() if r["k"] == 2] == ["upd"]


def test_compact_applies_and_purges_tombstones(spark, table):
    table.delete_where({"k": ("<", 4)})
    res = compact(table, target_file_size=64 * 1024 * 1024, purge_deletes=True)
    assert res["purged_deletes"] is True
    snap = table.snapshot()
    assert snapshot_lists(table._meta_dir, snap).delete_manifests == []
    assert snap["summary"]["total-position-deletes"] == 0
    assert _keys(table) == [4, 5, 6, 7, 8, 9]
    # total records in manifest reflect the physical purge
    assert snap["summary"]["total-records"] == 6


def test_expire_and_orphans_keep_live_delete_files(table):
    table.delete_where({"k": ("<", 2)})
    snap = table.snapshot()
    dm = snapshot_lists(table._meta_dir, snap).delete_manifests
    assert dm
    # delete files survive vacuum + orphan sweep while referenced
    expire_snapshots(table, keep_last=1)
    assert remove_orphan_files(table, older_than_s=0)["deleted"] == 0
    assert _keys(table) == [2, 3, 4, 5, 6, 7, 8, 9]
    # after a purging compaction + expiry, the delete files are gone
    compact(table, target_file_size=64 * 1024 * 1024, purge_deletes=True)
    expire_snapshots(table, keep_last=1)
    import pyarrow.parquet as pq

    for m in dm:
        for e in (
            pq.read_table(os.path.join(table._meta_dir, m)).to_pylist()
            if os.path.exists(os.path.join(table._meta_dir, m))
            else []
        ):
            assert not os.path.exists(e["file_path"])


def test_mor_delete_on_partitioned_table(spark, tmp_path):
    cat = LocalLakeCatalog(spark, str(tmp_path / "whp")).start()
    t = cat.create_table("db.morp", SCHEMA, partition_cols=["v"])
    t.append(
        spark.createDataFrame(
            [(i, "even" if i % 2 == 0 else "odd") for i in range(10)], SCHEMA
        )
    )
    t.delete_where({"k": ("<", 4)})
    assert _keys(t) == [4, 5, 6, 7, 8, 9]
    # partition pruning still composes with tombstones
    odd = sorted(r["k"] for r in t.scan(predicates={"v": ("=", "odd")}).collect())
    assert odd == [5, 7, 9]


def test_atomic_upsert_single_snapshot(spark, tmp_path):
    """upsert commits tombstone + rows in ONE snapshot: history grows by
    exactly one entry, the key's old version is gone, and the changelog
    for that snapshot shows the delete and the insert together."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from icebergplus_spark.lake import LocalLakeCatalog

    schema = StructType(
        [StructField("k", LongType(), True), StructField("v", StringType(), True)]
    )
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.au", schema)
    t.append(local_rows_df(spark, [(1, "old"), (2, "keep")], schema))
    n_before = len(t.history())

    t.upsert(local_rows_df(spark, [(1, "new"), (3, "add")], schema), "k")
    assert len(t.history()) == n_before + 1  # ONE commit for delete+insert
    assert t.history()[-1]["operation"] == "upsert"
    got = {r["k"]: r["v"] for r in t.scan().collect()}
    assert got == {1: "new", 2: "keep", 3: "add"}

    # rows appended AFTER the upsert with the same key survive its
    # tombstone (applies_before semantics)
    t.append(local_rows_df(spark, [(1, "newer")], schema))
    vs = sorted(r["v"] for r in t.scan().filter("k = 1").collect())
    assert vs == ["new", "newer"]

    # changelog of the upsert snapshot: old version out, new rows in
    cl = t.scan_changelog(from_snapshot_id=n_before, to_snapshot_id=n_before + 1)
    changes = {(r["_change_type"], r["k"], r["v"]) for r in cl.collect()}
    assert ("delete", 1, "old") in changes
    assert ("insert", 1, "new") in changes
    assert ("insert", 3, "add") in changes


# ---------------------------------------------------------------------------
# r6 (VERDICT r5 #5): UPDATE / MERGE write paths under deletion vectors —
# pre-images tombstoned via DVs, post-images appended, ONE snapshot,
# no data-file rewrite. Classic position representation keeps CoW.
# ---------------------------------------------------------------------------


def _data_paths(t):
    return {f["file_path"] for f in t.plan_files()}


def test_update_where_mor_vs_cow(spark, table):
    is_dv = (table.properties or {}).get("delete.representation") == "dv"
    before_paths = _data_paths(table)
    before_snap = table.current_snapshot_id
    table.update_where({"k": ("<", 3)}, {"v": "updated"})
    got = sorted((r["k"], r["v"]) for r in table.scan().collect())
    assert [(k, v) for k, v in got if k < 3] == [
        (0, "updated"), (1, "updated"), (2, "updated")
    ]
    assert len(got) == 10
    after_paths = _data_paths(table)
    if is_dv:
        # MoR: the original files stand; only post-image files appear
        assert before_paths <= after_paths
        snap = table.snapshot()
        assert snap["operation"] == "update"
        assert snapshot_lists(table._meta_dir, snap).delete_manifests, (
            "no DV manifest committed"
        )
    else:
        # CoW rewrites affected files out of the plan
        assert not (before_paths <= after_paths)
    # exactly ONE new snapshot either way (atomicity)
    assert table.current_snapshot_id == before_snap + 1
    # CDC: pre-images as deletes, post-images as inserts
    ch = table.scan_changelog(from_snapshot_id=before_snap).collect()
    dels = sorted(r["k"] for r in ch if r["_change_type"] == "delete")
    ins = sorted((r["k"], r["v"]) for r in ch if r["_change_type"] == "insert")
    assert dels == [0, 1, 2]
    assert ins == [(0, "updated"), (1, "updated"), (2, "updated")]


def test_merge_into_mor_clauses(spark, table):
    is_dv = (table.properties or {}).get("delete.representation") == "dv"
    before_paths = _data_paths(table)
    before_snap = table.current_snapshot_id
    src = spark.createDataFrame(
        [(1, "merged1"), (4, "merged4"), (42, "new42")], SCHEMA
    )
    table.merge_into(
        src, on="k", when_matched_update={"v": __import__("pyspark").sql.functions.col("src_v")}
    )
    got = dict((r["k"], r["v"]) for r in table.scan().collect())
    assert got[1] == "merged1" and got[4] == "merged4" and got[42] == "new42"
    assert got[0] == "a0" and len(got) == 11
    assert table.current_snapshot_id == before_snap + 1
    if is_dv:
        assert before_paths <= _data_paths(table)
        assert table.snapshot()["operation"] == "merge"


def test_merge_into_mor_delete_and_by_source(spark, table):
    is_dv = (table.properties or {}).get("delete.representation") == "dv"
    # matched-delete: drop keys 0 and 9
    src = spark.createDataFrame([(0, "x"), (9, "x")], SCHEMA)
    table.merge_into(
        src, on="k", when_matched_delete=True, when_not_matched_insert=False
    )
    assert _keys(table) == [1, 2, 3, 4, 5, 6, 7, 8]
    # BY SOURCE delete: keep only keys present in the source
    keep = spark.createDataFrame([(2, "x"), (5, "x")], SCHEMA)
    table.merge_into(
        keep,
        on="k",
        when_not_matched_insert=False,
        when_not_matched_by_source_delete=True,
    )
    assert _keys(table) == [2, 5]
    if is_dv:
        # both merges were pure-tombstone commits: no data rewrite ever
        assert all(
            s["operation"] in ("append", "merge")
            for s in table._meta["snapshots"]
        )


def test_mor_update_sequence_semantics(spark, table):
    """A row appended AFTER a MoR update with the same key must survive
    subsequent scans untouched (DVs are positional, never key-based)."""
    table.update_where({"k": ("=", 5)}, {"v": "u5"})
    table.append(local_rows_df(spark, [(5, "later5")], SCHEMA))
    got = sorted(r["v"] for r in table.scan().filter("k = 5").collect())
    assert got == ["later5", "u5"]


def test_mor_update_respects_cow_override(spark, table):
    if (table.properties or {}).get("delete.representation") != "dv":
        return  # override only meaningful under dv
    table.set_property("write.update.mode", "copy-on-write")
    before_paths = _data_paths(table)
    table.update_where({"k": ("<", 2)}, {"v": "cow"})
    # CoW rewrites: affected original files leave the plan
    assert not (before_paths <= _data_paths(table))
    got = dict((r["k"], r["v"]) for r in table.scan().collect())
    assert got[0] == "cow" and got[1] == "cow" and len(got) == 10


def test_mor_update_preserves_row_lineage(spark, table):
    """Iceberg v3 contract through the MoR write path: updated rows
    KEEP their _row_id; their _last_updated snapshot bumps to the
    update's snapshot; untouched rows keep id AND birth."""
    if (table.properties or {}).get("delete.representation") != "dv":
        return
    before = {
        r["k"]: (r["_row_id"], r["_last_updated_snapshot_id"])
        for r in table.scan_with_lineage().collect()
    }
    table.update_where({"k": ("=", 3)}, {"v": "u3"})
    upd_snap = table.current_snapshot_id
    after = {
        r["k"]: (r["_row_id"], r["_last_updated_snapshot_id"])
        for r in table.scan_with_lineage().collect()
    }
    assert after[3][0] == before[3][0], "updated row lost its id"
    assert after[3][1] == upd_snap, "updated row birth did not bump"
    for k in (0, 9):
        assert after[k] == before[k], f"untouched row {k} changed lineage"


def test_mor_merge_preserves_row_lineage(spark, table):
    if (table.properties or {}).get("delete.representation") != "dv":
        return
    import pyspark.sql.functions as F

    before = {
        r["k"]: r["_row_id"] for r in table.scan_with_lineage().collect()
    }
    src = spark.createDataFrame([(2, "m2"), (77, "new77")], SCHEMA)
    table.merge_into(src, on="k", when_matched_update={"v": F.col("src_v")})
    after = {
        r["k"]: r["_row_id"] for r in table.scan_with_lineage().collect()
    }
    assert after[2] == before[2], "merged-update row lost its id"
    assert after[77] not in set(before.values()), "insert id not fresh"
    assert len(set(after.values())) == len(after), "row ids not unique"


def test_merge_mor_rejects_update_plus_delete_directly(spark, table):
    """ADVICE r6: the public merge_into already rejects
    update+delete matched clauses; the MoR private path must too, so a
    direct call can't silently resolve the ambiguity "update wins"
    while copy-on-write resolves it "delete wins"."""
    from pyspark.sql import functions as F

    src = spark.createDataFrame([(1, "x")], SCHEMA)
    with pytest.raises(ValueError, match="exclusive"):
        table._merge_into_mor(
            src,
            ["k"],
            {"v": F.col("src_v")},
            True,
            False,
            None,
            False,
            None,
            0.0,
        )


def test_delete_by_key_empty_table_still_commits_marker(spark, tmp_path):
    """ADVICE r6: a watermark-bearing delete_by_key against a
    NEVER-WRITTEN table must still commit an (empty) marker snapshot so
    the streaming batch-id watermark advances instead of replaying the
    batch forever."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh2")).start()
    t = cat.create_table("db.fresh", SCHEMA)
    t.set_property("delete.representation", "dv")
    keys = spark.createDataFrame([(1, "x")], SCHEMA).select("k")
    assert t.snapshot() is None
    t.delete_by_key(keys, extra_summary={"streaming-batch-id": "7"})
    snap = t.snapshot()
    assert snap is not None
    assert snap["operation"] == "delete"
    assert snap["summary"]["streaming-batch-id"] == "7"
    assert t.scan().count() == 0
    # without a watermark the no-op early exit stays a no-op
    before = t.current_snapshot_id
    t.delete_by_key(keys)
    # (table now has a snapshot, so this goes down the normal path; the
    # key matches nothing — a plain no-op or marker-free exit is fine,
    # the contract is only that data is unchanged)
    assert t.scan().count() == 0
    assert t.current_snapshot_id in (before, before + 1)


def test_delete_by_key_type_mismatch_disables_pruning(spark, tmp_path):
    """Review r9: DOUBLE keys against a BIGINT key column hash
    differently from the stored blooms — pruning must stand down (both
    the eq-to-dv resolve path and scan-time stored-delete pruning) and
    the coerced anti-join must still delete exactly the right rows."""
    from icebergplus_spark.lake import LocalLakeCatalog

    cat = LocalLakeCatalog(spark, str(tmp_path / "whtm")).start()
    t = cat.create_table("db.tm", SCHEMA, bloom_cols=["k"])
    for lo in (0, 10):
        t.append(
            local_rows_df(spark, 
                [(i, f"v{i}") for i in range(lo, lo + 5)], SCHEMA
            )
        )
    keys = spark.createDataFrame([(1.0,), (12.0,)], "k double")
    t.delete_by_key(keys)
    assert sorted(r["k"] for r in t.scan().collect()) == [
        0, 2, 3, 4, 10, 11, 13, 14,
    ]
    # eq-to-dv route with mismatched types
    t2 = cat.create_table("db.tm2", SCHEMA, bloom_cols=["k"])
    t2.set_property("delete.representation", "dv")
    t2.set_property("delete.eq-to-dv", "true")
    t2.append(
        spark.createDataFrame([(i, f"v{i}") for i in range(8)], SCHEMA)
    )
    t2.delete_by_key(spark.createDataFrame([(3.0,), (6.0,)], "k double"))
    assert sorted(r["k"] for r in t2.scan().collect()) == [0, 1, 2, 4, 5, 7]


def test_mor_delete_only_merge_skips_append_write(spark, table):
    """r13: a delete-only MoR merge cannot append a row (no update, no
    BY SOURCE update, no insert clause) — the append write job must be
    skipped outright: no data/merge-* directory appears, the commit
    adds zero data files, and the delete is still exact."""
    if (table.properties or {}).get("delete.representation") != "dv":
        return
    src = local_rows_df(spark, [(2, "x"), (7, "x")], SCHEMA)
    data_dir = os.path.join(table.table_dir, "data")

    def merge_dirs():
        return sorted(
            d for d in os.listdir(data_dir) if d.startswith("merge-")
        )

    before_dirs = merge_dirs()
    table.merge_into(
        src, on="k", when_matched_delete=True, when_not_matched_insert=False
    )
    assert merge_dirs() == before_dirs, "delete-only merge wrote data files"
    snap = table.snapshot()
    assert snap["operation"] == "merge"
    assert sorted(r["k"] for r in table.scan().collect()) == [
        0, 1, 3, 4, 5, 6, 8, 9,
    ]


def test_mor_insert_off_merge_null_keys_fire_nothing(spark, table):
    """r13 (inner-join rewrite): with the insert and BY SOURCE clauses
    off, NULL-keyed rows on either side match nothing and fire nothing
    — the table is unchanged for them, exactly as under the old outer
    join."""
    if (table.properties or {}).get("delete.representation") != "dv":
        return
    import pyspark.sql.functions as F

    table.append(local_rows_df(spark, [(None, "nullrow")], SCHEMA))
    src = local_rows_df(
        spark, [(None, "srcnull"), (4, "hit")], SCHEMA
    )
    table.merge_into(
        src,
        on="k",
        when_matched_update={"v": F.col("src_v")},
        when_not_matched_insert=False,
    )
    rows = {r["k"]: r["v"] for r in table.scan().collect()}
    assert rows[4] == "hit", "matched update did not fire"
    assert rows[None] == "nullrow", "NULL-keyed target row was touched"
    assert len(rows) == 11, "row count changed under insert-off merge"
