"""Copy-on-write UPDATE, CDC changelog scans, and table properties.

UPDATE/changelog are beyond the append-only reference (SURVEY.md §2.C);
they are Iceberg `UPDATE ... WHERE` / `create_changelog_view` parity.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from icebergplus_spark.lake import LocalLakeCatalog, compact
from icebergplus_spark.lake.manifest_list import snapshot_lists

SCHEMA = StructType(
    [
        StructField("id", IntegerType(), True),
        StructField("grp", StringType(), True),
        StructField("val", DoubleType(), True),
    ]
)


def _table(spark, tmp_path, name, rows):
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table(f"db.{name}", SCHEMA)
    t.append(spark.createDataFrame(rows, SCHEMA).coalesce(1))
    return t


def test_update_where_literals_and_expressions(spark, tmp_path):
    t = _table(
        spark,
        tmp_path,
        "upd",
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "b", 40.0)],
    )
    # second file so stats targeting has something to skip
    t.append(
        spark.createDataFrame([(100, "c", 500.0), (101, "c", 600.0)], SCHEMA).coalesce(1)
    )
    n_files_before = len(t.plan_files())

    t.update_where({"grp": ("=", "a")}, {"val": F.col("val") * 2, "grp": "A"})
    rows = {r["id"]: (r["grp"], r["val"]) for r in t.scan().collect()}
    assert rows[1] == ("A", 20.0) and rows[2] == ("A", 40.0)
    assert rows[3] == ("b", 30.0) and rows[100] == ("c", 500.0)

    # stats-targeted: only the file containing grp='a' was rewritten
    summary = t.snapshot()["summary"]
    assert summary["added-data-files"] < n_files_before
    assert t.snapshot()["operation"] == "update"

    # unknown column refused
    with pytest.raises(KeyError):
        t.update_where({"id": ("=", 1)}, {"nope": 0})

    # no matching files -> no snapshot churn
    before = t.current_snapshot_id
    t.update_where({"id": ("=", 10**9)}, {"val": 0.0})
    assert t.current_snapshot_id == before


def test_update_where_survives_rename(spark, tmp_path):
    t = _table(spark, tmp_path, "updren", [(1, "a", 1.0), (2, "b", 2.0)])
    t = t.rename_column("val", "amount")
    t.update_where({"id": ("=", 2)}, {"amount": 99.0})
    rows = {r["id"]: r["amount"] for r in t.scan().collect()}
    assert rows == {1: 1.0, 2: 99.0}


def test_changelog_append_update_delete(spark, tmp_path):
    t = _table(spark, tmp_path, "cdc", [(1, "a", 1.0), (2, "b", 2.0)])
    s1 = t.current_snapshot_id
    t.append(spark.createDataFrame([(3, "c", 3.0)], SCHEMA).coalesce(1))
    t.update_where({"id": ("=", 2)}, {"val": 22.0})
    t.delete({"id": ("=", 1)})

    log = [
        ((r["id"], r["val"]), r["_change_type"], r["_commit_snapshot_id"])
        for r in t.scan_changelog().collect()
    ]
    # snapshot 1: two inserts; append: one insert; update: delete+insert
    # of the pre/post image; delete: one delete
    assert (((1, 1.0), "insert", s1)) in log and (((2, 2.0), "insert", s1)) in log
    assert (((3, 3.0), "insert", s1 + 1)) in log
    assert (((2, 2.0), "delete", s1 + 2)) in log
    assert (((2, 22.0), "insert", s1 + 2)) in log
    assert (((1, 1.0), "delete", s1 + 3)) in log
    assert len(log) == 6

    # incremental consumption: only changes after s1+1
    tail = t.scan_changelog(from_snapshot_id=s1 + 1)
    assert tail.count() == 3

    # net state replay: inserts minus deletes == current table
    cl = t.scan_changelog()
    net = (
        cl.filter(F.col("_change_type") == "insert")
        .drop("_change_type", "_commit_snapshot_id")
        .exceptAll(
            cl.filter(F.col("_change_type") == "delete").drop(
                "_change_type", "_commit_snapshot_id"
            )
        )
    )
    assert sorted(map(tuple, net.collect())) == sorted(map(tuple, t.scan().collect()))


def test_changelog_skips_compaction_and_sees_mor_deletes(spark, tmp_path):
    t = _table(spark, tmp_path, "cdc2", [(1, "a", 1.0), (2, "a", 2.0)])
    t.append(spark.createDataFrame([(3, "b", 3.0)], SCHEMA).coalesce(1))
    compact(t)
    # compaction rewrote every file but changed no rows: no changelog entries
    assert t.scan_changelog(from_snapshot_id=t.current_snapshot_id - 1).count() == 0

    # merge-on-read position delete shows up as a delete row
    t.delete_where({"id": ("=", 2)})
    mor = t.scan_changelog(from_snapshot_id=t.current_snapshot_id - 1).collect()
    assert [(r["id"], r["_change_type"]) for r in mor] == [(2, "delete")]


def test_table_properties_persist_and_drive_distribution(spark, tmp_path):
    cat = LocalLakeCatalog(spark, str(tmp_path / "whp")).start()
    t = cat.create_table("db.props", SCHEMA, partition_cols=["grp"])
    t = t.set_property("write.distribution-mode", "hash").set_property("owner", "ml")
    assert t.properties == {"write.distribution-mode": "hash", "owner": "ml"}

    # restart: properties live in versioned metadata
    t2 = LocalLakeCatalog(spark, str(tmp_path / "whp")).start().load_table("db.props")
    assert t2.properties["write.distribution-mode"] == "hash"

    # hash mode from the property: 8 upstream tasks x 2 values collapse
    # to one file per partition value instead of up to 16
    df = spark.createDataFrame(
        [(i, "x" if i % 2 else "y", float(i)) for i in range(64)], SCHEMA
    ).repartition(8)
    t2.append(df)
    assert len(t2.plan_files()) == 2

    t2 = t2.unset_property("owner")
    assert "owner" not in t2.properties


def test_sort_order_property_drives_compaction(spark, tmp_path):
    cat = LocalLakeCatalog(spark, str(tmp_path / "whso")).start()
    t = cat.create_table("db.sorted", SCHEMA)
    t = t.set_property("write.sort-order", "id")
    import random

    rng = random.Random(7)
    ids = list(range(8000))
    rng.shuffle(ids)
    for chunk in (ids[:4000], ids[4000:]):
        t.append(
            spark.createDataFrame(
                [(i, "g", float(i)) for i in chunk], SCHEMA
            ).repartition(4)
        )
    compact(t, target_file_size=1 << 14, small_file_threshold=1 << 30)
    # declared sort order was applied: files now cover narrow disjoint
    # id ranges, so a point predicate prunes to one file
    assert len(t.plan_files()) > 1
    assert len(t.plan_files({"id": ("=", 42)})) == 1

    # snapshots metadata table exposes parent lineage
    snaps = {
        r["snapshot_id"]: r["parent_snapshot_id"]
        for r in t.metadata_df("snapshots").collect()
    }
    first = min(snaps)
    assert snaps[first] is None
    assert all(snaps[s] == s - 1 for s in snaps if s != first)


def test_changelog_view_sql(spark, tmp_path):
    import icebergplus_spark.streaming as streaming

    # package surface: CDC APIs are exported
    assert hasattr(streaming, "read_lake_cdc_stream")
    assert hasattr(streaming, "stream_replicate_lake")

    t = _table(spark, tmp_path, "clview", [(1, "a", 1.0), (2, "b", 2.0)])
    t.delete({"id": ("=", 1)})
    t.to_changelog_view("changes")
    got = spark.sql(
        "SELECT _change_type, COUNT(*) AS n FROM changes "
        "GROUP BY _change_type ORDER BY _change_type"
    ).collect()
    assert [(r["_change_type"], r["n"]) for r in got] == [
        ("delete", 1),
        ("insert", 2),
    ]


def test_changelog_mor_delete_reads_only_affected_files(spark, tmp_path):
    """r3 verdict #9: a MoR delete commit's changelog diff is bounded
    to the files the new tombstones reference, not full table state —
    asserted both on the planner's output and on the physical scan's
    input file set."""
    t = _table(spark, tmp_path, "cdcb", [(1, "a", 1.0), (2, "a", 2.0)])
    # three more single-file commits → 4 data files total
    for rows in ([(3, "b", 3.0)], [(4, "b", 4.0)], [(5, "c", 5.0)]):
        t.append(spark.createDataFrame(rows, SCHEMA).coalesce(1))
    t.delete_where({"id": ("=", 4)})  # position-tombstones ONE file
    snap = t.snapshot()
    prev = t.snapshot(snap["parent_snapshot_id"])
    affected = t._tombstone_affected_paths(
        set(snapshot_lists(t._meta_dir, snap).delete_manifests)
        - set(snapshot_lists(t._meta_dir, prev).delete_manifests),
        prev,
    )
    assert len(affected) == 1  # only the victim file, of 4

    cl = t.scan_changelog(from_snapshot_id=prev["snapshot_id"])
    # result is still exactly the deleted row...
    assert [(r["id"], r["_change_type"]) for r in cl.collect()] == [
        (4, "delete")
    ]
    # ...and the plan physically reads ONE data file's rows, not four:
    # inputFiles of the changelog frame must touch only the victim
    touched = {f for f in cl.inputFiles() if "/deletes/" not in f}
    assert len(touched) == 1


def test_changelog_equality_delete_pruned_by_stats(spark, tmp_path):
    """Equality-delete commits prune the diff by key-range ∩ manifest
    stats: a delete whose keys fall entirely in one file's id-range
    must not pull the other files into the diff."""
    t = _table(spark, tmp_path, "cdce", [(1, "a", 1.0), (2, "a", 2.0)])
    t.append(spark.createDataFrame([(100, "b", 3.0), (101, "b", 4.0)], SCHEMA).coalesce(1))
    t.append(spark.createDataFrame([(200, "c", 5.0)], SCHEMA).coalesce(1))
    t.delete_by_key(
        spark.createDataFrame([(100,)], "id int").select(F.col("id"))
    )
    snap = t.snapshot()
    prev = t.snapshot(snap["parent_snapshot_id"])
    affected = t._tombstone_affected_paths(
        set(snapshot_lists(t._meta_dir, snap).delete_manifests)
        - set(snapshot_lists(t._meta_dir, prev).delete_manifests),
        prev,
    )
    assert len(affected) == 1  # stats-pruned to the 100..101 file
    cl = t.scan_changelog(from_snapshot_id=prev["snapshot_id"])
    assert [(r["id"], r["_change_type"]) for r in cl.collect()] == [
        (100, "delete")
    ]


def test_changelog_equality_delete_bloom_prunes_inside_range(spark, tmp_path):
    """Bloom tier of tombstone targeting: two files share an id RANGE
    (interleaved keys) so min/max can't separate them, but per-file
    blooms exclude the file that doesn't contain the deleted key."""
    from icebergplus_spark.lake import LocalLakeCatalog

    cat = LocalLakeCatalog(spark, str(tmp_path / "whb")).start()
    t = cat.create_table("db.tb", SCHEMA, bloom_cols=["id"])
    # interleaved ranges: evens in file 1, odds in file 2 — both span 0..99
    t.append(
        spark.createDataFrame(
            [(i, "even", float(i)) for i in range(0, 100, 2)], SCHEMA
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(i, "odd", float(i)) for i in range(1, 100, 2)], SCHEMA
        ).coalesce(1)
    )
    t.delete_by_key(spark.createDataFrame([(42,)], "id int"))
    snap = t.snapshot()
    prev = t.snapshot(snap["parent_snapshot_id"])
    affected = t._tombstone_affected_paths(
        set(snapshot_lists(t._meta_dir, snap).delete_manifests)
        - set(snapshot_lists(t._meta_dir, prev).delete_manifests),
        prev,
    )
    assert len(affected) == 1  # bloom excluded the odd file
    cl = t.scan_changelog(from_snapshot_id=prev["snapshot_id"])
    assert [(r["id"], r["_change_type"]) for r in cl.collect()] == [
        (42, "delete")
    ]
