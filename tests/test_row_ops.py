"""Copy-on-write DELETE / OVERWRITE tests: row-level ops the append-only
reference lacks, with file-level rewrite minimization."""

import pytest
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from icebergplus_spark.lake import LocalLakeCatalog
from icebergplus_spark.lake.versions import decode

SCHEMA = StructType(
    [StructField("k", IntegerType(), True), StructField("v", StringType(), True)]
)


@pytest.fixture
def table(spark, tmp_path):
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.rowops", SCHEMA)
    # two files with disjoint key ranges
    t.append(spark.createDataFrame([(i, f"a{i}") for i in range(10)], SCHEMA).coalesce(1))
    t.append(
        spark.createDataFrame([(i, f"b{i}") for i in range(100, 110)], SCHEMA).coalesce(1)
    )
    return t


def test_delete_rewrites_only_affected_files(spark, table):
    files_before = {f["file_path"] for f in table.plan_files()}
    t = table.delete({"k": ("<", 5)})
    assert sorted(r["k"] for r in t.scan().collect()) == list(range(5, 10)) + list(
        range(100, 110)
    )
    files_after = {f["file_path"] for f in t.plan_files()}
    # second file (k in 100..109) must survive untouched
    untouched = files_before & files_after
    assert len(untouched) == 1
    assert t.snapshot()["operation"] == "delete"
    # pre-delete snapshot still time-travelable
    assert t.scan(snapshot_id=2).count() == 20


def test_delete_all_matching_everything(spark, table):
    t = table.delete({"k": (">=", 0)})
    assert t.scan().count() == 0


def test_delete_nothing_matches(spark, table):
    t = table.delete({"k": (">", 10_000)})
    assert t.scan().count() == 20


def test_delete_conjunction(spark, table):
    t = table.delete({"k": (">=", 102), "v": ("=", "b103")})
    remaining = sorted(r["k"] for r in t.scan().collect())
    assert 103 not in remaining
    assert len(remaining) == 19


def test_overwrite_replaces_current_but_keeps_history(spark, table):
    t = table.overwrite(spark.createDataFrame([(42, "new")], SCHEMA))
    assert [(r["k"], r["v"]) for r in t.scan().collect()] == [(42, "new")]
    assert t.snapshot()["operation"] == "overwrite"
    assert t.scan(snapshot_id=2).count() == 20  # pre-overwrite view intact


def test_overwrite_publishes_one_version(spark, table):
    """An overwrite commits once: it adds exactly one
    ``vN.metadata.json``, no published version's head holds old and new
    rows together, and the pre-overwrite snapshot still reads the old
    rows."""
    import os

    def versions():
        return {
            fn for fn in os.listdir(table._meta_dir)
            if fn.startswith("v") and fn.endswith(".metadata.json")
        }

    before, pre = versions(), table.current_snapshot_id
    table.overwrite(spark.createDataFrame([(42, "new")], SCHEMA))
    added = versions() - before
    assert len(added) == 1
    (name,) = added
    with open(os.path.join(table._meta_dir, name), "rb") as f:
        head = decode(f.read())["current_snapshot_id"]
    assert head == table.current_snapshot_id
    assert [tuple(r) for r in table.scan(snapshot_id=head).collect()] == [(42, "new")]
    assert sorted(r["k"] for r in table.scan(snapshot_id=pre).collect()) == list(
        range(10)
    ) + list(range(100, 110))


def test_merge_upserts(spark, table):
    updates = spark.createDataFrame([(5, "UPDATED"), (999, "NEW")], SCHEMA)
    t = table.merge(updates, key="k")
    rows = dict((r["k"], r["v"]) for r in t.scan().collect())
    assert rows[5] == "UPDATED"        # existing key replaced
    assert rows[999] == "NEW"          # new key inserted
    assert rows[101] == "b101"         # untouched rows intact
    assert len(rows) == 21
    assert t.snapshot()["operation"] == "merge"


def test_merge_only_rewrites_intersecting_files(spark, table):
    files_before = {f["file_path"] for f in table.plan_files()}
    # incoming keys 0-5 only intersect the first file (k 0..9)
    t = table.merge(spark.createDataFrame([(3, "X")], SCHEMA), key="k")
    files_after = {f["file_path"] for f in t.plan_files()}
    assert len(files_before & files_after) == 1  # second file untouched


def test_merge_empty_input_noop(spark, table):
    snap = table.current_snapshot_id
    t = table.merge(spark.createDataFrame([], SCHEMA), key="k")
    assert t.current_snapshot_id == snap
