"""Copy-on-write DELETE drops files the stats prove fully matched
straight from the manifest: no read, no Spark job, and no 0-row
replacement file that later plans and folds would have to carry."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from icebergplus_spark.lake import LocalLakeCatalog

SCHEMA = StructType(
    [StructField("k", IntegerType(), True), StructField("v", StringType(), True)]
)


def _jobs(spark):
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


def _table(spark, tmp_path, name, mode=None):
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table(name, SCHEMA)
    if mode:
        t.set_property("write.delete.mode", mode)
    # three files: k 0-9, 10-19, 20-29, every column null-free
    for lo in (0, 10, 20):
        t.append(
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(lo, lo + 10)], SCHEMA
            ).coalesce(1)
        )
    return t


def test_whole_file_delete_runs_no_job_and_commits_no_empty_file(
    spark, tmp_path
):
    t = _table(spark, tmp_path, "db.whole")
    kept = [f["file_path"] for f in t.plan_files({"k": (">=", 20)})]
    j0 = _jobs(spark)
    t.delete({"k": ("<", 20)})
    assert _jobs(spark) == j0
    entries = t.plan_files()
    assert [e["file_path"] for e in entries] == kept
    assert all(e["record_count"] for e in entries)
    assert t.snapshot()["operation"] == "delete"
    # a fold right after finds every kept file fully covered: no
    # boundary file goes to the scan leg
    j0 = _jobs(spark)
    assert t.count_rows({"k": ("<", 100)}) == 10
    assert _jobs(spark) == j0
    assert sorted(r["k"] for r in t.scan().collect()) == list(range(20, 30))


def test_mixed_delete_rewrites_only_partial_files(spark, tmp_path):
    t = _table(spark, tmp_path, "db.mixed")
    before = {f["file_path"] for f in t.plan_files()}
    first, middle, last = (
        t.plan_files({"k": ("=", k)})[0]["file_path"] for k in (0, 10, 20)
    )
    # OR of a whole-file branch and a one-row branch
    t.delete([{"k": ("<", 10)}, {"k": ("=", 15)}])
    after = {f["file_path"] for f in t.plan_files()}
    assert last in after and first not in after and middle not in after
    added = after - before
    assert len(added) == 1
    assert t.snapshot()["summary"]["added-data-files"] == 1
    assert [e["record_count"] for e in t.plan_files() if e["file_path"] in added] == [9]
    assert sorted(r["k"] for r in t.scan().collect()) == [
        k for k in range(10, 30) if k != 15
    ]


def test_partial_delete_that_empties_its_file_commits_no_file(spark, tmp_path):
    t = _table(spark, tmp_path, "db.emptied")
    # two branches cover the middle file only jointly, which the stats
    # do not prove, so it is rewritten; no row survives, so no file is
    # committed for it
    t.delete([{"k": [(">=", 10), ("<", 15)]}, {"k": [(">=", 15), ("<", 20)]}])
    assert len(t.plan_files()) == 2
    assert all(e["record_count"] for e in t.plan_files())
    assert t.count_rows() == 20


@pytest.mark.parametrize(
    "preds",
    [{"k": ("<", 20)}, [{"k": ("<", 10)}, {"k": ("=", 15)}]],
    ids=["whole", "mixed"],
)
def test_changelog_and_lineage_match_merge_on_read(spark, tmp_path, preds):
    """The merge-on-read DELETE never drops files, so it is an
    independent witness for what the changelog and row lineage must say
    after the copy-on-write DELETE."""
    cow = _table(spark, tmp_path / "cow", "db.cow")
    mor = _table(spark, tmp_path / "mor", "db.mor", mode="merge-on-read")
    lineage_before = {
        r["k"]: r["_row_id"] for r in cow.scan_with_lineage().collect()
    }
    for t in (cow, mor):
        t.delete(preds)

    def changelog(t):
        return sorted(
            (r["k"], r["v"], r["_change_type"], r["_commit_snapshot_id"])
            for r in t.scan_changelog().collect()
        )

    def lineage(t):
        return sorted(
            (r["k"], r["_row_id"])
            for r in t.scan_with_lineage()
            .select("k", "_row_id")
            .collect()
        )

    assert changelog(cow) == changelog(mor)
    deleted = [
        (k, v) for k, v, ct, _ in changelog(cow) if ct == "delete"
    ]
    gone = sorted(set(lineage_before) - {k for k, _ in lineage(cow)})
    assert [k for k, _ in deleted] == gone
    assert lineage(cow) == lineage(mor)
    assert all(lineage_before[k] == rid for k, rid in lineage(cow))
    assert (
        cow.scan_with_lineage()
        .filter(F.col("_row_id").isNull())
        .count()
        == 0
    )
