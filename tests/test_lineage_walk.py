"""Reads that follow a snapshot's lineage, and row-id allocation under
concurrent commits.

Incremental reads and the snapshot stream own the files added by the
commits on the read snapshot's parent chain: a branch's appends
interleave in the snapshot log but are not main's. Row ids are
assigned when a commit publishes, so appends racing through separate
handles — one of them losing a commit and retrying against the newer
base — still get disjoint id ranges. A file's birth lives in its
manifest entry, so expiring the snapshot that added it does not make an
older equality delete reach it."""

import os
import threading

import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from icebergplus_spark.lake import LocalLakeCatalog, expire_snapshots
from icebergplus_spark.lake.manifest_list import file_facts
from icebergplus_spark.lake.table import ConcurrentCommitError
from icebergplus_spark.localrel import local_rows_df
from icebergplus_spark.streaming.lake_source import read_lake_stream

SCHEMA = StructType(
    [StructField("k", LongType(), True), StructField("v", StringType(), True)]
)


def _rows(spark, ks):
    return local_rows_df(spark, [(k, f"v{k}") for k in ks], SCHEMA)


def _keys(df):
    return sorted(r["k"] for r in df.collect())


@pytest.fixture
def branched(spark, tmp_path):
    """s1 appends k=1 to main; branch ``audit`` then gets k=100 and
    main gets k=2 after it, so the branch commit sits between main's
    commits in the log."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.branched", SCHEMA)
    t.append(_rows(spark, [1]))
    s1 = t.current_snapshot_id
    t.create_branch("audit")
    t.append(_rows(spark, [100]), branch="audit")
    t.append(_rows(spark, [2]))
    return t, s1


def test_scan_incremental_skips_branch_commits(branched):
    t, s1 = branched
    assert _keys(t.scan_incremental(s1)) == [2]
    assert _keys(t.scan_incremental(s1)) == _keys(
        t.scan_changelog(s1).filter("_change_type = 'insert'")
    )
    audit = t.refs["audit"]["snapshot_id"]
    assert _keys(t.scan_incremental(s1, audit)) == [100]


def test_snapshot_stream_skips_branch_commits(spark, branched, tmp_path):
    t, s1 = branched
    q = (
        read_lake_stream(spark, t.table_dir, from_snapshot_id=s1)
        .writeStream.format("memory")
        .queryName("branched_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _keys(spark.sql("SELECT * FROM branched_stream")) == [2]


def test_concurrent_appends_get_disjoint_row_ids(spark, tmp_path):
    """8 threads append through their own handles; one append loses its
    first publish to a commit made in between and retries. Every row id
    is unique and every file's id range is disjoint from the others."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    cat.create_table("db.race", SCHEMA)
    handles = [cat.load_table("db.race") for _ in range(8)]
    interloper = cat.load_table("db.race")

    loser = handles[0]
    real_publish = loser._publish
    lost = []

    def publish_after_interloper(meta):
        if not lost:
            lost.append(meta["snapshots"][-1]["snapshot_id"])
            interloper.refresh().append(_rows(spark, [1000, 1001]))
        return real_publish(meta)

    loser._publish = publish_after_interloper
    errors = []

    def work(i, h):
        try:
            for _ in range(10):  # a test-level retry past append's own three
                try:
                    h.refresh().append(_rows(spark, range(i * 10, i * 10 + 5)))
                    return
                except ConcurrentCommitError:
                    continue
            raise AssertionError(f"thread {i} never committed")
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=work, args=(i, h)) for i, h in enumerate(handles)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert lost, "the forced conflict never happened"

    t = cat.load_table("db.race")
    keys = sorted([i * 10 + j for i in range(8) for j in range(5)] + [1000, 1001])
    rows = t.scan_with_lineage().collect()
    assert sorted(r["k"] for r in rows) == keys
    ids = [r["_row_id"] for r in rows]
    assert len(set(ids)) == len(ids)

    entries = [
        e
        for m in t._lists(t.snapshot()).manifests
        for e in pq.read_table(os.path.join(t._meta_dir, m)).to_pylist()
    ]
    assert len(entries) == 9
    spans = sorted((e["first_row_id"], e["first_row_id"] + e["record_count"]) for e in entries)
    for (_, end), (start, _) in zip(spans, spans[1:]):
        assert end <= start, spans
    assert spans[-1][1] <= t._meta["next_row_id"]
    facts = file_facts(t._meta_dir, t._meta, t.snapshot())
    assert {f[0] for f in facts.values()} == {s for s, _ in spans}
    # the losing attempt's manifest was removed, not left behind
    live = {m for s in t.history() for m in t._lists(s).manifests}
    on_disk = {
        fn for fn in os.listdir(t._meta_dir)
        if fn.startswith("manifest-") and fn.endswith(".parquet")
    }
    assert on_disk == live



def test_equality_delete_exemption_survives_expiry(spark, tmp_path):
    """k=1 is deleted by key, then appended again: the new file is born
    after the delete, so the delete does not apply to it — also once the
    snapshot that added it has been expired."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.eq", SCHEMA)
    t.append(_rows(spark, [1, 2]))
    t.delete_by_key(spark.createDataFrame([(1,)], "k long"))
    t.append(_rows(spark, [1]))
    assert _keys(t.scan()) == [1, 2]
    t.append(_rows(spark, [3]))
    expire_snapshots(t, keep_last=1)
    assert _keys(cat.load_table("db.eq").scan()) == [1, 2, 3]
