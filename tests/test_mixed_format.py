"""Tables that mix snapshot formats: early snapshots carry their
manifest, delete-manifest and added-file lists inline in the version
JSON (how older trees wrote them), later ones name a ``manifest_list``
file. Every read, time-travel, incremental, streaming, maintenance and
export path must treat both forms alike, with no migration step.

The fixture builds a table with the current writer, records what each
read returns, then rewrites the head version so the first snapshots
carry inline lists and deletes their list files, so nothing can still
read them."""

import json
import os

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from icebergplus_spark.lake import (
    LocalLakeCatalog,
    cherry_pick,
    expire_snapshots,
    remove_orphan_files,
    rewrite_manifests,
    rollback,
)
from icebergplus_spark.lake.iceberg_export import export_iceberg_snapshot
from icebergplus_spark.lake.manifest_list import is_list_file, snapshot_lists
from icebergplus_spark.lake.sql_dml import lake_sql
from icebergplus_spark.localrel import local_rows_df
from icebergplus_spark.sources.avro_io import read_ocf_generic
from icebergplus_spark.streaming.lake_source import read_lake_batch, read_lake_stream

SCHEMA = StructType(
    [StructField("k", LongType(), True), StructField("v", StringType(), True)]
)


def _rows(spark, ks):
    return local_rows_df(spark, [(k, f"v{k}") for k in ks], SCHEMA)


def _keys(df):
    return sorted(r["k"] for r in df.collect())


def _inline(t, snapshot_ids):
    """Rewrite the head version so ``snapshot_ids`` carry inline lists,
    and delete their list files."""
    path = os.path.join(t._meta_dir, f"v{t._meta['_phys_version']}.metadata.json")
    with open(path) as f:
        meta = json.load(f)
    for s in meta["snapshots"]:
        if s["snapshot_id"] in snapshot_ids:
            name = s.pop("manifest_list")
            with open(os.path.join(t._meta_dir, name)) as f:
                body = json.load(f)
            for key in ("manifests", "delete_manifests", "added_files"):
                s[key] = body[key]
            os.remove(os.path.join(t._meta_dir, name))
    with open(path, "w") as f:
        json.dump(meta, f)
    return t.refresh()


def _list_files(t):
    return {fn for fn in os.listdir(t._meta_dir) if is_list_file(fn)}


@pytest.fixture
def mixed(spark, tmp_path):
    """(catalog, table, snapshot ids, reads before inlining). History:
    s1 append 0..4, s2 append 5..7, s3 copy-on-write delete of k=1
    (inline); s4 append 8..9 (list file)."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.mixed", SCHEMA)
    t.append(_rows(spark, range(5)))
    s1 = t.current_snapshot_id
    t.append(_rows(spark, range(5, 8)))
    s2 = t.current_snapshot_id
    t.delete({"k": ("=", 1)})
    s3 = t.current_snapshot_id
    before = {
        "lineage": sorted(
            (r["k"], r["_row_id"]) for r in t.scan_with_lineage().collect()
        ),
        "paths": {s: t._snapshot_paths(t.snapshot(s)) for s in (s1, s2, s3)},
    }
    _inline(t, {s1, s2, s3})
    t.append(_rows(spark, [8, 9]))
    s4 = t.current_snapshot_id
    return cat, t, (s1, s2, s3, s4), before


def test_fixture_mixes_both_forms(mixed):
    _, t, (s1, s2, s3, s4), before = mixed
    for sid in (s1, s2, s3):
        snap = t.snapshot(sid)
        assert "manifest_list" not in snap and "manifests" in snap
        assert t._snapshot_paths(snap) == before["paths"][sid]
    head = t.snapshot(s4)
    assert "manifests" not in head and head["manifest_list"] in _list_files(t)
    assert _list_files(t) == {head["manifest_list"]}


def test_reads_time_travel_and_incremental(spark, mixed):
    cat, t, (s1, s2, s3, s4), _ = mixed
    assert _keys(t.scan()) == [0, 2, 3, 4, 5, 6, 7, 8, 9]
    assert _keys(t.scan(snapshot_id=s2)) == list(range(8))
    old = lake_sql(cat, f"SELECT COUNT(*) AS n FROM db.mixed VERSION AS OF {s2}")
    assert old.first()["n"] == 8
    assert t.count_rows() == 9
    # appends after s1: s2's rows and s4's (s3 is a delete)
    assert _keys(t.scan_incremental(s1)) == [5, 6, 7, 8, 9]
    changes = sorted(
        (r["k"], r["_change_type"]) for r in t.scan_changelog(s2).collect()
    )
    assert (1, "delete") in changes and (8, "insert") in changes
    assert (9, "insert") in changes
    # batch source time travel into an inline snapshot
    assert _keys(read_lake_batch(spark, t.table_dir, snapshot_id=s1)) == list(range(5))


def test_streaming_source_replays_both_forms(spark, mixed, tmp_path):
    _, t, _, _ = mixed
    q = (
        read_lake_stream(spark, t.table_dir)
        .writeStream.format("memory")
        .queryName("mixed_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _keys(spark.sql("SELECT * FROM mixed_stream")) == list(range(10))


def test_rollback_and_cherry_pick_across_forms(mixed):
    _, t, (s1, s2, s3, s4), _ = mixed
    assert rollback(t, s1)["rolled_back"]
    assert _keys(t.scan()) == list(range(5))
    assert cherry_pick(t, s2)["added_records"] == 3  # inline source
    assert cherry_pick(t, s4)["added_records"] == 2  # list-file source
    assert _keys(t.scan()) == list(range(10))
    assert "manifests" not in t.snapshot()


def test_maintenance_on_mixed_table(mixed):
    _, t, (s1, s2, s3, s4), before = mixed
    want = _keys(t.scan())
    assert rewrite_manifests(t)["manifests_after"] == 1
    assert _keys(t.scan()) == want
    s5 = t.current_snapshot_id
    dropped = before["paths"][s2] - before["paths"][s3]  # the rewritten file

    assert remove_orphan_files(t, older_than_s=0)["deleted"] == 0
    lists = _list_files(t)
    assert lists == {t.snapshot(s)["manifest_list"] for s in (s4, s5)}

    assert expire_snapshots(t, keep_last=1)["expired"] == 4
    assert [s["snapshot_id"] for s in t.history()] == [s5]
    assert _list_files(t) == {t.snapshot(s5)["manifest_list"]}
    assert dropped and not any(os.path.exists(p) for p in dropped)
    assert _keys(t.scan()) == want
    assert remove_orphan_files(t, older_than_s=0)["deleted"] == 0
    assert _keys(t.scan()) == want


def test_iceberg_export_of_either_form(mixed, tmp_path):
    _, t, (s1, s2, s3, s4), _ = mixed
    for sid in (s2, s4):
        meta_path = export_iceberg_snapshot(t, str(tmp_path / f"ice{sid}"), sid)
        with open(meta_path) as f:
            md = json.load(f)
        _, mlists = read_ocf_generic(md["snapshots"][0]["manifest-list"])
        paths = set()
        for ml in mlists:
            _, entries = read_ocf_generic(ml["manifest_path"])
            paths.update(e["data_file"]["file_path"] for e in entries)
        assert paths == t._snapshot_paths(t.snapshot(sid))


def test_lineage_ids_stable_across_forms_and_commits(spark, mixed):
    _, t, _, before = mixed
    ids = sorted((r["k"], r["_row_id"]) for r in t.scan_with_lineage().collect())
    assert [p for p in ids if p[0] < 8] == before["lineage"]
    t.append(_rows(spark, [10]))
    after = sorted((r["k"], r["_row_id"]) for r in t.scan_with_lineage().collect())
    assert [p for p in after if p[0] != 10] == ids


def test_accessor_reads_inline_snapshot_without_added_files(mixed):
    """Snapshots from before commits recorded added files carry no
    ``added_files`` key: the accessor reports None, not an empty list."""
    _, t, (s1, *_), _ = mixed
    snap = dict(t.snapshot(s1))
    snap.pop("added_files")
    lists = snapshot_lists(t._meta_dir, snap)
    assert lists.added_files is None and lists.manifests == snap["manifests"]
