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

from icebergplus_spark.lake import versions
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
    path = versions.path(t._meta_dir, t._meta["_phys_version"])
    meta = versions.read(t._meta_dir, t._meta["_phys_version"])
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


# -- format upgrade: version-1 row lineage (upgrade.py) ----------------------
# Two fixtures in the shape older trees wrote, made from a table built
# here: every manifest loses its lineage columns and the head version
# loses ``format_version``. Fixture 1 keeps the first-row-id map, the
# per-snapshot ``lineage_files`` and ``materialized_lineage_files``;
# fixture 2 is a table that never had a map, whose ids are the
# (birth, path)-cumulative record counts of the snapshot read.
FACT_COLUMNS = ("first_row_id", "added_snapshot_id", "lineage_materialized")


def _ids(t, snapshot_id=None):
    return sorted(
        (r["k"], r["_row_id"]) for r in t.scan_with_lineage(snapshot_id).collect()
    )


def _downgrade(t, with_map):
    """Rewrite ``t``'s head version and manifests in the version-1 shape."""
    import pyarrow.parquet as pq

    entries = {}
    manifests = set()
    for s in t.history():
        for m in snapshot_lists(t._meta_dir, s).manifests:
            manifests.add(m)
            path = os.path.join(t._meta_dir, m)
            table = pq.read_table(path)
            entries.update((e["file_path"], e) for e in table.to_pylist())
    for m in manifests:
        path = os.path.join(t._meta_dir, m)
        table = pq.read_table(path)
        pq.write_table(table.drop_columns(list(FACT_COLUMNS)), path)
    path = versions.path(t._meta_dir, t._meta["_phys_version"])
    meta = versions.read(t._meta_dir, t._meta["_phys_version"])
    del meta["format_version"]
    retained = {s["snapshot_id"] for s in meta["snapshots"]}
    if with_map:
        meta["row_id_assignments"] = {p: e["first_row_id"] for p, e in entries.items()}
        mat = {p: e["added_snapshot_id"] for p, e in entries.items() if e["lineage_materialized"]}
        for s in meta["snapshots"]:
            files = sorted(p for p, b in mat.items() if b == s["snapshot_id"])
            if files:
                s["lineage_files"] = files
        meta["materialized_lineage_files"] = sorted(
            p for p, b in mat.items() if b not in retained
        )
    else:
        del meta["next_row_id"]
    with open(path, "w") as f:
        json.dump(meta, f)
    return t.refresh()


def _cumulative_ids(t, snapshot_id):
    """The version-1 derivation, written out: files in (birth, path)
    order, each row's id the records before its file plus its position."""
    import pyarrow.parquet as pq

    births = {}
    for s in t.history():
        for p in snapshot_lists(t._meta_dir, s).added_files:
            births.setdefault(p, s["snapshot_id"])
    out, acc = [], 0
    for p in sorted(t._snapshot_paths(t.snapshot(snapshot_id)), key=lambda p: (births[p], p)):
        ks = pq.read_table(p, columns=["k"]).column("k").to_pylist()
        out.extend((k, acc + i) for i, k in enumerate(ks))
        acc += len(ks)
    return sorted(out)


@pytest.fixture(params=["map", "no_map"])
def legacy(request, spark, tmp_path):
    """(table, {snapshot id: ids it reads before the upgrade}).

    map: s1 append 0..4, s2 append 5..7 (tagged), s3 compaction
    (materialized lineage), s4 append 8..9, then expiry of s1 and s3, so
    the compaction output's record moved to materialized_lineage_files.
    no_map: s1 append 0..4, s2 append 5..7, s3 copy-on-write delete of
    k=1; the rewritten file's ids are derived, so they differ between s2
    and s3 reads."""
    from icebergplus_spark.lake import compact

    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.legacy", SCHEMA)
    t.append(_rows(spark, range(5)))
    t.append(_rows(spark, range(5, 8)))
    s2 = t.current_snapshot_id
    if request.param == "map":
        t.create_tag("t2", s2)
        assert compact(t)["compacted"] == 2
        t.append(_rows(spark, [8, 9]))
        expire_snapshots(t, keep_last=1)
        expected = {s["snapshot_id"]: _ids(t, s["snapshot_id"]) for s in t.history()}
        _downgrade(t, with_map=True)
        raw = versions.read(t._meta_dir, t._meta["_phys_version"])
        assert raw["materialized_lineage_files"] and raw["row_id_assignments"]
    else:
        t.delete({"k": ("=", 1)})
        _downgrade(t, with_map=False)
        expected = {s["snapshot_id"]: _cumulative_ids(t, s["snapshot_id"]) for s in t.history()}
        # k=5's file was born before the rewritten one, so it moved first
        assert dict(expected[s2])[5] == 5
        assert dict(expected[t.current_snapshot_id])[5] == 0
    return cat, t, expected


def _versions_json(t):
    return {v: versions.read(t._meta_dir, v) for v in versions.list_versions(t._meta_dir)}


def test_upgrade_keeps_lineage_ids(spark, legacy):
    cat, t, expected = legacy
    head = t.current_snapshot_id
    pre = sorted(expected)
    # lifted in memory: the same ids, nothing persisted yet
    for sid in pre:
        assert _ids(t, sid) == expected[sid], sid
    legacy_version = t._meta["_phys_version"]
    assert "format_version" not in _versions_json(t)[legacy_version]

    # the first commit persists the lift once; no map is written again
    t.append(_rows(spark, [20, 21]))
    after = _ids(t)
    assert [p for p in after if p[0] < 20] == expected[head]
    assert len({i for _, i in after}) == len(after)
    v = _versions_json(t)[t._meta["_phys_version"]]
    assert v["format_version"] == 2 and v["lineage_facts"]
    facts_file = v["lineage_facts"]
    for sid in pre:  # time travel into pre-upgrade snapshots
        assert _ids(cat.load_table("db.legacy"), sid) == expected[sid], sid

    # copy-on-write DELETE: survivors keep their ids
    t.delete({"k": ("=", 2)})
    survivors = [p for p in after if p[0] != 2]
    assert _ids(t) == survivors
    from icebergplus_spark.lake import compact

    compact(t)
    assert _ids(t) == survivors
    mark = t.current_snapshot_id
    t.append(_rows(spark, [30]))
    expire_snapshots(t, keep_last=2)
    assert [p for p in _ids(t) if p[0] != 30] == survivors
    rollback(t, mark)
    assert _ids(t) == survivors
    for n, version in _versions_json(t).items():
        if n > legacy_version:
            text = json.dumps(version)
            assert "row_id_assignments" not in text
            assert "materialized_lineage_files" not in text
            assert version["lineage_facts"] == facts_file
            assert not any("lineage_files" in s for s in version["snapshots"])


def _carried_ids_after_append(spark, t, expected, target, branch=None):
    """Append k=30 (to ``branch`` if given): the rows it carries keep
    the ids ``target`` read, and every id stays unique."""
    t.append(_rows(spark, [30]), branch=branch)
    got = _ids(t, t.refs[branch]["snapshot_id"] if branch else None)
    assert [p for p in got if p[0] != 30] == expected[target]
    ids = [i for _, i in got]
    assert len(set(ids)) == len(ids)
    return got


def test_rollback_into_pre_upgrade_snapshot(spark, legacy):
    """A rollback re-commits a pre-upgrade snapshot's manifests: it reads
    that snapshot's ids. An append on top of it carries those manifests
    into a new manifest set, and keeps the ids; so does a rewrite on
    top of that, for the files it carries as well as for the rows it
    rewrites, and the first append to a branch left at that snapshot."""
    cat, t, expected = legacy
    head = t.current_snapshot_id
    target = max((s for s in expected if s != head), key=lambda s: len(expected[s]))
    t.create_branch("audit", target)  # its version persists the upgrade
    t.append(_rows(spark, [20]))
    rollback(t, target)
    assert _ids(t) == expected[target]
    appended = _carried_ids_after_append(spark, t, expected, target)
    t.delete({"k": ("=", 0)})  # rewrites one file, carries the others
    assert _ids(t) == [p for p in appended if p[0] != 0]
    assert _ids(cat.load_table("db.legacy")) == _ids(t)
    _carried_ids_after_append(spark, t, expected, target, branch="audit")


def test_lost_upgrade_commit_facts_file_is_swept(spark, legacy, monkeypatch):
    """The first commit after the lift writes the facts file before the
    publish; a publish that loses leaves that file behind, and
    remove_orphan_files sweeps it once past the grace period, keeping
    the one the published versions name."""
    from icebergplus_spark.lake.upgrade import FACTS_PREFIX
    from icebergplus_spark.lake.table import ConcurrentCommitError

    cat, t, expected = legacy
    head = t.current_snapshot_id
    publish = t.io.publish
    lost = []

    def lose_once(meta_dir, version, payload):
        if not lost:
            lost.append(version)
            raise ConcurrentCommitError("lost the conditional create")
        publish(meta_dir, version, payload)

    monkeypatch.setattr(t.io, "publish", lose_once)
    t.append(_rows(spark, [20]))  # loses once, then retries and wins
    monkeypatch.undo()
    assert lost

    def facts_files():
        return {fn for fn in os.listdir(t._meta_dir) if fn.startswith(FACTS_PREFIX)}

    live = t._meta["lineage_facts"]
    assert facts_files() - {live}
    assert remove_orphan_files(t, older_than_s=3600)["deleted"] == 0
    remove_orphan_files(t, older_than_s=0)
    assert facts_files() == {live}
    assert [p for p in _ids(cat.load_table("db.legacy")) if p[0] != 20] == expected[head]


def test_drifting_writes_out_manifests_whose_ids_would_move(tmp_path):
    """``drifting`` names the pre-upgrade manifests a commit must write
    out: those whose files the commit's manifest set would read with
    other ids than its base snapshot, whether the set loses an override
    the base read or gains one the base did not."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from icebergplus_spark.lake.upgrade import LegacyFacts, drifting, manifest_set_key

    for name, path in (("mA", "a"), ("mB", "b")):
        pq.write_table(
            pa.table({"file_path": [path], "record_count": [5]}),
            str(tmp_path / name),
        )
    facts = LegacyFacts(
        files={"a": (0, 1, False), "b": (0, 2, False)},
        overrides={manifest_set_key(["mA", "mB"]): {"b": 5}},
    )
    override = {"a": (0, 1, False), "b": (5, 2, False)}
    frozen = {"a": (0, 1, False), "b": (0, 2, False)}
    new = [{"file_path": "c", "record_count": 1}]
    meta_dir = str(tmp_path)
    assert drifting(meta_dir, facts, ["mA", "mB"], override) == set()
    assert drifting(meta_dir, facts, ["mA", "mB", new], override) == {"mB"}
    assert drifting(meta_dir, facts, ["mB", "mA"], frozen) == {"mB"}
    assert drifting(meta_dir, facts, ["mA", "mB", new], frozen) == set()
    assert drifting(meta_dir, facts, ["mA"], frozen) == set()


def test_files_metadata_tables_merge_manifest_schemas(spark, legacy):
    """``metadata_df("files")`` and ``("all_files")`` read manifests with
    mergeSchema: on an upgraded table whose snapshot lists a pre-upgrade
    manifest first, both show the row-lineage columns, filled for the
    entries of the current manifest. A table with no snapshot shows the
    whole manifest schema in ``files`` too."""
    import pyarrow.parquet as pq

    from icebergplus_spark.lake.table import MANIFEST_SCHEMA

    cat, t, _ = legacy
    t.append(_rows(spark, [20, 21]))
    manifests = snapshot_lists(t._meta_dir, t.snapshot()).manifests
    assert not set(FACT_COLUMNS) & set(
        pq.read_schema(os.path.join(t._meta_dir, manifests[0])).names
    )
    for kind in ("files", "all_files"):
        df = t.metadata_df(kind)
        assert set(FACT_COLUMNS) <= set(df.columns), kind
        assert any(r["first_row_id"] is not None for r in df.collect()), kind
    empty = cat.create_table("db.none", SCHEMA).metadata_df("files")
    assert empty.columns == MANIFEST_SCHEMA.names
