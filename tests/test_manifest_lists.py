"""Snapshot list files (metadata.json → list file → manifests):
version size per commit stays flat, versions hold no manifest names,
list files are garbage-collected with their snapshots, and every
metadata change publishes through one guarded step."""

import glob
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from icebergplus_spark.lake import (
    LocalLakeCatalog,
    expire_snapshots,
    remove_orphan_files,
    rewrite_manifests,
)
from icebergplus_spark.lake import manifest_list, versions
from icebergplus_spark.lake.manifest_list import (
    is_list_file,
    snapshot_lists,
    write_manifest_list,
)
from icebergplus_spark.lake.table import ConcurrentCommitError
from icebergplus_spark.localrel import local_rows_df

SCHEMA = StructType(
    [StructField("k", LongType(), True), StructField("v", StringType(), True)]
)


@pytest.fixture
def catalog(spark, tmp_path):
    return LocalLakeCatalog(spark, str(tmp_path / "wh")).start()


def _rows(spark, ks):
    return local_rows_df(spark, [(k, f"v{k}") for k in ks], SCHEMA)


def _keys(t):
    return sorted(r["k"] for r in t.scan().collect())


def _version_bytes(t, v):
    """Bytes of version ``v``'s JSON text (the file holds it gzipped)."""
    return len(json.dumps(versions.read(t._meta_dir, v), separators=(",", ":")))


def _list_files(t):
    return {fn for fn in os.listdir(t._meta_dir) if is_list_file(fn)}


def test_version_growth_per_commit_is_flat(catalog, tmp_path):
    """60 one-file add_files commits: the last commit grows the version
    JSON by no more than a small constant over the first commits'
    growth. With inline lists every commit re-wrote every snapshot's
    manifest list, so growth rose by one manifest name per commit."""
    t = catalog.create_table("db.grow", SCHEMA)
    src = tmp_path / "src"
    src.mkdir()
    growth = []
    for i in range(60):
        p = str(src / f"f{i:03d}.parquet")
        pq.write_table(
            pa.table({"k": pa.array([i], pa.int64()), "v": [f"v{i}"]}), p
        )
        v0 = t._meta["_phys_version"]
        t.add_files([p])
        growth.append(_version_bytes(t, v0 + 1) - _version_bytes(t, v0))
    first = max(growth[1:4])
    assert growth[-1] <= first + 64, growth
    assert t.count_rows() == 60

    # flat in the table's file count too: first-row-ids live in
    # manifest entries, so a one-file commit onto a 1,200-file table
    # writes a version the size of the same commit onto a 1-file table
    sizes = {}
    for n in (1, 1200):
        big = catalog.create_table(f"db.files{n}", SCHEMA)
        d = tmp_path / f"files{n}"
        d.mkdir()
        paths = []
        for i in range(n + 1):
            p = str(d / f"f{i:05d}.parquet")
            pq.write_table(pa.table({"k": pa.array([i], pa.int64()), "v": ["x"]}), p)
            paths.append(p)
        big.add_files(paths[:n])
        big.add_files(paths[n:])
        sizes[n] = _version_bytes(big, big._meta["_phys_version"])
    assert abs(sizes[1200] - sizes[1]) <= 1024, sizes


def test_no_version_holds_manifest_names(spark, catalog):
    t = catalog.create_table("db.names", SCHEMA)
    t.append(_rows(spark, range(4)))
    t.append(_rows(spark, range(4, 8)))
    t.delete_where({"k": ("=", 2)})  # merge-on-read: a delete manifest
    t.delete({"k": ("=", 5)})
    rewrite_manifests(t)
    t.set_property("x", "y")
    expire_snapshots(t, keep_last=2)
    assert _keys(t) == [0, 1, 3, 4, 6, 7]
    paths = glob.glob(os.path.join(t._meta_dir, "v*.metadata.json"))
    assert len(paths) >= 8
    for path in paths:
        with open(path, "rb") as f:
            text = json.dumps(versions.decode(f.read()))
        assert "manifest-" not in text, path
        for s in json.loads(text)["snapshots"]:
            assert not {"manifests", "delete_manifests", "added_files"} & set(s)
            assert is_list_file(s["manifest_list"])


def test_lost_commit_list_file_is_swept(spark, catalog):
    """A commit that loses with ConcurrentCommitError leaves its list
    file behind; remove_orphan_files sweeps it and keeps every live
    one."""
    t = catalog.create_table("db.orphan", SCHEMA)
    t.append(_rows(spark, range(5)))
    stale = catalog.load_table("db.orphan")
    t.append(_rows(spark, [5]))
    live = _list_files(t)
    with pytest.raises(ConcurrentCommitError):
        stale.delete({"k": ("=", 1)})
    leftover = _list_files(t) - live
    assert len(leftover) == 1
    assert remove_orphan_files(t, older_than_s=3600)["deleted"] == 0
    assert _list_files(t) == live | leftover  # inside the grace period
    remove_orphan_files(t, older_than_s=0)
    assert _list_files(t) == live
    assert _list_files(t) == {s["manifest_list"] for s in t.history()}
    assert _keys(t) == list(range(6))


def test_expire_deletes_only_expired_list_files(spark, catalog):
    t = catalog.create_table("db.expire", SCHEMA)
    for i in range(4):
        t.append(_rows(spark, [i]))
    t.create_tag("keep", t.history()[1]["snapshot_id"])
    names = [s["manifest_list"] for s in t.history()]
    assert expire_snapshots(t, keep_last=1)["expired"] == 2
    assert _list_files(t) == {names[1], names[3]}
    assert _keys(t) == [0, 1, 2, 3]
    assert sorted(r["k"] for r in t.scan(ref="keep").collect()) == [0, 1]


def test_stale_handle_metadata_commit_raises(spark, catalog):
    """A stale handle's property or schema change must not publish over
    a concurrent commit: the version check makes it fail fast instead
    of dropping the other writer's snapshot."""
    t = catalog.create_table("db.stale", SCHEMA)
    t.append(_rows(spark, [1]))
    a = catalog.load_table("db.stale")
    b = catalog.load_table("db.stale")
    b.append(_rows(spark, [2]))
    with pytest.raises(ConcurrentCommitError):
        a.set_property("x", "y")
    with pytest.raises(ConcurrentCommitError):
        a.add_column("c", LongType())
    assert _keys(catalog.load_table("db.stale")) == [1, 2]
    a.refresh().set_property("x", "y")
    t = catalog.load_table("db.stale")
    assert t.properties["x"] == "y" and _keys(t) == [1, 2]


def test_writer_seeds_the_cache(spark, catalog, monkeypatch):
    """The snapshot a process just committed is answered from memory:
    no file is opened to read its lists."""
    t = catalog.create_table("db.cache", SCHEMA)
    t.append(_rows(spark, [1]))

    def no_open(*a, **k):
        raise AssertionError("list file read from disk")

    monkeypatch.setattr(manifest_list, "open", no_open, raising=False)
    assert len(snapshot_lists(t._meta_dir, t.snapshot()).manifests) == 1


def test_cache_is_bounded_and_reloads_evicted_lists(tmp_path, monkeypatch):
    monkeypatch.setattr(manifest_list, "_CACHE_MAX", 4)
    monkeypatch.setattr(manifest_list, "_cache", type(manifest_list._cache)())
    names = [
        write_manifest_list(str(tmp_path), i, [f"m{i}"], [], [f"f{i}"])
        for i in range(6)
    ]
    assert len(manifest_list._cache) == 4
    lists = snapshot_lists(str(tmp_path), {"manifest_list": names[0]})
    assert lists.manifests == ["m0"] and lists.added_files == ["f0"]
    lists.manifests.append("x")  # callers get copies
    assert snapshot_lists(str(tmp_path), {"manifest_list": names[0]}).manifests == [
        "m0"
    ]
    assert len(manifest_list._cache) == 4


def test_cache_under_concurrent_writers_and_readers(tmp_path, monkeypatch):
    """Threads writing and reading list files through a small cache:
    every read returns the lists its file holds, and the bound holds."""
    import sys
    import threading

    monkeypatch.setattr(manifest_list, "_CACHE_MAX", 8)
    monkeypatch.setattr(manifest_list, "_cache", type(manifest_list._cache)())
    errors = []

    def work(w):
        try:
            mine = []
            for i in range(60):
                sid = w * 1000 + i
                mine.append(
                    (sid, write_manifest_list(str(tmp_path), sid, [f"m{sid}"], [], []))
                )
                for s, name in mine[-5:]:
                    got = snapshot_lists(str(tmp_path), {"manifest_list": name})
                    if got.manifests != [f"m{s}"]:
                        errors.append((s, got))
        except Exception as e:  # surfaced through the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(w,)) for w in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(manifest_list._cache) <= 8
