"""Table versions are written gzip-compressed (``lake.versions``).

Every ``vN.metadata.json`` is written through one codec and read by
content, so a table whose older versions are plain JSON (written before
the codec) and whose newer ones are gzip reads the same under every
commit IO, the REST catalog and the stream sources. A guard keeps any
other module from opening version files itself.
"""

import ast
import json
import os
import pathlib
import urllib.request

import pytest

from icebergplus_spark.lake import LocalLakeCatalog, versions
from icebergplus_spark.lake.commitio import (
    CatalogServiceCommitIO,
    ObjectStoreCommitIO,
    RenameCommitIO,
)
from icebergplus_spark.lake.maintenance import expire_metadata_versions
from icebergplus_spark.lake.rest import LakeRestServer, RestLakeCatalog
from icebergplus_spark.localrel import local_rows_df
from icebergplus_spark.streaming.lake_source import read_lake_batch, read_lake_stream

DDL = "k long, v string"


def _rows(spark, ks):
    return local_rows_df(spark, [(k, f"v{k}") for k in ks], DDL)


def _keys(df):
    return sorted(r["k"] for r in df.collect())


def _gzip(meta_dir, v):
    with open(versions.path(meta_dir, v), "rb") as f:
        return f.read(2) == b"\x1f\x8b"


def _plainify(meta_dir):
    """Rewrite every version on disk as plain JSON text, the way trees
    before the codec wrote them."""
    for v in versions.list_versions(meta_dir):
        meta = versions.read(meta_dir, v)
        with open(versions.path(meta_dir, v), "w") as f:
            json.dump(meta, f)


def test_codec_round_trip_and_plain_versions(tmp_path):
    meta = {"snapshots": [{"snapshot_id": 1, "note": "é" * 300}], "current_snapshot_id": 1}
    raw = versions.encode(meta)
    assert raw[:2] == b"\x1f\x8b" and len(raw) < len(json.dumps(meta))
    assert versions.encode(meta) == raw  # mtime 0: same version, same bytes
    assert versions.encode(json.dumps(meta, separators=(",", ":"))) == raw
    assert versions.decode(raw) == meta
    assert versions.decode(json.dumps(meta).encode()) == meta
    d = str(tmp_path)
    with open(versions.path(d, 1), "w") as f:
        json.dump(meta, f)
    with open(versions.path(d, 2), "wb") as f:
        f.write(raw)
    with open(os.path.join(d, "v3.metadata.json.tmp-x"), "w") as f:
        f.write("{}")
    assert versions.list_versions(d) == [1, 2]
    assert versions.read(d, 1) == versions.read(d, 2) == meta
    assert versions.current(d) == 2  # no pointer, no hint: LIST + probe


@pytest.fixture(params=["rename", "object-store", "catalog-service"])
def mixed(request, spark, tmp_path):
    """A table of three plain versions' worth of history, then gzip."""
    io = {
        "rename": RenameCommitIO,
        "object-store": ObjectStoreCommitIO,
        "catalog-service": CatalogServiceCommitIO,
    }[request.param]
    wh = str(tmp_path / "wh")
    cat = LocalLakeCatalog(spark, wh, commit_io=io()).start()
    t = cat.create_table("db.t", local_rows_df(spark, [], DDL).schema)
    t.append(_rows(spark, range(5)))
    s1 = t.current_snapshot_id
    t.append(_rows(spark, range(5, 8)))
    _plainify(t._meta_dir)
    plain = versions.list_versions(t._meta_dir)
    cat = LocalLakeCatalog(spark, wh, commit_io=io()).start()
    t = cat.load_table("db.t")
    t.append(_rows(spark, [8, 9]))
    t.delete({"k": ("=", 1)})
    t = cat.load_table("db.t")
    return cat, t, s1, plain


def test_mixed_versions_read_under_every_commit_io(spark, mixed):
    cat, t, s1, plain = mixed
    on_disk = versions.list_versions(t._meta_dir)
    assert not any(_gzip(t._meta_dir, v) for v in plain)
    assert all(_gzip(t._meta_dir, v) for v in on_disk if v not in plain)
    assert len(on_disk) > len(plain)
    assert _keys(t.scan()) == [0, 2, 3, 4, 5, 6, 7, 8, 9]
    assert _keys(t.scan(snapshot_id=s1)) == list(range(5))
    for v in on_disk:  # every version, either kind, through the handle
        assert t._load_meta_version(v)["identifier"] == "db.t"
    assert _keys(read_lake_batch(spark, t.table_dir)) == [0, 2, 3, 4, 5, 6, 7, 8, 9]
    assert _keys(read_lake_batch(spark, t.table_dir, snapshot_id=s1)) == list(range(5))


def test_metadata_log_and_expiry_over_mixed_versions(mixed):
    cat, t, _s1, plain = mixed
    on_disk = versions.list_versions(t._meta_dir)
    log = t.metadata_rows("metadata_log_entries")[0]
    assert [r["version"] for r in log] == on_disk
    assert [r["metadata_file"] for r in log] == [versions.path(t._meta_dir, v) for v in on_disk]
    assert [r["is_current"] for r in log] == [v == on_disk[-1] for v in on_disk]
    out = expire_metadata_versions(t, keep_last=2)
    assert out["removed_versions"] == len(on_disk) - 2
    assert versions.list_versions(t._meta_dir) == on_disk[-2:]
    assert not set(plain) & set(on_disk[-2:])
    assert _keys(cat.load_table("db.t").scan()) == [0, 2, 3, 4, 5, 6, 7, 8, 9]


def test_stream_source_replays_mixed_versions(spark, tmp_path):
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh"), commit_io=ObjectStoreCommitIO()).start()
    t = cat.create_table("db.s", local_rows_df(spark, [], DDL).schema)
    t.append(_rows(spark, range(4)))
    _plainify(t._meta_dir)
    t = cat.load_table("db.s")
    t.append(_rows(spark, range(4, 6)))
    q = (
        read_lake_stream(spark, t.table_dir)
        .writeStream.format("memory")
        .queryName("codec_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _keys(spark.sql("SELECT * FROM codec_stream")) == list(range(6))


def test_rest_catalog_over_mixed_versions(spark, tmp_path):
    server = LakeRestServer(str(tmp_path / "wh")).start()
    try:
        cat = RestLakeCatalog(spark, server.base_url).start()
        t = cat.create_table("db.r", local_rows_df(spark, [], DDL).schema)
        for i in range(3):
            t.append(_rows(spark, [2 * i, 2 * i + 1]))
        _plainify(t._meta_dir)
        base = f"{server.base_url}/v1/namespaces/db/tables/r/metadata/entries"
        with urllib.request.urlopen(f"{base}?pageSize=2", timeout=5) as r:
            page = json.loads(r.read())
        # commits through the server land gzip; the token stays pinned
        # to the plain version the first page came from
        t = RestLakeCatalog(spark, server.base_url).start().load_table("db.r")
        t.append(_rows(spark, [6]))
        v = t._meta["_phys_version"]
        assert _gzip(t._meta_dir, v) and not _gzip(t._meta_dir, v - 1)
        rows, tok = list(page["rows"]), page["next-page-token"]
        while tok:
            with urllib.request.urlopen(f"{base}?pageSize=2&pageToken={tok}", timeout=5) as r:
                page = json.loads(r.read())
            rows.extend(page["rows"])
            tok = page.get("next-page-token")
        assert len(rows) == 1 + 2 + 3  # entries of the pinned three-snapshot version
        fresh = RestLakeCatalog(spark, server.base_url).start().load_table("db.r")
        assert _keys(fresh.scan()) == list(range(7))
    finally:
        server.stop()


def test_only_the_codec_opens_version_files():
    """No module of the package names ``.metadata.json`` in code (its
    docstrings may) except the codec; ``iceberg_export`` writes
    Iceberg-format metadata of its own and is exempt."""
    root = pathlib.Path(versions.__file__).parents[1]
    offenders = []
    for f in sorted(root.rglob("*.py")):
        if f.name in ("versions.py", "iceberg_export.py"):
            continue
        tree = ast.parse(f.read_text())
        docs = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and n.body
            and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)
        }
        offenders += [
            f"{f.relative_to(root)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and ".metadata.json" in n.value
            and id(n) not in docs
        ]
    assert offenders == []
