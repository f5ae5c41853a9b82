"""CatalogServiceCommitIO: the JDBC-style commit authority (the
reference's actual design — JdbcCatalog over embedded H2,
LocalIcebergCatalog.java:133-135) as the third pluggable strategy.
The same no-lost-snapshot battery the other two IOs pass, plus the
service-specific seams (seeding, CAS loser, cross-instance shared db)."""

import threading

import pytest
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from icebergplus_spark.lake import (
    CatalogServiceCommitIO,
    LocalLakeCatalog,
    MetricsReporter,
    MetricsSink,
)
from icebergplus_spark.lake import versions
from icebergplus_spark.lake.commitio import ConcurrentCommitError

SCHEMA = StructType(
    [StructField("k", IntegerType(), True), StructField("v", StringType(), True)]
)


def _catalog(spark, root):
    return LocalLakeCatalog(
        spark, root, commit_io=CatalogServiceCommitIO()
    ).start()


def test_roundtrip_and_no_pointer_files(spark, tmp_path):
    cat = _catalog(spark, str(tmp_path / "wh"))
    t = cat.create_table("db.t", SCHEMA)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    t.append(spark.createDataFrame([(3, "c")], SCHEMA))
    assert t.scan().count() == 3
    # the authority is the service row — no pointer file, no hint file
    import os

    files = os.listdir(t._meta_dir)
    assert "version-pointer.txt" not in files
    assert "version-hint.text" not in files


def test_restart_sees_state(spark, tmp_path):
    root = str(tmp_path / "wh")
    cat = _catalog(spark, root)
    t = cat.create_table("db.t", SCHEMA)
    t.append(spark.createDataFrame([(1, "a")], SCHEMA))
    cat.stop()
    cat2 = _catalog(spark, root)
    assert cat2.load_table("db.t").scan().count() == 1


def test_cas_loser_gets_concurrent_commit_error(spark, tmp_path):
    root = str(tmp_path / "wh")
    cat = _catalog(spark, root)
    t1 = cat.create_table("db.t", SCHEMA)
    t1.append(spark.createDataFrame([(1, "a")], SCHEMA))
    t2 = cat.load_table("db.t")  # same version view
    t1.append(spark.createDataFrame([(2, "b")], SCHEMA))  # advances the row
    stale = dict(t2._meta)
    with pytest.raises(ConcurrentCommitError):
        # replay a publish against the stale expected version
        t2.io.publish(t2._meta_dir, stale["_phys_version"] + 1, "{}")
    # retry after refresh succeeds
    t2.refresh().append(spark.createDataFrame([(3, "c")], SCHEMA))
    assert t2.scan().count() == 3


def test_seeding_adopts_rename_io_table(spark, tmp_path):
    """A table committed under RenameCommitIO is adopted: the first
    service read seeds the row from a directory LIST."""
    root = str(tmp_path / "wh")
    plain = LocalLakeCatalog(spark, root).start()
    t = plain.create_table("db.old", SCHEMA)
    t.append(spark.createDataFrame([(1, "a")], SCHEMA))
    svc = LocalLakeCatalog(spark, root, commit_io=CatalogServiceCommitIO())
    svc._status = plain._status  # share started state
    adopted = svc.load_table("db.old")
    assert adopted.scan().count() == 1
    adopted.append(spark.createDataFrame([(2, "b")], SCHEMA))
    assert adopted.scan().count() == 2


def test_two_catalog_instances_parallel_appends_no_lost_snapshots(
    spark, tmp_path
):
    """The battery from test_object_store.py under the third strategy:
    two catalog instances over one warehouse (= two processes against
    one catalog service), racing appends. Every append lands."""
    root = str(tmp_path / "wh")
    sink = MetricsSink()
    cat1 = _catalog(spark, root)
    cat1.set_metrics_reporter(MetricsReporter(sink))
    cat1.create_table("db.shared", SCHEMA)
    cat2 = _catalog(spark, root)
    cat2.set_metrics_reporter(MetricsReporter(sink))

    per_writer = 4
    errors: list[Exception] = []

    def writer(cat, base):
        try:
            t = cat.load_table("db.shared")
            for i in range(per_writer):
                for _ in range(8):
                    try:
                        t.append(
                            spark.createDataFrame(
                                [(base + i, f"w{base + i}")], SCHEMA
                            )
                        )
                        break
                    except ConcurrentCommitError:
                        t.refresh()
                else:
                    raise RuntimeError("append never landed")
        except Exception as e:
            errors.append(e)

    th1 = threading.Thread(target=writer, args=(cat1, 0))
    th2 = threading.Thread(target=writer, args=(cat2, 100))
    th1.start(), th2.start()
    th1.join(), th2.join()
    assert not errors, errors

    final = cat1.load_table("db.shared")
    appends = [s for s in final._meta["snapshots"] if s["operation"] == "append"]
    assert len(appends) == 2 * per_writer  # no lost snapshots
    rows = final.scan().collect()
    assert sorted(r["k"] for r in rows) == sorted(
        list(range(per_writer)) + list(range(100, 100 + per_writer))
    )


def test_maintenance_and_evolution_under_service_io(spark, tmp_path):
    from icebergplus_spark.lake import compact, expire_snapshots, rollback

    cat = _catalog(spark, str(tmp_path / "wh"))
    t = cat.create_table("db.t", SCHEMA)
    for i in range(4):
        t.append(spark.createDataFrame([(i, f"r{i}")], SCHEMA))
    v = t.current_snapshot_id
    t.append(spark.createDataFrame([(9, "x")], SCHEMA))
    rollback(t, v)
    assert t.scan().count() == 4
    compact(t)
    assert t.scan().count() == 4
    t.add_column("extra", "int")
    assert "extra" in t.schema.fieldNames()
    expire_snapshots(t, keep_last=1)
    assert t.scan().count() == 4


def test_multi_table_txn_under_service_io(spark, tmp_path):
    cat = _catalog(spark, str(tmp_path / "wh"))
    a = cat.create_table("db.a", SCHEMA)
    b = cat.create_table("db.b", SCHEMA)
    a.append(spark.createDataFrame([(1, "a")], SCHEMA))
    b.append(spark.createDataFrame([(1, "b")], SCHEMA))
    with cat.transaction() as txn:
        txn.append("db.a", spark.createDataFrame([(2, "a2")], SCHEMA))
        txn.append("db.b", spark.createDataFrame([(2, "b2")], SCHEMA))
    assert cat.load_table("db.a").scan().count() == 2
    assert cat.load_table("db.b").scan().count() == 2


def test_self_heal_missing_metadata_file(spark, tmp_path):
    """Crash window: committer died between the row commit and the
    file materialization. Readers re-materialize from the recorded
    payload and never notice."""
    import os

    cat = _catalog(spark, str(tmp_path / "wh"))
    t = cat.create_table("db.t", SCHEMA)
    t.append(spark.createDataFrame([(1, "a")], SCHEMA))
    v = t._meta["_phys_version"]
    path = os.path.join(t._meta_dir, f"v{v}.metadata.json")
    os.remove(path)  # simulate the un-materialized crash
    t2 = cat.load_table("db.t")
    assert t2.scan().count() == 1
    assert os.path.exists(path)  # healed


def test_stale_loser_never_clobbers_committed_file(spark, tmp_path):
    """The hazard the DB-authoritative protocol removes: a stale
    committer loses the row CAS WITHOUT having touched the filesystem."""
    import os

    cat = _catalog(spark, str(tmp_path / "wh"))
    t1 = cat.create_table("db.t", SCHEMA)
    t1.append(spark.createDataFrame([(1, "a")], SCHEMA))
    t2 = cat.load_table("db.t")
    t1.append(spark.createDataFrame([(2, "b")], SCHEMA))
    committed = t1._meta["_phys_version"]
    path = os.path.join(t1._meta_dir, f"v{committed}.metadata.json")
    before = open(path, "rb").read()
    with pytest.raises(ConcurrentCommitError):
        t2.io.publish(t2._meta_dir, t2._meta["_phys_version"] + 1, "{}")
    assert open(path, "rb").read() == before  # untouched


def test_busy_database_surfaces_as_concurrent_commit_error(spark, tmp_path):
    """ADVICE r4: a sqlite 'database is locked' loss under write
    contention must surface as ConcurrentCommitError (what callers'
    retry loops are keyed on), never a raw sqlite3.OperationalError."""
    import sqlite3

    cat = _catalog(spark, str(tmp_path / "whbusy"))
    t = cat.create_table("db.t", SCHEMA)
    t.append(spark.createDataFrame([(1, "a")], SCHEMA))
    io = t.io
    meta_dir = t._meta_dir

    # shrink the busy timeout so the loser loses fast
    real_db = io._db

    def quick_db(md):
        con = real_db(md)
        con.close()
        path = io.db_path or __import__("os").path.join(
            __import__("os").path.dirname(__import__("os").path.dirname(md)),
            "_catalog_service.db",
        )
        return sqlite3.connect(path, timeout=0.05)

    # another writer holds the write lock for the duration
    holder = real_db(meta_dir)
    holder.execute("BEGIN IMMEDIATE")
    try:
        io._db = quick_db
        v = io.current_version(meta_dir) + 1
        with pytest.raises(ConcurrentCommitError):
            io.publish(meta_dir, v, "{}")
    finally:
        io._db = real_db
        holder.rollback()
        holder.close()

    # once the lock clears, the same publish succeeds
    v = io.current_version(meta_dir) + 1
    io.publish(meta_dir, v, '{"snapshots": [], "_version": %d}' % v)
    assert io.current_version(meta_dir) == v


def test_readers_never_open_a_half_written_metadata_file(tmp_path):
    """A reader that finds the committed version opens a whole file:
    the payload is materialized under a temp name and linked into
    place, never written in place under ``vN.metadata.json``."""
    import json
    import os

    meta_dir = str(tmp_path / "wh" / "t" / "metadata")
    os.makedirs(meta_dir)
    io = CatalogServiceCommitIO()
    payload = json.dumps({"pad": "x" * (1 << 20)})
    io.publish(meta_dir, 1, payload)
    whole = versions.encode(payload)  # the bytes every version must read as
    stop, torn = threading.Event(), []

    def reader():
        while not stop.is_set():
            v = io.current_version(meta_dir)
            with open(versions.path(meta_dir, v), "rb") as f:
                text = f.read()
            if text != whole:
                torn.append((v, len(text)))

    threads = [threading.Thread(target=reader) for _ in range(4)]
    for th in threads:
        th.start()
    try:
        for v in range(2, 42):
            io.publish(meta_dir, v, payload)
    finally:
        stop.set()
        for th in threads:
            th.join(timeout=60)
    assert not any(th.is_alive() for th in threads)
    assert torn == []
