"""Write distribution modes (Iceberg write.distribution-mode parity)
and add_files (zero-copy migration of existing parquet into the lake)."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from icebergplus_spark.lake import LocalLakeCatalog
from icebergplus_spark.lake.manifest_list import snapshot_lists

SCHEMA = StructType(
    [
        StructField("part", StringType(), True),
        StructField("v", IntegerType(), True),
    ]
)


def _rows(spark):
    # 3 partition values × many rows, spread over 8 upstream partitions
    data = [(f"p{i % 3}", i) for i in range(240)]
    return spark.createDataFrame(data, SCHEMA).repartition(8)


def test_hash_distribution_collapses_small_files(spark, tmp_path):
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t1 = cat.create_table("db.d_none", SCHEMA, partition_cols=["part"])
    t1.append(_rows(spark))  # default: one file per (task, value)
    t2 = cat.create_table("db.d_hash", SCHEMA, partition_cols=["part"])
    t2.append(_rows(spark), distribution="hash")

    files_none = len(t1.plan_files())
    files_hash = len(t2.plan_files())
    assert files_none > 3  # the classic partitioned-ingest explosion
    assert files_hash == 3  # one file per partition value
    # identical contents either way
    assert sorted(map(tuple, t1.scan().collect())) == sorted(
        map(tuple, t2.scan().collect())
    )


def test_range_distribution_clusters_and_reads_back(spark, tmp_path):
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh2")).start()
    t = cat.create_table("db.d_range", SCHEMA, partition_cols=["part"])
    t.append(_rows(spark), distribution="range")
    assert t.scan().count() == 240
    assert len(t.plan_files({"part": ("=", "p1")})) == 1
    with pytest.raises(ValueError, match="distribution"):
        t.append(_rows(spark), distribution="bogus")


def test_add_files_registers_external_parquet(spark, tmp_path):
    ext = str(tmp_path / "external")
    spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA).coalesce(1).write.parquet(ext)
    paths = [
        os.path.join(ext, f) for f in os.listdir(ext) if f.endswith(".parquet")
    ]

    cat = LocalLakeCatalog(spark, str(tmp_path / "wh3")).start()
    t = cat.create_table("db.migrated", SCHEMA)
    t.add_files(paths)
    assert sorted(map(tuple, t.scan().collect())) == [("a", 1), ("b", 2)]
    assert t.snapshot()["operation"] == "append"
    assert t.count_rows() == 2  # stats were harvested normally
    # bytes untouched: the registered file is the original, in place
    assert t.plan_files()[0]["file_path"] == os.path.abspath(paths[0])

    # appends continue normally on top of migrated files
    t.append(spark.createDataFrame([("c", 3)], SCHEMA).coalesce(1))
    assert t.count_rows() == 3
    # stats pruning applies to migrated files like any other
    assert len(t.plan_files({"v": ("=", 3)})) == 1


def test_add_files_guards(spark, tmp_path):
    other = str(tmp_path / "other")
    spark.createDataFrame([(1.5,)], "x double").coalesce(1).write.parquet(other)
    bad = [os.path.join(other, f) for f in os.listdir(other) if f.endswith(".parquet")]

    cat = LocalLakeCatalog(spark, str(tmp_path / "wh4")).start()
    t = cat.create_table("db.guard", SCHEMA)
    with pytest.raises(ValueError, match="shares no columns"):
        t.add_files(bad)
    tp = cat.create_table("db.guard_p", SCHEMA, partition_cols=["part"])
    with pytest.raises(ValueError, match="unpartitioned"):
        tp.add_files(bad)


def test_write_sort_order_clusters_appends(spark, tmp_path):
    """write.sort-order applies to the WRITE path (Iceberg parity): with
    range distribution, freshly appended files have non-overlapping
    [min,max] on the sort column — prunable from the first scan, no
    compaction needed."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from icebergplus_spark.lake import LocalLakeCatalog

    schema = StructType(
        [StructField("k", LongType(), True), StructField("s", StringType(), True)]
    )
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.sorted", schema)
    t.set_property("write.sort-order", "k").set_property(
        "write.distribution-mode", "range"
    )
    import random

    rows = [(i, f"v{i}") for i in range(2000)]
    random.Random(7).shuffle(rows)
    # AQE would rightly coalesce this tiny shuffle into one partition —
    # pin it off so the test produces several range-clustered files
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        t.refresh().append(spark.createDataFrame(rows, schema).repartition(8))
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")

    files = t.plan_files()
    assert len(files) > 1  # several files, else the test proves nothing
    ranges = sorted(
        (
            int(json.loads(f["column_mins"])["k"]),
            int(json.loads(f["column_maxs"])["k"]),
        )
        for f in files
    )
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # globally range-clustered: no overlap
    # pruning: a narrow range hits exactly one file
    assert len(t.plan_files({"k": ("=", 42)})) == 1


def test_add_files_migrates_hive_partitioned_dataset(spark, tmp_path):
    """add_files(base_dir=...) registers a whole Hive-partitioned
    dataset into an identity-partitioned table: partition values
    recovered from paths, stats pruning live, zero data rewritten
    (hardlinks into the table layout)."""
    ext = str(tmp_path / "hive_ext")
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("c", 4)], SCHEMA
    )
    df.repartition(1).write.partitionBy("part").parquet(ext)

    cat = LocalLakeCatalog(spark, str(tmp_path / "wh5")).start()
    t = cat.create_table("db.hive_mig", SCHEMA, partition_cols=["part"])
    t.add_files(base_dir=ext)
    assert sorted(map(tuple, t.scan().collect())) == [
        ("a", 1), ("a", 2), ("b", 3), ("c", 4),
    ]
    # partition pruning works off the recovered path values
    assert len(t.plan_files({"part": ("=", "b")})) == 1
    assert [r["v"] for r in t.scan({"part": ("=", "b")}).collect()] == [3]
    # appends and compaction continue normally on top
    t.append(spark.createDataFrame([("b", 5)], SCHEMA))
    assert t.count_rows() == 5

    # guard: a file whose path lacks the partition segment is rejected
    flat = str(tmp_path / "flat_ext")
    df.coalesce(1).write.parquet(flat)
    t2 = cat.create_table("db.hive_mig2", SCHEMA, partition_cols=["part"])
    with pytest.raises(ValueError, match="lacks partition"):
        t2.add_files(base_dir=flat)
    # guard: transform specs can't recover values from foreign paths
    t3 = cat.create_table(
        "db.hive_mig3", SCHEMA, partition_spec=["bucket(4, part)"]
    )
    with pytest.raises(ValueError, match="identity"):
        t3.add_files(base_dir=ext)
    # guard: exactly one of paths/base_dir
    with pytest.raises(ValueError, match="exactly one"):
        t2.add_files()


def test_distributed_stats_harvest_equivalence(spark, tmp_path):
    """Write-time footer harvest fans out as a Spark job past the
    threshold; entries (stats, partition stats, blooms) must be
    identical to the driver-serial path."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from icebergplus_spark.lake import LocalLakeCatalog

    schema = StructType(
        [
            StructField("k", IntegerType()),
            StructField("grp", StringType()),
            StructField("val", DoubleType()),
        ]
    )
    rows = [(i, "ab"[i % 2], float(i)) for i in range(64)]

    def build(root, threshold):
        cat = LocalLakeCatalog(spark, root).start()
        t = cat.create_table(
            "db.t", schema, partition_cols=["grp"], bloom_cols=["k"]
        )
        t.set_property(
            "write.stats-harvest.distributed-threshold", str(threshold)
        )
        t.refresh().append(
            spark.createDataFrame(rows, schema).repartition(4), 
        )
        ents = []
        for f in t.plan_files():
            ents.append(
                (
                    _json.loads(f["column_mins"]),
                    _json.loads(f["column_maxs"]),
                    _json.loads(f["column_null_counts"]),
                    f.get("column_blooms"),
                    f["record_count"],
                )
            )
        return sorted(map(repr, ents))

    driver = build(str(tmp_path / "wh_driver"), threshold=10_000)
    dist = build(str(tmp_path / "wh_dist"), threshold=0)
    assert driver == dist
    # pruning still works through the distributed-harvested stats
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh_dist")).start()
    t = cat.load_table("db.t")
    assert len(t.plan_files({"k": ("=", 3)})) < len(t.plan_files())
    assert t.scan().count() == 64


def test_rewrite_paths_harvest_distributed_equivalence(spark, tmp_path):
    """The rewrite paths (UPDATE / MERGE / DELETE CoW / compact) harvest
    their output files through the same batched ``_harvest_data_files``
    as append (r12 `_harvest_dir`), so past the distributed threshold
    the column reads fan out instead of running driver-serial. The SAME
    written files must harvest to identical entries on either side of
    the threshold, and each entry a rewrite committed must equal them.
    (Two independently built tables are not comparable: row ids follow
    the sorted order of uuid-named files.) Row lineage is checked per
    logical row."""
    from icebergplus_spark.lake import compact

    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.rw", SCHEMA, bloom_cols=["v"])
    t.set_property("write.stats-harvest.distributed-threshold", "0")
    t.refresh()
    for lo in (0, 120):
        t.append(
            spark.createDataFrame(
                [(f"p{i % 3}", i) for i in range(lo, lo + 120)], SCHEMA
            ).repartition(4)
        )

    def ids():
        return {
            (r["part"], r["v"]): r["_row_id"]
            for r in t.scan_with_lineage().collect()
        }

    born = ids()
    committed = {f["file_path"]: f for f in t.plan_files()}

    def step(op):
        nonlocal t
        op()
        t = cat.load_table("db.rw")
        new = [f for f in t.plan_files() if f["file_path"] not in committed]
        assert new  # every rewrite below commits files of its own
        committed.update((f["file_path"], f) for f in new)

    step(lambda: t.update_where({"part": ("=", "p1")}, {"v": F.col("v") + 1000}))
    step(lambda: t.delete({"v": (">", 1200)}))
    step(
        lambda: t.merge_into(
            spark.createDataFrame([("px", 7), ("py", 8)], SCHEMA),
            on=["v"],
            when_matched_update={"part": F.col("src_part")},
            when_not_matched_insert=True,
        )
    )
    # a second file for compaction to fold in
    step(lambda: t.append(spark.createDataFrame([("pz", 5000)], SCHEMA)))
    step(
        lambda: compact(
            t, target_file_size=1 << 20, small_file_threshold=1 << 20
        )
    )

    def harvest(threshold):
        t.set_property(
            "write.stats-harvest.distributed-threshold", str(threshold)
        )
        t.refresh()
        return {e["file_path"]: e for e in t._harvest_data_files(list(committed))}

    driver, dist = harvest(10_000), harvest(0)
    assert set(driver) == set(dist) == set(committed)
    for path, d in driver.items():
        x = dist[path]
        for key in set(d) | set(x):
            assert d.get(key) == x.get(key), (path, key)
        for key in d:
            assert committed[path].get(key) == d[key], (path, key)

    # lineage per logical row: survivors and the updated p1 rows keep
    # their id, the MERGE-updated row keeps its id under its new part,
    # the deleted rows are gone, and the inserted rows get fresh ids
    want = {}
    for (part, v), rid in born.items():
        if part == "p1":
            v += 1000
        if v > 1200:
            continue
        want[("py" if v == 8 else part, v)] = rid
    got = ids()
    new = {got.pop(("px", 7)), got.pop(("pz", 5000))}
    assert got == want
    assert len(new) == 2 and not new & set(born.values())
    assert len(set(got.values()) | new) == len(got) + 2


def test_delete_file_harvest_distributed_equivalence(spark, tmp_path):
    """r13: the DELETE-file writers (MoR position delete, equality
    tombstone, atomic upsert) route their tombstone-file harvest
    through the same batched ``_harvest_data_files`` as data files —
    delete-manifest entries and the visible rows must be identical
    either side of the distributed threshold."""

    def build(root, threshold):
        import pyarrow.parquet as _pq
        import os as _os

        cat = LocalLakeCatalog(spark, root).start()
        t = cat.create_table("db.dvh", SCHEMA)
        t.set_property(
            "write.stats-harvest.distributed-threshold", str(threshold)
        )
        t.set_property("delete.mode", "merge-on-read")
        t.refresh()
        t.append(
            spark.createDataFrame(
                [(f"p{i % 3}", i) for i in range(240)], SCHEMA
            ).repartition(4)
        )
        # MoR position delete + equality tombstone + atomic upsert: all
        # three tombstone writers in one history
        t.delete_where({"v": (">", 200)})
        t.delete_by_key(spark.createDataFrame([("p1",)], "part string"))
        t.upsert(
            spark.createDataFrame([("p0", 5), ("pz", 999)], SCHEMA), "v"
        )
        snap = t.snapshot()
        entries = []
        for m in snapshot_lists(t._meta_dir, snap).delete_manifests:
            for e in _pq.read_table(
                _os.path.join(t._meta_dir, m)
            ).to_pylist():
                entries.append(
                    (e["content"], e["equality_cols"], e["record_count"])
                )
        rows = sorted(map(tuple, t.scan().collect()))
        return sorted(entries), rows

    d_entries, d_rows = build(str(tmp_path / "wh_driver"), 10_000)
    x_entries, x_rows = build(str(tmp_path / "wh_dist"), 0)
    assert d_rows == x_rows
    assert d_entries == x_entries
    assert d_entries, "no delete-manifest entries harvested"
