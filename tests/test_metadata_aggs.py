"""Metadata-only aggregates + manifest rewrite.

Iceberg engines answer COUNT(*) / MIN / MAX from manifest statistics
without opening a data file; `rewrite_manifests` keeps scan-planning
cost O(files/target) on streaming-fed tables. Both are pure-metadata
paths, proven here by deleting the physical data files and showing the
answers survive (a scan would throw)."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from icebergplus_spark.lake import LocalLakeCatalog, rewrite_manifests
from icebergplus_spark.localrel import local_rows_df
from icebergplus_spark.lake.manifest_list import snapshot_lists

SCHEMA = StructType(
    [StructField("k", IntegerType(), True), StructField("s", StringType(), True)]
)


@pytest.fixture
def table(spark, tmp_path):
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.magg", SCHEMA)
    # three appends → three manifests; disjoint k ranges per file
    t.append(
        local_rows_df(spark, [(i, f"a{i}") for i in range(0, 10)], SCHEMA)
    )
    t.append(
        local_rows_df(spark, [(i, f"b{i}") for i in range(10, 30)], SCHEMA)
    )
    t.append(
        local_rows_df(spark, 
            [(i, None if i % 2 else f"c{i}") for i in range(30, 35)], SCHEMA
        )
    )
    return t


def _nuke_data_files(t):
    for f in t.plan_files():
        os.remove(f["file_path"])


def test_count_rows_is_metadata_only(table):
    t = table
    assert t.count_rows() == 35
    _nuke_data_files(t)  # a real scan would now fail
    assert t.count_rows() == 35


def test_count_rows_predicate_full_vs_partial(table):
    t = table
    # k < 10: first file fully matches, others fully pruned → metadata only
    # k < 15: file 2 partially overlaps → that ONE file is scanned
    assert t.count_rows({"k": ("<", 10)}) == 10
    assert t.count_rows({"k": ("<", 15)}) == 15
    assert t.count_rows({"k": (">=", 30)}) == 5
    assert t.count_rows({"k": ("=", 12)}) == 1
    # cross-check every shape against the scan path
    for pred in ({"k": ("<", 10)}, {"k": ("<", 15)}, {"k": (">=", 30)}):
        assert t.count_rows(pred) == t.scan(pred).count()
    # fully-covered predicate needs no data: nuke files, boundary-free
    # predicates still answer
    _nuke_data_files(t)
    assert t.count_rows({"k": ("<", 10)}) == 10
    assert t.count_rows({"k": ("<=", 29)}) == 30


def test_count_rows_null_guard(table):
    # s has nulls in file 3: stats must NOT claim full match there
    t = table
    assert t.count_rows({"s": (">=", "")}) == 35 - 2  # 2 nulls in 30..34


def test_count_rows_falls_back_under_deletes(table):
    t = table
    t.delete_where({"k": ("<", 3)})  # merge-on-read tombstones
    assert t.count_rows() == 32
    assert t.count_rows({"k": ("<", 10)}) == 7


def test_stats_min_max_metadata_only(table):
    t = table
    assert t.stats_min_max("k") == (0, 34)
    lo, hi = t.stats_min_max("s")
    assert lo == "a0" and hi == "c34"
    _nuke_data_files(t)
    assert t.stats_min_max("k") == (0, 34)


def test_stats_min_max_survives_rename(table):
    t = table.rename_column("k", "key")
    assert t.stats_min_max("key") == (0, 34)


def test_append_records_ndv_stats(table):
    s = table.snapshot()["summary"]
    ndv = s.get("added-ndv")
    assert ndv is not None
    # approx_count_distinct on 5 distinct k values: exact at this size
    assert ndv["k"] == 5
    assert ndv["s"] == 3  # 3 non-null strings (nulls don't count)


def test_rewrite_manifests_consolidates(table):
    t = table
    pre_snap = t.current_snapshot_id
    assert len(snapshot_lists(t._meta_dir, t.snapshot()).manifests) == 3
    res = rewrite_manifests(t)
    assert res == {"manifests_before": 3, "manifests_after": 1, "entries": 3}
    assert len(snapshot_lists(t._meta_dir, t.snapshot()).manifests) == 1
    # contents identical, counts identical, metadata count still works
    assert t.count_rows() == 35
    assert sorted(r["k"] for r in t.scan().collect()) == list(range(35))
    # prior snapshot still time-travels through its ORIGINAL manifests
    assert t.scan(snapshot_id=pre_snap).count() == 35
    # incremental consumers see no phantom rows from the rewrite
    assert t.scan_incremental(from_snapshot_id=pre_snap).count() == 0
    # stats pruning still effective through the consolidated manifest
    assert len(t.plan_files({"k": ("<", 10)})) == 1


def test_rewrite_manifests_after_append_keeps_planning_small(table):
    t = table
    rewrite_manifests(t)
    t.append(local_rows_df(t.spark, [(100, "z")], SCHEMA))
    assert len(snapshot_lists(t._meta_dir, t.snapshot()).manifests) == 2  # consolidated + new append
    assert t.count_rows() == 36
    assert t.count_rows({"k": ("=", 100)}) == 1


def test_entries_and_metadata_log_tables(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from icebergplus_spark.lake import LocalLakeCatalog

    schema = StructType(
        [StructField("k", LongType(), True), StructField("s", StringType(), True)]
    )
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.ent", schema)
    t.append(local_rows_df(spark, [(1, "a")], schema))
    t.append(local_rows_df(spark, [(2, "b")], schema))

    ent = t.metadata_df("entries").collect()
    # snapshot 1: one ADDED entry; snapshot 2: that entry EXISTING + one ADDED
    by_snap = {}
    for r in ent:
        by_snap.setdefault(r["snapshot_id"], []).append(r["status"])
    assert sorted(by_snap[1]) == [1]
    assert sorted(by_snap[2]) == [0, 1]

    log = t.metadata_df("metadata_log_entries").collect()
    assert [r["version"] for r in log] == sorted(r["version"] for r in log)
    assert sum(1 for r in log if r["is_current"]) == 1
    assert max(r["version"] for r in log) == 3  # create + 2 appends


def test_stats_min_max_with_predicates_boundary_only(table):
    """r8 (VERDICT r7 #4): WHERE-constrained extrema — files a branch
    fully covers fold from footer stats, only boundary files scan."""
    t = table
    assert t.stats_min_max("k", predicates={"k": ("<", 10)}) == (0, 9)
    # file 2 ([10,30)) partially overlaps k < 15 → scanned, exact
    assert t.stats_min_max("k", predicates={"k": ("<", 15)}) == (0, 14)
    # OR of branches through the union planner
    assert t.stats_min_max(
        "k", predicates=[{"k": ("<", 5)}, {"k": (">=", 30)}]
    ) == (0, 34)
    # extrema of a DIFFERENT column under the predicate: nulls in s are
    # ignored by MIN/MAX exactly as the footer stats ignore them
    assert t.stats_min_max("s", predicates={"k": (">=", 30)}) == (
        "c30",
        "c34",
    )
    # cross-check partial shapes against the scan path
    from pyspark.sql import functions as F2

    for pred in ({"k": ("<", 15)}, {"k": (">", 12)}):
        row = (
            t.scan(pred)
            .agg(F2.min("k").alias("mn"), F2.max("k").alias("mx"))
            .collect()[0]
        )
        assert t.stats_min_max("k", predicates=pred) == (
            row["mn"],
            row["mx"],
        )


def test_stats_min_max_predicates_metadata_only_when_covered(table):
    """Fully-covered predicates answer with the data files GONE — the
    positive proof that no boundary scan happened."""
    t = table
    _nuke_data_files(t)
    assert t.stats_min_max("k", predicates={"k": ("<", 10)}) == (0, 9)
    assert t.stats_min_max(
        "k", predicates=[{"k": ("<", 10)}, {"k": (">=", 30)}]
    ) == (0, 34)
    assert t.stats_min_max("s", predicates={"k": (">=", 30)}) == (
        "c30",
        "c34",
    )


def test_sql_agg_select_with_where_routes_to_stats(spark, tmp_path):
    """SELECT MIN/MAX/COUNT(*) ... WHERE <grammar> answers from the
    metadata fast path — proven by nuking the fully-covered files."""
    import os as _os

    from icebergplus_spark.lake.sql_dml import lake_sql

    cat = LocalLakeCatalog(spark, str(tmp_path / "wh2")).start()
    t = cat.create_table("db.aggw", SCHEMA)
    t.append(
        local_rows_df(spark, 
            [(i, f"a{i}") for i in range(0, 10)], SCHEMA
        )
    )
    t.append(
        local_rows_df(spark, 
            [(i, f"b{i}") for i in range(10, 30)], SCHEMA
        )
    )
    [row] = lake_sql(
        cat,
        "SELECT MIN(k) AS lo, MAX(k) AS hi, COUNT(*) AS n "
        "FROM db.aggw WHERE k < 15",
    ).collect()
    assert (row["lo"], row["hi"], row["n"]) == (0, 14, 15)
    # nuke the fully-covered file; a covered-only WHERE still answers
    for f in t.plan_files({"k": ("<", 10)}):
        _os.remove(f["file_path"])
    [row] = lake_sql(
        cat,
        "SELECT MIN(k) AS lo, MAX(k) AS hi, COUNT(*) AS n "
        "FROM db.aggw WHERE k < 10",
    ).collect()
    assert (row["lo"], row["hi"], row["n"]) == (0, 9, 10)


def test_count_rows_by_metadata_fold_partitioned(spark, tmp_path):
    """r8 (VERDICT r7 #6): grouped counts on an identity-partitioned
    table fold entirely from manifests — proven by deleting the data
    files; a WHERE that fully covers files folds too, and a boundary
    predicate scans only the overlapping files."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "whg")).start()
    t = cat.create_table("db.gcnt", SCHEMA, partition_cols=["s"])
    rows = [(k, f"p{k % 3}") for k in range(30)]
    t.append(spark.createDataFrame(rows, SCHEMA))
    got = {
        (r["s"], r["cnt"]) for r in t.count_rows_by("s").collect()
    }
    assert got == {("p0", 10), ("p1", 10), ("p2", 10)}
    # k < 30 covers every file → still pure metadata
    covered = {
        (r["s"], r["cnt"])
        for r in t.count_rows_by("s", predicates={"k": ("<", 30)}).collect()
    }
    assert covered == got
    _nuke_data_files(t)
    still = {
        (r["s"], r["cnt"]) for r in t.count_rows_by("s").collect()
    }
    assert still == got


def test_count_rows_by_boundary_and_nulls(table):
    """Multi-valued files scan; all-null files land in the NULL group
    straight from the null counts."""
    t = table  # three files: k 0-9, 10-29, 30-34 (s null on odds)
    got = {
        (r["s"], r["cnt"])
        for r in t.count_rows_by("s", predicates={"k": (">=", 30)}).collect()
    }
    # file 3 fully covered but multi-valued in s → scanned: c30/c32/c34
    # once each, NULL group twice
    assert got == {("c30", 1), ("c32", 1), ("c34", 1), (None, 2)}
    # grouped count over k ranges matching partially → exact via scan
    got2 = {
        (r["s"], r["cnt"])
        for r in t.count_rows_by("s", predicates={"k": ("<", 2)}).collect()
    }
    assert got2 == {("a0", 1), ("a1", 1)}


def test_sql_group_count_routes_and_matches(spark, tmp_path):
    """The SQL surface: GROUP BY + HAVING + ORDER BY through
    _group_count_select equals the generic Spark answer."""
    from icebergplus_spark.lake.sql_dml import _group_count_select, lake_sql

    cat = LocalLakeCatalog(spark, str(tmp_path / "whs")).start()
    t = cat.create_table("db.gsql", SCHEMA, partition_cols=["s"])
    t.append(
        spark.createDataFrame(
            [(k, f"p{k % 4}") for k in range(40)], SCHEMA
        )
    )
    q = (
        "SELECT s, COUNT(*) AS n FROM db.gsql WHERE k >= 8 "
        "GROUP BY s HAVING n >= 8 ORDER BY s"
    )
    assert _group_count_select(cat, q) is not None
    got = [(r["s"], r["n"]) for r in lake_sql(cat, q).collect()]
    t.to_view("gsql_ref")
    want = [
        (r["s"], r["n"])
        for r in t.spark.sql(
            "SELECT s, COUNT(*) AS n FROM gsql_ref WHERE k >= 8 "
            "GROUP BY s HAVING n >= 8 ORDER BY s"
        ).collect()
    ]
    assert got == want and got


def test_decimal_stats_never_fold(spark, tmp_path):
    """Self-review r8: decimal manifest stats are default=str strings
    whose lexicographic order diverges from value order ('9.5' >
    '10.2') — extrema and grouped counts on decimal columns must take
    the exact scan leg, not the fold."""
    from decimal import Decimal

    from pyspark.sql.types import DecimalType, IntegerType

    schema = StructType(
        [
            StructField("k", IntegerType(), True),
            StructField("price", DecimalType(10, 2), True),
        ]
    )
    cat = LocalLakeCatalog(spark, str(tmp_path / "whd")).start()
    t = cat.create_table("db.dec", schema)
    # '9.50' > '10.20' lexicographically — the fold-poison shape
    t.append(
        local_rows_df(spark, 
            [(1, Decimal("9.50")), (2, Decimal("10.20"))], schema
        )
    )
    t.append(
        local_rows_df(spark, 
            [(3, Decimal("100.05")), (4, Decimal("2.00"))], schema
        )
    )
    assert t.stats_min_max("price") == (Decimal("2.00"), Decimal("100.05"))
    assert t.stats_min_max("price", predicates={"k": ("<", 3)}) == (
        Decimal("9.50"),
        Decimal("10.20"),
    )
    # grouped count on a decimal column — scan leg, exact
    got = {
        (r["price"], r["cnt"])
        for r in t.count_rows_by("price").collect()
    }
    assert got == {
        (Decimal("9.50"), 1),
        (Decimal("10.20"), 1),
        (Decimal("100.05"), 1),
        (Decimal("2.00"), 1),
    }
    # SQL inventory fast path on the decimal column — exact values
    from icebergplus_spark.lake.sql_dml import lake_sql

    [row] = lake_sql(
        cat, "SELECT MIN(price) AS lo, MAX(price) AS hi FROM db.dec"
    ).collect()
    assert (row["lo"], row["hi"]) == (Decimal("2.00"), Decimal("100.05"))


def test_having_on_countlike_column_name_declines(spark, tmp_path):
    """Self-review r8: HAVING on a group column named counter/county
    must NOT be treated as the COUNT alias — the fast path declines and
    the generic path answers it correctly."""
    from icebergplus_spark.lake.sql_dml import _group_count_select, lake_sql

    schema = StructType(
        [
            StructField("k", IntegerType(), True),
            StructField("counter", IntegerType(), True),
        ]
    )
    cat = LocalLakeCatalog(spark, str(tmp_path / "whc")).start()
    t = cat.create_table("db.cnt", schema)
    t.append(
        local_rows_df(spark, 
            [(k, k % 3) for k in range(9)], schema
        )
    )
    q = (
        "SELECT counter, COUNT(*) AS n FROM db.cnt "
        "GROUP BY counter HAVING counter > 1 ORDER BY counter"
    )
    assert _group_count_select(cat, q) is None  # declined, not mangled
    got = [(r["counter"], r["n"]) for r in lake_sql(cat, q).collect()]
    assert got == [(2, 3)]  # groups where counter > 1 — NOT count > 1
    # the real count alias still rides the fast path
    q2 = (
        "SELECT counter, COUNT(*) AS n FROM db.cnt "
        "GROUP BY counter HAVING n > 2 ORDER BY counter"
    )
    assert _group_count_select(cat, q2) is not None
    assert [(r["counter"], r["n"]) for r in lake_sql(cat, q2).collect()] == [
        (0, 3), (1, 3), (2, 3),
    ]


def test_stats_extrema_single_boundary_scan(table):
    """Self-review r8: MIN/MAX over several columns share ONE boundary
    scan — _read_live fires at most once per stats_extrema call."""
    t = table
    calls = []
    orig = t._read_live

    def spy(paths, snap):
        calls.append(list(paths))
        return orig(paths, snap)

    t._read_live = spy
    out = t.stats_extrema(["k", "s"], predicates={"k": ("<", 15)})
    assert out["k"] == (0, 14)
    assert out["s"] == ("a0", "b14")  # b10..b14 ∪ a0..a9 → min a0 max b14
    assert len(calls) == 1, f"boundary scans: {len(calls)}"


def test_count_rows_by_multi_key(spark, tmp_path):
    """r8: GROUP BY over SEVERAL columns folds when a file is
    single-valued-or-all-null in EVERY group column (partition × batch
    rollups); mixed files scan. Fold proof via nuked data files."""
    from icebergplus_spark.lake.sql_dml import _group_count_select, lake_sql

    schema = StructType(
        [
            StructField("k", IntegerType(), True),
            StructField("p", StringType(), True),
            StructField("b", StringType(), True),
        ]
    )
    cat = LocalLakeCatalog(spark, str(tmp_path / "whm")).start()
    t = cat.create_table("db.multi", schema, partition_cols=["p", "b"])
    rows = [(k, f"p{k % 2}", f"b{k % 3}") for k in range(30)]
    t.append(spark.createDataFrame(rows, schema))
    want = {}
    for k in range(30):
        key = (f"p{k % 2}", f"b{k % 3}")
        want[key] = want.get(key, 0) + 1
    got = {
        (r["p"], r["b"]): r["cnt"]
        for r in t.count_rows_by(["p", "b"]).collect()
    }
    assert got == want
    # SQL route: positional and by-name GROUP BY, HAVING, ORDER
    q = (
        "SELECT p, b, COUNT(*) AS n FROM db.multi "
        "WHERE k < 30 GROUP BY p, b HAVING n >= 5 ORDER BY n DESC"
    )
    assert _group_count_select(cat, q) is not None
    sql_got = {
        (r["p"], r["b"]): r["n"] for r in lake_sql(cat, q).collect()
    }
    assert sql_got == {k: v for k, v in want.items() if v >= 5}
    # mismatched GROUP BY declines loudly to the generic path
    assert (
        _group_count_select(
            cat, "SELECT p, b, COUNT(*) AS n FROM db.multi GROUP BY p"
        )
        is None
    )
    # metadata-only proof: identity-partitioned on both → fold survives
    # data-file deletion
    _nuke_data_files(t)
    assert {
        (r["p"], r["b"]): r["cnt"]
        for r in t.count_rows_by(["p", "b"]).collect()
    } == want


# ------------------- executor-tier folds (r9, VERDICT r8 #4) -------------------


def _force_distributed(t):
    """Route the metadata folds to the executor tier and spy on it."""
    t.set_property("planning.distributed-threshold", "0")
    calls = []
    orig = t._manifest_df
    t._manifest_df = lambda *a, **kw: (calls.append(1) or orig(*a, **kw))
    return calls


def test_count_rows_distributed_equivalence(table):
    """Forced-low threshold: count_rows folds over manifest parquet in
    Spark and returns exactly the driver tier's answers, across
    no-predicate / fully-covered / boundary / OR shapes."""
    t = table
    shapes = [
        None,
        {"k": ("<", 10)},               # file 1 fully covered
        {"k": ("<", 5)},                # boundary
        [{"k": ("<", 3)}, {"k": (">=", 30)}],  # OR, mixed
        {"s": ("notnull", None)},       # null-count proof
        {"k": [(">=", 10), ("<", 30)]},  # closed range = full file 2
    ]
    want = [t.count_rows(p) for p in shapes]
    calls = _force_distributed(t)
    got = [t.count_rows(p) for p in shapes]
    assert got == want
    assert len(calls) == len(shapes)
    # pure-metadata shapes survive data-file deletion on the exec tier
    _nuke_data_files(t)
    assert t.count_rows() == want[0]
    assert t.count_rows({"k": ("<", 10)}) == want[1]


def test_stats_extrema_distributed_equivalence(table):
    t = table
    want_all = t.stats_extrema(["k", "s"])
    want_pred = t.stats_extrema(["k"], predicates={"k": [(">=", 10), ("<", 30)]})
    want_bound = t.stats_extrema(["k"], predicates={"k": ("<", 7)})
    calls = _force_distributed(t)
    assert t.stats_extrema(["k", "s"]) == want_all
    assert (
        t.stats_extrema(["k"], predicates={"k": [(">=", 10), ("<", 30)]})
        == want_pred
    )
    assert t.stats_extrema(["k"], predicates={"k": ("<", 7)}) == want_bound
    assert calls


def test_count_rows_by_distributed_equivalence(spark, tmp_path):
    """Identity-partitioned grouped counts on the executor tier match
    the driver tier exactly — including the all-null group, boundary
    scans, and the deleted-data-files metadata proof."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "whd")).start()
    t = cat.create_table("db.gdist", SCHEMA, partition_cols=["s"])
    rows = [(k, f"p{k % 3}" if k % 7 else None) for k in range(30)]
    t.append(spark.createDataFrame(rows, SCHEMA))

    def grab(pred=None):
        return {
            (r["s"], r["cnt"])
            for r in t.count_rows_by("s", predicates=pred).collect()
        }

    want = grab()
    want_cov = grab({"k": ("<", 30)})
    want_bnd = grab({"k": ("<", 2)})
    calls = _force_distributed(t)
    assert grab() == want
    assert grab({"k": ("<", 30)}) == want_cov
    assert grab({"k": ("<", 2)}) == want_bnd
    assert len(calls) == 3
    _nuke_data_files(t)
    assert grab() == want  # single-valued groups fold from metadata


def test_count_rows_by_distributed_multivalued_boundary(table):
    """Multi-valued group files route to the scan leg on the exec tier
    too (same answers as the driver tier's boundary path)."""
    t = table
    want = {
        (r["s"], r["cnt"])
        for r in t.count_rows_by("s", predicates={"k": (">=", 30)}).collect()
    }
    _force_distributed(t)
    got = {
        (r["s"], r["cnt"])
        for r in t.count_rows_by("s", predicates={"k": (">=", 30)}).collect()
    }
    assert got == want == {("c30", 1), ("c32", 1), ("c34", 1), (None, 2)}


# ---------------- grouped MIN/MAX/COUNT folds (agg_by, r9) ----------------


def test_agg_by_metadata_fold_partitioned(spark, tmp_path):
    """Per-partition freshness (part, MIN/MAX(k), COUNT(*)) folds from
    manifests on an identity-partitioned table — proven by deleting the
    data files."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "whab")).start()
    t = cat.create_table("db.ab", SCHEMA, partition_cols=["s"])
    rows = [(k, f"p{k % 3}") for k in range(30)]
    t.append(spark.createDataFrame(rows, SCHEMA))
    aggs = [("MIN", "k", "lo"), ("MAX", "k", "hi"), ("COUNT", None, "n")]

    def grab(pred=None):
        return {
            (r["s"], r["lo"], r["hi"], r["n"])
            for r in t.agg_by("s", aggs, predicates=pred).collect()
        }

    want = {
        (f"p{i}", i, 27 + i, 10) for i in range(3)
    }
    assert grab() == want
    assert grab({"k": ("<", 30)}) == want  # fully covered → still folds
    _nuke_data_files(t)
    assert grab() == want  # pure metadata


def test_agg_by_boundary_nulls_and_equivalence(table):
    """Multi-valued group files scan; all-null agg columns contribute
    NULL (MIN/MAX ignore them); results equal the plain Spark answer
    at both tiers."""
    from pyspark.sql import functions as F

    t = table  # files: k 0-9, 10-29, 30-34 (s null on odds in file 3)
    aggs = [("MIN", "k", "lo"), ("MAX", "k", "hi"), ("COUNT", None, "n")]
    want = {
        (r["s"], r["lo"], r["hi"], r["n"])
        for r in t.scan()
        .groupBy("s")
        .agg(
            F.min("k").alias("lo"), F.max("k").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    got = {
        (r["s"], r["lo"], r["hi"], r["n"])
        for r in t.agg_by("s", aggs).collect()
    }
    assert got == want
    # predicate shape with boundary files
    want_p = {
        (r["s"], r["hi"])
        for r in t.scan({"k": (">=", 5)})
        .groupBy("s").agg(F.max("k").alias("hi")).collect()
    }
    got_p = {
        (r["s"], r["hi"])
        for r in t.agg_by(
            "s", [("MAX", "k", "hi")], predicates={"k": (">=", 5)}
        ).collect()
    }
    assert got_p == want_p
    # executor tier equivalence
    calls = _force_distributed(t)
    got_d = {
        (r["s"], r["lo"], r["hi"], r["n"])
        for r in t.agg_by("s", aggs).collect()
    }
    assert got_d == want and calls


def test_agg_by_all_null_agg_column(spark, tmp_path):
    """A file whose agg column is entirely NULL folds as a NULL
    contribution — the merged MIN/MAX ignores it, COUNT keeps it."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "whn")).start()
    t = cat.create_table("db.abn", SCHEMA, partition_cols=["s"])
    t.append(
        local_rows_df(spark, 
            [(None, "px"), (None, "px")], SCHEMA
        )
    )
    t.append(
        local_rows_df(spark, [(5, "px"), (9, "px")], SCHEMA)
    )
    got = t.agg_by(
        "s", [("MIN", "k", "lo"), ("MAX", "k", "hi"), ("COUNT", None, "n")]
    ).collect()
    assert [(r["s"], r["lo"], r["hi"], r["n"]) for r in got] == [
        ("px", 5, 9, 4)
    ]


def test_sql_group_agg_fast_path(spark, tmp_path):
    """The SQL surface routes the grouped MIN/MAX/COUNT shape onto
    agg_by and equals the generic Spark answer — proven metadata-only
    by deleting the data files."""
    from icebergplus_spark.lake.sql_dml import _group_agg_select, lake_sql

    cat = LocalLakeCatalog(spark, str(tmp_path / "whsa")).start()
    t = cat.create_table("db.sqlagg", SCHEMA, partition_cols=["s"])
    rows = [(k, f"p{k % 2}") for k in range(20)]
    t.append(spark.createDataFrame(rows, SCHEMA))
    q = (
        "SELECT s, MIN(k) AS lo, MAX(k) AS hi, COUNT(*) AS n "
        "FROM db.sqlagg WHERE k >= 0 GROUP BY s ORDER BY s"
    )
    fast = _group_agg_select(cat, q)
    assert fast is not None
    got = [(r["s"], r["lo"], r["hi"], r["n"]) for r in fast.collect()]
    assert got == [("p0", 0, 18, 10), ("p1", 1, 19, 10)]
    _nuke_data_files(t)
    again = [
        (r["s"], r["lo"], r["hi"], r["n"])
        for r in lake_sql(cat, q).collect()
    ]
    assert again == got  # answered from the manifest
    # HAVING on an agg alias filters the grouped frame (r9)
    hv = _group_agg_select(
        cat,
        "SELECT s, MAX(k) AS hi FROM db.sqlagg GROUP BY s "
        "HAVING hi > 18 ORDER BY s",
    )
    assert hv is not None
    assert [(r["s"], r["hi"]) for r in hv.collect()] == [("p1", 19)]
    # HAVING on a non-alias (group col / unknown) declines to generic
    assert (
        _group_agg_select(
            cat,
            "SELECT s, MAX(k) AS hi FROM db.sqlagg GROUP BY s "
            "HAVING s > 3",
        )
        is None
    )


def test_partitions_rows_matches_dataframe_view(spark, tmp_path):
    """Review r9: the spark-free partitions_rows must render partition
    keys exactly like metadata_df('partitions') — JSON booleans
    lowercase, NULL values drop their segment."""
    from pyspark.sql.types import BooleanType

    cat = LocalLakeCatalog(spark, str(tmp_path / "whpr")).start()
    sch = StructType(
        [
            StructField("k", IntegerType(), True),
            StructField("flag", BooleanType(), True),
        ]
    )
    t = cat.create_table("db.prows", sch, partition_cols=["flag"])
    t.append(
        spark.createDataFrame(
            [(1, True), (2, True), (3, False), (4, None)], sch
        )
    )
    rows, _ = t.partitions_rows()
    want = {
        (r["partition"], r["file_count"], r["record_count"])
        for r in t.metadata_df("partitions").collect()
    }
    assert {
        (r["partition"], r["file_count"], r["record_count"]) for r in rows
    } == want
    assert {r["partition"] for r in rows} >= {"flag=true", "flag=false"}
    # floats: Jackson renders exponent notation ('1.0E-7') — the
    # spark-free path must match byte-for-byte (review r9)
    from pyspark.sql.types import DoubleType

    sch2 = StructType(
        [
            StructField("k", IntegerType(), True),
            StructField("w", DoubleType(), True),
        ]
    )
    t2 = cat.create_table("db.prowsf", sch2, partition_cols=["w"])
    t2.append(
        spark.createDataFrame(
            [(1, 1e-07), (2, 1e-07), (3, 5.5), (4, 12345678.9)], sch2
        )
    )
    rows2, _ = t2.partitions_rows()
    want2 = {
        (r["partition"], r["file_count"], r["record_count"])
        for r in t2.metadata_df("partitions").collect()
    }
    assert {
        (r["partition"], r["file_count"], r["record_count"])
        for r in rows2
    } == want2
    assert {r["partition"] for r in rows2} >= {"w=1.0E-7", "w=5.5"}


def test_entries_distributed_tier_equivalence(table):
    """r9: past the distributed threshold metadata_df('entries') reads
    manifests in Spark and joins the (manifest → snapshot, status) map
    — identical rows to the driver loop."""
    t = table
    key = lambda r: (r["snapshot_id"], r["file_path"], r["status"])
    want = sorted(map(key, t.metadata_df("entries").collect()))
    t.set_property("planning.distributed-threshold", "0")
    got = sorted(map(key, t.metadata_df("entries").collect()))
    assert got == want and len(want) == 6  # 1 + 2 + 3 snapshot views
    assert {s for _, _, s in got} == {0, 1}
