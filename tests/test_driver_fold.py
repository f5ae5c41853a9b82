"""The driver finish of ``agg_by`` / ``count_rows_by``
(``LakeTable._fold_on_driver``).

A fold's manifest-folded partials and its boundary files (the files the
manifest could not fold) used to merge in a Spark aggregate. Small
boundaries of integral, string, boolean and date columns are now read
with pyarrow, filtered with ``_branches_mask`` and merged in Python, so
the fold runs no Spark job. These tests prove the finish is invisible:
the mask equals ``_branches_match_cond``, results equal a plain Spark
aggregate over ``scan()``, and every declined shape still answers the
same through Spark.
"""

import datetime

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from icebergplus_spark.lake import LocalLakeCatalog
from icebergplus_spark.lake.sql_dml import lake_sql
from icebergplus_spark.lake.table import (
    LakeTable,
    _branches_mask,
    _branches_match_cond,
)
from icebergplus_spark.localrel import local_rows_df


@pytest.fixture()
def cat(spark, tmp_path):
    return LocalLakeCatalog(spark, str(tmp_path)).start()


def _create(spark, cat, ident, ddl, **kw):
    return cat.create_table(ident, local_rows_df(spark, [], ddl).schema, **kw)


def _jobs(spark):
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


@pytest.fixture()
def finishes(monkeypatch):
    """Records what each ``_fold_on_driver`` call returned: a list of
    rows when the driver finished the fold, None when it declined."""
    seen = []
    real = LakeTable._fold_on_driver

    def spy(self, *a, **kw):
        out = real(self, *a, **kw)
        seen.append(out is not None)
        return out

    monkeypatch.setattr(LakeTable, "_fold_on_driver", spy)
    return seen


D = datetime.date
DDL = "i int, l long, s string, b boolean, d date, g string, n long"
COLS = ["i", "l", "s", "b", "d"]


def _rows(base):
    """Eight rows with NULL cells in every column; ``n`` is all NULL."""
    out = []
    for j in range(8):
        k = base + j
        out.append((
            None if j == 3 else k,
            None if j == 5 else k * 10,
            None if j == 1 else f"s{k % 5}",
            None if j == 6 else k % 2 == 0,
            None if j == 2 else D(2024, 1, 1 + k % 20),
            None if j == 7 else f"g{k % 3}",
            None,
        ))
    return out


@pytest.fixture()
def table(spark, cat):
    t = _create(spark, cat, "db.t", DDL)
    for base in (0, 8, 16):
        t.append(local_rows_df(spark, _rows(base), DDL))
    return cat.load_table("db.t")


# -- the mask ---------------------------------------------------------------

LITERALS = {
    "i": [3, 12],
    "l": [40, 150],
    "s": ["s2", "s4"],
    "b": [True, False],
    "d": [D(2024, 1, 5), D(2024, 1, 12)],
}


def _cases():
    out = []
    for c, lits in LITERALS.items():
        for op in ("<", "<=", ">", ">=", "=", "!="):
            for v in lits:
                out.append([{c: (op, v)}])
            out.append([{c: (op, None)}])
        out.append([{c: ("isnull", None)}])
        out.append([{c: ("notnull", None)}])
        out.append([{c: [(">", lits[0]), ("!=", lits[1])]}])
    out += [
        [{"i": ("<", 5)}, {"s": ("=", "s3")}],
        [{"i": (">=", 10), "b": ("=", True)}, {"d": ("<", D(2024, 1, 4))}],
        [{"l": ("isnull", None)}, {"s": ("isnull", None), "i": (">", 2)}],
        [{"b": ("!=", False)}, {"b": ("isnull", None)}, {"d": ("=", None)}],
        [{}],
    ]
    return out


def test_mask_matches_spark_condition(spark):
    rows = _rows(0) + _rows(8)
    tbl = pa.Table.from_pylist(
        [dict(zip(COLS, r)) for r in rows],
        schema=pa.schema([("i", pa.int32()), ("l", pa.int64()), ("s", pa.string()),
                          ("b", pa.bool_()), ("d", pa.date32())]),
    )
    df = local_rows_df(
        spark,
        [(j, *r[:5]) for j, r in enumerate(rows)],
        "j int, i int, l long, s string, b boolean, d date",
    )
    cases = _cases()
    got = df.orderBy("j").select(*[
        F.coalesce(_branches_match_cond(b, lambda c: c), F.lit(False)).alias(f"m{k}")
        for k, b in enumerate(cases)
    ]).collect()
    for k, branches in enumerate(cases):
        mask = _branches_mask(branches, tbl)
        assert mask is not None, branches
        assert mask.to_pylist() == [r[k] for r in got], branches


def test_mask_declines_inexact_literals():
    tbl = pa.table({"i": pa.array([1, None], pa.int32()), "s": ["a", None],
                    "d": pa.array([D(2024, 1, 1), None], pa.date32())})
    for branches in (
        [{"i": ("<", 1.5)}],  # a float literal: Spark promotes to double
        [{"i": ("=", True)}],
        [{"i": ("=", "1")}],
        [{"s": ("=", 1)}],
        [{"d": ("=", "2024-01-01")}],
        [{"d": ("<", datetime.datetime(2024, 1, 1))}],
        [{"i": ("like", 1)}],
        [{"missing": ("=", 1)}],
    ):
        assert _branches_mask(branches, tbl) is None, branches


# -- the finish against Spark ------------------------------------------------


def _spark_ref(t, columns, aggs, branches):
    df = t.scan()
    if branches is not None:
        df = df.filter(F.coalesce(_branches_match_cond(branches, lambda c: c), F.lit(False)))
    exprs = []
    for fn, c, a in aggs:
        e = {
            "COUNT": lambda c: F.count(F.lit(1)) if c is None else F.count(c),
            "SUM": lambda c: F.sum(c),
            "AVG": lambda c: F.avg(c),
            "MIN": lambda c: F.min(c),
            "MAX": lambda c: F.max(c),
        }[fn](c)
        exprs.append(e.alias(a))
    out = df.groupBy(*columns).agg(*exprs)
    return sorted(map(tuple, out.collect()), key=repr)


AGGS = [
    ("COUNT", None, "n"), ("COUNT", "l", "nl"), ("SUM", "l", "sl"),
    ("SUM", "i", "si"), ("AVG", "l", "al"), ("MIN", "s", "mins"),
    ("MAX", "d", "maxd"), ("MIN", "b", "minb"), ("MAX", "i", "maxi"),
    ("SUM", "n", "sn"), ("MAX", "n", "maxn"),
]


@pytest.mark.parametrize("columns", [[], ["g"], ["g", "b"]])
@pytest.mark.parametrize("branches", [
    None,
    [{"l": (">=", 35), "i": ("<", 20)}],
    [{"s": ("=", "s1")}, {"d": ("<", D(2024, 1, 4))}],
    [{"i": (">", 1000)}],  # empty result
])
def test_agg_by_matches_spark_with_no_job(spark, table, finishes, columns, branches):
    j0 = _jobs(spark)
    got = sorted(map(tuple, table.agg_by(columns, AGGS, branches).collect()), key=repr)
    assert _jobs(spark) == j0
    assert finishes == [True]
    assert got == _spark_ref(table, columns, AGGS, branches)
    if not columns:
        assert len(got) == 1


@pytest.mark.parametrize("columns", [["g"], ["s", "d"]])
def test_count_rows_by_matches_spark_with_no_job(spark, table, finishes, columns):
    branches = [{"l": ("<", 120)}, {"b": ("isnull", None)}]
    j0 = _jobs(spark)
    got = sorted(map(tuple, table.count_rows_by(columns, branches).collect()), key=repr)
    assert _jobs(spark) == j0
    assert finishes == [True]
    assert got == _spark_ref(table, columns, [("COUNT", None, "cnt")], branches)


def test_lake_sql_folds_run_no_job(spark, cat, table, finishes):
    for sql in (
        "SELECT COUNT(*) AS n, SUM(l) AS s, MIN(s) AS lo, MAX(d) AS hi FROM db.t",
        "SELECT COUNT(*) AS n, SUM(i) AS s FROM db.t WHERE l BETWEEN 35 AND 170",
        "SELECT g, COUNT(*) AS n, MAX(l) AS hi FROM db.t WHERE i < 20 GROUP BY g",
    ):
        j0 = _jobs(spark)
        got = sorted(map(tuple, lake_sql(cat, sql).collect()), key=repr)
        assert _jobs(spark) == j0, sql
        table.to_view("t_ref")
        ref = sorted(map(tuple, spark.sql(sql.replace("db.t", "t_ref")).collect()), key=repr)
        assert got == ref, sql
    assert finishes and all(finishes)


# -- declines -----------------------------------------------------------------


def _check_decline(spark, t, finishes, columns, aggs, branches):
    got = sorted(map(tuple, t.agg_by(columns, aggs, branches).collect()), key=repr)
    assert finishes == [False]
    assert got == _spark_ref(t, columns, aggs, branches)


@pytest.mark.parametrize("ddl,col,rows", [
    ("k long, x double", "x", [(k, k / 4) for k in range(12)]),
    ("k long, x decimal(10,2)", "x", None),
    ("k long, x timestamp", "x", [
        (k, datetime.datetime(2024, 1, 1, k)) for k in range(12)]),
])
def test_other_types_decline(spark, cat, finishes, ddl, col, rows):
    import decimal

    if rows is None:
        rows = [(k, decimal.Decimal(k) / 4) for k in range(12)]
    t = _create(spark, cat, "db.x", ddl)
    t.append(local_rows_df(spark, rows[:6], ddl))
    t.append(local_rows_df(spark, rows[6:], ddl))
    t = cat.load_table("db.x")
    _check_decline(spark, t, finishes, [], [("COUNT", None, "n"), ("MIN", col, "lo")],
                   [{"k": (">=", 3)}])


def test_merge_on_read_deletes_take_spark(spark, cat, finishes):
    t = _create(spark, cat, "db.m", "k long, g string")
    t.append(local_rows_df(spark, [(k, f"g{k % 2}") for k in range(10)], "k long, g string"))
    t.delete_where({"k": ("=", 4)})  # merge-on-read: a delete manifest
    t = cat.load_table("db.m")
    got = sorted(map(tuple, t.agg_by("g", [("COUNT", None, "n")]).collect()))
    assert finishes == []  # answered by the exact scan before any fold
    assert got == [("g0", 4), ("g1", 5)]


def test_partitioned_table_declines(spark, cat, finishes):
    ddl = "k long, p string"
    t = _create(spark, cat, "db.p", ddl, partition_cols=["p"])
    t.append(local_rows_df(spark, [(k, f"p{k % 2}") for k in range(12)], ddl))
    t = cat.load_table("db.p")
    _check_decline(spark, t, finishes, ["p"], [("COUNT", None, "n"), ("SUM", "k", "s")],
                   [{"k": ("<", 7)}])


def test_boundary_over_the_bound_declines(spark, table, finishes, monkeypatch):
    monkeypatch.setattr(LakeTable, "DRIVER_FOLD_MAX_ROWS", 16)
    _check_decline(spark, table, finishes, ["g"], AGGS, [{"l": (">", 15)}])


def test_sum_outside_int64_declines(spark, cat, finishes):
    ddl = "k long, x long"
    big = (1 << 62) + 1
    t = _create(spark, cat, "db.big", ddl)
    t.append(local_rows_df(spark, [(k, big) for k in range(4)], ddl))
    t = cat.load_table("db.big")
    t.agg_by([], [("SUM", "x", "s")], [{"k": (">", 0)}]).collect()
    assert finishes == [False]


def test_boundary_files_of_mixed_nullability(spark, cat, finishes):
    """INSERT VALUES without NULLs writes REQUIRED columns, with a NULL
    OPTIONAL ones; one boundary may hold both kinds of file."""
    import pyarrow.parquet as pq

    _create(spark, cat, "db.nn", "k int, v string")
    lake_sql(cat, "INSERT INTO db.nn VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    lake_sql(cat, "INSERT INTO db.nn VALUES (4, 'c'), (5, NULL), (6, 'a')")
    t = cat.load_table("db.nn")
    files = [r["file_path"] for r in t.plan_files()]
    kinds = {tuple(f.nullable for f in pq.read_schema(p)) for p in files}
    assert len(kinds) == 2
    for columns in (["v"], []):
        got = sorted(map(tuple, t.agg_by(
            columns, [("COUNT", None, "n"), ("MAX", "k", "hi")], [{"k": (">", 1)}]
        ).collect()), key=repr)
        assert got == _spark_ref(
            t, columns, [("COUNT", None, "n"), ("MAX", "k", "hi")], [{"k": (">", 1)}]
        )
        got = sorted(map(tuple, t.count_rows_by(columns or ["v"]).collect()), key=repr)
        assert got == _spark_ref(t, columns or ["v"], [("COUNT", None, "cnt")], None)
    assert finishes and all(finishes)
