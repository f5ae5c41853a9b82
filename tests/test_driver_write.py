"""The one data-file writer, ``LakeTable._write_frame``, and the one
rewrite input, ``LakeTable._rewrite_input``.

Small, unpartitioned, unsorted frames of scalar columns whose row count
the caller bounds before running anything (local-relation sources,
copy-on-write rewrites of small files) are pulled to the driver and
written as one pyarrow parquet file instead of a Spark write job. These
tests prove the driver path is INVISIBLE: scans, every harvested stat,
folds and commits equal what Spark's writer produces, and every gated
shape takes Spark's writer instead of writing something different. The
same holds for the read side: small rewrite inputs are read with pyarrow
on the driver and equal Spark's read, and every other input is read by
Spark.
"""

import datetime
import decimal
import json
import math
import os

import pandas as pd
import pytest

from icebergplus_spark.lake import LocalLakeCatalog
from icebergplus_spark.lake.sql_dml import lake_sql
from icebergplus_spark.localrel import local_rows_df
from icebergplus_spark.lake.manifest_list import snapshot_lists


@pytest.fixture()
def cat(spark, tmp_path):
    return LocalLakeCatalog(spark, str(tmp_path)).start()


def _jobs(spark):
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


def _spark_wrote(out_dir):
    """Spark's file committer leaves ``_SUCCESS``; the driver path never
    does."""
    return os.path.exists(os.path.join(out_dir, "_SUCCESS"))


def _driver_wrote_one_file(out_dir):
    names = os.listdir(out_dir)
    return len(names) == 1 and names[0].endswith(".parquet")


ALL_TYPES_DDL = (
    "b boolean, y tinyint, sh smallint, i int, l long, f float, d double, "
    "s string, bin binary, dt date, ts timestamp, tsn timestamp_ntz"
)

NAN = float("nan")

ALL_TYPES_ROWS = [
    (
        True, 127, 32767, 7, 7_000_000_000, 1.5, 2.25, "hello", b"\x01\x02",
        datetime.date(1996, 3, 1),
        datetime.datetime(1996, 3, 1, 12, 30, 45, 123456),
        datetime.datetime(1996, 3, 1, 12, 30, 45, 123456),
    ),
    (
        False, -128, -32768, -3, -1, -0.0, 0.0, "", b"",
        datetime.date(2001, 12, 31),
        datetime.datetime(2001, 12, 31, 23, 59, 59),
        datetime.datetime(2038, 1, 19, 3, 14, 8),
    ),
    (
        None, 0, 5, None, 0, 0.0, -0.0, "zz-top", b"\xff", None,
        datetime.datetime(1970, 1, 1, 0, 0, 0),
        None,
    ),
    (None, None, None, 2, None, -2.5, 1e300, None, None,
     datetime.date(1969, 12, 31), None, datetime.datetime(1900, 1, 1)),
    (None,) * 12,
]


ENTRY_STATS = (
    "record_count",
    "column_mins",
    "column_maxs",
    "column_null_counts",
    "column_nan_counts",
    "column_sums",
    "column_distincts",
    "column_blooms",
    "column_hlls",
)


def _canon_stat(v):
    """A stat value for comparison: JSON text decoded and re-encoded
    with sorted keys, so NaN compares equal to NaN."""
    if isinstance(v, str):
        v = json.loads(v)
    return json.dumps(v, sort_keys=True, default=str)


def _row_key(t):
    return tuple(
        (v is None, isinstance(v, float) and math.isnan(v), repr(v)) for v in t
    )


def _two_tables(spark, cat, ddl, name):
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(ddl)
    tables = []
    for side in ("fast", "slow"):
        t = cat.create_table(f"{name}.{side}", schema, bloom_cols=["s", "l"])
        t.set_property("write.stats.hll-columns", "s,i")
        tables.append(t)
    return schema, tables


@pytest.mark.parametrize("tz", ["UTC", "America/Los_Angeles"])
def test_stats_parity_whole_entry(spark, cat, tz):
    """The same rows through the driver path and through Spark's writer
    harvest the same entry, field for field: every accepted type, ±0.0
    doubles, nulls, empty strings and bytes, byte/short, date,
    ``timestamp`` under the given session time zone and
    ``timestamp_ntz``."""
    rows = ALL_TYPES_ROWS
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        schema, (fast, slow) = _two_tables(
            spark, cat, ALL_TYPES_DDL, f"p{tz.replace('/', '_').lower()}"
        )
        fast.append(local_rows_df(spark, rows, schema))
        slow.append(spark.createDataFrame(rows, schema).coalesce(1))
        ea, eb = fast.plan_files(), slow.plan_files()
        assert len(ea) == len(eb) == 1
        assert not _spark_wrote(os.path.dirname(ea[0]["file_path"]))
        assert _spark_wrote(os.path.dirname(eb[0]["file_path"]))
        for key in ENTRY_STATS:
            assert key in ea[0], key
            assert _canon_stat(ea[0].get(key)) == _canon_stat(eb[0].get(key)), key
        a = sorted(map(tuple, fast.scan().collect()), key=_row_key)
        b = sorted(map(tuple, slow.scan().collect()), key=_row_key)
        assert [_row_key(r) for r in a] == [_row_key(r) for r in b]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_driver_write_taken_and_equals_spark_write(spark, cat):
    """Same rows through both writers: identical scan results, identical
    harvested footer stats (min/max/null counts), and the driver path
    really produced exactly one file without a Spark job."""
    from pyspark.sql.types import _parse_datatype_string

    ddl = (
        "b boolean, i int, l long, f float, d double, s string, "
        "bin binary, dt date, ts timestamp"
    )
    rows = [
        (
            True, 7, 7_000_000_000, 1.5, 2.25, "hello", b"\x01\x02",
            datetime.date(1996, 3, 1),
            datetime.datetime(1996, 3, 1, 12, 30, 45, 123456),
        ),
        (
            False, -3, -1, -0.5, -9.75, "zz-top", b"\xff",
            datetime.date(2001, 12, 31),
            datetime.datetime(2001, 12, 31, 23, 59, 59),
        ),
        (None,) * 9,
    ]
    schema = _parse_datatype_string(ddl)
    t_fast = cat.create_table("t.fast", schema)
    t_slow = cat.create_table("t.slow", schema)

    df_local = local_rows_df(spark, rows, schema)
    probe = os.path.join(t_fast.table_dir, "data", "probe")
    before = _jobs(spark)
    t_fast._write_frame(df_local, probe, [], 3)
    assert _jobs(spark) == before  # a local relation: no job at all
    assert _driver_wrote_one_file(probe)  # the gate accepts this shape
    t_fast.append(df_local)

    # Spark-writer control: same rows, not a local relation
    df_spark = spark.createDataFrame(rows, schema).coalesce(1)
    t_slow.append(df_spark)

    a = sorted(map(tuple, t_fast.scan().collect()), key=_row_key)
    b = sorted(map(tuple, t_slow.scan().collect()), key=_row_key)
    assert a == b == sorted(map(tuple, rows), key=_row_key)

    # exactly one driver-written file
    fa = t_fast.snapshot()
    assert fa["summary"]["added-data-files"] == 1

    # footer-harvest equality: the stats every fold/prune tier reads
    ea = t_fast.plan_files()
    eb = t_slow.plan_files()
    assert len(ea) == len(eb) == 1
    for key in ("column_mins", "column_maxs", "column_null_counts"):
        assert json.loads(ea[0].get(key) or "{}") == json.loads(
            eb[0].get(key) or "{}"
        ), key
    assert ea[0]["record_count"] == eb[0]["record_count"] == 3


def test_fold_reads_driver_written_stats(spark, cat):
    """MAX/COUNT folds answer from a driver-written file's footer stats
    exactly as from a Spark-written one."""
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string("wm timestamp")
    t = cat.create_table("t.cp", schema)
    rows = [
        (datetime.datetime(2024, 1, 5, 0, 0, 0),),
        (datetime.datetime(2024, 3, 7, 8, 9, 10),),
    ]
    t.append(local_rows_df(spark, rows, schema))
    got = lake_sql(cat, "SELECT MAX(wm) AS m, COUNT(*) AS n FROM t.cp").collect()
    assert got[0]["m"] == datetime.datetime(2024, 3, 7, 8, 9, 10)
    assert got[0]["n"] == 2


def test_insert_select_fold_roundtrip(spark, cat):
    """The w06/w07 shape end-to-end: INSERT INTO ... SELECT MAX(fold)
    then read the watermark back — through lake_sql only."""
    from pyspark.sql import functions as F

    from icebergplus_spark.sources import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    t = cat.create_table("t.ord", orders.schema)
    t.append(orders)
    cat.create_table(
        "t.cp2", orders.select(F.col("o_orderdate").alias("wm")).limit(0).schema
    )
    lake_sql(cat, "INSERT INTO t.cp2 SELECT MAX(o_orderdate) AS wm FROM t.ord")
    expect = orders.agg(F.max("o_orderdate")).first()[0]
    got = lake_sql(cat, "SELECT MAX(wm) FROM t.cp2").first()[0]
    assert got == expect


# -- the copy-on-write statements of a small file ---------------------------

FACT_DDL = "k bigint, g int, q bigint, note string"
CASTS = "CAST(k AS BIGINT) AS k, CAST(g AS INT) AS g, CAST(q AS BIGINT) AS q, note"


def _values(rows):
    return ", ".join(f"({k}, {g}, {q}, '{n}')" for k, g, q, n in rows)


def _fact(spark, cat, name):
    """One 8-row file written by Spark, and its pandas model."""
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(FACT_DDL)
    rows = [(k, k % 3, 10 * k, f"n{k}") for k in range(0, 16, 2)]
    t = cat.create_table(name, schema)
    t.append(spark.createDataFrame(rows, schema).coalesce(1))
    return pd.DataFrame(rows, columns=["k", "g", "q", "note"])


def _paths(cat, name):
    return {f["file_path"] for f in cat.load_table(name).plan_files()}


def _run_one_driver_file(cat, name, sql, model):
    """Run ``sql``; it must commit exactly one new data file, alone in a
    directory with no ``_SUCCESS`` or ``_temporary``, and leave the
    table equal to ``model``. Returns the Spark jobs the statement ran."""
    spark = cat.spark
    before = _paths(cat, name)
    jobs0 = _jobs(spark)
    lake_sql(cat, sql)
    jobs = _jobs(spark) - jobs0
    t = cat.load_table(name)
    assert t.snapshot()["summary"]["added-data-files"] == 1
    (new,) = _paths(cat, name) - before
    assert _driver_wrote_one_file(os.path.dirname(new)), os.listdir(
        os.path.dirname(new)
    )
    got = sorted(tuple(r) for r in t.scan().select("k", "g", "q", "note").collect())
    want = sorted(
        (int(k), int(g), int(q), n) for k, g, q, n in model.itertuples(index=False)
    )
    assert got == want
    return jobs


def test_cow_statements_on_small_file_write_one_driver_file(spark, cat):
    """A copy-on-write DELETE, UPDATE and MERGE of one small file, and an
    ``INSERT … VALUES``, each commit exactly one driver-written data
    file, and the scans equal the pandas model."""
    name = "db.fact"
    model = _fact(spark, cat, name)

    model = model[~model.k.isin([2, 6])]
    _run_one_driver_file(cat, name, f"DELETE FROM {name} WHERE k IN (2, 6)", model)

    model = model.assign(
        q=[q + 7 if 4 <= k <= 10 else q for k, q in zip(model.k, model.q)]
    )
    _run_one_driver_file(
        cat, name, f"UPDATE {name} SET q = q + 7 WHERE k BETWEEN 4 AND 10", model
    )

    src = [(4, 1, 999, "n4"), (5, 2, 55, "n5")]
    model = model.assign(q=[999 if k == 4 else q for k, q in zip(model.k, model.q)])
    model = pd.concat(
        [model, pd.DataFrame([src[1]], columns=["k", "g", "q", "note"])]
    )
    _run_one_driver_file(
        cat,
        name,
        f"MERGE INTO {name} t USING (SELECT {CASTS} FROM VALUES {_values(src)} "
        f"AS v(k, g, q, note)) s ON t.k = s.k "
        f"WHEN MATCHED THEN UPDATE SET q = s.q WHEN NOT MATCHED THEN INSERT *",
        model,
    )

    ins = [(100, 1, 1, "n100"), (101, 2, 2, "n101"), (102, 0, 3, "n102")]
    model = pd.concat([model, pd.DataFrame(ins, columns=["k", "g", "q", "note"])])
    _run_one_driver_file(
        cat,
        name,
        f"INSERT INTO {name} SELECT {CASTS} FROM VALUES {_values(ins)} "
        f"AS v(k, g, q, note)",
        model,
    )


def test_insert_values_runs_no_spark_job(spark, cat):
    name = "db.ins"
    model = _fact(spark, cat, name)
    ins = [(200, 1, 1, "n200"), (201, 2, 2, "n201")]
    model = pd.concat([model, pd.DataFrame(ins, columns=["k", "g", "q", "note"])])
    jobs = _run_one_driver_file(
        cat,
        name,
        f"INSERT INTO {name} SELECT {CASTS} FROM VALUES {_values(ins)} "
        f"AS v(k, g, q, note)",
        model,
    )
    assert jobs == 0


# -- declines ---------------------------------------------------------------


def test_declines_to_spark_path(spark, cat, tmp_path):
    """Every gate takes Spark's writer: partitioned output, a declared
    sort order, decimal, nested types, a >256-byte string, a NaN float,
    a bound above 4,096 rows and an unknown bound."""
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string("k int, s string")
    rows = [(1, "a"), (2, "b")]
    df = local_rows_df(spark, rows, schema)
    n = iter(range(100))

    def out():
        return str(tmp_path / f"out{next(n)}")

    part = cat.create_table("t.p", schema, partition_cols=["k"])
    d = out()
    part._write_frame(df, d, ["k"], 2)
    assert _spark_wrote(d)

    t = cat.create_table("t.g", schema)
    t.set_property("write.sort-order", "k")
    d = out()
    t._write_frame(df, d, [], 2)
    assert _spark_wrote(d)
    t.set_property("write.sort-order", "")
    d = out()
    t._write_frame(df, d, [], 2)
    assert not _spark_wrote(d) and _driver_wrote_one_file(d)  # the control

    long_s = local_rows_df(spark, [(1, "x" * 300)], schema)
    d = out()
    t._write_frame(long_s, d, [], 1)
    assert _spark_wrote(d)

    # parquet-mr records a NaN as the column max, parquet-cpp skips it
    for ddl in ("k int, x double", "k int, x float"):
        fs = _parse_datatype_string(ddl)
        d = out()
        t._write_frame(local_rows_df(spark, [(1, 1.0), (2, NAN)], fs), d, [], 2)
        assert _spark_wrote(d), ddl

    many = local_rows_df(spark, [(i, "v") for i in range(5000)], schema)
    d = out()
    t._write_frame(many, d, [], 5000)
    assert _spark_wrote(d)
    d = out()
    t._write_frame(df, d, [], t.DRIVER_WRITE_MAX_ROWS + 1)
    assert _spark_wrote(d)
    d = out()
    t._write_frame(df, d, [], None)
    assert _spark_wrote(d)

    nested = _parse_datatype_string("k int, s array<int>")
    tn = cat.create_table("t.n", nested)
    d = out()
    tn._write_frame(local_rows_df(spark, [(1, [1, 2])], nested), d, [], 1)
    assert _spark_wrote(d)

    # decimal declines: parquet-cpp/mr footer-stat parity (see impl)
    dec = _parse_datatype_string("k int, d decimal(12,3)")
    td = cat.create_table("t.dec", dec)
    d = out()
    td._write_frame(
        local_rows_df(spark, [(1, decimal.Decimal("1.5"))], dec), d, [], 1
    )
    assert _spark_wrote(d)


def test_timestamps_in_dst_process_pull_with_arrow(spark, cat, tmp_path, monkeypatch):
    """collect() returns TIMESTAMP values as naive local datetimes, which
    a DST-observing process cannot always map back to one instant: there
    a local frame with a TIMESTAMP column is pulled with toArrow() (one
    job) and still written on the driver, with the same instants."""
    import time

    import pyarrow.parquet as pq
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string("k int, ts timestamp")
    t = cat.create_table("t.ts", schema)
    rows = [(1, datetime.datetime(2024, 11, 3, 1, 30)), (2, None)]
    df = local_rows_df(spark, rows, schema)
    d_utc, d_dst = str(tmp_path / "utc"), str(tmp_path / "dst")
    before = _jobs(spark)
    t._write_frame(df, d_utc, [], 2)
    assert _jobs(spark) == before
    monkeypatch.setattr(time, "daylight", 1)
    t._write_frame(df, d_dst, [], 2)
    assert _jobs(spark) == before + 1
    assert _driver_wrote_one_file(d_utc) and _driver_wrote_one_file(d_dst)
    a, b = (pq.read_table(os.path.join(d, os.listdir(d)[0])) for d in (d_utc, d_dst))
    assert a.equals(b)


def test_coerced_local_batch_writes_declared_types(spark, cat):
    """A local batch whose types differ from the table's is cast before
    the writer sees it: the driver-written file carries the declared
    physical types, and the rows read back unchanged."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string("k int, s string")
    t = cat.create_table("t.c", schema)
    wide = _parse_datatype_string("k long, s string")
    t.append(local_rows_df(spark, [(1, "a"), (2, "b")], wide))
    (entry,) = t.plan_files()
    assert not _spark_wrote(os.path.dirname(entry["file_path"]))
    assert str(pq.read_schema(entry["file_path"]).field("k").type) == "int32"
    assert sorted(map(tuple, t.scan().collect())) == [(1, "a"), (2, "b")]


def test_merge_with_non_local_source_takes_spark_writer(spark, cat):
    """A MERGE whose source is a table scan has no row bound before it
    runs: its rewrite takes Spark's writer."""
    name = "db.m"
    model = _fact(spark, cat, name)
    from pyspark.sql.types import _parse_datatype_string

    src_t = cat.create_table("db.src", _parse_datatype_string(FACT_DDL))
    src_t.append(
        spark.createDataFrame([(4, 1, 77, "n4")], FACT_DDL).coalesce(1)
    )
    lake_sql(
        cat,
        f"MERGE INTO {name} t USING db.src s ON t.k = s.k "
        f"WHEN MATCHED THEN UPDATE SET q = s.q WHEN NOT MATCHED THEN INSERT *",
    )
    t = cat.load_table(name)
    dirs = {os.path.dirname(f["file_path"]) for f in t.plan_files()}
    assert len(dirs) == 1 and _spark_wrote(dirs.pop())
    model = model.assign(q=[77 if k == 4 else q for k, q in zip(model.k, model.q)])
    got = sorted(tuple(r) for r in t.scan().select("k", "g", "q", "note").collect())
    assert got == sorted(
        (int(k), int(g), int(q), n) for k, g, q, n in model.itertuples(index=False)
    )


def test_declined_append_still_correct(spark, cat):
    """A declined local frame (long strings) still appends correctly via
    the Spark path."""
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string("k int, s string")
    t = cat.create_table("t.d", schema)
    rows = [(1, "y" * 400), (2, "z")]
    t.append(local_rows_df(spark, rows, schema))
    got = sorted(map(tuple, t.scan().collect()))
    assert got == sorted(rows)


def test_empty_local_append_commits_no_files(spark, cat):
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string("k int, s string")
    t = cat.create_table("t.e", schema)
    t.append(local_rows_df(spark, [], schema))
    assert t.scan().count() == 0
    assert t.snapshot()["summary"]["added-data-files"] == 0


def test_constraint_violation_message_and_pass(spark, cat):
    """The fused one-action constraint check keeps exact behavior: clean
    batches pass, violating batches raise with the same message shape
    (constraint name, expression, example row)."""
    from pyspark.sql.types import _parse_datatype_string

    from icebergplus_spark.lake.table import ConstraintViolation

    schema = _parse_datatype_string("k int, v int")
    t = cat.create_table("t.c", schema)
    t.add_constraint("v_pos", "v > 0")
    t.append(local_rows_df(spark, [(1, 5), (2, 6)], schema))
    assert t.scan().count() == 2
    with pytest.raises(ConstraintViolation) as ei:
        t.append(local_rows_df(spark, [(3, 7), (4, -1)], schema))
    msg = str(ei.value)
    assert "v_pos" in msg and "v > 0" in msg and "example" not in msg
    assert "'k': 4" in msg or "k=4" in msg or "-1" in msg


# -- rewrite inputs: small files read on the driver ---------------------------

RW_DDL = "id int, " + ALL_TYPES_DDL
RW_ROWS = [(n, *r) for n, r in enumerate(ALL_TYPES_ROWS)] + [
    (
        len(ALL_TYPES_ROWS), True, 1, 1, 1, 1, NAN, NAN, "nan", b"n",
        datetime.date(2020, 1, 1),
        datetime.datetime(2020, 1, 1, 6, 0, 0),
        datetime.datetime(2020, 1, 1, 6, 0, 0),
    )
]


def _rows(df):
    return sorted((_row_key(tuple(r)) for r in df.collect()))


def _entries_by_content(t):
    return sorted(
        (
            tuple(_canon_stat(e.get(k)) for k in ENTRY_STATS)
            for e in t.plan_files()
        )
    )


@pytest.mark.parametrize("tz", ["UTC", "America/Los_Angeles"])
def test_rewrite_input_local_read_equals_spark_read(spark, cat, tz):
    """``_rewrite_input``'s driver read of small files equals Spark's read
    of the same entries, frame for frame (with and without
    ``__file``/``__pos``), and rewrites fed by either read commit the same
    entries and the same ``scan_with_lineage`` rows: every accepted
    type, nulls, NaN, ±0.0, empty string and bytes, ``timestamp`` under
    the given session time zone and ``timestamp_ntz``, files written on
    the driver and by Spark, and materialized-lineage files whose NULL
    cells inherit."""
    from pyspark.sql.types import _parse_datatype_string

    from icebergplus_spark.localrel import local_relation_rows

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        schema, (fast, slow) = _two_tables(
            spark, cat, RW_DDL, f"rw{tz.replace('/', '_').lower()}"
        )
        slow._read_small = lambda *a, **kw: None  # Spark reads every input
        for t in (fast, slow):
            t.append(local_rows_df(spark, RW_ROWS[:3], schema))
            t.append(spark.createDataFrame(RW_ROWS[3:], schema).coalesce(1))

        def same_reads():
            snap, entries = fast.snapshot(), fast.plan_files()
            paths = sorted(e["file_path"] for e in entries)
            for keep_meta in (False, True):
                local = fast._rewrite_input(snap, entries, keep_meta)
                assert local_relation_rows(local) == sum(
                    e["record_count"] for e in entries
                )
                ref = fast._lineage_frame(snap, paths, keep_meta)
                # _lineage_frame's column order depends on its file mix
                ref = ref.select(*local.columns)
                assert local.schema == ref.schema, keep_meta
                assert _rows(local) == _rows(ref), keep_meta

        def same_tables():
            assert _entries_by_content(fast) == _entries_by_content(slow)
            assert _rows(fast.scan_with_lineage()) == _rows(slow.scan_with_lineage())

        same_reads()
        for t in (fast, slow):
            t.update_where({"id": ("<=", 1)}, {"s": "upd", "d": -0.0})
        same_tables()
        for t in (fast, slow):
            t.delete({"id": ("=", 4)})
        same_tables()
        # the updated file carries materialized lineage with NULL births
        same_reads()
        for t in (fast, slow):
            t.delete({"id": ("=", 2)})
            t.merge(
                local_rows_df(
                    spark, [(0, *RW_ROWS[3][1:]), (40, *RW_ROWS[1][1:])], schema
                ),
                key="id",
            )
        same_tables()
        same_reads()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_cow_delete_and_update_of_small_file_run_no_spark_job(spark, cat):
    """A copy-on-write DELETE and UPDATE of one small file read it on the
    driver and write it on the driver: no Spark job at all."""
    name = "db.nojob"
    model = _fact(spark, cat, name)
    model = model[~model.k.isin([2, 6])]
    jobs = _run_one_driver_file(
        cat, name, f"DELETE FROM {name} WHERE k IN (2, 6)", model
    )
    assert jobs == 0
    model = model.assign(
        q=[q + 7 if 4 <= k <= 10 else q for k, q in zip(model.k, model.q)]
    )
    jobs = _run_one_driver_file(
        cat, name, f"UPDATE {name} SET q = q + 7 WHERE k BETWEEN 4 AND 10", model
    )
    assert jobs == 0


def _declines_then_deletes(t, model, key=2):
    """``t``'s rewrite input is read by Spark; a DELETE of ``key`` leaves
    the table equal to ``model`` without that key."""
    snap = t.snapshot()
    assert t._read_small(snap, t.plan_files(), False) is None
    assert t._read_small(snap, t.plan_files(), True) is None
    t.delete({"k": ("=", key)})
    want = model[model.k != key]
    cols = list(want.columns)
    got = sorted(tuple(r) for r in t.scan().select(*cols).collect())
    assert got == sorted(tuple(r) for r in want.itertuples(index=False))


def test_rewrite_input_declines_to_spark_read(spark, cat, tmp_path):
    """Each input the driver read cannot take is read by Spark, with
    results equal to the pandas model: a bound over 4,096 rows, a
    partitioned table, merge-on-read deletes, column defaults, a file
    missing a column added later, files whose Arrow types differ from
    Spark's (``large_string``, millisecond timestamps) and a column whose
    name differs only in case."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string("k bigint, s string")
    rows = [(k, f"s{k}") for k in range(8)]
    model = pd.DataFrame(rows, columns=["k", "s"])

    def table(name, **kw):
        t = cat.create_table(name, schema, **kw)
        t.append(spark.createDataFrame(rows, schema).coalesce(1))
        return t

    control = table("d.control")
    assert control._read_small(control.snapshot(), control.plan_files(), True)

    big_rows = [(k, "b") for k in range(control.DRIVER_WRITE_MAX_ROWS + 1)]
    big = cat.create_table("d.big", schema)
    big.append(spark.createDataFrame(big_rows, schema).coalesce(1))
    _declines_then_deletes(big, pd.DataFrame(big_rows, columns=["k", "s"]))

    _declines_then_deletes(table("d.part", partition_cols=["s"]), model)

    mor = table("d.mor")
    mor.set_property("write.delete.mode", "merge-on-read")
    mor.delete({"k": ("=", 5)})
    mor.set_property("write.delete.mode", "copy-on-write")
    assert snapshot_lists(mor._meta_dir, mor.snapshot()).delete_manifests
    _declines_then_deletes(mor, model[model.k != 5])

    dflt = table("d.dflt")
    dflt.add_column("c", "int", default=9)
    _declines_then_deletes(dflt, model.assign(c=9))

    added = table("d.added")
    added.add_column("c", "int")
    _declines_then_deletes(added, model.assign(c=None))

    for name, arrow in (
        ("d.large", pa.table({
            "k": pa.array(range(8), pa.int64()),
            "s": pa.array([f"s{k}" for k in range(8)], pa.large_string()),
        })),
        ("d.ms", pa.table({
            "k": pa.array(range(8), pa.int64()),
            "s": pa.array([f"s{k}" for k in range(8)]),
            "ts": pa.array(
                [k * 1000 for k in range(8)], pa.timestamp("ms", tz="UTC")
            ),
        })),
        ("d.case", pa.table({
            "K": pa.array(range(8), pa.int64()),
            "s": pa.array([f"s{k}" for k in range(8)]),
        })),
    ):
        ddl = "k bigint, s string" + (", ts timestamp" if "ts" in arrow.column_names else "")
        t = cat.create_table(name, _parse_datatype_string(ddl))
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(arrow, path)
        t.add_files([path])
        _declines_then_deletes(t, model)
