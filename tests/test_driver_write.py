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


def test_cow_merge_of_small_file_runs_no_spark_job(spark, cat):
    """A copy-on-write MERGE upsert of one small file pairs its rows on
    the driver and writes on the driver: no Spark job at all."""
    name = "db.nojobmerge"
    model = _fact(spark, cat, name)
    src = [(4, 1, 999, "n4"), (5, 2, 55, "n5")]
    model = model.assign(q=[999 if k == 4 else q for k, q in zip(model.k, model.q)])
    model = pd.concat(
        [model, pd.DataFrame([src[1]], columns=["k", "g", "q", "note"])]
    )
    jobs = _run_one_driver_file(
        cat,
        name,
        f"MERGE INTO {name} t USING (SELECT {CASTS} FROM VALUES {_values(src)} "
        f"AS v(k, g, q, note)) s ON t.k = s.k "
        f"WHEN MATCHED THEN UPDATE SET q = s.q WHEN NOT MATCHED THEN INSERT *",
        model,
    )
    assert jobs == 0


# -- MERGE paired on the driver vs the Spark join ---------------------------


def _lineage_by_row(t):
    """{row content → (_row_id, _last_updated_snapshot_id)}: two tables
    with equal maps hold equal rows, as the test data keeps every row's
    content unique."""
    rows = t.scan_with_lineage().collect()
    out = {
        _row_key(tuple(r)[:-2]): (r["_row_id"], r["_last_updated_snapshot_id"])
        for r in rows
    }
    assert len(out) == len(rows)
    return out


def _merge_both_ways(spark, cat, name, ddl, files, rounds, on, clauses,
                     src_ddl=None, prep=None):
    """Create twin tables holding ``files`` (one data file each, after
    ``prep``), then run each round's MERGE on both: on one with the
    round's rows as a local relation, which may pair on the driver, and
    on the other with the same rows as a non-local source, which takes
    the Spark join. After each round the tables must be equal, and each
    output row must carry the row id of the same pre-MERGE row on both
    (or be an insert on both) and the same ``_last_updated_snapshot_id``.
    Inserted rows take their ids from their position in the written
    file, which the Spark join leaves in shuffle order, so only their
    freshness is compared. Returns, per round, whether the local side
    paired on the driver."""
    from pyspark.sql.types import _parse_datatype_string

    from icebergplus_spark.localrel import local_relation_rows

    schema = _parse_datatype_string(ddl)
    src_schema = _parse_datatype_string(src_ddl or ddl)
    local, remote = (cat.create_table(f"{name}.{s}", schema) for s in ("l", "r"))
    paired: dict = {"l": [], "r": []}
    for side, t in (("l", local), ("r", remote)):
        for rows in files:
            t.append(local_rows_df(spark, rows, schema))
        if prep:
            prep(t)
        orig = t._merge_pairs

        def spy(*a, _orig=orig, _log=paired[side], **kw):
            out = _orig(*a, **kw)
            _log.append(out is not None)
            return out

        t._merge_pairs = spy
    lineage = [_lineage_by_row(t) for t in (local, remote)]
    assert lineage[0] == lineage[1]
    fired = []
    for rows in rounds:
        before = [{v[0]: k for k, v in m.items()} for m in lineage]
        src = local_rows_df(spark, rows, src_schema)
        far = local_rows_df(spark, rows, src_schema).repartition(2)
        assert local_relation_rows(far) is None
        n_pairs = len(paired["l"])
        local.merge_into(src, on=on, **clauses())
        remote.merge_into(far, on=on, **clauses())
        fired.append(any(paired["l"][n_pairs:]))
        lineage = [_lineage_by_row(t) for t in (local, remote)]
        assert lineage[0].keys() == lineage[1].keys()
        for row, (id_l, upd_l) in lineage[0].items():
            id_r, upd_r = lineage[1][row]
            assert upd_l == upd_r, row
            assert before[0].get(id_l) == before[1].get(id_r), row
    assert not any(paired["r"])
    return fired


KV_DDL = "k bigint, v bigint, note string"
KV_FILES = [
    [(k, 10 * k, f"n{k}") for k in range(0, 16, 2)] + [(None, 999, "null")],
    [(k, 10 * k, f"n{k}") for k in range(100, 108, 2)],
]
# matches 2 and 6; 3, 9 and the NULL key insert (a NULL key matches
# nothing, on either side); then 3 (inserted above) and 4 match
KV_ROUNDS = [
    [(2, 1, "s2"), (3, 2, "s3"), (6, 300, "s6"), (None, 4, "snull"), (9, 5, "s9")],
    [(3, 70, "r3"), (4, 8, "r4"), (5, 90, "r5")],
]


def _clauses(kind):
    from pyspark.sql import functions as F

    upd = {"v": F.col("v") + F.col("src_v"), "note": F.col("src_note")}
    return {
        "update_reads_source": lambda: dict(when_matched_update=upd),
        "matched_delete": lambda: dict(when_matched_delete=True),
        "matched_and": lambda: dict(
            when_matched_update=upd, matched_condition=F.col("src_v") > 50
        ),
        "not_matched_and": lambda: dict(
            when_matched_update=upd,
            not_matched_insert_condition=F.col("src_v") % 2 == 0,
        ),
        "insert_off": lambda: dict(
            when_matched_update=upd, when_not_matched_insert=False
        ),
        "by_source": lambda: dict(
            when_matched_update=upd, when_not_matched_by_source_delete=True
        ),
    }[kind]


@pytest.mark.parametrize(
    "kind",
    ["update_reads_source", "matched_delete", "matched_and", "not_matched_and",
     "insert_off"],
)
def test_merge_pairs_on_driver_equal_spark_join(spark, cat, kind):
    """Each clause shape gives the same table and the same row lineage
    whether the MERGE pairs its rows on the driver or in a Spark join;
    the target and the source both hold a NULL key. The second round of
    the first shape merges into files with materialized lineage."""
    rounds = KV_ROUNDS if kind == "update_reads_source" else KV_ROUNDS[:1]
    fired = _merge_both_ways(
        spark, cat, f"pair_{kind}", KV_DDL, KV_FILES, rounds, "k", _clauses(kind)
    )
    assert fired == [True] * len(rounds)


def _keyed(convert, ddl):
    """``KV_FILES``/``KV_ROUNDS`` with their keys mapped by ``convert``."""
    def conv(rows):
        return [(None if k is None else convert(k), v, n) for k, v, n in rows]
    return ddl, [conv(f) for f in KV_FILES], [conv(r) for r in KV_ROUNDS]


@pytest.mark.parametrize(
    "key,paired",
    [
        ("string", True),
        ("date", True),
        # a decimal column is read and written by Spark (_driver_sized),
        # so its MERGE takes the Spark join on both sides
        ("decimal", False),
        ("two_columns", True),
    ],
)
def test_merge_pairs_on_driver_per_key_type(spark, cat, key, paired):
    """String, date, decimal and two-column keys give the same table and
    lineage on both paths."""
    on = "k"
    if key == "string":
        ddl, files, rounds = _keyed(lambda k: f"s{k:03d}", "k string, v bigint, note string")
    elif key == "date":
        ddl, files, rounds = _keyed(
            lambda k: datetime.date(2020, 1, 1) + datetime.timedelta(days=k),
            "k date, v bigint, note string",
        )
    elif key == "decimal":
        ddl, files, rounds = _keyed(
            lambda k: decimal.Decimal(k) / 4, "k decimal(10,2), v bigint, note string"
        )
    else:
        on = ["k", "note"]
        ddl, files = KV_DDL, KV_FILES
        # (2, "n2") matches; (6, "x") and (None, "null") do not
        rounds = [[(2, 1, "n2"), (6, 2, "x"), (None, 3, "null"), (3, 4, "n3")]]
    fired = _merge_both_ways(
        spark, cat, f"keytype_{key}", ddl, files, rounds[:1], on,
        _clauses("update_reads_source"),
    )
    assert fired == [paired]


def _mor_delete(t):
    t.set_property("write.delete.mode", "merge-on-read")
    t.delete({"k": ("=", 0)})
    t.set_property("write.delete.mode", "copy-on-write")


@pytest.mark.parametrize(
    "case",
    ["duplicate_source_key", "double_key", "key_type_mismatch",
     "over_4096_rows", "delete_manifests", "by_source"],
)
def test_merge_declines_to_spark_join(spark, cat, case):
    """Each input the driver pairing does not take runs the Spark join,
    with the same result as a non-local source: a duplicate source key,
    a double key, a source key type unequal to the target's, more than
    4,096 affected plus source rows, merge-on-read deletes and a BY
    SOURCE clause."""
    ddl, files, rounds = KV_DDL, KV_FILES, KV_ROUNDS[:1]
    src_ddl, prep, kind = None, None, "update_reads_source"
    if case == "duplicate_source_key":
        rounds = [[(2, 1, "a"), (2, 3, "b"), (5, 7, "c")]]
    elif case == "double_key":
        ddl, files, rounds = _keyed(float, "k double, v bigint, note string")
    elif case == "key_type_mismatch":
        src_ddl = "k int, v bigint, note string"
    elif case == "over_4096_rows":
        # 4,091 keyed rows, the NULL-key row and 5 source rows
        n = 4097 - 1 - len(rounds[0])
        files = [[(k, k, "n") for k in range(0, 2 * n, 2)] + [(None, -1, "null")]]
    elif case == "delete_manifests":
        prep = _mor_delete
    else:
        kind = "by_source"
    fired = _merge_both_ways(
        spark, cat, f"decline_{case}", ddl, files, rounds[:1], "k", _clauses(kind),
        src_ddl=src_ddl, prep=prep,
    )
    assert fired == [False]
