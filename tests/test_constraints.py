"""CHECK constraints (Delta-style, absent in Iceberg): every native
write path validates its batch at O(batch) cost, existing rows are
validated at ADD CONSTRAINT time, NULL satisfies (SQL semantics)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from icebergplus_spark.lake import LocalLakeCatalog
from icebergplus_spark.lake.table import ConstraintViolation

SCHEMA = StructType(
    [
        StructField("k", IntegerType(), True),
        StructField("lang", StringType(), True),
        StructField("score", DoubleType(), True),
    ]
)


@pytest.fixture
def table(spark, tmp_path):
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.c", SCHEMA)
    t.append(spark.createDataFrame([(1, "en", 0.5), (2, "de", 0.9)], SCHEMA))
    return t


def test_add_validates_existing_and_gates_writes(spark, table):
    t = table
    # adding a constraint current rows violate is refused
    with pytest.raises(ValueError, match="existing rows violate"):
        t.add_constraint("high_score", "score > 0.6")
    t.add_constraint("valid_score", "score >= 0 AND score <= 1")
    assert t.constraints == {"valid_score": "score >= 0 AND score <= 1"}

    # good batch lands; bad batch rejected BEFORE any commit
    t.append(spark.createDataFrame([(3, "fr", 1.0)], SCHEMA))
    n_snaps = len(t._meta["snapshots"])
    with pytest.raises(ConstraintViolation, match="valid_score"):
        t.append(spark.createDataFrame([(4, "es", 1.5)], SCHEMA))
    assert len(t.refresh()._meta["snapshots"]) == n_snaps  # nothing committed
    assert t.scan().count() == 3

    # NULL satisfies (SQL CHECK semantics)
    t.append(spark.createDataFrame([(5, "it", None)], SCHEMA))
    assert t.scan().count() == 4


def test_constraint_gates_update_merge_upsert(spark, table):
    t = table
    t.add_constraint("valid_score", "score <= 1")
    with pytest.raises(ConstraintViolation):
        t.update_where({"k": ("=", 1)}, {"score": F.lit(2.0)})
    with pytest.raises(ConstraintViolation):
        t.merge(spark.createDataFrame([(1, "en", 9.9)], SCHEMA), key="k")
    with pytest.raises(ConstraintViolation):
        t.upsert(spark.createDataFrame([(9, "pt", 7.0)], SCHEMA), "k")
    with pytest.raises(ConstraintViolation):
        t.merge_into(
            spark.createDataFrame([(1, "en", 5.0)], SCHEMA),
            on="k",
            when_matched_update={"score": F.col("src_score")},
        )
    # table unchanged by any of the rejected writes
    assert sorted((r["k"], r["score"]) for r in t.scan().collect()) == [
        (1, 0.5), (2, 0.9),
    ]
    # compliant versions of the same ops pass
    t.update_where({"k": ("=", 1)}, {"score": F.lit(0.7)})
    assert t.scan().filter("k = 1").first()["score"] == 0.7


def test_constraint_sql_ddl_and_drop(spark, tmp_path):
    from icebergplus_spark.lake.sql_dml import lake_sql

    cat = LocalLakeCatalog(spark, str(tmp_path / "wh2")).start()
    cat.create_table("db.s", SCHEMA)
    lake_sql(
        cat, "ALTER TABLE db.s ADD CONSTRAINT lang_ok CHECK (lang IN ('en','de'))"
    )
    with pytest.raises(ConstraintViolation, match="lang_ok"):
        lake_sql(cat, "INSERT INTO db.s VALUES (1, 'xx', 0.1)")
    lake_sql(cat, "INSERT INTO db.s VALUES (1, 'en', 0.1)")
    lake_sql(cat, "ALTER TABLE db.s DROP CONSTRAINT lang_ok")
    lake_sql(cat, "INSERT INTO db.s VALUES (2, 'xx', 0.2)")  # now allowed
    assert cat.load_table("db.s").scan().count() == 2


def test_required_columns_enforced_on_write(spark, tmp_path):
    """nullable=False schema fields are implicit NOT NULL constraints
    on every write (Iceberg required-field parity)."""
    req = StructType(
        [
            StructField("k", IntegerType(), False),
            StructField("s", StringType(), True),
        ]
    )
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh_req")).start()
    t = cat.create_table("db.req", req)
    t.append(spark.createDataFrame([(1, None)], req))  # nullable col: fine
    nullable_twin = StructType(
        [
            StructField("k", IntegerType(), True),
            StructField("s", StringType(), True),
        ]
    )
    with pytest.raises(ConstraintViolation, match="required column 'k'"):
        t.append(spark.createDataFrame([(None, "x")], nullable_twin))
    assert t.scan().count() == 1


def test_append_with_quarantine_routes_rows(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    from icebergplus_spark.lake import LocalLakeCatalog
    from icebergplus_spark.sources import load_table

    nation = load_table(spark, sf_dir, "nation")
    cat = LocalLakeCatalog(spark, str(tmp_path)).start()
    t = cat.create_table("db.nq", nation.schema)
    t.add_constraint("small_key", "n_nationkey < 20")
    t = t.refresh()
    quar = cat.create_table(
        "db.nq_quarantine",
        StructType(nation.schema.fields + [StructField("_violated", StringType())]),
    )
    report = t.append_with_quarantine(nation, quar)
    n_bad = nation.filter(F.col("n_nationkey") >= 20).count()
    assert report == {
        "appended": nation.count() - n_bad,
        "quarantined": n_bad,
    }
    # violated tags name the failing constraint
    tags = {r._violated for r in quar.refresh().scan().collect()}
    assert tags == {"small_key"}
    # main table holds exactly the compliant rows
    assert t.refresh().scan().filter(F.col("n_nationkey") >= 20).count() == 0
    # a fully-clean follow-up batch quarantines nothing
    clean = nation.filter(F.col("n_nationkey") < 3)
    report2 = t.append_with_quarantine(clean, quar)
    assert report2 == {"appended": 3, "quarantined": 0}


def test_validate_reports_without_writing(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as F

    from icebergplus_spark.lake import LocalLakeCatalog
    from icebergplus_spark.sources import load_table

    nation = load_table(spark, sf_dir, "nation")
    cat = LocalLakeCatalog(spark, str(tmp_path)).start()
    t = cat.create_table("db.nv", nation.schema)
    t.add_constraint("small_key", "n_nationkey < 20")
    t.add_constraint("named", "n_name IS NOT NULL")
    t = t.refresh()
    report = t.validate(nation)
    n_big = nation.filter(F.col("n_nationkey") >= 20).count()
    assert report == {"small_key": n_big}  # satisfied constraints omitted
    assert t.current_snapshot_id is None  # nothing written
    # a clean batch reports empty
    assert t.validate(nation.filter(F.col("n_nationkey") < 5)) == {}


def test_small_merge_into_constrained_table_runs_no_job(spark, tmp_path):
    """The constraint probe over a small MERGE's local rows is one
    filter + limit(1), which Spark answers from the local relation: a
    2-row upsert into a 2,500-row table with ``q >= 0`` runs no Spark
    job (an aggregate pass ran two), and a violating upsert is still
    refused."""
    from icebergplus_spark.lake.sql_dml import lake_sql
    from icebergplus_spark.localrel import local_rows_df

    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    ddl = "k long, q long"
    t = cat.create_table("db.m", local_rows_df(spark, [], ddl).schema)
    t.append(local_rows_df(spark, [(k, k % 7) for k in range(2500)], ddl))
    t.add_constraint("q_nonneg", "q >= 0")

    def upsert(q):
        lake_sql(cat, (
            "MERGE INTO db.m t USING (SELECT CAST(k AS BIGINT) AS k, "
            f"CAST(q AS BIGINT) AS q FROM VALUES (10, {q}), (5000, 1) AS v(k, q)) s "
            "ON t.k = s.k WHEN MATCHED THEN UPDATE SET q = s.q "
            "WHEN NOT MATCHED THEN INSERT *"
        ))

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    upsert(3)
    assert set(tracker.getJobIdsForGroup(None)) == before
    t = cat.load_table("db.m")
    assert sorted(tuple(r) for r in t.scan().filter("k IN (10, 5000)").collect()) == [
        (10, 3), (5000, 1)]
    with pytest.raises(ConstraintViolation, match="q_nonneg"):
        upsert(-1)
    assert cat.load_table("db.m").scan().count() == 2501


def test_constraint_probe_jobs_local_and_large(spark, tmp_path):
    """The write-time probe runs no job over a local relation, and over
    a large clean batch no more jobs than one aggregate pass: a
    filter + limit(1) that finds nothing scans a 64-partition batch in
    escalating jobs (1, 4, 16, 64 partitions)."""
    from icebergplus_spark.localrel import local_rows_df

    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.q", local_rows_df(spark, [], "q long").schema)
    t.add_constraint("q_nonneg", "q >= 0")
    tracker = spark.sparkContext.statusTracker()

    def jobs(action):
        before = set(tracker.getJobIdsForGroup(None))
        action()
        return len(set(tracker.getJobIdsForGroup(None)) - before)

    small = local_rows_df(spark, [(k,) for k in range(50)], "q long")
    assert jobs(lambda: t._enforce_constraints(small)) == 0

    big = spark.range(0, 64_000, numPartitions=64).selectExpr("id AS q")
    aggregate = jobs(lambda: big.agg(F.max((F.col("q") < 0).cast("int"))).first())
    assert jobs(lambda: t._enforce_constraints(big)) <= aggregate
    with pytest.raises(ConstraintViolation, match="q_nonneg"):
        t._enforce_constraints(big.selectExpr("q - 5 AS q"))
