"""Row lineage (scan_with_lineage): stable unique _row_id derived from
committed metadata (no allocation step, no writer race) plus the birth
snapshot, with the documented stability contract."""

import pyspark.sql.functions as F
import pytest

from icebergplus_spark.lake import LocalLakeCatalog
from icebergplus_spark.sources import load_table


@pytest.fixture()
def table(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    cat = LocalLakeCatalog(spark, str(tmp_path)).start()
    t = cat.create_table("db.n", nation.schema)
    return t, nation


def _ids(df):
    return {r.n_nationkey: r._row_id for r in df.collect()}


def test_row_ids_dense_unique(table):
    t, nation = table
    t = t.append(nation)
    out = t.scan_with_lineage()
    n = nation.count()
    stats = out.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("_row_id").alias("ids"),
        F.min("_row_id").alias("lo"),
        F.max("_row_id").alias("hi"),
    ).collect()[0]
    assert (stats.rows, stats.ids, stats.lo, stats.hi) == (n, n, 0, n - 1)
    assert out.filter(
        F.col("_last_updated_snapshot_id") != t.current_snapshot_id
    ).count() == 0


def test_row_ids_stable_across_appends(table):
    t, nation = table
    t = t.append(nation.filter(F.col("n_nationkey") < 10))
    before = _ids(t.scan_with_lineage())
    t = t.append(nation.filter(F.col("n_nationkey") >= 10))
    after = _ids(t.scan_with_lineage())
    for k, rid in before.items():
        assert after[k] == rid, f"row id moved for key {k}"
    # new rows got fresh ids beyond the old range
    new_ids = {rid for k, rid in after.items() if k not in before}
    assert new_ids and min(new_ids) >= len(before)
    # birth snapshots differ per era
    births = {
        r.n_nationkey: r._last_updated_snapshot_id
        for r in t.scan_with_lineage().collect()
    }
    assert len(set(births.values())) == 2


def test_row_ids_stable_under_mor_delete(table):
    t, nation = table
    t = t.append(nation)
    before = _ids(t.scan_with_lineage())
    t = t.delete_by_key(
        t.spark.createDataFrame([(3,)], "n_nationkey long")
    ).refresh()
    after = _ids(t.scan_with_lineage())
    assert 3 not in after
    for k, rid in after.items():
        assert before[k] == rid  # survivors keep their ids


def test_time_travel_lineage(table):
    t, nation = table
    t = t.append(nation.filter(F.col("n_nationkey") < 5))
    v1 = t.current_snapshot_id
    t = t.append(nation.filter(F.col("n_nationkey") >= 5))
    old = t.scan_with_lineage(snapshot_id=v1)
    assert old.count() == 5
    assert set(_ids(old).values()) == set(range(5))


def test_empty_table_lineage_schema(table):
    t, _ = table
    out = t.scan_with_lineage()
    assert out.columns[-2:] == ["_row_id", "_last_updated_snapshot_id"]
    assert out.count() == 0


def test_lineage_on_snapshot_with_no_files(table):
    t, nation = table
    t = t.append(nation)
    t = t.delete_where({"n_nationkey": (">=", 0)})  # CoW everything away
    t = t.refresh()
    out = t.scan_with_lineage()
    assert out.count() == 0
    assert out.columns[-2:] == ["_row_id", "_last_updated_snapshot_id"]


def _frame(t):
    return {
        (r.n_nationkey, r._row_id, r._last_updated_snapshot_id)
        for r in t.scan_with_lineage().collect()
    }


def test_row_ids_inherited_through_compaction(table):
    """Round-4 headline: compact() materializes each row's id and birth
    into the rewritten files — the lineage frame is IDENTICAL before
    and after (Iceberg v3 materialized lineage)."""
    from icebergplus_spark.lake import compact

    t, nation = table
    for lo, hi in ((0, 8), (8, 16), (16, 25)):
        t = t.append(
            nation.filter((F.col("n_nationkey") >= lo) & (F.col("n_nationkey") < hi))
        )
    before = _frame(t)
    rep = compact(t, target_file_size=256 * 1024 * 1024)
    assert rep["compacted"] >= 2
    assert _frame(t) == before
    # and the ids keep surviving a SECOND compaction plus more appends
    t = t.append(nation.limit(0))
    compact(t, target_file_size=1)  # force no-op / tiny-target path
    assert _frame(t) == before


def test_row_ids_stable_when_earlier_file_removed_cow(table):
    """ADVICE r3: with commit-time allocation, removing an EARLIER-born
    file (CoW delete of a whole file) must not shift ids of rows in
    untouched later files."""
    t, nation = table
    t = t.append(nation.filter(F.col("n_nationkey") < 10))
    t = t.append(nation.filter(F.col("n_nationkey") >= 10))
    before = _ids(t.scan_with_lineage())
    # whole-file CoW delete: first file's range exactly
    t.delete({"n_nationkey": ("<", 10)})
    after = _ids(t.scan_with_lineage())
    for k, rid in after.items():
        assert before[k] == rid, f"id shifted for key {k}"


def test_lineage_after_compaction_then_mor_delete(table):
    from icebergplus_spark.lake import compact

    t, nation = table
    t = t.append(nation.filter(F.col("n_nationkey") < 12))
    t = t.append(nation.filter(F.col("n_nationkey") >= 12))
    before = _frame(t)
    compact(t, target_file_size=256 * 1024 * 1024)
    t.delete_where({"n_nationkey": ("=", 3)})
    after = _frame(t)
    assert after == {row for row in before if row[0] != 3}


def test_cow_delete_survivors_keep_ids_in_rewritten_file(table):
    """Partial-file CoW delete: the rewritten file carries the
    SURVIVORS' original ids materialized (not re-derived), so deleting
    neighbors never re-ids the rows that stayed."""
    t, nation = table
    t = t.append(nation)
    before = _ids(t.scan_with_lineage())
    t.delete({"n_nationkey": ("<", 7)})  # partial rewrite of the file
    after = _ids(t.scan_with_lineage())
    assert set(after) == {k for k in before if k >= 7}
    for k, rid in after.items():
        assert before[k] == rid


def test_cow_update_keeps_id_and_bumps_last_updated(table):
    """UPDATE (Iceberg v3): the updated row keeps its _row_id; its
    _last_updated_snapshot_id becomes the update snapshot; untouched
    rows in the SAME rewritten file keep both."""
    import pyspark.sql.functions as _F

    t, nation = table
    t = t.append(nation)
    before = {
        r.n_nationkey: (r._row_id, r._last_updated_snapshot_id)
        for r in t.scan_with_lineage().collect()
    }
    t.update_where({"n_nationkey": ("=", 5)}, {"n_name": "UPDATED"})
    upd_snap = t.current_snapshot_id
    after = {
        r.n_nationkey: (r._row_id, r._last_updated_snapshot_id)
        for r in t.scan_with_lineage().collect()
    }
    assert set(after) == set(before)
    for k, (rid, birth) in after.items():
        assert rid == before[k][0], f"id changed for {k}"
        if k == 5:
            assert birth == upd_snap  # last-updated bumped
        else:
            assert birth == before[k][1]  # untouched rows keep birth
    # and the updated value actually landed
    row = (
        t.scan().filter(_F.col("n_nationkey") == 5).collect()[0]
    )
    assert row.n_name == "UPDATED"


def test_lineage_survives_delete_then_compact(table):
    from icebergplus_spark.lake import compact

    t, nation = table
    t = t.append(nation.filter(F.col("n_nationkey") < 12))
    t = t.append(nation.filter(F.col("n_nationkey") >= 12))
    t.delete({"n_nationkey": ("<", 3)})
    before = _frame(t)
    compact(t, target_file_size=256 * 1024 * 1024)
    assert _frame(t) == before


def test_cow_merge_updates_keep_ids_inserts_get_fresh(table):
    """Single-clause upsert merge: matched keys keep their _row_id
    (last-updated bumps to the merge snapshot); new keys mint fresh
    unique ids; untouched carried rows keep everything."""
    t, nation = table
    t = t.append(nation.filter(F.col("n_nationkey") < 20))
    before = {
        r.n_nationkey: (r._row_id, r._last_updated_snapshot_id)
        for r in t.scan_with_lineage().collect()
    }
    upd = nation.filter(F.col("n_nationkey").isin(3, 4)).withColumn(
        "n_name", F.lit("MERGED")
    )
    new = nation.filter(F.col("n_nationkey") == 23)
    t.merge(upd.unionByName(new), key="n_nationkey")
    msnap = t.current_snapshot_id
    after = {
        r.n_nationkey: (r._row_id, r._last_updated_snapshot_id)
        for r in t.scan_with_lineage().collect()
    }
    assert set(after) == set(before) | {23}
    for k in before:
        assert after[k][0] == before[k][0], f"id changed for {k}"
        if k in (3, 4):
            assert after[k][1] == msnap
        else:
            assert after[k][1] == before[k][1]
    # fresh id is unique and the insert's last-updated is the merge snap
    ids = [rid for rid, _ in after.values()]
    assert len(ids) == len(set(ids))
    assert after[23][1] == msnap


def test_merge_into_lineage_full_semantics(table):
    """merge_into (multi-clause): updated rows keep ids and bump
    last-updated; unmatched-target rows keep everything; inserted
    source rows mint fresh ids."""
    import pyspark.sql.functions as _F

    t, nation = table
    t = t.append(nation.filter(F.col("n_nationkey") < 20))
    before = {
        r.n_nationkey: (r._row_id, r._last_updated_snapshot_id)
        for r in t.scan_with_lineage().collect()
    }
    spark = nation.sparkSession
    src = nation.filter(F.col("n_nationkey").isin(2, 3, 22))
    t.merge_into(
        src,
        on="n_nationkey",
        when_matched_update={"n_name": _F.upper(_F.col("src_n_name"))},
        when_not_matched_insert=True,
    )
    msnap = t.current_snapshot_id
    after = {
        r.n_nationkey: (r._row_id, r._last_updated_snapshot_id)
        for r in t.scan_with_lineage().collect()
    }
    assert set(after) == set(before) | {22}
    for k in before:
        assert after[k][0] == before[k][0]
        assert after[k][1] == (msnap if k in (2, 3) else before[k][1])
    ids = [rid for rid, _ in after.values()]
    assert len(ids) == len(set(ids))
    assert after[22][1] == msnap


def test_lineage_survives_expire_of_rewrite_snapshot(table):
    """ADVICE r4 (medium): expire_snapshots must not forget which live
    files carry materialized lineage. Sequence: appends → compact
    (records lineage_files on the compaction snapshot) → append (new
    head still references the compacted files) → expire keep_last=1
    (the compaction snapshot itself is EXPIRED). The lineage frame must
    be identical — ids read from the materialized columns, not re-derived
    from the fresh row_id_assignments ranges minted at the rewrite."""
    from icebergplus_spark.lake import compact, expire_snapshots

    t, nation = table
    for lo, hi in ((0, 8), (8, 16), (16, 25)):
        t = t.append(
            nation.filter((F.col("n_nationkey") >= lo) & (F.col("n_nationkey") < hi))
        )
    rep = compact(t, target_file_size=256 * 1024 * 1024)
    assert rep["compacted"] >= 2
    before = _frame(t)
    # head moves past the compaction snapshot without touching its files
    t = t.append(nation.limit(0))
    expire_snapshots(t, keep_last=1)
    assert len(t.history()) == 1  # the compaction snapshot is gone
    assert _frame(t) == before
    # and the re-homed records keep surviving FURTHER maintenance
    t = t.append(nation.limit(0))
    expire_snapshots(t, keep_last=1)
    assert _frame(t) == before


# -- warehouse paths that need URI escaping ---------------------------------


def test_as_uri_equals_scanned_file_path(spark, tmp_path):
    """``_as_uri`` of a plain path is exactly Spark's
    ``_metadata.file_path`` for that file, including the characters a
    file URI percent-encodes and those it keeps as they are."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from icebergplus_spark.lake.table import _as_uri

    for name in ("sp ace", "pct%25x", "hash#1", "plus+a", "naïve", "nb sp"):
        d = tmp_path / name
        d.mkdir()
        path = str(d / "f.parquet")
        pq.write_table(pa.table({"x": [1]}), path)
        got = spark.read.parquet(path).select("_metadata.file_path").first()[0]
        assert got == _as_uri(path), name


@pytest.mark.parametrize("per_file", [5, 4200], ids=["local", "spark"])
def test_dml_under_escaped_warehouse_path_keeps_rows_and_ids(
    spark, tmp_path, per_file
):
    """DELETE, UPDATE, MERGE and compaction of a table whose warehouse
    path holds a space and a ``%``: every untouched row and every
    ``_row_id`` survives, whether the rewrite reads its files on the
    driver (small) or with Spark (more than 4,096 rows)."""
    from pyspark.sql.types import _parse_datatype_string

    from icebergplus_spark.lake import compact
    from icebergplus_spark.localrel import local_rows_df

    cat = LocalLakeCatalog(spark, str(tmp_path / "w h%25x" / "wh")).start()
    schema = _parse_datatype_string("k bigint, v string")
    t = cat.create_table("db.t", schema)
    model = {k: f"v{k}" for k in range(2 * per_file)}
    for lo in (0, per_file):
        rows = [(k, model[k]) for k in range(lo, lo + per_file)]
        t.append(spark.createDataFrame(rows, schema).coalesce(1))
    snap, first = t.snapshot(), t.plan_files({"k": ("=", 3)})

    def lineage():
        return {r.k: (r.v, r._row_id) for r in t.scan_with_lineage().collect()}

    ids = {k: i for k, (_v, i) in lineage().items()}

    def check():
        got = lineage()
        assert {k: v for k, (v, _i) in got.items()} == model
        assert {k: ids[k] for k in got if k in ids} == {
            k: i for k, (_v, i) in got.items() if k in ids
        }
        assert len({i for _v, i in got.values()}) == len(got)

    t.delete({"k": ("=", 3)})
    del model[3]
    check()
    t.update_where({"k": ("=", 1)}, {"v": "upd"})
    model[1] = "upd"
    check()
    assert compact(t, target_file_size=256 * 1024 * 1024)["compacted"] == 2
    check()
    new = 10 * per_file
    t.merge(local_rows_df(spark, [(2, "mrg"), (new, "ins")], schema), key="k")
    model.update({2: "mrg", new: "ins"})
    check()
    # the first rewrite read its file on the driver only when small
    small = t._read_small(snap, first, False)
    assert (small is not None) == (per_file < t.DRIVER_WRITE_MAX_ROWS)
