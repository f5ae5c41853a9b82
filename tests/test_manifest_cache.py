"""The driver-side manifest reader (``lake/manifests.py``).

Manifests are immutable once committed, so the reader keeps their
decoded entries in a process-wide cache keyed by (path, mtime, size),
seeded by the writer. These tests count the reader's manifest opens:
a plan over an unchanged snapshot opens none. They also check that the
cache is invisible: results equal the uncached path, callers cannot
corrupt it, in-place rewrites are re-read, concurrent planners agree,
and the bound evicts.
"""

import json
import os
import threading

import pyarrow.parquet as pq
import pytest

from icebergplus_spark.lake import LocalLakeCatalog, manifests as mfiles, versions
from icebergplus_spark.lake.manifest_list import snapshot_lists
from icebergplus_spark.lake.table import _file_fully_matches, _file_matches
from icebergplus_spark.localrel import local_rows_df

DDL = "k long, v long, tag string"


def _rows(lo, hi):
    return [(k, k * 7 % 50, f"t{k % 3}") for k in range(lo, hi)]


@pytest.fixture()
def table(spark, tmp_path):
    """Eight appends of ten keys each: eight manifests."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.m", local_rows_df(spark, [], DDL).schema)
    for i in range(8):
        t.append(local_rows_df(spark, _rows(i * 10, i * 10 + 10), DDL))
    return cat, t


@pytest.fixture()
def opens(monkeypatch):
    """Paths of the manifest files opened while the test runs."""
    seen = []

    def counted(fn):
        def inner(path, *a, **kw):
            if os.path.basename(str(path)).startswith(("manifest-", "delete-manifest-")):
                seen.append(path)
            return fn(path, *a, **kw)

        return inner

    for name in ("read_table", "read_metadata"):
        monkeypatch.setattr(pq, name, counted(getattr(pq, name)))
    return seen


def _paths(entries):
    return sorted(e["file_path"] for e in entries)


RANGE = {"k": [(">=", 25), ("<=", 44)]}


def test_second_plan_opens_no_manifest(table, opens):
    cat, t = table
    mfiles.clear()
    first = t.plan_files(RANGE)
    names = t._lists(t.snapshot()).manifests
    assert set(opens) == {os.path.join(t._meta_dir, m) for m in names}
    del opens[:]
    again = cat.load_table("db.m").plan_files(RANGE)
    assert opens == []
    assert _paths(again) == _paths(first) and len(first) == 3


def test_committed_manifest_served_without_a_read(table, opens):
    cat, t = table
    t.append(local_rows_df(t.spark, _rows(100, 105), DDL))
    t.delete({"k": ("=", 3)})  # writes a rewritten data manifest
    kept = cat.load_table("db.m").plan_files({"k": (">=", 0)})
    assert opens == []
    assert sum(e["record_count"] for e in kept) == 84


def test_mutating_a_result_does_not_reach_the_cache(table):
    _, t = table
    first = t.plan_files(RANGE)
    before = [dict(e) for e in first]
    for e in first:
        e["record_count"] = -1
        e["column_mins"] = json.dumps({"k": 10**9})
    assert t.plan_files(RANGE) == before


def test_rewritten_manifest_is_read_again(table, opens):
    cat, t = table
    assert len(t.plan_files(RANGE)) == 3
    name = t._lists(t.snapshot()).manifests[3]  # keys 30..39
    path = os.path.join(t._meta_dir, name)
    old = pq.read_table(path)
    widened = old.set_column(
        old.schema.get_field_index("column_maxs"),
        "column_maxs",
        [[json.dumps({"k": 10**6, "v": 49, "tag": "t2"})] * old.num_rows],
    ).drop_columns(["column_sums"])  # older writers had no sums
    pq.write_table(widened, path)
    del opens[:]
    kept = cat.load_table("db.m").plan_files({"k": (">=", 1000)})
    assert set(opens) == {path}
    assert _paths(kept) == sorted(
        old.column("file_path").to_pylist()
    )


def test_concurrent_planners_agree_with_a_serial_plan(table):
    _, t = table
    preds = [{"k": [(">=", lo), ("<=", lo + 15)]} for lo in range(0, 80, 10)]
    serial = [_paths(t.plan_files(p)) for p in preds]
    for _ in range(3):
        mfiles.clear()
        got = [None] * 8
        errors = []
        gate = threading.Barrier(8)

        def plan(i):
            try:
                gate.wait()
                got[i] = _paths(t.plan_files(preds[i]))
            except Exception as e:  # surfaced below
                errors.append(e)

        threads = [threading.Thread(target=plan, args=(i,)) for i in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert errors == []
        assert got == serial


def test_bound_evicts(table, opens, monkeypatch):
    _, t = table
    names = t._lists(t.snapshot()).manifests
    one = mfiles._get(os.path.join(t._meta_dir, names[0])).weight
    monkeypatch.setattr(mfiles, "_CACHE_BYTES", 2 * one + one // 2)
    mfiles.clear()
    t.plan_files(RANGE)
    assert 0 < len(mfiles._cache) <= 2 and mfiles._held <= mfiles._CACHE_BYTES
    del opens[:]
    # a plan over more manifests than the bound holds reads them all again
    assert len(t.plan_files(RANGE)) == 3
    assert set(opens) == {os.path.join(t._meta_dir, m) for m in names}


def _downgrade(t, manifests):
    """Rewrite ``manifests`` in place in the pre-upgrade shape (no sums,
    no row-lineage columns) and the head version in format version 1."""
    for m in manifests:
        path = os.path.join(t._meta_dir, m)
        old = pq.read_table(path)
        pq.write_table(
            old.drop_columns(
                ["column_sums", "first_row_id", "added_snapshot_id", "lineage_materialized"]
            ),
            path,
        )
    path = versions.path(t._meta_dir, t._meta["_phys_version"])
    meta = versions.read(t._meta_dir, t._meta["_phys_version"])
    del meta["format_version"], meta["next_row_id"]
    with open(path, "w") as f:
        json.dump(meta, f)
    return t.refresh()


def test_mixed_format_results_equal_the_uncached_path(table, monkeypatch):
    cat, t = table
    _downgrade(t, snapshot_lists(t._meta_dir, t.snapshot()).manifests[:5])
    t.append(local_rows_df(t.spark, _rows(200, 210), DDL))  # current format
    t = cat.load_table("db.m")
    names = t._lists(t.snapshot()).manifests
    raw = [
        r for m in names for r in pq.read_table(os.path.join(t._meta_dir, m)).to_pylist()
    ]
    assert any("column_sums" not in r for r in raw)
    assert any("column_sums" in r for r in raw)

    preds = [
        RANGE,
        {"k": ("<", 12)},
        {"k": ("=", 205)},
        {"v": (">=", 30), "tag": ("=", "t1")},
        {"k": ("!=", 3)},
    ]

    def answers():
        tb = cat.load_table("db.m")
        return (
            [_paths(tb.plan_files(p)) for p in preds],
            _paths(tb.plan_files_any(preds[1:3])),
            [tb.count_rows(p) for p in preds],
            tb.stats_extrema(["k", "v"], predicates=RANGE),
            sorted(tuple(r) for r in tb.agg_by(
                "tag", [("COUNT", None, "n"), ("SUM", "v", "s"), ("MIN", "k", "lo")]
            ).collect()),
            [[_file_fully_matches(r, p) for r in raw] for p in preds],
        )

    mfiles.clear()
    cold = answers()
    warm = answers()

    def parse_every_time(row):  # the parse each call made before
        return mfiles.Stats(
            json.loads(row["column_mins"]),
            json.loads(row["column_maxs"]),
            json.loads(row.get("column_null_counts") or "{}"),
            json.loads(row.get("column_nan_counts") or "{}"),
            json.loads(row.get("column_blooms") or "{}"),
        )

    monkeypatch.setattr(mfiles, "stats", parse_every_time)
    monkeypatch.setattr(mfiles, "_put", lambda path, m: None)
    mfiles.clear()
    uncached = answers()
    assert cold == warm == uncached
    assert uncached[0] == [
        _paths(r for r in raw if _file_matches(r, p)) for p in preds
    ]
    assert uncached[2][0] == 20
