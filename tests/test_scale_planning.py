"""Many-file scale harness (r7, VERDICT r6 #2).

Until now the distributed planning/pruning tiers were exercised by
SHRINKING their thresholds. This battery builds genuinely large
metadata and asserts tier selection, prune ratios, and wall-time
budgets at the PRODUCTION defaults:

- a 10,000-file / 200-snapshot table of real parquet data files
  (pyarrow-written, registered through the real ``add_files``
  migration path → real footer harvests, real manifests, real
  commits) for driver-tier planning + end-to-end pruned reads;
- a >100k-entry metadata-only table (entries cloned from one real
  harvest; planning never opens data files, so the planner can't tell)
  proving ``plan_files`` / ``plan_files_ranges`` switch to the
  EXECUTOR tier at the real ``planning.distributed-threshold`` and
  return exactly the driver tier's answer;
- equality-delete pruning engaging its DISTRIBUTED tier at the real
  ``EQ_SKIP_KEYS_CAP`` (20k keys) and ``EQ_DIST_MIN_FILES`` (16)
  gates, with the post-delete scan still exact.

Measured numbers are recorded in SCALING.md §scale-harness.
"""

import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from icebergplus_spark.lake import LocalLakeCatalog
from icebergplus_spark.lake.table import LakeTable
from icebergplus_spark.lake.manifest_list import snapshot_lists

SCHEMA = StructType(
    [
        StructField("k", IntegerType(), True),
        StructField("val", DoubleType(), True),
        StructField("tag", StringType(), True),
    ]
)


def _write_files(data_dir, start_idx, n, rows_per_file=2, k_stride=10):
    """n tiny real parquet files; file i covers k in
    [i*k_stride, i*k_stride + k_stride - 1]."""
    os.makedirs(data_dir, exist_ok=True)
    paths = []
    for j in range(n):
        i = start_idx + j
        k0 = i * k_stride
        ks = [k0 + (r * (k_stride - 1)) // max(rows_per_file - 1, 1)
              for r in range(rows_per_file)]
        tbl = pa.table(
            {
                "k": pa.array(ks, pa.int32()),
                "val": pa.array([float(i) + 0.25 * r for r in range(rows_per_file)]),
                "tag": pa.array([f"t{(i + r) % 7}" for r in range(rows_per_file)]),
            }
        )
        p = os.path.join(data_dir, f"f{i:06d}.parquet")
        pq.write_table(tbl, p)
        paths.append(p)
    return paths


def test_10k_files_200_snapshots_driver_tier(spark, tmp_path):
    """200 add_files commits × 50 real files: the driver tier (10k
    entries < the real 100k threshold) plans a closed range and a
    range disjunction exactly, inside a wall-time budget, and the
    pruned read returns the right rows end-to-end."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.many", SCHEMA)
    t_build = time.time()
    for s in range(200):
        paths = _write_files(str(tmp_path / "raw" / f"s{s}"), s * 50, 50)
        t.add_files(paths=paths)
    build_s = time.time() - t_build
    assert len(t.history()) == 200
    assert t.snapshot()["summary"]["total-data-files"] == 10_000

    # tier selection: the driver path must NOT build executor keep
    # conditions at the real threshold
    dist_calls = []
    orig = t._stats_keep_condition
    t._stats_keep_condition = lambda *a, **kw: (
        dist_calls.append(1) or orig(*a, **kw)
    )
    t_plan = time.time()
    kept = t.plan_files({"k": [(">=", 50_000), ("<", 55_000)]})
    plan_s = time.time() - t_plan
    # k stride 10 per file → exactly 500 of 10,000 files
    assert len(kept) == 500
    assert not dist_calls
    assert plan_s < 10.0, f"driver planning budget blown: {plan_s:.1f}s"

    t_plan = time.time()
    kept2 = t.plan_files_ranges("k", [(1_000, 3_000), (90_000, 90_500)])
    ranges_s = time.time() - t_plan
    assert len(kept2) == 200 + 50
    assert not dist_calls
    assert ranges_s < 10.0

    # end-to-end: the pruned read over REAL files returns exact rows
    rows = t.scan_ranges("k", [(1_000, 1_100)]).collect()
    assert sorted(r["k"] for r in rows) == sorted(
        k for i in range(100, 110) for k in (i * 10, i * 10 + 9)
        if 1_000 <= k < 1_100
    )

    # r8 (VERDICT r7 #5): an END-TO-END READ through the EXECUTOR-tier
    # plan on real files — the 110k fixture below is metadata-only by
    # design, so this is the leg that proves a distributed plan feeds a
    # real scan. Forcing the threshold below 10k reroutes THIS table.
    t.set_property("planning.distributed-threshold", "1000")
    routed = []
    orig_dist = t.plan_files_distributed
    t.plan_files_distributed = lambda *a, **kw: (
        routed.append(1) or orig_dist(*a, **kw)
    )
    pred = {"k": [(">=", 1_000), ("<", 1_100)]}
    kept_e = t.plan_files(pred)
    assert routed, "plan did not route to the executor tier"
    assert len(kept_e) == 10  # files i=100..109
    rows_e = t.scan(pred).collect()
    assert sorted(r["k"] for r in rows_e) == sorted(
        k for i in range(100, 110) for k in (i * 10, i * 10 + 9)
    )
    assert len(routed) >= 2  # the scan itself planned on the executor tier
    t.plan_files_distributed = orig_dist
    t.set_property("planning.distributed-threshold", "100000")

    # budgets recorded for SCALING.md (printed under -s)
    print(
        f"\n10k-file harness: build={build_s:.1f}s "
        f"plan_files={plan_s:.2f}s plan_ranges={ranges_s:.2f}s"
    )


def _clone_entries(t, real_path, n, k_stride=10):
    """n manifest entries cloned from ONE real harvested file, with
    distinct paths and k ranges — planning-only metadata (no data I/O
    ever touches these paths)."""
    base = t._harvest_data_file(real_path)
    entries = []
    for i in range(n):
        e = dict(base)
        e["file_path"] = f"{os.path.dirname(real_path)}/synthetic-{i:07d}.parquet"
        lo, hi = i * k_stride, i * k_stride + k_stride - 1
        e["column_mins"] = json.dumps({"k": lo})
        e["column_maxs"] = json.dumps({"k": hi})
        entries.append(e)
    return entries


def test_executor_tier_engages_at_real_threshold(spark, tmp_path):
    """>100k manifest entries with NO property shrinkage: plan_files
    must route to plan_files_distributed and plan_files_ranges must
    build executor keep-conditions — and both must return exactly the
    driver tier's answer (equivalence under a forced-high threshold)."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.huge", SCHEMA)
    seed = _write_files(str(tmp_path / "seed"), 0, 1)
    n_entries = 110_000
    entries = _clone_entries(t, seed[0], n_entries)
    # commit in 10 manifests ≈ a compacted-manifest layout
    manifests = []
    per = n_entries // 10
    for g in range(10):
        manifests.append(t._write_manifest(entries[g * per:(g + 1) * per]))
    t._commit_snapshot("append", manifests, entries, time.time())
    assert "planning.distributed-threshold" not in (t.properties or {})
    total = sum(
        pq.read_metadata(os.path.join(t._meta_dir, m)).num_rows
        for m in snapshot_lists(t._meta_dir, t.snapshot()).manifests
    )
    assert total > 100_000  # past the REAL default

    routed = []
    orig_dist = t.plan_files_distributed
    t.plan_files_distributed = lambda *a, **kw: (
        routed.append("plan_files") or orig_dist(*a, **kw)
    )
    pred = {"k": [(">=", 400_000), ("<", 405_000)]}
    t_plan = time.time()
    kept = t.plan_files(pred)
    dist_s = time.time() - t_plan
    assert routed == ["plan_files"]
    assert len(kept) == 500
    assert dist_s < 60.0, f"executor planning budget blown: {dist_s:.1f}s"

    cond_calls = []
    orig_cond = t._stats_keep_condition
    t._stats_keep_condition = lambda *a, **kw: (
        cond_calls.append(1) or orig_cond(*a, **kw)
    )
    t_plan = time.time()
    kept_r = t.plan_files_ranges("k", [(10_000, 12_000), (900_000, 901_000)])
    ranges_s = time.time() - t_plan
    assert cond_calls, "plan_files_ranges stayed on the driver tier"
    assert len(kept_r) == 200 + 100
    assert ranges_s < 60.0

    # equivalence: force the driver tier and compare exact file sets
    t.set_property("planning.distributed-threshold", str(10_000_000))
    kept_driver = t.plan_files(pred)
    assert {f["file_path"] for f in kept} == {
        f["file_path"] for f in kept_driver
    }
    kept_r_driver = t.plan_files_ranges(
        "k", [(10_000, 12_000), (900_000, 901_000)]
    )
    assert {f["file_path"] for f in kept_r} == {
        f["file_path"] for f in kept_r_driver
    }
    print(
        f"\n110k-entry harness: plan_files(dist)={dist_s:.2f}s "
        f"plan_ranges(dist)={ranges_s:.2f}s"
    )


def test_eq_delete_distributed_pruning_at_real_caps(spark, tmp_path):
    """25k-key equality delete (> the real EQ_SKIP_KEYS_CAP=20k) over
    64 files (≥ the real EQ_DIST_MIN_FILES=16): the scan must engage
    the distributed pruning tier, exempt every file the key range
    provably misses, and still return the exact survivors."""
    assert LakeTable.EQ_SKIP_KEYS_CAP == 20_000  # the production value
    assert LakeTable.EQ_DIST_MIN_FILES == 16
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.eq", SCHEMA, bloom_cols=["k"])
    # 64 real files; file i covers k in [i*1000, i*1000+399]
    for i in range(64):
        ks = list(range(i * 1000, i * 1000 + 400))
        tbl = pa.table(
            {
                "k": pa.array(ks, pa.int32()),
                "val": pa.array([float(x) for x in ks]),
                "tag": pa.array([f"t{x % 7}" for x in ks]),
            }
        )
        d = str(tmp_path / "eqraw")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"f{i:03d}.parquet")
        pq.write_table(tbl, p)
        t.add_files(paths=[p])
    assert len(t.plan_files()) == 64

    # 25k distinct keys, all below k=25_000 → files 25..63 provably safe
    keys = spark.range(0, 25_000).selectExpr("CAST(id AS INT) AS k")
    t.delete_by_key(keys)
    dentry = t._delete_entries(t.snapshot())[0]
    assert dentry["content"] == "equality"
    assert dentry["record_count"] == 25_000  # > the driver cap

    pruned_sets = []
    orig = t._eq_prunable_uris_distributed
    t._eq_prunable_uris_distributed = lambda *a, **kw: (
        lambda out: (pruned_sets.append(out), out)[1]
    )(orig(*a, **kw))
    survivors = sorted(r["k"] for r in t.scan().collect())
    assert pruned_sets, "distributed eq pruning tier never engaged"
    # range tier alone proves files 25..63 (k >= 25_000) unhittable
    assert len(pruned_sets[0]) >= 39
    expect = sorted(
        k for i in range(64) for k in range(i * 1000, i * 1000 + 400)
        if k >= 25_000
    )
    assert survivors == expect

    # memoization: a second scan must not re-run the tier
    n_runs = len(pruned_sets)
    t.scan().count()
    assert len(pruned_sets) == n_runs


def test_metadata_folds_executor_tier_at_real_threshold(spark, tmp_path):
    """r9 (VERDICT r8 #4): past the REAL planning.distributed-threshold
    the metadata folds (count_rows / stats_extrema) run as Spark jobs
    over the manifest parquet — proven metadata-only: the 110k entries
    reference synthetic paths no scan could read, so a correct answer
    means no entry list ever landed on the driver AND no data file was
    opened. Predicates align with file k-ranges so every kept entry is
    fully covered (no boundary scan leg)."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.hugefold", SCHEMA)
    seed = _write_files(str(tmp_path / "seedf"), 0, 1)
    n_entries = 110_000
    entries = _clone_entries(t, seed[0], n_entries)
    manifests = []
    per = n_entries // 10
    for g in range(10):
        manifests.append(t._write_manifest(entries[g * per:(g + 1) * per]))
    t._commit_snapshot("append", manifests, entries, time.time())
    assert "planning.distributed-threshold" not in (t.properties or {})

    routed = []
    orig = t._manifest_df
    t._manifest_df = lambda *a, **kw: (routed.append(1) or orig(*a, **kw))
    rc = entries[0]["record_count"]
    t_fold = time.time()
    assert t.count_rows() == n_entries * rc
    # [400_000, 405_000) aligns with the 10-wide k ranges → 500 files,
    # all fully covered — zero scan legs over unreadable paths
    assert (
        t.count_rows({"k": [(">=", 400_000), ("<", 405_000)]}) == 500 * rc
    )
    lo, hi = t.stats_min_max(
        "k", predicates={"k": [(">=", 400_000), ("<", 405_000)]}
    )
    fold_s = time.time() - t_fold
    assert (lo, hi) == (400_000, 404_999)
    assert len(routed) == 3
    assert fold_s < 90.0, f"executor fold budget blown: {fold_s:.1f}s"
    print(f"\n110k-entry folds (exec tier): {fold_s:.2f}s for 3 folds")
