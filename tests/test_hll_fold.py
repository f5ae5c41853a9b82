"""APPROX_COUNT_DISTINCT from write-time HLL sketches (r12, VERDICT
r11 #7): per-file dense registers (write.stats.hll-columns opt-in)
merge by bytewise max and one estimator call answers from metadata —
the tier above the exact distinct sets for columns whose NDV overflows
write.stats.distinct-cap. Battery: metadata-answer proof (data files
nuked), bounded error, sketch-merge associativity, the cap
interaction (exact CD stays exact via scan while ACD folds), WHERE
full-cover vs partial decline, tombstone decline, unsketched
fallback to Spark's scan-side HLL++, and distributed-harvest parity."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from icebergplus_spark.lake import LocalLakeCatalog
from icebergplus_spark.lake.sql_dml import lake_sql
from icebergplus_spark.lake.table import (
    _apply_column_hlls,
    _hll_estimate,
    _hll_merge,
)

T = StructType(
    [
        StructField("k", LongType(), True),
        StructField("u", LongType(), True),  # high-NDV
        StructField("s", StringType(), True),
    ]
)


def _mk(spark, tmp_path, n=4000, chunks=4, props=None):
    cat = LocalLakeCatalog(spark, str(tmp_path / "wh")).start()
    t = cat.create_table("db.h", T)
    t.set_property("write.stats.hll-columns", "u,s")
    for k, v in (props or {}).items():
        t.set_property(k, v)
    step = n // chunks
    for lo in range(0, n, step):
        t.append(
            spark.createDataFrame(
                [
                    (lo + i, (lo + i) * 7 % 3500, f"s{(lo + i) % 900}")
                    for i in range(step)
                ],
                T,
            ).coalesce(1)
        )
    return cat, t


def test_acd_answers_from_metadata(spark, tmp_path):
    cat, t = _mk(spark, tmp_path)
    got = lake_sql(
        cat,
        "SELECT APPROX_COUNT_DISTINCT(u) AS a, COUNT(*) AS n FROM db.h",
    ).first()
    exact = len({i * 7 % 3500 for i in range(4000)})
    assert got["n"] == 4000
    assert abs(got["a"] - exact) <= 0.10 * exact
    # the metadata-answer proof: nuke every data file — the fold must
    # still answer (it would crash or return garbage on any scan)
    for f in t.plan_files():
        os.remove(f["file_path"])
    again = lake_sql(
        cat,
        "SELECT APPROX_COUNT_DISTINCT(u) AS a, COUNT(*) AS n FROM db.h",
    ).first()
    assert again["a"] == got["a"]


def test_string_column_sketch(spark, tmp_path):
    cat, _ = _mk(spark, tmp_path)
    got = lake_sql(
        cat, "SELECT APPROX_COUNT_DISTINCT(s) AS a FROM db.h"
    ).first()["a"]
    assert abs(got - 900) <= 0.10 * 900


def test_merge_equals_whole(spark, tmp_path):
    """Sketch(union) == merge(sketches) — what makes the per-file fold
    legitimate. Built directly on the harvest primitives."""
    import pyarrow as pa

    vals = list(range(5000))
    whole = {}
    _apply_column_hlls(
        whole, pa.table({"u": vals}), ["u"], 11
    )
    parts = []
    for lo in (0, 2500):
        e = {}
        _apply_column_hlls(
            e, pa.table({"u": vals[lo:lo + 2500]}), ["u"], 11
        )
        import json

        parts.append(bytes.fromhex(json.loads(e["column_hlls"])["u"]))
    import json

    merged = _hll_merge(parts)
    assert merged == bytes.fromhex(json.loads(whole["column_hlls"])["u"])
    est = _hll_estimate(merged, 11)
    assert abs(est - 5000) <= 0.10 * 5000


def test_cap_interaction(spark, tmp_path):
    """u's NDV (3500) overflows write.stats.distinct-cap (128): the
    exact COUNT(DISTINCT) fold correctly degrades to the scan — and
    stays EXACT — while APPROX_COUNT_DISTINCT answers from the sketch
    without touching data."""
    cat, t = _mk(
        spark, tmp_path, props={"write.stats.distinct-columns": "u"}
    )
    exact = len({i * 7 % 3500 for i in range(4000)})
    cd = lake_sql(
        cat, "SELECT COUNT(DISTINCT u) AS cd FROM db.h"
    ).first()["cd"]
    assert cd == exact  # exact, via the scan leg (over-cap: no set)
    acd = lake_sql(
        cat, "SELECT APPROX_COUNT_DISTINCT(u) AS a FROM db.h"
    ).first()["a"]
    assert abs(acd - exact) <= 0.10 * exact


def test_where_full_cover_folds_partial_declines(spark, tmp_path):
    cat, t = _mk(spark, tmp_path)
    # chunk boundaries are k in [0,1000),[1000,2000)...: k < 2000
    # fully covers two files -> fold engages
    v = t.hll_count_distinct("u", predicates={"k": ("<", 2000)})
    assert v is not None
    exact = len({i * 7 % 3500 for i in range(2000)})
    assert abs(v - exact) <= 0.10 * exact
    # k < 1500 cuts a file mid-way -> sketch can't subtract -> decline
    assert t.hll_count_distinct("u", predicates={"k": ("<", 1500)}) is None
    # ... and the SQL surface still answers (native scan HLL++)
    got = lake_sql(
        cat,
        "SELECT APPROX_COUNT_DISTINCT(u) AS a FROM db.h WHERE k < 1500",
    ).first()["a"]
    exact_p = len({i * 7 % 3500 for i in range(1500)})
    assert abs(got - exact_p) <= 0.10 * exact_p


def test_declines(spark, tmp_path):
    cat, t = _mk(spark, tmp_path)
    # tombstones: sketches bake in hidden rows -> decline
    t.delete_where({"k": ("<", 10)})
    assert t.refresh().hll_count_distinct("u") is None
    # unsketched table -> decline -> SQL falls back to scan HLL++
    t2 = cat.create_table("db.plain", T)
    t2.append(spark.createDataFrame([(i, i, "x") for i in range(50)], T))
    assert t2.hll_count_distinct("u") is None
    got = lake_sql(
        cat, "SELECT APPROX_COUNT_DISTINCT(u) AS a FROM db.plain"
    ).first()["a"]
    assert abs(got - 50) <= 10


def test_grouped_acd_fold(spark, tmp_path):
    """GROUP BY + APPROX_COUNT_DISTINCT over clustered ingest (one
    append per group → files single-valued in the group column) folds
    from metadata: registers merge per group, COUNT(*) rides
    record_count. The nuked-data-files proof pins the metadata
    answer."""
    cat = LocalLakeCatalog(spark, str(tmp_path / "whg")).start()
    t = cat.create_table("db.g", T)
    t.set_property("write.stats.hll-columns", "u")
    exact = {}
    for gk, n in (("a", 900), ("b", 1400), ("c", 300)):
        vals = [(i, (i * 13) % (n // 2), gk) for i in range(n)]
        exact[gk] = (len({v for _k, v, _s in vals}), n)
        t.append(
            spark.createDataFrame(
                [(k, u, s) for k, u, s in vals], T
            ).coalesce(2)
        )
    got = {
        r["s"]: (r["a"], r["n"])
        for r in lake_sql(
            cat,
            "SELECT s, APPROX_COUNT_DISTINCT(u) AS a, COUNT(*) AS n "
            "FROM db.g GROUP BY s ORDER BY s",
        ).collect()
    }
    assert set(got) == set(exact)
    for gk, (ex, n) in exact.items():
        assert got[gk][1] == n
        assert abs(got[gk][0] - ex) <= max(0.10 * ex, 3)
    # metadata proof: nuke the data — the grouped fold still answers
    for f in t.plan_files():
        os.remove(f["file_path"])
    again = {
        r["s"]: r["a"]
        for r in lake_sql(
            cat,
            "SELECT s, APPROX_COUNT_DISTINCT(u) AS a, COUNT(*) AS n "
            "FROM db.g GROUP BY s ORDER BY s",
        ).collect()
    }
    assert again == {k: v[0] for k, v in got.items()}


def test_grouped_acd_multivalued_group_goes_native(spark, tmp_path):
    """Files spanning several group values can't fold — the statement
    falls to the native scan (Spark HLL++) and stays correct."""
    cat, t = _mk(spark, tmp_path)  # s cycles within every file
    assert (
        t.hll_count_distinct_by(["s"], [("ACD", "u", "a")]) is None
    )
    rows = lake_sql(
        cat,
        "SELECT s, APPROX_COUNT_DISTINCT(u) AS a FROM db.h "
        "GROUP BY s ORDER BY s LIMIT 5",
    ).collect()
    assert len(rows) == 5 and all(r["a"] > 0 for r in rows)


def test_distributed_harvest_writes_sketches(spark, tmp_path):
    cat = LocalLakeCatalog(spark, str(tmp_path / "whd")).start()
    t = cat.create_table("db.dist", T)
    t.set_property("write.stats.hll-columns", "u")
    t.set_property("write.stats-harvest.distributed-threshold", "2")
    t.append(
        spark.createDataFrame(
            [(i, i, "x") for i in range(400)], T
        ).repartition(4)
    )
    import json

    files = t.plan_files()
    assert len(files) >= 3  # past the threshold -> executor harvest
    for f in files:
        assert "u" in json.loads(f.get("column_hlls") or "{}")
    v = t.hll_count_distinct("u")
    assert v is not None and abs(v - 400) <= 40


def test_mixed_hash_domain_declines_fold(spark, tmp_path, monkeypatch):
    """r13: sketches written in different hash domains (pre-r13 md5 vs
    the vectorized x64 path) must NOT max-merge — the fold declines to
    the exact scan instead of silently over-counting. Simulated by
    forcing the md5 domain (via the type predicate) for one append."""
    import icebergplus_spark.lake.table as tmod

    cat = LocalLakeCatalog(spark, str(tmp_path / "whmix")).start()
    t = cat.create_table("db.mix", T)
    t.set_property("write.stats.hll-columns", "u")
    rows = [(i, i % 700, f"s{i}") for i in range(1000)]
    t.append(spark.createDataFrame(rows[:500], T).coalesce(1))  # x64 domain
    monkeypatch.setattr(tmod, "_hll_vectorizable", lambda _t: False)
    t.append(spark.createDataFrame(rows[500:], T).coalesce(1))  # md5 domain
    monkeypatch.undo()
    assert t.hll_count_distinct("u") is None, (
        "mixed-domain sketches must decline the metadata fold"
    )
    # the SQL surface stays correct through the scan fallback
    got = lake_sql(
        cat, "SELECT APPROX_COUNT_DISTINCT(u) AS a FROM db.mix"
    ).first()["a"]
    assert abs(got - 700) <= 70
    # single-domain table still folds
    t2 = cat.create_table("db.same", T)
    t2.set_property("write.stats.hll-columns", "u")
    t2.append(spark.createDataFrame(rows[:500], T).coalesce(1))
    t2.append(spark.createDataFrame(rows[500:], T).coalesce(1))
    assert t2.hll_count_distinct("u") is not None


def _loop_merge(sketches):
    """The register-by-register merge the numpy one replaced."""
    out = bytearray(sketches[0])
    for s in sketches[1:]:
        for i, r in enumerate(s):
            if r > out[i]:
                out[i] = r
    return bytes(out)


def _loop_estimate(regs, p):
    """The register-by-register estimator the numpy one replaced."""
    import math

    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    s = 0.0
    zeros = 0
    for r in regs:
        s += 2.0 ** -r
        if r == 0:
            zeros += 1
    e = alpha * m * m / s
    if e <= 2.5 * m and zeros:
        e = m * math.log(m / zeros)
    return int(round(e))


@pytest.mark.parametrize("p", [11, 14])
def test_numpy_merge_and_estimate_equal_the_loops(p):
    import numpy as np

    rng = np.random.default_rng(7)
    m = 1 << p
    empty = bytes(m)
    # geometric register values as real sketches hold, plus extremes
    rand = [
        np.minimum(rng.geometric(0.5, m) - 1, 64 - p + 1).astype(np.uint8).tobytes()
        for _ in range(20)
    ]
    sparse = [
        np.where(rng.random(m) < 0.01, rng.integers(1, 60, m), 0).astype(np.uint8).tobytes()
        for _ in range(5)
    ]
    top = bytes([64 - p + 1]) * m
    for group in ([empty], [rand[0]], [top], rand, sparse, [empty] + sparse, sparse + rand):
        merged = _hll_merge(group)
        assert merged == _loop_merge(group)
        assert _hll_estimate(merged, p) == _loop_estimate(merged, p)
    for regs in [empty, top, *rand, *sparse]:
        assert _hll_estimate(regs, p) == _loop_estimate(regs, p)
