"""Second relational battery: statistical aggregates, pivot, ordered
string aggregation, full-outer/cross joins, null handling, casts, and an
end-to-end lake round-trip (SURVEY.md §2.B; all absent in the reference,
§2.C).
"""

from __future__ import annotations

import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from icebergplus_spark.functions.exact import dsum
from icebergplus_spark.localrel import local_rows_df
from icebergplus_spark.registry import register
from icebergplus_spark.session import prepare_session
from icebergplus_spark.sources import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    prepare_session(spark)
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# q18 — exact percentiles + dispersion statistics
# ---------------------------------------------------------------------------
@register(
    "q18_percentile_stats",
    oracle="""
SELECT l_returnflag,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4)  AS median_price,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 4)  AS p90_price,
       ROUND(STDDEV_SAMP(l_extendedprice), 4)         AS sd_price,
       ROUND(VAR_SAMP(l_quantity), 4)                 AS var_qty,
       ROUND(CORR(l_quantity, l_extendedprice), 6)    AS qty_price_corr
FROM lineitem
GROUP BY l_returnflag
""",
)
def q18_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
    )


# ---------------------------------------------------------------------------
# q19 — ordered collect/string aggregation
# ---------------------------------------------------------------------------
@register(
    "q19_string_agg",
    oracle="""
SELECT r_regionkey,
       STRING_AGG(n_name, ',' ORDER BY n_name) AS nations,
       CAST(COUNT(*) AS BIGINT) AS n_nations
FROM region JOIN nation ON n_regionkey = r_regionkey
GROUP BY r_regionkey
""",
)
def q19_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        region.join(F.broadcast(nation), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_regionkey")
        .agg(
            # sort before join: collect_list order is nondeterministic
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


# ---------------------------------------------------------------------------
# q44 — pivot (returnflag × linestatus matrix)
# ---------------------------------------------------------------------------
@register(
    "q44_pivot",
    oracle="""
SELECT l_returnflag,
       ROUND(COALESCE(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 0.0), 2) AS qty_F,
       ROUND(COALESCE(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 0.0), 2) AS qty_O
FROM lineitem
GROUP BY l_returnflag
""",
)
def q44_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.coalesce(F.sum("l_quantity"), F.lit(0.0)), 2))
    )
    return piv.select(
        "l_returnflag",
        F.coalesce(F.col("F"), F.lit(0.0)).alias("qty_F"),
        F.coalesce(F.col("O"), F.lit(0.0)).alias("qty_O"),
    )


# ---------------------------------------------------------------------------
# q45 — full outer join with coalesced keys
# ---------------------------------------------------------------------------
@register(
    "q45_full_outer",
    oracle="""
WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_customers FROM customer GROUP BY 1),
     s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1)
SELECT COALESCE(c.nk, s.nk) AS nationkey,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_suppliers, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON c.nk = s.nk
""",
)
def q45_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("cnk"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("snk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return cust.join(supp, F.col("cnk") == F.col("snk"), "full_outer").select(
        F.coalesce(F.col("cnk"), F.col("snk")).alias("nationkey"),
        F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
        F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
    )


# ---------------------------------------------------------------------------
# q46 — cross join (intentional small×small cartesian)
# ---------------------------------------------------------------------------
@register(
    "q46_cross_join",
    oracle="""
SELECT r_name, seg.c_mktsegment
FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) seg
""",
)
def q46_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").select("r_name")
    segs = _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()
    return region.crossJoin(F.broadcast(segs))


# ---------------------------------------------------------------------------
# q47 — null handling: NULLIF / COALESCE / GREATEST / LEAST
# ---------------------------------------------------------------------------
@register(
    "q47_null_funcs",
    oracle="""
SELECT o_orderkey,
       NULLIF(o_orderstatus, 'O')                          AS status_or_null,
       COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN')        AS status_label,
       GREATEST(o_totalprice, 100000.0)                    AS price_floor,
       LEAST(o_totalprice, 200000.0)                       AS price_cap
FROM orders
WHERE o_orderkey % 7 = 0
""",
)
def q47_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_or_null"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
            "status_label"
        ),
        F.greatest(F.col("o_totalprice"), F.lit(100000.0)).alias("price_floor"),
        F.least(F.col("o_totalprice"), F.lit(200000.0)).alias("price_cap"),
    )


# ---------------------------------------------------------------------------
# q48 — casts incl. try_cast failure → NULL
# ---------------------------------------------------------------------------
@register(
    "q48_casts",
    oracle="""
SELECT c_custkey,
       CAST(c_custkey AS VARCHAR)                       AS key_str,
       CAST(FLOOR(c_acctbal) AS INTEGER)                AS bal_int,
       TRY_CAST(c_name AS DOUBLE)                       AS name_as_num,
       CAST(c_acctbal > 0 AS BOOLEAN)                   AS in_credit
FROM customer
WHERE c_custkey % 11 = 0
""",
)
def q48_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return cust.filter(F.col("c_custkey") % 11 == 0).select(
        "c_custkey",
        F.col("c_custkey").cast("string").alias("key_str"),
        # half-to-int is tie-ambiguous across engines (HALF_UP vs
        # ties-to-even) — FLOOR is unambiguous
        F.floor("c_acctbal").cast("int").alias("bal_int"),
        F.expr("try_cast(c_name AS double)").alias("name_as_num"),
        (F.col("c_acctbal") > 0).alias("in_credit"),
    )


# ---------------------------------------------------------------------------
# q49 — lake round-trip: create → 2 append commits → compact → scan.
# The oracle never sees the lake: identical results prove the versioned
# write/commit/compact/scan path is lossless.
# ---------------------------------------------------------------------------
@register(
    "q49_lake_roundtrip",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_lines,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,2))), 2) AS DOUBLE) AS sum_price
FROM lineitem
WHERE l_linenumber <= 2
GROUP BY l_returnflag
""",
)
def q49_lake_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog, compact

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 2)
    root = tempfile.mkdtemp(prefix="lake_roundtrip_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.lineitem_rt", li.schema)
    # two append commits (snapshot log grows), then bin-pack compaction
    t.append(li.filter(F.col("l_orderkey") % 2 == 0).repartition(4))
    t.append(li.filter(F.col("l_orderkey") % 2 == 1).repartition(4))
    compact(t, target_file_size=256 * 1024 * 1024)
    return (
        t.scan()
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice", 2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# q80 — lake refs round-trip: append → tag → branch-write (audit) →
# publish (fast-forward) → overwrite main → scan the TAG. The oracle
# never sees the lake; matching the original parquet aggregate proves
# tag time-travel returns exactly the pre-overwrite table through the
# whole write-audit-publish cycle.
# ---------------------------------------------------------------------------
@register(
    "q80_lake_refs_roundtrip",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,2))), 2) AS DOUBLE) AS sum_price
FROM orders
GROUP BY o_orderstatus
""",
)
def q80_lake_refs_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog

    orders = _t(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="lake_refs_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.orders_refs", orders.schema)
    # write-audit-publish: half lands on main, half goes through a branch
    t.append(orders.filter(F.col("o_orderkey") % 2 == 0).repartition(2))
    t.create_branch("audit")
    t.append(orders.filter(F.col("o_orderkey") % 2 == 1).repartition(2), branch="audit")
    t.fast_forward("audit")
    t.create_tag("complete")  # pin the full table
    # main moves on; the tag must still see the complete data
    t.overwrite(orders.limit(1))
    return (
        t.scan(ref="complete")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# q87 — merge-on-read round trip: lake writes, a position delete
# (predicate tombstones, no data rewrite), an equality delete (key
# tombstones), then an aggregate over the tombstone-filtered scan. The
# oracle states the same result as plain SQL filters — proving the
# tombstone anti-joins reproduce exact relational semantics.
# ---------------------------------------------------------------------------
@register(
    "q87_lake_mor_roundtrip",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_lines,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,2))), 2) AS DOUBLE) AS sum_price
FROM lineitem
WHERE l_linenumber <= 2
  AND NOT (l_quantity < 5)
  AND l_orderkey % 97 <> 0
GROUP BY l_returnflag
""",
)
def q87_lake_mor_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 2)
    root = tempfile.mkdtemp(prefix="lake_mor_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.lineitem_mor", li.schema)
    t.append(li.filter(F.col("l_orderkey") % 2 == 0).repartition(2))
    t.append(li.filter(F.col("l_orderkey") % 2 == 1).repartition(2))
    # position delete: tombstone small-quantity lines in place
    t.delete_where({"l_quantity": ("<", 5)})
    # equality delete: tombstone every line of orders divisible by 97
    t.delete_by_key(
        li.filter(F.col("l_orderkey") % 97 == 0).select("l_orderkey").distinct()
    )
    return (
        t.scan()
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice", 2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# q94 — copy-on-write UPDATE + row-level CDC changelog round trip: a lake
# table takes an append, a stats-targeted UPDATE (pre-image delete +
# post-image insert in the changelog), and a copy-on-write DELETE; the
# changelog is then aggregated by change type. The oracle rebuilds the
# exact expected change stream with plain SQL set logic — proving
# update_where rewrites exactly the matching rows and scan_changelog
# reconstructs row-level history (Iceberg UPDATE + create_changelog_view
# parity; the update and delete predicates are disjoint so each change
# row has one unambiguous provenance).
# ---------------------------------------------------------------------------
@register(
    "q94_lake_update_changelog",
    oracle="""
WITH base AS (SELECT * FROM orders WHERE o_orderkey % 4 = 0),
upd AS (SELECT * FROM base WHERE o_totalprice >= 200000.0),
del AS (SELECT * FROM base WHERE o_totalprice < 50000.0),
changes AS (
  SELECT 'insert' AS change_type, FALSE AS updated, o_totalprice FROM base
  UNION ALL SELECT 'delete', FALSE, o_totalprice FROM upd
  UNION ALL SELECT 'insert', TRUE, o_totalprice FROM upd
  UNION ALL SELECT 'delete', FALSE, o_totalprice FROM del
)
SELECT change_type, updated,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,2))), 2) AS DOUBLE)
           AS sum_price
FROM changes
GROUP BY change_type, updated
""",
)
def q94_lake_update_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 0)
    root = tempfile.mkdtemp(prefix="lake_cdc_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.orders_cdc", orders.schema)
    t.append(orders.repartition(4))
    t.update_where(
        {"o_totalprice": (">=", 200000.0)}, {"o_orderpriority": "X-URGENT"}
    )
    t.delete({"o_totalprice": ("<", 50000.0)})
    cl = t.scan_changelog()
    return (
        cl.select(
            F.col("_change_type").alias("change_type"),
            (F.col("o_orderpriority") == "X-URGENT").alias("updated"),
            "o_totalprice",
        )
        .groupBy("change_type", "updated")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice", 2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# q95 — multi-clause MERGE INTO round trip: conditional matched-update
# with an expression over BOTH sides (target balance += source balance,
# gated on positive target balance) plus not-matched insert, then an
# aggregate over the merged table. The oracle restates the merge as
# explicit SQL set logic (left join for the matched branch, anti join
# for inserts) — proving merge_into's full-outer-join rewrite implements
# exact MERGE semantics (Iceberg/Delta MERGE INTO parity).
# ---------------------------------------------------------------------------
@register(
    "q95_lake_merge_into",
    oracle="""
WITH target AS (SELECT * FROM customer WHERE c_custkey % 3 = 0),
src AS (SELECT * FROM customer WHERE c_custkey % 6 = 0 OR c_custkey % 3 = 1),
merged AS (
  SELECT t.c_mktsegment,
         CASE WHEN s.c_custkey IS NOT NULL AND t.c_acctbal > 0
              THEN t.c_acctbal + s.c_acctbal ELSE t.c_acctbal END AS bal
  FROM target t LEFT JOIN src s ON t.c_custkey = s.c_custkey
  UNION ALL
  SELECT s.c_mktsegment, s.c_acctbal
  FROM src s LEFT JOIN target t ON s.c_custkey = t.c_custkey
  WHERE t.c_custkey IS NULL
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(ROUND(SUM(CAST(bal AS DECIMAL(38,2))), 2) AS DOUBLE) AS sum_bal
FROM merged
GROUP BY c_mktsegment
""",
)
def q95_lake_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog

    cust = _t(spark, sf_dir, "customer")
    root = tempfile.mkdtemp(prefix="lake_merge_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.cust_merge", cust.schema)
    t.append(cust.filter(F.col("c_custkey") % 3 == 0).repartition(4))
    src = cust.filter(
        (F.col("c_custkey") % 6 == 0) | (F.col("c_custkey") % 3 == 1)
    )
    t.merge_into(
        src,
        on="c_custkey",
        when_matched_update={
            "c_acctbal": F.col("c_acctbal") + F.col("src_c_acctbal")
        },
        matched_condition=F.col("c_acctbal") > 0,
    )
    return (
        t.scan()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("c_acctbal", 2).alias("sum_bal"),
        )
    )


# ---------------------------------------------------------------------------
# q92 — metadata-only aggregates: count/min/max answered from manifest
# statistics (count_rows / stats_min_max — zero data files opened for
# the no-predicate paths), plus a stats-refined predicate count where
# only boundary files are scanned. The oracle states the same answers
# as plain SQL over the raw parquet — proving the manifest-stat math is
# exact, not approximate. Iceberg-parity: engines short-circuit
# SELECT COUNT(*) on Iceberg tables the same way.
# ---------------------------------------------------------------------------
@register(
    "q92_lake_metadata_agg",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
       CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice >= 100000.0) AS BIGINT)
           AS n_big
FROM orders
""",
)
def q92_lake_metadata_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StructField, StructType

    from icebergplus_spark.lake import LocalLakeCatalog, rewrite_manifests

    orders = _t(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="lake_magg_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.orders_magg", orders.schema)
    # two appends (two manifests), then consolidate to one: the
    # metadata aggregates must read through the rewritten manifest
    t.append(orders.filter(F.col("o_orderkey") % 2 == 0).repartition(4))
    t.append(orders.filter(F.col("o_orderkey") % 2 == 1).repartition(4))
    rewrite_manifests(t)
    n_rows = t.count_rows()
    min_key, max_key = t.stats_min_max("o_orderkey")
    n_big = t.count_rows({"o_totalprice": (">=", 100000.0)})
    out_schema = StructType(
        [
            StructField("n_rows", LongType(), False),
            StructField("min_key", LongType(), False),
            StructField("max_key", LongType(), False),
            StructField("n_big", LongType(), False),
        ]
    )
    return local_rows_df(
        spark, [(n_rows, int(min_key), int(max_key), n_big)], out_schema
    )


# ---------------------------------------------------------------------------
# q100 — full-sync MERGE round trip: matched-update + not-matched insert
# + WHEN NOT MATCHED BY SOURCE DELETE (conditioned: only low-balance
# stale rows are purged). The oracle restates all three clauses as
# explicit SQL set logic — inner join for updates, filtered anti join
# for surviving target-only rows, anti join for inserts.
# ---------------------------------------------------------------------------
@register(
    "q100_lake_sync_merge",
    oracle="""
WITH t AS (SELECT * FROM customer WHERE c_custkey % 3 = 0),
s AS (SELECT * FROM customer WHERE c_custkey % 4 = 0),
merged AS (
  SELECT t.c_mktsegment, t.c_acctbal + s.c_acctbal AS bal
  FROM t JOIN s ON t.c_custkey = s.c_custkey
  UNION ALL
  SELECT t.c_mktsegment, t.c_acctbal
  FROM t LEFT JOIN s ON t.c_custkey = s.c_custkey
  WHERE s.c_custkey IS NULL AND NOT (t.c_acctbal < 5000.0)
  UNION ALL
  SELECT s.c_mktsegment, s.c_acctbal
  FROM s LEFT JOIN t ON s.c_custkey = t.c_custkey
  WHERE t.c_custkey IS NULL
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(ROUND(SUM(CAST(bal AS DECIMAL(38,2))), 2) AS DOUBLE) AS sum_bal
FROM merged
GROUP BY c_mktsegment
""",
)
def q100_lake_sync_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog

    cust = _t(spark, sf_dir, "customer")
    root = tempfile.mkdtemp(prefix="lake_sync_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.cust_sync", cust.schema)
    t.append(cust.filter(F.col("c_custkey") % 3 == 0).repartition(4))
    src = cust.filter(F.col("c_custkey") % 4 == 0)
    t.merge_into(
        src,
        on="c_custkey",
        when_matched_update={
            "c_acctbal": F.col("c_acctbal") + F.col("src_c_acctbal")
        },
        when_not_matched_insert=True,
        when_not_matched_by_source_delete=True,
        not_matched_by_source_condition=F.col("c_acctbal") < 5000.0,
    )
    return (
        t.scan()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("c_acctbal", 2).alias("sum_bal"),
        )
    )


# ---------------------------------------------------------------------------
# q101 — binned range join: customers matched to OVERLAPPING balance
# bands through the bin-and-equi-join rewrite (functions/range_join.py)
# instead of a broadcast-nested-loop theta join — the interval-join
# plan that survives 100 TB. The oracle states the same join as a
# plain BETWEEN theta join; hash-matching it proves the binned rewrite
# is exact (multi-band matches included).
# ---------------------------------------------------------------------------
@register(
    "q101_binned_range_join",
    oracle="""
WITH bands AS (
  SELECT r_regionkey AS band_id,
         r_regionkey * 2000.0 - 1000.0 AS lo,
         r_regionkey * 2000.0 + 2500.0 AS hi
  FROM region
)
SELECT band_id,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,2))), 2) AS DOUBLE) AS sum_bal
FROM customer JOIN bands ON c_acctbal BETWEEN lo AND hi
GROUP BY band_id
""",
)
def q101_binned_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.functions.range_join import bin_range_join

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    bands = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("band_id"),
        (F.col("r_regionkey") * 2000.0 - 1000.0).alias("lo"),
        (F.col("r_regionkey") * 2000.0 + 2500.0).alias("hi"),
    )
    joined = bin_range_join(cust, bands, "c_acctbal", "lo", "hi", bin_width=1000.0)
    return joined.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("c_acctbal", 2).alias("sum_bal"),
    )


# ---------------------------------------------------------------------------
# q103 — SQL DML round-trip: the lake driven ENTIRELY through statement
# text (lake_sql): INSERT INTO ... SELECT, stats-targeted UPDATE and
# DELETE, then a multi-clause MERGE (matched update + not-matched
# insert). The oracle never sees the lake or the DML — it recomputes the
# final state as one SELECT over the raw parquet, so a hash match
# proves every routed statement applied exactly its SQL semantics.
# ---------------------------------------------------------------------------
@register(
    "q103_sql_dml_roundtrip",
    oracle="""
SELECT n_nationkey,
       CASE WHEN n_nationkey >= 20 THEN n_name
            WHEN n_nationkey >= 18 THEN 'merged'
            WHEN n_regionkey = 2 THEN 'updated'
            ELSE n_name END AS n_name,
       n_regionkey
FROM nation
""",
)
def q103_sql_dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog
    from icebergplus_spark.lake.sql_dml import lake_sql

    nation = _t(spark, sf_dir, "nation")
    nation.createOrReplaceTempView("q103_nation_src")
    root = tempfile.mkdtemp(prefix="lake_sql_dml_")
    cat = LocalLakeCatalog(spark, root).start()
    cat.create_table("bench.nation_dml", nation.schema)
    lake_sql(cat, "INSERT INTO bench.nation_dml SELECT * FROM q103_nation_src")
    lake_sql(
        cat,
        "UPDATE bench.nation_dml SET n_name = 'updated' WHERE n_regionkey = 2",
    )
    lake_sql(cat, "DELETE FROM bench.nation_dml WHERE n_nationkey >= 20")
    spark.sql(
        "SELECT * FROM q103_nation_src WHERE n_nationkey >= 18"
    ).createOrReplaceTempView("q103_merge_src")
    lake_sql(
        cat,
        """
        MERGE INTO bench.nation_dml t USING q103_merge_src s
          ON t.n_nationkey = s.n_nationkey
        WHEN MATCHED THEN UPDATE SET n_name = 'merged'
        WHEN NOT MATCHED THEN INSERT *
        """,
    )
    return cat.load_table("bench.nation_dml").scan()


# ---------------------------------------------------------------------------
# q104 — the batch DataSource under the oracle gate: the table is
# WRITTEN through the lake commit path but READ back through
# spark.read.format("lake") — the generic Python DataSource any Spark
# job can use with no LakeTable import. A hash match proves the
# source's worker-side Arrow reads (column mapping, partition-value
# recovery, per-file partitions) are lossless against the raw parquet.
# ---------------------------------------------------------------------------
@register(
    "q104_lake_batch_source",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,2))), 2) AS DOUBLE) AS sum_price
FROM orders
WHERE o_orderkey % 3 = 0
GROUP BY o_orderstatus
""",
)
def q104_lake_batch_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog
    from icebergplus_spark.streaming.lake_source import read_lake_batch

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    root = tempfile.mkdtemp(prefix="lake_batch_src_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.orders_bs", orders.schema)
    t.append(orders.repartition(4))
    return (
        read_lake_batch(spark, t.table_dir)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# q105 — the batch DataSource WRITE path under the oracle gate: rows go
# in through df.write.format("lake") (executor-side parquet + footer
# stats, one atomic snapshot in commit()) and come back through the
# native scan. Hash match = the distributed DSv2 write is lossless and
# its executor-harvested manifest is a faithful inventory.
# ---------------------------------------------------------------------------
@register(
    "q105_lake_batch_writer",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n_custs,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,2))), 2) AS DOUBLE) AS sum_bal
FROM customer
WHERE c_custkey % 2 = 1
GROUP BY c_mktsegment
""",
)
def q105_lake_batch_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog
    from icebergplus_spark.streaming.lake_source import write_lake_batch

    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 2 == 1)
    root = tempfile.mkdtemp(prefix="lake_batch_w_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.cust_w", cust.schema)
    write_lake_batch(cust.repartition(4), t.table_dir)
    return (
        t.refresh()
        .scan()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            dsum("c_acctbal", 2).alias("sum_bal"),
        )
    )


# ---------------------------------------------------------------------------
# q106 — continuous aggregate under the oracle gate: events land in a
# lake table over TWO append commits; the hourly rollup is refreshed
# INCREMENTALLY after each (only buckets touched by new snapshots are
# recomputed, tracked via the rollup's own snapshot summaries). The
# oracle aggregates the raw events in one shot — a hash match proves
# incremental maintenance converges to the full recompute exactly.
# ---------------------------------------------------------------------------
@register(
    "q106_continuous_aggregate",
    oracle="""
SELECT DATE_TRUNC('hour', ts) AS bucket,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def q106_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog
    from icebergplus_spark.lake.rollup import refresh_rollup, rollup_table_schema
    from icebergplus_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="lake_rollup_")
    cat = LocalLakeCatalog(spark, root).start()
    src = cat.create_table("bench.events_ca", ev.schema)
    rollup = cat.create_table("bench.events_hourly", rollup_table_schema())
    # two commits, incremental refresh after each — the steady state a
    # streaming ingest drives
    src.append(ev.filter(F.col("event_id") % 2 == 0))
    refresh_rollup(src, rollup)
    src.append(ev.filter(F.col("event_id") % 2 == 1))
    refresh_rollup(src, rollup)
    return rollup.refresh().scan().select(
        "bucket",
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# q107 — incremental (CDC-style) consumption: after a baseline commit,
# a consumer reads ONLY the rows added by later commits via
# scan_incremental. The oracle computes the same slice from the raw
# data — a hash match proves snapshot attribution (added_files) feeds
# consumers exactly the delta, nothing re-read, nothing lost.
# ---------------------------------------------------------------------------
@register(
    "q107_incremental_scan",
    oracle="""
SELECT p_brand,
       COUNT(*) AS n_parts,
       CAST(ROUND(SUM(CAST(p_retailprice AS DECIMAL(38,2))), 2) AS DOUBLE) AS sum_price
FROM part
WHERE p_partkey % 4 = 1
GROUP BY p_brand
""",
)
def q107_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog

    part = _t(spark, sf_dir, "part")
    root = tempfile.mkdtemp(prefix="lake_incr_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.part_incr", part.schema)
    t.append(part.filter(F.col("p_partkey") % 4 == 0))  # baseline
    mark = t.current_snapshot_id
    t.append(part.filter(F.col("p_partkey") % 4 == 1))  # the delta
    return (
        t.scan_incremental(from_snapshot_id=mark)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            dsum("p_retailprice", 2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# q108 — the OBJECT-STORE commit path under the oracle gate: the same
# write→commit→compact→scan round trip as q49, but the catalog runs
# ObjectStoreCommitIO + a directory-lease lock — no atomic rename
# anywhere in the protocol (conditional create is the CAS, discovery is
# hint+LIST). A hash match proves the rename-less lifecycle is
# lossless, driver-visibly, not just in pytest.
# ---------------------------------------------------------------------------
@register(
    "q108_lake_objectstore_roundtrip",
    oracle="""
SELECT l_linestatus,
       COUNT(*) AS n_lines,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,2))), 2) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_partkey % 5 = 0
GROUP BY l_linestatus
""",
)
def q108_lake_objectstore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import (
        DirectoryLeaseCommitLock,
        LocalLakeCatalog,
        ObjectStoreCommitIO,
        compact,
    )

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 5 == 0)
    root = tempfile.mkdtemp(prefix="lake_objstore_")
    cat = LocalLakeCatalog(
        spark,
        root,
        commit_io=ObjectStoreCommitIO(lock=DirectoryLeaseCommitLock()),
    ).start()
    t = cat.create_table("bench.lineitem_os", li.schema)
    t.append(li.filter(F.col("l_orderkey") % 2 == 0).repartition(4))
    t.append(li.filter(F.col("l_orderkey") % 2 == 1).repartition(4))
    compact(t, target_file_size=256 * 1024 * 1024)
    return (
        t.scan()
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_quantity", 2).alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# q109 — hidden partitioning under the oracle gate: events land in a
# days(ts)-partitioned table (the partition column never appears in the
# schema or the query), and the scan is planned with a ts predicate the
# transform maps onto partition-value stats. The oracle filters the raw
# events — a hash match proves transform pruning never clips a boundary
# row (the relax-to-inclusive rule) and partition recovery is lossless.
# ---------------------------------------------------------------------------
@register(
    "q109_hidden_partitioning",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
GROUP BY event_type
""",
)
def q109_hidden_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog
    from icebergplus_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="lake_hidden_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.events_hp", ev.schema, partition_spec=["days(ts)"])
    t.append(ev)
    return (
        t.scan({"ts": (">=", "2024-01-10 00:00:00")})
        .filter(F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# q110 — zero-copy clone under the oracle gate: clone a table
# (metadata-only, shared data files), then write DIVERGENT rows to
# source and clone. The result unions both tables' post-divergence
# states; the oracle recomputes them from raw data. A hash match proves
# clone isolation — neither side's writes leak into the other — while
# the pre-clone rows remain shared bytes on disk.
# ---------------------------------------------------------------------------
@register(
    "q110_zero_copy_clone",
    oracle="""
WITH base AS (SELECT * FROM region),
src AS (
  SELECT 'source' AS side, r_regionkey FROM base
  UNION ALL SELECT 'source', 100 + r_regionkey FROM base
),
cl AS (
  SELECT 'clone' AS side, r_regionkey FROM base
  UNION ALL SELECT 'clone', 200 + r_regionkey FROM base
)
SELECT side, COUNT(*) AS n, CAST(SUM(r_regionkey) AS BIGINT) AS key_sum
FROM (SELECT * FROM src UNION ALL SELECT * FROM cl)
GROUP BY side
""",
)
def q110_zero_copy_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog

    region = _t(spark, sf_dir, "region")
    root = tempfile.mkdtemp(prefix="lake_clone_")
    cat = LocalLakeCatalog(spark, root).start()
    src = cat.create_table("bench.region_src", region.schema)
    src.append(region)
    clone = cat.clone_table("bench.region_src", "bench.region_cl")
    # divergent writes AFTER the clone point
    shifted = lambda k: region.select(  # noqa: E731
        *[
            (F.col(c) + k).alias(c) if c == "r_regionkey" else F.col(c)
            for c in region.columns
        ]
    )
    src.refresh().append(shifted(100))
    clone.append(shifted(200))
    u = (
        src.scan().select(F.lit("source").alias("side"), "r_regionkey")
        .unionByName(
            clone.scan().select(F.lit("clone").alias("side"), "r_regionkey")
        )
    )
    return u.groupBy("side").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r_regionkey").alias("key_sum"),
    )


# ---------------------------------------------------------------------------
# q111 — partition-spec evolution under the oracle gate: the table
# starts identity-partitioned on event_type, evolves to days(ts) mid-
# life, and the scan must stitch files written under BOTH layouts
# (per-file layout detection + per-era partition-value recovery). The
# oracle aggregates the raw events — a hash match proves no row is
# lost, duplicated, or mis-valued across the spec change.
# ---------------------------------------------------------------------------
@register(
    "q111_partition_evolution",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY event_type
""",
)
def q111_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog
    from icebergplus_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="lake_pevo_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.events_pe", ev.schema, partition_cols=["event_type"])
    t.append(ev.filter(F.col("event_id") % 2 == 0))
    t.update_partition_spec(["days(ts)"])  # evolve mid-life
    t.append(ev.filter(F.col("event_id") % 2 == 1))
    return (
        t.scan()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# q112 — CHECK constraints under the oracle gate: a violating batch is
# REJECTED atomically (nothing commits) and compliant batches land
# around it. The result is the table's final state; the oracle computes
# the same set from the raw data with the constraint as a filter — a
# hash match proves rejected writes leave zero residue (no partial
# files, no phantom snapshot) while accepted ones are untouched.
# ---------------------------------------------------------------------------
@register(
    "q112_check_constraints",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
FROM customer
WHERE c_custkey % 10 = 3 AND c_acctbal >= 0
GROUP BY c_mktsegment
""",
)
def q112_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog
    from icebergplus_spark.lake.table import ConstraintViolation

    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 3)
    root = tempfile.mkdtemp(prefix="lake_check_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.cust_ck", cust.schema)
    t.add_constraint("balance_ok", "c_acctbal >= 0")
    t.append(cust.filter(F.col("c_acctbal") >= 0))  # compliant
    # The violating batch is synthesized (all balances forced negative)
    # so the gate MUST fire at every SF — the raw data's own negative
    # rows are not guaranteed to exist in a small sample.
    violating = cust.withColumn(
        "c_acctbal", (-F.abs(F.col("c_acctbal")) - F.lit(1)).cast("double")
    )
    try:
        t.append(violating)  # all rows negative → rejected whole
        raise AssertionError("constraint gate failed to fire")
    except ConstraintViolation:
        pass
    return (
        t.refresh()
        .scan()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("c_acctbal") < 0, 1).otherwise(0)
            ).cast("long").alias("n_negative"),
        )
    )


# ---------------------------------------------------------------------------
# q113 — ANALYZE TABLE under the oracle gate: lake roundtrip + one-pass
# per-column statistics (NDV / null count, persisted per-snapshot like
# Iceberg's puffin stats files). The oracle recomputes the same numbers
# straight from the raw data — a hash match proves the stats describe
# exactly the committed table state. min/max strings and the
# approx-mode path are pytest-covered (test_analyze_stats.py); the
# driver-gated projection sticks to engine-portable exact values.
# ---------------------------------------------------------------------------
@register(
    "q113_analyze_stats",
    oracle="""
WITH src AS (SELECT * FROM orders WHERE o_orderkey % 10 = 7)
SELECT col_name, ndv, null_count FROM (
  SELECT 'o_orderkey' AS col_name, COUNT(DISTINCT o_orderkey) AS ndv,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count FROM src
  UNION ALL
  SELECT 'o_custkey', COUNT(DISTINCT o_custkey),
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM src
  UNION ALL
  SELECT 'o_orderstatus', COUNT(DISTINCT o_orderstatus),
         CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM src
  UNION ALL
  SELECT 'o_totalprice', COUNT(DISTINCT o_totalprice),
         CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM src
  UNION ALL
  SELECT 'o_orderdate', COUNT(DISTINCT o_orderdate),
         CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM src
  UNION ALL
  SELECT 'o_orderpriority', COUNT(DISTINCT o_orderpriority),
         CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM src
)
""",
)
def q113_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 7)
    root = tempfile.mkdtemp(prefix="lake_stats_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.orders_stats", orders.schema)
    t = t.append(orders)
    t = t.analyze(mode="exact")
    return t.metadata_df("statistics").select(
        F.col("column").alias("col_name"), "ndv", "null_count"
    )


# ---------------------------------------------------------------------------
# q118 — compaction under the oracle gate: many small appends → bin-pack
# compaction (snapshot-swap rewrite) → scan. The oracle aggregates the
# raw source, so the hash match proves compaction moved bytes without
# changing a single row, and the query itself asserts the file count
# actually dropped (the invariant + the point of the operation, both
# falsifiable). Maintenance correctness is what makes day-2 ops safe to
# automate at 100 TB.
# ---------------------------------------------------------------------------
@register(
    "q118_compaction_gate",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,2))), 2) AS DOUBLE)
         AS revenue
FROM orders
WHERE o_orderkey % 4 = 1
GROUP BY o_orderstatus
""",
)
def q118_compaction_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog
    from icebergplus_spark.lake.maintenance import compact

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 1)
    root = tempfile.mkdtemp(prefix="lake_compact_gate_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.orders_cmp", orders.schema)
    # 5 small appends → 5 small files (the streaming-ingest debris shape)
    for i in range(5):
        t = t.append(orders.filter(F.col("o_orderkey") % 20 == (1 + 4 * i)))
    before = len(t._lists(t.snapshot()).manifests)
    report = compact(t)
    t = t.refresh()
    assert report["files_after"] < report["files_before"], report
    assert before >= 1
    return (
        t.scan()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(38,2)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q119 — rollback under the oracle gate: commit good data, commit a bad
# batch, CALL-style rollback to the good snapshot, scan. The oracle
# computes the good state from the raw source — the hash match proves
# rollback restored EXACTLY the pre-bad-commit table (and history is
# preserved: the bad snapshot stays time-travelable until expiry).
# ---------------------------------------------------------------------------
@register(
    "q119_rollback_gate",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,2))), 2) AS DOUBLE)
         AS balance
FROM customer
WHERE c_custkey % 3 = 0
GROUP BY c_mktsegment
""",
)
def q119_rollback_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog
    from icebergplus_spark.lake.maintenance import rollback

    cust = _t(spark, sf_dir, "customer")
    good = cust.filter(F.col("c_custkey") % 3 == 0)
    bad = cust.filter(F.col("c_custkey") % 3 == 1).withColumn(
        "c_acctbal", F.lit(-1e9)
    )
    root = tempfile.mkdtemp(prefix="lake_rollback_gate_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.cust_rb", cust.schema)
    t = t.append(good)
    good_snap = t.current_snapshot_id
    t = t.append(bad)  # the fat-fingered commit
    rollback(t, good_snap)
    t = t.refresh()
    # history preserved: the bad snapshot is still in the log
    assert len(t.history()) == 3  # good, bad, rollback
    return (
        t.scan()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(38,2)")), 2)
            .cast("double")
            .alias("balance"),
        )
    )


# ---------------------------------------------------------------------------
# q120 — write-audit-publish (WAP) under the oracle gate: new data is
# committed to a STAGING BRANCH (main never sees it), audited there
# (row count + constraint-style predicate on the branch scan), then
# published by fast-forwarding main. The oracle computes the final
# published state from the raw source — a hash match proves the branch
# write, the audit read, and the fast-forward moved exactly the audited
# rows and nothing else. This is Iceberg's recommended pattern for
# gated production ingest.
# ---------------------------------------------------------------------------
@register(
    "q120_wap_gate",
    oracle="""
SELECT s_nationkey,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(38,2))), 2) AS DOUBLE)
         AS balance
FROM supplier
GROUP BY s_nationkey
""",
)
def q120_wap_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog

    supp = _t(spark, sf_dir, "supplier")
    first = supp.filter(F.col("s_suppkey") % 2 == 0)
    second = supp.filter(F.col("s_suppkey") % 2 == 1)
    root = tempfile.mkdtemp(prefix="lake_wap_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.supp_wap", supp.schema)
    t = t.append(first)
    published = t.current_snapshot_id

    # WRITE: the new batch lands on a staging branch only
    t = t.create_branch("staging")
    t = t.append(second, branch="staging")
    assert t.current_snapshot_id == published, "main moved during staging"

    # AUDIT: validate on the branch before anyone downstream sees it
    staged = t.scan(ref="staging")
    audit_n = staged.count()
    assert audit_n == supp.count(), "staged branch missing rows"
    assert staged.filter(F.col("s_suppkey").isNull()).count() == 0

    # PUBLISH: fast-forward main onto the audited branch head
    t = t.fast_forward("staging")
    return (
        t.scan()
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("s_acctbal").cast("decimal(38,2)")), 2)
            .cast("double")
            .alias("balance"),
        )
    )


# ---------------------------------------------------------------------------
# q121 — schema evolution under the oracle gate: rows are written under
# THREE successive schemas (original → ADD COLUMN with default →
# RENAME) and scanned back as one frame. The oracle rebuilds the same
# three eras from the raw source with the default filled in — a hash
# match proves era-grouped reads stitch old files, defaulted columns,
# and renamed fields losslessly (Iceberg field-id semantics: rename
# never rewrites data; pre-add files read the declared default).
# ---------------------------------------------------------------------------
@register(
    "q121_schema_evolution_gate",
    oracle="""
SELECT n_nationkey,
       n_name AS nation_name,
       CASE WHEN n_nationkey % 2 = 0 THEN 'old-era' ELSE 'amended' END
         AS era_label
FROM nation
""",
)
def q121_schema_evolution_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog

    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    old = nation.filter(F.col("n_nationkey") % 2 == 0)
    new = nation.filter(F.col("n_nationkey") % 2 == 1)
    root = tempfile.mkdtemp(prefix="lake_sev_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.nation_sev", old.schema)
    t = t.append(old)  # era 1: two columns
    # era 2: new column, default backfills era-1 files at read time
    t = t.add_column("era_label", "string", default="old-era")
    t = t.append(new.withColumn("era_label", F.lit("amended")))
    # era 3: rename is metadata-only (field-id mapping, no rewrite)
    t = t.rename_column("n_name", "nation_name")
    return t.scan().select("n_nationkey", "nation_name", "era_label")


# ---------------------------------------------------------------------------
# q122 — quarantine ingest under the oracle gate: a mixed batch splits
# at the constraint boundary — compliant rows land in the main table,
# violating rows land in a quarantine table tagged with the failed
# constraint — instead of q112's reject-everything. The result unions
# both tables' per-segment counts; the oracle rebuilds the same split
# from the raw source, so the hash match proves no row was lost,
# duplicated, or mis-routed. This is the expectation pattern every
# production curation pipeline runs at the ingest edge.
# ---------------------------------------------------------------------------
@register(
    "q122_quarantine_gate",
    oracle="""
SELECT c_mktsegment,
       'kept' AS status,
       COUNT(*) AS n
FROM customer
WHERE c_custkey % 5 = 2 AND c_acctbal >= 0
GROUP BY c_mktsegment
UNION ALL
SELECT c_mktsegment,
       'quarantined' AS status,
       COUNT(*) AS n
FROM customer
WHERE c_custkey % 5 = 2 AND c_acctbal < 0
GROUP BY c_mktsegment
""",
)
def q122_quarantine_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import StringType, StructField, StructType

    from icebergplus_spark.lake import LocalLakeCatalog

    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 5 == 2)
    root = tempfile.mkdtemp(prefix="lake_quar_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.cust_q", cust.schema)
    t.add_constraint("balance_ok", "c_acctbal >= 0")
    t = t.refresh()
    q_schema = StructType(
        cust.schema.fields + [StructField("_violated", StringType())]
    )
    quar = cat.create_table("bench.cust_q_quarantine", q_schema)
    report = t.append_with_quarantine(cust, quar)
    assert report["appended"] + report["quarantined"] == cust.count()
    kept = (
        t.refresh()
        .scan()
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("c_mktsegment", F.lit("kept").alias("status"), "n")
    )
    quarantined = (
        quar.refresh()
        .scan()
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("c_mktsegment", F.lit("quarantined").alias("status"), "n")
    )
    return kept.unionByName(quarantined)


# ---------------------------------------------------------------------------
# q123 — row lineage under the oracle gate: scan_with_lineage assigns
# every row a stable _row_id derived purely from committed metadata
# (file birth order + position — no allocation step, so no writer
# race). Two appends then a lineage scan; the gated aggregate asserts
# the id space is exactly dense 0..n-1 with one id per row and that
# each append era carries its own birth snapshot. The oracle computes
# the same invariants from the raw source row count — violating any of
# uniqueness, density, or era attribution flips a gated number.
# ---------------------------------------------------------------------------
@register(
    "q123_row_lineage_gate",
    oracle="""
WITH src AS (SELECT * FROM supplier WHERE s_suppkey % 3 <> 2)
SELECT COUNT(*) AS n_rows,
       COUNT(*) AS n_distinct_ids,
       CAST(0 AS BIGINT) AS min_id,
       CAST(COUNT(*) - 1 AS BIGINT) AS max_id,
       CAST(2 AS BIGINT) AS n_birth_snapshots
FROM src
""",
)
def q123_row_lineage_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog

    supp = _t(spark, sf_dir, "supplier")
    era1 = supp.filter(F.col("s_suppkey") % 3 == 0)
    era2 = supp.filter(F.col("s_suppkey") % 3 == 1)
    root = tempfile.mkdtemp(prefix="lake_lineage_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.supp_lin", supp.schema)
    t = t.append(era1)
    t = t.append(era2)
    lin = t.scan_with_lineage()
    return lin.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("_row_id").alias("n_distinct_ids"),
        F.min("_row_id").alias("min_id"),
        F.max("_row_id").alias("max_id"),
        F.countDistinct("_last_updated_snapshot_id").alias(
            "n_birth_snapshots"
        ),
    )


# ---------------------------------------------------------------------------
# q128 — expectation report under the oracle gate: validate(df) counts
# each constraint's violations over a batch WITHOUT writing (the
# monitoring third mode next to reject-batch q112 and quarantine q122).
# The oracle recomputes the same counts from the raw source; the query
# also proves the no-write contract (table still empty after validate).
# ---------------------------------------------------------------------------
@register(
    "q128_validate_gate",
    oracle="""
WITH src AS (SELECT * FROM customer WHERE c_custkey % 7 = 3)
SELECT 'balance_ok' AS constraint_name,
       CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS violations
FROM src
UNION ALL
SELECT 'small_key',
       CAST(SUM(CASE WHEN c_custkey >= 100000000 THEN 1 ELSE 0 END) AS BIGINT)
FROM src
""",
)
def q128_validate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog

    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 7 == 3)
    root = tempfile.mkdtemp(prefix="lake_validate_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.cust_v", cust.schema)
    t.add_constraint("balance_ok", "c_acctbal >= 0")
    t.add_constraint("small_key", "c_custkey < 100000000")
    t = t.refresh()
    report = t.validate(cust)
    assert t.current_snapshot_id is None, "validate must not write"
    rows = [
        ("balance_ok", report.get("balance_ok", 0)),
        ("small_key", report.get("small_key", 0)),
    ]
    return local_rows_df(
        spark, rows, "constraint_name string, violations long"
    )


# ---------------------------------------------------------------------------
# q129 — referential-integrity audit: the multi-table orphan check a
# warehouse runs before trusting its keys (orders without a customer,
# lineitems without an order, customers without a nation). Three
# anti-join counts in one result; every anti-join shuffles on its own
# key — no cross-table state, embarrassingly scalable.
# ---------------------------------------------------------------------------
@register(
    "q129_referential_audit",
    oracle="""
SELECT 'orders_without_customer' AS relation, CAST(COUNT(*) AS BIGINT) AS orphans
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
UNION ALL
SELECT 'lineitems_without_order', CAST(COUNT(*) AS BIGINT)
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'customers_without_nation', CAST(COUNT(*) AS BIGINT)
FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)
""",
)
def q129_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation")

    def orphans(name, left, lk, right, rk):
        n = left.join(
            right, left[lk] == right[rk], "left_anti"
        ).count()
        return (name, n)

    rows = [
        orphans("orders_without_customer", orders, "o_custkey", cust, "c_custkey"),
        orphans("lineitems_without_order", li, "l_orderkey", orders, "o_orderkey"),
        orphans("customers_without_nation", cust, "c_nationkey", nation, "n_nationkey"),
    ]
    return local_rows_df(spark, rows, "relation string, orphans long")


# ---------------------------------------------------------------------------
# q131 — MULTI-TABLE TRANSACTION under the oracle gate (txn.py): a fact
# and a dim table are written in one transaction (append + overwrite),
# then a SECOND transaction stages more rows into both and aborts —
# the gated join reads the tables afterwards. A hash match proves both
# halves of atomicity driver-visibly: the committed transaction's
# writes are all there, the aborted transaction's staged versions
# (which exist on disk, at the physical head) contribute nothing.
# ---------------------------------------------------------------------------
@register(
    "q131_multi_table_txn",
    oracle="""
WITH fact AS (
  SELECT * FROM orders WHERE o_orderkey % 4 IN (0, 1)
),
dim AS (
  SELECT * FROM customer WHERE c_custkey % 2 = 0
)
SELECT d.c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(f.o_totalprice AS DECIMAL(38,2))), 2) AS DOUBLE)
         AS sum_price
FROM fact f JOIN dim d ON f.o_custkey = d.c_custkey
GROUP BY d.c_mktsegment
""",
)
def q131_multi_table_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    root = tempfile.mkdtemp(prefix="lake_txn_")
    cat = LocalLakeCatalog(spark, root).start()
    fact = cat.create_table("bench.fact_orders", orders.schema)
    dim = cat.create_table("bench.dim_customer", cust.schema)
    fact.append(orders.filter(F.col("o_orderkey") % 4 == 0))
    dim.append(cust.filter(F.col("c_custkey") % 3 == 0))

    # committed transaction: extend the fact AND replace the dim — one
    # atomic flip publishes both
    with cat.transaction() as txn:
        txn.append("bench.fact_orders", orders.filter(F.col("o_orderkey") % 4 == 1))
        txn.overwrite("bench.dim_customer", cust.filter(F.col("c_custkey") % 2 == 0))

    # aborted transaction: stages real versions into BOTH tables (they
    # land at the physical heads), then aborts before publish — readers
    # must resolve straight past them
    txn2 = cat.transaction()
    txn2.append("bench.fact_orders", orders.filter(F.col("o_orderkey") % 4 == 2))
    txn2.append("bench.dim_customer", cust.filter(F.col("c_custkey") % 2 == 1))
    txn2._begin()
    txn2._stage_all()  # both staged on disk...
    txn2.abort()  # ...and never visible

    f = cat.load_table("bench.fact_orders").scan()
    d = cat.load_table("bench.dim_customer").scan()
    return (
        f.join(d, f["o_custkey"] == d["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# q132 — ROW-ID INHERITANCE THROUGH COMPACTION under the oracle gate
# (round-4 close of the q123 caveat): two append eras land in a lake
# table, compact() rewrites them into consolidated files CARRYING each
# row's materialized _row_id and birth snapshot (Iceberg v3
# materialized lineage), and the gated result is the per-era lineage
# profile read AFTER compaction. The oracle computes the profile in
# closed form from commit-time allocation (era 1 owns [0, n1), era 2
# owns [n1, n1+n2)) — a hash match proves the rewrite preserved every
# id and every birth attribution exactly. The query raises if the
# compaction didn't actually rewrite.
# ---------------------------------------------------------------------------
@register(
    "q132_lineage_through_compaction",
    oracle="""
WITH e1 AS (SELECT COUNT(*) AS n FROM supplier WHERE s_suppkey % 3 = 0),
     e2 AS (SELECT COUNT(*) AS n FROM supplier WHERE s_suppkey % 3 = 1)
SELECT CAST(1 AS BIGINT) AS birth_snapshot,
       CAST(e1.n AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS min_id,
       CAST(e1.n - 1 AS BIGINT) AS max_id,
       CAST(e1.n * (e1.n - 1) / 2 AS BIGINT) AS sum_id
FROM e1
UNION ALL
SELECT CAST(2 AS BIGINT),
       CAST(e2.n AS BIGINT),
       CAST(e1.n AS BIGINT),
       CAST(e1.n + e2.n - 1 AS BIGINT),
       CAST((e1.n + (e1.n + e2.n - 1)) * e2.n / 2 AS BIGINT)
FROM e1, e2
""",
)
def q132_lineage_through_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog, compact

    supp = _t(spark, sf_dir, "supplier")
    root = tempfile.mkdtemp(prefix="lake_lineage_compact_")
    cat = LocalLakeCatalog(spark, root).start()
    t = cat.create_table("bench.supp_lc", supp.schema)
    t = t.append(supp.filter(F.col("s_suppkey") % 3 == 0))
    t = t.append(supp.filter(F.col("s_suppkey") % 3 == 1))
    rep = compact(t, target_file_size=256 * 1024 * 1024)
    if not rep.get("compacted"):
        raise AssertionError(f"compaction did not rewrite: {rep}")
    return (
        t.scan_with_lineage()
        .groupBy(F.col("_last_updated_snapshot_id").alias("birth_snapshot"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("_row_id").alias("min_id"),
            F.max("_row_id").alias("max_id"),
            F.sum("_row_id").alias("sum_id"),
        )
    )


# ---------------------------------------------------------------------------
# q134 — the CATALOG-SERVICE commit path under the oracle gate: the
# same write→commit→compact→scan round trip as q108 (object store),
# but commits are CASed through CatalogServiceCommitIO — a database
# row transaction is the commit authority (the reference's actual
# JdbcCatalog-over-H2 design, LocalIcebergCatalog.java:133-135), and
# metadata files are a self-healing materialized cache. A hash match
# proves the third commit strategy's lifecycle is lossless
# driver-visibly, closing the strategy matrix (rename / object-store /
# catalog-service) under the same gate.
# ---------------------------------------------------------------------------
@register(
    "q134_lake_catalog_service_roundtrip",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_lines,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,2))), 2) AS DOUBLE)
         AS sum_price
FROM lineitem
WHERE l_suppkey % 4 = 1
GROUP BY l_returnflag
""",
)
def q134_lake_catalog_service_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from icebergplus_spark.lake import (
        CatalogServiceCommitIO,
        LocalLakeCatalog,
        compact,
    )

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") % 4 == 1)
    root = tempfile.mkdtemp(prefix="lake_catsvc_")
    cat = LocalLakeCatalog(
        spark, root, commit_io=CatalogServiceCommitIO()
    ).start()
    t = cat.create_table("bench.lineitem_svc", li.schema)
    t.append(li.filter(F.col("l_orderkey") % 2 == 0).repartition(4))
    t.append(li.filter(F.col("l_orderkey") % 2 == 1).repartition(4))
    compact(t, target_file_size=256 * 1024 * 1024)
    return (
        t.scan()
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice", 2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# q140 — CONTINUOUS AGGREGATE under the oracle gate (lake/rollup.py —
# hypertable-rollup style): events land in a lake table in three
# appends with an incremental refresh after each — every refresh
# re-aggregates ONLY the buckets the new rows touched and MERGEs them
# in (O(new data), never O(history)). The gated read is the final
# rollup TABLE; the oracle is the from-scratch hourly aggregate over
# all events — a hash match proves incremental maintenance converges
# to the exact recompute, driver-visibly.
# ---------------------------------------------------------------------------
@register(
    "q140_continuous_aggregate",
    oracle="""
SELECT DATE_TRUNC('hour', ts) AS bucket,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def q140_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from icebergplus_spark.lake import LocalLakeCatalog
    from icebergplus_spark.lake.rollup import (
        refresh_rollup,
        rollup_table_schema,
    )
    from icebergplus_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="lake_rollup_")
    cat = LocalLakeCatalog(spark, root).start()
    src = cat.create_table("bench.events_src", ev.schema)
    roll = cat.create_table("bench.events_rollup", rollup_table_schema())
    chunks = (
        ev.filter(F.col("ts") < "2024-01-11"),
        ev.filter((F.col("ts") >= "2024-01-11") & (F.col("ts") < "2024-01-21")),
        ev.filter(F.col("ts") >= "2024-01-21"),
    )
    for chunk in chunks:
        src.append(chunk)
        refresh_rollup(src, roll, window="hour")
    return roll.scan().select(
        "bucket",
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
    )
