"""Local relations over driver-computed rows.

Manifest folds, metadata tables, lineage frames and report frames are
all computed on the driver and are tiny at any table scale. They reach
Spark through ``local_rows_df``, which builds a ``pyarrow.Table`` from
the rows against the declared schema and hands it to
``spark.createDataFrame(table, schema)``.

Contract: while the serialized Arrow batches stay under
``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by default)
Spark plans the frame as a ``LocalRelation`` (``LocalTableScan``).
``collect()`` and ``take()`` over it run no Spark job and start no
Python worker; a plan built on top of it (a merge aggregate, a join)
runs its jobs on the JVM only. Above the threshold Spark itself falls
back to a parallelized Arrow RDD, with the same rows and schema.

Values take the same meaning as under ``createDataFrame(list, schema)``:
rows pass through ``StructType.toInternal`` first, so a naive
``datetime`` names the same instant on both paths, dict rows bind by
field name (tuples and ``Row`` by position), and declared nullability
is kept even for an empty frame.

``local_rows_df`` also attaches the Python rows on the returned frame as
``_lake_local_rows`` so in-process consumers (the SQL scalar-subquery
inliners) can read the value back WITHOUT any Spark action at all; the
frame itself stays a plain, lazily-recomputable plan for every other
consumer."""

from __future__ import annotations

from typing import Any, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


def local_rows_df(
    spark: SparkSession, rows: Iterable[Any], schema: StructType | str
) -> DataFrame:
    """Build a DataFrame over driver-local ``rows`` as a local relation.

    ``schema`` is a ``StructType`` or a DDL string. Dict rows bind by
    field name and are attached as ``Row`` in schema order."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    rows = [
        Row(**{n: r.get(n) for n in schema.names}) if isinstance(r, dict) else r
        for r in rows
    ]
    df = spark.createDataFrame(rows_to_arrow(rows, schema), schema)
    df._lake_local_rows = rows  # type: ignore[attr-defined]
    return df


def rows_to_arrow(rows: list, schema: StructType) -> pa.Table:
    """``rows`` (tuples or ``Row``, positional) as a ``pyarrow.Table``
    against ``schema``, each row passed through ``StructType.toInternal``
    so values mean what they mean to ``createDataFrame(list, schema)``."""
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*map(schema.toInternal, rows))) or [()] * len(schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )


def local_relation_rows(df: DataFrame) -> int | None:
    """The row count of ``df`` when its optimized plan is a
    ``LocalRelation`` (SQL ``VALUES``, ``local_rows_df``, and projections
    Spark folds into them), whose ``collect()`` runs no job; else None."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() != "LocalRelation":
        return None
    return plan.data().size()


def attached_rows(df: DataFrame) -> list | None:
    """The driver-local rows a frame was built from, if it was built by
    ``local_rows_df`` in this process — else None (callers fall back to
    a real action)."""
    return getattr(df, "_lake_local_rows", None)
