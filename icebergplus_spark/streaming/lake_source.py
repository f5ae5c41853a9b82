"""Streaming reads FROM a lake table: a Spark 4 Python streaming data
source whose offsets are snapshot ids.

Iceberg parity: Spark can ``readStream`` an Iceberg table and receive
each committed append as a micro-batch (the reference's table format
feeds streams the same way). Here that is re-expressed with PySpark's
DataSource V2 Python streaming API (`DataSourceStreamReader`): the
offset is ``{"snapshot_id": N}``, `latestOffset` follows the table's
atomic version pointer, and each micro-batch reads exactly the data
files BORN in the snapshot range — never a directory listing, never a
rewritten file.

Semantics (same contract as ``LakeTable.scan_incremental``):
- append / overwrite commits are emitted; compaction, manifest
  rewrites, and delete commits are skipped (they add no rows). This is
  the append-only CDC stream Iceberg's streaming read provides;
  row-level delete events are the CDC-upsert sink's job, not ours.
- schema evolution is honored: files written before a rename are
  mapped physical→logical per the table's column mapping; columns
  added later come back NULL for old files.
- identity-partition values are recovered from the Hive path (they are
  not stored in the data files).

Scale notes: one input partition per data file, so a micro-batch
covering K new files fans out K-wide — the same parallelism a batch
scan of those files would get; the reader yields Arrow record batches
(vectorized, no per-row Python). Planning reads only the (small)
metadata log. At 100 TB nothing here changes: micro-batch size is
bounded by commit cadence, not table size.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from icebergplus_spark.lake.manifest_list import (
    added_files,
    file_facts,
    lineage,
    snapshot_lists,
)
from icebergplus_spark.lake.upgrade import lift
from icebergplus_spark.lake.versions import load_current

SOURCE_NAME = "lake_stream"


def _make_source():
    """Build the DataSource class. Everything the executors touch is
    defined inside this closure with stdlib/pyarrow/pyspark imports,
    plus the version reads of ``lake.versions`` and the snapshot walks
    of ``lake.manifest_list`` (pickled by reference, so the reader's
    planning worker imports this package, as the lake's own pandas
    UDFs do)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class LakeStreamReader(DataSourceStreamReader):
        def __init__(self, options):
            self.table_dir = options["table_dir"]
            self.start_id = int(options.get("from_snapshot_id", 0))
            # rate limit: at most N snapshot ids per micro-batch (Iceberg
            # max-snapshots-per-trigger parity). The FIRST planned batch
            # of a run is unthrottled — the runner asks for the latest
            # offset before the start offset is known, and capping from
            # a guess could stall a checkpoint-restored query; from the
            # second batch on, each micro-batch advances at most N
            # snapshot ids past the last planned/committed end.
            self.max_per_trigger = int(options.get("max_snapshots_per_trigger", 0))
            self._planned_end: int | None = None

        def initialOffset(self):
            self._planned_end = self.start_id
            return {"snapshot_id": self.start_id}

        def latestOffset(self):
            meta = load_current(self.table_dir)
            head = meta.get("current_snapshot_id") or 0
            if self.max_per_trigger > 0 and self._planned_end is not None:
                head = min(head, self._planned_end + self.max_per_trigger)
            return {"snapshot_id": head}

        def partitions(self, start, end):
            self._planned_end = end["snapshot_id"]
            meta = load_current(self.table_dir)
            lo, hi = start["snapshot_id"], end["snapshot_id"]
            mapping = meta.get("column_mapping") or {
                f["name"]: f["name"] for f in meta["schema"]["fields"]
            }
            schema_json = json.dumps(meta["schema"])
            meta_dir = os.path.join(self.table_dir, "metadata")
            # a micro-batch owns the files ADDED by main's commits in
            # (lo, hi] — branch commits interleaved in the log are not
            # main's changes
            paths = added_files(meta_dir, meta["snapshots"], lo, hi)
            return [
                InputPartition(
                    {
                        "path": p,
                        "schema_json": schema_json,
                        "mapping": mapping,
                        "path_values": _parse_path_values(p),
                    }
                )
                for p in sorted(paths)
            ]

        def read(self, partition):
            import pyarrow as pa
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import to_arrow_schema
            from pyspark.sql.types import StructType

            spec = partition.value
            logical = StructType.fromJson(json.loads(spec["schema_json"]))
            target = to_arrow_schema(logical)
            tbl = pq.read_table(spec["path"])
            n = tbl.num_rows
            arrays = []
            for i, f in enumerate(logical.fields):
                phys = spec["mapping"].get(f.name, f.name)
                t = target.field(i).type
                if phys in tbl.column_names:
                    col = tbl[phys].combine_chunks()
                elif phys in spec["path_values"]:
                    raw = spec["path_values"][phys]
                    col = pa.array(
                        [None if raw is None else raw] * n, type=pa.string()
                    )
                else:
                    col = pa.nulls(n, type=t)
                arrays.append(col.cast(t))
            out = pa.table(arrays, schema=target)
            yield from out.to_batches()

        def commit(self, end):
            # offsets live in the query's checkpoint; acking only feeds
            # the rate-limit tracker
            self._planned_end = max(self._planned_end or 0, end["snapshot_id"])

    def _parse_path_values(path: str) -> dict:
        """Hive-style ``col=value`` path segments → raw string values
        (None for the null-partition marker). Only consulted for
        columns the data file itself lacks."""
        from urllib.parse import unquote

        out: dict[str, str | None] = {}
        for seg in path.split(os.sep)[:-1]:
            if "=" in seg:
                col, _, raw = seg.partition("=")
                out[col] = (
                    None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)
                )
        return out

    class LakeStreamSource(DataSource):
        @classmethod
        def name(cls):
            return SOURCE_NAME

        def schema(self):
            from pyspark.sql.types import StructType

            return StructType.fromJson(load_current(self.options["table_dir"])["schema"])

        def streamReader(self, schema):
            return LakeStreamReader(self.options)

    return LakeStreamSource


CDC_SOURCE_NAME = "lake_cdc_stream"


def _make_cdc_source():
    """Streaming CDC (changelog) source: each micro-batch carries the
    row-level changes of the snapshot range, tagged ``_change_type``
    ('insert' | 'delete') and ``_commit_snapshot_id``.

    Iceberg changelog-scan parity at FILE granularity (Iceberg's
    ``net_changes=false`` default): an added data file emits its rows
    as inserts, a removed data file emits its rows as deletes — a
    copy-on-write UPDATE therefore surfaces as deletes of the old file
    plus inserts of the new one, not a minimal row diff (the batch
    ``LakeTable.scan_changelog`` computes the net diff when that is
    wanted). Merge-on-read commits emit exactly the tombstoned rows:
    position tombstones are resolved by reading the referenced rows
    back at their row index; equality tombstones fan out one partition
    per (tombstone, affected data file) and semi-match executor-side.
    Compaction / manifest rewrites change no logical rows and emit
    nothing. Everything read()-side is stdlib+pyarrow only, per-file
    parallel, Arrow-batch vectorized."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    def parse_path_values(path: str) -> dict:
        from urllib.parse import unquote

        out: dict[str, str | None] = {}
        for seg in path.split(os.sep)[:-1]:
            if "=" in seg:
                col, _, raw = seg.partition("=")
                out[col] = (
                    None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)
                )
        return out

    def uri_to_path(p: str) -> str:
        if p.startswith("file:"):
            from urllib.parse import unquote, urlparse

            return unquote(urlparse(p).path)
        return p

    class LakeCdcStreamReader(DataSourceStreamReader):
        def __init__(self, options):
            self.table_dir = options["table_dir"]
            self.start_id = int(options.get("from_snapshot_id", 0))
            self.max_per_trigger = int(options.get("max_snapshots_per_trigger", 0))
            self._planned_end: int | None = None

        def initialOffset(self):
            self._planned_end = self.start_id
            return {"snapshot_id": self.start_id}

        def latestOffset(self):
            meta = load_current(self.table_dir)
            head = meta.get("current_snapshot_id") or 0
            if self.max_per_trigger > 0 and self._planned_end is not None:
                head = min(head, self._planned_end + self.max_per_trigger)
            return {"snapshot_id": head}

        def _manifest_paths(self, meta_dir, manifests, cache):
            import pyarrow.parquet as pq

            paths: set[str] = set()
            for m in manifests:
                if m not in cache:
                    cache[m] = pq.read_table(
                        os.path.join(meta_dir, m), columns=["file_path"]
                    ).column("file_path").to_pylist()
                paths.update(cache[m])
            return paths

        def partitions(self, start, end):
            self._planned_end = end["snapshot_id"]
            import pyarrow.parquet as pq

            # lifted once, so an older table derives its facts once
            meta = lift(load_current(self.table_dir))
            lo, hi = start["snapshot_id"], end["snapshot_id"]
            meta_dir = os.path.join(self.table_dir, "metadata")
            mapping = meta.get("column_mapping") or {
                f["name"]: f["name"] for f in meta["schema"]["fields"]
            }
            common = {
                "schema_json": json.dumps(meta["schema"]),
                "mapping": mapping,
            }
            log = sorted(meta["snapshots"], key=lambda s: s["snapshot_id"])
            by_id = {s["snapshot_id"]: s for s in log}

            def parent(s):
                if "parent_snapshot_id" in s:
                    pid = s["parent_snapshot_id"]
                    return by_id.get(pid) if pid is not None else None
                i = log.index(s)
                return log[i - 1] if i > 0 else None

            # main lineage within (lo, hi] via parent pointers — branch
            # commits interleaved in the log are not main's changes
            chain = [s for s in lineage(log, hi) if s["snapshot_id"] > lo]

            mcache: dict[str, list[str]] = {}
            parts: list[InputPartition] = []
            for s in chain:
                if s["operation"] in ("replace", "rewrite-manifests", "rewrite-deletes"):
                    continue
                sid = s["snapshot_id"]
                prev = parent(s)
                prev_lists = snapshot_lists(meta_dir, prev)
                s_lists = snapshot_lists(meta_dir, s)
                p_prev = self._manifest_paths(meta_dir, prev_lists.manifests, mcache)
                p_s = self._manifest_paths(meta_dir, s_lists.manifests, mcache)
                for p in sorted(p_s - p_prev):
                    parts.append(
                        InputPartition(
                            {
                                **common,
                                "kind": "data",
                                "change_type": "insert",
                                "commit_id": sid,
                                "path": p,
                                "path_values": parse_path_values(p),
                            }
                        )
                    )
                for p in sorted(p_prev - p_s):
                    parts.append(
                        InputPartition(
                            {
                                **common,
                                "kind": "data",
                                "change_type": "delete",
                                "commit_id": sid,
                                "path": p,
                                "path_values": parse_path_values(p),
                            }
                        )
                    )
                dm_prev = set(prev_lists.delete_manifests)
                for dm in s_lists.delete_manifests:
                    if dm in dm_prev:
                        continue
                    for e in pq.read_table(os.path.join(meta_dir, dm)).to_pylist():
                        if e["content"] == "position":
                            parts.append(
                                InputPartition(
                                    {
                                        **common,
                                        "kind": "pos",
                                        "commit_id": sid,
                                        "tombstone_path": e["file_path"],
                                    }
                                )
                            )
                        elif e["content"] == "dv":
                            # deletion vector: deleted rows this commit
                            # = new vector MINUS the file's previous
                            # vector (vectors supersede and contain
                            # their predecessors) — ship the ordered
                            # prev dv paths for the subtraction
                            prev_dvs = []
                            for pm in prev_lists.delete_manifests:
                                for pe in pq.read_table(
                                    os.path.join(meta_dir, pm)
                                ).to_pylist():
                                    if pe["content"] == "dv":
                                        prev_dvs.append(pe["file_path"])
                            parts.append(
                                InputPartition(
                                    {
                                        **common,
                                        "kind": "dv",
                                        "commit_id": sid,
                                        "tombstone_path": e["file_path"],
                                        "prev_dv_paths": prev_dvs,
                                    }
                                )
                            )
                        else:
                            # equality tombstone hits files of the PREV
                            # state born at-or-before its commit
                            facts = file_facts(meta_dir, meta, prev)
                            for p in sorted(p_prev):
                                if facts[p][1] > e["applies_before"]:
                                    continue
                                parts.append(
                                    InputPartition(
                                        {
                                            **common,
                                            "kind": "eq",
                                            "commit_id": sid,
                                            "keys_path": e["file_path"],
                                            "eq_cols": json.loads(
                                                e["equality_cols"]
                                            ),
                                            "path": p,
                                            "path_values": parse_path_values(p),
                                        }
                                    )
                                )
            return parts

        def read(self, partition):
            import pyarrow as pa
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import to_arrow_schema
            from pyspark.sql.types import StructType

            spec = partition.value
            logical = StructType.fromJson(json.loads(spec["schema_json"]))
            target = to_arrow_schema(logical)

            def project(tbl, path_values):
                n = tbl.num_rows
                arrays = []
                for i, f in enumerate(logical.fields):
                    phys = spec["mapping"].get(f.name, f.name)
                    t = target.field(i).type
                    if phys in tbl.column_names:
                        col = tbl[phys].combine_chunks()
                    elif phys in path_values:
                        raw = path_values[phys]
                        col = pa.array(
                            [None if raw is None else raw] * n, type=pa.string()
                        )
                    else:
                        col = pa.nulls(n, type=t)
                    arrays.append(col.cast(t))
                return pa.table(arrays, schema=target), n

            def tagged(tbl, path_values, change_type):
                out, n = project(tbl, path_values)
                out = out.append_column(
                    "_change_type", pa.array([change_type] * n, pa.string())
                ).append_column(
                    "_commit_snapshot_id",
                    pa.array([spec["commit_id"]] * n, pa.int64()),
                )
                yield from out.to_batches()

            kind = spec["kind"]
            if kind == "data":
                tbl = pq.read_table(spec["path"])
                yield from tagged(tbl, spec["path_values"], spec["change_type"])
            elif kind == "pos":
                tomb = pq.read_table(spec["tombstone_path"])
                by_file: dict[str, list[int]] = {}
                for fp, pos in zip(
                    tomb.column("file_path").to_pylist(),
                    tomb.column("pos").to_pylist(),
                ):
                    by_file.setdefault(fp, []).append(pos)
                for fp, positions in sorted(by_file.items()):
                    local = uri_to_path(fp)
                    rows = pq.read_table(local).take(sorted(positions))
                    yield from tagged(rows, parse_path_values(local), "delete")
            elif kind == "dv":
                import numpy as np

                from icebergplus_spark.lake import dv as _dv

                prev_blobs: dict[str, bytes] = {}
                for p in spec["prev_dv_paths"]:  # manifest order, last wins
                    t = pq.read_table(p, columns=["file_path", "dv"])
                    for fp, b in zip(
                        t.column("file_path").to_pylist(),
                        t.column("dv").to_pylist(),
                    ):
                        prev_blobs[fp] = bytes(b)
                t = pq.read_table(
                    spec["tombstone_path"], columns=["file_path", "dv"]
                )
                for fp, b in sorted(
                    zip(
                        t.column("file_path").to_pylist(),
                        t.column("dv").to_pylist(),
                    )
                ):
                    new_pos = _dv.decode_positions(bytes(b))
                    old = prev_blobs.get(fp)
                    if old is not None:
                        new_pos = np.setdiff1d(
                            new_pos, _dv.decode_positions(old)
                        )
                    if new_pos.size == 0:
                        continue
                    local = uri_to_path(fp)
                    rows = pq.read_table(local).take(new_pos.tolist())
                    yield from tagged(rows, parse_path_values(local), "delete")
            else:  # eq
                keys = pq.read_table(spec["keys_path"])
                cols = spec["eq_cols"]
                data = pq.read_table(spec["path"])
                have = [c for c in cols if c in data.column_names]
                if len(have) != len(cols):
                    return  # file lacks the key columns — nothing matches
                key_set = set(
                    zip(*[keys.column(c).to_pylist() for c in cols])
                )
                mask = [
                    t in key_set
                    for t in zip(*[data.column(c).to_pylist() for c in cols])
                ]
                matched = data.filter(pa.array(mask, pa.bool_()))
                if matched.num_rows:
                    yield from tagged(
                        matched, parse_path_values(spec["path"]), "delete"
                    )

        def commit(self, end):
            self._planned_end = max(self._planned_end or 0, end["snapshot_id"])

    class LakeCdcStreamSource(DataSource):
        @classmethod
        def name(cls):
            return CDC_SOURCE_NAME

        def schema(self):
            from pyspark.sql.types import (
                LongType,
                StringType,
                StructField,
                StructType,
            )

            base = StructType.fromJson(
                load_current(self.options["table_dir"])["schema"]
            )
            return StructType(
                base.fields
                + [
                    StructField("_change_type", StringType(), False),
                    StructField("_commit_snapshot_id", LongType(), False),
                ]
            )

        def streamReader(self, schema):
            return LakeCdcStreamReader(self.options)

    return LakeCdcStreamSource


def register_lake_cdc_stream_source(spark: SparkSession) -> None:
    try:
        spark.dataSource.register(_make_cdc_source())
    except Exception:
        pass  # already registered in this session


def read_lake_cdc_stream(
    spark: SparkSession,
    table_dir: str,
    from_snapshot_id: int = 0,
    max_snapshots_per_trigger: int = 0,
) -> DataFrame:
    """``spark.readStream`` of a lake table's CHANGES: each committed
    snapshot's row-level inserts/deletes become micro-batch rows tagged
    ``_change_type`` / ``_commit_snapshot_id`` (start after
    ``from_snapshot_id``). File-granular Iceberg changelog semantics —
    see ``_make_cdc_source``."""
    register_lake_cdc_stream_source(spark)
    return (
        spark.readStream.format(CDC_SOURCE_NAME)
        .option("table_dir", table_dir)
        .option("from_snapshot_id", from_snapshot_id)
        .option("max_snapshots_per_trigger", max_snapshots_per_trigger)
        .load()
    )


def register_lake_stream_source(spark: SparkSession) -> None:
    try:
        spark.dataSource.register(_make_source())
    except Exception:
        pass  # already registered in this session


def read_lake_stream(
    spark: SparkSession,
    table_dir: str,
    from_snapshot_id: int = 0,
    max_snapshots_per_trigger: int = 0,
) -> DataFrame:
    """``spark.readStream`` over a lake table: every committed append
    becomes a micro-batch (start after ``from_snapshot_id``)."""
    register_lake_stream_source(spark)
    return (
        spark.readStream.format(SOURCE_NAME)
        .option("table_dir", table_dir)
        .option("from_snapshot_id", from_snapshot_id)
        .option("max_snapshots_per_trigger", max_snapshots_per_trigger)
        .load()
    )


BATCH_SOURCE_NAME = "lake"


def _make_batch_source():
    """Batch read of a lake table through the same DataSource V2 Python
    API (``spark.read.format("lake")``): one input partition per data
    file of the chosen snapshot, worker-side Arrow reads with column
    mapping + identity-partition recovery — the on-ramp that lets ANY
    Spark job read a lake table with nothing but this source registered
    (no LakeTable import on the reading side).

    Append-only surface by design: a snapshot carrying live delete
    manifests is refused at plan time — merge-on-read tombstone
    application belongs to ``LakeTable.scan`` (plan-level file pruning
    and MOR semantics live there); this source covers the share-with-
    any-tool read of append/compact-only tables, time travel included
    (``snapshot_id`` option)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    def _parse_path_values(path: str) -> dict:
        from urllib.parse import unquote

        out: dict[str, str | None] = {}
        for seg in path.split(os.sep)[:-1]:
            if "=" in seg:
                col, _, raw = seg.partition("=")
                out[col] = (
                    None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)
                )
        return out

    class LakeBatchReader(DataSourceReader):
        def __init__(self, options):
            self.table_dir = options["table_dir"]
            self.snapshot_id = int(options.get("snapshot_id", 0)) or None

        def partitions(self):
            import pyarrow.parquet as pq

            meta = load_current(self.table_dir)
            snaps = meta["snapshots"]
            if self.snapshot_id is not None:
                snap = next(
                    (s for s in snaps if s["snapshot_id"] == self.snapshot_id),
                    None,
                )
                if snap is None:
                    raise ValueError(f"no such snapshot: {self.snapshot_id}")
            else:
                cur = meta.get("current_snapshot_id")
                snap = next(
                    (s for s in snaps if s["snapshot_id"] == cur), None
                )
            if snap is None:  # empty table
                return []
            meta_dir = os.path.join(self.table_dir, "metadata")
            lists = snapshot_lists(meta_dir, snap)
            if lists.delete_manifests:
                raise ValueError(
                    "lake batch source: snapshot has live merge-on-read "
                    "deletes — read through LakeTable.scan(), which applies "
                    "tombstones (or compact with purge_deletes first)"
                )
            mapping = meta.get("column_mapping") or {
                f["name"]: f["name"] for f in meta["schema"]["fields"]
            }
            schema_json = json.dumps(meta["schema"])
            paths: list[str] = []
            for m in lists.manifests:
                t = pq.read_table(
                    os.path.join(meta_dir, m), columns=["file_path"]
                )
                paths.extend(t.column("file_path").to_pylist())
            return [
                InputPartition(
                    {
                        "path": p,
                        "schema_json": schema_json,
                        "mapping": mapping,
                        "path_values": _parse_path_values(p),
                    }
                )
                for p in sorted(paths)
            ]

        def read(self, partition):
            import pyarrow as pa
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import to_arrow_schema
            from pyspark.sql.types import StructType

            spec = partition.value
            logical = StructType.fromJson(json.loads(spec["schema_json"]))
            target = to_arrow_schema(logical)
            tbl = pq.read_table(spec["path"])
            n = tbl.num_rows
            arrays = []
            for i, f in enumerate(logical.fields):
                phys = spec["mapping"].get(f.name, f.name)
                t = target.field(i).type
                if phys in tbl.column_names:
                    col = tbl[phys].combine_chunks()
                elif phys in spec["path_values"]:
                    raw = spec["path_values"][phys]
                    col = pa.array(
                        [None if raw is None else raw] * n, type=pa.string()
                    )
                else:
                    col = pa.nulls(n, type=t)
                arrays.append(col.cast(t))
            out = pa.table(arrays, schema=target)
            yield from out.to_batches()

    class LakeBatchSource(DataSource):
        @classmethod
        def name(cls):
            return BATCH_SOURCE_NAME

        def schema(self):
            from pyspark.sql.types import StructType

            return StructType.fromJson(
                load_current(self.options["table_dir"])["schema"]
            )

        def reader(self, schema):
            return LakeBatchReader(self.options)

    return LakeBatchSource


def register_lake_batch_source(spark: SparkSession) -> None:
    spark.dataSource.register(_make_batch_source())


def read_lake_batch(
    spark: SparkSession, table_dir: str, snapshot_id: int | None = None
) -> DataFrame:
    """``spark.read.format("lake")`` over a lake table (time travel via
    ``snapshot_id``). Append-only snapshots; see _make_batch_source."""
    register_lake_batch_source(spark)
    reader = spark.read.format(BATCH_SOURCE_NAME).option("table_dir", table_dir)
    if snapshot_id is not None:
        reader = reader.option("snapshot_id", snapshot_id)
    return reader.load()


def _make_batch_writer_source():
    """Batch WRITE path through the DataSource V2 Python API
    (``df.write.format("lake").mode("append"|"overwrite")``): each task
    streams its Arrow batches into one parquet file under the table's
    data dir and harvests the footer stats EXECUTOR-SIDE (the 100 TB
    placement — the driver never opens a data file); ``commit`` then
    turns the per-task entries into one manifest + one atomic snapshot
    via the ordinary lake commit path (CAS, retries, metrics), and
    ``abort`` deletes the orphaned files (the orphan sweep would get
    them anyway; aborting is just prompt).

    Scope: unpartitioned tables (the native ``append`` owns Hive
    layout + transform materialization); append and overwrite
    (truncate-replace) modes; bloom manifests are the native path's
    job — an entry without blooms is unprunable, never wrong."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceArrowWriter,
        WriterCommitMessage,
    )

    class LakeWriteMessage(WriterCommitMessage):
        def __init__(self, entry):
            self.entry = entry

    class LakeBatchWriter(DataSourceArrowWriter):
        def __init__(self, options, overwrite):
            self.table_dir = options["table_dir"]
            self.overwrite = overwrite

        def write(self, iterator):
            # EXECUTOR-SIDE: stdlib+pyarrow only.
            import os as _os
            import uuid as _uuid

            import pyarrow.parquet as _pq

            out_dir = _os.path.join(self.table_dir, "data", "dsv2")
            _os.makedirs(out_dir, exist_ok=True)
            path = _os.path.join(out_dir, f"part-{_uuid.uuid4().hex}.parquet")
            writer = None
            n = 0
            for batch in iterator:
                if writer is None:
                    writer = _pq.ParquetWriter(path, batch.schema)
                writer.write_batch(batch)
                n += batch.num_rows
            if writer is None:
                return LakeWriteMessage(None)  # empty task
            writer.close()
            # footer harvest where the file was written — min/max/null
            # stats from metadata only, no data re-read
            md = _pq.ParquetFile(path).metadata
            mins, maxs, nulls = {}, {}, {}
            no_nulls = set()
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    try:
                        st = col.statistics
                    except Exception:
                        st = None
                    if st is None or not st.has_null_count:
                        no_nulls.add(name)
                        nulls.pop(name, None)
                    elif name not in no_nulls:
                        nulls[name] = nulls.get(name, 0) + st.null_count
                    if st is None or not st.has_min_max:
                        continue
                    mn, mx = st.min, st.max
                    if isinstance(mn, bytes):
                        mn = mn.decode("utf-8", "replace")
                    if isinstance(mx, bytes):
                        mx = mx.decode("utf-8", "replace")
                    if hasattr(mn, "isoformat"):
                        mn, mx = mn.isoformat(), mx.isoformat()
                    if name not in mins or mn < mins[name]:
                        mins[name] = mn
                    if name not in maxs or mx > maxs[name]:
                        maxs[name] = mx
            entry = {
                "file_path": path,
                "record_count": md.num_rows,
                "file_size_bytes": _os.path.getsize(path),
                "column_mins": json.dumps(mins, default=str),
                "column_maxs": json.dumps(maxs, default=str),
                "column_null_counts": json.dumps(nulls),
            }
            return LakeWriteMessage(entry)

        # -- driver side -------------------------------------------------
        def _table(self):
            from icebergplus_spark.lake.commitio import detect_commit_io
            from icebergplus_spark.lake.table import LakeTable
            from icebergplus_spark.session import get_spark

            meta_dir = os.path.join(self.table_dir, "metadata")
            return LakeTable(
                get_spark(),
                self.table_dir,
                identifier=self.table_dir,
                io=detect_commit_io(meta_dir),
            )

        def commit(self, messages):
            import time as _time

            t = self._table()
            if t.partition_spec:
                raise ValueError(
                    "lake batch writer: unpartitioned tables only — "
                    "partitioned writes go through LakeTable.append"
                )
            entries = sorted(
                (m.entry for m in messages if m and m.entry is not None),
                key=lambda e: e["file_path"],
            )
            t0 = _time.time()
            base = t.snapshot()
            if self.overwrite or base is None:
                t._commit_snapshot(
                    "overwrite" if self.overwrite and base else "append",
                    [entries],
                    entries,
                    t0,
                )
            else:
                t._commit_snapshot(
                    "append",
                    t._lists(base).manifests + [entries],
                    entries,
                    t0,
                    delete_manifests=t._lists(base).delete_manifests,
                )

        def abort(self, messages):
            for m in messages:
                if m and m.entry is not None:
                    try:
                        os.remove(m.entry["file_path"])
                    except OSError:
                        pass

    class LakeWriterSource(DataSource):
        @classmethod
        def name(cls):
            return BATCH_SOURCE_NAME

        def schema(self):
            from pyspark.sql.types import StructType

            # best-effort (writer validates on commit)
            return StructType.fromJson(
                load_current(self.options["table_dir"])["schema"]
            )

        def writer(self, schema, overwrite):
            # fail at plan time, not after executors wrote files
            table_schema = self.schema()
            if [f.name for f in schema.fields] != [
                f.name for f in table_schema.fields
            ]:
                raise ValueError(
                    f"schema mismatch: table={table_schema.fieldNames()} "
                    f"df={[f.name for f in schema.fields]}"
                )
            return LakeBatchWriter(self.options, overwrite)

    return LakeWriterSource


def write_lake_batch(df: DataFrame, table_dir: str, mode: str = "append") -> None:
    """``df.write.format("lake")`` — distributed write with
    executor-side stats harvest and one atomic snapshot commit."""
    spark = df.sparkSession
    # reader + writer share the format name; register the full source
    src = _make_batch_source()
    writer_src = _make_batch_writer_source()

    class LakeFullSource(writer_src):
        def reader(self, schema):  # pragma: no cover - reads use read_lake_batch
            return src(self.options).reader(schema)

    spark.dataSource.register(LakeFullSource)
    df.write.format(BATCH_SOURCE_NAME).option("table_dir", table_dir).mode(
        mode
    ).save()
