"""Table maintenance: compaction (bin-pack small-file rewrite) and
snapshot expiry (BASELINE.json ``spark_approach``; SURVEY.md §2.B
"Maintenance" — not present in the reference itself, §2.C).

Compaction strategy (100 TB-aware):
- Pick data files smaller than ``small_file_threshold``.
- Rewrite them with Spark in bins of ``target_file_size`` — the read is
  one distributed parquet scan of just the small files; large files are
  left untouched (rewrite amplification stays proportional to the small
  tail, not the table).
- Commit a REPLACE snapshot whose manifest = untouched files + new
  files. Old snapshots stay readable (time travel) until
  ``expire_snapshots`` removes them and deletes files no live snapshot
  references.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow.parquet as pq

import pyspark.sql.functions as F

from icebergplus_spark.lake import manifests as mfiles, upgrade, versions
from icebergplus_spark.lake.manifest_list import is_list_file
from icebergplus_spark.lake.table import LakeTable

DEFAULT_TARGET_FILE_SIZE = 128 * 1024 * 1024  # 128 MiB — standard lake target
DEFAULT_SMALL_FILE_THRESHOLD = 96 * 1024 * 1024

_Z_BITS = 8  # 256 buckets per dimension — plenty for file-level pruning


def _zvalue(bucket_cols: list, nbits: int = _Z_BITS):
    """Interleave the bits of per-column bucket indexes into one long
    (Morton code). Pure JVM bitwise expressions — stays inside
    whole-stage codegen, no UDF."""
    ncols = len(bucket_cols)
    z = F.lit(0).cast("long")
    for i in range(nbits):
        for j, b in enumerate(bucket_cols):
            z = z + F.shiftleft(
                F.shiftright(b, i).bitwiseAND(F.lit(1)).cast("long"),
                i * ncols + j,
            )
    return z


def compact(
    table: LakeTable,
    target_file_size: int = DEFAULT_TARGET_FILE_SIZE,
    small_file_threshold: int = DEFAULT_SMALL_FILE_THRESHOLD,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    zorder_binning: str = "width",
    purge_deletes: bool = False,
    where: dict | None = None,
    min_deleted_ratio: float | None = None,
) -> dict:
    """Bin-pack compaction. Returns a summary dict (files before/after).

    ``where``: stats-targeted predicate dict (same grammar as
    ``delete``/``scan``: ``{col: (op, literal)}``) scoping the rewrite
    to matching files — Delta's ``OPTIMIZE ... WHERE`` / Iceberg's
    ``rewrite_data_files(where=...)``. On a 100 TB table, day-2
    compaction runs partition-by-partition behind exactly this scope;
    files outside the scope are never read or moved.

    ``sort_by``: additionally CLUSTER the rewritten data on these
    columns (``repartitionByRange`` + in-partition sort) so each output
    file covers a narrow value range → manifest min/max stats prune far
    more files on those columns afterwards (z-order-lite; at 100 TB this
    is how scan-heavy columns earn their pruning).

    ``zorder_by``: MULTI-column clustering via Morton codes — each
    numeric column is bucketed into 2^8 equal-width cells between its
    manifest-wide min/max (no extra data pass: the bounds come from the
    footer stats already in the manifest), the cell indexes are
    bit-interleaved into one z-value, and the rewrite range-partitions +
    sorts on it. Every listed column then prunes independently, unlike
    ``sort_by`` where only the leading column's stats are narrow.
    Mutually exclusive with ``sort_by``.

    ``zorder_binning``: ``"width"`` (default) uses equal-width cells
    between the manifest-stat bounds — zero extra data passes;
    ``"depth"`` uses sampled equal-depth cut points (one
    ``approxQuantile`` pass) so cells hold equal POPULATION — the right
    choice under heavy value skew, where equal-width collapses nearly
    every row into one cell and clustering degenerates.

    When neither clustering argument is given, the table property
    ``write.sort-order`` supplies the default (Iceberg sort-order
    parity): ``"col1,col2"`` → sort_by, ``"zorder(col1,col2)"`` →
    zorder_by — so a table declares its clustering once and every
    maintenance pass preserves it.
    """
    t0 = time.time()
    if sort_by is None and zorder_by is None:
        order = table.properties.get("write.sort-order", "")
        if order.startswith("zorder(") and order.endswith(")"):
            zorder_by = [c.strip() for c in order[7:-1].split(",") if c.strip()]
        elif order:
            sort_by = [c.strip() for c in order.split(",") if c.strip()]
    if zorder_binning == "width":  # table property supplies the default
        zorder_binning = table.properties.get("write.zorder-binning", "width")
    snap = table.snapshot()
    files = table.plan_files()
    in_scope = files
    if where:
        # scope the REWRITE CANDIDATES with the manifest-stats matcher;
        # out-of-scope files are never read or moved but MUST survive
        # into the new snapshot untouched
        from icebergplus_spark.lake.table import _file_matches

        in_scope = [f for f in files if _file_matches(f, where)]
    small = [f for f in in_scope if f["file_size_bytes"] < small_file_threshold]
    dv_targeted = False
    if min_deleted_ratio is not None and snap:
        # Delete-threshold rewrite (Iceberg rewrite_data_files
        # delete-file-threshold / delete-ratio strategy, applied to
        # deletion vectors): pull files whose LIVE vector tombstones at
        # least this fraction of their rows into the rewrite set — the
        # rewrite drops the dead rows AND the vector, reclaiming both
        # bytes and the scan-time membership test. Metadata-only
        # targeting: vector cardinalities come from the dv parquets
        # (tombstone-scale), never a data read.
        from icebergplus_spark.lake import dv as dvmod
        from icebergplus_spark.lake.table import _as_uri

        card: dict[str, int] = {}
        for e in table._delete_entries(snap):
            if e["content"] != "dv":
                continue
            t = pq.read_table(e["file_path"], columns=["file_path", "dv"])
            for fp, b in zip(
                t.column("file_path").to_pylist(),
                t.column("dv").to_pylist(),
            ):
                card[fp] = dvmod.cardinality(bytes(b))  # last wins
        small_paths0 = {f["file_path"] for f in small}
        for f in in_scope:
            dead = card.get(_as_uri(f["file_path"]), 0)
            if (
                f["file_path"] not in small_paths0
                and f.get("record_count")
                and dead / f["record_count"] >= min_deleted_ratio
            ):
                small.append(f)
                dv_targeted = True
    if purge_deletes and snap:
        # pull every delete-affected data file into the rewrite set so the
        # tombstones can be dropped afterwards (Iceberg's
        # rewrite_data_files + rewrite_position_delete_files in one pass)
        affected = _delete_affected_paths(table, snap)
        small_paths = {f["file_path"] for f in small}
        small += [
            f
            for f in in_scope
            if f["file_path"] in affected and f["file_path"] not in small_paths
        ]
    # a SINGLE delete-threshold-targeted file is still worth rewriting
    # (the point is dropping its dead rows + vector, not bin-packing)
    min_rewrite = 1 if (min_deleted_ratio is not None and dv_targeted) else 2
    if len(small) < min_rewrite:
        return {"compacted": 0, "reason": "nothing to compact"}
    small_set = {f["file_path"] for f in small}
    big = [f for f in files if f["file_path"] not in small_set]

    total_small_bytes = sum(f["file_size_bytes"] for f in small)
    n_out = max(1, -(-total_small_bytes // target_file_size))  # ceil div
    out_dir = os.path.join(table.table_dir, "data", f"compact-{uuid.uuid4().hex}")
    # _read_physical recovers identity-partition values from the Hive
    # path (they are not in the files); the rewrite re-applies the
    # partition transforms so layout — and pruning — survive compaction.
    # _read_live applies merge-on-read tombstones — the rewrite must not
    # resurrect deleted rows.
    # Row-lineage inheritance (Iceberg v3 materialized lineage): the
    # rewrite CARRIES each row's id and birth snapshot into the output
    # files as materialized __lineage_* columns, so scan_with_lineage
    # is hash-identical across compaction. Two delta-encoded long
    # columns of mostly-sequential values — negligible bytes at any
    # scale.
    df = table._rewrite_input(snap, small)
    if zorder_by and sort_by:
        raise ValueError("pass either sort_by or zorder_by, not both")
    if zorder_by:
        mapping = table._column_mapping
        cols = [mapping.get(c, c) for c in zorder_by]
        if zorder_binning not in ("width", "depth"):
            raise ValueError("zorder_binning must be 'width' or 'depth'")
        if zorder_binning == "depth":
            # Sampled equal-DEPTH bins (the documented skew upgrade):
            # one approxQuantile pass over the rewrite set yields 2^8-1
            # cut points per column, and bucket assignment counts the
            # cut points <= value against a literal array — pure JVM
            # higher-order function, no extra shuffle. Under heavy value
            # skew equal-width drops nearly every row into one cell
            # (z-order degenerates to noise); equal-depth spreads cells
            # evenly by POPULATION, so min/max stats stay narrow where
            # the data actually is.
            probs = [i / 2**_Z_BITS for i in range(1, 2**_Z_BITS)]
            qs = df.select(
                *[F.col(c).cast("double").alias(c) for c in cols]
            ).approxQuantile(cols, probs, 0.001)
            def depth_bucket(col_name, cuts):
                cut_arr = F.array(*[F.lit(float(v)) for v in cuts])
                return F.size(
                    F.filter(
                        cut_arr,
                        lambda b: b <= F.col(col_name).cast("double"),
                    )
                )

            buckets = [depth_bucket(c, cuts) for c, cuts in zip(cols, qs)]
        else:
            # equal-WIDTH cells between the manifest-stat bounds — no
            # extra data pass at all
            bounds: dict[str, tuple[float, float]] = {}
            for c in cols:
                lo = min(float(json.loads(f["column_mins"])[c]) for f in small)
                hi = max(float(json.loads(f["column_maxs"])[c]) for f in small)
                bounds[c] = (lo, hi if hi > lo else lo + 1.0)
            buckets = [
                F.least(
                    F.lit(2**_Z_BITS - 1),
                    F.greatest(
                        F.lit(0),
                        (
                            F.width_bucket(
                                F.col(c).cast("double"),
                                F.lit(bounds[c][0]),
                                F.lit(bounds[c][1]),
                                F.lit(2**_Z_BITS),
                            )
                            - 1
                        ).cast("int"),
                    ),
                )
                for c in cols
            ]
        df = (
            df.withColumn("__z", _zvalue(buckets))
            .repartitionByRange(n_out, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    elif sort_by:
        mapping = table._column_mapping
        cols = [mapping.get(c, c) for c in sort_by]
        df = df.repartitionByRange(n_out, *cols).sortWithinPartitions(*cols)
    elif n_out < table.spark.sparkContext.defaultParallelism and len(small) > n_out:
        # Fewer bins than cores (r12, guide §2/§6): a bare
        # coalesce(n_out) also caps the READ at n_out tasks — one task
        # serially re-reads every input file (measured 3.9 s of w01's
        # 4.0 s compact at sf0.1). Shuffling exactly the bytes being
        # compacted restores full read parallelism, and by construction
        # those bytes are small whenever n_out is small (n_out =
        # total_small_bytes / target_file_size). Past core-count bins
        # the shuffle buys nothing and the zero-shuffle coalesce below
        # keeps the at-scale behavior unchanged.
        df = df.repartition(n_out)
    else:
        # coalesce, not repartition: plain bin-packing needs no shuffle,
        # just fewer write tasks
        df = df.coalesce(n_out)
    df, pcols = table._apply_partition_transforms(df)
    # the driver writer makes one file: only a one-file target has a bound
    bound = sum(f["record_count"] for f in small) if n_out == 1 else None
    new_entries = table._harvest_rewrite(
        table._write_frame(df, out_dir, pcols, bound), True
    )
    # Consolidated manifest: untouched big files + the new compacted files.
    all_entries = sorted(big + new_entries, key=lambda e: e["file_path"])
    # Tombstones still apply to the untouched files; rewritten files were
    # born after every delete's applies_before, so equality deletes are
    # exempt and position deletes reference only now-dead paths. When NO
    # untouched file is still affected, the tombstones are dead weight —
    # drop them (auto-purge).
    carry = table._lists(snap).delete_manifests
    if carry:
        untouched = {f["file_path"] for f in big}
        if not (untouched & _delete_affected_paths(table, snap)):
            carry = []
    table._commit_snapshot(
        "replace", [all_entries], new_entries, t0, delete_manifests=carry
    )
    return {
        "compacted": len(small),
        "files_before": len(files),
        "files_after": len(all_entries),
        "bytes_rewritten": total_small_bytes,
        "purged_deletes": bool(table._lists(snap).delete_manifests) and not carry,
    }


def _delete_affected_paths(table: LakeTable, snap: dict) -> set:
    """Data-file paths a live tombstone can still hit: position-delete
    referenced paths, plus (for equality deletes) every file born
    at-or-before the delete's commit."""
    entries = table._delete_entries(snap)
    if not entries:
        return set()
    from icebergplus_spark.lake.table import _as_uri

    births = {p: f[1] for p, f in table._file_facts(snap).items()}
    current = set(births)
    uri_to_path = {_as_uri(p): p for p in current}
    out: set = set()
    for e in entries:
        if e["content"] in ("position", "dv"):
            refs = pq.read_table(e["file_path"], columns=["file_path"])
            out.update(
                uri_to_path[u]
                for u in set(refs.column("file_path").to_pylist())
                if u in uri_to_path
            )
        else:
            out.update(
                p for p in current if births.get(p, 0) <= e["applies_before"]
            )
    return out


def rollback(table: LakeTable, snapshot_id: int) -> dict:
    """Roll the table back to an earlier snapshot (Iceberg's
    ``rollback_to_snapshot``). Implemented as a NEW commit whose manifest
    list is the target snapshot's — history is preserved (the bad
    snapshots stay time-travelable until ``expire_snapshots``), and the
    single-writer pointer CAS in ``_commit_snapshot`` still guards
    against concurrent writers.
    """
    t0 = time.time()
    target = table.snapshot(snapshot_id)
    if target is None:
        raise ValueError(f"{table.identifier}: no snapshot {snapshot_id}")
    current = table.current_snapshot_id
    if current == snapshot_id:
        return {"rolled_back": False, "reason": "already current"}
    table._commit_snapshot(
        "rollback",
        table._lists(target).manifests,
        [],
        t0,
        delete_manifests=table._lists(target).delete_manifests,
        base=target,
    )
    return {
        "rolled_back": True,
        "from_snapshot_id": current,
        "to_snapshot_id": snapshot_id,
        "new_snapshot_id": table.current_snapshot_id,
    }


def cherry_pick(table: LakeTable, snapshot_id: int) -> dict:
    """Apply one append snapshot's added files onto the current head —
    Iceberg's ``cherrypick_snapshot`` procedure, the publish half of
    write-audit-publish when the audited commit is NOT the branch head
    (``fast_forward`` covers the head case).

    Metadata-only: no data files are read or moved. The change set is
    recovered by diffing the snapshot against *its own parent* (added
    files), then committed on top of the *current* head. Only pure
    appends are safe to re-anchor this way — Iceberg enforces the same
    restriction; replace/delete snapshots raise.
    """
    t0 = time.time()
    snap = table.snapshot(snapshot_id)
    if snap is None:
        raise ValueError(f"{table.identifier}: no snapshot {snapshot_id}")
    if snap["operation"] != "append":
        raise ValueError(
            f"{table.identifier}: cherry_pick supports append snapshots "
            f"only, snapshot {snapshot_id} is '{snap['operation']}'"
        )
    parent_id = snap.get("parent_snapshot_id")
    parent_paths = table._snapshot_paths(
        table.snapshot(parent_id) if parent_id is not None else None
    )
    added = mfiles.entries(
        table._meta_dir,
        table._lists(snap).manifests,
        lambda e: e["file_path"] not in parent_paths,
    )
    current = table.snapshot()
    current_paths = table._snapshot_paths(current)
    dup = sorted(
        e["file_path"] for e in added if e["file_path"] in current_paths
    )
    if dup:
        raise ValueError(
            f"{table.identifier}: cherry-pick of snapshot {snapshot_id} "
            f"would duplicate {len(dup)} file(s) already in the current "
            f"snapshot (e.g. {dup[0]}) — already published?"
        )
    if not added:
        return {"cherry_picked": False, "reason": "snapshot added no files"}
    manifests = table._lists(current).manifests + [added]
    table._commit_snapshot(
        "append",
        manifests,
        added,
        t0,
        delete_manifests=table._lists(current).delete_manifests,
        extra_summary={"cherry-picked-from": snapshot_id},
    )
    return {
        "cherry_picked": True,
        "source_snapshot_id": snapshot_id,
        "new_snapshot_id": table.current_snapshot_id,
        "added_data_files": len(added),
        "added_records": sum(e["record_count"] for e in added),
    }


def _require_gc_enabled(table: LakeTable, op: str) -> None:
    """Iceberg gc.enabled parity: cloned (snapshot) tables reference data
    files they do not own, so file-deleting maintenance is refused on
    them rather than silently corrupting the source table. The inverse
    direction is guarded too: a table with registered clones (the
    ``clones`` property clone_table maintains) shares its files WITH
    them, so deleting here would corrupt the clones."""
    # refresh: the clone registration may have landed through another
    # handle (clone_table writes it via its own load_table instance)
    table.refresh()
    props = table.properties or {}
    if props.get("gc.enabled", "true").lower() == "false":
        raise ValueError(
            f"{op} refused: gc.enabled=false on {table.identifier} "
            "(this table shares data files with its clone source)"
        )
    clones = [c for c in props.get("clones", "").split(",") if c]
    if clones:
        raise ValueError(
            f"{op} refused: {table.identifier} has zero-copy clones "
            f"{clones} that still reference its data files — drop the "
            "clones and unset the 'clones' property first"
        )


def _snapshot_refs(table: LakeTable, snapshots) -> tuple[set, set]:
    """(list files, data + delete manifests) that ``snapshots`` name."""
    lists: set[str] = set()
    manifests: set[str] = set()
    for s in snapshots:
        if s.get("manifest_list"):
            lists.add(s["manifest_list"])
        sl = table._lists(s)
        manifests.update(sl.manifests)
        manifests.update(sl.delete_manifests)
    return lists, manifests


def _manifest_file_paths(table: LakeTable, manifests) -> set:
    """Data/delete file paths the given manifests list: an uncached
    manifest has its ``file_path`` column read only (the stats columns,
    HLL sketches above all, are most of a manifest's decoded size)."""
    return set(mfiles.file_paths(table._meta_dir, manifests))


def remove_orphan_files(
    table: LakeTable, older_than_s: float = 3 * 24 * 3600, dry_run: bool = False
) -> dict:
    """Delete data files under the table location that no snapshot (on
    any branch/tag) references — debris from failed/aborted writes
    (Iceberg's ``remove_orphan_files``). Only files older than
    ``older_than_s`` are touched so in-flight writer output survives;
    pass 0 in tests. Never deletes anything a manifest mentions, so it
    is safe to run alongside readers at any scale (the scan path lists
    files from manifests, never from the directory). ``dry_run`` lists
    what WOULD be deleted without touching anything — run it first on a
    100 TB table."""
    _require_gc_enabled(table, "remove_orphan_files")
    live_lists, live_manifests = _snapshot_refs(table, table.history())
    live = _manifest_file_paths(table, live_manifests)
    cutoff = time.time() - older_than_s
    orphans: list[str] = []
    scanned = 0
    data_root = os.path.join(table.table_dir, "data")
    for root, _dirs, fns in os.walk(data_root):
        for fn in fns:
            if not fn.endswith(".parquet"):
                continue
            p = os.path.join(root, fn)
            scanned += 1
            if p not in live and os.path.getmtime(p) < cutoff:
                orphans.append(p)
                if not dry_run:
                    os.remove(p)
    # Orphaned MANIFESTS, snapshot LIST FILES and lineage FACTS files
    # too (Iceberg's remove_orphan_files sweeps the whole table
    # location): a writer that died between manifest write and
    # snapshot publish, or lost its commit, leaves files no snapshot
    # references. Every version since a table's format upgrade names
    # the one facts file its first commit wrote (upgrade.py).
    for fn in os.listdir(table._meta_dir):
        if fn.startswith(("manifest-", "delete-manifest-")) and fn.endswith(
            ".parquet"
        ):
            named = live_manifests
        elif is_list_file(fn):
            named = live_lists
        elif fn.startswith(upgrade.FACTS_PREFIX):
            named = {table._meta.get("lineage_facts")}
        else:
            continue
        p = os.path.join(table._meta_dir, fn)
        scanned += 1
        if fn not in named and os.path.getmtime(p) < cutoff:
            orphans.append(p)
            if not dry_run:
                os.remove(p)
    return {
        "scanned": scanned,
        "deleted": 0 if dry_run else len(orphans),
        "would_delete": len(orphans) if dry_run else 0,
        "live": len(live),
    }


def expire_snapshots(
    table: LakeTable, keep_last: int = 1, older_than_ms: int | None = None
) -> dict:
    """Drop expired snapshots and delete data/manifest/list files no
    retained snapshot references (SURVEY.md §2.B "Snapshot expiry /
    vacuum"). Files are deleted only after the new metadata version is
    published, so a lost publish (ConcurrentCommitError) deletes
    nothing.

    Retention (Iceberg ``expireSnapshots`` parity): always the last
    ``keep_last`` snapshots; with ``older_than_ms`` set, snapshots at or
    after that commit timestamp are ALSO retained regardless of count
    (the retain-last AND max-age combination). Snapshots pinned by a
    named ref (tag or branch head, incl. main) are always retained —
    expiring a tagged snapshot would silently break ``scan(ref=...)``."""
    _require_gc_enabled(table, "expire_snapshots")
    snaps = table.history()
    ref_ids = {r["snapshot_id"] for r in table.refs.values()}
    tail_ids = {s["snapshot_id"] for s in snaps[-keep_last:]}
    age_ids = (
        {s["snapshot_id"] for s in snaps if s["timestamp_ms"] >= older_than_ms}
        if older_than_ms is not None
        else set()
    )
    keep_ids = ref_ids | tail_ids | age_ids
    retained = [s for s in snaps if s["snapshot_id"] in keep_ids]
    expired = [s for s in snaps if s["snapshot_id"] not in keep_ids]
    if not expired:
        return {"expired": 0, "deleted_files": 0}

    # delete manifests/files are retained and expired exactly like data
    # manifests/files; a manifest shared by both sides is read once
    keep_lists, keep_manifests = _snapshot_refs(table, retained)
    old_lists, old_manifests = _snapshot_refs(table, expired)
    keep_data = _manifest_file_paths(table, keep_manifests)
    old_data = _manifest_file_paths(table, old_manifests - keep_manifests)

    # New metadata version with only retained snapshots.
    meta = table._next_meta()
    meta["snapshots"] = retained
    table._publish(meta)

    deleted = 0
    for p in old_data - keep_data:
        if os.path.exists(p):
            os.remove(p)
            deleted += 1
    for m in (old_manifests - keep_manifests) | (old_lists - keep_lists):
        mp = os.path.join(table._meta_dir, m)
        if os.path.exists(mp):
            os.remove(mp)
    table.refresh()
    return {"expired": len(expired), "deleted_files": deleted}


def rewrite_manifests(
    table: LakeTable, target_entries_per_manifest: int = 100_000
) -> dict:
    """Manifest compaction (Iceberg's ``rewrite_manifests`` action):
    consolidate the current snapshot's many small manifests — one per
    append — into ceil(n/target) packed ones, committed as a new
    metadata-only snapshot. No data file is touched or moved.

    Why it matters at 100 TB: scan PLANNING cost is proportional to
    manifest count (each is opened and filtered at plan time, here and
    in Iceberg alike). A table fed by a streaming sink accretes one
    manifest per micro-batch — thousands per day — until planning, not
    scanning, dominates short queries. Rewriting manifests restores
    O(files/target) planning. Time travel is unaffected: prior
    snapshots keep their original manifest lists until
    ``expire_snapshots`` reclaims them, and ``scan_incremental`` skips
    the rewrite commit (it adds no rows)."""
    t0 = time.time()
    snap = table.snapshot()
    if snap is None:
        return {"manifests_before": 0, "manifests_after": 0, "entries": 0}
    entries = mfiles.entries(table._meta_dir, table._lists(snap).manifests)
    entries.sort(key=lambda e: e["file_path"])
    chunks = [
        entries[i : i + target_entries_per_manifest]
        for i in range(0, len(entries), target_entries_per_manifest)
    ]
    table._commit_snapshot(
        "rewrite-manifests",
        chunks,
        [],
        t0,
        delete_manifests=table._lists(snap).delete_manifests,
    )
    return {
        "manifests_before": len(table._lists(snap).manifests),
        "manifests_after": len(chunks),
        "entries": len(entries),
    }


def rewrite_deletion_vectors(table: LakeTable) -> dict:
    """Consolidate the live deletion-vector set (the DV analogue of
    Iceberg's ``rewrite_position_delete_files``): last-wins-merge every
    live ``dv`` entry into ONE vector parquet restricted to current
    data files, and rewrite the delete-manifest list so superseded
    blobs leave the live metadata (their bytes are reclaimed by
    ``expire_snapshots``, exactly like rewritten data files).

    Why it matters at 100 TB: every dv delete commit adds one vector
    parquet; scans read the whole ordered list per task (cheap — the
    blobs are tombstone-scale — but unbounded on a table taking
    thousands of streaming-upsert commits between compactions).
    Consolidation restores O(1) vector files without touching a single
    data file. Metadata-only commit; changelog/CDC skip it (it changes
    no logical rows)."""
    import pyarrow as pa

    from icebergplus_spark.lake import dv as dvmod
    from icebergplus_spark.lake.table import _as_uri

    t0 = time.time()
    snap = table.snapshot()
    if snap is None:
        return {"dv_files_before": 0, "dv_files_after": 0}
    entries = table._delete_entries(snap)
    dv_entries = [e for e in entries if e["content"] == "dv"]
    if len(dv_entries) <= 1:
        return {
            "dv_files_before": len(dv_entries),
            "dv_files_after": len(dv_entries),
        }
    blobs: dict[str, bytes] = {}
    for e in dv_entries:  # manifest order — later vectors supersede
        t = pq.read_table(e["file_path"], columns=["file_path", "dv"])
        for f, b in zip(
            t.column("file_path").to_pylist(), t.column("dv").to_pylist()
        ):
            blobs[f] = bytes(b)
    live_uris = {_as_uri(p) for p in table._snapshot_paths(snap)}
    blobs = {f: b for f, b in blobs.items() if f in live_uris}

    new_manifests: list[str] = []
    for m in table._lists(snap).delete_manifests:
        rows = mfiles.entries(table._meta_dir, [m])
        non_dv = [r for r in rows if r["content"] != "dv"]
        if len(non_dv) == len(rows):
            new_manifests.append(m)  # untouched manifest carries over
        elif non_dv:
            new_manifests.append(table._write_delete_manifest(non_dv))
    if blobs:
        out_dir = os.path.join(table.table_dir, "data", "deletes")
        os.makedirs(out_dir, exist_ok=True)
        out = os.path.join(out_dir, f"dv-consolidated-{uuid.uuid4().hex}.parquet")
        files = sorted(blobs)
        pq.write_table(
            pa.table(
                {
                    "file_path": files,
                    "dv": [blobs[f] for f in files],
                    # n_new kept for schema parity with commit-written
                    # vector parquets (delta accounting not meaningful
                    # for a consolidation — zeros)
                    "n_new": [0] * len(files),
                }
            ),
            out,
        )
        new_manifests.append(
            table._write_delete_manifest(
                [
                    {
                        "file_path": out,
                        # consolidated entry carries the LIVE cardinality
                        # (it replaces every delta entry, so manifest
                        # sums remain the true live total)
                        "record_count": int(
                            sum(dvmod.cardinality(b) for b in blobs.values())
                        ),
                        "file_size_bytes": os.path.getsize(out),
                        "content": "dv",
                        "equality_cols": "",
                        "applies_before": max(
                            e["applies_before"] for e in dv_entries
                        ),
                    }
                ]
            )
        )
    table._commit_snapshot(
        "rewrite-deletes",
        table._lists(snap).manifests,
        [],
        t0,
        delete_manifests=new_manifests,
    )
    return {
        "dv_files_before": len(dv_entries),
        "dv_files_after": 1 if blobs else 0,
        "live_vectors": len(blobs),
    }


def expire_metadata_versions(table: LakeTable, keep_last: int = 10) -> dict:
    """Vacuum old ``v{N}.metadata.json`` files (every commit and every
    metadata-only evolution writes one; a busy table accretes thousands).
    Keeps the newest ``keep_last`` versions; the pointer file always
    names the newest, so concurrent readers of retained versions are
    unaffected. Iceberg's ``write.metadata.delete-after-commit`` parity,
    run on demand instead of per-commit."""
    current = table._meta["_phys_version"]
    cutoff = current - max(keep_last, 1) + 1
    # a transaction-marked head resolves through its base_version chain
    # (lake/txn.py): those base metadata files must survive any cutoff,
    # or vacuuming under an unresolved/aborted head would break refresh
    protected = versions.pending_bases(table._meta_dir, current)
    removed = 0
    for v in versions.list_versions(table._meta_dir):
        if v < cutoff and v not in protected:
            os.remove(versions.path(table._meta_dir, v))
            removed += 1
    return {"removed_versions": removed, "current_version": current}


def auto_maintain(
    table: LakeTable,
    small_file_threshold: int = DEFAULT_SMALL_FILE_THRESHOLD,
    target_file_size: int = DEFAULT_TARGET_FILE_SIZE,
    min_small_files: int = 8,
    max_manifests: int = 32,
    keep_snapshots: int | None = None,
    keep_metadata_versions: int = 20,
    orphan_grace_s: float = 3 * 24 * 3600,
    dry_run: bool = False,
) -> dict:
    """Threshold-driven day-2 maintenance: the single call a scheduler
    runs per table, applying each maintenance action ONLY when its
    trigger fires (the policy Iceberg deployments script by hand):

    - ``compact`` when >= ``min_small_files`` data files sit under
      ``small_file_threshold`` (streaming ingest's small-file tail);
    - ``rewrite_manifests`` when the current snapshot carries more than
      ``max_manifests`` (one accretes per micro-batch; planning cost is
      O(manifests));
    - ``expire_snapshots`` down to ``keep_snapshots``;
    - ``expire_metadata_versions`` down to ``keep_metadata_versions``;
    - ``remove_orphan_files`` past ``orphan_grace_s``;
    - ``analyze`` when ``analyze.auto=true`` and the persisted
      statistics no longer describe the current snapshot
      (``analyze.columns`` scopes the pass).

    Honors the same safety gates as the individual actions
    (``gc.enabled=false`` → file-deleting steps are SKIPPED and
    reported, not errors — clones stay safe). ``dry_run`` evaluates
    triggers and reports what WOULD run without touching the table.
    Returns {action: summary | "skipped: <reason>"} in execution order.

    At 100 TB: every trigger reads only metadata (manifest stats +
    snapshot log), so the no-op path — the common case on a healthy
    table — costs O(manifests), never a data scan.
    """
    report: dict[str, object] = {}
    table.refresh()

    # Materialized-view freshness (r5): when the maintained table IS a
    # continuous aggregate, fold in any source snapshots it has not
    # seen — the staleness check is two metadata reads, so the no-op
    # path (fresh MV) costs nothing extra.
    from icebergplus_spark.lake.rollup import MV_SPEC_KEY

    if MV_SPEC_KEY in table._meta:
        from icebergplus_spark.lake.catalog import LocalLakeCatalog, Status
        from icebergplus_spark.lake.rollup import (
            mv_staleness,
            refresh_materialized,
        )

        root = os.path.dirname(os.path.dirname(table.table_dir))
        cat = LocalLakeCatalog(table.spark, root, commit_io=table.io)
        cat._status = Status.STARTED  # recovery already ran at startup
        ident = table.identifier
        lag = mv_staleness(cat, ident)
        # lag-keyed scheduling (VERDICT r5 #6): the MV's
        # mv.refresh.lag-threshold property (snapshots, default 1)
        # lets a busy source amortize many tiny refreshes into one
        from icebergplus_spark.lake.rollup import mv_lag_threshold

        threshold = mv_lag_threshold(table)
        if lag < threshold:
            report["refresh_materialized_view"] = (
                "fresh"
                if lag == 0
                else f"lag {lag} below threshold {threshold}"
            )
        elif dry_run:
            report["refresh_materialized_view"] = (
                f"would fold in {lag} source snapshot(s)"
            )
        else:
            report["refresh_materialized_view"] = refresh_materialized(
                cat, ident
            )
            table.refresh()

    entries = table.plan_files()
    small = [e for e in entries if e["file_size_bytes"] < small_file_threshold]
    if len(small) >= min_small_files:
        if dry_run:
            report["compact"] = f"would compact {len(small)} small files"
        else:
            report["compact"] = compact(
                table,
                target_file_size=target_file_size,
                small_file_threshold=small_file_threshold,
            )
    else:
        report["compact"] = (
            f"skipped: {len(small)} small files < {min_small_files}"
        )

    snap = table.snapshot()
    n_manifests = len(table._lists(snap).manifests)
    if n_manifests > max_manifests:
        report["rewrite_manifests"] = (
            f"would rewrite {n_manifests} manifests"
            if dry_run
            else rewrite_manifests(table)
        )
    else:
        report["rewrite_manifests"] = (
            f"skipped: {n_manifests} manifests <= {max_manifests}"
        )

    # DV consolidation: each dv delete commit adds one vector parquet;
    # consolidate when more than max_manifests/4 accumulate (same
    # accretion dynamic as manifests, same metadata-only cost)
    n_dv = sum(
        1
        for e in (table._delete_entries(snap) if snap else [])
        if e["content"] == "dv"
    )
    dv_threshold = max(2, max_manifests // 4)
    if n_dv > dv_threshold:
        report["rewrite_deletion_vectors"] = (
            f"would consolidate {n_dv} vector files"
            if dry_run
            else rewrite_deletion_vectors(table)
        )
    else:
        report["rewrite_deletion_vectors"] = (
            f"skipped: {n_dv} vector files <= {dv_threshold}"
        )

    gc_off = (table.properties.get("gc.enabled", "true").lower() == "false")
    # Iceberg retention-property parity: a table declares its own policy
    # (history.expire.min-snapshots-to-keep / .max-snapshot-age-ms) and
    # the scheduler's auto_maintain honors it; an explicit argument wins.
    props = table.properties
    if keep_snapshots is None:
        keep_snapshots = int(
            props.get("history.expire.min-snapshots-to-keep", 20)
        )
    max_age_ms = props.get("history.expire.max-snapshot-age-ms")
    older_than_ms = (
        int(time.time() * 1000) - int(max_age_ms) if max_age_ms else None
    )
    n_snaps = len(table._meta["snapshots"])
    if n_snaps > keep_snapshots:
        if gc_off:
            report["expire_snapshots"] = "skipped: gc.enabled=false"
        elif dry_run:
            report["expire_snapshots"] = (
                f"would expire {n_snaps - keep_snapshots} snapshots"
            )
        else:
            report["expire_snapshots"] = expire_snapshots(
                table, keep_last=keep_snapshots, older_than_ms=older_than_ms
            )
    else:
        report["expire_snapshots"] = (
            f"skipped: {n_snaps} snapshots <= {keep_snapshots}"
        )

    version = table._meta["_phys_version"]
    if version > keep_metadata_versions:
        report["expire_metadata_versions"] = (
            f"would expire metadata below v{version - keep_metadata_versions + 1}"
            if dry_run
            else expire_metadata_versions(table, keep_last=keep_metadata_versions)
        )
    else:
        report["expire_metadata_versions"] = "skipped: version history small"

    if gc_off:
        report["remove_orphan_files"] = "skipped: gc.enabled=false"
    else:
        report["remove_orphan_files"] = remove_orphan_files(
            table, older_than_s=orphan_grace_s, dry_run=dry_run
        )

    # Opt-in stats refresh: with table property ``analyze.auto=true``,
    # stale statistics (any commit since the last ANALYZE) re-compute at
    # the end of the pass — after compaction, so the stats describe the
    # final layout. Columns from ``analyze.columns`` (CSV) or all.
    if table.properties.get("analyze.auto", "").lower() == "true":
        table.refresh()
        if table.statistics_fresh:
            report["analyze"] = "skipped: statistics fresh"
        elif dry_run:
            report["analyze"] = "would re-analyze stale statistics"
        else:
            cols_prop = table.properties.get("analyze.columns", "")
            cols = [c.strip() for c in cols_prop.split(",") if c.strip()] or None
            table.analyze(columns=cols)
            report["analyze"] = {"analyzed": True, "columns": cols or "all"}
    else:
        report["analyze"] = "skipped: analyze.auto not set"
    return report
