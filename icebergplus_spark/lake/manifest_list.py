"""Snapshot manifest lists: the middle level of the metadata tree.

Iceberg's commit writes a manifest, a manifest list and a new
``metadata.json``; the table version names each snapshot's manifest
list, and only the list names the snapshot's manifests. Here a commit
writes one immutable ``snap-<id>-<uuid>.json`` into the metadata
directory holding the snapshot's data-manifest names, delete-manifest
names and the data files the commit added. The snapshot's entry in
``vN.metadata.json`` carries only ``manifest_list`` (plus id, parent,
timestamp, operation and summary), so a version grows with the
snapshot count, not with snapshots × manifests.

Snapshots written before list files existed carry the three lists
inline in the version JSON. ``snapshot_lists`` reads both forms, so a
table can mix them: no migration, no flag, no second writer.

List files never change once written, so ``snapshot_lists`` keeps a
process-wide LRU keyed by the list file's path, and the writer seeds it:
the snapshot a process just committed never costs a file read.

Two walks over snapshots live here too, shared by the table and the
stream sources: ``lineage`` (a snapshot's parent chain) and
``added_files`` (what the commits on it added). ``file_facts`` is the
one accessor for each data file's row-lineage facts, which manifest
entries carry (upgrade.py lifts tables from before they did), read
through ``manifests.py``.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from collections import OrderedDict
from typing import Any, NamedTuple

from icebergplus_spark.lake import manifests as mfiles

LIST_PREFIX = "snap-"
LIST_SUFFIX = ".json"
# entries, not bytes: a list file is a few KB unless its commit added
# thousands of files, so 1,024 lists stay within a few MB
_CACHE_MAX = 1024

_cache: "OrderedDict[str, tuple]" = OrderedDict()
_cache_lock = threading.Lock()


class SnapshotLists(NamedTuple):
    """What one snapshot reads. ``added_files`` is ``None`` for a
    snapshot written before commits recorded their added files."""

    manifests: list[str]
    delete_manifests: list[str]
    added_files: list[str] | None


def is_list_file(name: str) -> bool:
    return name.startswith(LIST_PREFIX) and name.endswith(LIST_SUFFIX)


def _remember(path: str, lists: tuple) -> None:
    with _cache_lock:
        _cache[path] = lists
        _cache.move_to_end(path)
        while len(_cache) > _CACHE_MAX:
            _cache.popitem(last=False)


def write_manifest_list(
    meta_dir: str,
    snapshot_id: int,
    manifests: list[str],
    delete_manifests: list[str],
    added_files: list[str],
) -> str:
    """Write a snapshot's lists to a new list file; returns its name
    (relative to ``meta_dir``, like manifest names)."""
    name = f"{LIST_PREFIX}{snapshot_id}-{uuid.uuid4().hex}{LIST_SUFFIX}"
    path = os.path.join(meta_dir, name)
    with open(path, "w") as f:
        json.dump(
            {
                "snapshot_id": snapshot_id,
                "manifests": list(manifests),
                "delete_manifests": list(delete_manifests),
                "added_files": list(added_files),
            },
            f,
            separators=(",", ":"),
        )
    _remember(path, (tuple(manifests), tuple(delete_manifests), tuple(added_files)))
    return name


def snapshot_lists(meta_dir: str, snap: dict[str, Any] | None) -> SnapshotLists:
    """The lists ``snap`` reads (empty for ``None``, the empty table).
    Each call returns fresh lists; callers may mutate them."""
    if snap is None:
        return SnapshotLists([], [], [])
    name = snap.get("manifest_list")
    if name is None:  # inline lists from an older writer
        added = snap.get("added_files")
        return SnapshotLists(
            list(snap.get("manifests", [])),
            list(snap.get("delete_manifests", [])),
            None if added is None else list(added),
        )
    path = os.path.join(meta_dir, name)
    with _cache_lock:
        hit = _cache.get(path)
        if hit is not None:
            _cache.move_to_end(path)
    if hit is None:
        with open(path) as f:
            body = json.load(f)
        hit = (
            tuple(body["manifests"]),
            tuple(body["delete_manifests"]),
            tuple(body["added_files"]),
        )
        _remember(path, hit)
    return SnapshotLists(list(hit[0]), list(hit[1]), list(hit[2]))


def lineage(snapshots: list[dict[str, Any]], to_id: int | None) -> list[dict[str, Any]]:
    """Snapshots from the root to ``to_id`` following parent pointers
    (branch commits interleave in the log, so log order is NOT
    lineage). Snapshots without a parent field, from older writers,
    fall back to log order."""
    by_id = {s["snapshot_id"]: s for s in snapshots}
    chain: list[dict[str, Any]] = []
    cur = by_id.get(to_id)
    while cur is not None:
        chain.append(cur)
        if "parent_snapshot_id" in cur:
            pid = cur["parent_snapshot_id"]
            cur = by_id.get(pid) if pid is not None else None
        else:
            idx = snapshots.index(cur)
            cur = snapshots[idx - 1] if idx > 0 else None
    return list(reversed(chain))


# operations whose added files are new rows (rewrites re-add old rows)
ROW_ADDING_OPERATIONS = ("append", "overwrite", "upsert")


def added_files(
    meta_dir: str, snapshots: list[dict[str, Any]], from_id: int, to_id: int | None
) -> dict[str, int]:
    """{data file path → the snapshot that added it} for the row-adding
    commits after ``from_id`` on ``to_id``'s lineage — what an
    incremental read or one micro-batch of the snapshot stream owns.
    Commits on other branches are not on the lineage and add nothing.
    A snapshot's recorded added files are authoritative; for snapshots
    from before commits recorded them, a manifest is new where no
    earlier snapshot of the lineage names it."""
    seen: set[str] = set()
    out: dict[str, int] = {}
    for s in lineage(snapshots, to_id):
        sid = s["snapshot_id"]
        wanted = sid > from_id and s["operation"] in ROW_ADDING_OPERATIONS
        lists = snapshot_lists(meta_dir, s)
        if lists.added_files is not None:
            if wanted:
                out.update((p, sid) for p in lists.added_files)
            seen.update(lists.manifests)
            continue
        for m in lists.manifests:
            if m in seen:
                continue
            seen.add(m)
            if wanted:
                out.update((p, sid) for p in mfiles.file_paths(meta_dir, [m]))
    return out


# -- per-file facts ----------------------------------------------------------

def file_facts(
    meta_dir: str, meta: dict[str, Any], snap: dict[str, Any] | None
) -> dict[str, tuple]:
    """{data file path → (first_row_id, added_snapshot_id,
    lineage_materialized)} for every file ``snap`` holds: the one
    accessor for per-file facts. Entries of current-format manifests
    carry them; files of manifests written before the format upgrade
    take the facts ``upgrade.py`` derived for them, including the
    first-row-ids a pre-upgrade snapshot's manifest set reads
    differently."""
    from icebergplus_spark.lake import upgrade

    out: dict[str, tuple] = {}
    legacy = None
    manifests = snapshot_lists(meta_dir, snap).manifests
    for m in manifests:
        for p, fact in mfiles.facts(os.path.join(meta_dir, m)).items():
            if fact is None:
                if legacy is None:
                    legacy = upgrade.legacy_facts(meta_dir, meta)
                fact = legacy.files[p]
            out[p] = fact
    if legacy is not None:
        key = upgrade.manifest_set_key(manifests)
        for p, first in legacy.overrides.get(key, {}).items():
            out[p] = (first, *out[p][1:])
    return out
