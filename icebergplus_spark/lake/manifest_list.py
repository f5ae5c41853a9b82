"""Snapshot manifest lists: the middle level of the metadata tree.

Iceberg's commit writes a manifest, a manifest list and a new
``metadata.json``; the table version names each snapshot's manifest
list, and only the list names the snapshot's manifests. Here a commit
writes one immutable ``snap-<id>-<uuid>.json`` into the metadata
directory holding the snapshot's data-manifest names, delete-manifest
names and the data files the commit added. The snapshot's entry in
``vN.metadata.json`` carries only ``manifest_list`` (plus id, parent,
timestamp, operation, summary and lineage files), so a version grows
with the snapshot count, not with snapshots × manifests.

Snapshots written before list files existed carry the three lists
inline in the version JSON. ``snapshot_lists`` reads both forms, so a
table can mix them: no migration, no flag, no second writer.

List files never change once written, so ``snapshot_lists`` keeps a
process-wide LRU keyed by the list file's path, and the writer seeds it:
the snapshot a process just committed never costs a file read.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from collections import OrderedDict
from typing import Any, NamedTuple

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
