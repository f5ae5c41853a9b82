"""Table format versions and the steps that lift older tables.

``FORMAT_VERSION`` is the shape every reader sees. A table written in
an older shape is lifted in memory when a handle loads it
(``LakeTable.refresh`` calls ``lift``); the first metadata version
published from the lifted state persists what the lift derived
(``seal``), so no reader branches on a legacy shape and no later
commit repeats the work.

Version 1 → 2: per-file row-lineage facts move into manifest entries.
A version-1 table keeps them outside the entry:

- ``row_id_assignments`` (one first-row-id per live data file, copied
  into every ``vN.metadata.json``) and ``next_row_id``; tables from
  before commit-time allocation have neither and derive ids from the
  (birth, path)-cumulative record counts of the snapshot read;
- births, recovered by walking every snapshot's added-file list;
- per-snapshot ``lineage_files`` plus ``materialized_lineage_files``,
  naming the files whose bytes carry ``__lineage_*`` columns.

A version-2 manifest entry carries ``first_row_id``,
``added_snapshot_id`` and ``lineage_materialized`` itself, assigned
when its commit publishes (Iceberg v3 row lineage). Manifests written
before the upgrade stay as they are: the lift derives their files'
facts exactly as the version-1 readers did, and ``seal`` writes them
once to an immutable ``lineage-facts-<uuid>.parquet`` that every later
version names as ``lineage_facts``. Derived ids depend on the
snapshot read for tables without an assignment map — on its file set,
that is, on its manifests — so the facts file also records, per
manifest set of a pre-upgrade snapshot, each first-row-id that differs
from the file's frozen value: time travel into that snapshot, or a
rollback to it, reads the ids it always read. A commit that carries
such a snapshot's manifests into a new set (an append after that
rollback, or onto a branch at that snapshot) writes their entries out
with the ids the snapshot read (``drifting``), so no file is re-id'd.
"""

from __future__ import annotations

import functools
import hashlib
import os
import uuid
from typing import Any, NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq

from icebergplus_spark.lake import manifests as mfiles
from icebergplus_spark.lake.manifest_list import snapshot_lists

FORMAT_VERSION = 2
FACTS_PREFIX = "lineage-facts-"

# (first_row_id, added_snapshot_id, lineage_materialized) of one file
Fact = tuple[int, int, bool]


class LegacyFacts(NamedTuple):
    """Row-lineage facts of the files a version-1 table's manifests
    name. ``files`` holds each file's frozen facts (its first-row-id as
    the current snapshot reads it, else as the newest snapshot holding
    it reads it); ``overrides`` maps the ``manifest_set_key`` of a
    pre-upgrade snapshot to the first-row-ids it reads differently."""

    files: dict[str, Fact]
    overrides: dict[str, dict[str, int]]


def manifest_set_key(manifests: list[str]) -> str:
    """Names a set of manifests: snapshots holding the same manifests
    hold the same files and read the same derived ids."""
    return hashlib.sha1("\n".join(sorted(set(manifests))).encode()).hexdigest()


_FACTS_SCHEMA = pa.schema(
    [
        ("file_path", pa.string()),
        # null: the file's frozen facts; set: an override for the
        # snapshots holding that manifest set
        ("manifest_set", pa.string()),
        ("first_row_id", pa.int64()),
        ("added_snapshot_id", pa.int64()),
        ("lineage_materialized", pa.bool_()),
    ]
)


def lift(meta: dict[str, Any]) -> dict[str, Any]:
    """``meta`` in the current shape. A current-version ``meta`` is
    returned as is; an older one is lifted, keeping the raw version
    under ``_legacy`` until ``seal`` persists what it derives."""
    if meta.get("format_version", 1) >= FORMAT_VERSION:
        return meta
    return _v1_to_v2(meta)


def _v1_to_v2(raw: dict[str, Any]) -> dict[str, Any]:
    out = {
        k: v
        for k, v in raw.items()
        if k not in ("row_id_assignments", "materialized_lineage_files")
    }
    out["snapshots"] = [
        {k: v for k, v in s.items() if k != "lineage_files"}
        for s in raw["snapshots"]
    ]
    out["format_version"] = FORMAT_VERSION
    if "row_id_assignments" in raw:
        out["next_row_id"] = int(raw.get("next_row_id", 0))
    else:
        # derived ids of a snapshot end at its record total, so the
        # largest total is past every id any snapshot reads
        out["next_row_id"] = max(
            [s["summary"]["total-records"] for s in raw["snapshots"]],
            default=0,
        )
    # derived on first use, shared by every copy of the lifted dict
    out["_legacy"] = {"meta": raw, "facts": None}
    return out


def legacy_facts(meta_dir: str, meta: dict[str, Any]) -> LegacyFacts | None:
    """Facts of the files that ``meta``'s pre-upgrade manifests name, or
    None for a table created at the current version. ``meta`` may be
    lifted, sealed, or a raw older version read from disk."""
    holder = meta.get("_legacy")
    if holder is not None:
        if holder["facts"] is None:
            holder["facts"] = _derive(meta_dir, holder["meta"])
        return holder["facts"]
    name = meta.get("lineage_facts")
    if name is not None:
        return _load(os.path.join(meta_dir, name))
    if meta.get("format_version", 1) < FORMAT_VERSION:
        return _derive(meta_dir, meta)
    return None


def seal(meta_dir: str, meta: dict[str, Any]) -> dict[str, Any]:
    """``meta`` ready to publish: a lifted table's derived facts are
    written to their facts file, which the version names."""
    if "_legacy" not in meta:
        return meta
    facts = legacy_facts(meta_dir, meta)
    meta = {k: v for k, v in meta.items() if k != "_legacy"}
    if facts.files:
        meta["lineage_facts"] = _write(meta_dir, facts)
    return meta


def drifting(
    meta_dir: str, facts: LegacyFacts, manifests: list, reads: dict[str, Fact]
) -> set[str]:
    """The pre-upgrade manifests among ``manifests`` (a commit's names
    and entry lists) whose files a snapshot holding exactly them would
    read with other facts than ``reads``, what the commit's base
    snapshot reads. An override holds only for its exact manifest set,
    so a commit carrying such a manifest into a new set writes its
    entries out with the base's facts instead of naming it."""
    names = [m for m in manifests if isinstance(m, str)]
    exact = facts.overrides.get(manifest_set_key(names), {})

    def stale(override: dict[str, int]) -> set[str]:
        out = set()
        for m in names:
            for p, fact in mfiles.facts(os.path.join(meta_dir, m)).items():
                if fact is None and p in reads:
                    first, *rest = facts.files[p]
                    if (override.get(p, first), *rest) != reads[p]:
                        out.add(m)
                        break
        return out

    out = stale({})
    if len(names) == len(manifests) and exact:
        # the set keeps its override unless a manifest is written out,
        # which changes the set and drops the override for the rest
        hit = stale(exact)
        out = out | hit if hit else set()
    return out


# -- the version-1 derivation ----------------------------------------------
def _derive(meta_dir: str, raw: dict[str, Any]) -> LegacyFacts:
    """Every file's facts as the version-1 readers computed them."""
    snaps = raw["snapshots"]
    read: dict[str, dict[str, int]] = {}  # snapshots share manifests

    def manifest_counts(m: str) -> dict[str, int]:
        if m not in read:
            t = pq.read_table(
                os.path.join(meta_dir, m), columns=["file_path", "record_count"]
            )
            read[m] = dict(
                zip(t.column("file_path").to_pylist(), t.column("record_count").to_pylist())
            )
        return read[m]

    counts: dict[int, dict[str, int]] = {}
    keys: dict[int, str] = {}
    for s in snaps:
        counts[s["snapshot_id"]] = held = {}
        manifests = snapshot_lists(meta_dir, s).manifests
        keys[s["snapshot_id"]] = manifest_set_key(manifests)
        for m in manifests:
            held.update(manifest_counts(m))
    # birth: the first snapshot in log order whose added files name the
    # file; snapshots from before added-file lists count their whole
    # manifest set. A file whose birth snapshot was expired has none (0).
    births: dict[str, int] = {}
    for s in snaps:
        added = snapshot_lists(meta_dir, s).added_files
        for p in counts[s["snapshot_id"]] if added is None else added:
            births.setdefault(p, s["snapshot_id"])
    materialized = set(raw.get("materialized_lineage_files") or [])
    for s in snaps:
        materialized.update(s.get("lineage_files") or [])
    assignments = raw.get("row_id_assignments") or {}

    def snapshot_ids(sid: int) -> dict[str, int]:
        held = counts[sid]
        ids: dict[str, int] = {}
        acc = 0
        for p in sorted(held, key=lambda p: (births.get(p, 0), p)):
            ids[p] = acc
            acc += held[p]
        # the map answers a subset it fully covers; the materialized and
        # plain files of a snapshot were looked up as separate subsets
        for group in (
            [p for p in held if p in materialized],
            [p for p in held if p not in materialized],
        ):
            if all(p in assignments for p in group):
                ids.update((p, int(assignments[p])) for p in group)
        return ids

    per_snap = {s["snapshot_id"]: snapshot_ids(s["snapshot_id"]) for s in snaps}
    current = raw.get("current_snapshot_id")
    order = sorted(per_snap, key=lambda sid: (sid == current, sid))
    frozen: dict[str, int] = {}
    for sid in order:  # the current snapshot last, so its reading wins
        frozen.update(per_snap[sid])
    files = {
        p: (first, births.get(p, 0), p in materialized) for p, first in frozen.items()
    }
    overrides = {
        keys[sid]: diff
        for sid, ids in per_snap.items()
        if (diff := {p: v for p, v in ids.items() if v != frozen[p]})
    }
    return LegacyFacts(files, overrides)


# -- the facts file ---------------------------------------------------------
def _write(meta_dir: str, facts: LegacyFacts) -> str:
    rows = [
        {
            "file_path": p,
            "manifest_set": None,
            "first_row_id": f[0],
            "added_snapshot_id": f[1],
            "lineage_materialized": f[2],
        }
        for p, f in sorted(facts.files.items())
    ]
    for key, diff in sorted(facts.overrides.items()):
        rows.extend(
            {
                "file_path": p,
                "manifest_set": key,
                "first_row_id": v,
                "added_snapshot_id": None,
                "lineage_materialized": None,
            }
            for p, v in sorted(diff.items())
        )
    name = f"{FACTS_PREFIX}{uuid.uuid4().hex}.parquet"
    pq.write_table(
        pa.Table.from_pylist(rows, schema=_FACTS_SCHEMA), os.path.join(meta_dir, name)
    )
    return name


@functools.lru_cache(maxsize=64)  # facts files never change
def _load(path: str) -> LegacyFacts:
    files: dict[str, Fact] = {}
    overrides: dict[str, dict[str, int]] = {}
    for r in pq.read_table(path).to_pylist():
        if r["manifest_set"] is None:
            files[r["file_path"]] = (
                r["first_row_id"],
                r["added_snapshot_id"],
                r["lineage_materialized"],
            )
        else:
            overrides.setdefault(r["manifest_set"], {})[r["file_path"]] = r["first_row_id"]
    return LegacyFacts(files, overrides)
