"""Manifests: the one driver-side reader (and writer) of manifest files.

A manifest is a parquet file of entries, one per data or delete file
(``table.MANIFEST_SCHEMA`` / ``DELETE_MANIFEST_SCHEMA``). Planning,
folds, commit totals and maintenance read them through this module,
which keeps a process-wide, lock-guarded LRU of decoded manifests, in
the spirit of Iceberg's ``ManifestFiles`` content cache: a plan over an
unchanged snapshot opens no manifest.

- The cache is keyed by ``(path, st_mtime_ns, st_size)``, not by path
  alone: a manifest rewritten in place (an older format simulated, a
  restored backup) is read again instead of served stale.
- It holds at most ``_CACHE_BYTES`` Arrow bytes of decoded manifests,
  least recently used first out. A manifest only counted (``count``)
  weighs ``_FOOTER_BYTES``.
- The writer seeds it with the Arrow table it wrote, decoded on first
  use, so a manifest this process just committed costs no read, and a
  commit does not pay for a decode nobody may ask for.
- Callers get fresh entry dicts, copied only for the entries they keep;
  mutating one never reaches the cache.
- Each stats JSON string (``column_mins`` …) is parsed once while it is
  memoised (``stats``), not once per plan.

The executor tiers read manifests with ``spark.read.parquet`` and do
not go through here; neither does ``upgrade.py``'s one-time lift.
"""

from __future__ import annotations

import json
import os
import threading
from collections import OrderedDict
from typing import Any, Callable, Iterable, NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq

# Arrow bytes of manifests the cache holds. Decoded rows take about as
# much: 1,192 entries with an HLL column are 5.3 MB of Arrow and about
# 6.4 MB of Python rows.
_CACHE_BYTES = 64 << 20
_FOOTER_BYTES = 1 << 10
# distinct stats strings kept parsed: five per entry, so ~13k entries
_STATS_MAX = 1 << 16
# entry columns a commit assigns (upgrade.py: format version 2)
FACT_COLUMNS = ("first_row_id", "added_snapshot_id", "lineage_materialized")


class _Manifest:
    __slots__ = ("sig", "n", "table", "rows", "weight", "facts")

    def __init__(self, sig: tuple[int, int], n: int, table: pa.Table | None = None):
        self.sig = sig  # (st_mtime_ns, st_size)
        self.n = n
        self.table = table  # dropped once decoded; None with rows: counted only
        self.rows: tuple[dict[str, Any], ...] | None = None  # decoded on first use
        self.weight = _FOOTER_BYTES + (0 if table is None else table.nbytes)
        self.facts: dict[str, tuple | None] | None = None  # built on first ask


_cache: "OrderedDict[str, _Manifest]" = OrderedDict()
_held = 0
_lock = threading.Lock()
_parsed: dict[Any, Any] = {}


def _sig(path: str) -> tuple[int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size


def _put(path: str, m: _Manifest) -> None:
    global _held
    if m.weight > _CACHE_BYTES:
        return
    with _lock:
        old = _cache.pop(path, None)
        if old is not None:
            _held -= old.weight
        _cache[path] = m
        _held += m.weight
        while _held > _CACHE_BYTES:
            _, out = _cache.popitem(last=False)
            _held -= out.weight


def _get(path: str, decode: bool = True) -> _Manifest:
    """The cache entry of ``path``, read on a miss: the whole manifest
    when ``decode``, else its footer's entry count only."""
    sig = _sig(path)
    with _lock:
        m = _cache.get(path)
        if m is not None and m.sig == sig:
            _cache.move_to_end(path)
        else:
            m = None
    if m is None or (decode and m.table is None and m.rows is None):
        if decode:
            t = pq.read_table(path)
            m = _Manifest(sig, t.num_rows, t)
        else:
            m = _Manifest(sig, pq.read_metadata(path).num_rows)
        _put(path, m)
    if decode and m.rows is None:
        # a racing decoder sets the rows before it drops the table
        t = m.table
        m.rows = m.rows if t is None else tuple(t.to_pylist())
        m.table = None
    return m


def write(meta_dir: str, name: str, entries: list[dict[str, Any]], schema: pa.Schema) -> str:
    """Write ``entries`` as manifest ``name`` (zstd; parquet records the
    codec per file, so older snappy manifests read the same) and seed
    the cache with them. Returns ``name``."""
    path = os.path.join(meta_dir, name)
    t = pa.Table.from_pylist(entries, schema=schema)
    pq.write_table(t, path, compression="zstd")
    _put(path, _Manifest(_sig(path), t.num_rows, t))
    return name


def entries(
    meta_dir: str,
    names: Iterable[str],
    keep: Callable[[dict[str, Any]], bool] | None = None,
) -> list[dict[str, Any]]:
    """Fresh copies of the entries of manifests ``names``, in order,
    that ``keep`` accepts (all of them without one). ``keep`` sees the
    cached entry and must not mutate it."""
    out: list[dict[str, Any]] = []
    for name in names:
        rows = _get(os.path.join(meta_dir, name)).rows
        out.extend(dict(r) for r in rows if keep is None or keep(r))
    return out


def count(meta_dir: str, names: Iterable[str]) -> int:
    """Total entries of manifests ``names``: a cached count, else the
    parquet footer (no entry is decoded)."""
    return sum(_get(os.path.join(meta_dir, n), decode=False).n for n in names)


def file_paths(meta_dir: str, names: Iterable[str]) -> list[str]:
    """The ``file_path`` of every entry of manifests ``names``. A
    manifest not in the cache has only that column read, and is not
    cached: expiry asks this of manifests it is about to delete."""
    out: list[str] = []
    for name in names:
        path = os.path.join(meta_dir, name)
        sig = _sig(path)
        with _lock:
            m = _cache.get(path)
        if m is not None and m.sig == sig and m.rows is not None:
            out.extend(r["file_path"] for r in m.rows)
        else:
            t = pq.read_table(path, columns=["file_path"])
            out.extend(t.column("file_path").to_pylist())
    return out


def facts(path: str) -> dict[str, tuple | None]:
    """{file path → (first_row_id, added_snapshot_id,
    lineage_materialized)} of one manifest; None for an entry without
    them (a manifest from before format version 2). Shared: callers
    must not mutate it."""
    m = _get(path)
    if m.facts is None:
        m.facts = {
            r["file_path"]: (
                (r["first_row_id"], r["added_snapshot_id"], bool(r["lineage_materialized"]))
                if all(c in r for c in FACT_COLUMNS) and r["first_row_id"] is not None
                else None
            )
            for r in m.rows
        }
    return m.facts


def _json(s: Any) -> Any:
    hit = _parsed.get(s)
    if hit is None:
        hit = json.loads(s)
        if len(_parsed) >= _STATS_MAX:
            _parsed.clear()
        _parsed[s] = hit
    return hit


class Stats(NamedTuple):
    mins: dict[str, Any]
    maxs: dict[str, Any]
    nulls: dict[str, int]
    nans: dict[str, int]
    blooms: dict[str, str]


def stats(row: dict[str, Any]) -> Stats:
    """An entry's pruning stats, parsed from its JSON columns. Parses
    are memoised by string, and a copied entry shares its strings with
    the cached one, so a plan over cached entries parses nothing. The
    dicts are shared: read them, never mutate them."""
    return Stats(
        _json(row["column_mins"]),
        _json(row["column_maxs"]),
        _json(row.get("column_null_counts") or "{}"),
        _json(row.get("column_nan_counts") or "{}"),
        _json(row.get("column_blooms") or "{}"),
    )


def clear() -> None:
    """Drop every cached manifest and parse (tests measure cold reads)."""
    global _held
    with _lock:
        _cache.clear()
        _held = 0
    _parsed.clear()
