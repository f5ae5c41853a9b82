"""Table versions on disk: the ``vN.metadata.json`` codec and resolution.

Every writer and reader of a table version goes through this module:

- ``encode`` turns a version (a dict, or its JSON text) into the bytes
  written under ``vN.metadata.json``: gzip with ``mtime=0``, so equal
  versions are equal bytes. Iceberg's
  ``write.metadata.compression-codec=gzip`` is the model; the file name
  keeps its ``.metadata.json`` suffix, so the create-if-absent commit
  CAS and every name-based lookup stay as they were.
- ``read`` decodes by content: gzip starts with ``\\x1f\\x8b``, which no
  JSON text does, so plain versions written before this codec read
  unchanged and one table may hold both kinds.
- ``current`` finds a table's head version without a commit-IO object:
  the POSIX pointer if there is one, else the object-store hint, a probe
  forward, and a LIST fallback (``commitio.py`` protocol).
- ``resolve`` walks a head's ``pending_txn`` chain (``txn.py`` protocol)
  to the version readers see, deciding each marker by ``final_state``.

Stdlib only: the stream sources import it on Spark's Python workers.
"""

from __future__ import annotations

import gzip
import json
import os
import re
from typing import Any

_NAME_RE = re.compile(r"^v(\d+)\.metadata\.json$")
_GZIP_MAGIC = b"\x1f\x8b"


def path(meta_dir: str, version: int) -> str:
    """The file of ``version`` under ``meta_dir``."""
    return os.path.join(meta_dir, f"v{version}.metadata.json")


def version_of(file_name: str) -> int | None:
    """The version number a ``vN.metadata.json`` file name carries, or
    None for any other name."""
    m = _NAME_RE.match(file_name)
    return int(m.group(1)) if m else None


def list_versions(meta_dir: str) -> list[int]:
    """Every version on disk under ``meta_dir``, ascending (a LIST)."""
    out = [version_of(fn) for fn in os.listdir(meta_dir)]
    return sorted(v for v in out if v is not None)


def encode(meta: "dict[str, Any] | str") -> bytes:
    """The bytes of one version: compact JSON, gzip-compressed with a
    zero mtime so the same version always encodes to the same bytes."""
    text = meta if isinstance(meta, str) else json.dumps(meta, separators=(",", ":"))
    return gzip.compress(text.encode("utf-8"), compresslevel=6, mtime=0)


def decode(raw: bytes) -> dict[str, Any]:
    """A version from its file bytes, gzip or plain JSON."""
    if raw[:2] == _GZIP_MAGIC:
        raw = gzip.decompress(raw)
    return json.loads(raw)


def read(meta_dir: str, version: int) -> dict[str, Any]:
    """Version ``version`` of the table under ``meta_dir``; raises
    ``FileNotFoundError`` when it is not on disk."""
    with open(path(meta_dir, version), "rb") as f:
        return decode(f.read())


def exists(meta_dir: str, version: int) -> bool:
    return os.path.exists(path(meta_dir, version))


def read_int(file_path: str) -> int | None:
    """The integer a pointer or hint file holds; None when the file is
    absent or does not hold one."""
    try:
        with open(file_path) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def probe(meta_dir: str, start: int | None) -> int:
    """The object-store head: from the advisory ``start`` (the hint),
    or from a LIST when ``start`` is absent or names no file, probe
    forward while ``v{n+1}`` exists. 0 when there is no version."""
    if start is None or start <= 0 or not exists(meta_dir, start):
        start = max(list_versions(meta_dir), default=0)
        if start == 0:
            return 0
    v = start
    while exists(meta_dir, v + 1):
        v += 1
    return v


def current(meta_dir: str) -> int:
    """The head version of the table under ``meta_dir``, whichever
    commit-IO layout wrote it. The POSIX pointer is authoritative when
    present: a crashed commit can leave an orphan ``v{N+1}`` it never
    published, so nothing probes past it. Without one every ``vN`` was
    created by the CAS, so the hint and a probe forward find the head."""
    v = read_int(os.path.join(meta_dir, "version-pointer.txt"))
    if v is not None:
        return v
    v = probe(meta_dir, read_int(os.path.join(meta_dir, "version-hint.text")))
    if v == 0:
        raise FileNotFoundError(f"no metadata versions under {meta_dir}")
    return v


# Terminal transaction states are immutable once written, so caching is
# sound: one filesystem stat per (process, transaction), ever.
_FINAL_CACHE: dict[str, str] = {}


def final_state(final_path: str) -> str | None:
    """A transaction's decision: 'committed' | 'aborted' | None
    (in-flight). Cached when terminal."""
    hit = _FINAL_CACHE.get(final_path)
    if hit is not None:
        return hit
    try:
        with open(final_path) as f:
            state = f.read().strip()
    except OSError:
        return None
    if state in ("committed", "aborted"):
        _FINAL_CACHE[final_path] = state
    return state


def resolve(
    meta_dir: str, version: int, own_txn: str | None = None
) -> tuple[int, dict[str, Any], dict[str, Any] | None]:
    """``(version, meta, head_txn)`` that readers of head ``version``
    see. A version carrying a ``pending_txn`` marker was staged by a
    multi-table transaction: it is visible when the transaction's final
    file (``final_state``) says committed, or when it is ``own_txn``'s;
    otherwise the walk falls back along ``base_version``. ``head_txn``
    is the head's marker when its transaction is still in flight (no
    final file), else None."""
    phys = version
    meta = read(meta_dir, version)
    head_txn = None
    while True:
        pending = meta.get("pending_txn")
        if not pending or pending["id"] == own_txn:
            break
        state = final_state(pending["final_path"])
        if state == "committed":
            break
        if state is None and head_txn is None and version == phys:
            head_txn = pending
        version = meta["base_version"]
        meta = read(meta_dir, version)
    return version, meta, head_txn


def load_current(table_dir: str) -> dict[str, Any]:
    """The resolved current version of the table at ``table_dir``."""
    meta_dir = os.path.join(table_dir, "metadata")
    return resolve(meta_dir, current(meta_dir))[1]


def pending_bases(meta_dir: str, version: int) -> set[int]:
    """Every ``base_version`` on the ``pending_txn`` chain from
    ``version``: what a resolution walk may need to read."""
    out: set[int] = set()
    while True:
        try:
            meta = read(meta_dir, version)
        except OSError:
            return out
        if not meta.get("pending_txn"):
            return out
        version = meta["base_version"]
        out.add(version)
