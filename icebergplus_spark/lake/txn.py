"""Multi-table transactions: WAL-backed two-phase pointer publish.

Capability parity: the reference pins Iceberg 1.10 via ``iceberg-bom``
(pom.xml:53,108-114) whose catalog API exposes transactions; its commit
authority is a transactional JDBC catalog (LocalIcebergCatalog.java:
133-135). This module gives the Spark-native catalog the multi-table
analogue: write N tables, readers see all of the new versions or none.

Protocol (every step maps onto conditional-PUT object-store semantics —
nothing here needs rename):

1. **Intent (WAL)** — ``<warehouse>/_txns/txn-<id>.json`` is created
   with ``open(path, "x")`` *before* any table is touched: txn id, the
   participating tables, and a TTL lease. Recovery discovers every
   in-flight transaction from this record alone.
2. **Stage** — each buffered operation runs against its table through
   the NORMAL commit path (data files, manifests, snapshot, metadata
   CAS — concurrent independent writers conflict exactly as always),
   but the staged metadata version carries a ``pending_txn`` marker
   ``{id, final_path, expires}`` and a ``base_version`` pointer to the
   physical version it was built on.
3. **Publish** — one ``open(final_path, "x")`` writing ``committed``.
   This single create-if-absent IS the atomic cross-table flip.
4. **Resolution (readers)** — ``LakeTable.refresh`` sees a
   ``pending_txn`` marker on the head metadata and resolves it through
   the final file: ``committed`` → visible; ``aborted`` or absent
   (in-flight) → fall back along ``base_version``. Terminal states are
   immutable, so each process pays ONE stat per transaction ever
   (module-level cache). Unmarked tables never pay anything.

Crash windows (the honesty argument):

* after intent, before any stage → no table has a marker; recovery
  aborts the expired intent. Nothing was ever visible.
* between stage commits → staged heads resolve to ``base_version``
  because the final file doesn't exist. No torn read is possible *by
  construction*: there is no instant at which one table's staged
  version is visible and another's is not, because visibility for all
  of them is the same file's existence.
* coordinator death before publish → lease expires; recovery (or the
  next writer on a blocked table) wins the final-file CAS with
  ``aborted``. A slow coordinator waking up afterwards LOSES the same
  CAS, reads ``aborted``, and reports failure — commit is only ever
  reported after winning the CAS, so durability never depends on wall
  clocks.
* death after publish → markers stay on the heads; they resolve as
  committed forever, and the next normal commit on each table seals
  (strips) the marker. Staged-but-aborted versions become unreferenced
  garbage for vacuum, like any orphaned metadata.

Concurrency: a staged head acts as a table-level write intent —
ordinary committers that find an in-flight marker raise
``ConcurrentCommitError`` until the lease expires, after which they
abort the transaction via the same final-file CAS and proceed. Two
transactions staging the same table serialize on the table's own
version CAS.

On a real deployment the ``_txns/`` objects live in the same store as
the table metadata (S3 conditional PUT) or as rows behind
``CatalogServiceCommitIO`` — the protocol only needs create-if-absent.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any

from icebergplus_spark.lake.commitio import ConcurrentCommitError
from icebergplus_spark.lake.versions import _FINAL_CACHE, final_state


class TransactionAborted(RuntimeError):
    """The transaction lost its publish CAS (recovery or a lease
    takeover aborted it) — none of its writes are visible."""


def _decide(final_path: str, verdict: str) -> str:
    """Race for the transaction's single decision point: create the
    final file with ``verdict``. Exactly one creator wins; everyone
    returns the decision that actually stuck.

    The create must be CONTENT-atomic: a bare ``open(path, "x")`` makes
    an empty file visible before the verdict bytes land, and a racer
    reading that window could report its own verdict as the decision.
    So the verdict is written to a private temp file first and
    ``os.link``ed into place — link is create-if-absent WITH content
    (the object-store analogue, conditional PUT, is content-atomic by
    construction)."""
    tmp = f"{final_path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(verdict)
    try:
        os.link(tmp, final_path)
        _FINAL_CACHE[final_path] = verdict
        return verdict
    except FileExistsError:
        existing = final_state(final_path)
        if existing is not None:
            return existing
        # legacy empty-window file (pre-link writer): the content is
        # instants away — spin briefly, then fail safe as 'aborted'
        # (never report a commit that cannot be confirmed)
        for _ in range(50):
            time.sleep(0.01)
            existing = final_state(final_path)
            if existing is not None:
                return existing
        return "aborted"
    finally:
        try:
            os.remove(tmp)
        except OSError:
            pass


def txns_dir(root_dir: str) -> str:
    return os.path.join(root_dir, "_txns")


def abort_if_expired(pending: dict[str, Any]) -> str | None:
    """Lease takeover: an ordinary writer (or recovery) found an
    in-flight marker. If the lease expired, race the coordinator for
    the final CAS with ``aborted``; return the decision that stuck.
    Before expiry, leave it alone (returns None)."""
    state = final_state(pending["final_path"])
    if state is not None:
        return state
    if time.time() < float(pending.get("expires", 0)):
        return None
    return _decide(pending["final_path"], "aborted")


class LakeTransaction:
    """Buffered multi-table write transaction (see module docstring).

    Usage::

        with catalog.transaction() as txn:
            txn.append("db.fact", fact_df)
            txn.overwrite("db.dim", dim_df)
        # exit commits atomically; an exception aborts

    Operations are buffered and run at commit() in call order; until
    then no table is touched (the data writes themselves happen during
    the stage phase). Reads inside the transaction see the pre-txn
    state — this is an atomic multi-table *write* primitive, not MVCC
    reads.
    """

    def __init__(self, catalog, ttl_s: float = 600.0) -> None:
        self.catalog = catalog
        self.ttl_s = ttl_s
        self.txn_id = uuid.uuid4().hex
        self._ops: list[tuple[str, str, tuple, dict]] = []
        self._dir = txns_dir(catalog.root_dir)
        self._intent_path = os.path.join(self._dir, f"txn-{self.txn_id}.json")
        self._final_path = os.path.join(self._dir, f"txn-{self.txn_id}.final")
        self._state = "open"

    # -- buffered operations ----------------------------------------------
    def _op(self, identifier: str, op: str, *args, **kwargs) -> None:
        if self._state != "open":
            raise RuntimeError(f"transaction is {self._state}")
        if not self.catalog.table_exists(identifier):
            raise KeyError(f"no such table: {identifier}")
        self._ops.append((identifier, op, args, kwargs))

    def append(self, identifier: str, df, **kwargs) -> None:
        self._op(identifier, "append", df, **kwargs)

    def overwrite(self, identifier: str, df) -> None:
        self._op(identifier, "overwrite", df)

    def delete(self, identifier: str, preds: dict) -> None:
        self._op(identifier, "delete", preds)

    def update_where(self, identifier: str, preds: dict, assignments: dict) -> None:
        self._op(identifier, "update_where", preds, assignments)

    # -- two-phase commit ---------------------------------------------------
    @property
    def tables(self) -> list[str]:
        seen: dict[str, None] = {}
        for ident, *_ in self._ops:
            seen.setdefault(ident)
        return list(seen)

    def _begin(self) -> None:
        """Phase 0: durable intent record (the WAL entry)."""
        os.makedirs(self._dir, exist_ok=True)
        expires = time.time() + self.ttl_s
        with open(self._intent_path, "x") as f:
            json.dump(
                {
                    "txn_id": self.txn_id,
                    "tables": self.tables,
                    "created": time.time(),
                    "expires": expires,
                    "final_path": self._final_path,
                },
                f,
            )
        self._expires = expires

    def _stage_all(self) -> dict[str, int]:
        """Phase 1: run every buffered op through the normal commit
        path, marking each published metadata version with the pending
        marker. Returns identifier → staged physical version."""
        handles: dict[str, Any] = {}
        staged: dict[str, int] = {}
        for ident, op, args, kwargs in self._ops:
            t = handles.get(ident)
            if t is None:
                t = self.catalog.load_table(ident)
                # our own staged versions must stay visible to us so
                # sequential ops on one table compose
                t._own_txn = self.txn_id
                t._staging_txn = {
                    "id": self.txn_id,
                    "final_path": self._final_path,
                    "expires": self._expires,
                }
                handles[ident] = t
            getattr(t, op)(*args, **kwargs)
            staged[ident] = t._meta["_phys_version"]
        return staged

    def _publish(self) -> None:
        """Phase 2: the atomic flip."""
        if _decide(self._final_path, "committed") != "committed":
            self._state = "aborted"
            raise TransactionAborted(
                f"txn {self.txn_id} was aborted before publish "
                "(lease takeover or recovery)"
            )
        self._state = "committed"

    def commit(self) -> dict[str, Any]:
        if self._state != "open":
            raise RuntimeError(f"transaction is {self._state}")
        if not self._ops:
            self._state = "committed"
            return {"txn_id": self.txn_id, "tables": [], "staged": {}}
        self._begin()
        try:
            staged = self._stage_all()
        except BaseException:
            # any staging failure (incl. ConcurrentCommitError from an
            # independent writer) → decide 'aborted'; already-staged
            # versions become permanently invisible
            self.abort()
            raise
        self._publish()
        return {"txn_id": self.txn_id, "tables": self.tables, "staged": staged}

    def abort(self) -> None:
        if self._state in ("committed", "aborted"):
            return
        if os.path.exists(self._intent_path):
            if _decide(self._final_path, "aborted") == "committed":
                # we lost an abort race against our own publish — cannot
                # happen from this API (publish flips state first), but
                # guard the invariant anyway
                self._state = "committed"
                return
        self._state = "aborted"

    def __enter__(self) -> "LakeTransaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self.commit()
        else:
            self.abort()


def _head_marker_references(catalog, intent: dict[str, Any]) -> bool:
    """True if ANY participating table's PHYSICAL head metadata still
    carries this transaction's ``pending_txn`` marker. Only the head
    matters: refresh() starts its resolution walk there, so once a
    later publish seals the marker (every publish site pops
    ``pending_txn``), mid-chain copies are never consulted again and
    the final record is dead weight."""
    for ident in intent.get("tables", []):
        try:
            t = catalog.load_table(ident)
            head = t._load_meta_version(t._meta["_phys_version"])
        except (KeyError, FileNotFoundError):
            continue  # dropped table / vacuumed head → no reference
        except Exception:
            # ADVICE r5: a TRANSIENT read failure (sqlite busy, fs
            # hiccup) must not read as "no reference" — deleting a
            # still-referenced COMMITTED final would flip its staged
            # versions invisible. Conservatively claim a reference so
            # GC skips this txn until the read succeeds.
            return True
        pending = head.get("pending_txn")
        if pending and pending.get("id") == intent.get("txn_id"):
            return True
    return False


def gc_settled_transactions(catalog, grace_s: float = 600.0) -> int:
    """Garbage-collect intent+final pairs of TERMINAL transactions that
    are past lease expiry by ``grace_s`` and whose marker no table head
    still references (ADVICE r4: without this, recovery rescans every
    intent ever written and ``_txns/`` grows without bound on
    long-lived warehouses). Deleting a still-referenced COMMITTED final
    would flip its staged versions invisible on the next refresh — the
    head-marker check makes removal observationally free. Returns the
    number of transactions collected."""
    d = txns_dir(catalog.root_dir)
    if not os.path.isdir(d):
        return 0
    collected = 0
    now = time.time()
    for fn in sorted(os.listdir(d)):
        if not (fn.startswith("txn-") and fn.endswith(".json")):
            continue
        intent_path = os.path.join(d, fn)
        try:
            with open(intent_path) as f:
                intent = json.load(f)
        except (OSError, ValueError):
            continue
        final_path = intent.get("final_path", "")
        if final_state(final_path) is None:
            continue  # in-flight (or undecided) — recovery's job, not GC's
        if now < float(intent.get("expires", 0)) + grace_s:
            continue  # give racing readers the full lease + grace window
        if _head_marker_references(catalog, intent):
            continue
        for p in (intent_path, final_path):
            try:
                os.remove(p)
            except OSError:
                pass
        _FINAL_CACHE.pop(final_path, None)
        collected += 1
    # bound the per-process cache too (terminal states are immutable,
    # so dropping entries only costs a re-stat)
    if len(_FINAL_CACHE) > 10_000:
        _FINAL_CACHE.clear()
    return collected


def recover_transactions(catalog) -> dict[str, str]:
    """Idempotent recovery sweep (runs at catalog.start): every intent
    record without a final decision whose lease expired is aborted via
    the final-file CAS. In-flight unexpired transactions are left alone
    (their coordinator may still publish). Terminal records past their
    lease whose markers no table head references are garbage-collected
    (gc_settled_transactions), bounding sweep cost on long-lived
    warehouses. Returns txn_id → decision for the transactions this
    sweep settled."""
    d = txns_dir(catalog.root_dir)
    settled: dict[str, str] = {}
    if not os.path.isdir(d):
        return settled
    for fn in sorted(os.listdir(d)):
        if not (fn.startswith("txn-") and fn.endswith(".json")):
            continue
        try:
            with open(os.path.join(d, fn)) as f:
                intent = json.load(f)
        except (OSError, ValueError):
            continue
        decision = abort_if_expired(
            {
                "final_path": intent["final_path"],
                "expires": intent.get("expires", 0),
            }
        )
        if decision is not None:
            settled[intent["txn_id"]] = decision
    gc_settled_transactions(catalog)
    return settled
