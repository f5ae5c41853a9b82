"""Pluggable metadata publication + commit locking (object-store FileIO).

Parity target: the reference wires its catalog to S3-compatible object
storage (``S3FileIO`` against MinIO — LocalIcebergCatalog.java:87-97,
120-131; asserted LocalIcebergCatalogTest.java:125,140) and gets
cross-process commit atomicity from a transactional JDBC catalog
(LocalIcebergCatalog.java:122,133-135). This module is the Spark-native
analogue: the *strategy* a table uses to (a) discover its current
metadata version, (b) atomically publish the next one, and (c) mutually
exclude concurrent committers is pluggable, so the same ``LakeTable``
runs over POSIX directories in tests and over rename-less object
storage in production.

Two built-in strategies:

``RenameCommitIO`` (default, POSIX semantics)
    Version discovery reads ``version-pointer.txt``; publication writes
    ``vN.metadata.json`` then atomically swaps the pointer with
    ``os.replace``; the critical section is an exclusive ``flock``.
    Exactly the behavior this repo has always had — safe wherever
    rename is atomic (local fs, HDFS).

``ObjectStoreCommitIO`` (S3 semantics: NO atomic rename)
    Object stores have no rename — only PUT (overwrite), conditional
    PUT (create-if-absent), LIST, GET, DELETE. So:

    * **Publication IS the CAS**: ``vN.metadata.json`` is created with
      ``open(path, "x")`` — create-if-absent. Exactly one of any number
      of racing committers wins version N; losers get
      ``ConcurrentCommitError`` and retry against the refreshed table.
      On real S3 this maps to a conditional PUT with
      ``If-None-Match: *`` (supported natively since 2024; also by
      MinIO/GCS/ABFS); via Hadoop, ``fs.create(path, overwrite=false)``.
      No lock is *required* for correctness — the optional lease lock
      below only reduces wasted work under contention.
    * **Version discovery is list-after-write**: start from the
      advisory ``version-hint.text`` (plain overwrite PUT — atomic on
      S3, merely best-effort on local fs) and probe forward until
      ``v{n+1}`` is absent; if the hint is unreadable or stale, fall
      back to a full LIST of ``v*.metadata.json``. S3 LIST has been
      strongly consistent (read-after-write) since Dec 2020, so a
      committed version is always discoverable. This is the same
      version-hint + probe protocol Iceberg's HadoopTableOperations
      uses on stores with atomic create.

Commit locks (orthogonal to publication, pluggable on either IO):

``FlockCommitLock``
    POSIX ``fcntl.flock`` on ``commit.lock`` — serializes every
    process on ONE host. This is the piece SCALING.md flags as the
    single-host boundary.

``DirectoryLeaseCommitLock``
    ``os.mkdir`` of ``commit.lockdir`` — atomic create-if-absent on
    every shared filesystem (and maps to conditional PUT of a lock
    object on object stores), so it serializes committers across
    HOSTS sharing the warehouse. The holder records a TTL lease
    (``lease.json``) inside; a crashed holder's lock is taken over
    after the lease expires, so one dead committer cannot wedge the
    table. Takeover + publish still race in principle — which is why
    ``ObjectStoreCommitIO`` keeps correctness in the conditional
    create, and the lock only bounds contention.

``NullCommitLock``
    No mutual exclusion — valid with ``ObjectStoreCommitIO`` where the
    conditional create is the real CAS (losers pay a wasted metadata
    write, nothing more).

s3a configuration mapping (what changes on a real cluster — nothing in
this module does): point the warehouse at ``s3a://bucket/warehouse``,
set ``spark.hadoop.fs.s3a.endpoint`` / ``.access.key`` /
``.secret.key`` / ``.path.style.access=true`` (the four knobs
LocalIcebergCatalog.java:124-128 passes to S3FileIO), use
``ObjectStoreCommitIO`` + ``DirectoryLeaseCommitLock``, and route the
``open``/``listdir`` calls through the ``s3a`` filesystem client. The
protocol above assumes only conditional-PUT + consistent LIST, both of
which S3/MinIO provide.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager

from icebergplus_spark.lake import versions


class ConcurrentCommitError(RuntimeError):
    """Another writer committed first — refresh() and retry.

    Parity: Iceberg's CommitFailedException, the signal its retry loop
    (and the reference's ``attempts`` commit metric) is built on.
    """


class CommitLockTimeout(RuntimeError):
    """Could not acquire the commit lock before the deadline."""


# ---------------------------------------------------------------------------
# Locks
# ---------------------------------------------------------------------------


class NullCommitLock:
    """No-op lock: rely on the IO's publish CAS alone."""

    name = "none"

    @contextmanager
    def lock(self, meta_dir: str):
        yield


class FlockCommitLock:
    """Exclusive OS file lock — serializes committers on one host."""

    name = "flock"

    @contextmanager
    def lock(self, meta_dir: str):
        lock_path = os.path.join(meta_dir, "commit.lock")
        with open(lock_path, "a+") as lock_f:
            try:
                import fcntl

                fcntl.flock(lock_f, fcntl.LOCK_EX)
            except ImportError:  # non-POSIX: fall back to optimistic check
                pass
            yield


class DirectoryLeaseCommitLock:
    """mkdir-based lease lock — serializes committers across hosts.

    ``os.mkdir`` is atomic create-if-absent on shared filesystems; on
    an object store the same shape is a conditional PUT of a lock
    object. The holder writes ``lease.json`` with an expiry; a lock
    whose lease has expired (crashed holder) is broken and re-acquired.
    """

    name = "lease"

    def __init__(
        self,
        ttl_s: float = 60.0,
        timeout_s: float = 30.0,
        poll_s: float = 0.02,
    ) -> None:
        self.ttl_s = ttl_s
        self.timeout_s = timeout_s
        self.poll_s = poll_s

    def _lockdir(self, meta_dir: str) -> str:
        return os.path.join(meta_dir, "commit.lockdir")

    def _lease_expired(self, lockdir: str) -> bool:
        lease = os.path.join(lockdir, "lease.json")
        try:
            with open(lease) as f:
                return time.time() > float(json.load(f)["expires"])
        except (OSError, ValueError, KeyError, TypeError):
            # Holder crashed between mkdir and lease write (or lease is
            # mid-PUT): judge staleness by the lockdir's own age.
            try:
                return time.time() > os.stat(lockdir).st_mtime + self.ttl_s
            except OSError:
                return False  # lockdir vanished — next mkdir will tell

    @contextmanager
    def lock(self, meta_dir: str):
        lockdir = self._lockdir(meta_dir)
        holder = uuid.uuid4().hex
        deadline = time.time() + self.timeout_s
        while True:
            try:
                os.mkdir(lockdir)
                break
            except FileExistsError:
                if self._lease_expired(lockdir):
                    # Takeover: remove the dead holder's lock and race
                    # for the next mkdir. Two breakers can both rmtree;
                    # only one mkdir wins — and commit correctness never
                    # rests here (the publish CAS is authoritative).
                    shutil.rmtree(lockdir, ignore_errors=True)
                    continue
                if time.time() > deadline:
                    raise CommitLockTimeout(
                        f"commit lock busy for >{self.timeout_s}s: {lockdir}"
                    )
                time.sleep(self.poll_s)
        try:
            with open(os.path.join(lockdir, "lease.json"), "w") as f:
                json.dump(
                    {"holder": holder, "expires": time.time() + self.ttl_s}, f
                )
            yield
        finally:
            shutil.rmtree(lockdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# Commit IO strategies
# ---------------------------------------------------------------------------


class RenameCommitIO:
    """POSIX strategy: pointer file + atomic rename; flock critical
    section. (The repo's original commit path, factored out.)"""

    name = "rename"
    atomic_rename = True

    def __init__(self, lock=None) -> None:
        self._lock = lock or FlockCommitLock()

    def lock(self, meta_dir: str):
        return self._lock.lock(meta_dir)

    def pointer_path(self, meta_dir: str) -> str:
        return os.path.join(meta_dir, "version-pointer.txt")

    def current_version(self, meta_dir: str) -> int:
        with open(self.pointer_path(meta_dir)) as f:
            return int(f.read().strip())

    def publish(self, meta_dir: str, version: int, payload: str) -> None:
        """Write vN metadata (``payload`` is its JSON text, written
        through the ``versions`` codec), then atomically swap the
        pointer. A crash after the metadata write leaves an orphan vN
        file with the pointer still on vN-1 — invisible, safe."""
        with open(versions.path(meta_dir, version), "wb") as f:
            f.write(versions.encode(payload))
        ptr = self.pointer_path(meta_dir)
        tmp = ptr + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, ptr)  # atomic pointer swap


class ObjectStoreCommitIO:
    """S3-semantics strategy: NO rename anywhere. Create-if-absent of
    the metadata object is the CAS; discovery is hint + probe with a
    LIST fallback. See module docstring for the full protocol."""

    name = "object-store"
    atomic_rename = False

    def __init__(self, lock=None) -> None:
        self._lock = lock or NullCommitLock()

    def lock(self, meta_dir: str):
        return self._lock.lock(meta_dir)

    def hint_path(self, meta_dir: str) -> str:
        return os.path.join(meta_dir, "version-hint.text")

    def current_version(self, meta_dir: str) -> int:
        # The hint is advisory: absent or corrupt, a LIST recovers; it
        # may trail committed versions (it is written after the CAS,
        # best-effort), so the probe walks forward from it.
        v = versions.probe(meta_dir, versions.read_int(self.hint_path(meta_dir)))
        if v == 0:
            raise FileNotFoundError(f"no metadata versions under {meta_dir}")
        return v

    def publish(self, meta_dir: str, version: int, payload: str) -> None:
        path = versions.path(meta_dir, version)
        data = versions.encode(payload)
        try:
            # Create-if-absent IS the commit CAS (conditional PUT,
            # If-None-Match: * on real S3). Exactly one writer wins vN.
            with open(path, "xb") as f:
                f.write(data)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"metadata v{version} already committed by another writer "
                f"({path}) — refresh() and retry"
            ) from None
        # Advisory hint: plain overwrite PUT (atomic object swap on S3;
        # best-effort on local fs — discovery never depends on it).
        try:
            with open(self.hint_path(meta_dir), "w") as f:
                f.write(str(version))
        except OSError:
            pass


def detect_commit_io(meta_dir: str) -> "RenameCommitIO | ObjectStoreCommitIO":
    """Infer a table's commit-IO layout from its metadata directory:
    a POSIX pointer file marks RenameCommitIO; otherwise the table was
    committed under the object-store protocol. For code paths handed a
    bare table_dir (the DSv2 writer's driver-side commit, external
    tools) rather than a catalog that knows its strategy."""
    if os.path.exists(os.path.join(meta_dir, "version-pointer.txt")):
        return RenameCommitIO()
    return ObjectStoreCommitIO()


class CatalogServiceCommitIO:
    """Catalog-service strategy: a transactional database is the commit
    authority — the reference's actual design (its catalog is
    ``JdbcCatalog`` over embedded H2, LocalIcebergCatalog.java:133-135;
    the SCALING.md (→) upgrade point). The service here is an embedded
    sqlite database shared by every table of a warehouse; on a real
    deployment the same statements run against Postgres/MySQL
    (Iceberg's JdbcCatalog) or a DynamoDB conditional write — sqlite is
    the embedded stand-in exactly as H2 is the reference's.

    * **The commit point is the database transaction**: one
      ``BEGIN IMMEDIATE`` that CASes the table's version row
      (``version = N WHERE version = N-1``) and records the metadata
      payload. Losers roll back with ``ConcurrentCommitError`` — they
      never touch the filesystem at all, so a stale committer can never
      clobber a committed metadata file.
    * **Files are a materialized cache**: after the row commit, the
      payload is written to the conventional ``vN.metadata.json`` with
      create-if-absent (losers don't exist; racing healers write
      identical bytes). A crash between row-commit and file write is
      self-healing: ``current_version`` re-materializes any missing
      file from the recorded payload, so readers (and the scan/stream
      paths that open ``v{N}.metadata.json`` by name) never notice.
    * **Discovery is one row read.** A table that predates this
      strategy (committed under rename/object-store IO) is adopted on
      first contact: its row is seeded from a directory LIST.
    * **No lock needed** — the row transaction is the critical section
      (``NullCommitLock`` default, same stance as ObjectStoreCommitIO).
    """

    name = "catalog-service"
    atomic_rename = False
    # payload rows to retain per table (older files are already
    # materialized; this only bounds service-side storage)
    keep_payloads = 20

    def __init__(self, db_path: str | None = None, lock=None) -> None:
        self.db_path = db_path
        self._lock = lock or NullCommitLock()

    def lock(self, meta_dir: str):
        return self._lock.lock(meta_dir)

    def _db(self, meta_dir: str):
        import sqlite3

        path = self.db_path or os.path.join(
            os.path.dirname(os.path.dirname(meta_dir)), "_catalog_service.db"
        )
        con = sqlite3.connect(path, timeout=30.0)
        con.executescript(
            "CREATE TABLE IF NOT EXISTS tables "
            "(meta_dir TEXT PRIMARY KEY, version INTEGER NOT NULL);"
            "CREATE TABLE IF NOT EXISTS payloads "
            "(meta_dir TEXT NOT NULL, version INTEGER NOT NULL, "
            " payload TEXT NOT NULL, PRIMARY KEY (meta_dir, version));"
        )
        return con

    @staticmethod
    def _materialize(meta_dir: str, version: int, payload: str) -> None:
        """Write the conventional metadata file from the committed
        payload. Create-if-absent: concurrent healers race benignly
        (identical bytes); an already-present file is left untouched.
        The bytes go to a temp file that is then hard-linked into place,
        so a reader that finds vN never opens it half-written."""
        path = versions.path(meta_dir, version)
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(versions.encode(payload))
        try:
            os.link(tmp, path)
        except FileExistsError:
            pass
        finally:
            os.remove(tmp)

    def _seed_version(self, con, meta_dir: str) -> int:
        """Adopt a table with no service row: seed from a directory
        LIST (idempotent — INSERT OR IGNORE settles races)."""
        try:
            best = max(versions.list_versions(meta_dir), default=0)
        except OSError:
            best = 0
        if best:
            con.execute(
                "INSERT OR IGNORE INTO tables (meta_dir, version) VALUES (?, ?)",
                (meta_dir, best),
            )
            con.commit()
        return best

    def current_version(self, meta_dir: str) -> int:
        con = self._db(meta_dir)
        try:
            row = con.execute(
                "SELECT version FROM tables WHERE meta_dir = ?", (meta_dir,)
            ).fetchone()
            if not row:
                v = self._seed_version(con, meta_dir)
                if v == 0:
                    raise FileNotFoundError(
                        f"no metadata versions under {meta_dir}"
                    )
                return v
            version = int(row[0])
            # self-heal: a committer that died between its row commit
            # and the file write left no vN file — re-materialize it
            if not versions.exists(meta_dir, version):
                p = con.execute(
                    "SELECT payload FROM payloads WHERE meta_dir = ? "
                    "AND version = ?",
                    (meta_dir, version),
                ).fetchone()
                if p:
                    self._materialize(meta_dir, version, p[0])
            return version
        finally:
            con.close()

    def publish(self, meta_dir: str, version: int, payload: str) -> None:
        import sqlite3

        con = self._db(meta_dir)
        try:
            try:
                con.execute("BEGIN IMMEDIATE")
            except sqlite3.OperationalError as e:
                # Under write contention sqlite raises 'database is
                # locked' once the busy timeout lapses. Callers key
                # their retry loops on ConcurrentCommitError, so a raw
                # OperationalError would escape them — normalize it.
                if "locked" in str(e).lower() or "busy" in str(e).lower():
                    raise ConcurrentCommitError(
                        f"catalog service busy ({meta_dir}): {e} — "
                        "refresh() and retry"
                    ) from e
                raise
            row = con.execute(
                "SELECT version FROM tables WHERE meta_dir = ?", (meta_dir,)
            ).fetchone()
            current = int(row[0]) if row else 0
            if current != version - 1:
                con.rollback()
                raise ConcurrentCommitError(
                    f"catalog service has v{current}, expected v{version - 1} "
                    f"({meta_dir}) — refresh() and retry"
                )
            if row:
                con.execute(
                    "UPDATE tables SET version = ? WHERE meta_dir = ? "
                    "AND version = ?",
                    (version, meta_dir, version - 1),
                )
            else:
                con.execute(
                    "INSERT INTO tables (meta_dir, version) VALUES (?, ?)",
                    (meta_dir, version),
                )
            con.execute(
                "INSERT OR REPLACE INTO payloads (meta_dir, version, payload) "
                "VALUES (?, ?, ?)",
                (meta_dir, version, payload),
            )
            con.execute(
                "DELETE FROM payloads WHERE meta_dir = ? AND version <= ?",
                (meta_dir, version - self.keep_payloads),
            )
            try:
                con.commit()  # ← the commit point
            except sqlite3.OperationalError as e:
                # COMMIT upgrades to the exclusive lock; an active
                # reader can still surface busy here — same contract
                if "locked" in str(e).lower() or "busy" in str(e).lower():
                    raise ConcurrentCommitError(
                        f"catalog service busy ({meta_dir}): {e} — "
                        "refresh() and retry"
                    ) from e
                raise
        finally:
            con.close()
        # post-commit materialization (readers self-heal if we die here)
        self._materialize(meta_dir, version, payload)
