"""Seeded workloads of the lake benchmark.

A workload is a class built from ``(seed, size)``. Everything it feeds
the program is generated from the seed: the set-up rows, and an endless
stream of ``Op`` records (statement text or call arguments). A pandas
model of each table runs alongside the generator, so every op carries
the answer it must return; ``execute`` runs the op through the public
``icebergplus_spark`` API and returns a canonical result to compare.

Op kinds, which the end-to-end latency metrics are keyed by:

- ``append``: ``LakeTable.append``, ``add_files`` or SQL ``INSERT``;
- ``dml``: DELETE / UPDATE / MERGE, SQL or table API;
- ``read``: statements and calls that return rows, or plan a pruned read;
- ``fold``: aggregates that the lake can answer from manifest stats;
- ``maint``: maintenance inside the loop (counted in ``ops_per_s`` only).
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import zlib
from dataclasses import dataclass
from typing import Any, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

KINDS = ("append", "dml", "read", "fold")


@dataclass
class Op:
    kind: str  # one of KINDS or "maint"
    name: str  # short label of the statement shape, e.g. "sql.delete_in"
    args: dict[str, Any]
    expect: Any = None  # canonical answer; None means "must not raise"
    approx: float = 0.0  # relative tolerance for approximate answers
    at_least: bool = False  # answer may exceed ``expect`` (a conservative plan)
    ends_cycle: bool = False  # last op of a cycle of the workload's op shapes
    rows_written: int = 0  # user rows this op adds or rewrites
    user_bytes: int = 0  # Arrow bytes of those rows


def check(op: Op, got: Any) -> bool:
    if op.expect is None:
        return True
    if op.approx:
        return abs(got - op.expect) <= op.approx * max(abs(op.expect), 1)
    if op.at_least:
        return got >= op.expect
    return got == op.expect


def canon_rows(rows) -> list[tuple]:
    """Spark ``Row``s or pandas records → sorted tuples of Python scalars."""
    return sorted(tuple(_py(v) for v in r) for r in rows)


def _py(v: Any) -> Any:
    return v.item() if isinstance(v, np.generic) else v


def _zipf_index(rng: np.random.Generator, n: int, order: np.ndarray) -> int:
    """Zipf-skewed pick of one of ``n`` slots; ``order`` maps popularity
    rank to slot so the hot slots are spread over the key space."""
    return int(order[(rng.zipf(1.3) - 1) % n])


def _sql_values(rows: list[tuple]) -> str:
    out = []
    for r in rows:
        out.append(
            "(" + ", ".join(f"'{v}'" if isinstance(v, str) else str(v) for v in r) + ")"
        )
    return ", ".join(out)


def _write_parquet(path: str, tbl: pa.Table) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path)
    return path


def _table_bytes(df: pd.DataFrame, schema: pa.Schema) -> int:
    return pa.Table.from_pandas(df, schema=schema, preserve_index=False).nbytes


class Workload:
    """Ops come in cycles: a fixed sequence of op shapes whose keys and
    rows the seed picks. The harness warms up on one cycle and then
    measures whole cycles, at least ``min_cycles`` of them; sized so
    that those take longer than a run's ``--seconds``, every run does
    the same amount of work from the same warm-up state."""

    name = ""
    PATTERN: list[str] = []
    min_cycles = 2

    def __init__(self, seed: int, size: str) -> None:
        # one stream per (seed, workload): workloads never share draws
        self.rng = np.random.default_rng([seed, zlib.crc32(self.name.encode())])

    def stage(self, inputs: str) -> None:
        """Write the files a user hands to the program (once, untimed)."""

    # set-up: built once per set-up repetition, from the staged inputs
    def setup(self, env) -> None:  # pragma: no cover - interface
        raise NotImplementedError

    def ops(self) -> Iterator[Op]:
        """The endless op stream, each cycle's last op flagged."""
        i = 0
        while True:
            shape = self.PATTERN[i % len(self.PATTERN)]
            i += 1
            ops = list(self.make(shape))
            if i % len(self.PATTERN) == 0:
                ops += self.cycle_end(i // len(self.PATTERN))
                ops[-1].ends_cycle = True
            yield from ops

    def make(self, shape: str) -> Iterator[Op]:  # pragma: no cover - interface
        """The op(s) of one shape, with the model advanced past them."""
        raise NotImplementedError

    def cycle_end(self, cycles: int) -> list[Op]:
        """Extra ops after the ``cycles``-th cycle (e.g. maintenance)."""
        return []

    def execute(self, env, op: Op) -> Any:  # pragma: no cover - interface
        raise NotImplementedError

    def prepare(self, env, op: Op) -> None:
        """Untimed staging for an op (e.g. writing files it registers)."""

    def finish(self, env) -> list[tuple[str, bool]]:  # pragma: no cover
        raise NotImplementedError

    def live_bytes(self) -> int:  # pragma: no cover - interface
        raise NotImplementedError

    def input_digest(self, n_ops: int) -> str:
        """sha256 over the set-up rows and the first ``n_ops`` ops."""
        h = hashlib.sha256()
        for tbl in self.setup_tables():
            sink = io.BytesIO()
            with pa.ipc.new_stream(sink, tbl.schema) as w:
                w.write_table(tbl)
            h.update(sink.getvalue())
        it = self.ops()
        for _ in range(n_ops):
            op = next(it)
            args = {}
            for k, v in sorted(op.args.items()):
                if isinstance(v, pa.Table):
                    v = v.to_pylist()
                elif isinstance(v, list) and v and isinstance(v[0], pa.Table):
                    v = [t.to_pylist() for t in v]
                args[k] = v
            h.update(
                json.dumps(
                    [op.kind, op.name, args, op.expect, op.rows_written],
                    sort_keys=True,
                    default=str,
                ).encode()
            )
        return h.hexdigest()

    def setup_tables(self) -> list[pa.Table]:  # pragma: no cover - interface
        raise NotImplementedError


# ---------------------------------------------------------------------------
# ingest_stream


class IngestStream(Workload):
    """Small ``LakeTable.append`` batches into one table with an HLL
    stats column; between appends, three metadata folds, a narrow read
    and a retention delete; compaction every second cycle; expiry and
    orphan removal at the end. No SQL in the loop."""

    name = "ingest_stream"
    ident = "db.events"
    # 5 appends, 3 folds, one read, one delete; compaction every 2 cycles
    PATTERN = ["A", "F.count_rows", "A", "R", "A", "F.agg_by", "A", "D", "A", "F.hll"]
    COMPACT_EVERY = 2
    min_cycles = 4
    SIZES = {
        "full": dict(batch=(1500, 2500), users=4000, read_w=400),
        "tiny": dict(batch=(60, 120), users=50, read_w=40),
    }
    SCHEMA = pa.schema(
        [
            ("id", pa.int64()),
            ("ts", pa.int64()),
            ("user", pa.int32()),
            ("amount", pa.int64()),
            ("tag", pa.string()),
        ]
    )
    TAGS = np.array(["click", "view", "buy", "cart", "auth", "page", "scroll", "exit"])

    def __init__(self, seed: int, size: str) -> None:
        super().__init__(seed, size)
        self.p = self.SIZES[size]
        self.next_id = 0
        self.clock = 0
        self.initial = self._batch()
        self.model = self.initial.to_pandas()

    def _batch(self) -> pa.Table:
        lo, hi = self.p["batch"]
        n = int(self.rng.integers(lo, hi + 1))
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        ts = self.clock + np.sort(self.rng.integers(0, 60_000, n)).astype(np.int64)
        self.next_id += n
        self.clock += 60_000
        users = (self.rng.zipf(1.2, n) % self.p["users"]).astype(np.int32)
        return pa.table(
            {
                "id": ids,
                "ts": ts,
                "user": users,
                "amount": self.rng.integers(1, 100_000, n).astype(np.int64),
                "tag": self.TAGS[self.rng.integers(0, len(self.TAGS), n)],
            },
            schema=self.SCHEMA,
        )

    def setup_tables(self) -> list[pa.Table]:
        return [self.initial]

    def setup(self, env) -> None:
        t = env.catalog.create_table(self.ident, env.spark_schema(self.SCHEMA))
        t.set_property("write.stats.hll-columns", "user")
        t.append(env.frame(self.initial))

    def cycle_end(self, cycles: int) -> list[Op]:
        return [Op("maint", "api.compact", {})] if cycles % self.COMPACT_EVERY == 0 else []

    def make(self, shape: str) -> Iterator[Op]:
        if shape == "A":
            b = self._batch()
            self.model = pd.concat([self.model, b.to_pandas()], ignore_index=True)
            yield Op("append", "api.append", {"batch": b},
                     rows_written=b.num_rows, user_bytes=b.nbytes)
        elif shape == "F.count_rows":
            yield Op("fold", "api.count_rows", {}, expect=len(self.model))
        elif shape == "F.agg_by":
            m = self.model
            yield Op("fold", "api.agg_by", {},
                     expect=(len(m), int(m.amount.sum()), int(m.id.max())))
        elif shape == "F.hll":
            yield Op("fold", "api.hll_count_distinct", {},
                     expect=int(self.model.user.nunique()), approx=0.1)
        elif shape == "R":
            w = self.p["read_w"]
            hi = self.next_id - int(self.rng.integers(0, 4 * w))
            lo = hi - w
            m = self.model
            sel = m[(m.id >= lo) & (m.id < hi)]
            yield Op("read", "api.scan_range", {"lo": lo, "hi": hi},
                     expect=canon_rows(sel[["id", "user", "amount"]].itertuples(index=False)))
        else:  # retention delete: drop the oldest half-minute of events
            m = self.model
            cutoff = int(m.ts.min()) + 30_000
            self.model = m[m.ts >= cutoff].reset_index(drop=True)
            yield Op("dml", "api.delete_ttl", {"cutoff": cutoff})

    def execute(self, env, op: Op) -> Any:
        t = env.catalog.load_table(self.ident)  # fresh handle per table-API op
        if op.name == "api.append":
            t.append(env.frame(op.args["batch"]))
        elif op.name == "api.compact":
            env.maintenance.compact(t)
        elif op.name == "api.delete_ttl":
            t.delete({"ts": ("<", op.args["cutoff"])})
        elif op.name == "api.scan_range":
            rows = t.scan({"id": [(">=", op.args["lo"]), ("<", op.args["hi"])]}) \
                .select("id", "user", "amount").collect()
            return canon_rows(rows)
        elif op.name == "api.count_rows":
            return t.count_rows()
        elif op.name == "api.agg_by":
            r = t.agg_by([], [("COUNT", None, "n"), ("SUM", "amount", "s"),
                              ("MAX", "id", "mx")]).collect()[0]
            return (int(r["n"]), int(r["s"]), int(r["mx"]))
        elif op.name == "api.hll_count_distinct":
            return t.hll_count_distinct("user")
        return None

    def finish(self, env) -> list[tuple[str, bool]]:
        t = env.catalog.load_table(self.ident)
        env.maintenance.expire_snapshots(t, keep_last=1)
        env.maintenance.remove_orphan_files(env.catalog.load_table(self.ident), older_than_s=0)
        m = self.model
        r = env.lake_sql(f"SELECT COUNT(*) AS n, SUM(amount) AS s FROM {self.ident}").collect()[0]
        n = env.catalog.load_table(self.ident).count_rows()
        return [
            ("final COUNT/SUM", (r["n"], r["s"]) == (len(m), int(m.amount.sum()))),
            ("final count_rows", n == len(m)),
        ]

    def live_bytes(self) -> int:
        return _table_bytes(self.model, self.SCHEMA)


# ---------------------------------------------------------------------------
# sql_dml_mix


class SqlDmlMix(Workload):
    """``lake_sql`` statements on a pre-built fact table and a small dim
    table: half reads (range GROUP BY, key IN lookups, a join), half
    writes (DELETE by IN list, range UPDATE, MERGE upsert, INSERT).
    Keys of the writes are Zipf-skewed over the fact table's files."""

    name = "sql_dml_mix"
    fact = "db.fact"
    dim = "db.dim"
    # 3 reads and 2 folds; 3 DML statements and 2 INSERTs
    PATTERN = ["read.range_group", "dml.delete_in", "append.insert", "read.in_lookup",
               "dml.update_range", "fold.count_sum", "read.join_group", "dml.merge",
               "append.insert", "fold.range_count_sum"]
    min_cycles = 8
    SIZES = {
        "full": dict(rows=300_000, files=120, groups=64, range_w=3_000, merge=40, insert=20),
        "tiny": dict(rows=4_000, files=8, groups=8, range_w=300, merge=6, insert=4),
    }
    FACT = pa.schema([("k", pa.int64()), ("g", pa.int32()), ("q", pa.int64()),
                      ("note", pa.string())])
    GAP = 4  # set-up keys are multiples of GAP; MERGE inserts land in the gaps
    DIM = pa.schema([("g", pa.int32()), ("region", pa.int32()), ("name", pa.string())])
    CASTS = "CAST(k AS BIGINT) AS k, CAST(g AS INT) AS g, CAST(q AS BIGINT) AS q, note"

    def __init__(self, seed: int, size: str) -> None:
        super().__init__(seed, size)
        p = self.p = self.SIZES[size]
        n = p["rows"]
        k = np.arange(n, dtype=np.int64) * self.GAP
        self.fact_rows = pa.table(
            {
                "k": k,
                "g": self.rng.integers(0, p["groups"], n).astype(np.int32),
                "q": self.rng.integers(0, 1000, n).astype(np.int64),
                "note": np.char.add("n", (k % 997).astype(str)),
            },
            schema=self.FACT,
        )
        self.dim_rows = pa.table(
            {
                "g": np.arange(p["groups"], dtype=np.int32),
                "region": (np.arange(p["groups"]) % 5).astype(np.int32),
                "name": [f"grp{i}" for i in range(p["groups"])],
            },
            schema=self.DIM,
        )
        self.model = self.fact_rows.to_pandas().set_index("k", drop=False)
        self.dim_model = self.dim_rows.to_pandas()
        self.next_k = n * self.GAP  # INSERTs append keys past the set-up range
        self.per_file = n // p["files"]
        self.hot = self.rng.permutation(p["files"])

    def setup_tables(self) -> list[pa.Table]:
        return [self.fact_rows, self.dim_rows]

    def stage(self, inputs: str) -> None:
        self.fact_paths = [
            _write_parquet(os.path.join(inputs, "fact", f"part-{i:05d}.parquet"),
                           self.fact_rows.slice(i * self.per_file, self.per_file))
            for i in range(self.p["files"])
        ]
        self.dim_path = _write_parquet(os.path.join(inputs, "dim", "part-0.parquet"),
                                       self.dim_rows)

    def setup(self, env) -> None:
        t = env.catalog.create_table(self.fact, env.spark_schema(self.FACT))
        t.add_files(paths=self.fact_paths)
        d = env.catalog.create_table(self.dim, env.spark_schema(self.DIM))
        d.add_files(paths=[self.dim_path])

    def _hot_file(self) -> tuple[int, int]:
        """Key range [lo, hi) of one Zipf-chosen set-up file."""
        span = self.per_file * self.GAP
        lo = _zipf_index(self.rng, self.p["files"], self.hot) * span
        return lo, lo + span

    def _hot_keys(self, count: int, where: tuple[int, int] | None = None) -> list[int]:
        """``count`` live keys from one Zipf-chosen file's key range."""
        lo, hi = where or self._hot_file()
        idx = self.model.index
        live = idx[(idx >= lo) & (idx < hi)]
        if len(live) < count:
            live = idx
        return sorted(int(x) for x in self.rng.choice(live.to_numpy(), count, replace=False))

    def _free_keys(self, count: int, lo: int, hi: int) -> list[int]:
        """``count`` unused keys in [lo, hi): late rows of that file's range."""
        free = np.setdiff1d(np.arange(lo, hi, dtype=np.int64), self.model.index.to_numpy())
        return sorted(int(x) for x in self.rng.choice(free, count, replace=False))

    def _range(self) -> tuple[int, int]:
        w = self.p["range_w"] * self.GAP
        lo = int(self.rng.integers(0, self.p["rows"] * self.GAP - w))
        return lo, lo + w

    def _new_rows(self, n: int, keys: list[int] | None = None) -> pd.DataFrame:
        if keys is None:
            keys = list(range(self.next_k, self.next_k + n))
            self.next_k += n
        k = np.array(keys, dtype=np.int64)
        return pd.DataFrame({
            "k": k,
            "g": self.rng.integers(0, self.p["groups"], n).astype(np.int32),
            "q": self.rng.integers(0, 1000, n).astype(np.int64),
            "note": [f"n{x % 997}" for x in k],
        })

    def _group(self, df: pd.DataFrame, by: str) -> list[tuple]:
        g = df.groupby(by).agg(n=("q", "size"), s=("q", "sum")).reset_index()
        return canon_rows(g[[by, "n", "s"]].itertuples(index=False))

    def make(self, shape: str) -> Iterator[Op]:
        F = self.fact
        m = self.model
        if shape == "read.range_group":
            lo, hi = self._range()
            sel = m[(m.k >= lo) & (m.k <= hi)]
            yield Op("read", "sql.range_group", {"sql": (
                f"SELECT g, COUNT(*) AS n, SUM(q) AS s FROM {F} "
                f"WHERE k BETWEEN {lo} AND {hi} GROUP BY g")},
                expect=self._group(sel, "g"))
        elif shape == "read.in_lookup":
            keys = self._hot_keys(6) + [self.next_k + 10_000_000]  # one miss
            sel = m[m.k.isin(keys)]
            yield Op("read", "sql.in_lookup", {"sql": (
                f"SELECT k, g, q FROM {F} WHERE k IN ({', '.join(map(str, keys))})")},
                expect=canon_rows(sel[["k", "g", "q"]].itertuples(index=False)))
        elif shape == "read.join_group":
            lo, hi = self._range()
            sel = m[(m.k >= lo) & (m.k <= hi)].merge(self.dim_model, on="g")
            yield Op("read", "sql.join_group", {"sql": (
                f"SELECT d.region, COUNT(*) AS n, SUM(f.q) AS s FROM {F} f "
                f"JOIN {self.dim} d ON f.g = d.g WHERE f.k BETWEEN {lo} AND {hi} "
                f"GROUP BY d.region")},
                expect=self._group(sel, "region"))
        elif shape == "dml.delete_in":
            keys = self._hot_keys(3)
            self.model = m.drop(index=keys)
            yield Op("dml", "sql.delete_in", {"sql": (
                f"DELETE FROM {F} WHERE k IN ({', '.join(map(str, keys))})")})
        elif shape == "dml.update_range":
            k0 = self._hot_keys(1)[0]
            lo, hi = k0, k0 + 40 * self.GAP
            hit = (m.k >= lo) & (m.k <= hi)
            self.model = m.assign(q=np.where(hit, m.q + 7, m.q))
            yield Op("dml", "sql.update_range", {"sql": (
                f"UPDATE {F} SET q = q + 7 WHERE k BETWEEN {lo} AND {hi}")},
                rows_written=int(hit.sum()),
                user_bytes=_table_bytes(m[hit], self.FACT))
        elif shape == "dml.merge":
            half = self.p["merge"] // 2
            lo, hi = self._hot_file()
            old = m.loc[self._hot_keys(half, (lo, hi))].copy()
            old["q"] = self.rng.integers(0, 1000, half).astype(np.int64)
            new = self._new_rows(half, self._free_keys(half, lo, hi))
            src = pd.concat([old.reset_index(drop=True), new], ignore_index=True)
            upd = src.set_index("k", drop=False)
            model = m.copy()
            model.loc[upd.index[:half], "q"] = upd.q.iloc[:half].to_numpy()
            self.model = pd.concat([model, upd.iloc[half:]])
            rows = list(src[["k", "g", "q", "note"]].itertuples(index=False, name=None))
            yield Op("dml", "sql.merge", {"sql": (
                f"MERGE INTO {F} t USING (SELECT {self.CASTS} FROM VALUES "
                f"{_sql_values(rows)} AS v(k, g, q, note)) s ON t.k = s.k "
                f"WHEN MATCHED THEN UPDATE SET q = s.q "
                f"WHEN NOT MATCHED THEN INSERT *")},
                rows_written=len(src), user_bytes=_table_bytes(src, self.FACT))
        elif shape == "append.insert":
            new = self._new_rows(self.p["insert"])
            self.model = pd.concat([m, new.set_index("k", drop=False)])
            rows = list(new.itertuples(index=False, name=None))
            yield Op("append", "sql.insert", {"sql": (
                f"INSERT INTO {F} SELECT {self.CASTS} FROM VALUES {_sql_values(rows)} "
                f"AS v(k, g, q, note)")},
                rows_written=len(new), user_bytes=_table_bytes(new, self.FACT))
        elif shape == "fold.count_sum":
            yield Op("fold", "sql.count_sum", {"sql": (
                f"SELECT COUNT(*) AS n, SUM(q) AS s, MIN(k) AS lo, MAX(k) AS hi FROM {F}")},
                expect=[(len(m), int(m.q.sum()), int(m.k.min()), int(m.k.max()))])
        else:  # fold.range_count_sum
            lo, hi = self._range()
            sel = m[(m.k >= lo) & (m.k <= hi)]
            yield Op("fold", "sql.range_count_sum", {"sql": (
                f"SELECT COUNT(*) AS n, SUM(q) AS s FROM {F} WHERE k BETWEEN {lo} AND {hi}")},
                expect=[(len(sel), int(sel.q.sum()) if len(sel) else None)])

    def execute(self, env, op: Op) -> Any:
        r = env.lake_sql(op.args["sql"])
        if op.kind in ("read", "fold"):
            return canon_rows(r.collect())
        return None

    def finish(self, env) -> list[tuple[str, bool]]:
        m = self.model
        t = env.catalog.load_table(self.fact)
        env.maintenance.compact(t, where={"k": (">=", self.p["rows"] * self.GAP)})
        t = env.catalog.load_table(self.fact)
        env.maintenance.expire_snapshots(t, keep_last=1)
        env.maintenance.remove_orphan_files(env.catalog.load_table(self.fact), older_than_s=0)
        r = env.lake_sql(f"SELECT COUNT(*) AS n, SUM(q) AS s FROM {self.fact}").collect()[0]
        n = env.catalog.load_table(self.fact).count_rows()
        return [
            ("final COUNT/SUM", (r["n"], r["s"]) == (len(m), int(m.q.sum()))),
            ("final count_rows", n == len(m)),
        ]

    def live_bytes(self) -> int:
        return _table_bytes(self.model, self.FACT) + self.dim_rows.nbytes


# ---------------------------------------------------------------------------
# metadata_reads


class MetadataReads(Workload):
    """Read-mostly statements on a table of many small files registered
    over many snapshots with ``add_files``: folds answered from the
    manifests, narrow pruned reads, top-k and plan-only calls, through
    ``lake_sql`` and the table API. At the end of each cycle a few new
    files are registered (in four small ``add_files`` calls), one file
    range is dropped and a few rows of one file are deleted, so the
    table is not frozen; every read of the cycle sees the snapshot the
    read before it saw."""

    name = "metadata_reads"
    ident = "db.manyfiles"
    PATTERN = ["fold.sql_range", "read.sql_narrow", "fold.api_count", "read.api_plan",
               "fold.sql_group", "read.sql_topk", "fold.api_extrema", "fold.sql_approx",
               "fold.api_agg_by", "read.sql_in", "append.add_files", "append.add_files",
               "append.add_files", "append.add_files", "dml.drop_range", "dml.delete_keys"]
    ADDS = 4  # add_files calls a cycle, ``add`` files each; one drop of as many files
    SIZES = {
        "full": dict(files=1200, snapshots=40, rows=8, tags=16, add=2),
        "tiny": dict(files=120, snapshots=6, rows=4, tags=4, add=1),
    }
    SCHEMA = pa.schema([("k", pa.int64()), ("v", pa.int64()), ("tag", pa.string())])
    min_cycles = 6
    STRIDE = 10  # file i holds keys in [i*STRIDE, i*STRIDE + rows)

    def __init__(self, seed: int, size: str) -> None:
        super().__init__(seed, size)
        self.p = self.SIZES[size]
        self.files = [self._file(i) for i in range(self.p["files"])]
        self.model = pd.concat(
            [f.to_pandas().assign(fid=i) for i, f in enumerate(self.files)],
            ignore_index=True,
        )
        self.next_file = self.p["files"]

    def _file(self, i: int) -> pa.Table:
        r = self.p["rows"]
        return pa.table(
            {
                "k": np.arange(i * self.STRIDE, i * self.STRIDE + r, dtype=np.int64),
                "v": self.rng.integers(0, 50_000, r).astype(np.int64),
                "tag": np.full(r, f"t{i % self.p['tags']:02d}"),
            },
            schema=self.SCHEMA,
        )

    def setup_tables(self) -> list[pa.Table]:
        return self.files

    def stage(self, inputs: str) -> None:
        self.paths = [
            _write_parquet(os.path.join(inputs, f"f{i:06d}.parquet"), f)
            for i, f in enumerate(self.files)
        ]

    def setup(self, env) -> None:
        t = env.catalog.create_table(self.ident, env.spark_schema(self.SCHEMA))
        t.set_property("write.stats.hll-columns", "v")
        per = self.p["files"] // self.p["snapshots"]
        for s in range(self.p["snapshots"]):
            t.add_files(paths=self.paths[s * per:(s + 1) * per])

    def _live(self) -> np.ndarray:
        return np.unique(self.model.fid.to_numpy())

    def _key_range(self, share: float) -> tuple[int, int]:
        """A key range covering ``share`` of the live files, file-aligned."""
        ids = self._live()
        n = max(1, int(len(ids) * share))
        a = int(self.rng.integers(0, len(ids) - n))
        return int(ids[a]) * self.STRIDE, int(ids[a + n - 1]) * self.STRIDE + self.STRIDE - 1

    def make(self, shape: str) -> Iterator[Op]:
        T = self.ident
        m = self.model
        if shape == "fold.sql_range":
            lo, hi = self._key_range(0.2)
            s = m[(m.k >= lo) & (m.k <= hi)]
            yield Op("fold", "sql.range_fold", {"sql": (
                f"SELECT COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi, SUM(v) AS s FROM {T} "
                f"WHERE k BETWEEN {lo} AND {hi}")},
                expect=[(len(s), int(s.v.min()), int(s.v.max()), int(s.v.sum()))])
        elif shape == "read.sql_narrow":
            lo, hi = self._key_range(0.01)
            s = m[(m.k >= lo) & (m.k <= hi)]
            yield Op("read", "sql.narrow", {"sql": (
                f"SELECT k, v FROM {T} WHERE k BETWEEN {lo} AND {hi}")},
                expect=canon_rows(s[["k", "v"]].itertuples(index=False)))
        elif shape == "fold.api_count":
            lo, hi = self._key_range(0.5)
            yield Op("fold", "api.count_rows", {"lo": lo, "hi": hi},
                     expect=int(((m.k >= lo) & (m.k <= hi)).sum()))
        elif shape == "read.api_plan":
            lo, hi = self._key_range(0.05)
            ids = self._live()
            kept = int(((ids * self.STRIDE <= hi)
                        & (ids * self.STRIDE + self.p["rows"] - 1 >= lo)).sum())
            # pruning may keep more files than hold matches, never fewer
            yield Op("read", "api.plan_files", {"lo": lo, "hi": hi}, expect=kept,
                     at_least=True)
        elif shape == "fold.sql_group":
            g = m.groupby("tag").agg(n=("v", "size"), hi=("v", "max")).reset_index()
            yield Op("fold", "sql.group_fold", {"sql": (
                f"SELECT tag, COUNT(*) AS n, MAX(v) AS hi FROM {T} GROUP BY tag")},
                expect=canon_rows(g.itertuples(index=False)))
        elif shape == "read.sql_topk":
            top = m.nlargest(10, "k")
            yield Op("read", "sql.topk", {"sql": (
                f"SELECT k, v FROM {T} ORDER BY k DESC LIMIT 10")},
                expect=canon_rows(top[["k", "v"]].itertuples(index=False)))
        elif shape == "fold.api_extrema":
            lo, hi = self._key_range(0.1)
            s = m[(m.k >= lo) & (m.k <= hi)]
            yield Op("fold", "api.stats_extrema", {"lo": lo, "hi": hi},
                     expect=(int(s.k.min()), int(s.k.max()), int(s.v.min()), int(s.v.max())))
        elif shape == "fold.sql_approx":
            yield Op("fold", "sql.approx_distinct", {"sql": (
                f"SELECT APPROX_COUNT_DISTINCT(v) AS d FROM {T}")},
                expect=int(m.v.nunique()), approx=0.1)
        elif shape == "fold.api_agg_by":
            g = m.groupby("tag").agg(n=("v", "size"), lo=("k", "min")).reset_index()
            yield Op("fold", "api.agg_by", {},
                     expect=canon_rows(g.itertuples(index=False)))
        elif shape == "read.sql_in":
            picks = self.rng.choice(self._live(), 5, replace=False)
            keys = sorted(int(f) * self.STRIDE + int(self.rng.integers(0, self.p["rows"]))
                          for f in picks)
            s = m[m.k.isin(keys)]
            yield Op("read", "sql.in_lookup", {"sql": (
                f"SELECT k, v, tag FROM {T} WHERE k IN ({', '.join(map(str, keys))})")},
                expect=canon_rows(s[["k", "v", "tag"]].itertuples(index=False)))
        elif shape == "append.add_files":
            new = []
            for _ in range(self.p["add"]):
                f = self._file(self.next_file)
                new.append((self.next_file, f))
                self.next_file += 1
            self.model = pd.concat(
                [m] + [f.to_pandas().assign(fid=j) for j, f in new], ignore_index=True)
            yield Op("append", "api.add_files", {"files": [f for _, f in new],
                                                  "ids": [j for j, _ in new]},
                     rows_written=sum(f.num_rows for _, f in new),
                     user_bytes=sum(f.nbytes for _, f in new))
        elif shape == "dml.drop_range":  # whole files, so the delete is metadata-only
            ids = self._live()
            n = self.ADDS * self.p["add"]
            a = int(self.rng.integers(0, len(ids) - n))
            lo = int(ids[a]) * self.STRIDE
            hi = int(ids[a + n - 1]) * self.STRIDE + self.STRIDE - 1
            self.model = m[(m.k < lo) | (m.k > hi)].reset_index(drop=True)
            yield Op("dml", "sql.delete_range", {"sql": (
                f"DELETE FROM {T} WHERE k BETWEEN {lo} AND {hi}")})
        else:  # dml.delete_keys: two rows of one file, so that file is rewritten
            keys = m.k[m.fid == int(self.rng.choice(self._live()))].to_numpy()
            keys = sorted(int(x) for x in self.rng.choice(keys, min(2, len(keys)), replace=False))
            self.model = m[~m.k.isin(keys)].reset_index(drop=True)
            yield Op("dml", "sql.delete_keys", {"sql": (
                f"DELETE FROM {T} WHERE k IN ({', '.join(map(str, keys))})")})

    def prepare(self, env, op: Op) -> None:
        if op.name == "api.add_files":
            op.args["paths"] = [
                _write_parquet(os.path.join(env.inputs, f"f{j:06d}.parquet"), f)
                for j, f in zip(op.args["ids"], op.args["files"])
            ]

    def execute(self, env, op: Op) -> Any:
        if "sql" in op.args:
            r = env.lake_sql(op.args["sql"])
            if op.kind == "dml":
                return None
            rows = r.collect()
            if op.name == "sql.approx_distinct":
                return int(rows[0][0])
            return canon_rows(rows)
        t = env.catalog.load_table(self.ident)
        rng = [(">=", op.args.get("lo")), ("<=", op.args.get("hi"))]
        if op.name == "api.count_rows":
            return t.count_rows({"k": rng})
        if op.name == "api.plan_files":
            return len(t.plan_files({"k": rng}))
        if op.name == "api.stats_extrema":
            e = t.stats_extrema(["k", "v"], predicates={"k": rng})
            return (int(e["k"][0]), int(e["k"][1]), int(e["v"][0]), int(e["v"][1]))
        if op.name == "api.agg_by":
            rows = t.agg_by("tag", [("COUNT", None, "n"), ("MIN", "k", "lo")]).collect()
            return canon_rows((r["tag"], r["n"], r["lo"]) for r in rows)
        if op.name == "api.add_files":
            t.add_files(paths=op.args["paths"])
        return None

    def finish(self, env) -> list[tuple[str, bool]]:
        m = self.model
        t = env.catalog.load_table(self.ident)
        # bin-pack the oldest few dozen tiny files: the maintenance this table needs
        env.maintenance.compact(t, where={"k": ("<", 40 * self.STRIDE)})
        env.maintenance.expire_snapshots(env.catalog.load_table(self.ident), keep_last=1)
        env.maintenance.remove_orphan_files(env.catalog.load_table(self.ident), older_than_s=0)
        r = env.lake_sql(f"SELECT COUNT(*) AS n, SUM(v) AS s FROM {self.ident}").collect()[0]
        n = env.catalog.load_table(self.ident).count_rows()
        return [
            ("final COUNT/SUM", (r["n"], r["s"]) == (len(m), int(m.v.sum()))),
            ("final count_rows", n == len(m)),
        ]

    def live_bytes(self) -> int:
        return _table_bytes(self.model[["k", "v", "tag"]], self.SCHEMA)


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (IngestStream, SqlDmlMix, MetadataReads)
}
