"""ingest: micro-batch writes beside reads on a partitioned table.

A seeded ``events`` table shaped like the sf0.1 one (100k rows, 30
``event_date`` partitions, split into ``nproc`` Parquet files) is bulk-loaded
with ``versioned_insert_into(..., metastore=InMemoryMetastore)``.  Each
cycle rewrites one seeded day, reads the current view of a seeded day
(filter, aggregate by ``event_type``, collect) and polls
``changed_partitions`` from the reader's last-seen commit; every 10th cycle
adds a 30-day backfill and ``vacuum(keep_last=2)``.  Every write adds its
own sequence number to ``value``, so no two versions of a day agree.  Reads
are checked against a DuckDB aggregate of the source computed once at
set-up, shifted by the sequence number of the day's current version; CDC polls
must return exactly the days written since the previous poll; vacuum must
leave exactly the two newest versions of every day.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np

from chronicles_spark.core.model import Partition, PartitionSchema, TableDefinition, TableName
from chronicles_spark.core.paths import path_for

from harness import Op, Workload, latency_details, median, nproc

N_ROWS = 100_000
N_DAYS = 30
N_USERS = 1_500
CYCLES_PER_PERIOD = 10
LOAD_REPEATS = 2
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
DAYS = tuple(f"2024-01-{d:02d}" for d in range(1, N_DAYS + 1))
TABLE = TableName("bench", "events")


def make_events(seed: int):
    """The seeded source table as a pyarrow Table, in timestamp order."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 1])
    secs = np.sort(rng.integers(0, N_DAYS * 86_400, N_ROWS))
    day = secs // 86_400
    return pa.table({
        "event_id": np.arange(N_ROWS, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + secs.astype("timedelta64[s]"),
        "user_id": rng.integers(0, N_USERS, N_ROWS),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), N_ROWS)],
        "value": np.round(rng.uniform(0, 200, N_ROWS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_ROWS)],
        "event_date": np.array(DAYS)[day],
    })


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class Ingest(Workload):
    name = "ingest"
    why = ("day rewrites beside current-view reads and CDC polls on a 30-partition"
           " table: Spark execution, per-job overhead and data I/O dominate")
    probe_every = 8
    min_ops = 3 * CYCLES_PER_PERIOD + 2  # one period
    key_op = "write"
    trace_ops = 3 * CYCLES_PER_PERIOD + 2  # one period

    # -- setup --------------------------------------------------------------------

    def _new_table(self, tag: str):
        from chronicles_spark.spark import versioned_insert_into

        table = TableDefinition(TABLE, f"{self.ctx.work}/table{tag}",
                                PartitionSchema(("event_date",)))
        tracker = self.ctx.tracker(f"{self.ctx.work}/log{tag}")
        tracker.init_table(TABLE, is_snapshot=False, user_id="bench")
        ms = self.ctx.metastore()
        ms.create_table(table)
        tv, _ = versioned_insert_into(self.src, table, tracker, "bench",
                                      "bulk load", metastore=ms)
        return table, tracker, ms, tv

    def setup(self) -> dict:
        import duckdb
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        events = make_events(self.ctx.seed)
        src_dir = f"{self.ctx.work}/source"
        os.makedirs(src_dir)
        n_files = nproc()
        step = -(-N_ROWS // n_files)
        for i in range(n_files):
            pq.write_table(events.slice(i * step, step), f"{src_dir}/part-{i:03d}.parquet")
        con = duckdb.connect()
        self.expected = {}
        for day, etype, cnt, total in con.execute(
            "SELECT event_date, event_type, count(*), sum(value) "
            f"FROM read_parquet('{src_dir}/*.parquet') GROUP BY ALL"
        ).fetchall():
            self.expected.setdefault(day, {})[etype] = (cnt, total)
        con.close()
        self.src = self.ctx.spark.read.parquet(src_dir)
        prep_s = time.perf_counter() - t0

        # bulk load set-up repeated on fresh tables; the last one is used
        loads = []
        for r in range(LOAD_REPEATS):
            t0 = time.perf_counter()
            made = self._new_table(str(r))
            loads.append(time.perf_counter() - t0)
        self.table, self.tracker, self.ms, tv = made
        self.parts = {d: Partition.of(("event_date", d)) for d in DAYS}
        self.seq = 0  # writes so far; the bulk load wrote the source as is
        self.offset = dict.fromkeys(DAYS, 0.0)  # seq of each day's current version
        self.history = {d: [tv.partition_versions[self.parts[d]].label] for d in DAYS}
        self.dir_bytes = {}
        for d in DAYS:
            self._note_dir(d)
        self.last_seen = self.head = self.tracker.head_commit_id(TABLE)
        self.pending = set()

        # warm-up: half a period's cycles, then a backfill and a vacuum; with
        # the bulk loads that is about as long as the JVM's JIT keeps
        # speeding the write and read paths up
        t0 = time.perf_counter()
        warm = self._period(random.Random(f"{self.ctx.seed}/ingest/warm"),
                            CYCLES_PER_PERIOD // 2)
        for op in warm:
            self.prepare(op)
            if not self.check(op, self.execute(op)):
                raise RuntimeError(f"warm-up {op.kind} failed its check")
        return {"prep_s": prep_s, "load_s": median(loads),
                "warmup_s": time.perf_counter() - t0}

    def _version_dir(self, day: str, label: str) -> str:
        from chronicles_spark.core.version import Version

        return path_for(self.parts[day].resolve_path(self.table.location), Version(label))

    def _note_dir(self, day: str) -> None:
        path = self._version_dir(day, self.history[day][-1])
        self.dir_bytes[path] = _dir_bytes(path)

    # -- schedule -------------------------------------------------------------------

    @staticmethod
    def _cycle(rng: random.Random):
        return (Op("write", (DAYS[rng.randrange(N_DAYS)],), False),
                Op("read", (DAYS[rng.randrange(N_DAYS)],), False),
                Op("cdc", (), False))

    @classmethod
    def _period(cls, rng: random.Random, cycles: int = CYCLES_PER_PERIOD):
        for _ in range(cycles):
            yield from cls._cycle(rng)
        yield Op("backfill", (), False)
        yield Op("vacuum", (), True)

    def schedule(self):
        rng = random.Random(f"{self.ctx.seed}/ingest/ops")
        while True:
            yield from self._period(rng)

    # -- ops --------------------------------------------------------------------------

    def prepare(self, op: Op) -> None:
        # every write adds its own sequence number to ``value``, so each
        # version of a day holds other totals and a read that resolves any
        # version but the current one fails its check
        if op.kind in ("write", "backfill"):
            self.seq += 1

    def execute(self, op: Op):
        from pyspark.sql import functions as F

        from chronicles_spark.spark import (
            changed_partitions, read_current, vacuum, versioned_insert_into)

        ctx = self.ctx
        if op.kind in ("write", "backfill"):
            with ctx.span("spark.writer"):
                src = (self.src.where(F.col("event_date") == op.args[0])
                       if op.kind == "write" else self.src)
                return versioned_insert_into(
                    src.withColumn("value", F.col("value") + float(self.seq)),
                    self.table, self.tracker, "bench", f"{op.kind} {self.seq}",
                    metastore=self.ms)
        if op.kind == "read":
            with ctx.span("spark.reader.plan"):
                df = (read_current(ctx.spark, self.table, self.tracker)
                      .where(F.col("event_date") == op.args[0])
                      .groupBy("event_type")
                      .agg(F.count("*").alias("n"), F.sum("value").alias("total")))
            with ctx.span("spark.reader.exec"):
                return df.collect()
        if op.kind == "cdc":
            with ctx.span("spark.reader.cdc"):
                return changed_partitions(self.table, self.tracker, self.last_seen)
        if op.kind == "vacuum":
            with ctx.span("spark.vacuum"):
                return vacuum(self.table, self.tracker, keep_last=2)
        raise ValueError(op.kind)

    def check(self, op: Op, result) -> bool:
        if op.kind in ("write", "backfill"):
            tv, changes = result
            days = [op.args[0]] if op.kind == "write" else list(DAYS)
            self.head = self.tracker.head_commit_id(TABLE)
            for d in days:
                self.history[d].append(tv.partition_versions[self.parts[d]].label)
                self.offset[d] = float(self.seq)
                self._note_dir(d)
            self.pending.update(days)
            return ({c.partition for c in changes} == {self.parts[d] for d in days}
                    and len(tv.partition_versions) == N_DAYS
                    and self.ms.current_version(self.table) == tv)
        if op.kind == "read":
            got = {r["event_type"]: (r["n"], r["total"]) for r in result}
            off = self.offset[op.args[0]]
            want = {k: (n, total + n * off)
                    for k, (n, total) in self.expected[op.args[0]].items()}
            return got.keys() == want.keys() and all(
                got[k][0] == want[k][0]
                and abs(got[k][1] - want[k][1]) <= 1e-9 * max(1.0, abs(want[k][1]))
                for k in want)
        if op.kind == "cdc":
            ops, _ = result
            ok = {o.partition for o in ops} == {self.parts[d] for d in self.pending}
            self.pending.clear()
            self.last_seen = self.head
            return ok
        if op.kind == "vacuum":
            ok = True
            for d in DAYS:
                keep = set(self.history[d][-2:])
                base = self.parts[d].resolve_path(self.table.location)
                on_disk = {n.split("=", 1)[1] for n in os.listdir(base)
                           if n.startswith("_version=")}
                ok = ok and on_disk == keep
            return ok
        return False

    def after_traced_op(self, op: Op, result) -> None:
        if result is None:
            return
        if op.kind in ("write", "backfill"):
            days = [op.args[0]] if op.kind == "write" else DAYS
            n = sum(len(os.listdir(self._version_dir(d, self.history[d][-1])))
                    for d in days)
            self.ctx.count("spark.writer.files_written", n)
        elif op.kind == "read":
            d = op.args[0]
            self.ctx.count("spark.reader.files_read",
                           len(os.listdir(self._version_dir(d, self.history[d][-1]))))
        elif op.kind == "vacuum":
            self.ctx.count("spark.vacuum.dirs_removed", len(result))
            self.ctx.count("spark.vacuum.bytes_reclaimed",
                           sum(self.dir_bytes.get(p, 0) for p in result))

    def untrace(self) -> None:
        from tracing import plain

        plain(self.tracker)
        plain(self.ms)

    def sizes(self) -> dict:
        return {"rows": N_ROWS, "partitions": N_DAYS,
                "source_files": nproc(), "cycles_per_backfill": CYCLES_PER_PERIOD,
                "load_repeats": LOAD_REPEATS, "vacuum_keep_last": 2}

    def details(self, records) -> tuple[dict, dict]:
        out, dropped = latency_details(records, (
            ("write_p50_s", "write", 50, "s"),
            ("write_p90_s", "write", 90, "s"),
            ("backfill_s", "backfill", 50, "s"),
            ("read_p50_s", "read", 50, "s"),
            ("cdc_poll_p50_ms", "cdc", 50, "ms"),
            ("vacuum_p50_s", "vacuum", 50, "s"),
        ))
        total = _dir_bytes(self.table.location)
        live = sum(_dir_bytes(self._version_dir(d, self.history[d][-1])) for d in DAYS)
        out["space_amplification"] = {"value": total / live, "unit": "ratio", "n": 1}
        return out, dropped
