"""deep_log: the metadata plane alone, with no Spark action.

A ``FileBackedVersionTracker`` log of 5k commits over a 2,000-partition
table (default checkpoint interval), archived after every 1,000 commits
while it is built, as the loop does, with an
``InMemoryMetastore`` synced to head.  The seeded mix is 40% cold resolves
(fresh tracker + ``pinned_state``, what every CLI call or new reader pays),
25% metadata-only commits of 1-4 ops, 15% CDC polls lagging 1-200 commits,
10% metastore checkouts of a past commit and back, 10% ``log`` reads of the
last 50 commits; ``archive_commits`` runs inline after every 25 new commits,
so every run archives (a run adds about 75 commits, and the log's 100-commit
checkpoint interval makes most of these calls find little to pack).  A benchmark-side model of every commit's partition → label state
checks each result.
"""

from __future__ import annotations

import random
import time
import uuid
from datetime import datetime, timedelta, timezone

from chronicles_spark.core.diff import AddPartition, UpdatePartitionVersion, compute_changes
from chronicles_spark.core.model import Partition, PartitionSchema, TableDefinition, TableName
from chronicles_spark.core.ops import AddPartitionVersion, TableUpdate, TableUpdateMetadata
from chronicles_spark.core.version import Version, make_label
from chronicles_spark.operators.pairing import pinned_state
from chronicles_spark.spark import changed_partitions
from chronicles_spark.versioned_metastore import VersionedMetastore

from harness import Op, Workload, latency_details

N_COMMITS = 5_000
N_PARTS = 2_000
ARCHIVE_EVERY = 1_000  # while the log is built
LOOP_ARCHIVE_EVERY = 25  # in the loop
SNAP_EVERY = 250
MAX_LAG = 200
LOG_TAIL = 50
# per block of 20 ops, shuffled: exact proportions in every whole block
MIX = (("resolve", 8), ("commit", 5), ("cdc", 3), ("checkout", 2), ("log", 2))
BASE_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)
TABLE = TableName("bench", "deep")


def _uuid(rng: random.Random) -> uuid.UUID:
    return uuid.UUID(int=rng.getrandbits(128))


def _commit_ops(rng: random.Random, k: int, fresh: bool):
    """(partition index, label) pairs of commit ``k``: while ``fresh``, four
    partitions never written before; afterwards 1-4 random ones."""
    if fresh:
        idx = [(4 * (k - 1) + j) % N_PARTS for j in range(4)]
    else:
        idx = rng.sample(range(N_PARTS), rng.randint(1, 4))
    ts = BASE_TS + timedelta(seconds=k)
    return tuple((i, make_label(ts.replace(tzinfo=None), j, _uuid(rng)))
                 for j, i in enumerate(idx))


class DeepLog(Workload):
    name = "deep_log"
    why = ("metadata plane alone on a 5k-commit log: tracker resolution,"
           " commits, CDC, checkout and archival, with no Spark job")
    probe_every = 10
    probe_parts = ("json",)  # resolution and checkout parse JSON; no Spark
    # setup_s is the wall time: the build is file-bound, and on a 4-vCPU VM
    # its wall time held within 5% over three ten-run sets while dividing
    # it by the JSON probe moved it by 14-21%
    probe_ref_s = None
    min_ops = 300  # 15 blocks: enough resolves for a steady median
    key_op = "resolve"
    needs_spark = False
    trace_ops = 100

    def __init__(self, ctx):
        super().__init__(ctx)
        self.parts = [Partition.of(("p", f"{i:04d}")) for i in range(N_PARTS)]
        self.root = f"{ctx.work}/log"
        self.table = TableDefinition(TABLE, f"{ctx.work}/table", PartitionSchema(("p",)))
        # model: commit ids in log order, each commit's writes, snapshots
        self.ids: list[str] = []
        self.writes: list[dict] = []
        self.snaps: dict[int, dict] = {}
        self.head_state: dict = {}

    # -- model ------------------------------------------------------------------

    def _record(self, cid: str, writes: dict) -> None:
        self.ids.append(cid)
        self.writes.append(writes)
        self.head_state.update(writes)
        k = len(self.ids) - 1
        if k % SNAP_EVERY == 0:
            self.snaps[k] = dict(self.head_state)

    def state_at(self, k: int) -> dict:
        base = k - k % SNAP_EVERY
        st = dict(self.snaps[base])
        for w in self.writes[base + 1:k + 1]:
            st.update(w)
        return st

    def _past(self, lag: int) -> int:
        """Log index ``lag`` commits behind head (the initial commit at most)."""
        return max(0, len(self.ids) - 1 - lag)

    def _expect(self, st: dict) -> dict:
        return {self.parts[i]: label for i, label in st.items()}

    def _matches(self, table_version, k: int) -> bool:
        got = {p: v.label for p, v in table_version.partition_versions.items()}
        st = self.head_state if k == len(self.ids) - 1 else self.state_at(k)
        return got == self._expect(st)

    # -- setup ------------------------------------------------------------------

    def _update(self, cid: str, pairs) -> TableUpdate:
        meta = TableUpdateMetadata(cid, "bench", "deep_log", BASE_TS)
        return TableUpdate(meta, tuple(
            AddPartitionVersion(self.parts[i], Version(label)) for i, label in pairs))

    def setup(self) -> dict:
        t0 = time.perf_counter()
        rng = random.Random(f"{self.ctx.seed}/deep_log/build")
        self.tracker = self.ctx.tracker(self.root)
        self.tracker.init_table(TABLE, is_snapshot=False, user_id="bench")
        self._record(self.tracker.head_commit_id(TABLE), {})
        fresh_commits = N_PARTS // 4
        for k in range(1, N_COMMITS + 1):
            pairs = _commit_ops(rng, k, k <= fresh_commits)
            cid = str(_uuid(rng))
            self.tracker.commit(TABLE, self._update(cid, pairs))
            self._record(cid, dict(pairs))
            if k % ARCHIVE_EVERY == 0:
                self.tracker.archive_commits(TABLE, retain_checkpoints=2)
        build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.ms = self.ctx.metastore()
        self.ms.create_table(self.table)
        self.vm = VersionedMetastore(self.tracker, self.ms)
        self.ms.update(self.table, compute_changes(
            self.ms.current_version(self.table), self.tracker.current_version(TABLE)))
        self.new_commits = 0
        for op in (Op("resolve"), Op("cdc", (MAX_LAG,)), Op("checkout", (10,)), Op("log")):
            if not self.check(op, self.execute(op)):
                raise RuntimeError(f"warm-up {op.kind} disagrees with the model")
        return {"build_s": build_s, "archive_sync_warmup_s": time.perf_counter() - t0}

    def schedule(self):
        rng = random.Random(f"{self.ctx.seed}/deep_log/ops")
        deck = [kind for kind, n in MIX for _ in range(n)]
        k = N_COMMITS
        new = 0
        while True:
            rng.shuffle(deck)
            last = len(deck) - 1
            for j, kind in enumerate(deck):
                end = j == last  # the loop stops only after a whole block
                if kind == "commit":
                    k += 1
                    new += 1
                    archive = new % LOOP_ARCHIVE_EVERY == 0
                    yield Op("commit", (str(_uuid(rng)),
                                        _commit_ops(rng, k, False)),
                             end and not archive)
                    if archive:
                        yield Op("archive", (), end)
                elif kind in ("cdc", "checkout"):
                    yield Op(kind, (rng.randint(1, MAX_LAG),), end)
                else:
                    yield Op(kind, (), end)

    # -- ops ----------------------------------------------------------------------

    def execute(self, op: Op):
        t = self.tracker
        if op.kind == "resolve":
            return pinned_state(self.ctx.tracker(self.root), TABLE)
        if op.kind == "commit":
            cid, pairs = op.args
            t.commit(TABLE, self._update(cid, pairs))
            return None
        if op.kind == "cdc":
            return changed_partitions(self.table, t, self.ids[self._past(op.args[0])])
        if op.kind == "checkout":
            past = self.vm.checkout(self.table, self.ids[self._past(op.args[0])])[0]
            back = self.vm.checkout(self.table, self.ids[-1])[0]
            return past, back
        if op.kind == "log":
            seqs = t.update_seqs(TABLE)
            return t.updates_in_seq_range(TABLE, seqs[-LOG_TAIL - 1], seqs[-1])
        if op.kind == "archive":
            return t.archive_commits(TABLE, retain_checkpoints=2)
        raise ValueError(op.kind)

    def check(self, op: Op, result) -> bool:
        head = len(self.ids) - 1
        if op.kind == "resolve":
            state, head_id, _ = result
            return head_id == self.ids[head] and self._matches(state, head)
        if op.kind == "commit":
            cid, pairs = op.args
            self._record(cid, dict(pairs))
            return self.tracker.head_commit_id(TABLE) == cid
        if op.kind == "cdc":
            ops, to_state = result
            frm = self.state_at(self._past(op.args[0]))
            want = {
                (AddPartition if i not in frm else UpdatePartitionVersion,
                 self.parts[i], label)
                for i, label in self.head_state.items() if frm.get(i) != label
            }
            got = {(type(o), o.partition, o.version.label) for o in ops}
            return got == want and self._matches(to_state, head)
        if op.kind == "checkout":
            past, back = result
            return (self._matches(past, self._past(op.args[0]))
                    and self._matches(back, head)
                    and self._matches(self.ms.current_version(self.table), head))
        if op.kind == "log":
            return [u.metadata.commit_id for u in result] == self.ids[-LOG_TAIL:]
        if op.kind == "archive":
            state, head_id, _ = pinned_state(self.ctx.tracker(self.root), TABLE)
            return head_id == self.ids[head] and self._matches(state, head)
        return False

    def untrace(self) -> None:
        from tracing import plain

        plain(self.tracker)
        plain(self.ms)

    def sizes(self) -> dict:
        return {"commits_at_setup": N_COMMITS, "partitions": N_PARTS,
                "archive_every_at_setup": ARCHIVE_EVERY,
                "archive_every_in_loop": LOOP_ARCHIVE_EVERY, "checkpoint_interval": 100,
                "max_cdc_lag": MAX_LAG, "log_tail": LOG_TAIL,
                "mix_per_20_ops": dict(MIX)}

    def details(self, records) -> dict:
        return latency_details(records, (
            ("commit_p50_ms", "commit", 50, "ms"),
            ("resolve_p50_ms", "resolve", 50, "ms"),
            ("resolve_p99_ms", "resolve", 99, "ms"),
            ("cdc_poll_p50_ms", "cdc", 50, "ms"),
            ("checkout_p50_ms", "checkout", 50, "ms"),
            ("log_p50_ms", "log", 50, "ms"),
            ("archive_p50_ms", "archive", 50, "ms"),
        ))
