"""Fold + diff algebra unit tests (reference: VersionTrackerObjectSpec.scala:18-89,
MetastoreObjectSpec.scala:16-78)."""

from datetime import datetime, timezone

import pytest

from chronicles_spark.core.diff import (
    AddPartition,
    RemovePartitionOp,
    UpdatePartitionVersion,
    UpdateTableVersion,
    compute_changes,
)
from chronicles_spark.core.fold import (
    apply_partition_updates,
    current_version,
    take_through,
)
from chronicles_spark.core.model import (
    Partition,
    PartitionedTableVersion,
    SnapshotTableVersion,
)
from chronicles_spark.core.ops import (
    AddPartitionVersion,
    AddTableVersion,
    InitTable,
    RemovePartition,
    TableUpdate,
    TableUpdateMetadata,
)
from chronicles_spark.core.version import UNVERSIONED, Version


def _upd(cid, *ops):
    meta = TableUpdateMetadata(cid, "user", "msg", datetime(2019, 1, 1, tzinfo=timezone.utc))
    return TableUpdate(meta, tuple(ops))


P1 = Partition.parse("date=2019-01-01")
P2 = Partition.parse("date=2019-01-02")
V1, V2, V3 = Version("v1"), Version("v2"), Version("v3")


def test_partition_fold_add_update_remove():
    updates = [
        _upd("c0", InitTable("s.t", False)),
        _upd("c1", AddPartitionVersion(P1, V1), AddPartitionVersion(P2, V1)),
        _upd("c2", AddPartitionVersion(P1, V2)),
        _upd("c3", RemovePartition(P2)),
    ]
    tv = apply_partition_updates(updates)
    assert tv.partition_versions == {P1: V2}


def test_removed_then_readded_needs_fresh_version():
    # VersionTrackerSpec.scala:184-190 — re-add after remove with a fresh version
    updates = [
        _upd("c0", InitTable("s.t", False)),
        _upd("c1", AddPartitionVersion(P1, V1)),
        _upd("c2", RemovePartition(P1)),
        _upd("c3", AddPartitionVersion(P1, V3)),
    ]
    assert apply_partition_updates(updates).partition_versions == {P1: V3}
    # time-travel to c2 must show it removed
    cut = take_through(updates, "c2")
    assert apply_partition_updates(cut).partition_versions == {}


def test_take_through_includes_head():
    updates = [_upd("a"), _upd("b"), _upd("c")]
    assert [u.metadata.commit_id for u in take_through(updates, "b")] == ["a", "b"]
    assert len(take_through(updates, None)) == 3


def test_snapshot_fold_last_wins():
    updates = [
        _upd("c0", InitTable("s.t", True)),
        _upd("c1", AddTableVersion(V1)),
        _upd("c2", AddTableVersion(V2)),
    ]
    assert current_version(updates, None) == SnapshotTableVersion(V2)
    assert current_version(updates, "c1") == SnapshotTableVersion(V1)
    assert current_version(updates, "c0") == SnapshotTableVersion(UNVERSIONED)


def test_diff_partitioned():
    cur = PartitionedTableVersion({P1: V1, P2: V1})
    tgt = PartitionedTableVersion({P1: V2, Partition.parse("date=2019-01-03"): V1})
    ops = compute_changes(cur, tgt)
    assert AddPartition(Partition.parse("date=2019-01-03"), V1) in ops
    assert UpdatePartitionVersion(P1, V2) in ops
    assert RemovePartitionOp(P2) in ops
    assert len(ops) == 3
    assert compute_changes(cur, cur) == []


def test_diff_snapshot():
    assert compute_changes(SnapshotTableVersion(V1), SnapshotTableVersion(V2)) == [
        UpdateTableVersion(V2)
    ]
    assert compute_changes(SnapshotTableVersion(V1), SnapshotTableVersion(V1)) == []
    with pytest.raises(TypeError):
        compute_changes(SnapshotTableVersion(V1), PartitionedTableVersion({}))


def _seed_compute_changes(current, target):
    """compute_changes as it was when it sorted every key of both sides:
    the reference for the differential test below."""
    if isinstance(current, SnapshotTableVersion) and isinstance(target, SnapshotTableVersion):
        if current.version != target.version:
            return [UpdateTableVersion(target.version)]
        return []
    if isinstance(current, PartitionedTableVersion) and isinstance(target, PartitionedTableVersion):
        cur = current.partition_versions
        tgt = target.partition_versions
        ops = []
        for p in sorted(tgt, key=lambda x: x.path):
            if p not in cur:
                ops.append(AddPartition(p, tgt[p]))
            elif cur[p] != tgt[p]:
                ops.append(UpdatePartitionVersion(p, tgt[p]))
        for p in sorted(cur, key=lambda x: x.path):
            if p not in tgt:
                ops.append(RemovePartitionOp(p))
        return ops
    raise TypeError("mismatched table version kinds")


def _random_label(rng):
    return Version(
        f"2024{rng.randrange(1, 13):02d}01-000000.{rng.randrange(10**9):09d}-"
        "00000000-0000-0000-0000-000000000000"
    )


def _random_key(rng):
    """A partition, either parsed (interned) or built directly; two
    different partitions can share a path (``a=1/b=2`` vs a value holding
    ``/``), which pins the tie order of the path sort."""
    d, h = rng.randrange(30), rng.randrange(3)
    kind = rng.randrange(3)
    if kind == 0:
        return Partition.parse(f"d={d}/h={h}")
    if kind == 1:
        return Partition.of(("d", str(d)), ("h", str(h)))
    return Partition.of(("d", f"{d}/h={h}"))


@pytest.mark.parametrize("seed", range(40))
def test_diff_matches_sort_everything_reference(seed):
    import random

    rng = random.Random(seed)
    cur = {}
    for _ in range(rng.randrange(60)):
        cur[_random_key(rng)] = _random_label(rng)
    tgt = {}
    for p, v in cur.items():
        r = rng.random()
        if r < 0.2:
            continue  # removed
        if r < 0.5:
            tgt[p] = Version(v.label)  # equal label, distinct object
        elif r < 0.6:
            tgt[p] = v
        else:
            tgt[p] = _random_label(rng)  # updated
    for _ in range(rng.randrange(20)):
        tgt.setdefault(_random_key(rng), _random_label(rng))  # added
    items = list(tgt.items())
    rng.shuffle(items)
    pair = (PartitionedTableVersion(cur), PartitionedTableVersion(dict(items)))
    for a, b in (pair, pair[::-1]):
        got = compute_changes(a, b)
        assert got == _seed_compute_changes(a, b)
        assert [type(op) for op in got] == [
            type(op) for op in _seed_compute_changes(a, b)
        ]


def test_diff_snapshot_and_kind_mismatch_unchanged():
    for a, b in [(V1, V2), (V1, V1), (UNVERSIONED, V1)]:
        sa, sb = SnapshotTableVersion(a), SnapshotTableVersion(b)
        assert compute_changes(sa, sb) == _seed_compute_changes(sa, sb)
    for a, b in [
        (SnapshotTableVersion(V1), PartitionedTableVersion({})),
        (PartitionedTableVersion({}), SnapshotTableVersion(V1)),
    ]:
        with pytest.raises(TypeError, match="mismatched table version kinds"):
            compute_changes(a, b)
