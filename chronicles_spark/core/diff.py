"""Metastore diff algebra: compute_changes(current, target) → operations.

Reference semantics: core/src/main/scala/dev/chronicles/core/Metastore.scala:47-84.
The diff of two resolved table states yields the minimal list of metastore
operations needed to make actual state match desired state:
* partitions only in target  → AddPartition(p, v)
* partitions only in current → RemovePartition(p)
* partitions in both with a different version → UpdatePartitionVersion(p, v)
* snapshot tables: version differs → UpdateTableVersion(v)

This is the pure driver-side version; the same algebra as a distributed
FULL OUTER JOIN lives in ``chronicles_spark.plans.log_queries``
(``q_compute_changes``).
"""

from __future__ import annotations

from dataclasses import dataclass
from operator import attrgetter
from typing import List, Union

from .model import Partition, PartitionedTableVersion, SnapshotTableVersion
from .version import Version


@dataclass(frozen=True)
class AddPartition:
    partition: Partition
    version: Version


@dataclass(frozen=True)
class UpdatePartitionVersion:
    partition: Partition
    version: Version


@dataclass(frozen=True)
class RemovePartitionOp:
    partition: Partition


@dataclass(frozen=True)
class UpdateTableVersion:
    version: Version


MetastoreOperation = Union[AddPartition, UpdatePartitionVersion, RemovePartitionOp, UpdateTableVersion]


_by_path = attrgetter("partition.path")


def compute_changes(current, target) -> List[MetastoreOperation]:
    """Diff current vs. target state (Metastore.scala:56-84)."""
    if isinstance(current, SnapshotTableVersion) and isinstance(target, SnapshotTableVersion):
        if current.version != target.version:
            return [UpdateTableVersion(target.version)]
        return []
    if isinstance(current, PartitionedTableVersion) and isinstance(target, PartitionedTableVersion):
        cur = current.partition_versions
        tgt = target.partition_versions
        # deterministic order: adds and updates by partition path, then
        # removes by path (reference emits in map order; order is irrelevant
        # to the metastore, determinism helps tests).  Only the emitted ops
        # are sorted; the sort is stable, so ties keep map order and the
        # output equals that of sorting every key of both states.
        changed: List[MetastoreOperation] = []
        for p, v in tgt.items():
            old = cur.get(p)
            if old is None:
                changed.append(AddPartition(p, v))
            elif old.label != v.label:
                changed.append(UpdatePartitionVersion(p, v))
        removed = [RemovePartitionOp(p) for p in cur if p not in tgt]
        changed.sort(key=_by_path)
        removed.sort(key=_by_path)
        return changed + removed
    raise TypeError(
        f"mismatched table version kinds: {type(current).__name__} vs {type(target).__name__}"
    )
