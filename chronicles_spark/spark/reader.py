"""Current-view and time-travel reads (metastore-free path).

The reference reads the current view through the metastore: partition
LOCATION pointers select the live version, so ``spark.table(t)`` never sees
more than one version per partition (docs/concepts.md:65-67, W5 in SURVEY
§2.1). The metastore-free equivalent implemented here resolves the live
``(partition → version)`` map from the commit log (V4 fold), builds the
concrete directory list, and hands it to one ``spark.read`` — driver-side
partition *selection*, with Spark's normal partition pruning still applying
on top for query filters (W7: acceptance-tests/.../DatePartitionedTableSpec.scala:95-105).

Scale notes:
- The path list is O(#live partitions) driver-side metadata (the same
  cardinality the Hive metastore client would hand Spark); data listing and
  reading stay fully distributed.
- ``basePath`` keeps partition-column recovery from directory names, so
  filters on partition columns prune directories before any file is read
  (verify via PartitionFilters in .explain).
- A 100k-partition table costs a 100k-element path list — same order as
  Hive partition listing; for bigger metadata, checkpoint the folded map
  (Delta-style) — see plans/log_queries.py which computes the fold
  distributed.
"""

from __future__ import annotations

import threading
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession

from ..core import paths as vpaths
from ..core.model import (
    PartitionedTableVersion,
    SnapshotTableVersion,
    TableDefinition,
)
from ..core.paths import VERSION_COLUMN
from ..trackers.base import VersionTracker

# serializes the session-global partition-inference conf swap in
# read_version; process-wide by design (coarser than strictly needed for
# multi-SparkSession processes, but those are rare and correctness wins)
_PARTITION_INFERENCE_LOCK = threading.Lock()


def live_paths(table: TableDefinition, table_version) -> List[str]:
    """Concrete directories holding the live data for a resolved state.

    This list is the driver-side O(partitions) term of every
    current-view read (measured: round-14 measurement (script removed;
    see git history); bound recorded in docs/scale.md "wide-table
    reads") — built in one pass with ``Partition.path`` computed once
    per partition, not once for the sort key and again for the
    directory."""
    if isinstance(table_version, SnapshotTableVersion):
        return [vpaths.path_for(table.location, table_version.version)]
    assert isinstance(table_version, PartitionedTableVersion)
    items = [
        (p.path, p, v) for p, v in table_version.partition_versions.items()
    ]
    items.sort(key=lambda t: t[0])
    loc = table.location
    return [
        vpaths.path_for(p.resolve_path(loc), v) for _, p, v in items
    ]


def restrict_partitions(table_version, column: str, values):
    """Metadata-plane partition pruning for WIDE tables: subset a folded
    state to the partitions whose ``column`` value is in ``values``
    BEFORE :func:`read_version` materializes the path list.  A
    current-view read pays O(partitions) driver time and memory building
    the ``load(paths)`` plan (measured at 10⁵–10⁶ partitions in the
    round-14 measurement (script removed; see git history); bound
    recorded in docs/scale.md "wide-table reads") — a read that needs a
    slice should prune here, O(selected), and leave row-level filters to
    the parquet scan's pushdown as usual.  This is the public spelling of
    the structural pruning the index families already use internally
    (``_restrict_to_values``)."""
    wanted = {str(v) for v in values}
    kept = {
        p: v
        for p, v in table_version.partition_versions.items()
        if dict(p.column_values).get(column) in wanted
    }
    return PartitionedTableVersion(kept)


def read_version(
    spark: SparkSession,
    table: TableDefinition,
    table_version,
    keep_version_column: bool = False,
    infer_partition_types: bool = True,
    stats_filter=None,
    schema=None,
) -> DataFrame:
    """Read a specific resolved state (current or historical).

    ``infer_partition_types=False`` keeps partition columns as the EXACT
    strings of the directory names (no date/int inference) — required by
    read-modify-write paths (compaction, streaming append-union) where a
    value like ``'01'`` must not round-trip through int 1 and land back
    under a different directory.

    ``stats_filter`` (column → inclusive ``(lo, hi)`` bounds) data-skips:
    version directories whose recorded footer stats prove no row can
    match are dropped before Spark plans the scan (see
    :mod:`chronicles_spark.spark.stats`; directories without sidecars are
    kept).  It is a PLANNING optimization, not a row filter — apply the
    real predicate with ``.where`` as usual.  An empty post-prune list
    returns an empty DataFrame with the correct schema.

    ``schema`` (internal plumbing for read-modify-write loops that read
    one table many times): the table's FULL read schema — data columns,
    partition columns and ``_version``, as a ``keep_version_column=True``
    read returns it.  Every type, the partition columns' included, then
    comes from ``schema``: Spark runs no schema-inference job (one
    footer-reading job per read otherwise), and partition values are
    cast to the given types without inference, so
    ``infer_partition_types`` is moot and the session-conf swap and its
    lock are skipped.  The caller owns the schema's agreement with the
    stored files."""
    paths_ = live_paths(table, table_version)
    if not paths_:
        raise ValueError(f"table {table.name} has no live data (empty state)")
    pruned_all = False
    if stats_filter:
        from .stats import prune_paths_by_stats

        kept = prune_paths_by_stats(spark, paths_, stats_filter, table.location)
        if kept:
            paths_ = kept
        else:
            # keep ONE path for schema, emit zero rows below
            paths_, pruned_all = paths_[:1], True
    reader = spark.read.format(table.format).option("basePath", table.location)
    for k, v in table.format_options:
        reader = reader.option(k, v)
    if schema is not None:
        df = reader.schema(schema).load(paths_)
    elif infer_partition_types:
        df = reader.load(paths_)
    else:
        # the flag is session-global (Spark has no per-read option), so the
        # set → load → restore must be atomic across THIS process's threads
        # (e.g. two foreachBatch sinks) or an interleaved restore could
        # re-enable inference mid-load and resurrect the '01' → int 1
        # corruption; unrelated concurrent reads may briefly observe
        # string-typed partition columns — values stay correct
        conf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        with _PARTITION_INFERENCE_LOCK:
            prev = spark.conf.get(conf_key, "true")
            spark.conf.set(conf_key, "false")
            try:
                # listing + partition-schema inference happen inside load()
                df = reader.load(paths_)
            finally:
                spark.conf.set(conf_key, prev)
    if not keep_version_column and VERSION_COLUMN in df.columns:
        df = df.drop(VERSION_COLUMN)
    if pruned_all:
        df = df.limit(0)
    return df


def read_current(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    keep_version_column: bool = False,
    stats_filter=None,
) -> DataFrame:
    """W5, metastore-free: fold the log at head → read live directories."""
    return read_version(
        spark,
        table,
        tracker.current_version(table.name),
        keep_version_column,
        stats_filter=stats_filter,
    )


def read_group(
    spark: SparkSession,
    tables,
    tracker: VersionTracker,
    keep_version_column: bool = False,
) -> dict:
    """DataFrames over ONE mutually consistent snapshot of a
    ``commit_group`` publication's member tables (round 14) — a reader
    resolving each member independently mid-group on the files backend
    sees A-new/B-old; this resolves all members to one group generation
    first (``operators.pairing.read_group_states``: O(tail) per member,
    retry-forward through an in-flight group, pin-backward past a
    crashed one).  ``tables``: TableDefinitions published together via
    ``versioned_insert_group`` / ``publish_group``.  Returns
    ``{table_name: DataFrame}``."""
    from ..operators.pairing import read_group_states

    tables = list(tables)  # a generator must survive both passes below
    states = read_group_states(tracker, [t.name for t in tables])
    return {
        t.name: read_version(
            spark, t, states[t.name][0], keep_version_column
        )
        for t in tables
    }


def read_at_commit(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    commit_id: str,
    keep_version_column: bool = False,
) -> DataFrame:
    """Time travel WITHOUT moving the head: resolve the state at
    ``commit_id`` and read it (the read-only cousin of checkout,
    VersionTracker.scala:37-55).  Unknown commit ids raise
    (UnknownCommitError) — folding past a typo'd id would silently read
    the head state.  On a checkpointed tracker a commit at or after the
    checkpoint resolves reading only the log tail."""
    return read_version(
        spark, table, tracker.version_at(table.name, commit_id), keep_version_column
    )


def read_at_timestamp(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    ts,
    keep_version_column: bool = False,
) -> DataFrame:
    """Delta-style timestamp time travel: read the state as of the newest
    commit at or before ``ts`` (datetime, naive = UTC, or ISO-8601 string).
    Raises UnknownCommitError when the table has no commit that early."""
    return read_at_commit(
        spark, table, tracker, tracker.commit_at_timestamp(table.name, ts),
        keep_version_column,
    )


def read_at_tag(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    tag: str,
    keep_version_column: bool = False,
) -> DataFrame:
    """Read the exact state a tag pins (``tracker.set_tag``) — the
    data-version-pinning read: vacuum keeps every tagged state's
    directories, so this read stays reproducible for the life of the tag.
    Unknown tags raise UnknownTagError."""
    return read_at_commit(
        spark, table, tracker, tracker.tag_commit(table.name, tag),
        keep_version_column,
    )


def _changed_states(
    table: TableDefinition,
    tracker: VersionTracker,
    from_commit: str,
    to_commit: Optional[str] = None,
):
    """(ops, tv_from, tv_to) — internal triple behind changed_partitions.

    Endpoint resolution rides ``version_at`` (round 11) — the fold
    checkpoint + commit tail on checkpointed trackers — so an incremental
    CDC consumer polling ``(from=last seen, to=head)`` against a deep log
    reads O(checkpoint_interval) commit records per poll, never the whole
    log (this previously materialized ``table_state``: O(history) per
    poll, quadratic cumulative — the same shape the round-11 metadata
    plane removed from the index extends).  An endpoint deeper than the
    checkpoint degrades to that endpoint's full fold, which is always
    correct (docs/scale.md "Resolution is O(tail)")."""
    from ..core.diff import compute_changes
    from ..trackers.base import UnknownCommitError, head_of

    to_commit = to_commit or head_of(tracker, table.name)
    resolved = []
    for label, cid in (("from_commit", from_commit), ("to_commit", to_commit)):
        try:
            resolved.append(tracker.version_at(table.name, cid))
        except UnknownCommitError:
            raise ValueError(
                f"unknown {label} {cid!r} for table {table.name}"
            ) from None
    tv_from, tv_to = resolved
    return compute_changes(tv_from, tv_to), tv_from, tv_to


def changed_partitions(
    table: TableDefinition,
    tracker: VersionTracker,
    from_commit: str,
    to_commit: Optional[str] = None,
):
    """Metastore ops describing what changed between two commits: the M12
    diff (Metastore.scala:56-84) applied to the folds at ``from_commit``
    and ``to_commit`` (default: head), returned as ``(ops, to_state)``.
    Pure metadata.  Unknown commit ids raise — ``take_through`` would
    otherwise silently fold the WHOLE log and a CDC consumer would read an
    empty change set for a typo'd id."""
    ops, _, tv_to = _changed_states(table, tracker, from_commit, to_commit)
    return ops, tv_to


def read_changes(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    from_commit: str,
    to_commit: Optional[str] = None,
    keep_version_column: bool = False,
) -> DataFrame:
    """Incremental (CDC-style) read: rows of exactly the partitions whose
    live version CHANGED between ``from_commit`` (exclusive baseline) and
    ``to_commit`` (default head) — added partitions and overwritten
    partitions, at their ``to`` state.  Removed partitions have no rows to
    read; enumerate them with :func:`changed_partitions`.

    This is the downstream-consumer primitive at scale: after a commit
    touches 3 of 100k partitions, an incremental pipeline reads those 3
    directories, not the table.  Snapshot tables: any version change means
    the WHOLE table is the change set."""
    from pyspark.errors import AnalysisException

    from ..core.diff import AddPartition, UpdatePartitionVersion, UpdateTableVersion

    ops, tv_from, tv_to = _changed_states(table, tracker, from_commit, to_commit)

    def _empty_like() -> DataFrame:
        # schema must come from SOME live state; a pure-deletion interval
        # can leave tv_to empty, so fall back to the from-state's files.
        # AnalysisException is tolerated ONLY for the never-written
        # snapshot sentinel (it folds to one nonexistent path rather than
        # zero paths) — a missing path for a state that claims live data
        # is corruption and must propagate.
        for tv in (tv_to, tv_from):
            never_written = (
                isinstance(tv, SnapshotTableVersion) and tv.version.is_unversioned
            )
            try:
                return read_version(spark, table, tv, keep_version_column).limit(0)
            except ValueError:
                continue
            except AnalysisException:
                if never_written:
                    continue
                raise
        raise ValueError(
            f"table {table.name} has no live data at either commit to "
            "derive a schema from"
        )

    if isinstance(tv_to, SnapshotTableVersion):
        if any(isinstance(op, UpdateTableVersion) for op in ops):
            return read_version(spark, table, tv_to, keep_version_column)
        return _empty_like()

    touched = {
        op.partition: op.version
        for op in ops
        if isinstance(op, (AddPartition, UpdatePartitionVersion))
    }
    if not touched:
        return _empty_like()
    return read_version(
        spark, table, PartitionedTableVersion(touched), keep_version_column
    )
