"""Checkout resolves its target once, on the checkpoint fast path.

``set_current_version`` resolves the target through the backend's own
``version_at`` (checkpoint + tail on files and sqlite) and returns the
folded state; ``VersionedMetastore.checkout`` diffs that state against the
metastore instead of resolving a second time.  Differential style: every
returned state is compared with the full fold of the log, with the next
``current_version`` and with a checkpoint-free files tracker over the same
log; the structural cost (commit-file and archive reads) is pinned with
CountingFs."""

import pytest

from chronicles_spark.core import fold
from chronicles_spark.core.model import (
    Partition,
    PartitionSchema,
    TableDefinition,
    TableName,
)
from chronicles_spark.core.ops import (
    AddPartitionVersion,
    InitTable,
    RemovePartition,
    TableUpdate,
    TableUpdateMetadata,
)
from chronicles_spark.core.version import generate_version
from chronicles_spark.spark.metastore import InMemoryMetastore
from chronicles_spark.trackers import (
    FileBackedVersionTracker,
    InMemoryVersionTracker,
    SqliteVersionTracker,
    UnknownCommitError,
    UnknownTableError,
)
from chronicles_spark.trackers.base import head_of
from chronicles_spark.trackers.files import _ARCHIVE_FILE_RE
from chronicles_spark.versioned_metastore import VersionedMetastore
from tests.test_checkpoint import CountingFs

T = TableName("db", "checkout")
INTERVAL = 4


def _update(i):
    p = Partition.of(("p", str(i % 7)))
    op = (
        RemovePartition(p) if i % 9 == 8
        else AddPartitionVersion(p, generate_version())
    )
    return TableUpdate(TableUpdateMetadata.new("u", f"c{i}"), (op,))


def _drive(trackers, n_before=30, rollback_to=12, n_after=10):
    """Feed the SAME updates (same commit ids) to every tracker: ``n_before``
    commits, a rollback to commit ``rollback_to``, ``n_after`` more.
    Returns the commit ids in log order, init included."""
    init = TableUpdate(
        TableUpdateMetadata.new("u", "init"), (InitTable(T.fully_qualified, False),)
    )
    for tr in trackers:
        tr._create_table(T, init, False)
    ids = [init.metadata.commit_id]
    for i in range(n_before + n_after):
        if i == n_before:
            for tr in trackers:
                tr.set_current_version(T, ids[rollback_to])
        u = _update(i)
        for tr in trackers:
            tr.commit(T, u)
        ids.append(u.metadata.commit_id)
    return ids


def _backend(kind, tmp_path):
    """(tracker under test, checkpoint-free files tracker over the same log,
    commit ids).  The files backend's truth reads its own directory
    (archive chunks included); memory and sqlite get a files mirror fed
    the identical updates."""
    if kind == "files":
        root = str(tmp_path / "log")
        tr = FileBackedVersionTracker(root, checkpoint_interval=INTERVAL)
        ids = _drive([tr])
        out = tr.archive_commits(T, retain_checkpoints=2, max_chunk_bytes=4096)
        assert out["archived"] > 0 and len(out["archives"]) > 1
        return tr, FileBackedVersionTracker(root, checkpoint_interval=None), ids
    mirror = FileBackedVersionTracker(
        str(tmp_path / "mirror"), checkpoint_interval=None
    )
    if kind == "memory":
        tr = InMemoryVersionTracker()
    else:
        tr = SqliteVersionTracker(
            str(tmp_path / "log.db"), checkpoint_interval=INTERVAL
        )
    return tr, mirror, _drive([tr, mirror])


@pytest.mark.parametrize("kind", ["memory", "sqlite", "files"])
def test_checkout_every_commit_matches_full_fold(kind, tmp_path):
    tr, truth, ids = _backend(kind, tmp_path)
    updates = tr.table_state(T).updates
    assert [u.metadata.commit_id for u in updates] == ids
    for c in ids:
        got = tr.set_current_version(T, c)
        assert head_of(tr, T) == c
        assert got == fold.current_version(updates, c)
        assert got == tr.current_version(T)
        assert got == truth.version_at(T, c)


@pytest.mark.parametrize("kind", ["memory", "sqlite", "files"])
def test_unknown_target_moves_nothing(kind, tmp_path):
    tr, _, ids = _backend(kind, tmp_path)
    tdef = TableDefinition(T, str(tmp_path / "data"), PartitionSchema(("p",)))
    ms = InMemoryMetastore()
    ms.create_table(tdef)
    vm = VersionedMetastore(tr, ms)
    desired, changes = vm.checkout(tdef, ids[20])
    assert changes and desired == ms.current_version(tdef)
    assert desired == tr.current_version(T)

    with pytest.raises(UnknownCommitError):
        tr.set_current_version(T, "no-such-commit")
    assert head_of(tr, T) == ids[20]
    with pytest.raises(UnknownCommitError):
        vm.checkout(tdef, "no-such-commit")
    assert head_of(tr, T) == ids[20]
    assert ms.current_version(tdef) == desired

    ghost = TableName("db", "ghost")
    with pytest.raises(UnknownTableError):
        tr.set_current_version(ghost, ids[0])
    for commit_id in (None, ids[0]):
        with pytest.raises(UnknownTableError):
            tr.set_tag(ghost, "pin", commit_id)
    with pytest.raises(UnknownCommitError):
        tr.set_tag(T, "pin", "no-such-commit")
    assert tr.tags(T) == {}


def _archive_reads(cfs):
    return [p for p in cfs.reads if _ARCHIVE_FILE_RE.match(p.rsplit("/", 1)[-1])]


def _commit_reads(cfs):
    return [p for p in cfs.reads if "table_update_" in p]


def test_checkout_reads_only_the_tail(tmp_path):
    """Checking out a commit inside the retained checkpoints, then the head
    again, reads no archive artifact and O(checkpoint_interval) commit
    files; so do tagging the head and a retained commit.  A checkout below
    the archive floor is the positive control: it reads the archive and
    still resolves correctly."""
    interval = 10
    root = str(tmp_path / "log")
    tr = FileBackedVersionTracker(root, checkpoint_interval=interval)
    ids = _drive([tr], n_before=80, n_after=0)
    out = tr.archive_commits(T, retain_checkpoints=2, max_chunk_bytes=4096)
    assert out["archived"] > 0
    truth = FileBackedVersionTracker(root, checkpoint_interval=None)

    cfs = CountingFs(tr.fs)
    counted = FileBackedVersionTracker(root, fs=cfs, checkpoint_interval=interval)
    past, head = ids[-interval - 3], ids[-1]  # one checkpoint below the head
    for c, max_commit_reads in ((past, 2 * interval + 2), (head, interval + 2)):
        cfs.reads.clear()
        assert counted.set_current_version(T, c) == truth.version_at(T, c)
        assert not _archive_reads(cfs), cfs.reads
        assert len(_commit_reads(cfs)) <= max_commit_reads, cfs.reads
    for name, c in (("head", None), ("past", past)):
        cfs.reads.clear()
        counted.set_tag(T, name, c)
        assert not _archive_reads(cfs), cfs.reads
        assert len(_commit_reads(cfs)) <= 2 * interval + 2, cfs.reads
    assert counted.tags(T) == {"head": head, "past": past}

    # positive control: a commit below the archive floor needs the archive
    cfs.reads.clear()
    deep = ids[5]
    assert counted.set_current_version(T, deep) == truth.version_at(T, deep)
    assert _archive_reads(cfs)
    assert counted.current_version(T) == truth.version_at(T, deep)
