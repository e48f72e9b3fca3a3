"""The instrumented tracker, filesystem and metastore behave exactly like the
plain library classes: same states and outputs on a small log."""

import harness as H
import tracing as T
from chronicles_spark.core.diff import compute_changes
from chronicles_spark.operators.pairing import pinned_state
from chronicles_spark.spark import changed_partitions
from chronicles_spark.trackers import FileBackedVersionTracker
from chronicles_spark.spark.metastore import InMemoryMetastore
from chronicles_spark.versioned_metastore import VersionedMetastore
import wl_deep_log
from wl_deep_log import DeepLog


def _drive(ctx):
    """Build a small log, then run every op kind; return what each returned,
    with commit ids and labels that do not depend on the run."""
    wl = DeepLog(ctx)
    wl.setup()
    out = []
    ops = wl.schedule()
    for _ in range(120):
        op = next(ops)
        res = wl.execute(op)
        assert wl.check(op, res), op
        out.append((op.kind, _plain(res)))
    t = ctx.tracker(wl.root)
    # ids the library draws itself (init, head moves) are not seeded
    known = set(wl.ids[1:])
    out.append(("updates", [u.commit_id if u.commit_id in known else "library"
                            for u in t.updates(wl.table.name)]))
    out.append(("pinned", _plain(pinned_state(t, wl.table.name))))
    out.append(("cdc", _plain(changed_partitions(wl.table, t, wl.ids[5]))))
    return out


def _plain(x):
    """Comparable form of a library result."""
    if isinstance(x, (list, tuple)):
        return [_plain(v) for v in x]
    if hasattr(x, "partition_versions"):
        return sorted((p.path, v.label) for p, v in x.partition_versions.items())
    if hasattr(x, "metadata"):
        return x.metadata.commit_id
    if isinstance(x, dict):
        return sorted((k, str(v)) for k, v in x.items()
                      if k not in ("archive", "archives", "through_seq"))
    return repr(x)


def test_instrumented_equals_plain(tmp_path, monkeypatch):
    monkeypatch.setattr(wl_deep_log, "N_COMMITS", 300)
    monkeypatch.setattr(wl_deep_log, "N_PARTS", 40)
    plain = _drive(H.Ctx(5, str(tmp_path / "plain")))
    tracer = T.Tracer()
    traced = _drive(H.Ctx(5, str(tmp_path / "traced"), tracer=tracer))
    assert plain == traced
    assert any(s["name"].startswith("trackers.") for s in tracer.spans)


def test_counts_only_inside_ops_and_plain_swap(tmp_path):
    tracer = T.Tracer()
    t = T.TracedTracker(str(tmp_path / "log"), tracer, fs=T.CountingFileSystem(tracer))
    ms = T.TracedMetastore(tracer)
    t.tables()
    ms.update(None, [])
    assert not tracer.counters  # outside any op
    with tracer.op(0, "probe"):
        t.tables()
    assert tracer.counters["trackers.resolve_calls"] == 1
    assert tracer.counters["trackers.fs_lists"] >= 1
    T.plain(t)
    T.plain(ms)
    assert type(t) is FileBackedVersionTracker and type(ms) is InMemoryMetastore
    assert type(t.fs) is T.LocalFileSystem
    before = dict(tracer.counters)
    with tracer.op(1, "probe"):
        t.tables()
    assert dict(tracer.counters) == before


def test_metastore_subclass_counts_alter_ops(tmp_path, monkeypatch):
    monkeypatch.setattr(wl_deep_log, "N_COMMITS", 50)
    monkeypatch.setattr(wl_deep_log, "N_PARTS", 8)
    tracer = T.Tracer()
    wl = DeepLog(H.Ctx(1, str(tmp_path)))
    wl.setup()
    ms = T.TracedMetastore(tracer)
    ms.create_table(wl.table)
    vm = VersionedMetastore(wl.tracker, ms)
    with tracer.op(0, "sync"):
        vm.checkout(wl.table, wl.ids[-1])
    assert tracer.counters["spark.metastore.alter_ops"] == 8
    assert ms.current_version(wl.table) == wl.tracker.current_version(wl.table.name)
    assert compute_changes(ms.current_version(wl.table),
                           wl.tracker.current_version(wl.table.name)) == []
