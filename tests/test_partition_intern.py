"""Interned ``Partition.parse``: parity with the plain regex parse, the
bounded table, and the folds that go through it (no JVM)."""

import dataclasses
import pickle
import re
from datetime import datetime, timezone

import pytest

from chronicles_spark.core import model
from chronicles_spark.core.model import Partition, TableName
from chronicles_spark.core.ops import (
    AddPartitionVersion,
    TableUpdate,
    TableUpdateMetadata,
)
from chronicles_spark.core.version import Version
from chronicles_spark.trackers import FileBackedVersionTracker, SqliteVersionTracker

T = TableName("db", "wide")

# the parse as it was before interning: the reference every call must match
_REF_RE = re.compile(r"^([a-z][a-z0-9_]*)=(.+)$")


def _ref_parse(s):
    out = []
    for p in s.split("/"):
        m = _REF_RE.match(p)
        if not m:
            raise ValueError(f"invalid partition string: {s!r}")
        out.append((m.group(1), m.group(2)))
    return Partition(tuple(out))


class _RecordingTable(dict):
    """Stand-in for the intern table: counts inserts (= parse misses) and
    remembers the largest size it reached."""

    def __init__(self):
        super().__init__()
        self.misses = 0
        self.high_water = 0

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        self.misses += 1
        self.high_water = max(self.high_water, len(self))


@pytest.fixture
def table(monkeypatch):
    t = _RecordingTable()
    monkeypatch.setattr(model, "_parsed", t)
    return t


VALID = [
    "date=2019-01-01",
    "a=1/b=2/c_3=x y",
    "k=a=b=c",
    "k==",
    "city=Zürich/emoji=🙂",
    "q=it's/dq=\"x\"/bs=back\\slash",
    "p=abc\n",  # trailing-newline quirk: `$` matches before it
    "p=a:b/x9=%2F",
]

INVALID = ["", "/", "p=", "P=x", "p=a/b", "p=a\nb", "=x", "p=1//q=2", "1p=x"]


@pytest.mark.parametrize("s", VALID)
def test_parse_matches_reference(table, s):
    first = Partition.parse(s)
    assert first == _ref_parse(s)
    assert first.column_values == _ref_parse(s).column_values
    again = Partition.parse(s)
    assert again is first
    assert table.misses == 1


def test_trailing_newline_quirk_kept():
    assert Partition.parse("p=abc\n") == Partition.of(("p", "abc"))


@pytest.mark.parametrize("s", INVALID)
def test_invalid_raises_every_call_and_is_never_stored(table, s):
    with pytest.raises(ValueError, match="invalid partition string"):
        _ref_parse(s)
    for _ in range(3):
        with pytest.raises(ValueError, match="invalid partition string"):
            Partition.parse(s)
    assert s not in table and table.misses == 0


def test_parsed_and_constructed_instances_agree():
    pairs = (("k1", "v'1"), ("k2", "a:b c"))
    s = "k1=v'1/k2=a:b c"
    parsed, built = Partition.parse(s), Partition.of(*pairs)
    assert parsed == built and hash(parsed) == hash(built)
    assert parsed.path == built.path == s
    assert str(parsed) == str(built)
    assert parsed.hive_expr() == built.hive_expr()
    assert parsed.resolve_path("s3://b/t/") == built.resolve_path("s3://b/t/")
    lo, hi = Partition.parse("d=1"), Partition.of(("d", "2"))
    assert lo < hi and not hi < lo and sorted([hi, lo]) == [lo, hi]


def test_pickle_round_trip_keeps_equality_and_hash():
    p = Partition.parse("a=1/b=two")
    q = pickle.loads(pickle.dumps(p))
    assert q == p and hash(q) == hash(p)
    assert {q: 1}[Partition.parse("a=1/b=two")] == 1


def test_no_cached_fields_on_the_instance():
    assert [f.name for f in dataclasses.fields(Partition)] == ["column_values"]


def _commit(tracker, i, ops):
    meta = TableUpdateMetadata(
        f"c{i:04d}", "u", "m", datetime(2024, 1, 1, tzinfo=timezone.utc)
    )
    tracker.commit(T, TableUpdate(meta, tuple(ops)))
    return meta.commit_id


def _label(i):
    return Version(f"20240101-000000.{i:09d}-00000000-0000-0000-0000-000000000000")


def test_bounded_table_still_resolves_correctly(tmp_path, monkeypatch, table):
    monkeypatch.setattr(model, "_PARSE_CAPACITY", 8)
    tracker = FileBackedVersionTracker(str(tmp_path / "log"), checkpoint_interval=4)
    tracker.init_table(T, is_snapshot=False, user_id="u")
    expect = {}
    for i in range(50):
        p, v = Partition.of(("d", f"{i:03d}"), ("h", str(i % 7))), _label(i)
        expect[p] = v
        _commit(tracker, i, [AddPartitionVersion(p, v)])
    for _ in range(2):
        assert tracker.current_version(T).partition_versions == expect
    assert 0 < table.high_water <= 8


def _trackers(tmp_path):
    yield FileBackedVersionTracker(str(tmp_path / "log"), checkpoint_interval=4)
    yield SqliteVersionTracker(str(tmp_path / "log.db"), checkpoint_interval=4)


def test_second_resolution_builds_no_partition(tmp_path, monkeypatch, table):
    """Both checkpointed backends fold through ``Partition.parse``: a
    repeat resolution of the same commit hands back interned instances
    and constructs no ``Partition`` at all."""
    built = []
    plain_init = Partition.__init__

    def counting_init(self, *a, **kw):
        built.append(1)
        plain_init(self, *a, **kw)

    for tracker in _trackers(tmp_path):
        tracker.init_table(T, is_snapshot=False, user_id="u")
        for i in range(30):  # several checkpoints plus a tail
            ops = [
                AddPartitionVersion(Partition.of(("p", f"{(i * 3 + j) % 40}")), _label(i))
                for j in range(3)
            ]
            head = _commit(tracker, i, ops)
        mid = f"c{21:04d}"
        first = (tracker.version_at(T, head), tracker.version_at(T, mid),
                 tracker.head_resolution(T))
        assert first[2] is not None
        misses = table.misses
        monkeypatch.setattr(Partition, "__init__", counting_init)
        second = (tracker.version_at(T, head), tracker.version_at(T, mid),
                  tracker.head_resolution(T))
        monkeypatch.setattr(Partition, "__init__", plain_init)
        assert table.misses == misses, type(tracker).__name__
        assert built == [], type(tracker).__name__
        assert second[0] == first[0] and second[1] == first[1]
        assert second[2][0] == first[2][0]
        assert len(first[0].partition_versions) == 40
