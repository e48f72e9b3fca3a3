"""Tracing for the benchmark's traced run, built entirely from outside the
library.

Every hook is either a subclass handed to the library through a public
constructor argument (tracker, tracker filesystem, metastore) or a wrapper
around py4j's client send in this process.  Spark's own work comes from the
run's event log, attributed to ops by time window: with one client, the op
whose window contains a job's submission time launched it (job groups are
not used because the library's thread-pool threads do not carry them).

A span is ``{id, name, start, end, parent, op, thread}`` with wall-clock
(``time.time``) bounds so they line up with the event log's epoch
milliseconds.  Spans are kept in memory and written once at the end.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict

from chronicles_spark.spark.metastore import InMemoryMetastore
from chronicles_spark.trackers import CommitConflictError, FileBackedVersionTracker
from chronicles_spark.trackers.fs import LocalFileSystem

# The layers an op's time is split among (see op_self_times); the op's own
# self time is driver.uncovered (pure-Python driver work).
LAYERS = (
    "spark_exec",
    "py4j",
    "trackers",
    "spark.metastore",
    "operators.dedup_index",
    "operators.dedup",
    "spark.writer",
    "spark.reader",
    "spark.vacuum",
)
UNCOVERED = "driver.uncovered"

COMMIT_METHODS = frozenset(
    {"commit", "commit_group", "init_table", "drop_table",
     "set_current_version", "set_tag", "delete_tag"}
)
ARCHIVE_METHODS = frozenset({"archive_commits"})
# returns a context manager: timing the call would time only its creation
UNTIMED_METHODS = frozenset({"hold_commit_lock"})


def layer_of(span_name: str) -> "str | None":
    """The layer a span name belongs to (longest matching prefix), or None
    for op spans."""
    best = None
    for layer in LAYERS:
        if span_name == layer or span_name.startswith(layer + "."):
            if best is None or len(layer) > len(best):
                best = layer
    return best


class Tracer:
    """Span and counter recorder for one traced loop."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op_id: "int | None" = None
        self._client: "list | None" = None  # span stack of the op's thread

    def reset(self) -> None:
        """Forget everything recorded so far (set-up calls included)."""
        with self._lock:
            self.spans.clear()
            self.counters.clear()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[name] += n

    def count_in_op(self, name: str, n: float = 1) -> None:
        """Count only while an op runs, so the benchmark's own output checks
        (which call the same instrumented objects) are never counted."""
        if self.op_id is not None:
            self.count(name, n)

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        if stack:
            parent = stack[-1][0]
        else:
            # a library worker thread starts with an empty stack: its span
            # hangs under the span the single client has open
            top = self._client[-1:] if self._client is not None else []
            parent = top[0][0] if top else None
        stack.append((sid, name))
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            rec = {"id": sid, "name": name, "start": start, "end": end,
                   "parent": parent, "op": self.op_id,
                   "thread": threading.get_ident()}
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def op(self, op_id: int, kind: str):
        self.op_id = op_id
        self._client = self._stack()
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self._client = None
            self.op_id = None

    def tracker_kind(self) -> "str | None":
        """Kind of the outermost tracker call active on this thread."""
        return getattr(self._local, "tracker_kind", None)

    @contextlib.contextmanager
    def tracker_call(self, kind: str):
        outer = self.tracker_kind() is None
        if outer:
            self._local.tracker_kind = kind
        t0 = time.time()
        try:
            with self.span(f"trackers.{kind}"):
                yield
        except CommitConflictError:
            if outer:
                self.count_in_op("trackers.commit_conflicts")
            raise
        finally:
            if outer:
                self._local.tracker_kind = None
                self.count_in_op(f"trackers.{kind}_calls")
                self.count_in_op(f"trackers.{kind}_s", time.time() - t0)

    def fs_count(self, name: str, n: int) -> None:
        self.count_in_op(f"trackers.fs_{name}", n)
        kind = self.tracker_kind()
        if kind is not None:
            self.count_in_op(f"trackers.fs_{name}@{kind}", n)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


# -- instrumented library classes ---------------------------------------------


def _traced_method(name: str, kind: str):
    base = getattr(FileBackedVersionTracker, name)

    def method(self, *args, **kwargs):
        with self._tracer.tracker_call(kind):
            return base(self, *args, **kwargs)

    method.__name__ = name
    method.__doc__ = base.__doc__
    return method


class TracedTracker(FileBackedVersionTracker):
    """``FileBackedVersionTracker`` whose public methods are timed.  Adds no
    state but the tracer, so :func:`plain` can turn an instance back into
    the plain class."""

    def __init__(self, root: str, tracer: Tracer, **kwargs) -> None:
        self._tracer = tracer
        super().__init__(root, **kwargs)


for _name in dir(FileBackedVersionTracker):
    if _name.startswith("_") or _name in UNTIMED_METHODS:
        continue
    if not callable(getattr(FileBackedVersionTracker, _name)):
        continue
    _kind = ("commit" if _name in COMMIT_METHODS
             else "archive" if _name in ARCHIVE_METHODS else "resolve")
    setattr(TracedTracker, _name, _traced_method(_name, _kind))


class CountingFileSystem(LocalFileSystem):
    """``LocalFileSystem`` counting listings, entries, reads and writes, and
    the bytes moved; each count is also keyed by the outermost tracker call
    it served (``…@resolve``, ``…@commit``, ``…@archive``)."""

    def __init__(self, tracer: Tracer) -> None:
        self._tracer = tracer

    def list_dir(self, path):
        out = super().list_dir(path)
        self._tracer.fs_count("lists", 1)
        self._tracer.fs_count("dirents", len(out))
        return out

    def _read(self, n: int) -> None:
        self._tracer.fs_count("reads", 1)
        self._tracer.fs_count("read_bytes", n)

    def _write(self, n: int) -> None:
        self._tracer.fs_count("writes", 1)
        self._tracer.fs_count("write_bytes", n)

    def read_text(self, path):
        text = super().read_text(path)
        self._read(len(text.encode()))
        return text

    def read_bytes(self, path):
        data = super().read_bytes(path)
        self._read(len(data))
        return data

    def read_text_and_token(self, path):
        text, token = super().read_text_and_token(path)
        self._read(len(text.encode()))
        return text, token

    def write_text(self, path, text):
        super().write_text(path, text)
        self._write(len(text.encode()))

    def write_bytes(self, path, data):
        super().write_bytes(path, data)
        self._write(len(data))

    def write_text_if_absent(self, path, text):
        ok = super().write_text_if_absent(path, text)
        if ok:
            self._write(len(text.encode()))
        return ok

    # write_text_if_match needs no override: the base class publishes
    # through write_text, which counts the write when one happens


class TracedMetastore(InMemoryMetastore):
    """``InMemoryMetastore`` timing state reads and diff applies and
    counting the ALTER-equivalent operations applied."""

    def __init__(self, tracer: Tracer) -> None:
        super().__init__()
        self._tracer = tracer

    def current_version(self, table):
        t0 = time.time()
        with self._tracer.span("spark.metastore.current_version"):
            out = super().current_version(table)
        self._tracer.count_in_op("spark.metastore.current_version_s", time.time() - t0)
        return out

    def update(self, table, changes):
        t0 = time.time()
        with self._tracer.span("spark.metastore.update"):
            super().update(table, changes)
        self._tracer.count_in_op("spark.metastore.update_s", time.time() - t0)
        self._tracer.count_in_op("spark.metastore.alter_ops", len(changes))


_PLAIN = {
    TracedTracker: FileBackedVersionTracker,
    CountingFileSystem: LocalFileSystem,
    TracedMetastore: InMemoryMetastore,
}


def plain(obj):
    """Turn an instrumented instance into an instance of its plain library
    class in place (the subclasses add only the tracer attribute), so an
    untraced comparison loop runs exactly the library's code."""
    cls = _PLAIN.get(type(obj))
    if cls is not None:
        obj.__class__ = cls
        if isinstance(obj, FileBackedVersionTracker):
            plain(obj.fs)
    return obj


# -- py4j ---------------------------------------------------------------------

_GC_PREFIX = "m\nd\n"  # py4j's memory-management "delete object" command


class Py4jCounter:
    """Wraps py4j's client ``send_command`` in this process and records one
    interval, with its thread, per call.  Garbage-collection deletes (sent when a Python proxy
    is freed, at times the collector picks) are counted apart, so the call
    count repeats from run to run."""

    def __init__(self) -> None:
        self.calls: list[tuple[float, float, int]] = []  # start, end, thread
        self.gc_calls = 0
        self._saved: list = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection,
                    java_gateway.GatewayConnection):
            orig = cls.send_command
            self._saved.append((cls, orig))
            cls.send_command = self._wrap(orig)

    def _wrap(self, orig):
        counter = self

        def send_command(conn, command):
            if command.startswith(_GC_PREFIX):
                counter.gc_calls += 1
                return orig(conn, command)
            t0 = time.time()
            try:
                return orig(conn, command)
            finally:
                counter.calls.append((t0, time.time(), threading.get_ident()))

        return send_command

    def uninstall(self) -> None:
        for cls, orig in self._saved:
            cls.send_command = orig
        self._saved.clear()


# -- Spark event log ------------------------------------------------------------


def parse_event_log(lines) -> list[dict]:
    """Jobs from Spark event-log JSON lines, each with its submission and
    completion time (epoch seconds) and the task metrics summed over its
    stages.  Stages that ran no task (skipped, reused shuffle) are not
    counted."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "job": jid, "start": ev["Submission Time"] / 1000.0,
                "end": None, "stages": set(), "tasks": 0,
                "failed_tasks": 0, "executor_run_s": 0.0,
                "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                "input_bytes": 0, "output_bytes": 0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is None:
                continue
            job["stages"].add(ev["Stage ID"])
            job["tasks"] += 1
            if ev.get("Task Info", {}).get("Failed"):
                job["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            job["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            job["shuffle_read_bytes"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            )
            sw = m.get("Shuffle Write Metrics") or {}
            job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            job["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            job["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    out = []
    for job in sorted(jobs.values(), key=lambda j: j["job"]):
        if job["end"] is None:
            continue
        job["n_stages"] = len(job.pop("stages"))
        out.append(job)
    return out


# Event-log times are whole milliseconds, truncated: a job can read up to
# 1 ms earlier than the Python clock saw its window open.
_CLOCK_SLACK = 0.0015


def attribute_jobs(jobs, windows):
    """Map each job to the window ``(key, start, end)`` containing its
    submission time; when truncation makes two windows match, the later one
    wins.  Returns ``({key: [job, ...]}, [unattributed job, ...])``."""
    ordered = sorted(windows, key=lambda w: w[1])
    by_key: dict = defaultdict(list)
    stray = []
    for job in jobs:
        hit = None
        for key, start, end in ordered:
            if start - _CLOCK_SLACK <= job["start"] <= end + _CLOCK_SLACK:
                hit = key
        if hit is None:
            stray.append(job)
        else:
            by_key[hit].append(job)
    return by_key, stray


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``(start, end)`` intervals clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is not None and s <= cur_e:
            cur_e = max(cur_e, e)
            continue
        if cur_e is not None:
            total += cur_e - cur_s
        cur_s, cur_e = s, e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _innermost(t: float, candidates, slack: float = 0.0):
    """Key of the innermost ``(key, start, end)`` that contains ``t``: the
    latest start, then the earliest end; on a full tie the later one in
    ``candidates``."""
    best, best_rank = None, (float("-inf"), float("-inf"))
    for key, s, e in candidates:
        if s - slack <= t <= e + slack and (s, -e) >= best_rank:
            best, best_rank = key, (s, -e)
    return best


def _blocking_call(job: dict, calls):
    """Key of the py4j call that waited on ``job``: of the calls containing
    its submission, the one overlapping the job longest, then the latest
    started.  On another thread a short call can contain the submission
    too; the call that blocks on the job also spans its run."""
    best, best_rank = None, None
    for key, s, e in calls:
        if s - _CLOCK_SLACK <= job["start"] <= e + _CLOCK_SLACK:
            rank = (min(e, job["end"]) - max(s, job["start"]), s)
            if best_rank is None or rank > best_rank:
                best, best_rank = key, rank
    return best


def op_self_times(root: dict, spans, calls, jobs) -> dict:
    """Self time of every interval in one op's call tree, summed by layer.

    A self time is the interval's duration minus the union of its children
    (clipped to it).  ``root`` is the op span; its self time is
    :data:`UNCOVERED`, pure-Python driver time.  ``spans`` hang under the
    parent the tracer recorded.  A py4j call ``(start, end, thread)`` hangs
    under the innermost span on its own thread that contains its start, else
    under the innermost span on any thread.  A Spark job hangs under the
    py4j call that waited on it (:func:`_blocking_call`), else the
    innermost span.

    Nothing is clipped or ranked across siblings, so the parts add up to the
    op's wall time only when every child lies inside its parent and
    siblings do not overlap.  Work that overlaps across threads, or an
    interval outside its parent, makes the sum exceed the wall time."""
    rid = root["id"]
    nodes = {rid: (root["start"], root["end"], UNCOVERED)}
    for s in spans:
        nodes[s["id"]] = (s["start"], s["end"], layer_of(s["name"]) or UNCOVERED)
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"] if s["parent"] in nodes else rid].append((s["start"], s["end"]))
    every = [(rid, root["start"], root["end"])]
    by_thread = defaultdict(list, {root["thread"]: list(every)})
    for s in spans:
        every.append((s["id"], s["start"], s["end"]))
        by_thread[s["thread"]].append((s["id"], s["start"], s["end"]))
    call_ivs = []
    for i, (a, b, thread) in enumerate(calls):
        parent = _innermost(a, by_thread[thread]) or _innermost(a, every) or rid
        nodes["py4j", i] = (a, b, "py4j")
        kids[parent].append((a, b))
        call_ivs.append((("py4j", i), a, b))
    for j in jobs:
        t = j["start"]
        parent = (_blocking_call(j, call_ivs)
                  or _innermost(t, every, _CLOCK_SLACK) or rid)
        nodes["job", j["job"]] = (t, j["end"], "spark_exec")
        kids[parent].append((t, j["end"]))
    out = dict.fromkeys((*LAYERS, UNCOVERED), 0.0)
    for key, (s, e, layer) in nodes.items():
        out[layer] += (e - s) - _union(kids[key], s, e)
    return out
