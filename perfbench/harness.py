"""Shared machinery: Spark session, closed loop, percentiles, memory, run
facts and the per-layer split of a traced loop."""

from __future__ import annotations

import bisect
import json
import math
import os
import platform
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from typing import NamedTuple

from tracing import LAYERS, UNCOVERED, attribute_jobs, op_self_times

# -- metric catalogue (BENCHMARK.json mirrors these; a test keeps them equal) --

END_TO_END = (
    # name, unit, better, bound; "ref" = the reference probe's time around
    # each op (see in_ref_units), so these do not move with machine drift
    ("setup_s", "s", "lower", 0.25),
    ("ops_per_ref", "1/ref", "higher", 0.25),
    ("key_op_p50_ref", "ref", "lower", 0.2),
    ("peak_rss_mb", "MB", "lower", 0.15),
)

PER_LAYER = (
    # name, unit, better — counts and times are per op of the traced loop
    ("op.wall_s", "s", "lower"),
    ("driver.uncovered_s", "s", "lower"),
    ("trace.split_ratio", "ratio", "higher"),
    ("trace.overhead_ratio", "ratio", "higher"),
    ("trackers.self_s", "s", "lower"),
    ("trackers.commit_calls", "count", "lower"),
    ("trackers.commit_s", "s", "lower"),
    ("trackers.resolve_calls", "count", "lower"),
    ("trackers.resolve_s", "s", "lower"),
    ("trackers.archive_calls", "count", "lower"),
    ("trackers.archive_s", "s", "lower"),
    ("trackers.commit_conflicts", "count", "lower"),
    ("trackers.fs_lists", "count", "lower"),
    ("trackers.fs_dirents", "count", "lower"),
    ("trackers.fs_reads", "count", "lower"),
    ("trackers.fs_read_bytes", "B", "lower"),
    ("trackers.fs_writes", "count", "lower"),
    ("trackers.fs_write_bytes", "B", "lower"),
    ("trackers.reads_per_resolve", "count", "lower"),
    ("trackers.dirents_per_resolve", "count", "lower"),
    ("trackers.log_bytes_per_commit", "B", "lower"),
    ("spark.metastore.self_s", "s", "lower"),
    ("spark.metastore.current_version_s", "s", "lower"),
    ("spark.metastore.update_s", "s", "lower"),
    ("spark.metastore.alter_ops", "count", "lower"),
    ("spark.writer.self_s", "s", "lower"),
    ("spark.writer.jobs", "count", "lower"),
    ("spark.writer.output_bytes", "B", "lower"),
    ("spark.writer.files_written", "count", "lower"),
    ("spark.reader.self_s", "s", "lower"),
    ("spark.reader.plan_s", "s", "lower"),
    ("spark.reader.exec_s", "s", "lower"),
    ("spark.reader.cdc_s", "s", "lower"),
    ("spark.reader.files_read", "count", "lower"),
    ("spark.reader.input_bytes", "B", "lower"),
    ("spark.vacuum.self_s", "s", "lower"),
    ("spark.vacuum.s", "s", "lower"),
    ("spark.vacuum.dirs_removed", "count", "higher"),
    ("spark.vacuum.bytes_reclaimed", "B", "higher"),
    ("operators.dedup_index.extend_self_s", "s", "lower"),
    ("operators.dedup_index.extend_jobs", "count", "lower"),
    ("operators.dedup_index.extend_tracker_s", "s", "lower"),
    ("operators.dedup.self_s", "s", "lower"),
    ("operators.dedup.candidate_pairs", "count", "lower"),
    ("operators.dedup.verified_pairs", "count", "higher"),
    ("operators.dedup.verify_yield", "ratio", "higher"),
    ("operators.dedup.verify_shuffle_bytes", "B", "lower"),
    ("spark_exec.self_s", "s", "lower"),
    ("spark_exec.jobs_per_op", "count", "lower"),
    ("spark_exec.stages_per_op", "count", "lower"),
    ("spark_exec.tasks_per_op", "count", "lower"),
    ("spark_exec.job_wall_s", "s", "lower"),
    ("spark_exec.executor_run_s", "s", "lower"),
    ("spark_exec.shuffle_read_bytes", "B", "lower"),
    ("spark_exec.shuffle_write_bytes", "B", "lower"),
    ("spark_exec.input_bytes", "B", "lower"),
    ("spark_exec.output_bytes", "B", "lower"),
    ("spark_exec.failed_tasks", "count", "lower"),
    ("py4j.calls_per_op", "count", "lower"),
    ("py4j.s_outside_jobs", "s", "lower"),
)
UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}

# layer → metric that reports its self time
SELF_METRIC = {
    "spark_exec": "spark_exec.self_s",
    "py4j": "py4j.s_outside_jobs",
    "trackers": "trackers.self_s",
    "spark.metastore": "spark.metastore.self_s",
    "operators.dedup_index": "operators.dedup_index.extend_self_s",
    "operators.dedup": "operators.dedup.self_s",
    "spark.writer": "spark.writer.self_s",
    "spark.reader": "spark.reader.self_s",
    "spark.vacuum": "spark.vacuum.self_s",
    UNCOVERED: "driver.uncovered_s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- percentiles ------------------------------------------------------------------

TAIL_PERCENTILES = (99.9, 99, 90)


def nearest_rank(sorted_vals, p: float):
    """Nearest-rank percentile of an ascending list."""
    k = max(1, math.ceil(p / 100.0 * len(sorted_vals)))
    return sorted_vals[k - 1]


def beyond(n: int, p: float) -> int:
    """Samples ranked strictly above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def supported(n: int, p: float) -> bool:
    """A median needs one sample; a tail percentile needs at least ten
    samples beyond it, else the run cannot support it."""
    return n >= 1 if p == 50 else beyond(n, p) >= 10


def summarize(samples) -> dict:
    """Sample count, median and the highest tail percentile with at least
    ten samples beyond it (None when even p90 is unsupported)."""
    vals = sorted(samples)
    n = len(vals)
    out = {"n": n, "p50": median(vals), "tail": None, "tail_value": None}
    for p in TAIL_PERCENTILES:
        if supported(n, p):
            out["tail"], out["tail_value"] = p, nearest_rank(vals, p)
            break
    return out


def median(vals):
    vals = sorted(vals)
    n = len(vals)
    if not n:
        return None
    mid = n // 2
    return vals[mid] if n % 2 else (vals[mid - 1] + vals[mid]) / 2


# -- Spark ------------------------------------------------------------------------


def spark_session(work: str, event_log_dir: "str | None" = None):
    """``local[nproc]`` session whose scratch, warehouse and temp files stay
    under ``work``.  Returns ``(spark, seconds_to_start)``."""
    t0 = time.perf_counter()
    from pyspark.sql import SparkSession

    n = nproc()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # PySpark's launcher puts its connection file in the temp directory
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("chronicles-perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                # a fixed-size young generation under the parallel collector
                # makes the JVM's peak RSS repeat from run to run
                f"-XX:+UseParallelGC -Xmn256m -Djava.io.tmpdir={tmp} "
                "-XX:-UsePerfData")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> "int | None":
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def _tree(pid: int) -> list:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(extra_root: "int | None") -> float:
    """Peak resident set (VmHWM) of this process plus the process tree of
    the JVM, in MiB."""
    kb = _hwm_kb(os.getpid())
    if extra_root:
        kb += sum(_hwm_kb(p) for p in _tree(extra_root))
    return kb / 1024.0


# -- run facts --------------------------------------------------------------------


def git_head(root: str) -> "str | None":
    """HEAD commit when ``root`` is a git work tree, else None.  Git is not
    let to look above ``root``, so a checkout inside another repository does
    not report that repository's HEAD."""
    env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(root)}
    try:
        proc = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, env=env,
                              capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.SubprocessError):
        return None
    return proc.stdout.strip() if proc.returncode == 0 else None


def facts(root: str, seed: int, spark) -> dict:
    import pyspark

    n = nproc()
    return {
        "seed": seed,
        "nproc": n,
        "master": f"local[{n}]" if spark is not None else None,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": (spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
                 if spark is not None else None),
        "git_head": git_head(root),
    }


# -- closed loop ------------------------------------------------------------------


class Op(NamedTuple):
    kind: str
    args: tuple = ()
    # the loop may stop only after an op that ends a cycle, so every run
    # holds whole cycles and the op mix does not depend on where time ran out
    boundary: bool = True


class Record(NamedTuple):
    kind: str
    seconds: float
    ok: bool


def run_loop(wl, ops, *, seconds: "float | None" = None,
             n_ops: "int | None" = None, tracer=None, first_id: int = 0,
             probes: "list | None" = None):
    """One client, closed loop: each op starts when the previous op and its
    output check are done.  Stops at the first cycle boundary after
    ``seconds`` of loop time or ``n_ops`` ops.  Only the op itself is timed;
    its output check is not.  An op that raises counts as failed.  With
    ``probes``, a reference probe runs before the loop and after every
    ``wl.probe_every`` ops, and its times are appended there."""
    records: list[Record] = []
    if probes is not None:
        for _ in range(PROBE_WARMUP):  # the probe's own Spark jobs warm up too
            reference_probe(wl.ctx)
        probes.append(reference_probe(wl.ctx))
    t_start = time.perf_counter()
    for i, op in enumerate(ops, start=first_id):
        result = None
        wl.prepare(op)
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.op(i, op.kind):
                    result = wl.execute(op)
            else:
                result = wl.execute(op)
            dt = time.perf_counter() - t0
            ok = bool(wl.check(op, result))
        except Exception:  # a failed op is a measured outcome, not a crash
            dt = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            print(f"[perfbench] op {i} {op.kind}{op.args!r} failed its check",
                  file=sys.stderr)
        records.append(Record(op.kind, dt, ok))
        if probes is not None and len(records) % wl.probe_every == 0:
            probes.append(reference_probe(wl.ctx))
        if tracer is not None:
            wl.after_traced_op(op, result if ok else None)
        if op.boundary:
            if n_ops is not None and len(records) >= n_ops:
                break
            if (seconds is not None and len(records) >= wl.min_ops
                    and time.perf_counter() - t_start >= seconds):
                break
    return records


PROBE_WARMUP = 3
_PROBE_DOC = [{"partition": f"p={i:04d}", "version": f"20240101-000000.{i:09d}",
               "op": "add-partition-version"} for i in range(1000)]


def reference_probe(ctx) -> dict:
    """Wall seconds of fixed reference work that runs no library code, by
    part: ``json`` (round trips of a commit-log-like document) and, with a
    JVM, ``spark`` (three small Spark jobs).  Timing metrics divided by the
    parts a workload leans on are in units of this machine's current speed,
    which cancels the machine's drift between runs."""
    t0 = time.perf_counter()
    for _ in range(3):
        json.loads(json.dumps(_PROBE_DOC))
    out = {"json": time.perf_counter() - t0}
    if ctx.spark is not None:
        t0 = time.perf_counter()
        for _ in range(3):
            ctx.spark.range(0, 1_000_000, 1, nproc()).selectExpr("sum(hash(id))").collect()
        out["spark"] = time.perf_counter() - t0
    return out


def setup_seconds(wall_s: float, probes, parts, ref_s: "float | None") -> float:
    """Set-up wall time in units of the run's median probe (summed
    ``parts``), times ``ref_s``: set-up seconds on a machine whose probe
    takes ``ref_s``.  The wall time itself when ``ref_s`` is None or there
    are no probes (a traced run)."""
    if ref_s is None or not probes:
        return wall_s
    return wall_s * ref_s / median([sum(p[k] for k in parts) for p in probes])


def in_ref_units(records, probes, parts, every: int) -> list:
    """Each op's seconds divided by the mean of the probes taken just before
    and just after it (summed ``parts``): the op's time in units of the
    machine's speed at that moment.  Probe 0 runs before the loop and probe
    k after op ``k * every``, as :func:`run_loop` takes them."""
    ref = [sum(p[k] for k in parts) for p in probes]
    out = []
    for j, r in enumerate(records):
        a = j // every
        b = min(a + 1, len(ref) - 1)
        out.append(r.seconds / ((ref[a] + ref[b]) / 2))
    return out


def ops_per_s(records) -> float:
    """Completed ops per second of op time (output checks excluded)."""
    return len(records) / sum(r.seconds for r in records)


def by_kind(records) -> dict:
    """Latency samples per op kind; a failed op counts as missing every
    latency limit (infinite)."""
    out = defaultdict(list)
    for r in records:
        out[r.kind].append(r.seconds if r.ok else math.inf)
    return out


# -- per-layer split of a traced loop -------------------------------------------


def layer_metrics(tracer, py4j_calls, jobs, overhead_ratio: float) -> dict:
    """Per-op layer metrics from the traced loop's spans, counters, py4j
    calls and event-log jobs.  Every count and time is divided by the
    number of ops.  Self times are taken over each op's call tree (see
    :func:`tracing.op_self_times`); ``trace.split_ratio`` is their sum,
    ``driver.uncovered_s`` included, over the op wall time, and is 1 only
    when the tree's intervals nest without overlap."""
    spans = [s for s in tracer.spans if s["op"] is not None]  # checks excluded
    ops = [s for s in spans if s["name"].startswith("op.")]
    n = max(1, len(ops))
    c = tracer.counters

    by_op = defaultdict(list)
    for s in spans:
        if not s["name"].startswith("op."):
            by_op[s["op"]].append(s)
    op_jobs, stray = attribute_jobs(jobs, [(s["op"], s["start"], s["end"]) for s in ops])
    py4j_calls = sorted(py4j_calls)
    starts = [a for a, *_ in py4j_calls]

    excl = dict.fromkeys((*LAYERS, UNCOVERED), 0.0)
    extend_tracker_s = 0.0
    py4j_in_ops = 0
    wall = 0.0
    for s in ops:
        lo = bisect.bisect_left(starts, s["start"])
        hi = bisect.bisect_right(starts, s["end"])
        py4j_in_ops += hi - lo
        part = op_self_times(s, by_op[s["op"]], py4j_calls[lo:hi],
                             op_jobs.get(s["op"], []))
        for k, v in part.items():
            excl[k] += v
        if s["name"] == "op.extend":
            extend_tracker_s += part["trackers"]
        wall += s["end"] - s["start"]

    def jobs_in(prefix):
        win = [(s["id"], s["start"], s["end"]) for s in spans
               if s["name"] == prefix or s["name"].startswith(prefix + ".")]
        hit, _ = attribute_jobs(jobs, win)
        return [j for js in hit.values() for j in js]

    def span_s(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def per_call(num_key, calls_key):
        calls = c.get(calls_key, 0)
        return c.get(num_key, 0) / calls if calls else 0.0

    attributed = [j for js in op_jobs.values() for j in js]
    writer_jobs = jobs_in("spark.writer")
    verify_jobs = jobs_in("operators.dedup.verify")
    cand, verified = c.get("operators.dedup.candidate_pairs", 0), c.get("operators.dedup.verified_pairs", 0)

    m = {SELF_METRIC[k]: v / n for k, v in excl.items()}
    m.update({
        "op.wall_s": wall / n,
        "trace.split_ratio": sum(excl.values()) / wall if wall else 0.0,
        "trace.overhead_ratio": overhead_ratio,
        "trackers.reads_per_resolve": per_call("trackers.fs_reads@resolve", "trackers.resolve_calls"),
        "trackers.dirents_per_resolve": per_call("trackers.fs_dirents@resolve", "trackers.resolve_calls"),
        "trackers.log_bytes_per_commit": per_call("trackers.fs_write_bytes@commit", "trackers.commit_calls"),
        "spark.writer.jobs": len(writer_jobs) / n,
        "spark.writer.output_bytes": sum(j["output_bytes"] for j in writer_jobs) / n,
        "spark.reader.plan_s": span_s("spark.reader.plan") / n,
        "spark.reader.exec_s": span_s("spark.reader.exec") / n,
        "spark.reader.cdc_s": span_s("spark.reader.cdc") / n,
        "spark.reader.input_bytes": sum(j["input_bytes"] for j in jobs_in("spark.reader")) / n,
        "spark.vacuum.s": span_s("spark.vacuum") / n,
        "operators.dedup_index.extend_jobs": len(jobs_in("operators.dedup_index")) / n,
        "operators.dedup_index.extend_tracker_s": extend_tracker_s / n,
        "operators.dedup.verify_yield": verified / cand if cand else 0.0,
        "operators.dedup.verify_shuffle_bytes": sum(
            j["shuffle_read_bytes"] + j["shuffle_write_bytes"] for j in verify_jobs) / n,
        "spark_exec.jobs_per_op": len(attributed) / n,
        "py4j.calls_per_op": py4j_in_ops / n,
    })
    for key in ("n_stages", "tasks", "executor_run_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "input_bytes", "output_bytes", "failed_tasks"):
        name = {"n_stages": "spark_exec.stages_per_op",
                "tasks": "spark_exec.tasks_per_op"}.get(key, f"spark_exec.{key}")
        m[name] = sum(j[key] for j in attributed) / n
    m["spark_exec.job_wall_s"] = sum(j["end"] - j["start"] for j in attributed) / n
    for name, *_ in PER_LAYER:
        if name not in m:
            m[name] = c.get(name, 0) / n
    # jobs that started while the loop ran but inside no op window
    lo = min((s["start"] for s in ops), default=0.0)
    hi = max((s["end"] for s in ops), default=0.0)
    stray = [j for j in stray if lo <= j["start"] <= hi]
    extra = {"ops": len(ops), "unattributed_jobs": len(stray),
             "total_jobs": len(jobs), "layer_self_s_total": excl}
    return m, extra


# -- workload plumbing ------------------------------------------------------------


class Ctx:
    """What a workload gets: its seed, a private work directory, the Spark
    session (None for a metadata-only workload) and the tracer (None when
    untraced).  Library objects come from here so a traced run gets the
    instrumented subclasses through the same public constructor arguments."""

    def __init__(self, seed: int, work: str, spark=None, tracer=None):
        self.seed = seed
        self.work = work
        self.spark = spark
        self.tracer = tracer

    def tracker(self, root: str):
        from chronicles_spark.trackers import FileBackedVersionTracker

        if self.tracer is None:
            return FileBackedVersionTracker(root)
        from tracing import CountingFileSystem, TracedTracker

        return TracedTracker(root, self.tracer, fs=CountingFileSystem(self.tracer))

    def metastore(self):
        if self.tracer is None:
            from chronicles_spark.spark.metastore import InMemoryMetastore

            return InMemoryMetastore()
        from tracing import TracedMetastore

        return TracedMetastore(self.tracer)

    def span(self, name: str):
        """A layer span around a call into the library (a no-op untraced)."""
        if self.tracer is None:
            import contextlib

            return contextlib.nullcontext()
        return self.tracer.span(name)

    def count(self, name: str, n: float = 1) -> None:
        if self.tracer is not None:
            self.tracer.count(name, n)


class Workload:
    """Interface of a workload; see the modules ``wl_*.py``."""

    name = ""
    why = ""
    key_op = ""
    needs_spark = True
    trace_ops = 0  # ops in the traced loop (whole cycles)
    probe_every = 1  # ops between reference probes
    probe_parts = ("json", "spark")  # probe parts the ops lean on
    # median probe (summed probe_parts) on a 4-vCPU x86-64 VM at its quiet
    # speed; setup_s is set-up time scaled to a machine this fast, or the
    # wall time when None
    probe_ref_s: "float | None" = 0.15
    min_ops = 1  # fewest ops a timed run measures, however short --seconds is

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def setup(self) -> dict:
        """Build the workload's state; returns named setup durations (s)."""
        raise NotImplementedError

    def schedule(self):
        """The seeded op sequence: a pure function of the seed."""
        raise NotImplementedError

    def prepare(self, op: Op) -> None:
        """Untimed input staging before ``execute`` (e.g. writing a batch
        file the op then reads)."""

    def execute(self, op: Op):
        raise NotImplementedError

    def check(self, op: Op, result) -> bool:
        raise NotImplementedError

    def after_traced_op(self, op: Op, result) -> None:
        """Untimed bookkeeping after a traced op (counts the event log and
        spans cannot give)."""

    def untrace(self) -> None:
        """Turn long-lived instrumented objects back into plain ones."""

    def sizes(self) -> dict:
        return {}

    def details(self, records) -> tuple[dict, dict]:
        """Workload-specific figures beyond the gated set, and the ones the
        run could not support (see :func:`latency_details`)."""
        return {}, {}


def latency_details(records, spec) -> tuple[dict, dict]:
    """Named per-op-type latency figures.  ``spec`` rows are ``(name, kind,
    percentile, unit)``; a row whose percentile the run cannot support, or
    whose op kind did not run, is returned under ``dropped`` with the
    reason instead of a value."""
    samples = by_kind(records)
    scale = {"s": 1.0, "ms": 1000.0}
    out, dropped = {}, {}
    for name, kind, p, unit in spec:
        vals = sorted(samples.get(kind, ()))
        if not supported(len(vals), p):
            dropped[name] = (f"{len(vals)} {kind} samples; p{p:g} needs "
                             f"{'1' if p == 50 else 'at least 10 beyond it'}")
            continue
        v = median(vals) if p == 50 else nearest_rank(vals, p)
        out[name] = {"value": v * scale[unit] if math.isfinite(v) else None,
                     "unit": unit, "n": len(vals)}
    return out, dropped
