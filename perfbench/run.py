"""Chronicles benchmark: closed-loop workloads with end-to-end metrics and a
traced per-layer split.

    python3 perfbench/run.py --workload {ingest,deep_log,dedup_extend,all} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics untraced (``--trace 0``) or the per-layer metrics (``--trace 1``).
The full result (run facts, workload sizes, every named latency, dropped
percentiles, span file) is written to ``perfbench/.out/``; ``--workload
all`` runs every workload and prints every metric by name with its unit.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("ingest", "deep_log", "dedup_extend")


def _workload_class(name: str):
    if name == "ingest":
        from wl_ingest import Ingest as cls
    elif name == "deep_log":
        from wl_deep_log import DeepLog as cls
    else:
        from wl_dedup_extend import DedupExtend as cls
    return cls


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _event_log_jobs(directory: str) -> list:
    from tracing import parse_event_log

    jobs = []
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name)) as f:
            jobs.extend(parse_event_log(f))
    return jobs


def run_one(name: str, seed: int, seconds: float, trace: bool) -> dict:
    import harness as H
    from tracing import Py4jCounter, Tracer

    cls = _workload_class(name)
    work = os.path.join(WORK, f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    load_start = os.getloadavg()[0]
    tracer = Tracer() if trace else None
    spark, session_s = None, 0.0
    event_dir = os.path.join(work, "eventlog") if trace else None
    try:
        if cls.needs_spark:
            spark, session_s = H.spark_session(work, event_dir)
        ctx = H.Ctx(seed, work, spark, tracer)
        wl = cls(ctx)
        facts = {**H.facts(ROOT, seed, spark), "loadavg_1m_start": load_start}
        parts = wl.setup()
        setup_wall_s = session_s + sum(parts.values())
        ops = wl.schedule()
        extra_records, probes = [], []
        if trace:
            tracer.reset()
            py4j = Py4jCounter()
            py4j.install()
            try:
                records = H.run_loop(wl, ops, n_ops=wl.trace_ops, tracer=tracer)
            finally:
                py4j.uninstall()
            ctx.tracer = None
            wl.untrace()
            extra_records = H.run_loop(wl, ops, n_ops=wl.trace_ops,
                                       first_id=len(records))
        else:
            records = H.run_loop(wl, ops, seconds=seconds, probes=probes)
        peak = H.peak_rss_mb(H.jvm_pid(spark) if spark is not None else None)
        details, dropped = wl.details(records)
        sizes = wl.sizes()
    finally:
        if spark is not None:
            _stop_spark(spark)
        if trace:
            jobs = _event_log_jobs(event_dir) if os.path.isdir(event_dir) else []
        shutil.rmtree(work, ignore_errors=True)

    all_records = records + extra_records
    failed = sum(1 for r in all_records if not r.ok)
    key_s = H.median([r.seconds for r in records if r.kind == wl.key_op])
    e2e = {"setup_s": H.setup_seconds(setup_wall_s, probes, wl.probe_parts,
                                      wl.probe_ref_s)}
    if probes:
        ref = H.in_ref_units(records, probes, wl.probe_parts, wl.probe_every)
        e2e["ops_per_ref"] = len(ref) / sum(ref)
        e2e["key_op_p50_ref"] = H.median(
            [t for t, r in zip(ref, records) if r.kind == wl.key_op])
    e2e["peak_rss_mb"] = peak
    probe_s = [sum(p[k] for k in wl.probe_parts) for p in probes]
    raw = {"setup_wall_s": {"value": setup_wall_s, "unit": "s"},
           "ops_per_s": {"value": H.ops_per_s(records), "unit": "1/s"},
           "key_op_p50_ms": {"value": key_s * 1000.0, "unit": "ms"},
           "probe_p50_ms": {"value": H.median(probe_s) * 1000.0 if probes else None,
                            "unit": "ms", "n": len(probes)}}
    result = {
        "workload": name, "why": cls.why, "key_op": cls.key_op,
        "facts": {**facts, "loadavg_1m_end": os.getloadavg()[0]},
        "sizes": sizes, "setup_parts_s": {"session_s": session_s, **parts},
        "attempted": len(all_records), "failed": failed,
        "error_rate": failed / len(all_records),
        "end_to_end": e2e, "end_to_end_raw": raw,
        "latencies": details, "dropped": dropped,
        # per op kind: sample count, median and the highest tail percentile
        # with at least ten samples beyond it
        "by_kind": {k: H.summarize(v) for k, v in H.by_kind(records).items()},
        "op_seconds": [[r.kind, r.seconds, r.ok] for r in records],
        "probes": probes,
    }
    if trace:
        overhead = H.ops_per_s(records) / H.ops_per_s(extra_records)
        layers, extra = H.layer_metrics(tracer, py4j.calls, jobs, overhead)
        span_file = os.path.join(OUT, f"spans_{name}_seed{seed}.json")
        tracer.dump(span_file, {"workload": name, "seed": seed, "jobs": jobs,
                                "py4j_calls": py4j.calls,
                                "py4j_gc_calls": py4j.gc_calls})
        # the layer self-times and driver.uncovered_s add up to the op wall
        # time within 10% only when nothing in an op overlaps: work that
        # runs on several threads at once, or an interval outside its
        # parent, fails this check.  It judges the split, not the outputs,
        # so it is reported here and does not touch "correct"
        extra["split_ok"] = abs(layers["trace.split_ratio"] - 1.0) <= 0.10
        if not extra["split_ok"]:
            print(f"[perfbench] {name}: layer self-times sum to "
                  f"{layers['trace.split_ratio']:.3f} x op wall time, outside "
                  "1 +- 0.10 (work overlapping across threads, or an interval "
                  "outside its parent)", file=sys.stderr)
        result.update(per_layer=layers, trace=extra, span_file=span_file,
                      untraced_ops_per_s=H.ops_per_s(extra_records),
                      py4j_gc_calls=py4j.gc_calls)
    result_file = os.path.join(OUT, f"result_{name}_seed{seed}_trace{int(trace)}.json")
    with open(result_file, "w") as f:
        json.dump(result, f, indent=1, default=str)
    result["result_file"] = result_file
    return result


def _line(result: dict, trace: bool) -> str:
    import harness as H

    src = result["per_layer"] if trace else result["end_to_end"]
    return json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": H.UNITS[k]} for k, v in src.items()},
    })


def _report(result: dict, trace: bool, stream) -> None:
    import harness as H

    print(f"== {result['workload']}: {result['why']}", file=stream)
    print(f"   facts {json.dumps(result['facts'])}", file=stream)
    print(f"   sizes {json.dumps(result['sizes'])}", file=stream)
    print(f"   attempted {result['attempted']} failed {result['failed']} "
          f"error_rate {result['error_rate']:.4f} ratio", file=stream)
    for k, v in result["end_to_end"].items():
        print(f"   {k:<28} {v:14.4f} {H.UNITS[k]}", file=stream)
    for k, v in result["end_to_end_raw"].items():
        val = "-" if v["value"] is None else f"{v['value']:14.4f}"
        print(f"   {k:<28} {val} {v['unit']}  (raw wall clock)", file=stream)
    for k, v in result["latencies"].items():
        val = "failed" if v["value"] is None else f"{v['value']:14.4f}"
        print(f"   {k:<28} {val} {v['unit']}  (n={v['n']})", file=stream)
    for k, why in result["dropped"].items():
        print(f"   {k:<28} dropped: {why}", file=stream)
    if trace:
        for k, v in result["per_layer"].items():
            print(f"   {k:<40} {v:16.6f} {H.UNITS[k]}", file=stream)
        print(f"   trace {json.dumps(result['trace'], default=str)}", file=stream)
    print(f"   result file {result['result_file']}", file=stream)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import chronicles_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the chronicles_spark package from "
              f"{ROOT}: {e}", file=sys.stderr)
        return 2

    if args.workload == "all":
        ok = True
        for name in WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace)]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if proc.returncode != 0:
                print(f"{name}: exit code {proc.returncode}", file=sys.stderr)
                ok = False
                continue
            res_file = os.path.join(OUT, f"result_{name}_seed{args.seed}_trace{args.trace}.json")
            with open(res_file) as f:
                result = json.load(f)
            result["result_file"] = res_file
            _report(result, bool(args.trace), sys.stdout)
            ok = ok and result["failed"] == 0
        return 0 if ok else 1

    t0 = time.perf_counter()
    result = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    _report(result, bool(args.trace), sys.stderr)
    print(f"[perfbench] run took {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    print(_line(result, bool(args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
