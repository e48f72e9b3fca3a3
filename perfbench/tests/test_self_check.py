"""Output checks feed error_rate: a clean run has none, a planted wrong
expected value is caught.  The traced split adds up to the op wall time."""

import pytest

import harness as H
import tracing as T
import wl_deep_log
from wl_deep_log import DeepLog


@pytest.fixture(autouse=True)
def small_log(monkeypatch):
    monkeypatch.setattr(wl_deep_log, "N_COMMITS", 400)
    monkeypatch.setattr(wl_deep_log, "N_PARTS", 40)


def _wl(tmp_path, tracer=None):
    wl = DeepLog(H.Ctx(3, str(tmp_path), tracer=tracer))
    wl.setup()
    return wl


def test_clean_run_has_no_failures(tmp_path):
    wl = _wl(tmp_path)
    recs = H.run_loop(wl, wl.schedule(), n_ops=60)
    assert len(recs) == 60 and all(r.ok for r in recs)


def test_planted_wrong_value_raises_error_rate(tmp_path):
    wl = _wl(tmp_path)
    # one wrong label in the model's head state: the next resolve, CDC poll
    # or checkout comparing against head must fail
    victim = next(iter(wl.head_state))
    wl.head_state[victim] = "20240101-000000.000000000-00000000-0000-0000-0000-000000000000"
    recs = H.run_loop(wl, wl.schedule(), n_ops=40)
    failed = sum(not r.ok for r in recs)
    assert failed / len(recs) > 0


def test_traced_split_sums_to_wall_and_no_spark_jobs(tmp_path):
    tracer = T.Tracer()
    wl = _wl(tmp_path, tracer)
    tracer.reset()
    recs = H.run_loop(wl, wl.schedule(), n_ops=40, tracer=tracer)
    assert all(r.ok for r in recs)
    m, extra = H.layer_metrics(tracer, [], [], overhead_ratio=1.0)
    parts = sum(m[name] for name in H.SELF_METRIC.values())
    assert abs(parts - m["op.wall_s"]) <= 0.1 * m["op.wall_s"]
    assert m["spark_exec.jobs_per_op"] == 0
    assert m["trackers.resolve_calls"] > 0 and m["trackers.fs_reads"] > 0
    assert extra["ops"] == 40
    assert {name for name, *_ in H.PER_LAYER} == set(m)
