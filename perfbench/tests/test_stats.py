"""The percentile rule: a median is always reported; a tail percentile only
when at least ten samples lie beyond it, else the metric is dropped."""

import math

import harness as H


def test_nearest_rank():
    vals = list(range(1, 101))
    assert H.nearest_rank(vals, 50) == 50
    assert H.nearest_rank(vals, 90) == 90
    assert H.nearest_rank(vals, 99) == 99
    assert H.nearest_rank([7], 99) == 7


def test_beyond_and_supported():
    assert H.beyond(100, 90) == 10
    assert H.supported(100, 90)
    assert not H.supported(99, 90)
    assert H.supported(1000, 99) and not H.supported(999, 99)
    assert H.supported(1, 50) and not H.supported(0, 50)


def test_summarize_picks_highest_supported_tail():
    s = H.summarize(range(1000))
    assert s["n"] == 1000 and s["tail"] == 99
    s = H.summarize(range(150))
    assert s["tail"] == 90 and s["tail_value"] == H.nearest_rank(list(range(150)), 90)
    s = H.summarize(range(50))
    assert s["tail"] is None and s["p50"] is not None


def test_unsupported_metric_is_dropped_not_reported():
    recs = [H.Record("write", 0.1 * (i + 1), True) for i in range(20)]
    out, dropped = H.latency_details(recs, (
        ("write_p50_s", "write", 50, "s"),
        ("write_p90_s", "write", 90, "s"),
        ("read_p50_s", "read", 50, "s"),
    ))
    assert "write_p50_s" in out and out["write_p50_s"]["n"] == 20
    assert math.isclose(out["write_p50_s"]["value"], 1.05)
    assert "write_p90_s" in dropped and "write_p90_s" not in out
    assert "read_p50_s" in dropped


def test_failed_op_misses_every_latency_limit():
    recs = [H.Record("write", 0.1, True)] * 15 + [H.Record("write", 0.1, False)] * 10
    samples = H.by_kind(recs)["write"]
    assert sum(math.isinf(v) for v in samples) == 10


def test_reference_units_use_the_probes_around_each_op():
    # probe 0 before the loop, probe k after op k*every (every = 2 here)
    probes = [{"json": 1.0, "spark": 1.0}, {"json": 2.0, "spark": 2.0},
              {"json": 3.0, "spark": 3.0}]
    recs = [H.Record("a", 3.0, True), H.Record("a", 3.0, True),
            H.Record("a", 5.0, True), H.Record("a", 5.0, True),
            H.Record("a", 6.0, True)]
    got = H.in_ref_units(recs, probes, ("json", "spark"), 2)
    # ops 0-1 sit between probes 0 and 1 (mean 3), ops 2-3 between 1 and 2
    # (mean 5); op 4 has no later probe and uses probe 2 twice (6)
    assert got == [1.0, 1.0, 1.0, 1.0, 1.0]
    assert H.in_ref_units(recs[:1], probes[:1], ("json",), 2) == [3.0]


def test_setup_seconds_divide_by_the_run_median_probe():
    probes = [{"json": 0.1, "spark": 0.1}, {"json": 0.2, "spark": 0.2},
              {"json": 0.5, "spark": 0.5}]
    # median probe 0.4 s: twice as slow as a 0.2 s reference machine
    assert H.setup_seconds(10.0, probes, ("json", "spark"), 0.2) == 5.0
    assert H.setup_seconds(10.0, probes, ("json",), 0.2) == 10.0
    assert H.setup_seconds(10.0, [], ("json",), 0.2) == 10.0
    assert H.setup_seconds(10.0, probes, ("json",), None) == 10.0
