"""Rep-spread contamination gate of bench.py (VERDICT r9 #4).

The r9 driver window shipped ml_seqnet_served_confusion with rep
spread [2.87, 27.31] — one 9.5× polluted rep — yet n_contaminated: 0,
because gating was load-average-only.  These tests pin the pure gate
functions (no Spark session needed): one polluted rep must trigger a
flagged re-run, and only PERSISTENT interference marks the query
contaminated.
"""

from __future__ import annotations

import importlib.util
import statistics
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
bench = importlib.util.module_from_spec(spec)
sys.modules.setdefault("bench", bench)
spec.loader.exec_module(bench)


def test_uniform_reps_do_not_trip_the_gate():
    assert not bench.spread_contaminated([2.0, 2.1, 2.3])


def test_one_polluted_rep_trips_the_gate():
    # the r9 shape: two clean reps + one 9.5x ambient-noise rep
    assert bench.spread_contaminated([2.87, 3.1, 27.31])


def test_gate_needs_multiple_reps_and_positive_floor():
    assert not bench.spread_contaminated([27.31])  # single rep: no spread
    assert not bench.spread_contaminated([0.0, 5.0])  # zero floor guarded


def test_polluted_rep_triggers_one_full_rerun_batch():
    # fake timer: first batch has the outlier, the re-run batch is clean
    seq = iter([2.0, 27.0, 2.1, 2.0, 2.2, 2.1])
    calls = []

    def run_once():
        v = next(seq)
        calls.append(v)
        return v

    runs, reran = bench.measure_reps(run_once, reps=3)
    assert reran
    assert len(runs) == 6  # 3 original + 3 re-run reps
    # the median over the combined sample is dominated by clean reps
    import statistics

    assert statistics.median(runs) < 3.0


def test_clean_batch_runs_exactly_reps_times():
    seq = iter([2.0, 2.1, 2.2])
    runs, reran = bench.measure_reps(lambda: next(seq), reps=3)
    assert not reran
    assert runs == [2.0, 2.1, 2.2]


def test_persistent_noise_is_detectable_in_the_rerun_batch():
    # bench.py marks a query contaminated only when the FRESH batch is
    # itself spread-polluted (runs[reps:]) — ongoing interference, not
    # a one-rep blip
    reps = 3
    one_blip = [2.0, 27.0, 2.1] + [2.0, 2.2, 2.1]
    ongoing = [2.0, 27.0, 2.1] + [2.0, 19.0, 2.1]
    assert not bench.spread_contaminated(one_blip[reps:])
    assert bench.spread_contaminated(ongoing[reps:])


def test_cpu_probe_returns_positive_ms():
    ms = bench.cpu_probe_ms(10_000)
    assert ms > 0.0


def test_probe_flag_requires_every_rep_slow():
    # one slow rep among fast ones: the median rep is host-clean, so
    # the query is NOT flagged (the spread gate handles single bursts)
    assert not bench.probe_flagged([10.0, 45.0, 11.0], baseline_ms=10.0)
    # every rep slow: even the median is host-inflated -> flagged
    assert bench.probe_flagged([25.0, 45.0, 30.0], baseline_ms=10.0)


def test_probe_flag_guards_degenerate_inputs():
    assert not bench.probe_flagged([], baseline_ms=10.0)
    assert not bench.probe_flagged([25.0], baseline_ms=0.0)


def test_probe_flag_simulated_interference_window():
    # synthetic-noise shape: a 3x-slowed host for a whole query's reps
    baseline = 12.0
    slowed = [baseline * 3.1, baseline * 2.8, baseline * 3.4]
    clean = [baseline * 1.1, baseline * 0.95, baseline * 1.2]
    assert bench.probe_flagged(slowed, baseline)
    assert not bench.probe_flagged(clean, baseline)


# --- r11: the probe GATES (VERDICT r10 #2) -------------------------------


def test_probe_gate_synthetic_slowed_host_trips_and_recovers():
    """Synthetic slowed host for the original batch, recovered fresh
    batch: the gate must trip (re-run), but the query must NOT be
    contaminated — the median now rides on clean reps."""
    baseline, reps = 12.0, 3
    slowed_batch = [36.0, 34.0, 40.0]
    clean_batch = [12.5, 11.8, 13.0]
    assert bench.probe_flagged(slowed_batch, baseline)  # trips -> re-run
    assert not bench.probe_contaminated(slowed_batch + clean_batch, baseline, reps)


def test_probe_gate_persistent_interference_contaminates():
    """Slowed through BOTH batches: ongoing interference — the query
    joins `contaminated` (mirror of the spread gate's rule)."""
    baseline, reps = 12.0, 3
    both_slow = [36.0, 34.0, 40.0, 30.0, 33.0, 29.0]
    assert bench.probe_contaminated(both_slow, baseline, reps)


def test_probe_gate_clean_window_stays_at_zero():
    """Clean-window shapes from the two committed r10 windows: the
    worst observed min-ratio was 1.30x baseline, single-rep spikes to
    2.7x. Neither trips the gate (min over the batch is clean)."""
    baseline, reps = 12.0, 3
    worst_clean = [15.6, 13.1, 12.2]  # min-ratio ~1.02
    one_spike = [12.1, 32.4, 12.6]  # a 2.7x single-rep burst
    assert not bench.probe_flagged(worst_clean, baseline)
    assert not bench.probe_flagged(one_spike, baseline)
    assert not bench.probe_contaminated(worst_clean, baseline, reps)
    assert not bench.probe_contaminated(one_spike, baseline, reps)


def test_probe_gate_unrerun_flag_stands():
    """No fresh batch recorded (defensive path): the original flag
    stands so a flagged query can never silently pass."""
    assert bench.probe_contaminated([36.0, 34.0, 40.0], 12.0, reps=3)


def test_probe_gated_median_is_taken_over_the_fresh_batch_only():
    """Every original rep ran on a slowed host: mixing those reps into
    the median would keep it host-inflated even though the fresh batch
    is clean."""
    baseline, reps = 12.0, 3
    probes = [36.0, 34.0, 40.0, 12.5, 11.8, 13.0]
    runs = [9.0, 9.5, 10.0, 3.0, 3.1, 3.2]
    tripped, fresh_batch = bench.probe_gate(probes[:reps], baseline, reps, False)
    assert tripped and fresh_batch
    assert statistics.median(bench.median_sample(runs, reps, tripped)) == 3.1
    # an untripped query keeps the median over every rep
    assert bench.median_sample(runs, reps, False) == runs


def test_probe_rerun_recorded_when_the_spread_gate_already_reran():
    """The spread gate supplied the fresh batch: no third batch runs,
    but the query still counts as probe-tripped (probe_reruns)."""
    baseline, reps = 12.0, 3
    probes = [36.0, 34.0, 40.0, 12.5, 11.8, 13.0]
    tripped, fresh_batch = bench.probe_gate(probes, baseline, reps, True)
    assert tripped and not fresh_batch
    assert not bench.probe_gate([12.1, 32.4, 12.6], baseline, reps, True)[0]
