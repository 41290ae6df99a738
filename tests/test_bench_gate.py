"""Pin the bench regression gate's host-factor logic (no Spark).

Round-9 verdict task 3: the old gate normalized by the suite-median
ratio — computed from the engine under test — so an engine-wide
uniform slowdown (a session-config regression, a default wired into
every reader) would be normalized away. The factor now derives from
the engine-INDEPENDENT calibration probe, and a suite that runs
slower than the probe predicts trips `engine_drift_alarm`.
"""

import importlib.util
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(_ROOT, "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
# bench.py imports the session module at import time but creates no
# SparkSession until main(); loading it here is cheap and side-effect
# free.
sys.modules.setdefault("bench", bench)
_spec.loader.exec_module(bench)

compute_host_factor = bench.compute_host_factor


def _suite(ratio, n=50):
    return [ratio] * n


def test_pure_host_drift_normalizes_without_alarm():
    # host 25% slower: probe AND suite both at 1.25 — factor follows
    # the probe, no alarm
    f, med, alarm = compute_host_factor([1.25, 1.25], _suite(1.25))
    assert f == 1.25
    assert med == 1.25
    assert not alarm


def test_engine_wide_regression_trips_alarm_not_factor():
    # host is FINE (probe 1.0) but every query runs 25% over floor:
    # the excess is in the engine — the factor must NOT absorb it
    # (stays 1.0) and the alarm must trip
    f, med, alarm = compute_host_factor([1.0, 1.0], _suite(1.25))
    assert f == 1.0
    assert alarm


def test_engine_faster_than_probe_is_not_an_alarm():
    f, med, alarm = compute_host_factor([1.2, 1.2], _suite(1.0))
    assert f == 1.2  # gate still relaxes with the host
    assert not alarm


def test_disagreement_tolerance_boundary():
    # within tolerance vs clearly above (boundaries kept off exact
    # float edges). 0.15 tolerance budgets the min-of-3 floor bias:
    # a healthy run's median sits ~1.05-1.10 over fresh floors while
    # the low-variance probe sits ~1.0 — that gap must NOT alarm.
    _, _, ok = compute_host_factor([1.0], _suite(1.12))
    _, _, bad = compute_host_factor([1.0], _suite(1.17))
    assert not ok
    assert bad


def test_probe_factor_clamped():
    f, _, _ = compute_host_factor([2.0, 2.0], _suite(2.0))
    assert f == 1.4
    f, _, _ = compute_host_factor([0.7, 0.7], _suite(0.7))
    assert f == 1.0


def test_one_sided_probe_transient_does_not_widen_gate():
    # a transient slow window catching only the BEFORE probe (2.7x)
    # while the AFTER probe shows a fast host must not rail the factor
    # to the clamp — min of the bracketing probes, not the mean
    f, _, alarm = compute_host_factor([2.7, 0.95], _suite(1.04))
    assert f == 1.0
    assert not alarm
    # genuinely slow host shows at BOTH ends — factor follows it
    f, _, _ = compute_host_factor([1.3, 1.25], _suite(1.25))
    assert f == 1.25


def test_legacy_fallback_without_probe_floor():
    # no committed probe floor yet: suite-median behavior, no alarm
    f, med, alarm = compute_host_factor([], _suite(1.2))
    assert f == 1.2
    assert med == 1.2
    assert not alarm
    # tiny suites (< 20 budgeted queries) don't normalize at all
    f, med, alarm = compute_host_factor([], _suite(1.3, n=5))
    assert f == 1.0
    assert med is None
    assert not alarm


def test_probe_ratios_take_min_of_bracketing_runs():
    # before=1.1, after=1.3 -> factor is the MIN (the host's
    # demonstrated best; see test_one_sided_probe_transient)
    f, _, _ = compute_host_factor([1.1, 1.3], _suite(1.2))
    assert abs(f - 1.1) < 1e-12


def test_default_cpus_follow_the_host(monkeypatch):
    """With SPARK_GRAFT_CPUS unset the session (and so the bench) runs
    local[<host cores>]; the variable still overrides it."""
    import importlib

    from batch_processing_on_aws_spark import session

    try:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        assert importlib.reload(session).DEFAULT_CPUS == os.cpu_count()
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
        assert importlib.reload(session).DEFAULT_CPUS == 3
    finally:
        monkeypatch.undo()
        importlib.reload(session)


def test_clear_scratch_spares_live_processes(tmp_path, monkeypatch):
    """clear_scratch removes dead processes' per-PID roots and
    content-keyed roots, leaves a live process's per-PID root alone,
    and counts only what it removed."""
    import subprocess
    import tempfile

    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    live_root = tmp_path / f"spark_graft_vtab_sf0_01_{os.getpid()}"
    dead_root = tmp_path / f"spark_graft_vtab_sf0_01_{dead.pid}"
    keyed_root = tmp_path / "spark_graft_qstream_vt_0123456789abcdef"
    for root in (live_root, dead_root, keyed_root):
        (root / "t").mkdir(parents=True)
    assert bench.clear_scratch() == 2
    assert live_root.exists()
    assert not dead_root.exists() and not keyed_root.exists()
