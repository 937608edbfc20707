"""The bench host-load gate (r9 VERDICT item 2): a run started under
outside-VM contention must stamp its artifact non-comparable (or, in
require-quiet mode, refuse to start) — the r9 driver bench at loadavg
12.8 produced 12 uniform 3-6x false regression flags on sub-second
queries that were pure host noise."""

from __future__ import annotations

import os

import bench


def test_quiet_host_is_comparable(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LOADAVG_MAX", raising=False)
    load, comparable, threshold = bench.host_quiet_check([0.8, 1.2, 1.5])
    assert load == [0.8, 1.2, 1.5]
    assert comparable is True
    assert threshold == bench.LOADAVG_MAX_DEFAULT


def test_loaded_host_is_stamped_non_comparable(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LOADAVG_MAX", raising=False)
    load, comparable, _ = bench.host_quiet_check([7.4, 5.0, 3.0])
    assert comparable is False


def test_threshold_is_env_overridable(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOADAVG_MAX", "8.0")
    _, comparable, threshold = bench.host_quiet_check([7.4, 5.0, 3.0])
    assert threshold == 8.0
    assert comparable is True


def test_boundary_is_inclusive(monkeypatch):
    # exactly at the threshold still counts as quiet — the gate fires
    # on EXCEEDING it, matching the docstring
    monkeypatch.delenv("SPARK_GRAFT_LOADAVG_MAX", raising=False)
    _, comparable, _ = bench.host_quiet_check([2.0, 9.9, 9.9])
    assert comparable is True


def test_unmeasurable_load_yields_no_verdict(monkeypatch):
    def boom():  # pragma: no cover - trivial stub
        raise OSError("no loadavg on this platform")

    monkeypatch.delenv("SPARK_GRAFT_LOADAVG_MAX", raising=False)
    monkeypatch.setattr(os, "getloadavg", boom)
    load, comparable, _ = bench.host_quiet_check()
    assert load is None
    assert comparable is True  # absence of evidence is not contamination

def test_midrun_threshold_adds_own_work_allowance(monkeypatch):
    # mid-run, our own worker pool contributes to the 1-minute loadavg.
    # r11 ADVICE: the CPU-count default (32) only fired above ~34 and
    # missed the documented load-7-10 contention window. The default is
    # now the measured own-work ceiling + margin: quiet-run receipts
    # peaked at 16.0 (r11 open) and 19.53 (r11 close BENCH_DETAIL), so
    # 22 never false-flags a quiet run on record while catching
    # moderate outside load during our own parallel peaks.
    monkeypatch.delenv("SPARK_GRAFT_LOADAVG_OWN_WORK", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert bench.MIDRUN_OWN_WORK_DEFAULT > 19.53  # r11 close own-work peak
    assert bench.midrun_quiet_threshold(2.0) == 2.0 + bench.MIDRUN_OWN_WORK_DEFAULT
    monkeypatch.setenv("SPARK_GRAFT_LOADAVG_OWN_WORK", "4.0")
    assert bench.midrun_quiet_threshold(2.0) == 6.0


def test_end_threshold_adds_decay_allowance(monkeypatch):
    # end-of-run the pool is idle; only our own 1-minute decay remains.
    # 8 splits the two anecdotes on record (contaminated r10 close
    # ended at 14.58; clean r11 run at 4.84)
    monkeypatch.delenv("SPARK_GRAFT_LOADAVG_END_DECAY", raising=False)
    assert bench.end_quiet_threshold(2.0) == 10.0


def test_contamination_signature_threshold_documented():
    # the r10 close run carried 28 cross-round flags, the r9 driver run
    # 12; every genuine code regression on record flagged 1-2 names.
    # 6 splits those populations with margin on both sides.
    assert bench.CONTAMINATION_FLAG_COUNT == 6


def test_downgrade_midrun_gate_fires(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LOADAVG_END_DECAY", raising=False)
    comparable, reason, note = bench.comparability_downgrade(
        True, midrun_load_max=30.0, midrun_threshold=24.0,
        load_threshold=2.0, end_loadavg=[1.0, 1.0, 1.0], n_cross_flags=0,
    )
    assert comparable is False and "midrun" in reason and note is None


def test_downgrade_end_gate_fires(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LOADAVG_END_DECAY", raising=False)
    comparable, reason, note = bench.comparability_downgrade(
        True, midrun_load_max=5.0, midrun_threshold=24.0,
        load_threshold=2.0, end_loadavg=[14.58, 9.0, 5.0], n_cross_flags=0,
    )
    assert comparable is False and "end loadavg" in reason


def test_flag_signature_needs_load_corroboration(monkeypatch):
    # r11 ADVICE: >=6 flags with NO elevated load sample must stay
    # comparable (a genuine wide code regression needs to be able to
    # produce a comparable artifact) but carry the adjudicate-me note
    monkeypatch.delenv("SPARK_GRAFT_LOADAVG_END_DECAY", raising=False)
    comparable, reason, note = bench.comparability_downgrade(
        True, midrun_load_max=8.0, midrun_threshold=24.0,
        load_threshold=2.0, end_loadavg=[2.5, 2.0, 1.5], n_cross_flags=9,
    )
    assert comparable is True and reason is None
    assert "wide code regression" in note


def test_flag_signature_downgrades_when_corroborated(monkeypatch):
    # same 9 flags, but the midrun sample sits above half the own-work
    # allowance (elevated, below the hard gate): contention signature
    monkeypatch.delenv("SPARK_GRAFT_LOADAVG_END_DECAY", raising=False)
    comparable, reason, note = bench.comparability_downgrade(
        True, midrun_load_max=15.0, midrun_threshold=24.0,
        load_threshold=2.0, end_loadavg=[2.5, 2.0, 1.5], n_cross_flags=9,
    )
    assert comparable is False and "corroborated" in reason and note is None


def test_quiet_clean_run_untouched():
    comparable, reason, note = bench.comparability_downgrade(
        True, midrun_load_max=10.0, midrun_threshold=24.0,
        load_threshold=2.0, end_loadavg=[1.0, 1.0, 1.0], n_cross_flags=1,
    )
    assert comparable is True and reason is None and note is None


def test_probe_drift_downgrades(monkeypatch):
    # r12 VERDICT item 2: the r12 close host ran 2.5-4x slow at loadavg
    # 11.98 under a 24.0 allowance — no loadavg gate can see CPU
    # throttling, only a direct speed probe can. 1.28 s idle vs 2.55 s
    # degraded is drift 1.99x; the 1.3x default allowance catches it
    # while the documented quiet-host run-to-run probe scatter (<1.1x)
    # stays clear.
    monkeypatch.delenv("SPARK_GRAFT_PROBE_DRIFT_MAX", raising=False)
    comparable, reason, note = bench.comparability_downgrade(
        True, midrun_load_max=10.0, midrun_threshold=24.0,
        load_threshold=2.0, end_loadavg=[1.0, 1.0, 1.0], n_cross_flags=0,
        probe_times={"start": 1.28, "mid": 2.55, "end": 2.4},
    )
    assert comparable is False
    assert "calibration probe" in reason and "2.55" in reason
    assert note is None


def test_probe_within_allowance_stays_comparable(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_PROBE_DRIFT_MAX", raising=False)
    comparable, reason, note = bench.comparability_downgrade(
        True, midrun_load_max=10.0, midrun_threshold=24.0,
        load_threshold=2.0, end_loadavg=[1.0, 1.0, 1.0], n_cross_flags=0,
        probe_times={"start": 1.30, "mid": 1.41, "end": 1.35},
    )
    assert comparable is True and reason is None


def test_probe_allowance_env_overridable(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_PROBE_DRIFT_MAX", "3.0")
    comparable, reason, _ = bench.comparability_downgrade(
        True, midrun_load_max=10.0, midrun_threshold=24.0,
        load_threshold=2.0, end_loadavg=[1.0, 1.0, 1.0], n_cross_flags=0,
        probe_times={"start": 1.28, "mid": 2.55, "end": 2.4},
    )
    assert comparable is True and reason is None


def test_probe_missing_or_partial_yields_no_verdict(monkeypatch):
    # absence of evidence is not contamination (same contract as the
    # unmeasurable-loadavg case)
    monkeypatch.delenv("SPARK_GRAFT_PROBE_DRIFT_MAX", raising=False)
    for probes in (None, {}, {"start": 1.3}):
        comparable, reason, _ = bench.comparability_downgrade(
            True, midrun_load_max=10.0, midrun_threshold=24.0,
            load_threshold=2.0, end_loadavg=[1.0, 1.0, 1.0],
            n_cross_flags=0, probe_times=probes,
        )
        assert comparable is True and reason is None


def test_calibration_probe_is_fixed_work(monkeypatch):
    # The real probe only has to yield a usable sample: two wall-clock
    # samples on a throttled host may disagree by more than 1.3x, which
    # is exactly what the probe exists to detect. Drift detection itself
    # is exercised with synthetic samples on both sides of the default
    # allowance.
    import math

    sample = bench.calibration_probe(reps=1)
    assert sample > 0 and math.isfinite(sample)

    monkeypatch.delenv("SPARK_GRAFT_PROBE_DRIFT_MAX", raising=False)
    allowed = bench.PROBE_DRIFT_MAX_DEFAULT

    def verdict(probes):
        return bench.comparability_downgrade(
            True, midrun_load_max=10.0, midrun_threshold=24.0,
            load_threshold=2.0, end_loadavg=[1.0, 1.0, 1.0],
            n_cross_flags=0, probe_times=probes,
        )

    drifting = {"start": 0.50, "mid": 0.50 * allowed * 1.05, "end": 0.52}
    comparable, reason, _ = verdict(drifting)
    assert comparable is False and "calibration probe" in reason

    steady = {"start": 0.50, "mid": 0.50 * allowed * 0.95, "end": 0.55}
    comparable, reason, _ = verdict(steady)
    assert comparable is True and reason is None


def test_receipt_paths_key_other_sf_by_sf(tmp_path):
    # The SF and core count of record come from the main BENCH_DETAIL.json;
    # the per-core receipt is written at every SF, the main one only at
    # the record SF and its core count.
    root = str(tmp_path)

    def names(sf, cpus):
        per_core, main = bench.receipt_paths(
            root, sf, cpus, record_sf=0.1, record_cpus=8
        )
        assert os.path.dirname(per_core) == root
        return os.path.basename(per_core), main and os.path.basename(main)

    assert names(0.1, 8) == ("BENCH_DETAIL_c8.json", "BENCH_DETAIL.json")
    assert names(0.01, 8) == ("BENCH_DETAIL_sf0.01_c8.json", None)
    assert names(0.1, 4) == ("BENCH_DETAIL_c4.json", None)
    assert names(0.01, 4) == ("BENCH_DETAIL_sf0.01_c4.json", None)
    # no main receipt yet: any SF and core count establishes the record
    per_core, main = bench.receipt_paths(root, 0.01, 4)
    assert os.path.basename(per_core) == "BENCH_DETAIL_c4.json"
    assert main == os.path.join(root, "BENCH_DETAIL.json")
