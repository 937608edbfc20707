"""The driver certifies only the FIRST 50 registry entries
(CORRECTNESS_r01/r02 evidence). These tests make the breadth-first
window ordering an enforced invariant, not a convention."""

from __future__ import annotations

from ytspark.queries import _PRIORITY, registry
from tools.check_priority_window import WINDOW, family_coverage


def test_priority_fills_window_exactly():
    # a shorter list silently cedes window slots to registration order;
    # a longer one silently pushes its own tail out of certification
    assert len(_PRIORITY) == WINDOW
    assert len(set(_PRIORITY)) == WINDOW  # no duplicates eating slots


def test_every_family_has_a_certified_representative():
    cover, missing = family_coverage()
    assert not missing, f"families outside the certified window: {missing}"


def test_rotated_out_queries_remain_registered():
    """Rotation moves already-certified names below the window; they
    must stay registered (and locally oracle-checked), not vanish.
    r11 VERDICT item 6: the rotated-out list is DERIVED from the
    committed driver-pass record rather than hardcoded, so it tracks
    every rotation automatically — any name the driver ever certified
    that later disappears from the registry fails here, whichever
    round rotated it out."""
    from tools.check_priority_window import _ever_driver_checked

    reg = registry()
    rotated_out = _ever_driver_checked() - set(_PRIORITY)
    assert rotated_out, (
        "no driver-certified names outside the window — either the "
        "pass record is unreadable or rotation never happened"
    )
    vanished = sorted(n for n in rotated_out if n not in reg)
    assert not vanished, (
        f"driver-certified queries vanished from the registry: {vanished}"
    )


def test_window_rotation_stamp_is_current():
    """Rotation tripwire, rotation-stamp keyed (r10 VERDICT item 3 —
    the old form compared _PRIORITY against ALL CORRECTNESS files, so
    it went red the moment the driver wrote the round's own results,
    i.e. at every judged HEAD). The stamp form preserves the guard's
    intent and stays green at close:

      (1) WINDOW_ROTATION.json matches the live _PRIORITY (the stamp
          and the code rotate together, or loudly don't);
      (2) no committed CORRECTNESS round is NEWER than the stamp's
          target round — a driver run on a stale window is the actual
          failure being guarded;
      (3) >=min(35, backlog) window names had no driver PASS in any
          round BEFORE the stamp's round, where the backlog is every
          registered oracle-backed name without such a pass — once it
          is smaller than the window the whole of it must be in the
          window (the rest are repeat passes, tools/rotate_window.py
          step 4). Stable even after the stamp round's own CORRECTNESS
          file lands, which is the whole point.
    """
    import json
    import os
    import re

    from tools.check_priority_window import (
        _correctness_files,
        _is_driver_pass,
        _load_correctness,
    )
    from tools.rotate_window import window_sha

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "WINDOW_ROTATION.json")) as fh:
        stamp = json.load(fh)
    assert stamp["window_sha"] == window_sha(list(_PRIORITY)), (
        "_PRIORITY changed without re-running tools/rotate_window.py "
        "(or the stamp was edited by hand)"
    )
    passed_before: set[str] = set()
    for f in _correctness_files():
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", f)
        rnd = int(m.group(1)) if m else 0
        assert rnd <= stamp["round"], (
            f"CORRECTNESS_r{rnd:02d} post-dates the window rotation "
            f"(stamped for round {stamp['round']}) — a round opened "
            "without re-rotating the certified window"
        )
        if rnd < stamp["round"]:
            for name, entry in _load_correctness(f).items():
                if isinstance(entry, dict) and _is_driver_pass(entry):
                    passed_before.add(name)
    reg = registry()
    backlog = [
        n for n in reg if n not in passed_before and reg[n].oracle is not None
    ]
    first_ever = [n for n in _PRIORITY if n not in passed_before]
    assert len(first_ever) >= min(35, len(backlog)), (
        f"only {len(first_ever)} never-driver-passed queries in the "
        "window at rotation time — rotation regressed to repeat-heavy"
    )
