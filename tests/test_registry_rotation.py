"""Check-window rotation invariants.

Each round's oracle check runs the FIRST 50 registry keys and records them in
CORRECTNESS_rNN.json. ksql_spark.registry derives its order from those files:
never-checked keys first, then keys by the round that last checked them.
These tests read every CORRECTNESS file independently and assert the window
that order produces.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from ksql_spark.registry import all_specs

REPO = Path(__file__).resolve().parents[1]
WINDOW = 50


def _rounds() -> dict[int, set[str]]:
    out = {}
    for path in REPO.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            out[int(m.group(1))] = set(json.loads(path.read_text()))
    return out


def _last_round() -> dict[str, int]:
    last = {}
    for n, keys in _rounds().items():
        for k in keys:
            last[k] = max(last.get(k, 0), n)
    return last


def test_driver_window_fronts_all_unchecked_keys():
    """Never-checked keys fill the window first. Once they fit, the refill
    slots must re-verify the stalest evidence: every checked key inside the
    window was last checked no later than any checked key left outside it.
    """
    last = _last_round()
    order = list(all_specs())
    unchecked = [k for k in order if k not in last]
    window, outside = order[:WINDOW], order[WINDOW:]
    if len(unchecked) > WINDOW:
        leaked = [k for k in window if k in last]
        assert not leaked, leaked
        return
    missing = [k for k in unchecked if k not in window]
    assert not missing, missing
    refill = [k for k in window if k in last]
    stale_out = [k for k in outside if k in last]
    if refill and stale_out:
        oldest_out = min(last[k] for k in stale_out)
        too_new = [k for k in refill if last[k] > oldest_out]
        assert not too_new, (
            "window refill skipped staler keys",
            too_new,
            [k for k in stale_out if last[k] == oldest_out][:10],
        )


def test_latest_round_leaves_the_window():
    """The keys the newest round just checked must not be checked again next
    round while older evidence waits behind them."""
    rounds = _rounds()
    newest = rounds[max(rounds)]
    repeated = sorted(newest & set(list(all_specs())[:WINDOW]))
    assert not repeated, repeated
