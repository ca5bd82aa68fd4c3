"""The least-disturbed round selector shared by ``bench.py`` and
``scripts/scaling_bench.py``."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "scripts"))

from bench import least_disturbed  # noqa: E402


def test_picks_round_with_healthiest_worst_leg():
    rounds = [
        (1000.0, 3000.0),  # worst leg 3000/3400 = 0.88
        (600.0, 2900.0),  # low leg alone depressed: highest efficiency (1.21)
        (980.0, 3400.0),  # worst leg 980/1000 = 0.98
    ]
    effs = [hi / lo / 4 for lo, hi in rounds]
    assert max(range(3), key=effs.__getitem__) == 1
    assert least_disturbed(rounds) == 2
    # Ties go to the earliest round.
    assert least_disturbed([(500.0, 1500.0), (500.0, 1500.0)]) == 0


def test_scaling_campaign_uses_the_same_selector():
    import scaling_bench

    assert scaling_bench.least_disturbed is least_disturbed
