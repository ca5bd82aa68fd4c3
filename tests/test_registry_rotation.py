"""Registry rotation invariants.

The correctness driver samples the first 50 entries of QUERIES each round.
The registry must stay in stalest-first order, and no query may fall out
of driver coverage. Both compare the committed registry against
CORRECTNESS_r*.json round artifacts, which are written after the last
commit, so they are enforced by ``scripts/rotate_registry.py --check``
before a bench or driver round. Here: the structural checks, plus the two
check functions on synthetic histories.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).parent.parent
sys.path.insert(0, str(REPO / "scripts"))

import rotate_registry  # noqa: E402

WINDOW = rotate_registry.WINDOW


def _history():
    return rotate_registry.correctness_history()


def _registry_names():
    src = rotate_registry.QUERIES_PY.read_text()
    _, entries = rotate_registry.registry_entries(src)
    return [name for name, _ in entries]


def test_registry_matches_runtime_dict():
    from wpextract_spark.plans.queries import QUERIES

    assert _registry_names() == list(QUERIES)


def test_every_query_has_oracle():
    """Every query has an oracle: no rows-only entries remain (VERDICT r4 item 1b)."""
    from wpextract_spark.plans.queries import ORACLES, QUERIES

    missing = [k for k in QUERIES if k not in ORACLES or not ORACLES[k]]
    assert missing == []


def test_never_green_queries_lead_window():
    """Anything with zero hash-green history must be inside the window."""
    names = _registry_names()
    history = _history()
    window = set(names[:WINDOW])
    for name in names:
        if not any(r.get(name) for r in history):
            assert name in window, f"never-green {name} outside window"


def test_order_check_flags_stale_registry():
    history = [{"q_a": True, "q_b": False}, {"q_a": True}]
    # q_b was never green, so it must lead.
    assert rotate_registry.order_problems(["q_b", "q_a"], history) == []
    assert rotate_registry.order_problems(["q_a", "q_b"], history)


def test_coverage_check_allows_only_multi_round_green_tail(monkeypatch):
    monkeypatch.setattr(rotate_registry, "WINDOW", 1)
    names = ["q_a", "q_b", "q_c"]
    # q_c is outside the window and last round's sample, with two greens.
    history = [{"q_c": True}, {"q_c": True}, {"q_b": True}]
    assert rotate_registry.coverage_problems(names, history) == []
    # With one green round it must be rotated in.
    history = [{"q_c": True}, {"q_b": True}]
    (problem,) = rotate_registry.coverage_problems(names, history)
    assert problem.startswith("q_c is outside the driver window")
    assert rotate_registry.coverage_problems(names, []) == [
        "no CORRECTNESS_r*.json files found"
    ]
