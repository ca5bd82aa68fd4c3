"""Rotate the query registry so the stalest queries lead.

The correctness driver samples the FIRST 50 entries of
``wpextract_spark.plans.queries.QUERIES`` each round. To guarantee every
query keeps accumulating hard driver signal, this script orders the dict
stalest-first:

1. never driver-hash-green (no CORRECTNESS row, or only ``err`` rows),
2. ascending by the last round with a green row,
3. ties broken by how many rounds ever saw the query (fewest first),
4. final tie-break: current registry order (stable).

It rewrites the ``QUERIES = {...}`` block of ``plans/queries.py`` in place,
preserving each entry's trailing comment, and prints the resulting window.

``--check`` verifies, without rewriting, the two invariants this maintains
against the ``CORRECTNESS_r*.json`` round artifacts:

- the registry is in stalest-first order;
- every registry query is covered by the union of the previous round's
  CORRECTNESS keys and the current first-50 window, unless it has at least
  two historical hash-green rounds (the multi-round-green tail), and that
  tail stays small.

These compare the committed registry against artifacts written after the
last commit, so they run here, before a bench or driver round, rather than
in pytest; ``tests/test_registry_rotation.py`` keeps the structural checks
and tests the check functions on synthetic histories.

Usage: python scripts/rotate_registry.py [--check]
  --check  exit 1 if either invariant fails (does not rewrite).
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).parent.parent
QUERIES_PY = REPO / "wpextract_spark" / "plans" / "queries.py"
WINDOW = 50


def correctness_history() -> list[dict[str, bool]]:
    """Per round (ascending), map query -> hash_match is True."""
    out = []
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        data = json.loads(path.read_text())
        rows = data.get("queries", data)
        out.append(
            {
                k: isinstance(v, dict) and v.get("hash_match") is True
                for k, v in rows.items()
            }
        )
    return out


def registry_entries(src: str) -> tuple[str, list[tuple[str, str]]]:
    """(dict block, [(query name, full entry line)...]) from source."""
    match = re.search(r"\nQUERIES = \{\n(.*?)\n\}\n", src, re.S)
    if not match:
        raise SystemExit("QUERIES dict block not found")
    block = match.group(1)
    entries = []
    for line in block.splitlines():
        m = re.match(r'\s*"(q_\w+)":', line)
        if m:
            entries.append((m.group(1), line))
    return match.group(0), entries


def staleness_order(
    names: list[str], history: list[dict[str, bool]]
) -> list[str]:
    pos = {name: i for i, name in enumerate(names)}

    def key(name: str):
        greens = [i + 1 for i, r in enumerate(history) if r.get(name)]
        seen = [i + 1 for i, r in enumerate(history) if name in r]
        last_green = max(greens, default=0)
        return (last_green, len(seen), pos[name])

    return sorted(names, key=key)


def order_problems(names: list[str], history: list[dict[str, bool]]) -> list[str]:
    """Entries out of stalest-first place (empty when the order is right)."""
    order = staleness_order(names, history)
    return [
        f"position {i} has {names[i]}, wants {order[i]}"
        for i in range(len(names))
        if names[i] != order[i]
    ]


def coverage_problems(names: list[str], history: list[dict[str, bool]]) -> list[str]:
    """Queries neither in the last round's sample nor in the driver window
    without the multi-round-green history that lets them wait at the tail,
    plus a tail that grew too long (empty when coverage holds)."""
    if not history:
        return ["no CORRECTNESS_r*.json files found"]
    last_round_keys = set(history[-1])
    window = set(names[:WINDOW])
    uncovered = [n for n in names if n not in last_round_keys and n not in window]
    problems = []
    # A query may sit outside both only with >= 2 historical hash-green
    # driver rounds behind it (the multi-round-green tail).
    for name in uncovered:
        greens = sum(1 for r in history if r.get(name))
        if greens < 2:
            problems.append(
                f"{name} is outside the driver window AND last round's sample "
                f"with only {greens} historical green rounds — rotate it in"
            )
    # The tail should stay small: the window plus one round must cover
    # nearly everything.
    limit = max(0, len(names) - len(last_round_keys) - WINDOW) + 1
    if len(uncovered) > limit:
        problems.append(f"{len(uncovered)} queries uncovered, limit {limit}")
    return problems


def check(names: list[str], history: list[dict[str, bool]]) -> int:
    failed = 0
    for label, problems in (
        ("registry order is stale", order_problems(names, history)),
        ("registry coverage gap", coverage_problems(names, history)),
    ):
        if problems:
            failed = 1
            print(f"{label}: {len(problems)} problem(s)")
            for line in problems[:10]:
                print(f"  {line}")
    if not failed:
        print("registry is stalest-first and covered")
    return failed


def main() -> int:
    src = QUERIES_PY.read_text()
    full_block, entries = registry_entries(src)
    names = [n for n, _ in entries]
    if "--check" in sys.argv:
        return check(names, correctness_history())
    lines = dict(entries)
    order = staleness_order(names, correctness_history())

    if order == names:
        print("registry already in stalest-first order")
        return 0

    header = (
        "    # --- Stalest-first driver-window ordering (maintained by\n"
        "    # scripts/rotate_registry.py): the correctness driver checks\n"
        "    # the FIRST 50 entries, so queries with the least / oldest\n"
        "    # driver-green history lead and multi-round-green entries sit\n"
        "    # at the tail (those are additionally pinned by the pytest\n"
        "    # gate and byte-parity e2e).\n"
    )
    body_lines = []
    for i, name in enumerate(order):
        if i == WINDOW:
            body_lines.append(
                "    # ---- below the 50-entry driver window ----"
            )
        # strip stale per-entry rotation comments; keep other comments
        line = lines[name]
        line = re.sub(
            r"\s*#\s*(new in round \d.*|rows-only:.*|round-\d rotation.*"
            r"|needs a driver row.*)$",
            "",
            line,
        )
        body_lines.append(line)
    new_block = "\nQUERIES = {\n" + header + "\n".join(body_lines) + "\n}\n"
    QUERIES_PY.write_text(src.replace(full_block, new_block))
    window = order[:WINDOW]
    print(f"rotated: window head {window[:6]} ... tail {order[-3:]}")
    leftover = [
        n for n in names
        if n not in window and n not in correctness_history()[-1]
    ]
    print(f"not covered by (last round ∪ new window): {leftover}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
