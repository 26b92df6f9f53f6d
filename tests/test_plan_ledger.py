"""Plan-fingerprint staleness guard (VERDICT r9 Next-round #5).

A query whose physical plan changed since its last driver-green round must
re-earn a driver row: it has to sit INSIDE the first-50 verification window
of __spark_entry__. This test makes that mechanical instead of builder
discipline — and SELF-MAINTAINING: the ledger is rebuilt in-memory from git
round-commits + CORRECTNESS files on every run (build(write=False)), so the
guard can never silently run against a stale committed docs/plan_attest.json.
A CORRECTNESS_r{N}.json whose round commit doesn't exist yet contributes no
attested rows; its green queries are then required in-window, which is where
a fresh driver round's rows already are.
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.plan_ledger import _plans_rows, build, violations  # noqa: E402

PLANS = os.path.join(ROOT, "docs", "PLANS.md")


def _window() -> list[str]:
    import __spark_entry__ as entrymod

    return entrymod._DRIVER_WINDOW_50


def _fresh_attest() -> dict:
    return build(write=False)["queries"]


def test_stale_plan_queries_are_inside_driver_window():
    """Every hash query whose current PLANS.md row differs from the row at
    its newest driver-green round (or that has no driver row yet) must be
    inside the first-50 window so the next driver round re-attests it."""
    att = _fresh_attest()
    bad = [v for v in violations(attested=att) if v not in _window()]
    assert bad == [], (
        f"plan changed since last driver-green round but query is outside "
        f"the first-50 driver window: {bad} — add to the top of "
        f"_DRIVER_WINDOW_50 or re-earn a driver row"
    )


def test_guard_detects_synthetic_plan_edit():
    """The mechanism itself: tampering one non-windowed query's row in a
    synthetic PLANS.md must produce a violation for exactly that query."""
    att = _fresh_attest()
    window = set(_window())
    current = open(PLANS).read()
    rows = _plans_rows(current)
    victim = next(
        n for n in sorted(rows) if n in att and n not in window
        and att[n].get("row") == rows[n]
    )
    # bump the exchanges cell (first numeric column) — a synthetic shuffle
    # regression in an otherwise-valid row
    import re

    tampered_row = re.sub(r"\| (\d+) \|", "| 999 |", rows[victim], count=1)
    assert tampered_row != rows[victim]
    tampered = current.replace(rows[victim], tampered_row)
    base = set(violations(attested=att, current_plans=current))
    got = set(violations(attested=att, current_plans=tampered))
    assert victim not in base
    assert got == base | {victim}


def test_fresh_ledger_has_attestable_rows():
    """Ledger hygiene on the FRESH rebuild: every query attested to an
    existing round commit carries a real PLANS.md row (PLANS.md has existed
    at every green round since r4), and the rebuild is non-empty."""
    att = _fresh_attest()
    assert att, "empty ledger — no CORRECTNESS files with round commits?"
    missing = [n for n, v in att.items() if not v.get("row")]
    assert missing == [], missing
