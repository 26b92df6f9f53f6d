"""Plan-fingerprint staleness ledger (VERDICT r9 Next-round #5).

With 50 driver slots over ~280 queries, a driver row is re-earned every ~6
rounds — and nothing mechanically forced a query whose PHYSICAL PLAN changed
since its last driver-green round back into the verification window (the r9
PQ re-attestation was builder discipline). This tool closes that gap:

- ``python tools/plan_ledger.py build`` regenerates ``docs/plan_attest.json``:
  for every hash query, the round of its newest driver-green row (hash_match
  true in CORRECTNESS_r{N}.json) and its ``docs/PLANS.md`` row AS OF that
  round's driver commit (``git show <round-commit>:docs/PLANS.md`` — the
  driver ran on that tree). Fully derivable from git + CORRECTNESS files; no
  hand-maintained state.
- ``python tools/plan_ledger.py check`` (and the pytest
  tests/test_plan_ledger.py) lists every query whose CURRENT PLANS.md row
  differs from its attested row; each such query MUST sit inside the first-50
  driver window of ``__spark_entry__._DRIVER_WINDOW_50`` so the next
  driver round re-earns its row. New hash queries (no attested row yet) must
  be windowed too. Rows-only queries are exempt (they never earn hash rows;
  their exactness is pinned by the ledgered parity pytests).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ATTEST_PATH = f"{REPO}/docs/plan_attest.json"


def _round_commits() -> dict[int, str]:
    out = subprocess.run(
        ["git", "log", "--format=%H %s"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    commits: dict[int, str] = {}
    for line in out.splitlines():
        m = re.match(r"([0-9a-f]+) round (\d+): verdict", line)
        if m:
            commits.setdefault(int(m.group(2)), m.group(1))
    return commits


def _plans_rows(text: str) -> dict[str, str]:
    rows = {}
    for line in text.splitlines():
        m = re.match(r"\| (q_\w+) \|", line)
        if m:
            rows[m.group(1)] = line.strip()
    return rows


def newest_green_rounds() -> dict[str, int]:
    import glob

    newest: dict[str, int] = {}
    for f in sorted(glob.glob(f"{REPO}/CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", f).group(1))
        for name, row in json.load(open(f)).items():
            if isinstance(row, dict) and row.get("hash_match"):
                newest[name] = max(newest.get(name, 0), rnd)
    return newest


def build(write: bool = True) -> dict:
    """Derive the ledger from git round-commits + CORRECTNESS files.

    A CORRECTNESS_r{N}.json with no matching ``round N: verdict`` commit
    yet (the window between a driver run and its round commit) simply
    yields no attested row for its queries — violations() then requires
    them in-window, which is exactly where a driver-green round's rows
    already are. The pytest calls build(write=False) so the guard is
    SELF-MAINTAINING: it can never run against a stale committed ledger.
    """
    commits = _round_commits()
    newest = newest_green_rounds()
    attest: dict[str, dict] = {}
    missing_tree: list[str] = []
    for name, rnd in sorted(newest.items()):
        commit = commits.get(rnd)
        if commit is None:
            missing_tree.append(name)
            continue
        proc = subprocess.run(
            ["git", "show", f"{commit}:docs/PLANS.md"],
            cwd=REPO,
            capture_output=True,
            text=True,
        )
        row = _plans_rows(proc.stdout).get(name) if proc.returncode == 0 else None
        # PLANS.md predates round 4; any query whose newest green row is
        # older than the audit's existence has no attestable fingerprint
        # (none exist today — every hash query is green at >= r4).
        attest[name] = {"round": rnd, "row": row}
    ledger = {
        "_comment": "query -> PLANS.md row at its newest driver-green round;"
        " regenerate with: python tools/plan_ledger.py build (the pytest"
        " rebuilds in-memory and never trusts this file)",
        "queries": attest,
    }
    if write:
        with open(ATTEST_PATH, "w") as f:
            json.dump(ledger, f, indent=1, sort_keys=True)
            f.write("\n")
        if missing_tree:
            print(f"WARNING no round commit for: {missing_tree}")
        print(f"wrote {ATTEST_PATH} ({len(attest)} attested rows)")
    return ledger


def violations(
    attested: dict[str, dict] | None = None,
    current_plans: str | None = None,
    oracles: dict[str, str] | None = None,
) -> list[str]:
    """Hash queries whose current PLANS.md row differs from (or lacks) an
    attested row — each must be inside the first-50 driver window."""
    if attested is None:
        attested = json.load(open(ATTEST_PATH))["queries"]
    if current_plans is None:
        current_plans = open(f"{REPO}/docs/PLANS.md").read()
    if oracles is None:
        sys.path.insert(0, REPO)
        import __spark_entry__ as entrymod

        oracles = entrymod.oracle_sql()
    current = _plans_rows(current_plans)
    out = []
    for name in sorted(current):
        if name not in oracles:
            continue  # rows-only: exempt, pinned by ledgered parity pytests
        att = attested.get(name)
        if att is None or att.get("row") != current[name]:
            out.append(name)
    return out


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "check"
    if cmd == "build":
        build()
        return
    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod

    window = entrymod._DRIVER_WINDOW_50
    # Rebuild the ledger in-memory (ADVICE r10 #3): the committed
    # docs/plan_attest.json can be stale; check must match the pytest's
    # self-maintaining path instead of trusting the file.
    fresh = build(write=False)["queries"]
    bad = [v for v in violations(attested=fresh) if v not in window]
    for name in bad:
        print(f"STALE-PLAN-OUTSIDE-WINDOW {name}")
    print(f"{len(bad)} violations")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
