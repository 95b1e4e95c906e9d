"""The registry ↔ COVERAGE.md contract and the derived driver window.

The driver re-checks the first 50 gates in registry order;
``registry.load_all`` derives that order from the CORRECTNESS_r{N}.json
artifacts (stalest first), and ``tools/check_coverage.py`` checks the
4-round staleness SLO and COVERAGE.md's claims against it.
"""

from __future__ import annotations

import json
import os

import tools.check_coverage as cc
from iceberg_demo_spark import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True}


def test_staleness_projection_flags_violations():
    gates = ["a", "b", "c", "d"]
    ledger = {"a": 9, "b": 6, "c": 5}  # d never verified
    # window covers c and d → all fine (b at staleness 4 == SLO edge)
    projected, probs = cc.project_staleness(gates, ledger, 10, ["c", "d"])
    assert probs == []
    assert projected == {"a": 9, "b": 6, "c": 10, "d": 10}
    # window covers neither the never-verified d nor the >SLO-stale c'
    ledger2 = {"a": 9, "b": 6, "c": 4}
    _, probs2 = cc.project_staleness(gates, ledger2, 10, ["a"])
    msgs = "\n".join(probs2)
    assert "'d' has never had a driver row" in msgs
    assert "'c' last driver-verified in round 4" in msgs
    # b is exactly at the SLO boundary (10-6=4) — allowed, not flagged
    assert "'b'" not in msgs


def test_repo_satisfies_staleness_slo():
    """The derived window keeps every gate inside the SLO: the first 50
    gates are the stalest 50, and ORACLES follows the same order."""
    assert cc.check_staleness() == []
    ledger, _ = registry.freshness_ledger()
    names = list(registry.QUERIES)
    assert (max(ledger.get(n, 0) for n in names[:50])
            <= min(ledger.get(n, 0) for n in names[50:]))
    assert list(registry.ORACLES) == [n for n in names
                                      if n in registry.ORACLES]


def test_window_order_is_derived_from_correctness_artifacts(tmp_path):
    names = ["a", "b", "c", "d", "e"]
    # no artifacts: registration order is unchanged
    assert registry.freshness_ledger(str(tmp_path)) == ({}, 1)
    assert registry.stalest_first(names, str(tmp_path)) == names

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(
        {"a": GREEN, "b": GREEN, "c": GREEN, "e": GREEN}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "a": GREEN,
        "b": {**GREEN, "hash_match": False},  # hash-red: not a green row
        "c": {**GREEN, "schema_match": False},
        "e": {**GREEN, "hash_match": False, "values_match": True},
    }))
    # an unreadable artifact is skipped, never fatal to registration
    (tmp_path / "CORRECTNESS_r03.json").write_text("{truncated")
    ledger, current = registry.freshness_ledger(str(tmp_path))
    assert ledger == {"a": 2, "b": 1, "c": 1, "e": 2}
    assert current == 3
    # never-verified d leads; ties (b, c at r1; a, e at r2) keep the
    # given order
    assert registry.stalest_first(names, str(tmp_path)) == [
        "d", "b", "c", "a", "e"]
    assert registry.stalest_first(["e", "c", "b", "a"], str(tmp_path)) == [
        "c", "b", "e", "a"]


def test_artifact_claims_validator_catches_drift():
    # the real COVERAGE.md passes
    cov = open(os.path.join(REPO, "COVERAGE.md")).read()
    assert cc.check_artifact_claims(cov) == []
    # a synthetic stale claim is caught against the real r09 artifact
    bad = "blah ORACLES_LOCAL_r09 at 180/180 blah"
    probs = cc.check_artifact_claims(bad)
    assert len(probs) == 1 and "records 182/182" in probs[0]


def test_coverage_doc_matches_registry():
    """COVERAGE.md and the registry must not drift (stale totals or
    missing/phantom gate rows have slipped through review twice)."""
    assert cc.check() == []
