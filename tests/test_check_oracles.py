"""``tools/check_oracles.py --emit``: every entry keeps its oracle verdict
and carries the gate's job profile.

The tool runs in a subprocess: ``get_spark`` reuses a live session and
would re-apply its own SQL settings to the test session."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GATES = ("q1_pricing_summary", "q5_local_supplier_volume")
NUMERIC = ("wall_s", "jobs", "stages", "tasks", "sql_execs", "busy_s",
           "outside_s", "shuffle_read_bytes", "shuffle_write_bytes",
           "exchanges")


def test_emit_records_verdict_and_job_profile(tmp_path):
    out = tmp_path / "profile.json"
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_oracles.py"),
         SF_SMALL, *GATES, "--emit", str(out)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    data = json.loads(out.read_text())
    assert set(data) == set(GATES)
    for name, e in data.items():
        assert e["status"] == "pass" and e["rows"] > 0
        assert isinstance(e["secs"], float)
        for k in NUMERIC:
            assert isinstance(e[k], (int, float)), (name, k)
        assert e["jobs"] >= 1, name
        assert 0 <= e["busy_s"] <= e["wall_s"], name
        assert abs(e["outside_s"] - (e["wall_s"] - e["busy_s"])) <= 0.002
        assert len(e["exchange_keys"]) <= e["exchanges"]
    assert data["q1_pricing_summary"]["exchanges"] >= 1
