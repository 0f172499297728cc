"""tools_profile.py end to end: it runs as a subprocess because the event
log is a static Spark conf and the suite's session already exists.  The
run also pins the ``perfbench.trace`` API the tool is built on."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from perfbench import trace
from tests.conftest import REPO, SF_CORRECT

FIELDS = {
    "wall_s", "build_s", "optimize_s", "execute_s", "actions",
    "construction_actions", "jobs", "driver_gap_s", "py4j_calls",
    "slowest_stages", *trace.STAGE_KEYS,
}


def test_profile_reports_every_layer():
    proc = subprocess.run(
        [sys.executable, "tools_profile.py", "q1_pricing_summary", "pq_ann_topk"],
        cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": SF_CORRECT},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.splitlines()[-1])
    assert set(out["queries"]) == {"q1_pricing_summary", "pq_ann_topk"}
    for name, rec in out["queries"].items():
        assert set(rec) == FIELDS, name
        assert rec["actions"] >= 1 and rec["stages"] > 0, name
        assert rec["build_s"] + rec["optimize_s"] + rec["execute_s"] <= rec["wall_s"], name
        assert 0 < len(rec["slowest_stages"]) <= 5, name
    # pq_ann_topk trains its codebooks while the plan is built
    assert out["queries"]["pq_ann_topk"]["construction_actions"] >= 1
