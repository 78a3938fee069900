"""bench.py's stdout contract: the last line is the compact JSON record
with exactly the documented keys, and a filtered run writes no
BENCH_LOCAL artifact."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONTRACT_KEYS = {
    "metric", "value", "unit", "sf", "n_queries", "median_sec", "queries",
}


def _artifacts():
    return {
        p: (os.path.getsize(p), os.path.getmtime(p))
        for p in glob.glob(os.path.join(REPO, "BENCH_LOCAL_r*.json"))
    }


def test_filtered_bench_run_prints_the_contract_line_only(sf_dir):
    before = _artifacts()
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, BENCH_RUNS="1")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "knn_topk"],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    last = json.loads(lines[-1])
    assert set(last) == CONTRACT_KEYS
    assert last["n_queries"] == 1 and set(last["queries"]) == {"knn_topk"}
    assert '"metric": "envprobe"' not in proc.stdout
    assert _artifacts() == before
