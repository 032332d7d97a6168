"""The driver-parseability contract of bench.py (VERDICT r13 task #2):
thirteen rounds of BENCH_r*.json carried ``parsed: null`` because the
one-line summary outgrew the driver's stdout-tail capture.  The fix —
detail lines first, one compact JSON summary as the LAST stdout line —
must never regress, so this test runs the REAL bench process (tiny query
subset, sf0.001) and parses it exactly the way the driver does: from a
truncated tail of stdout."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SUBSET = "dedup-exact,agg-conditional-flow"


def test_bench_last_stdout_line_is_compact_parseable_summary(tmp_path):
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_ONLY=_SUBSET,
        SPARK_GRAFT_CPUS="4",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--out-dir", str(tmp_path)],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
        timeout=600,
        check=True,
    ).stdout

    # the driver sees a bounded stdout TAIL — parse from a 4 KiB window
    tail = out[-4096:]
    lines = [ln for ln in tail.strip().splitlines() if ln.strip()]
    summary = json.loads(lines[-1])  # the LAST line must be the summary
    assert summary["metric"] == "headline operator suite wall-clock"
    assert summary["unit"] == "sec"
    assert summary["sf"] == 0.001
    assert summary["n"] == len(_SUBSET.split(","))
    assert summary["value"] > 0
    assert set(summary["queries"]) == set(_SUBSET.split(","))

    # every preceding detail line is itself one JSON object (a hang mid-run
    # leaves a self-describing trail in any tail window)
    for ln in lines[:-1]:
        d = json.loads(ln)
        assert set(d) == {"query", "sec"}

    # and the full detail landed in BENCH_DETAIL.json with ALL queries
    # (in tmp_path, so the run never rewrites the tracked detail records)
    with open(tmp_path / "BENCH_DETAIL.json") as fh:
        detail = json.load(fh)
    assert set(detail["queries"]) == set(_SUBSET.split(","))
