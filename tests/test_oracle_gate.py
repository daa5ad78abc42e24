"""The DuckDB oracle gate (tools/check_oracle.py) at the smoke scale:
every registered query on Spark must hash-match its oracle SQL."""

import os
import subprocess
import sys

from test_plan_hygiene import SF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_oracle_gate_all_queries_match():
    # its own process: the gate's get_spark(shuffle_partitions=16) must
    # not reconfigure the session the other tests share
    sf = os.path.join(os.path.dirname(SF), "sf0.001")
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_oracle.py"),
         sf], cwd=REPO, capture_output=True, text=True, timeout=1800)
    tail = res.stdout[-4000:]
    assert res.returncode == 0, tail
    assert "ALL QUERIES MATCH" in res.stdout, tail
