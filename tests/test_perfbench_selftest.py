"""The benchmark harness's self-test (``perfbench/run.py --selftest``)
passes. Its status-store check runs a ``checkpoint.point_lookup``, so a
broken harness or a broken lookup path fails here."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_perfbench_selftest():
    p = subprocess.run([sys.executable, "perfbench/run.py", "--selftest"],
                       cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    assert p.returncode == 0, (p.stdout[-3000:], p.stderr[-3000:])
    assert "selftest ok" in p.stdout
