"""Argument handling of scripts/check_gate.py.  Arguments are parsed
before Spark is imported, so these run the script without a session."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

SCRIPT = Path(__file__).resolve().parents[1] / "scripts" / "check_gate.py"


def test_json_without_path_prints_usage():
    proc = subprocess.run(
        [sys.executable, str(SCRIPT), "--json"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 2, proc.stderr
    assert "usage:" in proc.stderr
    assert "Traceback" not in proc.stderr
