"""Every script under scripts/ loads against the current engine: its
imports resolve. Each script keeps its work behind
``if __name__ == "__main__"``, so loading one runs nothing."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_LOAD_ALL = """
import runpy, sys
for path in sys.argv[1:]:
    runpy.run_path(path, run_name="scripts_import_check")
"""


def test_every_script_loads():
    scripts = sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py")))
    assert scripts
    proc = subprocess.run(
        [sys.executable, "-c", _LOAD_ALL, *scripts],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
