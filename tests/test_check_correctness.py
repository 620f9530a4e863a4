"""tools/check_correctness.py gates the checkout it sits in, not some
other copy of the repo."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "check_correctness.py",
)


def test_check_correctness_imports_its_own_entry(tmp_path):
    (tmp_path / "tools").mkdir()
    shutil.copy(TOOL, tmp_path / "tools" / "check_correctness.py")
    (tmp_path / "__spark_entry__.py").write_text('raise SystemExit("stub entry")\n')
    proc = subprocess.run(
        [sys.executable, str(tmp_path / "tools" / "check_correctness.py")],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert "stub entry" in proc.stdout + proc.stderr
