"""The slow tier is a frozen list of nodeids (``conftest._SLOW_TESTS``);
a renamed or deleted test would silently drop off it. Collect every file
the list names and require each listed nodeid to still exist."""

import subprocess
import sys
from pathlib import Path

from tests.conftest import _SLOW_TESTS

ROOT = Path(__file__).resolve().parents[1]


def test_every_slow_nodeid_still_collects():
    files = sorted({nodeid.split("::")[0] for nodeid in _SLOW_TESTS})
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q", "-m", "",
         "-p", "no:cacheprovider", *files],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    collected = {line.strip() for line in out.stdout.splitlines()}
    missing = sorted(_SLOW_TESTS - collected)
    assert not missing, f"slow-tier nodeids that no longer collect: {missing}"
