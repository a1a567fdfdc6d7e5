"""Every tracked Python source compiles cleanly with warnings as errors
(e.g. an invalid string escape: DeprecationWarning on 3.11, SyntaxWarning
on 3.12+)."""

import subprocess
import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_tracked_sources_compile_without_warnings():
    files = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout.split()
    assert files
    bad = []
    for name in files:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile((ROOT / name).read_bytes(), name, "exec")
            except (SyntaxError, Warning) as e:
                bad.append(f"{name}:{getattr(e, 'lineno', '?')}: {e}")
    assert not bad, "\n".join(bad)
