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


def test_every_setting_is_read():
    """Each field of each Settings section is read (as an attribute)
    somewhere in the package outside settings.py — a knob no code reads is
    a silent no-op for whoever sets it."""
    import ast
    import dataclasses

    from crawlspark.settings import Settings

    read = set()
    for path in (ROOT / "crawlspark").glob("*.py"):
        if path.name != "settings.py":
            read |= {
                n.attr for n in ast.walk(ast.parse(path.read_text()))
                if isinstance(n, ast.Attribute)
            }
    unread = [
        f"{section.name}.{f.name}"
        for section in dataclasses.fields(Settings)
        for f in dataclasses.fields(section.default_factory)
        if f.name not in read
    ]
    assert not unread, unread
