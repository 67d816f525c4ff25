"""Every tracked Python file compiles with warnings treated as errors.

A compile-time warning (an invalid escape sequence in a non-raw string,
say) is a SyntaxError in a later Python. Under
``--continue-on-collection-errors`` a test module that stops compiling
drops out of the run without failing it, so this test fails first.
"""

from __future__ import annotations

import pathlib
import subprocess
import warnings

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_tracked_python_compiles_without_warnings():
    files = subprocess.run(
        ["git", "ls-files", "*.py"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert files
    failures = []
    for name in files:
        path = ROOT / name
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_bytes(), str(path), "exec")
            except (SyntaxError, Warning) as exc:
                failures.append(f"{name}: {exc}")
    assert not failures, "\n".join(failures)
