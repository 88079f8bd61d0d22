"""bench.py's parked scaling worker must not outlive its parent."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_wait_for_raises_once_parent_is_gone(tmp_path):
    """A worker parked on a marker that will never appear stops as soon
    as its parent dies, instead of idling until the timeout. The
    middle process spawns the worker and exits at once; the worker is
    re-parented and its ``_wait_for`` must raise RuntimeError."""
    result = tmp_path / "result"
    worker = textwrap.dedent(
        f"""
        import os, sys
        sys.path.insert(0, {REPO!r})
        import bench
        try:
            bench._wait_for({str(tmp_path / "never")!r},
                            parent_pid=int(sys.argv[1]), timeout=60.0)
            outcome = "returned"
        except Exception as exc:
            outcome = type(exc).__name__
        open({str(result)!r} + ".tmp", "w").write(outcome)
        os.replace({str(result)!r} + ".tmp", {str(result)!r})
        """
    )
    middle = (
        "import os, subprocess, sys\n"
        f"subprocess.Popen([sys.executable, '-c', {worker!r}, str(os.getpid())])\n"
    )
    t0 = time.monotonic()
    subprocess.run([sys.executable, "-c", middle], check=True, timeout=60)
    while not result.exists() and time.monotonic() - t0 < 50:
        time.sleep(0.1)
    assert result.read_text() == "RuntimeError"
    assert time.monotonic() - t0 < 50
