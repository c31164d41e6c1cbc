"""The supervisor leaves no process of a run behind (Linux only):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a command that leaves an orphan in a process group of its own, as the
# PySpark worker daemon does, and exits
LEAKER = textwrap.dedent("""
    import os, sys, time
    if os.fork() == 0:
        os.setpgid(0, 0)
        if os.fork() == 0:
            with open(sys.argv[1], "w") as f:
                f.write(str(os.getpid()))
            time.sleep(120)
        os._exit(0)
    while not os.path.exists(sys.argv[1]):
        time.sleep(0.01)
    sys.exit(3)
""")

SUPERVISOR = textwrap.dedent("""
    import os, sys
    sys.path.insert(0, sys.argv[1])
    from perfbench import supervise
    code = supervise.run([sys.executable, "-c", sys.argv[2], sys.argv[3]],
                         dict(os.environ), 60)
    print(code, len(supervise.descendants(os.getpid())))
""")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def test_orphans_are_stopped_and_exit_code_kept(tmp_path):
    pid_file = str(tmp_path / "orphan.pid")
    out = subprocess.run(
        [sys.executable, "-c", SUPERVISOR, ROOT, LEAKER, pid_file],
        capture_output=True, text=True, timeout=60, check=True).stdout.split()
    assert out == ["3", "0"]
    with open(pid_file) as f:
        assert not _alive(int(f.read()))


def test_timeout_stops_the_command(tmp_path):
    sup = SUPERVISOR.replace("dict(os.environ), 60", "dict(os.environ), 1")
    hang = "import time; time.sleep(120)"
    out = subprocess.run([sys.executable, "-c", sup, ROOT, hang, "x"],
                         capture_output=True, text=True, timeout=60, check=True)
    assert out.stdout.split() == ["1", "0"]
    assert "timed out" in out.stderr
