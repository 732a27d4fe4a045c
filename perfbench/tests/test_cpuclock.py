"""The process-tree CPU clock must count the CPU a child process spends,
both while the child runs and after it has been reaped.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cpuclock import tree_cpu_s  # noqa: E402

# half a second of CPU, then a line on stdout
BUSY = ("import time\nt = time.process_time()\n"
        "while time.process_time() - t < 0.5: pass\nprint('done', flush=True)")


def _children_cpu(fn) -> float:
    """CPU the tree spent during fn(), minus this process's own."""
    tree0, own0 = tree_cpu_s(), time.process_time()
    fn()
    return (tree_cpu_s() - tree0) - (time.process_time() - own0)


def test_running_child_is_counted():
    child = subprocess.Popen([sys.executable, "-c", BUSY + "\ninput()"],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    try:
        # blocks without spending CPU until the child has spent its share
        assert _children_cpu(child.stdout.readline) >= 0.45
    finally:
        child.communicate(b"\n")


def test_reaped_child_is_counted():
    run = lambda: subprocess.run([sys.executable, "-c", BUSY],  # noqa: E731
                                 check=True, stdout=subprocess.DEVNULL)
    assert _children_cpu(run) >= 0.45
