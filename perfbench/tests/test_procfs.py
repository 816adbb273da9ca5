"""procfs sampler against a child process that burns a known CPU time.

Run from the checkout root: python3 -m pytest perfbench/tests -q
"""

import os
import subprocess
import sys
import time

from perfbench import procfs

BURN_S = 0.6
# /proc reports CPU time in clock ticks, and a live process's ticks are
# truncated, so allow a couple of ticks below the burnt time
TICKS = 2 / os.sysconf("SC_CLK_TCK")
# spins until its own CPU clock reaches BURN_S, then sleeps so the
# parent can see it alive
BURN = ("import time\n"
        f"while time.process_time() < {BURN_S}: pass\n"
        "print('done', flush=True)\n"
        "time.sleep(30)\n")


def _burner():
    return subprocess.Popen([sys.executable, "-c", BURN],
                            stdout=subprocess.PIPE, text=True)


def test_tree_includes_live_child_and_its_cpu():
    me = os.getpid()
    before = procfs.cpu_seconds(procfs.tree_pids(me))
    child = _burner()
    try:
        assert child.stdout.readline().strip() == "done"
        pids = procfs.tree_pids(me)
        assert me in pids and child.pid in pids
        burnt = procfs.cpu_seconds(pids) - before
        # the interpreter's own start-up adds a little on top
        assert BURN_S - TICKS <= burnt < BURN_S + 0.5
        assert procfs.rss_bytes([child.pid]) > 1 << 20
    finally:
        child.kill()
        child.wait(timeout=10)


def test_reaped_child_cpu_stays_counted():
    me = os.getpid()
    before = procfs.cpu_seconds(procfs.tree_pids(me))
    child = _burner()
    assert child.stdout.readline().strip() == "done"
    child.kill()
    child.wait(timeout=10)  # its time moves to our cutime/cstime
    assert child.pid not in procfs.tree_pids(me)
    burnt = procfs.cpu_seconds(procfs.tree_pids(me)) - before
    assert BURN_S - TICKS <= burnt < BURN_S + 0.5


def test_sampler_peak_covers_child():
    child = None
    with procfs.TreeSampler(os.getpid(), interval=0.01) as s:
        alone = procfs.rss_bytes(procfs.tree_pids(os.getpid()))
        child = _burner()
        assert child.stdout.readline().strip() == "done"
        time.sleep(0.1)
    try:
        assert s.max_procs >= 2
        assert s.peak_rss > alone
        assert BURN_S - TICKS <= s.cpu_s < BURN_S + 0.5
    finally:
        child.kill()
        child.wait(timeout=10)
