"""The /proc sampler counts CPU of descendants that exited and were
reaped, as pyspark's daemon reaps its workers."""

import subprocess
import sys
import time

from perfbench.procs import ProcessTreeSampler, descendants

# a child that forks a CPU-burning grandchild, reaps it, then waits
CHILD = """
import os, sys, time
pid = os.fork()
if pid == 0:
    t = time.process_time()
    while time.process_time() - t < 0.5:
        pass
    os._exit(0)
os.waitpid(pid, 0)
print("reaped", flush=True)
sys.stdin.read()
"""


def test_cpu_of_reaped_grandchild_is_counted():
    sampler = ProcessTreeSampler()
    before = sampler.cpu_seconds()
    child = subprocess.Popen([sys.executable, "-c", CHILD],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                             text=True)
    try:
        assert child.stdout.readline().strip() == "reaped"
        assert child.pid in descendants(sampler.root)
        assert sampler.cpu_seconds() - before >= 0.45
    finally:
        child.stdin.close()
        child.wait(timeout=10)


def test_peak_window_resets():
    with ProcessTreeSampler(period_s=0.01) as sampler:
        time.sleep(0.05)
        sampler.start_window()
        assert sampler.window_peak_mb() == 0   # no pyspark daemon here
