"""Measurement helpers under ``scripts/``."""

import subprocess
import sys
from pathlib import Path

SCRIPTS = Path(__file__).resolve().parent.parent / "scripts"

_FORK_WHILE_METERING = """
import os, sys
sys.path.insert(0, sys.argv[1])
from _scaling_job import CpuMeter

meter = CpuMeter(interval=0.01)
meter.start()
pid = os.fork()
if pid == 0:
    os._exit(0)
os.waitpid(pid, 0)
meter.stop()
meter.join(5)
assert not meter.is_alive()
"""


def test_cpu_meter_survives_a_fork():
    """A process that forks while a ``CpuMeter`` runs: the child's
    ``threading._after_fork`` stops the meter's thread by calling its
    ``Thread._stop``, which an attribute of the meter must not shadow
    (one fork; the child exits at once)."""
    run = subprocess.run([sys.executable, "-c", _FORK_WHILE_METERING, str(SCRIPTS)],
                         capture_output=True, text=True, timeout=60)
    assert run.returncode == 0, run.stderr
    assert "TypeError" not in run.stderr, run.stderr
