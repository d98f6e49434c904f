"""CPU accounting by role over the benchmark's process tree."""

from __future__ import annotations

import subprocess
import sys
import time

import pytest

from perfbench.proctree import ROLES, CpuMeter, per_op, spent


def _busy(seconds: float) -> None:
    end = time.process_time() + seconds
    while time.process_time() < end:
        pass


def test_driver_cpu_is_counted():
    meter = CpuMeter(jvm_pid=None)
    before = meter.read()
    _busy(0.3)
    used = spent(before, meter.read())
    assert set(used) == set(ROLES)
    assert used["driver"] == pytest.approx(0.3, abs=0.05)
    assert used["jvm"] == used["jit"] == 0


def test_a_reaped_child_is_counted():
    meter = CpuMeter(jvm_pid=None)
    before = meter.read()
    code = "import time\nend = time.process_time() + 0.3\nwhile time.process_time() < end: pass"
    subprocess.run([sys.executable, "-c", code], check=True)
    used = spent(before, meter.read())
    # the child ended and was reaped, so its time is in the driver's
    # children time; a worker reaped by Spark's daemon counts the same way
    assert used["driver"] + used["python_workers"] >= 0.28


def test_per_op_is_the_window_total_over_the_operations():
    samples = [
        {"driver": 1.0, "jvm": 2.0, "jit": 0.5, "python_workers": 3.0},
        {"driver": 0.0, "jvm": 4.0, "jit": 1.5, "python_workers": 1.0},
    ]
    assert per_op(samples) == {"driver": 0.5, "jvm": 3.0, "jit": 1.0, "python_workers": 2.0}
