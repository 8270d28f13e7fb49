"""Every query batch imports on its own, and ``load_all()`` registers the
whole registry in the driver's order.

Each check runs in a fresh interpreter: tier-1 modules import single
batches at collection time, so the order of ``QUERIES`` inside the
pytest process is not the driver's.
"""

from __future__ import annotations

import os
import pkgutil
import re
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import riptable_spark
from riptable_spark.queries import BATCHES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python(code: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=300
    )


def test_batches_lists_every_batch_module():
    modules = {m.name for m in pkgutil.iter_modules(riptable_spark.__path__)}
    assert set(BATCHES) == {m for m in modules if re.fullmatch(r"queries\d+", m)}


def test_every_batch_imports_alone():
    with ThreadPoolExecutor(4) as pool:
        runs = pool.map(lambda b: _python(f"import riptable_spark.{b}"), BATCHES)
        failed = {b: r.stderr.strip().splitlines()[-1] for b, r in zip(BATCHES, runs) if r.returncode}
    assert not failed


def test_load_all_registers_the_driver_order():
    r = _python(
        "from riptable_spark.queries import ORACLES, QUERIES, load_all\n"
        "load_all()\n"
        "print(len(ORACLES), *QUERIES)"
    )
    assert r.returncode == 0, r.stderr
    n_oracles, *names = r.stdout.split()
    with open(os.path.join(ROOT, "tests", "data", "registry_order.txt")) as fh:
        snapshot = fh.read().split()
    assert names[: len(snapshot)] == snapshot
    assert len(names) == int(n_oracles) == 660
