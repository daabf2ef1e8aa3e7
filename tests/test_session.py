"""Session defaults derived from the machine."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_memory(env_value: "str | None") -> str:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_DRIVER_MEM"}
    if env_value is not None:
        env["SPARK_GRAFT_DRIVER_MEM"] = env_value
    env["PYTHONPATH"] = REPO
    code = ("from restaurant_etl_code_spark.session import DEFAULT_CONF\n"
            "print(DEFAULT_CONF['spark.driver.memory'])\n")
    return subprocess.run([sys.executable, "-c", code], env=env,
                          capture_output=True, text=True,
                          check=True).stdout.strip()


def test_driver_heap_default_fits_the_machine():
    # local mode runs every task inside the driver heap; a default above
    # the machine's memory lets the kernel kill the JVM before the heap
    # is ever pressed to collect
    value = _driver_memory(None)
    units = {"m": 1 << 20, "g": 1 << 30}
    heap = int(value[:-1]) * units[value[-1]]
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert heap <= physical // 2
    assert heap <= 16 << 30
    assert _driver_memory("2g") == "2g"
