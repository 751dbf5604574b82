"""The session factory fits the host and ships the package to Python
workers whatever the driver's cwd."""

from __future__ import annotations

import os
import subprocess
import sys

from pygdf_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_driver_memory_fits_the_host():
    mem = session._DEFAULTS["spark.driver.memory"]
    assert mem.endswith("m")
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert 0 < int(mem[:-1]) <= min(24 << 10, ram_mb)


_FOREIGN_CWD_SCRIPT = f"""
import sys
sys.path.insert(0, {REPO!r})
from pygdf_spark import get_spark
from pygdf_spark.queries import registry

queries, _ = registry()
spark = get_spark("foreign-cwd")
for name in ("mm_image_decode_png", "sstream_lake_source_live"):
    print(name, queries[name](spark, "/root/testdata/sf0.001").count())
spark.stop()
"""


def test_python_workers_import_the_package_from_any_cwd(tmp_path):
    """A codec (mapInPandas) and a Python-DataSource lake stream
    unpickle pygdf_spark on the workers with the driver in /tmp."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_GRAFT_CPUS", "2")
    proc = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_SCRIPT], cwd="/tmp", env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    counts = dict(line.split() for line in proc.stdout.splitlines())
    assert int(counts["mm_image_decode_png"]) > 0
    assert int(counts["sstream_lake_source_live"]) > 0
