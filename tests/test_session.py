"""get_spark's deploy contract: an explicit master sets the session, a
spark-submit launch keeps what was submitted."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = f"""
import sys
sys.path.insert(0, {REPO!r})
from heavy_hitters_spark.spark import get_spark

s = get_spark()
print("PROBE", s.sparkContext.master, *(s.conf.get(k) for k in (
    "spark.sql.shuffle.partitions", "spark.driver.memory", "spark.ui.enabled",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
)))
s.stop()
"""


def test_explicit_master_sets_slots_as_shuffle_partitions(spark):
    assert spark.sparkContext.master == "local[8]"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_spark_submit_master_and_confs_take_effect(tmp_path):
    from pyspark.find_spark_home import _find_spark_home

    probe = tmp_path / "probe.py"
    probe.write_text(PROBE)
    submit = os.path.join(_find_spark_home(), "bin", "spark-submit")
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    out = subprocess.run(
        [submit, "--master", "local[3]", "--driver-memory", "2g",
         "--conf", "spark.sql.shuffle.partitions=7", "--conf", "spark.ui.enabled=true",
         "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=1000", str(probe)],
        capture_output=True, text=True, env=env, timeout=600, check=True,
    ).stdout
    line = [ln for ln in out.splitlines() if ln.startswith("PROBE ")][-1]
    # get_spark sets driver memory, the UI and the batch size too, but
    # only where the submit left them unset
    assert line.split()[1:] == ["local[3]", "7", "2g", "true", "1000"]
