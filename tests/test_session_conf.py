"""Pin the session confs ``get_spark`` sets, and that the package has no
second configuration path: ``extra_conf`` is the one override, and the
only ``SPARK_GRAFT_*`` env var the package reads is the opt-in bucketed
fact layout.
"""

from __future__ import annotations

import glob
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_session_confs(spark):
    conf = spark.sparkContext.getConf()
    cpus = re.fullmatch(r"local\[(\d+)\]", conf.get("spark.master")).group(1)
    expected = {
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "1024",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "256MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "256MB",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64KB",
        "spark.cleaner.periodicGC.interval": "90s",
        "spark.sql.shuffle.partitions": cpus,
    }
    assert {k: conf.get(k) for k in expected} == expected


def test_default_cpus_is_affinity_count(tmp_path):
    """``get_spark()`` without ``cpus`` runs one task thread per CPU this
    process may use. A fresh process, because ``getOrCreate`` would hand
    back the shared test session."""
    code = (
        "from minoan_athenaeum_spark.session import get_spark\n"
        "s = get_spark(extra_conf={'spark.driver.memory': '1g'})\n"
        "c = s.sparkContext.getConf()\n"
        "print(c.get('spark.master'), c.get('spark.sql.shuffle.partitions'))\n"
        "s.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["PYTHONPATH"] = REPO
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr
    n = len(os.sched_getaffinity(0))
    assert out.stdout.split()[-2:] == [f"local[{n}]", str(n)]


def test_package_reads_only_the_bucketed_env_var():
    names = set()
    pattern = os.path.join(REPO, "minoan_athenaeum_spark", "**", "*.py")
    for path in glob.glob(pattern, recursive=True):
        with open(path) as f:
            names.update(re.findall(r"SPARK_GRAFT_\w+", f.read()))
    assert names == {"SPARK_GRAFT_BUCKETED_FACTS"}
