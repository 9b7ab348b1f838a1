"""Pin the session confs ``get_spark`` sets, that none of them restates
a Spark default, and that the package has no second configuration path:
``extra_conf`` is the one override and the package reads no
``SPARK_GRAFT_*`` env var.
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
        "spark.sql.shuffle.partitions": cpus,
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": "8g",
        "spark.ui.enabled": "false",
    }
    assert {k: conf.get(k) for k in expected} == expected
    # Spark writes the qualified form back once a managed table exists.
    warehouse = conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert warehouse == "/tmp/mas_spark_warehouse"
    assert REPO in conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)


def test_no_sql_conf_restates_a_spark_default(spark):
    """Every runtime ``spark.sql.*`` conf the session was launched with
    differs from Spark's own default: unset it, read the default, put it
    back. The static ``spark.sql.warehouse.dir`` cannot be unset on a
    live session and is a location, not a tuning conf."""
    launched = {
        k: v
        for k, v in spark.sparkContext.getConf().getAll()
        if k.startswith("spark.sql.") and spark.conf.isModifiable(k)
    }
    assert "spark.sql.shuffle.partitions" in launched
    restated = {}
    for k in launched:
        current = spark.conf.get(k)
        spark.conf.unset(k)
        try:
            default = spark.conf.get(k)
        finally:
            spark.conf.set(k, current)
        if default == current:
            restated[k] = current
    assert restated == {}


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


def test_package_reads_no_spark_graft_env_var():
    names = set()
    pattern = os.path.join(REPO, "minoan_athenaeum_spark", "**", "*.py")
    for path in glob.glob(pattern, recursive=True):
        with open(path) as f:
            names.update(re.findall(r"SPARK_GRAFT_\w+", f.read()))
    assert names == set()
