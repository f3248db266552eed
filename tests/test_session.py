"""session.get_spark: what a session built by it gives a driver script."""

import os
import subprocess
import sys
import textwrap

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from pyspark.sql import functions as F
    from intraarchivededuplicator_spark.functions.udfs import simhash64_udf
    from intraarchivededuplicator_spark.session import get_spark

    spark = get_spark(app="workers-path", master="local[2]", shuffle_partitions=2)
    df = spark.createDataFrame([("a b c d",), ("e f g",)], "text string")
    print("ROWS", len(df.select(simhash64_udf(F.col("text"))).collect()))
    spark.stop()
    """
)


def test_workers_import_a_package_found_only_through_sys_path(tmp_path):
    """A driver that finds the package only through sys.path.insert (no
    PYTHONPATH, run from another directory) runs a pandas UDF: the Python
    workers get the package root from the session."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, REPO_ROOT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS 2" in proc.stdout
