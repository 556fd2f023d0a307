"""session.get_spark: ``cores`` picks a local master only when the
launch gave none, so ``spark-submit --master …`` is honored."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_launch_master_wins_over_cores(spark):
    assert spark.sparkContext.master == f"local[{os.environ.get('TEST_CPUS', '4')}]"
    # a fresh JVM, launched the way pyspark launches one for spark-submit
    code = ("from adscrawler_spark.session import get_spark; "
            "print(get_spark('master_probe', cores=2).sparkContext.master)")
    env = dict(os.environ, SPARK_DRIVER_MEM="512m",
               PYSPARK_SUBMIT_ARGS="--master local[1] pyspark-shell")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-1] == "local[1]", out.stdout
