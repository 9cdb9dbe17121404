"""A pinned frame survives the loss of an executor when the session
sets ``spark.checkpoint.dir`` (see ``shmr_spark.session.materialize``).

The session runs in a subprocess on ``local-cluster[2,1,1024]``: two
executor JVMs, one of which is killed between two collects of the same
``training_pipeline`` result. AQE partition coalescing is off so the
pipeline's pinned frames keep several partitions, spread over both
executors; with coalescing on, a small frame can collapse into one
partition that happens to sit on the survivor and hide the loss. With
``localCheckpoint`` blocks the second collect fails with
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.
"""

from __future__ import annotations

import subprocess
import sys

_SCRIPT = """
import os, shutil, sys, time
from pyspark.find_spark_home import _find_spark_home
from shmr_spark.operators.training_pipeline import training_pipeline
from shmr_spark.session import get_spark

spark = get_spark(
    master="local-cluster[2,1,1024]",
    shuffle_partitions=4,
    extra_conf={
        "spark.checkpoint.dir": sys.argv[1],
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.driver.memory": "1g",
    },
)
sc = spark.sparkContext._jsc.sc()
deadline = time.time() + 60
while sc.getExecutorIds().size() < 2 and time.time() < deadline:
    time.sleep(0.2)
assert sc.getExecutorIds().size() == 2, "executors did not register"
df = training_pipeline(spark, sys.argv[2], n_shards=4)
before = sorted(df.collect())
sc.killExecutor(sc.getExecutorIds().apply(0))
deadline = time.time() + 30
while sc.getExecutorIds().size() > 1 and time.time() < deadline:
    time.sleep(0.2)
assert sc.getExecutorIds().size() == 1, "executor was not removed"
after = sorted(df.collect())
assert before and after == before, (len(before), len(after))
print("ROWS", len(before))
app = spark.sparkContext.applicationId
spark.stop()
# the local-cluster workers keep executor logs under SPARK_HOME/work
shutil.rmtree(os.path.join(_find_spark_home(), "work", app), ignore_errors=True)
"""


def test_pipeline_survives_executor_loss(sf_dir, tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path / "ck"), sf_dir],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=240,
    )
    errors = [ln for ln in proc.stderr.splitlines() if "Exception:" in ln]
    assert proc.returncode == 0 and "ROWS" in proc.stdout, (
        "\n".join(errors[:3]) or proc.stderr[-3000:]
    )
