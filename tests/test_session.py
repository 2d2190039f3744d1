"""Session factory: the Python workers import the package whatever the
working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# each script puts the checkout on the driver's path only, as
# __spark_entry__ does, and prints "ANSWER <worker's> <expected>"
_HEAD = """
import sys
sys.path.insert(0, {root!r})
"""

# a grouped pandas UDF that calls into the package: the worker unpickles
# the function by reference, so it must import the package itself
_UDF = """
import pandas as pd
from cdc_realtime_pipeline_spark.session import get_spark
from cdc_realtime_pipeline_spark.streaming.anomaly_stateful import (
    detect_anomalies_batch_of_key,
)

def alerts(pdf):
    got, _ = detect_anomalies_batch_of_key(pdf["market"][0], pdf, {{}})
    return pd.DataFrame({{"n": [len(got)]}})

spark = get_spark("worker_path", cpus=1)
rows = [("M-0", i, i, 100.0, 1.0, 1000.0, 1000 * i) for i in range(3)]
df = spark.createDataFrame(
    rows,
    "market string, sequential_id long, trade_id long, trade_price double,"
    " trade_volume double, trade_amount double, upbit_timestamp long",
)
worker = df.groupBy("market").applyInPandas(alerts, "n long").first()["n"]
print("ANSWER", worker, alerts(df.toPandas())["n"][0])
spark.stop()
"""

# a session built elsewhere (the driver's) whose first engine call
# registers the package's Python data source; the read that follows is
# made engine-ready, as a registry query's fixture load makes it
_DATASOURCE = """
import os
from pyspark.sql import SparkSession
from cdc_realtime_pipeline_spark.session import ensure_engine_conf
from cdc_realtime_pipeline_spark.sources.cdc_python_datasource import register

spark = SparkSession.builder.master("local[1]").getOrCreate()
os.makedirs("topic")
with open("topic/part-00000", "w") as fh:
    fh.write("a\\nb\\nc\\n")
register(spark)
ensure_engine_conf(spark)
n = spark.read.format("cdc_envelope").option("path", os.path.abspath("topic")).load().count()
print("ANSWER", n, 3)
spark.stop()
"""


@pytest.mark.parametrize("body", [_UDF, _DATASOURCE], ids=["get_spark_udf", "driver_session_datasource"])
def test_workers_import_the_package_from_any_directory(tmp_path, body):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    script = tmp_path / "job.py"
    script.write_text(textwrap.dedent(_HEAD + body).format(root=ROOT))
    run = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    worker, expected = run.stdout.split("ANSWER ")[1].split()[:2]
    assert worker == expected != "0"
