"""get_spark makes the repo importable in every executor's Python workers:
local workers inherit the driver's PYTHONPATH, executors under a non-local
master get it from ``spark.executorEnv.PYTHONPATH``."""

import os


def test_executor_env_carries_repo_root(spark):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH") == repo
