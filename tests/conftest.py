from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from solana_snapshot_etl_tools_spark.session import get_spark

    # One local task slot per host CPU (SPARK_GRAFT_CPUS, else the CPU
    # count), at most 8: the suite's jobs are tiny, so slots beyond the
    # cores only add per-task scheduling and Python-worker cost. On a
    # 4-CPU host local[8] ran the default gate in 52 min, local[4] in 35.
    host = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    s = get_spark(app_name="tests", cpus=min(8, host), shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def raw_accounts(spark):
    from solana_snapshot_etl_tools_spark.fixtures import raw_accounts_df

    return raw_accounts_df(spark).cache()


SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"
