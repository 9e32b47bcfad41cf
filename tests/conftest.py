"""Shared fixtures: one SparkSession per test run, tiny synthetic data."""

from __future__ import annotations

import os
import sys

import pytest

# this checkout's package, wherever the checkout lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from graphrag_rs_spark.session import get_spark
    from graphrag_rs_spark.config import PipelineConfig

    cfg = PipelineConfig(shuffle_partitions=8)
    s = get_spark("graphrag-tests", master="local[8]", cfg=cfg)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_rows():
    from graphrag_rs_spark.datagen import generate_rows

    return generate_rows(30, seed=42, max_turns=30)


@pytest.fixture(scope="session")
def tiny_oracle(tiny_rows):
    from graphrag_rs_spark.oracle import run_oracle_pipeline

    return run_oracle_pipeline(tiny_rows)


@pytest.fixture(scope="session")
def tiny_transcripts(spark, tiny_rows):
    return spark.createDataFrame(tiny_rows).cache()
