"""Session start-up: a failing prewarm is loud and leaves no scratch dir."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import DataFrameReader

from geodesk_gol_spark.session import _prewarm


def test_prewarm_failure_raises_and_cleans_up(spark, monkeypatch):
    """The parquet read-back fails after the scratch file is written:
    ``_prewarm`` must raise (not swallow it) and still remove the
    ``gol_prewarm_<pid>`` dir."""

    def boom(self, *paths, **options):
        raise RuntimeError("injected parquet read failure")

    monkeypatch.setattr(DataFrameReader, "parquet", boom)
    base = spark.conf.get("spark.local.dir", tempfile.gettempdir())
    scratch = os.path.join(base, f"gol_prewarm_{os.getpid()}")
    with pytest.raises(RuntimeError, match="injected"):
        _prewarm(spark)
    assert not os.path.exists(scratch)
