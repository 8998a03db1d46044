"""Session start-up: a failing prewarm is loud and leaves no scratch dir,
the scratch dir sits in Spark's local dir, and Arrow never falls back."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import DataFrameReader

from geodesk_gol_spark.session import _prewarm


def _fail_read_back(monkeypatch):
    """Make the prewarm's parquet read-back raise; returns the list the
    attempted read paths are appended to."""
    seen = []

    def boom(self, *paths, **options):
        seen.extend(paths)
        raise RuntimeError("injected parquet read failure")

    monkeypatch.setattr(DataFrameReader, "parquet", boom)
    return seen


def test_prewarm_failure_raises_and_cleans_up(spark, monkeypatch):
    """The parquet read-back fails after the scratch file is written:
    ``_prewarm`` must raise (not swallow it) and still remove the
    ``gol_prewarm_<pid>`` dir."""
    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    seen = _fail_read_back(monkeypatch)
    base = spark.conf.get("spark.local.dir", tempfile.gettempdir())
    scratch = os.path.join(base, f"gol_prewarm_{os.getpid()}")
    with pytest.raises(RuntimeError, match="injected"):
        _prewarm(spark)
    assert seen == [scratch]
    assert not os.path.exists(scratch)


def test_prewarm_scratch_in_first_spark_local_dir(spark, monkeypatch, tmp_path):
    """``SPARK_LOCAL_DIRS`` overrides ``spark.local.dir``, as in Spark:
    the scratch goes to its first entry and is removed afterwards."""
    first, second = tmp_path / "a", tmp_path / "b"
    monkeypatch.setenv("SPARK_LOCAL_DIRS", f"{first},{second}")
    seen = _fail_read_back(monkeypatch)
    with pytest.raises(RuntimeError, match="injected"):
        _prewarm(spark)
    assert seen == [str(first / f"gol_prewarm_{os.getpid()}")]
    assert list(first.iterdir()) == [] and not second.exists()


def test_arrow_fallback_disabled(spark):
    """A pandas frame Arrow cannot convert raises, never silently taking
    the row-by-row worker path."""
    import pandas as pd

    assert spark.conf.get(
        "spark.sql.execution.arrow.pyspark.fallback.enabled") == "false"
    with pytest.raises(Exception), pytest.warns(
            UserWarning, match="will not continue"):
        spark.createDataFrame(pd.DataFrame({"v": [1, "a"]}), "v long")
