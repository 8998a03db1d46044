"""Shared fixtures: one SparkSession per test run + a DuckDB oracle conn.

Mirrors the reference's test strategy (SURVEY.md §5): fixture corpus +
independent oracle, cross-format consistency, invariant checks.
"""

from __future__ import annotations

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    from geodesk_gol_spark.session import get_spark

    spark = get_spark("local[8]", app_name="geodesk-gol-tests")
    for t in TABLES:
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").createOrReplaceTempView(t)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def built(spark, tmp_path_factory):
    """One full build_gol at density 50, shared read-only by the
    pipeline, query and archive tests: (BuildResult, persisted store)."""
    from geodesk_gol_spark.config import BuildSettings
    from geodesk_gol_spark.plans.pipeline import build_gol

    out = str(tmp_path_factory.mktemp("gol_build"))
    res = build_gol(spark, SF_DIR, out, BuildSettings.for_fixture(50))
    store = spark.read.parquet(res.store_path()).persist()
    store.count()
    return res, store


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def assert_frames_equal(spark_df, duck_df, keycols):
    """Order-insensitive exact comparison (sorted by keycols, cols by name)."""
    import pandas as pd

    s = spark_df if isinstance(spark_df, pd.DataFrame) else spark_df.toPandas()
    d = duck_df if isinstance(duck_df, pd.DataFrame) else duck_df.df()
    s = s.sort_values(keycols).reset_index(drop=True)
    d = d.sort_values(keycols).reset_index(drop=True)
    s = s[sorted(s.columns)]
    d = d[sorted(d.columns)]
    assert len(s) == len(d), f"row count: spark={len(s)} duck={len(d)}"
    pd.testing.assert_frame_equal(s, d, check_dtype=False)


def crash_store_write_after(monkeypatch, k):
    """Make the store's batch write raise once ``k`` batches have
    committed; returns the real batch write."""
    from geodesk_gol_spark.operators import compile_tiles

    real, done = compile_tiles._write_batch, []

    def write_batch(*args):
        if len(done) == k:
            raise RuntimeError("injected crash mid-write")
        real(*args)
        done.append(args)

    monkeypatch.setattr(compile_tiles, "_write_batch", write_batch)
    return real


def path_kinds(tmp_path):
    """The two path forms the engine takes for one test: a bare path and
    a ``file://`` URI, each as (local dir, the string the engine gets)."""
    out = []
    for kind in ("bare", "uri"):
        d = tmp_path / kind
        d.mkdir()
        out.append((d, str(d) if kind == "bare" else d.as_uri()))
    return out
