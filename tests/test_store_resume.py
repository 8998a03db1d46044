"""The one store writer: file ranges planned from row counts, committed
in resumable batches (north rule: "resumable from per-tile checkpoints").

The reference commits each compiled tile under a store transaction inside
a restartable phase (src/build/compile/Compiler.cpp:960-976,
src/build/GolBuilder.cpp:61-115); here the commit unit is a batch of
planned files.  These tests verify: the files depend only on the rows,
not on how they are partitioned; batches hold the rows of a one-batch
write; the planner covers the key space and splits a hot tile; and a
write killed mid-way resumes redoing ONLY the uncommitted batches.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geodesk_gol_spark.operators import compile_tiles
from geodesk_gol_spark.operators.compile_tiles import plan_store, write_store

from .conftest import crash_store_write_after, path_kinds


def _rows(spark, n=12_000, tiles=60):
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 3).cast("tinyint").alias("ftype"),
        # skewed: tile 7 holds 40% of rows, the rest spread evenly
        F.when(F.col("id") % 10 < 4, F.lit(7))
        .otherwise(100 + F.col("id") % tiles).cast("int").alias("tile_id"),
        (F.col("id") * 2654435761 % 2**32).alias("hilbert"),
    )


def _digests(path):
    """File name → md5 of every entry in a store directory."""
    return {
        f.name: hashlib.md5(f.read_bytes()).hexdigest()
        for f in sorted(Path(path).iterdir())
    }


def _content(spark, path):
    return (
        spark.read.parquet(path)
        .orderBy("tile_id", "hilbert", "ftype", "id")
        .toPandas()
    )


def _batches(lineage):
    return [x for x in lineage if x["stage"] == "store_batch"]


def test_same_files_from_any_partitioning(spark, tmp_path):
    """The plan comes from counts, not a sample of the input partitions:
    the same rows give the same file names and bytes."""
    rows = _rows(spark)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_store(rows, a)
    write_store(rows.repartition(5), b)
    assert _digests(a) == _digests(b)
    assert len(_digests(a)) > 2


def test_resumable_matches_plain(spark, tmp_path, monkeypatch):
    """Several commit batches hold the rows of a one-batch write, and
    their lineage covers tile-id space once."""
    rows = _rows(spark)
    plain, batched = str(tmp_path / "plain"), str(tmp_path / "batched")
    one = _batches(write_store(rows, plain))
    monkeypatch.setattr(compile_tiles, "BATCH_ROWS", 2_000)
    lineage = write_store(rows, batched)
    many = _batches(lineage)
    assert len(one) == 1 and len(many) > 2
    a, b = _content(spark, plain), _content(spark, batched)
    pd.testing.assert_frame_equal(a, b)
    assert many[0]["tile_lo"] == 0 and many[-1]["tile_hi"] == (1 << 31) - 1
    for a, b in zip(many, many[1:]):
        assert b["tile_lo"] == a["tile_hi"] + 1
    assert sum(x["n_rows"] for x in many) == rows.count()
    assert not any(x["resumed"] for x in many)
    tiles = {x["tile_id"]: x["n_rows"] for x in lineage
             if x["stage"] == "store_tile"}
    assert tiles == {r["tile_id"]: r["count"]
                     for r in rows.groupBy("tile_id").count().collect()}


def test_batch_planning_covers_and_balances():
    """Planned files are ordered, disjoint, cover every key and hold
    near-equal rows; a tile heavier than one file's share spans several
    files; batches cut only at tile edges and cover tile-id space."""
    # tile 130 is hot: 16 Hilbert prefixes of 10 000 rows each
    counts = [(t * 16 + h, 10_000 if t == 130 else 200)
              for t in range(100, 160) for h in range(16)]
    total = sum(c for _, c in counts)
    keys = sorted(k for k, _ in counts)
    [one] = plan_store(counts, 8, batch_rows=total)
    assert len(one["files"]) <= 8
    batches = plan_store(counts, 8, batch_rows=120_000)
    assert len(batches) == 3
    for files in (one["files"], [f for b in batches for f in b["files"]]):
        assert [f[0] for f in files] == list(range(len(files)))
        for f, g in zip(files, files[1:]):
            assert f[1] <= f[2] < g[1]
        assert files[0][1] == keys[0] and files[-1][2] == keys[-1]
        assert sum(f[3] for f in files) == total
        assert max(f[3] for f in files) <= 2 * total / 8
        hot = [f for f in files if f[1] >> 4 <= 130 <= f[2] >> 4]
        assert len(hot) >= 2
    assert batches[0]["tile_lo"] == 0
    assert batches[-1]["tile_hi"] == (1 << 31) - 1
    for a, b in zip(batches, batches[1:]):
        assert b["tile_lo"] == a["tile_hi"] + 1
        assert a["files"][-1][2] >> 4 < b["tile_lo"] == b["files"][0][1] >> 4


def test_resume_redoes_only_uncommitted_batches(spark, tmp_path,
                                                monkeypatch):
    """Over a bare path and a file:// URI: a write killed after two
    batches committed resumes redoing only the others, and keeps the
    committed files in place (same inodes)."""
    rows = _rows(spark)
    clean = str(tmp_path / "clean")
    monkeypatch.setattr(compile_tiles, "BATCH_ROWS", 2_000)
    write_store(rows, clean)
    for local, root in path_kinds(tmp_path):
        out = f"{root}/store"
        real = crash_store_write_after(monkeypatch, 2)
        with pytest.raises(RuntimeError, match="injected crash"):
            write_store(rows, out)
        # the crashed write left two committed batches' files and no
        # finished store
        assert not (local / "store" / "_SUCCESS").exists()
        committed = {f.name: f.stat().st_ino
                     for f in (local / "store").glob("part-*.parquet")}
        assert committed

        monkeypatch.setattr(compile_tiles, "_write_batch", real)
        resumed = [x["resumed"] for x in _batches(write_store(rows, out))]
        assert resumed[:2] == [True, True] and not any(resumed[2:])
        # committed files stay where their batch renamed them
        for name, ino in committed.items():
            assert (local / "store" / name).stat().st_ino == ino, name
        assert _digests(local / "store") == _digests(clean)
    assert not Path("file:").exists()


def test_reader_ignores_batch_dirs(spark, tmp_path, monkeypatch):
    """A finished store holds only its parquet files and ``_SUCCESS``
    (the batch checkpoints are gone), so Spark and a ``*.parquet`` glob
    read exactly the rows, and disk usage counts each file once.  An
    empty input still gives a readable store.  Over a bare path and a
    file:// URI."""
    import duckdb

    rows = _rows(spark, n=2_000, tiles=10)
    monkeypatch.setattr(compile_tiles, "BATCH_ROWS", 500)
    for local, root in path_kinds(tmp_path):
        assert len(_batches(write_store(rows, f"{root}/store"))) > 1
        out = local / "store"
        names = sorted(os.listdir(out))
        assert names[0] == "_SUCCESS"
        assert all(n.startswith("part-") and n.endswith(".parquet")
                   for n in names[1:])
        assert spark.read.parquet(str(out)).count() == 2_000
        n = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{out}/*.parquet')"
        ).fetchone()[0]
        assert n == 2_000
        write_store(rows.limit(0), f"{root}/empty")
        empty = local / "empty"
        assert sorted(os.listdir(empty)) == ["_SUCCESS",
                                             "part-00000.parquet"]
        back = spark.read.parquet(str(empty))
        assert back.count() == 0 and back.columns == rows.columns


def test_resume_invalidates_stale_range_batches(spark, tmp_path,
                                               monkeypatch):
    """Regression (r04): a committed batch is only reusable when it was
    planned over the SAME ranges.  Resuming into a crashed write's path
    with other rows and fewer batches must rewrite every batch whose plan
    differs and leave the stale ones out — not finalize a store with
    duplicated or missing ranges.  Over a bare path and a file:// URI."""
    rows = _rows(spark)
    # a shifted corpus plans other ranges
    rows2 = rows.withColumn("tile_id", F.col("tile_id") + 5)
    fresh = str(tmp_path / "fresh")
    write_store(rows2, fresh)
    for local, root in path_kinds(tmp_path):
        out = f"{root}/store"
        monkeypatch.setattr(compile_tiles, "BATCH_ROWS", 2_000)
        crash_store_write_after(monkeypatch, 2)
        with pytest.raises(RuntimeError, match="injected crash"):
            write_store(rows, out)
        monkeypatch.undo()  # the real batch write, one batch per write
        second = _batches(write_store(rows2, out))
        assert len(second) == 1 and not second[0]["resumed"]
        assert _digests(fresh) == _digests(local / "store")
        assert second[0]["n_rows"] == rows2.count()
