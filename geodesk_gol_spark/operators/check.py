"""Integrity checker — the ``gol check`` analogue (reference:
/root/reference/src/gol/CheckCommand.cpp:10-27 dispatching
src/check/TileChecker.cpp per-tile deep validation).

Spark shape: each invariant is one declarative aggregate over the store
(plus catalog/exports/stubs).  Catalyst does not fuse them: the union
of the seven counts scans and shuffles once per invariant, 15 Spark jobs
on the sf0.001 build.  Violations count distributed, only per-check
summaries reach the driver.  ``check_store`` returns a summary frame
(check, n_bad); ``assert_store_ok`` raises on any violation with a
sample of offending rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import WORLD_BITS
from ..functions.hilbert import ORDER


def _violations(store: DataFrame, catalog, exports: DataFrame | None,
                stubs: DataFrame | None) -> dict[str, DataFrame]:
    checks: dict[str, DataFrame] = {}
    spark = store.sparkSession

    # 1. every tile_id exists in the catalog
    cat = spark.createDataFrame(
        catalog.tiles[["tile_id"]].astype("int64")
    ).select(F.col("tile_id").cast("int"))
    checks["unknown_tile"] = store.select("tile_id").distinct().join(
        F.broadcast(cat), "tile_id", "left_anti"
    )

    # 2. bbox ∩ tile rect ≠ ∅ for every copy (TileChecker bounds check);
    # pow(2, k) is double-exact for k <= 31
    span = F.expr(
        f"CAST(pow(2, {WORLD_BITS} - (tile_id >> 24)) AS BIGINT)"
    )
    tx0 = (F.col("tile_id").cast("long") % 4096) * span
    ty0 = (F.shiftright(F.col("tile_id"), 12) % 4096).cast("long") * span
    contained = (
        (F.col("maxx") >= tx0) & (F.col("minx") < tx0 + span)
        & (F.col("maxy") >= ty0) & (F.col("miny") < ty0 + span)
    )
    checks["bbox_outside_tile"] = store.filter(~contained).select(
        "tile_id", "typed_id", "minx", "miny", "maxx", "maxy"
    )

    # 3. no duplicate copies of a feature in one tile
    checks["duplicate_copy"] = (
        store.groupBy("tile_id", "typed_id", "is_ghost")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )

    # 4. every feature has >= 1 non-ghost home copy
    checks["ghost_without_home"] = (
        store.filter(F.col("is_ghost")).select("typed_id").distinct()
        .join(
            store.filter(~F.col("is_ghost")).select("typed_id").distinct(),
            "typed_id",
            "left_anti",
        )
    )

    # 5. hilbert key within the curve's range
    lim = 1 << (2 * ORDER)
    checks["hilbert_range"] = store.filter(
        (F.col("hilbert") < 0) | (F.col("hilbert") >= lim)
    ).select("tile_id", "typed_id", "hilbert")

    if exports is not None:
        # 6. TEX dense + zero-based per tile (ExportTable.h:10-48)
        checks["tex_not_dense"] = (
            exports.groupBy("tile_id")
            .agg(F.min("tex").alias("lo"), F.max("tex").alias("hi"),
                 F.count(F.lit(1)).alias("n"),
                 F.count_distinct("tex").alias("nd"))
            .filter(
                (F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1)
                | (F.col("nd") != F.col("n"))
            )
        )
    if stubs is not None and exports is not None:
        # 7. stub closure: every (tip, member, tex) resolves in exports
        checks["stub_unresolved"] = stubs.join(
            exports.select(
                F.col("tile_id").alias("tip"),
                F.col("typed_id").alias("member_typed"),
                "tex",
            ),
            ["tip", "member_typed", "tex"],
            "left_anti",
        )
    return checks


def check_store(store: DataFrame, catalog, exports: DataFrame | None = None,
                stubs: DataFrame | None = None) -> DataFrame:
    """Run every invariant; returns (invariant, n_bad) — all zeros = clean."""
    spark = store.sparkSession
    parts = []
    for name, bad in _violations(store, catalog, exports, stubs).items():
        parts.append(
            bad.agg(F.count(F.lit(1)).alias("n_bad")).select(
                F.lit(name).alias("invariant"), "n_bad"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def assert_store_ok(store: DataFrame, catalog,
                    exports: DataFrame | None = None,
                    stubs: DataFrame | None = None) -> None:
    """Raise AssertionError with samples if any invariant is violated."""
    bad = {
        r["invariant"]: r["n_bad"]
        for r in check_store(store, catalog, exports, stubs).collect()
        if r["n_bad"] > 0
    }
    if bad:
        v = _violations(store, catalog, exports, stubs)
        samples = {name: v[name].limit(3).collect() for name in bad}
        raise AssertionError(f"store integrity violations: {bad}; "
                             f"samples: {samples}")
