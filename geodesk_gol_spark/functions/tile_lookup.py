"""Vectorized survivor-tile lookup — the J1/J3 hot path.

Replaces the previous per-zoom broadcast-join chain (4 BroadcastExchange
per call site, 12 per build) with ONE narrow projection: the survivor set
(<= 65 535 packed tile ids, bounded by BuildSettings.max_tiles) is shipped
to executors once via ``SparkContext.broadcast`` as a *sorted* int64
array, and an Arrow-batched pandas UDF resolves each
(cell_col, cell_row, zstar) triple to the deepest surviving
ancestor-or-self tile with one ``np.searchsorted`` membership probe per
ladder zoom (<= 4 vectorized passes per batch).

This is the Spark re-expression of the reference's dense cellToPile array
lookup (/root/reference/src/build/util/TileCatalog.h:74-82): O(1) per
feature, no exchange, no shuffle — the stage stays a single narrow map
regardless of input size, which is exactly what survives a 1000-executor
100 TB scan.  Packing uses the same tile-id layout as config.tile_id
(zoom<<24 | row<<12 | col), so a candidate's packed key IS its tile id —
membership in the survivor set is the whole lookup.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import LADDER as _LADDER, LEAF_ZOOM

# broadcast memo: (applicationId, survivor-id digest) → Broadcast.  A
# long-lived updater calls catalog.assign once per micro-batch/epoch;
# re-broadcasting the same ≤65 535-id array every call would accumulate
# dead broadcast blocks in the BlockManager without bound.  Keyed by
# applicationId (not id(spark) — recycled object addresses) + a content
# digest, so a rebuilt catalog gets a fresh broadcast.
_BCAST_CACHE: dict[tuple[str, str], object] = {}


def _survivor_ids(spark: SparkSession, tiles_pd):
    """Broadcast of the catalog's sorted survivor ids, memoized."""
    import hashlib

    ids = np.sort(tiles_pd["tile_id"].to_numpy().astype(np.int64))
    key = (spark.sparkContext.applicationId,
           hashlib.sha1(ids.tobytes()).hexdigest())
    bids = _BCAST_CACHE.get(key)
    if bids is None:
        # drop memo entries of dead sessions, and cap same-app entries
        # (releasing OUR reference; ContextCleaner reclaims the blocks
        # once any in-flight plan closures release theirs — never
        # destroy() here, a lazy frame may still hold the broadcast)
        for k in [k for k in _BCAST_CACHE if k[0] != key[0]]:
            del _BCAST_CACHE[k]
        same_app = [k for k in _BCAST_CACHE if k[0] == key[0]]
        for k in same_app[:-7]:
            del _BCAST_CACHE[k]
        bids = spark.sparkContext.broadcast(ids)
        _BCAST_CACHE[key] = bids
    return bids


def _resolve(arr, c, r, zs):
    """Deepest survivor in sorted ``arr`` for each (col, row) leaf cell,
    capped at zoom ``zs``; the root tile (id 0) is the default."""
    out = np.zeros(len(c), np.int64)
    todo = np.ones(len(c), bool)
    n = len(arr)
    for z in _LADDER:
        shift = LEAF_ZOOM - z
        cand = (z << 24) | ((r >> shift) << 12) | (c >> shift)
        m = todo & (zs >= z)
        if not m.any():
            continue
        pos = np.searchsorted(arr, cand)
        hit = m & (arr[np.minimum(pos, n - 1)] == cand)
        out[hit] = cand[hit]
        todo &= ~hit
    return out.astype(np.int32)


def survivor_lookup_udf(spark: SparkSession, tiles_pd) -> "callable":
    """Build the lookup UDF for a catalog's tile set.

    ``tiles_pd`` is the driver-side catalog frame (column ``tile_id``).
    Returns a pandas UDF (cell_col int, cell_row int, zstar int) -> int
    tile_id.  ``zstar`` caps the deepest zoom considered (J3 TilePair
    semantics); pass a literal 12 for plain J1 node assignment.
    """
    bids = _survivor_ids(spark, tiles_pd)

    @F.pandas_udf("int")
    def lookup(cell_col: pd.Series, cell_row: pd.Series,
               zstar: pd.Series) -> pd.Series:
        return pd.Series(_resolve(
            bids.value, cell_col.to_numpy(np.int64),
            cell_row.to_numpy(np.int64), zstar.to_numpy(np.int64)))

    return lookup


def survivor_lookup2_udf(spark: SparkSession, tiles_pd) -> "callable":
    """Both TilePair corner lookups in ONE vectorized pandas UDF.

    (c0, r0, c1, r1, zstar) -> bigint (t0 << 32) | t1.  Functionally
    two :func:`survivor_lookup_udf` calls, fused so the plan carries
    one ArrowEvalPython stage instead of two (one Python round trip
    over the frame, half the Arrow serialization; J3 calls this on
    every way and relation extent).  The pair packs into one int64 —
    tile ids are non-negative < 2^28 — so the column stays a primitive
    Arrow array end to end (a list-typed return would build a Python
    list object per row)."""
    bids = _survivor_ids(spark, tiles_pd)

    @F.pandas_udf("long")
    def lookup2(c0: pd.Series, r0: pd.Series, c1: pd.Series,
                r1: pd.Series, zstar: pd.Series) -> pd.Series:
        arr = bids.value
        zs = zstar.to_numpy(np.int64)
        t0 = _resolve(arr, c0.to_numpy(np.int64), r0.to_numpy(np.int64), zs)
        t1 = _resolve(arr, c1.to_numpy(np.int64), r1.to_numpy(np.int64), zs)
        return pd.Series((t0.astype(np.int64) << 32) | t1.astype(np.int64))

    return lookup2


def assign_tiles(
    df: DataFrame,
    tiles_pd,
    cell_col: str = "cell_col",
    cell_row: str = "cell_row",
    zstar: Column | None = None,
    out: str = "tile_id",
) -> DataFrame:
    """Append ``out`` = deepest surviving tile for each row's cell."""
    lookup = survivor_lookup_udf(df.sparkSession, tiles_pd)
    z = zstar if zstar is not None else F.lit(LEAF_ZOOM)
    return df.withColumn(
        out,
        lookup(F.col(cell_col).cast("int"), F.col(cell_row).cast("int"),
               z.cast("int")),
    )
