"""Tile compiler (O1 + O4 + S4): Hilbert-clustered, deterministic tile store.

Reference: per-tile compilation orders features along a Hilbert curve to
build R-tree leaves (src/tile/compiler/HilbertIndexBuilder.cpp:16-130) and
writes one binary blob per tile under a store transaction
(src/build/compile/Compiler.cpp:831-886,960-976).  TES serialization sorts
features by (type, id) for determinism (src/tile/tes/TesWriter.h:25-46).

Spark re-expression: the "store" is a flat parquet dataset whose files
are range-clustered on (tile_id, Hilbert prefix), each file's range
planned on the driver from row counts (row-group min/max pruning on
tile_id ≙ the reference's tile-index walk); each file is sorted by
(tile_id, hilbert, ftype, id), which gives the row-group spatial
locality the reference gets from its R-tree leaf packing, with
(ftype, id) as the deterministic tiebreak.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import fs
from ..functions.hilbert import ORDER, hilbert_udf

WORLD_BITS = 31


def with_tile_local_hilbert(df: DataFrame) -> DataFrame:
    """Add a Hilbert key from the feature center, scaled to the tile.

    Expects columns: tile_id, cx, cy (center world coords).
    The tile's zoom is tile_id >> 24; the tile spans 2^(31-zoom) world
    units, quantized to 2^ORDER Hilbert cells per axis.
    """
    # tile edge = 2^(31-zoom) world units; pow(2, k) is double-exact (k<=53)
    span = f"CAST(pow(2, {WORLD_BITS} - (tile_id >> 24)) AS BIGINT)"
    scale = f"CAST(pow(2, {WORLD_BITS} - {ORDER} - (tile_id >> 24)) AS BIGINT)"
    hx = (
        f"CAST(floor((cx - CAST(tile_id & 4095 AS BIGINT) * {span}) / "
        f"CAST({scale} AS DOUBLE)) AS BIGINT)"
    )
    hy = (
        f"CAST(floor((cy - CAST((tile_id >> 12) & 4095 AS BIGINT) * {span}) / "
        f"CAST({scale} AS DOUBLE)) AS BIGINT)"
    )
    lim = (1 << ORDER) - 1
    clamp = "greatest(CAST(0 AS BIGINT), least(CAST({lim} AS BIGINT), {v}))"
    hxc = F.expr(clamp.format(lim=lim, v=hx))
    hyc = F.expr(clamp.format(lim=lim, v=hy))
    return df.withColumn("hilbert", hilbert_udf(hxc, hyc))


def compile_feature_rows(
    feature_tiles: DataFrame,
    points: DataFrame,
    extents: DataFrame,
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
) -> DataFrame:
    """Join assignments with payloads into store rows.

    Output: tile_id, typed_id, ftype, id, is_ghost, twin, tags,
            minx..maxy bbox, cx, cy, hilbert, doc_id, span_seq.
    """
    from ..functions.areas import relation_is_area, way_is_area

    # one descriptor frame per feature (payload + geom + area flag merged
    # per-type BEFORE the big join — 1 shuffle join with feature_tiles
    # instead of 3)
    from ..functions.mercator import with_projection

    nulli = F.lit(None).cast("int")
    # nodes: projection is a narrow transform — no join needed
    node_desc = with_projection(nodes).select(
        (F.col("id") * 4).alias("typed_id"), "tags", "doc_id", "span_seq",
        "lon100nd", "lat100nd",
        F.col("x").alias("minx"), F.col("y").alias("miny"),
        F.col("x").alias("maxx"), F.col("y").alias("maxy"),
    ).withColumn("is_area", F.lit(False))
    # union way+relation payloads BEFORE the extent join: the extents
    # frame (every way+relation bbox) is corpus-sized, so joining it once
    # halves that join's shuffle I/O vs one join per type
    ext_by_id = extents.select("typed_id", "minx", "miny", "maxx", "maxy")
    wr_desc = ways.select(
        (F.col("id") * 4 + 1).alias("typed_id"), "tags", "doc_id", "span_seq",
        nulli.alias("lon100nd"), nulli.alias("lat100nd"),
        way_is_area().alias("is_area"),
    ).unionByName(relations.select(
        (F.col("id") * 4 + 2).alias("typed_id"), "tags", "doc_id", "span_seq",
        nulli.alias("lon100nd"), nulli.alias("lat100nd"),
        relation_is_area().alias("is_area"),
    )).join(ext_by_id, "typed_id")
    desc = node_desc.unionByName(wr_desc)

    rows = (
        feature_tiles.join(desc, "typed_id")
        .withColumn("ftype", (F.col("typed_id") % 4).cast("tinyint"))
        .withColumn("id", F.shiftright("typed_id", 2))
        .withColumn(
            "cx", ((F.col("minx") + F.col("maxx")) / 2).cast("long")
        )
        .withColumn("cy", ((F.col("miny") + F.col("maxy")) / 2).cast("long"))
    )
    return with_tile_local_hilbert(rows)


# rows per independent store commit: a killed write redoes only the
# batches it had not committed.  Every input here (sf0.1 included) is
# one batch.
BATCH_ROWS = 1 << 20
_LAST_TILE = (1 << 31) - 1
# range key: tile_id, then the top 4 bits of the tile-local Hilbert key
_KEY = f"(CAST(tile_id AS BIGINT) * 16 + shiftright(hilbert, {2 * ORDER - 4}))"
_SORT = ("tile_id", "hilbert", "ftype", "id")


def _slice(cum: int, c: int, total: int, n: int) -> int:
    """Index of the equal-count slice (of ``n``) that holds the midpoint
    of an item of ``c`` rows after ``cum`` rows."""
    return min(n - 1, n * (2 * cum + c) // (2 * total))


def _tile_rows(counts) -> dict[int, int]:
    rows: dict[int, int] = {}
    for key, c in sorted(counts):
        rows[key >> 4] = rows.get(key >> 4, 0) + c
    return rows


def plan_store(counts, n_files: int, batch_rows: int) -> list[dict]:
    """Plan the store's commit batches and files from ``(key, rows)``
    counts, key = ``tile_id * 16 + Hilbert prefix``.

    Batches: ``ceil(rows / batch_rows)`` contiguous tile ranges of
    near-equal rows; a tile joins the batch whose equal-count slice
    holds its midpoint.  Their ranges ``[tile_lo, tile_hi]`` (inclusive)
    cover ``[0, 2^31-1]``.

    Files: the sorted keys cut the same way into at most ``n_files``
    contiguous ranges, and again at each batch edge.  A tile heavier
    than one file's share thus spans several files at Hilbert-prefix
    boundaries, each a contiguous spatial run.

    Returns one record per batch: tile_lo, tile_hi and its files as
    ``[index, key_lo, key_hi, rows]``.
    """
    counts = sorted(counts)
    total = sum(c for _, c in counts)
    n_batches = max(1, -(-total // batch_rows))
    batch_of, cum = {}, 0
    for t, c in _tile_rows(counts).items():
        batch_of[t] = _slice(cum, c, total, n_batches)
        cum += c
    files: list[list] = []
    cum = 0
    for key, c in counts:
        at = (batch_of[key >> 4], _slice(cum, c, total, n_files))
        cum += c
        if files and files[-1][0] == at:
            files[-1][2:] = [key, files[-1][3] + c]
        else:
            files.append([at, key, key, c])
    runs: list[list[list]] = []
    for i, f in enumerate(files):
        if i == 0 or f[0][0] != files[i - 1][0][0]:
            runs.append([])
        runs[-1].append(f)
    for i, f in enumerate(files):
        f[0] = i
    los = [0] + [r[0][1] >> 4 for r in runs[1:]]
    his = [lo - 1 for lo in los[1:]] + [_LAST_TILE]
    return [{"tile_lo": lo, "tile_hi": hi, "files": r}
            for lo, hi, r in zip(los, his, runs or [[]])]


def _parts(batch: dict) -> list[str]:
    """Store file names a batch commits (an empty store's one file)."""
    return [f"part-{j:05d}.parquet" for j, *_ in batch["files"]] or [
        "part-00000.parquet"]


def _write_batch(rows: DataFrame, path: str, i: int, batch: dict) -> None:
    """Stage batch ``i`` under ``<path>/_batches/b<i>``, one file per
    planned range, rename each file to ``<path>/part-<index>.parquet``,
    then commit the batch by writing its range record
    ``<path>/_batches/b<i>.json``."""
    files = batch["files"]
    stage = f"{path}/_batches/b{i:03d}"
    sel = rows.filter(F.col("tile_id").between(batch["tile_lo"],
                                               batch["tile_hi"]))
    if files:
        whens = " ".join(f"WHEN {_KEY} <= {hi} THEN {j}"
                         for j, _, hi, _ in files)
        (
            sel.withColumn("_file", F.expr(f"CASE {whens} END"))
            .repartition(len(files), "_file")
            .sortWithinPartitions("_file", *_SORT)
            .write.partitionBy("_file").parquet(stage)
        )
        dirs = [f"{stage}/_file={j}" for j, *_ in files]
    else:  # no rows: one schema-only file keeps the store readable
        sel.coalesce(1).write.parquet(stage)
        dirs = [stage]
    for d, name in zip(dirs, _parts(batch)):
        [src] = [f for f in fs.ls(d) if f.endswith(".parquet")]
        fs.rename(f"{d}/{src}", f"{path}/{name}")
    fs.write_text(f"{path}/_batches/b{i:03d}.json", json.dumps(batch))


def _committed(path: str, i: int, batch: dict) -> bool:
    """A batch is reused only if it committed the same planned ranges."""
    marker = f"{path}/_batches/b{i:03d}.json"
    if not fs.exists(marker):
        return False
    try:
        return json.loads(fs.read_text(marker)) == batch
    except ValueError:  # a marker cut short by a crash
        return False


def write_store(rows: DataFrame, path: str) -> list[dict]:
    """S4: write the tile store as range-clustered parquet files planned
    from row counts.

    NOT ``partitionBy("tile_id")``: at the reference's 65 535 tiles that
    layout explodes into tiny files.  One aggregate counts rows per
    (tile_id, Hilbert prefix) on the driver; :func:`plan_store` cuts the
    keys into ``spark.sql.shuffle.partitions`` contiguous ranges, and
    each range becomes exactly one file ``part-<index>.parquet``, sorted
    by (tile_id, hilbert, ftype, id).  Tile queries prune via row-group
    min/max stats on tile_id, like the reference's tile-index walk.  The
    files depend only on the rows, not on how they are partitioned.

    The reference commits each compiled tile under a store transaction
    (src/build/compile/Compiler.cpp:960-976) inside a restartable build
    phase.  Here the commit unit is a batch of files, committed by
    rename alone: Spark stages batch ``i`` under ``<path>/_batches/b<i>``,
    each staged file is renamed to its final ``<path>/part-<index>.parquet``,
    and the batch's range record ``<path>/_batches/b<i>.json`` marks it
    committed.  A re-run keeps the files of every batch committed with
    the same plan, never rewriting them, and deletes every other
    ``part-*``.  Finally ``_batches`` is removed and ``<path>/_SUCCESS``
    stamped, so a finished store holds only its parquet files and
    ``_SUCCESS``.  A finished store at ``path`` is overwritten.  ``path``
    is bare or any Hadoop URI (see :mod:`geodesk_gol_spark.fs`).

    Returns the lineage records: one ``store_batch`` per batch (tile
    range, rows, seconds, resumed) and one ``store_tile`` per tile (its
    rows), both from the planning counts.
    """
    n = int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    counts = [(r[0], r[1]) for r in
              rows.groupBy(F.expr(_KEY)).count().collect()]
    batches = plan_store(counts, n, BATCH_ROWS)
    if fs.exists(f"{path}/_SUCCESS"):
        fs.delete(path)
    resumed = [_committed(path, i, b) for i, b in enumerate(batches)]
    # drop every other marker (and staging dir) before the files it
    # covers: a crash in between must not leave a marker without files
    keep = {f"b{i:03d}.json" for i, r in enumerate(resumed) if r}
    for name in fs.ls(f"{path}/_batches"):
        if name not in keep:
            fs.delete(f"{path}/_batches/{name}")
    keep = {name for b, r in zip(batches, resumed) if r for name in _parts(b)}
    for name in fs.ls(path):
        if name.startswith("part-") and name not in keep:
            fs.delete(f"{path}/{name}")
    lineage = []
    for i, batch in enumerate(batches):
        t0 = time.time()
        if not resumed[i]:
            _write_batch(rows, path, i, batch)
        lineage.append({
            "stage": "store_batch", "batch": i,
            "tile_lo": batch["tile_lo"], "tile_hi": batch["tile_hi"],
            "n_rows": sum(f[3] for f in batch["files"]),
            "seconds": round(time.time() - t0, 3), "resumed": resumed[i],
        })
    fs.delete(f"{path}/_batches")
    fs.write_text(f"{path}/_SUCCESS", "")
    return lineage + [{"stage": "store_tile", "tile_id": t, "n_rows": c}
                      for t, c in _tile_rows(counts).items()]
