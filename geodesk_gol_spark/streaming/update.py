"""Incremental update (S8/J10): change-feed merge into the feature store.

The reference's ``gol update`` is an incremental batch pipeline
(/root/reference/src/change/Updater.cpp:28-84: SEARCH → PREPARE_UPDATE →
APPLY_UPDATE over .osc change files, revision-ordered).  Spark shape:

- a *change frame* (op, typed_id, payload columns, revision) replaces the
  ChangeModel (src/change/model/ChangeModel.*);
- SEARCH (which tiles hold affected copies, J10) is a join of changes
  against ``feature_tiles`` on typed_id (src/change/Updater.cpp:258-270);
- APPLY is MERGE-emulation (no Iceberg jars in this image): latest-wins
  dedup of the change feed, anti-join the store, union upserts — the
  same exactly-once effect the reference gets from its tile transaction
  (Compiler.cpp:955-976), made atomic by an overwrite of the affected
  tile partitions only.

``apply_changes_streaming`` runs the same merge through Structured
Streaming's foreachBatch for a change *stream* (micro-batch =
revision batch; Trigger.AvailableNow ≙ catch-up ingestion like the
reference's replication client, src/change/ReplicationClient.cpp).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import fs

CHANGE_OPS = ("create", "modify", "delete")


def latest_changes(changes: DataFrame) -> DataFrame:
    """Latest-wins per typed_id by (revision, change_seq) — the
    reference's strictly-ordered revisions (TesArchive.h:30-34)."""
    w = Window.partitionBy("typed_id").orderBy(
        F.desc("revision"), F.desc("change_seq")
    )
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_changes(store_rows: DataFrame, changes: DataFrame) -> DataFrame:
    """Apply a change frame to store rows (MERGE INTO emulation).

    changes: (typed_id, op, revision, change_seq, tags, + any store
    columns for creates, e.g. tile_id from the assignment pipeline) —
    deletes drop every copy (home + ghost); modifies replace tags;
    upserts not present in the store are INSERTED (reference applies
    adds via TileCompiler.addChanges, src/change/Updater.cpp:68-84).
    A create whose typed_id already exists behaves as a modify, and a
    surviving change that is absent from the store is inserted even when
    its latest op is 'modify' — a batch may contain create→modify of the
    same feature, and latest-wins keeps only the modify row; the
    reference's revision-ordered apply retains that feature too.

    Precondition for batch-split invariance (merge(all) ==
    merge(merge(b1), b2), what lets the streaming path compound): each
    upsert carries the FULL payload — a null payload column falls back
    to the *store* value, so a later partial modify would undo an
    earlier same-batch modify's column.  .osc modifies always carry the
    complete feature, so this holds for the reference feed; see
    tests/test_streaming.py::test_change_merge_split_invariance.
    """
    latest = latest_changes(changes)
    deletes = latest.filter(F.col("op") == "delete").select("typed_id")
    upserts = latest.filter(F.col("op") != "delete")

    surviving = store_rows.join(deletes, "typed_id", "left_anti")
    # a modify replaces EVERY payload column the store carries and the
    # change provides (tags, coordinates, node_ids, members, tile_id …):
    # the dominant OSM change is a node move, which the reference's
    # revision-ordered apply propagates — not just a tag edit
    payload = [c for c in upserts.columns
               if c not in ("typed_id", "op", "revision", "change_seq")
               and c in store_rows.columns]
    modified = surviving.join(
        upserts.select(
            "typed_id", *[F.col(c).alias(f"_new_{c}") for c in payload]),
        "typed_id",
        "left",
    )
    for c in payload:
        modified = modified.withColumn(
            c, F.coalesce(F.col(f"_new_{c}"), F.col(c)))
    modified = modified.drop(*[f"_new_{c}" for c in payload])
    # INSERT arm: any surviving upsert whose typed_id is not stored
    # becomes a new row (not just op=='create' — see docstring), carrying
    # whatever store columns the caller attached (tile_id etc.); missing
    # columns null-fill so the union stays schema-stable.
    inserts = (
        upserts
        .join(store_rows.select("typed_id"), "typed_id", "left_anti")
        .drop("op", "revision", "change_seq")
    )
    # flag columns get their semantic defaults instead of null: an
    # inserted feature is a home copy (is_ghost=false, twin=0) — a null
    # there makes every ~is_ghost consumer silently drop the new row
    for c, d in (("is_ghost", F.lit(False)), ("twin", F.lit(0))):
        if c in store_rows.columns:
            inserts = inserts.withColumn(
                c, F.coalesce(F.col(c), d) if c in inserts.columns else d
            )
    common = [c for c in inserts.columns if c in modified.columns]
    return modified.unionByName(
        inserts.select(*common), allowMissingColumns=True
    )


def prepare_node_changes(changes: DataFrame, catalog) -> DataFrame:
    """Recompute the derived store columns for node upserts — creates
    AND modifies: projection (cx, cy), point bbox, and tile assignment
    (J1 on the NEW coordinates; src/change/Updater.cpp:68-84).  A node
    move is the dominant OSM change and crosses tile boundaries, so a
    modify that kept the stale tile_id/cx/cy would leave rows whose
    coordinates lie outside their tile (tile-pruned queries miss them
    and check_store's bbox_outside_tile invariant fires).

    The join back is on the FULL change key (typed_id, revision,
    change_seq), so a backlog that creates the same typed_id twice (e.g.
    create→delete→create) keeps one assignment per change row instead
    of fanning out into a nondeterministic latest-wins tie.

    Ways/relations are left untouched: their change rows carry no
    tile_id, so the merge keeps each store copy's own tile (ghost rows
    included) — re-tiling a changed way needs the compile pass, as in
    the reference's tile recompilation."""
    from .. import sqlgen

    key = ["typed_id", "revision", "change_seq"]
    node_ups = changes.filter(
        (F.col("op") != "delete") & (F.col("ftype") == 0)
        & F.col("lon100nd").isNotNull() & F.col("lat100nd").isNotNull()
    ).selectExpr(
        *key,
        f"{sqlgen.x_expr('lon100nd')} AS _new_cx",
        f"{sqlgen.y_expr('lat100nd')} AS _new_cy",
        f"{sqlgen.cell_expr(sqlgen.x_expr('lon100nd'))} AS cell_col",
        f"{sqlgen.cell_expr(sqlgen.y_expr('lat100nd'))} AS cell_row",
    )
    assigned = catalog.assign(node_ups).select(
        *key, "_new_cx", "_new_cy", F.col("tile_id").alias("_new_tile")
    )
    out = changes.join(assigned, key, "left")
    derived = {
        "tile_id": F.col("_new_tile"),
        "cx": F.col("_new_cx"), "cy": F.col("_new_cy"),
        "minx": F.col("_new_cx"), "miny": F.col("_new_cy"),
        "maxx": F.col("_new_cx"), "maxy": F.col("_new_cy"),
    }
    for c, expr in derived.items():
        out = out.withColumn(c, expr)
    return out.drop("_new_tile", "_new_cx", "_new_cy")


def _latest_applied_epoch(out_path: str, before: int) -> int | None:
    """Most recent epoch dir < ``before`` with a _SUCCESS marker."""
    epochs = [int(m.group(1)) for d in fs.ls(out_path)
              if (m := re.fullmatch(r"epoch=(\d+)", d))]
    for e in sorted((e for e in epochs if e < before), reverse=True):
        if fs.exists(f"{out_path}/epoch={e}/_SUCCESS"):
            return e
    return None


def apply_changes_streaming(
    spark,
    change_stream: DataFrame,
    store_path: str,
    out_path: str,
):
    """Micro-batch merge: each batch is revision-ordered and applied via
    foreachBatch (exactly-once per the sink's atomic rename).

    Epochs COMPOUND: each batch merges against the latest successfully
    written epoch (falling back to the base store), so a stream split
    across micro-batches applies every batch's changes, and a replayed
    epoch re-reads its original input state (idempotent overwrite).

    TILE-SCOPED APPLY (the 100 TB shape): when the store carries
    ``tile_id``, each epoch recomputes ONLY the tiles holding a changed
    feature copy (J10's search set) plus the tiles newly assigned to
    upserts; every other tile's files are linked from the previous epoch
    through :func:`geodesk_gol_spark.fs.link` — hard links on the local
    filesystem (no byte rewrite), copies on any other.  This mirrors the
    reference's per-affected-tile recompilation
    (src/change/Updater.cpp:68-84) instead of rewriting the whole
    store per batch: a daily diff touching 0.01 % of features costs a
    scan+write proportional to the affected tiles, not the corpus.
    The affected-tile id set is bounded by the catalog (≤ 65 535), so
    the driver-side collect is safe at any input size.  Epochs stay
    full snapshots (``read.parquet(epoch dir)`` sees every tile);
    replay is idempotent because the epoch dir is wiped by the static
    overwrite before re-linking.  Stores without ``tile_id`` take the
    full-merge path.

    ``store_path`` and ``out_path`` are bare paths or any Hadoop URIs;
    every listing, marker and link goes through :mod:`geodesk_gol_spark.fs`.
    A merged epoch that wrote rows into a tile the search did not mark
    affected raises instead of linking over them."""

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        prev = _latest_applied_epoch(out_path, int(epoch_id))
        src = store_path if prev is None else f"{out_path}/epoch={prev}"
        spark_b = batch.sparkSession
        store = spark_b.read.parquet(src)
        epoch_dir = f"{out_path}/epoch={epoch_id}"
        # (tile dir, file name) of every file in the source's tile dirs
        prev_files = [p.rsplit("/", 2)[1:]
                      for p in fs.glob(f"{src}/tile_id=*/*")]
        if "tile_id" not in store.columns:
            merged = merge_changes(store, batch)
            merged.write.mode("overwrite").parquet(epoch_dir)
            return
        if not prev_files:
            # first tile-scoped epoch over a flat store: one full merge,
            # written tile-partitioned so every later epoch can link
            merged = merge_changes(store, batch)
            (merged.write.mode("overwrite").partitionBy("tile_id")
             .parquet(epoch_dir))
            return
        # J10 SEARCH: tiles holding any copy of a changed feature, plus
        # the tiles upserts are (re)assigned to.  Bounded by the tile
        # catalog, so collect() is driver-safe.
        aff_rows = (
            store.join(batch.select("typed_id").distinct(), "typed_id")
            .select("tile_id").distinct().collect()
        )
        aff = {r["tile_id"] for r in aff_rows}
        if "tile_id" in batch.columns:
            aff |= {
                r["tile_id"]
                for r in batch.filter(F.col("op") != "delete")
                .select("tile_id").distinct().collect()
            }
        aff.discard(None)
        # the null-tile partition (upserts that carry no assignment) is
        # always in scope: merged output may add rows to it
        scan = store.filter(
            F.col("tile_id").isin([int(t) for t in aff])
            | F.col("tile_id").isNull()
        )
        merged = merge_changes(scan, batch)
        (merged.write.mode("overwrite").partitionBy("tile_id")
         .parquet(epoch_dir))
        # link every unaffected tile partition from the previous epoch;
        # Spark's _SUCCESS is replaced by our own marker AFTER linking so
        # a crash mid-link leaves the epoch unfinished (replay rewrites)
        marker = f"{epoch_dir}/_SUCCESS"
        fs.delete(marker)
        written = set(fs.ls(epoch_dir))
        skip = {f"tile_id={int(t)}" for t in aff}
        for d, f in prev_files:
            if (d in skip or d.startswith("tile_id=__HIVE")
                    or f.startswith((".", "_"))):
                continue
            if d in written:
                raise RuntimeError(
                    f"epoch {epoch_id} merged rows into {d}, which holds "
                    f"no changed feature")
            fs.link(f"{src}/{d}/{f}", f"{epoch_dir}/{d}/{f}")
        fs.write_text(marker, "")

    return (
        change_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", f"{out_path}/_checkpoints")
        .trigger(availableNow=True)
        .start()
    )
