"""Tile archive save / load (S5 / S6) + tile-set intersection (U3).

Reference: ``gol save`` exports selected tiles as a compressed archive
with per-tile checksums (src/gol/SaveCommand.cpp:40-100,
src/tile/tes/TesArchive.h:23-55); ``gol load`` imports/merges tiles
(src/gol/LoadCommand.cpp:30-60).  Tiles to export = tile-index walk ∩
bbox filter (SaveCommand.cpp:59-75 — U3).

Spark shape: the archive is a portable parquet export of the selected
tile partitions plus a JSON manifest carrying per-tile row counts and an
order-insensitive content checksum (xor-aggregated row hashes — the
reference's per-tile checksum, made shuffle-order independent).  Load
verifies the manifest and merges with latest-wins semantics.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fs
from ..plans.pyramid import TileCatalog
from ..query import spatial
from .compile_tiles import write_store

MANIFEST = "manifest.json"


def _tile_checksums(rows: DataFrame) -> dict[int, dict]:
    # hash EVERY column (maps/arrays via canonical JSON — parquet
    # round-trips preserve entry order, so save and verify agree): a
    # checksum over ids alone would pass verify with corrupted tags or
    # coordinates
    cols = []
    for f in rows.schema.fields:
        if f.dataType.typeName() in ("map", "array", "struct"):
            cols.append(f"to_json({f.name})")
        else:
            cols.append(f.name)
    sums = (
        rows.groupBy("tile_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # order-insensitive 64-bit content checksum (xor: no overflow)
            F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("sum_hash"),
        )
        .collect()
    )
    return {
        int(r["tile_id"]): {"rows": int(r["n"]), "checksum": int(r["sum_hash"])}
        for r in sums
    }


def _bbox_tiles(rows: DataFrame, catalog: TileCatalog,
                bbox: tuple[int, int, int, int]) -> DataFrame:
    """The rows of the tiles ``bbox`` intersects (U3), pruned as
    ``spatial.bbox_filter`` prunes: small sets push down as an
    In-predicate; large ones (up to 65 535 tiles — too many literals for
    a sane plan) semi-join a broadcast Arrow-built frame."""
    hit, _ = spatial.tiles_for_bbox(catalog, *bbox)
    if len(hit) <= spatial._ISIN_MAX:
        return rows.filter(F.col("tile_id").isin(hit))
    hit_df = rows.sparkSession.createDataFrame(
        pd.DataFrame({"tile_id": np.array(hit, dtype=np.int32)}),
        "tile_id int")
    # a USING join moves tile_id first: keep the rows' column order, on
    # which the files' schema and the checksums depend
    return (rows.join(F.broadcast(hit_df), "tile_id", "left_semi")
            .select(*rows.columns))


def save_tiles(
    store: DataFrame,
    catalog: TileCatalog,
    path: str,
    bbox: tuple[int, int, int, int] | None = None,
) -> dict:
    """S5: export tiles (all, or those intersecting ``bbox`` — U3).

    ``path`` is bare or any Hadoop URI: the tiles are written by
    :func:`write_store` and the manifest through
    :mod:`geodesk_gol_spark.fs`."""
    sel = store if bbox is None else _bbox_tiles(store, catalog, bbox)
    # the store's own writer and layout: contiguous tile ranges per file
    # + row-group stats pruning (schema survives the round-trip)
    write_store(sel, f"{path}/tiles")
    files = sorted(f for f in fs.ls(f"{path}/tiles")
                   if f.endswith(".parquet"))
    manifest = {
        "tiles": _tile_checksums(sel),
        "bbox": list(bbox) if bbox else None,
        # file listing makes the archive fetchable over dumb HTTP (no
        # directory listing needed — the reference's TileDownloadClient
        # likewise drives downloads off the .gol tile index, not the
        # server; src/gol/load/TileDownloadClient.h)
        "files": files,
    }
    fs.write_text(f"{path}/{MANIFEST}", json.dumps(manifest))
    return manifest


class ArchiveChecksumError(RuntimeError):
    pass


def _fetch_archive(url: str, cache_dir: str) -> str:
    """Download an archive (manifest + listed parquet files) over HTTP(S)
    into ``cache_dir`` and return the local path.

    The reference streams tiles from a repository URL with ranged HTTP
    (src/gol/load/TileDownloadClient.h, doc/releases/v2.1.0.md); here a
    whole-file fetch per parquet part is the right granularity — each
    part is already a contiguous tile_id range (see save_tiles), so a
    bbox-subset consumer fetches only the parts whose ranges intersect.
    Driver-side and sequential by design: archive fetch is control-plane
    I/O (the data plane is the Spark parquet scan afterwards).
    """
    from urllib.request import urlopen  # stdlib; no extra deps

    os.makedirs(os.path.join(cache_dir, "tiles"), exist_ok=True)
    base = url.rstrip("/")
    with urlopen(f"{base}/{MANIFEST}") as r:
        manifest = json.load(r)
    # a republished archive (same URL, new content) must invalidate the
    # part cache: a stale part with a fresh manifest fails verify on
    # every load forever (and verify=False would serve stale data
    # silently).  The manifest carries per-tile checksums, so comparing
    # manifests is comparing content identity.
    mpath = os.path.join(cache_dir, MANIFEST)
    if os.path.exists(mpath):
        with open(mpath) as f:
            cached = json.load(f)
        if cached != manifest:
            import shutil

            shutil.rmtree(os.path.join(cache_dir, "tiles"))
            os.makedirs(os.path.join(cache_dir, "tiles"))
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    for name in manifest.get("files", []):
        if "/" in name or name.startswith("."):
            raise ValueError(f"unsafe file name in manifest: {name!r}")
        dst = os.path.join(cache_dir, "tiles", name)
        if os.path.exists(dst):
            continue  # resumable: only FULLY fetched parts are kept —
            # in-flight data goes to dst.part and is renamed on success,
            # so a crash mid-download never leaves a truncated parquet
            # that a later verify=False load would consume silently.
        # dot-prefixed staging name: Spark's parquet reader skips hidden
        # files, so a stale .part from a crashed fetch can't break the
        # later directory scan either
        part = os.path.join(cache_dir, "tiles", f".{name}.part")
        with urlopen(f"{base}/tiles/{name}") as r, open(part, "wb") as f:
            while chunk := r.read(1 << 20):
                f.write(chunk)
        os.replace(part, dst)
    return cache_dir


def load_tiles(spark: SparkSession, path: str, verify: bool = True,
               cache_dir: str | None = None) -> DataFrame:
    """S6: read an archive back (local path or http(s):// URL), verifying
    per-tile checksums."""
    # file:// goes through the same fetch path — exercises the cache/
    # invalidation logic without a web server (tests), and urlopen
    # serves it natively
    if path.startswith(("http://", "https://", "file://")):
        if cache_dir is None:
            import hashlib
            import tempfile

            tag = hashlib.sha256(path.encode()).hexdigest()[:12]
            cache_dir = os.path.join(tempfile.gettempdir(), f"gol_archive_{tag}")
        path = _fetch_archive(path, cache_dir)
    rows = spark.read.parquet(f"{path}/tiles")
    if verify:
        manifest = json.loads(fs.read_text(f"{path}/{MANIFEST}"))
        got = _tile_checksums(rows)
        want = {int(k): v for k, v in manifest["tiles"].items()}
        if got != want:
            bad = {k for k in set(got) | set(want) if got.get(k) != want.get(k)}
            raise ArchiveChecksumError(f"tile checksum mismatch: {sorted(bad)[:10]}")
    return rows


def merge_archives(base: DataFrame, incoming: DataFrame) -> DataFrame:
    """Merge an incoming archive into a base store: incoming tiles replace
    base tiles wholesale (the reference's tile-granularity transaction)."""
    incoming_tiles = incoming.select("tile_id").distinct()
    kept = base.join(incoming_tiles, "tile_id", "left_anti")
    return kept.unionByName(incoming)


def copy_tiles(
    spark: SparkSession,
    source: str,
    target: str,
    catalog: TileCatalog | None = None,
    bbox: tuple[int, int, int, int] | None = None,
    verify: bool = True,
) -> dict:
    """``gol copy <source-gol> <target-gol>`` analogue
    (/root/reference/src/gol/CopyCommand.cpp:37-44 — tile transfer
    between GOLs, with area options): load the source archive (local or
    URL), optionally restrict to the tiles intersecting ``bbox`` (U3
    semantics), and merge into the target archive — incoming tiles
    replace target tiles wholesale, everything else is kept.

    The merged archive is written to a sibling temp dir and swapped in
    (Spark cannot overwrite a directory it is reading).  The swap is two
    renames — target→``.old`` then tmp→target — so a crash in the gap
    leaves the content only in the ``.old`` sibling; entry recovery
    below restores it, making the whole copy crash-safe.  Returns the
    new target manifest."""
    # crash recovery: a prior run that died between its two swap renames
    # left the original content in `.old` with no target — restore it
    # before reading, so this run merges into the real base instead of
    # silently seeding the target from source alone
    old = target.rstrip("/") + ".old"
    if not fs.exists(f"{target}/{MANIFEST}") and fs.exists(old):
        fs.delete(target)
        fs.rename(old, target)

    src = load_tiles(spark, source, verify=verify)
    if bbox is not None:
        if catalog is None:
            raise ValueError("bbox copy requires the tile catalog")
        src = _bbox_tiles(src, catalog, bbox)
    if fs.exists(f"{target}/{MANIFEST}"):
        base = load_tiles(spark, target, verify=verify)
        merged = merge_archives(base, src)
    else:
        merged = src
    tmp = target.rstrip("/") + ".copytmp"
    fs.delete(tmp)
    manifest = save_tiles(merged, catalog, tmp)
    fs.delete(old)
    if fs.exists(target):
        fs.rename(target, old)
    fs.rename(tmp, target)
    fs.delete(old)
    return manifest


def install_archive(spark: SparkSession, url: str, dest: str,
                    verify: bool = True) -> dict:
    """``gol install`` analogue (reference dispatch table,
    src/gol/GolTool.cpp:29-48): fetch a published archive into a local
    directory, verify every per-tile checksum, and stamp an install
    record (source URL + manifest) so later loads are purely local.
    Idempotent — a re-install of the same content is a no-op beyond the
    manifest comparison; a republished URL invalidates stale parts
    (see :func:`_fetch_archive`)."""
    rows = load_tiles(spark, url, verify=verify, cache_dir=dest)
    manifest = json.loads(fs.read_text(f"{dest}/{MANIFEST}"))
    record = {
        "source": url,
        "tiles": len(manifest["tiles"]),
        "rows": int(sum(t["rows"] for t in manifest["tiles"].values())),
        "verified": bool(verify),
    }
    fs.write_text(f"{dest}/installed.json", json.dumps(record))
    _ = rows  # the DataFrame is the caller's to use; install is I/O
    return record
