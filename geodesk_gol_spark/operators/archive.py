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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pyramid import TileCatalog
from ..query.spatial import tiles_for_bbox
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


def save_tiles(
    store: DataFrame,
    catalog: TileCatalog,
    path: str,
    bbox: tuple[int, int, int, int] | None = None,
) -> dict:
    """S5: export tiles (all, or those intersecting ``bbox`` — U3).

    The manifest is written with driver-local file I/O, so ``path`` must
    be a locally mounted filesystem (fail fast before the expensive
    parquet write, not after)."""
    if "://" in path:
        raise NotImplementedError(
            f"save_tiles writes its manifest with local file I/O; "
            f"mount the target or pass a local path (got {path!r})")
    if bbox is not None:
        hit, _ = tiles_for_bbox(catalog, *bbox)
        # same pruning strategy as query/spatial.bbox_filter: small sets
        # push down as an In-predicate; large ones (up to 65 535 tiles —
        # too many literals for a sane plan) prune via broadcast semi-join
        if len(hit) <= 256:
            sel = store.filter(F.col("tile_id").isin(hit))
        else:
            hit_df = store.sparkSession.createDataFrame(
                [(int(t),) for t in hit], "tile_id int")
            sel = store.join(F.broadcast(hit_df), "tile_id", "left_semi")
    else:
        sel = store
    # the store's own writer and layout: contiguous tile ranges per file
    # + row-group stats pruning (schema survives the round-trip)
    write_store(sel, os.path.join(path, "tiles"))
    files = sorted(
        f for f in os.listdir(os.path.join(path, "tiles"))
        if f.endswith(".parquet")
    )
    manifest = {
        "tiles": _tile_checksums(sel),
        "bbox": list(bbox) if bbox else None,
        # file listing makes the archive fetchable over dumb HTTP (no
        # directory listing needed — the reference's TileDownloadClient
        # likewise drives downloads off the .gol tile index, not the
        # server; src/gol/load/TileDownloadClient.h)
        "files": files,
    }
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump(manifest, f)
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
    rows = spark.read.parquet(os.path.join(path, "tiles"))
    if verify:
        with open(os.path.join(path, MANIFEST)) as f:
            manifest = json.load(f)
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
    import shutil

    # crash recovery: a prior run that died between its two swap renames
    # left the original content in `.old` with no target — restore it
    # before reading, so this run merges into the real base instead of
    # silently seeding the target from source alone
    _old = target.rstrip("/") + ".old"
    if os.path.exists(_old) and not os.path.exists(
        os.path.join(target, MANIFEST)
    ):
        if os.path.exists(target):
            shutil.rmtree(target)
        os.rename(_old, target)

    src = load_tiles(spark, source, verify=verify)
    if bbox is not None:
        if catalog is None:
            raise ValueError("bbox copy requires the tile catalog")
        hit, _ = tiles_for_bbox(catalog, *bbox)
        hit_df = spark.createDataFrame(
            [(int(t),) for t in hit], "tile_id int")
        src = src.join(F.broadcast(hit_df), "tile_id", "left_semi")
    if os.path.exists(os.path.join(target, MANIFEST)):
        base = load_tiles(spark, target, verify=verify)
        merged = merge_archives(base, src)
    else:
        merged = src
    tmp = target.rstrip("/") + ".copytmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    manifest = save_tiles(merged, catalog, tmp)
    old = target.rstrip("/") + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(target):
        os.rename(target, old)
    os.rename(tmp, target)
    if os.path.exists(old):
        shutil.rmtree(old)
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
    with open(os.path.join(dest, MANIFEST)) as f:
        manifest = json.load(f)
    record = {
        "source": url,
        "tiles": len(manifest["tiles"]),
        "rows": int(sum(t["rows"] for t in manifest["tiles"].values())),
        "verified": bool(verify),
    }
    with open(os.path.join(dest, "installed.json"), "w") as f:
        json.dump(record, f)
    _ = rows  # the DataFrame is the caller's to use; install is I/O
    return record
