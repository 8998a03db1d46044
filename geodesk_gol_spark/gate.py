"""Gate context: one cached engine build per (SparkSession, sf_dir).

The driver calls every ``queries()`` entry independently with
(spark, sf_dir); rebuilding the synthesis → parse → pyramid → assignment
chain per query would be O(queries × build).  Two cache layers:

1. **Disk** (``.gatecache/<sf>-<code-fingerprint>/``): the first call at
   a scale factor runs the whole build stage graph (``plans/pipeline.py``)
   into it, so every context frame, the store, its lineage table and
   ``metrics.jsonl`` are parquet/JSON on disk; later
   calls — *including calls from a fresh process*, e.g. a per-query
   driver harness — load the parquet directly.  The fingerprint is a
   hash of the package source, so any code change invalidates the cache
   automatically.  This is also the engine's checkpoint/resume story in
   miniature: every stage output is a restartable parquet table.
2. **Memory** (module dict): repeat calls in one process return the same
   DataFrame objects.

Reading the context back from parquet (rather than keeping the live
lineage) also gives each gate query a short, column-prunable scan plan
instead of the full build DAG.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .config import BuildSettings
from .functions.mercator import with_projection
from .plans.pipeline import ASSIGNMENT, BuildResult, build_gol
from .sources.parser import split_features

DENSITY = 500  # fixture-scale min_tile_density (reference default 75 000
               # is planet-scale; BuildSettings.h:165)

_CTX: dict[tuple[int, str], dict] = {}
_PKG = Path(__file__).resolve().parent


def _code_fingerprint() -> str:
    h = hashlib.sha256()
    for p in sorted(_PKG.rglob("*.py")):
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def _data_fingerprint(sf_dir: str) -> str:
    """Cheap input-identity hash: absolute path + (name, size, mtime) of
    every base parquet.  Regenerated-in-place testdata or two different
    trees sharing a basename must not reuse each other's context."""
    h = hashlib.sha256(str(Path(sf_dir).resolve()).encode())
    for p in sorted(Path(sf_dir).glob("*.parquet")):
        st = p.stat()
        h.update(f"{p.name}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:8]


def _cache_dir(sf_dir: str) -> Path:
    name = Path(sf_dir.rstrip("/")).name or "sf"
    return (_PKG.parent / ".gatecache"
            / f"{name}-{_code_fingerprint()}-{_data_fingerprint(sf_dir)}")


def derived_cache_dir(sf_dir: str, prefix: str) -> Path:
    """Cache dir for artifacts DERIVED from a gate context (memoized
    archives etc.) — same identity rule as the context itself (code AND
    data fingerprint; a regenerated-in-place testdata tree must not
    reuse a stale archive), same relocatable root."""
    name = Path(sf_dir.rstrip("/")).name or "sf"
    return (_PKG.parent / ".gatecache"
            / f"{prefix}_{name}-{_code_fingerprint()}"
              f"-{_data_fingerprint(sf_dir)}")


def _materialize(spark: SparkSession, sf_dir: str) -> Path:
    """Run the whole stage graph (``plans.pipeline.build_gol``) once into
    a per-process staging dir, then publish it atomically.

    Each stage reads the previous stage's parquet rather than extending
    one giant logical plan: the synth expressions are large CASE chains,
    and re-analyzing them per downstream action costs far more than the
    sf0.001/0.01 data itself.
    """
    d = _cache_dir(sf_dir)
    # per-process staging dir: two concurrent builders of the same
    # (sf, fingerprint) must not rmtree/overwrite each other's in-flight
    # writes (concurrent Spark overwrites of one dir can leave a union
    # of both jobs' part-files); the rename below keeps the existing
    # lost-the-race check.
    tmp = d.with_name(f"{d.name}.tmp.{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        build_gol(spark, sf_dir, str(tmp), BuildSettings.for_fixture(DENSITY))
    except BaseException:
        # _prune_stale never touches .tmp. dirs: a failed build removes
        # its own
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    # atomic publish: rename may race another builder finishing first —
    # a bare exists() check is not enough (both can pass it before either
    # renames); losing the race means theirs is fine, discard ours
    try:
        tmp.rename(d)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    _prune_stale(d)
    return d


def _prune_stale(current: Path) -> None:
    """Drop cache dirs for the same sf with a DIFFERENT fingerprint —
    every code or data change mints a new fingerprint and the old dirs
    (plus their derived archive/tiledump caches) are unreachable
    forever.  Only siblings sharing this sf's name-prefix are touched;
    in-flight .tmp.<pid> staging dirs of live builders are left alone."""
    import re

    # cache names end in "-<12-hex code fp>-<8-hex data fp>"; the sf name
    # itself may contain dashes, so strip the fixed-length suffix rather
    # than splitting on the first dash (which would make e.g. "tpch-sf1"
    # and "tpch-sf10" prune each other's live caches).
    fp_re = re.compile(r"-([0-9a-f]{12})-([0-9a-f]{8})$")
    cur_m = fp_re.search(current.name)
    if not cur_m:
        return
    sf_name = current.name[: cur_m.start()]
    cur_fp = cur_m.group(0)
    root = current.parent
    for p in root.iterdir():
        if p == current or ".tmp." in p.name:
            continue
        m = fp_re.search(p.name)
        if not m:
            continue
        stem = p.name[: m.start()]
        # ctx caches: "<sf>-fp"; derived caches: "<prefix>_<sf>-fp"
        if stem == sf_name or stem.endswith(f"_{sf_name}"):
            if m.group(0) != cur_fp:
                shutil.rmtree(p, ignore_errors=True)


def ctx(spark: SparkSession, sf_dir: str) -> dict:
    # keyed by applicationId, not id(spark): a stopped session's object
    # address can be recycled by a new session, which would hand out
    # DataFrames bound to the dead context (same hazard gate_ml's
    # component/matview caches already guard against)
    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"))
    if key in _CTX:
        return _CTX[key]
    d = _cache_dir(sf_dir)
    if not d.exists():
        _materialize(spark, sf_dir)
    b = BuildResult(spark, sf_dir, str(d), BuildSettings.for_fixture(DENSITY))
    feats = split_features(b.read("features_unified"))
    c = {
        "dir": d,
        "docs": b.read("docs"),
        "feats": feats,
        "proj": with_projection(feats["nodes"]),
        "points": b.read("points"),
        "catalog": b.read("tile_catalog"),
        "assignment": {n: b.read(n) for n in ASSIGNMENT},
        "store": b.read("store"),
        "exports": b.read("tile_exports"),
        "stubs": b.read("foreign_stubs"),
    }
    _CTX[key] = c
    return c


def base_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}
