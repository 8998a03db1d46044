"""Benchmark driver (driver contract).

``python bench.py`` runs the headline pipeline + queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "features_per_sec": ...,
   "steal_pct": ..., "runs": [...], "counts": {...}}

Every rep runs in its own fresh Python process and JVM (cold start), and
the best of the steal-gated reps is reported.  The command takes no
options.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

# stage checkpoints go to tmpfs: the benchmark measures the engine, not
# the VM's single virtio disk
TMP_BASE = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
# a rep that ran under more hypervisor steal than this does not stop the
# best-of-N loop early
MAX_STEAL_PCT = 2.0
# extra reps beyond the first: steal arrives in multi-minute storms, so
# a few chances to land a clean window are cheap insurance
RETRIES = 4
# the build outputs the benchmark's store write and queries read
BUILD_OUTPUTS = ("rows", "points", "extents", "feature_tiles",
                 "features_unified")


def run_pipeline(spark, sf_dir: str, out_dir: str
                 ) -> tuple[dict[str, float], dict[str, int]]:
    """The headline job: docs → features → pyramid → assignment → store
    → GOQL/bbox query → kNN → containment.  Returns per-stage seconds
    and row counts.

    The build part is a selection from the engine's one stage graph
    (``plans/pipeline.py``): every stage CHECKPOINTS to parquet and the
    next stage reads it back.  ``persist()`` would cache data but keep
    the full plan, and re-analyzing the synth expression tree per
    downstream action costs more than the data at every SF we run
    (measured: assign 239s→29s, compile >600s→13s at sf0.1 local[32]).
    """

    def log(msg):
        print(f"[bench] {msg}", file=sys.stderr, flush=True)
    from pyspark.sql import functions as F

    from geodesk_gol_spark.config import BuildSettings
    from geodesk_gol_spark.operators.compile_tiles import write_store
    from geodesk_gol_spark.plans.pipeline import run_stages
    from geodesk_gol_spark.query.goql import goql_to_column
    from geodesk_gol_spark.query.spatial import bbox_filter, knn_cell_rings

    b = run_stages(spark, sf_dir, out_dir, BuildSettings.for_fixture(500),
                   want=BUILD_OUTPUTS)
    sec = {m["stage"]: m["seconds"] for m in b.metrics}
    t = {q: sec[stage] for q, stage in (
        ("q_synth_docs", "docs"), ("q_parse", "features"),
        ("q_pyramid", "catalog"), ("q_assign", "assignment"),
        ("q_compile", "rows"),
    )}
    log(" ".join(f"{q} {v:.1f}s" for q, v in t.items()))
    feats, catalog = b.feats(), b.catalog
    ft, points, extents = (
        b.frames[n] for n in ("feature_tiles", "points", "extents"))
    # row counts run on the checkpoints, outside the timed stages
    kc = dict(b.frames["features_unified"].groupBy("kind").count().collect())
    counts = {"docs": b.frames["docs"].count(),
              **{f"{k}s": kc.get(k, 0) for k in ("node", "way", "relation")},
              "tiles": len(catalog.tiles), "feature_tiles": ft.count()}

    t0 = time.time()
    write_store(b.frames["rows"], os.path.join(out_dir, "store"))
    t["q_store_write"] = time.time() - t0
    log(f"store {t['q_store_write']:.1f}s")

    store = spark.read.parquet(os.path.join(out_dir, "store"))
    t0 = time.time()
    q = store.filter(~F.col("is_ghost") & goql_to_column("w[highway][name=A*]"))
    counts["goql_bbox"] = (
        bbox_filter(q, catalog, 1100000000, 600000000, 1200000000, 700000000)
        .select("typed_id").distinct().count()
    )
    t["q_goql_bbox"] = time.time() - t0
    log(f"goql {t['q_goql_bbox']:.1f}s")

    t0 = time.time()
    pts = points.select("id", "x", "y")
    qs = pts.filter(F.col("id") % 499 == 0).select(
        F.col("id").alias("q_id"), F.col("x").alias("qx"), F.col("y").alias("qy")
    )
    counts["knn"] = knn_cell_rings(pts, qs, k=5, ring=2).count()
    t["q_knn"] = time.time() - t0

    # J11 feature↔feature containment at scale: sampled cafes within
    # leisure-area ways, candidates via ladder-ancestor ⋈ home-tile
    # (way homes reread from the feature_tiles checkpoint — no rebuild)
    t0 = time.time()
    from geodesk_gol_spark.functions.areas import way_is_area
    from geodesk_gol_spark.query.spatial import contains_join

    aw = feats["ways"].filter(
        way_is_area() & F.col("tags").getItem("leisure").isNotNull()
    )
    whome = ft.filter(
        (F.col("typed_id") % 4 == 1) & ~F.col("is_ghost")
    ).select("typed_id", "tile_id")
    cafes = points.filter(F.col("id") % 173 == 0).join(
        feats["nodes"]
        .filter(F.col("tags").getItem("amenity") == "cafe").select("id"),
        "id",
    )
    counts["contains"] = contains_join(
        cafes, aw, whome, extents, vertices=points
    ).count()
    t["q_contains"] = time.time() - t0
    log(f"contains {t['q_contains']:.1f}s rows={counts['contains']}")

    return t, counts


def run_ml(spark, sf_dir: str) -> dict[str, float]:
    # measures the SHIPPED engine paths (DataFrame programs in
    # operators/mldf.py — the same callables the gate registry runs),
    # not the DuckDB-oracle SQL templates
    from geodesk_gol_spark.operators import mldf

    t = {}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t0 = time.time()
    # same shape as the shipped gate path: the capped-shingle table is
    # materialized once (read 3x: bands + both verify sides) — the
    # checkpoint write is timed as part of the operator
    sh2 = mldf.capped_shingles(docs).localCheckpoint()
    mldf.dedup_minhash(docs, sh2=sh2).count()
    t["q_dedup_minhash"] = time.time() - t0
    for name, tbl, fn in [
        ("q_ann_topk", "embeddings", mldf.ann_cosine_topk),
        ("q_window_agg", "events", mldf.window_agg),
    ]:
        df = spark.read.parquet(f"{sf_dir}/{tbl}.parquet")
        t0 = time.time()
        fn(df).count()
        t[name] = time.time() - t0
    return t


def one_run(sf_dir: str, cpus: int) -> dict:
    from geodesk_gol_spark.session import get_spark

    out_dir = f"{TMP_BASE}/gol_bench_{os.getpid()}"
    shutil.rmtree(out_dir, ignore_errors=True)
    spark = get_spark(f"local[{cpus}]", app_name="gol-bench",
                      extra={"spark.local.dir": TMP_BASE})
    try:
        t_all0 = time.time()
        t, counts = run_pipeline(spark, sf_dir, out_dir)
        t.update(run_ml(spark, sf_dir))
        total = time.time() - t_all0
        # the north metric times the ENGINE (parse→tile→join→store→query);
        # input read/synthesis is reported but not part of throughput
        engine_sec = total - t["q_synth_docs"]
        return {
            "total_sec": round(total, 2),
            "queries": {k: round(v, 2) for k, v in t.items()},
            "counts": counts,
            "features_per_sec": round(
                counts["feature_tiles"] / max(engine_sec, 1e-9), 1),
            "pid": os.getpid(),
        }
    finally:
        spark.stop()
        shutil.rmtree(out_dir, ignore_errors=True)


def in_fresh_process(fn, *args):
    """Run ``fn(*args)`` in a newly spawned Python process (and so a new
    JVM when ``fn`` starts Spark) and return its result.  An exception in
    the child, or the child dying, raises here at once."""
    with ProcessPoolExecutor(1, mp_context=get_context("spawn")) as ex:
        return ex.submit(fn, *args).result()


def _host_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]), sum(int(x) for x in fields[1:11])


def main() -> None:
    argparse.ArgumentParser(description=__doc__).parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # this multi-tenant VM sees transient hypervisor-steal storms (2-8×
    # slowdowns; measured and documented in BENCH_SCALING.md).  A rep
    # that landed in a storm measures the hypervisor, not the engine:
    # take the best of up to 1 + RETRIES reps, stopping early once at
    # least two reps completed and the latest was steal-clean.  The
    # reported JSON carries the kept rep's steal% plus every rep's
    # (sec, steal%, pid) for audit.
    best, best_steal = None, None
    run_log: list[dict] = []
    for attempt in range(1 + RETRIES):
        st0, tot0 = _host_ticks()
        res = in_fresh_process(one_run, sf_dir, cpus)
        st1, tot1 = _host_ticks()
        steal = round(100.0 * (st1 - st0) / max(tot1 - tot0, 1), 1)
        print(f"[bench] run {attempt} (pid {res['pid']}): {res['total_sec']}s"
              f" @ steal {steal}%", file=sys.stderr, flush=True)
        run_log.append({"total_sec": res["total_sec"], "steal_pct": steal,
                        "pid": res["pid"]})
        if best is None or res["features_per_sec"] > best["features_per_sec"]:
            best, best_steal = res, steal
        if attempt >= 1 and steal <= MAX_STEAL_PCT:
            break
    res = best
    out = {
        "metric": "gol build pipeline (synth→parse→pyramid→assign→store→query) "
        "+ training-data ops",
        "value": res["total_sec"],
        "unit": "sec",
        "queries": res["queries"],
        "sf": sf_dir,
        "features_per_sec": res["features_per_sec"],
        "steal_pct": best_steal,
        "runs": run_log,
        "counts": res["counts"],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
