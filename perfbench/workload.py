"""One benchmark run in a fresh process: inputs, set-up, measured loop,
output checks.  Started by ``run.py``; writes its result as JSON to
``<run-dir>/result.json``.

Set-up (``setup_s``, in CPU seconds) is the session start with prewarm
plus the store build with ``bench.py``'s call sequence from the
generated document table on (parse -> pyramid -> assign -> compile ->
store write, parquet checkpoints between stages).  The ``query``
workload adds one untimed bbox, area and export request; the ``update``
workload adds the first epoch, which converts the range-clustered store
to the tile-partitioned layout, and one untimed tile-scoped epoch.  The
measured loop then runs for ``--seconds``:

- ``query``: one client, closed loop, over the seeded schedule of
  bbox / area / export / knn / contains requests on the built store;
- ``update``: seeded change epochs through ``prepare_node_changes`` +
  ``apply_changes_streaming``, each followed by a fixed read
  (``gol_query`` count over a bbox) on the new epoch.

Every output is checked after the loop, outside the timed region.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import duckdb

from perfbench import datagen, oracle
from perfbench.eventlog import MEASURES, Spans, span_metrics

# every span a run can record; a workload's traced run reports the spans
# it does not run as 0
ALL_SPANS = (
    "session.get_spark", "sources.parse", "plans.pyramid",
    "operators.assign", "operators.compile", "operators.store_write",
    *(f"query.{t}" for t in datagen.TYPES),
    "streaming.update.convert", "streaming.update.apply",
    "streaming.update.read")

# build outputs of the fixed input (datagen.DATA_SEED) that the generator
# cannot know, checked on every run beside its own feature counts
PINNED_COUNTS = {"tiles": 206, "feature_tiles": 32326}


class Run:
    def __init__(self, args):
        self.args = args
        self.dir = os.path.abspath(args.run_dir)
        self.spans = Spans()
        self.checks: list[tuple[str, bool, str]] = []
        # per-layer values and run details, kept in runs.jsonl
        self.extra: dict = {}

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.checks.append((what, bool(ok), detail))
        if not ok:
            print(f"[perfbench] CHECK FAILED {what}: {detail}",
                  file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)


def start_session(run: Run, trace: bool):
    from geodesk_gol_spark.session import get_spark

    conf = {"spark.local.dir": run.path("local")}
    if trace:
        os.makedirs(run.path("eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + run.path("eventlog"),
            "spark.eventLog.compress": "false",
        })
    with run.spans.span("session.get_spark"):
        spark = get_spark(f"local[{os.cpu_count()}]", app_name="perfbench",
                          extra=conf)
    return spark


def build_store(run: Run, spark, docs_path: str, expect: dict) -> dict:
    """bench.py's build sequence after synthesis, one span per public
    call: the generated document table is the input."""
    from pyspark.sql import functions as F

    from geodesk_gol_spark.config import BuildSettings
    from geodesk_gol_spark.functions.mercator import with_projection
    from geodesk_gol_spark.operators.assign import assign_features
    from geodesk_gol_spark.operators.compile_tiles import (
        compile_feature_rows,
        write_store,
    )
    from geodesk_gol_spark.plans.pyramid import build_tile_catalog
    from geodesk_gol_spark.sources.parser import (
        parse_features_unified,
        split_features,
    )

    span = run.spans.span

    def ckpt(name, df):
        df.write.mode("overwrite").parquet(run.path("ckpt", name))
        return spark.read.parquet(run.path("ckpt", name))

    counts = {}
    t0, cpu0 = time.time(), session_cpu_s()
    docs = spark.read.parquet(docs_path)
    with span("sources.parse"):
        counts["docs"] = docs.count()
        unified = ckpt("features", parse_features_unified(docs))
        feats = split_features(unified)
        kc = {r["kind"]: r["n"] for r in unified.groupBy("kind")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
        for k in ("node", "way", "relation"):
            counts[k + "s"] = kc.get(k, 0)
    with span("plans.pyramid"):
        proj = ckpt("proj", with_projection(feats["nodes"]).select(
            "id", "x", "y", "cell_col", "cell_row"))
        catalog = build_tile_catalog(
            proj, BuildSettings.for_fixture(datagen.TILE_DENSITY))
        counts["tiles"] = len(catalog.tiles)
    with span("operators.assign"):
        asn = assign_features(feats, catalog)
        with ThreadPoolExecutor(3) as pool:
            futs = {n: pool.submit(ckpt, n, asn[n])
                    for n in ("feature_tiles", "points", "extents")}
            out = {n: f.result() for n, f in futs.items()}
        counts["feature_tiles"] = out["feature_tiles"].count()
    with span("operators.compile"):
        rows = ckpt("rows", compile_feature_rows(
            out["feature_tiles"], out["points"], out["extents"],
            feats["nodes"], feats["ways"], feats["relations"]))
        spark.catalog.clearCache()
    with span("operators.store_write"):
        write_store(rows, run.path("store"))
    build_s = time.time() - t0
    run.extra["build.cpu_s"] = session_cpu_s() - cpu0
    for k, want in {**expect, **PINNED_COUNTS}.items():
        run.check(f"build.{k}", counts[k] == want,
                  f"got {counts[k]}, expected {want}")
    run.extra.update({f"build.{k}": v for k, v in counts.items()})
    run.extra["build.wall_s"] = build_s
    run.extra["build.features_per_s"] = counts["feature_tiles"] / build_s
    run.extra["plans.pyramid.tiles"] = counts["tiles"]
    run.extra["store.bytes_per_feature"] = (
        _du(run.path("store")) / counts["feature_tiles"])
    return {"feats": feats, "catalog": catalog, "counts": counts, **out}


_TICK = os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """CPU seconds used so far by every process of this run's session:
    the Python driver, its JVM and the Python workers (``run.py``
    starts each run in a session of its own).  Time the hypervisor
    steals from the guest is not counted."""
    sid, ticks = os.getsid(0), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                st = f.read()
        except OSError:
            continue
        # fields after "(comm) ": state ppid pgrp session ... utime stime
        # cutime cstime at offsets 11..14
        fields = st[st.rindex(")") + 2:].split()
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


# --------------------------------------------------------------------------
# query workload
# --------------------------------------------------------------------------

def run_query(run: Run, spark, built: dict, nodes, setup0) -> dict:
    from pyspark.sql import functions as F

    from geodesk_gol_spark.functions.areas import way_is_area
    from geodesk_gol_spark.query.run import gol_query
    from geodesk_gol_spark.query.spatial import contains_join, knn_cell_rings

    catalog = built["catalog"]
    store = spark.read.parquet(run.path("store"))
    points = built["points"]
    pts = points.select("id", "x", "y")
    aw = built["feats"]["ways"].filter(
        way_is_area() & F.col("tags").getItem("leisure").isNotNull())
    whome = built["feature_tiles"].filter(
        (F.col("typed_id") % 4 == 1) & ~F.col("is_ghost")
    ).select("typed_id", "tile_id")
    # oracle input, written before the timed loop
    aw.select("id", "node_ids").write.parquet(run.path("ckpt", "area_ways"))

    def execute(req):
        kind = req["type"]
        if kind == "bbox":
            return gol_query(store, catalog, req["goql"], bbox=req["bbox"],
                             fmt="count")
        if kind == "area":
            return gol_query(store, catalog, req["goql"], area=req["rings"],
                             fmt="count")
        if kind == "export":
            df = gol_query(store, catalog, req["goql"], bbox=req["bbox"],
                           fmt=req["fmt"])
            return [r[0] for r in df.collect()]
        if kind == "knn":
            qs = spark.createDataFrame(req["points"],
                                       "q_id long, qx long, qy long")
            return sorted(tuple(r) for r in knn_cell_rings(
                pts, qs, k=5, ring=2).select(
                    "q_id", "rank", "neighbor_id").collect())
        cand = points.filter(F.col("id").isin(req["node_ids"]))
        return sorted(tuple(r) for r in contains_join(
            cand, aw, whome, built["extents"], vertices=points).collect())

    schedule = datagen.query_schedule(run.args.seed, nodes)
    # one untimed request of each interactive type (from the last round,
    # which the loop never reaches): the session's first gol_query pays
    # one-off plan and codegen costs that would land on whichever
    # request the seeded order puts first
    last = max(r["round"] for r in schedule)
    for req in schedule:
        if req["round"] == last and req["type"] in ("bbox", "area", "export"):
            execute(req)
    setup = _setup_done(run, setup0)

    done, lat = [], []
    t0, cpu0 = time.time(), session_cpu_s()
    for rnd in range(last):
        if rnd and time.time() - t0 >= run.args.seconds:
            break
        for req in (r for r in schedule if r["round"] == rnd):
            with run.spans.span(f"query.{req['type']}") as s:
                res = execute(req)
            done.append((req, res))
            lat.append((req["type"], s["end"] - s["start"]))
    loop_s, loop_cpu_s = time.time() - t0, session_cpu_s() - cpu0
    run.extra["query.latencies_ms"] = [(t, round(1000 * s, 1)) for t, s in lat]
    p50 = {t: statistics.median(run.spans.walls(f"query.{t}"))
           for t in datagen.TYPES}

    # outputs checked against independent answers, outside the loop
    t_check = time.time()
    con = duckdb.connect()
    for req, res in done:
        if req["type"] == "knn":
            want = oracle.knn(spark, pts, req["points"])
        else:
            want = oracle.answer(con, run.path("store"), run.path("ckpt"),
                                 req)
        got = oracle.summarize(req, res)
        run.check(f"query.{req['type']}", got == want,
                  f"got {str(got)[:200]} want {str(want)[:200]}")
    results = {t: sum(oracle.result_rows(r, res) for r, res in done
                      if r["type"] == t) for t in datagen.TYPES}
    run.extra.update({f"query.{t}.result_rows": n for t, n in results.items()})
    run.extra["check_s"] = time.time() - t_check
    # per-type medians, combined so that no one type decides
    run.extra.update({
        "loop.op_p50_ms": 1000 * statistics.geometric_mean(p50.values()),
        "loop.read_p50_ms": 1000 * p50["bbox"],
        "loop.throughput_per_s": len(lat) / loop_s,
    })
    return {
        **setup,
        "op_cpu_ms": 1000 * loop_cpu_s / len(lat),
        "attempted": len(done),
    }


# --------------------------------------------------------------------------
# update workload
# --------------------------------------------------------------------------

def run_update(run: Run, spark, built: dict, nodes, ways, setup0) -> dict:
    import shutil

    from geodesk_gol_spark.query.run import gol_query
    from geodesk_gol_spark.streaming.update import (
        apply_changes_streaming,
        merge_changes,
        prepare_node_changes,
    )

    catalog = built["catalog"]
    con = duckdb.connect()
    batches = datagen.change_batches(run.args.seed, nodes, ways)
    feed, out = run.path("feed"), run.path("epochs")
    os.makedirs(feed)
    prepared_schema = None

    def apply(b: int) -> str:
        """prepare + stage batch ``b`` as one feed file, then run the
        streaming apply until the feed is drained (one epoch)."""
        nonlocal prepared_schema
        ch = spark.createDataFrame(batches[b], datagen.CHANGE_SCHEMA)
        stage = run.path("stage", str(b))
        prepare_node_changes(ch, catalog).coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(os.path.join(stage, part),
                  os.path.join(feed, f"batch-{b:04d}.parquet"))
        if prepared_schema is None:
            prepared_schema = spark.read.parquet(feed).schema
        stream = spark.readStream.schema(prepared_schema).parquet(feed)
        apply_changes_streaming(spark, stream, run.path("store"),
                                out).awaitTermination()
        return os.path.join(out, f"epoch={b}")

    rbox = datagen.read_bbox(nodes)
    applied, reads, rewritten, written = [], [], [], []

    def cycle(b: int, timed: bool) -> None:
        """apply batch ``b``, then the fixed read on the new epoch."""
        def span(name):
            return run.spans.span(name) if timed else nullcontext()

        with span("streaming.update.apply"):
            epoch = apply(b)
        # tile dirs holding a file that is not a link into the last epoch
        nfresh, nbytes, ndirs = _fresh(epoch)
        with span("streaming.update.read"):
            n = gol_query(spark.read.parquet(epoch), catalog,
                          datagen.READ_GOQL, bbox=rbox, fmt="count")
        reads.append((b, n))
        applied.append(b)
        if timed:
            rewritten.append(nfresh / ndirs)
            written.append(nbytes / len(batches[b]))

    with run.spans.span("streaming.update.convert"):
        apply(0)
    applied.append(0)
    run.extra["setup.convert_s"] = run.spans.walls(
        "streaming.update.convert")[0]
    # one tile-scoped epoch before timing: its first run JIT-compiles
    # the link path, which the converting epoch does not take
    cycle(1, timed=False)
    setup = _setup_done(run, setup0)

    t0, cpu0 = time.time(), session_cpu_s()
    b = 2
    while b < len(batches) and (b == 2 or time.time() - t0 < run.args.seconds):
        cycle(b, timed=True)
        b += 1
    loop_cpu_s = session_cpu_s() - cpu0

    apply_s = run.spans.walls("streaming.update.apply")
    run.extra["update.apply_ms"] = [round(1000 * s, 1) for s in apply_s]
    run.extra["update.read_ms"] = [
        round(1000 * s, 1) for s in run.spans.walls("streaming.update.read")]
    t_check = time.time()
    n_changes = sum(len(batches[i]) for i in applied[2:])
    for ep, n in reads:
        want = oracle.bbox_count(
            con, f"{out}/epoch={ep}/*/*.parquet", datagen.READ_GOQL, rbox)
        run.check(f"update.read.epoch{ep}", n == want, f"got {n} want {want}")
    # split invariance: the last epoch equals one merge of every batch
    final = spark.read.parquet(f"{out}/epoch={applied[-1]}")
    one_shot = merge_changes(spark.read.parquet(run.path("store")),
                             spark.read.parquet(feed))
    got, want = oracle.fingerprint(final), oracle.fingerprint(one_shot)
    run.check("update.final_epoch", got == want, f"got {got} want {want}"
              + ("" if got == want else
                 "; " + oracle.diff_sample(final, one_shot)))
    shutil.rmtree(run.path("stage"), ignore_errors=True)
    run.extra["check_s"] = time.time() - t_check
    run.extra.update({
        "update.tiles_rewritten_ratio": statistics.median(rewritten),
        "update.bytes_written_per_change": statistics.median(written),
        "update.epochs": len(apply_s),
        "loop.op_p50_ms": 1000 * statistics.median(apply_s),
        "loop.read_p50_ms": 1000 * statistics.median(
            run.spans.walls("streaming.update.read")),
        "loop.throughput_per_s": n_changes / sum(apply_s),
    })
    return {
        **setup,
        # an epoch is its apply and the read after it
        "op_cpu_ms": 1000 * loop_cpu_s / len(apply_s),
        "attempted": len(applied) + len(reads) + 1,
    }


def _setup_done(run: Run, setup0: tuple[float, float]) -> dict:
    """Set-up CPU seconds (the ``setup_s`` metric) and wall seconds since
    ``setup0 = (wall, cpu)`` taken before the session started."""
    run.extra["setup.wall_s"] = time.time() - setup0[0]
    return {"setup_s": session_cpu_s() - setup0[1]}


def _fresh(epoch: str) -> tuple[int, int, int]:
    """(tile dirs holding a file with one link, bytes of such files,
    all tile dirs) — a file with one link was written by this epoch."""
    fresh = nbytes = ndirs = 0
    for d in os.listdir(epoch):
        if not d.startswith("tile_id="):
            continue
        ndirs += 1
        new = False
        for f in os.listdir(os.path.join(epoch, d)):
            st = os.stat(os.path.join(epoch, d, f))
            if st.st_nlink == 1:
                new = True
                nbytes += st.st_size
        fresh += new
    return fresh, nbytes, max(ndirs, 1)


# --------------------------------------------------------------------------

def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["query", "update"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    args = ap.parse_args(argv)
    run = Run(args)

    t = time.time()
    nodes, ways, relations = datagen.features()
    docs_path, n_docs = datagen.write_docs(run.path("input"), nodes, ways,
                                           relations)
    expect = {"docs": n_docs, "nodes": len(nodes), "ways": len(ways),
              "relations": len(relations)}
    run.extra["setup.datagen_s"] = time.time() - t

    setup0 = (time.time(), session_cpu_s())
    spark = start_session(run, bool(args.trace))
    try:
        run.extra["session.get_spark_s"] = run.spans.walls(
            "session.get_spark")[0]
        built = build_store(run, spark, docs_path, expect)
        if args.workload == "query":
            res = run_query(run, spark, built, nodes, setup0)
        else:
            res = run_update(run, spark, built, nodes, ways, setup0)
        run.extra["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    finally:
        spark.stop()

    metrics = {
        "setup_s": res["setup_s"],
        "op_cpu_ms": res["op_cpu_ms"],
        "store_bytes_per_feature": run.extra["store.bytes_per_feature"],
    }
    # the other workload's layer ratios read 0
    layers = {"update.tiles_rewritten_ratio": 0.0,
              "update.bytes_written_per_change": 0.0, "update.epochs": 0,
              **run.extra}
    if args.trace:
        layers.update(layer_metrics(run))
    failed = [c for c in run.checks if not c[1]]
    result = {
        "correct": not failed,
        "attempted": res["attempted"] + len(expect) + len(PINNED_COUNTS),
        "failed": len(failed),
        "metrics": metrics,
        "layers": layers,
        "checks": [f"{c[0]}: {c[2]}" for c in failed],
    }
    with open(run.path("result.json"), "w") as f:
        json.dump(result, f)
    return 0


def layer_metrics(run: Run) -> dict[str, float]:
    per = span_metrics(run.spans.items, run.path("eventlog"))
    out = {}
    for name in ALL_SPANS:
        m = per.get(name, {})
        for meas in MEASURES:
            out[f"{name}.{meas}"] = m.get(meas, 0.0)
    for t in datagen.TYPES:
        rows = run.extra.get(f"query.{t}.result_rows", 0)
        read = per.get(f"query.{t}", {}).get("records_read", 0)
        out[f"query.{t}.rows_read_per_result"] = read / max(rows, 1)
    return out


if __name__ == "__main__":
    sys.exit(main())
