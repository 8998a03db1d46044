"""End-to-end build pipeline + GOQL query layer + format consistency.

Mirrors the reference's own test protocol (test/test_query.py:33-63):
count == GeoJSONL line count == WKT count == ID-list line count; empty
queries are structurally valid; invalid queries raise.
"""

from __future__ import annotations

import os
import re
import shutil
from pathlib import Path

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from geodesk_gol_spark.config import BuildSettings
from geodesk_gol_spark.operators import compile_tiles
from geodesk_gol_spark.plans import pipeline
from geodesk_gol_spark.plans.pipeline import build_gol, run_stages
from geodesk_gol_spark.query import formats
from geodesk_gol_spark.query.goql import GoqlError, goql_to_column
from geodesk_gol_spark.query.spatial import (
    bbox_filter,
    knn_bruteforce,
    knn_cell_rings,
    polygon_filter,
)

from .conftest import SF_DIR, crash_store_write_after, path_kinds

ROOT = Path(__file__).resolve().parent.parent


def _sig(df):
    """Order-insensitive row fingerprint: (rows, xor of row hashes)."""
    cols = [
        F.array_sort(F.map_entries(f.name)).alias(f.name)
        if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in sorted(df.schema.fields, key=lambda f: f.name)
    ]
    return df.select(F.xxhash64(*cols).alias("rh")).select(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(rh)").alias("h"),
    ).collect()[0]


def _copy_without(res, out_dir, names):
    """Copy the build ``res`` to ``out_dir`` without the outputs ``names``."""
    shutil.copytree(res.out_dir, out_dir)
    for name in names:
        shutil.rmtree(os.path.join(out_dir, name))
    return out_dir


def test_resume_skips_stages(spark, built):
    res, _ = built
    import time

    t0 = time.time()
    res2 = build_gol(spark, SF_DIR, res.out_dir, BuildSettings.for_fixture(50))
    # resumed build does only the audit + metrics passes
    stages = {m["stage"] for m in res2.metrics}
    assert stages == {"check", "metrics"}
    assert time.time() - t0 < 90
    checks = next(m for m in res2.metrics if m["stage"] == "check")
    assert all(v == 0 for k, v in checks.items()
               if k not in ("stage", "seconds"))


def test_resume_after_midstage_crash(spark, built, tmp_path, monkeypatch):
    """Crash DURING the store write (after its first batch committed),
    then resume: only the interrupted stage and the always-on audit
    passes re-run, upstream stages are skipped, the committed batch is
    reused, and the store is value-identical to the undamaged one
    (idempotent stage re-runs = the reference's startPhase model).
    Over a bare path and a file:// URI."""
    res, store = built
    # several batches, and a batch write that fails after the first
    monkeypatch.setattr(compile_tiles, "BATCH_ROWS", store.count() // 4)
    for local, root in path_kinds(tmp_path):
        _copy_without(res, str(local / "crashed"), ("store", "lineage"))
        crash_dir = f"{root}/crashed"
        real = crash_store_write_after(monkeypatch, 1)
        with pytest.raises(RuntimeError, match="injected crash"):
            build_gol(spark, SF_DIR, crash_dir,
                      BuildSettings.for_fixture(50))
        monkeypatch.setattr(compile_tiles, "_write_batch", real)

        res2 = build_gol(spark, SF_DIR, crash_dir,
                         BuildSettings.for_fixture(50))
        stages = {m["stage"] for m in res2.metrics}
        assert stages == {"store", "check", "metrics"}
        resumed = [r["resumed"] for r in spark.read.parquet(
            str(local / "crashed" / "lineage")).filter(
            F.col("stage") == "store_batch").orderBy("batch").collect()]
        assert len(resumed) > 1
        assert resumed[0] and not any(resumed[1:])

        redone = spark.read.parquet(res2.store_path())
        assert _sig(redone) == _sig(store)
        checks = next(m for m in res2.metrics if m["stage"] == "check")
        assert all(v == 0 for k, v in checks.items()
                   if k not in ("stage", "seconds"))
        # the resume appended its stages to the build's log
        assert len((local / "crashed" / "metrics.jsonl").read_text()
                   .splitlines()) > len(res2.metrics)


def test_store_stage_job_budget(spark, built, tmp_path):
    """The store stage runs at most 6 Spark jobs on the sf0.001 build:
    the count aggregate and the planned write (two each: a shuffle and
    its result) and the read-backs of the store and lineage.  The
    sampled, per-batch writer it replaced ran 31.  Reading the stage's
    inputs back is the same for any stage and is not counted."""
    res, _ = built
    d = _copy_without(res, str(tmp_path / "restore"), ("store", "lineage"))
    sc = spark.sparkContext

    def jobs(want):
        sc.setJobGroup(f"budget-{want}", "store stage job budget")
        try:
            b = run_stages(spark, SF_DIR, d, BuildSettings.for_fixture(50),
                           want=(want,))
            return b, len(sc.statusTracker().getJobIdsForGroup(
                f"budget-{want}"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    _, inputs = jobs("rows")
    b, total = jobs("store")
    assert [m["stage"] for m in b.metrics] == ["store"]
    assert 0 < total - inputs <= 6, (total, inputs)


def _stage_jobs(spark, monkeypatch, out_dir, stage):
    """Run ``stage`` alone in ``out_dir``, resuming its inputs, and count
    its Spark jobs: a job group set inside the stage tags them, so the
    read-backs of its inputs are not counted.  Returns (result, jobs)."""
    import dataclasses

    sc = spark.sparkContext
    group = f"budget-{stage}"

    def tagged(fn):
        def run(b):
            # the stage is the last one run, so every later job is its own
            sc.setJobGroup(group, f"{stage} stage job budget")
            return fn(b)
        return run

    monkeypatch.setattr(pipeline, "STAGES", tuple(
        dataclasses.replace(s, fn=tagged(s.fn)) if s.name == stage
        else s for s in pipeline.STAGES))
    try:
        b = run_stages(spark, SF_DIR, out_dir, BuildSettings.for_fixture(50),
                       want=(stage,))
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [m["stage"] for m in b.metrics] == [stage]
    return b, jobs


STAGE_JOBS = {"docs": 22, "features": 1, "catalog": 3, "assignment": 30,
              "rows": 9, "validate": 14, "check": 15, "metrics": 2}


@pytest.mark.parametrize("stage", STAGE_JOBS)
def test_stage_job_budget(spark, built, tmp_path, monkeypatch, stage):
    """Each ``run_stages`` stage of the sf0.001 build runs at most its
    pinned number of Spark jobs, checkpoint writes and read-backs
    included (the store stage has its own test above).  A change that
    lowers a count lowers its budget.  Measured: docs 22, features 1,
    catalog 3, assignment 29, rows 9, validate 13, check 15, metrics 2;
    the markers, listings and driver-table files of ``fs`` run no job.

    - validate (14): J8 computes the stub pairs once and J7 projects
      J8's read-back; three pair computations with inferred read-backs
      ran 25.
    - assignment (30): one action caches the way frames and one control
      job the relation-member aggregate; a side thread, per-frame
      persists and two localCheckpoints ran 38 plus 3 in the thread.
    """
    res, _ = built
    [st] = [s for s in pipeline.STAGES if s.name == stage]
    d = _copy_without(res, str(tmp_path / stage), st.writes)
    _, jobs = _stage_jobs(spark, monkeypatch, d, stage)
    assert 0 < jobs <= STAGE_JOBS[stage], jobs


def test_assignment_stage_leaves_no_persisted_rdd(spark, built, tmp_path):
    """``run_stages`` releases every RDD the assignment stage persists.
    The session holds other caches, so compare RDD ids, not counts.
    Eager localCheckpoints of rel_ext and unresolved survived
    ``clearCache`` and leaked two RDDs per build."""
    res, _ = built
    d = _copy_without(res, str(tmp_path / "noleak"), pipeline.ASSIGNMENT)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())
    b = run_stages(spark, SF_DIR, d, BuildSettings.for_fixture(50),
                   want=("assignment",))
    assert [m["stage"] for m in b.metrics] == ["assignment"]
    assert set(persisted().keys()) <= before


def test_read_backs_keep_the_inferred_schema(spark, built):
    """Every Spark-read output of a build carries in memory the schema
    that parquet inference gives its files, without inference's job."""
    res, _ = built
    frames = {n: df for n, df in res.frames.items()
              if isinstance(df, DataFrame)}
    assert len(frames) == 17
    for name, df in frames.items():
        assert df.schema == spark.read.parquet(res.path(name)).schema, name
    assert frames["tile_exports"].columns == ["tile_id", "typed_id", "tex"]


def test_resume_refuses_other_settings(spark, built):
    """A resume under other BuildSettings raises, naming both, before
    touching any output (it used to return the first build)."""
    res, _ = built
    before = sorted(os.listdir(res.out_dir))
    with pytest.raises(ValueError) as e:
        build_gol(spark, SF_DIR, res.out_dir, BuildSettings.for_fixture(500))
    assert "'min_tile_density': 50," in str(e.value)
    assert "'min_tile_density': 500," in str(e.value)
    assert sorted(os.listdir(res.out_dir)) == before


def test_rerun_stage_reruns_downstream(spark, built, tmp_path):
    """A stage that re-runs re-runs everything downstream of it; the
    store comes back value-identical."""
    res, store = built
    d = str(tmp_path / "recat")
    shutil.copytree(res.out_dir, d)
    os.remove(os.path.join(d, "tile_catalog", "_SUCCESS"))

    res2 = build_gol(spark, SF_DIR, d, BuildSettings.for_fixture(50))
    assert {m["stage"] for m in res2.metrics} == {
        "catalog", "assignment", "rows", "validate", "store", "check",
        "metrics",
    }
    assert _sig(spark.read.parquet(res2.store_path())) == _sig(store)


def test_bench_selection_builds_only_what_it_reads(spark, built, tmp_path):
    """bench.py's selection runs no validate/store stage and builds the
    full build's rows and feature_tiles; only the graph wires them."""
    import bench

    res, _ = built
    d = str(tmp_path / "bench_sel")
    sel = run_stages(spark, SF_DIR, d, BuildSettings.for_fixture(50),
                     want=bench.BUILD_OUTPUTS)
    for name in ("tile_exports", "store", "lineage"):
        assert not os.path.exists(os.path.join(d, name))
    for name in ("rows", "feature_tiles"):
        assert _sig(sel.frames[name]) == _sig(
            spark.read.parquet(os.path.join(res.out_dir, name)))

    call = re.compile(r"(?<!def )\b(assign_features|compile_feature_rows)\(")
    calls = {"assign_features": [], "compile_feature_rows": []}
    for p in ROOT.rglob("*.py"):
        rel = p.relative_to(ROOT).as_posix()
        if not rel.startswith(("perfbench/", "tests/", ".")):
            for m in call.finditer(p.read_text()):
                calls[m.group(1)].append(rel)
    graph = ["geodesk_gol_spark/plans/pipeline.py"]
    assert calls == {"assign_features": graph, "compile_feature_rows": graph}


def test_failed_gate_build_removes_its_staging_dir(spark, tmp_path,
                                                   monkeypatch):
    """A stage failure in the gate's build propagates and removes the
    staging dir (stale-cache pruning skips .tmp. dirs)."""
    import dataclasses

    from geodesk_gol_spark import gate

    def boom(b):
        raise RuntimeError("injected stage failure")

    monkeypatch.setattr(pipeline, "STAGES", tuple(
        dataclasses.replace(s, fn=boom) if s.name == "features" else s
        for s in pipeline.STAGES))
    monkeypatch.setattr(gate, "_cache_dir", lambda sf: tmp_path / "sf-fp")
    with pytest.raises(RuntimeError, match="injected stage failure"):
        gate._materialize(spark, SF_DIR)
    assert list(tmp_path.iterdir()) == []


def test_lineage_table(built, spark):
    """North rule "per-partition lineage": the build writes a lineage
    table whose per-tile rows reconcile exactly with the store and whose
    per-batch rows cover tile-id space disjointly and sum to the store."""
    res, store = built
    lin = spark.read.parquet(os.path.join(res.out_dir, "lineage"))
    per_tile = {
        r["tile_id"]: r["n_rows"]
        for r in lin.filter(F.col("stage") == "store_tile").collect()
    }
    actual = {
        r["tile_id"]: r["n"]
        for r in store.groupBy("tile_id")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_tile == actual
    batches = (
        lin.filter(F.col("stage") == "store_batch")
        .orderBy("batch").collect()
    )
    assert batches[0]["tile_lo"] == 0
    assert batches[-1]["tile_hi"] == (1 << 31) - 1
    for a, b in zip(batches, batches[1:]):
        assert b["tile_lo"] == a["tile_hi"] + 1
    assert sum(r["n_rows"] for r in batches) == store.count()


def test_store_is_tile_range_clustered(built, spark):
    """Range-clustered layout: bounded file count (no per-tile dir
    explosion) and weakly ordered, prunable tile-id ranges per file."""
    res, store = built
    assert "tile_id" in store.columns
    dirs = [d for d in os.listdir(res.store_path()) if d.startswith("tile_id=")]
    assert dirs == []  # no small-file explosion
    per_file = (
        spark.read.parquet(res.store_path())
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("tile_id").alias("lo"), F.max("tile_id").alias("hi"))
        # ties on lo (a tile split across files) order by hi: Spark
        # leaves the order of equal sort keys undefined
        .orderBy("lo", "hi")
        .collect()
    )
    assert 0 < len(per_file) <= int(
        spark.conf.get("spark.sql.shuffle.partitions"))
    for a, b in zip(per_file, per_file[1:]):
        assert a["hi"] <= b["lo"]  # contiguous ranges → row-group pruning


def test_gol_query_composed(built, spark):
    """The composed `gol query` surface: GOQL + -b/-a strings + -f
    formats agree with each other (count == line counts), and -a
    restricts a superset -b result."""
    from geodesk_gol_spark.query.run import gol_query

    res, store = built
    n = gol_query(store, res.catalog, "n[amenity=cafe]",
                  bbox="7,43,9,44", fmt="count")
    assert n > 0
    lines = gol_query(store, res.catalog, "n[amenity=cafe]",
                      bbox="7,43,9,44", fmt="list")
    assert lines.count() == n
    wkt = "POLYGON ((7.5 43.35, 7.8 43.35, 7.8 43.6, 7.5 43.6, 7.5 43.35))"
    m = gol_query(store, res.catalog, "n[amenity=cafe]", area=wkt, fmt="count")
    assert 0 < m <= n  # the polygon sits inside the bbox
    gj = gol_query(store, res.catalog, "n[amenity=cafe]",
                   area=wkt, fmt="geojsonl")
    assert gj.count() == m


def test_hot_tile_splits_across_files(spark, tmp_path):
    """Skew: one planet-scale city tile must not serialize behind a
    single writer.  Planning on (tile_id, Hilbert prefix) counts splits
    the hot tile at Hilbert boundaries across several output files while
    every file keeps a narrow, prunable tile_id range."""
    from geodesk_gol_spark.operators.compile_tiles import write_store

    n_hot, n_cold = 9_000, 1_000
    rows = spark.range(n_hot + n_cold).select(
        F.col("id"),
        F.lit(0).alias("ftype"),
        # 90% of rows land in tile 7; the rest spread over 50 tiles
        F.when(F.col("id") < n_hot, F.lit(7))
        .otherwise(100 + F.col("id") % 50).cast("int").alias("tile_id"),
        (F.col("id") * 2654435761 % 2**32).alias("hilbert"),
    )
    out = str(tmp_path / "store")
    write_store(rows, out)

    per_file = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.min("tile_id").alias("lo"), F.max("tile_id").alias("hi"))
        .orderBy("lo", "hi")
        .collect()
    )
    hot_files = [r for r in per_file if r["lo"] <= 7 <= r["hi"]]
    # the hot tile was split across several writers ...
    assert len(hot_files) >= 3
    # ... and no single file holds it all
    assert max(r["n"] for r in per_file) < 0.5 * (n_hot + n_cold)
    # ... and the layout stays prunable: ranges touch at most at the
    # boundary tile (the composite range key splits INSIDE a tile)
    for a, b in zip(per_file, per_file[1:]):
        assert a["hi"] <= b["lo"]


def test_metrics_recorded(built):
    res, _ = built
    m = {x["stage"]: x for x in res.metrics}
    assert m["metrics"]["total_rows"] > 0 and m["metrics"]["tiles"] > 1


@pytest.mark.parametrize(
    "q,expect_nonempty",
    [
        ("*", True),
        ("w[highway][name=A*]", True),
        ("a[boundary=administrative]", True),
        ("n[amenity=cafe]", True),
        ("a[leisure=park][name='This park does not exist!']", False),
        ("n[amenity!=cafe]", True),
        ("w[!highway]", True),
    ],
)
def test_goql_queries(built, q, expect_nonempty):
    _, store = built
    homes = store.filter(~F.col("is_ghost"))
    n = homes.filter(goql_to_column(q)).select("typed_id").distinct().count()
    assert (n > 0) == expect_nonempty


def test_goql_negative_clause_semantics(built):
    """[k!=v] matches features missing k (reference v2.2.3 semantics)."""
    _, store = built
    homes = store.filter(~F.col("is_ghost") & (F.col("ftype") == 0)).dropDuplicates(
        ["typed_id"]
    )
    n_all = homes.count()
    n_eq = homes.filter(goql_to_column("n[amenity=cafe]")).count()
    n_ne = homes.filter(goql_to_column("n[amenity!=cafe]")).count()
    assert n_eq + n_ne == n_all


def test_goql_quoted_key(built):
    """["addr:street"] parses; quoted and bare colon-keys are the same
    key; quoted keys compose with values and negation."""
    _, store = built
    homes = store.filter(~F.col("is_ghost") & (F.col("ftype") == 0)).dropDuplicates(
        ["typed_id"]
    )
    n_quoted = homes.filter(goql_to_column('n["addr:street"]')).count()
    n_bare = homes.filter(goql_to_column("n[addr:street]")).count()
    assert n_quoted == n_bare > 0
    n_main = homes.filter(
        goql_to_column('n["addr:street"=\'Main Street\']')
    ).count()
    n_not_main = homes.filter(
        goql_to_column('n["addr:street"!=\'Main Street\']')
    ).count()
    assert 0 < n_main < n_quoted
    # negation admits absent keys too
    assert n_main + n_not_main == homes.count()


def test_goql_errors():
    for bad in ["", "x[foo]", "n[name>abc]", "n[!k=v]", "n[amenity=]",
                # malformed quoting must fail loudly, not match a
                # literal-with-quotes that can never occur in tag data
                "n[k='a'b]", "n[name='x'y]"]:
        with pytest.raises(GoqlError):
            goql_to_column(bad)


def test_goql_quotes_protect_structure_chars():
    """']' and ',' inside a quoted value are literal text: the selector
    splitter and clause scanner must not treat them as structure."""
    assert goql_to_column('n[name="a],b"]') is not None
    # a union selector after a quoted ']' still splits correctly
    assert goql_to_column('n[name="x]y"],w[highway]') is not None


def test_goql_value_list_is_union(built):
    """[k=v1,v2] = any-of; [k!=v1,v2] = none-of (absent included)."""
    _, store = built
    homes = store.filter(~F.col("is_ghost") & (F.col("ftype") == 0)).dropDuplicates(
        ["typed_id"]
    )
    n_cafe = homes.filter(goql_to_column("n[amenity=cafe]")).count()
    n_park = homes.filter(goql_to_column("n[amenity=parking]")).count()
    n_both = homes.filter(goql_to_column("n[amenity=cafe,parking]")).count()
    assert n_both == n_cafe + n_park > 0
    n_neither = homes.filter(
        goql_to_column("n[amenity!=cafe,parking]")
    ).count()
    assert n_both + n_neither == homes.count()


def test_goql_regex_full_match(built):
    """[k~'re'] anchors the regex to the whole value."""
    _, store = built
    homes = store.filter(~F.col("is_ghost") & (F.col("ftype") == 0)).dropDuplicates(
        ["typed_id"]
    )
    # 'A' alone must NOT match 'A123' (full-string semantics)
    assert homes.filter(goql_to_column("n[name~'A']")).count() == 0
    n_a = homes.filter(goql_to_column("n[name~'A[0-9]+']")).count()
    n_like = homes.filter(goql_to_column("n[name=A*]")).count()
    assert n_a == n_like > 0


def test_cross_format_consistency(built, spark):
    """count == geojsonl lines == wkt rows == id-list lines (node query)."""
    _, store = built
    sel = store.filter(
        (F.col("ftype") == 0) & ~F.col("is_ghost") & goql_to_column("n[amenity=cafe]")
    ).dropDuplicates(["typed_id"]).persist()
    n = formats.count_result(sel)
    assert n > 0
    assert formats.node_geojsonl(sel).count() == n
    assert formats.node_wkt(sel).count() == n
    assert formats.id_list(sel).count() == n
    # GeoJSON lines parse back and carry exact 7-digit coords
    import json

    line = formats.node_geojsonl(sel).limit(1).collect()[0]["line"]
    obj = json.loads(line)
    assert obj["type"] == "Feature" and "coordinates" in obj["geometry"]


def test_empty_query_valid(built):
    _, store = built
    sel = store.filter(
        goql_to_column("a[leisure=park][name='This park does not exist!']")
    )
    assert formats.count_result(sel) == 0
    assert formats.node_geojsonl(sel.filter(F.col("ftype") == 0)).count() == 0


def test_bbox_filter_matches_bruteforce(built):
    """Distinct non-ghost features from the pruned scan == brute force.

    Row-level equality is NOT expected: a pair-assigned feature has two
    home rows and only the intersecting twin is visited — but every
    feature whose bbox intersects the box has at least one home tile
    intersecting it (the pair covers the extent), so the feature *set*
    matches."""
    res, store = built
    homes = store.filter(~F.col("is_ghost"))
    b = (1115000000, 630000000, 1125000000, 645000000)  # inside dense cluster
    got = bbox_filter(homes, res.catalog, *b).select("typed_id").distinct()
    brute = (
        homes.filter(
            (F.col("maxx") >= b[0]) & (F.col("minx") <= b[2])
            & (F.col("maxy") >= b[1]) & (F.col("miny") <= b[3])
        )
        .select("typed_id")
        .distinct()
    )
    assert got.count() > 0
    assert got.exceptAll(brute).count() == 0
    assert brute.exceptAll(got).count() == 0


def test_bbox_filter_join_path_equals_isin_path(built, monkeypatch):
    """Past ``_ISIN_MAX`` tiles the prune is a broadcast join on a
    driver-built hit table; it returns the same rows as the In-list."""
    from geodesk_gol_spark.query import spatial

    res, store = built
    boxes = [(1115000000, 630000000, 1125000000, 645000000),
             (0, 0, (1 << 31) - 1, (1 << 31) - 1)]
    assert any(spatial.tiles_for_bbox(res.catalog, *b)[1] for b in boxes)
    rows = store.drop("tags")  # set operations refuse map columns
    isin = [bbox_filter(rows, res.catalog, *b) for b in boxes]
    monkeypatch.setattr(spatial, "_ISIN_MAX", 0)
    for b, want in zip(boxes, isin):
        got = bbox_filter(rows, res.catalog, *b)
        assert "BroadcastHashJoin" in _executed_plan(got)
        assert want.count() > 0
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_area_and_knn_plans_stay_in_jvm(built, spark):
    """Neither area's PIP nor kNN's driver table takes a Python hop:
    no EvalPython node (a Python UDF) and no ExistingRDD scan (a frame
    built from a Python row list) in the executed plans."""
    from geodesk_gol_spark.query.spatial import area_filter

    res, store = built
    nodes = store.filter(F.col("ftype") == 0)
    cx, cy = 1120000000, 637000000
    ring = [(cx - 4e6, cy - 4e6), (cx + 4e6, cy - 3e6), (cx, cy + 5e6)]
    area = area_filter(nodes, res.catalog, [ring])
    pts = nodes.select("id", F.col("cx").alias("x"), F.col("cy").alias("y"))
    qs = pts.orderBy("id").limit(4).select(
        F.col("id").alias("q_id"), F.col("x").alias("qx"), F.col("y").alias("qy"))
    knn = knn_cell_rings(pts, qs, k=5, ring=2)
    assert area.count() > 0
    for df in (area, knn):
        plan = _executed_plan(df)
        assert "EvalPython" not in plan and "ExistingRDD" not in plan, plan


def test_polygon_filter_convex(built, spark):
    res, store = built
    nodes = store.filter(F.col("ftype") == 0)
    xs = [r[0] for r in nodes.select("cx").limit(1000).collect()]
    ys = [r[0] for r in nodes.select("cy").limit(1000).collect()]
    cx, cy = sum(xs) // len(xs), sum(ys) // len(ys)
    r = 40000000
    poly = [(cx - r, cy - r), (cx + r, cy - r), (cx + r, cy + r), (cx - r, cy + r)]
    got = polygon_filter(nodes, res.catalog, poly).select("typed_id")
    brute = nodes.filter(
        (F.col("cx") > cx - r) & (F.col("cx") < cx + r)
        & (F.col("cy") > cy - r) & (F.col("cy") < cy + r)
    ).select("typed_id")
    # ray casting on an axis-aligned box == open-interval membership
    assert got.exceptAll(brute).count() == 0
    assert brute.exceptAll(got).count() == 0


def test_knn_rings_equals_bruteforce(built, spark):
    _, store = built
    pts = store.filter(F.col("ftype") == 0).select(
        "id", F.col("cx").alias("x"), F.col("cy").alias("y")
    ).dropDuplicates(["id"]).persist()
    qs = pts.orderBy("id").limit(8).select(
        F.col("id").alias("q_id"), F.col("x").alias("qx"), F.col("y").alias("qy")
    )
    bf = knn_bruteforce(pts, qs, k=5).select("q_id", "neighbor_id", "rank")
    rings = knn_cell_rings(pts, qs, k=5, ring=2).select("q_id", "neighbor_id", "rank")
    assert bf.exceptAll(rings).count() == 0
    assert rings.exceptAll(bf).count() == 0


def test_span_sequence_preserved_through_store(built, spark):
    """North-rule per-row invariant END-TO-END: for every document, the
    (kind, span_seq) subsequence of its geometry spans survives parse →
    assign → compile → store write → read back, bit-for-bit.  The store
    holds one row per (feature, tile) — copies collapse by DISTINCT —
    and typed_id % 4 encodes the kind, so the reconstruction uses only
    store columns."""
    res, store = built
    kind_of = {0: "node", 1: "way", 2: "relation"}
    got = {
        (r.doc_id, r.span_seq): kind_of[r.k]
        for r in store.select(
            "doc_id", "span_seq",
            (F.col("typed_id") % 4).cast("int").alias("k"),
        ).distinct().collect()
    }
    src = spark.read.parquet(os.path.join(res.out_dir, "docs"))
    want = {
        (str(r.doc_id), r.seq): r.kind
        for r in src.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.posexplode("spans").alias("seq", "s"),
        ).select("doc_id", "seq", "s.kind")
        .filter(F.col("kind").isin("node", "way", "relation"))
        .collect()
    }
    assert got == want
