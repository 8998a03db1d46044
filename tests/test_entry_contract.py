"""Driver-contract guard: entry() smoke + a sample of queries vs oracles.

The full 41-query sweep lives in tools/run_gate.py (run per scale factor);
this keeps a representative slice inside `pytest -x -q` so contract
regressions fail fast.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E

from .conftest import SF_DIR, assert_frames_equal

SAMPLE = [
    "s1_parse_nodes",
    "s2_span_sequence",
    "a4_tile_pyramid",
    "j3_way_homes",
    "j7_exports",
    "p1_goql_highway_names",
    "knn_rings",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_embed_cosine",
    "dedup_incremental",
    "raster_zonal_stats",
    "text_fingerprint",
    "text_decontaminate",
    "text_repetition",
    "sample_temperature",
    "ann_cosine_topk",
    "s8_change_merge",
]


def test_contract_shape():
    qs = E.queries()
    os_ = E.oracle_sql()
    assert len(qs) >= 40
    missing_oracles = [k for k in qs if k not in os_]
    assert missing_oracles == [], missing_oracles


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert {"typed_id", "tile_id", "is_ghost", "twin", "zoom"} <= set(df.columns)


@pytest.mark.parametrize("name", SAMPLE)
def test_query_matches_oracle(spark, duck, name):
    got = E.queries()[name](spark, SF_DIR)
    want = duck.execute(E.oracle_sql()[name])
    g = got.toPandas()
    keys = list(sorted(g.columns))
    assert_frames_equal(g, want, keys)


def test_gatecache_prunes_stale_fingerprints(tmp_path):
    """A fresh ctx build removes sibling caches of the SAME sf with a
    different (code, data) fingerprint — every code change mints a new
    fingerprint and the old dirs are unreachable forever — while other
    SFs, same-fingerprint derived caches, and in-flight .tmp.<pid>
    staging dirs survive."""
    from geodesk_gol_spark.gate import _prune_stale

    # realistic names: "<sf>-<12-hex code fp>-<8-hex data fp>"
    NEW = "aaaaaaaaaaaa-11111111"
    OLD = "bbbbbbbbbbbb-22222222"
    names = [
        f"sf0.01-{NEW}", f"sf0.01-{OLD}", f"sf0.001-{OLD}",
        f"archive_sf0.01-{OLD}", f"archive_sf0.01-{NEW}",
        f"archive_sf0.001-{OLD}", f"sf0.01-{OLD}.tmp.123",
        # sf names containing a dash must not be treated as prefixes of
        # each other (tpch-sf1 vs tpch-sf10)
        f"tpch-sf1-{NEW}", f"tpch-sf1-{OLD}", f"tpch-sf10-{OLD}",
    ]
    for n in names:
        (tmp_path / n).mkdir()
    _prune_stale(tmp_path / f"sf0.01-{NEW}")
    _prune_stale(tmp_path / f"tpch-sf1-{NEW}")
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted([
        f"sf0.01-{NEW}", f"sf0.001-{OLD}", f"archive_sf0.01-{NEW}",
        f"archive_sf0.001-{OLD}", f"sf0.01-{OLD}.tmp.123",
        f"tpch-sf1-{NEW}", f"tpch-sf10-{OLD}",
    ])


def test_dedup_incremental_pairs_cross_sides_only(spark):
    """Every reported duplicate pairs a NEW-batch doc with a SEEN-corpus
    canonical: the whole point of incremental dedup is that seen×seen is
    never re-paired and new docs dedupe against history, so a row whose
    new_doc hashes to the seen side (or vice versa) means the side split
    leaked through the LSH band join."""
    from pyspark.sql import functions as F

    got = E.queries()["dedup_incremental"](spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    side = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12),
               16, 10).cast("long") % 10 < 8
    )
    seen_ids = {r.doc_id for r in docs.filter(side).select("doc_id").collect()}
    rows = got.collect()
    assert rows, "fixture corpus must contain at least one cross-side dup"
    for r in rows:
        assert r.new_doc not in seen_ids, r
        assert r.canon_seen in seen_ids, r
        assert r.n_matches >= 1


def test_kmeans_lloyd_iterates_to_fixed_point(spark):
    """The loop is genuinely iterative: WCSS never increases round over
    round (Lloyd's monotonicity, exact here because the arithmetic is
    integer), and with a generous max_iters the integer centroids reach
    a fixed point before the cap."""
    from pyspark.sql import functions as F

    from geodesk_gol_spark.functions.kmeans import kmeans_lloyd
    from geodesk_gol_spark.gate_ml import _plane_vectors

    cents = _plane_vectors(spark, SF_DIR, 8, 200)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    wcss = []
    for iters in (1, 2, 3):
        _, asn, ran = kmeans_lloyd(emb, cents, max_iters=iters)
        assert ran <= iters
        wcss.append(asn.agg(F.sum("score")).collect()[0][0])
    assert wcss[0] >= wcss[1] >= wcss[2]

    final_cents, _, ran = kmeans_lloyd(emb, cents, max_iters=50)
    assert ran < 50, "must converge on the fixture corpus"
    assert final_cents, "at least one centroid must survive"


# query -> (substrings its formatted plan must hold, must not hold).  AQE
# formatted plans print no codegen ids before execution, so the checks
# are structural: filters reach the scan, no Python row path, no
# all-pairs join, hash aggregates.
_NO_PAIRS_NO_PY = ["CartesianProduct", "BatchEvalPython"]
PLAN_AUDITS = {
    "p2_bbox_query": (["PushedFilters"], ["CartesianProduct"]),
    "p1_goql_highway_names": (["PushedFilters", "Filter"], _NO_PAIRS_NO_PY),
    # gate queries read the materialized stage cache, so j1's plan is a
    # 2-column pruned scan, not a join
    "j1_node_tiles": (
        ["ReadSchema: struct<typed_id:bigint,tile_id:int>"],
        ["CartesianProduct", "Exchange"]),
    # the catalog is capped driver-side (<= 65 535 rows), so its query
    # is a LocalTableScan by design
    "a4_tile_pyramid": (["LocalTableScan"], ["Exchange"]),
    "a1_cell_counts": (["HashAggregate"], ["CartesianProduct"]),
    "dedup_minhash_lsh": (["HashAggregate"], ["CartesianProduct"]),
    "sample_stratified": (["WindowGroupLimit"], ["CartesianProduct"]),
    "sample_temperature": (["WindowGroupLimit"], ["CartesianProduct"]),
    # chunking explodes (a Generate node), never through Python
    "text_chunks": (["Generate"], _NO_PAIRS_NO_PY),
    "text_decontaminate": (["HashAggregate"], ["CartesianProduct"]),
    "ann_kmeans_iter": (["HashAggregate"], ["BatchEvalPython"]),
    "dedup_incremental": (["HashAggregate"], _NO_PAIRS_NO_PY),
    "ann_kmeans_lloyd": (["HashAggregate"], _NO_PAIRS_NO_PY),
    # the sanctioned Python path is Arrow-batched mapInPandas
    "media_frame_sample": (["MapInPandas"], ["BatchEvalPython"]),
    # spatial joins: keyed candidate joins, never all-pairs
    "j11_contains_join": (["HashAggregate"], _NO_PAIRS_NO_PY),
    "j12_relation_contains": (["HashAggregate"], _NO_PAIRS_NO_PY),
    "j13_dwithin_join": (["HashAggregate"], _NO_PAIRS_NO_PY),
    "j14_way_within": (["HashAggregate"], _NO_PAIRS_NO_PY),
    "dedup_simhash_pairs": (["HashAggregate"], _NO_PAIRS_NO_PY),
    "dedup_embed_cosine": (["HashAggregate"], _NO_PAIRS_NO_PY),
    # its sparse fallback arm is a broadcast nested-loop join by design
    "ann_ivf_topk": ([], ["BatchEvalPython"]),
    "text_pii_scrub": ([], ["CartesianProduct", "BatchEvalPython",
                            "Exchange"]),
    "s8_change_merge": (["Window"], _NO_PAIRS_NO_PY),
    # ring nesting is quadratic only within a relation, never across
    "f9_geojson_ways": (["HashAggregate"], _NO_PAIRS_NO_PY),
    "f9_relation_multipolygon": (["HashAggregate"], _NO_PAIRS_NO_PY),
    "f9_relation_wkt": (["HashAggregate"], _NO_PAIRS_NO_PY),
    "p1_goql_units": ([], _NO_PAIRS_NO_PY),
    # event analytics: one user_id exchange feeding windows/aggregates
    "events_funnel": (["Window"], _NO_PAIRS_NO_PY),
    "events_retention": (["HashAggregate"], _NO_PAIRS_NO_PY),
    "events_transitions": (["Window", "HashAggregate"], _NO_PAIRS_NO_PY),
    # the 4-row query side broadcasts (a nested-loop join by design)
    "ann_sq_topk": ([], ["BatchEvalPython"]),
}


@pytest.mark.parametrize("name", PLAN_AUDITS)
def test_plan_audit(spark, capsys, name):
    want, forbid = PLAN_AUDITS[name]
    E.queries()[name](spark, SF_DIR).explain("formatted")
    plan = capsys.readouterr().out
    assert [w for w in want if w not in plan] == [], plan
    assert [f for f in forbid if f in plan] == [], plan
