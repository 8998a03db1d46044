"""kNN cell rings: exactness vs brute force on adversarial layouts.

Each query's ring is certified on the driver from a per-cell count
grid (sparse far points certify only on a coarser level), so the tests
cover every branch of the certificate — the 3x3-block ring, ties at the
certifying distance, duplicates, fewer points than k — and a job budget
for the single pass."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geodesk_gol_spark.query.spatial import knn_bruteforce, knn_cell_rings


@pytest.fixture(scope="module")
def sparse(spark):
    # a dense clump near the origin + far-flung singletons: queries at the
    # clump certify on the base grid; queries in the void on a coarser level
    cell = 1 << 15
    pts = [(i, 1000 + i * 37, 2000 + i * 53) for i in range(40)]
    pts += [(100 + j, 40 * cell + j * 11 * cell, 50 * cell + j * 13 * cell)
            for j in range(6)]
    points = spark.createDataFrame(pts, "id long, x long, y long")
    qs = spark.createDataFrame(
        [(0, 1500, 2500), (1, 45 * cell, 55 * cell)],
        "q_id long, qx long, qy long",
    )
    return points, qs


def test_rings_equals_brute(sparse):
    points, qs = sparse
    want = {(r["q_id"], r["rank"]): r["neighbor_id"]
            for r in knn_bruteforce(points, qs, k=5).collect()}
    got = {(r["q_id"], r["rank"]): r["neighbor_id"]
           for r in knn_cell_rings(points, qs, k=5, ring=2).collect()}
    assert got == want


def test_rings_no_duplicate_results(sparse):
    points, qs = sparse
    rows = knn_cell_rings(points, qs, k=5, ring=2).collect()
    keys = [(r["q_id"], r["rank"]) for r in rows]
    assert len(keys) == len(set(keys))
    per_q = {}
    for r in rows:
        per_q.setdefault(r["q_id"], []).append(r["rank"])
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_rings_near_world_edge(spark):
    """Coordinates in the top third of the 31-bit world: the squared
    distances exceed int32, which ANSI mode turns into a job-killing
    overflow unless the distance arithmetic stays in long."""
    top = (1 << 31) - 1
    pts = [(i, top - 1000 - i * 37, top - 2000 - i * 53) for i in range(30)]
    pts += [(200, 5, 7)]  # far corner: its query certifies on the top level
    points = spark.createDataFrame(pts, "id long, x long, y long")
    qs = spark.createDataFrame(
        [(0, top - 1500, top - 2500), (1, 10, 10)],
        "q_id long, qx long, qy long",
    )
    want = {(r["q_id"], r["rank"]): r["neighbor_id"]
            for r in knn_bruteforce(points, qs, 3).collect()}
    got = {(r["q_id"], r["rank"]): r["neighbor_id"]
           for r in knn_cell_rings(points, qs, 3, cell_bits=22).collect()}
    assert got == want


def test_bruteforce_refuses_large_query_set(spark):
    """The brute cartesian is the exactness oracle only: a query set
    above the cap raises instead of silently planning O(N x Q)."""
    import pytest as _pytest

    pts = spark.range(10).selectExpr("id", "id AS x", "id AS y")
    qs = spark.range(5000).selectExpr(
        "id AS q_id", "id AS qx", "id AS qy")
    with _pytest.raises(ValueError, match="knn_cell_rings"):
        knn_bruteforce(pts, qs, k=2)
    # a small query set still runs
    assert knn_bruteforce(pts, qs.limit(3), k=2).count() == 6


def _brute_vs_rings(points, qs, k, **kw):
    want = {(r["q_id"], r["rank"]): (r["neighbor_id"], r["dist"])
            for r in knn_bruteforce(points, qs, k).collect()}
    got = {(r["q_id"], r["rank"]): (r["neighbor_id"], r["dist"])
           for r in knn_cell_rings(points, qs, k, **kw).collect()}
    assert got == want
    return got


def test_rings_three_by_three_certificate(spark):
    """The query's own cell holds fewer than k points, its 3x3 block at
    least k: r1 = 1 widens the ring to 3, which must reach the points
    two cells over that are nearer than the block's far corners."""
    from geodesk_gol_spark.query.spatial import _count_grid, _radius

    cell = 1 << 10
    qx = qy = 4 * cell + 10            # near the low corner of cell (4, 4)
    pts = [(1, qx + 100, qy + 100), (2, qx + 200, qy + 50)]  # own cell
    pts += [(10 + i, 6 * cell - 1 - i, 6 * cell - 1) for i in range(4)]
    pts += [(20, 3 * cell - 1, qy), (21, qx, 3 * cell - 5)]  # 2 cells over
    pts += [(30, 40 * cell, 40 * cell)]
    points = spark.createDataFrame(pts, "id long, x long, y long")
    qs = spark.createDataFrame([(0, qx, qy)], "q_id long, qx long, qy long")
    assert _radius(_count_grid(points, 10), 4, 4, 5, 1) == 1
    got = _brute_vs_rings(points, qs, 5, ring=2, cell_bits=10)
    assert {got[(0, r)][0] for r in (3, 4)} == {20, 21}


def test_rings_tie_at_certifying_distance(spark):
    """The k-th neighbor, in the query's own cell, ties with a smaller-id
    point two cells over (a 615-820-1025 triangle): the ring the
    certificate grants must reach past the caller's ring=1 to hold it,
    so the id tiebreak picks it."""
    cell = 1 << 10
    qx, qy = 4 * cell, 4 * cell + 10
    points = spark.createDataFrame(
        [(60, qx + 100, qy), (50, qx + 615, qy + 820), (7, qx - 1025, qy),
         (8, qx, 9 * cell)],
        "id long, x long, y long")
    qs = spark.createDataFrame([(0, qx, qy)], "q_id long, qx long, qy long")
    got = _brute_vs_rings(points, qs, 2, ring=1, cell_bits=10)
    assert got[(0, 2)] == (7, 1025 * 1025)


def test_rings_duplicate_coordinates(spark):
    """Duplicates at and around the query: the k cut falls inside a run
    of equal distances, which ranks by id like the oracle."""
    pts = [(i, 7000, 9000) for i in range(20, 12, -1)]
    pts += [(100 + i, 7000 + i, 9000) for i in range(3)]
    pts += [(200 + i, 1 << 25, 1 << 25) for i in range(4)]
    points = spark.createDataFrame(pts, "id long, x long, y long")
    qs = spark.createDataFrame(
        [(0, 7000, 9000), (1, 7001, 9000), (2, (1 << 25) + 3, 1 << 25)],
        "q_id long, qx long, qy long")
    _brute_vs_rings(points, qs, 5)
    _brute_vs_rings(points, qs, 10, cell_bits=12)


def test_rings_fewer_points_than_k(spark):
    """Fewer than k points in all: every point comes back, ranked."""
    points = spark.createDataFrame(
        [(1, 10, 10), (2, 1 << 30, 5), (3, 77, 1 << 29)],
        "id long, x long, y long")
    qs = spark.createDataFrame(
        [(0, 0, 0), (1, 1 << 30, 1 << 30)],
        "q_id long, qx long, qy long")
    got = _brute_vs_rings(points, qs, 5)
    assert sorted(got) == [(q, r) for q in (0, 1) for r in (1, 2, 3)]


def test_rings_job_budget(spark, sparse):
    """One certified pass: the count grid (a shuffle and a collect),
    the query collect and the caller's collect of the rank pass (the
    broadcast, the shuffle and the result) fit in 6 Spark jobs."""
    points, qs = sparse
    sc = spark.sparkContext
    sc.setJobGroup("knn-budget", "knn job budget")
    try:
        knn_cell_rings(points, qs, k=5, ring=2).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("knn-budget")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(jobs) <= 6, jobs
