"""Super-relation edge cases: cycles, partial members, missing members.

Mirrors the reference coverage promised in FIXTURES.md §2:
cycle break (SuperRelationResolver.cpp:210-235), missing members
(Sorter.cpp:510-518), self-references (Sorter.cpp:490-499).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from geodesk_gol_spark.config import BuildSettings
from geodesk_gol_spark.functions.mercator import with_projection
from geodesk_gol_spark.operators import assign
from geodesk_gol_spark.operators.assign import node_points, relation_extents, way_extents
from geodesk_gol_spark.plans.pyramid import build_tile_catalog

REL_SCHEMA = (
    "id long, members array<struct<t:tinyint,id:bigint,role:string>>, "
    "tags map<string,string>, doc_id string, span_seq int"
)


@pytest.fixture(scope="module")
def world(spark):
    nodes = spark.createDataFrame(
        [(i, 74000000 + i * 1000, 433000000 + i * 1000, {}, "d", i) for i in range(10)],
        "id long, lon100nd int, lat100nd int, tags map<string,string>, "
        "doc_id string, span_seq int",
    )
    proj = with_projection(nodes).persist()
    points = node_points(proj).persist()
    ways = spark.createDataFrame(
        [(100, [0, 1, 2], {}, "d", 0), (101, [3, 4], {}, "d", 1)],
        "id long, node_ids array<bigint>, tags map<string,string>, "
        "doc_id string, span_seq int",
    )
    wext = way_extents(ways, points).persist()
    return points, wext


def _rels(spark, rows):
    return spark.createDataFrame(rows, REL_SCHEMA).persist()


def test_pure_cycle_is_unresolved(spark, world):
    points, wext = world
    rels = _rels(
        spark,
        [
            (900, [(2, 901, "a")], {}, "x", 0),
            (901, [(2, 900, "a")], {}, "x", 1),
        ],
    )
    ext, unresolved = relation_extents(rels, points, wext)
    assert ext.count() == 0
    assert sorted(r.rel_id for r in unresolved.collect()) == [900, 901]


def test_cycle_with_anchor_breaks_deterministically(spark, world):
    points, wext = world
    rels = _rels(
        spark,
        [
            (900, [(2, 901, "a"), (1, 100, "w")], {}, "x", 0),
            (901, [(2, 900, "a")], {}, "x", 1),
        ],
    )
    ext, unresolved = relation_extents(rels, points, wext)
    rows = {r.id: r for r in ext.collect()}
    assert unresolved.count() == 0
    assert set(rows) == {900, 901}
    # reference scoring (SuperRelationResolver.cpp:152-235): 901 has ONLY
    # relation members (+1e9, hierarchy top) while 900 scores 1 (one way
    # member) — 900 loses its rel-member edge and alone carries the
    # refcycle flag; 901 then resolves normally through 900
    assert rows[900].refcycle and not rows[901].refcycle
    # 901 inherits 900's extent (which came from way 100)
    assert rows[901].minc == rows[900].minc


def test_cycle_break_prefers_scored_loser(spark, world):
    """type=network outranks an untyped peer: the untyped one loses."""
    points, wext = world
    rels = _rels(
        spark,
        [
            (910, [(2, 911, "a"), (1, 100, "w")], {"type": "network"}, "x", 0),
            (911, [(2, 910, "a"), (1, 101, "w")], {}, "x", 1),
        ],
    )
    ext, unresolved = relation_extents(rels, points, wext)
    rows = {r.id: r for r in ext.collect()}
    assert unresolved.count() == 0
    assert not rows[910].refcycle and rows[911].refcycle
    # 910 (kept its edge) spans both ways; 911 only its own anchor
    assert rows[910].minc <= rows[911].minc
    assert rows[910].n_resolved == 2 and rows[911].n_resolved == 1


def test_self_reference_dropped(spark, world):
    points, wext = world
    rels = _rels(spark, [(902, [(2, 902, "self"), (1, 101, "w")], {}, "x", 0)])
    ext, unresolved = relation_extents(rels, points, wext)
    rows = ext.collect()
    assert len(rows) == 1 and not rows[0].refcycle and rows[0].level == 0
    assert unresolved.count() == 0


def test_missing_members_partial_resolve(spark, world):
    points, wext = world
    rels = _rels(
        spark,
        [(903, [(1, 100, "w"), (0, 99999, "missing"), (1, 77777, "missing")], {}, "x", 0)],
    )
    ext, _ = relation_extents(rels, points, wext)
    row = ext.collect()[0]
    assert row.n_members == 3 and row.n_resolved == 1


def test_deep_chain_levels(spark, world):
    points, wext = world
    rels = _rels(
        spark,
        [
            (910, [(1, 100, "w")], {}, "x", 0),
            (911, [(2, 910, "a")], {}, "x", 1),
            (912, [(2, 911, "a")], {}, "x", 2),
            (913, [(2, 912, "a")], {}, "x", 3),
        ],
    )
    ext, _ = relation_extents(rels, points, wext)
    lv = {r.id: r.level for r in ext.collect()}
    assert lv == {910: 0, 911: 1, 912: 2, 913: 3}


def test_mixed_world_resolves_to_pinned_rows(spark, world):
    """Deep chains, an anchored cycle, a super over an empty relation,
    missing members and a pure cycle in one call, pinned row for row.

    Derivation (world: ways 100 = nodes 0-2, 101 = nodes 3-4; node i
    sits at x = X0 + ~597 i, y = Y0 - ~1089 i, all in cell 2132/1217):
    920 spans both ways (nodes 0-4); 921 adds node 5 to 920 and 922
    inherits 921 unchanged; in the 930/931 cycle 930 (one way member,
    score 1) loses its edge to 931 (only relation members, score 1e9),
    keeps way 100's extent at level 1 and carries ``refcycle``, and 931
    resolves one level above it; 940 has only a missing member, so it
    is unresolved and 941 keeps just node 3; the pure cycle 950/951
    resolves to nothing."""
    points, wext = world
    rels = _rels(
        spark,
        [
            (920, [(1, 100, "w"), (1, 101, "w")], {}, "x", 0),
            (921, [(2, 920, "a"), (0, 5, "n")], {}, "x", 1),
            (922, [(2, 921, "a")], {}, "x", 2),
            # cycle anchored by a real member
            (930, [(2, 931, "a"), (1, 100, "w")], {}, "x", 3),
            (931, [(2, 930, "a")], {}, "x", 4),
            # super over an empty (all-missing) relation
            (940, [(0, 88888, "missing")], {}, "x", 5),
            (941, [(2, 940, "a"), (0, 3, "n")], {}, "x", 6),
            # pure cycle: stays unresolved
            (950, [(2, 951, "a")], {}, "x", 7),
            (951, [(2, 950, "a")], {}, "x", 8),
        ],
    )
    ext, unresolved = relation_extents(rels, points, wext)
    cols = ["id", "level", "n_members", "n_resolved", "refcycle",
            "minc", "minr", "maxc", "maxr", "minx", "miny", "maxx", "maxy"]
    got = sorted(tuple(r[c] for c in cols) for r in ext.select(*cols).collect())
    cell = (2132, 1217, 2132, 1217)
    nodes_0_4 = (1117884543, 638529695, 1117886929, 638534050)
    nodes_0_5 = (1117884543, 638528606, 1117887526, 638534050)
    way_100 = (1117884543, 638531873, 1117885736, 638534050)
    node_3 = (1117886333, 638530784, 1117886333, 638530784)
    xy = {r.id: (r.x, r.y) for r in points.collect()}

    def bbox(*ids):
        xs, ys = [xy[i][0] for i in ids], [xy[i][1] for i in ids]
        return (min(xs), min(ys), max(xs), max(ys))

    # the pinned extents are the node bboxes the construction implies
    assert (nodes_0_4, nodes_0_5, way_100, node_3) == (
        bbox(0, 1, 2, 3, 4), bbox(0, 1, 2, 3, 4, 5), bbox(0, 1, 2), bbox(3)
    )
    assert got == [
        (920, 0, 2, 2, False, *cell, *nodes_0_4),
        (921, 1, 2, 2, False, *cell, *nodes_0_5),
        (922, 2, 1, 1, False, *cell, *nodes_0_5),
        (930, 1, 2, 1, True, *cell, *way_100),
        (931, 2, 1, 1, False, *cell, *way_100),
        (941, 1, 2, 1, False, *cell, *node_3),
    ]
    assert sorted(r.rel_id for r in unresolved.collect()) == [940, 950, 951]


def test_empty_and_selfref_only_relations_are_unresolved(spark, world):
    """A relation with an empty members array, or whose only member is
    itself, has no row after explode + self-ref drop — it must surface
    in ``unresolved`` (no resolvable member), not silently vanish."""
    points, wext = world
    rels = _rels(
        spark,
        [
            (960, [], {}, "x", 0),
            (961, [(2, 961, "self")], {}, "x", 1),
            (962, [(1, 100, "w")], {}, "x", 2),  # control: resolves
        ],
    )
    ext, unresolved = relation_extents(rels, points, wext)
    assert sorted(r.rel_id for r in unresolved.collect()) == [960, 961]
    assert [r.id for r in ext.collect()] == [962]


def test_j6_residue_is_metered(spark, world):
    """The driver-side super-relation residue records its row volume
    into the stats dict (pipeline forwards it to the metrics table) —
    a pathological corpus is visible, never silent."""
    points, wext = world
    rels = _rels(
        spark,
        [
            (920, [(2, 921, "a"), (1, 100, "m")], {}, "x", 0),
            (921, [(2, 920, "a")], {}, "x", 1),
        ],
    )
    stats: dict = {}
    ext, _ = relation_extents(rels, points, wext, stats=stats)
    ext.count()
    assert stats["j6_pending_supers"] == 2
    assert stats["j6_residue_edges"] == 2

    # no super-relations at all -> zero meters, keys still present
    simple = _rels(spark, [(930, [(1, 100, "m")], {}, "x", 0)])
    stats2: dict = {}
    ext2, _ = relation_extents(simple, points, wext, stats=stats2)
    ext2.count()
    assert stats2 == {"j6_pending_supers": 0, "j6_residue_edges": 0}


def test_j6_residue_cap_raises(spark, world, monkeypatch):
    """Above J6_RESIDUE_CAP the resolver refuses to pull the residue
    driver-side instead of ballooning silently."""
    points, wext = world
    rels = _rels(
        spark,
        [
            (940, [(2, 941, "a"), (1, 100, "m")], {}, "x", 0),
            (941, [(2, 940, "a")], {}, "x", 1),
        ],
    )
    monkeypatch.setattr(assign, "J6_RESIDUE_CAP", 1)
    with pytest.raises(RuntimeError, match="J6 driver residue too large"):
        ext, _ = relation_extents(rels, points, wext)
        ext.count()


def test_way_extent_failure_surfaces_before_relation_chain(spark, monkeypatch):
    """A failing way-extent job raises from assign_features at once; it
    does not wait for the (here: stalled) relation chain to finish."""
    nodes = spark.createDataFrame(
        [(i, 74000000 + i * 1000, 433000000 + i * 1000, {}, "d", i) for i in range(10)],
        "id long, lon100nd int, lat100nd int, tags map<string,string>, "
        "doc_id string, span_seq int",
    )
    catalog = build_tile_catalog(with_projection(nodes), BuildSettings.for_fixture(50))

    @F.udf("array<bigint>")
    def _boom(ids):
        raise ValueError("injected way-extent failure")

    ways = spark.createDataFrame(
        [(100, [0, 1, 2], {}, "d", 0)],
        "id long, node_ids array<bigint>, tags map<string,string>, "
        "doc_id string, span_seq int",
    ).withColumn("node_ids", _boom("node_ids"))
    rels = _rels(spark, [(970, [(1, 100, "w")], {}, "x", 0)])

    def _stalled_chain(*args, **kwargs):
        time.sleep(60)
        raise AssertionError("the relation chain must not be waited on")

    monkeypatch.setattr(assign, "relation_extents", _stalled_chain)
    t0 = time.monotonic()
    with pytest.raises(Exception, match="injected way-extent failure"):
        assign.assign_features(
            {"nodes": nodes, "ways": ways, "relations": rels}, catalog
        )
    assert time.monotonic() - t0 < 15
