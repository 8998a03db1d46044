"""Unit tests for the round-2 operators: .osc ingestion (S8), create
merge, polygon intersects (P3/J9), and foreign-ref stubs (J8)."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from geodesk_gol_spark.streaming.osc import parse_osc, parse_osc_text
from geodesk_gol_spark.streaming.update import merge_changes

_XML = """<osmChange version="0.6">
<create><node id="901" lat="1.25" lon="2.5" version="1">
  <tag k="amenity" v="cafe"/></node></create>
<modify><way id="42" version="3"><nd ref="1"/><nd ref="2"/>
  <tag k="highway" v="primary"/></way></modify>
<delete><relation id="7" version="2">
  <member type="way" ref="42" role="outer"/></relation></delete>
</osmChange>"""


def test_parse_osc_text_rows():
    rows = parse_osc_text(_XML)
    assert [r["op"] for r in rows] == ["create", "modify", "delete"]
    n = rows[0]
    assert n["typed_id"] == 901 * 4 and n["lon100nd"] == 25_000_000
    assert n["lat100nd"] == 12_500_000 and n["tags"] == {"amenity": "cafe"}
    w = rows[1]
    assert w["node_ids"] == [1, 2] and w["typed_id"] == 42 * 4 + 1
    r = rows[2]
    assert r["members"] == [{"t": 1, "id": 42, "role": "outer"}]


def test_parse_osc_gz_file(spark, tmp_path):
    p = tmp_path / "changes.osc.gz"
    p.write_bytes(gzip.compress(_XML.encode()))
    df = parse_osc(spark, str(p))
    got = {r["op"]: r for r in (row.asDict() for row in df.collect())}
    assert set(got) == {"create", "modify", "delete"}
    assert got["create"]["lat100nd"] == 12_500_000
    assert got["modify"]["node_ids"] == [1, 2]


def test_merge_changes_creates_inserted(spark):
    store = spark.createDataFrame(
        [(4, 1, {"a": "1"}, 10), (8, 2, {"b": "2"}, 11)],
        "typed_id long, id long, tags map<string,string>, tile_id int",
    )
    ch = spark.createDataFrame(
        [
            ("create", 400, 100, {"new": "y"}, 12, 1, 0),
            ("modify", 8, 2, {"b": "3"}, None, 1, 1),
            ("delete", 4, 1, None, None, 1, 2),
        ],
        "op string, typed_id long, id long, tags map<string,string>, "
        "tile_id int, revision long, change_seq long",
    )
    out = {r["typed_id"]: r.asDict() for r in merge_changes(store, ch).collect()}
    assert 4 not in out                      # deleted
    assert out[8]["tags"] == {"b": "3"}      # modified
    assert out[400]["tile_id"] == 12         # created, with caller tile
    assert out[400]["tags"] == {"new": "y"}


def test_merge_create_existing_acts_as_modify(spark):
    """A create of an existing typed_id behaves as a modify: every
    payload column the change PROVIDES replaces the store's (tile_id 99
    wins — a moved node changes tile), while a NULL payload keeps the
    store value (second change row carries no tile)."""
    store = spark.createDataFrame(
        [(8, 2, {"b": "2"}, 11), (12, 3, {"c": "1"}, 22)],
        "typed_id long, id long, tags map<string,string>, tile_id int",
    )
    ch = spark.createDataFrame(
        [
            ("create", 8, 2, {"b": "9"}, 99, 1, 0),
            ("modify", 12, 3, {"c": "7"}, None, 1, 1),
        ],
        "op string, typed_id long, id long, tags map<string,string>, "
        "tile_id int, revision long, change_seq long",
    )
    out = {r["typed_id"]: r.asDict() for r in merge_changes(store, ch).collect()}
    assert len(out) == 2
    assert out[8]["tags"] == {"b": "9"} and out[8]["tile_id"] == 99
    assert out[12]["tags"] == {"c": "7"} and out[12]["tile_id"] == 22


# ---------------------------------------------------------------------------
# polygon intersects (concave L-shape, unit coords)
# ---------------------------------------------------------------------------

# L-shape: (0,0)-(10,0)-(10,5)-(5,5)-(5,10)-(0,10); half-integer shifted
_L = [(0.5, 0.5), (10.5, 0.5), (10.5, 5.5), (5.5, 5.5), (5.5, 10.5),
      (0.5, 10.5)]


@pytest.mark.parametrize(
    "seg,expect",
    [
        ((1.0, 1.0, 2.0, 2.0), True),      # fully inside
        ((-3.0, 1.0, 2.0, 1.0), True),     # crosses left edge
        ((7.0, 7.0, 9.0, 9.0), False),     # in the concave notch
        ((20.0, 20.0, 30.0, 30.0), False),  # far outside
        ((7.0, 7.0, 7.0, 3.0), True),      # from notch into the foot
        ((-5.0, 12.0, 12.0, 12.0), False),  # passes above
    ],
)
def test_segment_polygon_intersects(spark, seg, expect):
    from geodesk_gol_spark.query.spatial import segment_intersects_polygon_udf

    df = spark.createDataFrame([seg], "x0 double, y0 double, x1 double, y1 double")
    hit = segment_intersects_polygon_udf(_L)
    got = df.select(
        hit(F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1")).alias("h")
    ).collect()[0]["h"]
    assert got == expect


def test_polygon_intersect_ways_dedup(spark):
    from geodesk_gol_spark.query.spatial import polygon_intersect_ways

    segs = spark.createDataFrame(
        [
            (1, 0, 1.0, 1.0, 2.0, 2.0),   # way 1 inside (two segments hit)
            (1, 1, 2.0, 2.0, 3.0, 3.0),
            (2, 0, 20.0, 20.0, 30.0, 30.0),  # way 2 outside
        ],
        "way_id long, seq int, x0 double, y0 double, x1 double, y1 double",
    )
    got = sorted(r["way_id"] for r in polygon_intersect_ways(segs, _L).collect())
    assert got == [1]


# ---------------------------------------------------------------------------
# J8 foreign-ref stubs on a tiny hand-built graph
# ---------------------------------------------------------------------------

def _stub_graph(spark, ways, node_tiles, way_homes):
    from geodesk_gol_spark.operators.validate import foreign_ref_stubs

    return foreign_ref_stubs(
        spark.createDataFrame(ways, "id long, node_ids array<long>"),
        spark.createDataFrame(
            [], "id long, members array<struct<t: int, id: long, role: string>>"
        ),
        spark.createDataFrame(node_tiles, "typed_id long, tile_id int"),
        spark.createDataFrame(way_homes, "typed_id long, tile_id int"),
        spark.createDataFrame([], "typed_id long, tile_id int"),
    )


def test_foreign_ref_stubs(spark):
    from geodesk_gol_spark.operators.validate import export_tables

    # way 1 (home tile 100) -> nodes 10 (tile 100, local) and 11 (tile 200)
    stubs = _stub_graph(spark, [(1, [10, 11])], [(40, 100), (44, 200)],
                        [(5, 100)])
    srows = [r.asDict() for r in stubs.collect()]
    assert srows == [
        {"tile_id": 100, "ref_typed": 5, "member_typed": 44,
         "tip": 200, "tex": 0}
    ]
    exp = export_tables(stubs)
    assert exp.columns == ["tile_id", "typed_id", "tex"]
    assert [r.asDict() for r in exp.collect()] == [
        {"tile_id": 200, "typed_id": 44, "tex": 0}]


def test_foreign_ref_stubs_share_a_dense_tex(spark):
    """Two tiles referencing one foreign member get the same TEX, and a
    tip exporting two members numbers them 0, 1 — a row_number over the
    stubs would give 0, 1, 2 at tip 300."""
    from geodesk_gol_spark.operators.validate import export_tables

    # ways 1 (tile 100) and 2 (tile 200) both use node 30 (tile 300);
    # way 1 also uses node 31 (tile 300); node 10 is local to tile 100
    stubs = _stub_graph(
        spark,
        [(1, [10, 30, 31]), (2, [30])],
        [(40, 100), (120, 300), (124, 300)],
        [(5, 100), (9, 200)],
    )
    got = sorted(tuple(r) for r in stubs.collect())
    assert got == [
        (100, 5, 120, 300, 0),
        (100, 5, 124, 300, 1),
        (200, 9, 120, 300, 0),
    ]
    assert sorted(tuple(r) for r in export_tables(stubs).collect()) == [
        (300, 120, 0), (300, 124, 1)]


# ---------------------------------------------------------------------------
# within (strict containment) on the same L-shape
# ---------------------------------------------------------------------------

def test_polygon_within_ways(spark):
    from geodesk_gol_spark.query.spatial import polygon_within_ways

    segs = spark.createDataFrame(
        [
            # way 1: fully inside the foot of the L
            (1, 0, 1.0, 1.0, 2.0, 2.0),
            (1, 1, 2.0, 2.0, 3.0, 1.0),
            # way 2: starts inside, exits through the left edge
            (2, 0, 1.0, 1.0, -3.0, 1.0),
            # way 3: fully outside
            (3, 0, 20.0, 20.0, 30.0, 30.0),
            # way 4: both endpoints inside limbs but cuts the concave
            # notch (7,7)->(3,7) passes through x=5.5 edge above y=5.5
            (4, 0, 7.0, 4.0, 7.0, 7.0),
            # way 5: inside the upper limb only
            (5, 0, 1.0, 7.0, 4.0, 9.0),
        ],
        "way_id long, seq int, x0 double, y0 double, x1 double, y1 double",
    )
    got = sorted(r["way_id"] for r in polygon_within_ways(segs, _L).collect())
    assert got == [1, 5]


def test_within_is_subset_of_intersects(spark):
    from geodesk_gol_spark.query.spatial import (
        polygon_intersect_ways,
        polygon_within_ways,
    )

    segs = spark.createDataFrame(
        [(i, 0, float(i), float(i % 7), float(i + 2), float((i * 3) % 11))
         for i in range(-5, 15)],
        "way_id long, seq int, x0 double, y0 double, x1 double, y1 double",
    )
    within = {r["way_id"] for r in polygon_within_ways(segs, _L).collect()}
    inter = {r["way_id"] for r in polygon_intersect_ways(segs, _L).collect()}
    assert within <= inter


def test_polygon_crossing_ways(spark):
    from geodesk_gol_spark.query.spatial import polygon_crossing_ways

    segs = spark.createDataFrame(
        [
            (1, 0, 1.0, 1.0, 2.0, 2.0),      # fully inside: not crossing
            (2, 0, 1.0, 1.0, -3.0, 1.0),     # exits left edge: crossing
            (3, 0, 20.0, 20.0, 30.0, 30.0),  # fully outside: not crossing
            (4, 0, 7.0, 7.0, 7.0, 3.0),      # notch into the foot: crossing
        ],
        "way_id long, seq int, x0 double, y0 double, x1 double, y1 double",
    )
    got = sorted(r["way_id"] for r in polygon_crossing_ways(segs, _L).collect())
    assert got == [2, 4]
