"""-a area-option parser: WKT / keyword coords / GeoJSON / @file forms
(GolCommand::setArea heuristics, PolygonParser grammar) and the
multi-ring even-odd filter semantics."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest

from geodesk_gol_spark.oracle.slowpath import project
from geodesk_gol_spark.query.area import (
    AreaParseError,
    parse_area,
    parse_area_text,
    parse_box,
)

SQUARE = "7.5 43.35, 7.8 43.35, 7.8 43.6, 7.5 43.6"
SQ_DEG = [(7.5, 43.35), (7.8, 43.35), (7.8, 43.6), (7.5, 43.6)]


def world(ring_deg):
    pts = [tuple(map(float, project(int(round(a * 1e7)), int(round(b * 1e7)))))
           for a, b in ring_deg]
    return pts + [pts[0]]


def test_bare_coordinate_list_is_one_closed_ring():
    assert parse_area_text(SQUARE) == [world(SQ_DEG)]


def test_wkt_polygon_and_multipolygon_nesting():
    one = parse_area_text(f"POLYGON (({SQUARE}, 7.5 43.35))")
    assert one == [world(SQ_DEG)]
    multi = parse_area_text(
        f"MULTIPOLYGON ((({SQUARE})), ((8 43, 8.1 43, 8.1 43.1)))"
    )
    assert len(multi) == 2 and multi[0] == world(SQ_DEG)


def test_wkt_polygon_with_hole_yields_two_rings():
    rings = parse_area_text(
        f"POLYGON (({SQUARE}), (7.6 43.4, 7.7 43.4, 7.7 43.5, 7.6 43.5))"
    )
    assert len(rings) == 2
    assert rings[1][0] == tuple(
        map(float, project(76000000, 434000000))
    )


def test_latlon_keyword_swaps_order():
    swapped = ", ".join(f"{lat} {lon}" for lon, lat in SQ_DEG)
    assert parse_area_text(f"latlon {swapped}") == [world(SQ_DEG)]
    assert parse_area_text(f"lonlat {SQUARE}") == [world(SQ_DEG)]


def test_geojson_polygon_feature_and_collection():
    poly = {"type": "Polygon",
            "coordinates": [[[lon, lat] for lon, lat in SQ_DEG]]}
    assert parse_area_text(json.dumps(poly)) == [world(SQ_DEG)]
    feat = {"type": "Feature", "properties": {}, "geometry": poly}
    assert parse_area_text(json.dumps(feat)) == [world(SQ_DEG)]
    fc = {"type": "FeatureCollection", "features": [feat, feat]}
    assert len(parse_area_text(json.dumps(fc))) == 2


def test_file_forms(tmp_path):
    p = tmp_path / "monaco.wkt"
    p.write_text(f"POLYGON (({SQUARE}))")
    assert parse_area(f"@{p}") == [world(SQ_DEG)]
    # bare file name (no comma/space) with default .wkt extension
    assert parse_area(str(p)[:-4]) == [world(SQ_DEG)]
    # literal coords are detected by the comma/space heuristic
    assert parse_area(SQUARE) == [world(SQ_DEG)]
    # a multiline literal with the keyword alone on its first line is a
    # literal, not a file: file names cannot contain a newline
    assert parse_area(f"polygon\n({SQUARE})") == [world(SQ_DEG)]


def test_errors():
    with pytest.raises(AreaParseError, match="at least 3"):
        parse_area_text("7.5 43.35, 7.8 43.35")
    with pytest.raises(AreaParseError, match="odd number"):
        parse_area_text("7.5 43.35, 7.8 43.35, 7.8")
    with pytest.raises(AreaParseError, match="Expected|expected"):
        parse_area_text("circle 7.5 43.35, 7.8 43.35, 7.8 43.6")
    with pytest.raises(AreaParseError, match="unsupported GeoJSON"):
        parse_area_text('{"type": "Point", "coordinates": [1, 2]}')


def test_parse_box_orders_corners():
    minx, miny, maxx, maxy = parse_box("7.5,43.35,7.8,43.6")
    x0, y_s = project(75000000, 433500000)
    x1, y_n = project(78000000, 436000000)
    assert (minx, maxx) == (x0, x1)
    assert (miny, maxy) == (min(y_s, y_n), max(y_s, y_n))
    # degenerate single-coordinate box (BoxParser.h)
    bx = parse_box("7.5,43.35")
    assert bx[0] == bx[2] and bx[1] == bx[3]


def test_point_in_rings_even_odd(spark):
    """Hole subtracts; disjoint outers union (crossing parity)."""
    from pyspark.sql import functions as F

    from geodesk_gol_spark.query.spatial import point_in_rings

    outer = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
    hole = [(4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0)]
    other = [(20.0, 20.0), (30.0, 20.0), (30.0, 30.0), (20.0, 30.0)]
    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 3, 4], "x": [2.0, 5.0, 25.0, 15.0],
                      "y": [2.0, 5.0, 25.0, 15.0]}),
    ).select("id", point_in_rings(
        F.col("x"), F.col("y"), [outer, hole, other]).alias("inside"))
    got = {r.id: r.inside for r in df.collect()}
    assert got == {1: True, 2: False, 3: True, 4: False}


def _pip_numpy(rings, xs, ys):
    """The even-odd reference: per closed ring edge, one vectorized
    numpy crossing pass over all points, XORed into the parity."""
    inside = np.zeros(len(xs), dtype=bool)
    with np.errstate(divide="ignore", invalid="ignore"):
        for ring in rings:
            px = np.array([p[0] for p in ring], dtype=np.float64)
            py = np.array([p[1] for p in ring], dtype=np.float64)
            if px[0] != px[-1] or py[0] != py[-1]:
                px = np.append(px, px[0])
                py = np.append(py, py[0])
            for i in range(len(px) - 1):
                x0, y0, x1, y1 = px[i], py[i], px[i + 1], py[i + 1]
                inside ^= ((y0 > ys) != (y1 > ys)) & (
                    xs < (x1 - x0) * (ys - y0) / (y1 - y0) + x0)
    return inside


def _check_against_numpy(spark, rings, xs, ys):
    from pyspark.sql import functions as F

    from geodesk_gol_spark.query.spatial import point_in_rings

    pts = pd.DataFrame({"id": np.arange(len(xs)), "x": xs, "y": ys})
    got = (
        spark.createDataFrame(pts)
        .select("id", point_in_rings(F.col("x"), F.col("y"), rings)
                .alias("inside"))
        .toPandas().sort_values("id")["inside"].to_numpy()
    )
    want = _pip_numpy(rings, np.asarray(xs, np.float64),
                      np.asarray(ys, np.float64))
    assert 0 < want.sum() < len(want)
    np.testing.assert_array_equal(got, want)


def _ring_probes(rings):
    """Every vertex, every edge midpoint (on the edge, horizontal ones
    included) and the points just off each midpoint."""
    xs, ys = [], []
    for ring in rings:
        ring = list(ring) + [ring[0]]
        for (ax, ay), (bx, by) in zip(ring, ring[1:]):
            mx, my = (ax + bx) / 2, (ay + by) / 2
            xs += [ax, mx, mx - 0.5, mx + 0.5, mx]
            ys += [ay, my, my, my, my + 0.5]
    return xs, ys


def test_point_in_rings_matches_numpy_bitwise(spark):
    """The native Column equals the numpy even-odd reference bit for bit
    on points on vertices and edges (horizontal edges included), in a
    hole, in two disjoint outers one of which is left unclosed, and at
    random float points."""
    outer = [(0.0, 0.0), (100.0, 0.0), (100.0, 60.0), (40.0, 60.0),
             (40.0, 100.0), (0.0, 100.0), (0.0, 0.0)]
    hole = [(10.0, 10.0), (30.0, 10.0), (30.0, 30.0), (10.0, 30.0),
            (10.0, 10.0)]
    unclosed = [(200.0, 200.0), (260.0, 210.0), (230.0, 290.0)]
    rings = [outer, hole, unclosed]
    xs, ys = _ring_probes(rings)
    rng = np.random.default_rng(7)
    xs += rng.uniform(-10, 300, 400).tolist()
    ys += rng.uniform(-10, 300, 400).tolist()
    _check_against_numpy(spark, rings, xs, ys)


def test_point_in_rings_large_ring_matches_numpy(spark):
    """A 10 000-vertex ring with integer world-scale vertices (so some
    edges are horizontal and many nearly so) stays one literal and
    matches the reference on its vertices, edges and nearby points."""
    n = 10_000
    t = np.linspace(0, 2 * np.pi, n, endpoint=False)
    r = (1 << 20) * (1 + 0.3 * np.sin(7 * t))
    ring = [(float(round(6e8 + a * np.cos(b))), float(round(4e8 + a * np.sin(b))))
            for a, b in zip(r, t)]
    xs, ys = _ring_probes([ring])
    sel = np.random.default_rng(3).choice(len(xs), 150, replace=False)
    xs = [xs[i] for i in sel]
    ys = [ys[i] for i in sel]
    _check_against_numpy(spark, [ring], xs, ys)
