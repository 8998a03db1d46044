"""Spatial query filters: bbox with tile pruning (P2), polygon (P3), kNN.

Reference anchors:
- bbox: -b rectangle prunes tiles via the tile-index walk, then residual
  per-feature tests, with a "turbo" flag for tiles wholly inside the box
  (src/gol/GolCommand.cpp:100-104, src/gol/query/QueryPrinter.cpp:39-98).
  Spark shape: driver-side tile-list computation → partition-pruned scan
  (tile_id IS the partition column of the store) → residual bbox Column.
- polygon: -a (multi)polygon intersects filter backed by a segment index
  (src/gol/util/PolygonParser.cpp:9-24).  Spark shape: tile pre-prune by
  polygon bbox + even-odd ray casting as one native Column fold.

The only Python UDFs left here are the segment-polygon pair behind the
intersects/within/crossing way predicates (vectorized numpy over Arrow
batches); every other filter stays in the JVM.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..config import LEAF_ZOOM, WORLD_BITS
from ..plans.pyramid import TileCatalog


# ---------------------------------------------------------------------------
# bbox (P2)
# ---------------------------------------------------------------------------

def tiles_for_bbox(catalog: TileCatalog, minx: int, miny: int, maxx: int, maxy: int):
    """Driver-side tile pruning: (intersecting_tile_ids, fully_inside_ids).

    The second list carries the reference's "turbo" hint — tiles wholly
    inside the box skip the residual per-feature test.
    """
    hit, turbo = [], []
    for t in catalog.tiles.itertuples():
        span = 1 << (WORLD_BITS - int(t.zoom))
        tx0, ty0 = int(t.col) * span, int(t.row) * span
        tx1, ty1 = tx0 + span - 1, ty0 + span - 1
        if tx1 < minx or tx0 > maxx or ty1 < miny or ty0 > maxy:
            continue
        hit.append(int(t.tile_id))
        if tx0 >= minx and tx1 <= maxx and ty0 >= miny and ty1 <= maxy:
            turbo.append(int(t.tile_id))
    return hit, turbo


_ISIN_MAX = 256  # beyond this, tile pruning joins instead of In-listing


def bbox_filter(
    store: DataFrame, catalog: TileCatalog, minx: int, miny: int, maxx: int, maxy: int
) -> DataFrame:
    """Tile-pruned + residual bbox filter over store rows.

    Small tile sets push down as a parquet In-predicate (row-group
    min/max pruning on the range-clustered store); large sets (up to
    65 535 tiles — too many literals for a sane plan) prune via a
    broadcast semi-join on tile_id instead."""
    hit, turbo = tiles_for_bbox(catalog, minx, miny, maxx, maxy)
    residual = (
        (F.col("maxx") >= minx)
        & (F.col("minx") <= maxx)
        & (F.col("maxy") >= miny)
        & (F.col("miny") <= maxy)
    )
    turbo_set = set(turbo)
    if len(hit) <= _ISIN_MAX:
        cond = F.col("tile_id").isin(hit) & (
            F.col("tile_id").isin(list(turbo_set)) | residual
            if turbo_set
            else residual
        )
        return store.filter(cond)
    hit_df = store.sparkSession.createDataFrame(
        pd.DataFrame({"tile_id": np.array(hit, dtype=np.int32),
                      "_turbo": [t in turbo_set for t in hit]}),
        "tile_id int, _turbo boolean",
    )
    return (
        store.join(F.broadcast(hit_df), "tile_id")
        .filter(F.col("_turbo") | residual)
        .select(*store.columns)
    )


# ---------------------------------------------------------------------------
# polygon (P3) — even-odd ray casting as one native Column
# ---------------------------------------------------------------------------

def _closed_ring(poly_xy):
    px = np.array([p[0] for p in poly_xy], dtype=np.float64)
    py = np.array([p[1] for p in poly_xy], dtype=np.float64)
    if px[0] != px[-1] or py[0] != py[-1]:
        px = np.append(px, px[0])
        py = np.append(py, py[0])
    return px, py


_EDGE_FIELDS = ("x0", "y0", "y1", "dx", "dy")
_EDGES_TYPE = f"array<struct<{','.join(f'{n}:double' for n in _EDGE_FIELDS)}>>"


def point_in_rings(x: Column, y: Column, rings: list[list[tuple[float, float]]]) -> Column:
    """True where (x, y) falls inside the rings by even-odd ray casting
    (holes and multiple outers compose by crossing parity — the
    reference's MCIndex ray test).  An unclosed ring is closed; closing
    edges never join different rings.

    One ``aggregate`` fold XORs each edge's crossing test, ``(y0 > y) !=
    (y1 > y) and x < (x1 - x0) * (y - y0) / (y1 - y0) + x0`` in float64
    and in that order, over a literal array of the edges, so the plan
    holds one constant at any vertex count.  Horizontal edges never
    cross; dropping them keeps ANSI division by zero out.  The array
    reaches the JVM as JSON (shortest round-trip floats parse back to
    the same doubles), and Catalyst folds ``from_json`` of a literal
    into one literal."""
    edges = []
    for ring in rings:
        px, py = _closed_ring(ring)
        e = np.stack([px[:-1], py[:-1], py[1:], px[1:] - px[:-1],
                      py[1:] - py[:-1]], axis=1)
        edges += [dict(zip(_EDGE_FIELDS, row)) for row in e[e[:, 4] != 0].tolist()]
    xd, yd = x.cast("double"), y.cast("double")
    return F.aggregate(
        F.from_json(F.lit(json.dumps(edges)), _EDGES_TYPE),
        F.lit(False),
        lambda inside, e: inside != (
            ((e["y0"] > yd) != (e["y1"] > yd))
            & (xd < e["dx"] * (yd - e["y0"]) / e["dy"] + e["x0"])
        ),
    )


def polygon_filter(store: DataFrame, catalog: TileCatalog, poly_xy) -> DataFrame:
    """Tile pre-prune by polygon bbox, then exact PIP on feature centers.

    Single-ring special case of :func:`area_filter`."""
    return area_filter(store, catalog, [list(poly_xy)])


def area_filter(
    store: DataFrame, catalog: TileCatalog, rings: list[list[tuple[float, float]]]
) -> DataFrame:
    """-a analogue over parsed rings (see ``query.area.parse_area``):
    tile pre-prune by the rings' joint bbox, then exact even-odd PIP on
    feature centers."""
    xs = [p[0] for ring in rings for p in ring]
    ys = [p[1] for ring in rings for p in ring]
    pruned = bbox_filter(
        store, catalog, int(min(xs)), int(min(ys)), int(max(xs)), int(max(ys))
    )
    return pruned.filter(point_in_rings(F.col("cx"), F.col("cy"), rings))


# ---------------------------------------------------------------------------
# polygon intersects over way geometry (P3/J9 — true intersects)
# ---------------------------------------------------------------------------

def way_segments(ways: DataFrame, points: DataFrame) -> DataFrame:
    """(way_id, seq, x0, y0, x1, y1): consecutive way-vertex segments.

    Explode the node list, join coordinates, pair consecutive vertices
    with lead() over the member order — one shuffle join + one window,
    both keyed by way, so the stage partitions cleanly at any scale.
    """
    from pyspark.sql import Window

    wm = ways.select(
        F.col("id").alias("way_id"),
        F.posexplode("node_ids").alias("seq", "node_id"),
    )
    j = wm.join(
        points.select(F.col("id").alias("node_id"), "x", "y"), "node_id"
    )
    w = Window.partitionBy("way_id").orderBy("seq")
    return (
        j.select(
            "way_id", "seq",
            F.col("x").cast("double").alias("x0"),
            F.col("y").cast("double").alias("y0"),
            F.lead(F.col("x").cast("double")).over(w).alias("x1"),
            F.lead(F.col("y").cast("double")).over(w).alias("y1"),
        )
        .filter(F.col("x1").isNotNull())
    )


def _segment_polygon_arrays(px, py, ax, ay, bx, by):
    """(crosses, start_inside) bool arrays for segments (a)-(b) vs the
    closed ring (px, py).  Vectorized per polygon edge over the Arrow
    batch — O(edges) numpy passes, no per-row Python.  Pass half-integer
    polygon vertices so integer feature coordinates never produce
    degenerate (collinear / on-vertex) configurations."""
    cross = np.zeros(len(ax), dtype=bool)
    inside = np.zeros(len(ax), dtype=bool)
    # horizontal edges (qy1 == qy0) divide by zero in the PIP term; the
    # crossing mask is False there — silence the IEEE warning so an
    # np.seterr environment can't kill the job (rectilinear polygons,
    # like the gate's own L-shape, hit this on every other edge)
    with np.errstate(divide="ignore", invalid="ignore"):
        for i in range(len(px) - 1):
            qx0, qy0, qx1, qy1 = px[i], py[i], px[i + 1], py[i + 1]
            ex, ey = qx1 - qx0, qy1 - qy0
            # proper segment-segment crossing: opposite orientation signs
            d1 = ex * (ay - qy0) - ey * (ax - qx0)
            d2 = ex * (by - qy0) - ey * (bx - qx0)
            d3 = (bx - ax) * (qy0 - ay) - (by - ay) * (qx0 - ax)
            d4 = (bx - ax) * (qy1 - ay) - (by - ay) * (qx1 - ax)
            cross |= (d1 * d2 < 0) & (d3 * d4 < 0)
            # even-odd PIP of the segment start
            hits = ((qy0 > ay) != (qy1 > ay)) & (
                ax < (qx1 - qx0) * (ay - qy0) / (qy1 - qy0) + qx0
            )
            inside ^= hits
    return cross, inside


def segment_intersects_polygon_udf(poly_xy):
    """Pandas UDF: True where segment (x0,y0)-(x1,y1) crosses the polygon
    boundary or starts inside it (even-odd interior).

    Matches the reference's -a intersects semantics over line geometry
    (/root/reference/src/gol/util/PolygonParser.cpp:9-24, ring handling
    :67-80): a way intersects iff any segment does.
    """
    px, py = _closed_ring(poly_xy)

    @F.pandas_udf(BooleanType())
    def hit(x0: pd.Series, y0: pd.Series,
            x1: pd.Series, y1: pd.Series) -> pd.Series:
        cross, inside = _segment_polygon_arrays(
            px, py,
            x0.to_numpy(np.float64), y0.to_numpy(np.float64),
            x1.to_numpy(np.float64), y1.to_numpy(np.float64))
        return pd.Series(cross | inside)

    return hit


def segment_polygon_flags_udf(poly_xy):
    """Pandas UDF → int flags per segment: bit 1 = properly crosses the
    polygon boundary, bit 2 = segment start strictly inside (even-odd).
    The decomposed form of :func:`segment_intersects_polygon_udf` that
    the ``within`` predicate aggregates per way."""
    from pyspark.sql.types import IntegerType

    px, py = _closed_ring(poly_xy)

    @F.pandas_udf(IntegerType())
    def flags(x0: pd.Series, y0: pd.Series,
              x1: pd.Series, y1: pd.Series) -> pd.Series:
        cross, inside = _segment_polygon_arrays(
            px, py,
            x0.to_numpy(np.float64), y0.to_numpy(np.float64),
            x1.to_numpy(np.float64), y1.to_numpy(np.float64))
        return pd.Series(cross.astype(np.int32) | (inside.astype(np.int32) << 1))

    return flags


def _prune_segments(segments: DataFrame, poly_xy) -> DataFrame:
    """Segment-bbox vs polygon-bbox pre-prune, shared by the
    intersects/within/crossing family.  Stays JVM-side (whole-stage
    codegen); only survivors reach the vectorized UDFs."""
    minx = min(p[0] for p in poly_xy)
    maxx = max(p[0] for p in poly_xy)
    miny = min(p[1] for p in poly_xy)
    maxy = max(p[1] for p in poly_xy)
    return segments.filter(
        (F.greatest("x0", "x1") >= minx) & (F.least("x0", "x1") <= maxx)
        & (F.greatest("y0", "y1") >= miny) & (F.least("y0", "y1") <= maxy)
    )


def polygon_intersect_ways(segments: DataFrame, poly_xy) -> DataFrame:
    """Way ids whose polyline intersects a (possibly concave) polygon.

    One UDF pass over bbox-pruned segments; one aggregate dedupes to way
    grain.  A way fully containing the polygon without touching it does
    NOT intersect under line semantics (the reference treats -a areas
    separately).
    """
    pruned = _prune_segments(segments, poly_xy)
    hit = segment_intersects_polygon_udf(poly_xy)
    return (
        pruned.filter(hit(F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1")))
        .select("way_id")
        .distinct()
    )


def polygon_within_ways(segments: DataFrame, poly_xy) -> DataFrame:
    """Way ids whose polyline lies ENTIRELY inside the polygon — the
    ``within`` spatial predicate of the GeoDesk query API (the strict
    companion of -a intersects, PolygonParser.cpp:9-24 semantics).

    A connected polyline is within a simple polygon iff (1) no segment
    properly crosses the boundary and (2) at least one vertex is inside:
    with zero crossings all vertices sit on the same side, so one inside
    vertex certifies them all.  The bbox pre-prune is sound under this
    rule — a segment wholly outside the polygon's bbox can neither cross
    nor start inside (contributes nothing), while a way that leaves the
    polygon must cross on a segment that DOES overlap the bbox, and a
    way with no surviving segment has no inside vertex.  One UDF pass
    over surviving segments, one way-grain aggregate; partitions by way
    at any scale.
    """
    pruned = _prune_segments(segments, poly_xy)
    flags = segment_polygon_flags_udf(poly_xy)
    per_way = (
        pruned.withColumn(
            "pf", flags(F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1")))
        .groupBy("way_id")
        .agg(
            F.max(F.col("pf").bitwiseAND(F.lit(1))).alias("any_cross"),
            F.max(F.shiftright(F.col("pf"), 1)).alias("any_inside"),
        )
    )
    return per_way.filter(
        (F.col("any_cross") == 0) & (F.col("any_inside") == 1)
    ).select("way_id")


def polygon_crossing_ways(segments: DataFrame, poly_xy) -> DataFrame:
    """Way ids whose polyline PROPERLY CROSSES the polygon boundary —
    the GeoDesk ``crossing`` filter (boundary contact only: a way
    wholly inside or wholly outside does not cross).  Same pruned
    segment stream and flags UDF as ``within``; only the aggregate
    predicate differs."""
    pruned = _prune_segments(segments, poly_xy)
    flags = segment_polygon_flags_udf(poly_xy)
    return (
        pruned.filter(
            flags(F.col("x0"), F.col("y0"),
                  F.col("x1"), F.col("y1")).bitwiseAND(F.lit(1)) == 1)
        .select("way_id")
        .distinct()
    )


def way_edges_int(ways: DataFrame, vertices: DataFrame) -> DataFrame:
    """(way_id, x0, y0, x1, y1): consecutive vertex edges in EXACT integer
    world coordinates (closed rings repeat the first node last, so the
    closing edge is already a consecutive pair — F8 semantics)."""
    from pyspark.sql import Window

    wm = ways.select(
        F.col("id").alias("way_id"),
        F.posexplode("node_ids").alias("seq", "node_id"),
    )
    j = wm.join(
        vertices.select(F.col("id").alias("node_id"), "x", "y"), "node_id"
    )
    w = Window.partitionBy("way_id").orderBy("seq")
    return (
        j.select(
            "way_id",
            F.col("x").alias("x0"), F.col("y").alias("y0"),
            F.lead("x").over(w).alias("x1"),
            F.lead("y").over(w).alias("y1"),
        )
        .filter(F.col("x1").isNotNull())
    )


def edge_crossing_expr() -> Column:
    """Exact-integer ray-cast crossing test for one (point, edge) row.

    Columns expected: px, py (the point) and x0, y0, x1, y1 (the edge).
    A ray from the point along +x crosses the edge iff the endpoints
    straddle the ray's height (half-open, so a shared vertex is counted
    once) and the intersection lies strictly right of the point: with
    A=(x0-px, y0-py), B=(x1-px, y1-py) the intersection x-sign is
    sign(A.y*B.x - B.y*A.x) * sign(A.y - B.y).  All terms are |coord
    difference| < 2^31, products < 2^62 — exact int64 in BOTH Spark and
    DuckDB, so the oracle comparison is bit-deterministic (no doubles,
    no epsilon).
    """
    dy1 = F.col("y0") - F.col("py")
    dy2 = F.col("y1") - F.col("py")
    n = dy1 * (F.col("x1") - F.col("px")) - dy2 * (F.col("x0") - F.col("px"))
    return (
        ((dy1 > 0) != (dy2 > 0)) & ((n > 0) == (dy1 > dy2))
    )


def _ladder_points(points: DataFrame) -> DataFrame:
    """Each point exploded to (node_id, px, py, tile_id) for its tile and
    every ladder ancestor — pure bit-shift Column arithmetic, no join.
    This is the reference's tile-index walk turned into a shuffle key: a
    feature's home tile is always one of the point's ≤5 ancestors."""
    arms = [
        F.expr(
            f"CAST({z} * 16777216 + (cell_row DIV {1 << (LEAF_ZOOM - z)}) "
            f"* 4096 + (cell_col DIV {1 << (LEAF_ZOOM - z)}) AS INT)"
        )
        for z in (12, 9, 6, 3)
    ] + [F.lit(0)]
    return points.select(
        F.col("id").alias("node_id"),
        F.col("x").alias("px"), F.col("y").alias("py"),
        F.explode(F.array(*arms)).alias("tile_id"),
    )


def contains_join(
    points: DataFrame,
    area_ways: DataFrame,
    way_homes: DataFrame,
    extents: DataFrame,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """J11: distributed feature↔feature containment join — every
    (node, area-way) pair where the node lies inside the way's ring
    (even-odd rule), with NO driver-side geometry and NO cartesian.

    The reference answers "features within feature X" by walking the
    tile index from X's home tile (libgeodesk `within` filter; tile walk
    per src/gol/query callers).  The Spark re-expression inverts it into
    one relational plan over ALL pairs at once:

      1. candidate generation — a point can only fall inside a way whose
         HOME tile (J3: deepest tile/twin pair covering the way's whole
         extent) is the point's tile or one of its ladder ancestors, so
         each point emits its ≤5 ancestor tile ids (pure bit-shift
         Column arithmetic, no join) and equi-joins way homes on
         tile_id: the reference's tile-index walk becomes a shuffle key
      2. bbox prefilter — candidates must sit inside the way's exact
         world bbox (extents frame)
      3. exact test — candidates join the way's integer vertex edges and
         even-odd parity is a groupBy sum over :func:`edge_crossing_expr`

    Cost: 2 shuffle joins + 1 aggregation, all keyed — scales with
    candidates × ring size, never |points| × |ways|.  Relation
    (multipolygon) members are out of scope here (single-ring ways only).

    ``points``: candidate nodes (id, x, y, cell_col, cell_row) — may be
    pre-filtered (e.g. cafes only); ``area_ways``: ways rows already
    filtered to area semantics (F7/F8); ``way_homes``: (typed_id,
    tile_id); ``extents``: (typed_id, minx..maxy); ``vertices``: the
    FULL node coordinate set the ways' rings are built from (defaults
    to ``points`` — pass it whenever ``points`` is filtered).
    Returns (node_id, way_id).
    """
    pt = _ladder_points(points)
    aw = area_ways.select(
        (F.col("id") * 4 + 1).alias("typed_id"), F.col("id").alias("way_id")
    )
    wh = (
        way_homes.select("typed_id", "tile_id")
        .join(aw, "typed_id")
        .join(extents.select("typed_id", "minx", "miny", "maxx", "maxy"),
              "typed_id")
        .select("way_id", "tile_id", "minx", "miny", "maxx", "maxy")
    )
    cand = (
        pt.join(wh, "tile_id")
        .filter(
            F.col("px").between(F.col("minx"), F.col("maxx"))
            & F.col("py").between(F.col("miny"), F.col("maxy"))
        )
        # a way homed at BOTH a tile and an ancestor (TilePair ancestor
        # form) matches a point through two ladder arms — the duplicate
        # would double every crossing and flip the parity, so the
        # candidate set must be a set
        .dropDuplicates(["node_id", "way_id"])
        .select("node_id", "way_id", "px", "py")
    )
    edges = way_edges_int(area_ways, vertices if vertices is not None
                          else points)
    return (
        cand.join(edges, "way_id")
        .withColumn("c", edge_crossing_expr().cast("long"))
        .groupBy("node_id", "way_id")
        .agg((F.sum("c") % 2 == 1).alias("inside"))
        .filter("inside")
        .select("node_id", "way_id")
    )


def relation_contains_join(
    points: DataFrame,
    area_rels: DataFrame,
    ways: DataFrame,
    rel_homes: DataFrame,
    extents: DataFrame,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """J12: containment join against area RELATIONS (multipolygon
    semantics) — every (node, relation) pair where the node lies inside
    the union of the relation's member rings under the even-odd rule.

    Outer and inner roles need no special casing: a point inside a hole
    crosses the outer ring's edges once and the inner ring's once —
    even total, outside.  That is exactly the reference's multipolygon
    verdict (area relations are type=multipolygon/boundary with an
    outer member, Compiler.cpp:766-772).  Open (unclosed) member ways
    are skipped; the reference stitches open segments into rings at
    build time, which this engine does not model — callers needing
    stitched rings must pre-close them.

    Same plan shape as :func:`contains_join` (ladder ancestors ⋈ rel
    home tiles → bbox prefilter → exact int64 parity), with one extra
    keyed hop from relation to member ways.  ``area_rels``: relation
    rows (id, members) already filtered to area semantics; ``ways``:
    (id, node_ids).  Returns (node_id, rel_id).
    """
    mem = (
        area_rels.select(
            F.col("id").alias("rel_id"), F.explode("members").alias("m")
        )
        .filter(F.col("m.t") == 1)
        .select("rel_id", F.col("m.id").alias("way_id"))
        .dropDuplicates(["rel_id", "way_id"])
    )
    from ..functions.areas import closed_ring

    wuniq = (
        mem.select("way_id").dropDuplicates(["way_id"])
        .join(ways.select(F.col("id").alias("way_id"), "node_ids"),
              "way_id")
        .filter(closed_ring("node_ids"))
    )
    edges = way_edges_int(
        wuniq.select(F.col("way_id").alias("id"), "node_ids"),
        vertices if vertices is not None else points,
    ).join(mem, "way_id")

    pt = _ladder_points(points)
    rh = (
        rel_homes.select("typed_id", "tile_id")
        .join(
            area_rels.select((F.col("id") * 4 + 2).alias("typed_id"),
                             F.col("id").alias("rel_id")),
            "typed_id",
        )
        .join(extents.select("typed_id", "minx", "miny", "maxx", "maxy"),
              "typed_id")
        .select("rel_id", "tile_id", "minx", "miny", "maxx", "maxy")
    )
    cand = (
        pt.join(rh, "tile_id")
        .filter(
            F.col("px").between(F.col("minx"), F.col("maxx"))
            & F.col("py").between(F.col("miny"), F.col("maxy"))
        )
        .dropDuplicates(["node_id", "rel_id"])
        .select("node_id", "rel_id", "px", "py")
    )
    return (
        cand.join(edges, "rel_id")
        .withColumn("c", edge_crossing_expr().cast("long"))
        .groupBy("node_id", "rel_id")
        .agg((F.sum("c") % 2 == 1).alias("inside"))
        .filter("inside")
        .select("node_id", "rel_id")
    )


def _disk_ladder_points(points: DataFrame, r: int) -> DataFrame:
    """Like :func:`_ladder_points`, but the point's radius-r disk: at
    each ladder zoom, emit the DISTINCT tiles of the full (≤3×3) tile
    rectangle covering the disk bbox — the grid of corner columns/rows
    PLUS the center column/row.  Corners alone are incomplete once
    2r exceeds the tile span (the bbox then straddles 3 columns and the
    middle column — including the point's own tile — is never emitted);
    with the center arm the enumeration is exhaustive for any r below
    one leaf-tile span, because a width-2r bbox with 2r < 2·span
    touches at most 3 columns: (x-r)>>s, x>>s, (x+r)>>s."""
    if not 0 < r < (1 << (WORLD_BITS - LEAF_ZOOM)):
        raise ValueError(
            f"radius must be in (0, {1 << (WORLD_BITS - LEAF_ZOOM)}) "
            f"world units (one leaf-tile span) for 3x3 coverage")
    lim = (1 << WORLD_BITS) - 1
    arms = []
    for z in (12, 9, 6, 3):
        shift = 1 << (WORLD_BITS - z)
        for sx in (-r, 0, r):
            for sy in (-r, 0, r):
                cx = f"least(greatest(x + {sx}, 0), {lim})"
                cy = f"least(greatest(y + {sy}, 0), {lim})"
                arms.append(F.expr(
                    f"CAST({z} * 16777216 + (({cy}) DIV {shift}) * 4096 "
                    f"+ (({cx}) DIV {shift}) AS INT)"
                ))
    arms.append(F.lit(0))
    return points.select(
        F.col("id").alias("node_id"),
        F.col("x").alias("px"), F.col("y").alias("py"),
        F.explode(F.array_distinct(F.array(*arms))).alias("tile_id"),
    )


def dwithin_segment_expr(r: int) -> Column:
    """Exact point-to-segment "distance ≤ r" for one (point, edge) row
    (columns px, py, x0, y0, x1, y1) with NO floating point: the three
    squared-distance cases (before A, past B, interior projection) are
    cross-multiplied into integer comparisons.  Terms reach ~2^126, so
    both engines compute in exact wide integers (Spark DECIMAL(38,0),
    DuckDB HUGEINT) — same verdict bit-for-bit."""
    d = "CAST({} AS DECIMAL(38,0))"
    ax, ay = d.format("x0 - px"), d.format("y0 - py")
    bx, by = d.format("x1 - px"), d.format("y1 - py")
    vx, vy = d.format("x1 - x0"), d.format("y1 - y0")
    r2 = d.format(r * r)
    aa = f"({ax}*{ax} + {ay}*{ay})"
    bb = f"({bx}*{bx} + {by}*{by})"
    ll = f"({vx}*{vx} + {vy}*{vy})"
    t = f"(-({ax}*{vx} + {ay}*{vy}))"
    return F.expr(
        f"CASE WHEN {t} <= 0 THEN {aa} <= {r2} "
        f"WHEN {t} >= {ll} THEN {bb} <= {r2} "
        f"ELSE {aa} * {ll} - {t} * {t} <= {r2} * {ll} END"
    )


def dwithin_segment_sql(r: int) -> str:
    """The DuckDB twin of :func:`dwithin_segment_expr` (HUGEINT)."""
    d = "CAST({} AS HUGEINT)"
    ax, ay = d.format("x0 - px"), d.format("y0 - py")
    bx, by = d.format("x1 - px"), d.format("y1 - py")
    vx, vy = d.format("x1 - x0"), d.format("y1 - y0")
    r2 = d.format(r * r)
    aa = f"({ax}*{ax} + {ay}*{ay})"
    bb = f"({bx}*{bx} + {by}*{by})"
    ll = f"({vx}*{vx} + {vy}*{vy})"
    t = f"(-({ax}*{vx} + {ay}*{vy}))"
    return (
        f"CASE WHEN {t} <= 0 THEN {aa} <= {r2} "
        f"WHEN {t} >= {ll} THEN {bb} <= {r2} "
        f"ELSE {aa} * {ll} - {t} * {t} <= {r2} * {ll} END"
    )


def dwithin_join(
    points: DataFrame,
    ways: DataFrame,
    way_homes: DataFrame,
    extents: DataFrame,
    r: int,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """J13: proximity join — every (node, way) pair whose point-to-way
    distance is ≤ r world units (the feature↔feature form of the
    reference's `around` filter; p_around_point covers point↔point).

    Plan shape follows :func:`contains_join` with two radius-aware
    twists: candidates come from the point's radius-r DISK corner tiles
    per ladder zoom (closing the "one tile outside the home ancestry"
    hole), and the bbox prefilter expands the way's extent by r.  The
    exact test is :func:`dwithin_segment_expr` — integer-only, shared
    verbatim (modulo DECIMAL/HUGEINT spelling) with the DuckDB oracle.
    Open and closed ways alike; returns (node_id, way_id).
    """
    pt = _disk_ladder_points(points, r)
    wh = (
        way_homes.select("typed_id", "tile_id")
        .join(ways.select((F.col("id") * 4 + 1).alias("typed_id"),
                          F.col("id").alias("way_id")), "typed_id")
        .join(extents.select("typed_id", "minx", "miny", "maxx", "maxy"),
              "typed_id")
        .select("way_id", "tile_id", "minx", "miny", "maxx", "maxy")
    )
    cand = (
        pt.join(wh, "tile_id")
        .filter(
            F.col("px").between(F.col("minx") - r, F.col("maxx") + r)
            & F.col("py").between(F.col("miny") - r, F.col("maxy") + r)
        )
        .dropDuplicates(["node_id", "way_id"])
        .select("node_id", "way_id", "px", "py")
    )
    edges = way_edges_int(ways, vertices if vertices is not None
                          else points)
    return (
        cand.join(edges, "way_id")
        .withColumn("hit", dwithin_segment_expr(r))
        .groupBy("node_id", "way_id")
        .agg(F.max("hit").alias("near"))
        .filter("near")
        .select("node_id", "way_id")
    )


def _tile_ancestor_arms(df: DataFrame, keycol: str) -> DataFrame:
    """(key, tile_id) rows: each input tile_id plus its ladder ancestors
    (zoom 12/9/6/3/0), derived by pure bit arithmetic from the packed
    id (zoom<<24 | row<<12 | col).  Shallower-than-z arms are skipped."""
    z = "(tile_id >> 24)"
    c = "(tile_id & 4095)"
    r = "((tile_id >> 12) & 4095)"
    arms = [
        F.expr(
            f"CASE WHEN {z} >= {zz} THEN CAST({zz} * 16777216 "
            f"+ ({r} >> ({z} - {zz})) * 4096 "
            f"+ ({c} >> ({z} - {zz})) AS INT) END"
        )
        for zz in (12, 9, 6, 3)
    ] + [F.lit(0)]
    return (
        df.select(keycol, F.explode(F.array(*arms)).alias("anc_tile"))
        .filter(F.col("anc_tile").isNotNull())
        .dropDuplicates([keycol, "anc_tile"])
    )


def segments_cross_expr(prefix_a: str = "a", prefix_b: str = "b") -> Column:
    """STRICT proper-intersection test for two segments in exact int64
    arithmetic (touching/collinear contact does NOT count).  Expects
    columns ``{a}x0..{a}y1`` and ``{b}x0..{b}y1``.  Orientation terms
    are products of coordinate differences (< 2^31) — exact int64."""
    def o(px, py, qx, qy, rx, ry):
        return (
            (F.col(qx) - F.col(px)) * (F.col(ry) - F.col(py))
            - (F.col(qy) - F.col(py)) * (F.col(rx) - F.col(px))
        )

    a, b = prefix_a, prefix_b
    o1 = o(f"{a}x0", f"{a}y0", f"{a}x1", f"{a}y1", f"{b}x0", f"{b}y0")
    o2 = o(f"{a}x0", f"{a}y0", f"{a}x1", f"{a}y1", f"{b}x1", f"{b}y1")
    o3 = o(f"{b}x0", f"{b}y0", f"{b}x1", f"{b}y1", f"{a}x0", f"{a}y0")
    o4 = o(f"{b}x0", f"{b}y0", f"{b}x1", f"{b}y1", f"{a}x1", f"{a}y1")
    return (
        (((o1 > 0) & (o2 < 0)) | ((o1 < 0) & (o2 > 0)))
        & (((o3 > 0) & (o4 < 0)) | ((o3 < 0) & (o4 > 0)))
    )


def way_within_join(
    inner_ways: DataFrame,
    area_ways: DataFrame,
    way_homes: DataFrame,
    extents: DataFrame,
    vertices: DataFrame,
) -> DataFrame:
    """J14: way-within-area join — every (way W, area way A) pair where
    W lies inside A's ring: NO edge of W properly crosses an edge of A
    (boundary contact allowed) AND at least one W vertex is strictly
    inside (even-odd).  Same semantics as the driver-polygon
    :func:`polygon_within_ways`, lifted to feature↔feature.

    Candidates run the home-tile ladder in BOTH directions — W's home
    ancestors ⋈ A's homes ∪ A's home ancestors ⋈ W's homes — because
    either feature may be homed at the deeper tile (W ⊆ A's coverage
    puts ONE of the two homes in the other's ancestry, never
    necessarily W's).  A bbox-containment prefilter (W bbox ⊆ A bbox)
    bounds the exact phase: W-edges × A-edges per candidate pair for
    the crossing test, W-vertices × A-edges for the parity test.
    Returns (way_id, area_id).
    """
    iw = inner_ways.select((F.col("id") * 4 + 1).alias("typed_id"),
                           F.col("id").alias("way_id"))
    aw = area_ways.select((F.col("id") * 4 + 1).alias("typed_id"),
                          F.col("id").alias("area_id"))
    wh = way_homes.select("typed_id", "tile_id")
    ih = wh.join(iw, "typed_id").select("way_id", "tile_id")
    ah = wh.join(aw, "typed_id").select("area_id", "tile_id")
    up = _tile_ancestor_arms(ih, "way_id").join(
        ah.withColumnRenamed("tile_id", "anc_tile"), "anc_tile")
    down = _tile_ancestor_arms(ah, "area_id").join(
        ih.withColumnRenamed("tile_id", "anc_tile"), "anc_tile")
    pairs = (
        up.select("way_id", "area_id")
        .unionByName(down.select("way_id", "area_id"))
        .dropDuplicates(["way_id", "area_id"])
        .filter(F.col("way_id") != F.col("area_id"))
    )
    # Restrict to WAY extents before collapsing typed_id → id: the
    # extents frame interleaves ways (4k+1) and relations (4k+2), and
    # relation 4k+2 >> 2 collides with way 4k+1 >> 2 in per-type id
    # spaces, which would duplicate bbox rows and flip the even-odd
    # parity sums below (every crossing counted twice ⇒ always even).
    way_ext = extents.filter((F.col("typed_id") % 4) == 1)
    ib = way_ext.select(F.shiftright("typed_id", 2).alias("way_id"),
                        F.col("minx").alias("iminx"),
                        F.col("miny").alias("iminy"),
                        F.col("maxx").alias("imaxx"),
                        F.col("maxy").alias("imaxy"))
    ab = way_ext.select(F.shiftright("typed_id", 2).alias("area_id"),
                        "minx", "miny", "maxx", "maxy")
    cand = (
        pairs.join(ib, "way_id").join(ab, "area_id")
        .filter(
            (F.col("iminx") >= F.col("minx"))
            & (F.col("imaxx") <= F.col("maxx"))
            & (F.col("iminy") >= F.col("miny"))
            & (F.col("imaxy") <= F.col("maxy"))
        )
        .select("way_id", "area_id")
    )
    a_edges = way_edges_int(area_ways, vertices).select(
        F.col("way_id").alias("area_id"),
        F.col("x0").alias("ax0"), F.col("y0").alias("ay0"),
        F.col("x1").alias("ax1"), F.col("y1").alias("ay1"),
    )
    i_edges = way_edges_int(inner_ways, vertices).select(
        "way_id",
        F.col("x0").alias("ix0"), F.col("y0").alias("iy0"),
        F.col("x1").alias("ix1"), F.col("y1").alias("iy1"),
    )
    crossing = (
        cand.join(i_edges, "way_id").join(a_edges, "area_id")
        .withColumn("x", segments_cross_expr("i", "a").cast("long"))
        .groupBy("way_id", "area_id")
        .agg((F.sum("x") > 0).alias("crosses"))
    )
    ivx = (
        inner_ways.select(F.col("id").alias("way_id"),
                          F.explode("node_ids").alias("node_id"))
        .dropDuplicates(["way_id", "node_id"])
        .join(vertices.select(F.col("id").alias("node_id"),
                              F.col("x").alias("px"),
                              F.col("y").alias("py")), "node_id")
    )
    inside = (
        cand.join(ivx, "way_id")
        .join(a_edges.withColumnRenamed("ax0", "x0")
              .withColumnRenamed("ay0", "y0")
              .withColumnRenamed("ax1", "x1")
              .withColumnRenamed("ay1", "y1"), "area_id")
        .withColumn("c", edge_crossing_expr().cast("long"))
        .groupBy("way_id", "area_id", "node_id")
        .agg((F.sum("c") % 2 == 1).alias("in1"))
        .groupBy("way_id", "area_id")
        .agg(F.max("in1").alias("any_inside"))
    )
    return (
        crossing.join(inside, ["way_id", "area_id"])
        .filter(~F.col("crosses") & F.col("any_inside"))
        .select("way_id", "area_id")
    )


def around_filter(
    store: DataFrame, catalog: TileCatalog,
    cx: int, cy: int, radius: int,
) -> DataFrame:
    """Features whose anchor point lies within ``radius`` world units of
    (cx, cy) — the GeoDesk ``around`` / max-distance filter.  Tile
    pruning via the circumscribing bbox, then the exact squared-distance
    residual stays JVM-side (whole-stage codegen; no UDF)."""
    pruned = bbox_filter(
        store, catalog, cx - radius, cy - radius, cx + radius, cy + radius
    )
    dx = F.col("cx") - F.lit(cx)
    dy = F.col("cy") - F.lit(cy)
    # radius² as ONE long literal: an int32 lit × int32 lit overflows
    # under ANSI semantics before promotion
    return pruned.filter(dx * dx + dy * dy <= F.lit(radius * radius))


# ---------------------------------------------------------------------------
# kNN (north-rule extension; FIXTURES.md §5)
# ---------------------------------------------------------------------------

_BRUTE_MAX_QUERIES = 4096  # the oracle's input check


def knn_bruteforce(points: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact kNN: broadcast the (small) query set, rank by squared
    integer distance with deterministic (dist, id) tiebreak.

    points:  (id, x, y);  queries: (q_id, qx, qy)
    Output: (q_id, neighbor_id, rank)

    This is the O(N×Q) exactness oracle — not a scale path.  To keep
    callers from feeding it a large query set by accident (the plan is
    a deliberate broadcast cartesian), it refuses query sets above
    ``_BRUTE_MAX_QUERIES`` rows; knn_cell_rings is the scale path.
    """
    from pyspark.sql import Window

    if queries.limit(_BRUTE_MAX_QUERIES + 1).count() > _BRUTE_MAX_QUERIES:
        raise ValueError(
            f"knn_bruteforce is the exactness oracle (O(points x "
            f"queries) broadcast cartesian): got > {_BRUTE_MAX_QUERIES} "
            f"query rows; use knn_cell_rings for large query sets")
    j = points.join(F.broadcast(queries))
    d = (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx")) + (
        F.col("y") - F.col("qy")
    ) * (F.col("y") - F.col("qy"))
    w = Window.partitionBy("q_id").orderBy(F.col("dist"), F.col("id"))
    return (
        j.withColumn("dist", d)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("id").alias("neighbor_id"), "rank", "dist")
    )


def _count_grid(points: DataFrame, bits: int) -> dict:
    """{(c, r): points} over the non-empty cells of edge 2^bits — one
    aggregate, brought to the driver through Arrow."""
    g = points.groupBy(
        F.shiftright("x", bits).alias("c"), F.shiftright("y", bits).alias("r")
    ).agg(F.count(F.lit(1)).alias("n")).toPandas()
    return dict(zip(zip(g["c"].tolist(), g["r"].tolist()), g["n"].tolist()))


def _coarsen(cells: dict) -> dict:
    """The same counts on a grid of twice the cell edge (an arithmetic
    shift is floor division, negatives included)."""
    out: dict = {}
    for (c, r), n in cells.items():
        key = (c >> 1, r >> 1)
        out[key] = out.get(key, 0) + n
    return out


def _radius(grid: dict, qc: int, qr: int, need: int,
            limit: int | None) -> int | None:
    """Smallest r (≤ ``limit``; unbounded if None) whose (2r+1)² block
    around cell (qc, qr) holds ≥ ``need`` points, else None.  Unbounded
    is only asked with need ≤ the grid's total, on the top level, whose
    2^29 cells put the 31-bit world in a few cells per axis."""
    from itertools import count

    for r in count() if limit is None else range(limit + 1):
        if sum(grid.get((qc + dc, qr + dr), 0)
               for dc in range(-r, r + 1) for dr in range(-r, r + 1)) >= need:
            return r
    return None


def _block(grid: dict, qc: int, qr: int, ring: int) -> list:
    """The non-empty cells of the (2·ring+1)² block around (qc, qr)."""
    return [(qc + dc, qr + dr) for dc in range(-ring, ring + 1)
            for dr in range(-ring, ring + 1) if (qc + dc, qr + dr) in grid]


def knn_cell_rings(
    points: DataFrame,
    queries: DataFrame,
    k: int = 5,
    ring: int = 2,
    cell_bits: int = 15,
) -> DataFrame:
    """Scale path: exact kNN in ONE candidate-and-rank pass, each
    query's ring certified on the driver from a count grid.

    Candidates = points whose grid cell lies in a block of cells around
    the query's cell — the cell-neighbor-ring join of the north rule, as
    one broadcast equi-join on (level, cell) and one (dist, id) rank
    window.

    Certification: one aggregate counts the points per cell of edge
    ``2^cell_bits`` and brings the counts to the driver, which derives
    the coarser levels (cell edge ×2 per level, up to 2^29) by shifting
    the keys.  Per query, walking from the finest level up, r₁ is the
    smallest radius whose (2r₁+1)² block around the query's cell holds
    ≥ k points.  Each of those lies STRICTLY within √2·(r₁+1)·cell of
    the query, so the k-th distance does too, while every point outside
    a ring-R block lies more than R·cell away.  R = max(``ring``,
    ⌊√2·(r₁+1)⌋+1) thus certifies the top k with strict inequality: no
    boundary tie hides outside the block, so the (dist, id) tiebreak
    matches ``knn_bruteforce``.  A query takes the finest level with
    r₁ ≤ 1 (R ≤ 3: at most 49 cells); the top level accepts any r₁.  A
    points frame with fewer than k points certifies on all of them, so
    every point comes back ranked.

    The default base grid, 2^15, measured fastest at sf0.1 (2^13 and
    2^14 grew the driver grid for no gain); dense queries rank there,
    sparse ones coarsen.  The result (q_id, neighbor_id, rank, dist) is lazy.
    """
    from math import isqrt

    from pyspark.sql import Window
    from pyspark.sql.types import IntegerType, LongType, StructType

    grid = _count_grid(points, cell_bits)
    top = max(cell_bits, 29)
    levels = [grid]  # levels[i]: counts at cell_bits + i, built on demand
    need = min(k, sum(grid.values()))

    rows = []
    for qid, qx, qy in queries.select("q_id", "qx", "qy").collect():
        for b in range(cell_bits, top + 1):
            if len(levels) <= b - cell_bits:
                levels.append(_coarsen(levels[-1]))
            g, qc, qr = levels[b - cell_bits], qx >> b, qy >> b
            r1 = _radius(g, qc, qr, need, None if b == top else 1)
            if r1 is not None:
                break
        r = max(ring, isqrt(2 * (r1 + 1) ** 2) + 1)
        rows += [(qid, qx, qy, b, c, w) for c, w in _block(g, qc, qr, r)]
    # a typed pandas frame: Arrow ships it as a LocalTableScan, where a
    # row list would scan a Python RDD through a worker
    qcells = points.sparkSession.createDataFrame(
        pd.DataFrame(rows, columns=["q_id", "qx", "qy", "lvl", "cc", "cr"])
        .astype({"lvl": "int32", "cc": "int64", "cr": "int64"}),
        StructType([queries.schema[c] for c in ("q_id", "qx", "qy")])
        .add("lvl", IntegerType()).add("cc", LongType()).add("cr", LongType()))

    # each point once per level that some query uses
    pts = points.select("id", "x", "y", F.explode(F.array(*[
        F.struct(F.lit(b).alias("lvl"), F.shiftright("x", b).alias("cc"),
                 F.shiftright("y", b).alias("cr"))
        for b in sorted({row[3] for row in rows}) or [cell_bits]])).alias("g"))
    cand = pts.select("id", "x", "y", "g.*").join(
        F.broadcast(qcells), ["lvl", "cc", "cr"])
    d = (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx")) + (
        F.col("y") - F.col("qy")
    ) * (F.col("y") - F.col("qy"))
    w = Window.partitionBy("q_id").orderBy(F.col("dist"), F.col("id"))
    return (
        cand.withColumn("dist", d)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("id").alias("neighbor_id"), "rank", "dist")
    )
