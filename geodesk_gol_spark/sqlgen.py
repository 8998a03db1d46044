"""Shared SQL fragments — ONE text, TWO engines.

Every derivation that must agree bit-for-bit between the Spark engine and
the DuckDB oracle is defined here exactly once as an ANSI-SQL string in the
dialect intersection of Spark SQL and DuckDB:

- integer arithmetic (`+ - * %`) on BIGINT — exact in both engines;
- `/` only where both operands are exactly representable doubles and the
  result feeds `floor()` (IEEE-754 division is correctly rounded, so the
  result is bit-identical across engines);
- a *rational pseudo-Mercator* for the y axis: the reference projects with
  true Web-Mercator (`ln(tan(...))`, src/build/sort/Sorter.cpp:199-201 via
  Mercator::yFromLat100nd), but libm `ln`/`tan` may differ by 1 ulp between
  the JVM and DuckDB's C++ runtime, which could flip a `floor()` at tile
  boundaries.  We instead define the engine's canonical projection as an
  odd polynomial in lat (strictly monotone, Mercator-like stretch) built
  only from IEEE `+ * /`, which are correctly rounded and therefore
  reproduce identically everywhere.  This is OUR spec's projection; the
  oracle uses the same text, so parity is by construction.

The synthetic feature corpus is derived deterministically from the
driver-provided TPC-H-ish parquet tables (TESTDATA.md):

- ``lineitem`` rows  → **nodes**   (id = l_orderkey*8 + l_linenumber)
- ``orders`` rows    → **ways**    (node list = its lineitems, in line order)
- ``customer`` rows  → **relations** (members = the customer's order-ways)
- ``nation`` rows    → **super-relations** (members = customer relations)
- ``region`` rows    → **super-super-relations** (members = nation relations)

which reproduces the reference's node/way/relation containment shape
(src/osm/OsmPbfReader.h:232-262 callbacks) with a natural 3-deep
super-relation hierarchy (src/build/sort/SuperRelationResolver.cpp).

Spatial distribution (drives pyramid split/merge per
src/build/analyze/TileIndexBuilder.cpp:183-239 semantics):
70% of nodes in a dense "monaco" cluster (~0.7°×0.5°), 20% in a mid-density
"town" band (5°×4°), 10% sparse worldwide.
"""

from __future__ import annotations

from .config import LEAF_ZOOM, ZOOM_LEVELS

# ---------------------------------------------------------------------------
# deterministic hash streams (Knuth/xxhash-style odd multipliers, mod 2^32)
# ---------------------------------------------------------------------------

M32 = 4294967296


def h_expr(id_expr: str, mult: int) -> str:
    """Non-negative 32-bit hash stream of a non-negative BIGINT expression."""
    return f"(({id_expr}) * {mult}) % {M32}"


NODE_ID = "(l_orderkey * 8 + l_linenumber)"
H1 = h_expr(NODE_ID, 2654435761)
H2 = h_expr(NODE_ID, 2246822519)
H3 = h_expr(NODE_ID, 3266489917)
H4 = h_expr(NODE_ID, 668265263)

# lon/lat in 100-nanodegree ints (reference coordinate input unit,
# src/build/sort/Sorter.cpp:199-201).
LON100ND = f"""CASE
  WHEN {H1} % 10 < 7 THEN 74000000 + {H2} % 7000000
  WHEN {H1} % 10 < 9 THEN 1000000000 + {H2} % 50000000
  ELSE -1750000000 + ({H2} % 3500) * 1000000
END"""

LAT100ND = f"""CASE
  WHEN {H1} % 10 < 7 THEN 433000000 + {H3} % 5000000
  WHEN {H1} % 10 < 9 THEN 300000000 + {H3} % 40000000
  ELSE -550000000 + ({H3} % 1100) * 1000000
END"""


# ---------------------------------------------------------------------------
# projection: (lon100nd, lat100nd) -> 31-bit integer world coords (x, y)
# ---------------------------------------------------------------------------

def x_expr(lon100nd: str) -> str:
    """x ∈ [0, 2^31): linear in lon. Exact-operand IEEE division + floor."""
    return (
        f"CAST(floor((CAST({lon100nd} AS DOUBLE) + 1800000000.0)"
        f" / 3600000000.0 * 2147483648.0) AS BIGINT)"
    )


def y_expr(lat100nd: str) -> str:
    """y ∈ [0, 2^31): rational pseudo-Mercator (see module docstring).

    u  = lat/100 degrees ∈ [-0.9, 0.9]
    m  = u*(1 + u²*(0.1962 + u²*0.0937))   -- monotone, Mercator-like stretch
    yn = 0.5 - 0.45*m ∈ (0, 1)             -- north up ⇒ smaller y
    """
    u = f"(CAST({lat100nd} AS DOUBLE) * 0.000000001)"
    uu = f"({u} * {u})"
    m = f"({u} * (1.0 + {uu} * (0.1962 + {uu} * 0.0937)))"
    return f"CAST(floor((0.5 - 0.45 * {m}) * 2147483648.0) AS BIGINT)"


def cell_expr(xy: str, zoom: int = LEAF_ZOOM) -> str:
    """Tile column/row at ``zoom`` from a 31-bit world coordinate.

    Division by a power of two is exact in double, so floor(x / 2^k) is
    bit-identical across engines (== the reference's  x >> k  in
    Tile::columnFromXZ, call site src/build/util/TileCatalog.h:76-78).
    """
    d = 1 << (31 - zoom)
    return f"CAST(floor(({xy}) / {d}.0) AS INT)"


def tile_id_expr(zoom: str | int, col: str, row: str) -> str:
    return f"(({zoom}) * 16777216 + ({row}) * 4096 + ({col}))"


def cell_id_expr(col: str, row: str, zoom: int = LEAF_ZOOM) -> str:
    """S2-style hierarchical 64-bit cell id (pure-arithmetic, cross-engine).

    Layout (S2CellId semantics on the square world grid — the reference's
    quadtree stands in for S2's cube faces): the Morton/Z-order interleave
    of (col, row) at ``zoom`` occupies the high bits, followed by a single
    sentinel 1-bit, then zeros.  Exactly like S2, the sentinel's position
    encodes the level, a parent id is the child with the low bits cleared
    + sentinel moved up, and [id - lsb, id + lsb] is the leaf range a
    containment scan can prune on.  Morton (not Hilbert) keeps the id a
    24-term integer expression both Spark and DuckDB fold; Hilbert
    ordering is still used *within* tiles (functions/hilbert.py).
    """
    terms = []
    for b in range(zoom):
        terms.append(
            f"(CAST(floor(({col}) / {1 << b}.0) AS BIGINT) % 2) * {1 << (2 * b + 1)}"
        )
        terms.append(
            f"(CAST(floor(({row}) / {1 << b}.0) AS BIGINT) % 2) * {1 << (2 * b)}"
        )
    morton = "(" + " + ".join(terms) + ")" if terms else "0"
    shift = 2 * (LEAF_ZOOM - zoom)  # leaf-align, sentinel marks the level
    return f"({morton} * {1 << (shift + 1)} + {1 << shift})"


# ---------------------------------------------------------------------------
# node derivation (lineitem -> nodes)
# ---------------------------------------------------------------------------

# tag streams — keys drawn from the reference's default indexed-key list
# (src/build/util/BuildSettings.cpp:45-73): highway, name, amenity.
NODE_HIGHWAY = (
    f"CASE WHEN {H1} % 4 = 0 THEN 'residential' WHEN {H1} % 4 = 1 THEN 'primary' "
    f"WHEN {H1} % 4 = 2 THEN 'footway' ELSE NULL END"
)
NODE_NAME = (
    f"CASE WHEN {H2} % 5 = 0 THEN concat('A', CAST({NODE_ID} AS STRING)) "
    f"WHEN {H2} % 5 = 1 THEN concat('B', CAST({NODE_ID} AS STRING)) ELSE NULL END"
)
NODE_AMENITY = (
    f"CASE WHEN {H3} % 11 = 0 THEN 'cafe' WHEN {H3} % 11 = 1 THEN 'parking' "
    f"ELSE NULL END"
)
# colon-carrying key, exercised by quoted-key GOQL (["addr:street"])
NODE_ADDR = (
    f"CASE WHEN {H2} % 7 = 3 THEN 'Main Street' "
    f"WHEN {H2} % 7 = 4 THEN 'Elm Road' ELSE NULL END"
)
# numeric-valued key exercising GOQL comparison operators ([k>=v],
# TagClauses: reference matcher compiles numeric compares that a
# NON-numeric tag value must never satisfy — 'walk' is the decoy
NODE_MAXSPEED = (
    f"CASE WHEN {H4} % 9 = 0 THEN '30' WHEN {H4} % 9 = 1 THEN '50' "
    f"WHEN {H4} % 9 = 2 THEN '70' WHEN {H4} % 9 = 3 THEN 'walk' "
    f"ELSE NULL END"
)


def nodes_select(lineitem: str = "lineitem") -> str:
    """SELECT deriving the canonical node table from ``lineitem``.

    Columns: id, lon100nd, lat100nd, x, y, cell_col, cell_row,
             highway, name, amenity, orderkey (lineage).
    """
    return f"""SELECT
  {NODE_ID} AS id,
  {LON100ND} AS lon100nd,
  {LAT100ND} AS lat100nd,
  {x_expr(LON100ND)} AS x,
  {y_expr(LAT100ND)} AS y,
  {cell_expr(x_expr(LON100ND))} AS cell_col,
  {cell_expr(y_expr(LAT100ND))} AS cell_row,
  {NODE_HIGHWAY} AS highway,
  {NODE_NAME} AS name,
  {NODE_AMENITY} AS amenity,
  {NODE_ADDR} AS addr_street,
  {NODE_MAXSPEED} AS maxspeed,
  l_orderkey AS orderkey,
  l_linenumber AS linenumber
FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM {lineitem})"""


# ---------------------------------------------------------------------------
# way derivation (orders + lineitem -> ways / way_members)
# ---------------------------------------------------------------------------

WH = h_expr("o_orderkey", 2654435761)
WAY_HIGHWAY = (
    f"CASE WHEN {WH} % 3 = 0 THEN 'residential' "
    f"WHEN {WH} % 3 = 1 THEN 'secondary' ELSE NULL END"
)
WAY_NAME = (
    f"CASE WHEN {WH} % 4 = 0 THEN concat('A way ', CAST(o_orderkey AS STRING)) "
    f"WHEN {WH} % 4 = 1 THEN concat('Road ', CAST(o_orderkey AS STRING)) "
    f"ELSE NULL END"
)
WAY_BUILDING = f"CASE WHEN {WH} % 5 = 0 THEN 'yes' ELSE NULL END"
# second hash stream decorrelates the area-rule tag keys from the first
WH2 = h_expr("o_orderkey", 2246822519)
# tag streams exercising each area-rule form (AreaClassifier.cpp:11-39):
# leisure = accept-all rule; natural = except-rule (water is an area,
# cliff/tree_row are exceptions); railway = only-rule (station yes,
# rail no); area = the definite key (any value decides for ways).
WAY_LEISURE = (
    f"CASE WHEN {WH2} % 6 = 0 THEN 'park' "
    f"WHEN {WH2} % 6 = 1 THEN 'pitch' ELSE NULL END"
)
WAY_NATURAL = (
    f"CASE WHEN {WH2} % 7 = 2 THEN 'water' WHEN {WH2} % 7 = 3 THEN 'cliff' "
    f"WHEN {WH2} % 7 = 4 THEN 'tree_row' ELSE NULL END"
)
WAY_RAILWAY = (
    f"CASE WHEN {WH2} % 11 = 5 THEN 'station' "
    f"WHEN {WH2} % 11 = 6 THEN 'rail' ELSE NULL END"
)
WAY_AREATAG = (
    f"CASE WHEN {WH2} % 13 = 7 THEN 'yes' "
    f"WHEN {WH2} % 13 = 8 THEN 'no' ELSE NULL END"
)
# closed ring iff hash says so AND the way has >= 3 distinct nodes
# (ring semantics: src/build/sort/Sorter.cpp:274-291)
WAY_CLOSED = f"({WH} % 7 = 0)"


def ways_select(orders: str = "orders", lineitem: str = "lineitem") -> str:
    """Way header table: id, n_nodes, closed, tags. One row per order
    with >= 2 lineitems (ways need >= 2 nodes, Sorter.cpp:264-272)."""
    return f"""SELECT
  o.o_orderkey AS id,
  c.n_nodes AS n_nodes,
  CASE WHEN {WH.replace('o_orderkey', 'o.o_orderkey')} % 7 = 0
       AND c.n_nodes >= 3 THEN TRUE ELSE FALSE END AS closed,
  {WAY_HIGHWAY.replace('o_orderkey', 'o.o_orderkey')} AS highway,
  {WAY_NAME.replace('o_orderkey', 'o.o_orderkey')} AS name,
  {WAY_BUILDING.replace('o_orderkey', 'o.o_orderkey')} AS building,
  {WAY_LEISURE.replace('o_orderkey', 'o.o_orderkey')} AS leisure,
  {WAY_NATURAL.replace('o_orderkey', 'o.o_orderkey')} AS natural_val,
  {WAY_RAILWAY.replace('o_orderkey', 'o.o_orderkey')} AS railway,
  {WAY_AREATAG.replace('o_orderkey', 'o.o_orderkey')} AS area_val
FROM {orders} o
JOIN (SELECT l_orderkey, count(DISTINCT l_linenumber) AS n_nodes
      FROM {lineitem} GROUP BY l_orderkey) c
  ON c.l_orderkey = o.o_orderkey
WHERE c.n_nodes >= 2"""


def way_area_sql() -> str:
    """Tag half of the way area verdict over the synth way columns —
    the reference's DEFAULT rule table (AreaClassifier.cpp:11-39)
    restricted to keys the corpus synthesizes; all other rule keys are
    NULL everywhere and drop out of the OR.  ``area`` is the definite
    key: when present, its (accept-all) rule alone decides
    (AreaClassifier.cpp:211-261).  Every arm is NULL-guarded so the
    verdict is always TRUE/FALSE, never NULL."""
    general = (
        "(building IS NOT NULL OR leisure IS NOT NULL"
        " OR (natural_val IS NOT NULL AND natural_val NOT IN"
        " ('coastline', 'cliff', 'ridge', 'arete', 'tree_row'))"
        " OR (railway IS NOT NULL AND railway IN"
        " ('station', 'turntable', 'roundhouse', 'platform'))"
        " OR (highway IS NOT NULL AND highway IN"
        " ('services', 'rest_area', 'escape', 'elevator'))"
        " OR area_val IS NOT NULL)"
    )
    return f"(CASE WHEN area_val IS NOT NULL THEN TRUE ELSE {general} END)"


def way_members_select(orders: str = "orders", lineitem: str = "lineitem") -> str:
    """(way_id, seq, node_id) rows in way order; closed rings repeat the
    first node as the last entry (seq = n_nodes)."""
    return f"""SELECT w.id AS way_id, m.seq AS seq, m.node_id AS node_id
FROM ({ways_select(orders, lineitem)}) w
JOIN (
  SELECT l_orderkey,
         CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber)
              - 1 AS INT) AS seq,
         l_orderkey * 8 + l_linenumber AS node_id
  FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM {lineitem})
  UNION ALL
  SELECT mn.ok AS l_orderkey, mx.n_nodes AS seq,
         mn.ok * 8 + mn.min_line AS node_id
  FROM (SELECT l_orderkey AS ok, min(l_linenumber) AS min_line FROM {lineitem}
        GROUP BY l_orderkey) mn
  JOIN (SELECT l_orderkey, count(DISTINCT l_linenumber) AS n_nodes
        FROM {lineitem} GROUP BY l_orderkey) mx ON mx.l_orderkey = mn.ok
) m ON m.l_orderkey = w.id
WHERE m.seq < w.n_nodes OR (w.closed AND m.seq = w.n_nodes)"""


# ---------------------------------------------------------------------------
# relation derivation (customer / nation / region -> relations)
# ---------------------------------------------------------------------------

# relation ids live in disjoint ranges so typed ids never collide
CUST_REL_BASE = 10_000_000
NATION_REL_BASE = 20_000_000
REGION_REL_BASE = 30_000_000

RH = h_expr("c_custkey", 2654435761)
REL_BOUNDARY = f"CASE WHEN {RH} % 3 = 0 THEN 'administrative' ELSE NULL END"
REL_NAME = (
    f"CASE WHEN {RH} % 2 = 0 THEN concat('District ', CAST(c_custkey AS STRING)) "
    f"ELSE NULL END"
)


def qualifying_custs_select(
    customer: str = "customer", orders: str = "orders", lineitem: str = "lineitem"
) -> str:
    """Customer keys owning >= 1 qualifying order-way (>= 2 distinct
    lineitem nodes) — only these customers get a relation span in synth
    (sources/synth.py cust_rel_members inner-joins orders to way_nodes)."""
    return f"""SELECT DISTINCT o.o_custkey AS c_custkey
FROM {orders} o
JOIN (SELECT l_orderkey FROM {lineitem}
      GROUP BY l_orderkey HAVING count(DISTINCT l_linenumber) >= 2) q
  ON q.l_orderkey = o.o_orderkey"""


def relations_select(
    customer: str = "customer", orders: str = "orders", lineitem: str = "lineitem"
) -> str:
    """Level-0 relations (way members only): one per customer that has at
    least one qualifying order-way (mirrors synth.py's inner join)."""
    return f"""SELECT
  {CUST_REL_BASE} + c_custkey AS id,
  {REL_BOUNDARY} AS boundary,
  {REL_NAME} AS name,
  c_nationkey AS nationkey
FROM {customer}
WHERE c_custkey IN ({qualifying_custs_select(customer, orders, lineitem)})"""


def relation_members_select(
    customer: str = "customer", orders: str = "orders", lineitem: str = "lineitem"
) -> str:
    """(rel_id, seq, member_type, member_id): customer rel -> its order-ways,
    ordered by orderkey. member_type: 0=node 1=way 2=relation
    (typed id = id*4 + type, src/build/sort/Sorter.cpp:527).
    Member orders must be real ways: >= 2 DISTINCT lineitem nodes, matching
    ways_select (duplicate (l_orderkey, l_linenumber) rows exist in testdata)."""
    return f"""SELECT
  {CUST_REL_BASE} + c.c_custkey AS rel_id,
  CAST(row_number() OVER (PARTITION BY c.c_custkey ORDER BY o.o_orderkey) - 1 AS INT) AS seq,
  1 AS member_type,
  o.o_orderkey AS member_id
FROM {customer} c
JOIN {orders} o ON o.o_custkey = c.c_custkey
JOIN (SELECT l_orderkey, count(DISTINCT l_linenumber) AS n FROM {lineitem}
      GROUP BY l_orderkey) lc
  ON lc.l_orderkey = o.o_orderkey AND lc.n >= 2"""


def super_relation_members_select(
    customer: str = "customer", nation: str = "nation", region: str = "region",
    orders: str = "orders", lineitem: str = "lineitem",
) -> str:
    """Nation relations contain customer relations; region relations contain
    nation relations (2 super-levels -> level-ordered resolution, J6).
    Nation members include only customers that actually have a relation
    (qualifying customers, see relations_select)."""
    return f"""SELECT {NATION_REL_BASE} + n.n_nationkey AS rel_id,
  CAST(row_number() OVER (PARTITION BY n.n_nationkey ORDER BY c.c_custkey) - 1 AS INT) AS seq,
  2 AS member_type, {CUST_REL_BASE} + c.c_custkey AS member_id
FROM {nation} n JOIN {customer} c ON c.c_nationkey = n.n_nationkey
WHERE c.c_custkey IN ({qualifying_custs_select(customer, orders, lineitem)})
UNION ALL
SELECT {REGION_REL_BASE} + r.r_regionkey AS rel_id,
  CAST(row_number() OVER (PARTITION BY r.r_regionkey ORDER BY n.n_nationkey) - 1 AS INT) AS seq,
  2 AS member_type, {NATION_REL_BASE} + n.n_nationkey AS member_id
FROM {region} r JOIN {nation} n ON n.n_regionkey = r.r_regionkey"""


# ---------------------------------------------------------------------------
# tile pyramid (density split/merge) as a CTE chain over node cells
# ---------------------------------------------------------------------------

def pyramid_ctes(nodes_cte: str, density: int) -> str:
    """CTE definitions (assumes a CTE named ``{nodes_cte}`` with cell_col,
    cell_row). Emits survivors s12, s9, s6, s3 and root s0.

    Semantics (our spec of TileIndexBuilder.cpp:55-269): a tile at zoom z
    survives iff the node count *not claimed by surviving descendants*
    is >= density; unclaimed counts roll up along 12→9→6→3→0; the root
    always survives and absorbs the remainder.
    """
    parts = [
        f"cells AS (SELECT cell_col AS c, cell_row AS r, count(*) AS cnt "
        f"FROM {nodes_cte} GROUP BY cell_col, cell_row)",
        f"s12 AS (SELECT c, r, cnt FROM cells WHERE cnt >= {density})",
        f"r9 AS (SELECT CAST(floor(c / 8.0) AS INT) AS c, "
        f"CAST(floor(r / 8.0) AS INT) AS r, CAST(sum(cnt) AS BIGINT) AS cnt "
        f"FROM cells WHERE cnt < {density} GROUP BY 1, 2)",
        f"s9 AS (SELECT c, r, cnt FROM r9 WHERE cnt >= {density})",
        f"r6 AS (SELECT CAST(floor(c / 8.0) AS INT) AS c, "
        f"CAST(floor(r / 8.0) AS INT) AS r, CAST(sum(cnt) AS BIGINT) AS cnt "
        f"FROM r9 WHERE cnt < {density} GROUP BY 1, 2)",
        f"s6 AS (SELECT c, r, cnt FROM r6 WHERE cnt >= {density})",
        f"r3 AS (SELECT CAST(floor(c / 8.0) AS INT) AS c, "
        f"CAST(floor(r / 8.0) AS INT) AS r, CAST(sum(cnt) AS BIGINT) AS cnt "
        f"FROM r6 WHERE cnt < {density} GROUP BY 1, 2)",
        f"s3 AS (SELECT c, r, cnt FROM r3 WHERE cnt >= {density})",
        f"s0 AS (SELECT 0 AS c, 0 AS r, CAST(COALESCE(sum(cnt), 0) AS BIGINT) "
        f"AS cnt FROM r3 WHERE cnt < {density})",
    ]
    return ",\n".join(parts)


def cell_tile_cte() -> str:
    """cell→tile mapping: deepest surviving tile containing the cell
    (the reference's cellToPile grid, src/build/util/TileCatalog.h:74-82).
    Requires pyramid_ctes() in scope."""
    return f"""cell_tile AS (
  SELECT cells.c AS c, cells.r AS r,
    COALESCE(
      {tile_id_expr(12, 's12.c', 's12.r')},
      {tile_id_expr(9, 's9.c', 's9.r')},
      {tile_id_expr(6, 's6.c', 's6.r')},
      {tile_id_expr(3, 's3.c', 's3.r')},
      0) AS tile_id
  FROM cells
  LEFT JOIN s12 ON s12.c = cells.c AND s12.r = cells.r
  LEFT JOIN s9 ON s9.c = CAST(floor(cells.c / 8.0) AS INT)
             AND s9.r = CAST(floor(cells.r / 8.0) AS INT)
  LEFT JOIN s6 ON s6.c = CAST(floor(cells.c / 64.0) AS INT)
             AND s6.r = CAST(floor(cells.r / 64.0) AS INT)
  LEFT JOIN s3 ON s3.c = CAST(floor(cells.c / 512.0) AS INT)
             AND s3.r = CAST(floor(cells.r / 512.0) AS INT)
)"""


# zoom → divisor from zoom-12 cell coords (parent step 3 ⇒ /8 per step)
ZOOM_DIVISORS: tuple[tuple[int, int], ...] = tuple(
    (z, 1 << (LEAF_ZOOM - z)) for z in ZOOM_LEVELS
)


# ---------------------------------------------------------------------------
# TilePair home-tile selection (J3) from a feature's cell-extent
# ---------------------------------------------------------------------------
# A multi-cell feature is assigned to at most two adjacent sibling tiles
# (E/W or N/S "twins") at the deepest zoom where its extent spans <= 2 such
# tiles; otherwise it climbs toward the root.  Reference semantics:
# TilePair normalization src/build/util/TileCatalog.h:114-122, twin encoding
# src/build/util/ParentTileLocator.h:23-36, way logic Sorter.cpp:389-406.
#
# Our spec: given the zoom-12 cell extent (minc, minr, maxc, maxr) of a
# feature's member nodes, zoom z *qualifies* iff
#   (floor(maxc/d) - floor(minc/d)) + (floor(maxr/d) - floor(minr/d)) <= 1
# (0 = single tile, 1 = adjacent pair; diagonal spans sum to 2 and climb).
# z* = the deepest qualifying zoom (z=0 always qualifies).  The 1-2
# candidate tiles at z* are then mapped to their deepest *surviving*
# ancestor-or-self in the pyramid (twins may collapse to one tile).

def _span_at(zoom: int, lo: str, hi: str) -> str:
    d = 1 << (LEAF_ZOOM - zoom)
    return (
        f"(CAST(floor(({hi}) / {d}.0) AS INT) - CAST(floor(({lo}) / {d}.0) AS INT))"
    )


def qual_expr(zoom: int, minc="minc", minr="minr", maxc="maxc", maxr="maxr") -> str:
    return f"({_span_at(zoom, minc, maxc)} + {_span_at(zoom, minr, maxr)} <= 1)"


def zstar_expr(minc="minc", minr="minr", maxc="maxc", maxr="maxr") -> str:
    """Deepest qualifying zoom as a CASE chain (z=0 always qualifies)."""
    cases = " ".join(
        f"WHEN {qual_expr(z, minc, minr, maxc, maxr)} THEN {z}"
        for z in ZOOM_LEVELS
        if z != 0
    )
    return f"CASE {cases} ELSE 0 END"


def at_zstar_expr(cell: str, zstar: str = "zstar") -> str:
    """Tile col/row at the (data-dependent) zoom z* of a cell coordinate."""
    cases = " ".join(
        f"WHEN {zstar} = {z} THEN CAST(floor(({cell}) / {d}.0) AS INT)"
        for z, d in ZOOM_DIVISORS
    )
    return f"CASE {cases} END"


def corner_cell_expr(colz: str, zstar: str = "zstar") -> str:
    """Zoom-12 cell coordinate of a tile's min corner (tile at zoom z*)."""
    cases = " ".join(
        f"WHEN {zstar} = {z} THEN ({colz}) * {d}" for z, d in ZOOM_DIVISORS
    )
    return f"CASE {cases} END"


def way_segments_select(nodes_cte: str = "nodes",
                        orders: str = "orders",
                        lineitem: str = "lineitem") -> str:
    """(way_id, seq, x0, y0, x1, y1): consecutive way-vertex segments.

    Shared fragment for the P3 polygon-intersects oracle; consecutive
    vertices pair up with lead() over the member order.
    """
    return f"""SELECT way_id, seq, x0, y0, x1, y1 FROM (
  SELECT wm.way_id AS way_id, wm.seq AS seq,
         CAST(n.x AS DOUBLE) AS x0, CAST(n.y AS DOUBLE) AS y0,
         lead(CAST(n.x AS DOUBLE)) OVER
           (PARTITION BY wm.way_id ORDER BY wm.seq) AS x1,
         lead(CAST(n.y AS DOUBLE)) OVER
           (PARTITION BY wm.way_id ORDER BY wm.seq) AS y1
  FROM ({way_members_select(orders, lineitem)}) wm
  JOIN {nodes_cte} n ON n.id = wm.node_id
) WHERE x1 IS NOT NULL"""


def seg_rect_intersect_expr(
    x0: str, y0: str, x1: str, y1: str,
    rx0: float, ry0: float, rx1: float, ry1: float,
) -> str:
    """Liang–Barsky segment-vs-axis-aligned-rect intersection as shared SQL.

    All arithmetic is IEEE + - * / and least/greatest on DOUBLE, so Spark
    and DuckDB agree bit-for-bit (sqlgen module docstring).  Rect bounds
    should be half-integers (…​.5) so integer feature coordinates never sit
    exactly on a boundary and open/closed conventions cannot diverge.
    """
    dx = f"({x1} - {x0})"
    dy = f"({y1} - {y0})"

    def slab(lo: float, hi: float, a: str, d: str) -> tuple[str, str]:
        t_lo = (
            f"CASE WHEN {d} = 0.0 THEN "
            f"CASE WHEN {a} >= {lo} AND {a} <= {hi} THEN 0.0 ELSE 2.0 END "
            f"ELSE least(({lo} - {a}) / {d}, ({hi} - {a}) / {d}) END"
        )
        t_hi = (
            f"CASE WHEN {d} = 0.0 THEN "
            f"CASE WHEN {a} >= {lo} AND {a} <= {hi} THEN 1.0 ELSE -1.0 END "
            f"ELSE greatest(({lo} - {a}) / {d}, ({hi} - {a}) / {d}) END"
        )
        return t_lo, t_hi

    tx_lo, tx_hi = slab(rx0, rx1, x0, dx)
    ty_lo, ty_hi = slab(ry0, ry1, y0, dy)
    return (
        f"(greatest({tx_lo}, {ty_lo}, 0.0) <= least({tx_hi}, {ty_hi}, 1.0))"
    )


def seg_cross_poly_expr(x0: str, y0: str, x1: str, y1: str, poly) -> str:
    """True iff segment (x0,y0)-(x1,y1) PROPERLY crosses any edge of the
    closed polygon ring — the exact sign-test arithmetic of
    ``query/spatial._segment_polygon_arrays`` re-expressed as shared SQL
    (IEEE + - * only, so DuckDB and numpy agree bit-for-bit).  Pass
    half-integer polygon vertices so integer feature coordinates never
    produce a zero sign product."""
    pts = list(poly)
    if pts[0] != pts[-1]:
        pts = pts + [pts[0]]
    terms = []
    for (qx0, qy0), (qx1, qy1) in zip(pts, pts[1:]):
        ex, ey = qx1 - qx0, qy1 - qy0
        d1 = f"({ex} * ({y0} - {qy0}) - {ey} * ({x0} - {qx0}))"
        d2 = f"({ex} * ({y1} - {qy0}) - {ey} * ({x1} - {qx0}))"
        d3 = (f"(({x1} - {x0}) * ({qy0} - {y0})"
              f" - ({y1} - {y0}) * ({qx0} - {x0}))")
        d4 = (f"(({x1} - {x0}) * ({qy1} - {y0})"
              f" - ({y1} - {y0}) * ({qx1} - {x0}))")
        terms.append(f"({d1} * {d2} < 0 AND {d3} * {d4} < 0)")
    return "(" + " OR ".join(terms) + ")"


def hilbert_ctes(src_cte: str, order: int = 16) -> str:
    """CTE chain computing the Hilbert distance of every (x, y) row in
    ``src_cte`` — the oracle twin of ``functions.hilbert.hilbert_xy2d``
    (reference curve use: src/tile/compiler/HilbertIndexBuilder.cpp:16-130).

    The xy→d loop is unrolled into one CTE per bit level (``order``
    steps), each rewriting integer state columns (hx, hy, hd) with the
    same rotate-and-accumulate arithmetic the numpy UDF runs — integer
    ops only, so DuckDB and Spark agree exactly.  The final CTE is
    ``h{order}`` with columns (cx, cy, hd): original coords + distance.
    """
    parts = [
        f"h0 AS (SELECT x AS cx, y AS cy, CAST(x AS BIGINT) AS hx, "
        f"CAST(y AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd FROM {src_cte})"
    ]
    for i in range(order):
        s = 1 << (order - 1 - i)
        rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
        new_d = f"hd + {s * s} * CAST(xor(3 * {rx}, {ry}) AS BIGINT)"
        new_x = (
            f"CASE WHEN {ry} = 0 THEN "
            f"(CASE WHEN {rx} = 1 THEN {s - 1} - hy ELSE hy END) "
            f"ELSE hx END"
        )
        new_y = (
            f"CASE WHEN {ry} = 0 THEN "
            f"(CASE WHEN {rx} = 1 THEN {s - 1} - hx ELSE hx END) "
            f"ELSE hy END"
        )
        parts.append(
            f"h{i + 1} AS (SELECT cx, cy, {new_x} AS hx, {new_y} AS hy, "
            f"{new_d} AS hd FROM h{i})"
        )
    return ",\n".join(parts)


def point_in_rects_expr(x: str, y: str, rects) -> str:
    """True iff point (x, y) lies in the union of axis-aligned rects
    [(rx0, ry0, rx1, ry1), …] — the oracle-side PIP for rectilinear test
    polygons (half-integer bounds keep open/closed conventions moot)."""
    terms = [
        f"({x} > {rx0} AND {x} < {rx1} AND {y} > {ry0} AND {y} < {ry1})"
        for rx0, ry0, rx1, ry1 in rects
    ]
    return "(" + " OR ".join(terms) + ")"


def coord_str_expr(v100nd: str, precision: int = 7) -> str:
    """Exact decimal rendering of a 100-nanodegree int coordinate.

    Pure integer/string ops (sign, integer part, left-padded fraction) so
    Spark and DuckDB produce byte-identical text — no float formatting.
    Fixed ``precision`` digits, trailing zeros kept (our spec of the
    reference's -p option, src/gol/QueryCommand.cpp:218-222).
    """
    scale = 10 ** (7 - precision)
    a = f"abs({v100nd})"
    ip = f"CAST(floor({a} / 10000000.0) AS BIGINT)"
    fr = f"CAST(floor(({a} % 10000000) / {scale}.0) AS BIGINT)"
    sign = f"CASE WHEN {v100nd} < 0 THEN '-' ELSE '' END"
    if precision == 0:
        return f"concat({sign}, CAST({ip} AS STRING))"
    return (
        f"concat({sign}, CAST({ip} AS STRING), '.', "
        f"lpad(CAST({fr} AS STRING), {precision}, '0'))"
    )


def home_tiles_ctes(ext_cte: str, prefix: str = "w") -> str:
    """CTEs mapping an extent CTE (id, minc, minr, maxc, maxr) to home
    tiles (id, tile_id, twin).  Requires pyramid_ctes() in scope.
    Final CTE is named ``{prefix}_homes``."""
    z = zstar_expr()
    c0, r0 = at_zstar_expr("minc"), at_zstar_expr("minr")
    c1, r1 = at_zstar_expr("maxc"), at_zstar_expr("maxr")
    joins, coalesce = [], []
    for zoom, d in ZOOM_DIVISORS:
        if zoom == 0:
            continue
        s = f"s{zoom}"
        joins.append(
            f"LEFT JOIN {s} ON cand.zstar >= {zoom} "
            f"AND {s}.c = CAST(floor(cand.cc / {d}.0) AS INT) "
            f"AND {s}.r = CAST(floor(cand.cr / {d}.0) AS INT)"
        )
        coalesce.append(tile_id_expr(zoom, f"{s}.c", f"{s}.r"))
    coalesce.append("0")
    return f"""{prefix}_ext2 AS (
  SELECT id, minc, minr, maxc, maxr, {z} AS zstar FROM {ext_cte}
),
{prefix}_cand AS (
  SELECT id, zstar, {c0} AS c, {r0} AS r, 0 AS twin,
         {corner_cell_expr(c0)} AS cc, {corner_cell_expr(r0)} AS cr
  FROM {prefix}_ext2
  UNION ALL
  SELECT id, zstar, {c1} AS c, {r1} AS r, 1 AS twin,
         {corner_cell_expr(c1)} AS cc, {corner_cell_expr(r1)} AS cr
  FROM {prefix}_ext2
  WHERE NOT ({c0} = {c1} AND {r0} = {r1})
),
{prefix}_mapped AS (
  SELECT cand.id AS id, cand.twin AS twin,
         COALESCE({', '.join(coalesce)}) AS tile_id
  FROM {prefix}_cand cand
  {' '.join(joins)}
),
{prefix}_homes AS (
  SELECT id, tile_id, min(twin) AS twin
  FROM {prefix}_mapped GROUP BY id, tile_id
)"""


def way_extent_cte(nodes_cte: str = "nodes") -> str:
    """wext CTE: way cell extents from way members × node cells."""
    return f"""wext AS (
  SELECT wm.way_id AS id,
         min(n.cell_col) AS minc, min(n.cell_row) AS minr,
         max(n.cell_col) AS maxc, max(n.cell_row) AS maxr
  FROM ({way_members_select()}) wm
  JOIN {nodes_cte} n ON n.id = wm.node_id
  GROUP BY wm.way_id
)"""


def relation_extent_ctes(nodes_cte: str = "nodes") -> str:
    """Relation extents by explicit level expansion (customer rels from
    way extents; nation from customer; region from nation).  Requires
    ``wext`` in scope.  Final CTE: ``rext`` (id, minc, minr, maxc, maxr,
    level)."""
    return f"""crel_ext AS (
  SELECT rm.rel_id AS id,
         min(w.minc) AS minc, min(w.minr) AS minr,
         max(w.maxc) AS maxc, max(w.maxr) AS maxr, 0 AS level
  FROM ({relation_members_select()}) rm
  JOIN wext w ON w.id = rm.member_id
  GROUP BY rm.rel_id
),
srel AS ({super_relation_members_select()}),
nrel_ext AS (
  SELECT srel.rel_id AS id,
         min(c.minc) AS minc, min(c.minr) AS minr,
         max(c.maxc) AS maxc, max(c.maxr) AS maxr, 1 AS level
  FROM srel JOIN crel_ext c ON c.id = srel.member_id
  WHERE srel.rel_id >= {NATION_REL_BASE} AND srel.rel_id < {REGION_REL_BASE}
  GROUP BY srel.rel_id
),
rrel_ext AS (
  SELECT srel.rel_id AS id,
         min(n.minc) AS minc, min(n.minr) AS minr,
         max(n.maxc) AS maxc, max(n.maxr) AS maxr, 2 AS level
  FROM srel JOIN nrel_ext n ON n.id = srel.member_id
  WHERE srel.rel_id >= {REGION_REL_BASE}
  GROUP BY srel.rel_id
),
rext AS (
  SELECT * FROM crel_ext UNION ALL SELECT * FROM nrel_ext
  UNION ALL SELECT * FROM rrel_ext
)"""
