"""Feature→tile assignment joins (J1–J6) and extents (A6 groundwork).

Reference pipeline being re-expressed (all shapes per SURVEY.md §2.3):

- J1 node→tile: broadcast cell→tile lookup
  (src/build/sort/Sorter.cpp:189-214, TileCatalog.h:74-82)
- J2 way→nodes: shuffle hash join ways.explode(node_ids) × node cells
  (src/build/sort/Sorter.cpp:225-307)
- J3 TilePair normalization: deepest zoom where the extent spans ≤ 2
  adjacent sibling tiles (TileCatalog.h:114-122, ParentTileLocator.h:23-36)
- J4 ghost fan-out: node-member tiles that are not home tiles
  (Sorter.cpp:330-447)
- J5 relation→members join (Sorter.cpp:457-563)
- J6 super-relation leveling: one driver-side ready-set pass; cycles
  are cut by score and flagged (SuperRelationResolver.cpp:15-235)

Key scale decision: instead of exploding every (member × zoom) pair, each
feature carries a *cell extent* (min/max zoom-12 cell coords).  min/max
commute with the floor-divisions that derive tile coords at coarser zooms,
so TilePair selection is a pure Column CASE chain over the extent — no
per-zoom shuffle, no UDF.  Extents aggregate with one groupBy per feature
kind and compose upward through relation levels.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import LEAF_ZOOM, ZOOM_LEVELS
from ..plans.pyramid import TileCatalog, _LADDER
from ..sources.parser import TYPE_NODE, TYPE_RELATION, TYPE_WAY

# ---------------------------------------------------------------------------
# extents
# ---------------------------------------------------------------------------

def node_points(nodes_projected: DataFrame) -> DataFrame:
    """(typed_id, id, x, y, cell_col, cell_row) for nodes."""
    return nodes_projected.select(
        (F.col("id") * 4 + TYPE_NODE).alias("typed_id"),
        "id",
        "x",
        "y",
        "cell_col",
        "cell_row",
    )


def way_extents(
    ways: DataFrame, points: DataFrame, member_tiles: bool = False
) -> DataFrame:
    """J2: explode way node lists, join node coords, aggregate extents.

    Output: (typed_id, id, n_members, n_resolved, minc, minr, maxc, maxr,
             minx, miny, maxx, maxy [, member_tiles]).

    With ``member_tiles=True`` the ``points`` frame must also carry a
    ``tile_id`` column (catalog.assign output) and the result gains a
    ``member_tiles`` array — the distinct tiles holding the way's member
    nodes, collected in the SAME groupBy.  This fuses J4's ghost fan-out
    input into J2: the reference walks the member nodes once for both
    purposes (Sorter.cpp:225-307 and 330-447); fusing saves a second
    full explode+join over the member set plus a distinct shuffle.
    """
    wm = ways.select(
        "id", F.explode("node_ids").alias("node_id"), F.size("node_ids").alias("nm")
    )
    point_cols = ["x", "y", "cell_col", "cell_row"]
    aggs = []
    if member_tiles:
        point_cols.append("tile_id")
        # collect_set skips nulls (unresolved member nodes) and dedupes
        # map-side, so no separate distinct pass exists anywhere
        aggs.append(F.collect_set("tile_id").alias("member_tiles"))
    j = wm.join(
        points.select(F.col("id").alias("node_id"), *point_cols),
        "node_id",
        "left",
    )
    return (
        j.groupBy("id")
        .agg(
            F.max("nm").alias("n_members"),
            F.count("x").alias("n_resolved"),
            F.min("cell_col").alias("minc"),
            F.min("cell_row").alias("minr"),
            F.max("cell_col").alias("maxc"),
            F.max("cell_row").alias("maxr"),
            F.min("x").alias("minx"),
            F.min("y").alias("miny"),
            F.max("x").alias("maxx"),
            F.max("y").alias("maxy"),
            *aggs,
        )
        .withColumn("typed_id", F.col("id") * 4 + TYPE_WAY)
        .filter(F.col("n_resolved") >= 1)
    )


_EXT_COLS = ["minc", "minr", "maxc", "maxr", "minx", "miny", "maxx", "maxy"]

# hard cap on the rel→rel edges the super-relation resolver pulls
# driver-side: a pathological corpus raises instead of OOMing the driver
J6_RESIDUE_CAP = 5_000_000


def relation_extents(
    relations: DataFrame,
    points: DataFrame,
    wext: DataFrame,
    stats: dict | None = None,
):
    """J5/J6: resolve relation member extents, super-relations last.

    Scale shape (mirrors the reference's split): member resolution for
    *simple* relations (no relation members) is one distributed
    join + aggregate — this is the heavy part (billions of members).
    Super-relations resolve the way the reference resolves them: in one
    single-node pass over the rel→rel graph, a topological ready-set
    plus a cycle-break score (src/build/sort/SuperRelationResolver.cpp:
    15-235).  The pending supers — one row each, carrying their tags,
    own node/way extent and the extents of their rel-members — are
    collected to the driver in ONE frame, resolved, and unioned back.
    Super-relations are rare by the reference's own design (25 nations
    and 5 regions in every fixture), so this residue stays small; its
    size is metered and capped (below).

    Cycles are broken with the reference's score (see the comment at
    the cycle break) and ascending-id tiebreaks; edge losers are flagged
    ``refcycle``.  Self-references are dropped up front
    (Sorter.cpp:490-499).

    Returns (rel_ext, unresolved): ``rel_ext`` = (typed_id, id, level,
    n_members, n_resolved, refcycle, *extent); ``unresolved`` = relations
    with no resolvable member at all.  Both are eagerly checkpointed, so
    callers may read them from concurrent jobs.

    ``stats`` (optional dict) is filled with the driver-residue meters
    ``j6_pending_supers`` / ``j6_residue_edges`` — the exact row volume
    the super-relation resolver pulls driver-side.  More than
    ``J6_RESIDUE_CAP`` edges raises before anything is collected.
    """
    spark = relations.sparkSession
    rm = (
        relations.select(
            F.col("id").alias("rel_id"),
            F.size("members").alias("n_members"),
            F.explode("members").alias("m"),
        )
        .select(
            "rel_id",
            "n_members",
            F.col("m.t").cast("int").alias("m_t"),
            (F.col("m.id") * 4 + F.col("m.t").cast("long")).alias("m_typed"),
        )
        .filter(F.col("m_typed") != F.col("rel_id") * 4 + TYPE_RELATION)
        .persist()
    )

    base_ext = points.select(
        "typed_id",
        F.col("cell_col").alias("minc"),
        F.col("cell_row").alias("minr"),
        F.col("cell_col").alias("maxc"),
        F.col("cell_row").alias("maxr"),
        F.col("x").alias("minx"),
        F.col("y").alias("miny"),
        F.col("x").alias("maxx"),
        F.col("y").alias("maxy"),
    ).unionByName(wext.select("typed_id", *_EXT_COLS))

    # one distributed pass: every relation × its node/way members.
    # n_nonrel (node/way member rows, self-refs already dropped) feeds
    # the cycle-break score
    nonrel_agg = (
        rm.filter(F.col("m_t") != TYPE_RELATION)
        .join(base_ext.withColumnRenamed("typed_id", "m_typed"), "m_typed", "left")
        .groupBy("rel_id", "n_members")
        .agg(
            F.count("minc").alias("n_resolved"),
            F.min("minc").alias("minc"),
            F.min("minr").alias("minr"),
            F.max("maxc").alias("maxc"),
            F.max("maxr").alias("maxr"),
            F.min("minx").alias("minx"),
            F.min("miny").alias("miny"),
            F.max("maxx").alias("maxx"),
            F.max("maxy").alias("maxy"),
            F.count(F.lit(1)).alias("n_nonrel"),
        )
        .persist()
    )

    edges = rm.filter(F.col("m_t") == TYPE_RELATION).select(
        "rel_id", "n_members", F.shiftright("m_typed", 2).alias("member_rel")
    ).persist()
    # one row per super-relation id; coalesce so the anti-join below
    # schedules a handful of tasks, not one per shuffle partition
    supers = edges.select("rel_id").distinct().coalesce(8).persist()

    # ONE control job meters the residue (every super is pending, so the
    # edge total is exactly what the driver will pull) before any collect
    row = edges.agg(
        F.count(F.lit(1)).alias("ne"),
        F.countDistinct("rel_id").alias("ns"),
    ).collect()[0]
    n_edges, n_supers = int(row["ne"]), int(row["ns"])
    if stats is not None:
        stats["j6_pending_supers"] = n_supers
        stats["j6_residue_edges"] = n_edges
    if n_edges > J6_RESIDUE_CAP:
        raise RuntimeError(
            f"J6 driver residue too large: {n_edges} super-relation edges "
            f"> cap {J6_RESIDUE_CAP} (J6_RESIDUE_CAP)"
        )

    out_cols = ["rel_id", "n_members", "n_resolved", *_EXT_COLS,
                "level", "refcycle"]
    simple_part = (
        nonrel_agg.join(supers, "rel_id", "left_anti")
        .withColumn("level", F.lit(0))
        .withColumn("refcycle", F.lit(False))
        .persist()
    )
    resolved_all = (
        simple_part.filter(F.col("n_resolved") > 0).select(*out_cols).persist()
    )
    unresolved = simple_part.filter(F.col("n_resolved") == 0).select("rel_id")
    # relations with ZERO member rows after the self-ref drop (empty
    # members array, or only self-references) have no row in rm at all —
    # explode drops them — yet they are exactly 'relations with no
    # resolvable member': surface them in unresolved instead of silently
    # vanishing from every output
    unresolved = unresolved.unionByName(
        relations.select(F.col("id").alias("rel_id"))
        .join(rm.select("rel_id").distinct(), "rel_id", "left_anti")
    )

    if n_supers:
        # the whole residue in ONE collect: per pending super its tags,
        # own node/way aggregate and every rel-member edge with that
        # member's extent (null unless the member is a resolved simple
        # relation — pending supers resolve below, missing or empty
        # targets never do)
        residue = (
            edges.join(
                resolved_all.select(
                    F.col("rel_id").alias("member_rel"), "level", *_EXT_COLS
                ),
                "member_rel",
                "left",
            )
            .groupBy("rel_id", "n_members")
            .agg(F.collect_list(
                F.struct("member_rel", "level", *_EXT_COLS)
            ).alias("members"))
            .join(relations.select(F.col("id").alias("rel_id"), "tags"),
                  "rel_id", "left")
            .join(nonrel_agg.drop("n_members"), "rel_id", "left")
            .collect()
        )
        pend_tags: dict[int, dict] = {}
        nonrel_counts: dict[int, int] = {}
        drv: dict[int, dict] = {}
        by_super: dict[int, list[int]] = {}
        mem_ext: dict[int, tuple] = {}
        for r in residue:
            s = int(r.rel_id)
            pend_tags[s] = dict(r.tags or {})
            nonrel_counts[s] = int(r.n_nonrel or 0)
            drv[s] = {
                "n_members": int(r.n_members),
                "n_resolved": int(r.n_resolved or 0),
                "ext": [r[c] for c in _EXT_COLS] if r.n_resolved else None,
            }
            by_super[s] = [int(m.member_rel) for m in r.members]
            for m in r.members:
                if m.level is not None:
                    mem_ext[int(m.member_rel)] = (
                        [m[c] for c in _EXT_COLS], int(m.level)
                    )

        def _merge(a, b):
            if a is None:
                return list(b) if b else None
            if b is None:
                return a
            return [
                min(a[0], b[0]), min(a[1], b[1]),
                max(a[2], b[2]), max(a[3], b[3]),
                min(a[4], b[4]), min(a[5], b[5]),
                max(a[6], b[6]), max(a[7], b[7]),
            ]

        # cycle break, with the reference's heuristic
        # (SuperRelationResolver.cpp:152-235: +1e9 if it has ONLY
        # relation members [top of hierarchy], else +1 per node/way
        # member; type=network +1e8, superroute/route_master +5e7,
        # site +2e7; admin_level +(14-level)*1e6), then repeatedly
        # remove ONE rel-member edge from the LOWEST-score relation
        # until the remainder resolves.  Only edge-losers are flagged
        # ``refcycle`` (the reference's removedRefcyleCount > 0).
        # Deterministic tiebreaks (our spec): loser = smallest rel_id
        # among lowest scores; the removed edge targets the loser's
        # smallest-id still-cyclic member.
        def _score(s: int) -> float:
            tags = pend_tags.get(s, {})
            nonrel = nonrel_counts.get(s, 0)
            score = 1_000_000_000.0 if nonrel == 0 else float(nonrel)
            t = tags.get("type")
            if t == "network":
                score += 100_000_000
            elif t in ("superroute", "route_master"):
                score += 50_000_000
            elif t == "site":
                score += 20_000_000
            try:
                score += (14 - float(tags.get("admin_level"))) * 1_000_000
            except (TypeError, ValueError):
                pass
            return score

        cyc_resolved: dict[int, tuple] = {}
        lost_edge: set[int] = set()
        still = set(by_super)
        # scores are a function of the INPUT member composition
        # (reference scores each relation once); freeze them before
        # edge removal mutates by_super
        scores = {s: _score(s) for s in by_super}
        while still:
            ready = sorted(
                s for s in still
                if not any(m in still for m in by_super[s])
            )
            if not ready:
                loser = min(still, key=lambda s: (scores[s], s))
                victim = min(m for m in by_super[loser] if m in still)
                by_super[loser].remove(victim)
                lost_edge.add(loser)
                continue
            for s in ready:
                ext = drv[s]["ext"]
                n_res = drv[s]["n_resolved"]
                lv = 0
                for m in by_super[s]:
                    m_ext = None
                    if m in cyc_resolved and cyc_resolved[m][0] is not None:
                        m_ext = cyc_resolved[m][0]
                        lv = max(lv, cyc_resolved[m][1])
                    elif m in mem_ext:
                        m_ext = mem_ext[m][0]
                        lv = max(lv, mem_ext[m][1])
                    if m_ext is not None:
                        ext = _merge(ext, m_ext)
                        n_res += 1
                cyc_resolved[s] = (ext, lv + 1, n_res)
                still.discard(s)
        rows = [
            {
                "rel_id": s, "n_members": drv[s]["n_members"],
                "n_resolved": n_res,
                "minc": int(ext[0]), "minr": int(ext[1]),
                "maxc": int(ext[2]), "maxr": int(ext[3]),
                "minx": int(ext[4]), "miny": int(ext[5]),
                "maxx": int(ext[6]), "maxy": int(ext[7]),
                "level": int(lv), "refcycle": s in lost_edge,
            }
            for s, (ext, lv, n_res) in cyc_resolved.items()
            if ext is not None
        ]
        if rows:
            resolved_all = resolved_all.unionByName(
                spark.createDataFrame(
                    pd.DataFrame(rows),
                    schema="rel_id long, n_members int, n_resolved long, "
                    "minc int, minr int, maxc int, maxr int, "
                    "minx long, miny long, maxx long, maxy long, "
                    "level int, refcycle boolean",
                ).select(*out_cols)
            )
        dead = [s for s, v in cyc_resolved.items() if v[0] is None]
        if dead:
            unresolved = unresolved.unionByName(
                spark.createDataFrame(
                    pd.DataFrame({"rel_id": np.array(dead, dtype=np.int64)}),
                    "rel_id long")
            ).distinct()

    rel_ext = resolved_all.select(
        (F.col("rel_id") * 4 + TYPE_RELATION).alias("typed_id"),
        F.col("rel_id").alias("id"),
        "level",
        "n_members",
        "n_resolved",
        "refcycle",
        *_EXT_COLS,
    )
    # resolved_all's logical plan reaches back through the whole member
    # join — every downstream action would pay Catalyst re-planning that
    # giant tree (~2 s of DRIVER time per action at sf0.1, even on a
    # cache hit).  localCheckpoint collapses the plan to an RDD scan.
    # No REBALANCE hint: under AQE, localCheckpoint's toRdd materializes
    # every exchange in the plan at CALL time, so a rebalance turns the
    # checkpoint into an extra shuffle job (measured 5.5 s at sf0.1);
    # partition sizing is already governed upstream — the frame inherits
    # the member-join aggregation's shuffle partitioning
    # (spark.sql.shuffle.partitions), ~75 MB/partition even at planet
    # scale (12M relations × ~100 B / 16).  EAGER: callers fan the
    # outputs into CONCURRENT jobs (bench/gate write feature_tiles and
    # extents in parallel) and a lazy checkpoint's first-action
    # materialization does not serialize concurrent computers — each
    # racing job would recompute the full relation chain.  rel_ext goes
    # first: it materializes the persisted chain that unresolved then
    # reads from cache (consumers like J7 exports re-planned
    # unresolved's anti-join chain on every use).
    return (
        rel_ext.localCheckpoint(eager=True),
        unresolved.localCheckpoint(eager=True),
    )


# ---------------------------------------------------------------------------
# TilePair homes (J3) + survivor mapping
# ---------------------------------------------------------------------------

def _zstar_col(minc="minc", minr="minr", maxc="maxc", maxr="maxr"):
    """Deepest zoom where the cell extent spans <= 2 adjacent sibling
    tiles (col-span + row-span <= 1); z=0 always qualifies.

    Native Column arithmetic on purpose: the DuckDB oracle derives the
    same quantity from an INDEPENDENTLY WRITTEN text expression
    (sqlgen.zstar_expr — float floor-division), while this path uses
    integer bit-shifts, so a bug in either formulation breaks the gate
    instead of passing both engines.  Cell coords are non-negative
    (0..4095), where shiftright == floor-division exactly.
    """
    out = F.lit(0)
    # ascending wrap order ⇒ the DEEPEST qualifying zoom is tested first
    # in the final expression and wins
    for z in sorted(z for z in ZOOM_LEVELS if z > 0):
        s = LEAF_ZOOM - z
        span = (
            F.shiftright(F.col(maxc), s) - F.shiftright(F.col(minc), s)
            + F.shiftright(F.col(maxr), s) - F.shiftright(F.col(minr), s)
        )
        out = F.when(span <= 1, F.lit(z)).otherwise(out)
    return out


def _at_zstar_col(cell: str, zstar: str = "zstar"):
    """Tile col/row at the data-dependent zoom z* (CASE over the fixed
    zoom ladder; each arm a constant-shift — stays in codegen)."""
    expr = None
    for z in ZOOM_LEVELS:
        arm = F.shiftright(F.col(cell), LEAF_ZOOM - z)
        cond = F.col(zstar) == z
        expr = F.when(cond, arm) if expr is None else expr.when(cond, arm)
    return expr


def _corner_cell_col(colz: str, zstar: str = "zstar"):
    """Zoom-12 cell coordinate of a z*-tile's min corner."""
    expr = None
    for z in ZOOM_LEVELS:
        arm = F.col(colz) * (1 << (LEAF_ZOOM - z))
        cond = F.col(zstar) == z
        expr = F.when(cond, arm) if expr is None else expr.when(cond, arm)
    return expr


def home_tiles(
    ext: DataFrame, catalog: TileCatalog, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Extent → home tile rows (typed_id, tile_id, twin, zstar). J3.

    ``carry`` names extra ``ext`` columns to pass through unchanged
    (e.g. the relation ``level``) — cheaper than the join-back the
    caller would otherwise pay to reattach them (that join planned as a
    sort-merge with an exchange+sort per side, and re-evaluated the
    corner-lookup subtree a second time).

    z* and both TilePair corner candidates are computed in-row; each
    corner resolves to its deepest surviving ancestor-or-self tile via
    ONE vectorized broadcast lookup (functions/tile_lookup.py, the Spark
    analogue of TileCatalog.h:74-82's cellToPile array), and twins that
    collapse onto the same survivor dedupe in-row — no explode-then-
    groupBy, no shuffle, no BroadcastExchange chain.

    The z*/corner math is native Column code (bit-shift formulation),
    deliberately NOT the sqlgen SQL text the DuckDB oracle composes —
    engine and oracle share no expression source for J3; a third
    pure-Python derivation pins both (oracle/slowpath.py,
    tests/test_slowpath_oracle.py).
    """
    from ..functions.tile_lookup import survivor_lookup2_udf

    lookup2 = survivor_lookup2_udf(ext.sparkSession, catalog.tiles)
    e = ext.withColumn("zstar", _zstar_col())
    e = (
        e.withColumn("c0", _at_zstar_col("minc"))
        .withColumn("r0", _at_zstar_col("minr"))
        .withColumn("c1", _at_zstar_col("maxc"))
        .withColumn("r1", _at_zstar_col("maxr"))
    )
    # both corners resolve in ONE fused pandas-UDF stage (one
    # ArrowEvalPython in the plan, one Python round trip per batch)
    e = e.withColumn(
        "t01",
        lookup2(
            _corner_cell_col("c0").cast("int"),
            _corner_cell_col("r0").cast("int"),
            _corner_cell_col("c1").cast("int"),
            _corner_cell_col("r1").cast("int"),
            F.col("zstar").cast("int"),
        ),
    ).withColumn("t0", F.shiftright("t01", 32).cast("int")) \
     .withColumn("t1", F.col("t01").bitwiseAND(0xFFFFFFFF).cast("int"))
    same = ((F.col("c0") == F.col("c1")) & (F.col("r0") == F.col("r1"))) | (
        F.col("t0") == F.col("t1")
    )
    pairs = F.when(
        same,
        F.array(F.struct(F.col("t0").alias("tile_id"), F.lit(0).alias("twin"))),
    ).otherwise(
        F.array(
            F.struct(F.col("t0").alias("tile_id"), F.lit(0).alias("twin")),
            F.struct(F.col("t1").alias("tile_id"), F.lit(1).alias("twin")),
        )
    )
    return (
        e.select("typed_id", "zstar", *carry, F.explode(pairs).alias("p"))
        .select("typed_id", F.col("p.tile_id").alias("tile_id"),
                F.col("p.twin").alias("twin"), "zstar", *carry)
    )


# ---------------------------------------------------------------------------
# full assignment (J1 + J2/J3/J4 + J5/J6)
# ---------------------------------------------------------------------------

def assign_features(
    feats: dict[str, DataFrame], catalog: TileCatalog
) -> dict[str, DataFrame]:
    """Assign every feature to its home tile(s) (+ way ghosts).

    Returns dict with:
      ``points``        — projected nodes (cached upstream by caller)
      ``node_tiles``    — (typed_id, id, tile_id, is_ghost=false, twin=0)
      ``way_homes``     — (typed_id, tile_id, twin, zstar)
      ``way_ghosts``    — (typed_id, tile_id) node-holding tiles ≠ home
      ``rel_homes``     — (typed_id, tile_id, twin, zstar, level)
      ``extents``       — per-feature extent/bbox frame (A6 input)
      ``unresolved_relations`` — cycle-cut relations (J6)
      ``feature_tiles`` — union: (typed_id, tile_id, is_ghost, twin)

    Callers should ``persist()`` the input frames (or read them from a
    checkpoint table): the relation chain and the multi-output shape
    re-trigger upstream lineage otherwise.
    """
    from ..functions.mercator import with_projection

    nodes = feats["nodes"]
    proj = with_projection(nodes)
    # ONE cached node frame carries coords, cells AND tile: catalog.assign
    # is a narrow vectorized map (no join), so J1's lookup runs once and
    # every node consumer — node_tiles, the way-member join, base extents
    # — projects from the same cache instead of caching nodes twice
    assigned = catalog.assign(node_points(proj)).persist()
    points = assigned.drop("tile_id")

    node_tiles = (
        assigned
        .select("typed_id", "id", "tile_id")
        .withColumn("is_ghost", F.lit(False))
        .withColumn("twin", F.lit(0))
    )

    # J2 + J4 input in ONE pass over the exploded member set: the node
    # frame entering the way join carries its tile, so the same groupBy
    # that aggregates extents also collects the distinct member-node
    # tiles.  Previously J4 re-exploded all ways and re-joined a
    # node-sized frame, then paid a distinct shuffle — a second full
    # pass over the member set that a 100 TB build feels.
    wext = way_extents(feats["ways"], assigned, member_tiles=True).persist()

    # Every frame the outputs share is materialized before return:
    # callers write feature_tiles, points and extents as concurrent jobs,
    # and the cache does not serialize racing first computations (each
    # racer would redo the J1 lookup + J2 member join).  ONE job first
    # materializes wext and, through it, assigned; a failure there
    # surfaces before the relation chain starts.
    wext.count()
    # way_homes (shared by feature_tiles and way_ghosts) then counts
    # beside the relation chain: both only read the now-cached wext and
    # assigned, and the overlap hides the count's job latency (measured
    # on 4 cores: 1-2 s of assign wall)
    way_homes = home_tiles(wext, catalog).persist()
    j6_stats: dict = {}
    with ThreadPoolExecutor(1) as pool:
        f_wh = pool.submit(way_homes.count)
        rel_ext, unresolved = relation_extents(
            feats["relations"], points, wext, j6_stats
        )
        f_wh.result()

    # J4 ghosts: member-node tiles minus the home tiles — narrow explode
    # over the (small, cached) per-way aggregate
    way_ghosts = (
        wext.select("typed_id", F.explode("member_tiles").alias("tile_id"))
        .join(
            way_homes.select("typed_id", "tile_id"),
            ["typed_id", "tile_id"],
            "left_anti",
        )
    )
    rel_homes = home_tiles(rel_ext, catalog, carry=("level",))

    feature_tiles = (
        node_tiles.select("typed_id", "tile_id", "is_ghost", "twin")
        .unionByName(
            way_homes.select(
                "typed_id", "tile_id", F.lit(False).alias("is_ghost"), "twin"
            )
        )
        .unionByName(
            way_ghosts.select(
                "typed_id", "tile_id", F.lit(True).alias("is_ghost"),
                F.lit(0).alias("twin"),
            )
        )
        .unionByName(
            rel_homes.select(
                "typed_id", "tile_id", F.lit(False).alias("is_ghost"), "twin"
            )
        )
    )

    extents = wext.select(
        "typed_id", "id", "n_members", "n_resolved", *_EXT_COLS
    ).unionByName(
        rel_ext.select("typed_id", "id", "n_members", "n_resolved", *_EXT_COLS)
    )

    return {
        "points": points,
        "j6_stats": j6_stats,
        "node_tiles": node_tiles,
        "way_homes": way_homes,
        "way_ghosts": way_ghosts,
        "rel_homes": rel_homes,
        "extents": extents,
        "unresolved_relations": unresolved,
        "feature_tiles": feature_tiles,
    }
