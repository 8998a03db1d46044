"""Validator-stage operators: bboxes (A6), shared-location/orphan nodes
(A9), synthetic geodesk:* tags, and the export tables (J7/J8).

Reference anchors:
- bbox aggregation over member coords: src/build/sort/Validator.cpp:230-355
- shared-location + orphan detection:  src/build/sort/Validator.cpp:357-397,
  tagging src/build/compile/Compiler.cpp:237-282
- export tables (TEX numbering of features referenced from other tiles):
  src/build/sort/ExportTable.h:10-48, Validator.cpp:399-484, foreign-ref
  resolution src/build/compile/Compiler.cpp:88-233

Spark shapes: plain groupBy/window aggregations plus anti-joins; TEX
numbers are a dense_rank window per export tile ordered by typed_id
over the J8 stubs (the deterministic ordering the reference gets from
its sorted piles, O4), and the J7 export table is their distinct
projection, so the stub pairs are computed once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.parser import TYPE_NODE, TYPE_RELATION, TYPE_WAY


def bboxes(points: DataFrame, extents: DataFrame) -> DataFrame:
    """(typed_id, minx, miny, maxx, maxy): nodes are degenerate boxes."""
    node_part = points.select(
        "typed_id",
        F.col("x").alias("minx"),
        F.col("y").alias("miny"),
        F.col("x").alias("maxx"),
        F.col("y").alias("maxy"),
    )
    return node_part.unionByName(
        extents.select("typed_id", "minx", "miny", "maxx", "maxy")
    )


def duplicate_location_nodes(points: DataFrame) -> DataFrame:
    """A9: nodes sharing an exact (x, y) → synthetic geodesk:duplicate."""
    w = Window.partitionBy("x", "y")
    return (
        points.withColumn("n_at_loc", F.count(F.lit(1)).over(w))
        .filter(F.col("n_at_loc") > 1)
        .select("typed_id", F.lit("geodesk:duplicate").alias("tag"),
                F.lit("yes").alias("value"))
    )


def orphan_nodes(nodes: DataFrame, ways: DataFrame, relations: DataFrame) -> DataFrame:
    """A9: untagged nodes referenced by no way/relation → geodesk:orphan."""
    refs_w = ways.select(F.explode("node_ids").alias("id"))
    refs_r = relations.select(F.explode("members").alias("m")).filter(
        F.col("m.t") == TYPE_NODE
    ).select(F.col("m.id").alias("id"))
    refs = refs_w.unionByName(refs_r).distinct()
    return (
        nodes.filter(F.size(F.col("tags")) == 0)
        .join(refs, "id", "left_anti")
        .select((F.col("id") * 4 + TYPE_NODE).alias("typed_id"),
                F.lit("geodesk:orphan").alias("tag"), F.lit("yes").alias("value"))
    )


def missing_member_tags(extents: DataFrame) -> DataFrame:
    """Features whose member list could not fully resolve
    (reference tags geodesk:missing_members, Sorter.cpp:575-584)."""
    return extents.filter(F.col("n_resolved") < F.col("n_members")).select(
        "typed_id",
        F.lit("geodesk:missing_members").alias("tag"),
        F.lit("yes").alias("value"),
    )


def _ref_frames(
    ways: DataFrame,
    relations: DataFrame,
    node_tiles: DataFrame,
    way_homes: DataFrame,
    rel_homes: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(edges, member_homes, ref_homes): J8's reference graph."""
    way_edges = ways.select(
        (F.col("id") * 4 + TYPE_WAY).alias("ref_typed"),
        F.explode("node_ids").alias("mid"),
    ).select("ref_typed", (F.col("mid") * 4 + TYPE_NODE).alias("m_typed"))
    rel_edges = relations.select(
        (F.col("id") * 4 + TYPE_RELATION).alias("ref_typed"),
        F.explode("members").alias("m"),
    ).select(
        "ref_typed", (F.col("m.id") * 4 + F.col("m.t").cast("long")).alias("m_typed")
    ).filter(F.col("ref_typed") != F.col("m_typed"))
    edges = way_edges.unionByName(rel_edges)

    member_homes = (
        node_tiles.select("typed_id", "tile_id")
        .unionByName(way_homes.select("typed_id", "tile_id"))
        .unionByName(rel_homes.select("typed_id", "tile_id"))
        .withColumnRenamed("typed_id", "m_typed")
        .withColumnRenamed("tile_id", "m_tile")
    )
    ref_homes = (
        way_homes.select("typed_id", "tile_id")
        .unionByName(rel_homes.select("typed_id", "tile_id"))
        .withColumnRenamed("typed_id", "ref_typed")
        .withColumnRenamed("tile_id", "ref_tile")
    )
    return edges, member_homes, ref_homes


def _stub_pairs(
    edges: DataFrame, member_homes: DataFrame, ref_homes: DataFrame
) -> DataFrame:
    """(r_tile, ref_typed, m_typed, tip): every referencing-copy tile that
    must hold a foreign stub for a member not locally present; the stub
    targets tip = the member's deterministic export home (min tile id —
    our spec of the reference's single stub target per foreign feature,
    Compiler.cpp:88-233)."""
    member_tip = member_homes.groupBy("m_typed").agg(
        F.min("m_tile").alias("tip")
    )
    return (
        edges.join(ref_homes, "ref_typed")
        .join(
            member_homes.select(
                "m_typed", F.col("m_tile").alias("ref_tile")
            ),
            ["m_typed", "ref_tile"],
            "left_anti",
        )
        .select(
            F.col("ref_tile").alias("r_tile"), "ref_typed", "m_typed"
        )
        .distinct()
        .join(member_tip, "m_typed")
    )


def foreign_ref_stubs(
    ways: DataFrame,
    relations: DataFrame,
    node_tiles: DataFrame,
    way_homes: DataFrame,
    rel_homes: DataFrame,
) -> DataFrame:
    """J8: foreign-reference stub rows materialized into referencing tiles.

    Output (tile_id, ref_typed, member_typed, tip, tex): tile ``tile_id``
    holds a stub resolving ``member_typed`` to its export home ``tip`` at
    export index ``tex`` — with these rows the per-tile store is
    reference-closed: every member of every local feature is resolvable
    from the tile itself plus stubs (reference foreign-ref resolution,
    src/build/compile/Compiler.cpp:88-233).

    TEX = dense per-tip index ordered by member typed_id (deterministic,
    the reference's sorted-pile order, O4): every stub naming the same
    (tip, member) carries the same TEX, so :func:`export_tables` is a
    projection of these rows."""
    stubs = _stub_pairs(*_ref_frames(
        ways, relations, node_tiles, way_homes, rel_homes
    ))
    w = Window.partitionBy("tip").orderBy("m_typed")
    return stubs.select(
        F.col("r_tile").alias("tile_id"),
        "ref_typed",
        F.col("m_typed").alias("member_typed"),
        "tip",
        (F.dense_rank().over(w) - 1).alias("tex"),
    )


def export_tables(stubs: DataFrame) -> DataFrame:
    """J7: per-tile export table (tile_id, typed_id, tex) of the
    :func:`foreign_ref_stubs` rows.

    A feature is *exported* from its designated home tile (tip) when some
    referencing feature copy lives in a tile without a local copy of it
    (that referencing tile holds a foreign (TIP, TEX) stub, J8) — the
    reference writes each tile's export table once and the stubs from it
    (ExportTable.h:10-48, ValidatorPileWriter.h:75-136).
    """
    return stubs.select(
        F.col("tip").alias("tile_id"),
        F.col("member_typed").alias("typed_id"),
        "tex",
    ).distinct()
