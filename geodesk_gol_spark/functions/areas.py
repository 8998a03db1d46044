"""Area classification (F7) and closed-ring detection (F8).

Reference: a closed way is an *area* if its tags hit the area-rule
table; the default rules (/root/reference/src/tag/AreaClassifier.cpp:
11-39) come in three forms —

- ``key`` — every value of the key marks an area;
- ``key (a, b, c)`` — only the listed values do;
- ``key (except a, b, c)`` — every value except the listed ones.

Two keys are *definite* (AreaClassifier.cpp:211-261): when an ``area``
tag is present, ONLY the area-rule's verdict decides for ways (general
matches are ignored); likewise ``type`` for relations.  The published
``area`` rule is bare (accept-all), so any ``area=*`` tag — including
``area=no`` — marks a closed way as an area; we mirror the reference's
classifier exactly rather than second-guessing it.  Relations are
checked with the same table (Compiler.cpp:766-772 requires an outer
member too; the tag half lives here).

Ring detection: first node id == last node id, <3 distinct nodes
rejected (src/build/sort/Sorter.cpp:274-291).

All rules compile to one Column expression tree (whole-stage codegen;
no UDF).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference's DEFAULT rule table, verbatim
# (src/tag/AreaClassifier.cpp:11-39).  mode: "all" | "only" | "except".
AREA_RULES: tuple[tuple[str, str, tuple[str, ...]], ...] = (
    ("aeroway", "except", ("taxiway",)),
    ("amenity", "all", ()),
    ("area", "all", ()),
    ("area:highway", "all", ()),
    ("barrier", "only", ("city_wall", "ditch", "hedge", "retaining_wall",
                         "wall", "spikes")),
    ("boundary", "all", ()),
    ("building", "all", ()),
    ("building:part", "all", ()),
    ("craft", "all", ()),
    ("golf", "all", ()),
    ("highway", "only", ("services", "rest_area", "escape", "elevator")),
    ("historic", "all", ()),
    ("indoor", "all", ()),
    ("natural", "except", ("coastline", "cliff", "ridge", "arete",
                           "tree_row")),
    ("landuse", "all", ()),
    ("leisure", "all", ()),
    ("man_made", "except", ("cutline", "embankment", "pipeline")),
    ("military", "all", ()),
    ("office", "all", ()),
    ("place", "all", ()),
    ("power", "only", ("plant", "substation", "generator", "transformer")),
    ("public_transport", "all", ()),
    ("railway", "only", ("station", "turntable", "roundhouse", "platform")),
    ("ruins", "all", ()),
    ("shop", "all", ()),
    ("tourism", "all", ()),
    ("type", "only", ("multipolygon", "boundary")),
    ("waterway", "only", ("riverbank", "dock", "boatyard", "dam")),
)


def _rule_match(tags: str, key: str, mode: str, values: tuple[str, ...]) -> Column:
    v = F.col(tags).getItem(key)
    if mode == "all":
        return v.isNotNull()
    if mode == "only":
        # isNotNull guard: isin(NULL) is NULL, which would poison the
        # OR-chain in _general_area into NULL instead of FALSE
        return v.isNotNull() & v.isin(*values)
    return v.isNotNull() & ~v.isin(*values)


def _general_area(tags: str) -> Column:
    out = None
    for key, mode, values in AREA_RULES:
        c = _rule_match(tags, key, mode, values)
        out = c if out is None else (out | c)
    return out


def closed_ring(node_ids: str = "node_ids") -> Column:
    """True iff the way closes on itself with >= 3 distinct nodes."""
    return (
        (F.size(node_ids) >= 4)
        & (F.element_at(node_ids, 1) == F.element_at(node_ids, -1))
    )


def way_area_tags(tags: str = "tags") -> Column:
    """Tag half of the way check: area-tag verdict when ``area`` is
    present (definite), any-rule match otherwise."""
    seen_definite = F.col(tags).getItem("area").isNotNull()
    definite = _rule_match(tags, "area", "all", ())
    return F.when(seen_definite, definite).otherwise(_general_area(tags))


def way_is_area(node_ids: str = "node_ids", tags: str = "tags") -> Column:
    return closed_ring(node_ids) & way_area_tags(tags)


def relation_is_area(tags: str = "tags") -> Column:
    """Tag half of the relation check: type-rule verdict when ``type``
    is present (definite), any-rule match otherwise."""
    seen_definite = F.col(tags).getItem("type").isNotNull()
    definite = _rule_match(tags, "type", "only", ("multipolygon", "boundary"))
    return F.when(seen_definite, definite).otherwise(_general_area(tags))
