"""Physical-plan audit: dump + assert the plans we designed for.

Writes PLANS.md with `.explain("formatted")` output for the headline
queries and checks the properties that make them scale:

- parquet scans carry PushedFilters / pruned ReadSchema;
- the cell→tile and GOQL paths stay inside WholeStageCodegen;
- small sides broadcast (tile lists, LSH probes); no CartesianProduct
  outside the knn brute oracle / sparse ANN fallbacks.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

# this checkout's engine, wherever the checkout lives
sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geodesk_gol_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("local[8]", app_name="plan-audit")
    import __spark_entry__ as e

    qs = e.queries()
    audits = {
        # query name -> (must-contain substrings, must-NOT-contain)
        # (AQE formatted plans don't print codegen ids pre-execution, so
        # the assertions are structural: filters reach the scan, no
        # Python row paths, aggregates are hash-based.)
        "p2_bbox_query": (["PushedFilters"], ["CartesianProduct"]),
        "p1_goql_highway_names": (
            ["PushedFilters", "Filter"],
            ["CartesianProduct", "BatchEvalPython"]),
        # gate queries read the materialized stage cache, so j1's plan
        # is the POINT: a 2-column pruned scan, not a join
        "j1_node_tiles": (
            ["ReadSchema: struct<typed_id:bigint,tile_id:int>"],
            ["CartesianProduct", "Exchange"]),
        # catalog is built distributed then capped driver-side (≤65 535
        # rows) — the catalog QUERY is a LocalTableScan by design
        "a4_tile_pyramid": (["LocalTableScan"], ["Exchange"]),
        "a1_cell_counts": (["HashAggregate"], ["CartesianProduct"]),
        "dedup_minhash_lsh": (["HashAggregate"], ["CartesianProduct"]),
        "ann_lsh_topk": ([], []),  # dump only: fallback arm is a BNLJ by design
        "sample_stratified": (["WindowGroupLimit"], ["CartesianProduct"]),
        "sample_temperature": (["WindowGroupLimit"], ["CartesianProduct"]),
        # explode = Generate node; chunking must never hit a Python path
        "text_chunks": (["Generate"],
                        ["CartesianProduct", "BatchEvalPython"]),
        "text_decontaminate": (["HashAggregate"], ["CartesianProduct"]),
        "ann_kmeans_iter": (["HashAggregate"], ["BatchEvalPython"]),
        # cross-snapshot dedup: banded candidates + verify — hash joins
        # and aggregates only, never all-pairs or a Python row path
        "dedup_incremental": (
            ["HashAggregate"], ["CartesianProduct", "BatchEvalPython"]),
        # the FINAL assignment frame of the iterative Lloyd loop:
        # integer zip_with scoring stays whole-stage (no Python)
        "ann_kmeans_lloyd": (
            ["HashAggregate"], ["CartesianProduct", "BatchEvalPython"]),
        # the one sanctioned Python path: Arrow-batched mapInPandas,
        # never row-at-a-time BatchEvalPython
        "media_frame_sample": (["MapInPandas"], ["BatchEvalPython"]),
        # J11 feature↔feature containment: ladder/bbox candidates are
        # keyed joins, the ray-cast is pure Column arithmetic — never a
        # cartesian or a Python row path
        "j11_contains_join": (
            ["HashAggregate"], ["CartesianProduct", "BatchEvalPython"]),
        "j12_relation_contains": (
            ["HashAggregate"], ["CartesianProduct", "BatchEvalPython"]),
        "j13_dwithin_join": (
            ["HashAggregate"], ["CartesianProduct", "BatchEvalPython"]),
        "j14_way_within": (
            ["HashAggregate"], ["CartesianProduct", "BatchEvalPython"]),
        # r04 DataFrame engine programs (oracle de-sharing): banded /
        # bucketed candidate joins + keyed aggregates, never all-pairs
        # (the ivf_topk sparse-fallback BNLJ arm is by design, like
        # ann_lsh_topk)
        "dedup_simhash_pairs": (
            ["HashAggregate"], ["CartesianProduct", "BatchEvalPython"]),
        "dedup_embed_cosine": (
            ["HashAggregate"], ["CartesianProduct", "BatchEvalPython"]),
        "ann_ivf_topk": ([], ["BatchEvalPython"]),
        "text_pii_scrub": ([], ["CartesianProduct", "BatchEvalPython",
                                "Exchange"]),
        # latest-event-wins is a window + hash join, no aggregate
        "s8_change_merge": (
            ["Window"], ["CartesianProduct", "BatchEvalPython"]),
        # r05 geometry assembly: ordered-vertex text + ring nesting are
        # keyed joins (rel_id / way_id) + hash aggregates — the pairwise
        # ring test is quadratic only WITHIN a relation, never across,
        # and no Python row path touches the hot loop
        "f9_geojson_ways": (
            ["HashAggregate"], ["CartesianProduct", "BatchEvalPython"]),
        "f9_relation_multipolygon": (
            ["HashAggregate"], ["CartesianProduct", "BatchEvalPython"]),
        "f9_relation_wkt": (
            ["HashAggregate"], ["CartesianProduct", "BatchEvalPython"]),
        "p1_goql_units": ([], ["CartesianProduct", "BatchEvalPython"]),
        # r05 event analytics: each is ONE user_id exchange (windows)
        # feeding hash aggregates — never all-pairs, never Python rows
        "events_funnel": (
            ["Window"], ["CartesianProduct", "BatchEvalPython"]),
        "events_retention": (
            ["HashAggregate"], ["CartesianProduct", "BatchEvalPython"]),
        "events_transitions": (
            ["Window", "HashAggregate"],
            ["CartesianProduct", "BatchEvalPython"]),
        # int8-quantized ANN: the 4-row query side broadcasts (BNLJ by
        # design, like ann_lsh_topk); re-rank joins are keyed
        "ann_sq_topk": ([], ["BatchEvalPython"]),
    }
    lines = ["# Physical plans (generated by tools/plan_audit.py)", ""]
    failures = []
    for name, (want, forbid) in audits.items():
        df = qs[name](spark, sf)
        p = plan_of(df)
        status = []
        for w in want:
            ok = w in p
            status.append(f"{'✓' if ok else '✗ MISSING'} {w}")
            if not ok:
                failures.append(f"{name}: missing {w}")
        for f_ in forbid:
            ok = f_ not in p
            status.append(f"{'✓ absent' if ok else '✗ PRESENT'} {f_}")
            if not ok:
                failures.append(f"{name}: forbidden {f_}")
        lines.append(f"## {name}\n")
        lines.append("Checks: " + "; ".join(status) if status else "Checks: dump only")
        lines.append("\n```\n" + p.strip()[:4000] + "\n```\n")
        print(f"{name}: " + ("; ".join(status) if status else "dumped"))
    with open("/root/repo/PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print(f"\nPLANS.md written; {len(failures)} failures")
    for f_ in failures:
        print("FAIL", f_)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
