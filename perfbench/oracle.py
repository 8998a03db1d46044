"""Independent answers for the benchmark's requests.

Counts, exports and containment are recomputed in DuckDB straight from
the parquet the engine wrote (store, checkpoints, epochs), without tile
pruning; polygon membership is an even-odd ray cast in numpy over the
DuckDB candidates; kNN is checked against the engine's brute-force
oracle ``knn_bruteforce``.  Update epochs are compared by an
order-independent fingerprint of every row.
"""

from __future__ import annotations

import json
import re

import numpy as np

_SEL = re.compile(r"^([nwar]+)((?:\[[^\]]*\])*)$")
_CLAUSE = re.compile(r"\[([\w:]+)(?:=([^\]]*))?\]")


def goql_sql(goql: str) -> str:
    """SQL predicate for the benchmark's GOQL subset: one selector of
    type letters and ``[key]`` / ``[key=value]`` / ``[key=prefix*]``
    clauses."""
    m = _SEL.match(goql)
    if not m:
        raise ValueError(f"unsupported selector {goql!r}")
    types = {"n": "ftype = 0", "w": "(ftype = 1 AND NOT is_area)",
             "a": "is_area", "r": "(ftype = 2 AND NOT is_area)"}
    conds = ["(" + " OR ".join(types[t] for t in m.group(1)) + ")"]
    for key, val in _CLAUSE.findall(m.group(2)):
        tag = f"element_at(tags, '{key}')[1]"
        if val == "":
            conds.append(f"{tag} IS NOT NULL")
        elif val.endswith("*"):
            conds.append(f"{tag} LIKE '{val[:-1]}%'")
        else:
            conds.append(f"{tag} = '{val}'")
    return " AND ".join(conds)


def _overlap(b) -> str:
    x0, y0, x1, y1 = b
    return f"maxx >= {x0} AND minx <= {x1} AND maxy >= {y0} AND miny <= {y1}"


def bbox_count(con, parquet_glob: str, goql: str, bbox) -> int:
    return con.execute(f"""
        SELECT count(DISTINCT typed_id) FROM read_parquet('{parquet_glob}',
            hive_partitioning = true)
        WHERE NOT is_ghost AND {goql_sql(goql)} AND {_overlap(bbox)}
    """).fetchone()[0]


def _inside(rings, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    inside = np.zeros(len(xs), dtype=bool)
    with np.errstate(divide="ignore", invalid="ignore"):
        for ring in rings:
            for (x0, y0), (x1, y1) in zip(ring, ring[1:]):
                x0, y0, x1, y1 = float(x0), float(y0), float(x1), float(y1)
                inside ^= ((y0 > ys) != (y1 > ys)) & (
                    xs < (x1 - x0) * (ys - y0) / (y1 - y0) + x0)
    return inside


def answer(con, store: str, ckpt: str, req: dict):
    """The expected summary (see :func:`summarize`) of one request."""
    kind = req["type"]
    glob = f"{store}/*.parquet"
    if kind == "bbox":
        return bbox_count(con, glob, req["goql"], req["bbox"])
    if kind == "export":
        return bbox_count(con, glob, req["goql"], req["bbox"])
    if kind == "area":
        pts = [p for ring in req["rings"] for p in ring]
        box = (min(p[0] for p in pts), min(p[1] for p in pts),
               max(p[0] for p in pts), max(p[1] for p in pts))
        df = con.execute(f"""
            SELECT DISTINCT typed_id, cx, cy FROM read_parquet('{glob}')
            WHERE NOT is_ghost AND {goql_sql(req['goql'])}
              AND {_overlap(box)}""").df()
        hit = _inside(req["rings"], df["cx"].to_numpy(np.float64),
                      df["cy"].to_numpy(np.float64))
        return int(df["typed_id"][hit].nunique())
    if kind == "contains":
        ids = ",".join(str(i) for i in req["node_ids"])
        rows = con.execute(f"""
            WITH p AS (SELECT id, x, y FROM read_parquet('{ckpt}/points/*.parquet')),
            wn AS (SELECT id AS way_id, unnest(node_ids) AS node_id,
                          generate_subscripts(node_ids, 1) AS seq
                   FROM read_parquet('{ckpt}/area_ways/*.parquet')),
            v AS (SELECT way_id, seq, x, y FROM wn JOIN p ON p.id = wn.node_id),
            e AS (SELECT way_id, x AS x0, y AS y0,
                         lead(x) OVER (PARTITION BY way_id ORDER BY seq) AS x1,
                         lead(y) OVER (PARTITION BY way_id ORDER BY seq) AS y1
                  FROM v),
            ext AS (SELECT way_id, min(x) AS minx, min(y) AS miny,
                           max(x) AS maxx, max(y) AS maxy
                    FROM v GROUP BY way_id),
            q AS (SELECT id AS node_id, x AS px, y AS py FROM p
                  WHERE id IN ({ids}))
            SELECT node_id, way_id FROM (
              SELECT q.node_id, e.way_id,
                     ((e.y0 - q.py > 0) != (e.y1 - q.py > 0)) AND
                     (((e.y0 - q.py) * (e.x1 - q.px)
                       - (e.y1 - q.py) * (e.x0 - q.px) > 0)
                      = (e.y0 > e.y1)) AS c
              FROM q JOIN ext ON q.px BETWEEN ext.minx AND ext.maxx
                              AND q.py BETWEEN ext.miny AND ext.maxy
              JOIN e ON e.way_id = ext.way_id
              WHERE e.x1 IS NOT NULL)
            GROUP BY node_id, way_id
            HAVING sum(CAST(c AS INTEGER)) % 2 = 1
            ORDER BY node_id, way_id""").fetchall()
        return [tuple(r) for r in rows]
    raise ValueError(kind)


def knn(spark, pts, points: list) -> list[tuple]:
    from geodesk_gol_spark.query.spatial import knn_bruteforce

    qs = spark.createDataFrame(points, "q_id long, qx long, qy long")
    return sorted(tuple(r) for r in knn_bruteforce(pts, qs, k=5).select(
        "q_id", "rank", "neighbor_id").collect())


def summarize(req: dict, res):
    """Engine result -> the shape :func:`answer` returns.  An export
    summarizes to its feature count, or -1 when a line is malformed."""
    if req["type"] != "export":
        return res
    try:
        if req["fmt"] == "wkt":
            return len(res) if all(x.startswith("POINT") for x in res) else -1
        return sum(len(json.loads(x)["features"]) for x in res)
    except (ValueError, KeyError):
        return -1


def result_rows(req: dict, res) -> int:
    s = summarize(req, res)
    return len(s) if isinstance(s, list) else int(s)


def _normalized(df):
    """Columns in name order as strings, maps as their sorted entries."""
    from pyspark.sql import functions as F

    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f.name)
        if f.dataType.typeName() == "map":
            c = F.to_json(F.array_sort(F.map_entries(c)))
        cols.append(c.cast("string").alias(f.name))
    return df.select(*cols)


def fingerprint(df) -> tuple[int, int]:
    """(rows, sum of row hashes): equal for equal multisets of rows."""
    from pyspark.sql import functions as F

    n = _normalized(df)
    r = n.select(F.xxhash64(*n.columns).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)), F.sum("h")).collect()[0]
    return int(r[0]), int(r[1] or 0)


def diff_sample(got, want, n: int = 3) -> str:
    """A few rows only one side has, for a failed comparison."""
    g, w = _normalized(got), _normalized(want)
    extra = [r.asDict() for r in g.exceptAll(w).limit(n).collect()]
    missing = [r.asDict() for r in w.exceptAll(g).limit(n).collect()]
    return f"extra={extra} missing={missing}"
