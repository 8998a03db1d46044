"""Seeded inputs for the benchmark.

Three kinds of input, all pure functions of their seed:

- ``write_docs``: the interleaved-document table the engine's build
  starts from (``doc_id``, ``spans``: node / way / relation JSON spans
  between text and media spans, with cumulative offsets).  It uses a
  fixed data seed, so every run builds the same store and the build
  counts can be pinned.  It has the shape of the sf fixtures' document
  table (``sources.synth`` over the TPC-H-like tables), scaled down:
  nodes are scattered by the fixtures' position mixture, each way takes
  vertices from all over it, so most ways cross tiles, and relations
  group random ways, under two levels of super-relations.
- ``query_schedule``: the closed-loop request schedule of the ``query``
  workload: rounds of one bbox, area, export, knn and contains request,
  each round in a seeded order.
- ``change_batches``: the change epochs of the ``update`` workload —
  node moves, full-payload way tag edits, node creates and deletes,
  clustered around seeded centres.

Where a share below has a source, it is named beside it: the sf
fixtures' generator (``sqlgen``, ``sources.synth``) or a count measured
on the sf0.1 build (456 861 nodes, 132 328 ways, 15 027 relations,
205 tiles, 1 040 707 feature-tile rows).  The others are assumptions.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

DATA_SEED = 20260101
# sized so that a fresh-process run (start + build + loop) stays near a
# minute on 4 cores
N_NODES = 14_000
# the pyramid's minimum tile density: bench.py's 500 at sf0.1, scaled
# by the node count, so the pyramid splits as sf0.1's does
TILE_DENSITY = round(500 * N_NODES / 456_861)
# node positions, sqlgen.LON100ND / LAT100ND: (share, lon0, lat0, lon
# range, lat range, grid step) in 100-nanodegree units; 0 = no grid
PLACES = [(0.7, 74_000_000, 433_000_000, 7_000_000, 5_000_000, 0),
          (0.2, 1_000_000_000, 300_000_000, 50_000_000, 40_000_000, 0),
          (0.1, -1_750_000_000, -550_000_000, 3500, 1100, 1_000_000)]
# nodes in no way (single-lineitem orders): 14 908 of 456 861 at sf0.1
POI_SHARE = 14_908 / 456_861
# distinct vertices per way -> number of such ways at sf0.1
WAY_VERTICES = {2: 34_106, 3: 44_195, 4: 33_872, 5: 15_702, 6: 4_013,
                7: 440}
# a way with three or more vertices is closed one time in seven
# (sqlgen.WAY_CLOSED)
CLOSED_SHARE = 1 / 7
# ways per first-level relation: 132 328 ways in 14 997 customer
# relations at sf0.1; each way joins a random one, as an order joins
# its customer
RELATION_WAYS = 132_328 / 14_997
# super-relations: 25 nations, each in one of 5 regions (TPC-H)
NATIONS, REGIONS = 25, 5
MEDIA_SHARE = 1 / 5  # nodes after a media span (synth: H1 % 5 = 0)
MEDIA_LEN = 32

# bbox / area selectors and export formats, taken in turn by round
BBOX_GOQL = ["w[highway]", "n[amenity]", "w[highway][name=A*]"]
AREA_GOQL = ["n", "w[highway]"]
EXPORT = [("n[highway]", "geojson"), ("n[amenity]", "wkt")]
READ_GOQL = "n[highway]"
# one request of each type per round: an assumption, as no measured
# request mix is at hand
TYPES = ("bbox", "area", "export", "knn", "contains")
ROUNDS = 16
# kNN query points per request: enough that nearly every batch holds a
# point of the sparse background, whose escalation passes then do not
# come and go with the seed (1 - 0.9^64 of batches hold one)
KNN_POINTS = 64
CONTAINS_NODES = 400  # candidate nodes per containment request

# change epochs: a few hundred changes each, in equal shares of the four
# kinds (assumptions, as no measured change mix is at hand), around six
# centres, so that the tiles an epoch rewrites vary less with the seed
PER_BATCH = 300
CENTRES = 6
CHANGE_MIX = {"move": 0.25, "edit": 0.25, "create": 0.25, "delete": 0.25}
# epochs generated, more than a measured loop of a few seconds applies
N_BATCHES = 24


def world_xy(lon100nd, lat100nd):
    """The engine's projection (``sqlgen.x_expr`` / ``y_expr``) in numpy."""
    lon = np.asarray(lon100nd, dtype=np.float64)
    u = np.asarray(lat100nd, dtype=np.float64) * 1e-9
    uu = u * u
    m = u * (1.0 + uu * (0.1962 + uu * 0.0937))
    x = np.floor((lon + 1800000000.0) / 3600000000.0 * 2147483648.0)
    y = np.floor((0.5 - 0.45 * m) * 2147483648.0)
    return x.astype(np.int64), y.astype(np.int64)


def _pick(rng, n, table):
    """n draws from ``table`` = [(value, weight), ...]; None = no tag."""
    vals = [v for v, _ in table]
    w = np.array([p for _, p in table], dtype=np.float64)
    return [vals[i] for i in rng.choice(len(vals), n, p=w / w.sum())]


def _tags(**cols):
    n = len(next(iter(cols.values())))
    return [{k.replace("_", ":"): v[i] for k, v in cols.items()
             if v[i] is not None} for i in range(n)]


def features():
    """(nodes, ways, relations) frames of the fixed input.

    nodes: id, lon100nd, lat100nd, x, y, tags
    ways: id, node_ids, tags
    relations: id, members [(type, id, role)], tags"""
    rng = np.random.default_rng(DATA_SEED)
    n = N_NODES
    place = rng.choice(len(PLACES), n, p=[p[0] for p in PLACES])
    lon, lat = np.empty(n, dtype=np.int64), np.empty(n, dtype=np.int64)
    for k, (_, lon0, lat0, dlon, dlat, step) in enumerate(PLACES):
        at = place == k
        lon[at] = lon0 + rng.integers(dlon, size=at.sum()) * max(step, 1)
        lat[at] = lat0 + rng.integers(dlat, size=at.sum()) * max(step, 1)
    x, y = world_xy(lon, lat)
    ids = np.arange(1, n + 1, dtype=np.int64)
    nodes = pd.DataFrame({"id": ids, "lon100nd": lon, "lat100nd": lat,
                          "x": x, "y": y})
    # tag shares of sqlgen.NODE_*
    nodes["tags"] = _tags(
        highway=_pick(rng, n, [("residential", 1), ("primary", 1),
                               ("footway", 1), (None, 1)]),
        name=[None if r > 0.4 else f"{'A' if r < 0.2 else 'B'}{i}"
              for r, i in zip(rng.random(n), ids)],
        amenity=_pick(rng, n, [("cafe", 1), ("parking", 1), (None, 9)]),
        maxspeed=_pick(rng, n, [("30", 1), ("50", 1), ("70", 1),
                                ("walk", 1), (None, 5)]),
        addr_street=_pick(rng, n, [("Main Street", 1), ("Elm Road", 1),
                                   (None, 5)]))

    # ways take runs of nodes in id order, whose positions are
    # independent: the lineitems of one order
    sizes = np.array(list(WAY_VERTICES))
    w_p = np.array(list(WAY_VERTICES.values()), dtype=np.float64)
    verts = int(n * (1 - POI_SHARE))
    ways_nodes, i = [], 0
    while True:
        k = int(rng.choice(sizes, p=w_p / w_p.sum()))
        if i + k > verts:
            break
        chain = [int(v) for v in ids[i:i + k]]
        if k >= 3 and rng.random() < CLOSED_SHARE:
            chain.append(chain[0])  # closed ring
        ways_nodes.append(chain)
        i += k
    w = len(ways_nodes)
    wid = np.arange(1, w + 1, dtype=np.int64)
    ways = pd.DataFrame({"id": wid, "node_ids": ways_nodes})
    # tag shares of sqlgen.WAY_*
    name_r = rng.random(w)
    ways["tags"] = _tags(
        highway=_pick(rng, w, [("residential", 1), ("secondary", 1),
                               (None, 1)]),
        name=[None if r > 0.5 else (f"A way {i}" if r < 0.25 else f"Road {i}")
              for r, i in zip(name_r, wid)],
        building=_pick(rng, w, [("yes", 1), (None, 4)]),
        leisure=_pick(rng, w, [("park", 1), ("pitch", 1), (None, 4)]),
        natural=_pick(rng, w, [("water", 1), ("cliff", 1), ("tree_row", 1),
                               (None, 4)]),
        railway=_pick(rng, w, [("station", 1), ("rail", 1), (None, 9)]),
        area=_pick(rng, w, [("yes", 1), ("no", 1), (None, 11)]))

    # first-level relations of random ways (empty ones are dropped), each
    # in a random nation; nation j is in region j % REGIONS
    owner = rng.integers(int(round(w / RELATION_WAYS)), size=w)
    rels, level = [], []
    for r in np.unique(owner):
        mem = [(1, int(m), "outer" if q == 0 else "inner")
               for q, m in enumerate(wid[owner == r])]
        rid = len(rels) + 1
        # tag shares of sqlgen.REL_BOUNDARY / REL_NAME
        tags = {"boundary": "administrative"} if rng.random() < 1 / 3 else {}
        if rng.random() < 0.5:
            tags["name"] = f"District {rid}"
        rels.append((rid, mem, tags))
        level.append(rid)
    nation = rng.integers(NATIONS, size=len(level))
    up = []
    for j in range(NATIONS):
        mem = [(2, m, "subarea") for m, nj in zip(level, nation) if nj == j]
        if mem:
            rid = len(rels) + 1
            rels.append((rid, mem, {"name": f"Nation {j}"}))
            up.append((rid, j % REGIONS))
    for g in range(REGIONS):
        mem = [(2, m, "subarea") for m, rg in up if rg == g]
        if mem:
            rels.append((len(rels) + 1, mem, {"name": f"Region {g}"}))
    relations = pd.DataFrame(rels, columns=["id", "members", "tags"])
    return nodes, ways, relations


def write_docs(out_dir: str, nodes: pd.DataFrame, ways: pd.DataFrame,
               relations: pd.DataFrame) -> tuple[str, int]:
    """Write the document table of :func:`features`' output as parquet;
    returns (path, number of docs).

    As ``sources.synth`` lays out an order: one doc per way (a text
    span, then each vertex once, some after a media span, then the way)
    and one per POI node (a text span, then the node); then one doc per
    relation.  Offsets are cumulative per doc."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(DATA_SEED + 1)
    node_text = {
        int(r.id): json.dumps({"id": int(r.id), "lon": int(r.lon100nd),
                               "lat": int(r.lat100nd), "tags": r.tags})
        for r in nodes.itertuples()}
    emitted: set[int] = set()
    docs = []

    def node_spans(ids):
        out = []
        for nid in ids:
            if nid in emitted:
                continue
            emitted.add(nid)
            if rng.random() < MEDIA_SHARE:
                out.append(("media", None, f"blob://{nid}"))
            out.append(("node", node_text[nid], None))
        return out

    for r in ways.itertuples():
        docs.append((f"way-{r.id}", [("text", f"way {r.id}", None)]
                     + node_spans(r.node_ids)
                     + [("way", json.dumps({"id": int(r.id),
                                            "nodes": r.node_ids,
                                            "tags": r.tags}), None)]))
    pois = [i for i in node_text if i not in emitted]
    for nid in pois:
        docs.append((f"poi-{nid}", [("text", f"poi {nid}", None)]
                     + node_spans([nid])))
    for r in relations.itertuples():
        mem = [{"t": t, "id": i, "role": role} for t, i, role in r.members]
        docs.append((f"rel-{r.id}", [("relation", json.dumps(
            {"id": int(r.id), "members": mem, "tags": r.tags}), None)]))

    rows = []
    for doc_id, spans in docs:
        off, out = 0, []
        for kind, text, media in spans:
            out.append({"kind": kind, "text": text, "media_ref": media,
                        "offset": off})
            off += MEDIA_LEN if kind == "media" else len(text)
        rows.append(out)
    span_t = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                 ("media_ref", pa.string()),
                                 ("offset", pa.int32())]))
    table = pa.table({"doc_id": pa.array([d for d, _ in docs]),
                      "spans": pa.array(rows, type=span_t)})
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "docs.parquet")
    pq.write_table(table, path)
    return path, len(docs)


def _near(anchors: pd.DataFrame, cx: int, cy: int, k: int) -> pd.DataFrame:
    d = (anchors["x"] - cx) ** 2 + (anchors["y"] - cy) ** 2
    return anchors.iloc[np.argsort(d.to_numpy(), kind="stable")[:k]]


def _box(cx: int, cy: int, half: int) -> tuple[int, int, int, int]:
    return (cx - half, cy - half, cx + half, cy + half)


def query_schedule(seed: int, nodes: pd.DataFrame) -> list[dict]:
    """``ROUNDS`` rounds of one request of each of ``TYPES``, each round
    in a seeded order.  Request shapes (selector, format, box size)
    depend only on the round; the seed picks the node each request
    centres on, the kNN query points, the polygon vertices and the
    containment points."""
    rng = np.random.default_rng(seed)
    xs, ys, ids = (nodes[c].to_numpy() for c in ("x", "y", "id"))
    out = []
    for r in range(ROUNDS):
        g, f = EXPORT[r % len(EXPORT)]
        shapes = [{"type": "bbox", "goql": BBOX_GOQL[r % len(BBOX_GOQL)]},
                  {"type": "area", "goql": AREA_GOQL[r % len(AREA_GOQL)]},
                  {"type": "export", "goql": g, "fmt": f},
                  {"type": "knn"}, {"type": "contains"}]
        for j in rng.permutation(len(shapes)):
            req = {"round": r, **shapes[j]}
            i = int(rng.integers(len(xs)))
            cx, cy = int(xs[i]), int(ys[i])
            kind = req["type"]
            if kind == "bbox":
                req["bbox"] = _box(cx, cy, 1 << 21)
            elif kind == "area":
                ang = np.sort(rng.uniform(0, 2 * np.pi, 6))
                rr = (1 << 20) * rng.uniform(0.5, 1.0, 6)
                ring = [(int(cx + a * np.cos(t)), int(cy + a * np.sin(t)))
                        for a, t in zip(rr, ang)]
                req["rings"] = [ring + [ring[0]]]
            elif kind == "export":
                req["bbox"] = _box(cx, cy, 1 << 19)
            elif kind == "knn":
                jit = rng.normal(0, 2 ** 16, (KNN_POINTS, 2)).astype(
                    np.int64)
                pick = rng.integers(len(xs), size=KNN_POINTS)
                req["points"] = [
                    (q, int(xs[p] + dx), int(ys[p] + dy))
                    for q, (p, (dx, dy)) in enumerate(zip(pick, jit))]
            else:  # contains
                req["node_ids"] = sorted(
                    int(v) for v in rng.choice(ids, CONTAINS_NODES,
                                               replace=False))
            out.append(req)
    return out


def read_bbox(nodes: pd.DataFrame) -> tuple[int, int, int, int]:
    """The update workload's fixed read: a box around the data's
    densest area (the median node), the same on every epoch."""
    cx, cy = int(nodes["x"].median()), int(nodes["y"].median())
    return _box(cx, cy, 1 << 22)


def change_batches(seed: int, nodes: pd.DataFrame,
                   ways: pd.DataFrame) -> list[pd.DataFrame]:
    """Change epochs in the engine's change-frame shape: (typed_id, op,
    revision, change_seq, ftype, id, lon100nd, lat100nd, is_area, tags).

    Each batch draws about ``PER_BATCH`` changes around ``CENTRES`` seeded
    centres, in the shares of ``CHANGE_MIX``: node moves, tag edits of
    ways with a vertex near the centre, node creates and node deletes.
    Upserts carry the full payload (coordinates and the whole tag map),
    the precondition of ``merge_changes``.  A deleted node is never
    changed again: a delete followed by a later modify of the same node
    is an open divergence (the last epoch then differs from one-shot
    ``merge_changes`` in store-only columns; see CHANGES.md), which
    this generator avoids.
    Batch ``b`` is revision ``b + 1``; change_seq grows across batches.
    """
    rng = np.random.default_rng(seed)
    next_new = (int(nodes["id"].max()) // 8 + 1) * 8
    seq = 0
    out = []
    way_of = {v: int(w) for w, vs in zip(ways["id"], ways["node_ids"])
              for v in vs}
    alive = nodes
    for b in range(N_BATCHES):
        rows = []
        per_centre = PER_BATCH // CENTRES
        for _ in range(CENTRES):
            c = alive.iloc[int(rng.integers(len(alive)))]
            near_n = _near(alive, int(c.x), int(c.y), 4 * per_centre)
            near_w = pd.unique(np.array(
                [way_of[v] for v in near_n["id"] if v in way_of]))
            counts = {k: int(round(v * per_centre))
                      for k, v in CHANGE_MIX.items()}
            # moves and deletes touch distinct nodes within a batch
            touched = rng.choice(len(near_n),
                                 counts["move"] + counts["delete"],
                                 replace=False)
            for j, pos in enumerate(touched):
                nd = near_n.iloc[int(pos)]
                seq += 1
                if j < counts["move"]:
                    lon = int(nd.lon100nd + rng.integers(-20_000, 20_001))
                    lat = int(nd.lat100nd + rng.integers(-20_000, 20_001))
                    rows.append(_node_row(int(nd.id), "modify", b, seq,
                                          lon, lat, rng))
                else:
                    rows.append(_row(int(nd.id) * 4, "delete", b, seq, 0,
                                     int(nd.id), None, None, None, None))
                    alive = alive[alive["id"] != nd.id]
            for pos in rng.choice(len(near_w), counts["edit"], replace=False):
                wid = int(near_w[pos])
                seq += 1
                tags = {"highway": str(rng.choice(
                            ["residential", "secondary", "service"])),
                        "name": f"Edit {b}.{seq}"}
                rows.append(_row(wid * 4 + 1, "modify", b, seq, 1, wid,
                                 None, None, None, tags))
            for _ in range(counts["create"]):
                nd = near_n.iloc[int(rng.integers(len(near_n)))]
                seq += 1
                next_new += 8
                lon = int(nd.lon100nd + rng.integers(-50_000, 50_001))
                lat = int(nd.lat100nd + rng.integers(-50_000, 50_001))
                rows.append(_node_row(next_new + 1, "create", b, seq, lon,
                                      lat, rng))
        out.append(pd.DataFrame(rows, columns=CHANGE_COLUMNS))
    return out


CHANGE_COLUMNS = ["typed_id", "op", "revision", "change_seq", "ftype", "id",
                  "lon100nd", "lat100nd", "is_area", "tags"]
CHANGE_SCHEMA = ("typed_id long, op string, revision long, "
                 "change_seq long, ftype int, id long, lon100nd long, "
                 "lat100nd long, is_area boolean, tags map<string,string>")


def _row(typed_id, op, b, seq, ftype, fid, lon, lat, is_area, tags):
    return (typed_id, op, b + 1, seq, ftype, fid, lon, lat, is_area, tags)


def _node_row(nid, op, b, seq, lon, lat, rng):
    tags = {"amenity": str(rng.choice(["cafe", "parking", "bench"])),
            "highway": str(rng.choice(["residential", "footway"])),
            "name": f"N{nid}"}
    return _row(nid * 4, op, b, seq, 0, nid, lon, lat, False, tags)
