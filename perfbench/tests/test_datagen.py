"""Seeded inputs: one seed always yields identical inputs, two seeds
differ, and the generated document table holds what it should."""

from __future__ import annotations

import json

import pandas as pd
import pyarrow.parquet as pq
import pytest

from perfbench import datagen


@pytest.fixture(scope="module")
def feats():
    return datagen.features()


@pytest.fixture(scope="module")
def nodes(feats):
    return feats[0]


@pytest.fixture(scope="module")
def ways(feats):
    return feats[1]


def test_features_are_fixed(feats):
    for a, b in zip(feats, datagen.features()):
        pd.testing.assert_frame_equal(a, b)


def test_docs_hold_every_feature_once(feats, tmp_path):
    nodes, ways, relations = feats
    path, n_docs = datagen.write_docs(str(tmp_path), *feats)
    docs = pq.read_table(path).to_pylist()
    assert len(docs) == n_docs
    seen = {"node": [], "way": [], "relation": []}
    for d in docs:
        off = 0
        for s in d["spans"]:
            assert s["offset"] == off
            off += datagen.MEDIA_LEN if s["kind"] == "media" else len(s["text"])
            if s["kind"] in seen:
                seen[s["kind"]].append(json.loads(s["text"])["id"])
    assert sorted(seen["node"]) == sorted(nodes["id"])
    assert sorted(seen["way"]) == sorted(ways["id"])
    assert sorted(seen["relation"]) == sorted(relations["id"])


def test_ways_cross_tiles(nodes, ways):
    """Way vertices are placed independently, as in the sf fixtures, so
    most ways span more than a zoom-9 tile (2^22 world units)."""
    pos = nodes.set_index("id")
    span = [pos.loc[w, "x"].max() - pos.loc[w, "x"].min()
            for w in ways["node_ids"]]
    assert pd.Series(span).median() > (1 << 22)


def test_every_way_in_one_relation(ways, feats):
    relations = feats[2]
    members = [i for m in relations["members"] for t, i, _ in m if t == 1]
    assert sorted(members) == sorted(ways["id"])


def test_query_schedule_is_seeded(nodes):
    a = datagen.query_schedule(7, nodes)
    assert a == datagen.query_schedule(7, nodes)
    assert a != datagen.query_schedule(8, nodes)
    assert max(q["round"] for q in a) + 1 == datagen.ROUNDS
    for r in range(datagen.ROUNDS):
        kinds = [q["type"] for q in a if q["round"] == r]
        assert sorted(kinds) == sorted(datagen.TYPES)


def test_change_batches_are_seeded(nodes, ways):
    a = datagen.change_batches(7, nodes, ways)
    b = datagen.change_batches(7, nodes, ways)
    c = datagen.change_batches(8, nodes, ways)
    for x, y in zip(a, b):
        pd.testing.assert_frame_equal(x, y)
    assert any(not x.equals(z) for x, z in zip(a, c))


def test_change_batches_are_ordered_full_payload(nodes, ways):
    batches = datagen.change_batches(3, nodes, ways)
    seq = pd.concat(batches)["change_seq"]
    assert seq.is_monotonic_increasing and seq.is_unique
    for i, b in enumerate(batches):
        assert (b["revision"] == i + 1).all()
        assert set(b["op"]) == {"modify", "create", "delete"}
        ups = b[b["op"] != "delete"]
        assert ups["tags"].notna().all()
        node_ups = ups[ups["ftype"] == 0]
        assert node_ups[["lon100nd", "lat100nd"]].notna().all().all()


def test_deleted_nodes_stay_deleted(nodes, ways):
    seen_deleted: set[int] = set()
    for b in datagen.change_batches(5, nodes, ways):
        nodes_touched = set(b.loc[b["ftype"] == 0, "typed_id"])
        assert not nodes_touched & seen_deleted
        seen_deleted |= set(b.loc[b["op"] == "delete", "typed_id"])
