"""Change merge and the Structured Streaming update apply."""

from __future__ import annotations

import pytest

from geodesk_gol_spark.streaming.update import latest_changes, merge_changes

from .conftest import path_kinds


def test_change_merge_semantics(spark):
    store = spark.createDataFrame(
        [(4, {"a": "1"}), (8, {"b": "2"}), (12, {"c": "3"})],
        "typed_id long, tags map<string,string>",
    )
    changes = spark.createDataFrame(
        [
            (4, "modify", 2, 1, {"a": "new"}),
            (4, "modify", 1, 1, {"a": "old"}),   # superseded revision
            (8, "delete", 1, 1, None),
            (16, "create", 1, 1, {"d": "4"}),    # unknown id: INSERTED
        ],
        "typed_id long, op string, revision int, change_seq int, "
        "tags map<string,string>",
    )
    latest = {r.typed_id: r.op for r in latest_changes(changes).collect()}
    assert latest == {4: "modify", 8: "delete", 16: "create"}
    merged = {r.typed_id: r.tags for r in merge_changes(store, changes).collect()}
    assert merged == {4: {"a": "new"}, 12: {"c": "3"}, 16: {"d": "4"}}


def test_change_merge_create_then_modify_same_batch(spark):
    """create→modify of one typed_id in a single batch must still insert
    the feature (latest-wins keeps only the modify row, and a
    create-only insert arm would drop it — ADVICE r02)."""
    store = spark.createDataFrame(
        [(4, {"a": "1"})], "typed_id long, tags map<string,string>"
    )
    changes = spark.createDataFrame(
        [
            (20, "create", 1, 1, {"v": "born"}),
            (20, "modify", 1, 2, {"v": "edited"}),
            # modify of a feature the store never had: also inserted
            (24, "modify", 1, 1, {"v": "orphan-edit"}),
        ],
        "typed_id long, op string, revision int, change_seq int, "
        "tags map<string,string>",
    )
    merged = {r.typed_id: r.tags for r in merge_changes(store, changes).collect()}
    assert merged == {
        4: {"a": "1"},
        20: {"v": "edited"},
        24: {"v": "orphan-edit"},
    }


def test_change_merge_replaces_all_payload_columns(spark):
    """A modify replaces every payload column present in both frames —
    a node move must update coordinates, not only tags."""
    store = spark.createDataFrame(
        [(4, {"a": "1"}, 100, 200, 7), (8, {"b": "2"}, 300, 400, 9)],
        "typed_id long, tags map<string,string>, "
        "lon100nd long, lat100nd long, tile_id int",
    )
    changes = spark.createDataFrame(
        [(4, "modify", 1, 1, {"a": "moved"}, 111, 222, 8)],
        "typed_id long, op string, revision int, change_seq int, "
        "tags map<string,string>, lon100nd long, lat100nd long, tile_id int",
    )
    got = {r.typed_id: r for r in merge_changes(store, changes).collect()}
    assert (got[4].lon100nd, got[4].lat100nd, got[4].tile_id) == (111, 222, 8)
    assert got[4].tags == {"a": "moved"}
    assert (got[8].lon100nd, got[8].lat100nd, got[8].tile_id) == (300, 400, 9)


def test_prepare_node_changes_moves_and_creates(spark):
    """A node-move modify gets a fresh tile/cx/cy (stale tile_id would
    hide the node from tile-pruned queries); a created node lands with
    is_ghost=false; a create→delete→create backlog keeps one assignment
    per change row (no latest-wins tie on duplicate typed_ids)."""
    from geodesk_gol_spark import sqlgen
    from geodesk_gol_spark.plans.pyramid import (
        BuildSettings,
        build_tile_catalog,
    )
    from geodesk_gol_spark.streaming.update import (
        merge_changes,
        prepare_node_changes,
    )

    # two dense clusters far apart -> at least two surviving tiles
    base = spark.createDataFrame(
        [(i, 25_000_000 + i * 1000, 15_000_000) for i in range(12)]
        + [(100 + i, 1_000_000_000 + i * 1000, -400_000_000)
           for i in range(12)],
        "id long, lon100nd long, lat100nd long",
    ).selectExpr(
        "id",
        f"{sqlgen.x_expr('lon100nd')} AS x",
        f"{sqlgen.y_expr('lat100nd')} AS y",
        f"{sqlgen.cell_expr(sqlgen.x_expr('lon100nd'))} AS cell_col",
        f"{sqlgen.cell_expr(sqlgen.y_expr('lat100nd'))} AS cell_row",
    )
    catalog = build_tile_catalog(base, BuildSettings.for_fixture(2))

    def tile_of(lon, lat):
        df = spark.createDataFrame(
            [(lon, lat)], "lon100nd long, lat100nd long"
        ).selectExpr(
            f"{sqlgen.cell_expr(sqlgen.x_expr('lon100nd'))} AS cell_col",
            f"{sqlgen.cell_expr(sqlgen.y_expr('lat100nd'))} AS cell_row",
        )
        return catalog.assign(df).collect()[0].tile_id

    t_a, t_b = tile_of(25_000_000, 15_000_000), tile_of(
        1_000_000_000, -400_000_000)
    assert t_a != t_b, "fixture must span two tiles"

    store = spark.createDataFrame(
        [(4, 1, {"n": "a"}, False, 0, 25_000_000, 15_000_000, t_a,
          None, None)],
        "typed_id long, id long, tags map<string,string>, "
        "is_ghost boolean, twin int, lon100nd long, lat100nd long, "
        "tile_id int, cx long, cy long",
    )
    changes = spark.createDataFrame(
        [
            # node 1 moves from cluster A to cluster B
            ("modify", 0, 1, 4, 1_000_000_000, -400_000_000,
             {"n": "a"}, 1, 1),
            # node 2: create in A, delete, re-create in B
            ("create", 0, 2, 8, 25_000_000, 15_000_000, {"n": "b"}, 1, 2),
            ("delete", 0, 2, 8, None, None, None, 2, 3),
            ("create", 0, 2, 8, 1_000_000_000, -400_000_000,
             {"n": "b2"}, 3, 4),
        ],
        "op string, ftype int, id long, typed_id long, lon100nd long, "
        "lat100nd long, tags map<string,string>, revision long, "
        "change_seq long",
    )
    prepared = prepare_node_changes(changes, catalog)
    assert prepared.count() == changes.count()  # no fan-out
    merged = {r.typed_id: r for r in merge_changes(store, prepared).collect()}
    assert merged[4].tile_id == t_b          # moved node re-tiled
    assert merged[4].cx is not None and merged[4].cy is not None
    assert merged[8].tile_id == t_b          # final create's coords win
    assert merged[8].is_ghost is False       # visible to home-copy filters
    assert merged[8].tags == {"n": "b2"}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_change_merge_split_invariance(spark, seed):
    """merge(store, feed) == merge(merge(store, feed≤k), feed>k) == a
    pure-Python revision-ordered apply, for random full-payload feeds
    (every .osc modify carries the complete feature, so payload columns
    are never null — the precondition for latest-wins == ordered apply).
    This is the invariant that lets apply_changes_streaming compound
    micro-batches."""
    import random

    rng = random.Random(seed)
    ids = list(range(4, 4 + 30 * 4, 4))
    store_rows = [
        (i, {"v": f"s{i}"}, rng.randrange(1000), rng.randrange(16))
        for i in sorted(rng.sample(ids, 18))
    ]
    schema_store = ("typed_id long, tags map<string,string>, "
                    "lon100nd long, tile_id int")
    feed, seq = [], 0
    for rev in (1, 2, 3, 4):
        for _ in range(10):
            tid = rng.choice(ids)
            op = rng.choice(["create", "modify", "modify", "delete"])
            seq += 1
            if op == "delete":
                feed.append((tid, op, rev, seq, None, None, None))
            else:
                feed.append((tid, op, rev, seq,
                             {"v": f"c{rev}.{seq}"},
                             rng.randrange(1000), rng.randrange(16)))
    schema_feed = ("typed_id long, op string, revision int, "
                   "change_seq int, tags map<string,string>, "
                   "lon100nd long, tile_id int")

    store = spark.createDataFrame(store_rows, schema_store)
    all_ch = spark.createDataFrame(feed, schema_feed)
    b1 = spark.createDataFrame([r for r in feed if r[2] <= 2], schema_feed)
    b2 = spark.createDataFrame([r for r in feed if r[2] > 2], schema_feed)

    def snap(df):
        return sorted(
            (r.typed_id, tuple(sorted((r.tags or {}).items())),
             r.lon100nd, r.tile_id)
            for r in df.collect()
        )

    one_shot = snap(merge_changes(store, all_ch))
    two_step = snap(merge_changes(merge_changes(store, b1), b2))
    assert one_shot == two_step

    # independent oracle: ordered dict apply
    model = {t: (tags, lon, tile) for t, tags, lon, tile in store_rows}
    for tid, op, rev, seq_, tags, lon, tile in sorted(
        feed, key=lambda r: (r[2], r[3])
    ):
        if op == "delete":
            model.pop(tid, None)
        else:
            model[tid] = (tags, lon, tile)
    want = sorted(
        (t, tuple(sorted(v[0].items())), v[1], v[2])
        for t, v in model.items()
    )
    assert one_shot == want


def test_apply_changes_streaming_epochs_compound(spark, tmp_path):
    """Each micro-batch merges against the previous epoch's output, so a
    change stream split across batches applies ALL batches, not only the
    last one against the base store.  Over a bare path and a file://
    URI for the store and the epochs."""
    import os
    import shutil

    from geodesk_gol_spark.streaming.update import apply_changes_streaming

    # two files → availableNow with maxFilesPerTrigger=1 gives 2 epochs
    feed = tmp_path / "feed"
    feed.mkdir()
    spark.createDataFrame(
        [(4, "modify", 1, 1, {"a": "r1"})],
        "typed_id long, op string, revision int, change_seq int, "
        "tags map<string,string>",
    ).coalesce(1).write.parquet(str(feed / "f0"))
    spark.createDataFrame(
        [(8, "delete", 2, 1, None), (16, "create", 2, 2, {"c": "new"})],
        "typed_id long, op string, revision int, change_seq int, "
        "tags map<string,string>",
    ).coalesce(1).write.parquet(str(feed / "f1"))

    flat = tmp_path / "flat"
    flat.mkdir()
    for i, sub in enumerate(sorted(feed.iterdir())):
        for f in sorted(sub.glob("*.parquet")):
            shutil.copy(f, flat / f"part-{i:03d}.parquet")

    for local, root in path_kinds(tmp_path):
        store_path = f"{root}/store"
        spark.createDataFrame(
            [(4, {"a": "1"}), (8, {"b": "2"})],
            "typed_id long, tags map<string,string>",
        ).write.parquet(store_path)
        stream = (
            spark.readStream.schema(
                "typed_id long, op string, revision int, change_seq int, "
                "tags map<string,string>"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(flat))
        )
        q = apply_changes_streaming(spark, stream, store_path,
                                    f"{root}/out")
        q.awaitTermination(120)

        epochs = sorted(
            int(d.split("=")[1])
            for d in os.listdir(local / "out")
            if d.startswith("epoch=")
        )
        assert len(epochs) >= 2, f"expected >=2 epochs, got {epochs}"
        final = {
            r.typed_id: r.tags
            for r in spark.read.parquet(
                str(local / "out" / f"epoch={epochs[-1]}")).collect()
        }
        # batch-1 modify AND batch-2 delete+create must BOTH be visible
        assert final == {4: {"a": "r1"}, 16: {"c": "new"}}


def test_apply_changes_streaming_tile_scoped(spark, tmp_path):
    """A tile-carrying store is updated tile-scoped: each epoch rewrites
    only the affected tiles and hard-links every other tile partition
    from the previous epoch (same inode — no byte rewrite), while the
    epoch snapshot stays equal to the full-merge result.  Over a bare
    path and a file:// URI for the store and the epochs."""
    import os
    import shutil

    from geodesk_gol_spark.streaming.update import (
        apply_changes_streaming,
        merge_changes,
    )

    feed = tmp_path / "flat"
    feed.mkdir()
    schema = ("typed_id long, op string, revision int, change_seq int, "
              "tile_id int, tags map<string,string>")
    spark.createDataFrame(
        [(4, "modify", 1, 1, 100, {"a": "r1"})], schema
    ).coalesce(1).write.parquet(str(tmp_path / "b0"))
    spark.createDataFrame(
        [(12, "delete", 2, 1, None, None),
         (20, "create", 2, 2, 300, {"e": "new"})], schema
    ).coalesce(1).write.parquet(str(tmp_path / "b1"))
    for i, sub in enumerate(("b0", "b1")):
        for f in sorted((tmp_path / sub).glob("*.parquet")):
            dst = feed / f"part-{i:03d}.parquet"
            shutil.copy(f, dst)
            # the file source orders batches by modification time —
            # identical mtimes (copy within one clock tick) would make
            # the two-epoch order nondeterministic and the inode
            # assertion below refer to the wrong epoch
            os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    for local, root in path_kinds(tmp_path):
        store_path = f"{root}/store"
        spark.createDataFrame(
            [(4, 100, {"a": "1"}), (8, 100, {"b": "2"}),
             (12, 200, {"c": "3"}), (16, 300, {"d": "4"})],
            "typed_id long, tile_id int, tags map<string,string>",
        ).write.parquet(store_path)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        q = apply_changes_streaming(spark, stream, store_path,
                                    f"{root}/out")
        q.awaitTermination(120)

        out = local / "out"
        epochs = sorted(
            int(d.split("=")[1]) for d in os.listdir(out)
            if d.startswith("epoch=")
        )
        assert len(epochs) >= 2, f"expected >=2 epochs, got {epochs}"
        e_first, e_last = epochs[0], epochs[-1]

        # final snapshot == one-shot full merge of both batches
        all_ch = spark.read.parquet(str(feed))
        want = {
            (r.typed_id, r.tile_id): dict(r.tags or {})
            for r in merge_changes(
                spark.read.parquet(store_path), all_ch).collect()
        }
        got = {
            (r.typed_id, r.tile_id): dict(r.tags or {})
            for r in spark.read.parquet(
                str(out / f"epoch={e_last}")).collect()
        }
        assert got == want
        assert got[(4, 100)] == {"a": "r1"} and (20, 300) in got
        assert (12, 200) not in got

        # epoch 2 touched tiles 200 (delete) and 300 (create): tile 100
        # must be HARD-LINKED from epoch 1, not rewritten
        d_prev = out / f"epoch={e_first}" / "tile_id=100"
        d_last = out / f"epoch={e_last}" / "tile_id=100"
        prev_inodes = {f.stat().st_ino for f in d_prev.iterdir()
                       if not f.name.startswith((".", "_"))}
        last_inodes = {f.stat().st_ino for f in d_last.iterdir()
                       if not f.name.startswith((".", "_"))}
        assert last_inodes == prev_inodes and prev_inodes
