"""S5/S6 archive roundtrip, S9 map sink, F11 templates, A2 string table."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from geodesk_gol_spark.operators.archive import (
    ArchiveChecksumError,
    copy_tiles,
    install_archive,
    load_tiles,
    merge_archives,
    save_tiles,
)
from geodesk_gol_spark.operators.strings import global_string_table
from geodesk_gol_spark.query.map import render_map, template_col

from .conftest import SF_DIR, path_kinds


def test_archive_roundtrip(spark, built, tmp_path):
    """Save then load, over a bare path and a file:// URI (which loads
    through the URL fetch into ``cache_dir``)."""
    res, store = built
    for local, root in path_kinds(tmp_path):
        path = f"{root}/arch"
        manifest = save_tiles(store, res.catalog, path)
        assert len(manifest["tiles"]) == len(res.catalog.tiles)
        assert json.loads((local / "arch" / "manifest.json").read_text()) \
            == json.loads(json.dumps(manifest))
        back = load_tiles(spark, path, cache_dir=str(local / "cache"))
        assert back.count() == store.count()
        # content equality modulo the map column (set ops reject MapType)
        assert back.drop("tags").exceptAll(store.drop("tags")).count() == 0


def test_archive_bbox_subset(spark, built, tmp_path, monkeypatch):
    """The bbox tile restriction gives the same archive from the
    In-list and from the broadcast semi-join (``_ISIN_MAX`` = 0)."""
    from geodesk_gol_spark.query import spatial

    res, store = built
    bbox = (1115000000, 630000000, 1126000000, 648000000)
    manifests = []
    for isin_max in (spatial._ISIN_MAX, 0):
        monkeypatch.setattr(spatial, "_ISIN_MAX", isin_max)
        path = str(tmp_path / f"arch_bbox_{isin_max}")
        manifest = save_tiles(store, res.catalog, path, bbox=bbox)
        assert 0 < len(manifest["tiles"]) < len(res.catalog.tiles)
        back = load_tiles(spark, path)
        assert (back.select("tile_id").distinct().count()
                == len(manifest["tiles"]))
        manifests.append(manifest)
    assert manifests[0] == manifests[1]


def test_archive_checksum_detects_corruption(spark, built, tmp_path):
    res, store = built
    path = str(tmp_path / "arch_bad")
    save_tiles(store, res.catalog, path)
    # corrupt the manifest
    m = json.load(open(f"{path}/manifest.json"))
    k = next(iter(m["tiles"]))
    m["tiles"][k]["checksum"] += 1
    json.dump(m, open(f"{path}/manifest.json", "w"))
    with pytest.raises(ArchiveChecksumError):
        load_tiles(spark, path)


def test_archive_republish_invalidates_part_cache(spark, built, tmp_path):
    """Re-publishing an archive at the same URL must refetch changed
    parts: a stale cached part with a fresh manifest would fail verify
    forever (or serve stale data with verify=False)."""
    res, store = built
    pub = tmp_path / "published"
    cache = str(tmp_path / "cache")
    save_tiles(store, res.catalog, str(pub))
    url = pub.as_uri()  # file:// — urlopen handles it like HTTP here
    n1 = load_tiles(spark, url, verify=True, cache_dir=cache).count()
    assert n1 == store.count()
    # republish with DIFFERENT content (a subset) at the same location
    import shutil

    shutil.rmtree(pub)
    sub = store.limit(200).persist()
    save_tiles(sub, res.catalog, str(pub))
    n2 = load_tiles(spark, url, verify=True, cache_dir=cache).count()
    assert n2 == sub.count()  # stale parts replaced, checksums pass
    sub.unpersist()


def test_merge_archives_replaces_tiles(spark, built, tmp_path):
    res, store = built
    some_tile = store.select("tile_id").first()[0]
    incoming = store.filter(F.col("tile_id") == some_tile).limit(1)
    merged = merge_archives(store, incoming)
    # the incoming tile was replaced wholesale (1 row), others untouched
    assert merged.filter(F.col("tile_id") == some_tile).count() == 1
    assert (
        merged.filter(F.col("tile_id") != some_tile).count()
        == store.filter(F.col("tile_id") != some_tile).count()
    )


def test_map_sink(spark, built):
    _, store = built
    from geodesk_gol_spark.query import formats

    nodes = (
        store.filter((F.col("ftype") == 0) & F.col("tags")["amenity"].isNotNull())
        .dropDuplicates(["typed_id"])
        .withColumn("_popup", template_col("{name} ({id})"))
    )
    lines = formats.node_geojsonl(nodes.limit(50))
    html = render_map(lines, title="test map")
    assert html.startswith("<!DOCTYPE html>")
    assert '"type":"Feature"' in html and "L.geoJSON" in html


def test_template_col(spark):
    df = spark.createDataFrame(
        [(1, {"name": "Foo"}), (2, {})],
        "id long, tags map<string,string>",
    )
    rows = {r.id: r.t for r in df.select("id", template_col("{name} #{id}").alias("t")).collect()}
    assert rows == {1: "Foo #1", 2: " #2"}


def test_global_string_table(spark, built):
    from geodesk_gol_spark.sources.parser import parse_features
    from geodesk_gol_spark.sources.synth import synth_docs

    docs = synth_docs(spark, SF_DIR)
    feats = parse_features(docs)
    t = global_string_table(
        [feats["nodes"], feats["ways"], feats["relations"]], min_usage=100
    ).toPandas()
    assert (t.n >= 100).all()
    # codes are dense from 0 and ordering is (core, count desc, string asc)
    assert sorted(t.code) == list(range(len(t)))
    noncore = t[~t.s.isin(["", "no", "yes", "outer", "inner"])].sort_values("code")
    assert list(noncore.n) == sorted(noncore.n, reverse=True) or len(noncore) <= 1


def test_load_tiles_from_http_url(spark, built, tmp_path):
    """S6 URL load: serve the archive over local HTTP, fetch + verify."""
    import http.server
    import socketserver
    import threading

    res, store = built
    path = str(tmp_path / "arch_http")
    save_tiles(store, res.catalog, path)

    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(
        *a, directory=path, **kw
    )
    with socketserver.TCPServer(("127.0.0.1", 0), handler) as httpd:
        port = httpd.server_address[1]
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        try:
            back = load_tiles(
                spark,
                f"http://127.0.0.1:{port}",
                cache_dir=str(tmp_path / "dl_cache"),
            )
            assert back.count() == store.count()
            assert back.drop("tags").exceptAll(store.drop("tags")).count() == 0
        finally:
            httpd.shutdown()


def test_format_dispatch_and_invalid(spark):
    """-f dispatch parity with the reference's test matrix: every valid
    name routes to its sink; an unknown name errors BEFORE any Spark
    job (reference exits 2, test/test_query.py:66-69)."""
    import pytest

    from geodesk_gol_spark.query.formats import (InvalidFormatError,
                                                 format_result)

    nodes = spark.createDataFrame(
        [(1, 100000000, 200000000, {"amenity": "cafe"})],
        "id long, lon100nd long, lat100nd long, tags map<string,string>",
    )
    assert format_result(nodes, "count") == 1
    for fmt in ("list", "table", "geojsonl", "wkt", "xml"):
        assert format_result(nodes, fmt).count() == 1
    assert format_result(nodes, "csv", keys=["amenity"]).columns == [
        "id", "lon", "lat", "amenity"]
    with pytest.raises(InvalidFormatError, match="invalid"):
        format_result(nodes, "bananas")


def test_format_brief_geojson_and_aliases(spark):
    """brief (the reference default), geojson (one FeatureCollection
    document, id-ordered) and the alias table json/jsonl/ndjson
    (QueryCommand.cpp:180-199)."""
    from geodesk_gol_spark.query.formats import format_result

    nodes = spark.createDataFrame(
        [
            (2, 110000000, 210000000, {"name": "B", "amenity": "pub"}),
            (1, 100000000, 200000000, {"amenity": "cafe"}),
            (3, 120000000, 220000000, {}),
        ],
        "id long, lon100nd long, lat100nd long, tags map<string,string>",
    )
    briefs = {
        r[0] for r in format_result(nodes, "brief").collect()
    }
    # sorted keys, padded to the widest present key, header-only when
    # the feature has no tags
    assert "node/1\n  amenity = cafe" in briefs
    assert "node/2\n  amenity = pub\n  name    = B" in briefs
    assert "node/3" in briefs

    doc = format_result(nodes, "geojson").collect()[0][0]
    assert doc.startswith('{"type":"FeatureCollection","features":[')
    assert doc.index('"id":1') < doc.index('"id":2') < doc.index('"id":3')

    import json as _json

    _json.loads(doc)  # well-formed
    for alias, canon in (("json", "geojson"), ("jsonl", "geojsonl"),
                         ("ndjson", "geojsonl")):
        a = sorted(r[0] for r in format_result(nodes, alias).collect())
        c = sorted(r[0] for r in format_result(nodes, canon).collect())
        assert a == c


def test_copy_tiles_merges_and_swaps_atomically(spark, built, tmp_path,
                                                monkeypatch):
    """gol copy analogue: seed the target with a bbox subset, copy a
    different (overlapping) bbox from the full archive — the target
    ends with the tile union, full-store contents, no leftover temp.
    Over a bare path and a file:// URI (whose loads fetch into the
    temp dir)."""
    import tempfile

    from geodesk_gol_spark.query.spatial import tiles_for_bbox

    res, store = built
    bb1 = (1115000000, 630000000, 1126000000, 648000000)
    bb2 = (1120000000, 642000000, 1132000000, 654000000)
    want = set(tiles_for_bbox(res.catalog, *bb1)[0]) | set(
        tiles_for_bbox(res.catalog, *bb2)[0])
    have_store = {int(r["tile_id"]) for r in
                  store.select("tile_id").distinct().collect()}
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for local, root in path_kinds(tmp_path):
        src = f"{root}/copy_src"
        save_tiles(store, res.catalog, src)
        tgt = f"{root}/copy_tgt"
        m1 = save_tiles(store, res.catalog, tgt, bbox=bb1)
        m2 = copy_tiles(spark, src, tgt, catalog=res.catalog, bbox=bb2)
        assert set(m2["tiles"]) == want & have_store
        assert set(m1["tiles"]) <= set(m2["tiles"])
        back = load_tiles(spark, str(local / "copy_tgt"), verify=True)
        # per-tile contents equal the full store's for every copied tile
        a = back.drop("tags")
        b = store.drop("tags").join(
            back.select("tile_id").distinct(), "tile_id", "left_semi")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        assert sorted(p.name for p in local.iterdir()) == [
            "copy_src", "copy_tgt"]


def test_copy_tiles_into_empty_target(spark, built, tmp_path):
    res, store = built
    src = str(tmp_path / "cs")
    save_tiles(store, res.catalog, src)
    tgt = str(tmp_path / "ct")
    m = copy_tiles(spark, src, tgt)
    back = load_tiles(spark, tgt, verify=True)
    assert back.count() == store.count()
    assert len(m["tiles"]) == len(res.catalog.tiles)


def test_install_archive_fetches_and_stamps(spark, built, tmp_path):
    import json as _json

    res, store = built
    src = str(tmp_path / "pub")
    save_tiles(store, res.catalog, src)
    dest = str(tmp_path / "inst")
    rec = install_archive(spark, f"file://{src}", dest)
    assert rec["verified"] and rec["rows"] == store.count()
    stamped = _json.load(open(f"{dest}/installed.json"))
    assert stamped["source"].startswith("file://")
    # installed parts are locally loadable with checksums intact
    back = load_tiles(spark, dest, verify=True)
    assert back.count() == store.count()


def test_copy_tiles_recovers_from_crashed_swap(spark, built, tmp_path):
    """A crash between copy_tiles' two swap renames leaves the original
    content only in `.old` with no target; the next copy must restore
    it and merge into the real base, not seed from source alone."""
    import os
    import shutil

    res, store = built
    src = str(tmp_path / "rc_src")
    save_tiles(store, res.catalog, src)
    bb1 = (1115000000, 630000000, 1126000000, 648000000)
    tgt = str(tmp_path / "rc_tgt")
    m1 = save_tiles(store, res.catalog, tgt, bbox=bb1)
    # simulate the crash window: target renamed to .old, tmp never
    # swapped in (no target dir at all)
    os.rename(tgt, tgt + ".old")
    bb2 = (1120000000, 642000000, 1132000000, 654000000)
    m2 = copy_tiles(spark, src, tgt, catalog=res.catalog, bbox=bb2)
    from geodesk_gol_spark.query.spatial import tiles_for_bbox

    have_store = {int(r["tile_id"]) for r in
                  store.select("tile_id").distinct().collect()}
    want = (set(tiles_for_bbox(res.catalog, *bb1)[0])
            | set(tiles_for_bbox(res.catalog, *bb2)[0])) & have_store
    # bb1 tiles (recovered base) AND bb2 tiles (new copy) both present
    assert set(m2["tiles"]) == want
    assert set(m1["tiles"]) <= set(m2["tiles"])
    assert not os.path.exists(tgt + ".old")
    shutil.rmtree(src)
