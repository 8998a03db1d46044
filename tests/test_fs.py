"""The storage layer (``geodesk_gol_spark.fs``): the one way the engine
touches store, checkpoint and epoch paths, for bare paths and URIs."""

from __future__ import annotations

import ast
from pathlib import Path

from geodesk_gol_spark import fs

from .conftest import path_kinds

PKG = Path(__file__).resolve().parent.parent / "geodesk_gol_spark"
# modules whose file operations must all go through fs, and the one
# function exempt: the archive fetch writes a driver-local HTTP cache
ENGINE = ("operators/compile_tiles.py", "plans/pipeline.py",
          "streaming/update.py", "operators/archive.py")
EXEMPT = {"_fetch_archive"}
BANNED = {"open", "os.rename", "os.replace", "os.link", "os.remove",
          "os.makedirs", "os.listdir", "os.path.exists", "os.path.isdir"}


def _dotted(node) -> str:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return f"{_dotted(node.value)}.{node.attr}"
    return ""


def _offences(node, where):
    if isinstance(node, ast.FunctionDef) and node.name in EXEMPT:
        return
    if isinstance(node, ast.Call):
        name = _dotted(node.func)
        if name in BANNED or name.startswith(("shutil.", "glob.")):
            yield f"{where}:{node.lineno} {name}()"
    if isinstance(node, (ast.Import, ast.ImportFrom)):
        mods = ([a.name for a in node.names] if isinstance(node, ast.Import)
                else [node.module or ""])
        if {"shutil", "glob"} & set(mods):
            yield f"{where}:{node.lineno} import {mods}"
    for child in ast.iter_child_nodes(node):
        yield from _offences(child, where)


def test_engine_file_operations_go_through_fs():
    """No engine module touches a store, checkpoint or epoch path with
    ``os``, ``shutil``, ``glob`` or ``open``: any of them would break a
    URI path that Spark itself writes fine."""
    found = [o for rel in ENGINE
             for o in _offences(ast.parse((PKG / rel).read_text()), rel)]
    assert not found, found


def test_fs_operations_on_both_path_kinds(spark, tmp_path):
    """Each operation acts on the same local files whether it is given a
    bare path or a file:// URI; a link shares the inode, and the raw
    local filesystem leaves no ``.crc`` side files."""
    for local, root in path_kinds(tmp_path):
        assert fs.ls(f"{root}/missing") == [] and not fs.exists(root + "/d")
        fs.write_text(f"{root}/d/a.json", '{"k": 1}')
        fs.write_bytes(f"{root}/d/b.bin", b"\x00\xff")
        assert fs.read_text(f"{root}/d/a.json") == '{"k": 1}'
        assert fs.read_bytes(f"{root}/d/b.bin") == b"\x00\xff"
        fs.rename(f"{root}/d/a.json", f"{root}/d/c.json")
        fs.link(f"{root}/d/c.json", f"{root}/d/l.json")
        fs.link(f"{root}/d/c.json", f"{root}/e/l.json")
        assert (local / "e" / "l.json").read_text() == '{"k": 1}'
        assert sorted(fs.ls(f"{root}/d")) == ["b.bin", "c.json", "l.json"]
        assert sorted(fs.glob(f"{root}/d/*.json")) == [
            f"file:{local}/d/c.json", f"file:{local}/d/l.json"]
        assert fs.glob(f"{root}/missing/*") == []
        assert sorted(p.name for p in (local / "d").iterdir()) == [
            "b.bin", "c.json", "l.json"]
        assert ((local / "d" / "c.json").stat().st_ino
                == (local / "d" / "l.json").stat().st_ino)
        assert fs.qualify(root) == f"file:{local}"
        fs.delete(f"{root}/d")
        assert not (local / "d").exists() and (local / "e").exists()
