"""The GOL build as ONE ordered stage graph: per-stage parquet
checkpoints (resume), per-partition lineage and a metrics table.

Mirrors the reference's restartable four-phase build
(src/build/GolBuilder.cpp:61-115: ANALYZE → SORT → VALIDATE → COMPILE
with ``startPhase``).  ``STAGES`` in order, with the
outputs each writes: docs; features (features_unified — per-kind frames
are ``split_features`` of its read-back); catalog (proj, tile_catalog);
assignment (the 8 ``assign_features`` frames, J1-J6); rows; validate
(foreign_stubs J8, then tile_exports J7 projected from its read-back,
and synthetic_tags A9); store
(the Hilbert-clustered store and its lineage: O1/O4/S4); check;
metrics (per-tile skew evidence from the lineage table).

Callers select what they need and :func:`run_stages` runs only that:
:func:`build_gol` and the gate's cache build (``gate._materialize``)
ask for every stage; ``bench.run_pipeline`` for rows, points, extents,
feature_tiles and features_unified; the ``s1_pbf_build_store`` gate row
for rows, with features_unified given from a decoded PBF file.

Resume never mixes builds: a stage that re-runs first deletes every
output downstream of it, and ``_build.json`` pins the sf_dir and
BuildSettings of a directory's first build — a resume with other ones
raises ``ValueError``.
"""

from __future__ import annotations

import io
import json
import os
import time
from collections.abc import Callable, Iterable
from dataclasses import asdict, dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fs
from ..config import BuildSettings
from ..functions.mercator import with_projection
from ..operators import validate as V
from ..operators.assign import assign_features
from ..operators.check import check_store
from ..operators.compile_tiles import compile_feature_rows, write_store
from ..plans.pyramid import TileCatalog, build_tile_catalog
from ..sources.parser import parse_features_unified, split_features
from ..sources.synth import synth_docs


LINEAGE = pa.schema([
    ("stage", pa.string()), ("batch", pa.int32()), ("tile_lo", pa.int64()),
    ("tile_hi", pa.int64()), ("seconds", pa.float64()),
    ("resumed", pa.bool_()), ("tile_id", pa.int32()), ("n_rows", pa.int64()),
])


def _done(path: str) -> bool:
    return fs.exists(os.path.join(path, "_SUCCESS"))


@dataclass
class BuildResult:
    """One build directory: its read-back outputs and stage records."""

    spark: SparkSession
    sf_dir: str
    out_dir: str
    settings: BuildSettings
    frames: dict = field(default_factory=dict)
    metrics: list[dict] = field(default_factory=list)

    @property
    def catalog(self) -> TileCatalog:
        return self.frames["tile_catalog"]

    def path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def store_path(self) -> str:
        return self.path("store")

    def feats(self) -> dict[str, DataFrame]:
        return split_features(self.frames["features_unified"])

    def read(self, name: str):
        if name == "tile_catalog":
            data = fs.read_bytes(
                os.path.join(self.path(name), "part-00000.parquet"))
            return TileCatalog(settings=self.settings,
                               tiles=pd.read_parquet(io.BytesIO(data)))
        return self.spark.read.parquet(self.path(name))

    def checkpoint(self, name: str, value):
        """Write one output to parquet and keep its read-back."""
        path = self.path(name)
        if isinstance(value, TileCatalog):
            value = pa.Table.from_pandas(value.tiles, preserve_index=False)
        if isinstance(value, pa.Table):
            # driver-side tables: one file keeps their dtypes and order,
            # and runs no Spark job
            buf = pa.BufferOutputStream()
            pq.write_table(value, buf)
            fs.delete(path)
            fs.write_bytes(os.path.join(path, "part-00000.parquet"),
                           buf.getvalue().to_pybytes())
            fs.write_text(os.path.join(path, "_SUCCESS"), "")
            self.frames[name] = self.read(name)
        else:
            value.write.mode("overwrite").parquet(path)
            # the file source makes the written schema nullable, just as
            # inference would, without inference's job
            self.frames[name] = self.spark.read.schema(
                value.schema).parquet(path)
        return self.frames[name]


@dataclass(frozen=True)
class Stage:
    name: str
    reads: tuple[str, ...]
    writes: tuple[str, ...]
    # returns outputs to checkpoint (or writes them itself); any other
    # key is recorded in the stage's metrics row
    fn: Callable[[BuildResult], dict]


def _catalog(b: BuildResult) -> dict:
    # the pyramid consumes only the cell grid — checkpoint just those
    # columns (tags/members stay in the features checkpoint)
    proj = b.checkpoint("proj", with_projection(b.feats()["nodes"]).select(
        "id", "x", "y", "cell_col", "cell_row"))
    catalog = build_tile_catalog(proj, b.settings)
    return {"tile_catalog": catalog, "tiles": len(catalog.tiles)}


def _assignment(b: BuildResult) -> dict:
    res = assign_features(b.feats(), b.catalog)
    # J6 driver-residue meters ride into the metrics table so a
    # pathological super-relation corpus is visible, not silent
    return {**res.pop("j6_stats"), **res}


def _rows(b: BuildResult) -> dict:
    f, feats = b.frames, b.feats()
    return {"rows": compile_feature_rows(
        f["feature_tiles"], f["points"], f["extents"],
        feats["nodes"], feats["ways"], feats["relations"],
    )}


def _validate(b: BuildResult) -> dict:
    f, feats = b.frames, b.feats()
    # J8 is the one stub-pair computation; J7 projects its read-back
    stubs = b.checkpoint("foreign_stubs", V.foreign_ref_stubs(
        feats["ways"], feats["relations"],
        f["node_tiles"], f["way_homes"], f["rel_homes"]))
    return {
        "tile_exports": V.export_tables(stubs),
        "synthetic_tags": (
            V.duplicate_location_nodes(f["points"])
            .unionByName(V.orphan_nodes(
                feats["nodes"], feats["ways"], feats["relations"]))
            .unionByName(V.missing_member_tags(f["extents"]))
        ),
    }


def _store(b: BuildResult) -> dict:
    # the one store writer: file ranges planned from row counts,
    # committed in resumable batches (a killed build redoes only the
    # uncommitted ones); its counts give the lineage table's per-batch
    # and per-tile rows (north rule "per-partition lineage")
    lineage = write_store(b.frames["rows"], b.store_path())
    batches = [x for x in lineage if x["stage"] == "store_batch"]
    return {
        "lineage": pa.Table.from_pylist(lineage, schema=LINEAGE),
        "batches": len(batches),
        "batches_resumed": sum(x["resumed"] for x in batches),
    }


def _check(b: BuildResult) -> dict:
    # integrity check (gol check analogue)
    f = b.frames
    return {
        r["invariant"]: int(r["n_bad"])
        for r in check_store(f["store"], b.catalog, f["tile_exports"],
                             f["foreign_stubs"]).collect()
    }


def _metrics(b: BuildResult) -> dict:
    # per-tile skew evidence derived from the lineage table's per-tile
    # rows — the store is not rescanned; lineage IS the per-partition
    # evidence
    skew = (
        b.frames["lineage"].filter(F.col("stage") == "store_tile")
        .agg(
            F.count("*").alias("tiles"),
            F.max("n_rows").alias("max_tile_rows"),
            F.expr("percentile_approx(n_rows, 0.5)").alias("p50_tile_rows"),
            F.sum("n_rows").alias("total_rows"),
        ).collect()[0]
    )
    return {k: int(v) for k, v in skew.asDict().items()}


ASSIGNMENT = ("points", "node_tiles", "way_homes", "way_ghosts", "rel_homes",
              "extents", "unresolved_relations", "feature_tiles")

STAGES: tuple[Stage, ...] = (
    Stage("docs", (), ("docs",),
          lambda b: {"docs": synth_docs(b.spark, b.sf_dir)}),
    # ONE scan+explode+parse of the docs table
    Stage("features", ("docs",), ("features_unified",), lambda b: {
        "features_unified": parse_features_unified(b.frames["docs"])}),
    Stage("catalog", ("features_unified",), ("proj", "tile_catalog"),
          _catalog),
    Stage("assignment", ("features_unified", "tile_catalog"), ASSIGNMENT,
          _assignment),
    Stage("rows", ("feature_tiles", "points", "extents", "features_unified"),
          ("rows",), _rows),
    Stage("validate", ("features_unified", "node_tiles", "way_homes",
                       "rel_homes", "points", "extents"),
          ("tile_exports", "foreign_stubs", "synthetic_tags"), _validate),
    Stage("store", ("rows",), ("store", "lineage"), _store),
    Stage("check", ("store", "tile_catalog", "tile_exports", "foreign_stubs"),
          (), _check),
    Stage("metrics", ("lineage",), (), _metrics),
)

EVERYTHING = tuple(s.name for s in STAGES)


def _select(want: Iterable[str], given: dict) -> set[str]:
    """Stage and output names the wanted names (stages or outputs) need;
    a stage whose outputs are given reads nothing."""
    want = set(want)
    need = set(want)
    for st in reversed(STAGES):
        if st.name in want:
            need.update(st.writes)
        if st.name in want or need.intersection(st.writes):
            need.add(st.name)
            if not given.keys() & set(st.writes):
                need.update(st.reads)
    return need


def _downstream(i: int) -> list[str]:
    """Every output computed (transitively) from stage ``i``'s outputs."""
    stale, out = set(STAGES[i].writes), []
    for st in STAGES[i + 1:]:
        if stale.intersection(st.reads):
            stale.update(st.writes)
            out.extend(st.writes)
    return out


def _pin_settings(out_dir: str, sf_dir: str, settings: BuildSettings) -> bool:
    """Record the build's identity on first use of ``out_dir``; on a
    resume, refuse one that differs.  Returns whether it resumes."""
    path = os.path.join(out_dir, "_build.json")
    ident = json.loads(json.dumps(
        {"sf_dir": fs.qualify(sf_dir), "settings": asdict(settings)}))
    if fs.exists(path):
        held = json.loads(fs.read_text(path))
        if held != ident:
            raise ValueError(
                f"{out_dir} holds the build of {held}; resuming it as "
                f"{ident} would mix two builds")
        return True
    fs.write_text(path, json.dumps(ident))
    return False


def run_stages(spark: SparkSession, sf_dir: str, out_dir: str,
               settings: BuildSettings, want: Iterable[str],
               given: dict[str, DataFrame] | None = None) -> BuildResult:
    """Compute (or resume) the stages that ``want`` needs in ``out_dir``.

    Each needed output is checkpointed to parquet and read back with the
    schema it was written with (a resumed output's schema is inferred);
    a stage whose needed outputs all carry ``_SUCCESS`` is skipped, and
    one that runs first deletes everything downstream of it.  ``given``
    supplies outputs in place of the stage that computes them.  Every
    stage that ran appends ``{"stage", "seconds", ...}`` to ``metrics``
    and to ``metrics.jsonl``.
    """
    given = given or {}
    resumes = _pin_settings(out_dir, sf_dir, settings)
    need = _select(want, given)
    b = BuildResult(spark, sf_dir, out_dir, settings)
    for i, st in enumerate(STAGES):
        if st.name not in need:
            continue
        outs = [o for o in st.writes if o in need]
        if resumes and outs and all(_done(b.path(o)) for o in outs):
            b.frames.update({o: b.read(o) for o in outs})
            continue
        for o in _downstream(i):
            fs.delete(b.path(o))
        t0 = time.time()
        res = ({o: given[o] for o in st.writes}
               if given.keys() & set(st.writes) else st.fn(b))
        for o in outs:
            if o in res:
                b.checkpoint(o, res[o])
            elif o not in b.frames:
                # written by the stage without a checkpoint (the store)
                b.frames[o] = b.read(o)
        b.metrics.append({
            "stage": st.name, "seconds": round(time.time() - t0, 3),
            **{k: v for k, v in res.items() if k not in st.writes},
        })
    # build-time persists are dead weight now: every output is a read-back
    spark.catalog.clearCache()
    # read and rewrite: not every filesystem can append
    log = os.path.join(out_dir, "metrics.jsonl")
    fs.write_text(log, (fs.read_text(log) if fs.exists(log) else "")
                  + "".join(json.dumps(m) + "\n" for m in b.metrics))
    return b


def build_gol(spark: SparkSession, sf_dir: str, out_dir: str,
              settings: BuildSettings | None = None) -> BuildResult:
    """Run (or resume) the full build; returns catalog + metrics."""
    return run_stages(spark, sf_dir, out_dir,
                      settings or BuildSettings.for_fixture(), EVERYTHING)
