"""spark-submit entry point.

Packages the engine and runs the full GOL build (``build_gol``: every
stage of the build graph, resumable in ``--out``) on a cluster:

    python tools/make_pyfiles_zip.py            # → dist/geodesk_gol_spark.zip
    spark-submit --py-files dist/geodesk_gol_spark.zip tools/submit.py \
        --sf-dir /data/sf1 --out /data/gol_out [--density 75000]

Re-running with the same ``--out`` resumes that build; a different
``--sf-dir`` or ``--density`` there raises ``ValueError`` (pick a new
``--out``).  ``--sf-dir`` and ``--out`` may be bare paths (resolved
against ``fs.defaultFS``, as Spark resolves them) or Hadoop URIs such as
``hdfs://`` or ``s3a://``: the build's markers, renames and links go
through Hadoop's ``FileSystem`` (``geodesk_gol_spark.fs``).  On a real
cluster the same partitioning applies: the pyramid/survivor frames
broadcast; only member-resolution joins shuffle.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/gol_submit_out")
    ap.add_argument("--density", type=int, default=500)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("geodesk-gol-build").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from geodesk_gol_spark.config import BuildSettings
    from geodesk_gol_spark.plans.pipeline import build_gol

    res = build_gol(
        spark, args.sf_dir, args.out,
        BuildSettings.for_fixture(args.density),
    )
    print(json.dumps({"out": args.out, "metrics": res.metrics}))
    spark.stop()


if __name__ == "__main__":
    main()
