"""Pre-warm the gate disk cache (.gatecache) for the driver's CORRECTNESS
sweep.

The driver calls each ``queries()`` entry independently; the first call at
a scale factor runs the full build stage graph (``gate.ctx`` →
``plans.pipeline.build_gol``) into the cache.  Warming
the cache ahead of time makes every driver call a fast parquet load —
protection against per-query driver timeouts.

Run after the LAST code change of a round (the cache key fingerprints the
package source, so any later edit invalidates it):

    python tools/warm_gate_cache.py            # sf0.001 + sf0.01
    python tools/warm_gate_cache.py /root/testdata/sf0.1
"""

from __future__ import annotations

import os
import shutil
import sys
import time

# this checkout's engine, wherever the checkout lives
sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geodesk_gol_spark import gate  # noqa: E402
from geodesk_gol_spark.session import get_spark  # noqa: E402


def main() -> None:
    sfs = sys.argv[1:] or ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    # prune stale fingerprints first (old code states, dead weight)
    root = gate._PKG.parent / ".gatecache"
    live = {gate._cache_dir(sf).name for sf in sfs}
    fp = gate._code_fingerprint()
    if root.exists():
        for p in root.iterdir():
            # keep current-fingerprint dirs (incl. archive_* memos) and
            # .tmp / .tmp.<pid> — another builder's in-flight staging
            if (p.is_dir() and p.name not in live and fp not in p.name
                    and not p.name.endswith(".tmp") and ".tmp." not in p.name):
                shutil.rmtree(p)
                print(f"pruned stale {p.name}")
    spark = get_spark("local[8]", app_name="gate-warm")
    import __spark_entry__ as entrymod

    for sf in sfs:
        t0 = time.time()
        gate.ctx(spark, sf)
        print(f"warm ctx {sf}: {time.time() - t0:.1f}s → {gate._cache_dir(sf)}")
        # run EVERY gate query once: triggers the derived disk memos the
        # ctx warm alone does not (PBF build, archive save/load, .osc
        # docs) so the gate sweep pays no cold build anywhere
        for name, fn in entrymod.queries().items():
            t1 = time.time()
            try:
                fn(spark, sf).count()
            except Exception as e:  # keep warming; the sweep will report
                print(f"  {name}: WARM ERROR {type(e).__name__}: "
                      f"{str(e)[:120]}")
                continue
            dt = time.time() - t1
            if dt > 2:
                print(f"  {name}: {dt:.1f}s")
        print(f"warm {sf} total: {time.time() - t0:.1f}s")
    spark.stop()


if __name__ == "__main__":
    main()
