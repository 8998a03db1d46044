"""Benchmark entry point.

    python3 perfbench/run.py --workload {query,update} --seed N \
        --seconds S --trace {0,1}

Run from the root of a source checkout.  Each call starts one fresh
process (``perfbench/workload.py``) on ``local[<cpu count>]`` with the
engine's defaults (any ``SPARK_GRAFT_*`` variable is dropped), keeps all
of its files under ``.perfbench_runs/`` in the checkout, and prints one
JSON line last: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the ``end_to_end`` metrics of ``BENCHMARK.json``, or with ``--trace 1``
its ``per_layer`` ones, each with the unit declared there).

The run's host steal share (from /proc/stat) and the ERROR lines in its
Spark log are recorded; every run's full record is appended to
``.perfbench_runs/runs.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = os.path.join(ROOT, ".perfbench_runs")
TIMEOUT_S = 170


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def _in_group(pid: str, pgid: int) -> bool:
    """True for a live (not zombie) process of process group ``pgid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
    except OSError:
        return False
    fields = st[st.rindex(")") + 2:].split()
    return fields[0] != "Z" and int(fields[2]) == pgid


def _wait_group_gone(pgid: int, timeout_s: float = 30.0) -> None:
    """Wait until no process of process group ``pgid`` is left."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if not any(_in_group(pid, pgid) for pid in os.listdir("/proc")
                   if pid.isdigit()):
            return
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["query", "update"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "geodesk_gol_spark")):
        print("perfbench: no geodesk_gol_spark package next to perfbench/; "
              "run from a source checkout", file=sys.stderr)
        return 2

    run_dir = os.path.join(
        RUNS, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(run_dir, "tmp")
    env.update({
        "PYTHONPATH": ROOT,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    # a terminated benchmark still takes its process group down (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    log_path = os.path.join(run_dir, "spark.log")
    steal0, total0 = _cpu_ticks()
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.workload",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--run-dir", run_dir],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # the JVM and Python workers share the child's process group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            _wait_group_gone(proc.pid)
    wall = time.time() - t0
    steal1, total1 = _cpu_ticks()
    steal_pct = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)

    with open(log_path, errors="replace") as f:
        log_lines = f.read().splitlines()
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        sys.stderr.write("\n".join(log_lines[-40:]) + "\n")
        print(f"perfbench: workload process "
              f"{'timed out' if code is None else f'exited {code}'}",
              file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    with open(result_path) as f:
        res = json.load(f)
    layers = res.pop("layers")
    layers["session.log_errors"] = sum(" ERROR " in x for x in log_lines)
    layers["run.steal_pct"] = steal_pct
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "wall_s": wall, "time": t0, **res, "layers": layers}
    with open(os.path.join(RUNS, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = layers if args.trace else res["metrics"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec}
    for k, v in metrics.items():
        print(f"{k:48s} {v['value']:14.4f} {v['unit']}")
    for c in res["checks"]:
        print(f"failed check {c}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
