"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds a ``local[nproc]`` Spark session,
generates the workload's inputs from ``--seed``, sets up, measures whole
rounds for at least ``--seconds`` seconds, checks every output and prints
one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones
(see ``layers.py``). A human-readable report goes to stderr. All scratch
state lives under ``.bench_run/`` in the checkout and is removed on exit;
traced runs leave their spans under ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("scd2_dimension", "star_dedup")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    args.seed %= 1 << 32  # numpy seeds must be non-negative
    run_dir = ROOT / ".bench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir.mkdir(parents=True)
    # every temp file of this process and of the JVM stays in the run dir
    for var in ("TMPDIR", "TEMP", "TMP"):
        os.environ[var] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # spark-submit's short-lived launcher JVM would otherwise use the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    (run_dir / "tmp").mkdir()
    sys.path.insert(0, str(ROOT))
    spark = None
    try:
        from perfbench import harness, layers, metrics
        from perfbench.wl_analytics import StarDedup
        from perfbench.wl_dimension import Scd2Dimension

        workload = {"scd2_dimension": Scd2Dimension, "star_dedup": StarDedup}[args.workload](args.seed)
        t0 = time.perf_counter()
        with ThreadPoolExecutor(1) as pool:
            # pure-Python input generation overlaps the JVM start
            prepared = pool.submit(workload.prepare, run_dir)
            spark = harness.start_session(run_dir, metrics.cpu_count(), workload.jvm_opts)
            t_session = time.perf_counter() - t0
            prepared.result()
        t_inputs = time.perf_counter() - t0 - t_session
        h = harness.Harness(spark, run_dir, args.seed, bool(args.trace))
        if args.trace:
            from perfbench.trace import patch_engine

            restore = patch_engine(h.tracer)
        t1 = time.perf_counter()
        workload.setup(h)
        setup = {"session": t_session, "inputs": t_inputs, "workload": time.perf_counter() - t1}
        wall = h.measure(workload, args.seconds)
        try:
            workload.finish(h)
        except Exception as exc:  # noqa: BLE001 - a failed final check is a result
            h.check(None, "end-of-run checks", False, repr(exc))
        if args.trace:
            h.tracer.count_jobs()
            h.tracer.dump(ROOT / ".bench_out" / f"spans-{args.workload}-{args.seed}.json")
            restore()
        result = layers.result(h, workload, setup, wall)
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
