"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload fresh_crawl --seed 1 --seconds 6 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. A
readable summary goes to standard error, and a record of the run (set-up
times, per-iteration walls, spans when traced) to
``.perfbench_out/<workload>-seed<seed>-trace<0|1>.json``.

All scratch data lives in ``.perfbench_work/`` under the checkout and is
removed at exit; the Spark JVM and its Python workers are stopped and
waited for.
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

ROOT = os.getcwd()
WORKLOADS = ("fresh_crawl", "stream_drain", "near_dup")
CPUS = min(4, os.cpu_count() or 1)  # local[N]; recorded in every run record


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the work directory, and make the workers import this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # a cluster-manager variable would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the dedup operators would checkpoint there instead of caching
    os.environ.pop("SPARK_GRAFT_CKPT_DIR", None)


def stop_jvm() -> None:
    """Close the py4j gateway and wait for the JVM (and anything it left
    behind) to exit."""
    from pyspark import SparkContext

    from perfbench.tracing import tree_pids

    gateway = SparkContext._gateway
    if gateway is None:
        return
    left = [p for p in tree_pids() if p != os.getpid()]
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    for pid in left:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "htmlparser_spark",
                                       "__init__.py")):
        log("htmlparser_spark/ is not here: run from the root of a checkout")
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    try:
        from perfbench import harness
        out, record = harness.run(args.workload, args.seed, args.seconds,
                                  bool(args.trace), work, CPUS, log)
        path = harness.write_record(record, os.path.join(ROOT,
                                                         ".perfbench_out"))
        for line in harness.summary_lines(out, CPUS):
            log(line)
        log(f"record: {os.path.relpath(path, ROOT)}")
    finally:
        try:
            stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
