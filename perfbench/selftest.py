"""Self-tests of the benchmark. Run from the root of a checkout:

    python3 perfbench/selftest.py

1. Two traced runs with one seed report identical work counters.
2. Another seed gives other inputs.
3. Each output check passes on a real sink and fails on a deliberately
   corrupted copy of it.

Takes a few minutes (six benchmark runs plus one local[4] session). Prints
one line per test and exits non-zero if any fails.
"""
from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

# metrics that count work: they must repeat exactly for one seed
EXACT_UNITS = ("count",)
EXACT_NAMES = ("streaming.false_dup_ratio",)
# compressed shuffle sizes depend on the order rows reach a shuffle block,
# which task timing can change: they must repeat within this share
BYTES_TOLERANCE = 1e-3

FAILURES: list[str] = []


def report(name: str, ok: bool, detail: str = "") -> None:
    tail = f"  {detail}" if detail else ""
    print(f"{'PASS' if ok else 'FAIL'}  {name}{tail}", flush=True)
    if not ok:
        FAILURES.append(name)


def traced_counts(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    return {k: (v["value"], v["unit"]) for k, v in res["metrics"].items()
            if v["unit"] in EXACT_UNITS + ("bytes",) or k in EXACT_NAMES}


def test_counters_repeat(workloads) -> None:
    for w in workloads:
        a, b = traced_counts(w, 7), traced_counts(w, 7)
        diff = {}
        for k, (va, unit) in a.items():
            vb = b[k][0]
            ok = (abs(va - vb) <= BYTES_TOLERANCE * max(va, vb)
                  if unit == "bytes" else va == vb)
            if not ok:
                diff[k] = (va, vb)
        report(f"{w}: counters repeat for one seed", not diff, str(diff))


def input_digest(wl) -> str:
    """Digest of the rows a workload's call reads (file bytes would also
    differ by Spark's random file names)."""
    import pyarrow.parquet as pq
    t = pq.read_table(wl.input_path)
    rows = sorted(map(repr, zip(*(t.column(c).to_pylist()
                                  for c in t.column_names))))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def corrupt_first(files, fn) -> None:
    """Rewrite the first parquet file of ``files`` through ``fn(table)``."""
    import pyarrow.parquet as pq
    pq.write_table(fn(pq.read_table(files[0])), files[0])


def set_col(t, name, values):
    import pyarrow as pa
    i = t.column_names.index(name)
    return t.set_column(i, name, pa.array(values, t.schema.field(name).type))


def test_checks(spark, work: str) -> None:
    import pyarrow.parquet as pq

    from perfbench import tracing, workloads as W

    spans = tracing.Spans()

    # fresh_crawl: a changed main_text, a lost part_key, a duplicated file
    wl = W.FreshCrawl(spark, os.path.join(work, "fc"), 3, 4, spans)
    wl.prepare()
    out = wl.before(1)
    ok = not wl.check(out, wl.call(out))
    report("fresh_crawl: check passes on the real sink", ok)
    parsed = os.path.join(out, "parsed")
    for what, damage in (
            ("changed main_text", lambda d: corrupt_first(
                W.dir_files(d), lambda t: set_col(
                    t, "main_text",
                    [m + "x" for m in t.column("main_text").to_pylist()]))),
            ("missing part_key", lambda d: shutil.rmtree(
                os.path.dirname(W.dir_files(d)[0]))),
            ("duplicated rows", lambda d: shutil.copy(
                W.dir_files(d)[0], W.dir_files(d)[0] + ".copy.parquet"))):
        bad = os.path.join(work, "bad_fc")
        shutil.rmtree(bad, ignore_errors=True)
        shutil.copytree(parsed, bad)
        damage(bad)
        report(f"fresh_crawl: check rejects {what}",
               bool(W.check_crawl_sink(bad, wl.expected)))
    wl.after(out)

    # stream_drain: an unflagged planted re-capture, a zeroed hash
    wl = W.StreamDrain(spark, os.path.join(work, "sd"), 3, 4, spans)
    wl.prepare()
    for i in (0, 1):
        drop = wl.before(i)
        seen = set(wl.seen)
        ok = not wl.check(drop, wl.call(drop))
    report("stream_drain: check passes on the real sink", ok)
    new = sorted(set(W.dir_files(os.path.join(wl.out, "parsed")))
                 - drop["sink_before"])
    planted_url = sorted(drop["planted"])[0]
    for what, fn in (
            ("an unflagged re-capture", lambda t: set_col(
                t, "maybe_dup",
                [0 if u == planted_url else f for u, f in zip(
                    t.column("url").to_pylist(),
                    t.column("maybe_dup").to_pylist())])),
            ("a zeroed content_hash", lambda t: set_col(
                t, "content_hash",
                [0] + t.column("content_hash").to_pylist()[1:]))):
        bad = os.path.join(work, "bad_sd")
        shutil.rmtree(bad, ignore_errors=True)
        os.makedirs(bad)
        copies = [shutil.copy(f, os.path.join(bad, f"{k}.parquet"))
                  for k, f in enumerate(new)]
        owner = [c for c in copies if planted_url in pq.read_table(
            c, columns=["url"]).column("url").to_pylist()]
        corrupt_first(owner or copies, fn)
        t = pq.read_table(copies, columns=["url", "content_hash",
                                           "maybe_dup"])
        stats = W.check_drain(t, drop["planted"], seen)
        report(f"stream_drain: check rejects {what}", bool(stats["problems"]))

    # near_dup: a split mirror cluster, a lost identical pair, a wrong score
    wl = W.NearDup(spark, os.path.join(work, "nd"), 3, 4, spans)
    wl.prepare()
    out = wl.before(1)
    ok = not wl.check(out, wl.call(out))
    report("near_dup: check passes on the real sink", ok)
    pairs = pq.read_table(os.path.join(out, "pairs")).to_pylist()
    victim = max(pairs, key=lambda r: r["jaccard"])
    for what, sub, fn in (
            ("a split cluster", "clusters", lambda t: set_col(
                t, "cluster_id",
                [-1 if d == victim["doc_b"] else c for d, c in zip(
                    t.column("doc_id").to_pylist(),
                    t.column("cluster_id").to_pylist())])),
            ("a lost identical pair", "pairs", lambda t: t.filter(
                [not (a == victim["doc_a"] and b == victim["doc_b"])
                 for a, b in zip(t.column("doc_a").to_pylist(),
                                 t.column("doc_b").to_pylist())])),
            ("wrong jaccard scores", "pairs", lambda t: set_col(
                t, "jaccard",
                [j - 1e-3 for j in t.column("jaccard").to_pylist()]))):
        bad = os.path.join(work, "bad_nd")
        shutil.rmtree(bad, ignore_errors=True)
        shutil.copytree(out, bad)
        for f in W.dir_files(os.path.join(bad, sub)):
            corrupt_first([f], fn)
        problems, _ = W.check_near_dup(bad, wl.docs, random.Random(3))
        report(f"near_dup: check rejects {what}", bool(problems))
    wl.after(out)


def test_seed_changes_inputs(spark, work: str) -> None:
    from perfbench import tracing, workloads as W
    for cls in W.WORKLOADS.values():
        digests = []
        for seed in (1, 2):
            wl = cls(spark, os.path.join(work, f"seed_{cls.name}_{seed}"),
                     seed, 4, tracing.Spans())
            wl.prepare()
            if wl.input_path is None:  # stream drops are made per drain
                wl.before(0)
                wl.input_path = os.path.join(wl.src, "drop0000")
            digests.append(input_digest(wl))
        report(f"{cls.name}: another seed gives other inputs",
               digests[0] != digests[1])


def main() -> int:
    from perfbench import harness, run

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    run.isolate(work)
    spark = None
    try:
        spark = harness.start_session(harness.spark_conf(work, False), 4)
        test_seed_changes_inputs(spark, work)
        test_checks(spark, work)
    finally:
        if spark is not None:
            spark.stop()
        run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    test_counters_repeat(run.WORKLOADS)
    print(f"{len(FAILURES)} failed" if FAILURES else "all passed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
