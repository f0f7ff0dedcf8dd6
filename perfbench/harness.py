"""Set-up, the timed loop, and the metrics one run reports.

A run starts a ``local[cpus]`` session three times (set-up time is the
median), makes the workload's inputs, runs one untimed warm-up iteration
through the workload's own path, then repeats the timed call until
``seconds`` have passed. With tracing on it also writes the Spark event log
to the work directory, listens to streaming progress, and afterwards
replays the workload's pages through the kernel in-process.
"""
from __future__ import annotations

import json
import os
import statistics
import time
import traceback

from . import tracing
from .workloads import WORKLOADS

SETUPS = 3
SCAN_REPEATS = 3

END_TO_END = {"wall_s": "s", "pages_per_s": "1/s", "setup_s": "s",
              "peak_rss_mb": "MB"}


def spark_conf(work: str, trace: bool) -> dict:
    conf = {
        # small and fixed: the JVM shares the machine
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # heap fixed at its maximum, so the JVM's share of peak RSS does
        # not depend on when G1 chose to grow the heap. C1 only: in a JVM
        # that lives for one ~40 s run, C2 compilation burns 3-4 cores for
        # the first calls and its progress varies from run to run; C1
        # settles after one warm-up. No /tmp/hsperfdata_* file, and JVM
        # temp files in the work dir.
        "spark.driver.extraJavaOptions":
            "-Xms1g -XX:TieredStopAtLevel=1 -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": str(bool(trace)).lower(),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def start_session(conf: dict, cpus: int):
    """Session start plus a warm-up job that brings up one Python worker
    per core, each with the kernel imported and run once."""
    from htmlparser_spark.pipeline.job import build_session

    def warm(batches):
        from htmlparser_spark.pipeline.kernel_stage import parse_html
        for pdf in batches:
            parse_html(b"<p>warm</p>")
            yield pdf

    spark = build_session("perfbench", cpus=cpus, shuffle_partitions=cpus,
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    (spark.range(0, cpus, 1, cpus).mapInPandas(warm, "id long")
     .write.format("noop").mode("overwrite").save())
    return spark


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def run(workload: str, seed: int, seconds: int, trace: bool, work: str,
        cpus: int, log) -> tuple[dict, dict]:
    """One benchmark run: returns (the printed result, the run record)."""
    proc = tracing.ProcTree()
    spans = tracing.Spans()
    conf = spark_conf(work, trace)
    spark, setups = None, []
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            with spans.span("setup"):
                spark = start_session(conf, cpus)
            setups.append(time.perf_counter() - t)
        log(f"set-up {[round(s, 2) for s in setups]} s on local[{cpus}]")
        return _measure(spark, WORKLOADS[workload], seed, seconds, trace,
                        work, cpus, proc, spans, setups, log)
    finally:
        if spark is not None:
            spark.stop()


def _measure(spark, cls, seed, seconds, trace, work, cpus, proc, spans,
             setups, log) -> tuple[dict, dict]:
    wl = cls(spark, work, seed, cpus, spans)
    proc.sample()
    t = time.perf_counter()
    with spans.span("prepare"):
        wl.prepare()
    log(f"inputs and prepared state {time.perf_counter() - t:.1f} s")

    problems = []
    with spans.span("warmup"):
        st = wl.before(0)
        problems += wl.check(st, wl.call(st))
        wl.after(st)
    wl.counts = {}  # counters come from the first timed iteration
    if problems:
        log(f"warm-up output check: {problems}")

    listener = None
    if trace:
        listener = tracing.ProgressListener()
        spark.streams.addListener(listener)

    iters, attempted, failed = [], 0, 0
    deadline = time.perf_counter() + seconds
    i = 1
    while True:
        st = wl.before(i)
        attempted += 1
        cpu0 = proc.cpu_s()
        gc0 = tracing.jvm_gc_s(spark) if trace else 0.0
        t0, c0 = time.time(), time.perf_counter()
        try:
            result = wl.call(st)
            raised = False
        except Exception:  # a failed call is counted, and the run goes on
            failed += 1
            raised = True
            log(f"iteration {i} raised:\n{traceback.format_exc()}")
        wall, t1 = time.perf_counter() - c0, time.time()
        if not raised:
            it_problems = wl.check(st, result)
            if it_problems:
                failed += 1
                problems += it_problems
            else:
                iters.append({
                    "wall": wall, "t0": t0, "t1": t1,
                    "cpu": proc.cpu_s() - cpu0,
                    "gc": (tracing.jvm_gc_s(spark) - gc0) if trace else 0.0})
        proc.sample()
        wl.after(st)
        # iterations (with their untimed preparation and clean-up) start
        # until `seconds` have passed: the count is ceil(seconds / cycle)
        if time.perf_counter() >= deadline:
            break
        i += 1

    walls = [it["wall"] for it in iters]
    log(f"{len(iters)} timed iterations: "
        f"{[round(w, 3) for w in walls]} s; {wl.rows} rows per call")
    metrics = {
        "wall_s": _median(walls),
        "pages_per_s": _median([wl.rows / w for w in walls]),
        "setup_s": statistics.median(setups),
        "peak_rss_mb": proc.peak_rss_mb(),
    }
    out = {"correct": not problems and failed == 0 and bool(iters),
           "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in metrics.items()}}
    record = {"workload": wl.name, "seed": seed, "cpus": cpus,
              "trace": trace, "setups_s": setups, "iterations": iters,
              "rows_per_call": wl.rows, "problems": problems[:20],
              "peak_rss_mb_by_process": proc.peaks_mb(),
              "counts": wl.counts}
    if trace:
        layers = _layers(wl, iters, listener, work, cpus)
        out["metrics"] = layers
        record["spans"] = spans.rows
    record["metrics"] = out["metrics"]
    return out, record


def _scan_s(wl) -> float:
    """Median time to scan the workload's input the way its call does."""
    times = []
    for _ in range(SCAN_REPEATS):
        t = time.perf_counter()
        wl.scan().write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _layers(wl, iters, listener, work, cpus) -> dict:
    """Per-layer metrics of a traced run. Times from the event log and
    /proc have millisecond or clock-tick resolution, so they are reported
    as shares of the (microsecond-resolution) call wall."""
    from .workloads import dir_files, files_mb

    time.sleep(0.5)  # let the last listener and event-log events land
    ev = tracing.EventLog(os.path.join(work, "eventlog"))
    spans = wl.spans.rows
    per_it = []
    for it in iters:
        w, pct = it["wall"], 100 / it["wall"]
        win = ev.window(it["t0"], it["t1"])
        stream = listener.window(it["t0"], it["t1"])
        inside = {}
        for s in spans:
            if s["end"] is not None and it["t0"] <= s["start"] <= it["t1"]:
                inside[s["name"]] = (inside.get(s["name"], 0.0)
                                     + s["end"] - s["start"])
        per_it.append({
            **win,
            "python_pct": pct * win["py_task_sum_s"] / cpus,
            "sink_pct": pct * win["sink_s"],
            "readback_pct": pct * win["readback_s"],
            "trigger_pct": pct * stream["triggerExecution"],
            "add_batch_pct": pct * stream["addBatch"],
            "minhash_pct": pct * inside.get("ops.dedup_minhash_lsh", 0.0),
            "cc_pct": pct * inside.get("ops.dedup_cluster_cc", 0.0),
            "ops_bytes": sum(
                ev.window(s["start"], s["end"])["exchange_bytes"]
                for s in spans if s["name"].startswith("ops.")
                and it["t0"] <= s["start"] <= it["t1"]),
            "gc_pct": pct * it["gc"], "cpu": it["cpu"], "wall": w})

    def med(key):
        return _median([r[key] for r in per_it])

    first = per_it[0] if per_it else {}
    replay = tracing.replay_kernel(wl.replay_pages())
    in_files = dir_files(wl.input_path)
    counts = {"job.sink_files": 0, "job.sink_mb": 0.0,
              "streaming.input_rows": 0, "streaming.maybe_dup_rows": 0,
              "streaming.missed_true_dups": 0,
              "streaming.false_dup_ratio": 0.0,
              "streaming.bloom_bits_set": 0, "streaming.history_rows": 0,
              "ops.verified_pairs": 0, "ops.largest_cluster": 0,
              **wl.counts}
    m = {
        "sources.scan_s": (_scan_s(wl), "s"),
        "sources.input_rows": (sum(pq_rows(f) for f in in_files), "count"),
        "sources.input_mb": (files_mb(in_files), "MB"),
        "kernel.tokenize_s": (replay["tokenize_s"], "s"),
        "kernel.tree_s": (replay["tree_s"], "s"),
        "kernel.extract_s": (replay["extract_s"], "s"),
        "kernel.pages_per_s_1core": (replay["pages_per_s_1core"], "1/s"),
        "kernel.tokens": (replay["tokens"], "count"),
        "kernel.nodes": (replay["nodes"], "count"),
        "kernel.parse_errors": (replay["parse_errors"], "count"),
        "kernel.err_pages": (replay["err_pages"], "count"),
        "kernel_stage.batch_s": (replay["batch_s"], "s"),
        "kernel_stage.glue_s": (replay["glue_s"], "s"),
        "kernel_stage.glue_pct": (100 * replay["glue_s"] / replay["batch_s"],
                                  "%"),
        "kernel_stage.python_pct": (med("python_pct"), "%"),
        "kernel_stage.task_max_over_p50": (med("py_task_max_over_p50"),
                                           "ratio"),
        "job.sink_pct": (med("sink_pct"), "%"),
        "job.readback_pct": (med("readback_pct"), "%"),
        "job.between_jobs_s": (med("between_jobs_s"), "s"),
        "job.spark_jobs": (first.get("spark_jobs", 0), "count"),
        "job.exchange_records": (first.get("exchange_records", 0), "count"),
        "job.exchange_bytes": (first.get("exchange_bytes", 0), "bytes"),
        "job.spill_bytes": (first.get("spill_bytes", 0), "bytes"),
        "job.sink_files": (counts["job.sink_files"], "count"),
        "job.sink_mb": (counts["job.sink_mb"], "MB"),
        "streaming.trigger_pct": (med("trigger_pct"), "%"),
        "streaming.add_batch_pct": (med("add_batch_pct"), "%"),
        "streaming.input_rows": (counts["streaming.input_rows"], "count"),
        "streaming.history_rows": (counts["streaming.history_rows"],
                                   "count"),
        "streaming.bloom_bits_set": (counts["streaming.bloom_bits_set"],
                                     "count"),
        "streaming.maybe_dup_rows": (counts["streaming.maybe_dup_rows"],
                                     "count"),
        "streaming.missed_true_dups": (counts["streaming.missed_true_dups"],
                                       "count"),
        "streaming.false_dup_ratio": (counts["streaming.false_dup_ratio"],
                                      "ratio"),
        "ops.minhash_pct": (med("minhash_pct"), "%"),
        "ops.cc_pct": (med("cc_pct"), "%"),
        "ops.verified_pairs": (counts["ops.verified_pairs"], "count"),
        "ops.largest_cluster": (counts["ops.largest_cluster"], "count"),
        "ops.shuffle_bytes": (first.get("ops_bytes", 0), "bytes"),
        "proc.cpu_s": (med("cpu"), "s"),
        "proc.jvm_gc_pct": (med("gc_pct"), "%"),
        "trace.call_s": (med("wall"), "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def pq_rows(path: str) -> int:
    import pyarrow.parquet as pq
    return pq.ParquetFile(path).metadata.num_rows


def write_record(record: dict, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{record['workload']}-seed{record['seed']}"
                        f"-trace{int(record['trace'])}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    return path


def summary_lines(out: dict, cpus: int) -> list[str]:
    lines = [f"local[{cpus}]  correct={out['correct']}  "
             f"attempted={out['attempted']}  failed={out['failed']}  "
             f"fail_ratio={out['failed'] / max(out['attempted'], 1):.3f}"]
    for k, v in out["metrics"].items():
        lines.append(f"  {k:32s} {v['value']:>14.6g} {v['unit']}")
    return lines

