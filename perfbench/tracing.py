"""Measurement taken from outside the program.

Nothing here changes how the library runs under Spark; only the in-process
replay wraps ``parse_html`` with a timer. The per-layer numbers come from
five sources:

- spans the benchmark records around its own calls into the library;
- ``/proc`` readings of the benchmark's process tree (its own process, the
  JVM it launched, and the JVM's Python workers);
- the Spark event log, written to the benchmark's work directory and
  attributed to each timed call by the call's wall-clock window;
- a ``StreamingQueryListener`` that records every micro-batch's progress;
- a single-thread, in-process replay of the kernel and of the Arrow batch
  stage (``parse_batch``) on the workload's own pages.
"""
from __future__ import annotations

import contextlib
import datetime
import json
import os
import statistics
import time

from pyspark.sql.streaming import StreamingQueryListener

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# --- spans -------------------------------------------------------------------

class Spans:
    """In-memory span recorder: (id, name, start, end, parent), epoch
    seconds, so spans line up with the event log's millisecond clock."""

    def __init__(self):
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        row = {"id": len(self.rows), "name": name, "start": time.time(),
               "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.rows.append(row)
        self._stack.append(row["id"])
        try:
            yield row
        finally:
            row["end"] = time.time()
            self._stack.pop()


# --- /proc -------------------------------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return s[s.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its live descendants."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class ProcTree:
    """CPU time and peak RSS of this process and every descendant."""

    def __init__(self):
        self._hwm_kb: dict[int, int] = {}
        self._names: dict[int, str] = {}

    def cpu_s(self) -> float:
        """User + system time of the live tree, including reaped children
        (cutime/cstime), so a worker that exited still counts."""
        total = 0
        for pid in tree_pids():
            f = _stat_fields(pid)
            if f is not None:
                total += sum(int(x) for x in f[11:15])
        return total / _CLK_TCK

    def sample(self) -> None:
        """Fold each live process's own peak RSS (VmHWM) into the record."""
        for pid in tree_pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("Name:"):
                            self._names[pid] = line.split()[1]
                        elif line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            if kb > self._hwm_kb.get(pid, 0):
                                self._hwm_kb[pid] = kb
                            break
            except OSError:
                continue

    def peaks_mb(self) -> list[tuple[int, str, float]]:
        return sorted(((pid, self._names.get(pid, "?"), kb / 1024)
                       for pid, kb in self._hwm_kb.items()),
                      key=lambda r: -r[2])

    def peak_rss_mb(self) -> float:
        """Sum of per-process peaks: an upper bound on the tree's peak."""
        return sum(self._hwm_kb.values()) / 1024


def jvm_gc_s(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime()
               for b in mf.getGarbageCollectorMXBeans()) / 1000


# --- Spark event log ---------------------------------------------------------

def _union_s(intervals) -> float:
    """Total length of the union of [start, end] millisecond intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000


def _scope_names(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", ()):
        scope = rdd.get("Scope")
        if scope:
            names.add(json.loads(scope).get("name", "").strip())
    return names


class EventLog:
    """Parsed Spark event logs (uncompressed, non-rolling JSON lines), one
    file per application; ids are keyed by (file, id) because every
    session restart numbers its jobs and stages from 0 again."""

    def __init__(self, log_dir: str):
        self.jobs: dict[tuple, dict] = {}
        self.stages: dict[tuple, dict] = {}
        self.tasks: list[dict] = []
        for app in sorted(os.listdir(log_dir)):
            with open(os.path.join(log_dir, app)) as f:
                for line in f:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:
                        continue  # the in-progress file may end mid-line
                    self._add(app, ev)

    def _add(self, app: str, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[app, ev["Job ID"]] = {
                "start": ev["Submission Time"], "end": None,
                "stages": [(app, s) for s in ev.get("Stage IDs", [])],
                "sql": props.get("spark.sql.execution.id")}
        elif kind == "SparkListenerJobEnd":
            if (app, ev["Job ID"]) in self.jobs:
                self.jobs[app, ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            self.stages[app, info["Stage ID"]] = {
                "start": info.get("Submission Time"),
                "end": info.get("Completion Time"),
                "scopes": _scope_names(info)}
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.append({
                "stage": (app, ev["Stage ID"]),
                "dur": (info["Finish Time"] - info["Launch Time"]) / 1000,
                "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                "sw_records": sw.get("Shuffle Records Written", 0),
                "spill": (m.get("Memory Bytes Spilled", 0)
                          + m.get("Disk Bytes Spilled", 0))})

    def window(self, t0: float, t1: float) -> dict:
        """Layer numbers for the jobs submitted in [t0, t1] (epoch s)."""
        lo, hi = int(t0 * 1000), int(t1 * 1000) + 1
        jobs = [j for j in self.jobs.values()
                if lo <= j["start"] <= hi and j["end"] is not None]
        stage_ids = {s for j in jobs for s in j["stages"]}
        ran = {s: self.stages[s] for s in stage_ids
               if s in self.stages and self.stages[s]["start"] is not None}
        tasks = [t for t in self.tasks if t["stage"] in ran]
        py = {s for s, st in ran.items() if "MapInPandas" in st["scopes"]}
        write = {s for s, st in ran.items() if "WriteFiles" in st["scopes"]}
        scan = {s for s, st in ran.items()
                if any(n.startswith("Scan ") for n in st["scopes"])
                and s not in py and s not in write}
        py_durs = sorted(t["dur"] for t in tasks if t["stage"] in py)
        # jobs outside any SQL execution are file-listing jobs
        # (parallel partition discovery of a read-back)
        listing = [(j["start"], j["end"]) for j in jobs if j["sql"] is None]
        p50 = statistics.median(py_durs) if py_durs else 0.0
        return {
            "spark_jobs": len(jobs),
            "exchange_records": sum(t["sw_records"] for t in tasks),
            "exchange_bytes": sum(t["sw_bytes"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "py_task_sum_s": sum(py_durs),
            "py_task_max_over_p50": (py_durs[-1] / p50) if p50 else 0.0,
            "sink_s": _union_s((ran[s]["start"], ran[s]["end"])
                               for s in write),
            "readback_s": _union_s(
                [(ran[s]["start"], ran[s]["end"]) for s in scan] + listing),
            "between_jobs_s": max(0.0, (t1 - t0) - _union_s(
                (j["start"], j["end"]) for j in jobs)),
        }


# --- streaming progress ------------------------------------------------------

class ProgressListener(StreamingQueryListener):
    """Keeps (trigger start in epoch s, input rows, durationMs) for every
    micro-batch."""

    def __init__(self):
        self.progress: list[tuple[float, int, dict]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        start = datetime.datetime.fromisoformat(
            p.timestamp.replace("Z", "+00:00")).timestamp()
        self.progress.append((start, int(p.numInputRows),
                              dict(p.durationMs)))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def window(self, t0: float, t1: float) -> dict:
        """Summed durations of the micro-batches triggered in [t0, t1]."""
        rows = [d for t, _, d in self.progress if t0 <= t <= t1]
        return {k: sum(d.get(k, 0) for d in rows) / 1000
                for k in ("triggerExecution", "addBatch")}


# --- kernel replay -----------------------------------------------------------

def _tokenize_count(units: str) -> int:
    """Standalone tokenizer pass, driven the way kernel.api.tokenize drives
    it (script state switched on <script>), without building token
    tuples. Returns the number of tokens."""
    from htmlparser_spark.kernel.tokenizer import (
        EOF_TOKEN, START_TAG, KernelError, Tokenizer)
    tk = Tokenizer(units, on_error=lambda code: None, fast=True)
    n = 0
    try:
        while True:
            tok = tk.next_token()
            if tok is None or tok.t == EOF_TOKEN:
                return n
            n += 1
            if tok.t == START_TAG and tok.tag.name == "script":
                tk.switch_to_script_data_state()
    except KernelError:
        return n


def replay_kernel(pages: list[tuple]) -> dict:
    """Single-thread replay on (url, warc_ts, html, lang) rows.

    Passes, each over every page: tokenizer alone; tokenizer + tree
    construction; main-content extraction on the built trees; the public
    ``parse_html``; and ``parse_batch`` on 512-row pandas batches with a
    timer around each ``parse_html`` it calls. The batch glue is the
    batch time minus the time inside ``parse_html``."""
    import pandas as pd

    from htmlparser_spark.kernel import api
    from htmlparser_spark.kernel.extract import extract_main_content
    from htmlparser_spark.kernel.parser import Parser
    from htmlparser_spark.kernel.tokenizer import KernelError
    from htmlparser_spark.pipeline import kernel_stage

    clock = time.perf_counter
    units = []
    for _, _, html, _ in pages:
        try:
            units.append(api.decode_input(html))
        except KernelError:
            units.append("")

    t = clock()
    tokens = sum(_tokenize_count(u) for u in units)
    tokenize_s = clock() - t

    t = clock()
    docs = []
    for u in units:
        p = Parser(u, fast=True)
        try:
            p.run()
        except (KernelError, RecursionError):
            pass  # the partial tree is what parse_html extracts from
        docs.append(p.document)
    parse_s = clock() - t

    t = clock()
    nodes = 0
    for d in docs:
        try:
            nodes += extract_main_content(d)[2].n
        except RecursionError:
            pass
    extract_s = clock() - t

    t = clock()
    err_pages = parse_errors = 0
    for _, _, html, _ in pages:
        r = api.parse_html(html, fast=True, extract=True, want_dom=False)
        err_pages += r["status"] != api.OK
        parse_errors += sum(r["errors"].values())
    full_s = clock() - t

    inner = [0.0]
    orig = kernel_stage.parse_html

    def timed_parse_html(*a, **k):
        t0 = clock()
        try:
            return orig(*a, **k)
        finally:
            inner[0] += clock() - t0

    cols = ["url", "warc_ts", "html", "lang"]
    batches = [pd.DataFrame(pages[i:i + 512], columns=cols)
               .assign(part_key=0, content_hash=0)
               for i in range(0, len(pages), 512)]
    kernel_stage.parse_html = timed_parse_html
    try:
        t = clock()
        for _ in kernel_stage.parse_batch(iter(batches)):
            pass
        batch_s = clock() - t
    finally:
        kernel_stage.parse_html = orig

    return {
        "tokenize_s": tokenize_s,
        "tree_s": parse_s - tokenize_s,
        "extract_s": extract_s,
        "pages_per_s_1core": len(pages) / full_s,
        "tokens": tokens,
        "nodes": nodes,
        "parse_errors": parse_errors,
        "err_pages": err_pages,
        "batch_s": batch_s,
        "glue_s": batch_s - inner[0],
    }
