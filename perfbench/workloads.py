"""The workloads: seeded inputs, the timed call into the library's public
entry points, and the output checks.

Every workload exposes the same steps, which ``harness.py`` drives:

- ``prepare()``: make the inputs from the seed and any prepared state
  (untimed, not part of set-up time);
- ``before(i)`` / ``after(st)``: per-iteration state that must exist before
  the call or be removed after it (untimed);
- ``call(st)``: the timed call; returns what the library returned;
- ``check(st, result)``: the output check, run after every iteration,
  the warm-up included;
- ``rows``: the rows one call parses, drains or dedups;
- ``counts``: exact work counters from the first timed iteration;
- ``replay_pages()`` / ``input_path``: what the traced run replays.

Each check returns a list of problems; an empty list means correct. Checks
read sinks with pyarrow, never through the code under test.
"""
from __future__ import annotations

import datetime as _dt
import os
import random
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
PAGES_ARROW = pa.schema([("url", pa.string()),
                         ("warc_ts", pa.timestamp("us", tz="UTC")),
                         ("html", pa.binary()), ("text", pa.string()),
                         ("lang", pa.string())])
REPLAY_PAGES = 300  # pages the traced run replays through the kernel


def synth_range(spark, seed: int, lo: int, hi: int, partitions: int):
    """Synth pages for ids [lo, hi): ``synth.gen_rows`` over an id range,
    distributed like ``synth.synth_pages`` (which always starts at id 0)."""
    from htmlparser_spark.pipeline.schema import PAGES_SCHEMA
    from htmlparser_spark.synth import gen_rows

    def expand(batches):
        for pdf in batches:
            yield pd.DataFrame(gen_rows(seed, pdf["id"].tolist()),
                               columns=PAGE_COLS)

    return spark.range(lo, hi, 1, partitions).mapInPandas(expand, PAGES_SCHEMA)


def read_pages(path: str) -> list[tuple]:
    """(url, warc_ts, html, lang) rows of a pages parquet, in url/ts order."""
    t = pq.read_table(path, columns=["url", "warc_ts", "html", "lang"])
    rows = list(zip(*(t.column(c).to_pylist() for c in t.column_names)))
    return sorted(rows, key=lambda r: (r[0], r[1]))


def dir_files(path: str) -> list[str]:
    """Data files under ``path`` (recursively), skipping Spark's hidden
    _SUCCESS/.crc files."""
    out = []
    for d, _, names in os.walk(path):
        out.extend(os.path.join(d, n) for n in names
                   if n.endswith(".parquet"))
    return sorted(out)


def files_mb(files) -> float:
    return sum(os.path.getsize(f) for f in files) / 1e6


def ts_micros(ts) -> int:
    return int(ts.timestamp() * 1_000_000) if ts.tzinfo else \
        int(ts.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000)


def sample(rng: random.Random, rows: list, n: int) -> list:
    return rows if len(rows) <= n else rng.sample(rows, n)


class Workload:
    name = ""
    rows = 0

    def __init__(self, spark, work: str, seed: int, cpus: int, spans):
        self.spark, self.work, self.seed = spark, work, seed
        self.cpus, self.spans = cpus, spans
        self.counts: dict = {}

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def scan(self):
        """The call's input scan: ``read_pages`` on the pages input."""
        from htmlparser_spark.pipeline.job import read_pages
        return read_pages(self.spark, self.input_path)


# --- fresh_crawl -------------------------------------------------------------

class FreshCrawl(Workload):
    """``run_pipeline(resume=False)`` into a fresh out_dir."""

    name = "fresh_crawl"
    URLS = 250

    def prepare(self):
        from htmlparser_spark.kernel.api import OK, parse_html
        from htmlparser_spark.synth import synth_pages

        self.input_path = self.path("in", "pages")
        (synth_pages(self.spark, self.URLS, seed=self.seed,
                     partitions=2 * self.cpus)
         .write.parquet(self.input_path))
        self.pages = read_pages(self.input_path)
        self.rows = len(self.pages)
        latest = {}
        for r in self.pages:  # sorted by (url, ts): the last one wins
            latest[r[0]] = r
        self.expected = {}
        summary = {"pages": 0, "bytes": 0, "ok_pages": 0, "parse_errors": 0}
        for url, (_, ts, html, _) in latest.items():
            out = parse_html(html, fast=True, extract=True, want_dom=False)
            self.expected[url] = (ts_micros(ts), out["status"],
                                  out["main_text"])
            summary["pages"] += 1
            summary["bytes"] += len(html)
            summary["ok_pages"] += out["status"] == OK
            summary["parse_errors"] += sum(out["errors"].values())
        self.summary = summary

    def replay_pages(self):
        return sample(random.Random(self.seed), self.pages, REPLAY_PAGES)

    def before(self, i):
        return self.path("out", f"run{i:03d}")

    def call(self, out_dir):
        from htmlparser_spark.pipeline.job import run_pipeline
        with self.spans.span("pipeline.job.run_pipeline"):
            return run_pipeline(self.spark, self.input_path, out_dir,
                                resume=False)

    def check(self, out_dir, result):
        problems = check_crawl_sink(os.path.join(out_dir, "parsed"),
                                    self.expected)
        if result != self.summary:
            problems.append(f"run_pipeline returned {result}, expected "
                            f"{self.summary}")
        if not self.counts:
            files = dir_files(os.path.join(out_dir, "parsed"))
            self.counts = {"job.sink_files": len(files),
                           "job.sink_mb": files_mb(files)}
        return problems

    def after(self, out_dir):
        shutil.rmtree(out_dir, ignore_errors=True)


def check_crawl_sink(parsed_dir: str, expected: dict) -> list[str]:
    """One row per url, holding its latest snapshot, whose (status,
    main_text) equals the in-process kernel's output on that snapshot."""
    t = pq.read_table(parsed_dir,
                      columns=["url", "warc_ts", "status", "main_text"])
    urls = t.column("url").to_pylist()
    # Spark writes INT96 timestamps, which pyarrow reads as nanoseconds
    ts = (t.column("warc_ts").cast(pa.timestamp("us"))
          .cast(pa.int64()).to_pylist())
    status = t.column("status").to_pylist()
    main = t.column("main_text").to_pylist()
    problems = []
    if len(urls) != len(set(urls)):
        problems.append(f"{len(urls) - len(set(urls))} duplicate url rows")
    if set(urls) != set(expected):
        problems.append(f"{len(set(expected) - set(urls))} urls missing, "
                        f"{len(set(urls) - set(expected))} unexpected")
    bad = [u for u, *got in zip(urls, ts, status, main)
           if u in expected and tuple(got) != expected[u]]
    if bad:
        problems.append(f"{len(bad)} urls differ from the in-process kernel "
                        f"or are not the latest snapshot, e.g. {bad[0]}")
    return problems


# --- stream_drain ------------------------------------------------------------

class StreamDrain(Workload):
    """Successive ``run_bloom_stream_once`` drains into one out_dir."""

    name = "stream_drain"
    HISTORY = 12_000   # urls; 3 bits per hash into the fixed 8,192
    DROP = 2_000       # fresh urls per drop (plus synth's 5% re-snapshots)
    RECAPTURES = 100   # exact re-captures of history pages per drop

    def prepare(self):
        from pyspark.sql import functions as F

        from htmlparser_spark.pipeline.job import with_part_key
        from htmlparser_spark.pipeline.schema import PARSED_SCHEMA
        from htmlparser_spark.synth import synth_pages

        # the Bloom fold reads only content_hash, so the history sink is
        # the crawl's captures hashed the way run_pipeline hashes them
        # (xxhash64 of the raw bytes), in the parsed-sink schema; the
        # kernel is not run over history
        self.history = self.path("history")
        hist = with_part_key(synth_pages(self.spark, self.HISTORY,
                                         seed=self.seed,
                                         partitions=8 * self.cpus))
        hist = hist.withColumn("content_hash", F.xxhash64("html"))
        (hist.select(*[F.col(f.name).cast(f.dataType) if f.name in
                       hist.columns else F.lit(None).cast(f.dataType)
                       .alias(f.name) for f in PARSED_SCHEMA.fields])
         .write.parquet(self.history))
        self.seen = set(pq.read_table(self.history, columns=["content_hash"])
                        .column("content_hash").to_pylist())
        self.history_rows = len(pq.read_table(self.history,
                                              columns=["url"]))
        self.src = self.path("drops")
        self.out = self.path("stream_out")
        self.input_path = self.first_drop = None
        self._rng = random.Random(self.seed)
        self._recaptured: set[int] = set()
        self.rows = 0

    def _make_drop(self, d: int) -> dict:
        from htmlparser_spark.synth import gen_page

        drop_dir = os.path.join(self.src, f"drop{d:04d}")
        lo = self.HISTORY + d * self.DROP
        synth_range(self.spark, self.seed, lo, lo + self.DROP,
                    2 * self.cpus).write.parquet(drop_dir)
        ids = []
        while len(ids) < self.RECAPTURES:
            i = self._rng.randrange(self.HISTORY)
            if i not in self._recaptured:
                self._recaptured.add(i)
                ids.append(i)
        rows = []
        for i in sorted(ids):
            url, ts, html, text, lang = gen_page(self.seed, i)
            rows.append((url, ts + _dt.timedelta(days=30), html, text, lang))
        pq.write_table(pa.Table.from_pylist(
            [dict(zip(PAGE_COLS, r)) for r in rows], schema=PAGES_ARROW),
            os.path.join(drop_dir, "recaptures.parquet"))
        return {"dir": drop_dir, "planted": {r[0] for r in rows}}

    def replay_pages(self):
        return sample(random.Random(self.seed), read_pages(self.first_drop),
                      REPLAY_PAGES)

    def before(self, i):
        drop = self._make_drop(i)
        drop["rows"] = len(pq.read_table(drop["dir"], columns=["url"]))
        drop["sink_before"] = set(dir_files(os.path.join(self.out,
                                                         "parsed")))
        if i == 1:
            self.first_drop = self.input_path = drop["dir"]
            self.rows = drop["rows"]
        return drop

    def call(self, drop):
        from htmlparser_spark.streaming.job import run_bloom_stream_once
        with self.spans.span("streaming.job.run_bloom_stream_once"):
            return run_bloom_stream_once(self.spark, self.src, self.out,
                                         history_dir=self.history)

    def check(self, drop, result):
        new = sorted(set(dir_files(os.path.join(self.out, "parsed")))
                     - drop["sink_before"])
        t = pq.read_table(new, columns=["url", "content_hash", "maybe_dup"])
        stats = check_drain(t, drop["planted"], self.seen)
        problems = stats.pop("problems")
        if len(t) != drop["rows"]:
            problems.append(f"drain wrote {len(t)} rows for a drop of "
                            f"{drop['rows']}")
        self.seen.update(t.column("content_hash").to_pylist())
        if drop["dir"] == self.first_drop:
            self.counts = {
                "streaming.input_rows": len(t),
                "streaming.maybe_dup_rows": stats["maybe_dup_rows"],
                "streaming.missed_true_dups": stats["missed_true_dups"],
                "streaming.false_dup_ratio": stats["false_dup_ratio"],
                "streaming.bloom_bits_set": bloom_bits_set(self.out),
                "streaming.history_rows": self.history_rows,
                "job.sink_files": len(new), "job.sink_mb": files_mb(new)}
        return problems

    def after(self, drop):
        pass  # the out_dir is the stream's state; drains accumulate in it


def check_drain(t: pa.Table, planted: set, seen: set) -> dict:
    """Flags of one drain against the exact set of content hashes seen
    before it (history plus earlier drains): every seen hash must be
    flagged, and so every planted re-capture (by url: planted urls are
    history urls, which no fresh page of a drop reuses)."""
    hashes = t.column("content_hash").to_pylist()
    flags = t.column("maybe_dup").to_pylist()
    urls = t.column("url").to_pylist()
    problems = []
    if any(h == 0 or h is None for h in hashes):
        problems.append("rows with a zero or null content_hash")
    missed = sum(1 for h, f in zip(hashes, flags) if h in seen and f != 1)
    fresh = [f for h, f in zip(hashes, flags) if h not in seen]
    flagged = {u for u, f in zip(urls, flags) if f == 1}
    if missed:
        problems.append(f"{missed} re-seen pages not flagged maybe_dup")
    if planted - flagged:
        problems.append(f"{len(planted - flagged)} planted re-captures not "
                        "flagged maybe_dup")
    return {"problems": problems, "missed_true_dups": missed,
            "maybe_dup_rows": sum(1 for f in flags if f == 1),
            "false_dup_ratio": (sum(fresh) / len(fresh)) if fresh else 0.0}


def bloom_bits_set(out_dir: str) -> int:
    """Rows (set bit positions) of the newest persisted Bloom bit-set
    version, 0 if the drain keeps none."""
    root = os.path.join(out_dir, "_bloom_bits")
    versions = sorted((int(d[1:]), d) for d in os.listdir(root)
                      if d[:1] == "v" and d[1:].isdigit()) \
        if os.path.isdir(root) else []
    if not versions:
        return 0
    return len(pq.read_table(os.path.join(root, versions[-1][1])))


# --- near_dup ----------------------------------------------------------------

class NearDup(Workload):
    """``ops.dedup_minhash_lsh`` then ``ops.dedup_cluster_cc`` over a
    documents table of parsed main_text plus planted mirror clusters."""

    name = "near_dup"
    BASE = 500        # synth urls whose parsed main_text are the documents
    CLUSTERS = 8      # planted mirror clusters, sizes LARGEST / rank
    LARGEST = 32
    MIN_WORDS = 20
    MAX_WORDS = 2_000
    BASE_WORDS = (500, 700)

    def prepare(self):
        from htmlparser_spark.pipeline.job import parse_pages
        from htmlparser_spark.synth import synth_pages

        pages_path = self.path("in", "pages")
        (synth_pages(self.spark, self.BASE, seed=self.seed,
                     partitions=2 * self.cpus).write.parquet(pages_path))
        self.pages = read_pages(pages_path)
        parsed = (parse_pages(self.spark.read.parquet(pages_path))
                  .select("url", "warc_ts", "main_text").toPandas()
                  .sort_values(["url", "warc_ts"]))
        # documents of MIN_WORDS..MAX_WORDS words: shorter main_texts
        # (error and malformed pages) chain into seed-dependent near-dup
        # paths that change how many connected-components rounds a run
        # needs, and the ~1% huge pages (~50k words each) would make the
        # corpus size, and a mirror cluster's, depend on the seed
        texts = [t for t in parsed["main_text"].tolist()
                 if self.MIN_WORDS <= len(t.split()) <= self.MAX_WORDS]
        # mirrors copy documents of BASE_WORDS words: verification costs
        # pairs (B^2/2 per cluster) times document length, so a seed that
        # drew a long document for the largest cluster would cost more
        lo, hi = self.BASE_WORDS
        bases = [t for t in texts if lo <= len(t.split()) <= hi]
        rng = random.Random(self.seed)
        docs = list(enumerate(texts))
        for rank, base in enumerate(rng.sample(bases, self.CLUSTERS), 1):
            size = max(2, self.LARGEST // rank)
            docs += [(len(docs) + k, base) for k in range(size - 1)]
            # one near mirror per cluster: drop the last two words
            docs.append((len(docs), base.rsplit(" ", 2)[0]))
        self.docs = dict(docs)
        self.rows = len(docs)
        self.nd_dir = self.path("nd")
        table = pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()),
                          "text": [s for _, s in docs]})
        self.input_path = os.path.join(self.nd_dir, "documents.parquet")
        os.makedirs(self.input_path)
        step = -(-len(docs) // self.cpus)
        for k in range(self.cpus):
            pq.write_table(table.slice(k * step, step),
                           os.path.join(self.input_path, f"part-{k}.parquet"))

    def replay_pages(self):
        return sample(random.Random(self.seed), self.pages, REPLAY_PAGES)

    def scan(self):
        return self.spark.read.parquet(self.input_path)

    def before(self, i):
        return self.path("out", f"run{i:03d}")

    def call(self, out_dir):
        from htmlparser_spark import ops
        with self.spans.span("ops.dedup_minhash_lsh"):
            (ops.dedup_minhash_lsh(self.spark, self.nd_dir)
             .write.parquet(os.path.join(out_dir, "pairs")))
        with self.spans.span("ops.dedup_cluster_cc"):
            (ops.dedup_cluster_cc(self.spark, self.nd_dir)
             .write.parquet(os.path.join(out_dir, "clusters")))

    def check(self, out_dir, result):
        problems, stats = check_near_dup(out_dir, self.docs,
                                         random.Random(self.seed))
        if not self.counts:
            files = dir_files(out_dir)
            self.counts = {"ops.verified_pairs": stats["pairs"],
                           "ops.largest_cluster": stats["largest_cluster"],
                           "job.sink_files": len(files),
                           "job.sink_mb": files_mb(files)}
        return problems

    def after(self, out_dir):
        from htmlparser_spark import ops
        # drop the pair memo and every cached intermediate, so the next
        # iteration recomputes instead of hitting this one's caches
        ops.cleanup_checkpoints()
        self.spark.catalog.clearCache()
        shutil.rmtree(out_dir, ignore_errors=True)


def shingles(text: str) -> set[str]:
    """Word 3-gram shingle set with ops._shingle_stage's semantics."""
    ws = (text or "").split(" ")
    tri = [" ".join(ws[i:i + 3]) for i in range(max(len(ws) - 2, 1))]
    return {s for s in tri if s}


def check_near_dup(out_dir: str, docs: dict, rng: random.Random,
                   threshold: float = 0.5, n_sample: int = 200):
    """Every document labelled once; every group of identical documents
    verified pairwise and merged into one cluster; sampled verified pairs
    carry the Jaccard Python computes."""
    pairs = pq.read_table(os.path.join(out_dir, "pairs")).to_pylist()
    clusters = pq.read_table(os.path.join(out_dir, "clusters")).to_pylist()
    problems = []
    label = {r["doc_id"]: r["cluster_id"] for r in clusters}
    if len(label) != len(clusters) or set(label) != set(docs):
        problems.append("cluster output does not label every document once")
    groups: dict[str, list[int]] = {}
    for d, text in docs.items():
        if shingles(text):
            groups.setdefault(text, []).append(d)
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    exact_pairs = split = 0
    for ids in groups.values():
        ids.sort()
        exact_pairs += len(ids) * (len(ids) - 1) // 2
        if len({label.get(d) for d in ids}) != 1:
            split += 1
        missing = sum(1 for a in range(len(ids))
                      for b in range(a + 1, len(ids))
                      if (ids[a], ids[b]) not in found)
        if missing:
            problems.append(f"{missing} identical-document pairs not verified")
            break
    if split:
        problems.append(f"{split} groups of identical documents not merged")
    if exact_pairs == 0:
        problems.append("no identical documents: the check is vacuous")
    low = [r for r in pairs if r["jaccard"] < threshold
           or r["doc_a"] >= r["doc_b"]]
    if low:
        problems.append(f"{len(low)} pairs below threshold or unordered")
    for r in sample(rng, pairs, n_sample):
        a, b = shingles(docs[r["doc_a"]]), shingles(docs[r["doc_b"]])
        j = len(a & b) / len(a | b)
        if abs(j - r["jaccard"]) > 1e-6:
            problems.append(f"pair {r['doc_a']},{r['doc_b']}: jaccard "
                            f"{r['jaccard']} vs python {j:.6f}")
            break
    sizes: dict[int, int] = {}
    for c in label.values():
        sizes[c] = sizes.get(c, 0) + 1
    return problems, {"pairs": len(pairs),
                      "largest_cluster": max(sizes.values(), default=0)}


WORKLOADS = {w.name: w for w in (FreshCrawl, StreamDrain, NearDup)}
