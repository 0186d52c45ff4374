"""Pipeline benchmark: crawl ingest with crash/resume and entity-dense
ingest through the package's public entry points, plus a traced mode that
also times the curation reads (dedup, search) layer by layer.

    python3 perfbench/run.py --workload crawl_resume --seed 1 \
        --seconds 5 --trace 0

Workloads (BENCHMARK.json says why each exists):

- crawl_resume: html crawl with the generator's default mix; an ingest is
  a crash after half the buckets plus a resume, into a fresh output
  directory.
- entity_dense: long pre-extracted text and 10x gazetteers; an ingest is
  one fresh run into a fresh output directory.

Both corpora carry 5% planted re-crawls. A run is one closed-loop client
in one process on local[nproc]: set-up (session start, seeded input
generation, an untimed warm-up cycle), then ingests for ``--seconds``
(at least one), with no-op resumes before them (over the warm-up's output)
and after them (over the last ingest's).
Outputs are checked against single-threaded oracles; every mismatch
counts as a failed operation.

``--trace 1`` follows its (untraced) warm-up cycle with traced cycles;
both kinds also read what their ingest wrote: one dedup
pass (``minhash_lsh_dedup`` + ``connected_components``, checked against
the planted re-crawls) and seeded ``bm25_topk`` / ``layered_topk`` queries
over the chunks and docs tables. Isolated passes of each stage over the
same inputs follow; the run prints per-layer metrics and writes its spans
to ``perfbench/out/``. Its tracing overhead is the wall time the tracer's
own bookkeeping takes per traced cycle.
``--selfcheck`` runs every workload in both modes at a tiny size and
checks that each prints exactly the metrics BENCHMARK.json names.

The last stdout line is one JSON object: correct, attempted, failed,
metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
N_BUCKETS = 8
N_NOOP_RESUMES = 6
TOP_K = 10
N_QUERIES = 2   # per traced cycle: one bm25_topk, one layered_topk
RECRAWL_SHARE = 0.05
# A timed sample during which the hypervisor stole more than this share of
# the box's CPU time is set aside: on a shared host such samples read up to
# 2x slow and swamp the spread. No-op resumes are retaken (at most
# MAX_RETAKES times per half); ingests are not, so a contended run does not
# grow longer.
STEAL_LIMIT = 0.05
MAX_RETAKES = 2

# "full" is what the benchmark's runs use: on a 4-core box a warm ingest
# takes 7-13 s, most of it per-run fixed cost, the cold warm-up ingest
# 20-30 s whatever the corpus size, and the JVM start 8-10 s.
# "tiny" is the self-check's.
SIZES = {
    "full": {"crawl_pages": 150, "dense_docs": 80, "dense_articles": 4},
    "tiny": {"crawl_pages": 60, "dense_docs": 20, "dense_articles": 2},
}

# workload -> is an ingest a crash after half the buckets plus a resume?
WORKLOADS = {"crawl_resume": True, "entity_dense": False}


def _phys_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure_env(work: str) -> dict:
    """Size the session for a shared small box through the settings the
    program reads (SPARK_GRAFT_CPUS, SPARK_DRIVER_MEMORY) plus Spark's
    SPARK_LOCAL_DIRS; keep every temp file inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = max(1024, min(4096, _phys_mb() // 8))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    chosen = {"SPARK_GRAFT_CPUS": str(cpus),
              "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
              "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local")}
    os.environ.update(
        chosen, TMPDIR=tmp, PYSPARK_PYTHON=sys.executable,
        # no /tmp/hsperfdata_* file: HotSpot writes it outside tmpdir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    tempfile.tempdir = tmp
    return chosen


class Samples:
    """One metric's timed results. Those the host stole CPU time from are
    kept apart and used only when no clean one exists."""

    def __init__(self):
        self.clean: list[float] = []
        self.stolen: list[float] = []

    def add(self, got: float | None, stolen: bool) -> None:
        if got is not None:
            (self.stolen if stolen else self.clean).append(got)

    def median(self) -> float:
        return statistics.median(self.clean or self.stolen)

    def __str__(self) -> str:
        return f"{len(self.clean)} clean, {len(self.stolen)} set aside"


class Bench:
    def __init__(self, spark, session_start_s: float, work: str,
                 workload: str, seed: int, size: dict):
        from perfbench import inputs
        self.spark = spark
        self.session_start_s = session_start_s
        self.work = work
        self.seed = seed
        self.crash = WORKLOADS[workload]
        self.attempted = 0
        self.failed = 0
        self.tracer = None
        self._outs: list[str] = []
        self._search_seen: dict = {}

        cdir = os.path.join(work, "corpus")
        if workload == "entity_dense":
            self.corpus = inputs.entity_dense(
                cdir, seed, size["dense_docs"], size["dense_articles"],
                RECRAWL_SHARE)
        else:
            self.corpus = inputs.crawl(cdir, seed, size["crawl_pages"],
                                       RECRAWL_SHARE)
        from ocr_processing_pipeline_spark.extractor.core import extract_page
        rng = random.Random(seed + 3)
        sample = rng.sample(self.corpus.rows, min(30, self.corpus.n_pages))
        self.queries = inputs.make_queries(
            [extract_page(r["html"], r["text"]).text for r in sample],
            seed + 4, N_QUERIES)

    # -- bookkeeping --------------------------------------------------------

    def span(self, name: str):
        return (self.tracer.span(name) if self.tracer
                else contextlib.nullcontext())

    def op(self, fn, *args, **kwargs):
        """Run one operation; an exception counts as a failed op."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"MISMATCH {what}", file=sys.stderr)

    def fresh_out(self) -> str:
        out = os.path.join(self.work, f"out-{len(self._outs):03d}")
        self._outs.append(out)
        return out

    # -- operations ---------------------------------------------------------

    def run_pipeline(self, out: str, **kwargs) -> dict:
        from ocr_processing_pipeline_spark.pipeline.job import run_pipeline
        with self.span("job.run_pipeline"):
            return run_pipeline(self.spark, self.corpus.paths["pages"],
                                self.corpus.paths["gazetteers"], out,
                                n_buckets=N_BUCKETS, **kwargs)

    def ingest(self, out: str) -> float:
        """Returns pages ingested per second."""
        t0 = time.perf_counter()
        if self.crash:
            self.run_pipeline(out, fail_after_buckets=N_BUCKETS // 2)
        self.run_pipeline(out)
        return self.corpus.n_pages / (time.perf_counter() - t0)

    def noop_resume(self, out: str) -> float:
        """Returns the seconds a resume over a fully committed output
        takes."""
        t0 = time.perf_counter()
        got = self.run_pipeline(out)
        elapsed = time.perf_counter() - t0
        self.check(got.get("docs") == 0 and "skipped" in got,
                   f"no-op resume did work: {got}")
        return elapsed

    def dedup(self, out: str) -> None:
        """Near-dup pairs plus their components over the docs table; each
        planted re-crawl must share its original's component."""
        from pyspark.sql import functions as F

        from ocr_processing_pipeline_spark.operators.dedup import (
            connected_components, minhash_lsh_dedup)
        docs = self.spark.read.parquet(os.path.join(out, "docs"))
        urls = [u for pair in self.corpus.planted for u in pair]
        doc_id = dict(docs.filter(F.col("url").isin(urls))
                      .select("url", "doc_id").collect())
        with self.span("dedup.minhash_lsh_dedup"):
            pairs = minhash_lsh_dedup(docs.select("doc_id", "text"),
                                      "text", "doc_id").localCheckpoint()
            self.verified_pairs = pairs.count()
        with self.span("dedup.connected_components"):
            comp = dict(connected_components(pairs).collect())
        for orig, copy in self.corpus.planted:
            c = comp.get(doc_id.get(orig))
            self.check(c is not None and c == comp.get(doc_id.get(copy)),
                       f"re-crawl {copy} not in the component of {orig}")
        gc.collect()   # lets Spark drop this pass's local checkpoints

    def search(self, out: str) -> None:
        """The seeded queries, alternating bm25 over chunks and layered
        over docs; each top-k must repeat exactly on every cycle."""
        from ocr_processing_pipeline_spark.operators.search import (
            bm25_topk, layered_topk)
        docs = self.spark.read.parquet(os.path.join(out, "docs"))
        chunks = self.spark.read.parquet(os.path.join(out, "chunks"))
        for i, terms in enumerate(self.queries):
            kind = ("bm25", "layered")[i % 2]
            with self.span(f"search.{kind}_topk"):
                if kind == "bm25":
                    rows = self.op(lambda: bm25_topk(
                        chunks, "content", "chunk_id", terms,
                        k=TOP_K).collect())
                else:
                    rows = self.op(lambda: layered_topk(
                        docs, "text", "doc_id", terms, k=TOP_K).collect())
            if rows is None:
                continue
            got = [tuple(r) for r in rows]
            first = self._search_seen.setdefault((kind, tuple(terms)), got)
            self.check(bool(got) and got == first,
                       f"{kind} top-{TOP_K} for {terms} empty or changed")
        gc.collect()

    def cycle(self, reads: bool) -> None:
        """The warm-up and traced unit: one ingest into a fresh directory,
        a no-op resume over it and, with ``reads``, one dedup pass and the
        queries over what it wrote."""
        out = self.fresh_out()
        self.op(self.ingest, out)
        self.op(self.noop_resume, out)
        if reads:
            self.op(self.dedup, out)
            self.search(out)

    # -- timed loops --------------------------------------------------------

    def sample(self, into: Samples, fn, *args) -> None:
        """Run one timed op into ``into``, noting whether the host stole
        more than STEAL_LIMIT of the box's CPU time meanwhile."""
        from perfbench.tracing import CLK_TCK, stolen_jiffies
        s0, t0 = stolen_jiffies(), time.perf_counter()
        got = self.op(fn, *args)
        capacity = (time.perf_counter() - t0) * os.cpu_count() * CLK_TCK
        into.add(got, stolen_jiffies() - s0 > STEAL_LIMIT * capacity)

    def measure(self, seconds: float) -> dict:
        ingest, noop = Samples(), Samples()

        def noops(n):
            # half before the ingests and half after, so one burst of host
            # contention cannot slow them all
            for _ in range(n + MAX_RETAKES):
                self.sample(noop, self.noop_resume, self._outs[-1])
                if len(noop.clean) >= n:
                    break

        noops(N_NOOP_RESUMES // 2)
        t0 = time.perf_counter()
        while True:
            self.sample(ingest, self.ingest, self.fresh_out())
            if time.perf_counter() - t0 >= seconds:
                break
        noops(N_NOOP_RESUMES)
        print(f"# ingests {ingest}; no-op resumes {noop}", file=sys.stderr)
        return {
            "ingest_docs_per_s": (ingest.median(), "docs/s"),
            "noop_resume_ms": (noop.median() * 1e3, "ms"),
        }

    @contextlib.contextmanager
    def traced(self, tracer, iteration):
        """Record spans for this block: around each stage call and, inside
        ``run_pipeline``, around the module-level calls it makes."""
        from ocr_processing_pipeline_spark.pipeline import lineage
        from ocr_processing_pipeline_spark.pipeline import ner as ner_mod
        self.tracer, tracer.iteration = tracer, iteration
        undo = [tracer.wrap(lineage, f, f"lineage.{f}") for f in
                ("write_partitioned", "append_checkpoint", "remaining_pages",
                 "committed_buckets")]
        undo.append(tracer.wrap(ner_mod, "load_gazetteers",
                                "ner.load_gazetteers"))
        try:
            yield
        finally:
            for u in undo:
                u()
            self.tracer = None

    def measure_traced(self, seconds: float, spans_path: str) -> dict:
        """Traced cycles for ``seconds`` (at least one), then isolated
        passes; returns the per-layer metrics. The warm-up was the
        untraced cycle: its top-k results are the ones the traced queries
        must repeat."""
        from perfbench.tracing import RssSampler, Tracer
        tracer = Tracer(self.spark.sparkContext)
        with RssSampler() as rss:
            t0 = time.perf_counter()
            it = 0
            while it == 0 or time.perf_counter() - t0 < seconds:
                with self.traced(tracer, it):
                    self.cycle(reads=True)
                it += 1
            overhead_s = tracer.overhead_s / it
            tracer.iteration = "isolated"
            metrics = self.layer_metrics(tracer, it)
        tracer.dump(spans_path)
        metrics["session.peak_rss_mb"] = (rss.peak_mb, "MB")
        metrics["trace.overhead_s"] = (overhead_s, "s")
        return metrics

    def layer_metrics(self, tracer, iterations: int) -> dict:
        from pyspark.sql import functions as F

        from ocr_processing_pipeline_spark.operators import dedup
        from ocr_processing_pipeline_spark.pipeline import lineage
        from ocr_processing_pipeline_spark.pipeline.chunk import chunk_docs
        from ocr_processing_pipeline_spark.pipeline.extract import (
            extract_docs)
        from ocr_processing_pipeline_spark.pipeline.ner import (
            extract_mentions, link_entities, load_gazetteers)
        spark, out = self.spark, self._outs[-1]
        table = {t: spark.read.parquet(os.path.join(out, t))
                 for t in ("docs", "chunks", "edges")}
        pages = spark.read.parquet(self.corpus.paths["pages"])
        ckpt = os.path.join(out, "checkpoint")

        def timed(name, fn):
            with tracer.span(name) as rec:
                result = fn()
            return rec["end"] - rec["start"], result

        def noop(df):
            return lambda: df.write.mode("overwrite").format("noop").save()

        gdir = self.corpus.paths["gazetteers"]
        gaz = load_gazetteers(spark, *[os.path.join(gdir, f"{n}.parquet")
                                       for n in ("persons", "places",
                                                 "orgs")])
        extract_s, _ = timed("extract.extract_docs", noop(extract_docs(pages)))
        chunk_s, _ = timed("chunk.chunk_docs", noop(chunk_docs(table["docs"])))
        ner_s, _ = timed("ner.link_entities",
                         noop(link_entities(table["chunks"], gaz)))
        _, mentions = timed("ner.extract_mentions",
                            extract_mentions(table["chunks"], gaz).count)
        sig = dedup.minhash_signatures(
            dedup.shingles(table["docs"], "text", "doc_id"))
        _, candidates = timed("dedup.lsh_candidate_pairs",
                              dedup.lsh_candidate_pairs(sig).count)
        rewrite = os.path.join(self.work, "rewrite")
        write_s = sum(timed("lineage.write_partitioned",
                            lambda t=t: lineage.write_partitioned(
                                table[t], os.path.join(rewrite, t)))[0]
                      for t in table)
        remaining_s, _ = timed("lineage.remaining_pages", noop(
            lineage.remaining_pages(spark, pages, ckpt, "docs", N_BUCKETS)))
        committed_s, _ = timed("lineage.committed_buckets",
                               lineage.committed_buckets(
                                   spark, ckpt, "docs").collect)

        doc_stats = table["docs"].agg(
            F.count(F.lit(1)), F.sum((F.col("failure_code") != "")
                                     .cast("int")),
            F.percentile("extract_us", 0.5)).first()
        n_chunks, n_edges = table["chunks"].count(), table["edges"].count()
        files = [os.path.join(d, f) for t in ("docs", "chunks", "edges",
                                              "checkpoint")
                 for d, _, fs in os.walk(os.path.join(out, t))
                 for f in fs if f.endswith(".parquet")]

        def per_iter(name, fn):
            return statistics.median(
                fn(tracer.named(name, i)) for i in range(iterations))

        def durations(name):
            return [s["end"] - s["start"] for s in tracer.spans
                    if s["name"] == name and s["iteration"] != "isolated"]

        def med(name):
            return statistics.median(durations(name))

        runs = "job.run_pipeline"
        queries = [s for s in tracer.spans if s["name"].startswith("search.")]
        verified = self.verified_pairs
        return {
            "session.start_s": (self.session_start_s, "s"),
            "extract.busy_s": (extract_s, "s"),
            "extract.pages": (doc_stats[0], "count"),
            "extract.failed_pages": (doc_stats[1], "count"),
            "extract.doc_us_p50": (doc_stats[2], "us"),
            "chunk.busy_s": (chunk_s, "s"),
            "chunk.chunks": (n_chunks, "count"),
            "ner.busy_s": (ner_s, "s"),
            "ner.gazetteer_load_s": (med("ner.load_gazetteers"), "s"),
            "ner.mentions": (mentions, "count"),
            "ner.edges": (n_edges, "count"),
            "ner.link_ratio": (n_edges / mentions, "ratio"),
            "lineage.write_s": (write_s, "s"),
            "lineage.files_written": (len(files), "count"),
            "lineage.bytes_written": (sum(map(os.path.getsize, files)),
                                      "bytes"),
            "lineage.checkpoint_s": (med("lineage.append_checkpoint"), "s"),
            "lineage.remaining_s": (remaining_s, "s"),
            "lineage.committed_read_s": (committed_s, "s"),
            "job.run_s": (per_iter(runs, lambda ss: sum(
                s["end"] - s["start"] for s in ss)), "s"),
            "job.self_s": (per_iter(runs, lambda ss: sum(
                tracer.self_time(s) for s in ss)), "s"),
            "job.spark_jobs": (per_iter(runs, lambda ss: sum(
                s["spark_jobs"] for s in ss)), "count"),
            "dedup.busy_s": (med("dedup.minhash_lsh_dedup"), "s"),
            "dedup.candidate_pairs": (candidates, "count"),
            "dedup.verified_pairs": (verified, "count"),
            "dedup.verify_ratio": (verified / candidates, "ratio"),
            "dedup.components_s": (med("dedup.connected_components"), "s"),
            "search.bm25_ms_p50": (med("search.bm25_topk") * 1e3, "ms"),
            "search.layered_ms_p50": (med("search.layered_topk") * 1e3,
                                      "ms"),
            "search.spark_jobs_per_query": (
                statistics.mean(s["spark_jobs"] for s in queries), "count"),
        }

    # -- output checks ------------------------------------------------------

    def check_outputs(self) -> None:
        """Every ingest output: one doc per page, no duplicate doc_id, one
        checkpoint row per bucket. The last output: a seeded url sample
        byte-identical to the single-threaded oracles."""
        from pyspark.sql import functions as F
        n = self.corpus.n_pages
        for out in self._outs:
            if not os.path.exists(os.path.join(out, "checkpoint")):
                continue
            docs = self.spark.read.parquet(os.path.join(out, "docs")).agg(
                F.count(F.lit(1)), F.countDistinct("doc_id")).first()
            self.check(tuple(docs) == (n, n), f"{out}: docs {tuple(docs)} "
                       f"for {n} pages")
            ck = self.spark.read.parquet(os.path.join(out, "checkpoint")).agg(
                F.count(F.lit(1)), F.countDistinct("bucket")).first()
            self.check(tuple(ck) == (N_BUCKETS, N_BUCKETS),
                       f"{out}: checkpoint rows {tuple(ck)}")
        self.check_sample(self._outs[-1])

    def check_sample(self, out: str) -> None:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from ocr_processing_pipeline_spark.extractor.chunking import (
            chunk_document)
        from ocr_processing_pipeline_spark.extractor.core import extract_page
        from ocr_processing_pipeline_spark.extractor.ner import (
            GazetteerIndex, link_mentions)
        gdir = self.corpus.paths["gazetteers"]
        index = GazetteerIndex(*[
            pq.read_table(os.path.join(gdir, f"{n}.parquet")).to_pylist()
            for n in ("persons", "places", "orgs")])
        rng = random.Random(self.seed + 5)
        sample = {r["url"]: r for r in rng.sample(self.corpus.rows, 8)}

        def fetch(table, cols):
            got = {}
            for r in (self.spark.read.parquet(os.path.join(out, table))
                      .filter(F.col("url").isin(list(sample)))
                      .select("url", *cols).collect()):
                got.setdefault(r[0], []).append(tuple(r[1:]))
            return {u: sorted(v) for u, v in got.items()}

        docs = fetch("docs", ["doc_id", "text"])
        chunk_cols = ["chunk_id", "chunk_order", "content", "span_start",
                      "span_end", "n_tokens", "n_sentences"]
        chunks = fetch("chunks", chunk_cols)
        edge_cols = ["chunk_id", "predicate", "object", "mention",
                     "entity_type", "fuzzy_score", "span_start", "span_end"]
        edges = fetch("edges", edge_cols)
        for url, row in sample.items():
            text = extract_page(row["html"], row["text"]).text
            got = docs.get(url, [])
            self.check(len(got) == 1 and got[0][1] == text,
                       f"docs.text differs from extract_page for {url}")
            if len(got) != 1:
                continue
            want_chunks, want_edges = [], []
            for c in chunk_document(str(got[0][0]), text):
                want_chunks.append(tuple(c[k] for k in chunk_cols))
                for e in link_mentions(index.scan(c["content"]), index,
                                       row["warc_ts"].date(), c["content"]):
                    want_edges.append((c["chunk_id"], e["predicate"],
                                       e["matched_url"], e["mention"],
                                       e["entity_type"], e["fuzzy_score"],
                                       e["span_start"], e["span_end"]))
            self.check(chunks.get(url, []) == sorted(want_chunks),
                       f"chunks differ from chunk_document for {url}")
            self.check(edges.get(url, []) == sorted(want_edges),
                       f"edges differ from link_mentions for {url}")


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for every child to end."""
    from perfbench.tracing import descendant_pids
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendant_pids() and time.time() < deadline:
        time.sleep(0.2)


def bench(args) -> dict:
    work = tempfile.mkdtemp(prefix="run-", dir=_work_root())
    try:
        chosen = configure_env(work)
        print("# session " + json.dumps(chosen))
        from ocr_processing_pipeline_spark.session import get_spark
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_start_s = time.perf_counter() - t0
        try:
            b = Bench(spark, session_start_s, work, args.workload,
                      args.seed, SIZES[args.size])
            # warm-up; the traced mode also warms up (and keeps untraced
            # top-k results of) the reads it times
            b.cycle(reads=bool(args.trace))
            setup_s = time.perf_counter() - t0
            if args.trace:
                spans = os.path.join(
                    BENCH_DIR, "out",
                    f"spans-{args.workload}-seed{args.seed}.jsonl")
                metrics = b.measure_traced(args.seconds, spans)
                print(f"# spans written to {os.path.relpath(spans, ROOT)}")
            else:
                metrics = b.measure(args.seconds)
                metrics["setup_s"] = (setup_s, "s")
            t1 = time.perf_counter()
            b.check_outputs()
            print(f"# seconds: session {session_start_s:.1f}, set-up "
                  f"{setup_s:.1f}, measured {t1 - t0 - setup_s:.1f}, "
                  f"output checks {time.perf_counter() - t1:.1f}")
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    frac = b.failed / b.attempted
    for name, (value, unit) in sorted(metrics.items()):
        print(f"{name} {value:.6g} {unit}")
    print(f"failed_ops_frac {frac:.6g} ratio ({b.failed}/{b.attempted})")
    return {"correct": b.failed == 0, "attempted": b.attempted,
            "failed": b.failed,
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items()}}


def _work_root() -> str:
    root = os.path.join(BENCH_DIR, ".work")
    os.makedirs(root, exist_ok=True)
    return root


def selfcheck() -> int:
    """Run every workload in both modes at the tiny size; check each run
    is correct and prints exactly the metrics BENCHMARK.json names."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ok = True
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, __file__, "--workload", w["name"],
                   "--seed", "7", "--seconds", "2", "--trace", str(trace),
                   "--size", "tiny"]
            proc = subprocess.run(cmd, capture_output=True, text=True,
                                  timeout=600)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else {}
            want = {m["name"] for m in spec[kind]}
            got = set(result.get("metrics", {}))
            good = (proc.returncode == 0 and result.get("correct") is True
                    and got == want)
            ok &= good
            print(f"{'ok  ' if good else 'FAIL'} {w['name']} trace={trace}"
                  f" missing={sorted(want - got)} extra={sorted(got - want)}")
            if not good:
                print(proc.stderr[-3000:], file=sys.stderr)
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args(argv)
    if args.selfcheck:
        return selfcheck()
    if args.workload is None:
        ap.error("--workload is required")
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = bench(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
