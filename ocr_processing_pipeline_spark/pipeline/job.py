"""End-to-end extraction job: pages → docs + chunks + edges.

Partitioning strategy (north rule: explicit skew handling + url-hash range
partitioning + AQE):

- The corpus is host-skewed (one host ≈ 50% of rows, FIXTURES.md §1). A
  naive ``repartition(host)`` would put half the corpus in one task. We
  repartition on the **salted url-hash bucket** —
  ``pmod(xxhash64(url), n_buckets)`` — which is uniform regardless of host
  skew (xxhash64 of distinct urls ≈ uniform), and is simultaneously the
  resumability commit unit (lineage.py). Per-doc cost skew (a giant page)
  is bounded by the Arrow batch cap (session.py) + AQE.
- All Python work runs in ONE Arrow-batched pass (``_process``): for each
  page it extracts the doc, chunks it, and scans + links each chunk. The
  UDF boundary — the per-job fixed cost at small sizes — is crossed once
  per run, not once per stage. Its input is one projection of the pages,
  made before the shuffle: the giant-page gate, ``bucket`` and
  ``doc_id = xxhash64(url)``, all JVM-side; the pass is a ``mapInArrow``
  over it, with no pandas conversion on either side.
  The only shuffle places whole buckets on the pass's tasks, so each
  bucket is in one task (the placement rule: ``_pass_tasks`` and the
  comment above the pass input in ``run_pipeline``).
- The same task writes its buckets' docs, chunks and edges files with
  pyarrow (lineage.BucketFiles: one deterministic file per
  table and bucket, replaced in place) and returns one checkpoint row per
  bucket. The driver collects those rows — the run's one data action —
  and appends them to the checkpoint with pyarrow. So a run starts two
  Spark jobs: the shuffle's map stage and the pass. Nothing is cached
  and no table is read back; a task streams its buckets to disk row
  group by row group. A retried task rewrites the same files.
- The driver's own out-dir I/O (meta file, checkpoint, footer counts)
  goes through the same pyarrow filesystem as the tasks', so the out
  dir may be a path or a URI such as ``file:///…``.
- Fixed cost around the pass, per run. On the driver the pass input is
  SQL text (``selectExpr``/``where``): a run makes about 92 Py4J round
  trips, not one per Column function, literal and alias. In the workers,
  PySpark's per-task ``importlib.invalidate_caches()`` re-read every zip
  importer's archive directory (pyspark.zip, py4j, the Spark jar: 16
  reads, 180-260 ms per task) before the UDF body started; the pass
  makes each worker re-read only archives that changed
  (``_keep_zip_directories``), so a warm task pays 16 stats.
- Gazetteers are broadcast (J1) — no shuffle for the linking "join".

This file is also the ``spark-submit --py-files`` entry point:

    python -m ocr_processing_pipeline_spark.pipeline.job \
        --pages .../pages.parquet --gazetteers-dir ... --out ... [--cpus N]

(tools/package_pyfiles.py builds the zip for --py-files.)
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import time
import zipimport

import pyarrow as pa
import pyarrow.fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from . import chunk as chunk_mod
from . import extract as extract_mod
from . import lineage
from . import ner as ner_mod
from .batches import arrow_schema

DEFAULT_N_BUCKETS = 64

_NOTHING_TO_DO = {"docs": 0, "chunks": 0, "edges": 0, "checkpoint": 0,
                  "skipped": "nothing to do (all buckets committed)"}


def run_pipeline(spark: SparkSession, pages_path: str, gazetteers_dir: str,
                 out_dir: str, n_buckets: int = DEFAULT_N_BUCKETS,
                 resume: bool = True,
                 fail_after_buckets: int | None = None,
                 max_page_bytes: int | None = (
                     extract_mod.DEFAULT_MAX_PAGE_BYTES)) -> dict:
    """Run (or resume) the full pipeline; returns per-table row counts.

    The counts are cumulative: the rows each output table holds after this
    run, summed from parquet footers. A run that processes no pages
    returns the skip marker with zero counts instead.

    ``resume=False`` deletes the checkpoint and reprocesses every bucket;
    the data tables are overwritten bucket by bucket, never duplicated.
    A resume whose pages, gazetteers or ``max_page_bytes`` differ from
    those the output was started with raises ValueError
    (checkpoint_meta.json records all three); ``resume=False`` records
    the new ones.

    ``fail_after_buckets`` processes only the first k uncommitted bucket
    ids — chosen on the driver, with no scan, so they may hold no pages
    at all — the hook the resume test uses to simulate a mid-run crash.
    Like every run, it commits one checkpoint row per bucket it ran,
    with a zero-row sentinel for a bucket that holds no pages.
    ``max_page_bytes`` is the giant-page gate (extract.gated_columns; None
    disables it).

    The pass's task count is ``_pass_tasks(run buckets,
    defaultParallelism)``, read when the run starts. Under dynamic
    allocation defaultParallelism is the cores registered at that moment,
    or ``spark.default.parallelism`` if set.

    Side effect beyond this call: on CPython < 3.12 the pass replaces
    ``zipimport.zipimporter.invalidate_caches`` in every Python worker it
    runs in, for the rest of that worker's life (``_keep_zip_directories``),
    so the session's other Python UDFs share it. There an
    ``importlib.invalidate_caches()`` re-reads a zip archive's directory
    only when the archive's (mtime, ctime, size, inode) changed. An
    archive rewritten in place within one file-system timestamp tick of
    the last read, at the same size, is not noticed.
    """
    # every driver read and write under out_dir goes through this one
    # filesystem; the lineage helpers take the path or URI itself
    fs, root = lineage.out_filesystem(out_dir)
    checkpoint_path = os.path.join(out_dir, "checkpoint")
    meta_path = f"{root}/checkpoint_meta.json"

    # n_buckets contract: every committed bucket id and the remaining set
    # below are defined RELATIVE to the n_buckets the checkpoint was
    # written with. Resuming with a different value silently re-buckets
    # the url space — committed ids no longer mean what the filter below
    # assumes (e.g. old 32 → new 128 would reprocess already-committed
    # pages into different bucket partitions: duplicates). A mismatch
    # must fail loudly, never mis-decide.
    meta = {}
    try:
        with fs.open_input_stream(meta_path) as fh:
            meta = json.loads(fh.read())
    except FileNotFoundError:
        pass
    else:
        if meta.get("n_buckets") != n_buckets:
            raise ValueError(
                f"checkpoint at {out_dir} was written with n_buckets="
                f"{meta.get('n_buckets')}; resume invoked with "
                f"n_buckets={n_buckets}. Bucket ids are not comparable "
                "across bucket counts — rerun with the original value "
                "(or start a fresh out dir).")

    # commits are BUCKET-level, so this run's buckets are every id the
    # checkpoint does not hold yet. The checkpoint is O(n_buckets) rows:
    # the driver reads it with pyarrow, no Spark job. When every bucket
    # is committed the no-op returns BEFORE even opening the input
    # (reading the pages path would list and footer-read every shard) —
    # a 100 TB no-op resume must not touch the 100 TB. (Empty buckets
    # carry sentinel rows — see the commit point below — so this also
    # closes for corpora that leave buckets empty.)
    if resume:
        committed = lineage.committed_bucket_ids(checkpoint_path, "docs")
    else:
        # before any data write: a crash mid-run then resumes over
        # every bucket, and this run's rows are the only ones
        if fs.get_file_info(f"{root}/checkpoint").type != (
                pafs.FileType.NotFound):
            fs.delete_dir(f"{root}/checkpoint")
        committed = set()
    run_buckets = sorted(set(range(n_buckets)) - committed)[
        :fail_after_buckets]
    if not run_buckets:
        return dict(_NOTHING_TO_DO)

    pages = _read_pages(spark, pages_path)
    gaz_paths = [os.path.join(gazetteers_dir, f"{n}.parquet")
                 for n in ("persons", "places", "orgs")]

    # input contract: the committed buckets were computed from the pages
    # and gazetteers recorded in the meta file, under its giant-page
    # gate. A resume over changed input or with another gate would mix
    # two generations in one output, so it must fail loudly; resume=False
    # starts over and records the new values. A meta file written before
    # these keys existed adopts them. Checked only here, after the no-op
    # return, which must never touch the input.
    inputs = {"pages": lineage.pages_fingerprint(pages_path),
              "gazetteers": ner_mod.gazetteer_digest(*gaz_paths)}
    for name, value in inputs.items():
        recorded = meta.get(f"{name}_fingerprint", value)
        if resume and recorded != value:
            raise ValueError(
                f"the {name} input changed since the checkpoint at "
                f"{out_dir} was written (fingerprint {recorded[:12]} → "
                f"{value[:12]}); resuming would mix outputs of both. "
                "Rerun with resume=False (or start a fresh out dir).")
    recorded = meta.get("max_page_bytes", max_page_bytes)
    if resume and recorded != max_page_bytes:
        raise ValueError(
            f"checkpoint at {out_dir} was written with max_page_bytes="
            f"{recorded}; resume invoked with max_page_bytes="
            f"{max_page_bytes}. Its committed buckets were gated at the "
            "recorded value — rerun with it, or with resume=False.")

    # record the contract BEFORE the first data write: docs parquet
    # lands before the checkpoint rows, so a crash mid-run must already
    # leave the meta guard in place — otherwise a later resume with a
    # different n_buckets, gate or input would pass the checks above and
    # mix it into a half-written output.
    new_meta = {"n_buckets": n_buckets, "max_page_bytes": max_page_bytes,
                **{f"{k}_fingerprint": v for k, v in inputs.items()}}
    if meta != new_meta:
        fs.create_dir(root)
        with fs.open_output_stream(meta_path) as fh:
            fh.write(json.dumps(new_meta).encode())

    # the pass input in ONE projection (gated payloads, bucket, doc_id),
    # then ONE shuffle that places whole buckets on the pass's k tasks
    # (_pass_tasks). A row's partition id is its bucket's rank in
    # run_buckets, which the exchange takes modulo k, so each bucket
    # lands in exactly one task, which writes its files, and every
    # task holds ⌊len/k⌋ or ⌈len/k⌉ buckets; a task is empty only if its
    # buckets hold no pages. The rank, not the id: ids 1 and 5 share a
    # task under id mod 2. Written as SQL text: about one Py4J round trip
    # per column instead of one per function, literal and alias.
    in_run = ", ".join(map(str, run_buckets))
    k = _pass_tasks(len(run_buckets), spark.sparkContext.defaultParallelism)
    todo = (pages.selectExpr(
                *extract_mod.gated_columns(max_page_bytes),
                f"{lineage.bucket_of('url', n_buckets)} AS bucket",
                "xxhash64(url) AS doc_id")
            .where(f"bucket IN ({in_run})")
            .repartitionById(k, F.expr(
                f"CAST(array_position(array({in_run}), bucket) - 1 AS INT)")))

    gaz_bc = ner_mod.load_gazetteers(spark, *gaz_paths)

    # ONE Python pass that also writes every table (see the module
    # docstring); its checkpoint rows are the run's only data action
    new_files = functools.partial(lineage.BucketFiles, fs, root,
                                  _table_schemas())
    ckpt = [r.asDict() for r in _process(todo, gaz_bc, new_files).collect()]
    written = {r["bucket"] for r in ckpt}
    if len(written) != len(ckpt):
        raise RuntimeError("a bucket was written by more than one task")
    # a run bucket no task saw holds no pages: its files are replaced by
    # empty ones, so no earlier run's rows survive in it
    empty = new_files()
    for b in set(run_buckets) - written:
        empty.open(b)
    ckpt += empty.commit()

    # lineage/metrics rows LAST (commit point) — crash before this line ⇒
    # none of the run's buckets is committed, and they are reprocessed and
    # their files replaced next run. Every run bucket gets one row: one
    # that produced no rows has ZERO pages and gets a zero-row sentinel,
    # so the no-op path above closes over it.
    lineage.append_checkpoint(sorted(ckpt, key=lambda r: r["bucket"]),
                              checkpoint_path)

    if not any(r["row_count"] for r in ckpt):
        return dict(_NOTHING_TO_DO)
    return {t: lineage.count_rows(os.path.join(out_dir, t))
            for t in ("docs", "chunks", "edges", "checkpoint")}


def _read_pages(spark: SparkSession, pages_path: str) -> DataFrame:
    """The pages table, read with the schema of one parquet footer
    (pyarrow, no Spark job). A path with no data file, or one whose
    schema lacks an input column, raises ValueError before anything is
    written."""
    import pyarrow.dataset as ds    # imports pandas: not at module scope
    schema = from_arrow_schema(ds.dataset(pages_path, format="parquet")
                               .schema)
    missing = [c for c in extract_mod.PAGE_COLUMNS if c not in schema.names]
    if missing:
        raise ValueError(f"pages input {pages_path} has no column "
                         f"{', '.join(missing)} (or no parquet data file)")
    return spark.read.schema(schema).parquet(pages_path)


def _table_schemas() -> dict[str, pa.Schema]:
    """The arrow schema of each table a run writes (batches.arrow_schema
    of its DDL string; the docs columns in DOC_COLUMNS order)."""
    docs = arrow_schema(extract_mod.DOCS_UDF_SCHEMA + ", doc_id long")
    return {"docs": pa.schema([docs.field(c)
                               for c in extract_mod.DOC_COLUMNS]),
            "chunks": arrow_schema(chunk_mod.CHUNKS_SCHEMA),
            "edges": arrow_schema(ner_mod.EDGES_SCHEMA)}


def _tables(batch: pa.RecordBatch, nested: dict[str, list[list[dict]]],
            schemas: dict[str, pa.Schema]) -> dict[str, pa.Table]:
    """One batch's rows of every table plus their ``bucket``: ``nested``
    holds each page's rows of each table (its one docs row of extracted
    columns, its chunk and edge rows); the doc-level columns of all of
    them are the page's own Arrow columns, cast to the files' types."""
    bucket = pa.field("bucket", pa.int32())
    docs = schemas["docs"].append(bucket)
    page = {c: batch.column(c).cast(docs.field(c).type)
            for c in ("doc_id", "url", "warc_ts", "lang", "bucket")}
    out = {}
    for t, per_doc in nested.items():
        schema = schemas[t].append(bucket)
        parent = pa.array([i for i, rows in enumerate(per_doc)
                           for _ in rows], pa.int64())
        own = pa.Table.from_pylist(
            [r for rows in per_doc for r in rows],
            schema=pa.schema([f for f in schema if f.name not in page]))
        out[t] = pa.table([page[f.name].take(parent) if f.name in page
                           else own.column(f.name) for f in schema],
                          schema=schema)
    return out


def _invalidate_zip_if_changed(self) -> None:
    """zipimporter.invalidate_caches that re-reads the archive's directory
    only when the archive's (mtime_ns, ctime_ns, size, inode) differs from
    what this importer last read: a new importer reads on its first call,
    and a changed archive (a re-shipped ``--py-files`` zip, or one copied
    over in place with its mtime kept: any write moves the ctime) is read
    again. The stdlib method is looked up on the class, never captured, so
    a copy of this function shipped by value in a later task still calls
    the original."""
    try:
        st = os.stat(self.archive)
        seen = (st.st_mtime_ns, st.st_ctime_ns, st.st_size, st.st_ino)
    except OSError:
        seen = None
    if seen is None or getattr(self, "_read_stat", None) != seen:
        zipimport.zipimporter._stdlib_invalidate_caches(self)
        self._read_stat = seen


def _keep_zip_directories() -> None:
    """Once per Python worker process: keep zip directories across tasks.

    Before every task PySpark's worker calls importlib.invalidate_caches()
    (pyspark/worker_util.py::setup_spark_files). Before CPython 3.12 each
    zip importer answers by re-reading its archive's whole central
    directory; a warm worker holds 16 of them (pyspark.zip, the py4j zip,
    the Spark core jar), 180-260 ms per task with 4 tasks at once, before
    the UDF body starts. 3.12 invalidates lazily, so it is left alone.

    The once-per-process guard is state on the class itself (the stdlib
    method, kept as ``_stdlib_invalidate_caches``), not a cache on this
    function: run as ``python -m …job`` this module is ``__main__`` and the
    pass ships its functions by value, a fresh copy per task."""
    cls = zipimport.zipimporter
    if sys.version_info < (3, 12) and not hasattr(
            cls, "_stdlib_invalidate_caches"):
        cls._stdlib_invalidate_caches = cls.invalidate_caches
        cls.invalidate_caches = _invalidate_zip_if_changed


# the most run buckets per core that the pass packs into one wave
_WAVE_BUCKETS_PER_CORE = 2


def _pass_tasks(n_run: int, cores: int) -> int:
    """The number of pass tasks for a run over ``n_run`` buckets on
    ``cores`` cores.

    Up to _WAVE_BUCKETS_PER_CORE run buckets per core it is min(n_run,
    cores): one wave of tasks holding one or two buckets each, because
    at this size each Python task's start-up cost is a large part of the
    pass (20-45 ms in a first wave, 64-156 ms in a second, with 8
    buckets on a 4-vCPU box). Above that it is one task per bucket. A task
    buffers up to lineage.ROW_GROUP_BYTES per table for every bucket it
    holds, so its memory must not grow with the run's buckets per core;
    and many tasks let the scheduler use executors added after the run
    starts and spread a retried or slow task's work."""
    if n_run <= _WAVE_BUCKETS_PER_CORE * cores:
        return min(n_run, cores)
    return n_run


def _process(todo: DataFrame, gaz_bc, new_files) -> DataFrame:
    """Gated pages (+ bucket, doc_id) → one checkpoint row per bucket.
    Each task runs extract → chunk → scan + link for each of its pages in
    one mapInArrow pass and streams every table's rows into its buckets'
    files (``new_files()``: a lineage.BucketFiles)."""
    row_schema = arrow_schema(lineage.CHECKPOINT_ROW_SCHEMA)

    def process_batches(batches):
        _keep_zip_directories()
        idx, memo = ner_mod._get_index_and_memo(gaz_bc)
        files = new_files()
        for batch in batches:
            nested = {"docs": [], "chunks": [], "edges": []}
            for doc_id, html, text, too_big, warc_ts in zip(*(
                    batch.column(c).to_pylist() for c in (
                        "doc_id", "html", "text", "_oversized", "warc_ts"))):
                row = extract_mod.extract_row(html, text, too_big)
                chunks = chunk_mod.chunk_rows(doc_id, row["text"])
                date = ner_mod.doc_date(warc_ts)
                edges = []
                for c in chunks:
                    edges += ner_mod.edge_rows(
                        idx.scan(c["content"]), idx, memo, c["chunk_id"],
                        c["content"], date)
                nested["docs"].append([row])
                nested["chunks"].append(chunks)
                nested["edges"].append(edges)
            files.add(_tables(batch, nested, files.schemas))
        yield pa.RecordBatch.from_pylist(files.commit(), schema=row_schema)

    return todo.mapInArrow(process_batches,
                           schema=lineage.CHECKPOINT_ROW_SCHEMA)


def main(argv=None):
    from ..session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--gazetteers-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-buckets", type=int, default=DEFAULT_N_BUCKETS)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    def _page_bytes(s: str) -> int | None:
        v = int(s)
        if v < 0:
            # a typo'd negative must error, not silently disable the gate
            raise argparse.ArgumentTypeError(
                "--max-page-bytes must be >= 0 (0 disables the gate)")
        return v or None

    ap.add_argument("--max-page-bytes", type=_page_bytes,
                    default=extract_mod.DEFAULT_MAX_PAGE_BYTES,
                    help="quarantine pages whose html or text exceeds "
                         "this many bytes (failure_code=OVERSIZED_INPUT). "
                         "Default 100 MiB; pass 0 to disable the gate "
                         "entirely (negative values are rejected)")
    args = ap.parse_args(argv)

    spark = get_spark("extraction_job", cpus=args.cpus)
    t0 = time.time()
    counts = run_pipeline(spark, args.pages, args.gazetteers_dir, args.out,
                          n_buckets=args.n_buckets,
                          resume=not args.no_resume,
                          max_page_bytes=args.max_page_bytes)
    elapsed = time.time() - t0
    print(json.dumps({"elapsed_sec": round(elapsed, 2), **counts}))


if __name__ == "__main__":
    main()
