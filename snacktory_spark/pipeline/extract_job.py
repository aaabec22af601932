"""The distributed extraction pipeline (SURVEY.md §2.6, §4).

Plan shape (deliberately narrow — scan → filter → salted exchange → Arrow
UDF map → bucket exchange → write; two shuffles, one each side of the UDF):

  read parquet/iceberg (explicit schema, predicate pushdown + column pruning
      reach the scan — we select only the needed columns)
  → filter(has_text(): non-null, non-empty text)   [cheap JVM-side gate;
      gated_turns, shared with extracted_dedup_df and streaming]
  → repartition(n, xxhash64(conv_id, turn_idx DIV SALT_SPAN))
      conv_id-hash salting: turns of one mega-conversation spread over
      ceil(len/SALT_SPAN) partitions — defuses long-conversation skew while
      keeping SALT_SPAN-turn runs co-located (north-star requirement)
  → mapInPandas(extract)        [Arrow-vectorized, no per-row Python]
  → repartition(n, bucket, file-salt) + sortWithinPartitions(bucket,
      conv_id, turn_idx)        [run_extract only; see the sink rule below]
  → write parquet partitioned by bucket = bucket_of(N_BUCKETS), a conv_id hash

Sink rule: every file costs a create/commit (an object on a cluster, a
forked chmod on a local filesystem without libhadoop), so a wave writes
about max(buckets in the wave, n) files, never n × buckets: k = ceil(n /
buckets in the wave) file salts per bucket, hashed from conv_id under their
own seed (reusing the bucket hash collapses k when gcd(k, N_BUCKETS) > 1).
Keying the UDF's exchange by bucket instead would put a mega-conversation
into one Python task.

Checkpoint/resume: after a wave's write commits, the job stores one record
per bucket of the wave under <out>/_manifest/: the bucket, its input_path
and n_buckets stamp, `has_rows`, and `wave`, the wave's figures (rows,
bytes, ok/error rows, approximate conversation and source-file counts, the
first source file) as counted by a DataFrame.observe on the write itself
(write_observed); nothing re-reads the output to count it. A resumed run
anti-joins input buckets against the manifest and only processes missing
buckets; partitionOverwriteMode=dynamic makes per-bucket output overwrites
idempotent.

Waves: the missing buckets run in up to MAX_WAVES waves, each written and
manifested before the next starts. The count is worked out from the input,
not set by the caller: the missing share of the input's plan bytes over one
cluster-wide round of max-size scan splits (defaultParallelism ×
spark.sql.files.maxPartitionBytes), rounded up. Every wave re-scans the
whole input (the bucket filter is on a hash and cannot reach parquet) and
starts its own Python tasks, so an input that one round of splits covers
runs as ONE wave; a larger one keeps the cap, and a kill loses at most a
MAX_WAVES-th of the run.

At 100 TB: buckets bound the blast radius of a failure (a killed job loses
at most the in-flight wave), the manifest is tiny driver-side state, and
resume is an O(buckets) filter, not a table diff.
"""

from __future__ import annotations

import logging
import math
import os
import re

from pyspark.sql import (Column, DataFrame, Observation, SparkSession,
                         functions as F)
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..schema import EXTRACTED_SCHEMA, TRANSCRIPT_SCHEMA
from ..udf import extract_map_in_pandas
from .jobfs import JobFS

DEFAULT_SALT_SPAN = 64      # turns of one conv kept together per salt unit
DEFAULT_N_BUCKETS = 64      # output commit granularity
MAX_WAVES = 4               # a kill loses at most a quarter of the run

# the transcript columns extraction passes through to EXTRACTED_SCHEMA
_KEY_COLS = ("conv_id", "turn_idx", "role", "tool", "ts")
# the written extract table: EXTRACTED_SCHEMA + the bucket partition column
_WRITTEN_SCHEMA = StructType(list(EXTRACTED_SCHEMA.fields)
                             + [StructField("bucket", IntegerType(), True)])
# the dedup path's UDF output: EXTRACTED_SCHEMA with the content hash h
# in place of the transcript keys
_DEDUP_SCHEMA = StructType(
    [StructField("h", StringType(), False)]
    + [f for f in EXTRACTED_SCHEMA.fields if f.name not in _KEY_COLS])


def ensure_py_files(spark: SparkSession) -> None:
    """Ship the snacktory_spark package to executor Python workers.

    The spark-submit deployment uses ``--py-files snacktory_spark.zip``; when
    driven from an arbitrary session (driver harness, notebook) we build the
    zip on the fly and addPyFile it, so workers can unpickle the UDFs no
    matter what the driver's cwd/sys.path is.
    """
    sc = spark.sparkContext
    if sc._jsc is None:
        return
    if getattr(sc, "_snacktory_pyfiles_added", False):
        return
    sc.addPyFile(build_pyfiles_zip())
    sc._snacktory_pyfiles_added = True


def build_pyfiles_zip() -> str:
    """Build (or reuse) the snacktory_spark executor zip; returns its
    path. The name is CONTENT-ADDRESSED — a hash of the package's file
    list, sizes and mtimes: a pid-keyed name collides when pids recycle
    across runs and silently ships a STALE module set to the executors
    (observed as ModuleNotFoundError for any module added since).
    Identical sources reuse the cached zip; any change produces a new
    name; the build is atomic (tmp + rename), so concurrent builders
    race safely."""
    import hashlib
    import tempfile
    import zipfile

    import snacktory_spark
    pkg_dir = os.path.dirname(os.path.abspath(snacktory_spark.__file__))
    entries = []
    for root, _dirs, files in os.walk(pkg_dir):
        for name in sorted(files):
            if name.endswith(".py"):
                full = os.path.join(root, name)
                st = os.stat(full)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                entries.append((full, rel, st.st_size, st.st_mtime_ns))
    entries.sort(key=lambda x: x[1])
    digest = hashlib.sha1(repr([(r, s, m) for _f, r, s, m
                                in entries]).encode()).hexdigest()[:16]
    zpath = os.path.join(tempfile.gettempdir(),
                         f"snacktory_spark-{digest}.zip")
    if not os.path.exists(zpath):
        tmp = zpath + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full, rel, _s, _m in entries:
                zf.write(full, rel)
        os.replace(tmp, zpath)
    return zpath


def build_session(app: str = "snacktory-extract", master: str | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    b = (SparkSession.builder.appName(app)
         # local mode runs everything in the driver JVM; the 1g default heap
         # causes cache thrashing/GC stalls with large HTML rows
         .config("spark.driver.memory", os.environ.get("SNACKTORY_DRIVER_MEM", "24g"))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         # large HTML rows: keep Arrow batches small to bound worker memory
         # (512×500KB cap = 256MB worst case per in-flight batch; raising to
         # 2048 gains ~8% throughput when rows are known-small; it is a
         # runtime SQL conf, so spark.conf.set overrides it per session)
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
         .config("spark.sql.parquet.compression.codec", "zstd")
         .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
         .config("spark.sql.session.timeZone", "UTC"))
    if master:
        b = b.master(master)
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return b.getOrCreate()


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Scan with explicit schema (never inferred); Iceberg tables load via
    spark.table() when the path is a catalog identifier."""
    if "/" not in path and "." in path:
        return spark.table(path)  # iceberg/catalog identifier
    return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)


def read_extracted(spark: SparkSession, path: str) -> DataFrame:
    """The extract table run_extract wrote at `path`. The schema is
    explicit: a run whose buckets are all empty writes no data files, and
    schema inference over none would fail. The write always creates
    `path`, so every read error is a real one and propagates."""
    return spark.read.schema(_WRITTEN_SCHEMA).parquet(path)


def scan_rounds(df: DataFrame) -> float:
    """How many cluster-wide rounds of max-size scan splits `df`'s input
    fills: its plan's sizeInBytes over defaultParallelism ×
    spark.sql.files.maxPartitionBytes. For an unfiltered parquet scan the
    plan size is the on-disk size; reading it runs no Spark job. A source
    that reports no size (Long.MaxValue) reads as very large."""
    spark = df.sparkSession
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return size / (spark.sparkContext.defaultParallelism * split)


class _ManifestIO:
    """The per-bucket manifest under <output_path>/_manifest, kept on the
    filesystem Spark's writer uses for output_path (jobfs), so resume
    state lives next to the data it certifies."""

    def __init__(self, spark: SparkSession, output_path: str):
        self.fs = JobFS(spark, output_path)

    def write_atomic(self, rec: dict) -> None:
        """tmp+rename so a kill mid-write never leaves a corrupt manifest."""
        self.fs.write_json(f"_manifest/bucket-{rec['bucket']:05d}.json", rec)

    def load(self, expect_input_path: str | None = None,
             expect_n_buckets: int | None = None) -> dict[int, dict]:
        """The bucket records, by bucket (load_manifest)."""
        out = {}
        for name in self.fs.listdir("_manifest"):
            if not name.endswith(".json"):
                continue
            row = self.fs.read_json("_manifest/" + name)
            if row is None:
                continue  # torn write from a killed run = incomplete
            if (expect_input_path is not None
                    and row.get("input_path") is not None
                    and row["input_path"] != expect_input_path):
                continue
            if (expect_n_buckets is not None
                    and row.get("n_buckets") is not None
                    and int(row["n_buckets"]) != expect_n_buckets):
                continue
            out[int(row["bucket"])] = row
        return out

    def clean_stale(self, keep: set[int]) -> list[int]:
        """Delete bucket data dirs and manifest records NOT certified
        complete-and-compatible (ADVICE r2).

        Dynamic partition overwrite only clears partitions the new run
        writes, so a prior run with a different input_path / n_buckets (or
        a dirty non-resume dir) leaves bucket=N dirs the new run never
        touches — silently corrupting the combined dataset. Anything not
        in `keep` is either stale-incompatible or incomplete-and-about-to-
        be-rewritten; deleting both is safe and restores the invariant
        "every bucket dir on disk has a matching manifest record".
        Returns the bucket numbers whose data dirs were removed."""
        removed = []
        for name in self.fs.listdir(dirs_only=True):
            if not name.startswith("bucket="):
                continue
            try:
                b = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if b not in keep:
                self.fs.delete(name)
                removed.append(b)
        for name in self.fs.listdir("_manifest"):
            b = _manifest_bucket(name)
            if b is not None and b not in keep:
                self.fs.delete("_manifest/" + name)
        removed = sorted(removed)
        if removed:
            # WARN with the explicit bucket list (ADVICE r3): this purge
            # is destructive by design; if a caller ever points
            # output_path at an unrelated partitioned dataset, this line
            # is the job-log evidence of what was wiped.
            logging.getLogger(__name__).warning(
                "clean_stale: removed %d stale bucket dir(s) under %s: %s",
                len(removed), self.fs.root, removed)
        return removed


def _manifest_bucket(name: str) -> int | None:
    """bucket number of a manifest file name ('bucket-00007.json'), else
    None (tmp files are also claimed: a torn .tmp is never a valid record)."""
    m = re.match(r"bucket-(\d+)\.json(\.tmp)?$", name)
    return int(m.group(1)) if m else None


def load_manifest(output_path: str, spark: SparkSession | None = None,
                  expect_input_path: str | None = None,
                  expect_n_buckets: int | None = None) -> dict[int, dict]:
    """Read per-bucket completion records (through the active session's
    filesystem resolution when `spark` is not given).

    Records whose recorded input_path / n_buckets don't match the expected
    values are IGNORED (treated as incomplete): resuming the same output dir
    against a different input or bucket count must not silently skip work
    (ADVICE r1). Records written before these fields existed pass through.
    """
    return _ManifestIO(spark or SparkSession.active(), output_path).load(
        expect_input_path, expect_n_buckets)


def udf_partitions(spark: SparkSession, partitions: int | None = None) -> int:
    """The UDF stage's partition count, `partitions` or 2 × defaultParallelism;
    explicit, since AQE would coalesce it by shuffle bytes and starve the
    CPU-heavy UDF stage."""
    return partitions or 2 * spark.sparkContext.defaultParallelism


def has_text() -> Column:
    """The extraction gate: rows with no text never reach the UDF."""
    return F.col("text").isNotNull() & (F.length("text") > 0)


def gated_turns(df: DataFrame, lineage: bool) -> DataFrame:
    """The extraction stage's input, shared by the plain, dedup and
    streaming paths: the transcript keys and text of every row that passes
    has_text(), plus `input_file` when `lineage` is set. input_file is
    attached AFTER the filter: a projection containing input_file_name()
    (marked nondeterministic) blocks predicate pushdown, and the
    IsNotNull(text) gate must reach the parquet scan."""
    ensure_py_files(df.sparkSession)
    gated = df.select(*_KEY_COLS, "text").filter(has_text())
    if lineage:
        gated = gated.withColumn("input_file", F.input_file_name())
    return gated


def bucket_of(n_buckets: int) -> Column:
    """A row's output bucket: its conversation's hash mod n_buckets."""
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def extracted_df(df: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS,
                 salt_span: int = DEFAULT_SALT_SPAN,
                 partitions: int | None = None,
                 lineage: bool = True) -> DataFrame:
    """transcripts DataFrame → extracted DataFrame (lazy, no write).

    `lineage=False` drops the per-row `input_file` capture (the UDF then
    emits NULL for that column): mapInPandas is opaque to column pruning,
    so a query that discards lineage — the oracled q_corpus_prep /
    extract oracles project it away — would otherwise materialize a
    ~60-byte path string per row and carry it through the salt exchange
    and the Arrow boundary both ways. The WRITE path (run_extract) keeps
    the default: the written table carries it, and the manifests' source-
    file figures are observed from it."""
    salt = F.xxhash64(F.col("conv_id"),
                      (F.col("turn_idx") / F.lit(salt_span)).cast("long"))
    salted = gated_turns(df, lineage).repartition(
        udf_partitions(df.sparkSession, partitions), salt)
    out = salted.mapInPandas(extract_map_in_pandas, schema=EXTRACTED_SCHEMA)
    return out.withColumn("bucket", bucket_of(n_buckets))


def extracted_dedup_df(df: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS,
                       partitions: int | None = None,
                       lineage: bool = True) -> DataFrame:
    """The reference's result cache (S6, SCache.java) re-expressed at
    scale: extract each DISTINCT text exactly once, then join the result
    back to every row by content hash.

    Worth it when the duplicate ratio is high (templated pages, retried
    tool turns, crawl re-fetches): UDF cost scales with DISTINCT texts,
    while the added cost is one dropDuplicates shuffle of (hash, text) and
    one hash-join on a 64-char sha256 key. Output schema and content
    match extracted_df row for row: equal hashes mean equal texts, so the
    UDF's per-text input_bytes holds for every row it joins back to;
    input_file is captured only with lineage=True, NULL otherwise,
    mirroring extracted_df. Work distribution is by content hash —
    uniform by construction, so no conversation-length skew."""
    # sha256, not md5: the hash is a content-EQUALITY key here (md5
    # chosen-prefix collisions are practical, and a collision would
    # silently assign one page's extraction to another)
    hashed = gated_turns(df, lineage).withColumn("h", F.sha2("text", 256))
    distinct = (hashed.select("h", "text")
                .dropDuplicates(["h"])
                .repartition(udf_partitions(df.sparkSession, partitions), "h"))
    res = distinct.mapInPandas(extract_map_in_pandas, schema=_DEDUP_SCHEMA)
    if lineage:
        res = res.drop("input_file")  # NULL: the row's own comes from hashed
    out = (hashed.drop("text").join(res, "h")
           .select(*EXTRACTED_SCHEMA.fieldNames()))
    return out.withColumn("bucket", bucket_of(n_buckets))


def run_extract(spark: SparkSession, input_path: str, output_path: str,
                n_buckets: int = DEFAULT_N_BUCKETS,
                salt_span: int = DEFAULT_SALT_SPAN,
                partitions: int | None = None,
                resume: bool = True) -> dict:
    """Run (or resume) the extraction job (extracted_df per wave). Returns
    run metrics.

    The missing buckets are processed in WAVES: each wave is written +
    manifested before the next starts, so a killed job loses at most one
    in-flight wave and a resume skips every committed bucket. The wave
    count is ceil(missing share of the input bytes / (defaultParallelism ×
    spark.sql.files.maxPartitionBytes)), clamped to [1, MAX_WAVES]: each
    wave re-scans the input and starts its own Python tasks, so a small
    input runs as one wave, while a large one (or one of unknown size)
    keeps MAX_WAVES waves to bound the blast radius of a failure.

    The input is scanned exactly ONCE per wave (the extract pass itself)
    and the output is never read back. The extraction UDF is strictly
    1-row-in/1-row-out and emits input_bytes + input_file lineage columns,
    so every manifest figure is an aggregate over the rows the wave
    writes, observed by the write (write_observed). Figures are per WAVE,
    not per bucket: a bucket's record holds `has_rows` (from the observed
    set of written buckets, exact) and the wave's figures, `wave` =
    {buckets, output_rows, input_bytes, output_bytes, ok_rows, error_rows,
    approx_convs, approx_input_files, first_input_file}. Per-bucket
    figures would need one conditional aggregate per (bucket, field),
    which made a chat_turns pass take 4.2-4.5 s instead of about 2 s. The
    returned totals sum the waves' figures; input_rows counts rows that
    entered extraction, i.e. after the null/empty-text scan gate.

    The sink clusters each wave by bucket (module docstring, "Sink rule"):
    one exchange on (bucket, file salt) with the UDF stage's width n, then a
    sort on (bucket, conv_id, turn_idx); a bucket dir gets at most ceil(n /
    buckets in the wave) files per wave, rows in turn order.
    """
    # Dynamic per-partition overwrite is load-bearing: with the static
    # default, wave 2 (or a resume) would DELETE every previously committed
    # bucket directory under output_path (ADVICE r1). build_session sets it,
    # but run_extract accepts any SparkSession — enforce it here, and
    # restore the caller's value afterwards: leaving it flipped silently
    # changes overwrite semantics of UNRELATED partitioned writes later in
    # the same session (ADVICE r2).
    _MODE_KEY = "spark.sql.sources.partitionOverwriteMode"
    prev_mode = spark.conf.get(_MODE_KEY)
    spark.conf.set(_MODE_KEY, "dynamic")
    try:
        return _run_extract_waves(
            spark, input_path, output_path, n_buckets, salt_span,
            partitions, resume)
    finally:
        spark.conf.set(_MODE_KEY, prev_mode)


def write_observed(df: DataFrame, path: str, metrics: dict[str, Column],
                   partition_by: str | None = None) -> dict:
    """Overwrite `path` with `df` as parquet and return `metrics`, named
    aggregates, evaluated over the rows written, from a DataFrame.observe
    on the write itself: no second job reads the output back to count it.

    The observe is the LAST step before the write, so its CollectMetrics
    node sits above the plan's last exchange, in the write's result stage
    (WriteFiles → Project → CollectMetrics → Sort → shuffle read for the
    extract sink; the writer adds no Sort for it). Spark merges a result
    task's accumulator update once per partition, and only from a
    successful attempt, so retried or speculative tasks do not count
    twice; an observe below an exchange would sit in a map stage, whose
    re-runs can. A failed write raises before the figures are read."""
    obs = Observation()
    writer = df.observe(obs, *(c.alias(k) for k, c in metrics.items())
                        ).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)
    return obs.get


def _wave_metrics() -> dict[str, Column]:
    """The figures a wave's manifest records carry, aggregated over the
    wave's written rows. observe rejects DISTINCT aggregates, so the
    source-file count is an approx_count_distinct, like approx_convs."""
    return {"output_rows": F.count(F.lit(1)),
            "input_bytes": F.coalesce(F.sum("input_bytes"), F.lit(0)),
            "output_bytes": F.coalesce(F.sum("output_bytes"), F.lit(0)),
            "ok_rows": F.count_if(F.col("extract_ok")),
            "error_rows": F.count_if(~F.col("extract_ok")),
            "approx_convs": F.approx_count_distinct("conv_id"),
            "approx_input_files": F.approx_count_distinct("input_file"),
            "first_input_file": F.min("input_file"),
            "written_buckets": F.collect_set("bucket")}


def _run_extract_waves(spark, input_path, output_path, n_buckets, salt_span,
                       partitions, resume) -> dict:
    df_all = read_transcripts(spark, input_path)

    mio = _ManifestIO(spark, output_path)
    done = mio.load(input_path, n_buckets) if resume else {}
    # Purge bucket dirs/manifests not certified by `done` BEFORE processing:
    # an incompatible prior run (different input_path / n_buckets) or a
    # non-resume rerun leaves data dirs dynamic overwrite never clears,
    # silently corrupting the combined dataset (ADVICE r2).
    stale = mio.clean_stale(keep=set(done))
    missing = [b for b in range(n_buckets) if b not in done]
    if not missing:
        return {"skipped": True, "completed_buckets": len(done),
                "stale_buckets_removed": len(stale)}
    # uniform bucket hashing: the missing buckets hold their share of bytes
    n_waves = max(1, min(MAX_WAVES, len(missing), math.ceil(
        scan_rounds(df_all) * len(missing) / n_buckets)))
    waves = [missing[len(missing) * i // n_waves:
                     len(missing) * (i + 1) // n_waves]
             for i in range(n_waves)]

    totals = {"input_rows": 0, "input_bytes": 0, "output_rows": 0,
              "ok_rows": 0, "error_rows": 0, "buckets_written": 0,
              "resumed_buckets_skipped": len(done), "waves": 0,
              "stale_buckets_removed": len(stale)}

    # one width for the UDF stage and the write stage, so they cannot drift
    n = udf_partitions(spark, partitions)
    for wave in waves:
        out = extracted_df(df_all.filter(bucket_of(n_buckets).isin(wave)),
                           n_buckets=n_buckets, salt_span=salt_span,
                           partitions=n)
        # file salt under its own seed (module docstring, "Sink rule");
        # the leading "bucket" sort key satisfies the dynamic-partition
        # writer's required ordering, so it does not re-sort at write time
        fsalt = F.pmod(F.xxhash64(F.lit("fsalt"), F.col("conv_id")),
                       F.lit(math.ceil(n / len(wave))))
        out = (out.repartition(n, F.col("bucket"), fsalt)
               .sortWithinPartitions("bucket", "conv_id", "turn_idx"))
        figures = write_observed(out, output_path, _wave_metrics(),
                                 partition_by="bucket")
        written = set(figures.pop("written_buckets"))
        figures["buckets"] = wave
        # a bucket with no rows is complete too, so resume does not
        # re-plan it forever
        for b in wave:
            mio.write_atomic({"bucket": b, "has_rows": b in written,
                              "wave": figures, "input_path": input_path,
                              "n_buckets": n_buckets})
        totals["input_rows"] += figures["output_rows"]  # UDF is 1-in/1-out
        for k in ("input_bytes", "output_rows", "ok_rows", "error_rows"):
            totals[k] += figures[k]
        totals["buckets_written"] += len(written)
        totals["waves"] += 1

    return totals
