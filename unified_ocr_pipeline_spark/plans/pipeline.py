"""The end-to-end extraction job: scan → dedup → salted bucketing →
Arrow-batched extraction → bucketed write + manifests + lineage metrics.

Scale design (BASELINE.json north_rule / SURVEY.md §4):

- **Salted bucketing for skewed hosts.** ``bucket = pmod(xxhash64(host),
  N/S) * S + pmod(xxhash64(url), S)``: every host maps to S consecutive buckets
  — host locality is preserved (politeness/cache affinity on a real
  cluster) while a heavy host (30%+ of a crawl) is split S ways instead of
  melting one partition. Uniform-hash would also kill skew but destroys
  host locality; salting keeps both. S is worked out from N: 8, or N
  itself when there are fewer than 8 buckets (one host group, nothing to
  spread a heavy host over).
- **Bucket count tracks the cluster and the input.** With
  ``num_buckets=None`` each ``run`` sizes the bucket count to the bytes it
  reads (about one bucket per MiB, capped at the cluster-sized
  ``auto_num_buckets``): a 300-doc cron tick writes two or three files
  and one manifest row per bucket, not 64 of each. The layout is resolved
  per run and returned in ``RunResult``; the manifest records it per
  epoch, so a resume replays it whatever the input size or config.
- **Checkpointed partition manifests (resume).** The unit of work is the
  bucket. A bucket's manifest row (bucket, row_count, content_hash,
  run_id, completed_at) is written only AFTER its output is durably
  written; a restart filters the input to the buckets missing from the
  manifest with an IN-list (reference analog: existing-output duplicate
  check, unified_ocr_pipeline.py:249-271 — SURVEY.md J2/X6), deletes
  their output dirs and appends them afresh, so a bucket that crashed
  between write and manifest is simply rewritten — idempotent,
  exactly-once effect. Each run then rewrites the epoch's metrics and
  manifest from the epoch's rows as they now stand, so the lineage never
  counts a row twice, whatever crash or replay came before.
- **One code path for batch and cron.** ``run`` takes a path, a
  ``table:`` spec or a DataFrame; a cron tick passes its micro-batch
  DataFrame straight in (``streaming/incremental.py``).
- **Lineage metrics.** Per input partition (the manifest: per bucket): row
  counts, byte counts, status breakdown, stage wall time — aggregated from
  columns the extraction stage emits, no second pass over the data.
- **Exact dedup by url** (latest crawl wins) inside the single bucket
  exchange: the window that lays rows out for the bucketed write also
  sorts (url, warc_ts desc), so a lag-based first-row filter dedups with
  no extra shuffle.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..kernels import document as D
from ..sources.tables import read_input
from .extraction import extract_stage, gate_oversize

DEFAULT_NUM_BUCKETS = 64  # floor of the cluster-sized cap
# the salt of every new layout with at least this many buckets; a smaller
# layout is salted by its bucket count (one host group)
DEFAULT_SALT_FACTOR = 8
# input bytes per bucket when num_buckets is sized to the input
_BYTES_PER_BUCKET = 1 << 20
# the extracted table's light columns that the lineage is aggregated from;
# reading them back with this schema runs no inference job
_LINEAGE_SCHEMA = (
    "bucket INT, partition_id INT, run_id STRING, raw_bytes BIGINT, total_text_length BIGINT, "
    "total_images INT, status STRING, proc_us BIGINT, warc_ts TIMESTAMP, row_hash BIGINT"
)


def auto_num_buckets(spark: SparkSession, input_bytes: Optional[int] = None) -> int:
    """Size the bucket count from the cluster and the input, not a constant.

    The bucket exchange and the bucketed write are the pipeline's ONLY
    shuffle; their parallelism is capped at num_buckets, so a forgotten
    fixed default serializes the post-extraction stage on a big cluster
    (64 tasks on 1000 executors). The cap: 4 × total cores (headroom for
    skew/stragglers), at least ``DEFAULT_NUM_BUCKETS``, rounded up to a
    multiple of ``DEFAULT_SALT_FACTOR`` (salted_bucket requires
    divisibility).

    Each bucket also costs a file per writing task plus a manifest row, so
    a small input must not pay for the cap: given ``input_bytes``, the
    count is ``n = ceil(input_bytes / 1 MiB)``, at least 1. From 8 up it is
    rounded up to a multiple of 8 and held at the cap. None (input size
    unknown, e.g. a catalog table) → the cap."""
    cap = max(DEFAULT_NUM_BUCKETS, 4 * spark.sparkContext.defaultParallelism)
    cap = -(-cap // DEFAULT_SALT_FACTOR) * DEFAULT_SALT_FACTOR
    if input_bytes is None:
        return cap
    n = max(1, -(-input_bytes // _BYTES_PER_BUCKET))
    if n < DEFAULT_SALT_FACTOR:
        return n
    return min(cap, -(-n // DEFAULT_SALT_FACTOR) * DEFAULT_SALT_FACTOR)


def with_host(df: DataFrame) -> DataFrame:
    return df.withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))


def salted_bucket(df: DataFrame, num_buckets: int, salt_factor: int) -> DataFrame:
    """Assign each row its salted bucket.

    ``bucket = pmod(xxhash64(host), N/S) * S + pmod(xxhash64(url), S)``
    — host → S consecutive buckets; the heavy host spreads S ways. pmod is
    applied before the multiply so the arithmetic never overflows bigint
    (ANSI mode is on in Spark 4).
    """
    if num_buckets % salt_factor != 0:
        raise ValueError("num_buckets must be divisible by salt_factor")
    host_group = F.pmod(F.xxhash64(F.col("host")), F.lit(num_buckets // salt_factor))
    salt = F.pmod(F.xxhash64(F.col("url")), F.lit(salt_factor))
    return df.withColumn(
        "bucket", (host_group * F.lit(salt_factor) + salt).cast("int")
    )


def _size_in_bytes(df: DataFrame) -> Optional[int]:
    """The optimizer's byte-size estimate of ``df``: for a file scan, the
    bytes its file index already listed (a path or a micro-batch alike).
    None when the relation reports no size of its own, i.e. the session's
    ``spark.sql.defaultSizeInBytes`` (an unanalysed catalog table)."""
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    unknown = df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes()
    return None if size >= unknown else size


@dataclass
class RunResult:
    run_id: str
    buckets_processed: int
    buckets_skipped: int
    rows_written: int
    wall_sec: float
    # the bucket layout this run wrote (or, on a resume, adopted)
    num_buckets: int
    salt_factor: int


class ExtractionPipeline:
    """Batch extraction over a pages table with manifest-based resume."""

    def __init__(
        self,
        spark: SparkSession,
        output_dir: str,
        num_buckets: Optional[int] = None,
        max_bytes: int = D.DEFAULT_MAX_BYTES,
    ) -> None:
        s = DEFAULT_SALT_FACTOR
        if num_buckets is not None and (num_buckets < 1 or (num_buckets >= s and num_buckets % s)):
            # the salt is min(s, N), and N buckets must split into whole host groups
            raise ValueError(
                f"num_buckets must be a positive count below {s} or a multiple of {s}; "
                f"got {num_buckets}"
            )
        self.spark = spark
        self.output_dir = output_dir
        self.extracted_path = os.path.join(output_dir, "extracted")
        self.manifest_path = os.path.join(output_dir, "manifests")
        self.metrics_path = os.path.join(output_dir, "metrics")
        # the configured bucket count; None → each run sizes it to its
        # input and the cluster (auto_num_buckets). Runs never change it:
        # a run's own layout is resolved by _layout.
        self.num_buckets = num_buckets
        self.max_bytes = max_bytes

    # -- manifests -----------------------------------------------------------
    def _read_manifest(self, epoch: int) -> list:
        """This epoch's manifest rows (bucket, num_buckets, salt_factor) —
        one Spark job, at most one row per bucket. Everything a run needs
        from the manifest (the adopted layout, the done-bucket set, the
        cleanup keep-set) derives from these rows.

        Only ``manifests/epoch=E`` is listed, so the cost does not grow
        with the table's history, and the read schema is given, so no
        inference job runs."""
        epoch_dir = f"{self.manifest_path}/epoch={epoch}"
        fs, Path = self._fs(epoch_dir)
        if not fs.exists(Path(epoch_dir)):
            return []
        return (
            self.spark.read.schema("bucket INT, num_buckets INT, salt_factor INT")
            .parquet(epoch_dir)
            .collect()
        )

    def _layout(self, epoch: int, manifest_rows: list, pages: DataFrame):
        """This run's (num_buckets, salt_factor).

        Bucket ids belong to the EPOCH, not the cluster, the input or the
        pipeline's config: a resume that re-derived its own layout would
        re-number every page's bucket, and the done-bucket filter would
        then skip pages that were never processed under the new numbering
        (silent loss). Manifest rows record the layout they were written
        with; a resuming run adopts it. Otherwise N is the configured
        ``num_buckets``, or with None the input's bytes sized by
        ``auto_num_buckets`` (``_size_in_bytes``), and the salt is
        ``min(DEFAULT_SALT_FACTOR, N)``."""
        layouts = {(r["num_buckets"], r["salt_factor"]) for r in manifest_rows}
        if len(layouts) > 1:
            raise ValueError(
                f"manifest for epoch {epoch} records conflicting bucket "
                f"configs {sorted(layouts, key=str)} — refusing to resume"
            )
        if layouts:
            return layouts.pop()
        n = self.num_buckets
        if n is None:
            n = auto_num_buckets(self.spark, _size_in_bytes(pages))
        return n, min(DEFAULT_SALT_FACTOR, n)

    def _clear_incomplete_buckets(self, epoch: int, done: set) -> None:
        """Delete output dirs of buckets NOT in the manifest for this epoch
        (those are exactly the buckets this run may rewrite).

        One LIST of the epoch dir finds the bucket dirs that actually exist
        — deletes are issued only for those, in a small thread pool."""
        epoch_dir = f"{self.extracted_path}/epoch={epoch}"
        fs, Path = self._fs(epoch_dir)
        epoch_path = Path(epoch_dir)
        if not fs.exists(epoch_path):
            return  # fresh run/epoch: nothing to clear
        to_delete = []
        for status in fs.listStatus(epoch_path):
            name = status.getPath().getName()
            if not name.startswith("bucket="):
                continue
            try:
                bucket = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if bucket not in done:
                to_delete.append(status.getPath())
        if not to_delete:
            return
        from concurrent.futures import ThreadPoolExecutor

        # py4j serializes calls per connection but opens one connection per
        # thread — 16 concurrent delete RPCs, bounded
        with ThreadPoolExecutor(max_workers=min(16, len(to_delete))) as pool:
            list(pool.map(lambda p: fs.delete(p, True), to_delete))

    # -- the job ---------------------------------------------------------------
    def run(
        self,
        pages: DataFrame | str,
        resume: bool = True,
        epoch: int = 0,
    ) -> RunResult:
        """Process one input (batch: epoch=0; incremental: one epoch per
        micro-batch). ``pages`` is the pages DataFrame itself, a parquet
        path/glob or a ``table:<name>`` spec (``sources/tables.py``).
        Output partitions are (epoch, bucket): a replayed micro-batch
        rewrites exactly its own partitions, so at-least-once input
        delivery composes to exactly-once output.

        Preflight (P8, reference :63-86): every run validates backends,
        kernel imports, and the input schema BEFORE submitting any work
        job — checked on the schema of the input DataFrame the run scans,
        so the input is inferred once; raises PreflightError with the full
        health report on a misconfigured cluster instead of a mid-job
        executor trace.

        Extraction runs on the scan's own splits, sized by Spark's file-split
        formula under the session's ``spark.sql.files.maxPartitionBytes``
        ceiling; ``run`` sets no session conf. An auto-sized pipeline sizes
        this run's bucket count to the input's plan statistics (the file
        index has listed it already)."""
        from .preflight import require_healthy

        t0 = time.perf_counter()
        path = pages if isinstance(pages, str) else None
        if path is not None:
            try:
                pages = read_input(self.spark, path)
            except Exception:
                # the full health report, "input unreadable" included
                require_healthy(self.spark, path)
                raise
        require_healthy(self.spark, path, input_df=pages)
        run_id = uuid.uuid4().hex[:12]
        spark = self.spark

        if resume:
            manifest_rows = self._read_manifest(epoch)
        else:
            # this run rewrites every bucket, so the epoch's old manifest
            # goes before any bucket dir is cleared: left until the lineage
            # rewrite, it would outlive a crash in between and tell the
            # next resume that the cleared buckets are done
            manifest_rows = []
            stale = f"{self.manifest_path}/epoch={epoch}"
            fs, Path = self._fs(stale)
            fs.delete(Path(stale), True)
        num_buckets, salt_factor = self._layout(epoch, manifest_rows, pages)
        done = {r["bucket"] for r in manifest_rows}
        skipped = len(done)

        pages = with_host(pages)
        pages = salted_bucket(pages, num_buckets, salt_factor)
        if done:
            # J2: anti-join against the checkpoint manifest as an IN-list
            # (≤ num_buckets literals) — completed buckets never reach the
            # extraction stage, and no broadcast job runs.
            pages = pages.where(~F.col("bucket").isin(sorted(done)))

        # X9 size gate at scan: oversized payloads are nulled immediately so
        # no downstream stage (Arrow boundary OR shuffle disk) ever carries
        # bytes the kernel would discard.
        pages = gate_oversize(pages, self.max_bytes)

        def result(buckets_processed: int = 0, rows_written: int = 0) -> RunResult:
            wall_sec = time.perf_counter() - t0
            return RunResult(run_id, buckets_processed, skipped, rows_written,
                             wall_sec, num_buckets, salt_factor)

        # every bucket done → nothing can survive the anti-join; skip the scan
        if done >= set(range(num_buckets)):
            # still clear un-manifested partial dirs a crashed predecessor
            # may have left — same contract as the full path below
            self._clear_incomplete_buckets(epoch, done)
            return result()

        # EXTRACT BEFORE THE SHUFFLE (narrow, on scan partitions). Raw
        # payloads never enter an exchange: shuffling binary blobs and then
        # row→Arrow-converting them for the Python stage measured 4-8×
        # slower at high parallelism than scan→Arrow→Python, and at 100 TB
        # the raw bytes are the dominant volume — the shuffle below moves
        # only the (smaller) extracted rows. partition_id records the INPUT
        # split, which is the honest lineage unit.
        work = pages.withColumn("partition_id", F.spark_partition_id())
        extracted = extract_stage(work, max_bytes=self.max_bytes)

        extracted = with_host(extracted)
        extracted = salted_bucket(extracted, num_buckets, salt_factor)
        extracted = (
            extracted.drop("host")
            .withColumn("run_id", F.lit(run_id))
            .withColumn("epoch", F.lit(epoch))
        )

        # ONE exchange total, triggered by this window: hash-partition by
        # bucket, sort within partitions by (url, warc_ts desc). It serves
        # BOTH remaining needs at once: (a) exact url-dedup keeping the
        # latest crawl (duplicates of a url share a bucket — bucket is a
        # function of url), via the lag-over-sorted-stream trick; (b) the
        # bucketed output layout — rows arrive at the writer already
        # partitioned by bucket, so partitionBy(bucket) emits one file per
        # (task, bucket) with no further movement.
        w = (
            Window.partitionBy("bucket")
            .orderBy(F.col("url"), F.col("warc_ts").desc())
        )
        prev_url = F.lag("url").over(w)
        extracted = extracted.withColumn(
            "is_first", prev_url.isNull() | (prev_url != F.col("url"))
        ).where(F.col("is_first")).drop("is_first")

        # per-row content hash computed IN the write plan: lineage/metrics
        # never have to re-read the (dominant) extracted_text bytes — the
        # read-back below prunes to light columns only. At 100 TB the
        # alternative is a second full-table scan per run.
        extracted = extracted.withColumn(
            "row_hash", F.xxhash64("url", F.coalesce("extracted_text", F.lit("")))
        )

        # rows counted on the data write itself: no empty-check job
        written = Observation(f"written_{run_id}")
        extracted = extracted.observe(written, F.count("*").alias("rows"))

        # Idempotent per-(epoch, bucket) rewrite WITHOUT dynamic partition
        # overwrite: the to-do bucket list is known on the driver, so their
        # dirs are deleted up front (Hadoop FS — works on HDFS/S3A/local)
        # and the write is a plain append. Dynamic overwrite's driver-serial
        # staging commit measured ~3x slower at 32-way parallelism; the
        # crash story is identical (partial un-manifested buckets are
        # deleted and rewritten on restart).
        self._clear_incomplete_buckets(epoch, done)
        (
            extracted.write.mode("append")
            .partitionBy("epoch", "bucket")
            .parquet(self.extracted_path)
        )
        rows_written = written.get["rows"]
        if rows_written == 0:  # no lineage, and no epoch dir to read back
            return result()

        # read back ONLY the light columns of the whole epoch to build
        # manifests + metrics — only this epoch's dir is listed (basePath
        # keeps epoch and bucket as columns), so the read-back does not grow
        # with the number of epochs ever written (columnar scan;
        # extracted_text is hashed but never fully re-materialized). After
        # the clear and the append the dir holds exactly the manifested
        # buckets plus this run's, so the lineage is an aggregation of the
        # epoch's durable rows, whichever runs wrote them.
        back = (
            spark.read.schema(_LINEAGE_SCHEMA)
            .option("basePath", self.extracted_path)
            .parquet(f"{self.extracted_path}/epoch={epoch}")
        )
        per_partition = back.groupBy("run_id", "partition_id").agg(
            F.count("*").alias("row_count"),
            F.sum("raw_bytes").alias("input_bytes"),
            F.sum("total_text_length").alias("extracted_chars"),
            F.sum("total_images").alias("total_images"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok_rows"),
            F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias(
                "quarantined_rows"
            ),
            F.sum("proc_us").alias("stage_proc_us"),
            F.min("warc_ts").alias("first_ts"),
            F.max("warc_ts").alias("last_ts"),
        )
        metrics = (
            per_partition.withColumn("epoch", F.lit(epoch))
            .withColumn("completed_at", F.current_timestamp())
        )

        # both tables replace exactly their epoch=E partition: the overwrite
        # mode is set on the writer, so it holds whatever the session's
        # partitionOverwriteMode is
        def write_lineage(df: DataFrame, path: str) -> None:
            (
                df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch")
                .parquet(path)
            )

        write_lineage(metrics, self.metrics_path)

        # one row per bucket: a bucket is only ever written whole, by one run
        manifest = (
            back.groupBy("bucket", "run_id")
            .agg(
                F.count("*").alias("row_count"),
                # order-insensitive content hash over (url, extracted_text)
                # via the precomputed row_hash: the resume test's "outputs
                # identical" witness. bit_xor (not sum) — commutative and
                # immune to ANSI bigint overflow.
                F.expr("bit_xor(row_hash)").alias("content_hash"),
            )
            .withColumn("epoch", F.lit(epoch))
            .withColumn("completed_at", F.current_timestamp())
            # record the bucket numbering these manifests were computed
            # under — _layout replays it on resume
            .withColumn("num_buckets", F.lit(num_buckets))
            .withColumn("salt_factor", F.lit(salt_factor))
        )
        # this run's buckets counted while the manifest is written — no
        # extra action over the lineage
        totals = Observation(f"totals_{run_id}")
        manifest = manifest.observe(
            totals, F.count_if(F.col("run_id") == run_id).alias("buckets")
        )
        write_lineage(manifest, self.manifest_path)
        return result(totals.get["buckets"], rows_written)

    def read_extracted(self) -> DataFrame:
        return self.spark.read.parquet(self.extracted_path)

    def read_extracted_latest(self) -> DataFrame:
        """Current-corpus view across epochs: one row per url — the latest
        (epoch, warc_ts) wins. Within one epoch the pipeline already
        deduped; across micro-batches a recrawled url legitimately appears
        once per epoch, and readers usually want only the newest. The
        window partitions by url, which shuffles the whole table: bucket
        ids belong to each epoch's own layout, so one url can sit in a
        different bucket in every epoch."""
        df = self.read_extracted()
        w = Window.partitionBy("url").orderBy(
            F.col("epoch").desc(), F.col("warc_ts").desc()
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    # -- maintenance -----------------------------------------------------------
    def _fs(self, path: str):
        """(Hadoop FileSystem, Path class) for a path — HDFS/S3A/local."""
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        Path = jvm.org.apache.hadoop.fs.Path
        return Path(path).getFileSystem(conf), Path

    def compact_epoch(self, epoch: int = 0) -> int:
        """The number of data files in one epoch, which is compact by
        construction: one file per bucket. The window's single exchange
        hash-partitions rows by bucket, so each bucket is written by one
        task as one file, and a resume deletes and rewrites whole buckets.
        There is nothing to rewrite."""
        src = f"{self.extracted_path}/epoch={epoch}"
        fs, Path = self._fs(src)
        if not fs.exists(Path(src)):
            return 0
        n_files = 0
        it = fs.listFiles(Path(src), True)
        while it.hasNext():
            f = it.next()
            if f.getPath().getName().endswith(".parquet"):
                n_files += 1
        return n_files
