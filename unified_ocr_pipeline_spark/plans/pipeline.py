"""The end-to-end extraction job: scan → dedup → salted bucketing →
Arrow-batched extraction → bucketed write + manifests + lineage metrics.

Scale design (BASELINE.json north_rule / SURVEY.md §4):

- **Salted bucketing for skewed hosts.** ``bucket = pmod(xxhash64(host),
  N/S) * S + pmod(xxhash64(url), S)``: every host maps to S consecutive buckets
  — host locality is preserved (politeness/cache affinity on a real
  cluster) while a heavy host (30%+ of a crawl) is split S ways instead of
  melting one partition. Uniform-hash would also kill skew but destroys
  host locality; salting keeps both. S and N are knobs.
- **Bucket count tracks the cluster and the input.** With
  ``num_buckets=None`` each ``run`` sizes the bucket count to the bytes it
  reads (about one bucket per MiB, a salt multiple, capped at the
  cluster-sized ``auto_num_buckets``): a 300-doc cron tick writes a
  handful of files and lineage rows, not 64 of each. The manifest records
  the layout per epoch, so a resume replays it whatever the input size.
- **Checkpointed partition manifests (resume).** The unit of work is the
  bucket. A manifest row (bucket, row_count, content_hash, run_id,
  completed_at) is appended only AFTER that bucket's output is durably
  written; a restart broadcast-anti-joins the input against completed
  buckets (reference analog: existing-output duplicate check,
  unified_ocr_pipeline.py:249-271 — SURVEY.md J2/X6) and, because the
  output write uses dynamic partition overwrite, a bucket that crashed
  between write and manifest is simply rewritten — idempotent,
  exactly-once effect.
- **Lineage metrics.** Per (bucket, partition_id): row counts, byte counts,
  status breakdown, stage wall time — aggregated from columns the
  extraction stage emits, no second pass over the data.
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
from ..sources.tables import is_table_spec, read_input
from .extraction import extract_stage, gate_oversize

DEFAULT_NUM_BUCKETS = 64  # floor of the cluster-sized cap
DEFAULT_SALT_FACTOR = 8
# input bytes per bucket when num_buckets is sized to the input
_BYTES_PER_BUCKET = 1 << 20


def auto_num_buckets(
    spark: SparkSession,
    salt_factor: int = DEFAULT_SALT_FACTOR,
    floor: int = DEFAULT_NUM_BUCKETS,
    per_core: int = 4,
    input_bytes: Optional[int] = None,
) -> int:
    """Size the bucket count from the cluster and the input, not a constant.

    The bucket exchange and the bucketed write are the pipeline's ONLY
    shuffle; their parallelism is capped at num_buckets, so a forgotten
    fixed default serializes the post-extraction stage on a big cluster
    (64 tasks on 1000 executors). The cap: ``per_core ×`` total cores
    (headroom for skew/stragglers), at least ``floor``, rounded up to a
    multiple of ``salt_factor`` (salted_bucket requires divisibility).

    Each bucket also costs a file per writing task plus a metrics and a
    manifest row, so a small input must not pay for the cap: given
    ``input_bytes``, the count is ``salt_factor × ceil(input_bytes /
    (salt_factor × 1 MiB))``, at least ``salt_factor`` and at most the
    cap. None (input size unknown, e.g. a catalog table) → the cap."""
    cores = spark.sparkContext.defaultParallelism
    n = max(floor, per_core * cores)
    if n % salt_factor:
        n += salt_factor - (n % salt_factor)
    if input_bytes is None:
        return n
    host_groups = -(-input_bytes // (salt_factor * _BYTES_PER_BUCKET))
    return min(n, salt_factor * max(1, host_groups))


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


@dataclass
class RunResult:
    run_id: str
    buckets_processed: int
    buckets_skipped: int
    rows_written: int
    wall_sec: float


class ExtractionPipeline:
    """Batch extraction over a pages table with manifest-based resume."""

    def __init__(
        self,
        spark: SparkSession,
        output_dir: str,
        num_buckets: Optional[int] = None,
        salt_factor: int = DEFAULT_SALT_FACTOR,
        max_bytes: int = D.DEFAULT_MAX_BYTES,
    ) -> None:
        self.spark = spark
        self.output_dir = output_dir
        self.extracted_path = os.path.join(output_dir, "extracted")
        self.manifest_path = os.path.join(output_dir, "manifests")
        self.metrics_path = os.path.join(output_dir, "metrics")
        # None → derive from cluster size so post-extraction parallelism
        # scales with executors instead of a fixed 64-task ceiling; each
        # run then shrinks it to its input (see auto_num_buckets)
        self._size_buckets_to_input = num_buckets is None
        self.num_buckets = (
            num_buckets
            if num_buckets is not None
            else auto_num_buckets(spark, salt_factor)
        )
        self.salt_factor = salt_factor
        self.max_bytes = max_bytes

    # -- input split sizing ---------------------------------------------------
    def _input_size_bytes(self, path: str) -> Optional[int]:
        """Total byte size of a (possibly glob) input path via the Hadoop
        FS — works on HDFS/S3A/local alike. None when unlistable (DSv2
        table specs, permission quirks): the caller then leaves the
        session's split config untouched."""
        try:
            sc = self.spark.sparkContext
            jvm = sc._jvm
            p = jvm.org.apache.hadoop.fs.Path(path)
            fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
            statuses = fs.globStatus(p)
            if statuses is None or len(statuses) == 0:
                return None
            total = 0
            for st in statuses:
                if st.isDirectory():
                    it = fs.listFiles(st.getPath(), True)
                    while it.hasNext():
                        total += it.next().getLen()
                else:
                    total += st.getLen()
            return total
        except Exception:
            return None

    def _tune_input_splits(self, size: Optional[int], per_core_splits: int = 2):
        """Size parquet scan splits to the INPUT, not a constant.

        The extraction kernel runs on scan partitions (extract-before-
        shuffle — raw payloads never enter an exchange), so scan split
        count IS the extraction parallelism. Spark's own formula
        (``bytesPerCore = total/defaultParallelism`` capped at
        maxPartitionBytes) already yields ~1 split per core; this makes
        the sizing explicit and targets ``per_core_splits ×`` cores
        (finer tasks → stragglers rebalance instead of capping the
        stage), clamped to [4 MB, 128 MB]. At 100 TB the clamp keeps the
        production 128 MB splits (the executor-memory-bounding knob), so
        the override only changes granularity when the input is small
        relative to the cluster. Open-cost shrinks with the split so
        many-tiny-file crawls don't pack files onto idle cores.

        ``size`` is the input's byte size (None when unknown). Returns the
        saved (maxPartitionBytes, openCostInBytes) pair so ``run`` can
        restore the session state, or None when untouched.
        """
        if not size:
            return None
        conf = self.spark.conf
        target = max(1, per_core_splits * self.spark.sparkContext.defaultParallelism)
        per = size // target + 1
        per = max(4 * 1024 * 1024, min(128 * 1024 * 1024, per))
        saved = (
            conf.get("spark.sql.files.maxPartitionBytes", None),
            conf.get("spark.sql.files.openCostInBytes", None),
        )
        conf.set("spark.sql.files.maxPartitionBytes", str(per))
        # open-cost must shrink with the split size or many-small-file
        # inputs still pack whole files together (cost dominates size)
        conf.set("spark.sql.files.openCostInBytes", str(max(64 * 1024, per // 8)))
        return saved

    def _restore_split_conf(self, saved) -> None:
        if saved is None:
            return
        conf = self.spark.conf
        for key, val in zip(
            ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes"),
            saved,
        ):
            if val is None:
                conf.unset(key)
            else:
                conf.set(key, val)

    # -- manifests -----------------------------------------------------------
    def _read_manifest(self, epoch: int) -> list:
        """This epoch's manifest rows (bucket, num_buckets, salt_factor) —
        one Spark job, at most one row per bucket. Everything a run needs
        from the manifest (the adopted layout, the done-bucket set, the
        cleanup keep-set) derives from these rows.

        Only ``manifests/epoch=E`` is listed, so the cost does not grow
        with the table's history, and the read schema is given, so no
        inference job runs; rows from before the layout columns existed
        read them as null. A manifest table without epoch dirs (rewritten
        by other tooling) is read whole and filtered."""
        fs, Path = self._fs(self.manifest_path)
        root = Path(self.manifest_path)
        if not fs.exists(root):
            return []
        reader = self.spark.read.schema(
            "bucket INT, num_buckets INT, salt_factor INT, epoch INT"
        )
        epoch_dir = Path(f"{self.manifest_path}/epoch={epoch}")
        if fs.exists(epoch_dir):
            m = reader.parquet(epoch_dir.toString())
        elif any(
            st.getPath().getName().startswith("epoch=")
            for st in fs.listStatus(root)
        ):
            return []  # partitioned table with nothing for this epoch yet
        else:
            m = reader.parquet(self.manifest_path).where(F.col("epoch") == epoch)
        return m.select("bucket", "num_buckets", "salt_factor").collect()

    def _adopt_epoch_bucketing(self, epoch: int, manifest_rows: list) -> None:
        """Bucket ids belong to the EPOCH, not the cluster or the input: a
        resume on a differently-sized cluster or input would re-derive a
        different auto num_buckets, re-number every page's bucket, and the
        manifest anti-join would then skip pages that were never processed
        under the new numbering (silent loss). Manifest rows record the
        (num_buckets, salt_factor) they were written with; a resuming run
        adopts them. Rows from before these columns existed fall back to
        the current config (documented caveat, pre-release tables only)."""
        layouts = {(r["num_buckets"], r["salt_factor"]) for r in manifest_rows}
        if not layouts or layouts == {(None, None)}:
            return
        if len(layouts) > 1:
            raise ValueError(
                f"manifest for epoch {epoch} records conflicting bucket "
                f"configs {sorted(layouts, key=str)} — refusing to resume"
            )
        self.num_buckets, self.salt_factor = layouts.pop()

    def _clear_incomplete_buckets(self, epoch: int, done: set) -> None:
        """Delete output dirs of buckets NOT in the manifest for this epoch
        (those are exactly the buckets this run may rewrite).

        One LIST of the epoch dir finds the bucket dirs that actually exist
        — deletes are issued only for those, in a small thread pool. The
        old loop issued one delete RPC per possible bucket (num_buckets
        serial round-trips even on a fresh-ish store); with auto-sized
        buckets on S3 that's minutes of driver time for a usually-empty
        result."""
        spark = self.spark
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        epoch_path = jvm.org.apache.hadoop.fs.Path(
            f"{self.extracted_path}/epoch={epoch}"
        )
        fs = epoch_path.getFileSystem(conf)
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
        pages_path: str,
        resume: bool = True,
        epoch: int = 0,
        preflight: bool = True,
    ) -> RunResult:
        """Input-sized wrapper around :meth:`_run_impl` — the input is
        listed once, scan splits are sized to it (extraction parallelism ==
        scan splits, see ``_tune_input_splits``), an auto-sized pipeline
        re-sizes its bucket count to it (``auto_num_buckets``; a resume
        then adopts the epoch's recorded layout instead), and the session
        split config is restored on every exit path."""
        input_bytes = (
            None if is_table_spec(pages_path) else self._input_size_bytes(pages_path)
        )
        if self._size_buckets_to_input:
            self.num_buckets = auto_num_buckets(
                self.spark, self.salt_factor, input_bytes=input_bytes
            )
        saved_split_conf = self._tune_input_splits(input_bytes)
        try:
            return self._run_impl(pages_path, resume, epoch, preflight)
        finally:
            self._restore_split_conf(saved_split_conf)

    def _run_impl(
        self,
        pages_path: str,
        resume: bool,
        epoch: int,
        preflight: bool,
    ) -> RunResult:
        """Process one input (batch: epoch=0; incremental: one epoch per
        micro-batch). Output partitions are (epoch, bucket): a replayed
        micro-batch dynamically overwrites exactly its own partitions, so
        at-least-once input delivery composes to exactly-once output.

        ``preflight`` (P8, reference :63-86): validate backends, kernel
        imports, and the input schema BEFORE submitting any work job —
        checked on the schema of the input DataFrame the run scans, so the
        input is inferred once; raises PreflightError with the full health
        report on a misconfigured cluster instead of a mid-job executor
        trace."""
        from .preflight import require_healthy

        t0 = time.perf_counter()
        run_id = uuid.uuid4().hex[:12]
        spark = self.spark

        # table:<name> specs resolve through the DSv2 catalog (Iceberg in
        # production sessions); plain paths read parquet — sources/tables.py
        try:
            pages = read_input(spark, pages_path)
        except Exception:
            if preflight:
                # the full health report, "input unreadable" included
                require_healthy(spark, pages_path)
            raise
        if preflight:
            require_healthy(spark, pages_path, input_df=pages)

        # a compact_epoch killed mid-swap leaves this epoch stashed under a
        # hidden dir Spark can't see; running on top of that state would
        # rewrite only unmanifested buckets and then strand the stash —
        # recover it BEFORE any read of the extracted table
        self._recover_compaction_stash(epoch)
        manifest_rows = self._read_manifest(epoch) if resume else []
        self._adopt_epoch_bucketing(epoch, manifest_rows)
        done = {r["bucket"] for r in manifest_rows}
        skipped = len(done)

        pages = with_host(pages)
        pages = salted_bucket(pages, self.num_buckets, self.salt_factor)
        if done:
            # J2: anti-join against the checkpoint manifest as an IN-list
            # (≤ num_buckets literals) — completed buckets never reach the
            # extraction stage, and no broadcast job runs.
            pages = pages.where(~F.col("bucket").isin(sorted(done)))

        # X9 size gate at scan: oversized payloads are nulled immediately so
        # no downstream stage (Arrow boundary OR shuffle disk) ever carries
        # bytes the kernel would discard.
        pages = gate_oversize(pages, self.max_bytes)

        # P9 empty-batch short-circuit — also guards the read-back below:
        # a partitioned append of 0 rows creates an extracted dir with no
        # schema-bearing part file, which a first-ever run could not then
        # re-read (AnalysisException) to build metrics.
        # every bucket done → nothing can survive the anti-join; skip the scan
        if done >= set(range(self.num_buckets)) or pages.isEmpty():
            # still clear un-manifested partial dirs a crashed predecessor
            # may have left — same contract as the full path below
            self._clear_incomplete_buckets(epoch, done)
            return RunResult(
                run_id=run_id,
                buckets_processed=0,
                buckets_skipped=skipped,
                rows_written=0,
                wall_sec=time.perf_counter() - t0,
            )

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
        extracted = salted_bucket(extracted, self.num_buckets, self.salt_factor)
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

        # read back ONLY the light columns to build manifests + metrics —
        # only this epoch's dir is listed (basePath keeps epoch and bucket
        # as columns), so the read-back does not grow with the number of
        # epochs ever written (columnar scan; extracted_text is hashed but
        # never fully re-materialized)
        # An extracted table written by an older engine version may predate
        # row_hash, and single-footer schema inference may then miss it.
        # mergeSchema would handle that but reads EVERY part footer (one
        # fixed job over ~num_buckets × tasks files per run — measurable
        # drag on fast wide runs); instead read plain and, only in the
        # legacy-mixed case, recompute the hash from the data columns.
        back = (
            spark.read.option("basePath", self.extracted_path)
            .parquet(f"{self.extracted_path}/epoch={epoch}")
            .where(F.col("run_id") == run_id)
        )
        if "row_hash" not in back.columns:
            back = back.withColumn(
                "row_hash",
                F.xxhash64("url", F.coalesce("extracted_text", F.lit(""))),
            )
        back = back.select(
            "bucket", "partition_id", "raw_bytes", "total_text_length",
            "total_images", "status", "proc_us", "warc_ts", "url", "row_hash",
        )
        per_bucket = back.groupBy("bucket", "partition_id").agg(
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
            # order-insensitive content hash over (url, extracted_text)
            # via the precomputed row_hash: the resume test's "outputs
            # identical" witness. bit_xor (not sum) — commutative and
            # immune to ANSI bigint overflow.
            F.expr("bit_xor(row_hash)").alias("content_hash"),
        )
        metrics = (
            per_bucket.withColumn("run_id", F.lit(run_id))
            .withColumn("epoch", F.lit(epoch))
            .withColumn("completed_at", F.current_timestamp())
        )
        # the manifest below derives from this same aggregation — persist so
        # the read-back scan+agg runs once, not once per dependent write
        # (measured ~40% of the non-scaling per-run overhead)
        metrics = metrics.persist()
        # resume=False means THIS run owns the whole epoch (fresh run or a
        # replayed micro-batch): dynamic partition overwrite replaces
        # exactly this epoch's metrics/manifest rows, so a replay leaves
        # ONE set of lineage rows instead of appending duplicates that
        # double-count in per-epoch aggregations. resume=True appends —
        # completed buckets kept their rows and only new ones are added.
        lineage_mode = "append" if resume else "overwrite"
        metrics.write.mode(lineage_mode).partitionBy("epoch").parquet(
            self.metrics_path
        )

        manifest = (
            metrics.groupBy("bucket")
            .agg(
                F.sum("row_count").alias("row_count"),
                # xor of per-partition xors == xor over all rows; sum would
                # overflow ANSI bigint on full-range hash values
                F.expr("bit_xor(content_hash)").alias("content_hash"),
            )
            .withColumn("run_id", F.lit(run_id))
            .withColumn("epoch", F.lit(epoch))
            .withColumn("completed_at", F.current_timestamp())
            # record the bucket numbering these manifests were computed
            # under — _adopt_epoch_bucketing replays it on resume
            .withColumn("num_buckets", F.lit(self.num_buckets))
            .withColumn("salt_factor", F.lit(self.salt_factor))
        )
        # bucket/row totals observed while the manifest (one row per
        # bucket) is written — no extra action over the lineage
        totals = Observation(f"totals_{run_id}")
        manifest = manifest.observe(
            totals, F.count("*").alias("buckets"), F.sum("row_count").alias("rows")
        )
        manifest.write.mode(lineage_mode).partitionBy("epoch").parquet(
            self.manifest_path
        )
        metrics.unpersist()
        stats = totals.get
        return RunResult(
            run_id=run_id,
            buckets_processed=int(stats["buckets"] or 0),
            buckets_skipped=skipped,
            rows_written=int(stats["rows"] or 0),
            wall_sec=time.perf_counter() - t0,
        )

    def read_extracted(self) -> DataFrame:
        return self.spark.read.parquet(self.extracted_path)

    def read_extracted_latest(self) -> DataFrame:
        """Current-corpus view across epochs: one row per url — the latest
        (epoch, warc_ts) wins. Within one epoch the pipeline already
        deduped; across micro-batches a recrawled url legitimately appears
        once per epoch, and readers usually want only the newest. The
        window partitions by url (bucket is a function of url, so at scale
        pre-partitioned reads keep this shuffle-local)."""
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

    def _recover_compaction_stash(self, epoch: int) -> None:
        """Recover from a compact_epoch killed inside its swap window:
        epoch dir missing + ``.old`` stash present → the stash was never
        swapped back; restore it. Both present → the swap completed but
        cleanup didn't; drop the stash. Called by both ``run`` and
        ``compact_epoch`` so no code path ever operates on a half-swapped
        epoch."""
        src = f"{self.extracted_path}/epoch={epoch}"
        old = f"{self.extracted_path}/.old_epoch={epoch}"
        fs, Path = self._fs(src)
        if fs.exists(Path(old)):
            if not fs.exists(Path(src)):
                fs.rename(Path(old), Path(src))
            else:
                fs.delete(Path(old), True)

    def compact_epoch(self, epoch: int = 0) -> int:
        """Iceberg-style small-file compaction for one epoch.

        The hot-path write emits one file per (task, bucket) — correct and
        contention-free while writing, but after many runs/micro-batches a
        bucket accumulates small files and every downstream scan pays one
        open/footer-read per file. This rewrites the epoch so each bucket
        holds ONE file (`repartition("bucket")` → one task per bucket →
        one file), then swaps directories: old → `.old`, compacted →
        live, delete `.old`. A crash mid-swap leaves either the old or the
        new directory intact under a recoverable name, never neither —
        and the next `compact_epoch` call detects the stash and restores
        or drops it automatically before recompacting.

        Content is untouched — manifests (bucket, row_count, content_hash)
        remain valid, which the compaction test asserts via the same
        bit_xor(row_hash) the manifest stores. Returns the number of data
        files after compaction.
        """
        spark = self.spark
        src = f"{self.extracted_path}/epoch={epoch}"
        tmp = f"{self.extracted_path}/.compact_epoch={epoch}"
        old = f"{self.extracted_path}/.old_epoch={epoch}"
        fs, Path = self._fs(src)
        self._recover_compaction_stash(epoch)
        if not fs.exists(Path(src)):
            return 0

        # a stale tmp from a crashed earlier attempt must not survive into
        # the swap: with dynamic partition overwrite, mode("overwrite")
        # only replaces the bucket partitions present in THIS df, so a
        # bucket dir left over from the old attempt would otherwise be
        # resurrected into the live epoch
        fs.delete(Path(tmp), True)
        df = spark.read.parquet(src)  # bucket comes back as partition col
        (
            df.repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(tmp)
        )
        if not fs.rename(Path(src), Path(old)):
            raise IOError(f"compact: could not stash {src}")
        if not fs.rename(Path(tmp), Path(src)):
            # roll back: put the original epoch dir back
            fs.rename(Path(old), Path(src))
            raise IOError(f"compact: could not swap in {tmp}")
        fs.delete(Path(old), True)

        n_files = 0
        it = fs.listFiles(Path(src), True)
        while it.hasNext():
            f = it.next()
            if f.getPath().getName().endswith(".parquet"):
                n_files += 1
        return n_files
