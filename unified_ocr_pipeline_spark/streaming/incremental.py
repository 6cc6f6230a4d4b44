"""Incremental ingest: Structured Streaming over a pages directory.

Reference analog (SURVEY.md §2.10): the cron micro-batch loop — every 2/10
minutes, scan the incoming dir, process new files, never reprocess
(crontab:13-17; duplicate check unified_ocr_pipeline.py:249-271; failed
files retried next tick :1182-1185).

Spark mapping: ``readStream`` file source + ``Trigger.AvailableNow`` +
``foreachBatch`` handing each micro-batch DataFrame straight to the SAME
batch pipeline — a tick is a plain batch run over the new files, with no
staged copy of their payloads. Spark's file-source checkpoint (source
offsets) provides the never-reprocess-a-file guarantee; the pipeline's
bucket manifests stay authoritative for exactly-once OUTPUT effects, so
the two checkpoints compose: a crashed micro-batch replays its files into
the same epoch, the run rewrites that epoch's buckets, and its lineage is
recomputed from the epoch's rows, so nothing is added twice (at-least-once
input × idempotent output = exactly-once effect — same argument as the
reference's existing-output check).

``Trigger.AvailableNow`` processes everything present then stops — exactly
the reference's one-shot cron tick, minus the shell wrapper.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..plans.extraction import PAGES_SCHEMA
from ..plans.pipeline import ExtractionPipeline

# files per micro-batch (one epoch) of a cron tick
MAX_FILES_PER_TRIGGER = 64


def run_available_now(
    spark: SparkSession,
    pages_dir: str,
    pipeline: ExtractionPipeline,
    checkpoint_dir: str,
) -> int:
    """One cron-tick-equivalent: ingest all currently-available files through
    the extraction pipeline, then stop, at most ``MAX_FILES_PER_TRIGGER``
    files per micro-batch. Returns number of micro-batches.

    New parquet files dropped into ``pages_dir`` between invocations are
    picked up by the next call; files already in the source checkpoint are
    never re-read (P9 empty-batch short-circuit falls out naturally: no new
    files → zero micro-batches).
    """
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(pages_dir)
    )

    n_batches = {"n": 0}

    def _process(batch_df, epoch_id: int) -> None:
        n_batches["n"] += 1
        # the micro-batch IS the run's input: its plan statistics size the
        # run and its empty case is the run's own short-circuit. A replayed
        # batch (crash after run, before the stream checkpoint committed)
        # is idempotent because resume=False makes the run own its epoch:
        # the epoch's bucket dirs are cleared and rewritten, and like every
        # run it rewrites the epoch's lineage from the rows now there.
        pipeline.run(batch_df, resume=False, epoch=int(epoch_id))

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", f"{checkpoint_dir}/source")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


def streaming_url_dedup(
    spark: SparkSession,
    pages_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    watermark: str = "2 hours",
    max_files_per_trigger: int = 64,
):
    """Streaming ARRIVAL dedup by url within an event-time watermark:
    ``dropDuplicatesWithinWatermark`` keeps the FIRST record seen per url
    and evicts each url's dedup state once the watermark passes its event
    time — bounded state, unlike a plain ``dropDuplicates`` whose state
    grows with every url ever seen (a non-starter on an endless crawl).

    First-arrival-wins makes this a guard against at-least-once transport
    redeliveries (the same crawl record delivered twice), NOT a crawl
    version selector: a genuine recrawl of a url arriving within the
    watermark is dropped too. Recrawl selection (latest warc_ts wins)
    belongs downstream — the batch pipeline's window dedup and
    ``read_extracted_latest`` — where both versions are visible. Use a
    watermark no longer than the transport's redelivery horizon so real
    recrawls fall outside it.

    Reference analog: the existing-output duplicate check
    (unified_ocr_pipeline.py:249-271) — same effect, but as a stateful
    streaming operator instead of a filesystem probe.

    Appends deduped rows to ``out_dir`` (parquet) exactly-once via the
    checkpoint. Returns the started StreamingQuery.
    """
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )
    deduped = stream.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", f"{checkpoint_dir}/dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def windowed_ingest_stats(
    spark: SparkSession,
    pages_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    query_name: str = "ingest_stats",
):
    """Event-time windowed ingest statistics with a watermark: per
    (tumbling warc_ts window, lang) page counts and byte totals, tolerating
    late-arriving crawl records up to ``watermark``.

    The reference has no event-time concept (SURVEY.md §2.10 — warc_ts is
    a plain column there); this is the Structured Streaming surface the
    round brief adds: ``readStream → withWatermark → window() groupBy →
    writeStream``. Update mode + an in-memory sink keeps the demo
    self-contained; a production deployment points the same query at a
    parquet/Kafka sink with exactly-once via the checkpoint.

    Returns the started StreamingQuery (caller awaits/ stops it; results
    readable from the ``query_name`` in-memory table).
    """
    from pyspark.sql import functions as F

    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    agg = (
        stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.octet_length(F.coalesce("html", F.lit(b"")))).alias("raw_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_pages",
            "raw_bytes",
        )
    )
    # complete mode for the in-memory demo sink: update mode appends a new
    # cumulative row per micro-batch for each updated (window, lang), so a
    # multi-micro-batch availableNow run would leave duplicate rows in the
    # memory table; complete rewrites the full result each batch. A real
    # parquet/Kafka sink would use update/append + watermark eviction.
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", f"{checkpoint_dir}/windowed")
        .trigger(availableNow=True)
        .start()
    )
