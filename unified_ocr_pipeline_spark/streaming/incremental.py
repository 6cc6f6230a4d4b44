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

