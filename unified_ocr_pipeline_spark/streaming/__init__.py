"""Incremental ingest: the cron tick (``incremental.run_available_now``),
one Structured Streaming query that hands each micro-batch to the batch
pipeline. Dedup, per-run statistics and capture classification are the
batch pipeline's and operators' job, not the stream's."""
