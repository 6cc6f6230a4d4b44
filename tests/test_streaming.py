"""Incremental-ingest test: Trigger.AvailableNow over a growing pages dir
(the reference's cron micro-batch semantics, SURVEY.md §2.10)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from unified_ocr_pipeline_spark.sources.fixtures import (
    PAGES_ARROW_SCHEMA,
    generate_pages_rows,
)
from unified_ocr_pipeline_spark.plans.pipeline import ExtractionPipeline
from unified_ocr_pipeline_spark.streaming.incremental import run_available_now


def _write_batch(path, rows, name):
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA),
                   f"{path}/{name}.parquet")


def test_available_now_incremental(spark, tmp_path):
    pages_dir = tmp_path / "pages"
    pages_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    rows = generate_pages_rows(120, seed=42)
    batch1, batch2 = rows[:70], rows[70:]
    _write_batch(pages_dir, batch1, "b1")

    pipe = ExtractionPipeline(spark, out, num_buckets=8)

    # tick 1: processes batch1
    n1 = run_available_now(spark, str(pages_dir), pipe, ckpt)
    assert n1 >= 1
    urls1 = {r["url"] for r in pipe.read_extracted().select("url").collect()}
    assert urls1 == {r["url"] for r in batch1}

    # tick 2 with nothing new: the P9 empty-batch short-circuit
    n_idle = run_available_now(spark, str(pages_dir), pipe, ckpt)
    assert n_idle == 0

    # drop batch2, tick 3: ONLY new files are read; old output intact
    _write_batch(pages_dir, batch2, "b2")
    n2 = run_available_now(spark, str(pages_dir), pipe, ckpt)
    assert n2 >= 1
    urls_all = {r["url"] for r in pipe.read_extracted().select("url").collect()}
    assert urls_all == {r["url"] for r in rows}


def test_tick_job_count_flat_as_epochs_accumulate(spark, tmp_path):
    """A tick's fixed cost must not grow with the table's history: with
    more than 32 bucket dirs per epoch, listing every epoch ever written
    costs one parallel listing job per epoch, so each tick would run one
    more job than the tick before. Reads are scoped to the tick's own
    epoch."""
    from conftest import count_jobs

    pages_dir = tmp_path / "pages"
    pages_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    pipe = ExtractionPipeline(spark, str(tmp_path / "out"), num_buckets=64)
    rows = generate_pages_rows(4 * 150, seed=11)
    jobs = []
    for k in range(4):
        _write_batch(pages_dir, rows[k * 150:(k + 1) * 150], f"t{k}")
        n, j = count_jobs(
            spark, lambda: run_available_now(spark, str(pages_dir), pipe, ckpt)
        )
        assert n == 1
        jobs.append(j)
    for epoch in range(4):
        buckets = [d for d in (tmp_path / "out" / "extracted" / f"epoch={epoch}").iterdir()
                   if d.name.startswith("bucket=")]
        assert len(buckets) > 32, "epoch too narrow to trigger a parallel listing"
    assert jobs[3] <= jobs[1], jobs


def test_tick_is_a_plain_batch_run(spark, tmp_path):
    """A tick hands its micro-batch DataFrame straight to the pipeline: no
    empty-check job, no staged copy of the payloads and no re-read of it,
    and a lineage tail of two plain aggregations over a given-schema
    read-back, so a 300-doc tick runs at most 6 Spark jobs and nothing is
    written under the checkpoint but the stream's own logs. A tick sized
    below 8 buckets gets one bucket per started MiB of its file, salted
    by that count: layout (N, N) and at most N bucket dirs."""
    from conftest import count_jobs, files_per_bucket

    from unified_ocr_pipeline_spark.plans import pipeline

    pages_dir = tmp_path / "pages"
    pages_dir.mkdir()
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "out"
    pipe = ExtractionPipeline(spark, str(out))
    rows = generate_pages_rows(2 * 300, seed=13)
    jobs = []
    for k in range(2):
        _write_batch(pages_dir, rows[k * 300:(k + 1) * 300], f"t{k}")
        n, j = count_jobs(
            spark, lambda: run_available_now(spark, str(pages_dir), pipe, str(ckpt))
        )
        assert n == 1
        jobs.append(j)
        size = (pages_dir / f"t{k}.parquet").stat().st_size
        want = -(-size // pipeline._BYTES_PER_BUCKET)
        assert want < 8
        layout = (
            spark.read.parquet(pipe.manifest_path)
            .where(f"epoch = {k}")
            .select("num_buckets", "salt_factor")
            .distinct()
            .collect()
        )
        assert [tuple(r) for r in layout] == [(want, want)]
        buckets = [d for d in (out / "extracted" / f"epoch={k}").iterdir()
                   if d.name.startswith("bucket=")]
        assert 0 < len(buckets) <= want
    assert max(jobs) <= 6, jobs
    assert sorted(d.name for d in ckpt.iterdir()) == ["source"]
    urls = {r["url"] for r in pipe.read_extracted().select("url").collect()}
    assert urls == {r["url"] for r in rows}
    assert set(files_per_bucket(pipe.extracted_path).values()) == {1}


def test_replayed_microbatch_leaves_one_lineage_row_set(spark, tmp_path):
    """A crash after the run but before the stream committed the batch
    replays the same micro-batch into the same epoch (resume=False): the
    epoch's output and lineage are replaced, not added to."""
    pages_dir = tmp_path / "pages"
    pages_dir.mkdir()
    ckpt = tmp_path / "ckpt"
    pipe = ExtractionPipeline(spark, str(tmp_path / "out"), num_buckets=8)
    rows = generate_pages_rows(80, seed=17)
    _write_batch(pages_dir, rows, "b0")
    assert run_available_now(spark, str(pages_dir), pipe, str(ckpt)) == 1

    # the crash window: the run's output is durable, the commit is not
    commits = ckpt / "source" / "commits"
    for f in (commits / "0", commits / ".0.crc"):
        if f.exists():
            f.unlink()
    assert run_available_now(spark, str(pages_dir), pipe, str(ckpt)) == 1

    man = spark.read.parquet(pipe.manifest_path).where("epoch = 0")
    met = spark.read.parquet(pipe.metrics_path).where("epoch = 0")
    assert man.select("run_id").distinct().count() == 1
    assert met.select("run_id").distinct().collect() == man.select("run_id").distinct().collect()
    assert man.count() == man.select("bucket").distinct().count()
    assert met.count() == met.select("partition_id").distinct().count()
    n_urls = len({r["url"] for r in rows})
    assert pipe.read_extracted().count() == n_urls
    assert man.agg({"row_count": "sum"}).first()[0] == n_urls


class _FailOnce:
    """Stands in for the pipeline: the first ``run`` raises, before or
    after calling the real ``run``; every later call is the real one."""

    def __init__(self, pipe, after_run):
        self.pipe, self.after_run, self.failed = pipe, after_run, False

    def run(self, *args, **kwargs):
        if self.failed:
            return self.pipe.run(*args, **kwargs)
        self.failed = True
        if self.after_run:
            self.pipe.run(*args, **kwargs)
        raise RuntimeError("injected tick failure")


@pytest.mark.parametrize("after_run", [False, True], ids=["before_run", "after_run"])
def test_failed_tick_is_retried_next_tick(spark, tmp_path, after_run):
    """A tick whose run raises (before it wrote anything, or after its
    output was durable but before the stream committed the batch) fails
    the tick and leaves no query running; the next tick replays the same
    files into the same epoch, so the epoch holds every url once and one
    run's lineage (SURVEY.md §2.10: a failed file is retried next tick)."""
    from pyspark.errors import StreamingQueryException

    pages_dir = tmp_path / "pages"
    pages_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = tmp_path / "out"
    pipe = ExtractionPipeline(spark, str(out), num_buckets=8)
    rows = generate_pages_rows(80, seed=19)
    _write_batch(pages_dir, rows, "b0")
    flaky = _FailOnce(pipe, after_run)

    with pytest.raises(StreamingQueryException, match="injected tick failure"):
        run_available_now(spark, str(pages_dir), flaky, ckpt)
    assert spark.streams.active == []

    assert run_available_now(spark, str(pages_dir), flaky, ckpt) == 1
    assert sorted(d.name for d in (out / "extracted").iterdir()
                  if d.name.startswith("epoch=")) == ["epoch=0"]
    urls = [r["url"] for r in pipe.read_extracted().select("url").collect()]
    assert sorted(urls) == sorted({r["url"] for r in rows})
    man = spark.read.parquet(pipe.manifest_path)
    met = spark.read.parquet(pipe.metrics_path)
    run_ids = man.select("run_id").distinct().collect()
    assert len(run_ids) == 1
    assert met.select("run_id").distinct().collect() == run_ids


def test_read_extracted_latest_across_epochs(spark, tmp_path):
    """A url recrawled in a later micro-batch appears once per epoch in the
    extracted table; the latest-view keeps exactly the newest row per url."""
    pages_dir = tmp_path / "pages"
    pages_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    rows = generate_pages_rows(40, seed=42)
    _write_batch(pages_dir, rows, "b1")
    pipe = ExtractionPipeline(spark, out, num_buckets=8)
    run_available_now(spark, str(pages_dir), pipe, ckpt)

    # recrawl 10 urls with a later warc_ts in a second micro-batch
    recrawl = []
    for r in rows[:10]:
        r2 = dict(r)
        r2["warc_ts"] = r2["warc_ts"].replace(year=2025)
        recrawl.append(r2)
    _write_batch(pages_dir, recrawl, "b2")
    run_available_now(spark, str(pages_dir), pipe, ckpt)

    full = pipe.read_extracted()
    latest = pipe.read_extracted_latest()
    n_urls = full.select("url").distinct().count()
    assert full.count() == n_urls + 10          # recrawled urls twice
    assert latest.count() == n_urls             # one row per url
    recrawled = {r["url"] for r in recrawl}
    got = {r["url"]: r["warc_ts"].year for r in
           latest.select("url", "warc_ts").collect()}
    for u in recrawled:
        assert got[u] == 2025                   # newest epoch won

