"""Incremental-ingest test: Trigger.AvailableNow over a growing pages dir
(the reference's cron micro-batch semantics, SURVEY.md §2.10)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

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


def test_windowed_ingest_stats_with_watermark(spark, tmp_path):
    from unified_ocr_pipeline_spark.streaming.incremental import windowed_ingest_stats

    pages_dir = tmp_path / "wpages"
    pages_dir.mkdir()
    rows = generate_pages_rows(150, seed=7)
    _write_batch(pages_dir, rows, "w1")

    q = windowed_ingest_stats(
        spark, str(pages_dir), str(tmp_path / "wckpt"), query_name="wstats_t"
    )
    q.awaitTermination()

    got = spark.sql("SELECT * FROM wstats_t").collect()
    assert got, "windowed aggregation produced no rows"
    # every window is exactly 1 hour and counts sum to the input rows
    assert all((r["window_end"] - r["window_start"]).total_seconds() == 3600 for r in got)
    assert sum(r["n_pages"] for r in got) == 150
    langs = {r["lang"] for r in got}
    assert langs.issubset({"en", "de", "fr", "es", "unk"}) and len(langs) >= 2


def test_stateful_host_sessions_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: per-host session state must persist across
    micro-batches and match a batch recomputation over the full history."""
    from unified_ocr_pipeline_spark.streaming.stateful import run_host_session_stats

    pages_dir = tmp_path / "spages"
    pages_dir.mkdir()
    rows = generate_pages_rows(150, seed=11)
    # global time order across files: the streaming fold sees per-host pages
    # in event-time order, making the batch cross-check exact
    rows.sort(key=lambda r: r["warc_ts"])
    for i in range(3):
        _write_batch(pages_dir, rows[i * 50 : (i + 1) * 50], f"b{i}")

    q = run_host_session_stats(
        spark, str(pages_dir), str(tmp_path / "sckpt"), query_name="hs_t",
        session_gap="30 minutes", max_files_per_trigger=1,
    )
    q.awaitTermination()

    got_rows = spark.sql("SELECT * FROM hs_t").collect()
    # update mode: one row per (host, micro-batch it appeared in); hosts
    # spanning several micro-batches prove state carried over
    from collections import Counter

    per_host_rows = Counter(r["host"] for r in got_rows)
    assert max(per_host_rows.values()) >= 2, "no host spanned micro-batches"
    # final cumulative row per host = the one with max n_pages (monotone)
    final = {}
    for r in got_rows:
        if r["host"] not in final or r["n_pages"] > final[r["host"]]["n_pages"]:
            final[r["host"]] = r

    # independent batch recomputation of the same fold
    from pyspark.sql import functions as F

    batch = (
        spark.read.parquet(str(pages_dir))
        .select(
            F.parse_url("url", F.lit("HOST")).alias("host"),
            "url",
            F.unix_millis(F.col("warc_ts").cast("timestamp")).alias("ms"),
            F.octet_length(F.coalesce("html", F.lit(b""))).cast("long").alias("nb"),
        )
        .collect()
    )
    from collections import defaultdict

    by_host = defaultdict(list)
    for r in batch:
        by_host[r["host"]].append((r["ms"], r["url"], r["nb"]))
    gap = 30 * 60 * 1000
    for host, items in by_host.items():
        items.sort()
        sessions, last = 0, None
        for ms, _, _ in items:
            if last is None or ms - last > gap:
                sessions += 1
            last = ms
        f = final[host]
        assert f["n_pages"] == len(items), host
        assert f["n_bytes"] == sum(nb for _, _, nb in items), host
        assert f["first_ms"] == items[0][0] and f["last_ms"] == items[-1][0], host
        assert f["n_sessions"] == sessions, (host, f["n_sessions"], sessions)
    assert set(final) == set(by_host)


def test_streaming_url_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps the first record per url across
    micro-batches (bounded state via watermark eviction)."""
    from unified_ocr_pipeline_spark.streaming.incremental import streaming_url_dedup

    pages_dir = tmp_path / "pages"
    pages_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "dedup_out")

    rows = generate_pages_rows(60, seed=42)
    # plant duplicates: re-submit 10 urls (same url, same event time window)
    dups = [dict(r) for r in rows[:10]]
    _write_batch(pages_dir, rows, "b1")
    _write_batch(pages_dir, dups, "b2")

    q = streaming_url_dedup(
        spark, str(pages_dir), ckpt, out, max_files_per_trigger=1
    )
    q.awaitTermination()

    got = spark.read.parquet(out)
    urls = [r["url"] for r in got.select("url").collect()]
    assert len(urls) == len(set(urls))                 # no dup rows emitted
    assert set(urls) == {r["url"] for r in rows}       # every url exactly once


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


def test_streaming_revisits_state_across_microbatches(spark, tmp_path):
    """Streaming CDX classification: per-surt last-digest state persists
    across micro-batches; unchanged content → revisit, changed → response
    (A→B→A is all responses — last-capture semantics, not the batch
    index's any-prior grouping)."""
    import datetime as dt

    from unified_ocr_pipeline_spark.streaming.incremental import PAGES_SCHEMA
    from unified_ocr_pipeline_spark.streaming.stateful import streaming_revisits

    pages_dir = tmp_path / "cpages"
    pages_dir.mkdir()

    def row(url, minute, body):
        return {
            "url": url,
            "warc_ts": dt.datetime(2024, 1, 1, 0, minute, 0),
            "html": body.encode(),
            "text": None,
            "lang": "en",
        }

    import os

    # batch 0: page X v1 (response), page Y v1 (response)
    _write_batch(pages_dir, [
        row("http://a.com/x", 0, "v1"), row("http://a.com/y", 1, "w1"),
    ], "b0")
    # batch 1: X v1 again (revisit — state crossed the micro-batch),
    # Y v2 (response)
    _write_batch(pages_dir, [
        row("http://www.A.com/x", 2, "v1"), row("http://a.com/y", 3, "w2"),
    ], "b1")
    # batch 2: Y back to w1 → RESPONSE under last-capture semantics
    _write_batch(pages_dir, [row("http://a.com/y", 4, "w1")], "b2")
    # the file source orders micro-batches by modification time: pin
    # strictly increasing mtimes so b0 < b1 < b2 deterministically
    for i, name in enumerate(["b0", "b1", "b2"]):
        os.utime(pages_dir / f"{name}.parquet", (1_700_000_000 + i,) * 2)

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(pages_dir))
    )
    q = (
        streaming_revisits(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("rev_t")
        .option("checkpointLocation", str(tmp_path / "rckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r["surt"], r["ts"]): r["record_type"]
        for r in spark.sql("SELECT * FROM rev_t").collect()
    }
    ms = lambda minute: int(dt.datetime(2024, 1, 1, 0, minute, 0,
                                        tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert got[("com,a)/x", ms(0))] == "response"
    assert got[("com,a)/x", ms(2))] == "revisit"     # www variant, same surt
    assert got[("com,a)/y", ms(1))] == "response"
    assert got[("com,a)/y", ms(3))] == "response"    # changed
    assert got[("com,a)/y", ms(4))] == "response"    # A→B→A: changed again
