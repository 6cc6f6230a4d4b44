"""End-to-end golden test: Spark pipeline output must be byte-identical per
url to the sequential oracle (SURVEY.md §5 step 2 — the north rule's
correctness core), plus resume and skew checks."""

from __future__ import annotations

import os

import pytest

from unified_ocr_pipeline_spark.sources.fixtures import write_pages_parquet, HEAVY_HOST
from unified_ocr_pipeline_spark.oracle.run import run_oracle
from unified_ocr_pipeline_spark.plans import pipeline as pipeline_mod
from unified_ocr_pipeline_spark.plans.pipeline import ExtractionPipeline, auto_num_buckets

N_ROWS = 400
MAX_BYTES = 64 * 1024


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("pages") / "pages")
    n = write_pages_parquet(p, N_ROWS, seed=42, max_bytes=MAX_BYTES)
    assert n == N_ROWS
    return p


@pytest.fixture(scope="module")
def golden(pages_path):
    return run_oracle(pages_path, max_bytes=MAX_BYTES)


@pytest.fixture(scope="module")
def run_output(spark, pages_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("out") / "run")
    pipe = ExtractionPipeline(spark, out, num_buckets=16, max_bytes=MAX_BYTES)
    result = pipe.run(pages_path)
    return pipe, result


def test_row_counts_match_oracle(run_output, golden):
    pipe, result = run_output
    rows = pipe.read_extracted().count()
    assert rows == len(golden)  # dedup by url applied on both sides
    assert result.rows_written == len(golden)
    assert result.buckets_skipped == 0


def test_extracted_text_byte_identical(run_output, golden):
    pipe, _ = run_output
    got = {
        r["url"]: r
        for r in pipe.read_extracted()
        .select("url", "extracted_text", "po_number", "status", "content_type")
        .collect()
    }
    assert set(got) == set(golden)
    mismatches = [
        u
        for u, g in golden.items()
        if got[u]["extracted_text"] != g.extracted_text
    ]
    assert mismatches == [], f"{len(mismatches)} urls differ, e.g. {mismatches[:3]}"
    for u, g in golden.items():
        assert got[u]["po_number"] == g.po_number, u
        assert got[u]["status"] == g.status, u
        assert got[u]["content_type"] == g.content_type, u


def test_spans_and_fields_match_oracle(run_output, golden):
    pipe, _ = run_output
    rows = pipe.read_extracted().select(
        "url", "spans", "fields", "quality_clauses",
        "total_pages", "po_page_count", "router_page_count",
        "total_images", "image_counts",
    ).collect()
    some_images = False
    for r in rows:
        g = golden[r["url"]]
        got_spans = [(s["label"], s["page_no"], s["start"], s["end"]) for s in r["spans"]]
        want_spans = [(s.label, s.page_no, s.start, s.end) for s in g.spans]
        assert got_spans == want_spans, r["url"]
        assert r["fields"].asDict() == g.fields, r["url"]
        assert dict(r["quality_clauses"] or {}) == g.quality_clauses, r["url"]
        assert r["total_pages"] == g.total_pages
        assert r["po_page_count"] == g.po_page_count
        assert r["router_page_count"] == g.router_page_count
        # P2/A2: per-page image counts and the doc total
        assert r["total_images"] == g.total_images, r["url"]
        assert list(r["image_counts"] or []) == list(g.image_counts), r["url"]
        some_images = some_images or g.total_images > 0
    assert some_images, "fixture produced no embedded-image records"


def test_statuses_cover_quarantine_classes(run_output):
    pipe, _ = run_output
    statuses = {
        r["status"]: r["n"]
        for r in pipe.read_extracted().groupBy("status").count().withColumnRenamed("count", "n").collect()
    }
    assert statuses.get("ok", 0) > 0
    assert statuses.get("oversize", 0) > 0  # oversize class quarantined, not parsed
    assert statuses.get("empty", 0) > 0     # html-empty-main


def test_metrics_and_manifest_written(run_output, spark):
    """Lineage is one metrics row per input partition and one manifest row
    per bucket, and both account for every row written."""
    pipe, result = run_output
    m = spark.read.parquet(pipe.metrics_path)
    m = m.where(m.run_id == result.run_id)
    assert m.count() > 0
    assert m.count() == m.select("partition_id").distinct().count()
    assert {"partition_id", "row_count", "stage_proc_us",
            "ok_rows", "quarantined_rows"} <= set(m.columns)
    # A2: images aggregate in the lineage metrics
    assert m.agg({"total_images": "sum"}).first()[0] > 0
    man = spark.read.parquet(pipe.manifest_path)
    assert {"bucket", "content_hash"} <= set(man.columns)
    assert man.select("bucket").distinct().count() == result.buckets_processed
    assert (
        m.agg({"row_count": "sum"}).first()[0]
        == man.agg({"row_count": "sum"}).first()[0]
        == result.rows_written
    )


def test_salted_buckets_spread_heavy_host(run_output, spark):
    """The heavy host (≥30% of rows) must land in >1 bucket (salting), and
    no bucket should hold more than ~2× the mean row count."""
    pipe, _ = run_output
    df = pipe.read_extracted()
    heavy = df.where(df.url.contains(HEAVY_HOST)).select("bucket").distinct().count()
    assert heavy > 1, "salting failed: heavy host collapsed into one bucket"
    counts = [r["n"] for r in df.groupBy("bucket").count().withColumnRenamed("count", "n").collect()]
    mean = sum(counts) / len(counts)
    assert max(counts) <= 3.0 * mean, f"bucket skew too high: {max(counts)} vs mean {mean}"


def test_resume_skips_completed_buckets(run_output, spark, pages_path, golden):
    """North-rule resume clause: a second run over the same input must skip
    every completed bucket and leave the output unchanged."""
    pipe, first = run_output
    before = {
        (r["bucket"], r["content_hash"], r["run_id"])
        for r in spark.read.parquet(pipe.manifest_path).collect()
    }
    second = pipe.run(pages_path)
    assert second.buckets_skipped == first.buckets_processed
    assert second.buckets_processed == 0
    assert second.rows_written == 0
    after = {
        (r["bucket"], r["content_hash"], r["run_id"])
        for r in spark.read.parquet(pipe.manifest_path).collect()
    }
    assert before == after  # no bucket reprocessed, hashes untouched
    assert pipe.read_extracted().count() == len(golden)


def test_resume_of_complete_epoch_job_budget(spark, pages_path, tmp_path):
    """A resume over a finished epoch reads the input schema and the
    epoch's manifest once each, and runs nothing else."""
    from conftest import count_jobs

    pipe = ExtractionPipeline(spark, str(tmp_path / "out"), num_buckets=16, max_bytes=MAX_BYTES)
    first = pipe.run(pages_path)
    res, jobs = count_jobs(spark, lambda: pipe.run(pages_path))
    assert res.buckets_processed == 0 and res.buckets_skipped == first.buckets_processed
    assert jobs <= 2, jobs


@pytest.mark.parametrize("kept", ["every_other", "none"])
def test_partial_manifest_resume(spark, pages_path, golden, tmp_path_factory, kept):
    """Kill-after-partition-k simulation: keep manifests for a subset of
    buckets, run with resume, assert only the missing buckets are processed
    and the union equals the full golden set. Keeping none is the state a
    crash between the metrics and the manifest write leaves. Either way the
    resumed epoch's lineage counts every row once, and every bucket is
    still one file."""
    from conftest import files_per_bucket
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("out2") / "run")
    pipe = ExtractionPipeline(spark, out, num_buckets=16, max_bytes=MAX_BYTES)
    full = pipe.run(pages_path)  # baseline full run

    # simulate a killed job: drop manifests for some of the buckets, as if
    # the job died before completing them
    man = spark.read.parquet(pipe.manifest_path)
    buckets = [r["bucket"] for r in man.select("bucket").distinct().collect()]
    keep_buckets = buckets[::2] if kept == "every_other" else []
    import shutil

    man.where(man.bucket.isin(keep_buckets)).write.mode("overwrite").partitionBy(
        "epoch"
    ).parquet(pipe.manifest_path + "_tmp")
    shutil.rmtree(pipe.manifest_path)
    os.rename(pipe.manifest_path + "_tmp", pipe.manifest_path)

    resumed = pipe.run(pages_path)
    assert resumed.buckets_skipped == len(keep_buckets)
    assert resumed.buckets_processed == full.buckets_processed - len(keep_buckets)

    got = {
        r["url"]: r["extracted_text"]
        for r in pipe.read_extracted().select("url", "extracted_text").collect()
    }
    assert set(got) == set(golden)
    assert all(got[u] == g.extracted_text for u, g in golden.items())

    met = spark.read.parquet(pipe.metrics_path).where("epoch = 0")
    man = spark.read.parquet(pipe.manifest_path).where("epoch = 0")
    assert man.count() == man.select("bucket").distinct().count() == full.buckets_processed
    assert (
        met.agg(F.sum("row_count")).first()[0]
        == man.agg(F.sum("row_count")).first()[0]
        == len(golden)
    )
    assert set(files_per_bucket(pipe.extracted_path).values()) == {1}


def test_rerun_under_static_overwrite_mode_keeps_other_epochs_lineage(
    spark, tiny_pages_path, tmp_path
):
    """The lineage writes replace only their own epoch even in a session
    whose partitionOverwriteMode is static: a resume=False rerun of epoch 1
    leaves epoch 0's metrics and manifest rows as they were."""
    pipe = ExtractionPipeline(spark, str(tmp_path / "out"), num_buckets=8, max_bytes=MAX_BYTES)
    pipe.run(tiny_pages_path, epoch=0)
    pipe.run(tiny_pages_path, epoch=1)

    def epoch0_lineage():
        return [
            set(spark.read.parquet(path).where("epoch = 0").collect())
            for path in (pipe.metrics_path, pipe.manifest_path)
        ]

    before = epoch0_lineage()
    key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        pipe.run(tiny_pages_path, resume=False, epoch=1)
    finally:
        spark.conf.set(key, mode)
    assert all(before)
    assert epoch0_lineage() == before


def test_resume_after_failed_rerun_rewrites_cleared_buckets(
    spark, pages_path, golden, tmp_path, monkeypatch
):
    """A resume=False rerun clears every bucket dir of the epoch before its
    data write. If it fails in between, the next (resuming) run must find no
    completed bucket, not trust the manifest of the run before, and leave
    every url once with lineage that counts each row once."""
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    pipe = ExtractionPipeline(spark, str(tmp_path / "out"), num_buckets=8, max_bytes=MAX_BYTES)
    pipe.run(pages_path)

    parquet = DataFrameWriter.parquet

    def failing_data_write(self, path, *args, **kwargs):
        if path == pipe.extracted_path:
            raise RuntimeError("injected data-write failure")
        return parquet(self, path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", failing_data_write)
        with pytest.raises(RuntimeError, match="injected"):
            pipe.run(pages_path, resume=False)

    resumed = pipe.run(pages_path)
    assert resumed.buckets_skipped == 0
    assert resumed.rows_written == len(golden)

    rows = pipe.read_extracted().select("url", "extracted_text").collect()
    got = {r["url"]: r["extracted_text"] for r in rows}
    assert len(rows) == len(got) and set(got) == set(golden)
    assert all(got[u] == g.extracted_text for u, g in golden.items())

    met = spark.read.parquet(pipe.metrics_path).where("epoch = 0")
    man = spark.read.parquet(pipe.manifest_path).where("epoch = 0")
    assert (
        met.agg(F.sum("row_count")).first()[0]
        == man.agg(F.sum("row_count")).first()[0]
        == len(golden)
    )


def test_compact_epoch_preserves_content(spark, pages_path, tmp_path_factory):
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("out") / "compact")
    pipe = ExtractionPipeline(spark, out, num_buckets=16, max_bytes=MAX_BYTES)
    pipe.run(pages_path)

    def state():
        df = pipe.read_extracted().where(F.col("epoch") == 0)
        rows = df.groupBy("bucket").agg(
            F.count("*").alias("n"), F.expr("bit_xor(row_hash)").alias("h")
        ).collect()
        return {r["bucket"]: (r["n"], r["h"]) for r in rows}

    import glob
    before_files = len(glob.glob(f"{out}/extracted/epoch=0/bucket=*/*.parquet"))
    before = state()
    n_files = pipe.compact_epoch(0)
    after = state()
    after_files = len(glob.glob(f"{out}/extracted/epoch=0/bucket=*/*.parquet"))

    assert after == before                      # content identical per bucket
    assert n_files == after_files == len(after) # exactly one file per bucket
    assert after_files <= before_files
    # manifests still valid → a resumed run skips every bucket
    res = pipe.run(pages_path)
    assert res.buckets_processed == 0 and res.buckets_skipped == len(after)


def test_resume_adopts_epoch_bucket_numbering(spark, pages_path, tmp_path_factory, monkeypatch):
    """Bucket ids belong to the epoch: a resume on a differently-sized
    cluster (different auto num_buckets) must adopt the manifest's
    recorded numbering, or the anti-join would skip never-processed pages
    (silent loss) and reprocess others under a conflicting layout. The
    epoch is written with an older salt of 4."""
    out = str(tmp_path_factory.mktemp("out") / "elastic")
    pipe1 = ExtractionPipeline(spark, out, num_buckets=16, max_bytes=MAX_BYTES)
    with monkeypatch.context() as m:
        m.setattr(pipeline_mod, "DEFAULT_SALT_FACTOR", 4)
        res1 = pipe1.run(pages_path)
    assert (res1.num_buckets, res1.salt_factor) == (16, 4)
    assert res1.buckets_processed == 16

    # "new cluster": same output dir, different bucket config
    pipe2 = ExtractionPipeline(spark, out, num_buckets=32, max_bytes=MAX_BYTES)
    res2 = pipe2.run(pages_path)          # resume=True default
    assert (res2.num_buckets, res2.salt_factor) == (16, 4)  # adopted
    assert res2.buckets_processed == 0 and res2.buckets_skipped == 16
    assert pipe2.read_extracted().count() == res1.rows_written


# -- input-sized bucket count ---------------------------------------------------


@pytest.fixture(scope="module")
def tiny_pages_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("tiny") / "pages")
    write_pages_parquet(p, 24, seed=7, max_bytes=MAX_BYTES)
    return p


def _layouts(spark, pipe):
    """{(epoch, num_buckets, salt_factor)} recorded in the manifest."""
    m = spark.read.parquet(pipe.manifest_path)
    return {
        (r["epoch"], r["num_buckets"], r["salt_factor"])
        for r in m.select("epoch", "num_buckets", "salt_factor").distinct().collect()
    }


def _written_buckets(pipe, epoch=0):
    return {
        int(d.split("=", 1)[1])
        for d in os.listdir(f"{pipe.extracted_path}/epoch={epoch}")
        if d.startswith("bucket=")
    }


def test_run_on_dataframe_equals_run_on_path(spark, pages_path, golden, tmp_path):
    """A DataFrame input (what a cron tick passes) and the path it was read
    from are the same run: same bucket layout, same per-url text, same
    manifest. The path run, a fresh auto-sized run over a multi-file
    input like a benchmark batch run, also stays within its job budget."""
    from conftest import count_jobs

    def outcome(pages, out):
        pipe = ExtractionPipeline(spark, str(tmp_path / out), max_bytes=MAX_BYTES)
        res, jobs = count_jobs(spark, lambda: pipe.run(pages))
        text = {
            r["url"]: r["extracted_text"]
            for r in pipe.read_extracted().select("url", "extracted_text").collect()
        }
        manifest = {
            (r["bucket"], r["row_count"], r["content_hash"])
            for r in spark.read.parquet(pipe.manifest_path).collect()
        }
        return ((res.num_buckets, res.salt_factor), text, manifest), jobs

    by_path, path_jobs = outcome(pages_path, "path")
    by_df, _ = outcome(spark.read.parquet(pages_path), "df")
    assert by_df == by_path
    assert set(by_df[1]) == set(golden)
    assert path_jobs <= 7, path_jobs


def test_empty_input_writes_no_lineage(spark, pages_path, golden, tmp_path):
    """A run over an empty DataFrame writes no rows and no lineage, and a
    later run into the same epoch is a normal first run."""
    pipe = ExtractionPipeline(spark, str(tmp_path / "out"), max_bytes=MAX_BYTES)
    empty = pipe.run(spark.read.parquet(pages_path).where("false"))
    assert (empty.rows_written, empty.buckets_processed) == (0, 0)
    assert not os.path.exists(pipe.metrics_path)
    assert not os.path.exists(pipe.manifest_path)

    res = pipe.run(pages_path)
    assert res.buckets_skipped == 0 and res.rows_written == len(golden)
    got = {
        r["url"]: r["extracted_text"]
        for r in pipe.read_extracted().select("url", "extracted_text").collect()
    }
    assert set(got) == set(golden)
    assert all(got[u] == g.extracted_text for u, g in golden.items())


def test_run_leaves_scan_split_sizing_to_spark(spark, tmp_path, monkeypatch):
    """run() sets no split conf: the extraction stage sees the session's
    own split settings and scans the input as a plain read of it would.
    The input is one ~1.5 MB row group of incompressible payloads."""
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from unified_ocr_pipeline_spark.sources.fixtures import PAGES_ARROW_SCHEMA

    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    rows = [
        {
            "url": f"https://example.com/{i}",
            "warc_ts": datetime(2024, 1, 1, tzinfo=timezone.utc),
            "html": os.urandom(32 * 1024),  # incompressible
            "text": None,
            "lang": None,
        }
        for i in range(48)
    ]
    path = str(tmp_path / "one.parquet")
    pq.write_table(
        pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA), path, row_group_size=len(rows)
    )
    assert pq.ParquetFile(path).num_row_groups == 1

    seen = []
    extract_stage = pipeline_mod.extract_stage

    def recording(df, **kw):
        conf = df.sparkSession.conf
        seen.append((*(conf.get(k) for k in keys), df.rdd.getNumPartitions()))
        return extract_stage(df, **kw)

    monkeypatch.setattr(pipeline_mod, "extract_stage", recording)
    ExtractionPipeline(spark, str(tmp_path / "out"), max_bytes=MAX_BYTES).run(path)
    plain = (*(spark.conf.get(k) for k in keys), spark.read.parquet(path).rdd.getNumPartitions())
    assert seen == [plain]


def test_resumed_layout_does_not_stick_to_pipeline(
    spark, pages_path, tiny_pages_path, tmp_path, monkeypatch
):
    """Adopting a resumed epoch's layout is for that run only: the next
    epoch is written with the pipeline's own configured layout. Epoch 0
    is written with an older salt of 4."""
    out = str(tmp_path / "out")
    with monkeypatch.context() as m:
        m.setattr(pipeline_mod, "DEFAULT_SALT_FACTOR", 4)
        ExtractionPipeline(spark, out, num_buckets=16, max_bytes=MAX_BYTES).run(tiny_pages_path)
    pipe = ExtractionPipeline(spark, out, num_buckets=32, max_bytes=MAX_BYTES)
    resumed = pipe.run(tiny_pages_path)
    nxt = pipe.run(tiny_pages_path, epoch=1)
    assert _layouts(spark, pipe) == {(0, 16, 4), (1, 32, 8)}
    assert (resumed.num_buckets, resumed.salt_factor) == (16, 4)
    assert (nxt.num_buckets, nxt.salt_factor) == (32, 8)


def test_auto_buckets_tiny_input_gets_salt_factor(spark, tiny_pages_path, tmp_path, monkeypatch):
    """A few KB of input must not pay for the cluster-sized bucket count:
    below 8 buckets it gets one bucket per started MiB, and its salt
    factor is that bucket count (one host group)."""
    size = pipeline_mod._size_in_bytes(spark.read.parquet(tiny_pages_path))
    # the real 1 MiB budget, then one that splits the input 3 ways
    for per_bucket in (pipeline_mod._BYTES_PER_BUCKET, -(-size // 3)):
        monkeypatch.setattr(pipeline_mod, "_BYTES_PER_BUCKET", per_bucket)
        want = -(-size // per_bucket)
        pipe = ExtractionPipeline(spark, str(tmp_path / f"out{want}"), max_bytes=MAX_BYTES)
        res = pipe.run(tiny_pages_path)
        assert (res.num_buckets, res.salt_factor) == (want, want)
        assert 0 < res.buckets_processed <= want
        assert _written_buckets(pipe) <= set(range(want))
        assert _layouts(spark, pipe) == {(0, want, want)}
        assert res.rows_written == pipe.read_extracted().count()
    assert want == 3


def test_auto_buckets_capped_at_cluster_size(spark):
    cap = auto_num_buckets(spark)
    mib = pipeline_mod._BYTES_PER_BUCKET
    cores = spark.sparkContext.defaultParallelism
    assert cap % 8 == 0 and cap >= max(pipeline_mod.DEFAULT_NUM_BUCKETS, 4 * cores)
    assert auto_num_buckets(spark, input_bytes=1 << 50) == cap
    assert auto_num_buckets(spark, input_bytes=0) == 1
    assert auto_num_buckets(spark, input_bytes=mib) == 1
    assert auto_num_buckets(spark, input_bytes=mib + 1) == 2
    assert auto_num_buckets(spark, input_bytes=7 * mib) == 7
    assert auto_num_buckets(spark, input_bytes=7 * mib + 1) == 8
    assert auto_num_buckets(spark, input_bytes=8 * mib + 1) == 16
    for size in (8 * mib, mib * 24 + 5, mib * 1000):
        n = auto_num_buckets(spark, input_bytes=size)
        assert n % 8 == 0 and 8 <= n <= cap


def test_explicit_num_buckets_never_resized(spark, tiny_pages_path, tmp_path):
    pipe = ExtractionPipeline(spark, str(tmp_path / "out"), num_buckets=16, max_bytes=MAX_BYTES)
    res = pipe.run(tiny_pages_path)
    assert res.num_buckets == 16
    assert _layouts(spark, pipe) == {(0, 16, 8)}


def test_auto_buckets_resize_per_streaming_tick(spark, tmp_path, monkeypatch):
    """One auto-sized pipeline reused across cron ticks sizes each epoch
    to that tick's input, and each epoch's buckets stay within its own
    recorded layout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from unified_ocr_pipeline_spark.sources.fixtures import (
        PAGES_ARROW_SCHEMA,
        generate_pages_rows,
    )
    from unified_ocr_pipeline_spark.streaming.incremental import run_available_now

    # shrink the per-bucket byte budget so KB-sized ticks span several sizes
    monkeypatch.setattr(pipeline_mod, "_BYTES_PER_BUCKET", 8 * 1024)
    pages_dir = tmp_path / "incoming"
    pages_dir.mkdir()
    pipe = ExtractionPipeline(spark, str(tmp_path / "out"), max_bytes=MAX_BYTES)
    rows = generate_pages_rows(64, seed=5, max_bytes=MAX_BYTES)
    for k, batch in enumerate((rows[:4], rows[4:])):
        pq.write_table(
            pa.Table.from_pylist(batch, schema=PAGES_ARROW_SCHEMA),
            f"{pages_dir}/tick{k}.parquet",
        )
        assert run_available_now(spark, str(pages_dir), pipe, str(tmp_path / "ckpt")) == 1

    layouts = sorted(_layouts(spark, pipe))
    assert [e for e, _, _ in layouts] == [0, 1]
    (_, small, _), (_, large, _) = layouts
    assert all(sf == min(8, n) for _, n, sf in layouts)
    assert 1 <= small < large <= auto_num_buckets(spark)
    assert _written_buckets(pipe, 0) <= set(range(small))
    assert _written_buckets(pipe, 1) <= set(range(large))
    assert pipe.read_extracted().count() == len({r["url"] for r in rows[:4]}) + len(
        {r["url"] for r in rows[4:]}
    )


def test_auto_resume_adopts_recorded_layout(spark, tiny_pages_path, tmp_path, monkeypatch):
    """An auto-sized resume whose own sizing would differ (here: a smaller
    per-bucket budget and the current salt) must still adopt the epoch's
    recorded layout, here one written with an older salt of 4."""
    out = str(tmp_path / "out")
    with monkeypatch.context() as m:
        m.setattr(pipeline_mod, "DEFAULT_SALT_FACTOR", 4)
        first = ExtractionPipeline(spark, out, num_buckets=8, max_bytes=MAX_BYTES).run(
            tiny_pages_path
        )
    monkeypatch.setattr(pipeline_mod, "_BYTES_PER_BUCKET", 1024)
    pipe = ExtractionPipeline(spark, out, max_bytes=MAX_BYTES)
    res = pipe.run(tiny_pages_path)
    assert (res.num_buckets, res.salt_factor) == (8, 4)
    assert res.buckets_processed == 0 and res.buckets_skipped == first.buckets_processed
    assert _layouts(spark, pipe) == {(0, 8, 4)}
    assert pipe.read_extracted().count() == first.rows_written
