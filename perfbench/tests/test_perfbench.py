"""Tests for the benchmark's own parts: the input generator, the metric
names, the correctness gate and the tracer.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``
"""

from __future__ import annotations

import json
import os
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [p for p in (BENCH, ROOT) if p not in sys.path]

import check  # noqa: E402
import inputs  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
from tracing import Tracer  # noqa: E402

SMALL = inputs.InputSpec(
    "small", files=2, docs_per_file=80, mix=tuple(inputs.FULL_MIX.items()),
    content_scale=1, max_bytes=4096,
)


def _read_dir(path):
    return [
        pq.read_table(os.path.join(path, f)).to_pylist() for f in sorted(os.listdir(path))
    ]


def test_generator_is_deterministic_per_seed(tmp_path):
    a = inputs.generate(SMALL, 7, str(tmp_path / "a"))
    b = inputs.generate(SMALL, 7, str(tmp_path / "b"))
    c = inputs.generate(SMALL, 8, str(tmp_path / "c"))
    assert _read_dir(a) == _read_dir(b)
    assert _read_dir(a) != _read_dir(c)
    # a cache hit returns the same directory without regenerating
    assert inputs.generate(SMALL, 7, str(tmp_path / "a")) == a


def test_recrawls_stay_inside_their_file():
    spec = inputs.InputSpec(
        "recrawls", files=2, docs_per_file=50, mix=(("text-only", 1), ("dup-url", 1)),
        content_scale=1, max_bytes=4096,
    )
    files = [inputs.file_rows(spec, 3, f) for f in range(2)]
    urls = [{r["url"] for r in rows} for rows in files]
    assert not urls[0] & urls[1]
    assert len(urls[0]) < len(files[0])  # the mix re-crawls urls of the same file


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    name_re = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    workloads = [w["name"] for w in spec["workloads"]]
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    assert set(workloads) == set(run.SPECS)
    names = [*e2e, *layer, *workloads]
    assert len(names) == len(set(names))
    for name in names:
        assert name_re.match(name), name


def _write_output(path, golden_results, corrupt=None, drop=None, duplicate=None):
    """Write oracle results in the pipeline's extracted layout."""
    rows = []
    for url, r in golden_results.items():
        if url == drop:
            continue
        row = {
            "url": url,
            "extracted_text": r.extracted_text + ("x" if url == corrupt else ""),
            "po_number": r.po_number,
            "spans": [
                {"label": s.label, "page_no": s.page_no, "start": s.start, "end": s.end}
                for s in r.spans
            ],
            "status": r.status,
        }
        rows.append(row)
        if url == duplicate:
            rows.append(dict(row))
    part = path / "epoch=0" / "bucket=1"
    part.mkdir(parents=True)
    pq.write_table(pa.Table.from_pylist(rows), str(part / "part-0.parquet"))
    return str(path)


def test_one_corrupted_output_row_raises_failed_ratio(tmp_path):
    from unified_ocr_pipeline_spark.kernels import document

    latest = {}
    for r in inputs.file_rows(SMALL, 5, 0):
        latest[r["url"]] = r
    goldens = {
        url: document.process_document(url, r["html"], r["text"], max_bytes=SMALL.max_bytes)
        for url, r in latest.items()
    }
    golden = check.golden_digests(goldens)
    victim = next(u for u, r in goldens.items() if r.extracted_text)

    clean = check.count_failed(golden, check.output_digests(_write_output(tmp_path / "ok", goldens)))
    assert sum(clean.values()) == 0

    bad = check.count_failed(
        golden, check.output_digests(_write_output(tmp_path / "bad", goldens, corrupt=victim))
    )
    assert bad["different"] == 1
    assert sum(bad.values()) / len(goldens) > 0

    gone = check.count_failed(
        golden, check.output_digests(_write_output(tmp_path / "gone", goldens, drop=victim))
    )
    assert gone["missing"] == 1
    twice = check.count_failed(
        golden, check.output_digests(_write_output(tmp_path / "dup", goldens, duplicate=victim))
    )
    assert twice["duplicated"] == 1


def test_tracer_restores_patched_functions():
    class Box:
        @staticmethod
        def f(x):
            return x + 1

    original = Box.f
    t = Tracer("t")
    t.patch(Box, "f", "box.f")
    with t.span("outer"):
        assert Box.f(1) == 2
    t.enabled = False
    assert Box.f(2) == 3  # forwarded, not recorded
    t.close()
    assert Box.f is original
    outer = next(s for s in t.spans if s["name"] == "outer")
    assert [s["parent"] for s in t.spans if s["name"] == "box.f"] == [outer["id"]]
    assert len(t.durations("box.f")) == 1


def test_stopwatch_takes_the_stolen_share_out_of_wall_time(monkeypatch):
    ticks = iter([[100, 10], [160, 50]])  # (busy, steal): 60 busy, 40 stolen
    monkeypatch.setattr(procstat, "host_stat", lambda: next(ticks))
    with procstat.Stopwatch() as clock:
        pass
    assert clock.steal_share == 0.4
    assert clock.steal_free == clock.wall * 0.6


def test_procstat_reads_this_process():
    me = os.getpid()
    assert me in procstat.cpu_seconds(me)
    assert procstat.rss_bytes(me) > 0
