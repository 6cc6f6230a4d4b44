#!/usr/bin/env python3
"""Extraction benchmark for unified_ocr_pipeline_spark.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_full --seed 1 --seconds 18 --trace 0

Generates the workload's input from the seed (cached under .perfbench/),
starts a local Spark session sized to this machine, times a fixed number
of the engine's batch or cron-tick jobs (about ``--seconds`` seconds on an
unloaded 4-core host; end-to-end times leave out CPU time the hypervisor
stole, see procstat.Stopwatch), checks every output row against the
sequential oracle, and prints a readable report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` repeats the
run with spans around the engine's public calls plus per-layer probes and
reports the per-layer metrics (spans are written to
.perfbench/traces/<workload>-s<seed>.jsonl). Spark's own log goes to
.perfbench/spark.log. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from typing import Dict, List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [p for p in (HERE, ROOT) if p not in sys.path]

import inputs  # noqa: E402
import procstat  # noqa: E402
from tracing import Tracer  # noqa: E402

MAX_BYTES = 1 << 20  # the pipeline's size cap; oversize docs sit 1 KiB above it
DRIVER_MEM = "1g"
CORES = len(os.sched_getaffinity(0))
# invocation 0 of every run is a warm-up: it runs and is checked, but the
# end-to-end metrics come from the invocations after it. As many are
# measured as fit in --seconds at the steal-free time one takes on an
# unloaded 4-core host, so every run of a workload does the same work
# however loaded the host is (the JVM keeps warming up over the first ~6
# invocations, so a run that measured more of them on a fast host would
# read faster still)
NOMINAL_INVOCATION_S = {"crawl_full": 5.0, "cron_ticks": 4.5}
MIN_MEASURED = 3
RESUMES = 6
# untimed resumes over the same epoch just before the timed ones: resume
# runs Spark jobs that run() does not, and while they were still cold the
# timed resumes kept getting faster, the first up to 2x slower than the
# last. Warming them on the small warm-up input was not enough.
RESUME_WARMUPS = 3
KERNEL_SAMPLE = 400

SPECS: Dict[str, inputs.InputSpec] = {
    # one batch run() per invocation over the full crawl mix
    "crawl_full": inputs.InputSpec(
        "crawl_full", 8, 256, tuple(inputs.FULL_MIX.items()), 6, MAX_BYTES
    ),
    # one file lands per tick; each tick is one run_available_now call, and
    # --seconds decides how many of the files land
    "cron_ticks": inputs.InputSpec(
        "cron_ticks", 8, 300, tuple(inputs.FULL_MIX.items()), 6, MAX_BYTES
    ),
}
# 8 files, so every Python worker a full run uses is forked during set-up
WARMUP = inputs.InputSpec("warmup", 8, 16, tuple(inputs.FULL_MIX.items()), 1, MAX_BYTES)

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "tick_s_p50": "s",
    "cpu_s_per_kdoc": "s",
    "output_bytes_per_doc": "B",
}
PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "session.first_arrow_job_s": "s",
    "preflight.require_healthy_s": "s",
    "sources.scan_s": "s",
    "sources.docs_in": "count",
    "sources.input_mb": "MB",
    "kernels.process_document_us": "us",
    "kernels.pdf_us": "us",
    "kernels.html_us": "us",
    "kernels.text_us": "us",
    "kernels.sniff_us": "us",
    "kernels.pdf_layout_us": "us",
    "kernels.html_extract_us": "us",
    "kernels.fields_us": "us",
    "kernels.pdf_lenient_ratio": "ratio",
    "extraction.stage_s": "s",
    "extraction.kernel_busy_s": "s",
    "extraction.kernel_share": "ratio",
    "pipeline.run_s": "s",
    "pipeline.post_extract_s": "s",
    "pipeline.rows_written": "count",
    "pipeline.dedup_dropped": "count",
    "pipeline.buckets_processed": "count",
    "pipeline.output_files": "count",
    "pipeline.bucket_skew": "ratio",
    "pipeline.compact_s": "s",
    "pipeline.resume_s": "s",
    "streaming.overhead_s": "s",
    "oracle.docs_per_s": "docs/s",
    "speedup_vs_oracle": "ratio",
    "trace.docs_per_s_delta": "docs/s",
}


def configure_env(run_dir: str) -> Dict[str, str]:
    """Keep every file Spark, the JVM and Python workers write inside
    ``run_dir``, size the session to this machine, and let Python workers
    import the engine. Returns the extra session config."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    # hsperfdata files go to /tmp whatever java.io.tmpdir says
    no_perf_data = "-XX:-UsePerfData"
    os.environ.update(
        SPARK_LAUNCHER_OPTS=no_perf_data,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    )
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {no_perf_data}",
        "spark.ui.showConsoleProgress": "false",
    }


def with_stderr_to(path: str, fn):
    """Call ``fn`` with file descriptor 2 pointing at ``path``: a JVM it
    launches (and the Python workers that JVM forks) log there, while this
    process's own stderr is restored afterwards."""
    sys.stderr.flush()
    saved = os.dup(2)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(fd, 2)
    try:
        return fn()
    finally:
        os.dup2(saved, 2)
        os.close(saved)
        os.close(fd)


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for every descendant."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on stdin
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - reaped below either way
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        procstat.reap_descendants(os.getpid())


def median(xs: List[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, args: argparse.Namespace, run_dir: str, conf: Dict[str, str]):
        self.args = args
        self.workload = args.workload
        self.spec = SPECS[args.workload]
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.conf = conf
        self.tracer = Tracer(f"{args.workload}-s{args.seed}")
        self.tracer.enabled = self.trace
        self.spark = None
        self.failed = 0
        self.notes: List[str] = []
        # a traced run makes exactly 4 invocations: a warm-up, then traced,
        # untraced, traced, so a steady warm-up trend cancels out of the
        # tracing overhead
        measured = max(MIN_MEASURED, int(args.seconds / NOMINAL_INVOCATION_S[self.workload]))
        self.invocations = 4 if self.trace else 1 + measured
        if self.workload == "cron_ticks":
            self.invocations = min(self.invocations, self.spec.files)
        self.cpu0: Dict[int, float] = {}

    def warmed_up(self, i: int) -> None:
        """Called after invocation ``i``: the CPU window opens after the warm-up."""
        if i == 0:
            self.cpu0 = procstat.cpu_seconds(os.getpid())

    def traced(self, i: int) -> bool:
        return self.trace and i % 2 == 1

    # -- phases ---------------------------------------------------------------
    def install_trace(self) -> None:
        from unified_ocr_pipeline_spark.oracle import run as oracle_run
        from unified_ocr_pipeline_spark.plans import extraction, pipeline, preflight, session
        from unified_ocr_pipeline_spark.sources import tables
        from unified_ocr_pipeline_spark.streaming import incremental

        t = self.tracer
        t.patch(session, "get_spark", "session.get_spark")
        t.patch(preflight, "require_healthy", "preflight.require_healthy")
        t.patch(tables, "read_input", "sources.read_input")
        t.patch(pipeline, "read_input", "sources.read_input")
        t.patch(extraction, "extract_stage", "extraction.extract_stage")
        t.patch(pipeline, "extract_stage", "extraction.extract_stage")
        t.patch(pipeline.ExtractionPipeline, "run", "pipeline.run")
        t.patch(pipeline.ExtractionPipeline, "compact_epoch", "pipeline.compact_epoch")
        t.patch(incremental, "run_available_now", "streaming.run_available_now")
        t.patch(oracle_run, "run_oracle", "oracle.run_oracle")

    def setup(self, warm: str) -> float:
        """get_spark + preflight + first extraction of the warm-up input."""
        from unified_ocr_pipeline_spark.plans import preflight, session
        from unified_ocr_pipeline_spark.plans.pipeline import ExtractionPipeline

        log = os.path.join(WORK, "spark.log")
        with procstat.Stopwatch() as clock, self.tracer.span("bench.setup"):
            self.spark = with_stderr_to(
                log,
                lambda: session.get_spark(
                    app_name="perfbench", cores=CORES, extra_conf=self.conf
                ),
            )
            preflight.require_healthy(self.spark, warm)
            with self.tracer.span("session.first_arrow_job"):
                ExtractionPipeline(
                    self.spark, os.path.join(self.run_dir, "warm_out"), max_bytes=MAX_BYTES
                ).run(warm)
        return clock

    def batch(self, inp: str) -> Dict:
        from unified_ocr_pipeline_spark.plans.pipeline import ExtractionPipeline

        docs = self.spec.files * self.spec.docs_per_file
        clocks: List[procstat.Stopwatch] = []
        traced: List[bool] = []
        results = []
        outs: List[str] = []
        for i in range(self.invocations):
            outs.append(os.path.join(self.run_dir, f"out{i}"))
            self.tracer.enabled = self.traced(i)
            try:
                with procstat.Stopwatch() as clock, self.tracer.span("bench.invocation"):
                    res = ExtractionPipeline(self.spark, outs[-1], max_bytes=MAX_BYTES).run(inp)
            except Exception:  # noqa: BLE001 - a raised run counts its docs as failed
                traceback.print_exc()
                self.failed += docs
                break
            clocks.append(clock)
            traced.append(self.tracer.enabled)
            results.append(res)
            self.warmed_up(i)
        self.tracer.enabled = self.trace
        walls = [c.steal_free for c in clocks]
        return {
            "clocks": clocks,
            "walls": walls,
            "traced": traced,
            "docs_each": [docs] * len(walls),
            "rows_written": [r.rows_written for r in results],
            "buckets_processed": sum(r.buckets_processed for r in results[-1:]),
            "out": outs[-1] if outs else None,
            "outs": outs[: len(walls)],
            "epochs": [0],
            "checked_input": inp,
            "probe_input": inp,
            "checked_docs": docs,
        }

    def cron(self, inp: str) -> Dict:
        import layers
        from unified_ocr_pipeline_spark.plans.pipeline import ExtractionPipeline
        from unified_ocr_pipeline_spark.streaming import incremental

        incoming = os.path.join(self.run_dir, "incoming")
        checkpoint = os.path.join(self.run_dir, "checkpoint")
        out = os.path.join(self.run_dir, "cron_out")
        os.makedirs(incoming)
        pipe = layers.TimedPipeline(ExtractionPipeline(self.spark, out, max_bytes=MAX_BYTES))
        clocks: List[procstat.Stopwatch] = []
        traced: List[bool] = []
        landed: List[str] = []
        files = sorted(glob.glob(os.path.join(inp, "*.parquet")))
        for k, src in enumerate(files[: self.invocations]):
            dst = os.path.join(incoming, f"tick-{k:03d}.parquet")
            shutil.copyfile(src, os.path.join(incoming, f".landing-{k:03d}"))
            os.rename(os.path.join(incoming, f".landing-{k:03d}"), dst)
            self.tracer.enabled = self.traced(k)
            try:
                with procstat.Stopwatch() as clock, self.tracer.span("bench.invocation"):
                    n = incremental.run_available_now(self.spark, incoming, pipe, checkpoint)
            except Exception:  # noqa: BLE001 - a raised tick counts its docs as failed
                traceback.print_exc()
                self.failed += self.spec.docs_per_file
                break
            clocks.append(clock)
            traced.append(self.tracer.enabled)
            landed.append(dst)
            self.warmed_up(k)
            if n != 1:
                self.notes.append(f"tick {k} ran {n} micro-batches")
        self.tracer.enabled = self.trace
        runs = pipe.calls
        walls = [c.steal_free for c in clocks]
        return {
            "clocks": clocks,
            "walls": walls,
            "traced": traced,
            "docs_each": [self.spec.docs_per_file] * len(walls),
            "rows_written": [sum(r.rows_written for _, _, r in runs)],
            "buckets_processed": sum(r.buckets_processed for _, _, r in runs),
            "out": out,
            "outs": [out],
            "epochs": [e for e, _, _ in runs],
            "run_walls": [w for _, w, _ in runs],
            "checked_input": incoming,
            "probe_input": landed[-1] if landed else None,
            "checked_docs": self.spec.docs_per_file * len(walls),
        }

    def resume(self, out: str, inp: str, epoch: int, times: int) -> List[float]:
        """Re-run ``times`` times over a complete epoch with resume=True."""
        from unified_ocr_pipeline_spark.plans.pipeline import ExtractionPipeline

        walls = []
        for _ in range(times):
            t0 = time.perf_counter()
            r = ExtractionPipeline(self.spark, out, max_bytes=MAX_BYTES).run(
                inp, resume=True, epoch=epoch
            )
            walls.append(time.perf_counter() - t0)
            # a resume over a complete epoch must not extract anything again
            self.failed += r.rows_written
        return walls

    def layer_probes(self, res: Dict) -> Dict[str, float]:
        import layers
        from unified_ocr_pipeline_spark.plans.pipeline import ExtractionPipeline

        inp = res["probe_input"]
        m: Dict[str, float] = {}
        with self.tracer.span("sources.scan"):
            m["sources.scan_s"] = layers.scan_s(self.spark, inp, MAX_BYTES)
        with self.tracer.span("extraction.stage"):
            m["extraction.stage_s"] = layers.stage_s(self.spark, inp, MAX_BYTES)
        m["extraction.kernel_busy_s"] = layers.kernel_busy_s(res["out"], res["epochs"][-1])
        m["extraction.kernel_share"] = m["extraction.kernel_busy_s"] / (
            m["extraction.stage_s"] * CORES
        )
        m["pipeline.output_files"] = layers.parquet_files(os.path.join(res["out"], "extracted"))
        m["pipeline.bucket_skew"] = layers.bucket_skew(res["out"])
        pipe = ExtractionPipeline(self.spark, res["out"], max_bytes=MAX_BYTES)
        t0 = time.perf_counter()
        for epoch in res["epochs"]:
            pipe.compact_epoch(epoch)
        m["pipeline.compact_s"] = time.perf_counter() - t0
        return m

    def check(self, res: Dict) -> Dict:
        """Oracle goldens vs every invocation's output, outside the timed region."""
        import check
        from unified_ocr_pipeline_spark.oracle import run as oracle_run

        t0 = time.perf_counter()
        goldens = oracle_run.run_oracle(res["checked_input"], max_bytes=MAX_BYTES)
        oracle_s = time.perf_counter() - t0
        golden = check.golden_digests(goldens)
        counts: Dict[str, int] = {}
        for out in res["outs"]:
            found = check.count_failed(golden, check.output_digests(os.path.join(out, "extracted")))
            for k, v in found.items():
                counts[k] = counts.get(k, 0) + v
        self.failed += sum(counts.values())
        # every invocation must write exactly one row per distinct url
        self.failed += sum(abs(n - len(goldens)) for n in res["rows_written"])
        return {"oracle_s": oracle_s, "unique_docs": len(goldens), "counts": counts}

    # -- the run ----------------------------------------------------------------
    def run(self, inp: str, warm: str) -> Dict:
        import layers

        if self.trace:
            self.install_trace()
        me = os.getpid()
        # the RSS sampler walks /proc on a thread, so only a traced run pays for it
        rss = procstat.PeakRss(me).start() if self.trace else None
        setup = self.setup(warm)
        res = self.cron(inp) if self.workload == "cron_ticks" else self.batch(inp)
        cpu_s = procstat.cpu_delta(self.cpu0, procstat.cpu_seconds(me))
        # resume time is a per-layer metric: each run's resumes settle near
        # one of two levels (about 0.85 s or 1.15 s on 4 cores) that the
        # run's JVM sets, so their spread across runs stays above any bound
        # however many a run makes
        resume_walls = []
        if self.trace and res["walls"]:
            last = (res["out"], res["probe_input"], res["epochs"][-1])
            self.resume(*last, RESUME_WARMUPS)
            resume_walls = self.resume(*last, RESUMES)
        peak_rss_mb = rss.stop() / 2**20 if rss is not None else 0.0
        out_bytes = layers.dir_bytes(res["out"]) if res["walls"] else 0
        probes = self.layer_probes(res) if self.trace and res["walls"] else {}
        if rss is not None:
            probes["peak_rss_mb"] = peak_rss_mb
            probes["pipeline.resume_s"] = median(resume_walls)
            self.notes.append(f"peak RSS {peak_rss_mb:.0f} MB over {rss.procs_at_peak} processes")
        stop_spark(self.spark)
        self.spark = None

        kernels: Dict[str, float] = {}
        if self.trace and res["walls"]:
            with self.tracer.span("kernels.probe"):
                sample = layers.sample_docs(
                    res["checked_input"], KERNEL_SAMPLE, self.args.seed, MAX_BYTES
                )
                kernels = layers.kernel_metrics(sample, MAX_BYTES)
        checked = self.check(res) if res["walls"] else None

        attempted = max(1, sum(res["docs_each"]))
        walls, measured = res["walls"][1:], sum(res["docs_each"][1:])
        e2e = {
            "setup_s": setup.steal_free,
            "docs_per_s": measured / sum(walls) if walls else 0.0,
            "tick_s_p50": median(walls),
            "cpu_s_per_kdoc": cpu_s / max(1, measured) * 1000,
            "output_bytes_per_doc": out_bytes / max(1, res["checked_docs"]),
        }
        report = {
            "workload": self.workload,
            "seed": self.args.seed,
            "clocks": [setup] + res["clocks"],
            "resume_s": resume_walls,
            "failed_ratio": self.failed / attempted,
            "check": checked,
            "notes": self.notes,
        }
        if not self.trace:
            metrics = e2e
        else:
            metrics = self.layer_metrics(res, probes, kernels, checked)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            self.tracer.write(os.path.join(WORK, "traces", f"{self.tracer.trace_id}.jsonl"))
        return {
            "report": report,
            "correct": self.failed == 0 and checked is not None,
            "attempted": attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def layer_metrics(self, res, probes, kernels, checked) -> Dict[str, float]:
        t = self.tracer
        setup = next(s for s in t.spans if s["name"] == "bench.setup")["id"]
        per_doc = [d / w for d, w in zip(res["docs_each"], res["walls"])]
        traced = [r for r, on in zip(per_doc, res["traced"]) if on]
        untraced = [r for r, on in zip(per_doc[1:], res["traced"][1:]) if not on]
        # layer times are plain wall times, like the spans and probes
        tick_walls = [c.wall for c in res["clocks"]]
        if self.workload == "cron_ticks":
            run_walls = [w for w, on in zip(res["run_walls"], res["traced"]) if on]
            overhead = [
                tick - run
                for tick, run, on in zip(tick_walls, res["run_walls"], res["traced"])
                if on
            ]
        else:
            run_walls = [w for w, on in zip(tick_walls, res["traced"]) if on]
            overhead = []
        inp = res["probe_input"]
        in_files = [inp] if os.path.isfile(inp) else glob.glob(os.path.join(inp, "*.parquet"))
        oracle_dps = res["checked_docs"] / checked["oracle_s"]
        m = {
            "session.get_spark_s": t.durations("session.get_spark", parent=setup)[0],
            "session.first_arrow_job_s": t.durations("session.first_arrow_job")[0],
            "preflight.require_healthy_s": t.durations("preflight.require_healthy", parent=setup)[0],
            "sources.docs_in": float(res["docs_each"][-1]),
            "sources.input_mb": sum(os.path.getsize(f) for f in in_files) / 2**20,
            "pipeline.run_s": median(run_walls),
            "pipeline.rows_written": float(sum(res["rows_written"][-1:])),
            "pipeline.dedup_dropped": float(res["checked_docs"] - checked["unique_docs"]),
            "pipeline.buckets_processed": float(res["buckets_processed"]),
            "streaming.overhead_s": median(overhead),
            "oracle.docs_per_s": oracle_dps,
            "speedup_vs_oracle": median(untraced) / oracle_dps,
            "trace.docs_per_s_delta": median(traced) - median(untraced),
        }
        m.update(probes)
        m.update(kernels)
        m["pipeline.post_extract_s"] = m["pipeline.run_s"] - probes["extraction.stage_s"]
        return {k: m[k] for k in PER_LAYER}


def print_report(result: Dict) -> None:
    rep = result["report"]
    units = {**END_TO_END, **PER_LAYER}
    print(f"workload {rep['workload']}  seed {rep['seed']}")
    clocks = rep["clocks"]
    print("  set-up, then invocations (the first a warm-up):")
    print("    wall_s       " + " ".join(f"{c.wall:7.3f}" for c in clocks))
    print("    steal_share  " + " ".join(f"{c.steal_share:7.3f}" for c in clocks))
    print("    steal_free_s " + " ".join(f"{c.steal_free:7.3f}" for c in clocks))
    if rep["resume_s"]:
        print("  resume_s     " + " ".join(f"{w:.3f}" for w in rep["resume_s"]))
    for name, value in result["metrics"].items():
        print(f"  {name:<30} {value:>16.6f} {units[name]}")
    print(f"  {'failed_ratio':<30} {rep['failed_ratio']:>16.6f} ratio")
    if rep["check"]:
        print(f"  check: {rep['check']['counts']} unique_docs={rep['check']['unique_docs']}")
    for note in rep["notes"]:
        print(f"  note: {note}")


def main(argv: Optional[List[str]] = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "unified_ocr_pipeline_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    open(os.path.join(WORK, "spark.log"), "w").close()
    conf = configure_env(run_dir)
    cache = os.path.join(WORK, "inputs")
    inp = inputs.generate(SPECS[args.workload], args.seed, cache)
    warm = inputs.generate(WARMUP, 0, cache)

    bench = Bench(args, run_dir, conf)
    try:
        result = bench.run(inp, warm)
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
        bench.tracer.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print_report(result)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed")}
                     | {"metrics": {k: {"value": v, "unit": {**END_TO_END, **PER_LAYER}[k]}
                                    for k, v in result["metrics"].items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
