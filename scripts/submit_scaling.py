#!/usr/bin/env python3
"""North-rule letter-of-the-law evidence: the SAME extraction job
launched via ``spark-submit --py-files engine.zip`` at TWO parallelism
levels (N and 4N cores) back-to-back on the same input, reporting
documents/sec at both plus the scaling efficiency.

This is the deployment-shaped complement to ``scaling_bench.py``:
scaling_bench is the measurement INSTRUMENT (persistent pre-warmed JVMs,
paired rounds, spin probes — the protocol a noisy shared VM demands),
while this script runs the literal ship artifact — a fresh
``spark-submit`` per level, cold JVM and all — so the BENCH record
includes at least one pair measured exactly the way the job deploys.
Cold-start (~6-10 s JVM+session) rides inside BOTH walls; the corpus
should be big enough to dominate it (default 240k docs).

``reps > 1`` is the cold-start-AMORTIZED submit mode (round-4 verdict
item #5): each submitted JVM runs the pipeline ``reps`` times (fresh
output dir per rep) and the pair is scored on the median of the
post-first reps (``docs_per_sec``, ``wall_sec`` and ``docs`` each) —
the steady state a production driver sees as it amortizes its JVM over
many batches (one submit, many partitions/days of work), while still
running the literal ship artifact end-to-end.  Rep 1 carries JVM + session +
Python-worker cold start (~8-10 s); reps 2+ measure the engine.

Run:  python scripts/submit_scaling.py [n_docs] [lo] [hi] [reps]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_DRIVER = """
import json, shutil, statistics, sys, time
from unified_ocr_pipeline_spark.plans.session import get_spark
from unified_ocr_pipeline_spark.plans.pipeline import ExtractionPipeline

cores, pages, out = int(sys.argv[1]), sys.argv[2], sys.argv[3]
reps = int(sys.argv[4]) if len(sys.argv) > 4 else 1
spark = get_spark(app_name=f"submit_scale_{cores}", cores=cores,
                  shuffle_partitions=cores)
trials = []
for rep in range(reps):
    shutil.rmtree(out, ignore_errors=True)
    pipe = ExtractionPipeline(spark, out, num_buckets=64,
                              max_bytes=256 * 1024)
    t0 = time.perf_counter()
    res = pipe.run(pages, resume=False)
    wall = time.perf_counter() - t0
    trials.append({"rep": rep, "wall_sec": round(wall, 3),
                   "docs": res.rows_written,
                   "docs_per_sec": round(res.rows_written / wall, 2)})
# score: single-rep mode uses the (cold) only rep; amortized mode uses
# the median of the post-first reps, not the best of them, so the score
# does not drift up with the rep count
steady = trials[1:] or trials
scored = {k: statistics.median(t[k] for t in steady)
          for k in ("wall_sec", "docs", "docs_per_sec")}
print("SUBMIT_TRIAL " + json.dumps({
    "cores": cores, "wall_sec": scored["wall_sec"], "docs": scored["docs"],
    "docs_per_sec": scored["docs_per_sec"], "reps": trials}))
spark.stop()
"""


def main() -> None:
    from scripts.scaling_bench import ensure_fixture

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 240_000
    lo = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    hi = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 1
    pages = ensure_fixture(n_docs)

    zip_path = "/tmp/submit_engine.zip"
    subprocess.run(["rm", "-f", zip_path], check=True)
    subprocess.run(
        ["zip", "-qr", zip_path, "unified_ocr_pipeline_spark"],
        cwd=REPO, check=True,
    )
    drv = "/tmp/submit_scale_driver.py"
    with open(drv, "w") as f:
        f.write(_DRIVER)

    results = {}
    for cores in (lo, hi):
        out = f"/tmp/submit_scale_out_{cores}"
        subprocess.run(["rm", "-rf", out], check=True)
        t0 = time.time()
        p = subprocess.run(
            # --driver-memory on the command line: under spark-submit
            # the JVM exists before the session config runs, so
            # get_spark's spark.driver.memory=24g is silently ignored
            # (in-process pyspark launches honor it) — the default 1g
            # heap OOMs on the 240k corpus
            ["spark-submit", "--driver-memory",
             os.environ.get("SPARK_DRIVER_MEM", "24g"),
             "--py-files", zip_path, drv,
             str(cores), pages + "/shard*", out, str(reps)],
            capture_output=True, text=True,
        )
        if p.returncode != 0:
            # surface the actual failure (OOM stack, missing class) —
            # it is the whole reason this script exists
            sys.stderr.write(p.stderr[-4000:])
            raise SystemExit(
                f"spark-submit local[{cores}] exited {p.returncode}"
            )
        line = next(
            (ln for ln in p.stdout.splitlines()
             if ln.startswith("SUBMIT_TRIAL ")),
            None,
        )
        if line is None:
            sys.stderr.write(p.stdout[-2000:])
            raise SystemExit(
                f"local[{cores}] run produced no SUBMIT_TRIAL line"
            )
        results[cores] = json.loads(line[len("SUBMIT_TRIAL "):])
        results[cores]["submit_wall_sec"] = round(time.time() - t0, 1)
        print(f"  spark-submit local[{cores}]: {results[cores]}",
              file=sys.stderr)

    eff = (
        results[hi]["docs_per_sec"] / results[lo]["docs_per_sec"]
    ) / (hi / lo)
    print(json.dumps({
        "mode": "spark-submit --py-files"
                + ("" if reps == 1 else f" (amortized, reps={reps})"),
        "lo": results[lo], "hi": results[hi],
        "efficiency": round(eff, 3),
    }))


if __name__ == "__main__":
    main()
