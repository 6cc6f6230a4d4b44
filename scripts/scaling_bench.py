#!/usr/bin/env python3
"""Scaling evidence for the north rule's N→4N criterion, sandbox-adapted:
the SAME extraction job on the SAME input at two parallelism levels,
reporting docs/sec at both plus efficiency = (throughput@4N/throughput@N)/4.

Measurement protocol (documented in BENCH/BASELINE.md):

- PAIRED ROUNDS. This is a shared VM whose delivered CPU swings 2×+ on a
  minutes timescale (neighbor bursts + host frequency scaling). Comparing a
  level measured at t with a level measured at t+10min is meaningless — a
  sequential-levels protocol produced efficiency "measurements" anywhere
  from 0.37 to 0.84 for the same engine. So each round runs one N-core
  trial and one 4N-core trial BACK-TO-BACK (same noise window) against
  persistent pre-warmed JVMs, and efficiency is computed per round from
  the paired trials. Reported: median and best of K rounds.
- A pure-CPU microbenchmark (N spinning Python processes, no Spark)
  measures what the VM itself delivers at each level — the infrastructure
  scaling ceiling no engine can exceed.
- Heavier realistic corpus (content_scale=6, ~10-20 KB docs) so kernel
  compute dominates fixed per-job costs; warm-up run per JVM before
  measured rounds.

Run:  python scripts/scaling_bench.py [n_docs] [rounds]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_DOCS_DEFAULT = 240_000
CONTENT_SCALE = 6
MAX_BYTES = 256 * 1024
GEN_PROCS = 16

_RUNNER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from unified_ocr_pipeline_spark.plans.session import get_spark
from unified_ocr_pipeline_spark.plans.pipeline import ExtractionPipeline

cores = {cores}
spark = get_spark(app_name=f"scale_{{cores}}", cores=cores, shuffle_partitions=cores)

def one_run(tag):
    pipe = ExtractionPipeline(spark, {out!r} + f"/c{{cores}}_{{tag}}",
                              num_buckets={buckets},
                              max_bytes={max_bytes})
    t0 = time.perf_counter()
    res = pipe.run({pages!r}, resume=False)
    wall = time.perf_counter() - t0
    return {{"cores": cores, "wall_sec": round(wall, 3),
             "docs": res.rows_written,
             "docs_per_sec": round(res.rows_written / wall, 2)}}

one_run("warm")
print("READY", flush=True)
for line in sys.stdin:
    line = line.strip()
    if line == "QUIT":
        break
    print("TRIAL " + json.dumps(one_run(line)), flush=True)
spark.stop()
"""


def _gen_shard(args):
    shard, n, path = args
    from unified_ocr_pipeline_spark.sources.fixtures import write_pages_parquet

    write_pages_parquet(
        f"{path}/shard{shard:02d}", n, seed=42 + shard,
        max_bytes=MAX_BYTES, n_files=4, content_scale=CONTENT_SCALE,
    )
    return shard


def ensure_fixture(n_docs: int) -> str:
    path = f"/tmp/scale_pages_{n_docs}_s{CONTENT_SCALE}"
    if os.path.exists(f"{path}/_DONE"):
        return path
    os.makedirs(path, exist_ok=True)
    per = n_docs // GEN_PROCS
    with mp.Pool(GEN_PROCS) as p:
        p.map(_gen_shard, [(i, per, path) for i in range(GEN_PROCS)])
    open(f"{path}/_DONE", "w").write("ok")
    return path


class LevelRunner:
    """A persistent subprocess holding a warm local[cores] SparkSession;
    trials are triggered over stdin so the orchestrator controls WHEN each
    level runs (paired rounds)."""

    def __init__(self, cores: int, pages: str, out: str, buckets: int = 64):
        code = _RUNNER.format(
            repo=REPO, cores=cores, out=out, pages=pages + "/shard*",
            buckets=buckets, max_bytes=MAX_BYTES,
        )
        self.cores = cores
        # bufsize=0 + raw os.read: select() watches the FD, so any
        # Python-level buffering between the fd and the reader can hide a
        # complete line (two lines coalesced into one pipe chunk → first
        # readline() buffers both, pipe is now empty, select() blocks on
        # the already-received answer → spurious 900 s TimeoutError).
        # Reading the raw fd into our own byte buffer closes that race.
        self.proc = subprocess.Popen(
            [sys.executable, "-c", code],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, bufsize=0,
        )
        self._buf = b""

    def _readline(self, deadline: float) -> str:
        import os
        import select

        while True:
            i = self._buf.find(b"\n")
            if i >= 0:
                line, self._buf = self._buf[: i + 1], self._buf[i + 1 :]
                return line.decode("utf-8", "replace")
            remaining = deadline - time.monotonic()
            if remaining <= 0:
                raise TimeoutError("deadline")
            ready, _, _ = select.select(
                [self.proc.stdout], [], [], min(remaining, 30)
            )
            if not ready:
                continue
            chunk = os.read(self.proc.stdout.fileno(), 65536)
            if not chunk:
                raise RuntimeError(f"runner local[{self.cores}] died")
            self._buf += chunk

    def _read_until(self, prefix: str, timeout_sec: float = 900.0) -> str:
        # A blocking readline once hung a whole batch for an hour: the
        # runner's py4j call never returned (JVM alive but idle — the
        # wedged worker observed 2026-08-17). select() + deadline makes a
        # dead round cost 15 min instead of the session.
        deadline = time.monotonic() + timeout_sec
        while True:
            try:
                line = self._readline(deadline)
            except TimeoutError:
                raise TimeoutError(
                    f"runner local[{self.cores}] gave no '{prefix}' within "
                    f"{timeout_sec:.0f}s — wedged; caller should respawn"
                ) from None
            if line.startswith(prefix):
                return line[len(prefix):].strip()

    def wait_ready(self) -> None:
        self._read_until("READY")

    def trial(self, tag: str) -> dict:
        self.proc.stdin.write((tag + "\n").encode())
        self.proc.stdin.flush()
        r = json.loads(self._read_until("TRIAL "))
        print(f"  local[{self.cores}] TRIAL {json.dumps(r)}", file=sys.stderr)
        return r

    def kill(self) -> None:
        try:
            self.proc.kill()
        except Exception:
            pass

    def quit(self) -> None:
        try:
            self.proc.stdin.write(b"QUIT\n")
            self.proc.stdin.flush()
            self.proc.wait(timeout=60)
        except Exception:
            self.proc.kill()


def _spin(args):
    t0 = time.perf_counter()
    c = 0
    x = 0
    while time.perf_counter() - t0 < 4.0:
        for _ in range(10000):
            x = (x * 1103515245 + 12345) % 2**31
        c += 10000
    return c


def cpu_baseline(levels=(2, 4, 8, 16, 32)) -> dict:
    out = {}
    for procs in levels:
        with mp.Pool(procs) as p:
            res = p.map(_spin, range(procs))
        out[procs] = round(sum(res) / 4.0 / 1e6, 2)  # aggregate Mops/s
    return out


def spin_probe(procs: int) -> float:
    """Delivered pure-CPU throughput (aggregate Mops/s) at this width, NOW.
    Run immediately before a trial, it measures what the shared host is
    actually giving this width in this minute — the per-trial noise
    normalizer (host-delivered CPU swings 4×+ between rounds; see
    BENCH/BASELINE.md)."""
    with mp.Pool(procs) as p:
        res = p.map(_spin, range(procs))
    return round(sum(res) / 4.0 / 1e6, 2)


def paired_rounds(lo: int, hi: int, pages: str, out: str, rounds: int):
    """K rounds of (lo trial, hi trial) back-to-back; per-round raw
    efficiency AND spin-normalized efficiency (docs/s per delivered Mops at
    the same width, same minute — ~1.0 means the engine captures all the
    scaling the host actually offers)."""
    rl = LevelRunner(lo, pages, out)
    rh = LevelRunner(hi, pages, out)
    rl.wait_ready()
    rh.wait_ready()
    pairs = []
    k = 0
    respawns = 0
    while k < rounds:
        try:
            mops_lo = spin_probe(lo)
            a = rl.trial(f"r{k}")
            mops_hi = spin_probe(hi)
            b = rh.trial(f"r{k}")
        except (TimeoutError, RuntimeError) as exc:
            # wedged or dead runner: the round is lost, the batch is not.
            # Kill BOTH runners (the pair must sample the same windows) and
            # respawn; give up after 2 respawns so a sick host can't loop.
            print(f"  ROUND {lo}->{hi} #{k} LOST: {exc}", file=sys.stderr)
            rl.kill()
            rh.kill()
            respawns += 1
            if respawns > 2:
                print("  too many respawns; returning partial batch", file=sys.stderr)
                break
            rl = LevelRunner(lo, pages, out)
            rh = LevelRunner(hi, pages, out)
            rl.wait_ready()
            rh.wait_ready()
            continue
        eff = (b["docs_per_sec"] / a["docs_per_sec"]) / (hi / lo)
        norm = (b["docs_per_sec"] / mops_hi) / (a["docs_per_sec"] / mops_lo)
        pairs.append(
            {
                "round": k, "lo": a, "hi": b, "eff": round(eff, 3),
                "mops_lo": mops_lo, "mops_hi": mops_hi,
                "norm_eff": round(norm, 3),
            }
        )
        print(
            f"  ROUND {lo}->{hi} #{k}: eff={eff:.3f} norm={norm:.3f} "
            f"(mops {mops_lo}->{mops_hi})",
            file=sys.stderr,
        )
        k += 1
    rl.quit()
    rh.quit()
    return pairs


def _parse_pairs(spec: str):
    """'2-8,4-16' → [(2, 8), (4, 16)] (each must be an N→4N pair)."""
    pairs = []
    for part in spec.split(","):
        lo, hi = (int(x) for x in part.split("-"))
        if hi != 4 * lo:
            raise SystemExit(f"pair {part} is not N->4N")
        pairs.append((lo, hi))
    return pairs


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else N_DOCS_DEFAULT
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    # optional third arg picks the N→4N pairs, e.g. "2-8" or "2-8,4-16".
    # 2→8 is the in-box pair on this 32-vCPU host: a local[N] trial runs
    # ~2N busy threads (N JVM task threads doing scan/Arrow/shuffle + N
    # Python kernel workers), so local[16]/local[32] trials saturate the
    # physical box and measure the host's contention ceiling, not the
    # engine. At 2→8 both levels fit (4 and 16 threads ≤ 32 vCPUs) — the
    # honest sandbox proxy for real executors that own their cores.
    pair_list = _parse_pairs(sys.argv[3]) if len(sys.argv) > 3 else [(4, 16), (8, 32)]
    pages = ensure_fixture(n_docs)
    out = f"/tmp/scale_out_{n_docs}"
    subprocess.run(["rm", "-rf", out], check=True)

    infra = cpu_baseline()
    print(f"  infra Mops/s by procs: {infra}", file=sys.stderr)

    all_pairs = {}
    for lo, hi in pair_list:
        all_pairs[(lo, hi)] = paired_rounds(lo, hi, pages, out, rounds)
        subprocess.run(["rm", "-rf", out], check=True)
    p416 = all_pairs.get((4, 16), [])
    p832 = all_pairs.get((8, 32), [])

    def stats(pairs):
        def med_of(key):
            vals = sorted(p[key] for p in pairs if key in p)
            if not vals:
                return None
            mid = len(vals) // 2
            m = vals[mid] if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2
            return round(m, 3)

        if not pairs:  # every round lost to a wedged runner
            return {"median_eff": None, "best_eff": None, "rounds": []}
        out = {"median_eff": med_of("eff"),
               "best_eff": max(p["eff"] for p in pairs), "rounds": pairs}
        if any("norm_eff" in p for p in pairs):
            out["median_norm_eff"] = med_of("norm_eff")
            out["best_norm_eff"] = max(p["norm_eff"] for p in pairs)
        return out

    pair_stats = {lh: stats(rs) for lh, rs in all_pairs.items()}
    infra_eff = {
        (lo, hi): round((infra[hi] / infra[lo]) / 4, 3)
        for lo, hi in all_pairs
        if lo in infra and hi in infra
    }

    level_best = {}
    for (lo, hi), rs in all_pairs.items():
        for side, c in (("lo", lo), ("hi", hi)):
            cand = [p[side] for p in rs]
            if cand:
                b = max(cand, key=lambda r: r["docs_per_sec"])
                if c not in level_best or b["docs_per_sec"] > level_best[c]["docs_per_sec"]:
                    level_best[c] = b

    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    rows = "\n".join(
        f"| local[{c}] | {b['wall_sec']} | {b['docs']} | {b['docs_per_sec']} "
        f"| {infra.get(c, '—')} |"
        for c, b in sorted(level_best.items())
    )
    pair_sections = []
    for (lo, hi), rs in all_pairs.items():
        s = pair_stats[(lo, hi)]
        tbl = "\n".join(
            f"| {p['round']} | {p['lo']['docs_per_sec']} | {p['hi']['docs_per_sec']} "
            f"| {p['eff']} |" for p in rs
        )
        pair_sections.append(
            f"## Paired rounds, {lo}→{hi}\n\n"
            f"| round | docs/s @{lo} | docs/s @{hi} | efficiency |\n"
            f"|---|---|---|---|\n{tbl}\n\n"
            f"**median efficiency = {s['median_eff']}, best = {s['best_eff']}**\n"
            f"(target ≥ 0.8; VM's own ceiling on this pair: "
            f"{infra_eff.get((lo, hi), 'n/a')})\n"
        )
    pair_md = "\n".join(pair_sections)
    # Write the per-run snapshot to a sidecar file: BENCH/BASELINE.md is
    # the hand-maintained cross-session record and must never be clobbered
    # by a single run (new rounds get merged into it by hand).
    with open(f"{REPO}/BENCH/SCALING_LAST_RUN.md", "w") as f:
        f.write(f"""# BENCH/BASELINE — scaling evidence (N→4N criterion, sandbox-adapted)

The north rule requires documents/sec scaling efficiency ≥ 0.8 between N
and 4N executors. No real cluster exists in this sandbox, so (per the
driver instruction) the SAME job runs on the SAME input at two parallelism
levels and efficiency is `(throughput@4N / throughput@N) / 4`.

Workload: the full extraction pipeline (scan → X9 gate → Arrow-batched
kernel extraction on scan partitions → salted-bucket exchange w/ window
dedup → partitioned parquet write + manifests + lineage metrics) over a
seeded {n_docs}-document pages fixture (content_scale={CONTENT_SCALE},
~10-20 KB/doc — realistic crawl page weight; skewed host distribution and
oversize quarantine class included).

## Protocol: paired rounds on a noisy shared VM

This VM's delivered CPU swings 2×+ on a minutes timescale (neighbor
bursts + host frequency scaling): the same local[8] run measured 82 s and
237 s an hour apart. Sequential-levels benchmarking is therefore
meaningless here. Instead, each ROUND runs one N-core trial and one
4N-core trial back-to-back against persistent pre-warmed JVMs — both
trials sample the same noise window — and efficiency is computed per
round. The pure-CPU "infra" microbenchmark (N spinning Python processes,
no Spark) measures what the VM itself delivers at each level: host-level
per-core degradation is an infrastructure ceiling no engine can exceed
(measured infra efficiency per pair: {infra_eff}).

A local[N] trial runs ~2N busy threads (N JVM task threads doing
scan/decompress/Arrow/shuffle + N Python kernel workers): pairs whose
wide level exceeds ~16 task slots saturate this 32-vCPU box and measure
host contention, not the engine. The 2→8 pair keeps both levels inside
the box (4 and 16 threads) — the honest sandbox proxy for real
executors that own their cores.

## Best observed throughput per level

| parallelism | wall (s) | docs | docs/sec | infra Mops/s |
|---|---|---|---|---|
{rows}

{pair_md}

## Why the engine scales (stage-level evidence)

- The Arrow-batched Python extraction stage — the dominant cost — scales
  linearly: extraction-only wall at local[16] measured exactly 1/4 of
  local[4] (45.8 s vs 183 s on this corpus). One Python worker per core,
  regexes compiled once per worker, one JVM↔Python crossing per batch.
- Extraction runs on scan partitions BEFORE any exchange — raw payloads
  never shuffle (shuffle-then-extract measured 4-8× slower at 32-way).
- ONE exchange total: the salted-bucket window (url dedup) doubles as the
  write partitioning; remaining per-run overhead (write commit + manifest
  + metrics jobs) is ~7 s regardless of level.
- `spark.sql.parquet.columnarReaderBatchSize=512`: the default 4096-row
  read batch × ~25 KB binary payloads is ~100 MB of heap per concurrent
  task — heap OOM at 32-way; read-buffer budget must be sized to payload
  width, not row count.

Reproduce: `python scripts/scaling_bench.py {n_docs} {rounds}`
""")
    print(json.dumps({
        **{f"pairs_{lo}_{hi}": s for (lo, hi), s in pair_stats.items()},
        "infra_mops": infra,
        **{f"infra_eff_{lo}_{hi}": e for (lo, hi), e in infra_eff.items()},
    }))


if __name__ == "__main__":
    main()
