#!/usr/bin/env python3
"""Benchmark harness (driver contract).

Runs the headline workload at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: {"metric", "value" (total sec), "unit": "sec", "queries": {name: sec},
"sf", plus extraction throughput extras (docs_per_sec, input_mb_per_sec)}.

Headline workload:
  1. The end-to-end extraction pipeline (the BASELINE.json metric) over a
     seeded pages fixture sized to the scale factor (cached in /tmp).
  2. Every oracle-checked driver query from __spark_entry__ at the same sf.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

BENCH_QUERIES = [
    "flagship_lang_yield",
    "token_stats",
    "lang_id",
    "quality_scores",
    "fingerprint",
    "exact_dedup",
    "minhash_dups",
    "dedup_clusters",
    "incremental_dedup",
    "simhash_dups",
    "ngram_jaccard",
    "snm_pairs",
    "text_embed",
    "quality_lr_train",
    "lang_lr_train",
    "curation_funnel_trained",
    "lang_id_trained",
    "pii_extended",
    "embedding_topk",
    "embedding_lsh_topk",
    "ivf_topk",
    "cosine_near_dups",
    "url_canon",
    "surt_trap",
    "pii_redact",
    "normalize_text",
    "repetition_collapse",
    "line_dedup",
    "decontaminate",
    "mixture_sample",
    "mixture_rate",
    "unimax_alloc",
    "unimax_sample",
    "chunk_documents",
    "semantic_dedup",
    "snapshot_diff",
    "media_decode_real",
    "image_dhash_dups",
    "page_metadata",
    "canonical_collapse",
    "dsir_weights",
    "reciprocity",
    "soft404",
    "sentence_stats",
    "mojibake",
    "sitemap_discovery",
    "refresh_schedule",
    "html_markdown",
    "c4_clean",
    "split_assign",
    "substring_dup",
    "tfidf_topk",
    "bloom_anti_join",
    "bloom_membership",
    "bpe_tokenize",
    "bpe_fertility",
    "linkage_verify",
    "leakage_split",
    "temperature_mix",
    "cms_freq",
    "quantize_embeddings",
    "bm25_topk",
    "outlink_domains",
    "pagerank",
    "approx_distinct",
    "hll_distinct",
    "priority_sample",
    "anchor_text",
    "lm_perplexity",
    "containment",
    "quality_lr",
    "hits_scores",
    "warc_segment",
    "http_parse",
    "wet_wat_derive",
    "redirect_chains",
    "robots_admission",
    "charset_transcode",
    "crawl_schedule",
    "crawl_delay_schedule",
    "cdx_revisit",
    "cdx_savings",
    "cdx_incremental",
    "jsonld_extract",
    "ppl_buckets",
    "meta_robots",
    "block_gate",
    "zipf_slope",
    "dup_segments",
    "extraction_f1",
    "pq_topk",
    "sitemap_entries",
    "frontier_bfs",
    "trustrank",
    "label_prop",
    "html_tables",
    "dom_skeleton",
    "proto_prune",
    "inverted_index",
    "boolean_and",
    "script_detect",
    "pmi_bigrams",
    "minhash_error",
    "justext_blocks",
    "lsh_pr",
    "stupid_backoff",
    "shard_manifest",
    "hrw_rebalance",
    "winnow_pairs",
    "readability",
    "yule_k",
    "degree_dist",
    "curation_funnel",
    "feed_entries",
    "component_sizes",
    "date_mentions",
    "psi_drift",
    "strand_pairs",
    "luhn_cards",
    "char_entropy",
    "mad_outliers",
    "hreflang_graph",
    "og_cards",
    "feed_discovery",
    "invisible_chars",
    "code_switch",
    "quality_calibration",
    "kmv_merge",
    "linkage_clusters",
    "sitemap_coverage",
    "column_stats",
    "zorder_key",
    "cluster_subsample",
    "kmv_jaccard",
    "kmv_distinct",
    "mirror_hosts",
    "url_templates",
    "co_citation",
    "host_lang_profile",
    "clause_codes_sorted",
    "dense_rank_spenders",
    "domain_stats",
    "dpas_multi",
    "event_case",
    "except_lapsed_custs",
    "gopher_quality",
    "intersect_buyers_clickers",
    "json_props",
    "multimodal_meta",
    "order_months",
    "pack_sequences",
    "pages_pipeline_yield",
    "pivot_events",
    "quality_gate",
    "regex_count",
    "regex_extract_first",
    "scan_filter_project",
    "semi_join_parts",
    "stratified_sample",
    "union_doc_langs",
    "vocab_topk",
    "word_conf_filter",
    "funnel",
    "salted_skew_join",
    "ocr_quality_grades",
    "strategy_routing",
    "ai_normalizer",
    "sessionize",
    "topk_per_user",
    "tumbling_hour",
    "q1_pricing",
    "broadcast_join_revenue",
    "anti_join_idle",
    "rollup_docs",
    "asof_click_before_purchase",
    "range_join_clicks",
    "combined_text_agg",
    "span_offsets",
    "po_cascade",
    "moving_avg",
    "value_percentiles",
    "cube_events",
    "audio_decode_real",
    "video_decode_real",
    "bitext_mine",
]


def regression_check(out: dict, baseline: dict) -> dict:
    """Compare a bench result against the pinned calm-window engine
    baseline (BASELINE-ENGINE.json). Applies only at the baseline's
    sf/cpus; returns {} otherwise. ``regression_flag`` trips when
    docs/sec falls more than ``regression_threshold`` below the pin —
    a FLAG, not a hard fail: this host's delivered CPU swings up to 4×
    between windows (BENCH/BASELINE.md), so a flag means "spin-probe and
    re-run in a calm window before believing the code got slower"."""
    if out.get("sf") != baseline.get("sf") or out.get("cpus") != baseline.get("cpus"):
        return {}
    pin = baseline["docs_per_sec_calm"]
    # tiny epsilon so "exactly at the threshold" never flags on float
    # representation (pin*(1-t)/pin can land one ulp under 1-t)
    thresh = baseline.get("regression_threshold", 0.25) + 1e-9
    ratio = out["docs_per_sec"] / pin if pin else float("nan")
    res = {
        "baseline_docs_per_sec": pin,
        "vs_baseline": round(ratio, 3),
        "regression_flag": bool(ratio < 1.0 - thresh),
    }
    # Noise-aware form: when both the run and the pin carry delivered-CPU
    # spin probes, also compare docs-per-delivered-Mops; the flag then
    # trips only if BOTH raw and normalized fall below threshold (raw
    # alone routinely flags this host's noise, normalized catches real
    # code regressions even inside a noisy window).
    pin_spin = baseline.get("spin_mops_calm")
    run_spin = (out.get("spin_mops_before", 0) + out.get("spin_mops_after", 0)) / 2.0
    if pin_spin and run_spin:
        norm_ratio = (out["docs_per_sec"] / run_spin) / (pin / pin_spin)
        res["vs_baseline_norm"] = round(norm_ratio, 3)
        res["regression_flag"] = bool(
            ratio < 1.0 - thresh and norm_ratio < 1.0 - thresh
        )
    # Bandwidth-aware form: the ALU spin probe is blind to the host's
    # depressed-DRAM windows (BENCH/BASELINE.md's "ninth batch" regime:
    # calm spin, 2x-slow trials). When the pin carries a calm-window
    # bandwidth reading, normalize against delivered GB/s too; the flag
    # then requires raw AND spin-norm AND bw-norm all below threshold —
    # any one probe reading calm while docs/s collapsed still flags.
    pin_bw = baseline.get("bw_gbs_calm")
    run_bw = (out.get("bw_gbs_before", 0) + out.get("bw_gbs_after", 0)) / 2.0
    if pin_bw and run_bw:
        bw_ratio = (out["docs_per_sec"] / run_bw) / (pin / pin_bw)
        res["vs_baseline_bw_norm"] = round(bw_ratio, 3)
        res["regression_flag"] = bool(
            res["regression_flag"] and bw_ratio < 1.0 - thresh
        )
    # Reference-job form — the strongest normalizer: a frozen Spark job
    # (constant code, see _ref_job_sec) timed in the same window measures
    # delivered Spark-stack throughput directly, catching the
    # depressed-delivery windows BOTH microbenchmark probes miss. The
    # engine's docs/s × ref_job_sec is window-invariant for unchanged
    # code; a drop means the ENGINE got slower relative to a job that
    # cannot have.
    pin_ref = baseline.get("ref_job_sec_calm")
    run_ref = out.get("ref_job_sec")
    if pin_ref and run_ref:
        # prefer the same-window paired product (probe taken immediately
        # before each rep) over stitching the global best docs/s to a
        # probe from a different window
        run_prod = out.get("docs_x_ref_at_best_rep") or (
            out["docs_per_sec"] * run_ref
        )
        ref_ratio = run_prod / (pin * pin_ref)
        res["vs_baseline_ref_norm"] = round(ref_ratio, 3)
        res["regression_flag"] = bool(
            res["regression_flag"] and ref_ratio < 1.0 - thresh
        )
    return res


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _spin_probe_mops(n_procs: int, seconds: float = 2.0) -> float:
    """Delivered-CPU probe: total Mops/s of ``n_procs`` spinning
    processes. This shared VM's delivered CPU swings 2-4× on a minutes
    timescale (documented in BENCH/BASELINE.md); embedding the probe in
    the bench JSON lets any single-window reading be normalized against
    what the host actually delivered during it."""
    import multiprocessing as mp

    def spin(q):
        t0 = time.perf_counter()
        x = n = 0
        while time.perf_counter() - t0 < seconds:
            for _ in range(100_000):
                x += 1
            n += 100_000
        q.put(n / (time.perf_counter() - t0))

    q: "mp.Queue" = mp.Queue()
    procs = [mp.Process(target=spin, args=(q,)) for _ in range(n_procs)]
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    return round(sum(q.get() for _ in procs) / 1e6, 2)


def _bw_probe_gbs(n_procs: int, seconds: float = 2.0,
                  elems: int = 8_000_000) -> float:
    """Delivered-MEMORY-BANDWIDTH probe: aggregate GB/s of ``n_procs``
    processes each streaming a triad (c = a + b) over 64 MB float64
    arrays — far past LLC, so it measures DRAM bandwidth, not cache.
    BENCH/BASELINE.md documents windows where the integer spin probe
    reads calm but every Spark trial runs 2× slow (bandwidth/steal
    depression the ALU probe cannot see); this probe makes that regime
    visible in the bench JSON. Extraction at sf0.1 moves ~GBs of Arrow
    batches + shuffle blocks, so docs/s tracks delivered bandwidth more
    closely than delivered integer throughput."""
    import multiprocessing as mp

    import numpy as np

    def stream(q):
        a = np.ones(elems)
        b = np.ones(elems)
        c = np.empty(elems)
        np.add(a, b, out=c)  # untimed warm-up: first-touch page faults
        t0 = time.perf_counter()
        n = 0
        while time.perf_counter() - t0 < seconds:
            np.add(a, b, out=c)
            n += 1
        # 3 arrays × 8 bytes touched per element per triad pass
        q.put(n * elems * 3 * 8 / (time.perf_counter() - t0))

    q: "mp.Queue" = mp.Queue()
    procs = [mp.Process(target=stream, args=(q,)) for _ in range(n_procs)]
    for p in procs:
        p.start()
    total = sum(q.get() for _ in procs)
    for p in procs:
        p.join()
    return round(total / 1e9, 2)


def _ref_job_sec(spark, pages_path: str, runs: int = 3) -> float:
    """FROZEN reference job: full scan of the bench fixture's payload
    column + one cheap hash-agg, best of 3. This code never changes, so
    its wall time measures the host's delivered Spark-stack throughput
    (JVM, parquet IO, codegen, scheduler) in THIS window — the most
    direct normalizer for the shared VM's depressed-delivery windows,
    which the ALU spin probe misses entirely and the DRAM probe only
    partially captures (observed: same-binary extraction 8,092 → 1,025
    docs/s twenty minutes apart while spin read within 12% of calm).
    docs/s per 1/ref_job_sec is window-invariant for unchanged code and
    still moves when the ENGINE's code regresses (the reference job
    doesn't run engine code)."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(runs):  # first-ever rep pays JIT + page-cache warm-up (~2x)
        t0 = time.perf_counter()
        spark.read.parquet(pages_path).agg(
            F.sum(F.length("html")), F.count("*")
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_from_dir(sf_dir)

    import __spark_entry__ as E
    from unified_ocr_pipeline_spark.plans.session import get_spark
    from unified_ocr_pipeline_spark.plans.pipeline import ExtractionPipeline
    from unified_ocr_pipeline_spark.sources.fixtures import write_pages_parquet

    # seeded pages fixture sized to sf, cached across runs. content_scale=6
    # matches the scaling-bench corpus (~8-27 KB/doc, realistic crawl page
    # weight) so the headline docs/sec measures kernel throughput, not
    # per-job fixed costs over toy documents.
    n_pages = max(4000, int(480_000 * sf))
    pages_path = f"/tmp/bench_pages_{n_pages}_s6_seed42"
    if not os.path.exists(f"{pages_path}/part-00000.parquet"):
        write_pages_parquet(
            pages_path, n_pages, seed=42, n_files=max(8, cpus), content_scale=6
        )
    input_bytes = sum(
        os.path.getsize(os.path.join(pages_path, f))
        for f in os.listdir(pages_path)
    )

    spin_before = _spin_probe_mops(cpus)
    bw_before = _bw_probe_gbs(cpus)
    spark = get_spark(app_name="bench", cores=cpus, shuffle_partitions=cpus)
    timings: dict[str, float] = {}

    # 1. end-to-end extraction pipeline — best of three runs (fresh output
    # dir each), same steady-state/noise rationale as the queries below.
    # Three reps, not two: measured convergence on this host is strongly
    # warmup-shaped (e.g. 60 → 27 → 12.7 → 12.5 s for identical code —
    # Python-worker pool startup, JVM JIT, page cache), so best-of-2 can
    # record a warmup-regime number ~2x below converged throughput. A
    # best-of-3 reading is >= the pin protocol's best-of-2 by construction,
    # so the regression gate's direction is unaffected.
    # num_buckets=None → the cluster-derived default (4× cores) — bench the
    # engine at its real defaults, preflight included.
    # The ref-job probe is taken IMMEDIATELY BEFORE EACH rep, not once per
    # bench: this host's delivered capacity oscillates on a ~30 s
    # timescale (same-session reps measured 54/20/51/19 s alternating, on
    # tmpfs output too — so not the disk), and a probe minutes away from
    # the rep it normalizes measures a different window. docs/s × paired
    # ref_sec is the window-invariant reading; the gate uses the best
    # paired product across reps.
    # The paired product is taken AT THE BEST REP (not max over reps): a
    # rep whose probe landed in a passing burst while the run recovered
    # would otherwise contribute an inflated slow-probe × fast-run
    # product (observed: ref 33.9 s × 614 docs/s = 20.8k "product" in a
    # recovering window — garbage).
    _ref_job_sec(spark, pages_path, runs=1)  # untimed warm-up: JIT + page cache
    e2e_sec = float("inf")
    ref_secs: list[float] = []
    pair_prod_at_best = 0.0
    for rep in range(3):
        ref_rep = _ref_job_sec(spark, pages_path, runs=1)
        ref_secs.append(ref_rep)
        out_dir = f"/tmp/bench_out_{int(time.time() * 1000)}_{rep}"
        pipe = ExtractionPipeline(spark, out_dir)
        t0 = time.perf_counter()
        res = pipe.run(pages_path, resume=False)
        wall = time.perf_counter() - t0
        if wall < e2e_sec:
            e2e_sec = wall
            pair_prod_at_best = (res.rows_written / wall) * ref_rep
    ref_sec = min(ref_secs)
    timings["extraction_pipeline"] = round(e2e_sec, 3)

    # 2. driver queries, fully materialized; per-query time = best of two
    # runs. The first run pays Catalyst codegen/JIT compilation and any
    # cold file reads; the second measures steady-state throughput — and
    # min-of-2 halves this shared VM's delivered-CPU noise (documented in
    # BENCH/BASELINE.md), which otherwise dominates sub-second queries.
    qmap = E.queries()
    for name in BENCH_QUERIES:
        best = float("inf")
        for _ in range(2):
            # operators that persist() internally (minhash/simhash/LSH
            # self-join inputs) would otherwise be served from Spark's
            # CacheManager on the second run — clear so every rep does
            # the full compute and min-of-2 measures compute, not cache
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            qmap[name](spark, sf_dir).toPandas()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "runs_per_query": 2,  # best-of-2, cache cleared between reps
        "extraction_docs": res.rows_written,
        "docs_per_sec": round(res.rows_written / e2e_sec, 2),
        "input_mb_per_sec": round(input_bytes / 1e6 / e2e_sec, 2),
    }
    spark.stop()
    spin_after = _spin_probe_mops(cpus)
    bw_after = _bw_probe_gbs(cpus)
    out["spin_mops_before"] = spin_before
    out["spin_mops_after"] = spin_after
    out["bw_gbs_before"] = bw_before
    out["bw_gbs_after"] = bw_after
    out["ref_job_sec"] = ref_sec
    out["ref_job_secs_per_rep"] = ref_secs
    out["docs_x_ref_at_best_rep"] = round(pair_prod_at_best, 1)
    # calm-window reference for this VM at 32 procs is ~700-730 Mops
    # (see BENCH/BASELINE.md); docs_per_spin_mops is the noise-adjusted
    # throughput figure to compare across windows.
    out["docs_per_spin_mops"] = round(
        out["docs_per_sec"] / max((spin_before + spin_after) / 2.0, 1e-9), 2
    )
    baseline_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "BASELINE-ENGINE.json")
    if os.path.exists(baseline_path):
        with open(baseline_path) as fh:
            out.update(regression_check(out, json.load(fh)))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
