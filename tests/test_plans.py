"""Physical-plan assertions: the plans we ship are the plans we want.

Checks (via explain output) that: parquet filters/projections push down,
small joins broadcast, anti-joins stay broadcast, the pipeline contains
exactly one exchange after extraction, and Python appears only in the
extraction stage (no row-at-a-time UDFs anywhere)."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_and_projection_pushdown(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    q = d.where((d.lang == "en") & (d.n_chars > 200)).select("doc_id", "n_chars")
    plan = plan_of(q)
    assert "PushedFilters:" in plan
    assert "IsNotNull(lang)" in plan or "EqualTo(lang,en)" in plan, plan
    # column pruning: text (the wide column) must NOT be read
    assert "text" not in plan.split("ReadSchema:")[1].splitlines()[0]


def test_broadcast_join_is_broadcast(spark):
    plan = plan_of(E.queries()["broadcast_join_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_anti_join_shape(spark):
    plan = plan_of(E.queries()["anti_join_idle"](spark, SF))
    assert "LeftAnti" in plan


def test_q1_partial_plus_final_aggregation(spark):
    # (AQE prints `isFinalPlan=false` pre-execution, so WholeStageCodegen
    # markers aren't visible in the formatted plan — the partial+final
    # HashAggregate pair is the map-side-combine witness.)
    plan = plan_of(E.queries()["q1_pricing"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_pipeline_has_single_exchange_and_no_payload_shuffle(spark, tmp_path):
    """The extraction job: exactly ONE shuffle exchange, placed AFTER the
    Python stage (raw html bytes never enter an exchange)."""
    from unified_ocr_pipeline_spark.sources.fixtures import write_pages_parquet
    from unified_ocr_pipeline_spark.plans.pipeline import (
        with_host, salted_bucket,
    )
    from unified_ocr_pipeline_spark.plans.extraction import (
        extract_stage, gate_oversize,
    )
    from pyspark.sql import Window

    p = str(tmp_path / "pages")
    write_pages_parquet(p, 50, seed=42, max_bytes=64 * 1024)
    pages = gate_oversize(
        salted_bucket(with_host(spark.read.parquet(p)), 16, 4), 64 * 1024
    )
    ex = extract_stage(pages.withColumn("partition_id", F.spark_partition_id()))
    ex = salted_bucket(with_host(ex), 16, 4).drop("host")
    w = Window.partitionBy("bucket").orderBy(F.col("url"), F.col("warc_ts").desc())
    prev = F.lag("url").over(w)
    final = ex.withColumn("k", prev.isNull() | (prev != F.col("url"))).where("k").drop("k")

    plan = plan_of(final)
    tree = plan.split("(1) Scan")[0]  # the tree section of the formatted plan
    n_exchanges = tree.count("Exchange (")
    assert n_exchanges == 1, f"expected exactly 1 exchange, plan:\n{plan}"
    map_pos = tree.find("MapInPandas")
    ex_pos = tree.find("Exchange (")
    assert map_pos != -1 and ex_pos != -1
    # formatted plans print top-down: the exchange (later op) prints BEFORE
    # its child MapInPandas — so MapInPandas must appear after Exchange in
    # the text, meaning it is the exchange's descendant (pre-shuffle).
    assert map_pos > ex_pos, "extraction must feed the exchange, not follow it"
    # no row-at-a-time Python UDF anywhere
    assert "BatchEvalPython" not in plan


def test_no_python_udfs_in_driver_queries(spark):
    """Every oracle-checked query must stay JVM-side (no Python eval nodes)."""
    for name in E.oracle_sql():
        plan = plan_of(E.queries()[name](spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "PythonUDF" not in plan, name


# Queries whose plan legitimately carries a product join: documented
# exact baselines (brute-force ANN over broadcast queries) and one-row
# normalizer broadcasts (HITS/PageRank L1 scalars, LM totals) — every
# other product join in any driver query is a scale bug.
_PRODUCT_JOIN_OK = {
    "embedding_topk",      # documented exact brute-force baseline
    "bitext_mine",         # exact directional top-k (broadcast queries)
                           # BELOW ann_threshold only; above it the IVF
                           # path has no product join (test_bitext)
    "cosine_near_dups",    # LSH candidates verified vs broadcast queries
    "hits_scores",         # one-row L1 normalizer cross joins
    "pagerank",            # one-row dangling-mass scalar
    "lm_perplexity",       # one-row (N, V) totals
    "ppl_buckets",         # same totals under the ntile
    "dsir_weights",        # one-row (nt, nr) totals
    "zipf_slope",          # one-row OLS moments
    "decontaminate",       # bounded benchmark n-gram broadcast
    "extraction_f1",       # one-row vocab totals
    "quality_gate",        # one-row quantile cutpoint
    "dedup_clusters",      # one-row convergence scalar per CC round
    "semantic_dedup",      # seeded-centroid broadcast (bounded cells)
    "ivf_topk",            # centroid broadcast (bounded cells)
    "pq_topk",             # codebook broadcast (bounded m×k)
    "incremental_dedup",   # bounded colliding-band broadcast
    "tfidf_topk",          # one-row corpus-size (N docs) scalar
    "bm25_topk",           # one-row avgdl scalar
    "approx_distinct",     # one-row sketch-union scalar
    "hll_distinct",        # one-row register-merge scalar
    "kmv_jaccard",         # one-row (n_union_sketch, n_both) counts +
                           # k-row sketch semi-joins (k=64, bounded)
    "pmi_bigrams",         # one-row (N tokens, M bigrams) totals
}


def test_no_unexpected_product_joins_in_driver_queries(spark):
    """Global scale guard: no CartesianProduct anywhere, and
    BroadcastNestedLoopJoin only in the whitelisted queries whose
    broadcast side is provably bounded (one-row scalars, seeded
    codebooks, documented exact baselines)."""
    offenders = []
    for name in E.oracle_sql():
        plan = plan_of(E.queries()[name](spark, SF))
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in _PRODUCT_JOIN_OK:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert offenders == [], offenders


def test_asof_join_single_exchange(spark):
    """The as-of join's union-window plan must shuffle exactly once (on the
    key), not once per side — the property that makes it beat a range-join
    at scale."""
    from unified_ocr_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame([("a", 1, 1.0)], "k string, ts long, x double")
    right = spark.createDataFrame([("a", 1, 2.0)], "k string, ts long, v double")
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts", value_cols=["v"])
    plan = plan_of(out)
    import re

    n_shuffles = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_shuffles == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_auto_num_buckets_scales_with_cluster(spark, tmp_path, monkeypatch):
    """Post-extraction parallelism (the bucket exchange AND the bucketed
    write) is capped at num_buckets; the auto-sizer must therefore track
    cluster size — ≥ 4× total cores with skew headroom, never below
    DEFAULT_NUM_BUCKETS, and always a multiple of the salt
    (salted_bucket divisibility)."""
    from unified_ocr_pipeline_spark.plans import pipeline
    from unified_ocr_pipeline_spark.plans.pipeline import (
        ExtractionPipeline,
        auto_num_buckets,
    )

    cores = spark.sparkContext.defaultParallelism
    n = auto_num_buckets(spark)
    assert n >= 4 * cores and n >= pipeline.DEFAULT_NUM_BUCKETS
    assert n % 8 == 0
    # the floor wins on small clusters
    monkeypatch.setattr(pipeline, "DEFAULT_NUM_BUCKETS", 10_000)
    assert auto_num_buckets(spark) == 10_000
    # a non-divisible raw value rounds UP to a salt multiple
    monkeypatch.setattr(pipeline, "DEFAULT_NUM_BUCKETS", 4 * cores + 1)
    assert auto_num_buckets(spark) == 8 * (-(-(4 * cores + 1) // 8))
    monkeypatch.undo()
    # the pipeline default (num_buckets=None) picks the auto size for an
    # input whose byte size is unknown (an RDD-backed DataFrame reports
    # spark.sql.defaultSizeInBytes, like an unanalysed catalog table)
    from unified_ocr_pipeline_spark.sources.fixtures import write_pages_parquet

    write_pages_parquet(str(tmp_path / "pages"), 24, seed=7)
    read = spark.read.parquet(str(tmp_path / "pages"))
    pages = spark.createDataFrame(read.rdd, read.schema)
    res = ExtractionPipeline(spark, str(tmp_path / "out")).run(pages)
    assert res.num_buckets == auto_num_buckets(spark)
    assert res.num_buckets >= 4 * cores


def test_range_join_no_nested_loop(spark):
    """The banded-bin range join must compile to a plain equi-join — a
    range predicate alone degenerates to BroadcastNestedLoopJoin, which is
    the scale failure mode this operator exists to avoid."""
    from unified_ocr_pipeline_spark.operators.interval import range_join

    left = spark.createDataFrame([("a", 1, 1)], "k string, ts long, lid long")
    right = spark.createDataFrame([("a", 1, 1.0)], "k string, ts long, v double")
    plan = plan_of(
        range_join(left, right, on="k", left_ts="ts", right_ts="ts",
                   lower=-10, upper=10, value_cols=["v"])
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_candidate_join_broadcasts_probe_side(spark):
    """IVF's candidate join must broadcast the tiny probe side (n_queries ×
    nprobe rows) against the streamed corpus — never a shuffled join of
    the corpus, never a nested loop."""
    from unified_ocr_pipeline_spark.operators import ivf as IVF

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = IVF.ivf_topk(e, e.where("vec_id < 5"), k=3, n_cells=16, nprobe=4, dim=64)
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pack_and_sample_single_exchange(spark):
    """pack_sequences and sample_per_group are one-window operators: their
    plans must contain exactly one shuffle (the group-key hash partition)."""
    import re
    from unified_ocr_pipeline_spark.operators import sampling as SAMP

    d = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (
        SAMP.pack_sequences(d, ["lang"], "doc_id", "n_chars", 4096),
        SAMP.sample_per_group(d, ["source"], "doc_id", 10),
        SAMP.quantile_gate_per_group(d, ["lang"], "n_chars", 0.5, tie_cols=["doc_id"]),
    ):
        plan = plan_of(df)
        n = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
        assert n == 1, plan
        assert "BatchEvalPython" not in plan


def test_chunk_documents_plan_is_narrow(spark):
    # chunking must run on scan partitions: no shuffle, no Python stage
    plan = plan_of(E.queries()["chunk_documents"](spark, SF))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_line_dedup_bad_set_broadcasts(spark):
    # the over-threshold line set rides a broadcast LEFT ANTI; the only
    # sort-merge joins allowed are none (reassembly is an aggregate)
    plan = plan_of(E.queries()["line_dedup"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_ngram_jaccard_floods_broadcast_anti(spark):
    # the OVER-threshold shingle set (pigeonhole-bounded tiny) rides a
    # broadcast LEFT ANTI; the complement (≈ every distinct shingle in the
    # corpus) must never be broadcast. Auto-broadcast is disabled so the
    # only BroadcastHashJoins left are the explicit hints — all of which
    # must be the anti (the inverted-index self-join stays a shuffle join).
    import re as _re

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(E.queries()["ngram_jaccard"](spark, SF))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    bhj = _re.findall(r"BroadcastHashJoin \w+", plan)
    assert bhj and all("LeftAnti" in b for b in bhj), plan


def test_decontaminate_benchmark_broadcasts(spark):
    # benchmark n-grams broadcast into a semi-join; the corpus side must
    # not shuffle keyed on n-gram strings (no SortMergeJoin anywhere)
    plan = plan_of(E.queries()["decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_mixture_rate_is_sort_free(spark):
    # the scale-path mixture variant: per-source totals broadcast back;
    # no per-source Sort anywhere in the plan (that's the exact variant's
    # cost this one exists to avoid)
    plan = plan_of(E.queries()["mixture_rate"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "Sort " not in plan and "SortMergeJoin" not in plan, plan


def test_tfidf_topk_plan_shapes(spark):
    """tfidf_topk: the one-row N aggregate must broadcast (never the
    vocabulary-scale df table), and the per-doc top-k must use Spark's
    WindowGroupLimit pushdown so the window exchange carries <= k rows
    per doc, not the full scored table."""
    plan = plan_of(E.queries()["tfidf_topk"](spark, SF))
    assert "WindowGroupLimit" in plan
    # the scalar N arrives via a broadcast join
    assert "BroadcastExchange" in plan
    # NB: the tf<->df join carries no broadcast hint in the operator —
    # Catalyst picks a broadcast at fixture scale from size stats (right
    # at 60 KB) and the same plan degrades to a shuffle join when the
    # vocabulary outgrows the threshold at corpus scale; only the
    # one-row N is explicitly hinted.
    assert "BatchEvalPython" not in plan


def test_cms_sketch_partial_agg_before_exchange(spark):
    """count_min_sketch's shuffle must carry partially-aggregated
    (d, b, cnt) cells — O(tasks x depth x width) — not raw fan-out rows."""
    from unified_ocr_pipeline_spark.operators.sampling import count_min_sketch

    toks = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    )
    plan = plan_of(count_min_sketch(toks, "token", width=16, depth=3))
    import re as _re

    # a partial_count HashAggregate must appear BELOW the exchange
    partial = plan.find("partial_count")
    exchange = _re.search(r"^\(\d+\) Exchange", plan, _re.MULTILINE)
    assert partial != -1 and exchange is not None
    assert partial < exchange.start(), "partial agg must precede the exchange"


def test_substring_dup_single_gram_shuffle(spark):
    """Default substring_dup path: exactly ONE exchange of gram-scale
    rows (the window on the gram hash); the per-doc aggregate and final
    join shuffle doc-scale rows only. Guarded path adds the agg+join."""
    import re as _re

    plan = plan_of(E.queries()["substring_dup"](spark, SF))
    assert "Window" in plan
    # gram hash column 'h' appears in exactly one hashpartitioning
    n_h = len(_re.findall(r"hashpartitioning\(h#", plan))
    assert n_h == 1, plan
    assert "BatchEvalPython" not in plan
    # coverage is an interval-union window over the unique (id, start)
    # rows — no k-way position explode, no count_distinct Expand
    assert "Expand" not in plan, plan
    n_gen = len(_re.findall(r"\(\d+\) Generate", plan))
    assert n_gen == 1, plan  # only the gram posexplode


def test_cdx_index_single_exchange(spark):
    # all three windows (per-surt ordinal, per-(surt,digest) dup rank,
    # response-ts backref) must share ONE hash(surt) exchange — the
    # subset rule lets the (surt, digest) windows reuse it.
    from unified_ocr_pipeline_spark.operators import cdx as CDX

    df = spark.createDataFrame(
        [("http://a.com/x", 1, "v")], "url string, warc_ts long, html string"
    )
    import re

    plan = plan_of(CDX.cdx_index(df))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 3, plan


def test_cdx_merge_stored_side_is_key_projection(spark):
    # the stored index must collapse to (surt, digest, min ts) BEFORE
    # the join: the merge plan carries a partial/final aggregate on the
    # stored branch and no stored payload columns cross the join.
    from unified_ocr_pipeline_spark.operators import cdx as CDX

    caps = spark.createDataFrame(
        [("http://a.com/x", 1, "v")], "url string, warc_ts long, html string"
    )
    stored = CDX.cdx_index(caps)
    import re

    plan = plan_of(CDX.cdx_merge(stored, caps))
    assert "HashAggregate" in plan, plan
    # new side needs one exchange for its window + the join keyed the
    # same way; stored side aggregates then joins — no extra shuffles
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 4, plan


def test_media_decode_plans_are_narrow_single_python_pass(spark):
    """audio/video real-decode queries: generator + decoder fuse into a
    narrow plan — NO exchange anywhere (media bytes never shuffle), and
    only the doc_id column is read from the parquet scan."""
    import re

    for q in ("audio_decode_real", "video_decode_real"):
        plan = plan_of(E.queries()[q](spark, SF))
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, (q, plan)
        read = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "doc_id" in read and "text" not in read, (q, read)
        assert "BatchEvalPython" not in plan, q


def test_bitext_broadcasts_query_side_not_corpus(spark):
    """bitext_mine: both directional top-k stages broadcast the QUERY
    side (BroadcastNestedLoopJoin over the scan); the margin joins and
    windows shuffle only id-keyed stat rows, never embeddings-with-sims
    cartesian output wider than the top-k survivors."""
    plan = plan_of(E.queries()["bitext_mine"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan, plan
    # the corpus-side relation must never be the broadcast build side of
    # a nested-loop join: every BroadcastExchange feeds either the
    # (filtered) query half or an id-keyed aggregate output
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_winnow_floods_broadcast_anti(spark):
    # same contract as ngram_jaccard: only the OVER-threshold fingerprint
    # set (pigeonhole-bounded) may broadcast, as a LEFT ANTI; the
    # fingerprint inverted-index self-join must stay a shuffle join.
    import re as _re

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(E.queries()["winnow_pairs"](spark, SF))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    bhj = _re.findall(r"BroadcastHashJoin \w+", plan)
    assert bhj and all("LeftAnti" in b for b in bhj), plan


def test_hrw_rebalance_plan_is_narrow(spark):
    # rendezvous assignment is a pure projection: zero exchanges, zero
    # joins — the whole resize report computes scan-local.
    plan = plan_of(E.queries()["hrw_rebalance"](spark, SF))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_shard_manifest_single_aggregation_exchange(spark):
    # ONE shard-keyed hash agg (partial+final around one hash exchange);
    # the trailing rangepartitioning exchange only orders the 16-row
    # manifest. No joins, no Python.
    import re as _re

    plan = plan_of(E.queries()["shard_manifest"](spark, SF))
    hashex = _re.findall(r"Arguments: hashpartitioning", plan)
    assert len(hashex) == 1, plan
    assert "partial_collect_list" in plan, plan  # map-side combine runs
    assert "Join" not in plan, plan


def test_stupid_backoff_model_stays_distributed(spark):
    # the Brants model must never ride the driver or a nested loop: with
    # auto-broadcast off, no broadcast join and no product join may
    # remain — counts and scoring all flow through keyed shuffle joins.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(E.queries()["stupid_backoff"](spark, SF))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_yule_k_two_aggregates_no_window(spark):
    """lexical_diversity: explode + two hash-aggs, no window, no join,
    no Python."""
    from unified_ocr_pipeline_spark.operators import stats as ST

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(ST.lexical_diversity(d))
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan and "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_char_entropy_same_shape(spark):
    from unified_ocr_pipeline_spark.operators import stats as ST

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(ST.char_entropy(d))
    assert "Window" not in plan and "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_psi_drift_two_scans_one_join(spark):
    """psi_drift: one scan per side, the join happens on the tiny
    (col,bucket) histograms — exactly one join in the plan, no
    corpus-keyed exchange beyond the two bucket aggs."""
    from unified_ocr_pipeline_spark.operators import stats as ST

    d = spark.read.parquet(f"{SF}/documents.parquet")
    ref = d.where("doc_id % 2 = 0")
    cur = d.where("doc_id % 2 = 1")
    plan = plan_of(ST.psi_drift(ref, cur, ["n_chars"], {"n_chars": (0, 600)}))
    # count node HEADERS ("(id) Op") — the formatted plan mentions each
    # node twice (tree + details)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    n_joins = len(re.findall(r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin)", plan))
    assert n_joins == 1


def test_mad_outliers_broadcast_group_stats(spark):
    """Both group-stat joins broadcast (host-sized relations), never a
    sort-merge of the corpus against itself."""
    from unified_ocr_pipeline_spark.operators import stats as ST

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    plan = plan_of(ST.mad_outliers(d, "source", "n_chars"))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 2
    assert "SortMergeJoin" not in plan


def test_strand_pairs_no_cross_join(spark):
    """STRAND pairing is a key-equi join after the min-url collapse —
    no cartesian, no nested-loop."""
    import __spark_entry__ as E

    plan = plan_of(E.queries()["strand_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_luhn_cards_pure_codegen(spark):
    """Luhn validation stays JVM-side: no Python eval, no shuffle at
    all (pure projection)."""
    import __spark_entry__ as E

    plan = plan_of(E.queries()["luhn_cards"](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan
