"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: runs the real Arrow-batched extraction stage
over sf0.001 documents (treated as text-layer pages) and aggregates
per-language extraction yield (SURVEY.md §7.5).

``queries()`` / ``oracle_sql()`` — one entry per implemented operator family
from SURVEY.md §2 plus the training-data ops (dedup / similarity / text
analysis). Every aggregate/computed column is aliased identically on both
sides; DuckDB integer sums are cast to BIGINT to match Spark's long.
Every query has an oracle entry (tests/test_entry.py asserts the two key
sets match): non-SQL-native ops (LSH pipelines, the pages extraction
pipeline, real PNG decode) replay their seeded math or generative
formula in SQL instead of dropping to a rows-only check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from unified_ocr_pipeline_spark.functions import pii as PII  # noqa: E402
from unified_ocr_pipeline_spark.functions import text as TX  # noqa: E402
from unified_ocr_pipeline_spark.functions import url as URL  # noqa: E402
from unified_ocr_pipeline_spark.operators import diff as DIFF  # noqa: E402
from unified_ocr_pipeline_spark.operators import asof as ASOF  # noqa: E402
from unified_ocr_pipeline_spark.operators import cc as CC  # noqa: E402
from unified_ocr_pipeline_spark.operators import curation as CUR  # noqa: E402
from unified_ocr_pipeline_spark.operators import dedup as DD  # noqa: E402
from unified_ocr_pipeline_spark.operators import ivf as IVF  # noqa: E402
from unified_ocr_pipeline_spark.operators import sampling as SAMP  # noqa: E402
from unified_ocr_pipeline_spark.operators import similarity as SIM  # noqa: E402
from unified_ocr_pipeline_spark.operators import multimodal as MM  # noqa: E402
from unified_ocr_pipeline_spark.plans.extraction import extract_stage  # noqa: E402

PAGE_BREAK = "\n\n--- PAGE BREAK ---\n\n"  # reference separator, unified_ocr_pipeline.py:327


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs_as_pages(docs: DataFrame) -> DataFrame:
    """Adapt the documents table to the pages input shape (text-layer rows)."""
    return docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.spark_partition_id().alias("partition_id"),
    )


# ---------------------------------------------------------------------------
# entry — flagship query (driver smoke check at sf0.001)
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Per-language extraction yield through the real extraction stage."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    extracted = extract_stage(_docs_as_pages(docs))
    return (
        extracted.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("total_text_length").alias("sum_chars"),
            F.sum(F.when(F.col("po_number") != "UNKNOWN_PO", 1).otherwise(0)).alias(
                "n_po_docs"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# queries — Spark implementations
# ---------------------------------------------------------------------------

def _q_flagship_lang_yield(spark, sf):
    return (
        _t(spark, sf, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


def _q_scan_filter_project(spark, sf):
    d = _t(spark, sf, "documents")
    return d.where((d.lang == "en") & (d.n_chars > 200)).select(
        "doc_id", "n_chars", F.length("text").alias("text_len")
    )


def _q_token_stats(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        TX.ws_token_count(F.col("text")).alias("ws_tokens"),
        TX.bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )


def _q_lang_id(spark, sf):
    d = _t(spark, sf, "documents")
    hits = d.select(
        *[TX.stopword_hits(F.col("text"), l).alias(l) for l in ("en", "de", "fr")]
    )
    return (
        hits.select(
            TX.lang_guess_from_hits(
                F.col("en"), F.col("de"), F.col("fr")
            ).alias("guess")
        )
        .groupBy("guess")
        .agg(F.count("*").alias("n"))
    )


def _q_quality_scores(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", TX.quality_score(F.col("text")).alias("score"))


def _q_fingerprint(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))


def _q_exact_dedup(spark, sf):
    return DD.exact_dedup_groups(_t(spark, sf, "documents"), "doc_id", "text")


def _q_regex_extract_first(spark, sf):
    d = _t(spark, sf, "documents")
    ext = F.regexp_extract("text", r"\b(s[a-z]+)\b", 1)
    return d.select(
        "doc_id",
        F.coalesce(F.nullif(ext, F.lit("")), F.lit("NONE")).alias("first_s_word"),
    )


def _q_regex_count(spark, sf):
    d = _t(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.sum(
            F.size(F.regexp_extract_all("text", F.lit(r"\bscan\b"), F.lit(0)))
        ).alias("n_scan")
    )


def _q_ngram_jaccard(spark, sf):
    # threshold 0.02: the synthetic corpus has no heavy near-dups, so the
    # gate must sit below the observed max pairwise jaccard (~0.03 at
    # sf0.01) to make the check non-vacuous
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    return DD.ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, threshold=0.02, max_shingle_df=10**9
    )


def _q_snm_pairs(spark, sf):
    """Sorted-neighborhood (Merge/Purge) blocking: docs sorted by a
    length-derived key within their language block, window-4 candidate
    pairs from window-1 lead expressions — one WindowExec pass, no
    self-join, bounded (window-1)x fan-out regardless of key skew."""
    d = _t(spark, sf, "documents")
    keyed = d.select(
        "doc_id",
        "lang",
        F.concat_ws(
            "|",
            F.lpad(F.col("n_chars").cast("long").cast("string"), 6, "0"),
            F.col("source"),
        ).alias("snm_key"),
    )
    return DD.sorted_neighborhood_pairs(
        keyed, "doc_id", "snm_key", window=4, block_col="lang"
    )


def _q_linkage_verify(spark, sf):
    """Record-linkage match scoring (the stage AFTER blocking): SNM
    window-3 candidates over a lowercased 32-char title key per language
    block, then normalized-Levenshtein similarity and a Fellegi-Sunter-
    style match/possible/nonmatch decision — one codegen'd projection on
    the pairs the window pass already carries, no join back, no Python."""
    d = _t(spark, sf, "documents")
    keyed = d.select(
        "doc_id",
        "lang",
        F.lower(
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 32)
        ).alias("title"),
    )
    pairs = DD.sorted_neighborhood_pairs(
        keyed, "doc_id", "title", window=3, block_col="lang"
    )
    return DD.edit_verified_pairs(
        pairs, "key_a", "key_b", match_threshold=0.85, possible_threshold=0.6
    )


def _q_minhash_dups(spark, sf):
    d = _t(spark, sf, "documents")
    sigs = DD.minhash_signatures(d, "doc_id", "text", num_hashes=32)
    return DD.minhash_lsh_pairs(sigs, num_hashes=32, num_bands=8, threshold=0.5)


def _q_minhash_error(spark, sf):
    """Estimator calibration: every MinHash-LSH pair with its
    signature-agreement estimate, the EXACT shingle-set Jaccard, and
    the absolute error — the report that justifies trusting the dedup
    threshold. Exact Jaccard runs only on LSH survivors (shingles
    left-semi-joined to candidate docs first)."""
    from unified_ocr_pipeline_spark.operators.evaluate import minhash_estimate_error

    return minhash_estimate_error(_t(spark, sf, "documents"), "doc_id", "text")


def _q_dedup_clusters(spark, sf):
    # Planted-copy corpus (same device as cosine_near_dups): doc_id<5
    # duplicated at +1e6 and +2e6 → each original forms a 3-node MinHash
    # component; doc_id 5..49 stay singletons. Components + canonical pick
    # close the pairs→clusters→keep-one loop of a real dedup pipeline.
    base = _t(spark, sf, "documents").select("doc_id", "text")
    d = base.where(F.col("doc_id") < 50)
    copies = base.where(F.col("doc_id") < 5)
    corpus = d.unionByName(
        copies.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    ).unionByName(
        copies.select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    )
    sigs = DD.minhash_signatures(corpus, "doc_id", "text", num_hashes=32)
    pairs = DD.minhash_lsh_pairs(sigs, num_hashes=32, num_bands=8, threshold=0.5)
    return CC.dedup_clusters(corpus, pairs, "doc_id").select(
        "doc_id", "component", "is_canonical"
    )


def _q_leakage_split(spark, sf):
    """Cluster-aware 80/10/10 split over the same planted-copy corpus as
    dedup_clusters: the split hashes the near-dup COMPONENT, so a page and
    its two planted copies always land in the same split — per-doc hash
    splits put near-dups across train/test and leak eval data."""
    base = _t(spark, sf, "documents").select("doc_id", "text")
    d = base.where(F.col("doc_id") < 50)
    copies = base.where(F.col("doc_id") < 5)
    corpus = d.unionByName(
        copies.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    ).unionByName(
        copies.select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    )
    sigs = DD.minhash_signatures(corpus, "doc_id", "text", num_hashes=32)
    pairs = DD.minhash_lsh_pairs(sigs, num_hashes=32, num_bands=8, threshold=0.5)
    return SAMP.leakage_safe_split(
        corpus, "doc_id", pairs, [("train", 8), ("val", 1), ("test", 1)]
    ).select("doc_id", "component", "is_canonical", "split")


def _q_temperature_mix(spark, sf):
    """Temperature-T=2 multilingual mixing (mBERT/XLM-R rule): source
    token shares re-weighted ∝ sqrt(share), per-lang keep-rates scaled so
    the most-upweighted language keeps everything, deterministic md5
    down-sampling. Tiny per-source agg + broadcast rates + JVM filter —
    no per-source sort, no Python."""
    d = _t(spark, sf, "documents")
    return SAMP.temperature_sample(
        d.select("doc_id", "lang", "n_chars"),
        "doc_id",
        "lang",
        "n_chars",
        temperature=2.0,
    ).select("doc_id", "lang", "keep_rate")


def _q_cluster_subsample(spark, sf):
    """Soft dedup over the same planted-copy corpus as dedup_clusters:
    canonicals always survive, non-canonical near-dups keep a
    deterministic md5-60 hash sample at rate 0.4 — paraphrase diversity
    without the redundancy mass. Oracle = the recursive-CTE cluster
    oracle plus the identical hash-gate."""
    base = _t(spark, sf, "documents").select("doc_id", "text")
    d = base.where(F.col("doc_id") < 50)
    copies = base.where(F.col("doc_id") < 5)
    corpus = d.unionByName(
        copies.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    ).unionByName(
        copies.select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    )
    sigs = DD.minhash_signatures(corpus, "doc_id", "text", num_hashes=32)
    pairs = DD.minhash_lsh_pairs(sigs, num_hashes=32, num_bands=8, threshold=0.5)
    clustered = CC.dedup_clusters(corpus, pairs, "doc_id")
    return CC.cluster_subsample(clustered, "doc_id", rate=0.4).select(
        "doc_id", "component", "is_canonical", "kept_as"
    )


def _q_kmv_jaccard(spark, sf):
    """KMV set-similarity WITHOUT joining the sets: two deterministic
    key sets (true J = 1/3) summarized to 64-minimum-hash sketches;
    Jaccard estimated from the union sketch. The full sets never meet
    in a join — everything after the sketches is 64-row arithmetic."""
    from unified_ocr_pipeline_spark.operators.sampling import kmv_jaccard

    d = _t(spark, sf, "documents")
    a = d.select(
        F.concat(F.lit("k"), F.pmod(F.col("doc_id"), F.lit(400)).cast("string")).alias(
            "key"
        )
    )
    b = d.select(
        F.concat(
            F.lit("k"), (F.pmod(F.col("doc_id"), F.lit(400)) + 200).cast("string")
        ).alias("key")
    )
    return kmv_jaccard(a, b, "key", k=64)


def _q_kmv_distinct(spark, sf):
    """KMV distinct-count estimate of the 400-key set from its 64-hash
    sketch: (k-1) * 2^60 / h_k. One k-row sketch instead of a
    corpus-wide exact distinct."""
    from unified_ocr_pipeline_spark.operators.sampling import (
        kmv_distinct_estimate,
        kmv_sketch,
    )

    d = _t(spark, sf, "documents")
    a = d.select(
        F.concat(F.lit("k"), F.pmod(F.col("doc_id"), F.lit(400)).cast("string")).alias(
            "key"
        )
    )
    return kmv_distinct_estimate(kmv_sketch(a, "key", k=64), k=64)


def _q_mirror_hosts(spark, sf):
    """Cross-host mirror detection: 50 content groups served from 7
    formula-assigned hosts; groups spanning >= 2 hosts surface with
    their host roster (comma-joined for the hash compare). The oracle
    replays the url/content formulas and DuckDB's own md5."""
    from unified_ocr_pipeline_spark.operators.dedup import mirror_hosts

    d = _t(spark, sf, "documents")
    pages = d.select(
        F.concat(
            F.lit("http://h"),
            F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
            F.lit(".mirror.example/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("payload-"), F.pmod(F.col("doc_id"), F.lit(50)).cast("string")
        ).alias("text"),
    )
    m = mirror_hosts(pages, "url", "text", min_hosts=2)
    return m.select(
        "fingerprint",
        "n_hosts",
        "n_urls",
        F.array_join("hosts", ",").alias("hosts"),
    )


def _q_url_templates(spark, sf):
    """Site-structure mining: volatile url tokens collapse to {d}/{h}
    placeholders and the url space rolls up to templates — the
    Mercator-era crawl-trap triage view. Oracle replays the two
    regexp_replace passes (with 'g') and the rollup."""
    from unified_ocr_pipeline_spark.functions.url import url_template

    d = _t(spark, sf, "documents")
    urls = d.select(
        F.concat(
            F.lit("http://"),
            F.element_at(
                F.array(
                    F.lit("alpha"), F.lit("beta"), F.lit("gamma"),
                    F.lit("delta"), F.lit("epsilon"),
                ),
                (F.pmod(F.col("doc_id"), F.lit(5)) + 1).cast("int"),
            ),
            F.lit(".ex.com/item/"),
            F.col("doc_id").cast("string"),
            F.lit("/rev/"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12),
        ).alias("url")
    )
    return (
        urls.select(url_template(F.col("url")).alias("template"))
        .groupBy("template")
        .agg(F.count("*").alias("n_urls"))
    )


def _q_incremental_dedup(spark, sf):
    # Continuous-crawl shape: corpus = doc_id<200 (signatures conceptually
    # precomputed/stored), new batch = 50 fresh docs + planted copies of 5
    # corpus docs at +1e6. The asymmetric band join flags each planted copy
    # against its original without any corpus self-join.
    base = _t(spark, sf, "documents").select("doc_id", "text")
    corpus = base.where(F.col("doc_id") < 200)
    new = base.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 250)).unionByName(
        base.where(F.col("doc_id") < 5).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    csigs = DD.minhash_signatures(corpus, "doc_id", "text", num_hashes=32)
    nsigs = DD.minhash_signatures(new, "doc_id", "text", num_hashes=32)
    return DD.minhash_lsh_pairs_between(
        nsigs, csigs, num_hashes=32, num_bands=8, threshold=0.5
    )


def _q_simhash_dups(spark, sf):
    d = _t(spark, sf, "documents")
    return DD.simhash_near_dups(DD.simhash(d, "doc_id", "text"), max_hamming=3)


def _q_embedding_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    return SIM.brute_force_topk(e, e.where(F.col("vec_id") < 5), k=3)


def _q_embedding_lsh_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    return SIM.lsh_topk(e, e.where(F.col("vec_id") < 5), dim=64, k=3)


def _q_bitext_mine(spark, sf):
    """Margin-based bitext mining (operators/bitext.py, Artetxe & Schwenk
    2019 ratio margin) across the even/odd halves of the embeddings
    fixture: mutual margin-best pairs above threshold 1.0, neighborhood
    size k=4. The DuckDB oracle replays both directional top-k searches,
    the neighborhood averages, the margin, and both mutual windows."""
    from unified_ocr_pipeline_spark.operators import bitext as BT

    e = _t(spark, sf, "embeddings")
    return BT.bitext_mine(
        e.where(F.col("vec_id") % 2 == 0),
        e.where(F.col("vec_id") % 2 == 1),
        k=4,
        threshold=1.0,
        mutual=True,
    )


def _q_stratified_sample(spark, sf):
    d = _t(spark, sf, "documents")
    return SAMP.sample_per_group(d, ["source"], "doc_id", 10).select(
        "doc_id", "lang", "source", "n_chars"
    )


def _q_quality_gate(spark, sf):
    d = _t(spark, sf, "documents")
    return SAMP.quantile_gate_per_group(
        d, ["lang"], "n_chars", 0.5, tie_cols=["doc_id"]
    ).select("doc_id", "lang", "n_chars")


def _q_pack_sequences(spark, sf):
    d = _t(spark, sf, "documents")
    return SAMP.pack_sequences(d, ["lang"], "doc_id", "n_chars", 4096).select(
        "doc_id", "lang", "n_chars", "pack_window", "pack_offset", "pack_spans"
    )


def _q_vocab_topk(spark, sf):
    d = _t(spark, sf, "documents")
    return SAMP.vocab_topk(d, "text", "lang", k=5)


def _q_ivf_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    return IVF.ivf_topk(
        e, e.where(F.col("vec_id") < 5), k=3, n_cells=16, nprobe=4, dim=64
    )


def _q_cosine_near_dups(spark, sf):
    # the synthetic corpus has no natural near-dups (max pairwise cosine
    # ~0.51), so planted copies of vec_id<5 (id+1000000) make the check
    # non-vacuous: LSH collides identical vectors in every table, and the
    # exact-verify step emits them at sim 1.0
    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    copies = e.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    return SIM.cosine_near_dup_pairs(
        e.unionByName(copies), dim=64, threshold=0.99
    )


def _q_sessionize(spark, sf):
    # events.ts is TIMESTAMP_NTZ in the parquet; cast for unix_millis
    # (session tz is UTC, matching DuckDB's naive-epoch interpretation)
    ev = _t(spark, sf, "events").withColumn(
        "ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    lag_ms = F.lag("ms").over(w)
    new_s = F.when(lag_ms.isNull() | ((F.col("ms") - lag_ms) > 1800000), 1).otherwise(0)
    return (
        ev.withColumn("new_s", new_s)
        .groupBy("user_id")
        .agg(F.sum("new_s").alias("n_sessions"))
    )


def _q_topk_per_user(spark, sf):
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("user_id", "event_id", "value")
    )


def _q_tumbling_hour(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias(
                "hour_bucket"
            ),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def _q_event_case(spark, sf):
    ev = _t(spark, sf, "events")
    cat = (
        F.when(F.col("event_type").isin("purchase", "signup"), "conversion")
        .when(F.col("event_type") == "error", "failure")
        .otherwise("engagement")
    )
    return (
        ev.select(cat.alias("category"), "value")
        .groupBy("category")
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 2).alias("avg_value"))
    )


def _q_json_props(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


def _q_pivot_events(spark, sf):
    ev = _t(spark, sf, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return ev.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(t)
            for t in types
        ]
    )


def _q_q1_pricing(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("n"),
        )
    )


def _q_broadcast_join_revenue(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def _q_anti_join_idle(spark, sf):
    # customers with no 1998+ orders (every customer has SOME order in the
    # synthetic data, so the unrestricted anti-join is vacuously empty)
    c = _t(spark, sf, "customer")
    o = (
        _t(spark, sf, "orders")
        .where(F.col("o_orderdate") >= "1998-01-01")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        c.join(o, "c_custkey", "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_idle"))
    )


def _q_semi_join_parts(spark, sf):
    p = _t(spark, sf, "part")
    li = _t(spark, sf, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
    return p.join(li, "p_partkey", "left_semi").agg(F.count("*").alias("n_parts"))


def _q_except_lapsed_custs(spark, sf):
    # customers who ordered in 1997 but not in 1998 (EXCEPT set-op; the
    # old nationkey variant was structurally empty — both sides span all
    # 25 nations)
    o = _t(spark, sf, "orders")
    y97 = (
        o.where(F.year("o_orderdate") == 1997)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    y98 = (
        o.where(F.year("o_orderdate") == 1998)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    return y97.exceptAll(y98)


def _q_intersect_buyers_clickers(spark, sf):
    ev = _t(spark, sf, "events")
    clickers = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    return clickers.intersect(buyers)


def _q_union_doc_langs(spark, sf):
    d = _t(spark, sf, "documents")
    en = d.where(F.col("lang") == "en").select("doc_id", "lang")
    de = d.where(F.col("lang") == "de").select("doc_id", "lang")
    return en.unionByName(de).groupBy("lang").agg(F.count("*").alias("n"))


def _q_rollup_docs(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.rollup("lang", "source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n",
            "chars",
        )
    )


def _q_asof_click_before_purchase(spark, sf):
    """As-of join: for each purchase, the value of the user's most recent
    click at-or-before the purchase (operators/asof.py union-window plan)."""
    ev = _t(spark, sf, "events").withColumn(
        "ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ms"
    )
    # dedupe clicks to one per (user, ms) — max event_id wins — so the
    # as-of match at equal timestamps is deterministic
    w = Window.partitionBy("user_id", "ms").orderBy(F.col("event_id").desc())
    clicks = (
        ev.where(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "ms", F.round("value", 2).alias("click_value"))
    )
    out = ASOF.asof_join(
        purchases, clicks, on="user_id", left_ts="ms", right_ts="ms",
        value_cols=["click_value"],
    )
    return out.select(
        "event_id", "user_id", "asof_ts", "asof_click_value"
    )


def _q_range_join_clicks(spark, sf):
    """Range join (banded bin equi-join, operators/interval.py): for each
    purchase, the number and value-sum of the same user's clicks in the
    preceding 30 minutes (inclusive)."""
    from unified_ocr_pipeline_spark.operators.interval import range_join

    ev = _t(spark, sf, "events").withColumn(
        "ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ms"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ms", "value"
    )
    j = range_join(
        purchases, clicks, on="user_id", left_ts="ms", right_ts="ms",
        lower=-1800000, upper=0, value_cols=["value"], how="inner",
    )
    return j.groupBy("event_id", "user_id").agg(
        F.count("*").alias("n_clicks"),
        F.round(F.sum("value"), 2).alias("click_value_sum"),
    )


def _q_combined_text_agg(spark, sf):
    """A6 ordered string-agg: page-break-joined doc text per (lang, source),
    compared by md5 (the byte-identity surface of SURVEY.md K5)."""
    d = _t(spark, sf, "documents")
    parts = F.transform(
        F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
        lambda s: s["text"],
    )
    return d.groupBy("lang", "source").agg(
        F.md5(F.array_join(parts, PAGE_BREAK)).alias("combined_md5"),
        F.count("*").alias("n_pages"),
    )


def _q_span_offsets(spark, sf):
    """W4 span offsets: cumulative char offset of each doc within its
    (lang, source) group in doc_id order — the window cumsum that
    materializes split spans."""
    d = _t(spark, sf, "documents")
    w = (
        Window.partitionBy("lang", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.coalesce(F.sum(F.length("text")).over(w), F.lit(0)).alias("start_offset"),
        (
            F.coalesce(F.sum(F.length("text")).over(w), F.lit(0))
            + F.length("text")
        ).alias("end_offset"),
    )


def _q_po_cascade(spark, sf):
    """F1 cascade shape: synthesize PO-bearing text deterministically from
    doc_id, then extract via the ordered 3-pattern cascade (specific →
    generic, first non-empty wins — order is semantics, SURVEY.md X5)."""
    d = _t(spark, sf, "documents")
    serial = F.lpad(F.pmod(F.col("doc_id") * 7919, F.lit(100000000)).cast("string"), 8, "0")
    synth = F.concat(
        F.col("text"),
        F.when(F.pmod("doc_id", F.lit(3)) == 0, F.concat(F.lit(" Purchase Order 45"), serial))
        .when(F.pmod("doc_id", F.lit(3)) == 1, F.concat(F.lit(" PO: 45"), serial))
        .otherwise(F.lit("")),
    )
    ex = lambda p: F.nullif(F.regexp_extract(synth, p, 1), F.lit(""))  # noqa: E731
    po = F.coalesce(
        ex(r"Purchase\s*[Oo]rder\s*(\d{10})"),
        ex(r"PO\s*[:\-]?\s*(\d{10})"),
        ex(r"(45\d{8})"),
        F.lit("NONE"),
    )
    return d.select("doc_id", po.alias("po_number"))


def _q_dpas_multi(spark, sf):
    """F17 multi-match string-agg shape: every '-ing' word per doc,
    comma-joined in document order."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.array_join(
            F.regexp_extract_all("text", F.lit(r"\b([a-z]+ing)\b"), F.lit(1)), ", "
        ).alias("all_matches"),
    )


def _q_clause_codes_sorted(spark, sf):
    """A8 map-building agg shape: distinct sorted 's...' codes per doc
    (serialized sorted so the map compares engine-independently)."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.regexp_extract_all("text", F.lit(r"\b(s[a-z]+)\b"), F.lit(1))
                )
            ),
            ",",
        ).alias("codes"),
    )


def _q_value_percentiles(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.stddev_samp("value"), 4).alias("sd"),
    )


def _q_moving_avg(spark, sf):
    """Sliding rows-frame: 3-event moving average of value per user."""
    ev = _t(spark, sf, "events").withColumn(
        "ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", F.round(F.avg("value").over(w), 4).alias("mavg3")
    )


def _q_dense_rank_spenders(spark, sf):
    """dense_rank over per-user purchase totals within event_type groups."""
    ev = _t(spark, sf, "events")
    totals = ev.groupBy("event_type", "user_id").agg(
        F.sum("value").alias("total")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("total").desc())
    return (
        totals.withColumn("rnk", F.dense_rank().over(w))
        .where(F.col("rnk") <= 3)
        .select("event_type", "user_id", F.round("total", 2).alias("total"), "rnk")
    )


def _q_cube_events(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.cube("event_type", F.hour("ts").alias("hr"))
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("hr"), F.lit(-1)).alias("hr"),
            "n",
        )
    )


def _q_order_months(spark, sf):
    o = _t(spark, sf, "orders")
    return o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    ).agg(F.count("*").alias("n"))


def _q_gopher_quality(spark, sf):
    """Gopher/MassiveText-style repetition + shape gates per document:
    duplicate-word fraction, top-word coverage, mean word length,
    symbol-per-word ratio, and the composite keep flag — the standard
    pre-training corpus filters, as JVM Column expressions."""
    d = _t(spark, sf, "documents")
    t = F.col("text")
    # two-step: gate on the PROJECTED signals (gopher_keep_of) — inlining
    # gopher_keep(t) here re-evaluates all four signal expressions with no
    # CSE (top_word_coverage's sort+fold dominates), ~1.7x this query
    sig = d.select(
        "doc_id",
        TX.dup_word_fraction(t).alias("dup_frac"),
        TX.top_word_coverage(t).alias("top_cov"),
        TX.mean_word_length(t).alias("mean_wlen"),
        TX.symbol_word_ratio(t).alias("sym_ratio"),
    )
    return sig.select(
        "doc_id", "dup_frac", "top_cov", "mean_wlen", "sym_ratio",
        TX.gopher_keep_of(
            F.col("dup_frac"), F.col("top_cov"),
            F.col("mean_wlen"), F.col("sym_ratio"),
        ).alias("keep"),
    )


def _q_word_conf_filter(spark, sf):
    """P6/A4: per-word confidence filter + page average confidence — the
    reference's word loop exactly (unified_ocr_pipeline.py:721-729: keep
    words with conf > 30, join with ' ', average over the KEPT confidences,
    0 when none survive). Tesseract is off the deterministic contract, so
    per-word confidences are synthesized from the word itself; the array
    filter/aggregate semantics are the operator surface, all JVM-side."""
    d = _t(spark, sf, "documents")
    words = F.slice(F.split(F.col("text"), " "), 1, 12)
    conf = lambda w: F.pmod(F.length(w) * 37 + F.ascii(w), F.lit(101))  # noqa: E731
    kept = F.filter(words, lambda w: conf(w) > 30)
    total_kept = F.aggregate(
        F.transform(kept, conf), F.lit(0).cast("long"), lambda a, c: a + c
    )
    avg = F.when(
        F.size(kept) > 0,
        F.round(total_kept.cast("double") / F.size(kept), 2),
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.size(kept).alias("n_kept"),
        F.array_join(kept, " ").alias("ocr_text"),
        avg.alias("avg_conf"),
    )


def _q_ocr_quality_grades(spark, sf):
    """F21 exact grade CASE (ref unified_ocr_pipeline.py:797-821) as a JVM
    Column expression; confidence synthesized deterministically from doc_id
    so every grade branch is exercised."""
    from unified_ocr_pipeline_spark.kernels import quality as Q

    d = _t(spark, sf, "documents")
    conf = F.pmod(F.col("doc_id") * 37, F.lit(101)).cast("double")
    return d.select(
        "doc_id",
        conf.alias("confidence"),
        Q.quality_grade_col(F.col("text"), conf).alias("grade"),
    )


def _q_strategy_routing(spark, sf):
    """U3 quality-gated routing (ref :846-865): grade → overall
    HIGH/MEDIUM/LOW → 'ai' | 'regex' strategy, all JVM-side."""
    from unified_ocr_pipeline_spark.kernels import quality as Q

    d = _t(spark, sf, "documents")
    conf = F.pmod(F.col("doc_id") * 37, F.lit(101)).cast("double")
    grade = Q.quality_grade_col(F.col("text"), conf)
    overall, route = Q.route_col(grade)
    return d.select(
        "doc_id", grade.alias("grade"), overall.alias("overall"),
        route.alias("route"),
    )


def _q_ai_normalizer(spark, sf):
    """F23 AI-output normalizer (ref :887-919): the actual Python kernel
    (kernels/quality.py:format_ai_data) applied per Arrow batch to
    synthesized AI-shaped records covering every branch — dash→asterisk
    part rewrite, labeled/standalone/no-digit MJO, float/int/garbage/empty
    quantities."""
    from unified_ocr_pipeline_spark.kernels import quality as Q

    d = _t(spark, sf, "documents")
    m3 = F.pmod("doc_id", F.lit(3))
    m4 = F.pmod("doc_id", F.lit(4))
    base = F.concat(
        F.lit("139"),
        F.lpad(F.pmod("doc_id", F.lit(1000)).cast("string"), 3, "0"),
        F.lit("-2SA"),
    )
    op = F.pmod("doc_id", F.lit(100)).cast("string")
    part = (
        F.when(m3 == 0, F.concat(base, F.lit("-OP"), op))
        .when(m3 == 1, F.concat(base, F.lit("*OP"), op))
        .otherwise(base)
    )
    mjo = (
        F.when(
            m3 == 0,
            F.concat(
                F.lit("Production Order: "),
                (F.col("doc_id") + 100000).cast("string"),
            ),
        )
        .when(
            m3 == 1,
            F.concat(F.lit("seq "), (F.col("doc_id") + 90000000).cast("string")),
        )
        .otherwise(F.lit("no digits"))
    )
    qty = (
        F.when(m4 == 0, F.lit("12.0"))
        .when(m4 == 1, F.concat(F.col("doc_id").cast("string"), F.lit(".75")))
        .when(m4 == 2, F.lit("oops"))
        .otherwise(F.lit(""))
    )
    synth = d.select(
        "doc_id", part.alias("part"), mjo.alias("mjo"), qty.alias("qty")
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "part_fmt": [], "mjo_fmt": [], "qty_fmt": []}
            for did, p, m, q in zip(
                pdf["doc_id"], pdf["part"], pdf["mjo"], pdf["qty"]
            ):
                rec = Q.format_ai_data(
                    {"PART_NUMBER": p, "MJO_NO": m, "QTY_SHIP": q}
                )
                out["doc_id"].append(did)
                out["part_fmt"].append(rec["PART_NUMBER"])
                out["mjo_fmt"].append(rec["MJO_NO"])
                out["qty_fmt"].append(rec["QTY_SHIP"])
            yield pd.DataFrame(out)

    return synth.mapInPandas(
        gen, schema="doc_id long, part_fmt string, mjo_fmt string, qty_fmt string"
    )


def _q_pages_pipeline_yield(spark, sf):
    """Rows-only: the real extraction pipeline stage over the documents
    table adapted to the pages shape (exercises mapInPandas end-to-end in
    the driver harness)."""
    docs = _t(spark, sf, "documents")
    ex = extract_stage(_docs_as_pages(docs))
    return ex.groupBy("lang", "status").agg(
        F.count("*").alias("n"), F.sum("total_text_length").alias("chars")
    )


def _q_multimodal_meta(spark, sf):
    """Rows-only: multimodal binary plumbing with the deterministic stub
    decoder over synthetic media bytes."""
    d = _t(spark, sf, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("media"),
    )
    return MM.extract_media_metadata(media)


def _q_substring_dup(spark, sf):
    """Exact substring-duplication coverage (k-gram form of Lee et al.
    exact-substring dedup): per-doc duplicated-token stats at k=5."""
    d = _t(spark, sf, "documents")
    return DD.substring_dup_stats(d, "doc_id", "text", k=5).withColumnRenamed(
        "id", "doc_id"
    )


def _q_tfidf_topk(spark, sf):
    """Top-5 TF-IDF keywords per document (corpus-level term weighting:
    one vocabulary-scale df agg + shuffle join, window top-k with
    WindowGroupLimit pushdown)."""
    d = _t(spark, sf, "documents")
    return CUR.tfidf_topk(d, "doc_id", "text", k=5, max_df_frac=0.9).withColumnRenamed(
        "id", "doc_id"
    )


def _synthetic_link_pages(d, anchor_text=None):
    """Pages with a deterministic link formula (doc_id % 4 anchors, dst
    host h{(doc_id*7+i) % 20}.example.com) built entirely JVM-side, so a
    SQL oracle can replay the formula while the Spark side reparses the
    real HTML. ``anchor_text`` (optional ``i -> Column``) supplies the
    anchor's inner text — default literal ``x``; the pagerank/hits/
    outlink AND anchor-text oracles all replay this one formula, so a
    change here must be mirrored in those SQL blocks."""
    n = F.pmod(F.col("doc_id"), F.lit(4))
    text_of = anchor_text or (lambda i: F.lit("x"))
    link = lambda i: F.concat(  # noqa: E731
        F.lit('<a href="http://h'),
        F.pmod(F.col("doc_id") * 7 + i, F.lit(20)).cast("string"),
        F.lit(".example.com/p"),
        i.cast("string"),
        F.lit('">'),
        text_of(i),
        F.lit("</a>"),
    )
    links = F.when(n == 0, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(0), (n - 1).cast("int")), link)
    )
    return d.select(
        F.concat(F.lit("http://src"), F.col("doc_id"), F.lit(".example.com/page")).alias(
            "url"
        ),
        F.concat(
            F.lit("<html><body><p>"),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("</p>"),
            F.array_join(links, ""),
            F.lit("</body></html>"),
        ).alias("html"),
    )


def _q_outlink_domains(spark, sf):
    """REAL HTML outlink extraction end-to-end: deterministic-formula
    pages parsed back by the stdlib HTML kernel in the Arrow batch
    stage, aggregated to per-domain in-degree. The DuckDB oracle replays
    the formula — a dropped or mangled href shows up as a count
    mismatch."""
    from unified_ocr_pipeline_spark.operators import linkgraph as LG

    d = _t(spark, sf, "documents")
    pages = _synthetic_link_pages(d)
    return LG.domain_link_stats(LG.outlink_edges(pages, "url", "html"))


def _q_pagerank(spark, sf):
    """Fixed-3-iteration PageRank over the parsed link graph (src urls +
    dst hosts as nodes; dangling-mass-dropped variant). The oracle
    replays the edge formula AND the three iterations as chained CTEs."""
    from unified_ocr_pipeline_spark.operators import linkgraph as LG

    d = _t(spark, sf, "documents")
    edges = LG.outlink_edges(_synthetic_link_pages(d), "url", "html").select(
        "src_url", F.regexp_extract("href", r"^https?://([^/?#]+)", 1).alias("dst_host")
    )
    return LG.pagerank(edges, "src_url", "dst_host", iterations=3)


def _q_trustrank(spark, sf):
    """Fixed-3-iteration TrustRank over the parsed link graph: teleport
    restricted to five trusted seed hosts (h0-h4.example.com), so trust
    decays with link distance from the seeds — the Gyongyi et al. 2004
    spam-demotion prior. The oracle replays the edge formula, the seed
    vector, and all three iterations as chained CTEs."""
    from unified_ocr_pipeline_spark.operators import linkgraph as LG

    d = _t(spark, sf, "documents")
    edges = LG.outlink_edges(_synthetic_link_pages(d), "url", "html").select(
        "src_url", F.regexp_extract("href", r"^https?://([^/?#]+)", 1).alias("dst_host")
    )
    seeds = spark.range(5).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".example.com")).alias(
            "node"
        )
    )
    return LG.trustrank(edges, seeds, "src_url", "dst_host", iterations=3)


def _q_zorder_key(spark, sf):
    """Morton (Z-order) clustering keys over two event dimensions —
    the layout pass Delta/Iceberg OPTIMIZE ZORDER runs before writing,
    here as a pure JVM bit-interleave (codegen, no shuffle for the key
    itself). The oracle replays the interleave with >>/&/<< bit ops."""
    from unified_ocr_pipeline_spark.operators.layout import zorder_key

    e = _t(spark, sf, "events")
    return e.select(
        "event_id",
        "user_id",
        zorder_key(
            F.col("user_id"), F.pmod(F.col("event_id"), F.lit(1024)), bits=10
        ).alias("zkey"),
    )


def _q_column_stats(spark, sf):
    """ANALYZE-style per-column profile of the orders table (row/null/
    exact-distinct counts + min/max, incl. a printf-rendered double) in
    ONE scan — all columns' aggregates ride a single global agg, then
    the one result row explodes into per-column rows."""
    from unified_ocr_pipeline_spark.operators.stats import column_stats

    return column_stats(
        _t(spark, sf, "orders"),
        ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate",
         "o_orderpriority"],
    )


def _q_lsh_pr(spark, sf):
    """One-row precision/recall of the MinHash-LSH pair set vs exact
    shingle-Jaccard ground truth at the same 0.5 threshold — the dedup
    config acceptance report. Both sides are the existing scale-safe
    operators; the comparison is one full-outer join + global agg."""
    from unified_ocr_pipeline_spark.operators.evaluate import lsh_pr

    return lsh_pr(_t(spark, sf, "documents"), "doc_id", "text")


def _q_justext(spark, sf):
    """jusText-style two-pass boilerplate classification over REAL
    parsed blocks: formula-generated pages (block kind = (doc_id+i)%4
    cycling good/short/near_good/bad) go through the actual HTML block
    parser in the Arrow stage, then the context-free CASE and the
    context-propagation windows. The oracle replays the block formula
    (texts, lengths, densities) and both passes, so a parser drift or
    a wrong window frame shows up as a hash mismatch."""
    from unified_ocr_pipeline_spark.operators.justext import (
        justext_classify,
        page_blocks,
    )

    d = _t(spark, sf, "documents")
    kind = lambda i: F.pmod(F.col("doc_id") + i, F.lit(4))  # noqa: E731
    block = lambda i: (  # noqa: E731
        F.when(
            kind(i) == 0,
            F.lit(
                "<p>this block carries enough characters to pass the"
                " length high bar</p>"
            ),
        )
        .when(kind(i) == 1, F.lit("<p>tiny heading</p>"))
        .when(
            kind(i) == 2,
            F.lit("<p>a medium sized sentence of middling size</p>"),
        )
        .otherwise(
            F.lit(
                '<p><a href="http://spam.example/">all of this text lives'
                " inside one anchor</a></p>"
            )
        )
    )
    nb = (F.pmod(F.col("doc_id"), F.lit(4)) + 2).cast("int")
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit("<html><body>"),
            F.array_join(
                F.transform(F.sequence(F.lit(0), nb - 1), block), ""
            ),
            F.lit("</body></html>"),
        ).alias("html"),
    )
    out = justext_classify(page_blocks(pages, "doc_id", "html"))
    return out.select(
        F.col("id").alias("doc_id"),
        "block_idx",
        "text",
        "n_chars",
        "link_density",
        "in_boiler",
        "class_cf",
        "class_final",
    )


def _q_pmi_bigrams(spark, sf):
    """Top-20 adjacent-bigram collocations by PMI over the documents
    table (Church & Hanks association mining for MWE/boilerplate
    discovery). Ranked on the exact double probability ratio — ln() is
    output-only — so the oracle's ORDER BY lands on identical bits."""
    from unified_ocr_pipeline_spark.operators.curation import pmi_bigrams

    return pmi_bigrams(_t(spark, sf, "documents"), "text", min_count=5, k=20)


def _q_script_detect(spark, sf):
    """Writing-system histogram + dominant script per document over a
    deterministic mixed-script synthesis (first 64 chars of the fixture
    text + a formula-sized run of one foreign script char, so dominance
    actually flips across docs). Counts are single-char-class
    regexp_count — the oracle recounts with the IDENTICAL codepoint
    ranges in RE2 syntax and replays the (-count, name) argmin."""
    from unified_ocr_pipeline_spark.functions.text import script_profile

    d = _t(spark, sf, "documents")
    synth = d.select(
        "doc_id",
        F.expr(
            "substring(coalesce(text, ''), 1, 64) || "
            "repeat(element_at(array('ж','漢','α','م','한'), "
            "cast(doc_id % 5 as int) + 1), cast((doc_id % 10) * 16 as int))"
        ).alias("t"),
    )
    return synth.select("doc_id", *script_profile(F.col("t")))


def _q_inverted_index(spark, sf):
    """Sharded inverted-index build over the documents table: postings
    lists serialized as ordered "id:tf" runs, 4 doc-id shards bounding
    the width of stopword rows (the classic index-build hot key). The
    oracle rebuilds the identical artifact with string_agg ORDER BY."""
    from unified_ocr_pipeline_spark.operators.index import build_postings

    return build_postings(_t(spark, sf, "documents"), "doc_id", "text", n_shards=4)


def _q_boolean_and(spark, sf):
    """Boolean AND retrieval (postings-intersection semantics without
    materializing the index): documents containing all three query
    terms. Term filter applies map-side under the explode; one doc-keyed
    hash-agg counts distinct matched terms."""
    from unified_ocr_pipeline_spark.operators.index import conjunctive_match

    return conjunctive_match(
        _t(spark, sf, "documents"), "doc_id", "text", ["dup", "sort", "stream"]
    )


def _q_co_citation(spark, sf):
    """Co-citation relatedness between destination hosts over the real
    parsed link graph: pages linking to both hosts count once each
    (distinct src,dst first), hub sources above the fanout cap are
    dropped whole. Oracle replays the link formula + the same guard."""
    from unified_ocr_pipeline_spark.operators import linkgraph as LG

    d = _t(spark, sf, "documents")
    edges = LG.outlink_edges(_synthetic_link_pages(d), "url", "html").select(
        "src_url", F.regexp_extract("href", r"^https?://([^/?#]+)", 1).alias("dst_host")
    )
    return LG.co_citation(edges, "src_url", "dst_host", max_fanout=64)


def _q_host_lang_profile(spark, sf):
    """CCNet-style per-host language routing view: majority language
    (count ties by language ascending) + language entropy in nats over
    formula-assigned hosts. One (host,lang) hash-agg, one host window,
    one final agg; the majority pick is a (-count, lang) struct-min."""
    from unified_ocr_pipeline_spark.operators.metadata import host_lang_profile

    d = _t(spark, sf, "documents").select(
        F.concat(F.lit("h"), F.pmod(F.col("doc_id"), F.lit(7)).cast("string")).alias(
            "host"
        ),
        F.coalesce(F.col("lang"), F.lit("unknown")).alias("lang"),
    )
    return host_lang_profile(d, "host", "lang")


def _q_bm25_topk(spark, sf):
    """BM25 relevance top-20 for a 3-term query over the documents
    table ('dup' is the rare discriminating term in the fixture vocab;
    'sort'/'stream' are common): map-side term filter, broadcast
    df/N/avgdl, TakeOrderedAndProject global top-k."""
    d = _t(spark, sf, "documents")
    return CUR.bm25_topk(
        d, "doc_id", "text", ["dup", "sort", "stream"], k=20
    ).withColumnRenamed("id", "doc_id")


def _q_quantize_embeddings(spark, sf):
    """Int8 embedding quantization fidelity: per-vector scale, integer
    checksum of the quantized components (pins every q_i exactly), and
    max dequantization error (bounded by scale/2)."""
    e = _t(spark, sf, "embeddings")
    return SIM.quantization_stats(e, "vec_id", "embedding").withColumnRenamed(
        "id", "vec_id"
    )


def _q_salted_skew_join(spark, sf):
    """Skew-spread equi-join: documents (lang is a 4-value key — the
    definitional low-cardinality hot key AQE can't split pre-shuffle)
    joined to per-lang stats on (lang, salt); result equals the plain
    join, which is the oracle."""
    from unified_ocr_pipeline_spark.operators.skew import salted_skew_join

    d = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    dim = (
        d.groupBy("lang")
        .agg(F.avg("n_chars").alias("lang_avg_chars"))
    )
    out = salted_skew_join(d, dim, ["lang"], salt=8, how="left")
    return out.select(
        "doc_id", "lang", "n_chars", "lang_avg_chars"
    )


def _q_hll_distinct(spark, sf):
    """HyperLogLog approximate distinct over the documents' text
    fingerprints (p=7, m=128 — small enough that the ~430 distinct
    fixture fps land in HLL's raw-estimator regime rather than the
    linear-counting fallback), next to the exact count for calibration.
    The oracle replays the register math bit-for-bit (integer bit-smear
    rho, exact BIGINT harmonic sum)."""
    d = _t(spark, sf, "documents")
    keyed = d.select(F.md5(F.coalesce("text", F.lit(""))).alias("fp"))
    approx = SAMP.hll_count_distinct(keyed, "fp", p=7)
    exact = keyed.select(F.count_distinct("fp").alias("exact_distinct"))
    return approx.join(F.broadcast(exact))


def _q_priority_sample(spark, sf):
    """Weighted sample without replacement (Efraimidis-Spirakis A-ES):
    top-20 documents by u^(1/n_chars) with hash-uniform u — longer docs
    proportionally likelier, selection fully deterministic. Global
    top-k via TakeOrderedAndProject (no sort shuffle)."""
    d = _t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return SAMP.priority_sample(d, "doc_id", "n_chars", k=20)


def _synthetic_anchor_pages(d):
    """Link pages whose anchors also carry formulaic anchor TEXT
    (t{(doc_id + 3i) % 5}), so the SQL oracle can replay the per-host
    anchor-text consensus while the Spark side re-parses the real HTML
    through the stdlib anchor collector. Same page/link scaffolding as
    :func:`_synthetic_link_pages` — one definition, not two copies."""
    return _synthetic_link_pages(
        d,
        anchor_text=lambda i: F.concat(
            F.lit("t"),
            F.pmod(F.col("doc_id") + 3 * i, F.lit(5)).cast("string"),
        ),
    )


def _q_anchor_text(spark, sf):
    """REAL anchor-text aggregation end-to-end: formulaic pages parsed
    back by the stdlib anchor collector in the Arrow batch stage, then
    per-host anchor-text consensus (count, distinct texts, most-common
    text with deterministic tie-break). A mangled href, dropped anchor,
    or wrong tie-break all show up as a value mismatch."""
    from unified_ocr_pipeline_spark.operators import linkgraph as LG

    d = _t(spark, sf, "documents")
    pages = _synthetic_anchor_pages(d)
    return LG.anchor_text_profile(LG.anchor_edges(pages, "url", "html"))


def _q_frontier(spark, sf):
    """Crawl-frontier BFS: 3 hops out from a seed host over a
    formulaic host graph, min-hop depth labels. The oracle replays it
    as a depth-bounded recursive CTE with min(depth) aggregation."""
    from unified_ocr_pipeline_spark.operators import linkgraph as LG

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    edges = d.select(
        F.concat(F.lit("n"), (did % 20).cast("string")).alias("src"),
        F.concat(F.lit("n"), ((did * 7 + 3) % 20).cast("string")).alias("dst"),
    )
    seeds = spark.createDataFrame([("n0",)], "node string")
    return LG.frontier_bfs(edges, "src", "dst", seeds, max_depth=3)


def _q_sitemap(spark, sf):
    """Sitemap round trip: build one <urlset> per host from a formula
    (JVM string agg, entries ordered by doc_id), parse with the
    tolerant tag scanner, and emit per-entry rows. The oracle predicts
    ordinal, loc, lastmod and the parsed float priority straight from
    the formula."""
    from unified_ocr_pipeline_spark.sources import sitemap as SM

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    entry = F.concat(
        F.lit("<url><loc>http://h"), (did % 8).cast("string"),
        F.lit(".example.com/p/"), did.cast("string"),
        F.lit("</loc><lastmod>2024-01-"),
        F.lpad(((did % 28) + 1).cast("string"), 2, "0"),
        F.lit("</lastmod><priority>0."), (did % 10).cast("string"),
        F.lit("</priority></url>"),
    )
    bodies = (
        d.select(
            (did % 8).alias("file_id"),
            F.struct(did, entry.alias("e")).alias("s"),
        )
        .groupBy("file_id")
        .agg(F.array_sort(F.collect_list("s")).alias("arr"))
        .select(
            "file_id",
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.aggregate(
                    "arr", F.lit(""), lambda acc, x: F.concat(acc, x["e"])
                ),
                F.lit("</urlset>"),
            ).alias("body"),
        )
    )
    return SM.sitemap_entries(bodies, "file_id", "body")


def _q_pq_topk(spark, sf):
    """Product-quantization ANN: encode every embedding to m=4 codes
    against seeded codebooks (64x memory cut), then ADC top-5 for the
    first five vectors — batch-local partial top-k, one window finish.
    The oracle regenerates the identical codebooks and replays encode
    (argmin with low-code ties) and the lookup-table distance sum in
    SQL."""
    from unified_ocr_pipeline_spark.operators import ivf as IVF

    e = _t(spark, sf, "embeddings")
    cb = IVF.pq_codebooks(4, 16, 64, seed=7)
    enc = IVF.pq_encode(e, "embedding", "vec_id", cb)
    queries = [
        (r["vec_id"], r["embedding"])
        for r in e.where(F.col("vec_id") < 5).orderBy("vec_id").collect()
    ]
    return IVF.pq_topk(enc, queries, cb, "vec_id", k=5)


def _q_dup_segments(spark, sf):
    """Gopher's duplicate-line / duplicate-paragraph repetition gates.
    The fixture text is single-line, so the query synthesizes the
    structure boilerplate creates: a nav line wrapped around the
    sentence-split body plus a repeated footer paragraph — and the
    oracle replays the same synthesis + both fractions."""
    d = _t(spark, sf, "documents")
    t2 = F.concat(
        F.lit("NAV MENU\n"),
        F.regexp_replace(F.col("text"), r"\. ", ".\n"),
        F.lit("\nNAV MENU\n\nFOOTER\n\nFOOTER"),
    )
    return d.select(
        "doc_id",
        TX.dup_line_fraction(t2).alias("dup_line_frac"),
        TX.dup_para_fraction(t2).alias("dup_para_frac"),
    )


def _q_extraction_f1(spark, sf):
    """Token-multiset precision/recall/F1 of a perturbed extraction
    against gold (the trafilatura-benchmark metric): pred adds two
    spurious tokens, gold drops every 'the' — both perturbations are
    formulas the oracle replays, so the multiset-min credit logic is
    what's actually under test."""
    from unified_ocr_pipeline_spark.operators import evaluate as EV

    d = _t(spark, sf, "documents")
    pred = d.select(
        "doc_id", F.concat(F.col("text"), F.lit(" spurious spurious")).alias("ptext")
    )
    gold = d.select(
        "doc_id", F.regexp_replace(F.col("text"), r"\bthe\b", "").alias("gtext")
    )
    return EV.extraction_f1(pred, gold, "doc_id", "ptext", "gtext")


def _q_crawl_schedule(spark, sf):
    """Per-host politeness schedule: one fetch per host per delay
    window, queue ordered by a priority column (n_chars here, standing
    in for a pagerank prior) with deterministic ties. One window
    partitioned by host — the exact parallelism a fetch fleet has."""
    from unified_ocr_pipeline_spark.operators import robots as ROB

    d = _t(spark, sf, "documents")
    kk = (F.col("doc_id") % 10).cast("string")
    urls = d.select(
        "doc_id",
        F.concat(F.lit("h"), kk, F.lit(".example.com")).alias("host"),
        F.concat(F.lit("http://h"), kk, F.lit(".example.com/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        "n_chars",
    )
    out = ROB.schedule_fetches(
        urls, "host", "url", delay_sec=5, epoch=1700000000, priority_col="n_chars"
    )
    return out.select("doc_id", "host", "slot", "fetch_at")


def _q_crawl_delay_schedule(spark, sf):
    """Crawl-delay end-to-end: per-host robots bodies declare formulaic
    Crawl-delay values (including a max-wins double declaration and a
    no-delay default-fallback class), crawl_delays parses them, and
    schedule_fetches spaces each host's queue by ITS OWN delay. The
    oracle replays group selection, the max rule, the NULL fallback,
    and the slot*delay floor arithmetic."""
    from unified_ocr_pipeline_spark.operators import robots as ROB

    d = _t(spark, sf, "documents")
    k = F.col("k")
    ks = k.cast("string")
    robots = (
        d.select((F.col("doc_id") % 10).alias("k"))
        .distinct()
        .select(
            F.concat(F.lit("h"), ks, F.lit(".example.com")).alias("host"),
            F.concat(
                # exact-match group for another bot: never selected for *
                F.lit("User-agent: googlebot\nCrawl-delay: 1\n\n"),
                F.lit("User-agent: *\nDisallow: /x\n"),
                F.when(
                    k % 3 != 0,
                    F.concat(F.lit("Crawl-delay: "), ks, F.lit(".5\n")),
                ).otherwise(F.lit("")),
                # second * group: max of the two declared delays wins
                F.when(
                    k % 3 == 2,
                    F.concat(
                        F.lit("\nUser-agent: *\nCrawl-delay: "),
                        (F.lit(10) - k).cast("string"), F.lit("\n"),
                    ),
                ).otherwise(F.lit("")),
            ).alias("body"),
        )
    )
    delays = ROB.crawl_delays(robots, "host", "body", agent="*")
    kk = (F.col("doc_id") % 10).cast("string")
    urls = d.select(
        "doc_id",
        F.concat(F.lit("h"), kk, F.lit(".example.com")).alias("host"),
        F.concat(F.lit("http://h"), kk, F.lit(".example.com/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
    )
    out = ROB.schedule_fetches(
        urls.join(delays, "host", "left"),
        "host",
        "url",
        delay_sec=5,
        epoch=1700000000,
        delay_col="crawl_delay",
    )
    return out.select("doc_id", "host", "crawl_delay", "slot", "fetch_at")


def _synthetic_captures(d: DataFrame, keep_doc_id: bool = False) -> DataFrame:
    """The shared CDX capture synthesis: 50 pages × ~10 captures each,
    content version bumping every 100 doc_ids, urls carrying www/case
    noise the SURT key must collapse. One definition — the three CDX
    queries and their three oracle SQL blocks all replay this formula,
    so a change here must be mirrored in the oracles (and vice versa)."""
    cols = [
        F.concat(
            F.lit("http://www.Site"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com/Page/"), (F.col("doc_id") % 50).cast("string"),
        ).alias("url"),
        F.col("doc_id").cast("bigint").alias("warc_ts"),
        F.concat(
            F.lit("v"), F.expr("doc_id div 100").cast("string"),
            F.lit("-page"), (F.col("doc_id") % 50).cast("string"),
        ).alias("html"),
    ]
    if keep_doc_id:
        cols.insert(0, F.col("doc_id"))
    return d.select(*cols)


def _q_cdx_revisit(spark, sf):
    """CDX web-archive index with revisit dedup over the shared capture
    synthesis (:func:`_synthetic_captures`). The oracle derives the
    surt, digest grouping, capture ordinals, and response/revisit
    classification straight from the synthesis formula — a wrong
    reversal, tie-break, or window key flips the hash."""
    from unified_ocr_pipeline_spark.operators import cdx as CDX

    d = _t(spark, sf, "documents")
    return CDX.cdx_index(_synthetic_captures(d))


def _q_cdx_savings(spark, sf):
    """Per-host rollup of the revisit dedup over the same capture
    synthesis — the storage-savings metric an archive operator tracks."""
    from unified_ocr_pipeline_spark.operators import cdx as CDX

    d = _t(spark, sf, "documents")
    return CDX.storage_savings(CDX.cdx_index(_synthetic_captures(d)))


def _q_cdx_incremental(spark, sf):
    """Continuous-crawl CDX merge: captures before ts 250 form the
    stored index; the rest arrive as a new batch classified against it
    (stored-response revisits, fresh responses, within-batch revisits)
    without recomputing history. The oracle replays the split, the
    stored-prior lookup, and the batch-local window."""
    from unified_ocr_pipeline_spark.operators import cdx as CDX

    d = _t(spark, sf, "documents")
    cap = _synthetic_captures(d, keep_doc_id=True)
    stored = CDX.cdx_index(cap.where(F.col("doc_id") < 250))
    return CDX.cdx_merge(stored, cap.where(F.col("doc_id") >= 250))


def _q_jsonld(spark, sf):
    """JSON-LD structured-data mining, fully JVM-side: every page embeds
    an Article block (with attribute noise on the script tag) and even
    pages add a Product block; regexp_extract_all + get_json_object pull
    type/name/date. The oracle predicts the rows from the formula
    without any regex — an extraction miss or order flip changes it."""
    from unified_ocr_pipeline_spark.functions import html as HTML

    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    day = ((F.col("doc_id") % 9) + 1).cast("string")
    page = F.concat(
        F.lit('<html><head><script type="application/ld+json">'
              '{"@type":"Article","name":"Doc '),
        sid,
        F.lit('","datePublished":"2024-01-0'), day, F.lit('"}</script>'),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit('<script async type="application/ld+json">'
                      '{"@type":"Product","name":"P'),
                sid, F.lit('"}</script>'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</head><body>x</body></html>"),
    )
    blocks = d.select(
        "doc_id",
        F.posexplode(HTML.jsonld_blocks(page)).alias("pos", "block"),
    )
    return blocks.select(
        "doc_id",
        "pos",
        HTML.jsonld_field(F.col("block"), "@type").alias("ld_type"),
        HTML.jsonld_field(F.col("block"), "name").alias("name"),
        HTML.jsonld_field(F.col("block"), "datePublished").alias("published"),
    )


def _q_zipf(spark, sf):
    """Whole-corpus Zipf fit: OLS of log10(freq) on log10(rank) over
    the token-frequency distribution via the built-in regr_* aggregates
    — the corpus-health check next to per-document gates."""
    d = _t(spark, sf, "documents")
    return SAMP.zipf_fit(d, "text")


def _q_charset(spark, sf):
    """Charset detection + transcoding round trip: encode the (ASCII)
    documents text four ways JVM-side (utf-8 with a forced non-ascii
    suffix, BOM'd utf-16le, latin-1 with a bare 0xE9 byte, plain
    ascii), detect + decode with the Arrow kernel, and emit the charset
    label + md5 of the re-encoded utf-8 text. The oracle predicts both
    from the formula — the synthesis is Spark's encode(), not the
    kernel, so the kernel is tested against an independent encoder."""
    from unified_ocr_pipeline_spark.sources import transcode as TC

    d = _t(spark, sf, "documents")
    v = F.col("doc_id") % 4
    t = F.coalesce(F.col("text"), F.lit(""))
    payload = (
        F.when(v == 0, F.encode(F.concat(t, F.lit("☃")), "UTF-8"))
        .when(v == 1, F.concat(F.lit(b"\xff\xfe"), F.encode(t, "UTF-16LE")))
        .when(v == 2, F.concat(F.encode(t, "ISO-8859-1"), F.lit(b"\xe9")))
        .otherwise(F.encode(t, "UTF-8"))
    )
    out = TC.transcode_payloads(
        d.select("doc_id", payload.alias("payload")), "payload", "doc_id"
    )
    return out.select(
        "doc_id",
        "charset",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_md5"),
    )


def _q_robots(spark, sf):
    """robots.txt end-to-end: synthesize a formulaic robots body per
    host (agent groups, comments, empty-Allow no-op, a compiled wildcard
    rule that never matches the synthesized paths), parse it with the
    real parser, and
    admit one URL per document through longest-match/allow-wins
    evaluation. The oracle predicts every decision from the formula — a
    wrong group pick, prefix-vs-path bug, or tie-break flip all change
    the output."""
    from unified_ocr_pipeline_spark.operators import robots as ROB

    d = _t(spark, sf, "documents")
    k = F.col("k").cast("string")
    robots = (
        d.select((F.col("doc_id") % 10).alias("k"))
        .distinct()
        .select(
            F.concat(F.lit("h"), k, F.lit(".example.com")).alias("host"),
            F.concat(
                F.lit("User-agent: googlebot\nDisallow: /\n\n"),
                F.lit("User-agent: *\n# policy\nCrawl-delay: 5\n"),
                F.lit("Disallow: /private"), k, F.lit("/\n"),
                F.lit("Allow: /private"), k, F.lit("/public/\n"),
                F.lit("Disallow: /tmp\nAllow:\nDisallow: /wild/*\n"),
            ).alias("body"),
        )
    )
    rules = ROB.robots_rules(robots, "host", "body", agent="*")
    kk = (F.col("doc_id") % 10).cast("string")
    path = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("/private"), kk, F.lit("/secret.html")))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("/private"), kk, F.lit("/public/page.html")))
        .when(F.col("doc_id") % 4 == 2, F.lit("/tmpfile"))
        .otherwise(F.lit("/open/index.html"))
    )
    urls = d.select(
        "doc_id",
        F.concat(F.lit("h"), kk, F.lit(".example.com")).alias("host"),
        F.concat(F.lit("http://h"), kk, F.lit(".example.com"), path).alias("url"),
    )
    out = ROB.robots_admit(urls, rules, "url", "host")
    return out.select("doc_id", "admitted", "matched_rule")


def _q_warc_segment(spark, sf):
    """WARC container round trip: build well-formed WARC/1.0 blobs from
    the documents table (8 files, records ordered by doc_id, JVM binary
    concat), segment them back with the mapInPandas parser, and emit
    per-record headers + payload md5. The oracle predicts every field
    from the generative formula — a mis-sliced payload, off-by-one
    Content-Length, or wrong record order all change the output."""
    from unified_ocr_pipeline_spark.sources import warc as WARC

    d = _t(spark, sf, "documents")
    rec = WARC.warc_record_bytes(
        F.lit("response"),
        F.concat(
            F.lit("http://doc"), F.col("doc_id").cast("string"), F.lit(".example.com/")
        ),
        F.lit("2024-01-01T00:00:00Z"),
        F.coalesce(F.col("text"), F.lit("")).cast("binary"),
    )
    blobs = (
        d.select(
            (F.col("doc_id") % 8).alias("file_id"),
            F.struct(F.col("doc_id"), rec.alias("rec")).alias("s"),
        )
        .groupBy("file_id")
        .agg(F.array_sort(F.collect_list("s")).alias("arr"))
        .select(
            "file_id",
            F.aggregate(
                "arr",
                F.lit(b""),
                lambda acc, x: F.concat(acc, x["rec"]),
            ).alias("blob"),
        )
    )
    recs = WARC.parse_warc_records(blobs, "blob", "file_id")
    return recs.select(
        "file_id",
        "rec_idx",
        "warc_type",
        "target_uri",
        "warc_date",
        "content_length",
        F.md5("payload").alias("payload_md5"),
    )


def _q_http_parse(spark, sf):
    """HTTP response-layer round trip: synthesize full HTTP messages
    from the documents table (status/Content-Type/Location by doc_id
    formula, body = the document's text bytes), then split them back
    with the pure-JVM response parser (functions/http.py — no Python
    worker, whole-stage codegen). The oracle predicts every field from
    the generative formula: status digits, mime lowercasing + parameter
    strip, quoted-charset extraction, Location passthrough, declared
    Content-Length, and a byte-exact body md5."""
    from unified_ocr_pipeline_spark.functions import http as HTTP

    d = _t(spark, sf, "documents")
    m = F.pmod(F.col("doc_id"), F.lit(5))
    status = (
        F.when(m == 0, 200).when(m == 1, 301).when(m == 2, 404)
        .when(m == 3, 200).otherwise(204)
    )
    reason = (
        F.when(m == 0, "OK").when(m == 1, "Moved Permanently")
        .when(m == 2, "Not Found").when(m == 3, "OK")
        .otherwise("No Content")
    )
    # m=3 exercises mime lowercasing + quoted-charset param parsing
    ctype = F.when(
        m == 3, F.lit('text/Plain; charset="Latin-1"')
    ).otherwise(F.lit("text/html; charset=UTF-8"))
    loc = F.when(
        m == 1,
        F.concat(
            F.lit("https://next"), F.col("doc_id").cast("string"),
            F.lit(".example.com/"),
        ),
    )
    body = F.when(m == 4, F.lit(b"")).otherwise(
        F.coalesce(F.col("text"), F.lit("")).cast("binary")
    )
    payload = HTTP.http_response_bytes(status, reason, ctype, loc, body)
    parsed = d.select("doc_id", payload.alias("payload")).select(
        "doc_id", *HTTP.parse_http_response(F.col("payload"))
    )
    return parsed.select(
        "doc_id", "http_version", "status", "mime", "charset", "location",
        "declared_length",
        F.md5("body").alias("body_md5"),
        F.octet_length("body").alias("body_len"),
    )


def _q_redirect_chains(spark, sf):
    """Redirect-chain resolution by pointer doubling (operators/
    redirects.py, log2(cap) self-joins instead of cap shuffle rounds):
    formulaic hop edges from the documents table — chains u{4k}→…→
    u{4k+3}, and every tail with doc_id%40==3 closed back into a
    4-cycle — resolved at an 8-hop cap. The oracle replays the walk as
    a DuckDB recursive CTE capped at the same hop count and classifies
    cycles by the same 'final node still has an outgoing edge' rule."""
    from unified_ocr_pipeline_spark.operators import redirects as RED

    d = _t(spark, sf, "documents")
    u = lambda c: F.concat(F.lit("u"), c.cast("string"))  # noqa: E731
    m4 = F.pmod(F.col("doc_id"), F.lit(4))
    m40 = F.pmod(F.col("doc_id"), F.lit(40))
    edges = d.select(
        u(F.col("doc_id")).alias("src"),
        F.when(m4 != 3, u(F.col("doc_id") + 1))
        .when(m40 == 3, u(F.col("doc_id") - 3))
        .alias("dst"),
    ).where(F.col("dst").isNotNull())
    return RED.resolve_redirects(edges, "src", "dst", max_hops=8)


def _q_wet_wat(spark, sf):
    """The Common Crawl WET/WAT derivation end-to-end (sources/
    derivatives.py): formulaic full HTTP messages (plain utf-8 /
    latin-1 / real HTML with title+nav links / a 301 / a PDF) wrapped
    into WARC blobs of 8 JVM-side, then segmented, HTTP-split, charset-
    detected, and main-content/title/outlink extracted in one Arrow
    pass. The oracle predicts every field from the generative formula —
    the HTML class relies on the block scorer emitting the <p> text
    byte-exactly (fixture text is pre-normalized) and dropping <nav>."""
    from unified_ocr_pipeline_spark.functions import http as HTTP
    from unified_ocr_pipeline_spark.sources import derivatives as DER
    from unified_ocr_pipeline_spark.sources import warc as WARC

    d = _t(spark, sf, "documents")
    m = F.pmod(F.col("doc_id"), F.lit(5))
    t = F.coalesce(F.col("text"), F.lit(""))
    ids = F.col("doc_id").cast("string")
    one_link = F.lit('<a href="http://l0.example.com/">a</a>')
    two_links = F.concat(
        one_link, F.lit('<a href="https://l1.example.com/">b</a>')
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "), ids,
        F.lit("</title></head><body><p>"), t, F.lit("</p><nav>"),
        F.when(F.pmod(F.col("doc_id"), F.lit(2)) == 0, two_links)
        .otherwise(one_link),
        F.lit("</nav></body></html>"),
    )
    status = F.when(m == 3, 301).otherwise(200)
    reason = F.when(m == 3, "Moved Permanently").otherwise(F.lit("OK"))
    ctype = (
        F.when(m == 0, "text/plain; charset=UTF-8")
        .when(m == 1, "text/plain")
        .when(m == 2, "text/html; charset=UTF-8")
        .when(m == 3, "text/html")
        .otherwise(F.lit("application/pdf"))
    )
    loc = F.when(
        m == 3,
        F.concat(F.lit("https://next"), ids, F.lit(".example.com/")),
    )
    body = (
        F.when(m == 0, F.encode(F.concat(t, F.lit("☃")), "UTF-8"))
        .when(m == 1, F.concat(F.encode(t, "ISO-8859-1"), F.lit(b"\xe9")))
        .when(m == 2, F.encode(html, "UTF-8"))
        .when(m == 3, F.lit(b""))
        .otherwise(F.encode(t, "UTF-8"))
    )
    rec = WARC.warc_record_bytes(
        F.lit("response"),
        F.concat(F.lit("http://doc"), ids, F.lit(".example.com/")),
        F.lit("2024-01-01T00:00:00Z"),
        HTTP.http_response_bytes(status, reason, ctype, loc, body),
    )
    blobs = (
        d.select(
            (F.col("doc_id") % 8).alias("file_id"),
            F.struct(F.col("doc_id"), rec.alias("rec")).alias("s"),
        )
        .groupBy("file_id")
        .agg(F.array_sort(F.collect_list("s")).alias("arr"))
        .select(
            "file_id",
            F.aggregate(
                "arr", F.lit(b""), lambda acc, x: F.concat(acc, x["rec"])
            ).alias("blob"),
        )
    )
    out = DER.derive_wet_wat(blobs, "blob", "file_id")
    return out.select(
        "target_uri", "status", "mime", "kind", "charset", "location",
        "title", "n_links",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_md5"),
    )


def _q_hits(spark, sf):
    """Fixed-2-iteration HITS hubs/authorities over the same parsed link
    graph as pagerank (L1-normalized per half-step). The oracle replays
    both iterations as chained CTEs with scalar-subquery normalizers."""
    from unified_ocr_pipeline_spark.operators import linkgraph as LG

    d = _t(spark, sf, "documents")
    edges = LG.outlink_edges(_synthetic_link_pages(d), "url", "html").select(
        "src_url",
        F.regexp_extract("href", r"^https?://([^/?#]+)", 1).alias("dst_host"),
    )
    out = LG.hits(edges, "src_url", "dst_host", iterations=2)
    # alias the float scores AFTER 'node' alphabetically so every
    # row-alignment comparator (driver canon, test_entry sort) keys on
    # the unique node, not on ulp-sensitive doubles
    return out.select(
        "node",
        F.col("hub").alias("score_hub"),
        F.col("auth").alias("score_auth"),
    )


def _q_quality_lr(spark, sf):
    """Logistic quality-classifier score (CCNet/LLaMA-style 'looks like
    reference prose' filter) over the same rounded shape signals as the
    Gopher gates, plus length and stopword-density evidence — pure JVM
    Column expression, one codegen'd projection."""
    d = _t(spark, sf, "documents")
    t = F.col("text")
    # gate on the projected score rather than a second score expression in
    # the filter: measured neutral (CSE catches the exact-duplicate score
    # subtree here), but it stops relying on CSE — the gopher gate showed
    # HOF-heavy duplicates can miss elimination when lambda-variable ids
    # differ
    return d.select(
        "doc_id", TX.quality_lr_score(t).alias("lr_score")
    ).select(
        "doc_id", "lr_score", (F.col("lr_score") >= 0.5).alias("keep")
    )


def _q_containment(spark, sf):
    """Directed near-containment (Broder's containment coefficient) over
    word-trigram shingle sets: catches a short doc quoted inside a long
    one that symmetric Jaccard misses. Same doc_id<100 slice as
    ngram_jaccard so the self-join stays fixture-sized."""
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    return DD.containment_pairs(
        d, "doc_id", "text", shingle_n=3, threshold=0.05, max_shingle_df=1000
    )


def _q_lm_perplexity(spark, sf):
    """CCNet-style unigram-LM fluency scoring: train on a deterministic
    md5-60 hash sample of the corpus (mod 4, vocab top-512 with add-one
    smoothing), then score every document's mean negative log-likelihood
    in one narrow Arrow pass (broadcast dict, no explode/shuffle). The
    oracle replays the identical sample, vocabulary cut and smoothing in
    SQL, so a wrong sample, tie-break, OOV mass or token split all
    surface as a value mismatch."""
    from unified_ocr_pipeline_spark.operators import lm as LM

    d = _t(spark, sf, "documents")
    model, meta = LM.lm_train(d, "text", "doc_id", sample_mod=4, vocab_size=512)
    return LM.lm_score(d, model, meta, "text", "doc_id")


def _q_ppl_buckets(spark, sf):
    """CCNet head/middle/tail bucketing: the trained-LM score from
    lm_perplexity ntile'd into quartiles (bucket 1 = most fluent). The
    oracle replays train+score+ntile with the identical tie-break."""
    from unified_ocr_pipeline_spark.operators import lm as LM

    d = _t(spark, sf, "documents")
    return LM.lm_perplexity_gate(
        d, "text", "doc_id", sample_mod=4, vocab_size=512, n_buckets=4
    )


def _q_block_gate(spark, sf):
    """RefinedWeb-style URL/wordlist blocking: four formulaic doc
    shapes — url-substring hit, token-density hit, a single banned
    token below the 2-hit floor, and clean — through the JVM signal
    exprs. The oracle predicts every signal from the formula."""
    d = _t(spark, sf, "documents")
    m = F.col("doc_id") % 4
    sid = F.col("doc_id").cast("string")
    url = F.when(
        m == 0, F.concat(F.lit("http://h.example.com/casino/"), sid)
    ).otherwise(F.concat(F.lit("http://h.example.com/page/"), sid))
    text = (
        F.when(m == 1, F.concat(F.lit("casino jackpot casino win big now "), sid))
        .when(m == 2, F.concat(F.lit("one casino mention in a long clean text "
                                     "about spark pipelines "), sid))
        .otherwise(F.concat(F.lit("perfectly ordinary document text "), sid))
    )
    return d.select("doc_id", *TX.block_signals(url, text))


def _q_meta_robots(spark, sf):
    """Page-level robots directives: five formulaic meta-tag shapes
    (noindex, nofollow, none-implies-both, upper-case directives with
    attribute noise, and a no-tag page) through the JVM regex/array
    extractor. The oracle predicts every row from the formula."""
    from unified_ocr_pipeline_spark.functions import html as HTML

    d = _t(spark, sf, "documents")
    m = F.col("doc_id") % 5
    page = F.concat(
        F.lit("<html><head>"),
        F.when(m == 0, F.lit('<meta name="robots" content="noindex, follow">'))
        .when(m == 1, F.lit('<meta charset="utf-8">'
                            '<meta name="robots" content="index, nofollow" data-x="1">'))
        .when(m == 2, F.lit('<meta name="robots" content="none">'))
        .when(m == 3, F.lit('<META name="robots" content="INDEX, FOLLOW">'))
        .otherwise(F.lit("<title>plain</title>")),
        F.lit("</head><body>x</body></html>"),
    )
    return d.select("doc_id", *HTML.meta_robots(page))


def _q_funnel(spark, sf):
    """Ordered funnel conversion view->click->purchase (greedy-earliest
    semantics, strict timestamp ordering)."""
    from unified_ocr_pipeline_spark.operators import events as EV

    ev = _t(spark, sf, "events")
    return EV.funnel_steps(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )


def _q_approx_distinct(spark, sf):
    """Linear-counting approximate distinct over the documents' text
    fingerprints (m=1024 so the fixture actually exercises collisions),
    next to the exact count for calibration."""
    d = _t(spark, sf, "documents")
    keyed = d.select(F.md5(F.coalesce("text", F.lit(""))).alias("fp"))
    approx = SAMP.linear_count_distinct(keyed, "fp", m=1024)
    exact = keyed.select(F.count_distinct("fp").alias("exact_distinct"))
    return approx.join(F.broadcast(exact))


def _q_cms_freq(spark, sf):
    """Count-min-sketch token frequencies (width 16 x depth 3 — small
    enough that the 31-token fixture vocabulary actually collides, so the
    min-over-rows recovery logic is what's being checked)."""
    d = _t(spark, sf, "documents")
    toks = d.select(
        F.explode(
            F.split(F.regexp_replace("text", r"^\s+|\s+$", ""), r"\s+")
        ).alias("token")
    ).where(F.length("token") > 0)
    sk = SAMP.count_min_sketch(toks, "token", width=16, depth=3)
    return SAMP.cms_estimate(sk, toks, "token", width=16, depth=3)


def _q_bloom_anti_join(spark, sf):
    """Bloom-prefiltered EXACT anti-join (continuous-crawl shape): the
    'new batch' (doc_id % 10 == 0) is tested map-side against a bitmap
    folded from the stored corpus; only bloom-positives pay the exact
    left-anti join, and the result equals the plain anti-join."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    new = d.where(F.col("doc_id") % 10 == 0)
    corpus = d.where(F.col("doc_id") % 10 != 0)
    return DD.bloom_anti_join(new, corpus, "text", num_bits=1 << 16).select("doc_id")


# Fixed BPE merge table for the bpe_tokenize query (rank = position).
# Learning itself is iterative-argmax (pytest-differential, operators/
# bpe.py); APPLYING a merge table is the corpus-scale pass, and with the
# table fixed it is SQL-replayable: each rank is one left-to-right
# non-overlapping replace on the chr(31)-joined symbol string — SQL
# replace() and the kernel's merge loop have identical semantics.
_BPE_MERGES = [
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("table", "</w>"), ("s", "c"), ("sc", "a"), ("a", "l"),
]


def _bpe_replace_chain(col: str = "s") -> str:
    """Nested DuckDB replace() expression applying _BPE_MERGES in rank
    order to a chr(31)-joined symbol string."""
    expr = col
    for a, b in _BPE_MERGES:
        expr = f"replace({expr}, '{a}' || chr(31) || '{b}', '{a}{b}')"
    return expr


def _q_bpe_tokenize(spark, sf):
    """BPE tokenization of the documents corpus under the fixed
     8-merge table (operators/bpe.py bpe_apply: one Arrow pass, per-batch
    word cache so the merge loop runs per type, not per token). The
    oracle replays the merge chain as 8 nested replaces per word."""
    from unified_ocr_pipeline_spark.operators import bpe as BPE

    d = _t(spark, sf, "documents")
    out = BPE.bpe_apply(d, "doc_id", "text", _BPE_MERGES)
    return out.select(
        "doc_id",
        "n_tokens",
        F.md5(F.array_join("tokens", " ")).alias("tokens_md5"),
    )


def _q_bpe_fertility(spark, sf):
    """Tokenizer fertility per language under the fixed 8-merge table:
    tokens/word and chars/token — the acceptance metric for a tokenizer
    revision. One Arrow pass for per-doc counts (per-batch word cache),
    one lang-keyed hash-agg; token arrays never materialize."""
    from unified_ocr_pipeline_spark.operators import bpe as BPE

    d = _t(spark, sf, "documents")
    return BPE.bpe_fertility(d, "text", "lang", _BPE_MERGES)


def _q_bloom_membership(spark, sf):
    """DataFrame-native Bloom filter, bitmap math oracle-checked BIT-FOR-
    BIT (unlike bloom_anti_join, whose oracle only certifies the exact
    final result): fold the corpus keys (doc_id % 3 != 0) into packed
    32-bit words, probe EVERY key pure-JVM, and report the membership
    verdict next to ground truth — false positives (maybe_present on a
    non-member) are deterministic given md5, so the oracle sees the
    identical ones."""
    d = _t(spark, sf, "documents")
    keys = d.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("key")
    )
    members = d.where(F.col("doc_id") % 3 != 0).select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("key")
    )
    bloom = SAMP.bloom_build(members, "key", m_bits=1 << 16, k=3)
    probed = SAMP.bloom_probe(bloom, keys, "key", m_bits=1 << 16, k=3)
    return probed.select(
        F.substring("key", 2, 19).cast("long").alias("doc_id"),
        "maybe_present",
        (F.substring("key", 2, 19).cast("long") % 3 != 0).alias("is_member"),
    )


def _q_split_assign(spark, sf):
    """Deterministic hash-based train/val/test assignment (80/10/10)."""
    d = _t(spark, sf, "documents").select("doc_id")
    return SAMP.split_assign(
        d, "doc_id", [("train", 8), ("val", 1), ("test", 1)]
    )


def _synthetic_media(d: DataFrame) -> DataFrame:
    """Per-doc grayscale PNGs generated deterministically from doc_id
    (pixel i = (doc_id + i) % 256, w/h from doc_id, one PNG filter type
    per row so decode exercises every unfilter path). Because the pixel
    ramp wraps mod 256, doc_id and doc_id+256 encode byte-identical
    images whenever their dims agree (they always do: 256 ≡ 0 mod 16) —
    natural planted duplicates for the perceptual-hash query."""
    import numpy as np
    import pandas as pd

    from unified_ocr_pipeline_spark.kernels import imagecodec as IC

    def gen(batches):
        for pdf in batches:
            out = {"media_id": [], "media": []}
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 8 + did % 16, 8 + (did * 7) % 16
                px = ((np.arange(w * h, dtype=np.int64) + did) % 256).astype(
                    np.uint8
                ).reshape(h, w)
                out["media_id"].append(did)
                out["media"].append(IC.encode_png(px, filter_mode="cycle"))
            yield pd.DataFrame(out)

    return d.select("doc_id").mapInPandas(gen, schema="media_id long, media binary")


def _q_media_decode_real(spark, sf):
    """REAL image decode end-to-end: the synthetic per-doc PNGs parsed
    back with the pure-stdlib codec (kernels/imagecodec.py). The
    DuckDB oracle replays the generative formula — so a wrong
    width/height/unfilter shows up as a value mismatch."""
    d = _t(spark, sf, "documents")
    return MM.extract_media_metadata(_synthetic_media(d), real=True)


def _synthetic_audio(d: DataFrame) -> DataFrame:
    """Per-doc RIFF/WAV clips generated deterministically from doc_id:
    interleaved sample j = ((doc_id*31 + j*17) % 4001) - 2000 over
    n = 50 + doc_id % 200 frames, channels = 1 + doc_id % 2 (so both the
    mono and stereo decode paths run), rate = 8000 + (doc_id % 4) * 4000.
    Encoded with kernels/audiocodec.encode_wav — the bytes that hit the
    decoder are a real RIFF container, not a pre-parsed array."""
    import numpy as np
    import pandas as pd

    from unified_ocr_pipeline_spark.kernels import audiocodec as AC

    def gen(batches):
        for pdf in batches:
            out = {"media_id": [], "media": []}
            for did in pdf["doc_id"]:
                did = int(did)
                n = 50 + did % 200
                ch = 1 + did % 2
                rate = 8000 + (did % 4) * 4000
                j = np.arange(n * ch, dtype=np.int64)
                v = ((did * 31 + j * 17) % 4001) - 2000
                out["media_id"].append(did)
                out["media"].append(AC.encode_wav(v.reshape(n, ch), rate, bits=16))
            yield pd.DataFrame(out)

    return d.select("doc_id").mapInPandas(gen, schema="media_id long, media binary")


def _q_audio_decode_real(spark, sf):
    """REAL audio decode end-to-end: synthetic per-doc WAVs parsed back
    with the pure-stdlib RIFF codec (kernels/audiocodec.py); every feature
    is integer-exact, so the DuckDB oracle replays the generative formula
    — a wrong chunk walk, sample width, or stat breaks the value hash."""
    d = _t(spark, sf, "documents")
    return MM.extract_audio_metadata(_synthetic_audio(d))


def _synthetic_video(d: DataFrame) -> DataFrame:
    """Per-doc AVI clips generated deterministically from doc_id: frame f
    pixel i (row-major) = (doc_id + 7f + 3i) % 256 on a (h, w) grid with
    w = 4 + doc_id % 9, h = 4 + (doc_id*5) % 9, n_frames = 2 + doc_id % 6,
    fps = 10 + doc_id % 15. Encoded with kernels/videocodec.encode_avi —
    the bytes that hit the decoder are a real AVI container (nested LISTs,
    bottom-up padded DIB rows), not a pre-parsed array."""
    import numpy as np
    import pandas as pd

    from unified_ocr_pipeline_spark.kernels import videocodec as VC

    def gen(batches):
        for pdf in batches:
            out = {"media_id": [], "media": []}
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 4 + did % 9, 4 + (did * 5) % 9
                nf, fps = 2 + did % 6, 10 + did % 15
                i = np.arange(w * h, dtype=np.int64)
                frames = [
                    ((did + 7 * f + 3 * i) % 256).astype(np.uint8).reshape(h, w)
                    for f in range(nf)
                ]
                out["media_id"].append(did)
                out["media"].append(VC.encode_avi(frames, fps=fps))
            yield pd.DataFrame(out)

    return d.select("doc_id").mapInPandas(gen, schema="media_id long, media binary")


def _q_video_decode_real(spark, sf):
    """REAL video decode end-to-end: synthetic per-doc AVIs parsed back
    with the pure-stdlib container walker (kernels/videocodec.py), frame
    stats sampled at stride 2; every statistic is integer-exact, so the
    DuckDB oracle replays the generative formula — a wrong chunk walk,
    DIB unflip, stride pad, or motion diff breaks the value hash."""
    d = _t(spark, sf, "documents")
    return MM.extract_video_metadata(_synthetic_video(d), frame_stride=2)


def _synthetic_meta_pages(d):
    """Pages whose <head> metadata follows a formula over doc_id % 5, so
    the DuckDB oracle can predict every extracted field while the Spark
    side re-parses the real HTML through the stdlib head collector:
    m=0 full head (title/description/canonical/meta published_time),
    m=1 messy-whitespace title + case-mixed meta name, m=2 self-closed
    meta + <time datetime> fallback, m=3 empty title + meta beating
    <time>, m=4 no metadata at all."""
    did = F.col("doc_id")
    sid = did.cast("string")
    m = did % 5
    dd = F.lpad(((did % 28) + 1).cast("string"), 2, "0")
    hh = (did % 10).cast("string")
    head = (
        F.when(
            m == 0,
            F.concat(
                F.lit("<head><title>Title "), sid, F.lit("</title>"),
                F.lit('<meta name="description" content="Desc '), sid,
                F.lit(' summary">'),
                F.lit('<link rel="canonical" href="http://canon.example.com/p'),
                (did % 50).cast("string"), F.lit('">'),
                F.lit('<meta property="article:published_time" '),
                F.lit('content="2024-03-'), dd, F.lit('T00:00:00Z"></head>'),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("<head><title>  Title \n\t "), sid, F.lit("  </title>"),
                F.lit('<meta name="Description" content="Mixed '), sid,
                F.lit('"></head>'),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit('<head><meta name="description" content="Self '), sid,
                F.lit('"/></head>'),
            ),
        )
        .when(
            m == 3,
            F.concat(
                F.lit("<head><title></title>"),
                F.lit('<meta property="article:published_time" '),
                F.lit('content="2022-01-0'), ((did % 9) + 1).cast("string"),
                F.lit('"></head>'),
            ),
        )
        .otherwise(F.lit("<head></head>"))
    )
    body = (
        F.when(
            m == 2,
            F.concat(
                F.lit('<body><p>x</p><time datetime="2023-12-01T'), F.lpad(hh, 2, "0"),
                F.lit(':00:00">posted</time></body>'),
            ),
        )
        .when(
            m == 3,
            F.lit('<body><time datetime="1999-01-01">old</time></body>'),
        )
        .otherwise(F.lit("<body><p>x</p></body>"))
    )
    return d.select(
        F.concat(F.lit("http://src"), sid, F.lit(".example.com/page")).alias("url"),
        F.concat(F.lit("<html>"), head, body, F.lit("</html>")).alias("html"),
    )


def _q_page_metadata(spark, sf):
    """REAL head-metadata extraction end-to-end: formulaic pages parsed
    back by the stdlib head collector (title whitespace normalization,
    attr-value case-insensitivity, void-element self-closing, the
    meta-beats-<time> published cascade). The oracle predicts all four
    fields per doc_id class — a mis-parsed head shows up as a value
    mismatch."""
    from unified_ocr_pipeline_spark.operators import metadata as MD

    d = _t(spark, sf, "documents")
    return MD.page_metadata(_synthetic_meta_pages(d))


def _q_canonical_collapse(spark, sf):
    """Canonical-url dedup over the same pages: syndicated fetches
    collapse onto coalesce(canonical_url, url) — one hash-agg on the
    canonical key (m=0 docs share 10 canonical targets; everything else
    stays singleton)."""
    from unified_ocr_pipeline_spark.operators import metadata as MD

    d = _t(spark, sf, "documents")
    return MD.canonical_dedup(MD.page_metadata(_synthetic_meta_pages(d)))


def _q_c4_clean(spark, sf):
    """C4 line cleaning (Raffel et al. 2020 §2.2) over formulaic
    multi-line pages: a good sentence line, a short line, a
    no-terminal line, a javascript/cookie line, and a template line
    with braces — only the good line (and the id-bearing long line)
    survive. Oracle predicts the cleaned text and counts per class."""
    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 3
    body = F.concat(
        F.lit("This is a perfectly fine sentence number "), sid, F.lit(".\n"),
        F.lit("too short.\n"),
        F.lit("this line has plenty of words but no terminal mark\n"),
        F.when(m == 0, F.lit("Please enable javascript to view this page.\n"))
        .when(m == 1, F.lit("The template failed with {placeholder} inside.\n"))
        .otherwise(F.lit("Lorem ipsum dolor sit amet consectetur elite.\n")),
        F.lit("Another keeper line closes the document properly."),
    )
    cleaned = TX.c4_clean(body)
    return d.select(
        "doc_id", cleaned.alias("clean_text"), *TX.c4_line_counts(body)
    )


def _q_html_markdown(spark, sf):
    """HTML → markdown end-to-end: formulaic pages rendered through the
    real structure-preserving parser (heading prefixes, adjacent list
    items, blockquote, [text](url) links, block separation). The oracle
    predicts the exact markdown string per doc_id class."""
    from unified_ocr_pipeline_spark.operators import metadata as MD

    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    r = F.col("doc_id") % 3  # extra list items for m=1
    item = lambda j: F.concat(  # noqa: E731
        F.lit("<li>item "), sid, F.lit(f" {j}</li>")
    )
    html = (
        F.when(
            m == 0,
            F.concat(
                F.lit("<h1>Head "), sid, F.lit("</h1><p>Para "), sid,
                F.lit(" text</p>"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("<ul>"), item(0),
                F.when(r >= 1, item(1)).otherwise(F.lit("")),
                F.when(r >= 2, item(2)).otherwise(F.lit("")),
                F.lit("</ul>"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("<blockquote>quote "), sid,
                F.lit("</blockquote><p>after</p>"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('<p>see <a href="http://t'),
                F.pmod(F.col("doc_id"), F.lit(20)).cast("string"),
                F.lit('.example.com/">link '), sid, F.lit("</a> end</p>"),
            )
        )
    )
    pages = d.select(
        F.concat(F.lit("http://src"), sid, F.lit(".example.com/page")).alias("url"),
        html.alias("html"),
    )
    return MD.page_markdown(pages)


def _q_refresh_schedule(spark, sf):
    """Adaptive re-crawl scheduling (Cho & Garcia-Molina): the events
    table becomes a fetch history (url = event_id % 200, changed =
    event_id % 3 == 0 — except urls u0/u1, pinned never-changed so the
    λ=0 → refresh=max_days guard is on the oracle contract, not just
    unit-tested) and each url gets a Poisson change-rate estimate and a
    clamped refresh interval. The oracle replays aggregation, guards,
    and estimator arithmetic in the same operation order."""
    from unified_ocr_pipeline_spark.operators import robots as RB

    e = _t(spark, sf, "events")
    hist = e.select(
        F.concat(F.lit("u"), (F.col("event_id") % 200).cast("string")).alias("url"),
        F.col("ts").alias("fetch_ts"),
        ((F.col("event_id") % 3 == 0) & (F.col("event_id") % 200 >= 2)).alias(
            "changed"
        ),
    )
    return RB.refresh_schedule(hist)


def _q_sitemap_discovery(spark, sf):
    """Sitemap discovery from robots.txt: group-independent ``Sitemap:``
    lines parsed through the real flat-line scanner — case-insensitive
    key, no-space-after-colon, comment stripping, relative/ftp refs
    skipped, duplicates kept in order. Oracle predicts the surviving
    urls per doc_id class."""
    from unified_ocr_pipeline_spark.operators import robots as RB

    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    host = F.concat(F.lit("h"), sid, F.lit(".example.com"))
    m = F.col("doc_id") % 4
    body = (
        F.when(
            m == 0,
            F.concat(
                F.lit("User-agent: *\nDisallow: /x\nSitemap: http://h"), sid,
                F.lit(".example.com/sitemap.xml\n# note\nSITEMAP: https://h"),
                sid, F.lit(".example.com/s2.xml"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("sitemap: /relative.xml\nSitemap: ftp://bad\n"),
                F.lit("Sitemap: http://h"), sid, F.lit(".example.com/only.xml"),
            ),
        )
        .when(m == 2, F.lit("User-agent: a\nDisallow: /"))
        .otherwise(
            F.concat(
                F.lit("Sitemap:http://h"), sid, F.lit(".example.com/nospace.xml")
            )
        )
    )
    robots = d.select(host.alias("host"), body.alias("body"))
    return RB.sitemap_directives(robots)


def _q_mojibake(spark, sf):
    """ftfy-lite mojibake repair end-to-end: formulaic inputs carry the
    three real crawl accidents — latin-1 mojibake ('Ã©'), cp1252
    smart-quote mojibake ('â€™'), and DOUBLE mojibake ('Ã\\u0083Â©') —
    plus a clean-ascii no-op class. The Spark side runs the real
    encode/decode unwinding kernel; the oracle predicts the repaired
    text and the per-class shrink, so a wrong codec path or an
    over-eager repair of clean text breaks the hash."""
    from unified_ocr_pipeline_spark.functions.normalize import fix_mojibake

    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    raw = (
        F.when(m == 0, F.concat(F.lit("cafÃ© no "), sid))
        .when(m == 1, F.concat(F.lit("itâ€™s page "), sid))
        .when(m == 2, F.concat(F.lit("plain ascii "), sid))
        .otherwise(F.concat(F.lit("cafÃÂ© twice "), sid))
    )
    fixed = fix_mojibake(raw)
    return d.select(
        "doc_id",
        fixed.alias("fixed_text"),
        (F.length(raw) - F.length(fixed)).alias("chars_repaired"),
    )


def _q_soft404(spark, sf):
    """Soft-404 detection over formulaic pages: filler of k tokens plus a
    class-dependent error-phrase suffix — one marker on a short page or
    2+ markers anywhere flags the page. The oracle PREDICTS hits and the
    verdict per class (it never scans), so a broken phrase match or token
    count shows up as a mismatch."""
    d = _t(spark, sf, "documents")
    k = (F.col("doc_id") % 200 + 10).cast("int")
    m = F.col("doc_id") % 7
    body = F.concat(
        F.repeat(F.lit("w "), k),
        F.when(m == 0, F.lit("page not found"))
        .when(m == 1, F.lit("error 404 and this page does not exist"))
        .otherwise(F.lit("w")),
    )
    proj = d.select(
        "doc_id",
        TX.soft404_hits(body).alias("n_soft404_hits"),
        TX.ws_token_count(body).alias("_toks"),
    )
    return proj.select(
        "doc_id",
        "n_soft404_hits",
        TX.soft404_of(F.col("n_soft404_hits"), F.col("_toks")).alias("soft404"),
    )


def _q_sentence_stats(spark, sf):
    """Sentence segmentation stats over formulaic text (r 3-token
    sentences + a class-dependent tail): terminator-run counting without
    lookbehind (Java∩RE2), tokens per sentence, Gopher-style
    terminal-punctuation gate. Oracle predicts every value per class."""
    d = _t(spark, sf, "documents")
    r = (F.col("doc_id") % 20 + 1).cast("int")
    m = F.col("doc_id") % 3
    body = F.concat(
        F.repeat(F.lit("tok tok tok. "), r),
        F.when(m == 0, F.lit("end")).when(m == 1, F.lit("end!")).otherwise(F.lit("")),
    )
    return d.select("doc_id", *TX.sentence_stats(body))


def _q_reciprocity(spark, sf):
    """Link-farm reciprocity: pages whose src host lives in the SAME h*
    namespace as the link targets (url = h{id%20}/page{id}), so mutual
    host pairs occur naturally; per-host distinct-outlink and back-edge
    counts through the REAL HTML parse. The oracle replays the edge
    formula and the reciprocity math."""
    from unified_ocr_pipeline_spark.operators import linkgraph as LG

    d = _t(spark, sf, "documents")
    n = F.pmod(F.col("doc_id"), F.lit(4))
    link = lambda i: F.concat(  # noqa: E731
        F.lit('<a href="http://h'),
        F.pmod(F.col("doc_id") * 7 + i, F.lit(20)).cast("string"),
        F.lit(".example.com/p"),
        i.cast("string"),
        F.lit('">x</a>'),
    )
    links = F.when(n == 0, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(0), (n - 1).cast("int")), link)
    )
    pages = d.select(
        F.concat(
            F.lit("http://h"), F.pmod(F.col("doc_id"), F.lit(20)).cast("string"),
            F.lit(".example.com/page"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("<html><body>"), F.array_join(links, ""), F.lit("</body></html>")
        ).alias("html"),
    )
    edges = LG.outlink_edges(pages, "url", "html").select(
        F.regexp_extract("src_url", r"^https?://([^/?#]+)", 1).alias("src_host"),
        F.regexp_extract("href", r"^https?://([^/?#]+)", 1).alias("dst_host"),
    )
    return LG.host_reciprocity(edges)


def _q_dsir_weights(spark, sf):
    """DSIR importance weights (Xie et al. 2023): log p_target/p_raw per
    document under hashed unigram+bigram bag models (256 md5-60 buckets,
    Laplace-smoothed), target = the English slice of the corpus. The
    oracle replays tokenization, gram construction, bucketing, both
    distributions, and the per-doc weighted sum."""
    from unified_ocr_pipeline_spark.operators import dsir as DS

    d = _t(spark, sf, "documents")
    return DS.dsir_weights(d, is_target=F.col("lang") == "en", n_buckets=256)


def _q_image_dhash_dups(spark, sf):
    """Perceptual-hash (dHash) image dedup end-to-end: decode each
    synthetic PNG, difference-hash an 8×8 block-mean mosaic with
    integer-exact comparisons (operators/multimodal.py dhash_kernel),
    and group images sharing a hash. The wrap-around pixel ramp plants
    byte-identical (doc_id, doc_id+256) pairs, and near-identical ramps
    at other offsets collide or separate purely by the block math — the
    DuckDB oracle replays pixel formula, block partition, integer
    cross-multiplied bits, and grouping, so one wrong unfilter or block
    boundary breaks the value hash."""
    d = _t(spark, sf, "documents")
    hashed = MM.dhash_images(_synthetic_media(d))
    return MM.dhash_dup_groups(hashed, min_group=2)


# --- curation operators: URL canonicalization / PII / repetition / CDC ----
# The documents/events tables carry no urls or PII, so these queries
# synthesize their inputs deterministically from doc_id — the DuckDB oracle
# rebuilds the identical strings, so the check still pins every output byte.


def _q_url_canon(spark, sf):
    d = _t(spark, sf, "documents")
    m = F.col("doc_id") % 4
    sid = F.col("doc_id").cast("string")
    raw = (
        F.when(
            m == 0,
            F.concat(
                F.lit("HTTP://WWW.Example.COM:80/Docs/"), sid,
                F.lit("?utm_source=feed&id="), sid, F.lit("&utm_campaign=x#sec"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("https://User:Pw@Sub.Example.org:8443/p/"), sid,
                F.lit("?gclid=abc&q=spark"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("http://news.site"), (F.col("doc_id") % 7).cast("string"),
                F.lit(".net/a/"), sid, F.lit("?ref=rss"),
            ),
        )
        .otherwise(F.concat(F.lit("not a url "), sid))
    )
    d = d.select("doc_id", raw.alias("raw_url"))
    host = URL.host_of(F.col("raw_url"))
    return d.select(
        "doc_id",
        "raw_url",
        URL.canonicalize_url(F.col("raw_url")).alias("canon_url"),
        host.alias("host"),
        URL.registered_domain(host).alias("domain"),
    )


def _q_surt_trap(spark, sf):
    """SURT index keys + crawl-trap signals over formulaic urls: four
    shapes exercising www/default-port stripping, reversed-host
    clustering, param sort + tracking removal, deep paths, repeated
    path segments, query explosions, and the malformed-url quarantine.
    The oracle replays every regex and list op in DuckDB — a wrong
    reversal order, unsorted params, or an off-by-one depth all flip
    the hash."""
    d = _t(spark, sf, "documents")
    m = F.col("doc_id") % 4
    sid = F.col("doc_id").cast("string")
    raw = (
        F.when(
            m == 0,
            F.concat(
                F.lit("HTTP://WWW.Example.COM:80/A/b/"), sid,
                F.lit("?b=2&utm_x=1&a=1#f"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("https://Deep.example.org/d1/d2/d3/d4/d5/d6/d7/d8/d9/"),
                sid,
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("http://maze.example.net/a/b/a/b/a"),
                F.lit("?p1=1&p2=2&p3=3&p4=4&p5=5&p6="), sid,
            ),
        )
        .otherwise(F.concat(F.lit("not a url "), sid))
    )
    d = d.select("doc_id", raw.alias("raw_url"))
    return d.select(
        "doc_id",
        URL.surt_key(F.col("raw_url")).alias("surt"),
        *URL.trap_signals(F.col("raw_url")),
    )


def _q_normalize_text(spark, sf):
    # Mixed-encoding synth: combining sequences (e + U+0301), precomposed
    # (U+00E9), ragged whitespace, mixed case — the NFC + fold + squeeze
    # pipeline must converge both encodings to identical bytes (doc_id%2
    # pairs produce equal norm values, asserted by the oracle hash).
    from unified_ocr_pipeline_spark.functions.normalize import normalize_text

    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    raw = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("Café   Résumé\t"), sid, F.lit("  ")),
    ).otherwise(
        F.concat(F.lit("Café   Résumé\t"), sid, F.lit("  "))
    )
    return d.select(
        "doc_id",
        normalize_text(raw).alias("norm"),
        F.length(normalize_text(raw)).alias("n"),
    )


def _q_domain_stats(spark, sf):
    # Domain-level curation: per-registered-domain doc counts / char mass /
    # language spread, after a broadcast anti-join against a blocklist dim.
    # At 100 TB this is the table crawl curation thresholds on (drop
    # domains with < N docs or spam-heavy stats); the blocklist dim is
    # tiny → broadcast, no shuffle on the fact side until the final agg.
    d = _t(spark, sf, "documents")
    m = F.col("doc_id") % 4
    sid = F.col("doc_id").cast("string")
    raw = (
        F.when(
            m == 0,
            F.concat(F.lit("http://www.shop"), (F.col("doc_id") % 5).cast("string"),
                     F.lit(".example.com/p/"), sid),
        )
        .when(m == 1, F.concat(F.lit("https://blog.banned.org/post/"), sid))
        .when(
            m == 2,
            F.concat(F.lit("http://news.site"), (F.col("doc_id") % 7).cast("string"),
                     F.lit(".net/a/"), sid),
        )
        .otherwise(F.concat(F.lit("https://archive.keep.io/"), sid))
    )
    host = URL.host_of(raw)
    facts = d.select(
        URL.registered_domain(host).alias("domain"), "lang", "n_chars"
    )
    block = spark.createDataFrame(
        [("banned.org",), ("spam.example",)], "domain string"
    )
    return (
        facts.join(F.broadcast(block), "domain", "left_anti")
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


def _q_pii_redact(spark, sf):
    d = _t(spark, sf, "documents")
    k = F.col("doc_id")
    sid = k.cast("string")
    email = F.when(
        k % 2 == 0,
        F.concat(F.lit(" reach User"), sid, F.lit("@Mail.Example.COM now")),
    ).otherwise(F.lit(""))
    phone = F.when(
        k % 3 == 0,
        F.concat(
            F.lit(" call "),
            F.format_string(
                "%02d-%03d-%03d-%04d",
                k % 90 + 10, k % 900 + 100, (k * 7) % 900 + 100, k % 9000 + 1000,
            ),
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        k % 5 == 0,
        F.concat(
            F.lit(" from 10."), (k % 256).cast("string"), F.lit("."),
            (F.floor(k / 3).cast("long") % 256).cast("string"), F.lit(".7"),
        ),
    ).otherwise(F.lit(""))
    raw = F.concat(F.lit("doc "), sid, F.lit(" v1.2 ok"), email, phone, ip)
    d = d.select("doc_id", raw.alias("t"))
    n_email, n_phone, n_ip = PII.pii_counts(F.col("t"))
    return d.select(
        "doc_id",
        PII.redact_pii(F.col("t")).alias("redacted"),
        n_email.cast("int").alias("n_email"),
        n_phone.cast("int").alias("n_phone"),
        n_ip.cast("int").alias("n_ip"),
    )


def _q_repetition_collapse(spark, sf):
    d = _t(spark, sf, "documents")
    runs = TX.collapse_token_runs(F.col("text"))
    dist = TX.distinct_token_text(F.col("text"))
    return d.select(
        "doc_id",
        TX.ws_token_count(F.col("text")).alias("n_tokens"),
        TX.ws_token_count(runs).alias("n_run_tokens"),
        F.substring(runs, 1, 60).alias("runs_prefix"),
        F.size(F.array_distinct(TX.words_of(F.col("text")))).alias("n_distinct"),
        F.substring(dist, 1, 60).alias("distinct_prefix"),
    )


def _q_line_dedup(spark, sf):
    """C4-style line-level boilerplate removal over synthesized multi-line
    pages (the corpus text is single-line, so the query builds a 5-line
    page per doc — shared nav header, per-category promo line shared by
    ~n/7 docs, two body lines from the doc's own text, shared footer —
    deterministically on BOTH sides, same pattern as pii_redact)."""
    d = _t(spark, sf, "documents")
    page = F.concat_ws(
        "\n",
        F.lit("HOME | PRODUCTS | ABOUT | CONTACT"),
        F.concat(
            F.lit("Category "),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(" bestsellers"),
        ),
        F.substring("text", 1, 80),
        F.substring("text", 81, 80),
        F.lit("(c) 2024 Example Corp - All rights reserved"),
    )
    docs = d.select("doc_id", page.alias("text"))
    return CUR.line_dedup(docs, "doc_id", "text", max_df=20)


def _q_decontaminate(spark, sf):
    """Benchmark decontamination: docs with doc_id % 37 == 0 stand in for
    a held-out eval set; the rest of the corpus is flagged by distinct
    word-3-gram overlap (real deployments use 8-13-grams; 3 keeps the
    word-salad fixture's overlap distribution informative)."""
    d = _t(spark, sf, "documents")
    bench = d.where(F.col("doc_id") % 37 == 0)
    corpus = d.where(F.col("doc_id") % 37 != 0)
    return CUR.decontaminate(corpus, bench, "doc_id", "text", n=3, min_overlap=5)


_MIX_BUDGETS = {f"src{i}": 2000 + 500 * i for i in range(19)}  # src19 unbudgeted


def _mixture_oracle(exact: bool) -> str:
    """Replays operators/sampling.mixture_sample{,_rate}: the budget map as
    a VALUES list, the md5-60 doc_id hash, and either the hash-ordered
    prefix sum (exact) or the least(1, budget/total) hash threshold
    (rate). 2^60 is a power of two, so the double-precision threshold
    compare rounds identically in both engines."""
    values = ", ".join(f"('{s}', {b})" for s, b in _MIX_BUDGETS.items())
    base = f"""
        WITH h AS (
          SELECT doc_id, source, n_chars,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                      AS BIGINT) AS hk
          FROM documents),
        b(source, budget) AS (VALUES {values})"""
    if exact:
        return base + """,
        c AS (
          SELECT h.doc_id, h.source, h.n_chars, b.budget,
                 sum(n_chars) OVER (
                   PARTITION BY h.source ORDER BY hk, doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
          FROM h JOIN b USING (source))
        SELECT doc_id, source, n_chars, cum_tokens
        FROM c WHERE cum_tokens - n_chars < budget
        """
    return base + """,
        t AS (SELECT source, sum(n_chars) AS total FROM h GROUP BY 1),
        r AS (
          SELECT t.source,
                 least(1.0, CAST(b.budget AS DOUBLE) / CAST(t.total AS DOUBLE))
                   AS rate
          FROM t JOIN b USING (source))
        SELECT h.doc_id, h.source, h.n_chars
        FROM h JOIN r USING (source)
        WHERE CAST(hk AS DOUBLE) < rate * 1152921504606846976.0
        """


def _unimax_oracle(budget: int, epoch_cap: int, sample: bool) -> str:
    """Replays operators/sampling.unimax_allocate (+ unimax_sample): the
    per-source totals, the capacity-ascending closed-form water-filling
    prefix test (all-integer compares), the single BIGINT/BIGINT double
    division for the uncapped share, and — for the sample — the
    floor/frac split with the md5-60 hash gate. Every float the two
    engines compare is produced by the same operation sequence, so the
    replay is bit-identical."""
    base = f"""
        WITH tot AS (
          SELECT source,
                 CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS avail_tokens,
                 {epoch_cap} * CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT)
                   AS capacity
          FROM documents GROUP BY 1),
        rk AS (
          SELECT source, avail_tokens, capacity,
                 row_number() OVER (ORDER BY capacity, source) AS j,
                 COALESCE(sum(capacity) OVER (
                   ORDER BY capacity, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS pfx,
                 count(*) OVER () AS n
          FROM tot),
        fl AS (
          SELECT *,
                 capacity * (n - j + 1) <= {budget} - pfx AS capped
          FROM rk),
        st AS (
          SELECT *,
                 max(CASE WHEN capped THEN j ELSE 0 END) OVER () AS jstar,
                 max(CASE WHEN capped THEN pfx + capacity ELSE 0 END) OVER ()
                   AS capped_sum
          FROM fl),
        alloc AS (
          SELECT source, avail_tokens, capacity,
                 CASE WHEN j <= jstar THEN CAST(capacity AS DOUBLE)
                      ELSE CAST({budget} - capped_sum AS DOUBLE)
                           / CAST(n - jstar AS DOUBLE) END AS allocated
          FROM st)"""
    if not sample:
        return base + """
        SELECT source, avail_tokens, capacity, allocated,
               allocated / CAST(avail_tokens AS DOUBLE) AS epochs
        FROM alloc
        """
    return base + """,
        r AS (
          SELECT source,
                 CAST(floor(allocated / CAST(avail_tokens AS DOUBLE))
                      AS BIGINT) AS fullc,
                 allocated / CAST(avail_tokens AS DOUBLE)
                   - floor(allocated / CAST(avail_tokens AS DOUBLE)) AS frac
          FROM alloc),
        d AS (
          SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                      AS BIGINT) AS hk
          FROM documents)
        SELECT doc_id, source, n_chars, n_copies FROM (
          SELECT d.doc_id, d.source, d.n_chars,
                 CAST(r.fullc + CASE WHEN CAST(d.hk AS DOUBLE)
                        < r.frac * 1152921504606846976.0
                      THEN 1 ELSE 0 END AS INT) AS n_copies
          FROM d JOIN r USING (source))
        WHERE n_copies > 0
        """


def _q_mixture_sample(spark, sf):
    """Exact token-budgeted mixture sampling: per-source char budgets in
    deterministic md5-60 hash order (prefix-sum window); src19 has no
    budget and must vanish from the mixture."""
    d = _t(spark, sf, "documents")
    return SAMP.mixture_sample(
        d.select("doc_id", "source", "n_chars"),
        "doc_id", "source", "n_chars", _MIX_BUDGETS,
    ).select("doc_id", "source", "n_chars", "cum_tokens")


def _q_mixture_rate(spark, sf):
    """Sort-free scale-path variant: per-source keep-rate from one tiny
    aggregate, then a hash-threshold scan filter (no per-source sort)."""
    d = _t(spark, sf, "documents")
    return SAMP.mixture_sample_rate(
        d.select("doc_id", "source", "n_chars"),
        "doc_id", "source", "n_chars", _MIX_BUDGETS,
    ).select("doc_id", "source", "n_chars")


_UNIMAX_ALLOC = dict(budget=280_000, epoch_cap=2)
_UNIMAX_SAMPLE = dict(budget=130_000, epoch_cap=1)


def _q_unimax_alloc(spark, sf):
    """UniMax water-filling allocation (Chung et al. 2023): per-source
    token quota under a total budget and an epoch cap, small sources
    capped at epoch_cap passes, the freed budget redistributed evenly.
    Closed-form prefix test on the capacity-ascending order — all-integer
    boundary decisions, one corpus hash-agg then sources-sized math."""
    d = _t(spark, sf, "documents")
    return SAMP.unimax_allocate(
        d.select("source", F.col("n_chars").cast("long").alias("n_chars")),
        "source", "n_chars", **_UNIMAX_ALLOC,
    ).select("source", "avail_tokens", "capacity", "allocated", "epochs")


def _q_unimax_sample(spark, sf):
    """Apply a UniMax allocation to documents: floor(epochs) guaranteed
    copies per doc plus one hash-gated fractional copy, kept as an
    n_copies COLUMN (no explode) behind a tiny broadcast of rates."""
    d = _t(spark, sf, "documents")
    return SAMP.unimax_sample(
        d.select("doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")),
        "doc_id", "source", "n_chars", **_UNIMAX_SAMPLE,
    ).select("doc_id", "source", "n_chars", "n_copies")


def _q_chunk_documents(spark, sf):
    """RAG-style sliding-window chunking: 64-token windows, stride 48
    (overlap 16). Narrow plan — the chunk explosion runs on scan
    partitions, no shuffle."""
    d = _t(spark, sf, "documents")
    return SAMP.chunk_documents(d, "doc_id", "text", chunk_tokens=64, stride=48)


def _q_semantic_dedup(spark, sf):
    """SemDeDup pairs: IVF-cell partition + within-cell cosine >= 0.99.
    Five planted exact copies (vec_id+1e6, same trick as cosine_near_dups)
    guarantee same-cell sim-1.0 pairs; the seeded quantizer is replayed
    literally by the oracle."""
    e = _t(spark, sf, "embeddings")
    extra = e.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    u = e.select("vec_id", "embedding").unionByName(extra)
    cents = IVF.seeded_centroids(16, 64, 42)
    return IVF.semantic_dedup_pairs(
        u, "vec_id", "embedding", cents, threshold=0.99
    )


def _semantic_dedup_oracle(
    threshold: float = 0.99, n_cells: int = 16, dim: int = 64, seed: int = 42
) -> str:
    """Replays semantic_dedup_pairs: the seeded centroid literals, the
    -2·v·c + ||c||² assignment with stable cell tie-break (same as
    _ivf_topk_oracle), the within-cell self-join, and the unrounded
    threshold filter before the 4-decimal rounding."""
    from unified_ocr_pipeline_spark.operators.ivf import seeded_centroids

    cents = seeded_centroids(n_cells, dim, seed)
    values = ",\n            ".join(
        f"({cid}, [{', '.join(repr(x) for x in cv)}]::DOUBLE[])"
        for cid, cv in enumerate(cents)
    )
    return f"""
        WITH cents AS (
          SELECT cid, cv, list_dot_product(cv, cv) AS c2
          FROM (VALUES
            {values}) AS t(cid, cv)),
        u AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000 AS vec_id, embedding
          FROM embeddings WHERE vec_id < 5),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM u),
        scored AS (
          SELECT e.vec_id, e.v, cents.cid,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY -2 * list_dot_product(e.v, cents.cv) + cents.c2,
                            cents.cid) AS crn
          FROM e CROSS JOIN cents),
        assign AS (SELECT vec_id, v, cid AS cell FROM scored WHERE crn = 1),
        p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell,
                 list_cosine_similarity(a.v, b.v) AS s
          FROM assign a JOIN assign b
            ON a.cell = b.cell AND a.vec_id < b.vec_id)
        SELECT id_a, id_b, round(s, 4) AS sim, CAST(cell AS INT) AS cell
        FROM p WHERE s >= {threshold}
    """


def _q_snapshot_diff(spark, sf):
    """CDC diff between two crawl 'snapshots' (first vs second half of the
    events stream): per-user behavioral fingerprint compared across a
    full-outer join (operators/diff.py)."""
    ev = _t(spark, sf, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    fp = F.array_join(F.array_sort(F.collect_set("event_type")), ",")
    old = ev.where(F.col("ts") < cut).groupBy("user_id").agg(fp.alias("fp"))
    new = ev.where(F.col("ts") >= cut).groupBy("user_id").agg(fp.alias("fp"))
    return DIFF.snapshot_diff(old, new, ["user_id"], "fp")


def _q_label_prop(spark, sf):
    """Fixed-3-iteration synchronous label propagation over the parsed
    link graph (Raghavan et al. 2007 community detection; undirected
    simple graph, most-frequent-neighbor-label updates with min-label
    tie-break). The oracle replays the edge formula AND all three
    vote/argmax rounds as chained CTEs."""
    from unified_ocr_pipeline_spark.operators import linkgraph as LG

    d = _t(spark, sf, "documents")
    edges = LG.outlink_edges(_synthetic_link_pages(d), "url", "html").select(
        "src_url", F.regexp_extract("href", r"^https?://([^/?#]+)", 1).alias("dst_host")
    )
    return LG.label_propagation(edges, "src_url", "dst_host", iterations=3)


def _q_html_tables(spark, sf):
    """WebTables-style structured-table mining: three formulaic page
    shapes (a th+td table with attribute/case noise, a two-table page
    with inner markup + ragged rows, and a table-free page) through the
    pure-JVM regex fan-out (table -> tr -> td/th posexplodes). The
    oracle predicts every (table, row, col, cell) tuple from the
    synthesis formula — no regex on the oracle side."""
    from unified_ocr_pipeline_spark.operators import metadata as MD

    d = _t(spark, sf, "documents")
    m = F.col("doc_id") % 3
    sid = F.col("doc_id").cast("string")
    html = (
        F.when(
            m == 0,
            F.concat(
                F.lit('<HTML><body><TABLE class="data"><TR><TH>name</TH>'
                      '<TH id="x">value</TH></TR><tr><td> alpha '),
                sid,
                F.lit(" </td><td><b>beta</b> "),
                sid,
                F.lit("</td></tr></TABLE></body></HTML>"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("<html><table><tr><td>solo "),
                sid,
                F.lit("</td></tr></table><p>mid</p><table><tr><td>a\n b"
                      "</td><td>c</td></tr><tr><td>d "),
                sid,
                F.lit("</td></tr></table></html>"),
            ),
        )
        .otherwise(
            F.concat(F.lit("<html><body><p>no tables "), sid, F.lit("</p></body></html>"))
        )
    )
    pages = d.select(
        F.concat(F.lit("http://t"), sid, F.lit(".example.com/p")).alias("url"),
        html.alias("html"),
    )
    return MD.page_tables(pages)


def _q_dom_skeleton(spark, sf):
    """Per-host structural-template census over the DOM skeleton hash
    (opening-tag-sequence md5): three formulaic skeleton classes spread
    across seven hosts, through the pure-JVM skeleton_key + one
    (host, skeleton) hash-agg + host window. The oracle predicts each
    class's tag sequence and recomputes the md5 itself."""
    from unified_ocr_pipeline_spark.operators import metadata as MD

    d = _t(spark, sf, "documents")
    m = F.col("doc_id") % 3
    sid = F.col("doc_id").cast("string")
    html = (
        F.when(
            m == 0,
            F.concat(
                F.lit("<html><head><title>x</title></head><body><div><p>t "),
                sid,
                F.lit("</p></div></body></html>"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("<html><body><article><h1>h</h1><p>a "),
                sid,
                F.lit("</p><p>b</p></article></body></html>"),
            ),
        )
        .otherwise(
            F.concat(F.lit("<HTML><Body><UL><LI>i "), sid, F.lit("</LI></UL></Body></HTML>"))
        )
    )
    pages = d.select(
        F.concat(
            F.lit("http://t"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p"),
            sid,
        ).alias("url"),
        html.alias("html"),
    )
    return MD.template_profile(pages)


def _q_proto_prune(spark, sf):
    """Prototypicality pruning (Sorscher et al. 2022): cosine to the own
    seeded-quantizer centroid, keep the hardest half of every cell. The
    oracle replays the centroid literals, the assignment, the cosine,
    and both windows (rank + ceil cutoff) with the identical rounded-sim
    + id tie-break."""
    e = _t(spark, sf, "embeddings")
    cents = IVF.seeded_centroids(16, 64, 42)
    return IVF.prototypicality_prune(
        e, "vec_id", "embedding", cents, keep_frac=0.5, keep="hard"
    )


def _q_stupid_backoff(spark, sf):
    """Stupid Backoff bigram LM scoring (Brants et al. 2007 §4, THE
    web-scale distributed LM): train unigram+bigram count tables on the
    deterministic md5-60 quarter-sample (bigram count-cutoff 2), then
    score every document's mean log S where S backs off bigram→unigram→
    1/N with alpha=0.4. The model stays a DISTRIBUTED relation — scoring
    is explode + two shuffle joins on the token keys + one doc-keyed
    agg, never a broadcast of corpus-scaled state (the deliberate
    contrast with lm_perplexity's broadcast unigram dict). The oracle
    replays sample, tokenization, cutoff, backoff cases and float op
    order exactly."""
    from unified_ocr_pipeline_spark.operators import lm as LM

    d = _t(spark, sf, "documents")
    uni, big, n = LM.stupid_backoff_train(
        d, "text", "doc_id", sample_mod=4, bigram_min_count=2
    )
    return LM.stupid_backoff_score(d, uni, big, n, "text", "doc_id")


def _q_shard_manifest(spark, sf):
    """Training-shard writer manifest: md5-60(id) % 16 shard assignment,
    within-shard order (hash, id) — the deterministic global shuffle a
    trainer streams — and one manifest row per shard with doc count,
    token sum (n_chars here) and an ORDER-SENSITIVE md5 roster
    fingerprint. One shard-keyed hash agg carrying ids, not payloads.
    The oracle rebuilds every fingerprint with string_agg ORDER BY the
    identical (hash, id) key, so a dropped/duplicated/reordered doc
    in either engine flips the hash."""
    from unified_ocr_pipeline_spark.operators import shards as SH

    d = _t(spark, sf, "documents")
    return SH.shard_manifest(d, "doc_id", n_shards=16, size_col="n_chars")


def _q_hrw_rebalance(spark, sf):
    """Rendezvous (HRW) sharding resize report 8 → 10 shards: per doc
    the argmin-weight shard under both counts and whether it moved.
    Pure JVM projection (transform over a shard-sized sequence +
    array_min), zero shuffles — the growth property (movers only land
    on NEW shards, expected moved fraction (n_to-n_from)/n_to vs
    (n-1)/n for modulo) is asserted in tests/test_shards_lm.py. Oracle
    replays the weight formula and argmin via a range cross join +
    row_number."""
    from unified_ocr_pipeline_spark.operators import shards as SH

    d = _t(spark, sf, "documents")
    return SH.hrw_rebalance(d, "doc_id", n_from=8, n_to=10)


def _q_winnow_pairs(spark, sf):
    """Winnowing (Schleimer/Wilkerson/Aiken 2003, the MOSS algorithm):
    per-doc distinct window-min k-gram hashes over the 400-char prefix,
    then verbatim-overlap pairs sharing >= 2 fingerprints — the
    exact-substring complement to MinHash (resemblance) and SimHash
    (near-cosine); any shared run >= k+window-1 chars is guaranteed a
    shared fingerprint. Fingerprinting is ONE narrow JVM projection
    (transform + windowed array_min, no Python); pairing reuses the
    ngram_jaccard topology with the over-threshold flood set broadcast
    and anti-joined. The oracle replays gram hashes, window mins,
    distinct, flood prune and the pair agg bit-for-bit."""
    from unified_ocr_pipeline_spark.operators import dedup as DD

    d = _t(spark, sf, "documents").where(F.col("doc_id") < 150)
    return DD.winnow_pairs(
        d, "doc_id", "text", k=8, window=4, prefix_chars=400,
        min_shared=3, max_fp_df=20,
    )


def _q_readability(spark, sf):
    """Flesch reading ease + Flesch-Kincaid grade over the REAL document
    text: words / sentence-terminator runs / vowel-run syllables, all
    single codegen regexp counts. The oracle recomputes the three
    counts with the identical Java∩RE2 regexes and replays the float-op
    order exactly (round-4 canon)."""
    d = _t(spark, sf, "documents")
    return d.select("doc_id", *TX.readability_cols(F.col("text")))


def _q_yule_k(spark, sf):
    """Yule's K lexical diversity per document (frequency-spectrum
    repetitiveness — template/generated text scores high): explode →
    ONE (doc,token) hash-agg → ONE doc agg, integer math to the end.
    The oracle replays tokenization and both aggregations."""
    from unified_ocr_pipeline_spark.operators import stats as ST

    return ST.lexical_diversity(_t(spark, sf, "documents"))


def _q_degree_dist(spark, sf):
    """In-degree distribution of the parsed link graph (power-law
    histogram, the Broder et al. 2000 crawl diagnostic) through the
    REAL HTML parse: two back-to-back hash-aggs, histogram keyed by
    degree. The oracle replays the link formula and both aggs."""
    from unified_ocr_pipeline_spark.operators import linkgraph as LG

    d = _t(spark, sf, "documents")
    edges = LG.outlink_edges(_synthetic_link_pages(d), "url", "html").select(
        "src_url",
        F.regexp_extract("href", r"^https?://([^/?#]+)", 1).alias("dst_host"),
    )
    return LG.degree_histogram(edges, "dst_host")


def _q_curation_funnel(spark, sf):
    """Cumulative survivor counts through the canonical curation chain
    (input → English → Gopher gates → C4 line-clean → exact dedup) in
    ONE scan + ONE global aggregate (count-distinct rides the same
    reduction), fanned out to stage rows. The oracle recomputes every
    gate from the raw text with the shared SQL fragments."""
    return CUR.curation_funnel(_t(spark, sf, "documents"))


def _q_feed_entries(spark, sf):
    """RSS/Atom feed round trip (the crawl-discovery channel with
    minutes-not-days freshness): build one feed per host from a formula
    — hosts cycle RSS <item> / Atom <link href=""/> / empty — parse
    with the tolerant tag scanner, emit per-entry rows. The oracle
    predicts ordinal, link, published and guid straight from the
    formula, covering both link syntaxes and the empty-feed marker."""
    from unified_ocr_pipeline_spark.sources import feeds as FD

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    fid = did % 10
    m = fid % 3
    dd = F.lpad(((did % 28) + 1).cast("string"), 2, "0")
    link = F.concat(
        F.lit("http://h"), fid.cast("string"), F.lit(".example.com/a/"),
        did.cast("string"),
    )
    rss = F.concat(
        F.lit("<item><title>T"), did.cast("string"), F.lit("</title><link>"),
        link, F.lit("</link><pubDate>2024-02-"), dd,
        F.lit("</pubDate><guid>g"), did.cast("string"), F.lit("</guid></item>"),
    )
    atom = F.concat(
        F.lit("<entry><title>T"), did.cast("string"),
        F.lit('</title><link href="'), link,
        F.lit('"/><updated>2024-02-'), dd, F.lit("</updated><id>g"),
        did.cast("string"), F.lit("</id></entry>"),
    )
    entry = F.when(m == 0, rss).when(m == 1, atom).otherwise(F.lit(""))
    bodies = (
        d.select(
            fid.alias("file_id"), F.struct(did, entry.alias("e")).alias("s")
        )
        .groupBy("file_id")
        .agg(F.array_sort(F.collect_list("s")).alias("arr"))
        .select(
            "file_id",
            F.concat(
                F.lit('<?xml version="1.0"?><feed>'),
                F.aggregate(
                    "arr", F.lit(""), lambda acc, x: F.concat(acc, x["e"])
                ),
                F.lit("</feed>"),
            ).alias("body"),
        )
    )
    return FD.feed_entries(bodies, "file_id", "body")


def _q_component_sizes(spark, sf):
    """Cluster-size histogram over the planted-copy MinHash components
    (the dedup audit artifact: how many pairs/triples/mega-clusters did
    LSH find? a fat tail means a boilerplate flood). Components via
    pointer-jumping CC, then two tiny hash-aggs; the oracle replays the
    recursive-CTE reachability and both counts."""
    base = _t(spark, sf, "documents").select("doc_id", "text")
    d = base.where(F.col("doc_id") < 50)
    copies = base.where(F.col("doc_id") < 5)
    corpus = d.unionByName(
        copies.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    ).unionByName(
        copies.select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    )
    sigs = DD.minhash_signatures(corpus, "doc_id", "text", num_hashes=32)
    pairs = DD.minhash_lsh_pairs(sigs, num_hashes=32, num_bands=8, threshold=0.5)
    comp = CC.dedup_clusters(corpus, pairs, "doc_id")
    return (
        comp.groupBy("component")
        .agg(F.count("*").alias("csize"))
        .groupBy("csize")
        .agg(F.count("*").cast("long").alias("n_components"))
        .select(F.col("csize").cast("long").alias("csize"), "n_components")
    )


def _q_date_mentions(spark, sf):
    """Publication-date mining: bodies carry a formula date in one of
    three formats (ISO / US-slash / long-form month name), one class
    planted invalid (2024-99-99) — Spark must extract with the regex
    AND calendar-validate with try_to_date (ANSI-safe NULL, not a job
    abort). The oracle predicts mention/format/normalized date from the
    formula, including the invalid-ISO NULL."""
    from unified_ocr_pipeline_spark.functions import dates as DT

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    m = did % 3
    dd = (did % 28) + 1
    mention = (
        F.when(
            (m == 0) & (did % 5 == 0), F.lit("2024-99-99")
        )
        .when(m == 0, F.concat(F.lit("2024-03-"), F.lpad(dd.cast("string"), 2, "0")))
        .when(m == 1, F.concat(F.lit("03/"), F.lpad(dd.cast("string"), 2, "0"), F.lit("/2024")))
        .otherwise(F.concat(F.lit("March "), dd.cast("string"), F.lit(", 2024")))
    )
    body = F.concat(F.lit("Published on "), mention, F.lit(" by staff."))
    cols = DT.date_mention_cols(body)
    # date rendered as ISO string at the comparison boundary: pandas
    # materializes a NULL DATE as NaT on the DuckDB side but None on
    # the Spark side, which the value-hash canon treats differently
    return d.select(
        "doc_id", cols[0], cols[1], cols[2].cast("string").alias("date_norm")
    )


def _q_psi_drift(spark, sf):
    """Population-Stability-Index drift between two crawl batches (even
    doc_ids = reference; odd doc_ids truncated to n_chars <= 300 =
    drifted current): fixed-width histogram per side (one scan each),
    tiny full-outer join, one PSI row per column. The oracle replays
    bucket arithmetic, the eps floor, and the (p-q)·ln(p/q) sum."""
    from unified_ocr_pipeline_spark.operators import stats as ST

    d = _t(spark, sf, "documents")
    ref = d.where(F.col("doc_id") % 2 == 0)
    cur = d.where((F.col("doc_id") % 2 == 1) & (F.col("n_chars") <= 300))
    return ST.psi_drift(
        ref, cur, ["n_chars"], {"n_chars": (0, 600)}, n_buckets=10
    )


def _q_strand_pairs(spark, sf):
    """STRAND URL-structure bitext candidates (Resnik & Smith 2003):
    urls synthesized as http://site{g}.example.com/{lang}/p{k} with the
    lang cycling en/fr/de — pages sharing (host, lang-stripped path)
    across languages pair up. One key-keyed join after per-(key,lang)
    min-url collapse; the oracle replays the strip regex and the
    pivot-vs-rest join."""
    from unified_ocr_pipeline_spark.operators import bitext as BT

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    lang = (
        F.when(did % 3 == 0, F.lit("en"))
        .when(did % 3 == 1, F.lit("fr"))
        .otherwise(F.lit("de"))
    )
    pages = d.select(
        F.concat(
            F.lit("http://site"), (did % 7).cast("string"),
            F.lit(".example.com/"), lang, F.lit("/p"),
            (did % 40).cast("string"),
        ).alias("url"),
        lang.alias("lang"),
    )
    return BT.strand_url_pairs(pages, "url", "lang", pivot_lang="en")


def _q_luhn_cards(spark, sf):
    """Payment-card scrub with ISO 7812 Luhn validation: bodies carry a
    16-digit formula number (~10% pass the checksum) — the engine must
    count candidates, validate the check digit with pure array
    arithmetic, and redact ONLY valid numbers (bare-regex scrubs drown
    in order-id false positives). The oracle recomputes the Luhn sum
    digit-by-digit in SQL over the same candidate."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    num = F.concat(
        F.lpad((did * 7919 % 1000000000000000).cast("string"), 15, "0"),
        (did % 10).cast("string"),
    )
    body = F.concat(F.lit("Order ref "), num, F.lit(" was charged."))
    n_cand, n_valid = PII.card_mentions(body)
    return d.select(
        "doc_id",
        n_cand.alias("n_candidates"),
        n_valid.alias("n_valid"),
        PII.redact_cards(body).alias("redacted"),
    )


def _q_char_entropy(spark, sf):
    """Shannon character entropy per document (gibberish detector —
    base64/mash runs high, padding spam runs low): explode to chars,
    ONE alphabet-bounded (doc,char) hash-agg, ONE doc agg via the
    ln(N) - Σc·ln(c)/N identity. The oracle replays tokenization and
    the identity, banding on the rounded value."""
    from unified_ocr_pipeline_spark.operators import stats as ST

    return ST.char_entropy(_t(spark, sf, "documents"))


def _q_mad_outliers(spark, sf):
    """Robust per-source page-size outliers via median/MAD (50%
    breakdown point — a few megapage outliers can't mask themselves by
    inflating a stddev): two group aggregates with exact interpolated
    percentile, broadcast back. The oracle replays quantile_cont and
    the k·MAD flag."""
    from unified_ocr_pipeline_spark.operators import stats as ST

    d = _t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return ST.mad_outliers(d, "source", "n_chars", k=3.0)


def _q_hreflang_graph(spark, sf):
    """Declared translation graph: heads carry hreflang alternates by
    class (m=0 three langs, m=1 en + x-default, m=2 none) — parsed with
    the real attribute-anchored regex fan-out on scan partitions. The
    oracle predicts every (url, ord, hreflang, alt_url) edge from the
    formula, m=2 pages contributing nothing."""
    from unified_ocr_pipeline_spark.operators import metadata as MD

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    m = did % 3
    g = (did % 7).cast("string")
    sid = did.cast("string")

    def link(lang):
        return F.concat(
            F.lit('<link rel="alternate" hreflang="'), F.lit(lang),
            F.lit('" href="http://s'), g, F.lit(".example.com/"),
            F.lit(lang), F.lit("/p"), sid, F.lit('"/>'),
        )

    head = (
        F.when(m == 0, F.concat(link("en"), link("fr"), link("de")))
        .when(m == 1, F.concat(link("en"), link("x-default")))
        .otherwise(F.lit(""))
    )
    pages = d.select(
        F.concat(F.lit("http://s"), g, F.lit(".example.com/p"), sid).alias("url"),
        F.concat(F.lit("<html><head>"), head, F.lit("</head><body/></html>")).alias("html"),
    )
    return MD.hreflang_graph(pages)


def _q_og_cards(spark, sf):
    """OpenGraph card extraction: og:title always, og:type only on even
    ids, og:image never — four codegen regexp_extracts with the
    empty→NULL normalization. The oracle predicts each column per
    class."""
    from unified_ocr_pipeline_spark.operators import metadata as MD

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    sid = did.cast("string")
    url = F.concat(F.lit("http://s"), (did % 7).cast("string"), F.lit(".example.com/p"), sid)
    og_type = F.when(
        did % 2 == 0, F.lit('<meta property="og:type" content="article"/>')
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit('<html><head><meta property="og:title" content="T'), sid,
        F.lit('"/>'), og_type,
        F.lit('<meta property="og:url" content="'), url,
        F.lit('"/></head><body/></html>'),
    )
    return MD.og_cards(d.select(url.alias("url"), html.alias("html")))


def _q_feed_discovery(spark, sf):
    """Feed autodiscovery: heads declare rss/atom/both/none by class;
    the attribute-anchored regex fan-out finds (type, href) per page.
    The oracle predicts every link from the formula."""
    from unified_ocr_pipeline_spark.operators import metadata as MD

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    m = did % 4
    sid = did.cast("string")
    url = F.concat(F.lit("http://s"), (did % 7).cast("string"), F.lit(".example.com/p"), sid)
    rss = F.concat(
        F.lit('<link rel="alternate" type="application/rss+xml" href="http://s'),
        (did % 7).cast("string"), F.lit(".example.com/feed"), F.lit('"/>'),
    )
    atom = F.concat(
        F.lit('<link rel="alternate" type="application/atom+xml" href="http://s'),
        (did % 7).cast("string"), F.lit(".example.com/atom"), F.lit('"/>'),
    )
    head = (
        F.when(m == 0, rss)
        .when(m == 1, atom)
        .when(m == 2, F.concat(rss, atom))
        .otherwise(F.lit(""))
    )
    pages = d.select(
        url.alias("url"),
        F.concat(F.lit("<html><head>"), head, F.lit("</head></html>")).alias("html"),
    )
    return MD.feed_discovery(pages)


def _q_invisible_chars(spark, sf):
    """Trojan-Source hygiene: bodies planted per class with zero-width
    padding (m=1, the exact-dedup-evasion trick), an RTL override pair
    (m=2), or nothing (m=0) — counted, flagged, and stripped with one
    codegen char class each. The oracle plants the identical
    codepoints with chr() and replays counts/strip."""
    from unified_ocr_pipeline_spark.functions import normalize as NZ

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    m = did % 3
    sid = did.cast("string")
    body = (
        F.when(
            m == 1,
            F.concat(
                F.lit("pay"), F.lit("\u200b"), F.lit("load "), sid, F.lit("\ufeff")
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("user "), F.lit("\u202e"), F.lit("cba"), F.lit("\u202c"),
                F.lit(" "), sid,
            ),
        )
        .otherwise(F.concat(F.lit("clean text "), sid))
    )
    zw, bidi = NZ.invisible_counts(body)
    return d.select(
        "doc_id",
        zw.alias("n_zero_width"),
        bidi.alias("n_bidi"),
        ((zw > 0) | (bidi > 0)).alias("flagged"),
        NZ.strip_invisible(body).alias("cleaned"),
    )


def _q_code_switch(spark, sf):
    """Code-switching detection: multi-line bodies per class (all-en
    with an und digits line / en-de alternation / en-en-fr) — per-LINE
    stopword votes via array lambdas, switches counted between decided
    lines. The oracle predicts the whole profile per class."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    m = did % 3
    sid = did.cast("string")
    en = F.concat(F.lit("the cat and a dog is here "), sid)
    de = F.lit("der hund und die katze ist da")
    fr = F.lit("le chat et la vache est dans")
    und = F.lit("12345 67890")
    body = (
        F.when(m == 0, F.concat_ws("\n", en, und, en))
        .when(m == 1, F.concat_ws("\n", en, de, en, de))
        .otherwise(F.concat_ws("\n", en, en, fr, und))
    )
    return d.select("doc_id", *TX.code_switch_cols(body))


def _q_quality_calibration(spark, sf):
    """Reliability table: LR quality score buckets vs the Gopher
    rule-gate as weak label — ONE scan + ONE 10-row bucket agg over the
    REAL text. The oracle recomputes both signals from their shared
    shape CTEs and replays the bucket aggregation."""
    from unified_ocr_pipeline_spark.operators import evaluate as EV

    return EV.quality_calibration(_t(spark, sf, "documents"))


def _q_kmv_merge(spark, sf):
    """KMV mergeability — the law that makes sketches the right
    statistics for incremental crawl batches: sketch(even docs) ∪
    sketch(odd docs), re-topped to k, must equal the direct sketch of
    the whole set, and so must its distinct estimate. No cross join:
    the two sketches are tagged, unioned, and pivoted in one agg. The
    oracle replays both constructions and the (k-1)·2^60/h_k
    estimate."""
    from unified_ocr_pipeline_spark.operators.sampling import kmv_merge, kmv_sketch

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("key"),
    )
    k = 64
    ev = kmv_sketch(d.where(F.col("doc_id") % 2 == 0), "key", k=k)
    od = kmv_sketch(d.where(F.col("doc_id") % 2 == 1), "key", k=k)
    merged = kmv_merge([ev, od], k=k)
    direct = kmv_sketch(d, "key", k=k)
    tagged = merged.select(F.lit("merged").alias("side"), "h").unionByName(
        direct.select(F.lit("direct").alias("side"), "h")
    )
    per = tagged.groupBy("side").agg(
        F.count("*").alias("n_kept"), F.max("h").alias("hk")
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(
        (F.lit(float(k - 1)) * F.lit(float(2**60))) / F.col("hk")
    )
    scored = per.select("side", "n_kept", F.round(est, 4).alias("est"), "hk")
    return scored.agg(
        F.max(F.when(F.col("side") == "merged", F.col("n_kept"))).cast("int").alias("n_kept"),
        F.max(F.when(F.col("side") == "merged", F.col("est"))).alias("est_merged"),
        F.max(F.when(F.col("side") == "direct", F.col("est"))).alias("est_direct"),
        (
            F.max(F.when(F.col("side") == "merged", F.col("hk")))
            == F.max(F.when(F.col("side") == "direct", F.col("hk")))
        ).alias("merge_exact"),
    )


def _q_linkage_clusters(spark, sf):
    """End-to-end entity resolution: SNM blocking → normalized-
    Levenshtein verify → 'match' edges → pointer-jumping components →
    canonical per entity. The full dedupe-a-record-set loop in one
    query; the oracle chains the linkage CTEs into the recursive
    reachability + min-label + canonical pick."""
    d = _t(spark, sf, "documents")
    keyed = d.select(
        "doc_id",
        "lang",
        F.lower(
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 32)
        ).alias("title"),
    )
    pairs = DD.sorted_neighborhood_pairs(
        keyed, "doc_id", "title", window=3, block_col="lang"
    )
    verified = DD.edit_verified_pairs(
        pairs, "key_a", "key_b", match_threshold=0.85, possible_threshold=0.6
    )
    matches = verified.where(F.col("decision") == "match").select("id_a", "id_b")
    return CC.dedup_clusters(d.select("doc_id"), matches, "doc_id").select(
        "doc_id", "component", "is_canonical"
    )


def _q_sitemap_coverage(spark, sf):
    """Crawl-completeness audit: the SAME formula sitemaps as
    `sitemap_entries` parsed with the real tag scanner, joined against
    a formula crawl set (docs with doc_id % 3 != 0 fetched) → per-host
    declared/crawled/coverage. The oracle replays declaration, crawl
    subset, membership, and the rounded ratio."""
    from unified_ocr_pipeline_spark.sources import sitemap as SM

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    entry = F.concat(
        F.lit("<url><loc>http://h"), (did % 8).cast("string"),
        F.lit(".example.com/p/"), did.cast("string"),
        F.lit("</loc></url>"),
    )
    bodies = (
        d.select((did % 8).alias("file_id"), F.struct(did, entry.alias("e")).alias("s"))
        .groupBy("file_id")
        .agg(F.array_sort(F.collect_list("s")).alias("arr"))
        .select(
            "file_id",
            F.concat(
                F.lit("<urlset>"),
                F.aggregate("arr", F.lit(""), lambda acc, x: F.concat(acc, x["e"])),
                F.lit("</urlset>"),
            ).alias("body"),
        )
    )
    entries = SM.sitemap_entries(bodies, "file_id", "body")
    crawled = d.where(did % 3 != 0).select(
        F.concat(
            F.lit("http://h"), (did % 8).cast("string"),
            F.lit(".example.com/p/"), did.cast("string"),
        ).alias("url")
    )
    return SM.sitemap_coverage(entries, crawled)


def _q_lang_lr_train(spark, sf):
    """Trained multiclass language classifier (fastText-style softmax
    regression over the hashed char-n-gram embedding): zero init, 2
    fixed full-batch GD iterations, lr 1.0, round-9 updates, softmax
    denominator summed in sorted-class order — the oracle's CTE chain
    replays the identical float trajectory over the same projected
    features. Output is the (lang, feature, weight) artifact."""
    from unified_ocr_pipeline_spark.operators import featurize as FZ

    d = _t(spark, sf, "documents")
    W = FZ.lang_lr_train(
        d, "text", "lang", "doc_id", dim=8, n=3, iters=2, lr=1.0
    )
    fnames = ["bias"] + [f"e{j}" for j in range(8)]
    rows = [
        (c, f, float(round(W[c][f], 6)))
        for c in sorted(W)
        for f in fnames
    ]
    return spark.createDataFrame(rows, "lang string, feature string, weight double")


def _q_pii_extended(spark, sf):
    """IBAN (ISO 7064 mod-97 validated) + SSN-shaped id scrub: bodies
    plant a known-valid IBAN + structurally-valid SSN (m=0), shape-
    matching but INVALID ones (m=1 — wrong check digits / 666 area),
    a second valid IBAN country shape (m=2), or nothing (m=3). The
    engine must count candidates vs validated and redact ONLY the
    valid ones; the oracle predicts every column from the class."""
    from unified_ocr_pipeline_spark.functions import pii as PII

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    m = did % 4
    sid = did.cast("string")
    body = (
        F.when(m == 0, F.concat(
            F.lit("acct DE89370400440532013000 ssn 219-09-9999 ref "), sid))
        .when(m == 1, F.concat(
            F.lit("acct DE89370400440532013001 ssn 666-12-3456 ref "), sid))
        .when(m == 2, F.concat(
            F.lit("acct GB82WEST12345698765432 ref "), sid))
        .otherwise(F.concat(F.lit("clean note "), sid))
    )
    ic, iv = PII.iban_mentions(body)
    sc, sv = PII.ssn_mentions(body)
    return d.select(
        "doc_id",
        ic.alias("n_iban_cand"), iv.alias("n_iban_valid"),
        sc.alias("n_ssn_cand"), sv.alias("n_ssn_valid"),
        PII.redact_ssns(PII.redact_ibans(body)).alias("redacted"),
    )


def _q_quality_lr_train(spark, sf):
    """TRAINED quality classifier: full-batch GD logistic regression
    distilling the Gopher rule-gate into a smooth score over the shape
    features — zero init, 4 fixed iterations, lr 0.5, weights rounded
    to 9 decimals per update so the oracle's CTE chain walks the
    identical float trajectory. Output is the 7-row weight artifact."""
    from unified_ocr_pipeline_spark.operators import featurize as FZ

    d = _t(spark, sf, "documents")
    wts = FZ.quality_lr_train(d, "text", iters=4, lr=0.5)
    rows = [(f, float(round(wts[f], 6))) for f in FZ.QUALITY_FEATURES]
    return spark.createDataFrame(rows, "feature string, weight double")


def _q_curation_funnel_trained(spark, sf):
    """End-to-end train-AND-apply curation shape (the flagship
    composition ``examples/curate_job.py`` runs): distill the Gopher
    rule-gate into the trained quality LR (4 fixed GD iterations,
    round-9 updates — the oracle-replayable trajectory), then score
    EVERY document with the trained weights and gate at 0.5. One plan
    covers artifact training, broadcast of the driver-side weights as
    literals, and the codegen scoring column — the DuckDB oracle
    replays the identical trajectory and scores with the same
    w{iters} relation."""
    from unified_ocr_pipeline_spark.operators import featurize as FZ

    d = _t(spark, sf, "documents")
    wts = FZ.quality_lr_train(d, "text", iters=4, lr=0.5)
    score = FZ.quality_lr_score_trained(F.col("text"), wts)
    return d.select(
        "doc_id",
        score.alias("lr_score"),
        (score >= F.lit(0.5)).alias("keep"),
    )


def _q_lang_id_trained(spark, sf):
    """lang_id behind the U3 strategy seam, TRAINED route: train the
    softmax language LR on the corpus's own (text, lang) pairs, apply
    it via lang_lr_predict (argmax codegen column, ties to last class),
    label featurizer-dropped docs 'und', and emit the per-predicted-
    class confusion summary (n_docs, n_correct vs the stored label).
    The heuristic route stays the separate ``lang_id`` query — both
    strategies oracle-green behind one contract."""
    from unified_ocr_pipeline_spark.operators import featurize as FZ

    d = _t(spark, sf, "documents")
    # embed ONCE (persisted); training and prediction both read the same
    # materialized embedding table — the corpus-scale shape
    emb = FZ.text_embed(
        d, "text", "doc_id", dim=8, n=3, passthrough_cols=("lang",)
    ).persist()
    W = FZ.lang_lr_train(
        d, "text", "lang", "doc_id", dim=8, n=3, iters=2, lr=1.0,
        emb_df=emb,
    )
    pred = FZ.lang_id(
        d, "text", "doc_id", strategy="trained", weights=W, dim=8, n=3,
        emb_df=emb.select("doc_id", "emb"),
    )
    return (
        pred.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang_pred")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                (F.col("lang_pred") == F.col("lang")).cast("bigint")
            ).alias("n_correct"),
        )
    )


def _q_text_embed(spark, sf):
    """Deterministic hashed char-3-gram text embedding (the featurizer
    that makes the embedding-side family — semantic_dedup / ivf_topk /
    mine_bitext — runnable end-to-end from raw ``documents`` text):
    every gram md5-60-hashed to a (bucket, sign), bucket sums
    L2-normalized, one narrow Arrow pass, no shuffle. Exploded to
    (doc_id, dim, val) so the oracle replays the projection
    gram-by-gram in SQL (same md5-60, same integer bucket sums, same
    sqrt+divide)."""
    from unified_ocr_pipeline_spark.operators import featurize as FZ

    d = _t(spark, sf, "documents")
    emb = FZ.text_embed(d, "text", "doc_id", dim=16, n=3)
    return emb.select(
        "doc_id", F.posexplode("emb").alias("dim", "val")
    ).select(
        "doc_id",
        F.col("dim").cast("int").alias("dim"),
        F.round("val", 6).alias("val"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "text_embed": _q_text_embed,
        "quality_lr_train": _q_quality_lr_train,
        "lang_lr_train": _q_lang_lr_train,
        "curation_funnel_trained": _q_curation_funnel_trained,
        "lang_id_trained": _q_lang_id_trained,
        "pii_extended": _q_pii_extended,
        "flagship_lang_yield": _q_flagship_lang_yield,
        "scan_filter_project": _q_scan_filter_project,
        "token_stats": _q_token_stats,
        "lang_id": _q_lang_id,
        "quality_scores": _q_quality_scores,
        "fingerprint": _q_fingerprint,
        "exact_dedup": _q_exact_dedup,
        "regex_extract_first": _q_regex_extract_first,
        "regex_count": _q_regex_count,
        "ngram_jaccard": _q_ngram_jaccard,
        "snm_pairs": _q_snm_pairs,
        "linkage_verify": _q_linkage_verify,
        "minhash_dups": _q_minhash_dups,
        "minhash_error": _q_minhash_error,
        "dedup_clusters": _q_dedup_clusters,
        "leakage_split": _q_leakage_split,
        "temperature_mix": _q_temperature_mix,
        "incremental_dedup": _q_incremental_dedup,
        "simhash_dups": _q_simhash_dups,
        "embedding_topk": _q_embedding_topk,
        "embedding_lsh_topk": _q_embedding_lsh_topk,
        "ivf_topk": _q_ivf_topk,
        "stratified_sample": _q_stratified_sample,
        "quality_gate": _q_quality_gate,
        "pack_sequences": _q_pack_sequences,
        "vocab_topk": _q_vocab_topk,
        "cosine_near_dups": _q_cosine_near_dups,
        "sessionize": _q_sessionize,
        "topk_per_user": _q_topk_per_user,
        "tumbling_hour": _q_tumbling_hour,
        "event_case": _q_event_case,
        "json_props": _q_json_props,
        "pivot_events": _q_pivot_events,
        "q1_pricing": _q_q1_pricing,
        "broadcast_join_revenue": _q_broadcast_join_revenue,
        "anti_join_idle": _q_anti_join_idle,
        "semi_join_parts": _q_semi_join_parts,
        "except_lapsed_custs": _q_except_lapsed_custs,
        "intersect_buyers_clickers": _q_intersect_buyers_clickers,
        "union_doc_langs": _q_union_doc_langs,
        "asof_click_before_purchase": _q_asof_click_before_purchase,
        "range_join_clicks": _q_range_join_clicks,
        "combined_text_agg": _q_combined_text_agg,
        "span_offsets": _q_span_offsets,
        "po_cascade": _q_po_cascade,
        "dpas_multi": _q_dpas_multi,
        "clause_codes_sorted": _q_clause_codes_sorted,
        "value_percentiles": _q_value_percentiles,
        "moving_avg": _q_moving_avg,
        "dense_rank_spenders": _q_dense_rank_spenders,
        "cube_events": _q_cube_events,
        "rollup_docs": _q_rollup_docs,
        "order_months": _q_order_months,
        "gopher_quality": _q_gopher_quality,
        "word_conf_filter": _q_word_conf_filter,
        "ocr_quality_grades": _q_ocr_quality_grades,
        "strategy_routing": _q_strategy_routing,
        "ai_normalizer": _q_ai_normalizer,
        "url_canon": _q_url_canon,
        "surt_trap": _q_surt_trap,
        "normalize_text": _q_normalize_text,
        "domain_stats": _q_domain_stats,
        "pii_redact": _q_pii_redact,
        "repetition_collapse": _q_repetition_collapse,
        "line_dedup": _q_line_dedup,
        "decontaminate": _q_decontaminate,
        "mixture_sample": _q_mixture_sample,
        "mixture_rate": _q_mixture_rate,
        "unimax_alloc": _q_unimax_alloc,
        "unimax_sample": _q_unimax_sample,
        "chunk_documents": _q_chunk_documents,
        "semantic_dedup": _q_semantic_dedup,
        "snapshot_diff": _q_snapshot_diff,
        "pages_pipeline_yield": _q_pages_pipeline_yield,
        "multimodal_meta": _q_multimodal_meta,
        "media_decode_real": _q_media_decode_real,
        "audio_decode_real": _q_audio_decode_real,
        "video_decode_real": _q_video_decode_real,
        "bitext_mine": _q_bitext_mine,
        "image_dhash_dups": _q_image_dhash_dups,
        "page_metadata": _q_page_metadata,
        "canonical_collapse": _q_canonical_collapse,
        "dsir_weights": _q_dsir_weights,
        "reciprocity": _q_reciprocity,
        "soft404": _q_soft404,
        "sentence_stats": _q_sentence_stats,
        "mojibake": _q_mojibake,
        "sitemap_discovery": _q_sitemap_discovery,
        "refresh_schedule": _q_refresh_schedule,
        "html_markdown": _q_html_markdown,
        "c4_clean": _q_c4_clean,
        "split_assign": _q_split_assign,
        "substring_dup": _q_substring_dup,
        "tfidf_topk": _q_tfidf_topk,
        "bloom_anti_join": _q_bloom_anti_join,
        "bloom_membership": _q_bloom_membership,
        "bpe_tokenize": _q_bpe_tokenize,
        "bpe_fertility": _q_bpe_fertility,
        "cms_freq": _q_cms_freq,
        "quantize_embeddings": _q_quantize_embeddings,
        "bm25_topk": _q_bm25_topk,
        "inverted_index": _q_inverted_index,
        "script_detect": _q_script_detect,
        "pmi_bigrams": _q_pmi_bigrams,
        "justext_blocks": _q_justext,
        "lsh_pr": _q_lsh_pr,
        "column_stats": _q_column_stats,
        "zorder_key": _q_zorder_key,
        "cluster_subsample": _q_cluster_subsample,
        "kmv_jaccard": _q_kmv_jaccard,
        "kmv_distinct": _q_kmv_distinct,
        "mirror_hosts": _q_mirror_hosts,
        "url_templates": _q_url_templates,
        "co_citation": _q_co_citation,
        "host_lang_profile": _q_host_lang_profile,
        "boolean_and": _q_boolean_and,
        "outlink_domains": _q_outlink_domains,
        "pagerank": _q_pagerank,
        "trustrank": _q_trustrank,
        "approx_distinct": _q_approx_distinct,
        "funnel": _q_funnel,
        "salted_skew_join": _q_salted_skew_join,
        "hll_distinct": _q_hll_distinct,
        "priority_sample": _q_priority_sample,
        "anchor_text": _q_anchor_text,
        "lm_perplexity": _q_lm_perplexity,
        "containment": _q_containment,
        "quality_lr": _q_quality_lr,
        "hits_scores": _q_hits,
        "warc_segment": _q_warc_segment,
        "http_parse": _q_http_parse,
        "wet_wat_derive": _q_wet_wat,
        "redirect_chains": _q_redirect_chains,
        "robots_admission": _q_robots,
        "charset_transcode": _q_charset,
        "crawl_schedule": _q_crawl_schedule,
        "crawl_delay_schedule": _q_crawl_delay_schedule,
        "cdx_revisit": _q_cdx_revisit,
        "cdx_savings": _q_cdx_savings,
        "jsonld_extract": _q_jsonld,
        "cdx_incremental": _q_cdx_incremental,
        "ppl_buckets": _q_ppl_buckets,
        "meta_robots": _q_meta_robots,
        "block_gate": _q_block_gate,
        "zipf_slope": _q_zipf,
        "dup_segments": _q_dup_segments,
        "pq_topk": _q_pq_topk,
        "sitemap_entries": _q_sitemap,
        "frontier_bfs": _q_frontier,
        "extraction_f1": _q_extraction_f1,
        "label_prop": _q_label_prop,
        "html_tables": _q_html_tables,
        "dom_skeleton": _q_dom_skeleton,
        "proto_prune": _q_proto_prune,
        "stupid_backoff": _q_stupid_backoff,
        "shard_manifest": _q_shard_manifest,
        "hrw_rebalance": _q_hrw_rebalance,
        "winnow_pairs": _q_winnow_pairs,
        "readability": _q_readability,
        "yule_k": _q_yule_k,
        "degree_dist": _q_degree_dist,
        "curation_funnel": _q_curation_funnel,
        "feed_entries": _q_feed_entries,
        "component_sizes": _q_component_sizes,
        "date_mentions": _q_date_mentions,
        "psi_drift": _q_psi_drift,
        "strand_pairs": _q_strand_pairs,
        "luhn_cards": _q_luhn_cards,
        "char_entropy": _q_char_entropy,
        "mad_outliers": _q_mad_outliers,
        "hreflang_graph": _q_hreflang_graph,
        "og_cards": _q_og_cards,
        "feed_discovery": _q_feed_discovery,
        "invisible_chars": _q_invisible_chars,
        "code_switch": _q_code_switch,
        "quality_calibration": _q_quality_calibration,
        "kmv_merge": _q_kmv_merge,
        "linkage_clusters": _q_linkage_clusters,
        "sitemap_coverage": _q_sitemap_coverage,
    }


# ---------------------------------------------------------------------------
# oracle_sql — DuckDB mirrors (ANSI), aliases matched to the Spark side
# ---------------------------------------------------------------------------

# The near-dup / LSH oracles below replay the engine's EXACT math in SQL:
# the signature hash is md5-based (first 15 hex chars → 60-bit int, see
# operators/dedup.py:_md5_60), the permutation coefficients and hyperplanes
# come from the same seeded generators, and the candidate topology
# (banding / pigeonhole / bucket collision) is reproduced with exact
# set logic (band-slice equality ≡ the engine's 64-bit band hash join,
# all-pairs hamming ≡ the pigeonhole superset filtered to the same bound).


def _minhash_pair_ctes(
    table: str = "documents",
    num_hashes: int = 32,
    num_bands: int = 8,
    seed: int = 42,
    cand_cond: str = "l.doc_id < r.doc_id",
    a_name: str = "id_a",
    b_name: str = "id_b",
) -> str:
    """The MinHash-LSH pair computation as a chain of CTEs ending in
    ``pairs(id_a, id_b, est_jaccard)`` — shared by the standalone
    minhash_dups oracle and the dedup_clusters oracle (which feeds a
    planted-copy ``corpus`` CTE in as ``table``)."""
    from unified_ocr_pipeline_spark.operators.dedup import _P, _seeded_coeffs

    a, b = _seeded_coeffs(num_hashes, seed)
    rows_per_band = num_hashes // num_bands
    coeff_values = ", ".join(
        f"({i}, CAST({a[i]} AS BIGINT), CAST({b[i]} AS BIGINT))"
        for i in range(num_hashes)
    )
    return rf"""coeffs(i, a, b) AS (VALUES {coeff_values}),
        toks AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
          FROM {table}),
        sh AS (
          SELECT DISTINCT doc_id,
                 unnest(list_transform(range(1, len(t) - 1),
                                       i -> array_to_string(t[i:i+2], ' '))) AS shingle
          FROM toks WHERE len(t) >= 3),
        hashed AS (
          SELECT doc_id,
                 CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % {_P} AS h
          FROM sh),
        mins AS (
          SELECT doc_id, c.i, min((h * c.a + c.b) % {_P}) AS m
          FROM hashed CROSS JOIN coeffs c GROUP BY 1, 2),
        sigs AS (
          SELECT doc_id, list(m ORDER BY i) AS sig FROM mins GROUP BY 1),
        bands AS (
          SELECT doc_id, j,
                 array_to_string(sig[j*{rows_per_band}+1:j*{rows_per_band}+{rows_per_band}], ',') AS bh
          FROM sigs CROSS JOIN (SELECT unnest(range(0, {num_bands})) AS j)),
        cand AS (
          SELECT DISTINCT l.doc_id AS {a_name}, r.doc_id AS {b_name}
          FROM bands l JOIN bands r ON l.j = r.j AND l.bh = r.bh
          WHERE {cand_cond}),
        est AS (
          SELECT {a_name}, {b_name},
                 list_sum(list_transform(range(1, {num_hashes + 1}),
                          i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
                   / {num_hashes}.0 AS e
          FROM cand
          JOIN sigs sa ON sa.doc_id = {a_name}
          JOIN sigs sb ON sb.doc_id = {b_name}),
        pairs AS (
          SELECT {a_name}, {b_name}, round(e, 4) AS est_jaccard FROM est
          WHERE e >= 0.5)"""


def _minhash_oracle(num_hashes: int = 32, num_bands: int = 8, seed: int = 42) -> str:
    return f"""
        WITH {_minhash_pair_ctes('documents', num_hashes, num_bands, seed)}
        SELECT id_a, id_b, est_jaccard FROM pairs
    """


def _zorder_oracle(bits: int = 10) -> str:
    """Replay the Morton interleave with >>/&/<< integer bit ops —
    bit i of the masked user_id at position 2i, bit i of the masked
    (event_id % 1024) at 2i+1, exactly the engine's lane layout."""
    mask = (1 << bits) - 1
    terms = []
    for i in range(bits):
        terms.append(f"((((user_id & {mask}) >> {i}) & 1) << {2 * i})")
        terms.append(
            f"(((((event_id % 1024) & {mask}) >> {i}) & 1) << {2 * i + 1})"
        )
    expr = " | ".join(terms)
    return f"""
        SELECT event_id, user_id, CAST({expr} AS BIGINT) AS zkey
        FROM events
    """


def _minhash_error_oracle() -> str:
    """Estimator-calibration mirror: the shared pair CTEs (seeded
    signatures + banding + agreement estimate), then EXACT shingle-set
    Jaccard per surviving pair — |A∩B| via a shingle-keyed join over the
    same DISTINCT 3-word shingle relation the signatures hash, union by
    inclusion-exclusion, one double division."""
    return f"""
        WITH {_minhash_pair_ctes('documents')},
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        inter AS (
          SELECT p.id_a, p.id_b, count(*) AS i
          FROM pairs p
          JOIN sh a ON a.doc_id = p.id_a
          JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
          GROUP BY 1, 2)
        SELECT id_a, id_b, est_jaccard, exact_jaccard,
               abs(est_jaccard - exact_jaccard) AS abs_err
        FROM (
          SELECT p.id_a, p.id_b, p.est_jaccard,
                 CAST(coalesce(i.i, 0) AS DOUBLE)
                   / (na.n + nb.n - coalesce(i.i, 0)) AS exact_jaccard
          FROM pairs p
          LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
          JOIN sizes na ON na.doc_id = p.id_a
          JOIN sizes nb ON nb.doc_id = p.id_b)
    """


def _incremental_dedup_oracle() -> str:
    """New-batch vs corpus banding join: signatures computed over the
    union (per-doc math, identical either way), candidate predicate
    restricted to (new, corpus) pairs — mirrors
    minhash_lsh_pairs_between's asymmetric join."""
    ctes = _minhash_pair_ctes(
        "allt",
        cand_cond="l.doc_id >= 200 AND r.doc_id < 200",
        a_name="new_id",
        b_name="corpus_id",
    )
    return f"""
        WITH allt AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 250
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 5),
        {ctes}
        SELECT new_id, corpus_id, est_jaccard FROM pairs
    """


def _dedup_clusters_oracle() -> str:
    """Components of the MinHash pair graph over a planted-copy corpus,
    via DuckDB's recursive CTE: ``reach`` enumerates every (node,
    reachable-node) pair — quadratic per component, fine at oracle scale
    — and min over the reachable set is exactly the engine's min-label
    fixpoint (operators/cc.py)."""
    return f"""
        WITH RECURSIVE corpus AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 50
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 5
          UNION ALL
          SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 5),
        {_minhash_pair_ctes('corpus')},
        eb AS (
          SELECT id_a AS s, id_b AS t FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs),
        reach(id, lbl) AS (
          SELECT DISTINCT doc_id, doc_id FROM corpus
          UNION
          SELECT eb.t, reach.lbl FROM eb JOIN reach ON eb.s = reach.id),
        comp AS (
          SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY 1)
        SELECT doc_id, component,
               doc_id = min(doc_id) OVER (PARTITION BY component)
                 AS is_canonical
        FROM comp
    """


def _simhash_oracle(bits: int = 48, max_hamming: int = 3) -> str:
    from unified_ocr_pipeline_spark.operators.dedup import _P  # noqa: F401

    bit_sums = ",\n                 ".join(
        f"sum(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig_terms = " + ".join(
        f"CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(bits)
    )
    return rf"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        h AS (
          SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS hv
          FROM toks WHERE length(tok) > 0),
        bitsums AS (
          SELECT doc_id,
                 {bit_sums}
          FROM h GROUP BY 1),
        sigs AS (SELECT doc_id, CAST({sig_terms} AS BIGINT) AS sig FROM bitsums)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
    """


def _pq_topk_oracle(
    m: int = 4, ksub: int = 16, dim: int = 64, seed: int = 7, k: int = 5
) -> str:
    """Replays operators/ivf.pq_encode + pq_topk: identical seeded
    codebook literals, the same monotone assignment score
    (−2·v·c + ||c||², ties to the lowest code = numpy argmin), and the
    same per-subspace lookup-table distance sum for ADC."""
    from unified_ocr_pipeline_spark.operators.ivf import pq_codebooks

    cb = pq_codebooks(m, ksub, dim, seed)
    dsub = dim // m
    values = ",\n            ".join(
        f"({j}, {code}, [{', '.join(repr(float(x)) for x in cb[j][code])}]::DOUBLE[])"
        for j in range(m)
        for code in range(ksub)
    )
    return f"""
        WITH cb AS (
          SELECT j, code, cv, list_dot_product(cv, cv) AS c2
          FROM (VALUES
            {values}) AS t(j, code, cv)),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        subs AS (
          SELECT e.vec_id, js.j,
                 e.v[js.j * {dsub} + 1 : (js.j + 1) * {dsub}] AS sub
          FROM e CROSS JOIN (SELECT unnest(range(0, {m})) AS j) js),
        scored0 AS (
          SELECT s.vec_id, s.j, cb.code,
                 -2 * list_dot_product(s.sub, cb.cv) + cb.c2 AS sc
          FROM subs s JOIN cb ON cb.j = s.j),
        scored AS (
          SELECT vec_id, j, code,
                 row_number() OVER (PARTITION BY vec_id, j
                                    ORDER BY sc, code) AS rn
          FROM scored0),
        codes AS (SELECT vec_id, j, code FROM scored WHERE rn = 1),
        q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 5),
        qlut AS (
          SELECT q.qid, cb.j, cb.code,
                 -2 * list_dot_product(
                        q.v[cb.j * {dsub} + 1 : (cb.j + 1) * {dsub}], cb.cv)
                   + cb.c2 AS lv
          FROM q CROSS JOIN cb),
        ad AS (
          SELECT ql.qid, c.vec_id AS nid, round(sum(ql.lv), 4) AS adist
          FROM codes c
          JOIN qlut ql ON ql.j = c.j AND ql.code = c.code
          WHERE c.vec_id <> ql.qid
          GROUP BY 1, 2),
        ranked AS (
          SELECT qid, nid, adist,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY adist, nid) AS rank
          FROM ad)
        SELECT qid, nid, adist, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}
    """


def _ivf_topk_oracle(
    k: int = 3, n_cells: int = 16, nprobe: int = 4, dim: int = 64, seed: int = 42
) -> str:
    """Replays operators/ivf.ivf_topk with the seeded quantizer: the same
    centroid literals, the same assignment score (-2·v·c + ||c||², a
    monotone transform of L2 distance), stable tie-break by cell index
    (numpy stable argsort ≡ ORDER BY score, cid)."""
    from unified_ocr_pipeline_spark.operators.ivf import seeded_centroids

    cents = seeded_centroids(n_cells, dim, seed)
    values = ",\n            ".join(
        f"({cid}, [{', '.join(repr(x) for x in cv)}]::DOUBLE[])"
        for cid, cv in enumerate(cents)
    )
    return f"""
        WITH cents AS (
          SELECT cid, cv, list_dot_product(cv, cv) AS c2
          FROM (VALUES
            {values}) AS t(cid, cv)),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
          SELECT e.vec_id, e.v, cents.cid,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY -2 * list_dot_product(e.v, cents.cv) + cents.c2,
                            cents.cid) AS crn
          FROM e CROSS JOIN cents),
        assign AS (SELECT vec_id, cid AS cell FROM scored WHERE crn = 1),
        probes AS (
          SELECT vec_id AS qid, cid AS cell FROM scored
          WHERE vec_id < 5 AND crn <= {nprobe}),
        cand AS (
          SELECT p.qid, a.vec_id AS nid
          FROM probes p JOIN assign a USING (cell)
          WHERE a.vec_id <> p.qid),
        sims AS (
          SELECT qid, nid, list_cosine_similarity(eq.v, ec.v) AS s
          FROM cand
          JOIN e eq ON eq.vec_id = qid
          JOIN e ec ON ec.vec_id = nid),
        ranked AS (
          SELECT qid, nid, s,
                 row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rn
          FROM sims)
        SELECT qid, nid, round(s, 4) AS sim FROM ranked WHERE rn <= {k}
    """


def _lsh_topk_oracle(
    dim: int = 64, k: int = 3, n_tables: int = 4, n_bits: int = 8, seed: int = 42
) -> str:
    from unified_ocr_pipeline_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_tables, n_bits, seed)

    def bucket_expr(t: int) -> str:
        terms = []
        for bnum in range(n_bits):
            lit = ", ".join(repr(x) for x in planes[t][bnum])
            terms.append(
                f"CASE WHEN list_dot_product(v, [{lit}]) >= 0 "
                f"THEN {1 << bnum} ELSE 0 END"
            )
        return " + ".join(terms)

    bucket_selects = "\n          UNION ALL\n          ".join(
        f"SELECT vec_id, v, {t} AS tbl, ({bucket_expr(t)}) AS bucket FROM e"
        for t in range(n_tables)
    )
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        buckets AS (
          {bucket_selects}),
        cand AS (
          SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
          FROM buckets q JOIN buckets c
            ON q.tbl = c.tbl AND q.bucket = c.bucket
          WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
        sims AS (
          SELECT qid, nid, list_cosine_similarity(eq.v, ec.v) AS s
          FROM cand
          JOIN e eq ON eq.vec_id = qid
          JOIN e ec ON ec.vec_id = nid),
        ranked AS (
          SELECT qid, nid, s,
                 row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rn
          FROM sims)
        SELECT qid, nid, round(s, 4) AS sim FROM ranked WHERE rn <= {k}
    """


def _grade_case_sql(text: str = "text", conf: str = "conf") -> str:
    """F21 grade CASE in ANSI SQL, same thresholds/keywords as
    kernels/quality.py:assess_ocr_quality (ref :797-821)."""
    from unified_ocr_pipeline_spark.kernels.quality import _PO_INDICATOR_KEYWORDS

    ind = "(" + " OR ".join(
        f"position('{k}' IN lower({text})) > 0" for k in _PO_INDICATOR_KEYWORDS
    ) + ")"
    tlen = rf"length(regexp_replace({text}, '^\s+|\s+$', '', 'g'))"
    has_num = rf"regexp_matches({text}, '\p{{Nd}}')"
    return f"""CASE
        WHEN {tlen} = 0 THEN 'FAILED'
        WHEN {conf} > 80 AND {ind} AND {tlen} > 50 THEN 'EXCELLENT'
        WHEN {conf} > 60 AND ({ind} OR {has_num}) AND {tlen} > 30 THEN 'GOOD'
        WHEN {conf} > 40 AND {tlen} > 20 THEN 'FAIR'
        WHEN {conf} > 20 AND {tlen} > 10 THEN 'POOR'
        ELSE 'FAILED' END"""


_SYNTH_CONF = "CAST((doc_id * 37) % 101 AS DOUBLE)"


def _ocr_quality_oracle() -> str:
    return f"""
        WITH c AS (SELECT doc_id, text, {_SYNTH_CONF} AS conf FROM documents)
        SELECT doc_id, conf AS confidence,
               {_grade_case_sql()} AS grade
        FROM c
    """


def _strategy_routing_oracle() -> str:
    return f"""
        WITH c AS (SELECT doc_id, text, {_SYNTH_CONF} AS conf FROM documents),
        g AS (SELECT doc_id, {_grade_case_sql()} AS grade FROM c),
        o AS (SELECT doc_id, grade,
                     CASE WHEN grade IN ('EXCELLENT', 'GOOD') THEN 'HIGH'
                          WHEN grade = 'FAIR' THEN 'MEDIUM'
                          ELSE 'LOW' END AS overall
              FROM g)
        SELECT doc_id, grade, overall,
               CASE WHEN overall IN ('HIGH', 'MEDIUM') THEN 'ai'
                    ELSE 'regex' END AS route
        FROM o
    """


def _ai_normalizer_oracle() -> str:
    # mirrors the synthesized AI-record columns in _q_ai_normalizer and the
    # F23 transforms (kernels/quality.py:format_ai_data, ref :887-919)
    return r"""
        WITH synth AS (
          SELECT doc_id,
                 '139' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-2SA'
                   AS base,
                 CAST(doc_id % 100 AS VARCHAR) AS op,
                 doc_id % 3 AS m3, doc_id % 4 AS m4
          FROM documents),
        rec AS (
          SELECT doc_id,
                 CASE WHEN m3 = 0 THEN base || '-OP' || op
                      WHEN m3 = 1 THEN base || '*OP' || op
                      ELSE base END AS part,
                 CASE WHEN m3 = 0
                        THEN 'Production Order: ' || CAST(doc_id + 100000 AS VARCHAR)
                      WHEN m3 = 1
                        THEN 'seq ' || CAST(doc_id + 90000000 AS VARCHAR)
                      ELSE 'no digits' END AS mjo,
                 CASE WHEN m4 = 0 THEN '12.0'
                      WHEN m4 = 1 THEN CAST(doc_id AS VARCHAR) || '.75'
                      WHEN m4 = 2 THEN 'oops'
                      ELSE '' END AS qty
          FROM synth)
        SELECT doc_id,
               CASE WHEN position('*' IN part) > 0 THEN part
                    ELSE regexp_replace(part, '-OP(\d+)$', '*OP\1') END
                 AS part_fmt,
               CASE WHEN regexp_extract(mjo, '(?i)Production Order[:\s]*(\d+)', 1) <> ''
                      THEN regexp_extract(mjo, '(?i)Production Order[:\s]*(\d+)', 1)
                    WHEN regexp_extract(mjo, '(\d{8,12})', 1) <> ''
                      THEN regexp_extract(mjo, '(\d{8,12})', 1)
                    ELSE mjo END AS mjo_fmt,
               CASE WHEN qty = '' THEN qty
                    WHEN try_cast(qty AS DOUBLE) IS NOT NULL
                      THEN CAST(CAST(trunc(try_cast(qty AS DOUBLE)) AS BIGINT) AS VARCHAR)
                    ELSE qty END AS qty_fmt
        FROM rec
    """


_STOP_EN = r"\b(the|a|an|of|to|in|and|is)\b"
_STOP_DE = r"\b(der|die|das|und|ist|ein|zu|mit)\b"
_STOP_FR = r"\b(le|la|les|et|est|un|une|dans)\b"
_BPE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _lang_lr_oracle(
    dim: int = 8,
    iters: int = 2,
    lr: float = 1.0,
    classes: tuple = ("de", "en", "es", "fr", "zh"),
    predict_counts: bool = False,
) -> str:
    """Replays lang_lr_train float-op-for-float-op: the text_embed
    projection CTEs pivot to per-doc feature columns, the lang label
    joins back, then per iteration one (softmax → avg-gradient →
    round-9 update) CTE triple chained through 1-row weight relations —
    denominator summed in sorted-class order exactly as the Spark fold.
    ``classes`` pins the fixture's stable label set (sorted).

    ``predict_counts=True`` is the lang_id_trained final: the trained
    w{iters} relation scores every embedded doc (same left-fold linear
    form as ``lang_lr_predict``), argmax ties break to the LAST class
    in sort order (the array_max-over-structs canon — expressed as a
    DESCENDING equality CASE against greatest()), featurizer-dropped
    docs come back 'und' via a left join, and the output is the
    (lang_pred, n_docs, n_correct) confusion summary."""
    nc = len(classes)
    xs = [f"x{j}" for j in range(dim)]

    def z_expr(ci: int) -> str:
        t = f"c_{ci}_b"
        for j in range(dim):
            t += f" + c_{ci}_{j} * x{j}"
        return t

    ctes = [
        "w0 AS (SELECT "
        + ", ".join(
            f"0.0 AS c_{ci}_{f}"
            for ci in range(nc)
            for f in ["b"] + list(range(dim))
        )
        + ")"
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"p{k} AS (SELECT feat.*, "
            + ", ".join(
                f"exp({z_expr(ci)}) AS ex_{ci}" for ci in range(nc)
            )
            + f" FROM feat CROSS JOIN w{k - 1})"
        )
        den = " + ".join(f"ex_{ci}" for ci in range(nc))
        ctes.append(f"s{k} AS (SELECT *, {den} AS den FROM p{k})")
        gsel = []
        for ci, c in enumerate(classes):
            err = (
                f"ex_{ci} / den - CASE WHEN y = '{c}' "
                "THEN 1.0 ELSE 0.0 END"
            )
            gsel.append(f"avg({err}) AS g_{ci}_b")
            for j in range(dim):
                gsel.append(f"avg(({err}) * x{j}) AS g_{ci}_{j}")
        ctes.append(f"g{k} AS (SELECT " + ", ".join(gsel) + f" FROM s{k})")
        ctes.append(
            f"w{k} AS (SELECT "
            + ", ".join(
                f"round(c_{ci}_{f} - {lr} * g_{ci}_{f}, 9) AS c_{ci}_{f}"
                for ci in range(nc)
                for f in ["b"] + list(range(dim))
            )
            + f" FROM w{k - 1} CROSS JOIN g{k})"
        )
    if predict_counts:
        zsel = ", ".join(f"{z_expr(ci)} AS z_{ci}" for ci in range(nc))
        gmax = f"greatest({', '.join(f'z_{ci}' for ci in range(nc))})"
        case = "CASE " + " ".join(
            f"WHEN z_{ci} = mz THEN '{classes[ci]}'"
            for ci in range(nc - 1, -1, -1)
        ) + " END"
        ctes.append(
            f"scored AS (SELECT x.doc_id, {zsel} "
            f"FROM x CROSS JOIN w{iters})"
        )
        ctes.append(f"mx AS (SELECT *, {gmax} AS mz FROM scored)")
        ctes.append(f"pl AS (SELECT doc_id, {case} AS lang_pred FROM mx)")
        ctes.append(
            "pred AS (SELECT d.doc_id, "
            "coalesce(pl.lang_pred, 'und') AS lang_pred, d.lang "
            "FROM documents d LEFT JOIN pl USING (doc_id))"
        )
        final = (
            "SELECT lang_pred, count(*) AS n_docs, "
            "CAST(sum(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct "
            "FROM pred GROUP BY lang_pred"
        )
    else:
        final = " UNION ALL ".join(
            f"SELECT '{c}' AS lang, '{fn}' AS feature, "
            f"round(c_{ci}_{f}, 6) AS weight FROM w{iters}"
            for ci, c in enumerate(classes)
            for fn, f in [("bias", "b")] + [(f"e{j}", j) for j in range(dim)]
        )
    xsel = ", ".join(
        f"max(CASE WHEN dim = {j} THEN r / nv END) AS x{j}"
        for j in range(dim)
    )
    return rf"""
        WITH g AS (
          SELECT doc_id, substr(text, i, 3) AS gram
          FROM documents
          CROSS JOIN LATERAL (
            SELECT unnest(generate_series(
                     1, greatest(length(text) - 2, 0))) AS i) t
          WHERE text IS NOT NULL),
        b AS (
          SELECT doc_id,
                 CAST(CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)
                      % {dim} AS INT) AS dim,
                 CASE WHEN (CAST('0x' || substr(md5(gram), 1, 15)
                                 AS BIGINT) // {dim}) % 2 = 0
                      THEN 1 ELSE -1 END AS s
          FROM g),
        raw AS (
          SELECT doc_id, dim, CAST(sum(s) AS DOUBLE) AS r
          FROM b GROUP BY 1, 2),
        nrm AS (
          SELECT doc_id, sqrt(sum(r * r)) AS nv
          FROM raw GROUP BY 1),
        dims AS (SELECT unnest(generate_series(0, {dim - 1})) AS dim),
        dense AS (
          SELECT n.doc_id, dims.dim, coalesce(raw.r, 0.0) AS r, n.nv
          FROM nrm n CROSS JOIN dims
          LEFT JOIN raw ON raw.doc_id = n.doc_id
                       AND raw.dim = dims.dim),
        x AS (
          SELECT doc_id, {xsel}
          FROM dense WHERE nv > 0 GROUP BY doc_id),
        feat AS (
          SELECT d.lang AS y, {", ".join("x." + c for c in xs)}
          FROM x JOIN documents d USING (doc_id)),
        {", ".join(ctes)}
        {final}
    """


def _lr_train_oracle(
    iters: int = 4, lr: float = 0.5, score_docs: bool = False
) -> str:
    """Replays quality_lr_train's full-batch GD float-op-for-float-op:
    the shared quality shape CTEs feed (y, x*) features, then one
    (predict → avg-gradient → round-9 update) CTE triple per iteration,
    chained through 1-row weight relations — the same fixed iteration
    count and per-update rounding the Spark side applies, so both sides
    walk identical weight trajectories.

    ``score_docs=True`` is the curation_funnel_trained final: instead of
    emitting the weight artifact, the trained w{iters} relation scores
    EVERY document (same sigmoid, same feature order, round-4 like
    ``quality_lr_score_trained``) and gates at 0.5 — the full
    train-then-apply trajectory in one SQL statement."""
    cols = ("b", "l", "s", "d", "t", "y", "m")
    xs = ("1.0", "xl", "xs", "xd", "xt", "xy", "xm")
    ctes = [
        "w0 AS (SELECT "
        + ", ".join(f"0.0 AS c{c}" for c in cols)
        + ")"
    ]
    for k in range(1, iters + 1):
        z = " + ".join(
            f"c{c} * {x}" if x != "1.0" else f"c{c}"
            for c, x in zip(cols, xs)
        )
        ctes.append(
            f"p{k} AS (SELECT feat.*, "
            f"1.0 / (1.0 + exp(-({z}))) - y AS e "
            f"FROM feat CROSS JOIN w{k - 1})"
        )
        ctes.append(
            f"g{k} AS (SELECT "
            + ", ".join(
                f"avg(e{'' if x == '1.0' else ' * ' + x}) AS g{c}"
                for c, x in zip(cols, xs)
            )
            + f" FROM p{k})"
        )
        ctes.append(
            f"w{k} AS (SELECT "
            + ", ".join(
                f"round(c{c} - {lr} * g{c}, 9) AS c{c}" for c in cols
            )
            + f" FROM w{k - 1} CROSS JOIN g{k})"
        )
    names = (
        "bias", "len_feat", "stop_feat", "dup_frac",
        "top_cov", "sym_ratio", "mwl_dist",
    )
    if score_docs:
        # train-then-apply: score every doc with the trained weights —
        # same left-fold feature order and round(4) as
        # quality_lr_score_trained, gate on the ROUNDED score.
        z = " + ".join(
            f"c{c} * {x}" if x != "1.0" else f"c{c}"
            for c, x in zip(cols, xs)
        )
        final = f"""
        SELECT feat.doc_id,
               round(1.0 / (1.0 + exp(-({z}))), 4) AS lr_score,
               round(1.0 / (1.0 + exp(-({z}))), 4) >= 0.5 AS keep
        FROM feat CROSS JOIN w{iters}
        """
    else:
        final = " UNION ALL ".join(
            f"SELECT '{n}' AS feature, round(c{c}, 6) AS weight FROM w{iters}"
            for n, c in zip(names, cols)
        )
    return rf"""
        WITH w AS (
          SELECT doc_id,
                 CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS ws,
                 len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS syms,
                 len(regexp_extract_all(lower(text), '{_STOP_EN}')) AS stop_hits
          FROM documents),
        s AS (
          SELECT doc_id, syms, stop_hits, ws, len(ws) AS n,
                 len(list_distinct(ws)) AS nd,
                 list_sum(list_transform(ws, x -> length(x))) AS total_len
          FROM w),
        m AS (
          SELECT doc_id, n, stop_hits,
                 CASE WHEN n = 0 THEN 0.0
                      ELSE round(1.0 - nd / CAST(n AS DOUBLE), 4) END AS dup_frac,
                 CASE WHEN n = 0 THEN 0.0
                      ELSE round(list_max(list_transform(list_distinct(ws),
                             d -> len(list_filter(ws, x -> x = d))))
                           / CAST(n AS DOUBLE), 4) END AS top_cov,
                 CASE WHEN n = 0 THEN 0.0
                      ELSE round(total_len / CAST(n AS DOUBLE), 4) END AS mean_wlen,
                 CASE WHEN n = 0 THEN 0.0
                      ELSE round(syms / CAST(n AS DOUBLE), 4) END AS sym_ratio
          FROM s),
        feat AS (
          SELECT doc_id,
                 CASE WHEN dup_frac <= 0.3 AND top_cov <= 0.2
                       AND mean_wlen BETWEEN 2.0 AND 12.0
                       AND sym_ratio <= 0.3 THEN 1.0 ELSE 0.0 END AS y,
                 least(n / 100.0, 1.0) AS xl,
                 least(stop_hits * 5.0 / greatest(n, 1), 1.0) AS xs,
                 dup_frac AS xd, top_cov AS xt, sym_ratio AS xy,
                 least(abs(mean_wlen - 5.0), 5.0) AS xm
          FROM m),
        {", ".join(ctes)}
        {final}
    """


def _url_canon_oracle() -> str:
    """Replays functions/url.py regex-for-regex (Java∩RE2 dialect)."""
    from unified_ocr_pipeline_spark.functions.url import TRACKING_PARAM_REGEX

    return rf"""
        WITH raw AS (
          SELECT doc_id,
            CASE doc_id % 4
              WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Docs/' || doc_id
                          || '?utm_source=feed&id=' || doc_id || '&utm_campaign=x#sec'
              WHEN 1 THEN 'https://User:Pw@Sub.Example.org:8443/p/' || doc_id
                          || '?gclid=abc&q=spark'
              WHEN 2 THEN 'http://news.site' || (doc_id % 7) || '.net/a/' || doc_id
                          || '?ref=rss'
              ELSE 'not a url ' || doc_id END AS raw_url
          FROM documents),
        comp AS (
          SELECT doc_id, raw_url, regexp_replace(raw_url, '#.*', '') AS nofrag
          FROM raw),
        comp2 AS (
          SELECT doc_id, raw_url,
            lower(regexp_extract(nofrag, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
            regexp_replace(lower(regexp_extract(nofrag,
                '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)), '^[^@]*@', '') AS hostport,
            regexp_extract(nofrag,
                '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
            regexp_extract(nofrag, '\?(.*)$', 1) AS q
          FROM comp),
        comp3 AS (
          SELECT doc_id, raw_url, scheme, path,
                 regexp_replace(hostport, ':\d+$', '') AS host,
                 regexp_extract(hostport, ':(\d+)$', 1) AS port,
                 list_filter(str_split(q, '&'),
                     p -> p <> '' AND NOT regexp_matches(p, '{TRACKING_PARAM_REGEX}'))
                   AS params
          FROM comp2)
        SELECT doc_id, raw_url,
          CASE WHEN scheme = '' OR host = '' THEN '' ELSE
            scheme || '://' || regexp_replace(host, '^www\.', '')
            || CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                                             OR (scheme = 'https' AND port = '443'))
                    THEN ':' || port ELSE '' END
            || path
            || CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&')
                    ELSE '' END
          END AS canon_url,
          host,
          regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain
        FROM comp3
    """


def _surt_trap_oracle() -> str:
    """Replays functions/url.py surt_key + trap_signals list-op for
    list-op (str_split/list_reverse/list_sort/list_distinct)."""
    from unified_ocr_pipeline_spark.functions.url import TRACKING_PARAM_REGEX

    return rf"""
        WITH raw AS (
          SELECT doc_id,
            CASE doc_id % 4
              WHEN 0 THEN 'HTTP://WWW.Example.COM:80/A/b/' || doc_id
                          || '?b=2&utm_x=1&a=1#f'
              WHEN 1 THEN 'https://Deep.example.org/d1/d2/d3/d4/d5/d6/d7/d8/d9/'
                          || doc_id
              WHEN 2 THEN 'http://maze.example.net/a/b/a/b/a'
                          || '?p1=1&p2=2&p3=3&p4=4&p5=5&p6=' || doc_id
              ELSE 'not a url ' || doc_id END AS raw_url
          FROM documents),
        c AS (SELECT doc_id, regexp_replace(raw_url, '#.*', '') AS nofrag FROM raw),
        c2 AS (
          SELECT doc_id,
            lower(regexp_extract(nofrag, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
            regexp_replace(regexp_replace(lower(regexp_extract(nofrag,
                '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)), '^[^@]*@', ''),
                ':\d+$', '') AS host,
            regexp_extract(nofrag,
                '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
            regexp_extract(nofrag, '\?(.*)$', 1) AS q
          FROM c),
        c3 AS (
          SELECT doc_id, scheme, path,
            regexp_replace(host, '^www\.', '') AS shost,
            list_sort(list_transform(list_filter(str_split(q, '&'),
                p -> p <> '' AND NOT regexp_matches(p, '{TRACKING_PARAM_REGEX}')),
                p -> lower(p)))
              AS sparams,
            list_filter(str_split(path, '/'), s -> s <> '') AS segs,
            list_filter(str_split(q, '&'), p -> p <> '') AS allparams
          FROM c2)
        SELECT doc_id,
          CASE WHEN scheme = '' OR shost = '' THEN '' ELSE
            array_to_string(list_reverse(str_split(shost, '.')), ',') || ')'
            || CASE WHEN lower(path) = '' THEN '/' ELSE lower(path) END
            || CASE WHEN len(sparams) > 0
                    THEN '?' || array_to_string(sparams, '&') ELSE '' END
          END AS surt,
          CAST(len(segs) AS INT) AS path_depth,
          CAST(len(allparams) AS INT) AS n_params,
          CAST(len(segs) - len(list_distinct(segs)) AS INT) AS dup_segments,
          (len(segs) > 8 OR len(allparams) > 5
           OR len(segs) - len(list_distinct(segs)) >= 2) AS is_trap
        FROM c3
    """


def _pii_oracle() -> str:
    """Replays functions/pii.py with the SAME frozen patterns; counts come
    from the raw text, redaction order EMAIL -> PHONE -> IPV4."""
    from unified_ocr_pipeline_spark.functions.pii import (
        EMAIL_REGEX,
        IPV4_REGEX,
        PHONE_REGEX,
    )

    return f"""
        WITH raw AS (
          SELECT doc_id,
            'doc ' || doc_id || ' v1.2 ok'
            || CASE WHEN doc_id % 2 = 0
                    THEN ' reach User' || doc_id || '@Mail.Example.COM now'
                    ELSE '' END
            || CASE WHEN doc_id % 3 = 0
                    THEN ' call ' || printf('%02d-%03d-%03d-%04d',
                         doc_id % 90 + 10, doc_id % 900 + 100,
                         (doc_id * 7) % 900 + 100, doc_id % 9000 + 1000)
                    ELSE '' END
            || CASE WHEN doc_id % 5 = 0
                    THEN ' from 10.' || (doc_id % 256) || '.'
                         || ((doc_id // 3) % 256) || '.7'
                    ELSE '' END AS t
          FROM documents)
        SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(t,
              '{EMAIL_REGEX}', '[EMAIL]', 'g'),
              '{PHONE_REGEX}', '[PHONE]', 'g'),
              '{IPV4_REGEX}', '[IP]', 'g') AS redacted,
          CAST(len(regexp_extract_all(t, '{EMAIL_REGEX}')) AS INT) AS n_email,
          CAST(len(regexp_extract_all(t, '{PHONE_REGEX}')) AS INT) AS n_phone,
          CAST(len(regexp_extract_all(t, '{IPV4_REGEX}')) AS INT) AS n_ip
        FROM raw
    """


# repetition_collapse: Spark array_distinct keeps first-occurrence order;
# DuckDB list_distinct does NOT guarantee order, so the oracle rebuilds both
# variants from ordinals (run-collapse: token != predecessor; distinct:
# list_position == own ordinal).
_REPETITION_ORACLE = r"""
    WITH w AS (
      SELECT doc_id,
             CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
                  THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(
                         regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS ws
      FROM documents),
    r AS (
      SELECT doc_id, ws,
        list_transform(list_filter(
            list_transform(range(1, len(ws) + 1), i -> {'w': ws[i], 'i': i}),
            s -> s.i = 1 OR ws[s.i - 1] <> s.w), s -> s.w) AS runs,
        list_transform(list_filter(
            list_transform(range(1, len(ws) + 1), i -> {'w': ws[i], 'i': i}),
            s -> list_position(ws, s.w) = s.i), s -> s.w) AS dist
      FROM w)
    SELECT doc_id,
      CAST(len(ws) AS INT) AS n_tokens,
      CAST(len(runs) AS INT) AS n_run_tokens,
      substr(array_to_string(runs, ' '), 1, 60) AS runs_prefix,
      CAST(len(dist) AS INT) AS n_distinct,
      substr(array_to_string(dist, ' '), 1, 60) AS distinct_prefix
    FROM r
"""

_SNAPSHOT_DIFF_ORACLE = """
    WITH o AS (
      SELECT user_id,
             string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS fp
      FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY user_id),
    n AS (
      SELECT user_id,
             string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS fp
      FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' GROUP BY user_id)
    SELECT coalesce(o.user_id, n.user_id) AS user_id,
           CASE WHEN o.fp IS NULL THEN 'added'
                WHEN n.fp IS NULL THEN 'removed'
                WHEN o.fp <> n.fp THEN 'changed'
                ELSE 'unchanged' END AS change,
           o.fp AS fp_old, n.fp AS fp_new
    FROM o FULL OUTER JOIN n ON o.user_id = n.user_id
"""


def _proto_prune_oracle(
    n_cells: int = 16, dim: int = 64, seed: int = 42, keep_frac: float = 0.5
) -> str:
    """Replays prototypicality_prune: seeded centroid literals, the
    -2·v·c + ||c||² nearest-cell assignment with stable cid tie-break
    (same as _semantic_dedup_oracle), cosine to the OWN centroid rounded
    to 4 decimals, then the within-cell hard-first rank (rounded sim
    asc, id asc) and the ceil(keep_frac · cell_size) keep cutoff."""
    from unified_ocr_pipeline_spark.operators.ivf import seeded_centroids

    cents = seeded_centroids(n_cells, dim, seed)
    values = ",\n            ".join(
        f"({cid}, [{', '.join(repr(x) for x in cv)}]::DOUBLE[])"
        for cid, cv in enumerate(cents)
    )
    return f"""
        WITH cents AS (
          SELECT cid, cv, list_dot_product(cv, cv) AS c2
          FROM (VALUES
            {values}) AS t(cid, cv)),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
          SELECT e.vec_id, e.v, cents.cid,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY -2 * list_dot_product(e.v, cents.cv) + cents.c2,
                            cents.cid) AS crn
          FROM e CROSS JOIN cents),
        assign AS (SELECT vec_id, v, cid AS cell FROM scored WHERE crn = 1),
        simd AS (
          SELECT a.vec_id, a.cell,
                 round(list_cosine_similarity(a.v, cents.cv), 4) AS proto_sim
          FROM assign a JOIN cents ON cents.cid = a.cell),
        ranked AS (
          SELECT vec_id, cell, proto_sim,
                 row_number() OVER (
                   PARTITION BY cell ORDER BY proto_sim ASC, vec_id ASC) AS rn,
                 count(*) OVER (PARTITION BY cell) AS csz
          FROM simd)
        SELECT vec_id AS id, CAST(cell AS INT) AS cell, proto_sim,
               CAST(rn AS INT) AS rnk,
               rn <= CEIL(csz * {keep_frac!r}) AS kept
        FROM ranked
    """


def oracle_sql() -> dict[str, str]:
    return {
        # text_embed: replay the hashing-trick projection gram-by-gram
        # — md5-60 bucket/sign, integer bucket sums densified over all
        # 16 dims, one sqrt + one divide (IEEE-identical on both
        # sides), zero-norm docs dropped.
        "text_embed": """
            WITH g AS (
              SELECT doc_id, substr(text, i, 3) AS gram
              FROM documents
              CROSS JOIN LATERAL (
                SELECT unnest(generate_series(
                         1, greatest(length(text) - 2, 0))) AS i) t
              WHERE text IS NOT NULL),
            b AS (
              SELECT doc_id,
                     CAST(CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)
                          % 16 AS INT) AS dim,
                     CASE WHEN (CAST('0x' || substr(md5(gram), 1, 15)
                                     AS BIGINT) // 16) % 2 = 0
                          THEN 1 ELSE -1 END AS s
              FROM g),
            raw AS (
              SELECT doc_id, dim, CAST(sum(s) AS DOUBLE) AS r
              FROM b GROUP BY 1, 2),
            nrm AS (
              SELECT doc_id, sqrt(sum(r * r)) AS nv
              FROM raw GROUP BY 1),
            dims AS (SELECT unnest(generate_series(0, 15)) AS dim),
            dense AS (
              SELECT n.doc_id, dims.dim, coalesce(raw.r, 0.0) AS r, n.nv
              FROM nrm n CROSS JOIN dims
              LEFT JOIN raw ON raw.doc_id = n.doc_id
                           AND raw.dim = dims.dim)
            SELECT doc_id, dim, round(r / nv, 6) AS val
            FROM dense WHERE nv > 0
        """,
        "quality_lr_train": _lr_train_oracle(iters=4, lr=0.5),
        "lang_lr_train": _lang_lr_oracle(dim=8, iters=2, lr=1.0),
        "curation_funnel_trained": _lr_train_oracle(
            iters=4, lr=0.5, score_docs=True
        ),
        "lang_id_trained": _lang_lr_oracle(
            dim=8, iters=2, lr=1.0, predict_counts=True
        ),
        # pii_extended: every column predicted from the planted class
        # (the m=0 literals are valid by the real mod-97 / SSA rules,
        # the m=1 literals are their corrupted twins).
        "pii_extended": """
            SELECT doc_id,
                   CAST(CASE WHEN doc_id % 4 IN (0, 1, 2) THEN 1 ELSE 0 END
                        AS INT) AS n_iban_cand,
                   CAST(CASE WHEN doc_id % 4 IN (0, 2) THEN 1 ELSE 0 END
                        AS INT) AS n_iban_valid,
                   CAST(CASE WHEN doc_id % 4 IN (0, 1) THEN 1 ELSE 0 END
                        AS INT) AS n_ssn_cand,
                   CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END
                        AS INT) AS n_ssn_valid,
                   CASE doc_id % 4
                     WHEN 0 THEN 'acct [IBAN] ssn [SSN] ref '
                     WHEN 1 THEN 'acct DE89370400440532013001 ssn 666-12-3456 ref '
                     WHEN 2 THEN 'acct [IBAN] ref '
                     ELSE 'clean note ' END
                     || CAST(doc_id AS VARCHAR) AS redacted
            FROM documents
        """,
        "flagship_lang_yield": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   round(avg(n_chars), 2) AS avg_chars
            FROM documents GROUP BY lang
        """,
        "scan_filter_project": """
            SELECT doc_id, n_chars, length(text) AS text_len
            FROM documents WHERE lang = 'en' AND n_chars > 200
        """,
        "token_stats": rf"""
            SELECT doc_id,
                   CAST(CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                        ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS INT) AS ws_tokens,
                   CAST(len(regexp_extract_all(text, '{_BPE}')) AS INT) AS bpe_tokens
            FROM documents
        """,
        "lang_id": rf"""
            WITH h AS (
              SELECT len(regexp_extract_all(lower(text), '{_STOP_EN}')) AS en,
                     len(regexp_extract_all(lower(text), '{_STOP_DE}')) AS de,
                     len(regexp_extract_all(lower(text), '{_STOP_FR}')) AS fr
              FROM documents)
            SELECT CASE WHEN en >= de AND en >= fr AND en > 0 THEN 'en'
                        WHEN de >= fr AND de > 0 THEN 'de'
                        WHEN fr > 0 THEN 'fr' ELSE 'und' END AS guess,
                   count(*) AS n
            FROM h GROUP BY 1
        """,
        "quality_scores": rf"""
            WITH s AS (
              SELECT doc_id,
                     CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                          ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tok,
                     len(regexp_extract_all(text, '[^\w\s]')) * 1.0
                        / greatest(length(text), 1) AS noise,
                     len(regexp_extract_all(lower(text), '{_STOP_EN}')) AS stop_hits
              FROM documents)
            SELECT doc_id,
                   round(least(n_tok / 50.0, 1.0) * (1.0 - noise)
                         * (0.5 + 0.5 * least(stop_hits * 5.0 / greatest(n_tok, 1), 1.0)),
                         4) AS score
            FROM s
        """,
        "fingerprint": r"""
            SELECT doc_id,
                   md5(regexp_replace(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+', ' ', 'g')) AS fp
            FROM documents
        """,
        "exact_dedup": """
            SELECT md5(text) AS fp, min(doc_id) AS keeper_id, count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "regex_extract_first": r"""
            SELECT doc_id,
                   coalesce(nullif(regexp_extract(text, '\b(s[a-z]+)\b', 1), ''), 'NONE')
                       AS first_s_word
            FROM documents
        """,
        "regex_count": r"""
            SELECT lang,
                   CAST(sum(len(regexp_extract_all(text, '\bscan\b'))) AS BIGINT) AS n_scan
            FROM documents GROUP BY lang
        """,
        # snm_pairs: sorted-neighborhood blocking — window-1 lead()
        # neighbors per row within the lang block, unioned per offset
        "snm_pairs": r"""
            WITH k AS (
              SELECT doc_id, lang,
                     lpad(CAST(CAST(n_chars AS BIGINT) AS VARCHAR), 6, '0')
                       || '|' || source AS snm_key
              FROM documents),
            n AS (
              SELECT doc_id AS id_a, snm_key AS key_a,
                     lead(doc_id, 1) OVER w AS id1, lead(snm_key, 1) OVER w AS k1,
                     lead(doc_id, 2) OVER w AS id2, lead(snm_key, 2) OVER w AS k2,
                     lead(doc_id, 3) OVER w AS id3, lead(snm_key, 3) OVER w AS k3
              FROM k
              WINDOW w AS (PARTITION BY lang ORDER BY snm_key, doc_id))
            SELECT id_a, key_a, id_b, key_b FROM (
              SELECT id_a, key_a, id1 AS id_b, k1 AS key_b FROM n
              UNION ALL SELECT id_a, key_a, id2, k2 FROM n
              UNION ALL SELECT id_a, key_a, id3, k3 FROM n)
            WHERE id_b IS NOT NULL
        """,
        # linkage_verify: replay the window-3 SNM candidate generation
        # over the lowercased 32-char title key, then the same normalized-
        # Levenshtein similarity and threshold CASE (DuckDB levenshtein ==
        # Spark's codepoint edit distance; both sides compute the
        # identical double expression)
        "linkage_verify": r"""
            WITH k AS (
              SELECT doc_id, lang,
                     lower(substr(coalesce(text, ''), 1, 32)) AS title
              FROM documents),
            n AS (
              SELECT doc_id AS id_a, title AS key_a,
                     lead(doc_id, 1) OVER w AS id1, lead(title, 1) OVER w AS k1,
                     lead(doc_id, 2) OVER w AS id2, lead(title, 2) OVER w AS k2
              FROM k
              WINDOW w AS (PARTITION BY lang ORDER BY title, doc_id)),
            pairs AS (
              SELECT id_a, key_a, id_b, key_b FROM (
                SELECT id_a, key_a, id1 AS id_b, k1 AS key_b FROM n
                UNION ALL SELECT id_a, key_a, id2, k2 FROM n)
              WHERE id_b IS NOT NULL),
            scored AS (
              SELECT *,
                     CASE WHEN greatest(length(key_a), length(key_b)) = 0
                          THEN 1.0
                          ELSE 1.0 - levenshtein(key_a, key_b)
                               / CAST(greatest(length(key_a), length(key_b))
                                      AS DOUBLE)
                     END AS similarity
              FROM pairs)
            SELECT id_a, key_a, id_b, key_b, similarity,
                   CASE WHEN similarity >= 0.85 THEN 'match'
                        WHEN similarity >= 0.6 THEN 'possible'
                        ELSE 'nonmatch' END AS decision
            FROM scored
        """,
        "ngram_jaccard": r"""
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
              FROM documents WHERE doc_id < 100),
            sh AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                           i -> array_to_string(t[i:i+2], ' '))) AS shingle
              FROM toks WHERE len(t) >= 3),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              FROM sh a JOIN sh b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) AS jaccard
            FROM pairs
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.02
        """,
        "embedding_topk": """
            WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 5),
            pairs AS (
              SELECT q.qid, e.vec_id AS nid,
                     list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS s
              FROM q, embeddings e WHERE e.vec_id <> q.qid),
            ranked AS (
              SELECT qid, nid, s,
                     row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rn
              FROM pairs)
            SELECT qid, nid, round(s, 4) AS sim FROM ranked WHERE rn <= 3
        """,
        # bitext_mine: full replay of the ratio-margin pipeline — both
        # directional exact top-k searches (k=4, ties by neighbor id),
        # per-vector neighborhood averages, candidate union, margin =
        # sim / ((a_src + a_tgt)/2), mutual margin-best windows, and the
        # threshold on the ROUNDED margin (the engine's float canon).
        "bitext_mine": """
            WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings WHERE vec_id % 2 = 0),
            t AS (SELECT vec_id, embedding::DOUBLE[] AS v
                  FROM embeddings WHERE vec_id % 2 = 1),
            fwd AS (
              SELECT qid, nid, sim FROM (
                SELECT s.vec_id AS qid, t.vec_id AS nid,
                       list_cosine_similarity(s.v, t.v) AS sim,
                       row_number() OVER (
                         PARTITION BY s.vec_id
                         ORDER BY list_cosine_similarity(s.v, t.v) DESC,
                                  t.vec_id) AS rn
                FROM s, t) WHERE rn <= 4),
            bwd AS (
              SELECT qid, nid, sim FROM (
                SELECT t.vec_id AS qid, s.vec_id AS nid,
                       list_cosine_similarity(t.v, s.v) AS sim,
                       row_number() OVER (
                         PARTITION BY t.vec_id
                         ORDER BY list_cosine_similarity(t.v, s.v) DESC,
                                  s.vec_id) AS rn
                FROM t, s) WHERE rn <= 4),
            a_s AS (SELECT qid AS src_id, avg(sim) AS a_src FROM fwd GROUP BY qid),
            a_t AS (SELECT qid AS tgt_id, avg(sim) AS a_tgt FROM bwd GROUP BY qid),
            cand AS (
              SELECT src_id, tgt_id, max(sim) AS sim FROM (
                SELECT qid AS src_id, nid AS tgt_id, sim FROM fwd
                UNION ALL
                SELECT nid AS src_id, qid AS tgt_id, sim FROM bwd)
              GROUP BY src_id, tgt_id),
            scored AS (
              SELECT c.src_id, c.tgt_id, c.sim,
                     c.sim / ((a_src + a_tgt) / 2) AS margin
              FROM cand c
              JOIN a_s USING (src_id) JOIN a_t USING (tgt_id)),
            r AS (
              SELECT *,
                     row_number() OVER (PARTITION BY src_id
                                        ORDER BY margin DESC, tgt_id) AS rf,
                     row_number() OVER (PARTITION BY tgt_id
                                        ORDER BY margin DESC, src_id) AS rb
              FROM scored)
            SELECT src_id, tgt_id, round(sim, 4) AS sim,
                   round(margin, 4) AS margin
            FROM r WHERE rf = 1 AND rb = 1 AND round(margin, 4) >= 1.0
        """,
        "sessionize": """
            WITH o AS (SELECT user_id, epoch_ms(ts) AS ms, event_id FROM events),
            g AS (
              SELECT user_id,
                     CASE WHEN lag(ms) OVER w IS NULL
                               OR ms - lag(ms) OVER w > 1800000
                          THEN 1 ELSE 0 END AS new_s
              FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
            SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions
            FROM g GROUP BY user_id
        """,
        "topk_per_user": """
            SELECT user_id, event_id, value FROM (
              SELECT user_id, event_id, value,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY value DESC, event_id) AS rn
              FROM events) WHERE rn <= 3
        """,
        "tumbling_hour": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour_bucket,
                   event_type, count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "event_case": """
            SELECT CASE WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
                        WHEN event_type = 'error' THEN 'failure'
                        ELSE 'engagement' END AS category,
                   count(*) AS n, round(avg(value), 2) AS avg_value
            FROM events GROUP BY 1
        """,
        "json_props": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
        """,
        "pivot_events": """
            SELECT user_id,
                   count(*) FILTER (WHERE event_type = 'click') AS click,
                   count(*) FILTER (WHERE event_type = 'view') AS view,
                   count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                   count(*) FILTER (WHERE event_type = 'signup') AS signup,
                   count(*) FILTER (WHERE event_type = 'error') AS error
            FROM events GROUP BY user_id
        """,
        "q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS n
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "broadcast_join_revenue": """
            SELECT n.n_name AS nation, count(*) AS n_orders,
                   round(sum(o.o_totalprice), 2) AS revenue
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1
        """,
        "anti_join_idle": """
            SELECT c_nationkey AS nationkey, count(*) AS n_idle
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >= TIMESTAMP '1998-01-01')
            GROUP BY 1
        """,
        "semi_join_parts": """
            SELECT count(*) AS n_parts FROM part p
            WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
        """,
        "except_lapsed_custs": """
            SELECT DISTINCT o_custkey AS custkey FROM orders
            WHERE year(o_orderdate) = 1997
            EXCEPT
            SELECT DISTINCT o_custkey AS custkey FROM orders
            WHERE year(o_orderdate) = 1998
        """,
        "intersect_buyers_clickers": """
            SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        """,
        "union_doc_langs": """
            SELECT lang, count(*) AS n FROM (
              SELECT doc_id, lang FROM documents WHERE lang = 'en'
              UNION ALL
              SELECT doc_id, lang FROM documents WHERE lang = 'de')
            GROUP BY 1
        """,
        "asof_click_before_purchase": """
            WITH ev AS (SELECT event_id, user_id, epoch_ms(ts) AS ms,
                               event_type, value FROM events),
            p AS (SELECT event_id, user_id, ms FROM ev
                  WHERE event_type = 'purchase'),
            c0 AS (SELECT user_id, ms, round(value, 2) AS click_value,
                          row_number() OVER (PARTITION BY user_id, ms
                                             ORDER BY event_id DESC) AS rn
                   FROM ev WHERE event_type = 'click'),
            c AS (SELECT user_id, ms, click_value FROM c0 WHERE rn = 1)
            SELECT p.event_id, p.user_id, c.ms AS asof_ts,
                   c.click_value AS asof_click_value
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND c.ms <= p.ms
        """,
        "range_join_clicks": """
            WITH ev AS (SELECT event_id, user_id, epoch_ms(ts) AS ms,
                               event_type, value FROM events),
            p AS (SELECT event_id, user_id, ms FROM ev
                  WHERE event_type = 'purchase'),
            c AS (SELECT user_id, ms, value FROM ev
                  WHERE event_type = 'click')
            SELECT p.event_id, p.user_id,
                   count(*) AS n_clicks,
                   round(sum(c.value), 2) AS click_value_sum
            FROM p JOIN c
              ON p.user_id = c.user_id
             AND c.ms BETWEEN p.ms - 1800000 AND p.ms
            GROUP BY 1, 2
        """,
        "combined_text_agg": r"""
            SELECT lang, source,
                   md5(string_agg(text, e'\n\n--- PAGE BREAK ---\n\n'
                                  ORDER BY doc_id)) AS combined_md5,
                   count(*) AS n_pages
            FROM documents GROUP BY 1, 2
        """,
        "span_offsets": """
            SELECT doc_id, lang, source,
                   CAST(coalesce(sum(length(text)) OVER w, 0) AS BIGINT)
                       AS start_offset,
                   CAST(coalesce(sum(length(text)) OVER w, 0) + length(text)
                        AS BIGINT) AS end_offset
            FROM documents
            WINDOW w AS (PARTITION BY lang, source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        """,
        "po_cascade": r"""
            WITH s AS (
              SELECT doc_id,
                     text || CASE
                       WHEN doc_id % 3 = 0 THEN ' Purchase Order 45' ||
                            lpad(CAST((doc_id * 7919) % 100000000 AS VARCHAR), 8, '0')
                       WHEN doc_id % 3 = 1 THEN ' PO: 45' ||
                            lpad(CAST((doc_id * 7919) % 100000000 AS VARCHAR), 8, '0')
                       ELSE '' END AS synth
              FROM documents)
            SELECT doc_id,
                   coalesce(
                     nullif(regexp_extract(synth, 'Purchase\s*[Oo]rder\s*(\d{10})', 1), ''),
                     nullif(regexp_extract(synth, 'PO\s*[:\-]?\s*(\d{10})', 1), ''),
                     nullif(regexp_extract(synth, '(45\d{8})', 1), ''),
                     'NONE') AS po_number
            FROM s
        """,
        "dpas_multi": r"""
            SELECT doc_id,
                   coalesce(array_to_string(
                     regexp_extract_all(text, '\b([a-z]+ing)\b', 1), ', '), '')
                     AS all_matches
            FROM documents
        """,
        "clause_codes_sorted": r"""
            SELECT doc_id,
                   coalesce(array_to_string(
                     list_sort(list_distinct(
                       regexp_extract_all(text, '\b(s[a-z]+)\b', 1))),
                     ','), '') AS codes
            FROM documents
        """,
        "value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.9), 4) AS p90,
                   round(stddev_samp(value), 4) AS sd
            FROM events GROUP BY 1
        """,
        "moving_avg": """
            WITH ev AS (SELECT event_id, user_id, epoch_ms(ts) AS ms, value
                        FROM events)
            SELECT event_id, user_id,
                   round(avg(value) OVER (PARTITION BY user_id
                                          ORDER BY ms, event_id
                                          ROWS BETWEEN 2 PRECEDING
                                          AND CURRENT ROW), 4) AS mavg3
            FROM ev
        """,
        "dense_rank_spenders": """
            WITH t AS (SELECT event_type, user_id, sum(value) AS total
                       FROM events GROUP BY 1, 2),
            r AS (SELECT event_type, user_id, total,
                         dense_rank() OVER (PARTITION BY event_type
                                            ORDER BY total DESC) AS rnk
                  FROM t)
            SELECT event_type, user_id, round(total, 2) AS total, rnk
            FROM r WHERE rnk <= 3
        """,
        "cube_events": """
            SELECT coalesce(event_type, 'ALL') AS event_type,
                   coalesce(hour(ts), -1) AS hr, count(*) AS n
            FROM events GROUP BY CUBE(event_type, hour(ts))
        """,
        "cosine_near_dups": """
            WITH u AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000 AS vec_id, embedding
              FROM embeddings WHERE vec_id < 5),
            p AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]) AS s
              FROM u a JOIN u b ON a.vec_id < b.vec_id)
            SELECT id_a, id_b, round(s, 4) AS sim FROM p WHERE s >= 0.99
        """,
        "rollup_docs": """
            SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
                   count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
            FROM documents GROUP BY ROLLUP(lang, source)
        """,
        "order_months": """
            SELECT strftime(o_orderdate, '%Y-%m') AS order_month, count(*) AS n
            FROM orders GROUP BY 1
        """,
        "gopher_quality": r"""
            WITH w AS (
              SELECT doc_id,
                     CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS ws,
                     len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS syms
              FROM documents),
            s AS (
              SELECT doc_id, ws, syms, len(ws) AS n,
                     len(list_distinct(ws)) AS nd,
                     list_sum(list_transform(ws, x -> length(x))) AS total_len
              FROM w),
            m AS (
              SELECT doc_id, n,
                     CASE WHEN n = 0 THEN 0.0
                          ELSE round(1.0 - nd / CAST(n AS DOUBLE), 4) END AS dup_frac,
                     CASE WHEN n = 0 THEN 0.0
                          ELSE round(list_max(list_transform(list_distinct(ws),
                                 d -> len(list_filter(ws, x -> x = d))))
                               / CAST(n AS DOUBLE), 4) END AS top_cov,
                     CASE WHEN n = 0 THEN 0.0
                          ELSE round(total_len / CAST(n AS DOUBLE), 4) END AS mean_wlen,
                     CASE WHEN n = 0 THEN 0.0
                          ELSE round(syms / CAST(n AS DOUBLE), 4) END AS sym_ratio
              FROM s)
            SELECT doc_id, dup_frac, top_cov, mean_wlen, sym_ratio,
                   (dup_frac <= 0.3 AND top_cov <= 0.2
                    AND mean_wlen BETWEEN 2.0 AND 12.0
                    AND sym_ratio <= 0.3) AS keep
            FROM m
        """,
        # word confidences synthesized as (length*37 + ascii(first char)) % 101
        # in BOTH engines; the array filter/aggregate semantics are the test
        "word_conf_filter": """
            WITH w AS (
              SELECT doc_id, string_split(text, ' ')[1:12] AS words
              FROM documents),
            c AS (
              SELECT doc_id, words,
                     list_filter(words,
                       x -> (length(x) * 37 + ascii(x)) % 101 > 30) AS kept
              FROM w)
            SELECT doc_id,
                   CAST(len(words) AS INT) AS n_words,
                   CAST(len(kept) AS INT) AS n_kept,
                   array_to_string(kept, ' ') AS ocr_text,
                   CASE WHEN len(kept) > 0
                        THEN round(CAST(list_sum(list_transform(kept,
                               x -> (length(x) * 37 + ascii(x)) % 101))
                             AS DOUBLE) / len(kept), 2)
                        ELSE 0.0 END AS avg_conf
            FROM c
        """,
        "ocr_quality_grades": _ocr_quality_oracle(),
        "strategy_routing": _strategy_routing_oracle(),
        "ai_normalizer": _ai_normalizer_oracle(),
        "minhash_dups": _minhash_oracle(),
        "minhash_error": _minhash_error_oracle(),
        "zorder_key": _zorder_oracle(),
        # cluster_subsample: the recursive-CTE cluster oracle plus the
        # identical md5-60 keep gate (0.4 * 2^60 as the exact double
        # literal the engine's Python computes).
        "cluster_subsample": f"""
            SELECT doc_id, component, is_canonical,
                   CASE WHEN is_canonical THEN 'canonical'
                        ELSE 'sampled' END AS kept_as
            FROM ({_dedup_clusters_oracle()}) t
            WHERE is_canonical
               OR CAST(CAST('0x' || substr(md5('cs1'
                        || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       AS DOUBLE) < 4.611686018427388e17
        """,
        # kmv_jaccard: replay both key formulas, both 64-minimum-hash
        # sketches, the union sketch, and the membership intersection.
        "kmv_jaccard": """
            WITH a AS (
              SELECT DISTINCT CAST('0x' || substr(md5('k'
                       || CAST(doc_id % 400 AS VARCHAR)), 1, 15) AS BIGINT)
                     AS h
              FROM documents),
            b AS (
              SELECT DISTINCT CAST('0x' || substr(md5('k'
                       || CAST((doc_id % 400) + 200 AS VARCHAR)), 1, 15)
                     AS BIGINT) AS h
              FROM documents),
            sa AS (SELECT h FROM a ORDER BY h LIMIT 64),
            sb AS (SELECT h FROM b ORDER BY h LIMIT 64),
            us AS (SELECT DISTINCT h FROM
                     (SELECT h FROM sa UNION ALL SELECT h FROM sb)
                   ORDER BY h LIMIT 64),
            nu AS (SELECT count(*) AS c FROM us),
            nb AS (SELECT count(*) AS c FROM us
                   WHERE h IN (SELECT h FROM sa)
                     AND h IN (SELECT h FROM sb))
            SELECT nu.c AS n_union_sketch, nb.c AS n_both,
                   round(nb.c / nu.c, 4) AS est_jaccard
            FROM nu, nb
        """,
        # kmv_distinct: (k-1) * 2^60 / h_k on the 64-hash sketch of the
        # 400-key set; n_kept < k short-circuits to the exact count.
        "kmv_distinct": """
            WITH a AS (
              SELECT DISTINCT CAST('0x' || substr(md5('k'
                       || CAST(doc_id % 400 AS VARCHAR)), 1, 15) AS BIGINT)
                     AS h
              FROM documents),
            sk AS (SELECT h FROM a ORDER BY h LIMIT 64),
            agg AS (SELECT count(*) AS n_kept, max(h) AS hk FROM sk)
            SELECT n_kept,
                   round(CASE WHEN n_kept < 64
                              THEN CAST(n_kept AS DOUBLE)
                              ELSE (CAST(63 AS DOUBLE)
                                    * 1152921504606846976.0) / hk
                         END, 4) AS est_distinct
            FROM agg
        """,
        # mirror_hosts: replay the url/content formulas; DuckDB's own
        # md5 supplies the fingerprint; roster comma-joined in host
        # order (Spark array_sort(collect_set) = sorted distinct).
        "mirror_hosts": """
            WITH pages AS (
              SELECT 'h' || CAST(doc_id % 7 AS VARCHAR)
                       || '.mirror.example' AS host,
                     'payload-' || CAST(doc_id % 50 AS VARCHAR) AS text
              FROM documents)
            SELECT md5(text) AS fingerprint,
                   count(DISTINCT host) AS n_hosts,
                   count(*) AS n_urls,
                   string_agg(DISTINCT host, ',' ORDER BY host) AS hosts
            FROM pages
            GROUP BY md5(text)
            HAVING count(DISTINCT host) >= 2
        """,
        # co_citation: the pagerank edge formula -> distinct (src,dst)
        # -> fanout guard (vacuous at <=3 distinct dsts, replayed
        # anyway) -> ordered dst-pair self-join on src.
        "co_citation": """
            WITH docs AS (SELECT doc_id, doc_id % 4 AS n FROM documents),
            e AS (
              SELECT 'http://src' || CAST(doc_id AS VARCHAR)
                       || '.example.com/page' AS src,
                     'h' || CAST((doc_id * 7 + i.i) % 20 AS VARCHAR)
                       || '.example.com' AS dst
              FROM docs,
                   LATERAL unnest(generate_series(0, CAST(n AS INT) - 1))
                     AS i(i)
              WHERE n > 0),
            pairs AS (SELECT DISTINCT src, dst FROM e WHERE dst <> ''),
            fan AS (SELECT src FROM pairs GROUP BY src
                    HAVING count(*) <= 64),
            kept AS (SELECT p.src, p.dst FROM pairs p
                     JOIN fan USING (src))
            SELECT a.dst AS host_a, b.dst AS host_b, count(*) AS n_cocite
            FROM kept a JOIN kept b ON a.src = b.src AND a.dst < b.dst
            GROUP BY 1, 2
        """,
        # host_lang_profile: replay the host formula, the (host,lang)
        # counts, the per-host window total, the (-count, lang)
        # struct-min majority pick, and the entropy sum.
        "host_lang_profile": """
            WITH c AS (
              SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
                     coalesce(lang, 'unknown') AS lang,
                     count(*) AS c
              FROM documents GROUP BY 1, 2),
            t AS (SELECT *, sum(c) OVER (PARTITION BY host) AS n FROM c)
            SELECT host,
                   max(n) AS n_docs,
                   struct_extract(min({'nc': -c, 'l': lang}), 'l')
                     AS majority_lang,
                   round(-sum((c / n) * ln(c / n)), 6) AS lang_entropy
            FROM t GROUP BY host
        """,
        # url_templates: the two regexp_replace passes (hex-run first,
        # then digit runs; 'g' = Spark's replace-all) over the url
        # formula, rolled up per template.
        "url_templates": r"""
            WITH urls AS (
              SELECT 'http://'
                       || list_extract(['alpha','beta','gamma','delta',
                                        'epsilon'],
                                       CAST(doc_id % 5 AS INT) + 1)
                       || '.ex.com/item/' || CAST(doc_id AS VARCHAR)
                       || '/rev/' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                     AS url
              FROM documents)
            SELECT regexp_replace(
                     regexp_replace(url, '[0-9a-f]{8,}', '{h}', 'g'),
                     '[0-9]+', '{d}', 'g') AS template,
                   count(*) AS n_urls
            FROM urls GROUP BY 1
        """,
        # column_stats: one UNION ALL branch per profiled column —
        # counts on the native type, min/max rendered exactly like the
        # engine (printf %.6f for the double, plain casts elsewhere).
        "column_stats": """
            SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
                   count(*) - count(o_orderkey) AS n_nulls,
                   count(DISTINCT o_orderkey) AS n_distinct,
                   CAST(min(o_orderkey) AS VARCHAR) AS min_value,
                   CAST(max(o_orderkey) AS VARCHAR) AS max_value
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus', count(*),
                   count(*) - count(o_orderstatus),
                   count(DISTINCT o_orderstatus),
                   CAST(min(o_orderstatus) AS VARCHAR),
                   CAST(max(o_orderstatus) AS VARCHAR)
            FROM orders
            UNION ALL
            SELECT 'o_totalprice', count(*),
                   count(*) - count(o_totalprice),
                   count(DISTINCT o_totalprice),
                   printf('%.6f', min(o_totalprice)),
                   printf('%.6f', max(o_totalprice))
            FROM orders
            UNION ALL
            SELECT 'o_orderdate', count(*),
                   count(*) - count(o_orderdate),
                   count(DISTINCT o_orderdate),
                   CAST(min(o_orderdate) AS VARCHAR),
                   CAST(max(o_orderdate) AS VARCHAR)
            FROM orders
            UNION ALL
            SELECT 'o_orderpriority', count(*),
                   count(*) - count(o_orderpriority),
                   count(DISTINCT o_orderpriority),
                   CAST(min(o_orderpriority) AS VARCHAR),
                   CAST(max(o_orderpriority) AS VARCHAR)
            FROM orders
        """,
        # lsh_pr: the shared MinHash pair CTEs give the predicted set;
        # the exact set reuses the SAME distinct-shingle relation (sh)
        # through the inverted-index form with the engine's
        # round-then-threshold order; metrics are int/int divisions
        # (double in both engines) with zero-denominator guards.
        "lsh_pr": f"""
            WITH {_minhash_pair_ctes('documents')},
            esizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            einter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM sh a JOIN sh b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
            ex AS (
              SELECT id_a, id_b FROM einter
              JOIN esizes sa ON sa.doc_id = einter.id_a
              JOIN esizes sb ON sb.doc_id = einter.id_b
              WHERE round(CAST(einter.i AS DOUBLE)
                          / (sa.sz + sb.sz - einter.i), 4) >= 0.5),
            tpc AS (SELECT count(*) AS c FROM pairs p
                    JOIN ex ON ex.id_a = p.id_a AND ex.id_b = p.id_b),
            pc AS (SELECT count(*) AS c FROM pairs),
            xc AS (SELECT count(*) AS c FROM ex)
            SELECT pc.c AS n_pred, xc.c AS n_truth, tpc.c AS tp,
                   pc.c - tpc.c AS fp, xc.c - tpc.c AS fn,
                   round(CASE WHEN pc.c = 0 THEN 0.0
                              ELSE tpc.c / pc.c END, 4) AS prec,
                   round(CASE WHEN xc.c = 0 THEN 0.0
                              ELSE tpc.c / xc.c END, 4) AS rec,
                   round(CASE WHEN (CASE WHEN pc.c = 0 THEN 0.0
                                         ELSE tpc.c / pc.c END)
                              + (CASE WHEN xc.c = 0 THEN 0.0
                                      ELSE tpc.c / xc.c END) = 0 THEN 0.0
                              ELSE 2 * (CASE WHEN pc.c = 0 THEN 0.0
                                             ELSE tpc.c / pc.c END)
                                     * (CASE WHEN xc.c = 0 THEN 0.0
                                             ELSE tpc.c / xc.c END)
                                   / ((CASE WHEN pc.c = 0 THEN 0.0
                                            ELSE tpc.c / pc.c END)
                                      + (CASE WHEN xc.c = 0 THEN 0.0
                                              ELSE tpc.c / xc.c END))
                         END, 4) AS f1
            FROM pc, xc, tpc
        """,
        "dedup_clusters": _dedup_clusters_oracle(),
        # leakage_split: the dedup_clusters reachability oracle plus the
        # split_assign hash CASE applied to the COMPONENT label
        "leakage_split": f"""
            WITH comp AS ({_dedup_clusters_oracle()}),
            u AS (
              SELECT doc_id, component, is_canonical,
                     CAST(CAST('0x' || substr(md5(CAST(component AS VARCHAR)),
                          1, 15) AS BIGINT) AS DOUBLE)
                       / 1152921504606846976.0 AS p
              FROM comp)
            SELECT doc_id, component, is_canonical,
                   CASE WHEN p < 0.8 THEN 'train'
                        WHEN p < 0.9 THEN 'val'
                        ELSE 'test' END AS split
            FROM u
        """,
        # temperature_mix: replay the T=2 re-weighting — per-lang token
        # shares f, boost = pow(f, 1/2)/f, keep_rate = round(boost /
        # max(boost), 12) (rounded on BOTH sides so an ulp of pow
        # divergence cannot flip a boundary row), then the md5-60 filter
        "temperature_mix": """
            WITH tot AS (
              SELECT lang, sum(CAST(n_chars AS DOUBLE)) AS st
              FROM documents GROUP BY lang),
            boost AS (
              SELECT lang,
                     pow(st / (SELECT sum(st) FROM tot), 0.5)
                       / (st / (SELECT sum(st) FROM tot)) AS b
              FROM tot),
            rates AS (
              SELECT lang, round(b / (SELECT max(b) FROM boost), 12)
                       AS keep_rate
              FROM boost)
            SELECT d.doc_id, d.lang, r.keep_rate
            FROM documents d JOIN rates r USING (lang)
            WHERE CAST(CAST('0x' || substr(md5('ts'
                    || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                  AS DOUBLE) / 1152921504606846976.0 < r.keep_rate
        """,
        "incremental_dedup": _incremental_dedup_oracle(),
        "simhash_dups": _simhash_oracle(),
        "embedding_lsh_topk": _lsh_topk_oracle(),
        "ivf_topk": _ivf_topk_oracle(),
        "pq_topk": _pq_topk_oracle(),
        # frontier_bfs: depth-bounded recursive reachability with
        # min-hop labels over the same formulaic host graph.
        "frontier_bfs": """
            WITH RECURSIVE e AS (
              SELECT DISTINCT 'n' || CAST(doc_id % 20 AS VARCHAR) AS src,
                     'n' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS dst
              FROM documents),
            bfs(node, depth) AS (
              SELECT 'n0', 0
              UNION ALL
              SELECT e.dst, b.depth + 1
              FROM bfs b JOIN e ON e.src = b.node
              WHERE b.depth < 3)
            SELECT node, CAST(min(depth) AS INT) AS depth
            FROM bfs GROUP BY node
        """,
        # sitemap_entries: predict every parsed field from the
        # generative formula (ordinal = rank within host by doc_id,
        # priority string '0.<p>' parsed to the same double as p/10.0).
        "sitemap_entries": """
            SELECT doc_id % 8 AS file_id,
                   'urlset' AS kind,
                   CAST(row_number() OVER (PARTITION BY doc_id % 8
                                           ORDER BY doc_id) - 1 AS INT) AS ord,
                   'http://h' || CAST(doc_id % 8 AS VARCHAR)
                     || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS loc,
                   '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                     AS lastmod,
                   (doc_id % 10) / 10.0 AS priority
            FROM documents
        """,
        # stratified_sample: the md5-60bit order key replayed verbatim
        # (operators/sampling.md5_60 ≡ ('0x'||substr(md5(x),1,15))::BIGINT)
        "stratified_sample": """
            SELECT doc_id, lang, source, n_chars FROM (
              SELECT doc_id, lang, source, n_chars,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT,
                                doc_id) AS rn
              FROM documents) WHERE rn <= 10
        """,
        "quality_gate": """
            SELECT doc_id, lang, n_chars FROM (
              SELECT doc_id, lang, n_chars,
                     cume_dist() OVER (
                       PARTITION BY lang ORDER BY n_chars, doc_id) AS cd
              FROM documents) WHERE cd > 0.5
        """,
        "pack_sequences": """
            SELECT doc_id, lang, n_chars,
                   (before // 4096)::BIGINT AS pack_window,
                   (before % 4096)::BIGINT AS pack_offset,
                   ((before + greatest(n_chars, 1) - 1) // 4096
                    - before // 4096 + 1)::BIGINT AS pack_spans
            FROM (
              SELECT doc_id, lang, n_chars,
                     coalesce(sum(n_chars) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS before
              FROM documents)
        """,
        "vocab_topk": r"""
            WITH toks AS (
              SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
              FROM documents),
            counts AS (
              SELECT lang, token, count(*) AS n FROM toks
              WHERE token <> '' GROUP BY 1, 2)
            SELECT lang, token, n, rank FROM (
              SELECT lang, token, n,
                     row_number() OVER (
                       PARTITION BY lang ORDER BY n DESC, token) AS rank
              FROM counts) WHERE rank <= 5
        """,
        # pages_pipeline_yield: for text-layer rows the extraction kernel's
        # observable aggregate is deterministic SQL — status 'ok' iff the
        # text layer is non-empty (kernels/document.py:203-206), chars =
        # length(text) for the single logical page.
        "pages_pipeline_yield": """
            SELECT lang,
                   CASE WHEN text IS NOT NULL AND text <> '' THEN 'ok'
                        ELSE 'empty' END AS status,
                   count(*) AS n,
                   CAST(sum(CASE WHEN text IS NOT NULL AND text <> ''
                            THEN length(text) ELSE 0 END) AS BIGINT) AS chars
            FROM documents GROUP BY 1, 2
        """,
        "url_canon": _url_canon_oracle(),
        "surt_trap": _surt_trap_oracle(),
        "normalize_text": """
            WITH raw AS (
              SELECT doc_id,
                CASE WHEN doc_id % 2 = 0
                     THEN 'Caf' || chr(233) || '   R' || chr(233) || 'sum'
                          || chr(233) || chr(9) || doc_id || '  '
                     ELSE 'Cafe' || chr(769) || '   Re' || chr(769) || 'sume'
                          || chr(769) || chr(9) || doc_id || '  '
                END AS t
              FROM documents)
            SELECT doc_id,
                   trim(regexp_replace(lower(nfc_normalize(t)), '\\s+', ' ', 'g')) AS norm,
                   length(trim(regexp_replace(lower(nfc_normalize(t)), '\\s+', ' ', 'g'))) AS n
            FROM raw
        """,
        "domain_stats": r"""
            WITH raw AS (
              SELECT doc_id, lang, n_chars,
                CASE doc_id % 4
                  WHEN 0 THEN 'http://www.shop' || (doc_id % 5) || '.example.com/p/' || doc_id
                  WHEN 1 THEN 'https://blog.banned.org/post/' || doc_id
                  WHEN 2 THEN 'http://news.site' || (doc_id % 7) || '.net/a/' || doc_id
                  ELSE 'https://archive.keep.io/' || doc_id END AS raw_url
              FROM documents),
            hosts AS (
              SELECT lang, n_chars,
                regexp_extract(
                  regexp_replace(
                    regexp_replace(lower(regexp_extract(
                      regexp_replace(raw_url, '#.*', ''),
                      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)), '^[^@]*@', ''),
                    ':\d+$', ''),
                  '([^.]+\.[^.]+)$', 1) AS domain
              FROM raw)
            SELECT domain, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS chars,
                   count(DISTINCT lang) AS n_langs
            FROM hosts
            WHERE domain NOT IN ('banned.org', 'spam.example')
            GROUP BY domain
        """,
        "pii_redact": _pii_oracle(),
        "repetition_collapse": _REPETITION_ORACLE,
        "snapshot_diff": _SNAPSHOT_DIFF_ORACLE,
        # line_dedup: the 5-line page construction, the blank-line filter,
        # the df>20 bad-line set, and the ordered reassembly replayed in SQL
        "line_dedup": r"""
            WITH pages AS (
              SELECT doc_id,
                     concat_ws(chr(10),
                       'HOME | PRODUCTS | ABOUT | CONTACT',
                       'Category ' || CAST(doc_id % 7 AS VARCHAR) || ' bestsellers',
                       substr(text, 1, 80),
                       substr(text, 81, 80),
                       '(c) 2024 Example Corp - All rights reserved') AS text
              FROM documents),
            l0 AS (
              SELECT doc_id,
                     unnest(string_split(text, chr(10))) AS line,
                     unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
              FROM pages),
            l AS (SELECT * FROM l0
                  WHERE regexp_replace(line, '^\s+|\s+$', '', 'g') <> ''),
            bad AS (
              SELECT line FROM (
                SELECT line, count(DISTINCT doc_id) AS line_df FROM l GROUP BY 1)
              WHERE line_df > 20),
            kept AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM bad)),
            reb AS (
              SELECT doc_id,
                     string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                     count(*) AS n_lines_kept
              FROM kept GROUP BY 1)
            SELECT p.doc_id AS id,
                   coalesce(reb.clean_text, '') AS clean_text,
                   CAST(len(list_filter(string_split(p.text, chr(10)),
                        x -> regexp_replace(x, '^\s+|\s+$', '', 'g') <> '')) AS INT)
                     AS n_lines_in,
                   CAST(coalesce(reb.n_lines_kept, 0) AS INT) AS n_lines_kept
            FROM pages p LEFT JOIN reb USING (doc_id)
        """,
        # chunk_documents: same 64/48 window arithmetic, list-slice clamping
        # identical to Spark's slice()
        "chunk_documents": r"""
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = ''
                          THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(
                                 regexp_replace(text, '^\s+|\s+$', '', 'g'),
                                 '\s+') END AS t
              FROM documents),
            k AS (
              SELECT doc_id, t,
                     CAST(1 + floor((greatest(len(t) - 64, 0) + 47) / 48.0)
                          AS INT) AS nk
              FROM toks)
            SELECT doc_id AS id, CAST(i AS INT) AS chunk_id,
                   CAST(len(t[i*48+1 : i*48+64]) AS INT) AS n_chunk_tokens,
                   array_to_string(t[i*48+1 : i*48+64], ' ') AS chunk_text
            FROM k, unnest(range(0, nk)) AS u(i)
        """,
        # mixture_sample: budgets VALUES-list + md5-60 hash-order prefix sum
        "semantic_dedup": _semantic_dedup_oracle(),
        "mixture_sample": _mixture_oracle(exact=True),
        "mixture_rate": _mixture_oracle(exact=False),
        # unimax: closed-form water-filling allocation replayed with the
        # same integer prefix test and division order
        "unimax_alloc": _unimax_oracle(sample=False, **_UNIMAX_ALLOC),
        "unimax_sample": _unimax_oracle(sample=True, **_UNIMAX_SAMPLE),
        # decontaminate: distinct word-3-gram overlap vs the doc_id%37==0
        # benchmark split, same ASCII-\s tokenizer as token_stats
        "decontaminate": r"""
            WITH toks AS (
              SELECT doc_id,
                     regexp_split_to_array(
                       regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
              FROM documents),
            ng0 AS (
              SELECT doc_id, array_to_string(t[i:i+2], ' ') AS ng
              FROM toks, unnest(range(1, len(t) - 3 + 2)) AS u(i)
              WHERE len(t) >= 3),
            bench AS (SELECT DISTINCT ng FROM ng0 WHERE doc_id % 37 = 0),
            docng AS (SELECT DISTINCT doc_id, ng FROM ng0 WHERE doc_id % 37 <> 0),
            hits AS (
              SELECT doc_id, count(*) AS o FROM docng
              WHERE ng IN (SELECT ng FROM bench) GROUP BY 1)
            SELECT d.doc_id AS id,
                   CAST(coalesce(o, 0) AS INT) AS overlap_ngrams,
                   coalesce(o, 0) >= 5 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 37 <> 0) d
            LEFT JOIN hits USING (doc_id)
        """,
        # multimodal_meta: the deterministic stub decoder's math replayed in
        # SQL — utf-8 byte length, magic-byte format sniff (PNG/JPEG magic
        # bytes cannot lead a utf-8 string; RIFF can), sha256-derived pseudo
        # dimensions (operators/multimodal.py:decode_media).
        "multimodal_meta": """
            WITH m AS (
              SELECT doc_id AS media_id, octet_length(encode(text)) AS nb,
                     sha256(text) AS sha, substr(text, 1, 4) AS head
              FROM documents)
            SELECT media_id,
                   CAST(nb AS BIGINT) AS n_bytes,
                   CASE WHEN head = 'RIFF' THEN 'wav' ELSE 'bin' END AS format,
                   CAST(64 + CAST('0x' || substr(sha, 1, 2) AS BIGINT) % 192
                        AS INT) AS width,
                   CAST(64 + CAST('0x' || substr(sha, 3, 2) AS BIGINT) % 192
                        AS INT) AS height,
                   sha AS content_sha256
            FROM m
        """,
        # media_decode_real: the engine ENCODES a real PNG per doc (pixel i
        # = (doc_id + i) % 256, w/h from doc_id) and DECODES it with the
        # pure-stdlib codec; the oracle replays the generative formula, so
        # any decode error (dims, scanline unfiltering, zlib handling)
        # breaks the value hash.
        "media_decode_real": """
            WITH g AS (
              SELECT doc_id, 8 + doc_id % 16 AS w, 8 + (doc_id * 7) % 16 AS h
              FROM documents
            ),
            px AS (
              SELECT doc_id, SUM((doc_id + i.i) % 256) AS px_sum
              FROM g, LATERAL unnest(generate_series(0, w*h - 1)) AS i(i)
              GROUP BY doc_id
            )
            SELECT g.doc_id AS media_id, 'png' AS format,
                   CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CAST(w*h AS BIGINT) AS n_pixels,
                   CAST(px_sum AS BIGINT) AS px_sum
            FROM g JOIN px USING (doc_id)
        """,
        # audio_decode_real: the engine ENCODES a real RIFF/WAV per doc
        # (interleaved sample j = (doc_id*31 + j*17) % 4001 - 2000, frames/
        # channels/rate from doc_id) and DECODES it with the pure-stdlib
        # chunk walker; the oracle replays the generative formula, so any
        # container-parse or feature-math error breaks the value hash.
        # Zero crossings use the kernel's fixed class boundary (v < 0).
        "audio_decode_real": """
            WITH g AS (
              SELECT doc_id, 50 + doc_id % 200 AS n,
                     8000 + (doc_id % 4) * 4000 AS rate,
                     1 + doc_id % 2 AS ch
              FROM documents
            ),
            s AS (
              SELECT doc_id, j.j AS j,
                     ((doc_id * 31 + j.j * 17) % 4001) - 2000 AS v
              FROM g, LATERAL unnest(generate_series(0, n * ch - 1)) AS j(j)
            ),
            w AS (
              SELECT doc_id, v,
                     LAG(v) OVER (PARTITION BY doc_id ORDER BY j) AS pv
              FROM s
            ),
            f AS (
              SELECT doc_id,
                     MAX(ABS(v)) AS peak_abs,
                     SUM(ABS(v)) AS abs_sum,
                     SUM(CASE WHEN pv IS NOT NULL AND ((v < 0) <> (pv < 0))
                         THEN 1 ELSE 0 END) AS zc
              FROM w GROUP BY doc_id
            )
            SELECT g.doc_id AS media_id,
                   CAST(rate AS INT) AS sample_rate,
                   CAST(ch AS INT) AS channels,
                   CAST(16 AS INT) AS bits,
                   CAST(n AS BIGINT) AS n_frames,
                   CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
                   CAST(peak_abs AS BIGINT) AS peak_abs,
                   CAST(abs_sum AS BIGINT) AS abs_sum,
                   CAST(zc AS BIGINT) AS zero_crossings
            FROM g JOIN f USING (doc_id)
        """,
        # video_decode_real: the engine ENCODES a real AVI per doc (frame f
        # pixel i = (doc_id + 7f + 3i) % 256, dims/frames/fps from doc_id)
        # and DECODES it with the pure-stdlib container walker at frame
        # stride 2; the oracle replays the formula. Sampled frames are
        # 0,2,…,<nf (generate_series step 2 up to nf-1); motion pairs are
        # (f, f+2) for f up to nf-3.
        "video_decode_real": """
            WITH g AS (
              SELECT doc_id, 4 + doc_id % 9 AS w, 4 + (doc_id * 5) % 9 AS h,
                     2 + doc_id % 6 AS nf, 10 + doc_id % 15 AS fps
              FROM documents
            ),
            p AS (
              SELECT g.doc_id,
                     SUM((doc_id + 7 * f.f + 3 * i.i) % 256) AS px_sum
              FROM g,
                   LATERAL unnest(generate_series(0, nf - 1, 2)) AS f(f),
                   LATERAL unnest(generate_series(0, w * h - 1)) AS i(i)
              GROUP BY g.doc_id
            ),
            m AS (
              SELECT g.doc_id,
                     SUM(ABS(((doc_id + 7 * (f.f + 2) + 3 * i.i) % 256)
                           - ((doc_id + 7 * f.f + 3 * i.i) % 256))) AS motion
              FROM g,
                   LATERAL unnest(generate_series(0, nf - 3, 2)) AS f(f),
                   LATERAL unnest(generate_series(0, w * h - 1)) AS i(i)
              GROUP BY g.doc_id
            )
            SELECT g.doc_id AS media_id,
                   CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CAST(fps AS INT) AS fps,
                   CAST(nf AS BIGINT) AS n_frames,
                   CAST((nf + 1) // 2 AS BIGINT) AS n_sampled,
                   CAST(nf * 1000 // fps AS BIGINT) AS duration_ms,
                   CAST(p.px_sum AS BIGINT) AS px_sum_sampled,
                   CAST(COALESCE(m.motion, 0) AS BIGINT) AS motion_sum
            FROM g
            JOIN p USING (doc_id)
            LEFT JOIN m USING (doc_id)
        """,
        # image_dhash_dups: replay the whole perceptual-hash pipeline in
        # SQL — pixel i = (doc_id + i) % 256 on a (h, w) grid, block of a
        # pixel = ((row*8)//h, (col*8)//w), bit(r,c) = integer
        # cross-multiplied mean comparison of horizontally adjacent
        # blocks (7 bits × 8 rows = 56-bit hash), then group hashes with
        # >= 2 members. Any decode/unfilter/block-boundary error in the
        # engine shifts a block sum and breaks the value hash.
        "image_dhash_dups": """
            WITH g AS (
              SELECT doc_id, 8 + doc_id % 16 AS w, 8 + (doc_id * 7) % 16 AS h
              FROM documents
            ),
            blk AS (
              SELECT doc_id,
                     (((i.i // w) * 8) // h) AS r,
                     (((i.i % w) * 8) // w) AS c,
                     SUM((doc_id + i.i) % 256) AS s,
                     COUNT(*) AS a
              FROM g, LATERAL unnest(generate_series(0, w*h - 1)) AS i(i)
              GROUP BY 1, 2, 3
            ),
            bits AS (
              SELECT l.doc_id, l.r, l.c,
                     CASE WHEN l.s * rgt.a > rgt.s * l.a THEN 1 ELSE 0 END AS bit
              FROM blk l
              JOIN blk rgt
                ON rgt.doc_id = l.doc_id AND rgt.r = l.r AND rgt.c = l.c + 1
              WHERE l.c < 7
            ),
            h AS (
              SELECT doc_id,
                     SUM(bit * (CAST(1 AS BIGINT) << (r * 7 + c))) AS dhash
              FROM bits GROUP BY doc_id
            )
            SELECT CAST(dhash AS BIGINT) AS dhash,
                   COUNT(*) AS n_images,
                   MIN(doc_id) AS canonical_id,
                   string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                     AS member_ids
            FROM h
            GROUP BY dhash
            HAVING COUNT(*) >= 2
        """,
        # page_metadata: the engine re-parses real generated HTML through
        # the stdlib head collector; the oracle PREDICTS the extracted
        # fields per doc_id % 5 class (it never parses — so a mis-parsed
        # title/meta/canonical/<time> cascade breaks the value hash).
        "page_metadata": """
            SELECT 'http://src' || CAST(doc_id AS VARCHAR)
                     || '.example.com/page' AS url,
                   CASE doc_id % 5
                     WHEN 0 THEN 'Title ' || CAST(doc_id AS VARCHAR)
                     WHEN 1 THEN 'Title ' || CAST(doc_id AS VARCHAR)
                     ELSE NULL END AS title,
                   CASE doc_id % 5
                     WHEN 0 THEN 'Desc ' || CAST(doc_id AS VARCHAR) || ' summary'
                     WHEN 1 THEN 'Mixed ' || CAST(doc_id AS VARCHAR)
                     WHEN 2 THEN 'Self ' || CAST(doc_id AS VARCHAR)
                     ELSE NULL END AS description,
                   CASE doc_id % 5
                     WHEN 0 THEN 'http://canon.example.com/p'
                                   || CAST(doc_id % 50 AS VARCHAR)
                     ELSE NULL END AS canonical_url,
                   CASE doc_id % 5
                     WHEN 0 THEN '2024-03-'
                                   || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                                   || 'T00:00:00Z'
                     WHEN 2 THEN '2023-12-01T'
                                   || lpad(CAST(doc_id % 10 AS VARCHAR), 2, '0')
                                   || ':00:00'
                     WHEN 3 THEN '2022-01-0' || CAST(doc_id % 9 + 1 AS VARCHAR)
                     ELSE NULL END AS published
            FROM documents
        """,
        # c4_clean: predict the surviving lines — line 1 and the closer
        # always pass; the short / no-terminal / banned-content lines
        # always fail (5 lines total, 2 kept).
        "c4_clean": """
            SELECT doc_id,
                   'This is a perfectly fine sentence number '
                     || CAST(doc_id AS VARCHAR) || '.' || chr(10)
                     || 'Another keeper line closes the document properly.'
                     AS clean_text,
                   5 AS n_lines,
                   2 AS n_kept_lines
            FROM documents
        """,
        # html_markdown: predict the exact markdown per class — m=0
        # heading+para ('\n\n' separated), m=1 adjacent '- ' items
        # ('\n'), m=2 '> ' quote + para, m=3 inline [text](url) link.
        "html_markdown": """
            WITH d AS (
              SELECT doc_id, doc_id % 4 AS m, doc_id % 3 AS r,
                     CAST(doc_id AS VARCHAR) AS sid
              FROM documents)
            SELECT 'http://src' || sid || '.example.com/page' AS url,
                   CASE m
                     WHEN 0 THEN '# Head ' || sid || chr(10) || chr(10)
                                   || 'Para ' || sid || ' text'
                     WHEN 1 THEN '- item ' || sid || ' 0'
                                   || CASE WHEN r >= 1 THEN chr(10)
                                        || '- item ' || sid || ' 1' ELSE '' END
                                   || CASE WHEN r >= 2 THEN chr(10)
                                        || '- item ' || sid || ' 2' ELSE '' END
                     WHEN 2 THEN '> quote ' || sid || chr(10) || chr(10)
                                   || 'after'
                     ELSE 'see [link ' || sid || '](http://t'
                            || CAST(doc_id % 20 AS VARCHAR)
                            || '.example.com/) end'
                   END AS markdown
            FROM d
        """,
        # refresh_schedule: replay the Cho–Garcia-Molina estimator with
        # the identical nesting and guards — λ = -ln((n-X+0.5)/(n+0.5))
        # / ((t1-t0)/day_us/(n-1)) when changes and span are observed,
        # 0 for never-changed urls (refresh = max 30d), NULL for
        # zero-span changed histories (refresh = min 0.25d).
        "refresh_schedule": """
            WITH h AS (
              SELECT 'u' || CAST(event_id % 200 AS VARCHAR) AS url, ts,
                     CASE WHEN event_id % 3 = 0 AND event_id % 200 >= 2
                          THEN 1 ELSE 0 END AS chg
              FROM events),
            a AS (
              SELECT url, COUNT(*) AS n_fetches, SUM(chg) AS n_changed,
                     epoch_us(MIN(ts)) AS t0, epoch_us(MAX(ts)) AS t1
              FROM h GROUP BY 1
              HAVING COUNT(*) >= 2),
            l AS (
              SELECT url, n_fetches, CAST(n_changed AS BIGINT) AS n_changed,
                     (t1 - t0) / 86400000000.0 AS span_days,
                     CASE
                       WHEN n_changed > 0 AND t1 > t0 THEN
                         -ln((n_fetches - n_changed + 0.5) / (n_fetches + 0.5))
                           / ((t1 - t0) / 86400000000.0 / (n_fetches - 1))
                       WHEN n_changed = 0 THEN 0.0
                       ELSE NULL END AS lambda_per_day
              FROM a)
            SELECT url, n_fetches, n_changed, span_days, lambda_per_day,
                   CASE
                     WHEN lambda_per_day > 0 THEN
                       LEAST(GREATEST(1.0 / lambda_per_day, 0.25), 30.0)
                     WHEN lambda_per_day IS NULL THEN 0.25
                     ELSE 30.0 END AS refresh_days
            FROM l
        """,
        # sitemap_discovery: predict the surviving Sitemap: urls per
        # class — m=0 two (mixed-case key), m=1 one (relative + ftp
        # skipped), m=2 none, m=3 one (no space after colon).
        "sitemap_discovery": """
            WITH d AS (
              SELECT doc_id, doc_id % 4 AS m,
                     'h' || CAST(doc_id AS VARCHAR) || '.example.com' AS h
              FROM documents)
            SELECT h AS host,
                   'http://' || h || '/sitemap.xml' AS sitemap_url,
                   0 AS pos
            FROM d WHERE m = 0
            UNION ALL
            SELECT h, 'https://' || h || '/s2.xml', 1 FROM d WHERE m = 0
            UNION ALL
            SELECT h, 'http://' || h || '/only.xml', 0 FROM d WHERE m = 1
            UNION ALL
            SELECT h, 'http://' || h || '/nospace.xml', 0 FROM d WHERE m = 3
        """,
        # mojibake: predict the repaired text per doc_id class — latin-1
        # mojibake shrinks by 1 char, cp1252 smart quote by 2, double
        # mojibake by 3, clean ascii untouched.
        "mojibake": """
            SELECT doc_id,
                   CASE doc_id % 4
                     WHEN 0 THEN 'café no ' || CAST(doc_id AS VARCHAR)
                     WHEN 1 THEN 'it’s page ' || CAST(doc_id AS VARCHAR)
                     WHEN 2 THEN 'plain ascii ' || CAST(doc_id AS VARCHAR)
                     ELSE 'café twice ' || CAST(doc_id AS VARCHAR)
                   END AS fixed_text,
                   CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                                   WHEN 2 THEN 0 ELSE 3 END AS chars_repaired
            FROM documents
        """,
        # soft404: predict hits/verdict per doc_id class — m=0 one marker
        # on a k+3-token page (soft404 iff k <= 117), m=1 two markers
        # (always soft404), else clean.
        "soft404": """
            SELECT doc_id,
                   CASE doc_id % 7 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 0 END
                     AS n_soft404_hits,
                   CASE doc_id % 7
                     WHEN 0 THEN doc_id % 200 + 10 + 3 <= 120
                     WHEN 1 THEN TRUE
                     ELSE FALSE END AS soft404
            FROM documents
        """,
        # sentence_stats: predict counts per class — r 3-token sentences,
        # tail m=0 'end' (no terminator), m=1 'end!' (+1 sentence),
        # m=2 none.
        "sentence_stats": """
            WITH p AS (
              SELECT doc_id, doc_id % 20 + 1 AS r, doc_id % 3 AS m
              FROM documents)
            SELECT doc_id,
                   CAST(r + CASE WHEN m = 1 THEN 1 ELSE 0 END AS INT)
                     AS n_sentences,
                   CAST(3 * r + CASE WHEN m IN (0, 1) THEN 1 ELSE 0 END AS INT)
                     AS n_tokens,
                   (3 * r + CASE WHEN m IN (0, 1) THEN 1 ELSE 0 END) * 1.0
                     / (r + CASE WHEN m = 1 THEN 1 ELSE 0 END)
                     AS avg_sentence_tokens,
                   m != 0 AS terminal_end
            FROM p
        """,
        # reciprocity: replay the edge formula (src h{id%20} → dst
        # h{(id*7+i)%20}, i < id%4), drop self-loops, distinct pairs,
        # back-edge semi-join, per-src ratio.
        "reciprocity": """
            WITH e AS (
              SELECT DISTINCT
                     'h' || CAST(doc_id % 20 AS VARCHAR)
                       || '.example.com' AS a,
                     'h' || CAST((doc_id * 7 + i.i) % 20 AS VARCHAR)
                       || '.example.com' AS b
              FROM documents,
                   LATERAL unnest(generate_series(0, doc_id % 4 - 1)) AS i(i)
              WHERE doc_id % 4 > 0
                AND doc_id % 20 != (doc_id * 7 + i.i) % 20
            ),
            r AS (
              SELECT e.a, COUNT(*) AS n_reciprocal
              FROM e
              WHERE EXISTS (SELECT 1 FROM e b2 WHERE b2.a = e.b AND b2.b = e.a)
              GROUP BY e.a
            )
            SELECT e.a AS src_host,
                   COUNT(*) AS n_out_hosts,
                   COALESCE(MIN(r.n_reciprocal), 0) AS n_reciprocal,
                   COALESCE(MIN(r.n_reciprocal), 0) * 1.0 / COUNT(*)
                     AS reciprocity
            FROM e LEFT JOIN r USING (a)
            GROUP BY e.a
        """,
        # dsir_weights: replay the full DSIR computation — lower/\s+-split
        # tokens, unigrams + space-joined bigrams, md5-60 % 256 buckets,
        # Laplace-smoothed target (lang='en') and raw (everything)
        # distributions, per-doc Σ cnt·(ln p_t − ln p_r). Zero-gram docs
        # drop on both sides.
        "dsir_weights": r"""
            WITH toks AS (
              SELECT doc_id, lang = 'en' AS t,
                     CASE WHEN length(regexp_replace(lower(text),
                                      '^\s+|\s+$', '', 'g')) = 0
                          THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array(
                                 regexp_replace(lower(text),
                                                '^\s+|\s+$', '', 'g'), '\s+')
                     END AS tk
              FROM documents),
            g AS (
              SELECT doc_id, t, u.g AS gram
              FROM toks, LATERAL unnest(tk) AS u(g)
              UNION ALL
              SELECT doc_id, t, tk[i.i] || ' ' || tk[i.i + 1] AS gram
              FROM toks, LATERAL unnest(generate_series(1, len(tk) - 1)) AS i(i)
              WHERE len(tk) >= 2),
            fb AS (
              SELECT doc_id, t,
                     CAST(CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)
                          % 256 AS INT) AS bucket,
                     COUNT(*) AS cnt
              FROM g GROUP BY 1, 2, 3),
            st AS (
              SELECT bucket,
                     SUM(CASE WHEN t THEN cnt ELSE 0 END) AS ct,
                     SUM(cnt) AS cr
              FROM fb GROUP BY 1),
            tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM st),
            lam AS (
              SELECT bucket,
                     ln((ct + 1.0) / (nt + 256.0))
                       - ln((cr + 1.0) / (nr + 256.0)) AS lam
              FROM st, tot)
            SELECT fb.doc_id,
                   CAST(SUM(cnt) AS BIGINT) AS n_grams,
                   SUM(cnt * lam) AS dsir_logw
            FROM fb JOIN lam USING (bucket)
            GROUP BY fb.doc_id
        """,
        # canonical_collapse: group the predicted canonical keys.
        "canonical_collapse": """
            WITH meta AS (
              SELECT doc_id,
                     'http://src' || CAST(doc_id AS VARCHAR)
                       || '.example.com/page' AS url,
                     CASE doc_id % 5
                       WHEN 0 THEN 'http://canon.example.com/p'
                                     || CAST(doc_id % 50 AS VARCHAR)
                       ELSE NULL END AS canonical_url
              FROM documents
            )
            SELECT COALESCE(canonical_url, url) AS canonical_key,
                   COUNT(*) AS n_fetches,
                   MIN(url) AS representative_url
            FROM meta
            GROUP BY 1
        """,
        # split_assign: md5-60 uniform in [0,1) via the same 15-hex-char
        # trick; both engines compute v/2^60 in IEEE double on identical
        # v, so the boundary comparisons agree bit-for-bit.
        "split_assign": """
            WITH u AS (
              SELECT doc_id,
                     CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                          AS BIGINT) AS DOUBLE) / 1152921504606846976.0 AS p
              FROM documents)
            SELECT doc_id,
                   CASE WHEN p < 0.8 THEN 'train'
                        WHEN p < 0.9 THEN 'val'
                        ELSE 'test' END AS split
            FROM u
        """,
        # substring_dup: replay the k-gram coverage math — same regex
        # ws-trim/split recipe as token_stats, gram hash = md5-60 of the
        # space-joined k-gram, duplicated iff >= 2 distinct docs carry it,
        # coverage = distinct token positions under any duplicated gram.
        # dup_bp uses floor (not round) so no rounding-mode divergence.
        "substring_dup": r"""
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
                          THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array(
                                 regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
                     END AS t
              FROM documents),
            g AS (
              SELECT doc_id, i.i - 1 AS start,
                     CAST('0x' || substr(md5(array_to_string(t[i.i:i.i+4], ' ')), 1, 15)
                          AS BIGINT) AS h
              FROM toks, LATERAL unnest(generate_series(1, len(t) - 4)) AS i(i)
              WHERE len(t) >= 5),
            dups AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
            ds AS (SELECT doc_id, start FROM g JOIN dups USING (h)),
            cov AS (
              SELECT ds.doc_id, count(DISTINCT p.p) AS covered
              FROM ds, LATERAL unnest(generate_series(ds.start, ds.start + 4)) AS p(p)
              GROUP BY ds.doc_id),
            ng AS (SELECT doc_id, count(*) AS n_dup_grams FROM ds GROUP BY doc_id)
            SELECT toks.doc_id,
                   CAST(len(t) AS INT) AS n_tokens,
                   CAST(coalesce(ng.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
                   CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered_tokens,
                   CAST(CASE WHEN len(t) = 0 THEN 0
                        ELSE floor(coalesce(cov.covered, 0) * 10000.0 / len(t))
                        END AS BIGINT) AS dup_bp
            FROM toks
            LEFT JOIN cov USING (doc_id)
            LEFT JOIN ng USING (doc_id)
        """,
        # tfidf_topk: same ws-trim/split token recipe; idf =
        # ln((N+1)/(df+1)) with N = docs having >= 1 token; drop tokens
        # with df > floor(0.9*N) (the synthetic fixture's 31-token vocabulary is nearly all high-df); row_number ties break by token ASC on
        # both engines. DuckDB ln == Spark F.log (natural log); the
        # float hash canon rounds to 6 significant digits.
        "tfidf_topk": r"""
            WITH tok AS (
              SELECT doc_id, t.token
              FROM (SELECT doc_id,
                           regexp_split_to_array(
                             regexp_replace(text, '^\s+|\s+$', '', 'g'),
                             '\s+') AS arr
                    FROM documents) d,
                   LATERAL unnest(d.arr) AS t(token)
              WHERE length(t.token) > 0),
            tf AS (SELECT doc_id, token, CAST(count(*) AS INT) AS tf
                   FROM tok GROUP BY doc_id, token),
            dft AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
            scored AS (
              SELECT tf.doc_id, tf.token, tf.tf, dft.df,
                     tf.tf * ln((n.n_docs + 1.0) / (dft.df + 1.0)) AS tfidf
              FROM tf JOIN dft USING (token), n
              WHERE dft.df <= floor(0.9 * n.n_docs))
            SELECT doc_id, token, tf, df, tfidf, CAST(rnk AS INT) AS rnk
            FROM (SELECT *,
                         row_number() OVER (PARTITION BY doc_id
                                            ORDER BY tfidf DESC, token ASC)
                           AS rnk
                  FROM scored)
            WHERE rnk <= 5
        """,
        # bloom_anti_join: the bloom bitmap is a pure prefilter with no
        # false negatives, so the result is definitionally the plain
        # anti-join — which IS the oracle.
        "bloom_anti_join": """
            SELECT n.doc_id
            FROM documents n
            WHERE n.doc_id % 10 = 0
              AND NOT EXISTS (SELECT 1 FROM documents c
                              WHERE c.doc_id % 10 <> 0
                                AND c.text = n.text)
        """,
        # salted_skew_join: salting is join-neutral — the oracle IS the
        # plain join.
        "salted_skew_join": """
            WITH dim AS (
              SELECT lang, avg(n_chars) AS lang_avg_chars
              FROM documents GROUP BY lang)
            SELECT d.doc_id, d.lang, d.n_chars, dim.lang_avg_chars
            FROM documents d LEFT JOIN dim ON dim.lang = d.lang
        """,
        # funnel: replay greedy-earliest funnel — t_i = min ts of step-i
        # events strictly after t_{i-1}; conversion = n_i / n_{i-1}.
        "funnel": """
            WITH t1 AS (SELECT user_id, min(ts) AS t FROM events
                        WHERE event_type = 'view' GROUP BY user_id),
            t2 AS (SELECT e.user_id, min(e.ts) AS t
                   FROM events e JOIN t1 ON t1.user_id = e.user_id
                   WHERE e.event_type = 'click' AND e.ts > t1.t
                   GROUP BY e.user_id),
            t3 AS (SELECT e.user_id, min(e.ts) AS t
                   FROM events e JOIN t2 ON t2.user_id = e.user_id
                   WHERE e.event_type = 'purchase' AND e.ts > t2.t
                   GROUP BY e.user_id),
            c AS (
              SELECT 1 AS step, 'view' AS step_name,
                     (SELECT count(*) FROM t1) AS n_users
              UNION ALL SELECT 2, 'click', (SELECT count(*) FROM t2)
              UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM t3))
            SELECT step, step_name, n_users,
                   CASE WHEN step = 1 THEN CAST(1.0 AS DOUBLE)
                        WHEN lag(n_users) OVER (ORDER BY step) = 0
                          THEN CAST(0.0 AS DOUBLE)
                        ELSE CAST(n_users AS DOUBLE)
                             / lag(n_users) OVER (ORDER BY step)
                   END AS conversion
            FROM c
        """,
        # approx_distinct: replay linear counting — md5-60 slot hash mod
        # m, occupied slot count, n ~ -m*ln((m-occupied)/m); all-double
        # casts to keep DuckDB out of DECIMAL arithmetic.
        "approx_distinct": """
            WITH keyed AS (
              SELECT md5(coalesce(text, '')) AS fp FROM documents),
            slots AS (
              SELECT DISTINCT
                     CAST('0x' || substr(md5(fp), 1, 15) AS BIGINT) % 1024
                       AS slot
              FROM keyed WHERE fp IS NOT NULL),
            occ AS (SELECT count(*) AS occupied FROM slots)
            SELECT occupied,
                   CAST(1024 AS INT) AS m,
                   CASE WHEN occupied >= 1024
                        THEN CAST(1024 AS DOUBLE) * ln(CAST(1024 AS DOUBLE))
                        ELSE -CAST(1024 AS DOUBLE)
                             * ln((CAST(1024 AS DOUBLE) - occupied)
                                  / CAST(1024 AS DOUBLE))
                   END AS estimate,
                   (SELECT count(DISTINCT fp) FROM keyed) AS exact_distinct
            FROM occ
        """,
        # bpe_tokenize: replay the fixed BPE merge table — per word,
        # symbols joined by chr(31) with the </w> sentinel, then one
        # replace per merge IN RANK ORDER (SQL replace is left-to-right
        # non-overlapping, exactly the BPE replacement rule); token
        # count and the space-joined token stream md5 must match the
        # Arrow kernel byte-for-byte.
        "bpe_tokenize": f"""
            WITH words AS (
              SELECT doc_id,
                     unnest(string_split(trim(coalesce(text, '')), ' '))
                       AS word,
                     unnest(range(1, len(string_split(
                       trim(coalesce(text, '')), ' ')) + 1)) AS pos
              FROM documents),
            enc AS (
              SELECT doc_id, pos, {_bpe_replace_chain()} AS s
              FROM (
                SELECT doc_id, pos,
                       array_to_string(string_split(word, ''), chr(31))
                         || chr(31) || '</w>' AS s
                FROM words WHERE word <> '') base)
            SELECT d.doc_id,
                   CAST(coalesce(
                     sum(len(string_split(e.s, chr(31)))), 0) AS INT)
                     AS n_tokens,
                   md5(coalesce(
                     string_agg(replace(e.s, chr(31), ' '),
                                ' ' ORDER BY e.pos), '')) AS tokens_md5
            FROM documents d LEFT JOIN enc e USING (doc_id)
            GROUP BY d.doc_id
        """,
        # bpe_fertility: same merge-chain replay as bpe_tokenize, rolled
        # up per language into tokens/word and chars/token
        "bpe_fertility": f"""
            WITH words AS (
              SELECT doc_id,
                     unnest(string_split(trim(coalesce(text, '')), ' '))
                       AS word
              FROM documents),
            enc AS (
              SELECT doc_id, {_bpe_replace_chain()} AS s
              FROM (
                SELECT doc_id,
                       array_to_string(string_split(word, ''), chr(31))
                         || chr(31) || '</w>' AS s
                FROM words WHERE word <> '') base),
            per_doc AS (
              SELECT d.doc_id, d.lang,
                     length(coalesce(d.text, '')) AS n_chars_txt,
                     coalesce(sum(len(string_split(e.s, chr(31)))), 0)
                       AS n_toks,
                     count(e.s) AS n_words
              FROM documents d LEFT JOIN enc e USING (doc_id)
              GROUP BY 1, 2, 3)
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_words) AS BIGINT) AS n_words,
                   CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                   CAST(sum(n_toks) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE)
                     AS fertility,
                   CAST(sum(n_chars_txt) AS DOUBLE)
                     / CAST(sum(n_toks) AS DOUBLE) AS chars_per_token
            FROM per_doc GROUP BY lang
        """,
        # bloom_membership: replay the Bloom bitmap bit-for-bit — k=3
        # positions are disjoint 16-bit slices of md5-60('u'||doc_id),
        # packed into 32-bit words by bit_or, probed by bool_and over
        # the k word/mask tests (left join + 0 floor = absent word is
        # all-clear, matching the Spark side).
        "bloom_membership": """
            WITH h AS (
              SELECT doc_id,
                     CAST('0x' || substr(
                       md5('u' || CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) AS h
              FROM documents),
            pos AS (
              SELECT doc_id, ((h >> (j * 16)) & 65535) AS pos
              FROM h CROSS JOIN (VALUES (0), (1), (2)) t(j)),
            words AS (
              SELECT CAST(pos >> 5 AS INTEGER) AS word,
                     bit_or(CAST(1 AS BIGINT)
                            << CAST(pos & 31 AS INTEGER)) AS bits
              FROM pos WHERE doc_id % 3 <> 0 GROUP BY word)
            SELECT p.doc_id,
                   bool_and(
                     (coalesce(w.bits, 0)
                      & (CAST(1 AS BIGINT) << CAST(p.pos & 31 AS INTEGER)))
                     <> 0) AS maybe_present,
                   p.doc_id % 3 <> 0 AS is_member
            FROM pos p
            LEFT JOIN words w ON w.word = CAST(p.pos >> 5 AS INTEGER)
            GROUP BY p.doc_id
        """,
        # cms_freq: replay the count-min math — ONE md5-60 per token,
        # row d's bucket = bit-slice d of the hash ((h >> 4d) & 15 at
        # width 16), cell counts over all occurrences, estimate = min
        # over depth rows (left join + 0 floor matches the Spark side).
        "cms_freq": r"""
            WITH tok AS (
              SELECT t.token,
                     CAST('0x' || substr(md5(t.token), 1, 15) AS BIGINT)
                       AS h
              FROM (SELECT regexp_split_to_array(
                             regexp_replace(text, '^\s+|\s+$', '', 'g'),
                             '\s+') AS arr
                    FROM documents) d,
                   LATERAL unnest(d.arr) AS t(token)
              WHERE length(t.token) > 0),
            dd AS (SELECT unnest(generate_series(0, 2)) AS d),
            occ AS (
              SELECT dd.d, (tok.h >> (dd.d * 4)) & 15 AS b
              FROM tok, dd),
            cell AS (SELECT d, b, count(*) AS cnt FROM occ GROUP BY d, b),
            keys AS (
              SELECT k.token, dd.d, (k.h >> (dd.d * 4)) & 15 AS b
              FROM (SELECT DISTINCT token, h FROM tok) k, dd)
            SELECT keys.token AS key, min(coalesce(cell.cnt, 0)) AS est
            FROM keys LEFT JOIN cell USING (d, b)
            GROUP BY keys.token
        """,
        # outlink_domains: replay the link-generation formula directly —
        # if the HTML kernel drops, reorders into different pages, or
        # mangles any href, the per-host counts diverge.
        "outlink_domains": """
            WITH docs AS (SELECT doc_id, doc_id % 4 AS n FROM documents),
            e AS (
              SELECT doc_id,
                     'h' || CAST((doc_id * 7 + i.i) % 20 AS VARCHAR)
                         || '.example.com' AS dst_host
              FROM docs,
                   LATERAL unnest(generate_series(0, CAST(n AS INT) - 1))
                     AS i(i)
              WHERE n > 0)
            SELECT dst_host,
                   count(*) AS n_links,
                   count(DISTINCT doc_id) AS n_src_urls
            FROM e GROUP BY dst_host
        """,
        # pagerank: replay the edge formula and the three fixed
        # iterations as chained CTEs — rank_0 = 1/N over the edge-list
        # node set, rank_{t+1}(v) = (1-0.85)/N + 0.85 * sum_{u->v}
        # rank_t(u)/outdeg(u), dangling mass dropped (same variant).
        "pagerank": """
            WITH docs AS (SELECT doc_id, doc_id % 4 AS n FROM documents),
            e AS (
              SELECT 'http://src' || CAST(doc_id AS VARCHAR)
                       || '.example.com/page' AS src,
                     'h' || CAST((doc_id * 7 + i.i) % 20 AS VARCHAR)
                       || '.example.com' AS dst
              FROM docs,
                   LATERAL unnest(generate_series(0, CAST(n AS INT) - 1))
                     AS i(i)
              WHERE n > 0),
            nodes AS (SELECT DISTINCT node FROM
                      (SELECT src AS node FROM e
                       UNION SELECT dst AS node FROM e)),
            nn AS (SELECT count(*) AS cnt FROM nodes),
            od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
            r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / cnt AS rank FROM nodes, nn),
            c1 AS (SELECT e.dst, sum(r0.rank / od.outdeg) AS m
                   FROM e JOIN od USING (src) JOIN r0 ON r0.node = e.src
                   GROUP BY e.dst),
            r1 AS (SELECT nodes.node,
                          CAST(0.15000000000000002 AS DOUBLE) / nn.cnt
                            + CAST(0.85 AS DOUBLE) * coalesce(c1.m, 0) AS rank
                   FROM nodes LEFT JOIN c1 ON c1.dst = nodes.node, nn),
            c2 AS (SELECT e.dst, sum(r1.rank / od.outdeg) AS m
                   FROM e JOIN od USING (src) JOIN r1 ON r1.node = e.src
                   GROUP BY e.dst),
            r2 AS (SELECT nodes.node,
                          CAST(0.15000000000000002 AS DOUBLE) / nn.cnt
                            + CAST(0.85 AS DOUBLE) * coalesce(c2.m, 0) AS rank
                   FROM nodes LEFT JOIN c2 ON c2.dst = nodes.node, nn),
            c3 AS (SELECT e.dst, sum(r2.rank / od.outdeg) AS m
                   FROM e JOIN od USING (src) JOIN r2 ON r2.node = e.src
                   GROUP BY e.dst),
            r3 AS (SELECT nodes.node,
                          CAST(0.15000000000000002 AS DOUBLE) / nn.cnt
                            + CAST(0.85 AS DOUBLE) * coalesce(c3.m, 0) AS rank
                   FROM nodes LEFT JOIN c3 ON c3.dst = nodes.node, nn)
            SELECT node, rank FROM r3
        """,
        # trustrank: replay the edge formula, the 5-host seed teleport
        # vector (1/|S| on seeds present in the node set, 0 elsewhere),
        # and the three fixed iterations — t_{k+1}(v) = 0.85 *
        # sum_{u->v} t_k(u)/outdeg(u) + (1-0.85) * seed(v)/|S|, dangling
        # mass dropped, exactly the Spark operator's op order (the
        # 1-0.85 literal is Python's double 0.15000000000000002).
        "trustrank": """
            WITH docs AS (SELECT doc_id, doc_id % 4 AS n FROM documents),
            e AS (
              SELECT 'http://src' || CAST(doc_id AS VARCHAR)
                       || '.example.com/page' AS src,
                     'h' || CAST((doc_id * 7 + i.i) % 20 AS VARCHAR)
                       || '.example.com' AS dst
              FROM docs,
                   LATERAL unnest(generate_series(0, CAST(n AS INT) - 1))
                     AS i(i)
              WHERE n > 0),
            nodes AS (SELECT DISTINCT node FROM
                      (SELECT src AS node FROM e
                       UNION SELECT dst AS node FROM e)),
            seeds AS (SELECT node FROM nodes
                      WHERE node IN ('h0.example.com', 'h1.example.com',
                                     'h2.example.com', 'h3.example.com',
                                     'h4.example.com')),
            ns AS (SELECT count(*) AS cnt FROM seeds),
            od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
            base AS (SELECT nodes.node,
                            CASE WHEN seeds.node IS NOT NULL
                                 THEN CAST(1.0 AS DOUBLE) / ns.cnt
                                 ELSE CAST(0.0 AS DOUBLE) END AS seed_mass
                     FROM nodes LEFT JOIN seeds USING (node), ns),
            r0 AS (SELECT node, seed_mass AS trust FROM base),
            c1 AS (SELECT e.dst, sum(r0.trust / od.outdeg) AS m
                   FROM e JOIN od USING (src) JOIN r0 ON r0.node = e.src
                   GROUP BY e.dst),
            r1 AS (SELECT base.node,
                          CAST(0.85 AS DOUBLE) * coalesce(c1.m, 0)
                            + CAST(0.15000000000000002 AS DOUBLE)
                              * base.seed_mass AS trust
                   FROM base LEFT JOIN c1 ON c1.dst = base.node),
            c2 AS (SELECT e.dst, sum(r1.trust / od.outdeg) AS m
                   FROM e JOIN od USING (src) JOIN r1 ON r1.node = e.src
                   GROUP BY e.dst),
            r2 AS (SELECT base.node,
                          CAST(0.85 AS DOUBLE) * coalesce(c2.m, 0)
                            + CAST(0.15000000000000002 AS DOUBLE)
                              * base.seed_mass AS trust
                   FROM base LEFT JOIN c2 ON c2.dst = base.node),
            c3 AS (SELECT e.dst, sum(r2.trust / od.outdeg) AS m
                   FROM e JOIN od USING (src) JOIN r2 ON r2.node = e.src
                   GROUP BY e.dst),
            r3 AS (SELECT base.node,
                          CAST(0.85 AS DOUBLE) * coalesce(c3.m, 0)
                            + CAST(0.15000000000000002 AS DOUBLE)
                              * base.seed_mass AS trust
                   FROM base LEFT JOIN c3 ON c3.dst = base.node)
            SELECT node, trust FROM r3
        """,
        # justext_blocks: replay the block formula (kind cycle -> frozen
        # texts/lengths/densities), the context-free CASE, and the two
        # context windows (nearest sure class either side, page edges =
        # NULL = bad) — IGNORE NULLS last/first_value mirror Spark's
        # ignorenulls last/first over the same frames.
        "justext_blocks": """
            WITH docs AS (
              SELECT doc_id, CAST(doc_id % 4 + 2 AS INT) AS nb
              FROM documents),
            blk AS (
              SELECT doc_id, i.i AS block_idx,
                     CAST((doc_id + i.i) % 4 AS INT) AS kind
              FROM docs,
                   LATERAL unnest(generate_series(0, nb - 1)) AS i(i)),
            feat AS (
              SELECT doc_id, CAST(block_idx AS INT) AS block_idx,
                CASE kind
                  WHEN 0 THEN 'this block carries enough characters to pass the length high bar'
                  WHEN 1 THEN 'tiny heading'
                  WHEN 2 THEN 'a medium sized sentence of middling size'
                  ELSE 'all of this text lives inside one anchor'
                END AS text,
                CASE kind WHEN 0 THEN 64 WHEN 1 THEN 12
                          WHEN 2 THEN 40 ELSE 40 END AS n_chars,
                CASE kind WHEN 3 THEN CAST(1.0 AS DOUBLE)
                          ELSE CAST(0.0 AS DOUBLE) END AS link_density,
                false AS in_boiler,
                CASE kind WHEN 0 THEN 'good' WHEN 1 THEN 'short'
                          WHEN 2 THEN 'near_good' ELSE 'bad' END AS class_cf
              FROM blk),
            ctx AS (
              SELECT *,
                last_value(CASE WHEN class_cf IN ('good', 'bad')
                                THEN class_cf END IGNORE NULLS)
                  OVER (PARTITION BY doc_id ORDER BY block_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS p,
                first_value(CASE WHEN class_cf IN ('good', 'bad')
                                 THEN class_cf END IGNORE NULLS)
                  OVER (PARTITION BY doc_id ORDER BY block_idx
                        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                  AS nx
              FROM feat)
            SELECT doc_id, block_idx, text,
                   CAST(n_chars AS INT) AS n_chars,
                   link_density, in_boiler, class_cf,
                   CASE WHEN class_cf IN ('good', 'bad') THEN class_cf
                        WHEN class_cf = 'near_good' THEN
                          CASE WHEN p = 'good' OR nx = 'good'
                               THEN 'good' ELSE 'bad' END
                        ELSE
                          CASE WHEN p = 'good' AND nx = 'good'
                               THEN 'good' ELSE 'bad' END
                   END AS class_final
            FROM ctx
        """,
        # pmi_bigrams: replay tokenize -> adjacent pairs (1-based list
        # index i, i+1 mirrors slice/zip_with) -> counts -> the frozen
        # double ratio (c12*N*N)/(M*c1*c2) as the sort key; ln only on
        # the output column. min_count 5, k 20, ties (w1, w2) asc.
        "pmi_bigrams": r"""
            WITH base AS (
              SELECT regexp_split_to_array(
                       regexp_replace(text, '^\s+|\s+$', '', 'g'),
                       '\s+') AS t
              FROM documents),
            nz AS (SELECT t FROM base WHERE len(t) > 0),
            uni AS (SELECT tok.w, count(*) AS c
                    FROM nz, LATERAL unnest(nz.t) AS tok(w)
                    WHERE length(tok.w) > 0 GROUP BY tok.w),
            pairs AS (
              SELECT t[g.i] AS w1, t[g.i + 1] AS w2
              FROM nz,
                   LATERAL unnest(generate_series(1, len(t) - 1)) AS g(i)
              WHERE len(t) >= 2
                AND length(t[g.i]) > 0 AND length(t[g.i + 1]) > 0),
            big AS (SELECT w1, w2, count(*) AS c12
                    FROM pairs GROUP BY w1, w2),
            nn AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uni),
            mm AS (SELECT CAST(sum(c12) AS DOUBLE) AS m FROM big),
            scored AS (
              SELECT big.w1, big.w2, big.c12,
                     (CAST(big.c12 AS DOUBLE) * nn.n * nn.n)
                       / (mm.m * CAST(u1.c AS DOUBLE)
                          * CAST(u2.c AS DOUBLE)) AS r
              FROM big
              JOIN uni u1 ON u1.w = big.w1
              JOIN uni u2 ON u2.w = big.w2, nn, mm
              WHERE big.c12 >= 5)
            SELECT w1, w2, c12, ln(r) AS pmi
            FROM scored ORDER BY r DESC, w1 ASC, w2 ASC LIMIT 20
        """,
        # script_detect: rebuild the mixed-script synthesis, recount
        # every script with the same codepoint ranges (RE2 \x{...}
        # spelling of the engine's literal-char classes), and replay the
        # dominance argmin as a list_sort over (-count, name) structs.
        "script_detect": r"""
            WITH synth AS (
              SELECT doc_id,
                     substring(coalesce(text, ''), 1, 64)
                       || repeat(list_extract(
                            ['ж','漢','α','م','한'],
                            CAST(doc_id % 5 AS INT) + 1),
                          CAST((doc_id % 10) * 16 AS INT)) AS t
              FROM documents),
            counts AS (
              SELECT doc_id,
                CAST(len(regexp_extract_all(t, '[\x{0600}-\x{06FF}]')) AS INT) AS arabic_n,
                CAST(len(regexp_extract_all(t, '[\x{4E00}-\x{9FFF}]')) AS INT) AS cjk_n,
                CAST(len(regexp_extract_all(t, '[\x{0400}-\x{04FF}]')) AS INT) AS cyrillic_n,
                CAST(len(regexp_extract_all(t, '[\x{0900}-\x{097F}]')) AS INT) AS devanagari_n,
                CAST(len(regexp_extract_all(t, '[\x{0370}-\x{03FF}]')) AS INT) AS greek_n,
                CAST(len(regexp_extract_all(t, '[\x{AC00}-\x{D7AF}]')) AS INT) AS hangul_n,
                CAST(len(regexp_extract_all(t, '[\x{0590}-\x{05FF}]')) AS INT) AS hebrew_n,
                CAST(len(regexp_extract_all(t, '[\x{3040}-\x{30FF}]')) AS INT) AS kana_n,
                CAST(len(regexp_extract_all(t, '[A-Za-z\x{00C0}-\x{024F}]')) AS INT) AS latin_n
              FROM synth)
            SELECT doc_id, arabic_n, cjk_n, cyrillic_n, devanagari_n,
                   greek_n, hangul_n, hebrew_n, kana_n, latin_n,
                   CASE WHEN arabic_n + cjk_n + cyrillic_n + devanagari_n
                             + greek_n + hangul_n + hebrew_n + kana_n
                             + latin_n > 0
                        THEN list_sort([
                               {'nc': -arabic_n,     's': 'arabic'},
                               {'nc': -cjk_n,        's': 'cjk'},
                               {'nc': -cyrillic_n,   's': 'cyrillic'},
                               {'nc': -devanagari_n, 's': 'devanagari'},
                               {'nc': -greek_n,      's': 'greek'},
                               {'nc': -hangul_n,     's': 'hangul'},
                               {'nc': -hebrew_n,     's': 'hebrew'},
                               {'nc': -kana_n,       's': 'kana'},
                               {'nc': -latin_n,      's': 'latin'}
                             ])[1].s
                        ELSE 'unknown' END AS dominant_script
            FROM counts
        """,
        # inverted_index: rebuild the sharded postings artifact — same
        # ws-trim/split tokenizer as bm25, shard = doc_id % 4, postings
        # serialized "id:tf" ascending by id (string_agg ORDER BY is the
        # SQL mirror of array_sort(collect_list(struct(id,tf)))).
        "inverted_index": r"""
            WITH base AS (
              SELECT doc_id,
                     regexp_split_to_array(
                       regexp_replace(text, '^\s+|\s+$', '', 'g'),
                       '\s+') AS t
              FROM documents),
            tok AS (
              SELECT doc_id, tok.token
              FROM base, LATERAL unnest(base.t) AS tok(token)
              WHERE len(base.t) > 0 AND length(tok.token) > 0),
            tf AS (SELECT doc_id, token, count(*) AS tf
                   FROM tok GROUP BY doc_id, token)
            SELECT token,
                   CAST(doc_id % 4 AS INT) AS shard,
                   count(*) AS df,
                   CAST(sum(tf) AS BIGINT) AS cf,
                   string_agg(CAST(doc_id AS VARCHAR) || ':'
                                || CAST(tf AS VARCHAR),
                              ',' ORDER BY doc_id) AS postings
            FROM tf GROUP BY token, shard
        """,
        # boolean_and: AND-retrieval = docs whose distinct matched query
        # terms cover the whole query set.
        "boolean_and": r"""
            WITH base AS (
              SELECT doc_id,
                     regexp_split_to_array(
                       regexp_replace(text, '^\s+|\s+$', '', 'g'),
                       '\s+') AS t
              FROM documents),
            tok AS (
              SELECT doc_id, tok.token
              FROM base, LATERAL unnest(base.t) AS tok(token)
              WHERE tok.token IN ('dup', 'sort', 'stream'))
            SELECT doc_id AS id FROM tok
            GROUP BY doc_id HAVING count(DISTINCT token) = 3
        """,
        # bm25_topk: replay the Lucene-idf BM25 (k1=1.2, b=0.75) — same
        # ws-trim/split recipe, dl=0 for empty docs, N counts ALL docs,
        # ties at the k boundary break by doc_id ASC.
        "bm25_topk": r"""
            WITH base AS (
              SELECT doc_id,
                     CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
                          THEN 0
                          ELSE len(regexp_split_to_array(
                                 regexp_replace(text, '^\s+|\s+$', '', 'g'),
                                 '\s+'))
                     END AS dl,
                     regexp_split_to_array(
                       regexp_replace(text, '^\s+|\s+$', '', 'g'),
                       '\s+') AS t
              FROM documents),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base),
            hits AS (
              SELECT doc_id, dl, tok.token, count(*) AS tf
              FROM base, LATERAL unnest(base.t) AS tok(token)
              WHERE tok.token IN ('dup', 'sort', 'stream')
              GROUP BY doc_id, dl, tok.token),
            dft AS (SELECT token, count(*) AS df FROM hits GROUP BY token),
            scored AS (
              SELECT h.doc_id,
                     ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * (h.tf * 2.2)
                       / (h.tf + 1.2 * (1 - 0.75 + 0.75 * h.dl / s.avgdl))
                       AS term_score
              FROM hits h JOIN dft d USING (token), stats s)
            SELECT doc_id, sum(term_score) AS score,
                   CAST(count(*) AS INT) AS n_terms_hit
            FROM scored GROUP BY doc_id
            ORDER BY score DESC, doc_id ASC LIMIT 20
        """,
        # quantize_embeddings: replay the exact IEEE math — widen float
        # to double, scale = max|x|/127, q = floor(x/scale + 0.5),
        # qsum/max_err via 1-based indexed lambdas.
        "quantize_embeddings": """
            WITH v AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
            m AS (
              SELECT vec_id, v,
                     list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx
              FROM v),
            q AS (
              SELECT vec_id, v, mx / 127.0 AS scale,
                     CASE WHEN mx = 0
                          THEN list_transform(v, x -> 0)
                          ELSE list_transform(
                                 v, x -> CAST(floor(x / (mx / 127.0) + 0.5)
                                              AS INT))
                     END AS qvec
              FROM m)
            SELECT vec_id,
                   CAST(len(v) AS INT) AS dim,
                   scale,
                   CAST(list_aggregate(qvec, 'sum') AS BIGINT) AS qsum,
                   list_aggregate(
                     list_transform(
                       qvec,
                       (x, i) -> abs(CAST(x AS DOUBLE) * scale - v[i])),
                     'max') AS max_err
            FROM q
        """,
        # hll_distinct: replay HyperLogLog bit-for-bit at p=7 (m=128,
        # w=53) — register idx = top 7 bits of md5-60, rho = 54 -
        # bit_length(low 53 bits) via the same bit-smear + popcount the
        # engine uses (no float log2), harmonic sum as the exact BIGINT
        # sum of 2^(54-reg) with empty registers contributing 2^54, one
        # double division at the end. alpha_m*m^2 = 11718.991761634348
        # (0.7213/(1+1.079/128)*128^2, the literal the engine embeds).
        "hll_distinct": """
            WITH keyed AS (
              SELECT DISTINCT md5(coalesce(text, '')) AS fp FROM documents),
            h AS (SELECT CAST('0x' || substr(md5(fp), 1, 15) AS BIGINT) AS h
                  FROM keyed),
            b0 AS (SELECT h >> 53 AS idx,
                          h & ((CAST(1 AS BIGINT) << 53) - 1) AS v FROM h),
            b1 AS (SELECT idx, v | (v >> 1) AS v FROM b0),
            b2 AS (SELECT idx, v | (v >> 2) AS v FROM b1),
            b3 AS (SELECT idx, v | (v >> 4) AS v FROM b2),
            b4 AS (SELECT idx, v | (v >> 8) AS v FROM b3),
            b5 AS (SELECT idx, v | (v >> 16) AS v FROM b4),
            b6 AS (SELECT idx, v | (v >> 32) AS v FROM b5),
            regs AS (SELECT idx, max(54 - bit_count(v)) AS reg
                     FROM b6 GROUP BY idx),
            agg AS (SELECT count(*) AS nreg,
                           sum(CAST(1 AS BIGINT) << (54 - reg)) AS sum_term
                    FROM regs),
            fin AS (SELECT CAST(128 - nreg AS BIGINT) AS zero_registers,
                           CAST(sum_term
                                + (128 - nreg) * (CAST(1 AS BIGINT) << 54)
                                AS DOUBLE) AS sum_d
                    FROM agg)
            SELECT CAST(128 AS INT) AS m,
                   zero_registers,
                   CAST(11718.991761634348 AS DOUBLE)
                     * 1.8014398509481984e16 / sum_d AS raw_estimate,
                   CASE WHEN CAST(11718.991761634348 AS DOUBLE)
                               * 1.8014398509481984e16 / sum_d
                             <= CAST(320 AS DOUBLE)
                             AND zero_registers > 0
                        THEN CAST(128 AS DOUBLE)
                             * ln(CAST(128 AS DOUBLE) / zero_registers)
                        ELSE CAST(11718.991761634348 AS DOUBLE)
                               * 1.8014398509481984e16 / sum_d
                   END AS estimate,
                   (SELECT count(DISTINCT md5(coalesce(text, '')))
                    FROM documents) AS exact_distinct
            FROM fin
        """,
        # priority_sample: replay A-ES — u = (md5-60('42|' || id)+1)/2^60
        # in (0,1], priority = u^(1/n_chars), global top-20 with id
        # tie-break. Selection flips need two priorities within ~1 ulp
        # (engines' pow may differ in the last ulp); the emitted doubles
        # are compared at 6 significant digits.
        "priority_sample": """
            SELECT doc_id, source, n_chars,
                   power(
                     (CAST('0x' || substr(
                         md5('42|' || CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) + 1) / 1152921504606846976.0,
                     1.0 / CAST(n_chars AS DOUBLE)) AS priority
            FROM documents
            WHERE n_chars IS NOT NULL AND n_chars > 0
            ORDER BY priority DESC, doc_id
            LIMIT 20
        """,
        # anchor_text: replay the anchor formula (doc_id % 4 anchors,
        # host h{(doc_id*7+i)%20}, text t{(doc_id+3i)%5}) and the
        # per-host consensus — most frequent text, ties to the
        # lexicographically smallest.
        "anchor_text": """
            WITH docs AS (SELECT doc_id, doc_id % 4 AS n FROM documents),
            e AS (
              SELECT doc_id,
                     'h' || CAST((doc_id * 7 + i.i) % 20 AS VARCHAR)
                         || '.example.com' AS dst_host,
                     't' || CAST((doc_id + 3 * i.i) % 5 AS VARCHAR) AS anchor
              FROM docs,
                   LATERAL unnest(generate_series(0, CAST(n AS INT) - 1))
                     AS i(i)
              WHERE n > 0),
            cnt AS (SELECT dst_host, anchor, count(*) AS n
                    FROM e GROUP BY dst_host, anchor),
            rk AS (SELECT dst_host, anchor, n,
                          row_number() OVER (PARTITION BY dst_host
                                             ORDER BY n DESC, anchor) AS _rk
                   FROM cnt)
            SELECT dst_host,
                   CAST(sum(n) AS BIGINT) AS n_anchors,
                   count(*) AS n_texts,
                   max(CASE WHEN _rk = 1 THEN anchor END) AS top_anchor,
                   max(CASE WHEN _rk = 1 THEN n END) AS top_anchor_n
            FROM rk GROUP BY dst_host
        """,
        # lm_perplexity: replay the unigram LM end-to-end — identical
        # md5-60 sample (mod 4), identical lower+\s+ tokenization,
        # identical top-512 (count desc, token) vocabulary cut and
        # add-one smoothing over (N + V + 1).
        "lm_perplexity": r"""
            WITH samp AS (
              SELECT text FROM documents
              WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                         AS BIGINT) % 4 = 0),
            tok AS (
              SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
              FROM samp),
            cnt AS (SELECT tok, count(*) AS c FROM tok
                    WHERE tok <> '' GROUP BY tok),
            tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM cnt),
            vocab AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 512),
            vsz AS (SELECT count(*) AS v FROM vocab),
            lm AS (SELECT tok, ln((c + 1.0) / (n + v + 1.0)) AS logp
                   FROM vocab, tot, vsz),
            dt AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
              FROM documents),
            dt2 AS (SELECT doc_id, tok FROM dt WHERE tok <> ''),
            scored AS (
              SELECT d.doc_id,
                     coalesce(lm.logp, ln(1.0 / (n + v + 1.0))) AS logp
              FROM dt2 d LEFT JOIN lm USING (tok), tot, vsz)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
                   -avg(logp) AS nll
            FROM scored GROUP BY doc_id
        """,
        # cdx_incremental: replay the stored/new split, the stored-
        # response prior lookup, and the batch-local dup window.
        "cdx_incremental": """
            WITH cap AS (
              SELECT doc_id,
                'http://www.Site' || (doc_id % 5) || '.example.com/Page/'
                  || (doc_id % 50) AS url,
                CAST(doc_id AS BIGINT) AS ts,
                md5('v' || (doc_id // 100) || '-page' || (doc_id % 50)) AS digest,
                'com,example,site' || (doc_id % 5) || ')/page/'
                  || (doc_id % 50) AS surt
              FROM documents),
            prior AS (
              SELECT surt, digest, min(ts) AS prior_ts
              FROM cap WHERE doc_id < 250 GROUP BY surt, digest),
            new AS (SELECT * FROM cap WHERE doc_id >= 250)
            SELECT n.surt, n.ts, n.url, n.digest,
              CASE WHEN p.prior_ts IS NOT NULL
                     OR row_number() OVER (PARTITION BY n.surt, n.digest
                                           ORDER BY n.ts, n.url) > 1
                   THEN 'revisit' ELSE 'response' END AS record_type,
              coalesce(p.prior_ts,
                       min(n.ts) OVER (PARTITION BY n.surt, n.digest))
                AS response_ts
            FROM new n LEFT JOIN prior p USING (surt, digest)
        """,
        # ppl_buckets: the lm_perplexity replay + the identical
        # ntile(4) window with (nll, doc_id) tie-break.
        "ppl_buckets": r"""
            WITH samp AS (
              SELECT text FROM documents
              WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                         AS BIGINT) % 4 = 0),
            tok AS (
              SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
              FROM samp),
            cnt AS (SELECT tok, count(*) AS c FROM tok
                    WHERE tok <> '' GROUP BY tok),
            tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM cnt),
            vocab AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 512),
            vsz AS (SELECT count(*) AS v FROM vocab),
            lm AS (SELECT tok, ln((c + 1.0) / (n + v + 1.0)) AS logp
                   FROM vocab, tot, vsz),
            dt AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
              FROM documents),
            dt2 AS (SELECT doc_id, tok FROM dt WHERE tok <> ''),
            scored AS (
              SELECT d.doc_id,
                     coalesce(lm.logp, ln(1.0 / (n + v + 1.0))) AS logp
              FROM dt2 d LEFT JOIN lm USING (tok), tot, vsz),
            per_doc AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
                     -avg(logp) AS nll
              FROM scored GROUP BY doc_id)
            SELECT doc_id, n_tok, nll,
                   CAST(ntile(4) OVER (ORDER BY nll, doc_id) AS INT)
                     AS ppl_bucket
            FROM per_doc
        """,
        # block_gate: signals predicted from the four-shape formula
        # (token counts computed by hand from the literal texts).
        "block_gate": """
            SELECT doc_id,
              doc_id % 4 = 0 AS url_block,
              CAST(CASE doc_id % 4 WHEN 1 THEN 3 WHEN 2 THEN 1 ELSE 0 END
                   AS INT) AS n_block_tokens,
              CASE doc_id % 4
                WHEN 1 THEN round(3.0 / 7.0, 6)
                WHEN 2 THEN round(1.0 / 12.0, 6)
                ELSE 0.0 END AS block_token_ratio,
              doc_id % 4 IN (0, 1) AS is_blocked
            FROM documents
        """,
        # meta_robots: rows predicted from the five-shape formula.
        "meta_robots": """
            SELECT doc_id,
              CASE doc_id % 5
                WHEN 0 THEN 'noindex, follow'
                WHEN 1 THEN 'index, nofollow'
                WHEN 2 THEN 'none'
                WHEN 3 THEN 'INDEX, FOLLOW'
                ELSE '' END AS robots_content,
              doc_id % 5 IN (0, 2) AS noindex,
              doc_id % 5 IN (1, 2) AS nofollow
            FROM documents
        """,
        # containment: same shingle space as ngram_jaccard (word
        # trigrams, DISTINCT per doc), directed score = inter/|src|,
        # both directions emitted from each undirected intersection,
        # threshold applied to the ROUNDED value exactly as the engine
        # does.
        "containment": r"""
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
              FROM documents WHERE doc_id < 100),
            sh AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                           i -> array_to_string(t[i:i+2], ' '))) AS shingle
              FROM toks WHERE len(t) >= 3),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              FROM sh a JOIN sh b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
            sized AS (
              SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b
              FROM pairs
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b),
            directed AS (
              SELECT id_a AS src, id_b AS dst,
                     round(inter * 1.0 / size_a, 4) AS containment
              FROM sized
              UNION ALL
              SELECT id_b AS src, id_a AS dst,
                     round(inter * 1.0 / size_b, 4) AS containment
              FROM sized)
            SELECT src, dst, containment
            FROM directed WHERE containment >= 0.05
        """,
        # quality_lr: the gopher_quality feature CTEs (identically
        # rounded) + length/stopword evidence, dotted with the fixed
        # stand-in weights and squashed; keep gates on the ROUNDED score.
        "quality_lr": rf"""
            WITH w AS (
              SELECT doc_id,
                     CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS ws,
                     len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS syms,
                     len(regexp_extract_all(lower(text), '{_STOP_EN}')) AS stop_hits
              FROM documents),
            s AS (
              SELECT doc_id, syms, stop_hits, ws, len(ws) AS n,
                     len(list_distinct(ws)) AS nd,
                     list_sum(list_transform(ws, x -> length(x))) AS total_len
              FROM w),
            m AS (
              SELECT doc_id, n, stop_hits,
                     CASE WHEN n = 0 THEN 0.0
                          ELSE round(1.0 - nd / CAST(n AS DOUBLE), 4) END AS dup_frac,
                     CASE WHEN n = 0 THEN 0.0
                          ELSE round(list_max(list_transform(list_distinct(ws),
                                 d -> len(list_filter(ws, x -> x = d))))
                               / CAST(n AS DOUBLE), 4) END AS top_cov,
                     CASE WHEN n = 0 THEN 0.0
                          ELSE round(total_len / CAST(n AS DOUBLE), 4) END AS mean_wlen,
                     CASE WHEN n = 0 THEN 0.0
                          ELSE round(syms / CAST(n AS DOUBLE), 4) END AS sym_ratio
              FROM s),
            z AS (
              SELECT doc_id,
                     1.0 + 0.8 * least(n / 100.0, 1.0)
                         + 1.2 * least(stop_hits * 5.0 / greatest(n, 1), 1.0)
                         - 3.0 * dup_frac - 2.0 * top_cov - 2.5 * sym_ratio
                         - 0.08 * least(abs(mean_wlen - 5.0), 5.0) AS zv
              FROM m)
            SELECT doc_id,
                   round(1.0 / (1.0 + exp(-zv)), 4) AS lr_score,
                   round(1.0 / (1.0 + exp(-zv)), 4) >= 0.5 AS keep
            FROM z
        """,
        # hits_scores: the pagerank edge formula, then two HITS
        # iterations (auth half-step, hub half-step, L1 normalize each)
        # as chained CTEs with scalar-subquery normalizers.
        "hits_scores": """
            WITH docs AS (SELECT doc_id, doc_id % 4 AS n FROM documents),
            e AS (
              SELECT 'http://src' || CAST(doc_id AS VARCHAR)
                       || '.example.com/page' AS src,
                     'h' || CAST((doc_id * 7 + i.i) % 20 AS VARCHAR)
                       || '.example.com' AS dst
              FROM docs,
                   LATERAL unnest(generate_series(0, CAST(n AS INT) - 1))
                     AS i(i)
              WHERE n > 0),
            nodes AS (SELECT DISTINCT node FROM
                      (SELECT src AS node FROM e
                       UNION SELECT dst AS node FROM e)),
            h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM nodes),
            a1r AS (SELECT e.dst, sum(h0.hub) AS r
                    FROM e JOIN h0 ON h0.node = e.src GROUP BY e.dst),
            a1 AS (SELECT nodes.node,
                          coalesce(a1r.r, 0) / (SELECT sum(r) FROM a1r) AS auth
                   FROM nodes LEFT JOIN a1r ON a1r.dst = nodes.node),
            h1r AS (SELECT e.src, sum(a1.auth) AS r
                    FROM e JOIN a1 ON a1.node = e.dst GROUP BY e.src),
            h1 AS (SELECT nodes.node,
                          coalesce(h1r.r, 0) / (SELECT sum(r) FROM h1r) AS hub
                   FROM nodes LEFT JOIN h1r ON h1r.src = nodes.node),
            a2r AS (SELECT e.dst, sum(h1.hub) AS r
                    FROM e JOIN h1 ON h1.node = e.src GROUP BY e.dst),
            a2 AS (SELECT nodes.node,
                          coalesce(a2r.r, 0) / (SELECT sum(r) FROM a2r) AS auth
                   FROM nodes LEFT JOIN a2r ON a2r.dst = nodes.node),
            h2r AS (SELECT e.src, sum(a2.auth) AS r
                    FROM e JOIN a2 ON a2.node = e.dst GROUP BY e.src),
            h2 AS (SELECT nodes.node,
                          coalesce(h2r.r, 0) / (SELECT sum(r) FROM h2r) AS hub
                   FROM nodes LEFT JOIN h2r ON h2r.src = nodes.node)
            SELECT h2.node, h2.hub AS score_hub, a2.auth AS score_auth
            FROM h2 JOIN a2 USING (node)
        """,
        # warc_segment: the oracle PREDICTS the parse from the
        # generative formula — record index = rank within file by
        # doc_id, Content-Length = payload BYTE length (octet_length of
        # the utf-8 encoding, matching Spark's binary length), payload
        # md5 = md5 of those bytes.
        "warc_segment": """
            WITH base AS (
              SELECT doc_id,
                     doc_id % 8 AS file_id,
                     CAST(row_number() OVER (PARTITION BY doc_id % 8
                                             ORDER BY doc_id) - 1 AS INT)
                       AS rec_idx,
                     'http://doc' || CAST(doc_id AS VARCHAR)
                       || '.example.com/' AS target_uri,
                     octet_length(encode(coalesce(text, ''))) AS clen,
                     md5(coalesce(text, '')) AS payload_md5
              FROM documents)
            SELECT file_id, rec_idx,
                   'response' AS warc_type,
                   target_uri,
                   '2024-01-01T00:00:00Z' AS warc_date,
                   CAST(clen AS BIGINT) AS content_length,
                   payload_md5
            FROM base
        """,
        # http_parse: the oracle PREDICTS every parsed field from the
        # generative formula — the Spark side builds real HTTP message
        # bytes and re-splits them with the JVM parser, so a wrong byte
        # offset, a case-sensitive header match, or a charset touching
        # the body all change the md5.
        "http_parse": """
            WITH base AS (
              SELECT doc_id, doc_id % 5 AS m,
                     octet_length(encode(coalesce(text, ''))) AS tlen,
                     md5(coalesce(text, '')) AS tmd5
              FROM documents)
            SELECT doc_id,
                   '1.1' AS http_version,
                   CASE m WHEN 0 THEN 200 WHEN 1 THEN 301 WHEN 2 THEN 404
                          WHEN 3 THEN 200 ELSE 204 END AS status,
                   CASE WHEN m = 3 THEN 'text/plain'
                        ELSE 'text/html' END AS mime,
                   CASE WHEN m = 3 THEN 'latin-1'
                        ELSE 'utf-8' END AS charset,
                   CASE WHEN m = 1 THEN 'https://next'
                        || CAST(doc_id AS VARCHAR) || '.example.com/'
                   END AS location,
                   CAST(CASE WHEN m = 4 THEN 0 ELSE tlen END AS BIGINT)
                     AS declared_length,
                   CASE WHEN m = 4 THEN md5('') ELSE tmd5 END AS body_md5,
                   CAST(CASE WHEN m = 4 THEN 0 ELSE tlen END AS INTEGER)
                     AS body_len
            FROM base
        """,
        # wet_wat_derive: the oracle predicts every WET/WAT field from
        # the generative formula — mime from the Content-Type the
        # formula set, kind from (status, mime), charset from the
        # detection ladder the body bytes force (☃ → utf-8, bare 0xE9 →
        # latin-1, pure-ascii HTML → ascii), text md5 from the decoded
        # body (HTML class: the <p> payload byte-exact, <nav> dropped),
        # title/links from the synthesized head/nav.
        "wet_wat_derive": """
            WITH base AS (
              SELECT doc_id, coalesce(text, '') AS t, doc_id % 5 AS m
              FROM documents)
            SELECT 'http://doc' || CAST(doc_id AS VARCHAR)
                     || '.example.com/' AS target_uri,
                   CAST(CASE WHEN m = 3 THEN 301 ELSE 200 END AS INTEGER)
                     AS status,
                   CASE WHEN m IN (0, 1) THEN 'text/plain'
                        WHEN m IN (2, 3) THEN 'text/html'
                        ELSE 'application/pdf' END AS mime,
                   CASE WHEN m IN (0, 1, 2) THEN 'text'
                        WHEN m = 3 THEN 'redirect'
                        ELSE 'binary' END AS kind,
                   CASE m WHEN 0 THEN 'utf-8' WHEN 1 THEN 'latin-1'
                          WHEN 2 THEN 'ascii' END AS charset,
                   CASE WHEN m = 3 THEN 'https://next'
                        || CAST(doc_id AS VARCHAR) || '.example.com/'
                   END AS location,
                   CASE WHEN m = 2
                        THEN 'Doc ' || CAST(doc_id AS VARCHAR)
                   END AS title,
                   CAST(CASE WHEN m = 2 THEN
                          CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END
                        END AS INTEGER) AS n_links,
                   CASE m WHEN 0 THEN md5(t || '☃')
                          WHEN 1 THEN md5(t || 'é')
                          WHEN 2 THEN md5(t)
                   END AS text_md5
            FROM base
        """,
        # redirect_chains: recursive CTE walks the same formula edges
        # one hop at a time capped at the same max_hops=8; the furthest
        # row per src (arg_max by hops — unique, the graph is
        # functional) is the final cursor, unresolved iff it still has
        # an outgoing edge (cycle or over-cap chain).
        "redirect_chains": """
            WITH RECURSIVE edges AS (
              SELECT 'u' || CAST(doc_id AS VARCHAR) AS src,
                     CASE WHEN doc_id % 4 <> 3
                            THEN 'u' || CAST(doc_id + 1 AS VARCHAR)
                          WHEN doc_id % 40 = 3
                            THEN 'u' || CAST(doc_id - 3 AS VARCHAR)
                     END AS dst
              FROM documents
              WHERE doc_id % 4 <> 3 OR doc_id % 40 = 3),
            walk(src, cur, hops) AS (
              SELECT src, dst, 1 FROM edges
              UNION ALL
              SELECT w.src, e.dst, w.hops + 1
              FROM walk w JOIN edges e ON e.src = w.cur
              WHERE w.hops < 8),
            fin AS (
              SELECT src, arg_max(cur, hops) AS cur, max(hops) AS hops
              FROM walk GROUP BY src)
            SELECT f.src,
                   CASE WHEN e.src IS NULL THEN f.cur END AS final_url,
                   CAST(CASE WHEN e.src IS NULL THEN f.hops END AS INTEGER)
                     AS hops,
                   e.src IS NULL AS resolved
            FROM fin f
            LEFT JOIN (SELECT DISTINCT src FROM edges) e ON e.src = f.cur
        """,
        # robots_admission: the oracle predicts the longest-match /
        # allow-wins decision straight from the URL + body formulas —
        # v=0 hits Disallow /private<k>/, v=1 is rescued by the longer
        # Allow /private<k>/public/, v=2 shows /tmp prefix-matching
        # /tmpfile, v=3 is default-allow (googlebot's Disallow:/ group
        # must NOT apply to agent '*').
        "robots_admission": """
            SELECT doc_id,
                   CASE doc_id % 4
                     WHEN 0 THEN false
                     WHEN 1 THEN true
                     WHEN 2 THEN false
                     ELSE true END AS admitted,
                   CASE doc_id % 4
                     WHEN 0 THEN '/private' || CAST(doc_id % 10 AS VARCHAR) || '/'
                     WHEN 1 THEN '/private' || CAST(doc_id % 10 AS VARCHAR) || '/public/'
                     WHEN 2 THEN '/tmp'
                     ELSE NULL END AS matched_rule
            FROM documents
        """,
        # charset_transcode: the oracle predicts label + decoded-text
        # md5 from the synthesis formula (text is pure ASCII in the
        # fixture, asserted by the ascii arm itself: any non-ascii doc
        # would flip its label to utf-8 and mismatch).
        "charset_transcode": """
            SELECT doc_id,
                   CASE doc_id % 4
                     WHEN 0 THEN 'utf-8'
                     WHEN 1 THEN 'utf-16le'
                     WHEN 2 THEN 'latin-1'
                     ELSE 'ascii' END AS charset,
                   CASE doc_id % 4
                     WHEN 0 THEN md5(text || '☃')
                     WHEN 2 THEN md5(text || 'é')
                     ELSE md5(text) END AS text_md5
            FROM documents
        """,
        # crawl_schedule: replay the per-host queue window — priority
        # (n_chars) desc, url asc ties, slot*delay from the epoch.
        "crawl_schedule": """
            WITH u AS (
              SELECT doc_id,
                     'h' || CAST(doc_id % 10 AS VARCHAR) || '.example.com' AS host,
                     'http://h' || CAST(doc_id % 10 AS VARCHAR)
                       || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
                     n_chars
              FROM documents)
            SELECT doc_id, host,
                   CAST(row_number() OVER (PARTITION BY host
                                           ORDER BY n_chars DESC, url ASC) - 1
                        AS INT) AS slot,
                   CAST(1700000000 + (row_number() OVER (PARTITION BY host
                                      ORDER BY n_chars DESC, url ASC) - 1) * 5
                        AS BIGINT) AS fetch_at
            FROM u
        """,
        # crawl_delay_schedule: replay group selection (exact googlebot
        # group never selected for *), the max-wins double declaration,
        # NULL fallback to the default 5s, and floor(slot*delay).
        "crawl_delay_schedule": """
            WITH delays AS (
              SELECT k,
                     CASE
                       WHEN k % 3 = 0 THEN NULL
                       WHEN k % 3 = 2 THEN greatest(k + 0.5, CAST(10 - k AS DOUBLE))
                       ELSE k + 0.5
                     END AS crawl_delay
              FROM (SELECT DISTINCT doc_id % 10 AS k FROM documents)),
            u AS (
              SELECT doc_id, doc_id % 10 AS k,
                     'h' || CAST(doc_id % 10 AS VARCHAR) || '.example.com' AS host,
                     'http://h' || CAST(doc_id % 10 AS VARCHAR)
                       || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url
              FROM documents)
            SELECT u.doc_id, u.host, d.crawl_delay,
                   CAST(row_number() OVER (PARTITION BY u.host ORDER BY u.url ASC) - 1
                        AS INT) AS slot,
                   CAST(floor(1700000000
                        + (row_number() OVER (PARTITION BY u.host ORDER BY u.url ASC) - 1)
                          * coalesce(d.crawl_delay, 5.0))
                        AS BIGINT) AS fetch_at
            FROM u LEFT JOIN delays d ON u.k = d.k
        """,
        # cdx_revisit: surt/digest/ordinals/classification all derived
        # from the capture-synthesis formula, not from the engine's code.
        "cdx_revisit": """
            WITH cap AS (
              SELECT doc_id,
                'http://www.Site' || (doc_id % 5) || '.example.com/Page/'
                  || (doc_id % 50) AS url,
                CAST(doc_id AS BIGINT) AS ts,
                md5('v' || (doc_id // 100) || '-page' || (doc_id % 50)) AS digest,
                'com,example,site' || (doc_id % 5) || ')/page/'
                  || (doc_id % 50) AS surt
              FROM documents)
            SELECT surt, ts, url, digest,
              CAST(row_number() OVER (PARTITION BY surt
                                      ORDER BY ts, url, digest) - 1
                   AS INT) AS capture_no,
              CASE WHEN row_number() OVER (PARTITION BY surt, digest
                                           ORDER BY ts, url) = 1
                   THEN 'response' ELSE 'revisit' END AS record_type,
              min(ts) OVER (PARTITION BY surt, digest) AS response_ts
            FROM cap
        """,
        "cdx_savings": """
            WITH cap AS (
              SELECT doc_id,
                md5('v' || (doc_id // 100) || '-page' || (doc_id % 50)) AS digest,
                'com,example,site' || (doc_id % 5) AS host,
                'com,example,site' || (doc_id % 5) || ')/page/'
                  || (doc_id % 50) AS surt,
                CAST(doc_id AS BIGINT) AS ts,
                'http://www.Site' || (doc_id % 5) || '.example.com/Page/'
                  || (doc_id % 50) AS url
              FROM documents),
            cls AS (
              SELECT host,
                CASE WHEN row_number() OVER (PARTITION BY surt, digest
                                             ORDER BY ts, url) = 1
                     THEN 0 ELSE 1 END AS is_rev
              FROM cap)
            SELECT host,
                   count(*) AS n_captures,
                   sum(is_rev) AS n_revisits,
                   sum(is_rev) * 1.0 / count(*) AS revisit_share
            FROM cls GROUP BY host
        """,
        # jsonld_extract: rows predicted purely from the page-synthesis
        # formula — no regex or JSON parsing on the oracle side.
        "jsonld_extract": """
            SELECT doc_id, 0 AS pos, 'Article' AS ld_type,
                   'Doc ' || doc_id AS name,
                   '2024-01-0' || (doc_id % 9 + 1) AS published
            FROM documents
            UNION ALL
            SELECT doc_id, 1 AS pos, 'Product' AS ld_type,
                   'P' || doc_id AS name, NULL AS published
            FROM documents WHERE doc_id % 2 = 0
        """,
        # zipf_slope: identical tokenization/rank tie-break, DuckDB's
        # own regr_* aggregates over the same log10 pairs.
        "zipf_slope": r"""
            WITH toks AS (
              SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
              FROM documents),
            counts AS (
              SELECT token, count(*) AS n FROM toks
              WHERE token <> '' GROUP BY token),
            ranked AS (
              SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank
              FROM counts)
            SELECT CAST(count(*) AS BIGINT) AS n_types,
                   CAST(sum(n) AS BIGINT) AS n_tokens,
                   round(regr_slope(log10(CAST(n AS DOUBLE)),
                                    log10(CAST(rank AS DOUBLE))), 6) AS slope,
                   round(regr_intercept(log10(CAST(n AS DOUBLE)),
                                        log10(CAST(rank AS DOUBLE))), 6) AS intercept,
                   round(regr_r2(log10(CAST(n AS DOUBLE)),
                                 log10(CAST(rank AS DOUBLE))), 6) AS r2
            FROM ranked
        """,
        # dup_segments: same synthesis (nav wrap + sentence split +
        # doubled footer paragraph), same trim/non-empty segment rules,
        # both fractions rounded to 4.
        "dup_segments": r"""
            WITH t AS (
              SELECT doc_id,
                     'NAV MENU' || chr(10)
                       || regexp_replace(text, '\. ', '.' || chr(10), 'g')
                       || chr(10) || 'NAV MENU' || chr(10) || chr(10)
                       || 'FOOTER' || chr(10) || chr(10) || 'FOOTER' AS t2
              FROM documents),
            segs AS (
              SELECT doc_id,
                     list_filter(list_transform(
                       regexp_split_to_array(t2, '\n'), x -> trim(x)),
                       x -> x <> '') AS lines,
                     list_filter(list_transform(
                       regexp_split_to_array(t2, '\n{2,}'), x -> trim(x)),
                       x -> x <> '') AS paras
              FROM t)
            SELECT doc_id,
                   CASE WHEN len(lines) = 0 THEN 0.0
                        ELSE round(1.0 - len(list_distinct(lines))
                                   / CAST(len(lines) AS DOUBLE), 4)
                   END AS dup_line_frac,
                   CASE WHEN len(paras) = 0 THEN 0.0
                        ELSE round(1.0 - len(list_distinct(paras))
                                   / CAST(len(paras) AS DOUBLE), 4)
                   END AS dup_para_frac
            FROM segs
        """,
        # extraction_f1: replay the perturbations, the lower+\s+ token
        # counts, the full-outer multiset-min join, and the rounded
        # metrics.
        "extraction_f1": r"""
            WITH pc AS (
              SELECT doc_id, tok, count(*) AS pc FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(
                         lower(text || ' spurious spurious'), '\s+')) AS tok
                FROM documents) WHERE tok <> '' GROUP BY doc_id, tok),
            gc AS (
              SELECT doc_id, tok, count(*) AS gc FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(
                         lower(regexp_replace(text, '\bthe\b', '', 'g')),
                         '\s+')) AS tok
                FROM documents) WHERE tok <> '' GROUP BY doc_id, tok),
            j AS (
              SELECT coalesce(pc.doc_id, gc.doc_id) AS doc_id,
                     coalesce(pc.pc, 0) AS pc, coalesce(gc.gc, 0) AS gc
              FROM pc FULL OUTER JOIN gc
                ON pc.doc_id = gc.doc_id AND pc.tok = gc.tok),
            per AS (
              SELECT doc_id,
                     CAST(sum(pc) AS BIGINT) AS n_pred,
                     CAST(sum(gc) AS BIGINT) AS n_gold,
                     CAST(sum(least(pc, gc)) AS BIGINT) AS n_common
              FROM j GROUP BY doc_id),
            m AS (
              SELECT doc_id, n_pred, n_gold, n_common,
                     CASE WHEN n_pred = 0 THEN 0.0
                          ELSE n_common / CAST(n_pred AS DOUBLE) END AS p,
                     CASE WHEN n_gold = 0 THEN 0.0
                          ELSE n_common / CAST(n_gold AS DOUBLE) END AS r
              FROM per)
            SELECT doc_id, n_pred, n_gold, n_common,
                   round(p, 4) AS precision,
                   round(r, 4) AS recall,
                   CASE WHEN p + r = 0 THEN 0.0
                        ELSE round(2 * p * r / (p + r), 4) END AS f1
            FROM m
        """,
        # label_prop: replay the link-graph edge formula, then three
        # synchronous LPA rounds — undirected simple adjacency, per-node
        # neighbor-label vote counts, argmax with (cnt DESC, label ASC)
        # tie-break, isolated nodes keep their label.
        "label_prop": """
            WITH docs AS (SELECT doc_id, doc_id % 4 AS n FROM documents),
            e AS (
              SELECT 'http://src' || CAST(doc_id AS VARCHAR)
                       || '.example.com/page' AS src,
                     'h' || CAST((doc_id * 7 + i.i) % 20 AS VARCHAR)
                       || '.example.com' AS dst
              FROM docs,
                   LATERAL unnest(generate_series(0, CAST(n AS INT) - 1))
                     AS i(i)
              WHERE n > 0),
            nodes AS (SELECT DISTINCT node FROM
                      (SELECT src AS node FROM e
                       UNION SELECT dst AS node FROM e)),
            adj AS (SELECT DISTINCT a, b FROM
                    (SELECT src AS a, dst AS b FROM e
                     UNION ALL SELECT dst AS a, src AS b FROM e)
                    WHERE a <> b),
            l0 AS (SELECT node, node AS label FROM nodes),
            v1 AS (SELECT adj.a AS node, l0.label, count(*) AS cnt
                   FROM adj JOIN l0 ON l0.node = adj.b GROUP BY 1, 2),
            b1 AS (SELECT node, label FROM
                   (SELECT node, label, row_number() OVER (
                      PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
                    FROM v1) WHERE rn = 1),
            l1 AS (SELECT l0.node, coalesce(b1.label, l0.label) AS label
                   FROM l0 LEFT JOIN b1 USING (node)),
            v2 AS (SELECT adj.a AS node, l1.label, count(*) AS cnt
                   FROM adj JOIN l1 ON l1.node = adj.b GROUP BY 1, 2),
            b2 AS (SELECT node, label FROM
                   (SELECT node, label, row_number() OVER (
                      PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
                    FROM v2) WHERE rn = 1),
            l2 AS (SELECT l1.node, coalesce(b2.label, l1.label) AS label
                   FROM l1 LEFT JOIN b2 USING (node)),
            v3 AS (SELECT adj.a AS node, l2.label, count(*) AS cnt
                   FROM adj JOIN l2 ON l2.node = adj.b GROUP BY 1, 2),
            b3 AS (SELECT node, label FROM
                   (SELECT node, label, row_number() OVER (
                      PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
                    FROM v3) WHERE rn = 1),
            l3 AS (SELECT l2.node, coalesce(b3.label, l2.label) AS label
                   FROM l2 LEFT JOIN b3 USING (node))
            SELECT node, label FROM l3
        """,
        # html_tables: rows predicted purely from the page-synthesis
        # formula (no regex on the oracle side) — m=0 one 2x2 th/td
        # table, m=1 two tables with a ragged second, m=2 none.
        "html_tables": """
            WITH d AS (
              SELECT doc_id, doc_id % 3 AS m,
                     'http://t' || CAST(doc_id AS VARCHAR)
                       || '.example.com/p' AS url
              FROM documents),
            cells(m, table_idx, row_idx, col_idx, tmpl) AS (VALUES
              (0, 0, 0, 0, 'name'),
              (0, 0, 0, 1, 'value'),
              (0, 0, 1, 0, 'alpha {id}'),
              (0, 0, 1, 1, 'beta {id}'),
              (1, 0, 0, 0, 'solo {id}'),
              (1, 1, 0, 0, 'a b'),
              (1, 1, 0, 1, 'c'),
              (1, 1, 1, 0, 'd {id}'))
            SELECT d.url, CAST(c.table_idx AS INT) AS table_idx,
                   CAST(c.row_idx AS INT) AS row_idx,
                   CAST(c.col_idx AS INT) AS col_idx,
                   replace(c.tmpl, '{id}', CAST(d.doc_id AS VARCHAR)) AS cell
            FROM d JOIN cells c ON c.m = d.m
        """,
        # dom_skeleton: the oracle predicts each synthesis class's
        # opening-tag sequence and recomputes md5 + the census itself.
        "dom_skeleton": """
            WITH d AS (
              SELECT doc_id, doc_id % 3 AS m,
                     't' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host
              FROM documents),
            s AS (
              SELECT host,
                     md5(CASE m
                         WHEN 0 THEN 'html>head>title>body>div>p'
                         WHEN 1 THEN 'html>body>article>h1>p>p'
                         ELSE 'html>body>ul>li' END) AS skeleton
              FROM d),
            per AS (SELECT host, skeleton, count(*) AS n_pages
                    FROM s GROUP BY 1, 2)
            SELECT host, skeleton, CAST(n_pages AS BIGINT) AS n_pages,
                   CAST(sum(n_pages) OVER (PARTITION BY host) AS BIGINT)
                     AS host_pages,
                   round(n_pages / CAST(sum(n_pages) OVER (PARTITION BY host)
                                        AS DOUBLE), 4) AS template_share
            FROM per
        """,
        "proto_prune": _proto_prune_oracle(),
        # stupid_backoff: replay the Brants backoff end-to-end — same
        # md5-60 quarter-sample, same lower+ASCII-\s+ tokenization with
        # empties dropped BEFORE pairing, same bigram count-cutoff 2,
        # and the same float op order in both backoff branches
        # (c12/c1 vs 0.4 * c / N, left-associated).
        "stupid_backoff": r"""
            WITH tokd AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '\s+'),
                                 t -> t <> '') AS toks
              FROM documents),
            stok AS (
              SELECT toks FROM tokd
              WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                         AS BIGINT) % 4 = 0),
            uni AS (
              SELECT w, count(*) AS c1
              FROM (SELECT unnest(toks) AS w FROM stok) GROUP BY w),
            tot AS (SELECT CAST(coalesce(sum(c1), 0) AS DOUBLE) AS n FROM uni),
            sbg AS (
              SELECT bg.w1 AS w1, bg.w2 AS w2
              FROM (SELECT unnest(list_transform(range(1, len(toks)),
                       i -> struct_pack(w1 := toks[i], w2 := toks[i + 1])))
                       AS bg
                    FROM stok)),
            big AS (
              SELECT w1, w2, count(*) AS c12 FROM sbg
              GROUP BY w1, w2 HAVING count(*) >= 2),
            dbg AS (
              SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2
              FROM (SELECT doc_id,
                       unnest(list_transform(range(1, len(toks)),
                         i -> struct_pack(w1 := toks[i], w2 := toks[i + 1])))
                         AS bg
                    FROM tokd)),
            scored AS (
              SELECT d.doc_id,
                     CASE WHEN b.c12 IS NOT NULL
                          THEN ln(CAST(b.c12 AS DOUBLE)
                                  / CAST(u1.c1 AS DOUBLE))
                          ELSE ln(0.4 * coalesce(CAST(u2.c1 AS DOUBLE), 1.0)
                                  / n)
                     END AS logs
              FROM dbg d
              LEFT JOIN big b USING (w1, w2)
              LEFT JOIN uni u1 ON d.w1 = u1.w
              LEFT JOIN uni u2 ON d.w2 = u2.w, tot)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   avg(logs) AS sb_logscore
            FROM scored GROUP BY doc_id
        """,
        # shard_manifest: rebuild each shard's order-sensitive roster
        # fingerprint with string_agg ORDER BY the identical
        # (md5-60(id), id-as-string) read-order key.
        "shard_manifest": """
            WITH a AS (
              SELECT doc_id, n_chars,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                          AS BIGINT) AS h
              FROM documents)
            SELECT CAST(h % 16 AS INT) AS shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS n_tokens,
                   md5(string_agg(CAST(doc_id AS VARCHAR), ','
                       ORDER BY h, CAST(doc_id AS VARCHAR))) AS roster_md5
            FROM a GROUP BY 1
        """,
        # hrw_rebalance: the rendezvous argmin via a range cross join +
        # row_number on (weight, shard) — same md5-60(id ':' shard)
        # weight formula as operators/shards.hrw_weight.
        "hrw_rebalance": """
            WITH wa AS (
              SELECT doc_id, r.s,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                          || ':' || r.s), 1, 15) AS BIGINT) AS w
              FROM documents, range(8) r(s)),
            aa AS (
              SELECT doc_id, CAST(s AS INT) AS shard_a
              FROM (SELECT doc_id, s, row_number() OVER (
                      PARTITION BY doc_id ORDER BY w, s) AS rn FROM wa)
              WHERE rn = 1),
            wb AS (
              SELECT doc_id, r.s,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                          || ':' || r.s), 1, 15) AS BIGINT) AS w
              FROM documents, range(10) r(s)),
            bb AS (
              SELECT doc_id, CAST(s AS INT) AS shard_b
              FROM (SELECT doc_id, s, row_number() OVER (
                      PARTITION BY doc_id ORDER BY w, s) AS rn FROM wb)
              WHERE rn = 1)
            SELECT doc_id, shard_a, shard_b,
                   shard_a <> shard_b AS moved
            FROM aa JOIN bb USING (doc_id)
        """,
        # winnow_pairs: replay the MOSS fingerprint selection — md5-60
        # char-8-gram hashes over the 400-char prefix, window-4 minima,
        # per-doc distinct, flood prune (> 1000 docs), shared-count >= 2
        # pair agg. Both engines do CHARACTER substr + UTF-8 md5, so the
        # gram hashes agree bit-for-bit on non-ASCII too. max_fp_df=20
        # actually bites on this fixture (shared template prefixes are
        # boilerplate fingerprints), so the flood prune is exercised.
        "winnow_pairs": r"""
            WITH base AS (
              SELECT doc_id AS id, substr(text, 1, 400) AS s
              FROM documents WHERE doc_id < 150),
            g AS (
              SELECT id,
                CASE WHEN length(s) - 8 + 1 >= 1 THEN
                  list_transform(range(1, length(s) - 8 + 2), i ->
                    CAST('0x' || substr(md5(substr(s, i, 8)), 1, 15)
                         AS BIGINT))
                ELSE CAST([] AS BIGINT[]) END AS grams
              FROM base),
            m AS (
              SELECT id,
                CASE WHEN len(grams) - 4 + 1 >= 1 THEN
                  list_distinct(list_transform(range(1, len(grams) - 4 + 2),
                    j -> list_min(grams[j : j + 3])))
                ELSE CAST([] AS BIGINT[]) END AS fps
              FROM g),
            f AS (SELECT id, unnest(fps) AS fp FROM m),
            flood AS (SELECT fp FROM f GROUP BY fp HAVING count(*) > 20),
            p AS (SELECT * FROM f WHERE fp NOT IN (SELECT fp FROM flood))
            SELECT l.id AS id_a, r.id AS id_b,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM p l JOIN p r USING (fp) WHERE l.id < r.id
            GROUP BY 1, 2 HAVING count(*) >= 3
        """,
        # readability: identical Java∩RE2 regex counts (ws tokens,
        # [.!?]+(\s+|$) terminator runs, [aeiouy]+ vowel runs on the
        # lowered text) and the identical left-assoc float-op order, so
        # the unrounded doubles are bit-equal before the round-4 canon.
        "readability": r"""
            WITH b AS (
              SELECT doc_id,
                     CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                          ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS w,
                     len(regexp_extract_all(text, '[.!?]+(\s+|$)')) AS s,
                     len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl
              FROM documents),
            c AS (
              SELECT doc_id, w, s, syl,
                     CASE WHEN w > 0 AND s > 0 THEN
                       round(206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                                     - 84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)), 4)
                     END AS flesch,
                     CASE WHEN w > 0 AND s > 0 THEN
                       round(0.39 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                             + 11.8 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)) - 15.59, 4)
                     END AS fk_grade
              FROM b)
            SELECT doc_id,
                   CAST(w AS INT) AS n_words,
                   CAST(s AS INT) AS n_sentences,
                   CAST(syl AS INT) AS n_syllables,
                   flesch, fk_grade,
                   CASE WHEN flesch IS NULL THEN NULL
                        WHEN flesch >= 90 THEN 'very_easy'
                        WHEN flesch >= 60 THEN 'plain'
                        WHEN flesch >= 30 THEN 'difficult'
                        ELSE 'very_difficult' END AS band
            FROM c
        """,
        # yule_k: replay tokenization (lower, ws-split, drop empties)
        # and both aggregations; integer math until the final division,
        # same 10000.0*x/y association.
        "yule_k": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(
                       regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+')) AS token
              FROM documents),
            f AS (
              SELECT doc_id, token, count(*) AS f
              FROM toks WHERE token <> '' GROUP BY 1, 2),
            a AS (
              SELECT doc_id, sum(f) AS n, count(*) AS types,
                     sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS hapax,
                     sum(f * f) AS s2
              FROM f GROUP BY 1)
            SELECT doc_id,
                   CAST(n AS BIGINT) AS n_tokens,
                   CAST(types AS BIGINT) AS n_types,
                   CAST(hapax AS BIGINT) AS n_hapax,
                   round(10000.0 * CAST(s2 - n AS DOUBLE) / CAST(n * n AS DOUBLE), 4)
                     AS yule_k
            FROM a
        """,
        # degree_dist: replay the link formula (dst h{(id*7+i)%20}, i <
        # id%4), per-host in-degree, then the histogram over degrees.
        "degree_dist": """
            WITH docs AS (SELECT doc_id, doc_id % 4 AS n FROM documents),
            e AS (
              SELECT 'h' || CAST((doc_id * 7 + i.i) % 20 AS VARCHAR)
                       || '.example.com' AS dst_host
              FROM docs,
                   LATERAL unnest(generate_series(0, CAST(n AS INT) - 1))
                     AS i(i)
              WHERE n > 0),
            deg AS (SELECT dst_host, count(*) AS degree FROM e GROUP BY 1),
            h AS (SELECT degree, count(*) AS n_nodes FROM deg GROUP BY 1)
            SELECT CAST(degree AS BIGINT) AS degree,
                   CAST(n_nodes AS BIGINT) AS n_nodes,
                   round(log10(CAST(degree AS DOUBLE)), 4) AS log_degree,
                   round(log10(CAST(n_nodes AS DOUBLE)), 4) AS log_n_nodes
            FROM h
        """,
        # curation_funnel: recompute every cumulative gate from the raw
        # text — stopword lang vote, the four Gopher shape signals, the
        # C4 per-line keep rule (>=5 words, terminal punctuation, no
        # javascript/lorem ipsum/brace), exact dedup via DuckDB's own
        # md5 — then the five counts as a UNION ALL funnel.
        "curation_funnel": rf"""
            WITH base AS (
              SELECT doc_id, text,
                     len(regexp_extract_all(lower(text), '{_STOP_EN}')) AS en,
                     len(regexp_extract_all(lower(text), '{_STOP_DE}')) AS de,
                     len(regexp_extract_all(lower(text), '{_STOP_FR}')) AS fr,
                     CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS ws,
                     len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS syms
              FROM documents),
            sig AS (
              SELECT doc_id, text, en, de, fr, ws, syms, len(ws) AS n,
                     len(list_distinct(ws)) AS nd,
                     list_sum(list_transform(ws, x -> length(x))) AS total_len
              FROM base),
            gate AS (
              SELECT doc_id, text,
                     (en >= de AND en >= fr AND en > 0) AS k_lang,
                     (CASE WHEN n = 0 THEN 0.0 ELSE round(1.0 - nd / CAST(n AS DOUBLE), 4) END <= 0.3
                      AND CASE WHEN n = 0 THEN 0.0 ELSE round(list_max(list_transform(list_distinct(ws),
                            d -> len(list_filter(ws, x -> x = d)))) / CAST(n AS DOUBLE), 4) END <= 0.2
                      AND CASE WHEN n = 0 THEN 0.0 ELSE round(total_len / CAST(n AS DOUBLE), 4) END BETWEEN 2.0 AND 12.0
                      AND CASE WHEN n = 0 THEN 0.0 ELSE round(syms / CAST(n AS DOUBLE), 4) END <= 0.3) AS k_gopher,
                     len(list_filter(string_split(text, chr(10)), l ->
                       (CASE WHEN length(regexp_replace(l, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                             ELSE len(regexp_split_to_array(regexp_replace(l, '^\s+|\s+$', '', 'g'), '\s+')) END) >= 5
                       AND regexp_matches(regexp_replace(l, '^\s+|\s+$', '', 'g'), '[.!?"'']$')
                       AND NOT contains(lower(regexp_replace(l, '^\s+|\s+$', '', 'g')), 'javascript')
                       AND NOT contains(lower(regexp_replace(l, '^\s+|\s+$', '', 'g')), 'lorem ipsum')
                       AND NOT contains(regexp_replace(l, '^\s+|\s+$', '', 'g'), '{{'))) > 0 AS k_c4
              FROM sig),
            k AS (
              SELECT doc_id, text, k_lang,
                     (k_lang AND k_gopher) AS k_gopher2,
                     (k_lang AND k_gopher AND k_c4) AS k_c42
              FROM gate)
            SELECT 0 AS stage_idx, 'input' AS stage,
                   CAST(count(*) AS BIGINT) AS n_docs FROM k
            UNION ALL
            SELECT 1, 'lang_en', CAST(count(*) AS BIGINT)
            FROM k WHERE k_lang
            UNION ALL
            SELECT 2, 'gopher', CAST(count(*) AS BIGINT)
            FROM k WHERE k_gopher2
            UNION ALL
            SELECT 3, 'c4_nonempty', CAST(count(*) AS BIGINT)
            FROM k WHERE k_c42
            UNION ALL
            SELECT 4, 'exact_dedup', CAST(count(DISTINCT md5(text)) AS BIGINT)
            FROM k WHERE k_c42
        """,
        # feed_entries: predict every parsed field from the generative
        # formula — hosts cycle RSS <item> (m=0) / Atom href-link (m=1)
        # / empty feed (m=2); ordinal = rank within host by doc_id.
        "feed_entries": """
            WITH d AS (
              SELECT doc_id, doc_id % 10 AS file_id,
                     (doc_id % 10) % 3 AS m
              FROM documents)
            SELECT file_id,
                   CASE WHEN m = 0 THEN 'rss' ELSE 'atom' END AS kind,
                   CAST(row_number() OVER (PARTITION BY file_id
                                           ORDER BY doc_id) - 1 AS INT) AS ord,
                   'T' || CAST(doc_id AS VARCHAR) AS title,
                   'http://h' || CAST(file_id AS VARCHAR)
                     || '.example.com/a/' || CAST(doc_id AS VARCHAR) AS link,
                   '2024-02-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                     AS published,
                   'g' || CAST(doc_id AS VARCHAR) AS entry_id
            FROM d WHERE m IN (0, 1)
            UNION ALL
            SELECT DISTINCT file_id, 'empty', CAST(NULL AS INT),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
            FROM d WHERE m = 2
        """,
        # component_sizes: the dedup_clusters reachability oracle, then
        # component -> size -> histogram (two counts).
        # date_mentions: predict mention/format/date from the class
        # formula; the invalid-ISO class (m=0, doc_id%5=0) keeps its
        # mention but normalizes to NULL (calendar validation).
        "date_mentions": """
            WITH d AS (
              SELECT doc_id, doc_id % 3 AS m, doc_id % 28 + 1 AS dd
              FROM documents)
            SELECT doc_id,
                   CASE
                     WHEN m = 0 AND doc_id % 5 = 0 THEN '2024-99-99'
                     WHEN m = 0 THEN '2024-03-' || lpad(CAST(dd AS VARCHAR), 2, '0')
                     WHEN m = 1 THEN '03/' || lpad(CAST(dd AS VARCHAR), 2, '0') || '/2024'
                     ELSE 'March ' || CAST(dd AS VARCHAR) || ', 2024'
                   END AS mention,
                   CASE WHEN m = 0 THEN 'iso'
                        WHEN m = 1 THEN 'us'
                        ELSE 'long' END AS mention_fmt,
                   CASE WHEN m = 0 AND doc_id % 5 = 0 THEN CAST(NULL AS VARCHAR)
                        ELSE CAST(make_date(2024, 3, CAST(dd AS INT)) AS VARCHAR)
                   END AS date_norm
            FROM d
        """,
        # psi_drift: replay the fixed-width bucket arithmetic (same
        # ((x-lo)/width)*nb float-op order), the occupied-bucket
        # full-outer join, the 1e-6 share floor, and the PSI sum.
        "psi_drift": """
            WITH ref AS (
              SELECT least(9, greatest(0, CAST(floor(
                       (CAST(n_chars AS DOUBLE) - 0.0) / 600.0 * 10) AS INT)))
                       AS bucket, count(*) AS n_ref
              FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
            cur AS (
              SELECT least(9, greatest(0, CAST(floor(
                       (CAST(n_chars AS DOUBLE) - 0.0) / 600.0 * 10) AS INT)))
                       AS bucket, count(*) AS n_cur
              FROM documents WHERE doc_id % 2 = 1 AND n_chars <= 300
              GROUP BY 1),
            j AS (
              SELECT coalesce(ref.bucket, cur.bucket) AS bucket,
                     coalesce(n_ref, 0) AS n_ref,
                     coalesce(n_cur, 0) AS n_cur
              FROM ref FULL OUTER JOIN cur ON ref.bucket = cur.bucket),
            t AS (
              SELECT bucket, n_ref, n_cur,
                     greatest(1e-6, n_ref / (SELECT sum(n_ref) FROM j)) AS p,
                     greatest(1e-6, n_cur / (SELECT sum(n_cur) FROM j)) AS q
              FROM j)
            SELECT 'n_chars' AS col,
                   CAST(sum(n_ref) AS BIGINT) AS n_ref,
                   CAST(sum(n_cur) AS BIGINT) AS n_cur,
                   round(sum((p - q) * ln(p / q)), 6) AS psi
            FROM t
        """,
        # strand_pairs: replay the lang-strip (host, generic path) key,
        # the per-(key,lang) min-url collapse, and the pivot join.
        "strand_pairs": """
            WITH d AS (
              SELECT doc_id,
                     CASE doc_id % 3 WHEN 0 THEN 'en'
                                     WHEN 1 THEN 'fr'
                                     ELSE 'de' END AS lang,
                     doc_id % 7 AS g, doc_id % 40 AS k
              FROM documents),
            u AS (
              SELECT 'site' || CAST(g AS VARCHAR) || '.example.com' AS host,
                     '/p' || CAST(k AS VARCHAR) AS generic_path,
                     lang,
                     'http://site' || CAST(g AS VARCHAR) || '.example.com/'
                       || lang || '/p' || CAST(k AS VARCHAR) AS url
              FROM d),
            keyed AS (
              SELECT host, generic_path, lang, min(url) AS url
              FROM u GROUP BY 1, 2, 3)
            SELECT s.host, s.generic_path, s.url AS src_url,
                   t.url AS dst_url, t.lang AS dst_lang
            FROM keyed s JOIN keyed t
              ON s.host = t.host AND s.generic_path = t.generic_path
            WHERE s.lang = 'en' AND t.lang <> 'en'
        """,
        # luhn_cards: recompute the ISO 7812 checksum digit-by-digit in
        # SQL (1-based substring from the right, double every second,
        # subtract 9 over 9) over the same formula candidate.
        "luhn_cards": """
            WITH d AS (
              SELECT doc_id,
                     lpad(CAST(doc_id * 7919 % 1000000000000000 AS VARCHAR),
                          15, '0')
                       || CAST(doc_id % 10 AS VARCHAR) AS num
              FROM documents),
            v AS (
              SELECT doc_id, num,
                     (list_sum(list_transform(generate_series(1, 16), i ->
                        CASE WHEN (i - 1) % 2 = 1 THEN
                          CASE WHEN CAST(num[17 - i] AS INT) * 2 > 9
                               THEN CAST(num[17 - i] AS INT) * 2 - 9
                               ELSE CAST(num[17 - i] AS INT) * 2 END
                        ELSE CAST(num[17 - i] AS INT) END)) % 10 = 0) AS ok
              FROM d)
            SELECT doc_id,
                   1 AS n_candidates,
                   CASE WHEN ok THEN 1 ELSE 0 END AS n_valid,
                   'Order ref '
                     || CASE WHEN ok THEN '[CARD]' ELSE num END
                     || ' was charged.' AS redacted
            FROM v
        """,
        # char_entropy: replay chars (empty-regex split of the raw text), the (doc,char) counts, and the ln(N) - sum(c*ln(c))/N
        # identity with the same round-6 canon; band on the rounded h.
        "char_entropy": r"""
            WITH chars AS (
              SELECT doc_id,
                     unnest(string_split_regex(text, '')) AS ch
              FROM documents),
            freq AS (
              SELECT doc_id, ch, count(*) AS c
              FROM chars WHERE ch <> '' GROUP BY 1, 2),
            agg AS (
              SELECT doc_id,
                     CAST(sum(c) AS BIGINT) AS n_chars_counted,
                     CAST(count(*) AS INT) AS n_unique_chars,
                     sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                       AS clogc
              FROM freq GROUP BY 1),
            h AS (
              SELECT doc_id, n_chars_counted, n_unique_chars,
                     round(ln(CAST(n_chars_counted AS DOUBLE))
                           - clogc / CAST(n_chars_counted AS DOUBLE), 6)
                       AS entropy
              FROM agg)
            SELECT doc_id, n_chars_counted, n_unique_chars, entropy,
                   CASE WHEN entropy < 2.0 THEN 'low'
                        WHEN entropy > 3.8 THEN 'high'
                        ELSE 'ok' END AS band
            FROM h
        """,
        # mad_outliers: replay exact interpolated percentile
        # (quantile_cont == Spark's percentile) for group median and
        # MAD, then the k*MAD flag with the zero-MAD fallback.
        "mad_outliers": """
            WITH med AS (
              SELECT source,
                     quantile_cont(CAST(n_chars AS DOUBLE), 0.5)
                       AS group_median
              FROM documents GROUP BY 1),
            wm AS (
              SELECT d.doc_id, d.source, d.n_chars, m.group_median
              FROM documents d JOIN med m USING (source)),
            mad AS (
              SELECT source,
                     quantile_cont(abs(CAST(n_chars AS DOUBLE)
                                       - group_median), 0.5) AS group_mad
              FROM wm GROUP BY 1)
            SELECT wm.doc_id, wm.source, wm.n_chars,
                   wm.group_median, mad.group_mad,
                   CASE WHEN mad.group_mad > 0
                        THEN abs(CAST(wm.n_chars AS DOUBLE)
                                 - wm.group_median) > 3.0 * mad.group_mad
                        ELSE abs(CAST(wm.n_chars AS DOUBLE)
                                 - wm.group_median) > 0 END AS is_outlier
            FROM wm JOIN mad USING (source)
        """,
        # hreflang_graph: predict every edge from the class formula —
        # m=0 ord 0/1/2 = en/fr/de, m=1 ord 0/1 = en/x-default, m=2
        # none.
        "hreflang_graph": """
            WITH d AS (
              SELECT doc_id, doc_id % 3 AS m,
                     CAST(doc_id % 7 AS VARCHAR) AS g,
                     CAST(doc_id AS VARCHAR) AS sid
              FROM documents),
            e AS (
              SELECT doc_id, g, sid, o.i AS ord,
                     CASE WHEN m = 1 AND o.i = 1 THEN 'x-default'
                          WHEN o.i = 0 THEN 'en'
                          WHEN o.i = 1 THEN 'fr'
                          ELSE 'de' END AS hreflang
              FROM d,
                   LATERAL unnest(generate_series(0,
                     CASE m WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE -1 END))
                     AS o(i)
              WHERE m < 2)
            SELECT 'http://s' || g || '.example.com/p' || sid AS url,
                   CAST(ord AS INT) AS ord,
                   hreflang,
                   'http://s' || g || '.example.com/' || hreflang
                     || '/p' || sid AS alt_url
            FROM e
        """,
        # feed_discovery: predict (ord, type, href) per class — m=0 rss,
        # m=1 atom, m=2 both (rss first), m=3 none.
        "feed_discovery": """
            WITH d AS (
              SELECT doc_id, doc_id % 4 AS m,
                     CAST(doc_id % 7 AS VARCHAR) AS g,
                     CAST(doc_id AS VARCHAR) AS sid
              FROM documents),
            e AS (
              SELECT doc_id, g, sid, o.i AS ord,
                     CASE WHEN m = 1 OR (m = 2 AND o.i = 1)
                          THEN 'atom' ELSE 'rss' END AS feed_type
              FROM d,
                   LATERAL unnest(generate_series(0,
                     CASE m WHEN 2 THEN 1 WHEN 3 THEN -1 ELSE 0 END))
                     AS o(i)
              WHERE m < 3)
            SELECT 'http://s' || g || '.example.com/p' || sid AS url,
                   CAST(ord AS INT) AS ord,
                   feed_type,
                   'http://s' || g || '.example.com/'
                     || CASE feed_type WHEN 'rss' THEN 'feed' ELSE 'atom' END
                     AS feed_url
            FROM e
        """,
        # invisible_chars: plant the identical codepoints with chr()
        # (200B=8203, FEFF=65279, 202E=8238, 202C=8236) and predict
        # counts/flag/stripped text per class.
        "invisible_chars": """
            WITH d AS (
              SELECT doc_id, doc_id % 3 AS m,
                     CAST(doc_id AS VARCHAR) AS sid
              FROM documents)
            SELECT doc_id,
                   CAST(CASE WHEN m = 1 THEN 2 ELSE 0 END AS INT)
                     AS n_zero_width,
                   CAST(CASE WHEN m = 2 THEN 2 ELSE 0 END AS INT)
                     AS n_bidi,
                   m IN (1, 2) AS flagged,
                   CASE WHEN m = 1 THEN 'payload ' || sid
                        WHEN m = 2 THEN 'user cba ' || sid
                        ELSE 'clean text ' || sid END AS cleaned
            FROM d
        """,
        # code_switch: predict the line-vote profile per class — m=0
        # en/und/en (0 switches), m=1 en/de/en/de (3), m=2 en/en/fr/und
        # (1); und lines don't vote.
        "code_switch": """
            SELECT doc_id,
                   CAST(CASE doc_id % 3 WHEN 0 THEN 3 ELSE 4 END AS INT)
                     AS n_lines,
                   CAST(CASE doc_id % 3 WHEN 0 THEN 2
                                        WHEN 1 THEN 4
                                        ELSE 3 END AS INT) AS n_lang_lines,
                   CAST(CASE doc_id % 3 WHEN 0 THEN 0
                                        WHEN 1 THEN 3
                                        ELSE 1 END AS INT) AS n_switches,
                   doc_id % 3 <> 0 AS mixed
            FROM documents
        """,
        # quality_calibration: both signals from the shared shape CTEs
        # (quality_lr's z + gopher's gate), bucket on the rounded
        # score, one bucket aggregation.
        "quality_calibration": rf"""
            WITH w AS (
              SELECT doc_id,
                     CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS ws,
                     len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS syms,
                     len(regexp_extract_all(lower(text), '{_STOP_EN}')) AS stop_hits
              FROM documents),
            s AS (
              SELECT doc_id, syms, stop_hits, ws, len(ws) AS n,
                     len(list_distinct(ws)) AS nd,
                     list_sum(list_transform(ws, x -> length(x))) AS total_len
              FROM w),
            m AS (
              SELECT doc_id, n, stop_hits,
                     CASE WHEN n = 0 THEN 0.0
                          ELSE round(1.0 - nd / CAST(n AS DOUBLE), 4) END AS dup_frac,
                     CASE WHEN n = 0 THEN 0.0
                          ELSE round(list_max(list_transform(list_distinct(ws),
                                 d -> len(list_filter(ws, x -> x = d))))
                               / CAST(n AS DOUBLE), 4) END AS top_cov,
                     CASE WHEN n = 0 THEN 0.0
                          ELSE round(total_len / CAST(n AS DOUBLE), 4) END AS mean_wlen,
                     CASE WHEN n = 0 THEN 0.0
                          ELSE round(syms / CAST(n AS DOUBLE), 4) END AS sym_ratio
              FROM s),
            scored AS (
              SELECT doc_id,
                     round(1.0 / (1.0 + exp(-(
                       1.0 + 0.8 * least(n / 100.0, 1.0)
                           + 1.2 * least(stop_hits * 5.0 / greatest(n, 1), 1.0)
                           - 3.0 * dup_frac - 2.0 * top_cov - 2.5 * sym_ratio
                           - 0.08 * least(abs(mean_wlen - 5.0), 5.0)))), 4)
                       AS score,
                     (dup_frac <= 0.3 AND top_cov <= 0.2
                      AND mean_wlen BETWEEN 2.0 AND 12.0
                      AND sym_ratio <= 0.3) AS label
              FROM m),
            b AS (
              SELECT least(9, CAST(floor(score * 10) AS INT)) AS bucket,
                     score, label
              FROM scored)
            SELECT bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_keep,
                   round(sum(CASE WHEN label THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 4) AS keep_rate,
                   round(sum(score) / CAST(count(*) AS DOUBLE), 4)
                     AS avg_score
            FROM b GROUP BY bucket
        """,
        # kmv_merge: replay both sketch constructions (per-side top-64
        # of the md5-60 hashes, then union-retop vs direct) and the
        # estimate; for disjoint halves the merged and direct sketches
        # are identical by construction.
        "kmv_merge": """
            WITH h AS (
              SELECT CAST('0x' || substr(md5('u'
                       || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h,
                     doc_id % 2 AS side
              FROM documents),
            ev AS (SELECT h FROM h WHERE side = 0 ORDER BY h LIMIT 64),
            od AS (SELECT h FROM h WHERE side = 1 ORDER BY h LIMIT 64),
            mg AS (
              SELECT DISTINCT h
              FROM (SELECT h FROM ev UNION ALL SELECT h FROM od)
              ORDER BY h LIMIT 64),
            dr AS (
              SELECT h FROM (SELECT DISTINCT h FROM h)
              ORDER BY h LIMIT 64),
            ma AS (SELECT count(*) AS n_kept, max(h) AS hk FROM mg),
            da AS (SELECT count(*) AS n_kept, max(h) AS hk FROM dr)
            SELECT CAST(ma.n_kept AS INT) AS n_kept,
                   round(CASE WHEN ma.n_kept < 64
                              THEN CAST(ma.n_kept AS DOUBLE)
                              ELSE (CAST(63 AS DOUBLE)
                                    * 1152921504606846976.0) / ma.hk
                         END, 4) AS est_merged,
                   round(CASE WHEN da.n_kept < 64
                              THEN CAST(da.n_kept AS DOUBLE)
                              ELSE (CAST(63 AS DOUBLE)
                                    * 1152921504606846976.0) / da.hk
                         END, 4) AS est_direct,
                   ma.hk = da.hk AS merge_exact
            FROM ma, da
        """,
        # linkage_clusters: the linkage_verify CTE chain filtered to
        # 'match' edges, then recursive reachability + min-label +
        # canonical over ALL docs (non-matched docs are singleton
        # entities).
        "linkage_clusters": r"""
            WITH RECURSIVE k AS (
              SELECT doc_id, lang,
                     lower(substr(coalesce(text, ''), 1, 32)) AS title
              FROM documents),
            n AS (
              SELECT doc_id AS id_a, title AS key_a,
                     lead(doc_id, 1) OVER w AS id1, lead(title, 1) OVER w AS k1,
                     lead(doc_id, 2) OVER w AS id2, lead(title, 2) OVER w AS k2
              FROM k
              WINDOW w AS (PARTITION BY lang ORDER BY title, doc_id)),
            pairs AS (
              SELECT id_a, key_a, id_b, key_b FROM (
                SELECT id_a, key_a, id1 AS id_b, k1 AS key_b FROM n
                UNION ALL SELECT id_a, key_a, id2, k2 FROM n)
              WHERE id_b IS NOT NULL),
            mt AS (
              SELECT id_a, id_b FROM pairs
              WHERE CASE WHEN greatest(length(key_a), length(key_b)) = 0
                         THEN 1.0
                         ELSE 1.0 - levenshtein(key_a, key_b)
                              / CAST(greatest(length(key_a), length(key_b))
                                     AS DOUBLE)
                    END >= 0.85),
            eb AS (
              SELECT id_a AS s, id_b AS t FROM mt
              UNION
              SELECT id_b, id_a FROM mt),
            reach(id, lbl) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT eb.t, reach.lbl FROM eb JOIN reach ON eb.s = reach.id),
            comp AS (
              SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY 1)
            SELECT doc_id, component,
                   doc_id = min(doc_id) OVER (PARTITION BY component)
                     AS is_canonical
            FROM comp
        """,
        # sitemap_coverage: replay declared urls (sitemap formula),
        # the crawl subset (doc_id % 3 != 0), membership, and the ratio.
        "sitemap_coverage": """
            WITH decl AS (
              SELECT DISTINCT
                     'h' || CAST(doc_id % 8 AS VARCHAR) || '.example.com'
                       AS host,
                     'http://h' || CAST(doc_id % 8 AS VARCHAR)
                       || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS u
              FROM documents),
            crawled AS (
              SELECT DISTINCT
                     'http://h' || CAST(doc_id % 8 AS VARCHAR)
                       || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS u
              FROM documents WHERE doc_id % 3 <> 0)
            SELECT host,
                   CAST(count(*) AS BIGINT) AS n_declared,
                   CAST(sum(CASE WHEN u IN (SELECT u FROM crawled)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_crawled,
                   round(sum(CASE WHEN u IN (SELECT u FROM crawled)
                                  THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 4) AS coverage
            FROM decl GROUP BY host
        """,
        # og_cards: predict the four card columns per parity class.
        "og_cards": """
            SELECT 'http://s' || CAST(doc_id % 7 AS VARCHAR)
                     || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
                   'T' || CAST(doc_id AS VARCHAR) AS og_title,
                   CASE WHEN doc_id % 2 = 0 THEN 'article' END AS og_type,
                   CAST(NULL AS VARCHAR) AS og_image,
                   'http://s' || CAST(doc_id % 7 AS VARCHAR)
                     || '.example.com/p' || CAST(doc_id AS VARCHAR) AS og_url
            FROM documents
        """,
        "component_sizes": (
            "WITH comp AS (" + _dedup_clusters_oracle() + """),
            s AS (SELECT component, count(*) AS csize FROM comp GROUP BY 1)
            SELECT CAST(csize AS BIGINT) AS csize,
                   CAST(count(*) AS BIGINT) AS n_components
            FROM s GROUP BY csize
        """
        ),
    }
