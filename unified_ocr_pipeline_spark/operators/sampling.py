"""Deterministic corpus sampling / curation operators.

Training-data pipelines downsample and gate the crawl before anything
expensive touches it: fixed-quota samples per domain/language (corpus
balancing) and per-group quantile gates (quality curation). Both must be
deterministic — a re-run of the pipeline has to pick the same rows — so
ordering comes from a content hash, never from partition order or RNG
state.

Scale shape: one shuffle each (the window partition / the groupBy), both
with map-side partial work; no driver-side collection anywhere. The
sample hash is the md5-60bit trick from operators/dedup (replayable in
ANSI SQL, so the DuckDB oracle checks these end-to-end).
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def md5_60(col: Column) -> Column:
    """60-bit integer from the first 15 hex chars of md5(string(col)) —
    identical to DuckDB's ('0x' || substr(md5(x), 1, 15))::BIGINT and to
    operators/dedup._md5_60 on utf-8 bytes. JVM-side, codegen-friendly."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def sample_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    id_col: str,
    n_per_group: int,
) -> DataFrame:
    """Deterministic stratified sample: the ``n_per_group`` rows per group
    with the smallest md5-60 hash of ``id_col`` (ties by id).

    Quota sampling needs a per-group top-k, i.e. one window shuffle over
    the group key. When an approximate *rate* (not quota) is enough at
    scale, prefer the shuffle-free gate ``md5_60(id) < rate * 2**60``
    instead — that is a plain filter pushed to the scan.
    """
    w = Window.partitionBy(*group_cols).orderBy(
        md5_60(F.col(id_col)), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_per_group)
        .drop("_rn")
    )


def quantile_gate_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    metric_col: str,
    min_quantile: float,
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Keep rows whose ``metric_col`` sits strictly above the
    ``min_quantile`` cumulative-distribution point within their group —
    the per-language quality gate of a curation pipeline (e.g. keep the
    top half by quality score per lang).

    ``cume_dist`` (fraction of group rows ≤ this row), not
    ``percent_rank``: percent_rank is 0 for a single-row group, so a
    ``>=`` gate would silently drop a group's only — trivially top-half —
    row; cume_dist is 1.0 there and the row survives any quantile < 1.

    Exact, rank-based (no distribution assumptions), one window shuffle.
    ``tie_cols`` pins a total order so the gate is deterministic when
    metric values repeat. At 100 TB with heavy groups, the same semantics
    come from a two-pass approx_percentile + broadcast-join gate; the
    window form is exact and is what the oracle replays.
    """
    order = [F.col(metric_col)] + [F.col(c) for c in tie_cols]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("_cd", F.cume_dist().over(w))
        .where(F.col("_cd") > min_quantile)
        .drop("_cd")
    )


def pack_sequences(
    df: DataFrame,
    group_cols: Sequence[str],
    id_col: str,
    weight_col: str,
    budget: int,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in
    deterministic ``id_col`` order within each group and chunked into
    fixed ``budget``-token context windows (the standard packed-pretraining
    layout). Each row gains:

    - ``pack_window``: the window index where this document starts,
    - ``pack_offset``: its offset within that window,
    - ``pack_spans``: how many windows the document straddles.

    One window-function shuffle per group; the running total is
    ``sum(weight) OVER (... ROWS UNBOUNDED PRECEDING TO 1 PRECEDING)``, so
    the assignment is a pure function of the sorted prefix — deterministic
    and exactly replayable in ANSI SQL. At 100 TB, pack per shard/group
    (the group key bounds each window partition); a single global order
    would serialize into one partition.
    """
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(F.col(weight_col)).over(w), F.lit(0)).cast("long")
    wt = F.col(weight_col).cast("long")
    start_w = F.floor(before / budget)
    end_w = F.floor((before + F.greatest(wt, F.lit(1)) - 1) / budget)
    return (
        df.withColumn("pack_window", start_w)
        .withColumn("pack_offset", (before % budget).cast("long"))
        .withColumn("pack_spans", (end_w - start_w + 1).cast("long"))
    )


def vocab_topk(
    df: DataFrame,
    text_col: str,
    group_col: str,
    k: int,
) -> DataFrame:
    """Per-group top-k vocabulary by token frequency: (group, token, n,
    rank). The vocabulary-building pass of a tokenizer/corpus-stats
    pipeline: explode whitespace tokens → count per (group, token) →
    top-k per group by (n desc, token).

    The explode inflates rows ~doc_length×, but Catalyst's partial
    hash-aggregation collapses each map partition to its distinct
    (group, token) counts BEFORE the exchange, so the shuffle carries
    vocabulary-sized data, not corpus-sized.
    """
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("token"),
    ).where(F.col("token") != "")
    counts = toks.groupBy("grp", "token").agg(F.count("*").alias("n"))
    w = Window.partitionBy("grp").orderBy(F.col("n").desc(), F.col("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("grp").alias(group_col), "token", "n", "rank")
    )


def split_assign(
    df: DataFrame,
    id_col: str,
    weights: Sequence[tuple],
    split_col: str = "split",
    seed: str = "",
) -> DataFrame:
    """Deterministic train/val/test split assignment by id hash.

    ``weights`` is an ordered list of (name, weight) pairs; each row gets
    the split whose cumulative weight range contains
    ``md5_60(seed || id) / 2^60``. Hash-based, so (a) re-runs and
    incremental batches assign identically — a doc never migrates between
    train and test as the corpus grows (randomSplit can't promise that:
    it's partition-order-dependent), and (b) the same doc_id lands in the
    same split across every table it appears in. ``seed`` rotates the
    assignment without touching ids. Pure JVM expression — no shuffle, no
    Python; replayable in ANSI SQL for the oracle.
    """
    total = float(sum(w for _, w in weights))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    u = md5_60(F.concat(F.lit(seed), F.col(id_col).cast("string"))) / F.lit(
        float(2**60)
    )
    expr = None
    cum = 0.0
    for name, w in weights[:-1]:
        cum += w / total
        branch = F.when(u < F.lit(cum), F.lit(name))
        expr = branch if expr is None else expr.when(u < F.lit(cum), F.lit(name))
    last = F.lit(weights[-1][0])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def mixture_sample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    token_col: str,
    budgets: dict,
    salt: int = 32,
) -> DataFrame:
    """Token-budgeted mixture sampling (exact): build a training mixture by
    taking documents per source, in deterministic md5-60 hash order, until
    each source's token budget is exhausted (the Pile/Dolma-style mixing
    step). A document is kept iff it STARTS before its source's budget is
    spent (prefix tokens excluding the doc < budget), so budgets may
    overshoot by at most one document — deterministic and re-run-stable.

    Sources absent from ``budgets`` are dropped. Returns the input columns
    plus ``cum_tokens`` (prefix sum INCLUDING the row, handy for audits).

    SALTED TWO-PHASE PREFIX SUM (``salt`` > 1, default 32): a naive
    per-source window sorts each source on ONE reducer — the definitional
    hot key when one source dominates the mixture. Because md5_60 is
    uniform on [0, 2^60), the hash-ordered sequence splits into ``salt``
    contiguous ranges by the hash's high bits; phase 1 aggregates token
    totals per (source, range) — a tiny relation — and turns them into
    per-range starting offsets with a window over that tiny relation;
    phase 2 windows within (source, range) (the hot source now spreads
    over ``salt`` reducers) and adds the broadcast offset back. The result
    is bit-identical to the single-window plan for any ``salt`` (equal
    hashes share a range, so the (hash, id) tiebreak order is preserved).
    ``salt=1`` degenerates to the classic one-window plan.

    For 100 TB corpora where even the salted exact pass is too much, use
    :func:`mixture_sample_rate` — a sort-free two-pass approximation whose
    only wide ops are a tiny per-source aggregate and a broadcast join;
    this exact variant is for when budget precision matters (small
    high-value sources, eval mixtures).
    """
    if salt < 1 or (salt & (salt - 1)) != 0:
        raise ValueError(f"salt must be a power of two, got {salt}")
    b = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )
    budget = F.coalesce(b[F.col(source_col)], F.lit(0))
    h = md5_60(F.col(id_col))
    if salt == 1:
        w = (
            Window.partitionBy(source_col)
            .orderBy(h, F.col(id_col))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = F.sum(F.col(token_col)).over(w)
        return df.withColumn("cum_tokens", cum).where(
            (F.col("cum_tokens") - F.col(token_col)) < budget
        )
    k = salt.bit_length() - 1
    bucketed = df.withColumn("_mx_bucket", F.shiftright(h, 60 - k))
    offsets = (
        bucketed.groupBy(source_col, "_mx_bucket")
        .agg(F.sum(F.col(token_col)).alias("_range_tokens"))
        .withColumn(
            "_mx_offset",
            F.coalesce(
                F.sum("_range_tokens").over(
                    Window.partitionBy(source_col)
                    .orderBy("_mx_bucket")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select(source_col, "_mx_bucket", "_mx_offset")
    )
    w = (
        Window.partitionBy(source_col, "_mx_bucket")
        .orderBy(h, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        bucketed.withColumn("_local_cum", F.sum(F.col(token_col)).over(w))
        .join(F.broadcast(offsets), [source_col, "_mx_bucket"])
        .withColumn("cum_tokens", F.col("_mx_offset") + F.col("_local_cum"))
        .where((F.col("cum_tokens") - F.col(token_col)) < budget)
        .drop("_mx_bucket", "_mx_offset", "_local_cum")
    )


def mixture_sample_rate(
    df: DataFrame,
    id_col: str,
    source_col: str,
    token_col: str,
    budgets: dict,
) -> DataFrame:
    """Token-budgeted mixture sampling, sort-free scale path: pass 1
    aggregates total tokens per source (tiny result), derives each
    source's keep-rate ``min(1, budget/total)``, and pass 2 keeps rows
    where ``md5_60(id) < rate * 2^60`` — a broadcast join plus a scan-side
    filter, no per-source sort anywhere. Expected tokens kept per source
    == budget (exact when budget >= total); the deviation is
    O(sqrt(n_docs)) by Chernoff since the hash is uniform on ids.

    The same hash order makes the two variants nest: the rate-kept set is
    a superset of the exact-kept set for the same budgets (modulo the
    boundary document), so a precise trim can run on the (much smaller)
    rate-sampled output if needed.
    """
    totals = (
        df.groupBy(source_col)
        .agg(F.sum(F.col(token_col)).alias("_total"))
    )
    b = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )
    rates = totals.select(
        source_col,
        F.least(
            F.lit(1.0),
            F.coalesce(b[F.col(source_col)], F.lit(0)).cast("double")
            / F.col("_total").cast("double"),
        ).alias("_rate"),
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .where(md5_60(F.col(id_col)).cast("double") < F.col("_rate") * float(2**60))
        .drop("_rate")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int,
    stride: int,
) -> DataFrame:
    """Sliding-window document chunking (RAG/embedding prep): split each
    document into windows of ``chunk_tokens`` whitespace tokens advancing
    by ``stride`` (overlap = chunk_tokens - stride). The final window is
    the last full slice starting at ceil((n-chunk)/stride)*stride, so
    every token is covered and no empty trailing chunk is emitted; a doc
    with <= chunk_tokens tokens yields exactly one chunk (possibly
    shorter), and an empty doc yields one empty chunk.

    Returns (id, chunk_id, n_chunk_tokens, chunk_text). Pure Catalyst
    (split + sequence + slice + posexplode): narrow, no shuffle, no
    Python — the chunk explosion happens on scan partitions, which is
    what lets it run ahead of any embedding stage at 100 TB.
    """
    t = F.regexp_replace(F.col(text_col), r"^\s+|\s+$", "")
    toks_expr = F.when(
        F.length(t) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(t, r"\s+"))
    # materialize the token array before the lambda: a lambda capturing
    # the raw split expression re-evaluates the split once PER CHUNK
    # (no CSE inside higher-order functions)
    base = df.select(F.col(id_col).alias("id"), toks_expr.alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)
    k = (
        F.lit(1)
        + F.floor(
            (F.greatest(n - chunk_tokens, F.lit(0)) + (stride - 1)) / stride
        )
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.struct(
            F.slice(toks, i * stride + 1, chunk_tokens).alias("ctoks")
        ),
    )
    return base.select(
        "id", F.posexplode(chunks).alias("chunk_id", "c")
    ).select(
        "id",
        "chunk_id",
        F.size("c.ctoks").alias("n_chunk_tokens"),
        F.array_join("c.ctoks", " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch (bounded-memory frequency estimation)
# ---------------------------------------------------------------------------

def _cms_bits(width: int, depth: int) -> int:
    assert width & (width - 1) == 0, "width must be a power of two"
    k = width.bit_length() - 1
    assert depth * k <= 60, "depth*log2(width) must fit in the 60-bit hash"
    return k


def _cms_slice(d: int, k: int, width: int) -> Column:
    """Bucket for sketch row d: bits [d*k, (d+1)*k) of the 60-bit hash
    column ``h`` — literal shift amounts so this is a pure-integer JVM
    expression (shiftright + bitwiseAND)."""
    return F.shiftright(F.col("h"), d * k).bitwiseAND(F.lit(width - 1)).cast("int")


def count_min_sketch(
    df: DataFrame, key_col: str, width: int = 256, depth: int = 5
) -> DataFrame:
    """Fold occurrences of ``df[key_col]`` into a count-min sketch
    (Cormode & Muthukrishnan 2005): a ``depth x width`` counter grid
    where row d counts occurrences by hash_d(key) mod width.

    Returns the sketch as a DataFrame (d int, b int, cnt long) — at most
    ``depth * width`` rows regardless of corpus size. The scale property
    is in the aggregation shape: each occurrence fans out to ``depth``
    (d, b) cells MAP-SIDE, and the hash-agg's partial combine collapses
    every task's contribution to <= depth*width partial rows before the
    exchange — so shuffle volume is O(tasks * depth * width), never
    O(rows).

    Hashing: ONE md5-60 per occurrence, with row d's bucket taken from
    bit-slice d of the hash — b_d = (h >> (d*log2(width))) & (width-1)
    (width must be a power of two and depth*log2(width) <= 60 so the
    slices are disjoint uniform bits; pure integer shifts, so both
    engines compute identical buckets with no double-rounding on the
    60-bit hash). The original "md5 per (occurrence x depth)"
    formulation measured 3x the hash cost at sf0.1 for identical
    estimates. Bit-replayable in the DuckDB oracle. Null keys are not
    counted (SQL COUNT semantics).
    """
    k = _cms_bits(width, depth)
    hashed = (
        df.select(F.col(key_col).cast("string").alias("key"))
        .where(F.col("key").isNotNull())
        .select(md5_60(F.col("key")).alias("h"))
    )
    return (
        hashed.select(
            F.posexplode(
                F.array(*[_cms_slice(d, k, width) for d in range(depth)])
            ).alias("d", "b")
        )
        .groupBy("d", "b")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 256,
    depth: int = 5,
) -> DataFrame:
    """Point-query a count-min sketch: estimated occurrence count for
    each distinct key in ``keys[key_col]`` = min over the sketch's depth
    rows of the key's cell counters. Estimates never undercount
    (est >= true count); overcount probability shrinks geometrically
    with depth. The sketch (<= depth*width rows) is broadcast; the probe
    side is a map-side explode + broadcast join + one min-agg keyed by
    the key — no corpus-scale shuffle.

    Returns (key string, est long).
    """
    k = _cms_bits(width, depth)
    probe = (
        keys.select(F.col(key_col).cast("string").alias("key"))
        .where(F.col("key").isNotNull())
        .distinct()
        .select("key", md5_60(F.col("key")).alias("h"))
        .select(
            "key",
            F.posexplode(
                F.array(*[_cms_slice(d, k, width) for d in range(depth)])
            ).alias("d", "b"),
        )
    )
    return (
        probe.join(F.broadcast(sketch), ["d", "b"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )


def _bloom_params(m_bits: int, k: int) -> int:
    assert m_bits & (m_bits - 1) == 0, "m_bits must be a power of two"
    b = m_bits.bit_length() - 1
    assert k * b <= 60, "k*log2(m_bits) must fit in the 60-bit hash"
    return b


def _bloom_positions(b: int, k: int, m_bits: int) -> list[Column]:
    """Bit positions j=0..k-1: disjoint b-bit slices of the 60-bit hash
    column ``h`` — same partitioned-hash trick as the count-min sketch
    (one md5 per key, pure integer shifts, bit-replayable in SQL)."""
    return [
        F.shiftright(F.col("h"), j * b).bitwiseAND(F.lit(m_bits - 1))
        for j in range(k)
    ]


def bloom_build(
    df: DataFrame, key_col: str, m_bits: int = 1 << 16, k: int = 3
) -> DataFrame:
    """Fold ``df[key_col]`` into a Bloom filter (Bloom 1970): each key
    sets ``k`` bits of an ``m_bits``-wide bitmap; membership probes
    (``bloom_probe``) answer "definitely absent" or "maybe present"
    (false-positive rate ≈ (1 - e^(-k*n/m))^k, zero false negatives).
    THE classic crawl primitive: 10^10 seen-url strings don't fit
    anywhere, but their 2 GB bitmap broadcasts to every executor.

    Representation: packed 32-bit words as rows ``(word int, bits
    bigint)`` — word = pos >> 5, OR of 1 << (pos & 31) — at most
    m_bits/32 rows regardless of corpus size, absent words implicitly
    zero. 32-bit packing (not 64) keeps every mask and OR-sum
    non-negative, so the SQL oracle replays the words without BIGINT
    sign gymnastics.

    Sibling: ``operators/dedup.bloom_anti_join`` folds its bitmap
    through the driver (NumPy bytes, xxhash64 double hashing) and uses
    it only as a prefilter whose RESULT is exact. This pair instead
    keeps the filter AS A DATAFRAME — persistable to parquet and probed
    next batch without refolding, never materialized on the driver, and
    bit-replayable in SQL so the bitmap math itself is oracle-checked.

    Scale shape: each key fans out to k (word, mask) pairs MAP-SIDE and
    the hash-agg's partial bit_or collapses every task to <= m_bits/32
    rows before the exchange — shuffle is O(tasks * m/32), never
    O(rows). Null keys set no bits (SQL semantics, matching the probe's
    null handling).
    """
    b = _bloom_params(m_bits, k)
    hashed = (
        df.select(F.col(key_col).cast("string").alias("key"))
        .where(F.col("key").isNotNull())
        .select(md5_60(F.col("key")).alias("h"))
    )
    pos = hashed.select(
        F.explode(F.array(*_bloom_positions(b, k, m_bits))).alias("pos")
    )
    return (
        pos.select(
            F.shiftright(F.col("pos"), 5).cast("int").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos & 31 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(
    bloom: DataFrame,
    keys: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    k: int = 3,
) -> DataFrame:
    """Membership-probe a Bloom filter built by ``bloom_build`` with the
    same ``(m_bits, k)``: for each distinct non-null key, ``maybe_present
    = true`` iff ALL k of its bit positions are set. False => definitely
    never inserted; true => present or a hash collision (the caller
    chooses m/k for the false-positive budget: m = -n*ln(p)/ln(2)^2,
    k = (m/n)*ln(2)).

    Scale shape: the filter (<= m_bits/32 rows) is BROADCAST; the probe
    side is a map-side explode + broadcast join + one bool_and agg keyed
    by the key — no corpus-scale shuffle, which is the entire point of
    probing a bitmap instead of anti-joining the raw key set.

    Returns (key string, maybe_present boolean).
    """
    b = _bloom_params(m_bits, k)
    probe = (
        keys.select(F.col(key_col).cast("string").alias("key"))
        .where(F.col("key").isNotNull())
        .distinct()
        .select("key", md5_60(F.col("key")).alias("h"))
        .select(
            "key",
            F.explode(F.array(*_bloom_positions(b, k, m_bits))).alias("pos"),
        )
        .select(
            "key",
            F.shiftright(F.col("pos"), 5).cast("int").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos & 31 AS INT))").alias(
                "mask"
            ),
        )
    )
    hit = (
        F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask")) != 0
    ).alias("hit")
    return (
        probe.join(F.broadcast(bloom), ["word"], "left")
        .select("key", hit)
        .groupBy("key")
        .agg(F.bool_and("hit").alias("maybe_present"))
    )


def linear_count_distinct(
    df: DataFrame, key_col: str, m: int = 4096
) -> DataFrame:
    """Linear-counting approximate COUNT(DISTINCT) (Whang et al. 1990):
    hash each key into an m-slot bitmap, estimate
    n ≈ -m * ln(empty_slots / m). The bounded-memory distinct counter
    for corpus-scale cardinalities (distinct urls/hosts/fingerprints)
    when the exact distinct's shuffle is the bottleneck — and unlike
    HLL, the estimator is a pure function of WHICH slots are hit, so a
    SQL oracle replays it bit-for-bit (md5-60 slot hash, same family as
    every other replayable hash here).

    Returns one row: (occupied long, m int, estimate double). Scale
    shape: ONE hash-agg on the slot id (at most m distinct groups reach
    the exchange after map-side partial agg — shuffle is O(tasks * m),
    not O(rows)), then a single count. Accuracy: standard error
    ~ sqrt(m*(exp(n/m)-1-n/m))/n; size m to the expected cardinality
    (m >= n/12 keeps load factor in linear-counting's sweet spot).
    Null keys are not counted (COUNT DISTINCT semantics).
    """
    occupied = (
        df.select(F.col(key_col).cast("string").alias("key"))
        .where(F.col("key").isNotNull())
        .select(F.pmod(md5_60(F.col("key")), F.lit(m)).alias("slot"))
        .groupBy("slot")
        .agg(F.lit(1).alias("_one"))
        .select(F.count("*").alias("occupied"))
    )
    return occupied.select(
        "occupied",
        F.lit(m).cast("int").alias("m"),
        F.when(F.col("occupied") >= m, F.lit(float(m)) * F.log(F.lit(float(m))))
        .otherwise(
            -F.lit(float(m))
            * F.log((F.lit(float(m)) - F.col("occupied")) / F.lit(float(m)))
        )
        .alias("estimate"),
    )


def hll_count_distinct(df: DataFrame, key_col: str, p: int = 12) -> DataFrame:
    """HyperLogLog approximate COUNT(DISTINCT) (Flajolet et al. 2007) on
    the md5-60 hash: the top ``p`` hash bits pick one of m = 2**p
    registers, the register keeps the max leading-zero-run length (rho)
    of the remaining w = 60-p bits, and the harmonic-mean estimator
    alpha_m * m^2 / sum(2^-reg) recovers the cardinality, with the
    standard linear-counting fallback below 2.5m when empty registers
    remain. Relative error ~ 1.04/sqrt(m) with O(m) state — the
    industry-standard bounded-memory distinct counter (what a 100 TB
    crawl uses for per-snapshot distinct urls/hosts where even
    linear-counting's bitmap per group would be too wide).

    Everything before the final one-row projection is exact integer
    math, so a SQL oracle replays it bit-for-bit: rho comes from a
    bit-smear + popcount (no float log2 whose rounding could differ
    across engines), and the harmonic sum is accumulated as the integer
    sum of 2^(w+1-reg) (max m * 2^(w+1) < 2^63 for p >= 7, so the
    BIGINT sum is exact and order-independent) and divided back to
    double once.

    Scale shape: ONE hash-agg keyed by register index — map-side partial
    max collapses every task to <= m rows before the exchange (shuffle
    is O(tasks * m), not O(rows)) — then a single-row agg over <= m
    registers. Null keys are not counted (COUNT DISTINCT semantics).

    Returns one row: (m int, zero_registers long, raw_estimate double,
    estimate double).
    """
    if not 7 <= p <= 18:
        # p >= 7 keeps the asymptotic alpha_m valid AND the scaled
        # harmonic sum inside BIGINT; p <= 18 caps register memory.
        raise ValueError(f"p must be in [7, 18], got {p}")
    m = 1 << p
    w = 60 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)

    h = md5_60(F.col("key"))
    rest = h.bitwiseAND(F.lit((1 << w) - 1))
    # bit_length(rest) via bit-smear + popcount; rho = w + 1 - bit_length
    v = rest
    for s in (1, 2, 4, 8, 16, 32):
        v = v.bitwiseOR(F.shiftright(v, s))
    rho = (F.lit(w + 1) - F.bit_count(v)).alias("rho")

    regs = (
        df.select(F.col(key_col).cast("string").alias("key"))
        .where(F.col("key").isNotNull())
        .select(F.shiftright(h, w).alias("idx"), rho)
        .groupBy("idx")
        .agg(F.max("rho").alias("reg"))
    )
    # (python's F.shiftleft wrapper only takes an int shift amount; the
    # underlying SQL ShiftLeft is a binary expression, so go via expr)
    agg = regs.agg(
        F.count("*").alias("nreg"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {w + 1} - reg)")).alias(
            "sum_term"
        ),
    )
    zero = F.lit(m).cast("long") - F.col("nreg")
    sum_int = F.col("sum_term") + zero * F.lit(1 << (w + 1)).cast("long")
    raw = (
        F.lit(alpha * m * m) * F.lit(float(1 << (w + 1))) / sum_int.cast("double")
    )
    return agg.select(
        F.lit(m).cast("int").alias("m"),
        zero.alias("zero_registers"),
        raw.alias("raw_estimate"),
        F.when(
            (raw <= F.lit(2.5 * m)) & (zero > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / zero.cast("double")),
        )
        .otherwise(raw)
        .alias("estimate"),
    )


def priority_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: int = 42,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis &
    Spirakis 2006, algorithm A-ES): each row draws the hash-uniform
    u = (md5_60(seed|id) + 1) / 2^60 in (0, 1] and the sample is the
    global top-k rows by priority u^(1/weight) — exactly the
    distribution of sequential weighted draws without replacement, but
    as a single one-pass top-k. The mixture-building primitive when
    sources are weighted by token count rather than gated by budget
    (mixture_sample's cousin): re-runs pick identical rows because u
    comes from the content hash, never an RNG.

    Rows with null/non-positive weight are excluded (they have no
    well-defined draw). Ties (astronomically unlikely) break by id.

    Scale shape: NO global sort — orderBy+limit compiles to
    TakeOrderedAndProject, a per-partition O(k) heap + single-reducer
    merge of tasks*k candidate rows (plan-asserted in tests). The
    priority expression is pure JVM codegen.
    """
    u = (
        md5_60(F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string")))
        + F.lit(1)
    ).cast("double") / F.lit(float(1 << 60))
    pri = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    return (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("priority", pri)
        .orderBy(F.desc("priority"), F.col(id_col))
        .limit(k)
    )


def zipf_fit(
    df: DataFrame,
    text_col: str,
    min_count: int = 1,
    max_rank: int | None = 50_000,
) -> DataFrame:
    """Zipf's-law fit over the corpus token-frequency distribution: one
    row ``(n_types bigint, n_tokens bigint, slope double, intercept
    double, r2 double)`` from an OLS regression of log10(freq) on
    log10(rank).

    ``n_types`` and ``n_tokens`` count the rows the fit ran on: under a
    finite ``max_rank`` (the default) that is the head of at most
    ``max_rank`` types and their tokens, not the whole corpus vocabulary
    (``max_rank=10`` over a larger vocabulary reports ``n_types ==
    10``). Pass ``max_rank=None`` for corpus-wide counts.

    Natural-language corpora sit near slope ≈ −1; a corpus whose slope
    drifts far from that is dominated by boilerplate/templates (too
    steep) or by random/generated junk (too flat) — a cheap whole-corpus
    health check next to the per-document quality gates.

    Scale shape: the explode partial-aggregates map-side so the shuffle
    carries vocabulary-sized counts.  The head cut happens BEFORE
    ranking via ``orderBy().limit(max_rank)`` — Spark plans that as
    TakeOrderedAndProject (per-partition heaps, no full sort), so the
    rank window only ever sees ``max_rank`` rows.  The DEFAULT is a
    finite head (50k ranks): the Zipf slope is a head statistic — the
    power-law fit is dominated by the top ranks and log-spaced beyond
    them — so a web-scale vocabulary never meets a single-reducer sort
    unless a caller EXPLICITLY passes ``max_rank=None``, which windows
    the full VOCAB relation (type-bounded; the fixture/oracle override
    for exact full-tail replay).  The regression itself is one built-in
    aggregate (regr_slope/intercept/r2), no driver math.
    """
    toks = df.select(
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("token")
    ).where(F.col("token") != "")
    counts = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= min_count)
    )
    if max_rank is not None:
        # Head cut FIRST (TakeOrderedAndProject), so the row_number
        # window ranks a max_rank-bounded relation — identical ranks to
        # windowing the full vocab then filtering, without the
        # single-reducer sort over every type >= min_count.
        counts = counts.orderBy(F.col("n").desc(), F.col("token")).limit(
            max_rank
        )
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    ranked = counts.withColumn("rank", F.row_number().over(w))
    x = F.log10(F.col("rank").cast("double"))
    y = F.log10(F.col("n").cast("double"))
    return ranked.agg(
        F.count("*").alias("n_types"),
        F.sum("n").alias("n_tokens"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch: mergeable set summaries
# ---------------------------------------------------------------------------

def kmv_sketch(df: DataFrame, key_col: str, k: int = 64) -> DataFrame:
    """K-minimum-values sketch of a key set (Bar-Yossef et al. 2002 /
    the theta-sketch family): the ``k`` smallest md5-60 hashes of the
    DISTINCT keys, as a DataFrame of (h bigint). Two snapshots' url
    sets, two shards' vocabularies — any set whose intersection or
    cardinality you need WITHOUT joining the full sets — get one
    k-row summary each; sketches union by taking the k smallest of
    the concatenation (mergeable, associative).

    Deterministic (hash order, no RNG), so an external SQL verifier
    reproduces the sketch row-for-row.

    Scale shape: one distinct-agg (map-side combine) then a global
    top-k (TakeOrderedAndProject — per-partition heaps, no full sort).
    """
    return (
        df.select(md5_60(F.col(key_col)).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_distinct_estimate(sketch: DataFrame, k: int) -> DataFrame:
    """Distinct-count estimate from a full KMV sketch: (k-1) * 2^60 /
    h_k with h_k the largest retained hash. One row (n_kept,
    est_distinct double); sketches with fewer than k rows saw the whole
    set, so the exact count is returned."""
    agg = sketch.agg(
        F.count("*").alias("n_kept"), F.max("h").alias("_hk")
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(
        (F.lit(float(k - 1)) * F.lit(float(2**60))) / F.col("_hk")
    )
    return agg.select("n_kept", F.round(est, 4).alias("est_distinct"))


def kmv_jaccard(
    a: DataFrame, b: DataFrame, key_col: str, k: int = 64
) -> DataFrame:
    """Jaccard estimate between two key sets from their KMV sketches
    (Beyer et al. 2007): build both sketches, take the union sketch
    (k smallest of the merged hashes), and estimate J as
    |union_sketch ∩ A ∩ B| / |union_sketch|. One row
    (n_union_sketch, n_both, est_jaccard double).

    Scale shape: after the two k-row sketches exist, everything is
    k-row arithmetic — the full sets are never joined. The sketch
    membership joins broadcast (k rows).
    """
    sa = kmv_sketch(a, key_col, k)
    sb = kmv_sketch(b, key_col, k)
    union_sketch = sa.union(sb).distinct().orderBy("h").limit(k)
    both = union_sketch.join(F.broadcast(sa), "h", "left_semi").join(
        F.broadcast(sb), "h", "left_semi"
    )
    nu = union_sketch.agg(F.count("*").alias("n_union_sketch"))
    nb = both.agg(F.count("*").alias("n_both"))
    return nu.join(nb).select(
        "n_union_sketch",
        "n_both",
        F.round(
            F.col("n_both") / F.col("n_union_sketch"), 4
        ).alias("est_jaccard"),
    )


def unimax_allocate(
    df: DataFrame,
    source_col: str,
    token_col: str,
    budget: int,
    epoch_cap: int = 4,
) -> DataFrame:
    """UniMax budget allocation (Chung et al., ICLR 2023): split a total
    token ``budget`` across sources as uniformly as possible, capping
    every source at ``epoch_cap`` passes over its available tokens, and
    redistributing the unused share of capped (small) sources to the
    rest. This is the water-filling allocator UniMax proposes instead of
    temperature sampling: no source is over-repeated past the epoch cap,
    and no tuned temperature is needed.

    Closed form instead of the paper's iterative loop: sort sources by
    capacity c_i = epoch_cap * tokens_i ascending; the capped set is a
    prefix of that order, and j* is the LARGEST j with
    ``c_j * (n - j + 1) <= budget - prefix_{j-1}`` (all shares integer
    arithmetic, so the boundary decision is exact in any engine).
    Sources at or below j* get exactly c_i; the rest each get the
    remaining budget divided evenly — one correctly-rounded BIGINT /
    BIGINT double division, bit-identical across engines.

    Returns one row per source: (source, avail_tokens, capacity,
    allocated double, epochs double = allocated / avail). Scale shape:
    one source-keyed hash-agg over the corpus (map-side partial), then
    ALL remaining work happens on the sources-sized relation (dozens of
    rows) — the single-partition windows on it are free by construction,
    exactly like mixture_sample's offsets relation.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if epoch_cap <= 0:
        raise ValueError(f"epoch_cap must be positive, got {epoch_cap}")
    totals = (
        df.groupBy(F.col(source_col).alias("source"))
        .agg(F.sum(F.col(token_col)).cast("long").alias("avail_tokens"))
        .withColumn("capacity", F.lit(epoch_cap).cast("long") * F.col("avail_tokens"))
    )
    w = Window.orderBy("capacity", "source")
    all_rows = Window.partitionBy()
    ranked = (
        totals.select(
            "source",
            "avail_tokens",
            "capacity",
            F.row_number().over(w).alias("_j"),
            F.coalesce(
                F.sum("capacity").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ).alias("_prefix"),
        )
        .withColumn("_n", F.count("*").over(all_rows))
        # Water-filling cap test, all-integer: source j is capped iff its
        # capacity is no more than an even split of what's left after the
        # smaller sources take theirs.
        .withColumn(
            "_capped",
            F.col("capacity") * (F.col("_n") - F.col("_j") + 1)
            <= F.lit(budget).cast("long") - F.col("_prefix"),
        )
        .withColumn(
            "_jstar",
            F.max(F.when(F.col("_capped"), F.col("_j")).otherwise(F.lit(0))).over(
                all_rows
            ),
        )
        # Capped set is a prefix of the capacity order, so the max of
        # (prefix + capacity) over capped rows is exactly its total.
        .withColumn(
            "_capped_sum",
            F.max(
                F.when(
                    F.col("_capped"), F.col("_prefix") + F.col("capacity")
                ).otherwise(F.lit(0).cast("long"))
            ).over(all_rows),
        )
    )
    share = (
        (F.lit(budget).cast("long") - F.col("_capped_sum")).cast("double")
        / (F.col("_n") - F.col("_jstar")).cast("double")
    )
    return ranked.select(
        "source",
        "avail_tokens",
        "capacity",
        F.when(F.col("_j") <= F.col("_jstar"), F.col("capacity").cast("double"))
        .otherwise(share)
        .alias("allocated"),
    ).withColumn(
        "epochs", F.col("allocated") / F.col("avail_tokens").cast("double")
    )


def unimax_sample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    token_col: str,
    budget: int,
    epoch_cap: int = 4,
) -> DataFrame:
    """Apply a UniMax allocation to documents: every document of a source
    allocated e epochs appears floor(e) times, plus one more with
    probability frac(e) decided by the deterministic md5-60 hash of its
    id (so re-runs repeat identically and the expected token count per
    source equals its allocation). Returns the input columns plus
    ``n_copies`` (int >= 1); rows whose source drew 0 copies are dropped.

    The copy count stays a COLUMN — no explode. Downstream consumers
    either materialize repeats at their own stage (sequence+explode on
    the already-filtered set) or feed n_copies straight into a weighted
    sampler; either way the corpus-sized relation crosses no exchange
    here: one tiny allocation broadcast + a scan-side projection.

    frac(e) * 2^60 is a double scaled by a power of two (exact), and the
    hash is uniform on [0, 2^60), so the keep decision is bit-identical
    in any IEEE-754 engine replaying the same division order.
    """
    alloc = unimax_allocate(df, source_col, token_col, budget, epoch_cap)
    rates = alloc.select(
        F.col("source").alias(source_col),
        F.floor(F.col("epochs")).cast("long").alias("_full"),
        (F.col("epochs") - F.floor(F.col("epochs"))).alias("_frac"),
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .withColumn(
            "n_copies",
            (
                F.col("_full")
                + F.when(
                    md5_60(F.col(id_col)).cast("double")
                    < F.col("_frac") * float(2**60),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).cast("int"),
        )
        .where(F.col("n_copies") > 0)
        .drop("_full", "_frac")
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    weights: Sequence[tuple],
    split_col: str = "split",
    seed: str = "",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Cluster-aware train/val/test assignment: hash the DEDUP COMPONENT,
    not the document id, so a whole near-duplicate neighborhood moves into
    one split as a unit. A plain per-doc hash split leaks evaluation data
    — two near-identical pages (mirror, quote, boilerplate re-crawl) land
    in train and test with probability 2·p·(1-p), and the model is then
    scored on paraphrases of its own training set. Splitting by the
    connected component of the near-dup graph (``pairs``, e.g. MinHash-LSH
    output) makes cross-split leakage structurally impossible for any
    similarity the candidate generator caught.

    Returns df's columns plus ``component``, ``is_canonical`` (from
    :func:`~unified_ocr_pipeline_spark.operators.cc.dedup_clusters`) and
    ``split_col``. Singletons hash their own id (their component label),
    so the split is identical to :func:`split_assign` wherever dedup found
    nothing — the operators compose, not conflict.

    Scale shape: everything beyond ``dedup_clusters`` itself (pairs →
    pointer-jumping components → broadcast-joined labels) is one pure-JVM
    projection — the split hash adds no shuffle, no Python, and re-runs /
    incremental batches assign identically (md5-based, like split_assign).
    """
    from .cc import dedup_clusters

    clustered = dedup_clusters(df, pairs, id_col, src=src, dst=dst)
    return split_assign(clustered, "component", weights, split_col, seed)


def temperature_sample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    token_col: str,
    temperature: float = 2.0,
    seed: str = "ts",
) -> DataFrame:
    """Temperature-scaled source sampling (the multilingual mixing rule of
    mBERT / XLM-R / mT5): re-weight source token shares ``f_i`` to
    ``q_i ∝ f_i^(1/T)`` — T=1 keeps the natural distribution, T→∞ tends
    to uniform — then DOWN-sample each source toward its target share.
    Keep-rates are ``r_i = (q_i / f_i) / max_j(q_j / f_j)``, i.e. scaled
    so the most-upweighted source keeps everything (subsample-only: no
    row duplication, the honest variant for a dedup'd corpus); a row
    survives iff ``md5_60(seed || id) / 2^60 < r_(its source)`` —
    deterministic, re-run-stable, incremental-batch-stable.

    Returns the input columns plus ``keep_rate``. Rates are rounded to 12
    decimals before the comparison so the SQL oracle's ``pow`` (a few ulp
    from the JVM's) can never flip a boundary row.

    Scale shape: pass 1 is a tiny per-source token aggregate (map-side
    partial combine, O(sources) rows); rates come back via one broadcast
    join; the filter is a pure JVM expression on the scan — same posture
    as :func:`mixture_sample_rate`, no per-source sort anywhere.
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    inv_t = 1.0 / float(temperature)
    totals = df.groupBy(source_col).agg(
        F.sum(F.col(token_col).cast("double")).alias("_src_tokens")
    )
    # global total and max over the O(sources) totals relation via a
    # constant-key window: one tiny single-partition WindowExec, no join
    # node (a broadcast one-row crossJoin would read as a nested-loop
    # product to plan guards) and no "No Partition Defined" warning
    w_all = Window.partitionBy(F.lit(0))
    share = F.col("_src_tokens") / F.sum("_src_tokens").over(w_all)
    scaled = totals.select(
        source_col,
        (F.pow(share, F.lit(inv_t)) / share).alias("_boost"),
    )
    rates = scaled.select(
        source_col,
        F.round(
            F.col("_boost") / F.max("_boost").over(w_all), 12
        ).alias("keep_rate"),
    )
    u = md5_60(F.concat(F.lit(seed), F.col(id_col).cast("string"))) / F.lit(
        float(2**60)
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .where(u < F.col("keep_rate"))
    )


def kmv_merge(sketches: "list[DataFrame]", k: int = 64) -> DataFrame:
    """Union KMV sketches: k smallest hashes of the concatenation —
    the mergeability law that makes sketches the right statistics for
    an INCREMENTAL crawl (per-batch sketches roll up to the corpus
    sketch without ever re-reading old batches; same reason Spark's own
    HLL/theta sketches are partial-aggregable). Input sketches are
    k-row relations, so the union + top-k is driver-trivial at any
    corpus size."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.select("h").distinct().orderBy("h").limit(k)
