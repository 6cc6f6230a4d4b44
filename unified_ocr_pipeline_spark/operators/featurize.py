"""Deterministic text → embedding featurization (hashed n-gram projection).

The embedding-side operators (``semantic_dedup``, ``ivf_topk``,
``mine_bitext``, ``pq_encode``) all consume an ``array<double>`` vector
column; real pipelines must MAKE that column from raw text first.  This
module provides the deterministic baseline featurizer: the hashing trick
(Weinberger et al. 2009, "Feature Hashing for Large Scale Multitask
Learning") over character n-grams — each gram is md5-60-hashed, the hash
picks a bucket (``h % dim``) and a sign (``(h / dim) % 2``), bucket sums
are L2-normalized.  No vocabulary, no training pass, no model artifact:
any executor featurizes any batch independently, and re-runs/incremental
batches produce bit-identical vectors (the property the dedup family
needs).  A learned encoder would slot in behind the same (id, emb)
contract; this is the zero-dependency stand-in with real retrieval
behavior (shared grams → shared buckets → high cosine).

Scale shape: ONE narrow Arrow pass (``mapInPandas``), no shuffle, no
driver state; the per-batch gram→(bucket, sign) dict caches the md5 of
each DISTINCT gram (char n-grams repeat massively — English 3-gram
entropy ≈ 8 bits — so the cache turns per-gram hashing into per-distinct
amortized cost).  Output width is ``dim`` doubles/doc, sized by the
caller (16 for fixtures; 256-1024 for a real corpus).

Oracle replay: md5-60 is byte-identical to DuckDB's
``('0x' || substr(md5(g), 1, 15))::BIGINT`` (see
``operators/sampling.md5_60``), bucket sums are integer-valued, and the
normalize is one sqrt + one divide in IEEE double on both sides — the
DuckDB mirror in ``__spark_entry__.oracle_sql('text_embed')`` reproduces
every value exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _gram_bucket_sign(gram: str, dim: int) -> tuple[int, int]:
    """(bucket, sign) for one n-gram: md5-60 of the utf-8 bytes (the
    ONE 60-bit hash convention — ``operators/dedup._md5_60``, mirrored
    JVM-side by ``operators/sampling.md5_60`` and in every DuckDB
    oracle), bucket = h % dim, sign from the next bit above the bucket
    field."""
    from .dedup import _md5_60

    h = _md5_60(gram.encode("utf-8"))
    return h % dim, 1 if (h // dim) % 2 == 0 else -1


def text_embed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 16,
    n: int = 3,
    passthrough_cols: tuple = (),
) -> DataFrame:
    """(id_col, emb array<double>[, *passthrough_cols]): L2-normalized
    hashed char-n-gram embedding per document.

    Grams are ALL consecutive length-``n`` character substrings of the
    raw text (no case folding — Python/JVM/DuckDB lowercasing disagree
    on edge codepoints, and determinism is the contract).  Documents
    with no gram (null/short text) or an all-cancelling bucket sum
    (zero norm) are dropped — a zero vector has no direction and every
    consumer (cosine top-k, IVF cells, SemDeDup) would misbehave on it.

    ``passthrough_cols`` ride the same Arrow pass (copied per surviving
    row), so a consumer that needs labels or metadata next to the
    vector (``lang_lr_train``) gets them WITHOUT an id-keyed join —
    the pass stays one narrow stage, zero exchanges.
    """
    import numpy as np
    import pandas as pd

    if dim <= 0 or n <= 0:
        raise ValueError(f"dim {dim} and n {n} must be positive")
    id_type = df.schema[id_col].dataType.simpleString()
    extra_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}"
        for c in passthrough_cols
    )

    def gen(batches):
        cache: dict[str, tuple[int, int]] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            keep_idx, vecs = [], []
            texts = pdf[text_col]
            for pos, (rid, text) in enumerate(zip(pdf[id_col], texts)):
                if text is None or len(text) < n:
                    continue
                raw = np.zeros(dim, dtype=np.float64)
                for i in range(len(text) - n + 1):
                    g = text[i : i + n]
                    bs = cache.get(g)
                    if bs is None:
                        bs = cache[g] = _gram_bucket_sign(g, dim)
                    raw[bs[0]] += bs[1]
                nrm = float(np.sqrt(np.dot(raw, raw)))
                if nrm == 0.0:
                    continue
                keep_idx.append(pos)
                vecs.append(raw / nrm)
            if keep_idx:
                out = {
                    id_col: pdf[id_col].iloc[keep_idx].to_numpy(),
                    "emb": vecs,
                }
                for c in passthrough_cols:
                    out[c] = pdf[c].iloc[keep_idx].to_numpy()
                yield pd.DataFrame(out)

    cols = [id_col, text_col, *passthrough_cols]
    return df.select(*cols).mapInPandas(
        gen, schema=f"{id_col} {id_type}, emb array<double>{extra_schema}"
    )


# ---------------------------------------------------------------------------
# Trained quality classifier: distributed logistic regression
# ---------------------------------------------------------------------------

# Feature order is part of the contract (the oracle and the NumPy
# differential replay it positionally).
QUALITY_FEATURES = (
    "bias", "len_feat", "stop_feat", "dup_frac",
    "top_cov", "sym_ratio", "mwl_dist",
)


def quality_feature_frame(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(y, len_feat, stop_feat, dup_frac, top_cov, sym_ratio, mwl_dist):
    the quality_lr_score feature vector per document plus the Gopher
    rule-gate as the 0/1 weak label — ONE codegen scan, same rounded
    signals as the gates (so the trained model scores exactly what the
    fixed-weight ``quality_lr_score`` scores)."""
    from pyspark.sql import functions as F

    from ..functions import text as TX

    t = F.col(text_col)
    w = TX.words_of(t)
    n = F.size(w)
    return df.select(
        TX.gopher_keep(t).cast("double").alias("y"),
        F.least(n / F.lit(100.0), F.lit(1.0)).alias("len_feat"),
        F.least(
            TX.stopword_hits(t, "en") * F.lit(5.0) / F.greatest(n, F.lit(1)),
            F.lit(1.0),
        ).alias("stop_feat"),
        TX.dup_word_fraction(t).alias("dup_frac"),
        TX.top_word_coverage(t).alias("top_cov"),
        TX.symbol_word_ratio(t).alias("sym_ratio"),
        F.least(
            F.abs(TX.mean_word_length(t) - F.lit(5.0)), F.lit(5.0)
        ).alias("mwl_dist"),
    )


def quality_lr_train(
    df: DataFrame,
    text_col: str = "text",
    iters: int = 4,
    lr: float = 0.5,
    sample_mod: int | None = None,
    id_col: str = "doc_id",
    auto_threshold: int = 1_000_000,
) -> dict[str, float]:
    """Full-batch gradient-descent logistic regression distilling the
    Gopher rule-gate into a smooth classifier over the quality shape
    features.  Returns ``{feature: weight}`` (driver-side artifact, the
    ``kmeans_train`` pattern) — apply with ``quality_lr_score_trained``.

    Deterministic by construction so a SQL oracle can replay the float
    ops: zero init, FIXED iteration count, and every weight rounded to
    9 decimals after each update — the rounding absorbs summation-order
    differences between Spark's partition-ordered avg and any replayer's,
    so iteration k+1 starts from bit-comparable weights on both sides.

    Scale shape: the feature frame is ONE codegen scan, persisted; each
    iteration is ONE partially-aggregated pass (map-side combine — the
    shuffle carries 7 doubles per task) with a 1-row collect, mirroring
    the bounded per-round driver actions of bpe/cc.  ``iters`` is a
    constant, so total work is O(iters × scan) with no growing state.
    ``sample_mod`` is the 100 TB path: train on the deterministic md5-60
    hash sample of ``id_col`` (the ``lm_train`` discipline — re-runs and
    incremental batches pick identical docs), so the persisted feature
    frame is corpus/``sample_mod`` sized instead of corpus sized; LR
    gradients concentrate fast, so a fixed-rate sample loses nothing a
    full-batch pass would find.

    ``sample_mod=None`` (the default) auto-switches on input size — the
    ``lm_perplexity_gate`` convention, ONE exact-vs-scale rule across
    the codebase: one cheap count of ``id_col`` (parquet count-star
    never materializes the payload columns); at or below
    ``auto_threshold`` rows it trains on everything (the fixture/oracle
    semantics, unchanged), past it the mod is auto-set so roughly
    ``auto_threshold`` documents train — a 100 TB corpus never persists
    a corpus-sized feature frame by default.  ``sample_mod=1`` is the
    explicit train-on-everything override regardless of size.
    """
    from pyspark.sql import functions as F

    from .sampling import md5_60

    if sample_mod is None:
        # Bounded driver action: one count job over id_col only.
        n_rows = df.select(id_col).count()
        sample_mod = (
            1 if n_rows <= auto_threshold
            else -(-n_rows // auto_threshold)  # ceil div
        )
    if sample_mod > 1:
        df = df.where(md5_60(F.col(id_col)) % sample_mod == 0)
    feat = quality_feature_frame(df, text_col).persist()
    try:
        names = QUALITY_FEATURES[1:]
        wts = {f: 0.0 for f in QUALITY_FEATURES}
        for _ in range(iters):
            z = F.lit(wts["bias"])
            for f in names:
                z = z + F.lit(wts[f]) * F.col(f)
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            err = p - F.col("y")
            row = feat.agg(
                F.avg(err).alias("bias"),
                *[F.avg(err * F.col(f)).alias(f) for f in names],
            ).first()
            wts = {
                f: round(wts[f] - lr * row[f], 9) for f in QUALITY_FEATURES
            }
        return wts
    finally:
        feat.unpersist()


def lang_lr_train(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    dim: int = 8,
    n: int = 3,
    iters: int = 2,
    lr: float = 1.0,
    vectorized: bool | None = None,
    vectorized_threshold: int = 2048,
    emb_df: DataFrame | None = None,
) -> dict[str, dict[str, float]]:
    """fastText-style supervised language classifier: multinomial
    (softmax) logistic regression over the hashed char-n-gram embedding,
    trained full-batch by gradient descent.  Returns
    ``{class: {feature: weight}}`` with features ``bias, e0..e{dim-1}``
    — apply with :func:`lang_lr_predict`.  Rows with a NULL label
    (undetected-language docs are common) are dropped before training:
    they define no gradient target, and a None in the class list has no
    sort order.

    Deterministic replay contract (the ``quality_lr_train`` discipline):
    zero init, FIXED iteration count, weights rounded to 9 decimals per
    update, and the softmax denominator summed in sorted-class order on
    both sides — the DuckDB oracle walks the identical float trajectory.

    Scale shape: features are ONE Arrow pass (``text_embed`` with the
    label riding ``passthrough_cols`` — zero exchanges), persisted; each
    iteration is ONE pass computing all ``n_classes × (dim+1)`` gradient
    averages with a 1-row driver action; the class list is a bounded
    distinct-collect (languages, not documents).

    The gradient pass has two shapes behind one contract
    (``vectorized=None`` auto-picks by expression count — the
    exact-vs-scale convention of ``lm_perplexity_gate``):

    - **codegen** (``False``; auto when ``n_classes × (dim+1) <=
      vectorized_threshold``): every gradient average is a named JVM
      ``avg`` expression — whole-stage codegen, map-side combine, and
      the form the DuckDB oracle replays column-for-column.
    - **vectorized** (``True``; auto above the threshold): at dim 1024
      × 100 languages the codegen form would hand Catalyst ~100k
      aggregate expressions — the OPTIMIZER chokes before the executors
      do.  Instead ONE ``mapInPandas`` pass emits a per-partition
      partial ``(cnt, sum-gradient matrix)`` row (NumPy BLAS inside:
      ``(P - Y)ᵀ · X``), and a single built-in aggregate
      (``F.aggregate``/``zip_with`` over ``collect_list``) folds the
      task-count-bounded partials element-wise — still one job, one
      1-row collect, no corpus-sized driver state.  The per-update
      round(9) absorbs the summation-order difference, so both shapes
      land on identical weights (bit-compared in
      ``tests/test_featurize.py``).

    ``emb_df`` is the embed-once seam: a precomputed
    ``(id_col, emb, label_col)`` frame (``text_embed`` with the label
    in ``passthrough_cols``) skips the featurize pass entirely — at
    corpus scale the embedding is a materialized table that training
    AND prediction (:func:`lang_id`) read from, not something each
    consumer recomputes (``dim`` must match its width).
    """
    from pyspark.sql import functions as F

    if emb_df is None:
        emb_df = text_embed(
            df, text_col, id_col, dim=dim, n=n,
            passthrough_cols=(label_col,),
        )
    feat = (
        emb_df
        .select(F.col(label_col).alias("_y"), "emb")
        # NULL labels carry no supervision signal; sorted() over a class
        # list containing None would TypeError (ADVICE r4).
        .where(F.col("_y").isNotNull())
        .persist()
    )
    try:
        classes = sorted(
            r["_y"] for r in feat.select("_y").distinct().collect()
        )
        if not classes:
            raise ValueError("no labeled rows to train on")
        if vectorized is None:
            vectorized = len(classes) * (dim + 1) > vectorized_threshold
        fnames = ["bias"] + [f"e{j}" for j in range(dim)]
        W: dict[str, dict[str, float]] = {
            c: {f: 0.0 for f in fnames} for c in classes
        }
        for _ in range(iters):
            if vectorized:
                g_avg = _softmax_grad_avg_vec(feat, W, classes, dim)
            else:
                g_avg = _softmax_grad_avg_codegen(feat, W, classes, dim)
            for ci, c in enumerate(classes):
                for fi, f in enumerate(fnames):
                    W[c][f] = round(
                        W[c][f] - lr * g_avg[ci][fi], 9
                    )
        return W
    finally:
        feat.unpersist()


def _softmax_grad_avg_codegen(
    feat: DataFrame, W: dict, classes: list, dim: int
) -> list:
    """One partially-aggregated JVM pass: the ``n_classes × (dim+1)``
    gradient averages as named ``avg`` expressions (map-side combine,
    1-row collect).  Returns ``[[bias, e0..], ...]`` in class order.
    The softmax denominator is a sorted-class left fold, mirrored by
    the DuckDB oracle."""
    from pyspark.sql import functions as F

    exps = []
    for c in classes:
        z = F.lit(W[c]["bias"])
        for j in range(dim):
            z = z + F.lit(W[c][f"e{j}"]) * F.element_at("emb", j + 1)
        exps.append(F.exp(z))
    den = exps[0]
    for e in exps[1:]:  # sorted-class left fold, mirrored in SQL
        den = den + e
    aggs = []
    for ci, c in enumerate(classes):
        err = exps[ci] / den - (F.col("_y") == c).cast("double")
        aggs.append(F.avg(err).alias(f"g_{ci}_bias"))
        for j in range(dim):
            aggs.append(
                F.avg(err * F.element_at("emb", j + 1)).alias(f"g_{ci}_e{j}")
            )
    row = feat.agg(*aggs).first()
    return [
        [row[f"g_{ci}_bias"]] + [row[f"g_{ci}_e{j}"] for j in range(dim)]
        for ci in range(len(classes))
    ]


def _softmax_grad_avg_vec(
    feat: DataFrame, W: dict, classes: list, dim: int
) -> list:
    """The wide-model gradient pass: ONE Arrow stage computes a
    per-partition partial ``(cnt, flattened (P-Y)ᵀ·X sum)`` row, then a
    single built-in aggregate folds the (task-count-bounded) partials
    element-wise and the driver divides once.  The aggregate expression
    count is CONSTANT in classes × dim (one array column), so Catalyst
    planning cost no longer scales with model width."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    n_classes = len(classes)
    width = n_classes * (dim + 1)
    # weight matrix in class order, bias first — closure-captured
    # (broadcast-sized: classes × (dim+1) doubles)
    Wm = np.array(
        [[W[c]["bias"]] + [W[c][f"e{j}"] for j in range(dim)]
         for c in classes],
        dtype=np.float64,
    )
    cls_idx = {c: i for i, c in enumerate(classes)}

    def gen(batches):
        G = np.zeros((n_classes, dim + 1), dtype=np.float64)
        cnt = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
            Xa = np.hstack([np.ones((len(X), 1)), X])
            Z = Xa @ Wm.T
            E = np.exp(Z)
            P = E / E.sum(axis=1, keepdims=True)
            Y = np.zeros_like(P)
            Y[np.arange(len(X)), pdf["_y"].map(cls_idx).to_numpy()] = 1.0
            G += (P - Y).T @ Xa
            cnt += len(X)
        if cnt:
            yield pd.DataFrame({"cnt": [cnt], "g": [G.ravel().tolist()]})

    partials = feat.mapInPandas(gen, schema="cnt bigint, g array<double>")
    row = partials.agg(
        F.sum("cnt").alias("n"),
        F.aggregate(
            F.collect_list("g"),
            F.array_repeat(F.lit(0.0), width),
            lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
        ).alias("g"),
    ).first()
    g = np.array(row["g"], dtype=np.float64).reshape(n_classes, dim + 1)
    return (g / float(row["n"])).tolist()


def lang_lr_predict(emb_col, weights: dict[str, dict[str, float]]):
    """argmax-class Column from a ``lang_lr_train`` artifact applied to
    a ``text_embed`` vector column.  Ties break to the LAST class in
    sort order (array_max on (score, class) structs — deterministic).

    The Column is an ``n_classes × (dim+1)``-literal codegen expression
    — the oracle-replayable form, right up to the same width where the
    training aggregate switches shape.  Past that, Catalyst planning
    cost scales with the expression tree: wide models should score via
    :func:`lang_lr_predict_frame` (one Arrow pass, constant plan size),
    which ``lang_id`` auto-routes to."""
    from pyspark.sql import functions as F

    e = F.col(emb_col) if isinstance(emb_col, str) else emb_col
    scored = []
    for c in sorted(weights):
        w = weights[c]
        z = F.lit(w["bias"])
        for j in range(len(w) - 1):
            z = z + F.lit(w[f"e{j}"]) * F.element_at(e, j + 1)
        scored.append(F.struct(z.alias("z"), F.lit(c).alias("cls")))
    return F.array_max(F.array(*scored))["cls"]


def lang_lr_predict_frame(
    emb: DataFrame,
    weights: dict[str, dict[str, float]],
    id_col: str = "doc_id",
    out_col: str = "_p",
) -> DataFrame:
    """(id_col, out_col): the wide-model scorer — ONE ``mapInPandas``
    pass computes all class scores as a NumPy matmul (``X_aug · Wᵀ``)
    and takes the argmax per row, so the PLAN is constant-size at any
    ``n_classes × dim`` (the weights ride the closure, not the
    expression tree).  Tie-break rule matches :func:`lang_lr_predict`:
    the LAST class in sort order among score-ties (argmax over the
    class-reversed score matrix, index flipped back); prediction
    equality across the two paths is pinned in tests, including on an
    all-ties zero-weight artifact."""
    import numpy as np
    import pandas as pd

    classes = sorted(weights)
    dim = len(weights[classes[0]]) - 1
    Wm = np.array(
        [[weights[c]["bias"]] + [weights[c][f"e{j}"] for j in range(dim)]
         for c in classes],
        dtype=np.float64,
    )
    id_type = emb.schema[id_col].dataType.simpleString()
    n_cls = len(classes)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
            Z = np.hstack([np.ones((len(X), 1)), X]) @ Wm.T
            # np.argmax returns the FIRST max; the contract is LAST in
            # sort order — argmax the class-reversed matrix, flip back
            best = n_cls - 1 - np.argmax(Z[:, ::-1], axis=1)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                out_col: [classes[b] for b in best],
            })

    return emb.select(id_col, "emb").mapInPandas(
        gen, schema=f"{id_col} {id_type}, {out_col} string"
    )


def lang_id(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    strategy: str = "heuristic",
    weights: dict[str, dict[str, float]] | None = None,
    dim: int = 8,
    n: int = 3,
    emb_df: DataFrame | None = None,
    vectorized: bool | None = None,
    vectorized_threshold: int = 2048,
) -> DataFrame:
    """(id_col, lang_pred): language identification behind the U3
    strategy-routing seam (``kernels/quality.route_strategy`` pattern —
    one contract, selectable engines):

    - ``strategy='heuristic'`` — the stopword-hits n-gram heuristic
      (``functions/text.lang_guess``): zero training, pure codegen, the
      production default for a first pass.
    - ``strategy='trained'`` — a :func:`lang_lr_train` artifact applied
      via :func:`lang_lr_predict` over the :func:`text_embed` vector:
      one Arrow pass + one codegen argmax column.  Documents the
      featurizer drops (null/short/zero-norm text — no direction to
      classify) come back as ``'und'`` via a left join on ``id_col``,
      so BOTH strategies label every input row.

    The routing is a driver-side constant (strategy is configuration,
    not data), so each path's plan is exactly what it would be
    standalone — no per-row branching cost.  ``emb_df`` (a precomputed
    ``(id_col, emb)`` frame) lets prediction share ONE materialized
    embedding table with :func:`lang_lr_train` instead of re-running
    the featurize pass — the embed-once shape a corpus-scale deployment
    uses.

    The trained scorer has the training aggregate's two shapes behind
    one contract (``vectorized=None`` auto-picks by the SAME
    ``n_classes × (dim+1) > vectorized_threshold`` rule as
    ``lang_lr_train``): the codegen argmax Column below the threshold,
    :func:`lang_lr_predict_frame` (one Arrow pass, constant plan size)
    above it — a 100-language × 1024-dim model never hands Catalyst a
    100k-node expression tree on either the train OR the apply side.
    """
    from pyspark.sql import functions as F

    from ..functions import text as TX

    if strategy == "heuristic":
        return df.select(
            id_col, TX.lang_guess(F.col(text_col)).alias("lang_pred")
        )
    if strategy == "trained":
        if weights is None:
            raise ValueError("strategy='trained' needs a lang_lr_train artifact")
        emb = (
            emb_df if emb_df is not None
            else text_embed(df, text_col, id_col, dim=dim, n=n)
        )
        if vectorized is None:
            wdim = len(weights[next(iter(weights))])
            vectorized = len(weights) * wdim > vectorized_threshold
        if vectorized:
            pred = lang_lr_predict_frame(emb, weights, id_col, "_p")
        else:
            pred = emb.select(
                id_col, lang_lr_predict("emb", weights).alias("_p")
            )
        return (
            df.select(id_col)
            .join(pred, id_col, "left")
            .select(
                id_col, F.coalesce("_p", F.lit("und")).alias("lang_pred")
            )
        )
    raise ValueError(f"unknown lang_id strategy {strategy!r}")


def quality_lr_score_trained(
    text_col, weights: dict[str, float]
):
    """Sigmoid score Column from a ``quality_lr_train`` artifact — same
    featurization, trained weights, round(4) like ``quality_lr_score``."""
    from pyspark.sql import functions as F

    from ..functions import text as TX

    t = text_col if not isinstance(text_col, str) else F.col(text_col)
    w = TX.words_of(t)
    n = F.size(w)
    feats = {
        "len_feat": F.least(n / F.lit(100.0), F.lit(1.0)),
        "stop_feat": F.least(
            TX.stopword_hits(t, "en") * F.lit(5.0) / F.greatest(n, F.lit(1)),
            F.lit(1.0),
        ),
        "dup_frac": TX.dup_word_fraction(t),
        "top_cov": TX.top_word_coverage(t),
        "sym_ratio": TX.symbol_word_ratio(t),
        "mwl_dist": F.least(
            F.abs(TX.mean_word_length(t) - F.lit(5.0)), F.lit(5.0)
        ),
    }
    z = F.lit(weights["bias"])
    for f, c in feats.items():
        z = z + F.lit(weights[f]) * c
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4)
