"""Deterministic hashed n-gram text embedding + end-to-end composition."""

import math

import pytest
from pyspark.sql import functions as F

from unified_ocr_pipeline_spark.operators import featurize as FZ


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_text_embed_unit_norm_and_determinism(spark):
    df = _docs(
        spark,
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "entirely different content about spark pipelines")],
    )
    a = {r["doc_id"]: r["emb"] for r in FZ.text_embed(df, dim=16).collect()}
    b = {r["doc_id"]: r["emb"] for r in FZ.text_embed(df, dim=16).collect()}
    assert a == b  # bit-identical across runs
    for v in a.values():
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-12
        assert len(v) == 16


def test_text_embed_similarity_orders_correctly(spark):
    # shared grams -> shared buckets -> high cosine: a near-duplicate
    # must score far above an unrelated text
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = _docs(
        spark,
        [(1, base), (2, base + " tail"), (3, "zzz qqq xxv completely other")],
    )
    e = {r["doc_id"]: r["emb"] for r in FZ.text_embed(df, dim=64).collect()}
    cos = lambda u, v: sum(a * b for a, b in zip(u, v))
    assert cos(e[1], e[2]) > 0.9
    assert cos(e[1], e[2]) > cos(e[1], e[3]) + 0.3


def test_text_embed_drops_null_short_and_empty(spark):
    df = _docs(spark, [(1, None), (2, "ab"), (3, "abcdef")])
    got = {r["doc_id"] for r in FZ.text_embed(df, dim=8, n=3).collect()}
    assert got == {3}


def test_text_embed_single_arrow_pass_no_shuffle(spark):
    df = _docs(spark, [(1, "hello world")])
    plan = (
        FZ.text_embed(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # one narrow mapInPandas stage


def test_text_embed_matches_hand_projection(spark):
    # replay the projection for one tiny doc by hand
    import hashlib

    import numpy as np

    text, dim, n = "abcd", 8, 3
    raw = np.zeros(dim)
    for i in range(len(text) - n + 1):
        g = text[i : i + n]
        h = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
        raw[h % dim] += 1 if (h // dim) % 2 == 0 else -1
    want = list(raw / np.sqrt((raw * raw).sum()))
    df = _docs(spark, [(1, text)])
    got = FZ.text_embed(df, dim=dim, n=n).first()["emb"]
    assert got == want


def test_semantic_dedup_end_to_end_from_raw_text(spark):
    # THE composition the featurizer exists for: raw documents ->
    # text_embed -> kmeans centroids -> semantic_dedup finds the
    # planted near-duplicate pair and nothing else
    from unified_ocr_pipeline_spark.operators import ivf as IVF

    base = (
        "breaking news the central bank raised interest rates today "
        "markets reacted sharply to the announcement"
    )
    rows = [(1, base), (2, base + " more")] + [
        (i, f"document {i} about {'sports' if i % 2 else 'cooking'} "
            f"topic number {i}")
        for i in range(3, 23)
    ]
    emb = FZ.text_embed(_docs(spark, rows), dim=64).cache()
    cents = IVF.kmeans_train(emb, "emb", n_cells=4, iters=3, sample_rows=64)
    out = IVF.semantic_dedup(emb, "doc_id", "emb", cents, threshold=0.9)
    comps = {r["id"]: r["component"] for r in out.collect()}
    # the planted near-dup pair is found, in a component of its own
    assert 1 in comps and comps[1] == comps[2]
    assert {k for k, v in comps.items() if v == comps[1]} == {1, 2}
    # the templated fillers may pair among themselves, but never across
    # the sports/cooking topic split
    for k, v in comps.items():
        if k > 2:
            assert all(k2 % 2 == k % 2 for k2, v2 in comps.items()
                       if k2 > 2 and v2 == v)


# ---------------------------------------------------------------------------
# Hypothesis properties (pure-Python kernel level — no Spark session per
# example, same discipline as test_ingest_fuzz)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=300), st.integers(min_value=1, max_value=64))
def test_gram_bucket_sign_total_and_deterministic(text, dim):
    # the kernel the Arrow pass applies per distinct gram: defined for
    # ANY unicode gram, bucket in range, sign in {-1, 1}, and stable
    import unified_ocr_pipeline_spark.operators.featurize as FZ

    for i in range(max(0, len(text) - 2)):
        g = text[i : i + 3]
        b, s = FZ._gram_bucket_sign(g, dim)
        assert 0 <= b < dim and s in (-1, 1)
        assert (b, s) == FZ._gram_bucket_sign(g, dim)


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 -", max_size=80))
def test_iban_regex_never_partial_matches_inside_runs(s):
    # every extracted candidate is a maximal [A-Z0-9] run of the IBAN
    # shape — word boundaries guarantee no mid-run partial matches
    import re

    from unified_ocr_pipeline_spark.functions.pii import IBAN_REGEX

    java_equiv = IBAN_REGEX  # \b, classes, braces: same in Python re
    for m in re.finditer(java_equiv, s):
        lo, hi = m.span()
        assert lo == 0 or not s[lo - 1].isalnum()
        assert hi == len(s) or not s[hi].isalnum()
        body = m.group(0)
        assert 15 <= len(body) <= 34
        assert body[:2].isalpha() and body[2:4].isdigit()


# ---------------------------------------------------------------------------
# Trained multiclass language classifier
# ---------------------------------------------------------------------------

def _lang_corpus(spark):
    # three synthetic "languages" with disjoint character distributions
    # — separable by char-3-gram features by construction
    rows = []
    for i in range(60):
        if i % 3 == 0:
            rows.append((i, "aaa bbb aab aba bab abba baab " * 3, "aa"))
        elif i % 3 == 1:
            rows.append((i, "xxy yyx xyx yxy xxyy yxxy xyyx " * 3, "xx"))
        else:
            rows.append((i, "momo nono mono nomo mnmn onon " * 3, "mm"))
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_lang_lr_train_separates_planted_languages(spark):
    df = _lang_corpus(spark)
    W = FZ.lang_lr_train(df, dim=16, iters=8, lr=2.0)
    assert set(W) == {"aa", "xx", "mm"}
    emb = FZ.text_embed(df, dim=16)
    pred = emb.join(df.select("doc_id", "lang"), "doc_id").select(
        "lang", FZ.lang_lr_predict("emb", W).alias("pred")
    )
    acc = pred.where(F.col("pred") == F.col("lang")).count() / pred.count()
    assert acc == 1.0  # fully separable -> fully separated


def test_lang_lr_train_deterministic_across_runs(spark):
    df = _lang_corpus(spark)
    a = FZ.lang_lr_train(df, dim=8, iters=2)
    b = FZ.lang_lr_train(df, dim=8, iters=2)
    assert a == b
    # softmax gradients sum to ~0 across classes at every feature
    # (property of the multinomial gradient with all-classes update)
    for f in a["aa"]:
        s = sum(a[c][f] for c in a)
        assert abs(s) < 1e-6, (f, s)


def test_lang_lr_predict_tie_break_deterministic(spark):
    # zero weights -> all scores equal -> tie breaks to LAST class in
    # sort order, every row, deterministically
    df = _lang_corpus(spark)
    W = {c: {"bias": 0.0, **{f"e{j}": 0.0 for j in range(8)}}
         for c in ("aa", "mm", "xx")}
    emb = FZ.text_embed(df, dim=8)
    preds = {r["p"] for r in emb.select(
        FZ.lang_lr_predict("emb", W).alias("p")).collect()}
    assert preds == {"xx"}


def test_lang_lr_train_drops_null_labels(spark):
    # undetected-language docs arrive with lang=NULL; they must not
    # poison the class list (sorted() over [None, 'aa', ...] raises)
    # nor contribute gradient
    df = _lang_corpus(spark)
    with_nulls = df.unionByName(
        spark.createDataFrame(
            [(1000, "qqq www eee rrr ttt yyy " * 3, None)],
            "doc_id long, text string, lang string",
        )
    )
    W = FZ.lang_lr_train(with_nulls, dim=8, iters=2)
    assert set(W) == {"aa", "xx", "mm"}
    assert W == FZ.lang_lr_train(df, dim=8, iters=2)  # null row inert
    # no labeled row at all: a clear error, on the codegen route too
    all_null = df.withColumn("lang", F.lit(None).cast("string"))
    with pytest.raises(ValueError, match="no labeled rows"):
        FZ.lang_lr_train(all_null, dim=8, iters=2, vectorized=False)


def test_lang_lr_train_vectorized_bitcompares_with_codegen(spark):
    # the two gradient-pass shapes are ONE contract: identical weights
    # (bit-compare, after the shared per-update round(9)) on the fixture
    df = _lang_corpus(spark)
    a = FZ.lang_lr_train(df, dim=8, iters=3, vectorized=False)
    b = FZ.lang_lr_train(df, dim=8, iters=3, vectorized=True)
    assert a == b


def test_lang_lr_train_auto_routes_by_expression_count(spark):
    # None auto-picks: small model -> codegen path, wide model ->
    # vectorized; both must equal their forced-path twin
    df = _lang_corpus(spark)
    # 3 classes x (8+1) = 27 expressions <= 2048 -> codegen
    auto_small = FZ.lang_lr_train(df, dim=8, iters=2)
    assert auto_small == FZ.lang_lr_train(df, dim=8, iters=2, vectorized=False)
    # force the threshold tiny -> the SAME model routes vectorized
    auto_wide = FZ.lang_lr_train(df, dim=8, iters=2, vectorized_threshold=1)
    assert auto_wide == FZ.lang_lr_train(df, dim=8, iters=2, vectorized=True)
    assert auto_small == auto_wide  # and the contract holds across paths


def test_lang_lr_train_wide_model_smoke(spark):
    # dim=256 x 20 classes = 5140 gradient cells: the named-column form
    # would hand Catalyst 5140 aggregate expressions; the auto default
    # must route vectorized and train in one piece
    import random

    rng = random.Random(7)
    alphabets = [
        "".join(chr(ord("a") + (k + s) % 26) for k in range(6))
        for s in range(20)
    ]
    rows = []
    for i in range(200):
        cls = i % 20
        a = alphabets[cls]
        words = " ".join(
            a[rng.randrange(6)] + a[rng.randrange(6)] + a[rng.randrange(6)]
            for _ in range(30)
        )
        rows.append((i, words, f"L{cls:02d}"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    W = FZ.lang_lr_train(df, dim=256, iters=2, lr=2.0)
    assert len(W) == 20 and all(len(w) == 257 for w in W.values())
    emb = FZ.text_embed(df, dim=256)
    pred = emb.join(df.select("doc_id", "lang"), "doc_id").select(
        "lang", FZ.lang_lr_predict("emb", W).alias("pred")
    )
    acc = pred.where(F.col("pred") == F.col("lang")).count() / pred.count()
    assert acc > 0.9  # disjoint alphabets separate easily


def test_lang_id_strategy_routing(spark):
    # ONE contract, selectable engines (the U3 seam): both strategies
    # label every input row; trained recovers the planted separation,
    # heuristic falls back to stopword evidence; unknown strategy raises
    df = _lang_corpus(spark)
    W = FZ.lang_lr_train(df, dim=16, iters=8, lr=2.0)
    trained = FZ.lang_id(df, strategy="trained", weights=W, dim=16)
    assert trained.count() == df.count()
    joined = trained.join(df.select("doc_id", "lang"), "doc_id")
    acc = (
        joined.where(F.col("lang_pred") == F.col("lang")).count()
        / joined.count()
    )
    assert acc == 1.0
    heur = FZ.lang_id(df, strategy="heuristic")
    assert heur.count() == df.count()
    assert {r["lang_pred"] for r in heur.collect()} == {"und"}  # no stopwords
    with pytest.raises(ValueError, match="strategy"):
        FZ.lang_id(df, strategy="nope")
    with pytest.raises(ValueError, match="artifact"):
        FZ.lang_id(df, strategy="trained")  # weights required


def test_lang_id_trained_labels_dropped_docs_und(spark):
    # featurizer-dropped rows (null/short text) must come back 'und',
    # not vanish — both strategies label EVERY row
    df = _lang_corpus(spark).unionByName(
        _docs(spark, [(900, None), (901, "ab")]).withColumn(
            "lang", F.lit("aa")
        ).select("doc_id", "text", "lang")
    )
    W = FZ.lang_lr_train(df, dim=8, iters=2)
    out = {r["doc_id"]: r["lang_pred"]
           for r in FZ.lang_id(df, strategy="trained", weights=W).collect()}
    assert out[900] == "und" and out[901] == "und"
    assert len(out) == 62


def test_lang_lr_train_and_predict_share_one_embedding_frame(spark):
    # the embed-once seam: a single text_embed pass (with the label as a
    # passthrough column) feeds BOTH training and prediction, and the
    # results are identical to the recompute-per-consumer path
    df = _lang_corpus(spark)
    emb = FZ.text_embed(
        df, dim=16, passthrough_cols=("lang",)
    ).persist()
    W_shared = FZ.lang_lr_train(df, dim=16, iters=4, emb_df=emb)
    W_solo = FZ.lang_lr_train(df, dim=16, iters=4)
    assert W_shared == W_solo
    p_shared = {
        r["doc_id"]: r["lang_pred"]
        for r in FZ.lang_id(
            df, strategy="trained", weights=W_shared, dim=16,
            emb_df=emb.select("doc_id", "emb"),
        ).collect()
    }
    p_solo = {
        r["doc_id"]: r["lang_pred"]
        for r in FZ.lang_id(
            df, strategy="trained", weights=W_solo, dim=16
        ).collect()
    }
    assert p_shared == p_solo
    emb.unpersist()


def test_lang_lr_train_paths_agree_on_random_corpora(spark):
    # deterministic randomized hardening of the bit-compare claim: both
    # gradient-pass shapes land on identical round-9 trajectories across
    # varied corpus shapes (class skew, doc-length spread, multi-lingual
    # gram overlap), dims, and iteration counts
    import random

    for seed, dim, iters, n_cls in ((11, 4, 3, 2), (12, 8, 2, 4),
                                    (13, 16, 2, 3)):
        rng = random.Random(seed)
        rows = []
        for i in range(80):
            cls = rng.randrange(n_cls)
            alpha = "abcdefgh"[cls:cls + 4] + "xyz"
            text = " ".join(
                "".join(rng.choice(alpha) for _ in range(rng.randrange(2, 6)))
                for _ in range(rng.randrange(3, 25))
            )
            rows.append((i, text, f"c{cls}"))
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        a = FZ.lang_lr_train(df, dim=dim, iters=iters, vectorized=False)
        b = FZ.lang_lr_train(df, dim=dim, iters=iters, vectorized=True)
        assert a == b, (seed, dim, iters)


def test_lang_lr_predict_frame_matches_codegen_predictions(spark):
    # both scorer shapes, one contract: identical predictions on the
    # planted corpus AND on an all-ties zero-weight artifact (tie rule:
    # LAST class in sort order)
    df = _lang_corpus(spark)
    W = FZ.lang_lr_train(df, dim=16, iters=8, lr=2.0)
    emb = FZ.text_embed(df, dim=16).persist()
    code = {r["doc_id"]: r["_p"] for r in emb.select(
        "doc_id", FZ.lang_lr_predict("emb", W).alias("_p")).collect()}
    vec = {r["doc_id"]: r["_p"]
           for r in FZ.lang_lr_predict_frame(emb, W).collect()}
    assert code == vec and len(code) == 60
    W0 = {c: {"bias": 0.0, **{f"e{j}": 0.0 for j in range(16)}}
          for c in ("aa", "mm", "xx")}
    vec0 = {r["_p"] for r in FZ.lang_lr_predict_frame(emb, W0).collect()}
    assert vec0 == {"xx"}  # all-ties -> LAST class, same as codegen
    emb.unpersist()


def test_lang_id_trained_auto_routes_predict_by_width(spark):
    # the SAME auto rule as training: a tiny threshold forces the
    # Arrow-pass scorer; predictions must equal the codegen route
    df = _lang_corpus(spark)
    W = FZ.lang_lr_train(df, dim=16, iters=8, lr=2.0)
    a = {r["doc_id"]: r["lang_pred"] for r in FZ.lang_id(
        df, strategy="trained", weights=W, dim=16,
        vectorized=False).collect()}
    b = {r["doc_id"]: r["lang_pred"] for r in FZ.lang_id(
        df, strategy="trained", weights=W, dim=16,
        vectorized_threshold=1).collect()}
    assert a == b and len(a) == 60
