"""Text-analysis Column builders: token counting, language-ID heuristic,
quality scoring, fingerprinting.

All pure `pyspark.sql.functions` compositions — they stay inside whole-stage
codegen (no Python on the hot path) and each has an exact ANSI-SQL mirror in
``__spark_entry__.oracle_sql`` so DuckDB can verify them.

These are the "training-data pipeline" text ops the engine adds beyond the
reference's operator set (round brief requirement); reference analogs where
they exist: token/length stats ~ A1-A3 aggregates
(unified_ocr_pipeline.py:238-239), quality grading ~ F21 OCR-quality CASE
(:797-821), fingerprinting ~ the duplicate-detection identity (:249-271).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword sets for the n-gram/stopword-ratio heuristic.
# Deliberately small and frozen: the SQL oracle embeds the same lists.
STOPWORDS = {
    "en": ["the", "a", "an", "of", "to", "in", "and", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans"],
}

# BPE-ish tokenizer: letter runs, digit runs, or single non-space symbols.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def ws_trim(text: Column) -> Column:
    """Strip leading/trailing WHITESPACE (\\s), not just spaces — F.trim
    removes only ' ', so '\\tword' would split into a phantom empty first
    token and every downstream count/ratio would be off by one."""
    return F.regexp_replace(text, r"^\s+|\s+$", "")


def ws_token_count(text: Column) -> Column:
    """Whitespace token count (empty/whitespace-only string → 0)."""
    t = ws_trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def bpe_token_count(text: Column) -> Column:
    """Token count under the BPE-ish regex."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), F.lit(0)))


def stopword_hits(text: Column, lang: str) -> Column:
    words = "|".join(STOPWORDS[lang])
    return F.size(
        F.regexp_extract_all(F.lower(text), F.lit(rf"\b({words})\b"), F.lit(0))
    )


def lang_guess_from_hits(en: Column, de: Column, fr: Column) -> Column:
    """Decision rule over precomputed stopword hit counts."""
    return (
        F.when((en >= de) & (en >= fr) & (en > 0), F.lit("en"))
        .when((de >= fr) & (de > 0), F.lit("de"))
        .when(fr > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )


def lang_guess(text: Column) -> Column:
    """Language-ID heuristic: the language whose stopword list hits most,
    'und' (undetermined) when nothing hits.

    NOTE for hot paths: a `when`-chain re-evaluates its branch inputs (no
    CSE across branches — each regexp runs up to 3×/row). Project the three
    ``stopword_hits`` counts into columns first and use
    ``lang_guess_from_hits`` — 3 regex passes per row instead of 8.
    """
    en, de, fr = (stopword_hits(text, l) for l in ("en", "de", "fr"))
    return lang_guess_from_hits(en, de, fr)


def punct_ratio(text: Column) -> Column:
    punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), F.lit(0)))
    return punct / F.greatest(F.length(text), F.lit(1))


def quality_score(text: Column) -> Column:
    """Document quality in [0,1]: length signal × (1 - punctuation noise) ×
    stopword-coverage signal. Mirrors the reference's multi-signal quality
    grading (F21) in a deterministic, SQL-expressible form."""
    n_tok = ws_token_count(text)
    len_signal = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    noise = punct_ratio(text)
    stop_cov = F.least(
        stopword_hits(text, "en") / F.greatest(n_tok, F.lit(1)) * 5.0, F.lit(1.0)
    )
    return F.round(len_signal * (1.0 - noise) * (0.5 + 0.5 * stop_cov), 4)


# ---------------------------------------------------------------------------
# Gopher-style repetition / shape signals (training-data filtering)
# ---------------------------------------------------------------------------
# Standard web-text quality heuristics from published LLM-corpus pipelines
# (Gopher / MassiveText-style rules): repetition and shape statistics that
# gate documents before training. All JVM Column expressions; the
# per-distinct-word counting is an O(distinct × n) array lambda, fine for
# page-sized docs — at corpus scale the same statistic comes from the
# explode + groupBy formulation (one shuffle) instead.


def words_of(text: Column) -> Column:
    t = ws_trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def dup_word_fraction(text: Column) -> Column:
    """1 - distinct_words / total_words: repetitiveness at the unigram
    level (0 when empty)."""
    w = words_of(text)
    n = F.size(w)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(1.0 - F.size(F.array_distinct(w)) / n.cast("double"), 4)
    )


def top_word_coverage(text: Column) -> Column:
    """Fraction of the document consumed by its single most frequent word
    (Gopher gates docs where one token dominates).

    Computed as the longest equal-run of the SORTED token array via one
    ``aggregate`` fold — O(n log n) and capture-free. The previous
    ``transform(distinct, d -> size(filter(w, x == d)))`` was O(distinct ×
    n) AND re-evaluated the captured split per element (no CSE inside
    higher-order functions)."""
    w = words_of(text)
    n = F.size(w)
    s = F.array_sort(w)
    shifted = F.concat(F.array(F.lit(None).cast("string")), s)
    pairs = F.zip_with(
        s, shifted, lambda x, p: F.struct(x.alias("x"), p.alias("p"))
    )

    def merge(acc, e):
        cur = (
            F.when(e["x"].isNull(), acc["cur"])  # zip-padding tail entry
            .when(e["p"].isNotNull() & (e["p"] == e["x"]), acc["cur"] + 1)
            .otherwise(F.lit(1))
        )
        return F.struct(
            cur.alias("cur"), F.greatest(acc["best"], cur).alias("best")
        )

    best = F.aggregate(
        pairs,
        F.struct(F.lit(0).alias("cur"), F.lit(0).alias("best")),
        merge,
        lambda acc: acc["best"],
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(best / n.cast("double"), 4)
    )


def mean_word_length(text: Column) -> Column:
    w = words_of(text)
    n = F.size(w)
    total = F.aggregate(
        F.transform(w, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(total / n.cast("double"), 4)
    )


def symbol_word_ratio(text: Column) -> Column:
    """Non-alphanumeric symbols per word (high → markup/boilerplate junk)."""
    syms = F.size(F.regexp_extract_all(text, F.lit(r"[^A-Za-z0-9\s]"), F.lit(0)))
    n = F.size(words_of(text))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(syms / n.cast("double"), 4)
    )


def gopher_keep_of(dup_frac: Column, top_cov: Column, mean_wlen: Column,
                   sym_ratio: Column, max_dup_frac: float = 0.3,
                   max_top_cov: float = 0.2, min_mwl: float = 2.0,
                   max_mwl: float = 12.0,
                   max_sym_ratio: float = 0.3) -> Column:
    """The composite keep/drop gate over ALREADY-COMPUTED shape signals.
    When a query projects the four signals anyway, gate on the projected
    columns: Catalyst does not CSE the signal expressions between the
    standalone projection and a second copy inside the gate, so
    re-deriving them from text doubles the work (top_word_coverage's
    sort+fold dominates)."""
    return (
        (dup_frac <= max_dup_frac)
        & (top_cov <= max_top_cov)
        & mean_wlen.between(min_mwl, max_mwl)
        & (sym_ratio <= max_sym_ratio)
    )


def gopher_keep(text: Column, max_dup_frac: float = 0.3,
                max_top_cov: float = 0.2, min_mwl: float = 2.0,
                max_mwl: float = 12.0, max_sym_ratio: float = 0.3) -> Column:
    """The composite keep/drop gate over the shape signals."""
    return gopher_keep_of(
        dup_word_fraction(text), top_word_coverage(text),
        mean_word_length(text), symbol_word_ratio(text),
        max_dup_frac, max_top_cov, min_mwl, max_mwl, max_sym_ratio,
    )


def _segments_of(text: Column, sep_regex: str) -> Column:
    """Trimmed, non-empty segments of ``text`` split on ``sep_regex``."""
    parts = F.split(text, sep_regex)
    trimmed = F.transform(parts, lambda x: F.trim(x))
    return F.filter(trimmed, lambda x: x != F.lit(""))


def _dup_segment_fraction(segs: Column) -> Column:
    n = F.size(segs)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(1.0 - F.size(F.array_distinct(segs)) / n.cast("double"), 4)
    )


def dup_line_fraction(text: Column) -> Column:
    """Gopher's duplicate-line gate: 1 − distinct_lines / total_lines
    over trimmed non-empty lines (0 when no lines).  Boilerplate-heavy
    pages (nav bars, cookie banners repeated per section) score high
    where the word-level signal stays quiet."""
    return _dup_segment_fraction(_segments_of(text, r"\n"))


def dup_para_fraction(text: Column) -> Column:
    """Duplicate-paragraph fraction (paragraphs = blank-line-separated
    blocks), the coarser sibling of :func:`dup_line_fraction` from the
    same Gopher repetition family."""
    return _dup_segment_fraction(_segments_of(text, r"\n{2,}"))


def quality_lr_score(text: Column) -> Column:
    """Logistic quality-classifier score in [0, 1] over the shape
    signals — the fastText/LR "looks like a reference corpus" filter of
    CCNet/LLaMA-style curation, as a pure JVM Column expression.

    The weights are fixed, documented stand-ins for an offline-trained
    model (the sandbox has no trained classifier to load); the operator
    contract — featurize with the SAME rounded signals as the Gopher
    gates, dot with a weight vector, sigmoid, round — is what transfers.
    Hand-tuned direction: length and stopword density are positive
    evidence of running prose; repetition, single-token dominance and
    symbol noise are negative; mean word length is penalized by its
    distance from ~5 chars (English prose mode).

    Whole-stage-codegen friendly: no UDF, no shuffle, one projection.
    """
    w = words_of(text)
    n = F.size(w)
    len_feat = F.least(n / F.lit(100.0), F.lit(1.0))
    stop_feat = F.least(
        stopword_hits(text, "en") * F.lit(5.0) / F.greatest(n, F.lit(1)),
        F.lit(1.0),
    )
    z = (
        F.lit(1.0)
        + F.lit(0.8) * len_feat
        + F.lit(1.2) * stop_feat
        - F.lit(3.0) * dup_word_fraction(text)
        - F.lit(2.0) * top_word_coverage(text)
        - F.lit(2.5) * symbol_word_ratio(text)
        - F.lit(0.08) * F.least(F.abs(mean_word_length(text) - F.lit(5.0)), F.lit(5.0))
    )
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4)


def collapse_token_runs(text: Column) -> Column:
    """Remove CONSECUTIVE repeated tokens ("batch batch batch" → "batch") —
    the classic crawl-text repetition scrub. Pure array expressions, no
    explode, no shuffle, no Python: a token survives iff its predecessor
    (the same array shifted right by one) differs.

    Formulation note: zip_with against the shifted copy, NOT a lambda
    doing ``element_at(w, i)`` — a lambda that captures the outer split
    expression re-evaluates it PER ELEMENT (Catalyst inlines the subtree;
    no CSE inside higher-order functions), which made this O(tokens ×
    split-cost) per row — measured 7.4 s → sub-second at sf0.1. zip_with
    receives both arrays as evaluated-once arguments.
    """
    w = words_of(text)
    shifted = F.concat(F.array(F.lit(None).cast("string")), w)
    # zip_with pads the shorter side (w) with null at the end; that pair
    # has x null and is dropped by the isNotNull guard
    pairs = F.zip_with(
        w, shifted, lambda x, p: F.struct(x.alias("w"), p.alias("p"))
    )
    kept = F.filter(
        pairs,
        lambda s: s["w"].isNotNull() & (s["p"].isNull() | (s["p"] != s["w"])),
    )
    return F.array_join(F.transform(kept, lambda s: s["w"]), " ")


def distinct_token_text(text: Column) -> Column:
    """First-occurrence-order distinct tokens, rejoined. Spark's
    ``array_distinct`` documents first-occurrence order; the DuckDB oracle
    reproduces it with a list_position == ordinal filter (list_distinct
    does NOT guarantee order there)."""
    return F.array_join(F.array_distinct(words_of(text)), " ")


def fingerprint(text: Column) -> Column:
    """Deterministic content fingerprint over whitespace-normalized,
    lower-cased text (md5 — same function exists in DuckDB)."""
    norm = F.regexp_replace(F.lower(ws_trim(text)), r"\s+", " ")
    return F.md5(norm)


# ---------------------------------------------------------------------------
# Soft-404 / error-page detection + sentence segmentation stats
# ---------------------------------------------------------------------------

# Frozen phrase list (the SQL oracle embeds the same list): the classic
# soft-404 markers — pages that return HTTP 200 but render an error body.
SOFT404_PHRASES = [
    "page not found",
    "404 error",
    "error 404",
    "file not found",
    "no longer available",
    "does not exist",
    "page cannot be found",
    "page you requested",
]


def soft404_hits(text: Column) -> Column:
    """How many distinct soft-404 marker phrases the text contains
    (case-insensitive substring; counts phrases, not occurrences)."""
    lo = F.lower(text)
    return sum(
        (F.contains(lo, F.lit(p)).cast("int") for p in SOFT404_PHRASES),
        F.lit(0),
    )


def soft404_of(hits: Column, n_tokens: Column, max_tokens: int = 120) -> Column:
    """Soft-404 verdict from ALREADY-PROJECTED signal columns — callers
    that also project ``soft404_hits`` should gate on that column via
    this helper instead of calling :func:`is_soft404` beside it:
    Catalyst does not CSE the duplicated phrase-scan subtrees between
    two projected columns, so the side-by-side form scans the body
    twice (same rationale as ``gopher_keep_of``)."""
    return ((hits >= 1) & (n_tokens <= max_tokens)) | (hits >= 2)


def is_soft404(text: Column, max_tokens: int = 120) -> Column:
    """Soft-404 verdict: any marker phrase on a SHORT page (error bodies
    are near-empty), or 2+ distinct phrases regardless of length (long
    templated error pages). Real crawls filter these before dedup so an
    identical error body served by thousands of urls never floods the
    near-dup buckets."""
    return soft404_of(soft404_hits(text), ws_token_count(text), max_tokens)


# Sentence terminator runs followed by whitespace or end-of-text. No
# lookbehind — RE2 (DuckDB oracle) doesn't support it; Java and RE2 agree
# on this pattern.
SENTENCE_REGEX = r"[.!?]+(\s+|$)"


def sentence_count(text: Column) -> Column:
    """Number of sentence-terminator boundaries in the text."""
    return F.size(F.regexp_extract_all(text, F.lit(SENTENCE_REGEX), F.lit(0)))


def ends_with_terminal(text: Column) -> Column:
    """Gopher-style gate input: does the (ws-trimmed) text end with
    terminal punctuation? Boilerplate fragments usually don't."""
    return ws_trim(text).rlike(r"[.!?]$")


def sentence_stats(text: Column) -> list[Column]:
    """(n_sentences, n_tokens, avg_sentence_tokens, terminal_end) —
    avg is tokens per sentence, NULL when the text has no sentences."""
    ns = sentence_count(text)
    nt = ws_token_count(text)
    return [
        ns.alias("n_sentences"),
        nt.alias("n_tokens"),
        F.when(ns > 0, nt.cast("double") / ns).alias("avg_sentence_tokens"),
        ends_with_terminal(text).alias("terminal_end"),
    ]


# ---------------------------------------------------------------------------
# C4-style line cleaning (Raffel et al. 2020, §2.2)
# ---------------------------------------------------------------------------

C4_MIN_LINE_WORDS = 5


def _c4_line_keep(line: Column) -> Column:
    """The C4 per-line rules: ≥5 words, ends with terminal punctuation
    (period/!/?/closing quote), no 'javascript', no 'lorem ipsum', no
    curly brace (code/templating leak)."""
    t = ws_trim(line)
    lo = F.lower(t)
    return (
        (ws_token_count(line) >= C4_MIN_LINE_WORDS)
        & t.rlike("[.!?\"']$")
        & ~F.contains(lo, F.lit("javascript"))
        & ~F.contains(lo, F.lit("lorem ipsum"))
        & ~F.contains(t, F.lit("{"))
    )


def c4_clean(text: Column) -> Column:
    """C4 line filter: keep only lines passing the per-line rules,
    rejoined with '\\n'. Pure array lambda expressions — no explode, no
    shuffle, whole-stage codegen."""
    lines = F.split(text, r"\n")
    kept = F.filter(lines, _c4_line_keep)
    return F.array_join(kept, "\n")


def c4_line_counts(text: Column) -> list[Column]:
    """(n_lines, n_kept_lines) diagnostics for the C4 filter."""
    lines = F.split(text, r"\n")
    return [
        F.size(lines).alias("n_lines"),
        F.size(F.filter(lines, _c4_line_keep)).alias("n_kept_lines"),
    ]


# --- URL + wordlist blocking (RefinedWeb/FineWeb-style "URL filtering") ---
# The first stage of the standard CC curation recipe blocks documents by
# (a) domain blocklist (done elsewhere: domain_stats' broadcast anti-join),
# (b) url substring categories, (c) banned-token density in the text.
# Tiny frozen lists stand in for the production UT1 categories — the seam
# and the plan shape (pure JVM exprs, no shuffle) are what carry to 100 TB,
# where the real lists broadcast exactly the same way.

BLOCK_URL_SUBSTRINGS = ("/casino/", "/adult/", "bet-now", "xxx")
BLOCK_TOKENS = ("casino", "jackpot", "viagra", "xxx", "porn")


def block_signals(
    url: Column,
    text: Column,
    max_token_ratio: float = 0.02,
) -> list[Column]:
    """URL/wordlist blocking signals: ``(url_block boolean, n_block_tokens
    int, block_token_ratio double, is_blocked boolean)``.

    ``url_block`` fires on any frozen substring in the lower-cased url;
    token hits are counted against the lower-cased whitespace tokens
    (exact matches — substring matching on tokens is the classic
    "Scunthorpe" false-positive trap); a document is blocked by url hit
    OR token density above ``max_token_ratio`` with at least 2 hits.

    NULL url / NULL text contribute NO block signal (coalesced to
    false/0 before the verdict): without the coalesce, a NULL url makes
    ``is_blocked`` NULL and the canonical keep-side filter
    ``where(~is_blocked)`` silently drops the clean document.
    """
    u = F.lower(url)
    url_block = None
    for s in BLOCK_URL_SUBSTRINGS:
        c = u.contains(s)
        url_block = c if url_block is None else (url_block | c)
    url_block = F.coalesce(url_block, F.lit(False))
    w = words_of(F.lower(F.coalesce(text, F.lit(""))))
    blocked = F.array(*[F.lit(b) for b in BLOCK_TOKENS])
    hits = F.size(F.filter(w, lambda t: F.array_contains(blocked, t)))
    n = F.size(w)
    ratio = F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(hits / n.cast("double"), 6)
    )
    return [
        url_block.alias("url_block"),
        hits.cast("int").alias("n_block_tokens"),
        ratio.alias("block_token_ratio"),
        (
            url_block
            | ((hits >= 2) & (ratio > F.lit(float(max_token_ratio))))
        ).alias("is_blocked"),
    ]


# Writing-system detection: explicit BMP codepoint ranges (not \p{script=}
# classes — those spell differently in Java vs RE2, and the SQL oracle
# must count with the IDENTICAL ranges). Names sorted ascending = the
# deterministic dominance tie-break order. CLD-family language ID runs a
# script histogram exactly like this before any n-gram model; for a crawl
# corpus it routes documents to per-script tokenizers and catches
# encoding mishaps (mojibake shows up as an improbable script mix).
SCRIPT_RANGES = (
    ("arabic", "؀", "ۿ"),
    ("cjk", "一", "鿿"),
    ("cyrillic", "Ѐ", "ӿ"),
    ("devanagari", "ऀ", "ॿ"),
    ("greek", "Ͱ", "Ͽ"),
    ("hangul", "가", "힯"),
    ("hebrew", "֐", "׿"),
    ("kana", "぀", "ヿ"),
    ("latin", None, None),  # ASCII letters + Latin-1/Extended-A/B letters
)
_LATIN_CLASS = "[A-Za-zÀ-ɏ]"


def script_char_count(text: Column, script: str) -> Column:
    """Count of ``text``'s characters in ``script``'s codepoint range
    (codegen regexp_count, one single-char class per script)."""
    for name, lo, hi in SCRIPT_RANGES:
        if name == script:
            cls = _LATIN_CLASS if lo is None else f"[{lo}-{hi}]"
            return F.regexp_count(text, F.lit(cls)).cast("int")
    raise ValueError(f"unknown script {script!r}")


def script_profile(text: Column) -> list[Column]:
    """Per-script char counts plus the dominant script — max count with
    ties broken by script name ascending, ``'unknown'`` when no script
    char appears at all. Pure Column expressions: the argmax is an
    array_min over (-count, name) structs, no UDF, no shuffle."""
    counts = [(n, script_char_count(text, n)) for (n, _, _) in SCRIPT_RANGES]
    arr = F.array(
        *[
            F.struct((-c).alias("nc"), F.lit(n).alias("s"))
            for (n, c) in counts
        ]
    )
    total = None
    for _, c in counts:
        total = c if total is None else (total + c)
    dominant = F.when(total > 0, F.array_min(arr)["s"]).otherwise(
        F.lit("unknown")
    )
    return [c.alias(f"{n}_n") for (n, c) in counts] + [
        dominant.alias("dominant_script")
    ]


# ---------------------------------------------------------------------------
# Readability (Flesch 1948 / Kincaid et al. 1975)
# ---------------------------------------------------------------------------
# Classic pre-neural quality prior for web text (used as a curation
# signal in C4-era corpora audits): score per document from three
# counts — words, sentences, vowel-run "syllables". All three are one
# regexp_count/size over the text in whole-stage codegen; no shuffle,
# no Python. The vowel-run syllable heuristic (a run of [aeiouy] = one
# syllable) is the standard cheap approximation; it is deterministic
# and replayable by any RE2/Java regex engine, which is what makes the
# score oracle-checkable.

SYLLABLE_REGEX = r"[aeiouy]+"


def syllable_count(text: Column) -> Column:
    """Vowel-run count over the lowercased text — the classic cheap
    syllable estimate (one run of [aeiouy] per syllable nucleus)."""
    return F.size(
        F.regexp_extract_all(F.lower(text), F.lit(SYLLABLE_REGEX), F.lit(0))
    ).cast("int")


def readability_cols(text: Column) -> list[Column]:
    """(n_words, n_sentences, n_syllables, flesch, fk_grade, band).

    flesch   = 206.835 - 1.015*(W/S) - 84.6*(Syl/W)
    fk_grade = 0.39*(W/S) + 11.8*(Syl/W) - 15.59

    Both NULL when the text has no words or no sentences. Rounded to 4
    decimals (the repo's float canon, same as quality_score) so a SQL
    oracle replaying the identical float-op order hash-matches. Band =
    the standard Flesch bands (>=90 very_easy, >=60 plain, >=30
    difficult, else very_difficult)."""
    w = ws_token_count(text).cast("double")
    s = sentence_count(text).cast("double")
    syl = syllable_count(text).cast("double")
    ok = (w > 0) & (s > 0)
    wps = w / s
    spw = syl / w
    flesch = F.when(ok, F.round(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4))
    fk = F.when(ok, F.round(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 4))
    band = (
        F.when(flesch.isNull(), F.lit(None).cast("string"))
        .when(flesch >= 90, F.lit("very_easy"))
        .when(flesch >= 60, F.lit("plain"))
        .when(flesch >= 30, F.lit("difficult"))
        .otherwise(F.lit("very_difficult"))
    )
    return [
        w.cast("int").alias("n_words"),
        s.cast("int").alias("n_sentences"),
        syl.cast("int").alias("n_syllables"),
        flesch.alias("flesch"),
        fk.alias("fk_grade"),
        band.alias("band"),
    ]


# ---------------------------------------------------------------------------
# Code-switching (per-line language votes)
# ---------------------------------------------------------------------------
# A document-level language ID hides mixed-language pages (forum
# threads, boilerplate-translated sites, spam stitching) — exactly the
# pages a monolingual training mix wants flagged. Per-LINE stopword
# votes plus a transition count expose them. All array lambdas over one
# split — no explode, no shuffle, codegen.


def line_lang_votes(text: Column) -> Column:
    """Array of per-line language votes ('en'/'de'/'fr'/'und') using
    the same stopword evidence as ``lang_guess``."""
    return F.transform(
        F.split(text, r"\n"),
        lambda l: lang_guess_from_hits(
            *[stopword_hits(l, lg) for lg in ("en", "de", "fr")]
        ),
    )


def code_switch_cols(text: Column) -> list[Column]:
    """(n_lines, n_lang_lines, n_switches, mixed): language-switch
    profile over the line votes. Switches are counted between
    consecutive DECIDED lines (und lines — navigation, numbers — don't
    vote); ``mixed`` = at least one switch."""
    votes = line_lang_votes(text)
    decided = F.filter(votes, lambda v: v != "und")
    nd = F.size(decided)
    switches = F.when(nd <= 1, F.lit(0)).otherwise(
        F.aggregate(
            F.zip_with(
                F.slice(decided, 1, nd - 1),
                F.slice(decided, 2, nd - 1),
                lambda a, b: (a != b).cast("int"),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
    )
    return [
        F.size(F.split(text, r"\n")).cast("int").alias("n_lines"),
        nd.cast("int").alias("n_lang_lines"),
        switches.cast("int").alias("n_switches"),
        (switches > 0).alias("mixed"),
    ]
