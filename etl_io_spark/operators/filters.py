"""Heuristic document-filter batteries for LLM training-data curation.

The published rule sets every large English corpus pipeline starts from:

  * :func:`c4_filters`     — C4 (Raffel et al. 2020, §2.2): drop pages
    containing code/boilerplate markers (curly braces, "lorem ipsum",
    the word "javascript") or too few sentences.
  * :func:`gopher_rules`   — Gopher (Rae et al. 2021, table A1): word
    count bounds, mean-word-length window, symbol-to-word and
    bullet/ellipsis ratios, alphabetic-word ratio, required-stopword
    hits.
  * :func:`quality_classifier` — the CCNet/fastText-style hashed linear
    scorer topology: token → hash bucket → fixed weight, document score
    = sigmoid(mean bucket weight). Weights here are md5-derived
    stand-ins (deterministic, engine-reproducible — swap in trained
    weights as a broadcast (bucket, weight) table without touching the
    plan shape).

Every rule is a map-side column expression over ``pyspark.sql.functions``
(regex/translate/array ops — no UDFs, whole-stage-codegen'd); the only
shuffle anywhere is the classifier's per-doc weight aggregation. All
thresholds mirror the papers but are keyword-overridable; all boolean
columns are emitted alongside the final ``keep`` so downstream mixing can
re-weight instead of hard-dropping.

Reference parity note: the reference engine (etl_io.py) has no curation
surface — these extend the parity-plus LLM-pipeline family
(SURVEY.md §2 extension table) next to dedup/quality/contamination.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from etl_io_spark.functions.numeric import round_floor
from etl_io_spark.operators.text import tokens
from etl_io_spark.partitioning import CPU_HEAVY_FLOOR, parallelize

#: Gopher's required-stopword list (table A1): a document must contain at
#: least two DISTINCT entries to pass the "has function words" rule.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _n_sentences(text_col: str) -> Column:
    """Terminal-punctuation count — the cheap sentence proxy C4 uses
    (a sentence boundary is '.', '!' or '?')."""
    return (
        F.length(F.col(text_col))
        - F.length(F.translate(F.col(text_col), ".!?", ""))
    ).cast("int")


def c4_filters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_sentences: int = 3,
) -> DataFrame:
    """C4's page-level content filters as one map-only projection.

    Emits per-document rule flags and the conjunction ``keep``:
    no curly braces (code/JSON boilerplate), no "lorem ipsum"
    (placeholder text), no "javascript" token (script-warning
    boilerplate), and at least ``min_sentences`` sentence terminators.
    Case-insensitive matching via a single lower() reused by both
    string probes.
    """
    low = F.lower(F.col(text_col))
    has_curly = F.col(text_col).contains("{") | F.col(text_col).contains("}")
    has_lorem = low.contains("lorem ipsum")
    # token-bounded probe: "javascript" as a word, not as a substring of
    # an identifier — C4 greps the lowercase token
    has_js = low.rlike(r"(^|\s)javascript($|\s)")
    n_sent = _n_sentences(text_col)
    return parallelize(df, floor=CPU_HEAVY_FLOOR).select(
        F.col(id_col),
        has_curly.alias("has_curly"),
        has_lorem.alias("has_lorem"),
        has_js.alias("has_javascript"),
        n_sent.alias("n_sentences"),
        (
            ~has_curly
            & ~has_lorem
            & ~has_js
            & (n_sent >= F.lit(min_sentences))
        ).alias("keep"),
    )


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_ellipsis_end_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
    stopwords: Sequence[str] = GOPHER_STOPWORDS,
) -> DataFrame:
    """Gopher's document-quality rules as one map-only projection.

    The token array is materialized ONCE per row and every rule reads it
    (word count, mean word length, alphabetic-word ratio); character
    probes (symbols, ellipses) run on the raw string. Line-level rules
    (bullet ratio) use the newline split; single-line documents pass
    them vacuously. Emits each rule as a boolean plus the measured
    ratios, and ``keep`` as the conjunction — the paper's reject-if-any
    policy.
    """
    toks = tokens(text_col)
    t = F.col(text_col)
    # NULL-safe: size(NULL) = -1 under non-ANSI would report a -1 word
    # count (and a 1.0 ellipsis ratio from -1/-1) for NULL text where
    # the oracle null-propagates (round-10 adversarial-corpus catch)
    n_words = F.when(t.isNotNull(), F.size(toks))
    # Σ token length / n — computed in-array, no explode
    mean_wlen = F.when(
        n_words > 0,
        F.aggregate(
            toks, F.lit(0), lambda acc, x: acc + F.length(x)
        ).cast("double")
        / n_words,
    ).otherwise(F.lit(0.0))
    # Gopher's symbol set: '#' and the '...' ellipsis (count '…' too)
    n_hash = F.length(t) - F.length(F.translate(t, "#", ""))
    n_ellipsis = F.size(F.split(t, r"\.\.\.", -1)) - 1 + (
        F.length(t) - F.length(F.translate(t, "…", ""))
    )
    symbol_ratio = F.when(
        n_words > 0, (n_hash + n_ellipsis).cast("double") / n_words
    ).otherwise(F.lit(0.0))
    lines = F.split(t, r"\n", -1)
    n_lines = F.size(lines)
    ellipsis_end = F.size(
        F.filter(lines, lambda ln: ln.rlike(r"(\.\.\.|…)\s*$"))
    )
    ellipsis_end_ratio = F.when(
        t.isNotNull(), ellipsis_end.cast("double") / n_lines
    )
    alpha_words = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    alpha_ratio = F.when(
        n_words > 0, alpha_words.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    sw_arr = F.array(*[F.lit(w) for w in stopwords])
    stop_hits = F.size(
        F.filter(sw_arr, lambda w: F.array_contains(toks, w))
    )
    r_words = (n_words >= min_words) & (n_words <= max_words)
    r_wlen = (mean_wlen >= min_mean_word_len) & (
        mean_wlen <= max_mean_word_len
    )
    r_symbol = symbol_ratio <= max_symbol_ratio
    r_ellipsis = ellipsis_end_ratio <= max_ellipsis_end_ratio
    r_alpha = alpha_ratio >= min_alpha_word_ratio
    r_stop = stop_hits >= min_stopword_hits
    return parallelize(df, floor=CPU_HEAVY_FLOOR).select(
        F.col(id_col),
        n_words.alias("n_words"),
        # int/int ratios terminate in decimal all the time — floor-form
        # half-up (see functions/numeric.round_floor) or the oracle's
        # ROUND tie-breaks differently
        round_floor(mean_wlen, 6).alias("mean_word_len"),
        round_floor(symbol_ratio, 6).alias("symbol_ratio"),
        round_floor(ellipsis_end_ratio, 6).alias("ellipsis_end_ratio"),
        round_floor(alpha_ratio, 6).alias("alpha_word_ratio"),
        stop_hits.alias("stopword_hits"),
        r_words.alias("ok_words"),
        r_wlen.alias("ok_word_len"),
        r_symbol.alias("ok_symbols"),
        r_ellipsis.alias("ok_ellipsis"),
        r_alpha.alias("ok_alpha"),
        r_stop.alias("ok_stopwords"),
        (r_words & r_wlen & r_symbol & r_ellipsis & r_alpha & r_stop).alias(
            "keep"
        ),
    )


#: above this, quality_classifier's driver-side weight fold would embed an
#: oversized array literal in the plan; the in-plan md5 twin takes over
_MAX_LITERAL_BUCKETS = 65_536


def quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 1024,
    threshold: float = 0.5,
) -> DataFrame:
    """Hashed-bag-of-words linear quality scorer — the fastText/CCNet
    classifier topology, in-plan.

    Each token hashes to one of ``n_buckets`` weight buckets; the
    document logit is the MEAN bucket weight over token instances and
    the score its sigmoid. Weights here are derived deterministically
    from the bucket id's md5 (uniform in [-1, 1]) so any engine
    reproduces them bit-for-bit; production swaps in a trained
    (bucket, weight) table broadcast into the same join-free plan —
    the scoring topology (hash → weight → mean → sigmoid) is what this
    operator grades.

    Plan: explode tokens → bucket + weight as codegen'd column
    expressions → ONE partial-aggregable per-doc mean. Zero-token
    documents keep logit 0 (score 0.5) via the left join back to the
    doc spine.

    Round 8: the weight md5 depends only on the BUCKET (``n_buckets``
    distinct values), yet the old plan recomputed it per TOKEN INSTANCE —
    at the 100x probe that second md5 was the scaling term (3.9x vs the
    oracle, which DuckDB's cheaper md5 hid at smaller SFs). The weight
    table is now computed ONCE driver-side with the identical md5
    arithmetic and folded in as a constant array literal, so scoring
    pays one md5 + one O(1) array index per token. Values are
    bit-identical (same bytes through the same hash). The fold is
    gated at ``_MAX_LITERAL_BUCKETS``: n_buckets is a public parameter,
    and a degenerate call (say 1e6 buckets) would otherwise embed a
    million-element Literal in every expression tree — past the gate
    the plan falls back to the original in-plan per-token weight md5,
    same values, O(1) plan size.
    """
    import hashlib

    from etl_io_spark.operators.text import hash60

    toked = parallelize(df, floor=CPU_HEAVY_FLOOR).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__tok")
    )
    bucket = F.pmod(hash60(F.col("__tok")), F.lit(n_buckets))
    # md5-derived INTEGER milli-weight in [-1000, 1000]: summed exactly as
    # int64, so the mean (and the label boundary sum >= 0 at threshold
    # 0.5) is engine-deterministic — no FP summation-order residue at all.
    if n_buckets <= _MAX_LITERAL_BUCKETS:
        # Python replica of hash60 (conv(substring(md5, 1, 15), 16, 10)):
        weights = [
            int(hashlib.md5(f"w{b}".encode()).hexdigest()[:15], 16) % 2001
            - 1000
            for b in range(n_buckets)
        ]
        w = F.element_at(
            F.array(*[F.lit(x) for x in weights]), (bucket + 1).cast("int")
        )
    else:
        # in-plan twin of the literal table: one md5 per token instance
        w = (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("w"), bucket)), 1, 15),
                16,
                10,
            ).cast("long")
            % 2001
            - 1000
        )
    per_doc = toked.select(F.col(id_col), w.alias("__w")).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("__w").alias("__wsum"),
    )
    spine = parallelize(df, floor=CPU_HEAVY_FLOOR).select(id_col)
    out = spine.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("__wsum", F.lit(0)).alias("__wsum"),
    )
    logit = F.when(
        F.col("n_tokens") > 0,
        F.col("__wsum").cast("double")
        / (F.col("n_tokens").cast("double") * F.lit(1000.0)),
    ).otherwise(F.lit(0.0))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return out.select(
        id_col,
        "n_tokens",
        # exact-int / exact-int ratio — terminating tails, floor-form
        round_floor(logit, 6).alias("logit"),
        # sigmoid output is transcendental — plain ROUND is engine-stable
        F.round(score, 6).alias("score"),
        (score >= F.lit(threshold)).alias("label"),
    )
