"""Text-analysis operators for training-data curation: language ID,
quality scoring, token counting, fingerprinting.

All JVM-side expressions (regexp / length / split / md5) — deliberately no
Python so the hot path stays in whole-stage codegen at 100 TB, and every
operator has a DuckDB SQL oracle. Heuristics are deterministic and simple by
design: they demonstrate the *pipeline shape* (scan → per-row exprs →
filter/aggregate) a real fastText/KenLM pass would slot into via a pandas
UDF, without shipping model weights.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nimbus_crawler_spark.operators.textdedup import _spread, _tokens, first_wins, shingles


def round_half_up(col: Column, k: int) -> Column:
    """Explicit HALF_UP rounding for non-negative values. Spark's round() is
    HALF_UP but DuckDB's is banker's; exact .5 boundaries (power-of-two
    denominators) would diverge — floor(x·10^k + 0.5) is identical in both."""
    m = 10 ** k
    return F.floor(col * m + F.lit(0.5)) / m

# tiny per-language stopword marker sets for the n-gram heuristic
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "with"],
    "de": ["der", "und", "die", "ist", "mit"],
    "fr": ["le", "la", "et", "est", "avec"],
    "es": ["el", "los", "es", "con", "una"],
}


def _count_occurrences(text: Column, word: str) -> Column:
    """Occurrences of a whole word — portable as
    len(regexp_extract_all(...)) in DuckDB."""
    return F.size(F.regexp_extract_all(text, F.lit(rf"\b{word}\b"), F.lit(0)))


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank text)."""
    return F.size(F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != ""))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: alpha runs, digit runs, and single other
    non-space chars — the regex analog of a byte-level BPE pre-tokenizer."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)))


def doc_fingerprint(text: Column) -> Column:
    """Normalization fingerprint: md5 of lowercased, whitespace-collapsed text.

    The document-level analog of the crawl engine's sha256 content hash
    (dedup.go:8-11) that additionally survives whitespace/case jitter."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def lang_scores(text: Column) -> dict[str, Column]:
    lowered = F.lower(text)
    return {
        lang: sum((_count_occurrences(lowered, w) for w in words), F.lit(0))
        for lang, words in _LANG_MARKERS.items()
    }


def _lang_best(text: Column) -> Column:
    """struct(score, lang) of the winning marker language (argmax, ties
    broken by the LAST lang alphabetically per array_max struct ordering —
    the documented lang_id tie rule)."""
    scores = lang_scores(text)
    pairs = F.array(
        *[F.struct(F.lit(lang).alias("lang"), c.alias("score")) for lang, c in sorted(scores.items())]
    )
    return F.array_max(
        F.transform(pairs, lambda p: F.struct(p["score"].alias("score"), p["lang"].alias("lang")))
    )


def lang_pred_col(text: Column) -> Column:
    """Predicted language: argmax marker lang, 'und' when no marker hits."""
    best = _lang_best(text)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, pred_lang, lang_score): argmax of marker-word hit counts,
    'und' (undetermined) when no marker hits; ties broken alphabetically.

    ``_spread`` first: ~20 regexp_extract_all calls per row pinned to a
    one-file scan's single task starve the other cores (guide §2: fix the
    distributed shape before the per-task work); no-op at production file
    counts, where payloads must not shuffle for a projection."""
    best = _lang_best(F.col(text_col))
    return _spread(docs).select(
        id_col,
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")).alias("pred_lang"),
        best["score"].alias("lang_score"),
    )


def _quality_feature_cols(t: Column) -> dict[str, Column]:
    """The rounded quality feature expressions, shared by ``quality_metrics``
    and ``curation_pipeline`` (which fuses them into one scan projection)."""
    n_tok = token_count(t)
    toks = _tokens(t)
    n_distinct = F.size(F.array_distinct(toks))
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", ""))
    stop_hits = sum(
        (_count_occurrences(F.lower(t), w) for w in _LANG_MARKERS["en"]), F.lit(0)
    )
    return {
        "n_tokens": n_tok,
        "n_chars_m": n_chars,
        "mean_tok_len": round_half_up(F.when(n_tok > 0, n_chars / n_tok).otherwise(0.0), 4),
        "alpha_ratio": round_half_up(F.when(n_chars > 0, n_alpha / n_chars).otherwise(0.0), 4),
        "punct_ratio": round_half_up(F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0), 4),
        "distinct_ratio": round_half_up(F.when(n_tok > 0, n_distinct / n_tok).otherwise(0.0), 4),
        "stopword_hits": stop_hits,
    }


def quality_score_col(feats: dict[str, Column]) -> Column:
    """Composite score ∈ [0,1] from ``_quality_feature_cols`` output (uses the
    ROUNDED alpha/distinct ratios, matching the SQL oracle), HALF_UP 4 dp."""
    score = (
        F.least(feats["n_tokens"] / 50.0, F.lit(1.0)) * 0.3
        + feats["alpha_ratio"] * 0.3
        + F.least(feats["distinct_ratio"] * 2, F.lit(1.0)) * 0.2
        + F.least(feats["stopword_hits"] / 5.0, F.lit(1.0)) * 0.2
    )
    # explicit half-up via floor: identical across engines (Spark round() is
    # HALF_UP, DuckDB round() is banker's — they disagree at .5 boundaries)
    return F.floor(score * 10000 + F.lit(0.5)) / 10000


def quality_metrics(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document quality features + composite score ∈ [0,1].

    Features mirror standard web-text filters (C4/Gopher-style):
    length, mean word length, alpha ratio, punctuation density,
    stopword presence, repetition (distinct/total token ratio).
    """
    feats = _quality_feature_cols(F.col(text_col))
    return _spread(docs).select(
        id_col,
        *[c.alias(k) for k, c in feats.items()],
        quality_score_col(feats).alias("quality_score"),
    )


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return docs.select(
        id_col,
        token_count(F.col(text_col)).alias("n_ws_tokens"),
        bpe_ish_token_count(F.col(text_col)).alias("n_bpe_tokens"),
        F.length(text_col).alias("n_bytes_utf8"),
    )


def fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return docs.select(id_col, doc_fingerprint(F.col(text_col)).alias("fingerprint"))


def _top_run_count(arr: Column) -> Column:
    """Highest multiplicity of any element in ``arr`` (0 for empty), computed
    per row with NO shuffle: sort the array, then one ``aggregate`` pass
    counting the longest run of equal adjacent elements. At 100 TB this keeps
    the most-common-n-gram statistic inside whole-stage codegen — the
    explode → groupBy(doc, gram) → max alternative shuffles every n-gram
    occurrence of the corpus."""
    s = F.sort_array(arr)
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def merge(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(s, acc0, merge, lambda acc: acc["best"])


def repetition_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals for web-text quality filtering
    (Rae et al. 2021 §A1.1; also used by C4/RefinedWeb): the share of the
    document taken by its most common 1/2/3-gram and the fraction of
    duplicated 2/3-gram occurrences. High values mark boilerplate, keyword
    stuffing, and template spam — standard pre-training drop criteria.

    Token-count based (the char-based variant differs only by a weight),
    over lowercased whitespace tokens. All per-row JVM expressions — no
    shuffle, no UDF; fracs are HALF_UP-rounded to 4 dp for engine ≡ oracle
    comparison."""
    t = F.col(text_col)
    toks = _tokens(t)

    def frac(num: Column, den: Column) -> Column:
        return round_half_up(F.when(den > 0, num / den).otherwise(F.lit(0.0)), 4)

    out = _spread(docs).select(
        id_col,
        F.size(toks).alias("n_tokens"),
        *[shingles(t, n).alias(f"_g{n}") for n in (1, 2, 3)],
    )
    for n, name in ((1, "unigram"), (2, "bigram"), (3, "trigram")):
        g = F.col(f"_g{n}")
        out = out.withColumn(f"top_{name}_frac", frac(_top_run_count(g), F.size(g)))
        if n > 1:
            out = out.withColumn(
                f"dup_{name}_frac",
                frac(F.size(g) - F.size(F.array_distinct(g)), F.size(g)),
            )
    return out.drop("_g1", "_g2", "_g3")


def term_stats(
    docs: DataFrame,
    top_k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary statistics: the ``top_k`` most frequent tokens with
    occurrence and document frequencies — the TF-IDF / tokenizer-vocab prep
    aggregation of a training-data pipeline.

    Scale design: one explode feeds ONE hash aggregation on the token key
    (map-side partial combine collapses each partition's token stream before
    the shuffle; document frequency via count(distinct doc_id) uses Spark's
    two-phase distinct rewrite on the same exchange). Top-k is a distributed
    TakeOrdered (orderBy + limit), NOT a global window — the only window
    runs over the ≤ top_k surviving rows to stamp dense ranks, the same
    tiny-side-plan pattern as operators/ranking.py. Ties break by token
    ascending, so the result is deterministic and oracle-comparable."""
    agg = (
        docs.select(id_col, F.explode(_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct(id_col).alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(top_k)
    )
    w = Window.partitionBy(F.pmod(F.col("n_occurrences"), F.lit(1))).orderBy(F.desc("n_occurrences"), F.asc("token"))  # constant-0 partition (non-foldable): same single-task semantics over <=k post-limit rows, no WindowExec WARN
    return agg.withColumn("rank", F.row_number().over(w))


# PII patterns chosen from the RE2 ∩ java.util.regex common dialect (no
# lookaround / backreferences), so the same string runs verbatim in Spark
# and the DuckDB oracle. Email is applied FIRST: an email local part may
# itself contain a phone-shaped substring ("user+1-234-567-8901@x.com"),
# and redacting phones first would split the address and leak its domain.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_scrub(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """PII detection + redaction for training-data curation:
    (doc_id, n_emails, n_phones, scrubbed_fp).

    Emails → ``<EMAIL>``, international-format phone numbers → ``<PHONE>``;
    ``scrubbed_fp`` is md5 of the redacted text (the full text stays in the
    pipeline — the fingerprint keeps this operator's output narrow and
    oracle-hashable). Pure codegen expressions (regexp_extract_all /
    regexp_replace / md5): per-row, no shuffle, no UDF — at 100 TB this runs
    inside the same scan projection as the quality features. Real pipelines
    extend the pattern list (SSNs, IP addresses, street addresses); the
    plumbing — count, redact, fingerprint — is what this operator fixes.

    Counts agree with the redaction: ``n_phones`` is counted on the
    email-redacted text, so a phone-shaped substring inside an email local
    part ("user+1-234-567-8901@x.com") counts as 1 email and 0 phones —
    matching the output, where only ``<EMAIL>`` appears.
    """
    t = F.col(text_col)
    emails_gone = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(emails_gone, PII_PHONE_RE, "<PHONE>")
    return docs.select(
        id_col,
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(
            F.regexp_extract_all(emails_gone, F.lit(PII_PHONE_RE), F.lit(0))
        ).alias("n_phones"),
        F.md5(clean).alias("scrubbed_fp"),
    )


def curation_pipeline(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    min_quality: float = 0.55,
    max_top_bigram_frac: float = 0.6,
) -> DataFrame:
    """End-to-end training-data curation in TWO jobs total: language gate +
    quality gate + repetition gate + exact-dedup first-wins.

    Scale design: every feature (language argmax, quality score, top-bigram
    fraction, normalization fingerprint) is computed in ONE scan projection —
    no per-feature self-joins (a naive compose of lang_id ⋈ quality ⋈
    repetition rescans the corpus text 3× and shuffles it twice). The only
    shuffle is the final first-wins dedup, which moves the FILTERED survivor
    rows keyed by md5 fingerprint (uniform, skew-free). Filters run before
    the shuffle, so the exchange carries only kept docs.
    """
    t = F.col(text_col)
    feats = _quality_feature_cols(t)
    g2 = shingles(t, 2)

    def frac(num: Column, den: Column) -> Column:
        return round_half_up(F.when(den > 0, num / den).otherwise(F.lit(0.0)), 4)

    scored = _spread(docs).select(
        id_col,
        lang_pred_col(t).alias("pred_lang"),
        quality_score_col(feats).alias("quality_score"),
        frac(_top_run_count(g2), F.size(g2)).alias("top_bigram_frac"),
        doc_fingerprint(t).alias("fingerprint"),
    )
    # Pushdown barrier. Catalyst pushes a Filter through a Project whenever
    # every PROJECT field is deterministic (the condition's own determinism
    # is not consulted for Project), substituting the aliases — so each of
    # the three gates below would re-evaluate the heavy expressions
    # (20-regex lang argmax, quality features, bigram top-run) in the
    # pushed Filter AND again in the Project: measured 2×45
    # regexp_extract_all nodes and ~2× the stage time (the same
    # duplication class as guide §4.4's UDFs). One non-deterministic dummy
    # column, referenced by an always-false disjunct (rand() ∈ [0,1) is
    # never < -1, so the predicate is exactly the three gates), fails the
    # all-deterministic-fields test, survives column pruning, and cannot be
    # split out of the disjunction — the Filter stays above the Project and
    # every expression is evaluated once.
    scored = scored.withColumn("_nd_barrier", F.rand())
    scored = scored.where(
        (
            (F.col("pred_lang") == lang)
            & (F.col("quality_score") >= min_quality)
            & (F.col("top_bigram_frac") <= max_top_bigram_frac)
        )
        | (F.col("_nd_barrier") < F.lit(-1.0))
    ).drop("_nd_barrier")
    # exact-dedup first-wins via the shared min_by aggregate shape (one
    # buffered row per fingerprint per partition — see first_wins for why
    # this is never a per-fingerprint window)
    return first_wins(scored, "fingerprint", id_col)


def metric_histogram(
    df: DataFrame,
    metric_col: str,
    n_buckets: int = 20,
    lo: float = 0.0,
    hi: float = 1.0,
    by: str | None = None,
) -> DataFrame:
    """Fixed-width histogram of a numeric column: (``by``?, bucket, lo_edge,
    n) — the distribution evidence a curation pipeline needs to TUNE its
    thresholds (where does a quality cut of 0.6 vs 0.7 land, per source?)
    before committing to a filter at corpus scale.

    Pure codegen: bucket = clamp(floor((x − lo)/w), 0, n_buckets−1) fuses
    into the scan projection, and the only shuffle is the map-side-combined
    hash agg on (by, bucket) — ≤ |sources|·n_buckets rows ever cross the
    wire regardless of corpus size (this is the scale-correct alternative
    to collecting a column for a driver-side histogram). ``lo_edge`` is
    computed as lo + bucket·((hi−lo)/n_buckets) — the same double
    arithmetic in any engine, so results are comparable bit-for-bit without
    rounding tricks. Values at exactly ``hi`` land in the top bucket;
    values outside [lo, hi] clamp into the edge buckets (recorded, never
    dropped — silent truncation would misstate the distribution)."""
    w = (hi - lo) / n_buckets
    bucket = F.least(
        F.greatest(F.floor((F.col(metric_col) - lo) / w), F.lit(0)),
        F.lit(n_buckets - 1),
    ).cast("int")
    keys = ([by] if by else []) + ["bucket"]
    return (
        df.select(*([by] if by else []), bucket.alias("bucket"))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *keys,
            (F.lit(lo) + F.col("bucket") * F.lit(w)).alias("lo_edge"),
            "n",
        )
    )


def quality_histogram(
    docs: DataFrame,
    n_buckets: int = 20,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source distribution of the composite quality score:
    (source, bucket, lo_edge, n). The score expression is the shared
    cross-engine-exact ``quality_score_col`` (4-dp HALF_UP), so the
    histogram is oracle-comparable; one scan projection computes the score
    and its bucket together, then the tiny hash agg."""
    feats = _quality_feature_cols(F.col(text_col))
    scored = _spread(docs).select(by, quality_score_col(feats).alias("q"))
    return metric_histogram(scored, "q", n_buckets=n_buckets, lo=0.0, hi=1.0, by=by)
