"""Text-analysis operators for training-data pipelines: token counting,
language-ID heuristic, quality scoring, fingerprinting.

Everything is built from whole-column Catalyst expressions (split /
higher-order array functions / md5) — no Python in the hot path, and
every function has an exact SQL equivalent for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.operators.dedup import content_fingerprint, normalize_text

# Tiny English function-word inventory: enough signal for a ratio
# heuristic, cheap enough to inline into codegen as an IN list.
EN_STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")


def tokens(col: Column) -> Column:
    """Whitespace tokens of normalized text."""
    return F.split(normalize_text(col), " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


#: GPT-2-style pre-tokenizer split, reduced to the RE2-compatible core
#: (no lookarounds, so the same pattern runs in Spark's Java regex and
#: any RE2-based oracle engine): contractions, letter runs, SINGLE
#: digits (the modern digit-split rule), punctuation runs. The final
#: class INCLUDES the apostrophe (alternation order gives contractions
#: first dibs) so standalone quotes still count as pieces — excluding
#: it dropped them entirely and broke the >=-whitespace-tokens upper
#: bound the budget contract promises.
BPE_PRESPLIT_RE = r"'[a-z]+|[a-z]+|[0-9]|[^a-z0-9\s]+"


def bpe_pretokens(col: Column) -> Column:
    """GPT-2-ish pre-tokenizer pieces of normalized text — the units a
    BPE vocabulary merges within. Piece COUNT is the practical
    upper-bound token budget (every BPE merge only shrinks it), a much
    tighter estimate than chars/4 for code/punctuation-heavy text."""
    return F.regexp_extract_all(
        normalize_text(col), F.lit(BPE_PRESPLIT_RE), F.lit(0)
    )


def bpe_pretoken_count(col: Column) -> Column:
    return F.size(bpe_pretokens(col))


def bpe_token_estimate(col: Column) -> Column:
    """BPE-ish token-count estimate: ~1 token per 4 chars of normalized
    text (the industry rule of thumb), as a cheap pre-tokenizer budget
    gate. Exact tokenization needs a real BPE vocab (not in-container);
    the estimate keeps the column pipeline shape identical."""
    return F.ceil(F.length(normalize_text(col)) / 4).cast("bigint")


def stopword_hits(col: Column) -> Column:
    return F.size(F.filter(tokens(col), lambda t: t.isin(*EN_STOPWORDS)))


def stopword_ratio(col: Column) -> Column:
    return stopword_hits(col) / token_count(col)


def lang_id(col: Column, threshold: float = 0.05) -> Column:
    """N-gram-free language ID heuristic: function-word density. Real
    pipelines swap in fastText/CLD — the operator shape (one expression
    column, no shuffle) stays the same."""
    return F.when(stopword_ratio(col) >= threshold, F.lit("en")).otherwise(F.lit("unk"))


def quality_score_from_counts(n_tok: Column, sw_hits: Column) -> Column:
    """Composite quality score from pre-computed token/stopword COUNTS
    (stopword-density and length terms, clamped to [0,1]). The counts
    seam lets callers that already materialized the counts (e.g.
    ``quality_features``, which also reports the ratio) reuse them
    instead of re-traversing the token array."""
    return F.least(
        F.lit(1.0),
        F.greatest(
            F.lit(0.0),
            (sw_hits / n_tok) * 4 + F.least(n_tok / 100.0, F.lit(1.0)) * 0.5,
        ),
    )


def quality_score_expr(tk: Column) -> Column:
    """Composite quality score from a MATERIALIZED token-array column.
    Shared by ``quality_features`` and the curation gate so the two
    can't drift."""
    sw_hits = F.size(F.filter(tk, lambda t: t.isin(*EN_STOPWORDS)))
    return quality_score_from_counts(F.size(tk), sw_hits)


def quality_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document quality features + a composite score:
    - n_tokens, mean token length (verbosity/garbage detector)
    - stopword ratio (fluency proxy)
    - alnum ratio (boilerplate/punctuation-soup detector)
    Score = stopword and length terms, clamped to [0,1], rounded for
    hash stability."""
    from clickhouse_mysql_data_reader_spark.util import fan_out

    # normalize + tokenize + count ONCE behind projection boundaries —
    # every feature references them repeatedly, and inlining would re-run
    # the regex / the stopword array-filter per reference (same hazard as
    # shingles_from_tokens; the score AND the ratio both need sw_hits).
    base = (
        fan_out(df, bytes_per_task=128 * 1024)
        .select(F.col(id_col), normalize_text(F.col(text_col)).alias("nt"))
        .select(id_col, "nt", F.split(F.col("nt"), " ").alias("tk"))
        .select(
            id_col,
            "nt",
            F.size("tk").alias("_n_tok"),
            F.size(
                F.filter(F.col("tk"), lambda t: t.isin(*EN_STOPWORDS))
            ).alias("_sw_hits"),
        )
    )
    n_tok = F.col("_n_tok")
    sw_ratio = F.col("_sw_hits") / n_tok
    score = quality_score_from_counts(n_tok, F.col("_sw_hits"))
    # ratios stay raw doubles: int/int lowers to the same IEEE division
    # in any engine, so values are bit-deterministic without round()'s
    # cross-engine half-way hazards.
    return base.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        ((F.length("nt") - (n_tok - 1)) / n_tok).alias("mean_token_len"),
        sw_ratio.alias("stopword_ratio"),
        (F.length(F.regexp_replace(F.col("nt"), r"[^a-z0-9]", "")) / F.length("nt")).alias(
            "alnum_ratio"
        ),
        score.alias("quality_score"),
    )


def quality_calibrated(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    keep_pctile: float = 0.2,
) -> DataFrame:
    """Per-source quantile calibration of the quality score: each doc's
    score is mapped to its percent_rank WITHIN its source, and the keep
    gate thresholds the calibrated percentile, not the raw score.

    Why: the raw composite score is source-biased — forums run long
    and stopword-dense, reference text short and dry — so one global
    raw threshold silently over-prunes whole sources (the failure the
    FineWeb/CCNet lineage avoids by filtering per-bucket). Calibrating
    to within-source rank makes "drop the worst 20%" mean the same
    thing in every source.

    Plan shape: the score is the shared ``quality_score_expr`` (one
    scan-stage token pass), then ONE window shuffle partitioned by
    source — at 100 TB the source key is low-cardinality but huge per
    partition, which is fine: percent_rank needs only a sort within
    the source partition and Spark externalizes window sorts; for a
    pathological single-source corpus, pre-aggregate to a score
    histogram instead (value_histogram + histogram_quantile in
    operators/profile.py is that path).

    percent_rank = (rank-1)/(n-1) is an exact small-integer rational in
    IEEE doubles and ranks tie exactly on bit-equal scores, so the keep
    boundary is deterministic cross-engine.

    The gate itself is threshold-based, not rank-based: kept =
    (score >= per-source threshold), where the threshold is the
    minimum score whose percent_rank clears ``keep_pctile`` — for
    distinct scores this is exactly the rank cut, but it also defines
    the DEGENERATE sources the raw cut mishandles (single-doc and
    all-tied sources have percent_rank 0 for every row, which a
    ``pr >= 0.2`` cut would drop 100% of): when no row clears the
    cut, the threshold falls back to the source minimum and the whole
    source is kept. This is the same threshold
    ``calibrated_quality_thresholds`` freezes, so the window and
    frozen forms keep EXACTLY the same docs on every population,
    ties and singletons included.
    """
    from pyspark.sql.window import Window

    base = df.select(
        F.col(id_col),
        F.col(source_col),
        F.split(normalize_text(F.col(text_col)), " ").alias("tk"),
    ).select(
        id_col, source_col, quality_score_expr(F.col("tk")).alias("_q")
    )
    w = Window.partitionBy(source_col).orderBy("_q")
    w_all = Window.partitionBy(source_col)
    thr = F.coalesce(
        F.min(
            F.when(F.col("_pr") >= F.lit(keep_pctile), F.col("_q"))
        ).over(w_all),
        F.min("_q").over(w_all),
    )
    return (
        base.withColumn("_pr", F.percent_rank().over(w))
        .withColumn("_thr", thr)
        .select(
            F.col(id_col),
            F.col(source_col),
            F.round(F.col("_q"), 6).alias("quality_score"),
            F.round(F.col("_pr"), 6).alias("cal_pctile"),
            (F.col("_q") >= F.col("_thr")).cast("int").alias("kept"),
        )
    )


def calibrated_quality_thresholds(
    df: DataFrame,
    text_col: str,
    source_col: str,
    keep_pctile: float = 0.2,
) -> DataFrame:
    """Freeze the per-source calibrated keep thresholds from a baseline
    corpus: for each source, the minimum quality score whose
    percent_rank >= ``keep_pctile`` — so the stateless gate
    ``score >= threshold`` keeps EXACTLY the docs the window form
    (``quality_calibrated`` / ``CurationConfig.quality_calibrate_pctile``)
    keeps on that corpus (percent_rank is monotone in score and ties
    share a rank, so the boundary transfers losslessly).

    This is the deployment shape (the text_bm25_frozen / psi_baseline
    idiom): pay the window shuffle ONCE on the baseline, land the tiny
    (source, q_threshold) frame, and gate every later batch — including
    incremental and streaming curation, where a within-batch window
    would drift batch-to-batch — with a scan-stage map lookup.

    Feed it the SAME population the gate will see (typically the
    raw-gate survivors) for exact parity; the thresholds are exact
    score values, not approximations.

    EVERY source gets a threshold row: where no row clears the
    percent_rank cut (single-doc and all-tied sources sit at
    percent_rank 0), the threshold is the source's minimum score —
    the keep-the-whole-source degenerate rule ``quality_calibrated``
    applies, so the frozen gate and the window form agree on ties
    and singletons too.
    """
    from pyspark.sql.window import Window

    base = df.select(
        F.col(source_col),
        F.split(normalize_text(F.col(text_col)), " ").alias("tk"),
    ).select(source_col, quality_score_expr(F.col("tk")).alias("_q"))
    pr = F.percent_rank().over(Window.partitionBy(source_col).orderBy("_q"))
    return (
        base.withColumn("_pr", pr)
        .groupBy(F.col(source_col).alias("source"))
        .agg(
            F.coalesce(
                F.min(
                    F.when(F.col("_pr") >= F.lit(keep_pctile), F.col("_q"))
                ),
                F.min("_q"),
            ).alias("q_threshold")
        )
    )


# Gopher rule-filter stopword set (Rae et al. 2021, "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher", App. A
# MassiveWeb filters): a document must contain >= 2 DISTINCT members.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _gopher_base(df: DataFrame, text_col: str, keep: list[str]) -> DataFrame:
    """Staged Gopher statistics over ``keep`` columns: normalize +
    tokenize ONCE behind projection boundaries (same re-evaluation
    hazard as quality_features — every word stat references the token
    array). Word stats come from NORMALIZED text (shared ``tokens``
    helper); line stats come from the RAW text split on newlines,
    because normalization collapses the newlines the bullet/ellipsis
    rules need."""
    from clickhouse_mysql_data_reader_spark.util import fan_out

    raw = F.col(text_col)
    n_dots = (F.length(raw) - F.length(F.replace(raw, F.lit("...")))) / 3
    n_uni_ellipsis = F.length(raw) - F.length(F.replace(raw, F.lit("…")))
    n_hash = F.length(raw) - F.length(F.replace(raw, F.lit("#")))
    return (
        fan_out(df, bytes_per_task=128 * 1024)
        .select(
            *keep,
            normalize_text(raw).alias("_gnt"),
            F.split(raw, "\n").alias("_gln"),
            (n_hash + n_dots + n_uni_ellipsis).alias("_n_sym"),
        )
        .select(
            *keep,
            "_gnt",
            "_gln",
            "_n_sym",
            F.split(F.col("_gnt"), " ").alias("_gtk"),
            F.size("_gln").alias("_n_ln"),
        )
        .select(
            *keep,
            "_n_sym",
            "_n_ln",
            F.size("_gtk").alias("n_words"),
            F.length("_gnt").alias("_nt_len"),
            F.size(F.filter("_gtk", lambda t: t.rlike("[a-z]"))).alias("_n_alpha"),
            F.size(
                F.array_distinct(F.filter("_gtk", lambda t: t.isin(*GOPHER_STOPWORDS)))
            ).alias("n_stop_types"),
            F.size(
                F.filter("_gln", lambda l: F.trim(l).rlike(r"^[-*•]"))
            ).alias("_n_bullet"),
            F.size(
                F.filter("_gln", lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"))
            ).alias("_n_ellipsis"),
        )
    )


# Every column _gopher_base aliases over the caller's frame. Callers
# that keep all their own columns (gopher_gate_columns) must reject
# inputs that already use one of these names.
_GOPHER_INTERNAL_COLS = {
    "_gnt", "_gln", "_gtk", "_n_sym", "_n_ln", "_nt_len",
    "_n_alpha", "_n_bullet", "_n_ellipsis", "n_words", "n_stop_types",
}

# Gopher-stat derived expressions over a _gopher_base frame.
_GOPHER_EXPRS = {
    "mean_word_len": lambda: (F.col("_nt_len") - (F.col("n_words") - F.lit(1)))
    / F.col("n_words"),
    "symbol_ratio": lambda: F.col("_n_sym") / F.col("n_words"),
    "bullet_frac": lambda: F.col("_n_bullet") / F.col("_n_ln"),
    "ellipsis_frac": lambda: F.col("_n_ellipsis") / F.col("_n_ln"),
    "alpha_frac": lambda: F.col("_n_alpha") / F.col("n_words"),
}


def _gopher_pass_expr(
    min_words: int,
    max_words: int,
    min_mean_word_len: float,
    max_mean_word_len: float,
    max_symbol_ratio: float,
    max_bullet_frac: float,
    max_ellipsis_frac: float,
    min_alpha_frac: float,
    min_stop_types: int,
) -> Column:
    e = {k: f() for k, f in _GOPHER_EXPRS.items()}
    return (
        F.col("n_words").between(min_words, max_words)
        & e["mean_word_len"].between(min_mean_word_len, max_mean_word_len)
        & (e["symbol_ratio"] <= max_symbol_ratio)
        & (e["bullet_frac"] <= max_bullet_frac)
        & (e["ellipsis_frac"] <= max_ellipsis_frac)
        & (e["alpha_frac"] >= min_alpha_frac)
        & (F.col("n_stop_types") >= min_stop_types)
    )


def gopher_rules(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_types: int = 2,
) -> DataFrame:
    """Gopher quality-rule features + pass flag (Rae et al. 2021,
    App. A): word-count bounds, mean-word-length bounds, symbol-to-word
    ratio ('#' and ellipses), bullet-/ellipsis-line fractions,
    alphabetic-word fraction, and a distinct-stopword floor. The
    standard rule-based web filter that complements the statistical
    ``quality_features`` score.

    Per-row expression work only — at 100 TB this rides the scan stage
    (no shuffle, no Python). Ratios are raw IEEE divisions (int/int
    lowers identically in Spark and DuckDB), so values hash-verify
    without rounding. ``gopher_gate_columns`` attaches just the pass
    flag for the curation pipeline (same expression core, can't drift).
    """
    base = _gopher_base(df, text_col, keep=[id_col])
    passes = _gopher_pass_expr(
        min_words,
        max_words,
        min_mean_word_len,
        max_mean_word_len,
        max_symbol_ratio,
        max_bullet_frac,
        max_ellipsis_frac,
        min_alpha_frac,
        min_stop_types,
    )
    return base.select(
        F.col(id_col),
        F.col("n_words"),
        _GOPHER_EXPRS["mean_word_len"]().alias("mean_word_len"),
        _GOPHER_EXPRS["symbol_ratio"]().alias("symbol_ratio"),
        _GOPHER_EXPRS["bullet_frac"]().alias("bullet_frac"),
        _GOPHER_EXPRS["ellipsis_frac"]().alias("ellipsis_frac"),
        _GOPHER_EXPRS["alpha_frac"]().alias("alpha_frac"),
        F.col("n_stop_types"),
        passes.alias("pass_gopher"),
    )


def gopher_gate_columns(df: DataFrame, text_col: str, **thresholds) -> DataFrame:
    """Attach ``pass_gopher`` to every row of ``df`` (all original
    columns preserved) in one scan with zero shuffles — the curation
    pipeline's rule-gate stage, sharing ``gopher_rules``'s expression
    core so the gate and the oracle-checked feature query can't drift.
    ``thresholds`` override the paper defaults (same keyword names as
    ``gopher_rules``)."""
    import inspect

    defaults = {
        k: p.default
        for k, p in inspect.signature(gopher_rules).parameters.items()
        if p.default is not inspect.Parameter.empty
    }
    unknown = set(thresholds) - set(defaults)
    if unknown:
        raise TypeError(f"unknown gopher thresholds: {sorted(unknown)}")
    # _gopher_base aliases these over the caller's frame; a caller
    # column with the same name would make every downstream reference
    # ambiguous (or silently gate on the wrong column). Same guard
    # discipline as training_shuffle's reserved-name check.
    clash = _GOPHER_INTERNAL_COLS & set(df.columns)
    if clash:
        raise ValueError(
            f"gopher_gate_columns: input columns {sorted(clash)} collide "
            "with internal gopher stat names; rename them first"
        )
    base = _gopher_base(df, text_col, keep=list(df.columns))
    return base.select(
        *df.columns, _gopher_pass_expr(**{**defaults, **thresholds}).alias("pass_gopher")
    )


#: spam/adult markers in the spirit of C4's "bad words" filter
#: (Raffel et al. 2020 §2.2 drop any page containing a blocklist word;
#: the production list is swapped in via the ``blocklist`` parameter).
DEFAULT_BLOCKLIST = (
    "porn", "xxx", "viagra", "casino", "lottery", "jackpot",
    "gambling", "escort", "nude", "pills",
)


def blocklist_hits_expr(text: Column, blocklist: tuple[str, ...]) -> Column:
    """Array of blocklisted tokens in ``text`` (token-boundary match
    over normalized tokens) — the shared expression core of
    ``blocklist_gate`` and the curation pipeline's gate, so the two
    cannot drift. NULL text coalesces to the empty array: a NULL
    contains no blocked words and must PASS — without the coalesce,
    size(NULL) = -1 under Spark's legacy sizeOfNull silently fails the
    doc with block_hits = -1 and no offending terms."""
    if not blocklist:
        raise ValueError("blocklist must be non-empty")
    return F.coalesce(
        F.filter(tokens(text), lambda t: t.isin(*blocklist)),
        F.array().cast("array<string>"),
    )


def blocklist_pass_expr(text: Column, blocklist: tuple[str, ...]) -> Column:
    """True iff ``text`` contains NO blocklisted token — the C4 drop
    rule as one boolean scan-stage expression."""
    return F.size(blocklist_hits_expr(text, blocklist)) == 0


def blocklist_gate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    blocklist: tuple[str, ...] = DEFAULT_BLOCKLIST,
) -> DataFrame:
    """C4-style blocklist filter: per-document hit count/ratio, the
    pass flag (zero hits), and the sorted distinct offending terms as
    audit evidence. Token-boundary matching (not substring), so
    "classic" never trips on an embedded bad word — the exact C4 rule.

    One scan, zero shuffles: the token array is built once per row and
    all four outputs fold over it in-place (whole-stage codegen). At
    100 TB this gate belongs FIRST in the curation chain — it is the
    cheapest test with the highest drop rate on web text, and running
    it before the shuffling stages shrinks everything downstream.
    """
    # NULL text -> zero tokens, zero hits, passed (see
    # blocklist_hits_expr; a bare size(tokens(NULL)) would report -1)
    tk = F.coalesce(tokens(F.col(text_col)), F.array().cast("array<string>"))
    hits_arr = blocklist_hits_expr(F.col(text_col), blocklist)
    return df.select(
        F.col(id_col),
        F.size(tk).alias("n_tokens"),
        F.size(hits_arr).alias("block_hits"),
        F.when(F.size(tk) == 0, F.lit(0.0))
        .otherwise(F.size(hits_arr) / F.size(tk))
        .alias("block_ratio"),
        (F.size(hits_arr) == 0).alias("passed"),
        F.array_join(F.array_sort(F.array_distinct(hits_arr)), ",").alias("hit_terms"),
    )


def fingerprint_documents(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stable 128-bit content fingerprint (md5 of normalized text) —
    the join key for cross-corpus exact dedup."""
    return df.select(
        F.col(id_col), content_fingerprint(F.col(text_col)).alias("fingerprint")
    )


# PII patterns: deliberately simple character-class regexes that parse
# identically under Java regex (Spark) and RE2 (DuckDB). Real pipelines
# swap in richer recognizers; the operator shape (regexp_extract_all
# count + regexp_replace scrub, zero shuffles) stays the same.
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_redact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Scrub emails and phone numbers from a text column; report per-row
    match counts alongside the redacted text.

    Per-row expression work only — at 100 TB this rides the scan stage
    (no shuffle, no Python). Redaction order is fixed (emails first,
    then phones) so the output is deterministic and oracle-portable.
    """
    t = F.lower(F.col(text_col))
    base = df.select(
        F.col(id_col),
        t.alias("lt"),
        # group 0 = the whole match (the patterns define no capture groups)
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), 0)).alias("n_phones"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("lt"), EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
    )
    return base.select(id_col, "n_emails", "n_phones", redacted.alias("redacted"))


def tfidf_top_terms(df: DataFrame, text_col: str, id_col: str, top_k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf.

    The idf factor is the SCALED-INTEGER form ``(N * 1000) div df`` —
    floor division of bigints, bit-identical across engines, unlike
    ``ln(N/df)`` whose libm implementations can differ in the last ulp
    and flip near-tie rankings. Ordering is (score desc, term asc), so
    the output is fully deterministic.

    Plan shape at 100 TB: one explode + two hash aggregations (tf on
    (doc, term), df on term) + a broadcast of the 1-row corpus count +
    a per-doc window. The tf-to-df join keys on ``term`` — left to AQE,
    which broadcasts when the vocabulary is small and shuffle-joins the
    long-tail vocabularies (web-scale corpora) where a forced broadcast
    would OOM.
    """
    from clickhouse_mysql_data_reader_spark.util import fan_out

    toks = (
        fan_out(df)
        .select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("tk"))
        .select("doc_id", F.explode("tk").alias("term"))
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.expr("tf * ((n_docs * 1000) div df)"))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
    )


def bm25_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Collection statistics for frozen-stats BM25 scoring: one row per
    distinct term, (term, df, n_docs, total_tok). Land it once
    (``.write.parquet``) over the reference corpus, then pass it to
    ``bm25_topk(stats=...)`` so every subsequent batch scores against
    the SAME distribution — the ``lm_surprisal(counts=)`` deployment
    shape.

    n_docs/total_tok are denormalized onto every row (constant columns)
    so the landed table is self-contained — one parquet table, no
    sidecar totals file; ``bm25_topk`` re-derives them with a 1-row
    max aggregate, never a corpus scan.

    Plan: one tokenize scan -> explode(array_distinct) -> per-term
    count (map-side combinable, vocab-sized result) + a broadcast
    crossJoin of the 1-row totals aggregate. At 100 TB the output is
    vocab-sized, not corpus-sized.
    """
    from clickhouse_mysql_data_reader_spark.util import fan_out

    base = fan_out(df).select(
        tokens(F.col(text_col)).alias("tk")
    ).select("tk", F.size("tk").cast("long").alias("dl"))
    totals = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tok"),
    )
    dfreq = (
        base.select(F.explode(F.array_distinct("tk")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return dfreq.crossJoin(F.broadcast(totals))


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    top_k: int = 10,
    k1_num: int = 6,
    k1_den: int = 5,
    b_num: int = 3,
    b_den: int = 4,
    scale: int = 1000,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query by BM25 (Robertson et
    al., TREC-3 Okapi), in the repo's scaled-INTEGER determinism idiom.

    Two deliberate substitutions keep every step bit-identical across
    engines (the same reasoning as ``tfidf_top_terms``):

    - idf is the Robertson/Spärck Jones ODDS without the log:
      ``((2N - 2df + 1) * scale) div (2df + 1)`` — the exact integer
      form of (N - df + 0.5)/(df + 0.5). ln() would route through libm
      whose last-ulp differences can flip near-tie rankings AND make
      the per-doc double sum order-dependent. RANKING CAVEAT for
      multi-term queries: per-doc scores SUM per-term contributions,
      so dropping the log weights rare terms LINEARLY in the odds
      where standard BM25 weights them logarithmically — a doc
      matching one very rare term can outrank a doc matching several
      moderately rare terms where log-BM25 would not. Single-term
      rankings are identical (the odds is a monotone rescaling of its
      log). Use this when cross-engine hash-stability matters more
      than textbook multi-term ordering; it is not drop-in log-BM25.
    - the tf saturation uses rational k1 = k1_num/k1_den (default 6/5
      = 1.2) and b = b_num/b_den (default 3/4), cleared to integers:
      with dl_norm = (dl * scale * N) div total_tokens (≈ scale *
      dl/avgdl),

        num = tf * (k1_num + k1_den) * b_den * scale
        den = k1_den*b_den*scale*tf + k1_num*(b_den - b_num)*scale
              + k1_num*b_num*dl_norm
        term_score = (idf_int * num) div den   -- DECIMAL(38,0) product

      which is floor of idf_int * tf(k1+1) / (tf + k1(1-b+b*dl/avgdl))
      up to the dl quantization. The product runs in DECIMAL(38,0) so
      web-scale N (idf_int ~ 2*scale*N) cannot overflow int64.

    Per-doc score = SUM of per-term BIGINT scores — integer addition
    commutes exactly, so aggregation order (which Spark does not
    promise) cannot change the hash.

    Plan at 100 TB: tokens are filtered to the query's terms BEFORE the
    tf aggregate (the scan emits ~|query| rows per doc, not the full
    token stream), df/idf is a per-term aggregate over that filtered
    relation (<= |query| rows -> broadcast join), doc length is the
    zero-shuffle ``token_count`` expression riding the same scan, the
    (N, total_tokens) totals are a broadcast 1-row frame, and the final
    top-k is orderBy+limit (TakeOrderedAndProject — never a global
    sort). Ties break (score desc, doc_id asc), fully deterministic.

    ``stats`` freezes the collection statistics (the same deployment
    move as ``lm_surprisal(counts=)``): pass a
    landed ``bm25_stats(...)`` table — (term, df, n_docs, total_tok),
    written to parquet once — and df/idf, N, and avgdl all come from
    that REFERENCE distribution instead of being recounted from ``df``,
    so scoring a daily batch is batch-composition-independent: the same
    document gets the same score no matter which batch it arrives in.
    Only tf and dl (per-document facts) are computed from the scored
    frame. A scored term missing from the frozen vocabulary gets df=0
    (maximal idf — the standard unseen-term convention). On the corpus
    the stats were built from, results are IDENTICAL to the derived
    form (pinned by test).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    # tokens() lowercases and whitespace-splits the corpus, so a query
    # term carrying case or internal whitespace would match NOTHING —
    # silently, because an empty isin() result is a legal frame.
    # Normalize the case here (mirroring the corpus side) and reject
    # multi-word strings loudly: BM25 is bag-of-TERMS; phrase queries
    # need their words passed individually.
    query_terms = [t.lower() for t in query_terms]
    bad = [t for t in query_terms if not t or t.split() != [t]]
    if bad:
        raise ValueError(
            f"query_terms must be single non-empty tokens, got {bad!r}"
        )
    from clickhouse_mysql_data_reader_spark.util import fan_out

    base = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("tk"),
    ).select("doc_id", "tk", F.size("tk").cast("long").alias("dl"))
    tf = (
        base.select("doc_id", "dl", F.explode("tk").alias("term"))
        .filter(F.col("term").isin(list(query_terms)))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if stats is not None:
        # frozen collection statistics: N/total_tok from the landed
        # table via a 1-row max aggregate (the columns are constant by
        # construction — bm25_stats denormalizes the totals so one
        # parquet table is self-contained), df via a left join so a
        # term outside the frozen vocabulary scores at df=0. The
        # in-plan guard raises on an empty/zero stats table instead of
        # letting NULL totals null out every score silently.
        totals = stats.agg(
            F.max("n_docs").alias("_n"), F.max("total_tok").alias("_t")
        ).select(
            F.when(F.col("_n") > 0, F.col("_n"))
            .otherwise(
                F.raise_error(F.lit("bm25_topk: empty/zero frozen stats table"))
            )
            .alias("n_docs"),
            F.when(F.col("_t") > 0, F.col("_t"))
            .otherwise(
                F.raise_error(F.lit("bm25_topk: empty/zero frozen stats table"))
            )
            .alias("total_tok"),
        )
        dfreq = stats.select("term", "df").filter(
            F.col("term").isin(list(query_terms))
        )
        tf_df = tf.join(F.broadcast(dfreq), "term", "left").withColumn(
            "df", F.coalesce(F.col("df"), F.lit(0).cast("long"))
        )
    else:
        totals = base.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_tok"),
        )
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        tf_df = tf.join(F.broadcast(dfreq), "term")
    k1p = k1_num + k1_den
    scored = (
        tf_df
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "idf_int",
            F.expr(f"((2*n_docs - 2*df + 1) * {scale}) div (2*df + 1)"),
        )
        .withColumn("dl_norm", F.expr(f"(dl * {scale} * n_docs) div total_tok"))
        .withColumn(
            "term_score",
            F.expr(
                f"CAST(CAST(idf_int AS DECIMAL(38,0))"
                f" * (tf * {k1p} * {b_den} * {scale}) AS DECIMAL(38,0))"
                f" div ({k1_den}*{b_den}*{scale}*tf"
                f" + {k1_num}*({b_den}-{b_num})*{scale}"
                f" + {k1_num}*{b_num}*dl_norm)"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("term_score").cast("long").alias("score"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(top_k)
    )


def _longest_equal_run(arr: Column) -> Column:
    """Length of the longest run of equal elements in the SORTED array —
    i.e. the multiplicity of the most frequent element. A single
    ``aggregate`` fold over ``array_sort``: O(n log n) per row, zero
    shuffles, so the whole computation rides the scan stage."""
    return F.aggregate(
        F.array_sort(arr),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                acc["best"],
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def bigram_array(tk: Column) -> Column:
    """Length-2-slice bigram strings of a MATERIALIZED token array,
    mirrored by ``tk[i:i+1]`` (inclusive) in the DuckDB oracle; the
    greatest() guard keeps sequence() non-empty for 1-token docs
    identically on both sides."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(tk) - 1, F.lit(1))),
        lambda i: F.array_join(F.slice(tk, i, 2), " "),
    )


def repetition_flag_expr(n: Column, top_uni: Column, top_bi: Column) -> Column:
    """Gopher-style repetitive-document flag from materialized counts:
    bigram rule at the published 0.18; unigram at 0.30 (Gopher has no
    unigram rule, and prose spends 0.2+ of tokens on one stopword).
    Shared by ``repetition_stats`` and the curation gate."""
    n_bi = F.greatest(n - 1, F.lit(1))
    return (top_uni / n > 0.30) | (top_bi / n_bi > 0.18)


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    the fraction of tokens taken up by the single most frequent unigram
    and bigram, plus the duplicate-token fraction, folded into a
    repetitive-document flag. The bigram rule uses Gopher's published
    0.18 threshold; the unigram rule flags above 0.30 — Gopher has no
    unigram rule, and ordinary English prose routinely spends 0.2+ of
    its tokens on one stopword, so 0.30 marks only genuinely
    pathological single-token repetition.

    Unlike the textbook explode -> groupBy(doc, term) -> window-max
    formulation (two shuffles keyed on doc_id), every statistic here is
    a higher-order array fold PER ROW: sort the token array, take the
    longest equal run. At 100 TB this is embarrassingly parallel map
    work on the scan — no semantic shuffle, no skew sensitivity to viral
    repetitive documents, output one row per input row. (The folds are
    interpreted expressions, so an under-split small local input is
    fanned out for core parallelism — a no-op on well-split inputs.)
    """
    from clickhouse_mysql_data_reader_spark.util import fan_out

    base = fan_out(df).select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("tk")
    ).select(
        "doc_id",
        "tk",
        F.size("tk").alias("n_tokens"),
        bigram_array(F.col("tk")).alias("bg"),
    )
    # the folds are interpreted (higher-order fns don't codegen) and
    # each is referenced by TWO output columns — materialize them once
    # behind a projection boundary (CollapseProject keeps non-cheap
    # multiply-referenced aliases), or the sort+fold runs per reference
    mid = base.select(
        "doc_id",
        "n_tokens",
        _longest_equal_run(F.col("tk")).alias("top_uni"),
        _longest_equal_run(F.col("bg")).alias("top_bi"),
        F.size(F.array_distinct("tk")).alias("n_distinct"),
    )
    n = F.col("n_tokens")
    n_bi = F.greatest(n - 1, F.lit(1))
    top_uni = F.col("top_uni")
    top_bi = F.col("top_bi")
    return mid.select(
        "doc_id",
        n.alias("n_tokens"),
        (top_uni / n).alias("top_unigram_frac"),
        (top_bi / n_bi).alias("top_bigram_frac"),
        ((n - F.col("n_distinct")) / n).alias("dup_token_frac"),
        repetition_flag_expr(n, top_uni, top_bi).alias("flag_repetitive"),
    )


def gate_columns(df: DataFrame, text_col: str) -> DataFrame:
    """Attach ``quality_score`` and ``flag_repetitive`` to every row of
    ``df`` (all original columns preserved) in ONE scan with ZERO
    shuffles — the curation pipeline's per-row gate stage. Joining the
    frame-level operators back on id would shuffle the full corpus once
    per gate; this computes the identical expressions inline (shared
    helpers, so semantics can't drift from the oracle-checked queries).
    """
    from clickhouse_mysql_data_reader_spark.util import fan_out

    staged = (
        fan_out(df)
        .select("*", F.split(normalize_text(F.col(text_col)), " ").alias("_tk"))
        .select("*", bigram_array(F.col("_tk")).alias("_bg"))
        .select(
            "*",
            quality_score_expr(F.col("_tk")).alias("quality_score"),
            _longest_equal_run(F.col("_tk")).alias("_top_uni"),
            _longest_equal_run(F.col("_bg")).alias("_top_bi"),
        )
    )
    return staged.select(
        *df.columns,
        "quality_score",
        repetition_flag_expr(
            F.size("_tk"), F.col("_top_uni"), F.col("_top_bi")
        ).alias("flag_repetitive"),
    )


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every k-gram IN ORDER, then keep the minimum hash
    of each sliding window of w consecutive hashes. Guarantees any
    shared run of >= w+k-1 tokens yields a shared fingerprint, at ~1/w
    the density of full shingle sets — the local-similarity complement
    to whole-document md5 fingerprints.

    Entirely higher-order array functions per row: NO shuffle at all —
    (doc_id, fp_hash) pairs come straight out of the scan stage, so at
    100 TB this is embarrassingly parallel map work.
    """
    from clickhouse_mysql_data_reader_spark.operators.dedup import (
        shingles_from_tokens,
        tokenize,
    )
    from clickhouse_mysql_data_reader_spark.util import fan_out

    # each array is referenced multiple times -> own projection each,
    # or Catalyst's project collapsing re-runs the whole chain per
    # reference (see shingles_from_tokens)
    base = (
        fan_out(df)
        .select(F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("tk"))
        .select("doc_id", shingles_from_tokens(F.col("tk"), k).alias("sh"))
        .select(
            "doc_id",
            F.transform(
                "sh",
                lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
            ).alias("hs"),
        )
    )
    idx = F.sequence(F.lit(1), F.greatest(F.size("hs") - (w - 1), F.lit(1)))
    fps = F.array_distinct(
        F.transform(idx, lambda j: F.array_min(F.slice(F.col("hs"), j, w)))
    )
    return base.select("doc_id", F.explode(fps).alias("fp_hash"))


def token_counts(df: DataFrame, text_col: str, out_col: str = "token") -> DataFrame:
    """(token, n) corpus token-frequency table: explode + filter-empty +
    map-side-combined groupBy count — the shared corpus-scale pass of
    ``vocab_topk`` and the LM scorers."""
    from clickhouse_mysql_data_reader_spark.util import fan_out

    return (
        fan_out(df)
        .select(F.explode(tokens(F.col(text_col))).alias(out_col))
        .filter(F.col(out_col) != "")
        .groupBy(out_col)
        .agg(F.count("*").alias("n"))
    )


def token_bucket(tok: Column, dim: int) -> Column:
    """Deterministic feature-hash bucket for one token: 60-bit md5
    prefix (the shingle-hash idiom — engine-portable, no seed) modulo
    ``dim``. Hash is non-negative, so ``%`` agrees across engines."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long") % dim


def hashed_bow_expr(text: Column, dim: int, normalize: bool = True) -> Column:
    """The feature-hashing embedding as ONE Column expression over raw
    text — the inline form of ``hashed_bow_embed`` for callers that need
    a plain Column (the classifier's scan-stage scorer). Semantics are
    pinned equal to ``hashed_bow_embed`` by test (same tokens, same
    md5 buckets, same L2 normalization with the zero-norm fallback), so
    a model trained on the frame form scores identically through this.

    Shape matters here: higher-order array functions are NOT whole-stage
    codegen'd, so a per-bucket ``filter(bk, x == b)`` count would
    re-evaluate the md5 bucket array once per bucket — O(dim) hash
    passes per document. Instead the count vector is ONE ``aggregate``
    fold over the bucket array (an O(dim) array update per token, pure
    arithmetic); the bucket array is evaluated O(1) times per reference
    to the count expression."""
    bk = F.transform(tokens(text), lambda t: token_bucket(t, dim))
    cnt = F.aggregate(
        bk,
        F.array_repeat(F.lit(0.0), dim),
        lambda acc, x: F.transform(
            acc, lambda v, i: F.when(i.cast("long") == x, v + 1.0).otherwise(v)
        ),
    )
    if not normalize:
        return cnt
    l2 = F.sqrt(F.aggregate(cnt, F.lit(0.0), lambda a, x: a + x * x))
    return F.when(l2 > 0, F.transform(cnt, lambda c: c / l2)).otherwise(cnt)


def hashed_bow_embed(
    df: DataFrame,
    text_col: str,
    id_col: str,
    dim: int = 64,
    normalize: bool = True,
) -> DataFrame:
    """Hashed bag-of-words document embedding (the feature-hashing /
    "hashing trick" of Weinberger et al. 2009): token -> md5 bucket in
    [0, dim); the embedding is the per-bucket count vector, L2-
    normalized by default so downstream cosine operators (ANN top-k,
    ``near_dup_pairs``, ``semantic_dedup_decisions``) treat it like any learned
    embedding. This is the bridge from a raw text corpus to the
    embedding-similarity family when no model embeddings exist.

    Entirely in-row (zero shuffles at any scale): the token->bucket
    array is materialized ONCE per doc (one md5 per token), then the
    dim-length count vector is the SAME single ``aggregate`` fold as
    ``hashed_bow_expr`` — O(dim * n_tokens) pure-arithmetic updates per
    row, which rides the scan for the small dims feature hashing uses.
    (A per-bucket ``filter(_bk, x == b)`` count is deliberately NOT
    used: it only avoids O(dim) md5 re-evaluation while the optimizer
    declines to inline the ``_bk`` alias — a fragile assumption the
    fold never makes.) Counts and the L2 norm are exact integer
    arithmetic + one correctly-rounded sqrt/division, so values are
    bit-identical across engines (IEEE sqrt is exact-rounded).
    """
    from clickhouse_mysql_data_reader_spark.util import fan_out

    base = (
        fan_out(df, bytes_per_task=128 * 1024)
        .select(
            F.col(id_col),
            F.transform(tokens(F.col(text_col)), lambda t: token_bucket(t, dim)).alias(
                "_bk"
            ),
        )
        .select(
            id_col,
            F.aggregate(
                "_bk",
                F.array_repeat(F.lit(0.0), dim),
                lambda acc, x: F.transform(
                    acc,
                    lambda v, i: F.when(i.cast("long") == x, v + 1.0).otherwise(v),
                ),
            ).alias("_cnt"),
        )
    )
    l2 = F.sqrt(F.aggregate("_cnt", F.lit(0.0), lambda a, x: a + x * x))
    emb = (
        F.transform("_cnt", lambda c: c / l2) if normalize else F.col("_cnt")
    )
    return base.select(
        F.col(id_col),
        F.when(l2 > 0, emb).otherwise(F.col("_cnt")).alias("embedding"),
        l2.alias("l2_norm"),
    )


def ngram_boilerplate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    min_docs: int = 5,
    shingles: DataFrame | None = None,
    extra_counts: DataFrame | None = None,
) -> DataFrame:
    """Corpus-internal boilerplate detection: per-document coverage by
    k-gram shingles that appear in >= ``min_docs`` DISTINCT documents —
    the frequent-fragment analog of CCNet/RefinedWeb repeated-paragraph
    removal, at n-gram granularity so it also catches templated text
    with no line structure. Rows with high ``boiler_frac`` are
    near-copies of corpus-wide boilerplate (headers, footers, licence
    blocks) even when no single pairwise near-dup fires.

    Plan shape at 100 TB: one shingle explode (shared ``shingle_table``
    core, distinct per doc so a doc repeating its own fragment counts
    once), a map-side-combined count per shingle hash, a shingle-keyed
    join back (left to AQE: the frequent tail is small after the
    ``min_docs`` filter in web corpora, so it usually broadcasts), and
    one per-doc aggregation. The corpus text crosses the wire only as
    60-bit shingle hashes. The shingle subtree has TWO consumers (the
    frequency count and the join back), so callers with an expensive
    upstream should build ``shingle_table`` themselves, persist it with
    a lifecycle they own, and pass it via ``shingles`` — the same
    caller-owned-persist contract as ``dedup.jaccard_pairs``.

    ``extra_counts`` is the INCREMENTAL extension point: a (sh_h,
    n_docs) frame of doc-frequencies measured elsewhere (e.g. the
    landed kept-corpus counts ``curate_increment`` derives from
    ``CurationState.shingles``) summed into this frame's own counts
    before the ``min_docs`` cut — so a daily batch can gate against
    history + batch frequencies without re-scanning the corpus text.
    """
    from clickhouse_mysql_data_reader_spark.operators.dedup import shingle_table

    sh = shingles if shingles is not None else shingle_table(df, text_col, id_col, k=k)
    freq = sh.groupBy("sh_h").agg(F.count(F.lit(1)).alias("n_docs"))
    if extra_counts is not None:
        freq = (
            freq.unionByName(
                extra_counts.select("sh_h", F.col("n_docs").cast("long").alias("n_docs"))
            )
            .groupBy("sh_h")
            .agg(F.sum("n_docs").alias("n_docs"))
        )
    boiler = freq.filter(F.col("n_docs") >= min_docs)
    hits = sh.join(boiler, "sh_h", "left")
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count(F.col("n_docs")).alias("boiler_hits"),
        (F.count(F.col("n_docs")) / F.count(F.lit(1))).alias("boiler_frac"),
    )


def vocab_topk(
    df: DataFrame,
    text_col: str,
    top_n: int = 100,
    min_count: int = 1,
) -> DataFrame:
    """Corpus-wide token frequency table, top ``top_n`` by count — the
    first pass of tokenizer/vocab training and the input to Zipf-fit
    corpus diagnostics.

    Plan shape at 100 TB: explode tokens -> partial count per partition
    (map-side combine collapses each partition to its distinct tokens
    BEFORE the exchange — natural-language dedup factor ~1000x) -> final
    count -> TakeOrderedAndProject for the global top-k (per-partition
    heaps of ``top_n`` rows, never a full sort). Hot tokens ("the")
    are exactly the rows map-side combine flattens, so token skew never
    reaches the shuffle.

    Deterministic tie-break: equal counts order by token ascending.
    """
    counts = token_counts(df, text_col)
    if min_count > 1:
        counts = counts.filter(F.col("n") >= min_count)
    return counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(top_n)


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split each document into fixed-size token chunks with overlap —
    the context-window chunking step of RAG indexing and long-document
    pretraining prep (the per-document complement of
    ``sampling.pack_sequences``, which packs SHORT docs together).

    Chunk i covers tokens [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens - overlap, so consecutive chunks share
    ``overlap`` tokens and no token is lost at a boundary. The final
    partial chunk is kept (shorter than chunk_tokens); a chunk is only
    emitted if it starts inside the document, so a doc of <= chunk
    tokens yields exactly one chunk.

    Zero shuffles: token split, per-row ``sequence`` of chunk starts,
    explode, ``slice`` + ``array_join`` — all Catalyst expressions
    riding the scan, the same embarrassingly-parallel shape as the
    shingle explosion. At 100 TB the only knob that matters is input
    split sizing (``fan_out``).

    Returns (doc_id, chunk_id, n_chunk_tokens, chunk_text).
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"overlap must be in [0, chunk_tokens), got {overlap}")
    from clickhouse_mysql_data_reader_spark.util import fan_out

    stride = chunk_tokens - overlap
    base = fan_out(df).select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("tk")
    )
    n_chunks = F.greatest(
        F.lit(1),
        # ceil((n_tokens - overlap) / stride): last chunk may be partial
        F.ceil((F.size(F.col("tk")) - F.lit(overlap)) / F.lit(stride)).cast("int"),
    )
    out = base.select(
        "doc_id",
        "tk",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.slice(
            F.col("tk"), F.col("chunk_id") * stride + 1, F.lit(chunk_tokens)
        ).alias("chunk_tk"),
    )
    return out.select(
        "doc_id",
        "chunk_id",
        F.size("chunk_tk").cast("long").alias("n_chunk_tokens"),
        F.array_join("chunk_tk", " ").alias("chunk_text"),
    )


def chunk_retrieve_topk(
    docs: DataFrame,
    query: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    dim: int = 64,
    chunk_tokens: int = 64,
    overlap: int = 8,
    scale: int = 1_000_000,
) -> DataFrame:
    """RAG retrieval over raw text, end-to-end: chunk -> hashed-BoW
    embed -> cosine-ranked top-k chunks for a query string. The full
    index-free retrieval pipeline when no learned embeddings exist —
    compose with ``ivf_topk``/SRP banding once chunk vectors are landed.

    Ranking statistic: counts are integers and the query vector is a
    constant, so cos^2 ordering is computed EXACTLY as
    ``scale * dot^2 div |c|^2`` (one integer division; the bm25_topk
    determinism idiom) — no sqrt, no float fold, bit-identical across
    engines. dot >= 0 always (count vectors), so cos^2 order == cos
    order. Ties break on (doc_id, chunk_id).

    Scale shape: chunking and embedding ride the scan (zero shuffles,
    see ``chunk_documents``/``hashed_bow_expr``); the only distributed
    op is the final top-k, which plans as TakeOrderedAndProject
    (per-partition heaps, never a global sort).
    """
    import hashlib

    q_toks = query.lower().split()
    if not q_toks:
        raise ValueError("chunk_retrieve_topk: query must contain tokens")
    qv = [0] * dim
    for t in q_toks:
        # mirrors token_bucket: 60-bit md5 prefix mod dim
        qv[int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % dim] += 1
    chunks = chunk_documents(docs, text_col, id_col, chunk_tokens, overlap)
    cnt = hashed_bow_expr(F.col("chunk_text"), dim, normalize=False)
    qlit = F.array(*[F.lit(float(w)) for w in qv])
    scored = chunks.select(
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
        F.aggregate(
            F.zip_with(cnt, qlit, lambda c, q: c * q), F.lit(0.0), lambda a, x: a + x
        )
        .cast("decimal(38,0)")
        .alias("_dot"),
        F.aggregate(cnt, F.lit(0.0), lambda a, c: a + c * c)
        .cast("decimal(38,0)")
        .alias("_sumsq"),
    )
    score = F.when(
        F.col("_sumsq") > 0,
        F.expr(f"(_dot * _dot * {scale}) div _sumsq"),
    ).otherwise(F.lit(0))
    return (
        scored.select(
            "doc_id",
            "chunk_id",
            "n_chunk_tokens",
            score.cast("long").alias("score_x1e6"),
        )
        .orderBy(F.col("score_x1e6").desc(), F.col("doc_id").asc(), F.col("chunk_id").asc())
        .limit(k)
    )


def lm_surprisal(
    docs: DataFrame,
    reference: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_text_col: str | None = None,
    scale: int = 1_000_000,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Language-model quality scoring (the CCNet/KenLM filter shape,
    unigram form): score each document by how SURPRISING its tokens are
    under a reference corpus's unigram distribution — boilerplate and
    in-domain text scores low, gibberish and off-distribution text
    scores high; curation keeps the low-to-middle band.

    Token probability is add-one smoothed, ``p = (cnt+1)/(N+V)``; the
    per-token statistic is the scaled-integer INVERSE probability
    ``(scale*(N+V)) div (cnt+1)`` rather than a log: integer division
    is bit-identical across engines and integer SUMS are exact and
    order-independent, where a log-space score would inherit libm's
    1-ulp drift and float-sum ordering (the same determinism move as
    ``tfidf_top_terms``'s scaled idf; surprisal ranks documents the
    same way perplexity does, weighting rare tokens harder).

    Plan: reference pass = one map-side-combined token count (the
    ``token_counts`` core); N and V stay IN-PLAN (a broadcast crossJoin
    of the 1-row totals aggregate — no driver action, so composing
    callers like ``curate()`` keep their documented laziness); doc pass
    = explode + equi-join tokens to counts (the count table is
    vocab-sized — AQE broadcasts it) + one groupBy doc. Returns
    (doc_id, n_tokens, n_oov, surprisal) where surprisal =
    mean inverse-probability / scale (double; one terminal division).

    Overflow envelope: the per-token statistic must fit a BIGINT, i.e.
    ``scale * (N+V) <= 2^63-1`` — an in-plan guard RAISES past it (and
    on an empty reference, where every score would degenerate to 0.0)
    instead of letting non-ANSI arithmetic wrap into silently-tiny
    surprisal for exactly the worst documents. At the default scale the
    bound is a ~9-trillion-token reference; shrink ``scale`` (or prune
    rare reference tokens) beyond that. Per-DOC sums are immune
    regardless: they accumulate in DECIMAL(38,0) (DuckDB: HUGEINT),
    exact and order-independent.

    ``counts`` freezes the model (the DSIR ``logratios`` move): pass a
    landed (token, n) table — e.g. ``token_counts(...)`` written to
    parquet once — and the reference pass disappears; every daily batch
    scores against the SAME distribution without recounting the
    reference, and ``reference`` may be None. N and V still derive
    in-plan from the table (one vocab-sized aggregate, not a corpus
    scan).
    """
    from clickhouse_mysql_data_reader_spark.util import fan_out

    if counts is None and reference is None:
        raise ValueError("lm_surprisal needs a reference corpus or a frozen counts table")
    max_denom = ((1 << 63) - 1) // scale
    ref_counts = (
        counts if counts is not None else token_counts(reference, ref_text_col or text_col)
    )
    totals = ref_counts.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("_N"), F.count("*").alias("_V")
    )
    toks = fan_out(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    ).filter(F.col("token") != "")
    denom = F.col("_N") + F.col("_V")
    scored = (
        toks.join(ref_counts, "token", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn("_cnt", F.coalesce(F.col("n"), F.lit(0)))
        .withColumn(
            "_db",
            F.when((denom > 0) & (denom <= max_denom), denom).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "lm_surprisal: reference N+V out of range "
                            f"(0, {max_denom}] for scale={scale}: "
                        ),
                        denom.cast("string"),
                    )
                )
            ),
        )
        .withColumn(
            "_inv",
            F.expr(f"CAST({scale} AS BIGINT) * _db div (_cnt + 1)"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum((F.col("_cnt") == 0).cast("long")).alias("n_oov"),
        (
            F.sum(F.col("_inv").cast("decimal(38,0)")).cast("double")
            / (F.count("*") * F.lit(float(scale)))
        ).alias("surprisal"),
    )


def _token_pairs(
    df: DataFrame, tc: str, id_col: str, with_start: bool
) -> DataFrame:
    """(prev, cur) adjacent-token pairs of every row of ``df``; when
    ``with_start`` the first token appears with prev = '' (the
    doc-start sentinel — unambiguous, real tokens are non-empty) and
    doc ids are carried. Empty docs: the '' sentinel zips against a
    null pad — dropped (parity with lm_surprisal, where empty docs
    produce no rows)."""
    tk = F.filter(tokens(F.col(tc)), lambda t: t != "")
    head = F.array(F.lit("")) if with_start else F.array()
    cols = [F.col("_z._p").alias("prev"), F.col("_z._c").alias("cur")]
    base = df.select(
        *([F.col(id_col).alias("doc_id")] if with_start else []),
        F.explode(
            F.arrays_zip(
                F.concat(
                    head, F.slice(tk, 1, F.greatest(F.size(tk) - 1, F.lit(0)))
                ).alias("_p"),
                (
                    tk
                    if with_start
                    else F.slice(tk, 2, F.greatest(F.size(tk) - 1, F.lit(0)))
                ).alias("_c"),
            )
        ).alias("_z"),
    )
    return base.select(*([F.col("doc_id")] if with_start else []), *cols).filter(
        F.col("cur").isNotNull()
    )


def lm_bigram_model(reference: DataFrame, text_col: str = "text"):
    """The frozen stupid-backoff bigram model of a reference corpus:
    ``(uni, bigrams)`` where ``uni`` is the (token, n) unigram table and
    ``bigrams`` is (prev, cur, _nb, _nprev) with cnt(w1) pre-joined at
    model scale. Land both to parquet once and feed
    ``lm_surprisal_bigram(model=...)`` for every subsequent batch — the
    reference corpus is never recounted (frozen-estimator reuse, tested
    for equality with the derived-in-plan form)."""
    from clickhouse_mysql_data_reader_spark.util import fan_out

    uni = token_counts(reference, text_col)
    bigrams = (
        _token_pairs(fan_out(reference), text_col, "doc_id", with_start=False)
        .groupBy("prev", "cur")
        .agg(F.count("*").alias("_nb"))
        # pre-join cnt(w1) at MODEL scale so the doc pass needs no
        # third join; inner join — every observed bigram's w1 is in uni
        .join(
            uni.select(F.col("token").alias("prev"), F.col("n").alias("_nprev")),
            "prev",
        )
    )
    return uni, bigrams


def lm_surprisal_bigram(
    docs: DataFrame,
    reference: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_text_col: str | None = None,
    scale: int = 1_000_000,
    model: tuple | None = None,
) -> DataFrame:
    """Bigram LM quality scoring with STUPID BACKOFF (Brants et al.
    2007, "Large Language Models in Machine Translation" — the backoff
    scheme designed for exactly this distributed-counts setting): each
    token is scored by its probability GIVEN the previous token when
    the reference saw that bigram, else by alpha * its add-one-smoothed
    unigram probability (alpha = 0.4, the paper's constant). Unlike
    ``lm_surprisal`` this punishes scrambled word ORDER — two documents
    with identical token multisets score identically under the unigram
    model but the shuffled one backs off far more often here (the
    property the tests pin).

    Determinism: the same scaled-integer-INVERSE-probability move as
    ``lm_surprisal`` — per-token statistic is a BIGINT ``div`` (bigram
    path: ``scale*cnt(w1) div cnt(w1,w2)``; backoff path: the unigram
    inverse ``scale*(N+V) div (cnt+1)`` times 1/alpha as exact integer
    ``*5 div 2``), so per-doc sums are exact, order-independent
    DECIMAL(38,0) accumulations and the only float op is one terminal
    division. Doc-start tokens (no left context) take the PLAIN unigram
    inverse — no backoff penalty, they never had a bigram to miss.

    Plan: reference pass = two map-side-combined counts (unigram via
    ``token_counts``, bigram via an in-row zip of each token array with
    its own shift — the pair table never materializes per-doc rows
    before the combine); the bigram model table pre-joins cnt(w1) ONCE
    at model scale so doc scoring needs exactly two equi-joins (pair ->
    bigram model, token -> unigram counts), both vocab-sized builds
    that AQE broadcasts; N and V ride in-plan as a broadcast 1-row
    crossJoin (no driver action — composing callers stay lazy). The
    overflow envelope tightens by the backoff factor:
    ``5*scale*(N+V) <= 2^63-1`` — the in-plan guard RAISES past it, and
    on an empty reference, exactly like ``lm_surprisal``.

    Returns (doc_id, n_tokens, n_oov, n_backoff, surprisal): n_oov =
    tokens unseen as reference UNIGRAMS; n_backoff = non-initial tokens
    whose bigram was unseen (the order-sensitivity signal); surprisal =
    mean scaled-inverse-probability / scale.

    ``model`` freezes the reference LM (the DSIR ``logratios`` move):
    pass the ``lm_bigram_model(...)`` pair — typically landed to parquet
    once — and both reference passes disappear; daily batches score
    against the same distribution and ``reference`` may be None.
    """
    from clickhouse_mysql_data_reader_spark.util import fan_out

    if model is None and reference is None:
        raise ValueError(
            "lm_surprisal_bigram needs a reference corpus or a frozen model pair"
        )
    max_denom = ((1 << 63) - 1) // (5 * scale)

    uni, bigrams = (
        model
        if model is not None
        else lm_bigram_model(reference, ref_text_col or text_col)
    )
    totals = uni.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("_N"), F.count("*").alias("_V")
    )
    toks = _token_pairs(fan_out(docs), text_col, id_col, with_start=True)
    denom = F.col("_N") + F.col("_V")
    scored = (
        toks.join(bigrams, ["prev", "cur"], "left")
        .join(uni.select(F.col("token").alias("cur"), F.col("n").alias("_nc")), "cur", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn("_cnt", F.coalesce(F.col("_nc"), F.lit(0)))
        .withColumn(
            "_db",
            F.when((denom > 0) & (denom <= max_denom), denom).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "lm_surprisal_bigram: reference N+V out of range "
                            f"(0, {max_denom}] for scale={scale}: "
                        ),
                        denom.cast("string"),
                    )
                )
            ),
        )
        .withColumn("_uinv", F.expr(f"CAST({scale} AS BIGINT) * _db div (_cnt + 1)"))
        .withColumn(
            "_inv",
            F.when(
                F.col("_nb").isNotNull(),
                F.expr(f"CAST({scale} AS BIGINT) * _nprev div _nb"),
            )
            .when(F.col("prev") == "", F.col("_uinv"))
            .otherwise(F.expr("_uinv * 5 div 2")),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum((F.col("_cnt") == 0).cast("long")).alias("n_oov"),
        F.sum(
            (F.col("_nb").isNull() & (F.col("prev") != "")).cast("long")
        ).alias("n_backoff"),
        (
            F.sum(F.col("_inv").cast("decimal(38,0)")).cast("double")
            / (F.count("*") * F.lit(float(scale)))
        ).alias("surprisal"),
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_chars: int = 1,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level LINE deduplication (the C4 / RefinedWeb / MassiveText
    move: a line that appears verbatim anywhere else in the corpus is
    boilerplate — nav bars, cookie banners, licence footers — and every
    occurrence but one is removed). Keeper of each duplicated line is
    the globally FIRST occurrence, min (doc_id, line_no) — deterministic
    under any partitioning. Lines shorter than ``min_line_chars`` after
    trimming (blank separators, stray punctuation) are exempt: they are
    structure, not content, and every doc keeps its own.

    100 TB design — deliberately NOT a window over partitionBy(line):
    popular boilerplate lines are exactly the skewed keys (one cookie
    banner -> 10^8 rows in one window partition, and AQE cannot split a
    window). Instead:

    1. keeper table: ``groupBy(line).agg(min(struct(id, line_no)))`` —
       partial aggregation map-side-combines the hot lines, so a
       billion-occurrence line crosses the shuffle as one row per map
       task;
    2. keep test: equi-join of the exploded lines against the keeper
       table on the FULL triple (line, id, line_no) — the triple is
       unique on both sides, so the join has no skewed key at all;
       ineligible short lines pass the filter without consulting the
       join (LEFT join + ``short OR keeper`` predicate, one exploded
       subtree — not a union of two separately-scanned branches);
    3. reassembly: one groupBy(doc) with sort_array(collect_list) —
       line order restored exactly.

    The corpus text is scanned three times total (keeper build, keep
    test, and a projection-only per-doc line count for docs that lose
    every line) — each subtree prunes to (id, text), so at 100 TB the
    cost is 3x one column's scan plus the two content shuffles.

    Returns (id, n_lines, n_kept, text) with ``text`` rebuilt from the
    surviving lines (``sep``-joined; docs whose every line was removed
    come back with n_kept = 0 and empty text — dropping them is the
    caller's policy decision). ``sep`` picks the dedup unit: '\\n' =
    lines (the default), '\\n\\n' = paragraphs (``paragraph_dedup``).
    ``sep`` is LITERAL: it is regex-quoted at the split sites and
    rejoined verbatim, so regex-special separators ('|', '.') work
    correctly instead of silently splitting per character.
    """
    lines, totals = _line_explode(docs, text_col, id_col, sep)
    survivors = _batch_line_keep(lines, _line_elig(min_line_chars))
    return _reassemble_lines(totals, survivors, text_col, id_col, sep)


def paragraph_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-level PARAGRAPH deduplication (the RefinedWeb companion
    of the line pass): the dedup unit is a blank-line-separated
    paragraph instead of a single line — templated multi-line blocks
    (licence paragraphs, author bios, promo blocks) keep only their
    globally-first occurrence. Identical skew-proof machinery as
    ``line_dedup`` at ``sep='\\n\\n'`` granularity; reassembly rejoins
    with the same separator (runs of 3+ newlines normalize to exactly
    one blank line, as the public implementations do). Incremental
    form: ``line_dedup_increment(sep='\\n\\n')`` — and
    ``CurationConfig.line_dedup_sep`` runs the curation stage-0 pass
    at paragraph granularity on every path (batch / increment /
    streaming), with the batch-parity equivalence pinned by test."""
    return line_dedup(
        docs, text_col, id_col, min_line_chars=min_chars, sep="\n\n"
    )


def _sep_regex(sep: str) -> str:
    """Literal-quote the unit separator for ``F.split`` (Java regex
    ``\\Q..\\E``): ``F.split`` treats its pattern as a regex while
    reassembly rejoins the separator literally, so an unquoted
    regex-special separator ('|', '.') would silently split
    per-character and corrupt the corpus instead of failing. Quoting
    makes every separator mean exactly its literal characters at both
    the split and the join."""
    if not isinstance(sep, str) or not sep:
        raise ValueError(
            f"line-dedup separator must be a non-empty string, got {sep!r}"
        )
    return "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _line_explode(docs: DataFrame, text_col: str, id_col: str, sep: str = "\n"):
    """Shared stage of the batch/incremental line dedup pair: the
    exploded (doc_id, line_no, line) frame and the projection-only
    per-doc line-count frame, both off one fan_out of the input.
    ``sep`` is the LITERAL unit separator ('\\n' = lines, '\\n\\n' =
    paragraphs) — regex-quoted at the split sites via ``_sep_regex``."""
    from clickhouse_mysql_data_reader_spark.util import fan_out

    pat = _sep_regex(sep)
    fanned = fan_out(docs)
    lines = fanned.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), pat)).alias("line_no", "line"),
    )
    totals = fanned.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), pat)).cast("long").alias("n_lines"),
    )
    return lines, totals


def _line_elig(min_line_chars: int) -> Column:
    return F.length(F.trim(F.col("line"))) >= min_line_chars


def _batch_line_keep(lines: DataFrame, elig: Column) -> DataFrame:
    """Within-corpus keeper election + keep test (the skew-proof core
    both ``line_dedup`` and ``line_dedup_increment`` share): keeper =
    min (doc, line_no) via a map-side-combined aggregate, keep test =
    LEFT join on the unique (line, doc, pos) triple with short lines
    passing the filter without consulting the join."""
    keepers = (
        lines.filter(elig)
        .groupBy("line")
        .agg(F.min(F.struct("doc_id", "line_no")).alias("_k"))
        .select(
            "line",
            F.col("_k.doc_id").alias("doc_id"),
            F.col("_k.line_no").alias("line_no"),
            F.lit(True).alias("_keep"),
        )
    )
    return (
        lines.join(keepers, ["line", "doc_id", "line_no"], "left")
        .filter(~elig | F.col("_keep").isNotNull())
        .drop("_keep")
    )


def _reassemble_lines(
    totals: DataFrame, survivors: DataFrame, text_col: str, id_col: str,
    sep: str = "\n",
) -> DataFrame:
    kept_agg = survivors.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("line_no", "line"))).alias("_ls")
    )
    # LEFT join: a doc whose every line was a non-keeper duplicate has
    # no kept rows but must still come back (n_kept = 0, empty text)
    return totals.join(kept_agg, "doc_id", "left").select(
        F.col("doc_id").alias(id_col),
        F.col("n_lines"),
        F.coalesce(F.size("_ls"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(
            F.array_join(F.transform("_ls", lambda s: s["line"]), sep), F.lit("")
        ).alias(text_col),
    )


def ccnet_buckets(
    docs: DataFrame,
    reference: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    cuts: tuple = (1.0 / 3.0, 2.0 / 3.0),
    approx: bool = False,
    scale: int = 1_000_000,
    counts: DataFrame | None = None,
    thresholds: tuple | None = None,
    storage=None,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document with ``lm_surprisal`` against ``reference`` (default:
    the corpus itself) and label it head / middle / tail by the corpus's
    own surprisal distribution — the standard "keep the head, sample the
    middle, drop the tail" LM-data selection move.

    The cut thresholds stay IN-PLAN: a 1-row exact-``percentile``
    aggregate broadcast-crossJoined onto the scored frame (the
    ``lm_surprisal`` totals trick), so composing callers stay lazy and
    no driver action runs. The price of in-plan laziness: the scored
    subtree (explode + joins + per-doc agg over the whole corpus) feeds
    BOTH the threshold aggregate and the output projection, so each
    action scores the corpus twice — callers at scale should persist or
    checkpoint the scored input themselves (the same caller-owned
    lifecycle as the curation LM gate; an internal persist would have
    no release point). ``approx=True`` swaps in
    ``approx_percentile`` — the 100 TB path: exact percentile
    accumulates per-partition value buffers, where the t-digest sketch
    is O(1) memory per partition; buckets near the cut may then differ
    by the sketch's rank error, which selection-by-band tolerates.

    Returns (id, n_tokens, surprisal, bucket) with bucket in
    ('head', 'middle', 'tail'); docs with zero tokens have no surprisal
    row and are absent, as in ``lm_surprisal``.

    Production incremental shape (the paper's actual deployment): pass
    ``counts`` (a frozen ``token_counts`` table) AND ``thresholds``
    (the (p_lo, p_hi) surprisal values measured ONCE on a reference
    snapshot) — every daily batch is then bucketed by the same frozen
    model and the same cut values, the corpus is scored exactly once
    per action, and batch composition cannot shift the bands.
    """
    if thresholds is not None:
        if not float(thresholds[0]) <= float(thresholds[1]):
            # inverted cut values would silently make 'middle' unreachable
            raise ValueError(
                f"thresholds must satisfy lo <= hi, got {thresholds}"
            )
    else:
        lo, hi = cuts
        if not 0.0 < lo < hi < 1.0:
            raise ValueError(f"cuts must satisfy 0 < lo < hi < 1, got {cuts}")
    scored = lm_surprisal(
        docs,
        reference if reference is not None else (docs if counts is None else None),
        text_col=text_col, id_col=id_col, scale=scale, counts=counts,
    )
    # ``storage`` (e.g. StorageLevel.MEMORY_AND_DISK) persists the
    # scored frame across its two consumers (threshold aggregate +
    # output projection) — the caller-owned-lifecycle seam the
    # docstring prescribes (unpersist/clearCache after the action);
    # moot when frozen ``thresholds`` are passed (single consumer).
    if storage is not None and thresholds is None:
        scored = scored.persist(storage)
    if thresholds is not None:
        t_lo, t_hi = thresholds
        th = scored.sparkSession.createDataFrame(
            [(float(t_lo), float(t_hi))], "_p_lo double, _p_hi double"
        )
    else:
        pfn = F.approx_percentile if approx else F.percentile
        th = scored.agg(
            pfn("surprisal", F.lit(lo)).alias("_p_lo"),
            pfn("surprisal", F.lit(hi)).alias("_p_hi"),
        )
    return scored.crossJoin(F.broadcast(th)).select(
        F.col("doc_id").alias(id_col),
        "n_tokens",
        "surprisal",
        F.when(F.col("surprisal") <= F.col("_p_lo"), F.lit("head"))
        .when(F.col("surprisal") <= F.col("_p_hi"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def exact_substring_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 32,
    min_count: int = 2,
) -> DataFrame:
    """ExactSubstr deduplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): any ``window``-token
    span whose exact content appears ``min_count``+ times in the corpus
    (across OR within documents) is removed from every occurrence but
    the globally first — licence blocks, quoted reposts, templated
    paragraphs vanish while each survives once. The paper builds a
    suffix array; the distributed re-expression fingerprints every
    W-token window and dedups fingerprints, which finds exactly the
    duplicated spans of length >= W (longer shared spans are covered by
    their overlapping windows, and the per-doc index-union excises them
    as one merged range).

    Shape (all deterministic):

    1. windows: posexplode of sequence(0, n-W) -> md5-prefix fingerprint
       of the W-token slice. O(n_tokens * W) hashing — the honest cost
       of windowing without a suffix array; at 100 TB pick W once, pay
       one scan of W x text bytes through xxhash-class hashing.
    2. keeper: groupBy(fp) -> count + min(struct(doc, start)) —
       map-side combined, so a million-occurrence licence block crosses
       the shuffle as one row per map task (the line_dedup move).
    3. marks: windows join duplicated-fps on fp, keep non-keeper
       occurrences. A pathologically hot fingerprint skews this join's
       fp key — AQE's skew-join split applies (sort-merge side), unlike
       a window-function formulation which would be unsplittable.
    4. excision: per doc, union the marked windows' token indices
       (flatten + array_distinct), then filter the token array by
       position and rejoin. Output text is rebuilt from NORMALIZED
       tokens for every doc (the paper operates on the tokenized
       corpus); docs shorter than W are untouched by construction.

    Returns (id, n_tokens, n_dropped, text).
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")

    base, wins = _token_windows(docs, text_col, id_col, window)
    dups = (
        wins.groupBy("_fp")
        .agg(F.count("*").alias("_c"), F.min(F.struct("doc_id", "_s")).alias("_k"))
        .filter(F.col("_c") >= min_count)
        .select("_fp", F.col("_k.doc_id").alias("_kd"), F.col("_k._s").alias("_ks"))
    )
    marks = (
        wins.join(dups, "_fp")
        .filter(~((F.col("doc_id") == F.col("_kd")) & (F.col("_s") == F.col("_ks"))))
        .select("doc_id", "_s")
    )
    return _excise_marked(base, marks, window, text_col, id_col)


def _token_windows(docs, text_col: str, id_col: str, window: int):
    """Shared stage of the span-excision pair (``exact_substring_dedup``
    / ``span_decontaminate``): the tokenized base frame and every
    W-token window's (doc_id, start, 60-bit md5-prefix fingerprint)."""
    from clickhouse_mysql_data_reader_spark.util import fan_out

    base = fan_out(docs).select(
        F.col(id_col).alias("doc_id"),
        F.filter(tokens(F.col(text_col)), lambda t: t != "").alias("_tk"),
    )
    wins = base.filter(F.size("_tk") >= window).select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(0), F.size("_tk") - window)).alias("_i", "_s"),
        F.col("_tk"),
    ).select(
        "doc_id",
        F.col("_s"),
        F.conv(
            F.substring(
                F.md5(F.array_join(F.slice("_tk", F.col("_s") + 1, window), " ")), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .alias("_fp"),
    )
    return base, wins


def _excise_marked(
    base: DataFrame, marks: DataFrame, window: int, text_col: str, id_col: str
) -> DataFrame:
    """Shared excision stage: union the marked windows' token indices
    per doc, filter the token array by position, rebuild the text.
    Returns (id, n_tokens, n_dropped, text)."""
    drops = marks.groupBy("doc_id").agg(
        F.array_distinct(
            F.flatten(
                F.collect_list(F.sequence(F.col("_s"), F.col("_s") + window - 1))
            )
        ).alias("_drop")
    )
    out = base.join(drops, "doc_id", "left").withColumn(
        "_drop", F.coalesce(F.col("_drop"), F.array().cast("array<int>"))
    )
    # kept indices via hash-based array_except (linear in n + |drop| and
    # order-preserving on the sorted sequence) — NOT a per-token
    # array_contains scan, which is O(n * |drop|) and goes quadratic on
    # a heavily-duplicated document
    keep_idx = F.array_except(
        F.sequence(F.lit(0), F.size("_tk") - 1), F.col("_drop")
    )
    kept = F.transform(keep_idx, lambda i: F.element_at("_tk", i + 1))
    return out.select(
        F.col("doc_id").alias(id_col),
        F.size("_tk").cast("long").alias("n_tokens"),
        F.size("_drop").cast("long").alias("n_dropped"),
        F.when(F.size("_tk") > 0, F.array_join(kept, " "))
        .otherwise(F.lit(""))
        .alias(text_col),
    )


def span_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 13,
) -> DataFrame:
    """SPAN-level benchmark decontamination (the GPT-3 appendix-C move,
    Brown et al. 2020: remove every 13-gram collision with the eval
    sets): any ``window``-token span of a corpus document whose exact
    content appears anywhere in ``benchmark`` is excised from the
    corpus — ALL matching occurrences leave (no keeper; the benchmark
    owns the span), while the document's unique remainder survives.
    The surgical alternative to ``corpus_contamination``'s whole-doc
    drop when eval items are quoted inside otherwise-good documents.

    Shape: the corpus side is ``exact_substring_dedup``'s window
    fingerprinting (shared ``_token_windows``/``_excise_marked``
    helpers — the two operators cannot drift); the benchmark side is a
    distinct fingerprint set, BROADCAST into a semi-join against the
    corpus windows. At 100 TB the corpus is scanned, never shuffled on
    content — the same small-side-broadcast direction as
    ``corpus_contamination`` (the benchmark is eval-set-sized); the
    only corpus-keyed shuffle is the per-doc excision aggregate.

    Returns (id, n_tokens, n_dropped, text) over NORMALIZED tokens,
    like ``exact_substring_dedup``; docs shorter than ``window`` are
    untouched by construction.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    base, wins = _token_windows(corpus, text_col, id_col, window)
    _, bwins = _token_windows(benchmark, text_col, id_col, window)
    bench_fps = bwins.select("_fp").distinct()
    marks = wins.join(F.broadcast(bench_fps), "_fp", "left_semi").select(
        "doc_id", "_s"
    )
    return _excise_marked(base, marks, window, text_col, id_col)


def _line_fp_expr() -> Column:
    """60-bit md5-prefix fingerprint (the shingle-hash idiom) of the
    ``line`` column — shared by ``line_fingerprints`` and the history
    probe so state writes and reads can never hash differently."""
    return F.conv(F.substring(F.md5("line"), 1, 15), 16, 10).cast("long")


def line_fingerprints(kept_lines: DataFrame) -> DataFrame:
    """Distinct fingerprints of a (line) column — the compact state
    `line_dedup_increment` carries between batches instead of raw line
    text."""
    return kept_lines.select(_line_fp_expr().alias("line_fp")).distinct()


def line_dedup_increment(
    new_docs: DataFrame,
    landed_fps: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_chars: int = 1,
    sep: str = "\n",
) -> tuple[DataFrame, DataFrame]:
    """Incremental ``line_dedup`` — the production daily-batch shape: a
    line in the new batch is removed when its fingerprint is already in
    ``landed_fps`` (history holds the keeper) OR it is a non-keeper
    duplicate WITHIN the batch; short lines stay exempt. Returns
    ``(cleaned, new_fps)`` where ``cleaned`` has the batch-``line_dedup``
    schema (id, n_lines, n_kept, text) and ``new_fps`` is the
    (line_fp: long) table of this batch's surviving eligible lines —
    append it to the landed state so the next batch dedups against it
    (caller owns the state lifecycle, like ``lsh_candidate_pairs``'
    caller-owned persist). ``landed_fps=None`` bootstraps batch one.

    Equivalence invariant (pinned by test): when doc ids are assigned in
    batch order, running batches incrementally produces exactly what one
    batch ``line_dedup`` over the concatenated corpus would — history
    keepers are the global min-(doc, line_no) keepers.

    Same skew discipline as the batch form: within-batch keeper election
    is the map-side-combined aggregate; the history check is an
    anti-join on the 60-bit fingerprint (uniformly distributed — no hot
    key even for a boilerplate line, since the state holds ONE row per
    distinct line). Compose with ``membership.might_contain`` to route
    definite-miss lines around the shuffle when the state grows large.

    ``sep`` picks the dedup unit like the batch form ('\\n\\n' =
    paragraphs). (sep, min_line_chars) define what a landed
    fingerprint MEANS, so they must stay constant for one state's
    lifetime — mixing units against the same ``landed_fps`` silently
    never matches (different fingerprint domains).
    """
    lines, totals = _line_explode(new_docs, text_col, id_col, sep)
    elig = _line_elig(min_line_chars)
    batch_kept = _batch_line_keep(lines, elig)

    if landed_fps is not None:
        tagged = batch_kept.withColumn("_fp", _line_fp_expr()).withColumn("_el", elig)
        hist = landed_fps.select(F.col("line_fp").alias("_fp"))
        survivors = (
            tagged.join(hist.withColumn("_seen", F.lit(True)), "_fp", "left")
            .filter(~F.col("_el") | F.col("_seen").isNull())
            .select("doc_id", "line_no", "line")
        )
    else:
        survivors = batch_kept.select("doc_id", "line_no", "line")

    cleaned = _reassemble_lines(totals, survivors, text_col, id_col, sep)
    new_fps = line_fingerprints(survivors.filter(elig).select("line"))
    return cleaned, new_fps


def corpus_stats(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str | None = "source",
    hist_bucket_tokens: int = 64,
) -> DataFrame:
    """One-pass per-source corpus report — the monitoring aggregate
    every pipeline run emits before/after curation: doc and token and
    char totals, empties, token-length extremes, and a coarse
    token-length histogram (docs per ``hist_bucket_tokens``-wide band,
    as a 'bucket:count' string so the row stays flat and
    engine-comparable). Everything is one scan + one map-side-combined
    aggregate: counts and sums are exact integers, the only doubles are
    the two terminal averages. ``source_col=None`` reports one global
    row under source '_all'."""
    if hist_bucket_tokens <= 0:
        raise ValueError(
            f"hist_bucket_tokens must be positive, got {hist_bucket_tokens}"
        )
    src = (
        F.col(source_col) if source_col else F.lit("_all")
    ).alias("source")
    base = docs.select(
        src,
        token_count(F.col(text_col)).cast("long").alias("_nt"),
        F.length(F.col(text_col)).cast("long").alias("_nc"),
        (F.length(F.trim(F.col(text_col))) == 0).cast("long").alias("_empty"),
    ).withColumn("_bucket", F.expr(f"_nt div {int(hist_bucket_tokens)}"))
    per_bucket = base.groupBy("source", "_bucket").agg(
        F.count("*").alias("_bn"),
        F.sum("_nt").alias("_bt"),
        F.sum("_nc").alias("_bc"),
        F.sum("_empty").alias("_be"),
        F.min("_nt").alias("_bmin"),
        F.max("_nt").alias("_bmax"),
    )
    return per_bucket.groupBy("source").agg(
        F.sum("_bn").alias("n_docs"),
        F.sum("_bt").alias("n_tokens"),
        F.sum("_bc").alias("n_chars"),
        F.sum("_be").alias("n_empty"),
        F.min("_bmin").alias("min_tokens"),
        F.max("_bmax").alias("max_tokens"),
        (F.sum("_bt").cast("double") / F.sum("_bn")).alias("avg_tokens"),
        (F.sum("_bc").cast("double") / F.sum("_bn")).alias("avg_chars"),
        # bucket zero-padded so lexicographic array_sort == numeric
        # order; the collected list is bucket-count-sized (bounded by
        # max_tokens/width), never doc-sized
        F.array_join(
            F.array_sort(
                F.collect_list(
                    F.concat_ws(
                        ":",
                        F.lpad(F.col("_bucket").cast("string"), 9, "0"),
                        F.col("_bn"),
                    )
                )
            ),
            ",",
        ).alias("token_hist"),
    )


def collapse_repeated_lines(text: Column, min_line_chars: int = 1) -> Column:
    """WITHIN-document cleaner: collapse consecutive duplicate lines
    (scrapers frequently emit the same nav/header line back-to-back) —
    one in-row array fold, zero shuffles, riding whatever scan produces
    ``text``. Lines shorter than ``min_line_chars`` after trimming are
    never collapsed (blank separators are structure). The CORPUS-level
    companion is ``line_dedup``; this one needs no global state at all,
    so it belongs with the expression gates.
    """
    ln = F.split(text, "\n")
    idx = F.sequence(F.lit(0), F.size(ln) - 1)
    keep = F.filter(
        idx,
        lambda i: (i == 0)
        | (F.element_at(ln, i + 1) != F.element_at(ln, i))
        | (F.length(F.trim(F.element_at(ln, i + 1))) < min_line_chars),
    )
    collapsed = F.array_join(
        F.transform(keep, lambda i: F.element_at(ln, i + 1)), "\n"
    )
    # split("") is [""] so ln is never empty; still guard for null text
    return F.when(text.isNotNull(), collapsed)


#: tiny function-word families per language — enough signal for a
#: density argmax on real prose; production swaps in fastText/CLD.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": EN_STOPWORDS,
    "fr": ("le", "la", "les", "de", "des", "et", "un", "une", "est", "dans"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "von"),
    "es": ("el", "la", "los", "las", "de", "y", "un", "una", "es", "en"),
}


def lang_id_multi(
    col: Column,
    lang_stopwords: dict[str, tuple[str, ...]] | None = None,
    min_ratio: float = 0.05,
    mixed_margin: float = 0.5,
) -> Column:
    """Multi-language function-word ID: a struct
    (lang, best_ratio, second_ratio, is_mixed) — argmax of per-language
    stopword density over the SAME token array (built once, each
    family folds over it in-place; adding a language costs one
    expression, not a pass). ``lang`` is 'unk' when no family reaches
    ``min_ratio``; ``is_mixed`` flags docs whose runner-up density is
    within ``mixed_margin`` of the winner's — the code-switched /
    concatenated-document shape a per-language corpus split must route
    to review rather than to either bucket. Deterministic tie-break:
    equal ratios resolve to the lexicographically smallest language
    code. Zero shuffles, rides the scan like `lang_id` (which this
    generalizes; that one stays as the cheap en-vs-unk gate).

    Expression shape (round-10 rework, ~10x): higher-order array
    functions are NOT whole-stage-codegen'd AND every expression-level
    reference re-evaluates its whole subtree — the original
    per-language ``filter(tk, isin)`` referenced from four output
    fields re-ran the tokenizer + token scan ~16x per row (measured
    4.3s vs text_lang_id's 0.4s at sf0.1). Now ONE ``aggregate`` fold
    counts every family's hits in a single pass over the tokens, and
    the 1-element-``transform`` trick let-binds the token array and
    the counts struct so each is computed once per row no matter how
    many output fields read them — the hashed_bow_expr discipline."""
    langs = LANG_STOPWORDS if lang_stopwords is None else lang_stopwords
    if not langs:
        raise ValueError("lang_id_multi: no language families")
    codes = sorted(langs)
    tk = F.coalesce(tokens(col), F.array().cast("array<string>"))

    def _with_counts(arr: Column) -> Column:
        # one fold over the bound token array: per-language hit counts
        cnt = F.aggregate(
            arr,
            F.struct(*[F.lit(0).alias(c) for c in codes]),
            lambda acc, t: F.struct(
                *[
                    (acc[c] + t.isin(*langs[c]).cast("int")).alias(c)
                    for c in codes
                ]
            ),
        )
        n = F.greatest(F.size(arr), F.lit(1))
        return F.transform(F.array(cnt), lambda c: _verdict(c, n))[0]

    def _verdict(c: Column, n: Column) -> Column:
        # everything below is arithmetic over the bound |langs|-field
        # counts struct — re-references cost integer ops, not token
        # scans. Same argmax/tie-break/mixed semantics as always
        # (equality pinned by the DuckDB oracle of text_lang_multi).
        scored = F.array(
            *[
                F.struct((c[lang] / n).alias("ratio"), F.lit(lang).alias("lang"))
                for lang in codes
            ]
        )
        # struct sort is field-order ascending, so take the max ratio
        # then min lang among its holders explicitly
        best_ratio = F.array_max(F.transform(scored, lambda s: s["ratio"]))
        winners = F.filter(scored, lambda s: s["ratio"] == best_ratio)
        best_lang = F.array_min(F.transform(winners, lambda s: s["lang"]))
        runners = F.filter(scored, lambda s: s["lang"] != best_lang)
        second_ratio = F.coalesce(
            F.array_max(F.transform(runners, lambda s: s["ratio"])), F.lit(0.0)
        )
        return F.struct(
            F.when(best_ratio >= min_ratio, best_lang)
            .otherwise(F.lit("unk"))
            .alias("lang"),
            F.round(best_ratio, 6).alias("best_ratio"),
            F.round(second_ratio, 6).alias("second_ratio"),
            (
                (best_ratio >= min_ratio)
                & (second_ratio >= best_ratio * mixed_margin)
                & (second_ratio > 0)
            ).alias("is_mixed"),
        )

    # let-bind the token array itself too: tokenize ONCE per row even
    # when callers read several struct fields
    return F.transform(F.array(tk), _with_counts)[0]


# HTML -> text extraction: patterns are RE2-SAFE (no backreferences, no
# lookaround) so the DuckDB oracle runs them verbatim; inline (?is)
# flags map to DuckDB's 'is' option letters. Order matters: script and
# style BODIES go first (their content may contain '<'), then comments,
# then remaining tags, then entity decode with &amp; LAST (so '&amp;lt;'
# decodes to the literal '&lt;', not '<').
HTML_SCRIPT_RE = r"(?is)<script[^>]*>.*?</script>"
HTML_STYLE_RE = r"(?is)<style[^>]*>.*?</style>"
HTML_COMMENT_RE = r"(?s)<!--.*?-->"
HTML_TAG_RE = r"(?s)<[^>]+>"
HTML_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def html_to_text(col: Column) -> Column:
    """Strip an HTML document column to its text: drop script/style
    bodies, comments and tags (each replaced by a space so adjacent
    text nodes never fuse into one token), decode the six entities that
    dominate real web text, collapse whitespace. The web-pipeline
    extraction step in front of every text gate — at 100 TB this is
    scan-stage expression work (zero shuffles, rides whole-stage
    codegen), not a parser UDF; documents needing real DOM fidelity
    route through a mapInPandas seam like the multimodal decoders.
    """
    c = F.regexp_replace(col, HTML_SCRIPT_RE, " ")
    c = F.regexp_replace(c, HTML_STYLE_RE, " ")
    c = F.regexp_replace(c, HTML_COMMENT_RE, " ")
    c = F.regexp_replace(c, HTML_TAG_RE, " ")
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


#: tracking-parameter NAMES stripped by url_normalize — the
#: query-string noise that makes one page look like many distinct URLs
#: (the canonical web-crawl dedup hazard). Matched only as WHOLE
#: parameter names anchored on a ``?``/``&`` separator and only inside
#: the query string, so suffix-coincidences (``myutm_source=``,
#: ``xgclid=``) and path text never match. RE2-safe alternation,
#: shared verbatim with the oracle.
URL_TRACKING_PARAM_NAMES = r"(utm_[a-z]+|fbclid|gclid|ref_src)"


def _strip_default_port(host: Column, scheme: Column) -> Column:
    """Strip the port only when it is the DEFAULT for the scheme:
    ``:80`` for http, ``:443`` for https. ``http://h:443/x`` is a
    real, distinct origin from ``http://h/x`` and must survive —
    unconditional stripping over-merges the dedup identity key."""
    return (
        F.when(
            (scheme == F.lit("http")) & host.rlike(r":80$"),
            F.regexp_replace(host, r":80$", ""),
        )
        .when(
            (scheme == F.lit("https")) & host.rlike(r":443$"),
            F.regexp_replace(host, r":443$", ""),
        )
        .otherwise(host)
    )


def url_host(col: Column) -> Column:
    """Lowercased host (authority) of a URL, scheme-default ports
    stripped (``:80`` for http, ``:443`` for https — non-default
    ports are part of the origin and stay) — the blocking/grouping
    key of URL-level operations (per-site caps, host blocklists,
    crawl budgeting)."""
    scheme = F.lower(F.regexp_extract(col, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))
    return _strip_default_port(host, scheme)


def url_normalize(col: Column) -> Column:
    """Canonicalize a URL for identity comparison — the step in front
    of URL-level dedup in every web-crawl pipeline (one page arrives
    under dozens of spellings: mixed-case scheme/host, tracking
    params, fragments, default ports):

    1. drop the fragment (``#...`` is client-side only),
    2. lowercase the scheme and host (path stays case-SENSITIVE —
       lowercasing it would merge genuinely distinct pages),
    3. strip the scheme's DEFAULT port only (``:80`` for http,
       ``:443`` for https; ``http://h:443`` is a distinct origin and
       survives),
    4. strip tracking parameters (``URL_TRACKING_PARAM_NAMES``) from
       the QUERY STRING only, each anchored on its ``?``/``&``
       separator — path text and suffix-coincident names
       (``myutm_source``) never match — then the separator debris
       (``?&``, trailing ``?``/``&``).

    Pure scan-stage regexp expressions, RE2-safe (no backrefs or
    lookaround) so the oracle runs the identical patterns; zero
    shuffles — rides the scan exactly like ``html_to_text``.
    """
    u = F.regexp_replace(col, r"#.*$", "")
    head = F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    scheme = F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    rest = F.substring(u, F.length(head) + F.lit(1), F.lit(1 << 30))
    head = _strip_default_port(F.lower(head), scheme)
    # split path from query so the param strip can't touch path text
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    qs = F.substring(rest, F.length(path) + F.lit(1), F.lit(1 << 30))
    # 1) '&'-anchored occurrences drop with their separator;
    # 2) a tracking param in FIRST position hands '?' to the next
    #    param; 3) a sole surviving '?param' drops entirely
    qs = F.regexp_replace(qs, r"&" + URL_TRACKING_PARAM_NAMES + r"=[^&#]*", "")
    qs = F.regexp_replace(qs, r"\?" + URL_TRACKING_PARAM_NAMES + r"=[^&#]*&", "?")
    qs = F.regexp_replace(qs, r"\?" + URL_TRACKING_PARAM_NAMES + r"=[^&#]*$", "")
    qs = F.regexp_replace(qs, r"\?&+", "?")
    qs = F.regexp_replace(qs, r"[?&]+$", "")
    return F.concat(head, path, qs)
