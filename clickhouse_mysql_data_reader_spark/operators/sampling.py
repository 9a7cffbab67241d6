"""Deterministic hash-based sampling and dataset splitting.

Training-data pipelines need sampling that is REPRODUCIBLE (same rows
selected on every run, every retry, every engine) and INDEPENDENT
across uses (the 10% quality-audit sample must not correlate with the
80/10/10 train split). Spark's ``df.sample`` is seeded per-partition —
its membership changes whenever partitioning changes — so these
operators hash a stable business key instead:

    keep row  <=>  first 8 hex chars of md5(salt || key)  <  threshold

md5 is identical in Spark and DuckDB (unlike murmur3/xxhash), the 8-hex
prefix is uniform over [0, 16^8), and comparing equal-length lowercase
hex strings lexicographically IS numeric comparison — so the exact same
rows are selected by the SQL oracle, by a retried stage, and by a
different engine entirely. Different ``salt`` values give independent
hash functions (per-use decorrelation).

At 100 TB all of this is a per-row expression on the scan — zero
shuffles, trivially pushed into the first stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

HEX_SPAN = 16**8  # 8-hex-digit space


def _hex_threshold(rate: float) -> str:
    """Exclusive upper bound for an 8-hex-digit hash prefix, as a
    lexicographically-comparable lowercase hex literal."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    return format(int(rate * HEX_SPAN), "08x")


def hash_bucket(key: Column, salt: str) -> Column:
    """First 8 hex chars of md5(salt || key) — the uniform [0,16^8)
    draw every sampling decision is made against."""
    return F.substring(F.md5(F.concat(F.lit(salt + ":"), key.cast("string"))), 1, 8)


def sample_condition(key: Column, rate: float, salt: str = "sample") -> Column:
    """Boolean keep-condition selecting ~``rate`` of rows, deterministic
    in the key. rate=1.0 keeps everything, rate=0.0 nothing."""
    if rate >= 1.0:
        return F.lit(True)
    if rate <= 0.0:
        return F.lit(False)
    return hash_bucket(key, salt) < F.lit(_hex_threshold(rate))


def stratified_sample_condition(
    key: Column,
    stratum: Column,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "sample",
) -> Column:
    """Per-stratum keep-condition (e.g. downsample 'view' events to 10%
    but keep every 'purchase'). One hash per row regardless of the
    number of strata."""
    cond = sample_condition(key, default_rate, salt)
    for value, rate in sorted(rates.items()):
        cond = F.when(stratum == F.lit(value), sample_condition(key, rate, salt)).otherwise(cond)
    return cond


def hash_split(key: Column, fractions: dict[str, float], salt: str = "split") -> Column:
    """Assign each row a split label ('train'/'val'/'test'...) by hash
    range. Fractions must sum to 1; the last listed split absorbs any
    rounding remainder. Assignment is a pure function of the key — a
    document lands in the same split in every run and every engine, the
    property that keeps eval sets leak-free across pipeline reruns."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    bucket = hash_bucket(key, salt)
    names = list(fractions)
    expr: Column | None = None
    cum = 0.0
    for name in names[:-1]:
        cum += fractions[name]
        branch = bucket < F.lit(_hex_threshold(cum))
        expr = F.when(branch, F.lit(name)) if expr is None else expr.when(branch, F.lit(name))
    last = F.lit(names[-1])
    return last if expr is None else expr.otherwise(last)


def hex_threshold_expr(rate: Column) -> Column:
    """Runtime analogue of ``_hex_threshold`` for DATA-DEPENDENT rates
    (e.g. computed from per-source token totals): the exclusive 8-hex
    upper bound as an expression. Callers must short-circuit rate >= 1
    (16^8 would need 9 hex digits); floor/hex/lpad/lower all have exact
    DuckDB equivalents, so oracle parity holds for computed rates too."""
    return F.lower(
        F.lpad(F.hex(F.floor(rate * F.lit(float(HEX_SPAN))).cast("bigint")), 8, "0")
    )


def _mixture_base(
    df: DataFrame, token_count_col: Column, key_col: str, source_col: str
) -> DataFrame:
    """(source, _k, n_tokens) projection shared by the mixture
    operators — the only per-row columns any of them touch."""
    return df.select(
        F.col(source_col).alias("source"),
        F.col(key_col).alias("_k"),
        token_count_col.cast("bigint").alias("n_tokens"),
    )


def _apply_rates_report(
    base: DataFrame,
    rates: DataFrame,
    salt: str,
    report_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Shared keep + per-source report of the mixture operators: join
    the few-row ``rates`` frame (source, rate, ...) broadcast onto
    ``base`` (``_mixture_base`` shape), apply the deterministic md5
    draw at ``rate`` (short-circuiting rate >= 1, which an 8-hex
    threshold cannot express), and aggregate the standard per-source
    before/after report. ``report_cols`` are per-source constants of
    ``rates`` carried through the report with max()."""
    joined = base.join(F.broadcast(rates), "source")
    keep = (F.col("rate") >= 1.0) | (
        hash_bucket(F.col("_k"), salt) < hex_threshold_expr(F.col("rate"))
    )
    return (
        joined.withColumn("keep", keep)
        .groupBy("source")
        .agg(
            *[F.max(c).alias(c) for c in report_cols],
            F.max("rate").alias("rate"),  # constant within a source
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_docs_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0)).alias(
                "n_tokens_kept"
            ),
        )
    )


def mixture_sample(
    df: DataFrame,
    token_count_col: Column,
    key_col: str,
    source_col: str,
    weights: dict[str, float],
    token_budget: int,
    default_weight: float = 0.0,
    salt: str = "mixture",
) -> DataFrame:
    """Build a pretraining data mixture: given target mixture weights
    per source and a total token budget, compute each source's keep-rate
    ``min(1, budget*weight / source_tokens)`` and apply deterministic
    hash sampling at that rate, reporting per-source docs/tokens before
    and after. Sources over-represented vs their weight are downsampled;
    under-represented ones are kept whole (rate caps at 1 — this
    operator never upsamples).

    Plan at 100 TB: one partial+final agg for per-source token totals (a
    few-row result), broadcast back onto the scan, then a second agg for
    the report — the corpus is scanned, never cached, and the only
    per-row work is one md5. Membership is a pure function of
    (key, salt, totals): identical across runs, retries, and engines.
    """
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    base = _mixture_base(df, token_count_col, key_col, source_col)
    totals = base.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    # per-branch targets are PYTHON-evaluated literals (budget * weight),
    # so both engines divide the identical constant by src_tokens
    target = F.lit(float(token_budget * default_weight))
    for s, w in sorted(weights.items()):
        target = F.when(F.col("source") == F.lit(s), F.lit(float(token_budget * w))).otherwise(
            target
        )
    rates = totals.withColumn("rate", F.least(F.lit(1.0), target / F.col("src_tokens")))
    return _apply_rates_report(base, rates.select("source", "rate"), salt)


def mixture_oversample(
    df: DataFrame,
    token_count_col: Column,
    key_col: str,
    source_col: str,
    weights: dict[str, float],
    token_budget: int,
    default_weight: float = 0.0,
    salt: str = "mixture",
) -> DataFrame:
    """Mixture shaping WITH repetition ("epochs"): where
    ``mixture_sample`` caps every source's keep-rate at 1 (down-only),
    this operator realizes rates above 1 by REPLICATING documents —
    the standard move when a high-quality source's target share
    exceeds one pass over it (Wikipedia x2-3 epochs in GPT-3/LLaMA
    mixtures; Muennighoff et al. 2023 studies the repetition/value
    trade-off). A source at rate r gets floor(r) full copies of every
    doc plus one extra copy of a deterministic hash-drawn fraction
    (r - floor(r)) of docs; rates below 1 degenerate to exactly
    ``mixture_sample``'s down-sampling (0 or 1 copies), so this is
    the general form of the mixture operator.

    Returns one row per COPY: the input columns plus ``copy_no``
    (0-based) — downstream packing/shuffling should fold copy_no into
    its ordering key so replicas land in different context windows.

    Plan at 100 TB: the same few-row totals aggregate + broadcast as
    ``mixture_sample``; replication is an in-plan
    explode(sequence(0, n_copies-1)) riding the scan — no join against
    a generated series, no driver loop, and a doc with 0 copies emits
    no rows (explode of an empty array). One md5 per input row.
    Membership and copy counts are pure functions of (key, salt,
    totals): identical across runs, retries, and engines.
    """
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    clash = {"_k", "_nt", "_nc", "copy_no", "rate", "src_tokens"} & set(df.columns)
    if clash:
        # the working/output names would silently clobber or ambiguate
        # a caller column (the training_shuffle collision contract)
        raise ValueError(
            f"mixture_oversample working columns collide with input: {sorted(clash)}"
        )
    base = df.withColumn("_k", F.col(key_col)).withColumn(
        "_nt", token_count_col.cast("bigint")
    )
    totals = (
        base.groupBy(F.col(source_col).alias("source"))
        .agg(F.sum("_nt").alias("src_tokens"))
    )
    target = F.lit(float(token_budget * default_weight))
    for s, w in sorted(weights.items()):
        target = F.when(
            F.col("source") == F.lit(s), F.lit(float(token_budget * w))
        ).otherwise(target)
    rates = totals.withColumn("rate", target / F.col("src_tokens"))
    joined = base.join(
        F.broadcast(rates.withColumnRenamed("source", source_col)), source_col
    )
    n_full = F.floor(F.col("rate")).cast("int")
    frac = F.col("rate") - F.floor(F.col("rate"))
    extra = (
        hash_bucket(F.col("_k"), salt) < hex_threshold_expr(frac)
    ).cast("int")
    n_copies = n_full + extra
    out_cols = [c for c in df.columns]
    return (
        joined.withColumn("_nc", n_copies)
        .withColumn(
            "copy_no",
            F.explode(
                F.when(
                    F.col("_nc") > 0, F.sequence(F.lit(0), F.col("_nc") - 1)
                ).otherwise(F.array().cast("array<int>"))
            ),
        )
        .select(*out_cols, "copy_no")
    )


def pack_sequences(
    df: DataFrame,
    token_count_col: Column,
    id_col: str,
    budget: int = 128,
    n_shards: int = 8,
    shard_col: Column | None = None,
    order_col: Column | None = None,
) -> DataFrame:
    """Assign documents to fixed-token-budget context windows — the
    concat-and-chunk packing step of LLM pretraining prep. Documents are
    laid end-to-end in ``id_col`` order; each gets the pack id and
    intra-pack offset where it STARTS (docs may straddle pack
    boundaries, exactly like the byte-stream chunking trainers do).

    The layout is computed as a running token sum, which on a naive
    global ORDER BY would serialize onto one task at 100 TB. Instead the
    corpus is pre-sharded by ``id % n_shards`` and packed independently
    per shard: the window's partition is the shard, so each of the
    n_shards running sums is a separate task, and pack identity is the
    composite (shard, pack_id). Deterministic: shard, order, and cumsum
    are pure functions of (id, n_tokens) — identical across runs,
    retries, and engines.

    ``shard_col`` / ``order_col`` override the default id-derived
    layout: pass another deterministic sharding/ordering (e.g.
    ``training_shuffle``'s (shard, pos)) to pack
    in that order instead; ``order_col`` must be unique within a shard
    for the layout to stay deterministic.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        token_count_col.cast("bigint").alias("n_tokens"),
        *([] if order_col is None else [order_col.alias("_ord")]),
        (
            (F.col(id_col) % n_shards) if shard_col is None else shard_col
        ).cast("int").alias("shard"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id" if order_col is None else "_ord")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("bigint")
    return base.select(
        "shard", "doc_id", "n_tokens", start.alias("start_token")
    ).select(
        "shard",
        "doc_id",
        "n_tokens",
        "start_token",
        F.expr(f"start_token div {budget}").cast("bigint").alias("pack_id"),
        (F.col("start_token") % budget).cast("bigint").alias("pack_offset"),
    )


def source_quota_cap(
    df: DataFrame,
    source_col: str,
    key: Column | str,
    quota: int,
    salt: str = "srccap",
) -> DataFrame:
    """Cap the number of rows admitted per source/domain (Common-Crawl
    style domain capping: no single site may dominate the mixture).

    Which rows survive must be a REPRODUCIBLE, unbiased draw — not
    "whatever arrived first", which over-represents early crawl
    segments. So rows are ranked per source by the same salted-md5
    uniform draw the samplers use (``hash_bucket``; doc_id tie-break is
    unreachable for distinct keys but pins determinism), and rank >
    ``quota`` is dropped.

    Scale: one shuffle, keyed on ``source_col``. A mega-domain (the
    classic skew case) concentrates its rows in one reducer, but the
    per-row state of ``row_number`` is O(1) and sort spills — no OOM
    cliff. When a corpus has a handful of domains holding >30% of rows,
    pre-filter them by count first (one cheap groupBy) and only window
    the survivors; ``salted_aggregate`` shows the pattern.

    Returns the input rows (original columns) with ``src_rank`` for the
    survivors, rank <= quota.
    """
    if quota < 1:
        raise ValueError(f"quota must be >= 1, got {quota}")
    keyc = F.col(key) if isinstance(key, str) else key
    w = W.partitionBy(source_col).orderBy(hash_bucket(keyc, salt), keyc.cast("string"))
    return (
        df.withColumn("src_rank", F.row_number().over(w))
        .filter(F.col("src_rank") <= quota)
    )


def weighted_sample_topk(
    df: DataFrame,
    weight: Column | str,
    key: Column | str,
    k: int,
    salt: str = "wsamp",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): each row draws u = salted-md5 uniform in (0, 1] and
    is ranked by u^(1/w) — the top-k ranked rows are a weighted sample
    where inclusion tracks relative weight. The training-data use:
    quality- or recency-weighted corpus selection with run/retry/engine
    reproducibility (same salt => same sample; different salt =>
    independent draw, the per-use decorrelation contract of the other
    samplers here).

    Ranking uses the monotone-equivalent score ln(u)/w (descending) so
    the arithmetic is one log per row; the SCORE IS NOT EMITTED —
    libm ln differs across engines by 1 ulp (measured: 34/500 rows vs
    DuckDB), so the score is unsuitable for exact cross-engine
    comparison while the SELECTION is robust (inter-row score gaps are
    ~1e11 ulp on hash-uniform draws). Exact score ties (identical
    weight AND identical hash draw) break by key.

    Plan shape: per-row expressions on the scan + TakeOrderedAndProject
    per-partition heaps — the same zero-shuffle-until-top-k shape as
    ``vocab_topk``. Weights must be > 0 (rows with w <= 0, NULL, or NaN
    are excluded; a zero-weight row has inclusion probability 0 in
    A-ES, and NaN would otherwise sort FIRST under Spark's total
    ordering — a computed weight like 0.0/0.0 would silently hijack
    the whole sample). Keys must be distinct: duplicate keys share one
    hash draw, so a duplicated (key, weight) pair straddling the
    k-boundary would be resolved arbitrarily — the same distinct-key
    assumption every sampler in this module makes.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    wcol = F.col(weight) if isinstance(weight, str) else weight
    keyc = F.col(key) if isinstance(key, str) else key
    h = F.conv(hash_bucket(keyc, salt), 16, 10).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(HEX_SPAN))
    w = wcol.cast("double")
    score = F.log(u) / w
    return (
        df.filter((w > 0) & ~F.isnan(w))
        .orderBy(score.desc(), keyc.cast("string"))
        .limit(k)
    )


def training_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 1024,
    salt: str = "shuffle",
    key: Column | None = None,
) -> DataFrame:
    """Deterministic global shuffle for TRAINING ORDER — the step
    between curation and packing: SGD wants the corpus decorrelated
    from its crawl/landing order (adjacent docs share domains, dates,
    topics), and ``pack_sequences`` packs in id order, so feed it ids
    remapped by this shuffle. The permutation is the md5 draw every
    sampling op here uses: shard = draw mod ``n_shards``, position =
    rank of (draw, id) within the shard — a pure function of (salt,
    id), so re-runs, retries, and resumed jobs see the SAME order
    (reproducible training), and changing ``salt`` is a fresh epoch
    permutation (the standard per-epoch reshuffle).

    Scale: one hash-partitioned exchange on ``shard``; each shard's
    rank is an independent window task over |corpus|/n_shards rows —
    size n_shards so a shard fits an executor's sort buffer (65k shards
    at 100 TB -> ~1.5 GB/shard). No global sort ever happens.

    Returns the input columns + (shard: int, pos: long); the total
    order is (shard, pos).

    ``key`` overrides the draw/tie-break expression when ``id_col``
    alone is not unique per ROW — e.g. after ``mixture_oversample``
    replicates docs, pass ``F.concat_ws(':', F.col('doc_id'),
    F.col('copy_no'))`` so each copy draws its own position (and
    shard: replicas scatter instead of training back-to-back). With
    the default id draw, replicated rows would tie on (draw, id) and
    row_number would order them NON-deterministically.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    clash = {"shard", "pos", "_draw"} & set(df.columns)
    if clash:
        # silently clobbering a user column named like our outputs would
        # corrupt data with no signal (e.g. a paragraph 'pos' column)
        raise ValueError(
            f"training_shuffle output columns collide with input: {sorted(clash)}"
        )
    k = F.col(id_col) if key is None else key
    draw = hash_bucket(k, salt)
    out = df.withColumn("_draw", draw).withColumn(
        "shard",
        (F.conv(F.col("_draw"), 16, 10).cast("long") % n_shards).cast("int"),
    )
    w = W.partitionBy("shard").orderBy(F.col("_draw"), k)
    return out.withColumn("pos", F.row_number().over(w).cast("long")).drop("_draw")


def _source_token_totals(
    df: DataFrame, token_count_col: Column, source_col: str
) -> list[tuple[str, float]]:
    """Bounded driver aggregate shared by the weighting schemes: one
    (source, total_tokens) pair per source, NULL sums coalesced to 0
    (a source whose counts are all NULL contributes no tokens)."""
    rows = (
        df.select(
            F.col(source_col).alias("source"),
            token_count_col.cast("bigint").alias("n_tokens"),
        )
        .groupBy("source")
        .agg(F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("src_tokens"))
        .collect()
    )
    return [(r["source"], float(r["src_tokens"])) for r in rows]


def unimax_weights(
    df: DataFrame,
    token_count_col: Column,
    source_col: str,
    token_budget: int,
    max_epochs: float = 1.0,
) -> dict[str, float]:
    """UniMax mixture weights (Chung et al. 2022, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): spread the token budget UNIFORMLY across sources,
    except no source repeats more than ``max_epochs`` times — small
    sources contribute ``min(size * max_epochs, fair share)`` and the
    excess is redistributed uniformly over the remaining larger
    sources. The paper's alternative to temperature sampling: no tuned
    exponent, and low-resource sources are never oversampled past the
    epoch cap.

    Greedy waterfilling over sources sorted by size (provably the
    paper's allocation: once the smallest source is capped, the
    problem recurses on the rest): one bounded driver aggregate (the
    few-row per-source totals)
    + a python loop over sources. Returns the ``mixture_sample``
    weights dict (fractions of ``token_budget``). NOTE
    ``mixture_sample`` itself never upsamples (rate caps at 1), so
    with ``max_epochs > 1`` the extra epochs express as weight
    headroom, not duplication — pair with an explicit repeat stage if
    true multi-epoch duplication is wanted.
    """
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be positive, got {max_epochs}")
    sizes = sorted(
        (t, s) for s, t in _source_token_totals(df, token_count_col, source_col)
    )
    targets: dict[str, float] = {}
    remaining = float(token_budget)
    for i, (size, src) in enumerate(sizes):
        fair = remaining / (len(sizes) - i)
        t = min(size * max_epochs, fair)
        targets[src] = t
        remaining -= t
    return {s: t / token_budget for s, t in sorted(targets.items())}


def sqrt_temperature_mixture(
    df: DataFrame,
    token_count_col: Column,
    key_col: str,
    source_col: str,
    token_budget: int,
    salt: str = "temper",
) -> DataFrame:
    """Temperature mixture at ``alpha = 0.5`` with the weights derived
    IN-PLAN in exact integer arithmetic: no driver collect, so a
    scheduled pipeline stage or a streaming trigger stays one lazy DAG
    end-to-end.

    The integer square root realizes the exponent exactly:
    ``w_i = floor(sqrt(tokens_i))`` so the keep-rate is
    ``min(1, budget * w_i / (Z * tokens_i))`` with ``Z = sum_j w_j``.
    Every input of the one double division is an exact integer
    (``floor(sqrt(bigint))`` equals the true isqrt for any total below
    2^52 — a correctly-rounded sqrt cannot cross an integer boundary
    there except at exact squares, where it is exact — and
    ``Z * tokens`` stays far below 2^63 at any real corpus size), so
    rates and every md5 keep decision are bit-identical across engines
    and runs: no libm ``pow`` enters the plan, unlike a float
    ``tokens ** alpha`` exponent.

    Plan at 100 TB: one partial+final agg for per-source totals (a
    few-row frame), a 1-row normalizer agg crossJoined back as a
    broadcast (the sanctioned scalar-subquery shape), the rate table
    broadcast onto the scan, one md5 per row. The corpus is scanned
    once, never cached.
    """
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    base = _mixture_base(df, token_count_col, key_col, source_col)
    totals = base.groupBy("source").agg(
        F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("src_tokens")
    )
    w = totals.withColumn(
        "w", F.floor(F.sqrt(F.col("src_tokens"))).cast("long")
    )
    z = w.agg(F.sum("w").alias("_z"))
    rates = w.crossJoin(F.broadcast(z)).withColumn(
        "rate",
        F.least(
            F.lit(1.0),
            (F.lit(float(token_budget)) * F.col("w"))
            / (F.col("_z") * F.col("src_tokens")),
        ),
    )
    return _apply_rates_report(
        base, rates.select("source", "w", "rate"), salt, report_cols=("w",)
    )


def length_bucket_stats(
    df: DataFrame,
    token_count_col: Column,
    max_bucket_tokens: int | None = None,
) -> DataFrame:
    """Power-of-two sequence-length bucketing report — the batching
    planner's input for padding-efficient training batches. Docs with
    similar token counts batch together so the pad-to-longest waste
    stays bounded: bucket b holds counts in (2^(b-1), 2^b] (bucket 1 =
    {1, 2}), i.e. every member fits a padded length of 2^b at >=50%
    fill by construction.

    Per bucket: padded_len (the 2^b batch width), n_docs,
    total_tokens, min/max member counts, and fill_ratio =
    total_tokens / (n_docs * padded_len) — the fraction of the padded
    batch that is real content (the rest is pad waste).

    Why this shape instead of quantile bins (ntile): an unpartitioned
    ntile funnels the whole corpus through ONE window task — a
    scale-killer — while the power-of-two bucket is a per-row integer
    expression (binary digit count, exact — no float log2 edge cases
    at the powers themselves), so the report is scan + one map-side-
    combinable groupBy, and the assignment is stable as the corpus
    grows (quantile boundaries move with the data; these never do).

    ``max_bucket_tokens`` folds everything above the cap into the top
    bucket (over-long docs go to a chunker, not a batch).

    Degenerate docs (token count NULL or <= 0) get their OWN bucket 0
    (padded_len 1, true token sums — no fabricated counts), so empty
    docs are SURFACED as a report row instead of silently inflating
    bucket 1's totals and fill_ratio. NULL counts must be routed
    EXPLICITLY: a bare ``n <= 0`` predicate is NULL for NULL inputs,
    which would fall through to the otherwise branch where Spark's
    null-skipping ``greatest(NULL, 1)`` quietly fabricates bucket 1 —
    and DuckDB's NULL-propagating ``greatest`` would diverge on the
    same rows, so the explicit isNull() arm is also what keeps the
    two engines bit-identical.
    """
    n = token_count_col.cast("long")
    # bucket = binary digit count of (n-1), i.e. ceil(log2(n)) with the
    # n=1 corner in bucket 1 — so a doc of EXACTLY 2^b tokens fits the
    # 2^b-padded bucket instead of wasting half the next one (digit
    # count of n itself would be off by one at every power); NULL and
    # n <= 0 are the bucket-0 degenerate rows, kept out of the conv()
    # input (NULL checked explicitly — see the docstring)
    bits = F.when(
        n.isNull() | (n <= 0), F.lit(0)
    ).otherwise(
        F.length(F.conv((F.greatest(n, F.lit(1)) - 1).cast("string"), 10, 2))
    ).cast("int")
    if max_bucket_tokens is not None:
        if max_bucket_tokens < 1:
            raise ValueError(
                f"max_bucket_tokens must be >= 1, got {max_bucket_tokens}"
            )
        # the cap's own bucket; longer docs fold in and show up with
        # max_tokens > padded_len — the visible "send to the chunker"
        # signal, not a silent drop
        cap_bits = max(1, int(max_bucket_tokens - 1).bit_length())
        bits = F.least(bits, F.lit(cap_bits))
    # the Python-API shiftleft wants a literal bit count; the SQL form
    # takes a column
    padded = F.expr("shiftleft(CAST(1 AS BIGINT), bucket)")
    return (
        df.select(n.alias("_n"), bits.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("total_tokens"),
            F.min("_n").alias("min_tokens"),
            F.max("_n").alias("max_tokens"),
        )
        .select(
            "bucket",
            padded.alias("padded_len"),
            "n_docs",
            "total_tokens",
            "min_tokens",
            "max_tokens",
            F.round(
                F.col("total_tokens") / (F.col("n_docs") * padded), 6
            ).alias("fill_ratio"),
        )
    )


def cluster_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
    src: str = "doc_a",
    dst: str = "doc_b",
    small_graph_pairs: int | None = None,
) -> DataFrame:
    """Leakage-safe train/val/test split: the split label hashes the
    near-dup COMPONENT, not the document id, so every member of a
    near-duplicate cluster lands in the SAME split. Hashing doc ids —
    the plain ``hash_split`` — puts a document in train and its
    near-twin in test with probability 2*p_train*p_test per pair,
    which silently inflates eval scores; deduplicating within splits
    cannot fix it (the leak is ACROSS splits).

    ``pairs`` is any near-dup pair frame (LSH+Jaccard verify, SimHash,
    SRP, pHash — every family emits (doc_a, doc_b)); components come
    from ``connected_components`` over it, singletons skip the graph
    via the left join and hash their own id. Split fractions and salt
    are the exact ``hash_split`` machinery, so a corpus WITHOUT
    near-dups degenerates to the plain split bit-for-bit.

    Plan at 100 TB: the component frame is bounded by the near-dup
    population (pairs' nodes only); the corpus takes one join on the
    id + a scan-stage hash CASE — no window, no extra shuffle beyond
    the join, and the split is a pure function of content clusters:
    stable across reruns, engines, and batch composition.

    Returns ``df``'s columns + (component, split).
    """
    from clickhouse_mysql_data_reader_spark.operators.graph import (
        connected_components,
    )

    if "component" in df.columns or "split" in df.columns:
        raise ValueError(
            "cluster_safe_split adds 'component' and 'split' columns; "
            f"rename the existing ones first (got {df.columns})"
        )
    kwargs = {} if small_graph_pairs is None else {
        "small_graph_pairs": small_graph_pairs
    }
    comp = connected_components(pairs, src=src, dst=dst, **kwargs).select(
        F.col("doc_id").alias(id_col), "component"
    )
    return (
        df.join(comp, id_col, "left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
        .withColumn("split", hash_split(F.col("component"), fractions, salt))
    )
