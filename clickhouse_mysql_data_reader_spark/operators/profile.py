"""Table profiling — per-column data-quality stats in ONE scan.

The operational complement of the migration path (schema/typemap.py):
after landing a table, `profile_table` answers "did the copy make
sense" — row count, null counts, exact distinct cardinalities, min/max
— the checks the reference's users run by hand against the destination
(`SELECT count(*)` parity checks, docs/manual.md:436-443) and every
warehouse bakes into ingest monitoring.

Plan shape: ALL columns' aggregates are computed in a single
`agg(...)` — one scan, one partial/final aggregate with a 1-row
result — then the wide row is unpivoted driver-side into one row per
column (a constant-size `explode` over a dim-length literal array, no
second scan, no join). Profiling N columns costs the same scan as
profiling one. count(DISTINCT a), count(DISTINCT b), ... in one agg
triggers Catalyst's multi-distinct Expand (one extra shuffle of the
expanded keys); at 100 TB swap `exact_distinct=False` to
approx_count_distinct and the Expand disappears.

Values are reported as strings so heterogeneous column types fit one
output schema — the same move DESCRIBE/summary() makes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """One row per profiled column:
    (column, n_rows, n_nulls, n_distinct, min_value, max_value).

    ``columns`` defaults to every column of ``df``. ``exact_distinct``
    uses count(DISTINCT col); False switches to approx_count_distinct
    (HLL, no Expand shuffle) for cardinality monitoring at scale.
    NULL-only columns report empty-string min/max (string-typed output;
    the n_nulls == n_rows row is the real signal).
    """
    cols = list(columns) if columns is not None else list(df.columns)
    if not cols:
        raise ValueError("profile_table: no columns to profile")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"profile_table: unknown columns {missing}")

    distinct_fn = F.countDistinct if exact_distinct else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("_n_rows")]
    for c in cols:
        aggs.extend(
            [
                F.count(F.when(F.col(c).isNull(), 1)).alias(f"_nulls_{c}"),
                distinct_fn(F.col(c)).alias(f"_dist_{c}"),
                # aggregate on the NATIVE type (numeric/date ordering),
                # stringify the 1-row RESULT only — casting before the
                # min/max would make '10' sort below '9'
                F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
                F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
            ]
        )
    wide = df.agg(*aggs)
    stacked = wide.select(
        "_n_rows",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(f"_nulls_{c}").alias("n_nulls"),
                        F.col(f"_dist_{c}").alias("n_distinct"),
                        F.coalesce(F.col(f"_min_{c}"), F.lit("")).alias("min_value"),
                        F.coalesce(F.col(f"_max_{c}"), F.lit("")).alias("max_value"),
                    )
                    for c in cols
                ]
            )
        ).alias("s"),
    )
    return stacked.select(
        F.col("s.column").alias("column"),
        F.col("_n_rows").alias("n_rows"),
        "s.n_nulls",
        "s.n_distinct",
        "s.min_value",
        "s.max_value",
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str | None = "source",
) -> DataFrame:
    """Snapshot-over-snapshot drift report: one row per source with
    (source, n_added, n_removed, n_changed, n_unchanged, chars_added,
    chars_removed, chars_delta).

    The monitoring twin of `profile_table` for the CDC/curation paths:
    after re-landing or re-curating a corpus, it answers "what actually
    moved" — the check the reference's users run by hand with paired
    count(*)/checksum queries against source and destination
    (docs/manual.md:436-443), here as one plan over both snapshots.

    Plan shape for 100 TB: each side is map-side projected to
    (id, md5 fingerprint, length, source) — four narrow columns, the
    text never shuffles — then ONE full-outer shuffle join on the id
    (AQE handles skew/coalesce) and a map-side-combined aggregate whose
    state is one row per (source, status). `added` rows take the new
    side's source, `removed` the old side's; `changed` reports the new
    source (a doc that moved sources counts as changed there, keeping
    every id in exactly one bucket). Ids must be unique per snapshot —
    duplicate ids multiply join rows and the report would double-count.
    """
    if id_col == "_cd_id":
        raise ValueError("corpus_diff: id_col collides with internal name")

    def _side(df: DataFrame, tag: str) -> DataFrame:
        cols = [
            F.col(id_col).alias("_cd_id"),
            # presence marker, NOT the fingerprint: a doc with NULL
            # text is still PRESENT on its side (md5(NULL) is NULL and
            # would misread presence)
            F.lit(True).alias(f"_{tag}_here"),
            F.md5(F.col(text_col)).alias(f"_{tag}_fp"),
            F.coalesce(F.length(F.col(text_col)).cast("long"), F.lit(0)).alias(
                f"_{tag}_len"
            ),
        ]
        if source_col is not None:
            cols.append(F.col(source_col).alias(f"_{tag}_src"))
        return df.select(*cols)

    j = _side(old, "old").join(_side(new, "new"), "_cd_id", "full_outer")
    status = (
        F.when(F.col("_old_here").isNull(), F.lit("added"))
        .when(F.col("_new_here").isNull(), F.lit("removed"))
        # null-safe: NULL text -> non-NULL text (or vice versa) is a
        # CHANGE, and NULL -> NULL is unchanged
        .when(~F.col("_old_fp").eqNullSafe(F.col("_new_fp")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    src = (
        F.coalesce(F.col("_new_src"), F.col("_old_src"))
        if source_col is not None
        else F.lit("")
    )
    tagged = j.select(
        src.alias("source"),
        status.alias("_status"),
        F.col("_old_len"),
        F.col("_new_len"),
    )

    def _n(st: str):
        return (
            F.count(F.when(F.col("_status") == st, 1))
            .cast("long")
            .alias(f"n_{st}")
        )

    def _chars(st: str, expr):
        return F.coalesce(
            F.sum(F.when(F.col("_status") == st, expr)), F.lit(0)
        ).cast("long")

    return tagged.groupBy("source").agg(
        _n("added"),
        _n("removed"),
        _n("changed"),
        _n("unchanged"),
        _chars("added", F.col("_new_len")).alias("chars_added"),
        _chars("removed", F.col("_old_len")).alias("chars_removed"),
        _chars("changed", F.col("_new_len") - F.col("_old_len")).alias(
            "chars_delta"
        ),
    )


#: |value ticks| cap: sum_sq = sum(v^2) must stay inside DECIMAL(38,0)
#: for n up to ~2e6, so each v^2 <= 4e30 => |v| <= 2e15 ticks (an epoch
#: timestamp at the default 1e-6 tick is 1.7e15 — inside). Values
#: beyond it RAISE (reduce `scale`) instead of overflowing silently.
_Z_MAX_TICKS = 2 * 10**15
#: conservative DOUBLE-space bound for the exact test's products: the
#: true DECIMAL(38,0) limit is ~1e38; guarding at 1e37 leaves a 10x
#: margin over float error in the guard itself.
_Z_GUARD = 1e37


def _z_ticks(
    value_col: str,
    scale: int,
    who: str,
    max_ticks: int = _Z_MAX_TICKS,
    why: str = "the moment sums would overflow DECIMAL(38,0)",
):
    """value -> exact integer ticks (HALF_UP via decimal(18,6), both
    engines identical), with a loud guard instead of a silent overflow
    downstream. ``max_ticks``/``why`` let callers with a TIGHTER
    exactness envelope (anomaly_mad's double-exact median
    interpolation) keep the guard honest."""
    v = (F.col(value_col).cast("decimal(18,6)") * scale).cast("decimal(38,0)")
    return F.when(
        F.abs(v) > max_ticks,
        F.raise_error(
            F.lit(
                f"{who}: |value|*scale exceeds {max_ticks:.0e} ticks — "
                f"{why}; reduce `scale` "
                "(the test is scale-invariant, coarser ticks lose "
                "only sub-tick resolution)"
            )
        ).cast("decimal(38,0)"),
    ).otherwise(v)


def _z_flag(threshold: int):
    """Shared EXACT z-test over the normalized (_az_n, _az_s, _az_q,
    _az_v) columns: (n*v - S)^2 * (n-1) > t^2 * n * (nQ - S^2),
    evaluated on CENTERED moments so magnitudes track the DEVIATIONS,
    not the values' absolute offset: with the integer mean m = S div n
    and remainder r = S - n*m (any integer m keeps the identity),

        n*v - S        = n*(v - m) - r
        n*Q - S^2      = n*(Q - m*(2S - n*m)) - r^2

    A metric with mean 1.7e9 and spread 100 (epoch timestamps, counters)
    stays tiny after centering where the raw form would overflow.
    Remaining products are guarded in DOUBLE space (exactness is not
    needed to detect magnitude) and RAISE with advice instead of
    returning NULL (non-ANSI) or crashing opaquely (ANSI). n=1 keys
    flag nothing (both sides are exactly 0).
    """
    dec = "decimal(38,0)"
    n, s, q, v = (F.col(c) for c in ("_az_n", "_az_s", "_az_q", "_az_v"))
    mu = F.expr("_az_s div _az_n").cast(dec)
    rho = (s - (n * mu).cast(dec)).cast(dec)
    dev = ((n * (v - mu).cast(dec)).cast(dec) - rho).cast(dec)
    q_centered = (
        q
        - (
            mu
            * ((F.lit(2).cast(dec) * s).cast(dec) - (n * mu).cast(dec)).cast(dec)
        ).cast(dec)
    ).cast(dec)
    core = ((n * q_centered).cast(dec) - (rho * rho).cast(dec)).cast(dec)
    t2 = threshold * threshold
    lhs = ((dev * dev).cast(dec) * (n - 1)).cast(dec)
    rhs = ((F.lit(t2).cast(dec) * n).cast(dec) * core).cast(dec)
    devd, nd, cored = dev.cast("double"), n.cast("double"), core.cast("double")
    over = (F.abs(devd) * F.abs(devd) * nd > _Z_GUARD) | (
        F.lit(float(t2)) * nd * cored > _Z_GUARD
    )
    return F.when(
        over,
        F.raise_error(
            F.lit(
                "anomaly z-test exceeds DECIMAL(38,0) headroom "
                "(t * n^1.5 * max|value - mean| * scale too large); "
                "reduce `scale` — the test is scale-invariant, coarser "
                "ticks lose only sub-tick resolution"
            )
        ).cast("boolean"),
    ).otherwise(lhs > rhs)


def _z_stats_normalize(stats: DataFrame, who: str) -> DataFrame:
    missing = {"key", "n_obs", "sum_x", "sum_sq"} - set(stats.columns)
    if missing:
        raise ValueError(f"{who}: stats table missing {sorted(missing)}")
    dec = "decimal(38,0)"
    return stats.select(
        F.col("key").alias("_az_key"),
        F.col("n_obs").cast(dec).alias("_az_n"),
        F.col("sum_x").cast(dec).alias("_az_s"),
        F.col("sum_sq").cast(dec).alias("_az_q"),
    )


def anomaly_stats(
    df: DataFrame,
    key_col: str,
    value_col: str,
    scale: int = 10**6,
) -> DataFrame:
    """Landable per-key moment statistics for `anomaly_zscore(stats=)`:
    (key, n_obs, sum_x, sum_sq) as DECIMAL(38,0) scaled-integer ticks.

    The frozen-estimator deployment shape shared with `bm25_stats` and
    the LM scorers: land the reference window's stats ONCE, then score
    every subsequent batch against the SAME distribution — the flags
    stay batch-composition-independent (a batch that is itself mostly
    anomalous would otherwise inflate its own stddev and hide them).
    """
    dec = "decimal(38,0)"
    v = _z_ticks(value_col, scale, "anomaly_stats")
    return (
        df.select(F.col(key_col).alias("key"), v.alias("_as_v"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).cast(dec).alias("n_obs"),
            F.sum("_as_v").cast(dec).alias("sum_x"),
            F.sum((F.col("_as_v") * F.col("_as_v")).cast(dec))
            .cast(dec)
            .alias("sum_sq"),
        )
    )


def anomaly_zscore(
    df: DataFrame,
    key_col: str,
    value_col: str,
    threshold: int = 3,
    scale: int = 10**6,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Per-key z-score outlier report with EXACT arithmetic: one row per
    key — (key, n_events, n_anomalies, mean_x1e6, max_value_x1e6) —
    where a row is anomalous iff |x - mean| > threshold * stddev_samp
    of its key's population.

    The monitoring sibling of `profile_table`/`corpus_diff` for metric
    streams (the reference's users watch per-type event rates the same
    way). Floating-point mean/stddev would make the FLAG itself
    engine-dependent at the boundary, so the z-test is multiplied out
    into integers (the repo's scaled-integer idiom, cf. text.py BM25):
    x scales HALF_UP to 1e-6 ticks (both engines round double->decimal
    identically), and with S = sum(v), Q = sum(v^2), n per key,

        |x - mean| > t*sqrt((nQ - S^2) / (n(n-1)))
        <=> (n*v - S)^2 * (n-1) > t^2 * n * (n*Q - S^2)

    evaluated in DECIMAL(38,0) on CENTERED moments (see `_z_flag`) —
    the DuckDB twin is HUGEINT, and the uncentered oracle form is the
    same boolean by the translation identity. Headroom: |x|*scale must
    stay within 2e15 ticks and t * n^1.5 * (max|x - mean|*scale + 1)
    under ~3e18 — both guarded with a clear raise (reduce `scale`; the
    test is scale-invariant) instead of a silent NULL/overflow. n=1
    keys flag nothing (both sides are 0). `threshold` is an integer so
    t^2 stays exact. `mean_x1e6` divides with truncation in both
    engines for non-negative sums (floor-vs-trunc differs on negative
    means; the FLAG is exact either way).

    Plan shape for 100 TB: per-key (n, S, Q) is a map-side-combined
    aggregate with one row per key; the tiny stats frame BROADCASTS
    back onto the events (explicit hint), so the fact table is scanned
    twice but never shuffled; the final per-key count is a second
    map-side-combined agg. No window functions, no sort.

    ``stats`` deploys against a FROZEN distribution: pass a landed
    `anomaly_stats(...)` table — (key, n_obs, sum_x, sum_sq) — and each
    batch row is tested against that reference window instead of the
    batch's own moments (flags become batch-composition-independent;
    a mostly-anomalous batch can no longer inflate its own stddev and
    hide). Keys absent from the stats table are dropped — an inner
    join, like the LM scorers' frozen vocab. `mean_x1e6` then reports
    the frozen mean; `n_events`/`n_anomalies`/`max_value_x1e6` remain
    batch-side.
    """
    if threshold < 0 or int(threshold) != threshold:
        raise ValueError("anomaly_zscore: threshold must be a non-negative int")
    dec = "decimal(38,0)"
    v = _z_ticks(value_col, scale, "anomaly_zscore")
    vals = df.select(F.col(key_col).alias("_az_key"), v.alias("_az_v"))
    if stats is None:
        stats = vals.groupBy("_az_key").agg(
            F.count(F.lit(1)).cast(dec).alias("_az_n"),
            F.sum("_az_v").cast(dec).alias("_az_s"),
            F.sum((F.col("_az_v") * F.col("_az_v")).cast(dec)).cast(dec).alias("_az_q"),
        )
    else:
        stats = _z_stats_normalize(stats, "anomaly_zscore")
    joined = vals.join(F.broadcast(stats), "_az_key")
    return (
        joined.groupBy("_az_key")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(_z_flag(threshold), 1)).alias("n_anomalies"),
            # constant within the group; min() keeps it deterministic
            F.min(F.col("_az_s")).alias("_az_sum"),
            F.min(F.col("_az_n")).alias("_az_cnt"),
            F.max(F.col("_az_v")).cast("long").alias("max_value_x1e6"),
        )
        .select(
            F.col("_az_key").alias(key_col),
            "n_events",
            "n_anomalies",
            # `div` truncates exactly (the HUGEINT-// oracle twin);
            # a decimal(38,0) CAST would round HALF_UP instead
            F.expr("_az_sum div _az_cnt").alias("mean_x1e6"),
            "max_value_x1e6",
        )
    )


def anomaly_flags(
    df: DataFrame,
    key_col: str,
    value_col: str,
    threshold: int = 3,
    scale: int = 10**6,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Per-ROW twin of `anomaly_zscore`: the input rows back, plus
    (value_x1e6, is_anomaly). Same exact DECIMAL(38,0) test, same
    frozen-stats contract.

    Stateless when ``stats`` is a landed `anomaly_stats` table — just a
    broadcast stream-static join plus scan-stage expressions — so it
    runs UNCHANGED inside Structured Streaming (the per-key-report twin
    can't: its final aggregate is stateful). ``stats=None`` derives the
    moments from ``df`` itself, which is batch-only (a self-aggregating
    stream-stream join is unsupported by design — freeze first).
    is_anomaly is NULL for keys absent from the stats table (unseen key
    == no distribution to test against; a silent False would hide
    exactly the rows a monitor most wants to see).
    """
    if threshold < 0 or int(threshold) != threshold:
        raise ValueError("anomaly_flags: threshold must be a non-negative int")
    if "_az_key" in df.columns or "_az_v" in df.columns:
        raise ValueError("anomaly_flags: input collides with internal _az_ names")
    v = _z_ticks(value_col, scale, "anomaly_flags")
    if stats is None:
        stats = anomaly_stats(df, key_col, value_col, scale=scale)
    st = _z_stats_normalize(stats, "anomaly_flags")
    tagged = df.withColumn("_az_v", v)
    joined = tagged.join(
        F.broadcast(st), tagged[key_col] == st["_az_key"], "left"
    )
    return joined.select(
        *[tagged[c] for c in df.columns],
        F.col("_az_v").cast("long").alias("value_x1e6"),
        F.when(F.col("_az_n").isNull(), F.lit(None).cast("boolean"))
        .otherwise(_z_flag(threshold))
        .alias("is_anomaly"),
    )


def validate_table(df: DataFrame, rules: list[tuple]) -> DataFrame:
    """Declarative data-quality gate: one row per rule with
    (rule, column, n_checked, n_violations, passed).

    Rules are (kind, column, *args) tuples:

    - ("not_null", col)              — NULLs are violations
    - ("unique", col)                — rows beyond the first per value
    - ("in_range", col, lo, hi)      — non-NULL values outside [lo, hi]
    - ("matches", col, regex)        — non-NULL strings not rlike regex
    - ("in_set", col, [v1, v2, ...]) — non-NULL values outside the set

    The programmatic form of the reference users' post-migration
    spot-checks (count(*) / SELECT DISTINCT eyeballing,
    docs/manual.md:436-443). All row-level rules evaluate in ONE
    scan-stage aggregate (adding a rule costs an expression, not a
    pass); each `unique` rule adds a count(DISTINCT) to the same agg —
    Catalyst's multi-distinct Expand, one extra shuffle of key state,
    swap to a dedicated groupBy-count pass only if a 100 TB column's
    key cardinality approaches the row count. The result is a 1-row
    wide aggregate unpivoted by a constant explode (the profile_table
    shape), so the report itself never shuffles data.
    """
    if not rules:
        raise ValueError("validate_table: no rules")
    aggs = [F.count(F.lit(1)).alias("_n_rows")]
    specs: list[tuple[str, str]] = []  # (rule_label, agg alias)
    for i, rule in enumerate(rules):
        kind, col = rule[0], rule[1]
        if col not in df.columns:
            raise ValueError(f"validate_table: unknown column {col!r}")
        c = F.col(col)
        alias = f"_v{i}"
        if kind == "not_null":
            bad = F.count(F.when(c.isNull(), 1))
            label = "not_null"
        elif kind == "unique":
            # violations = rows beyond the first per distinct value;
            # NULLs count as one shared value (SQL count(DISTINCT)
            # ignores NULLs, so add the null bucket back explicitly)
            bad = (
                F.count(c)
                - F.countDistinct(c)
                + F.greatest(
                    F.count(F.when(c.isNull(), 1)) - F.lit(1), F.lit(0)
                )
            )
            label = "unique"
        elif kind == "in_range":
            lo, hi = rule[2], rule[3]
            bad = F.count(F.when(c.isNotNull() & ~c.between(lo, hi), 1))
            label = f"in_range[{lo},{hi}]"
        elif kind == "matches":
            bad = F.count(F.when(c.isNotNull() & ~c.rlike(rule[2]), 1))
            label = f"matches[{rule[2]}]"
        elif kind == "in_set":
            vals = list(rule[2])
            if not vals:
                raise ValueError("validate_table: in_set needs values")
            bad = F.count(F.when(c.isNotNull() & ~c.isin(vals), 1))
            label = "in_set[" + ",".join(str(v) for v in vals) + "]"
        else:
            raise ValueError(f"validate_table: unknown rule kind {kind!r}")
        aggs.append(bad.cast("long").alias(alias))
        specs.append((label, alias))

    wide = df.agg(*aggs)
    stacked = wide.select(
        "_n_rows",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(label).alias("rule"),
                        F.lit(rules[i][1]).alias("column"),
                        F.col(alias).alias("n_violations"),
                    )
                    for i, (label, alias) in enumerate(specs)
                ]
            )
        ).alias("s"),
    )
    return stacked.select(
        F.col("s.rule").alias("rule"),
        F.col("s.column").alias("column"),
        F.col("_n_rows").alias("n_checked"),
        F.col("s.n_violations").alias("n_violations"),
        (F.col("s.n_violations") == 0).alias("passed"),
    )


def distinct_sketches(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Landable per-key HLL distinct-count sketches: one row per key
    group with (keys..., sketch BINARY, n_rows, n_distinct_est).

    The mergeable form of cardinality monitoring — the same land-once
    discipline as `anomaly_stats`/`bm25_stats`, but for COUNT
    DISTINCT: land one sketch row per (day, source, ...) partition,
    then answer "distinct users last quarter" by merging a few
    thousand kilobyte-sized sketches instead of rescanning the raw
    100 TB (`sketch_rollup`). Sketches are Apache DataSketches HLL
    (Spark's hll_sketch_agg); lg_k trades size for accuracy (~1.6%
    relative error at the default 2^12 buckets). Union is lossless:
    merging daily sketches gives the SAME estimate as sketching the
    concatenated data — pinned by test.
    """
    if not keys:
        raise ValueError("distinct_sketches: needs at least one key column")
    sk = F.hll_sketch_agg(F.col(value_col), F.lit(lg_k))
    return df.groupBy(*keys).agg(
        sk.alias("sketch"),
        F.count(F.lit(1)).alias("n_rows"),
        F.hll_sketch_estimate(sk).alias("n_distinct_est"),
    )


def sketch_rollup(sketches: DataFrame, keys: list[str]) -> DataFrame:
    """Re-aggregate landed `distinct_sketches` rows to coarser keys
    (or to a global total with ``keys=[]``) WITHOUT touching raw data:
    (keys..., n_rows, n_distinct_est). Union of HLL sketches is exact
    with respect to the sketch state, so rolled-up estimates equal a
    fresh sketch over the union.
    """
    agg = [
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"))).alias(
            "n_distinct_est"
        ),
        F.sum("n_rows").cast("long").alias("n_rows"),
    ]
    rolled = sketches.groupBy(*keys).agg(*agg) if keys else sketches.agg(*agg)
    return rolled.select(*keys, "n_rows", "n_distinct_est")


def value_histogram(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    bin_width: float,
    scale: int = 10**6,
) -> DataFrame:
    """Landable equi-width histogram: one row per (keys..., bin) with
    the exact row count — the MERGEABLE quantile structure. Bins are
    integer tick arithmetic (value -> HALF_UP 1e-6 ticks -> truncating
    div by the bin width in ticks), so two histograms of the same
    width merge by SUMMING counts, and the merged histogram is
    bit-identical to one built over the concatenated data — the
    `distinct_sketches` discipline for quantiles (no t-digest needed;
    an equi-width histogram at a sane width is a few thousand rows per
    key no matter how many raw values). Values must be non-negative
    (truncating div == floor there; documented, not silently wrong —
    negative inputs raise).
    """
    if bin_width <= 0:
        raise ValueError("value_histogram: bin_width must be positive")
    width_ticks = int(round(bin_width * scale))
    if width_ticks < 1:
        raise ValueError(
            f"value_histogram: bin_width={bin_width} rounds to zero ticks "
            f"at scale={scale} — raise bin_width or scale"
        )
    dec = "decimal(38,0)"
    v = (F.col(value_col).cast("decimal(18,6)") * scale).cast(dec)
    base = df.select(*keys, v.alias("_vh_ticks")).withColumn(
        "_vh_bin",
        F.when(
            F.col("_vh_ticks") < 0,
            F.raise_error(F.lit("value_histogram: negative values unsupported")),
        ).otherwise(F.expr(f"_vh_ticks div {width_ticks}")),
    )
    return (
        base.groupBy(*keys, F.col("_vh_bin").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def histogram_quantile(
    hist: DataFrame,
    keys: list[str],
    qs: list[float],
    bin_width: float,
    scale: int = 10**6,
) -> DataFrame:
    """Quantile estimates from a landed `value_histogram`: one row per
    (keys..., q) with `est_upper` — the UPPER EDGE of the first bin
    whose cumulative count reaches ceil(q*n), as 1e-6 ticks (exact
    integers end to end; the true q-quantile is <= est_upper and >
    est_upper - bin_width). rank/ceil arithmetic is integer, so the
    same landed histogram yields the same estimate in any engine.

    Scale shape: the cumulative window runs over BINS (thousands per
    key), not raw rows; qs broadcast as a literal frame.
    """
    if not qs or any(q <= 0 or q > 1 for q in qs):
        raise ValueError("histogram_quantile: qs must be in (0, 1]")
    width_ticks = int(round(bin_width * scale))
    spark = hist.sparkSession
    qf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    w = W.partitionBy(*keys).orderBy("bin")
    cum = hist.withColumn("_cum", F.sum("n").over(w)).withColumn(
        "_total", F.sum("n").over(W.partitionBy(*keys))
    )
    # rank = ceil(q * total) exactly: (q*total) on doubles then ceil is
    # bit-deterministic; q in (0,1] and integer totals keep it in range
    joined = cum.join(F.broadcast(qf))
    hit = joined.filter(
        F.col("_cum") >= F.ceil(F.col("q") * F.col("_total"))
    )
    return (
        hit.groupBy(*keys, "q")
        .agg(F.min("bin").alias("_bin"))
        .select(
            *keys,
            "q",
            ((F.col("_bin") + 1) * width_ticks).cast("long").alias("est_upper"),
        )
    )


def _psi_guarded_edge(col):
    """A NULL frozen edge means the baseline had no non-null values —
    Spark's least/greatest would then silently clamp EVERY row into the
    top bin (they skip NULL args). Raise instead; attached to the edge
    expression itself so it fires wherever an edge is consumed."""
    return F.when(
        col.isNull(),
        F.raise_error(
            F.lit(
                "psi: baseline has no non-null values — no edges to "
                "freeze (an empty-baseline reference would clamp every "
                "row into the top bin)"
            )
        ).cast("long"),
    ).otherwise(col)


def _psi_bucket(x, mn, mx, n_buckets):
    """Baseline-frozen fixed-width bin id, the shared expression of the
    live and frozen PSI paths (identical arithmetic is what keeps the
    two bit-equal and oracle-portable). ``n_buckets`` is an int for the
    live path or a Column for the frozen path (derived from the landed
    reference, never trusted from the caller)."""
    nb = F.lit(n_buckets) if isinstance(n_buckets, int) else n_buckets
    mn = _psi_guarded_edge(mn)
    mx = _psi_guarded_edge(mx)
    return F.greatest(
        F.lit(0).cast("long"),
        F.least(
            (nb - F.lit(1)).cast("long"),
            F.floor(
                ((x - mn).cast("double") * nb.cast("double"))
                / F.greatest(mx - mn, F.lit(1))
            ),
        ),
    )


def _psi_from_counts(filled: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """Laplace-smoothed per-bin PSI contributions from a filled
    (bucket, n_old, n_new) frame. Totals AND the smoothing bin count
    come from a window — exact and BOUNDED (the frame is always
    n_buckets rows per key), and deriving the bin count from the frame
    itself means a frozen caller cannot desynchronize it from the
    landed reference. ``keys`` partitions the window for the per-key
    variant (``psi_drift_by``); empty = the global single-partition
    form."""
    w = W.partitionBy(*keys)
    totd = filled.withColumns(
        {
            "_to": F.sum("n_old").over(w),
            "_tn": F.sum("n_new").over(w),
            "_nb": F.count(F.lit(1)).over(w),
        }
    )
    p_old = (F.col("n_old") + F.lit(1.0)) / (F.col("_to") + F.col("_nb"))
    p_new = (F.col("n_new") + F.lit(1.0)) / (F.col("_tn") + F.col("_nb"))
    return totd.select(
        *keys,
        "bucket",
        "n_old",
        "n_new",
        F.round((p_new - p_old) * F.log(p_new / p_old), 6).alias("psi_contrib"),
    )


def psi_drift(
    old: DataFrame,
    new: DataFrame,
    value_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index between a baseline snapshot and a new
    one over an integer-valued column — the standard drift score of
    model/data monitoring (sum over buckets of
    ``(p_new - p_old) * ln(p_new / p_old)``; < 0.1 stable, > 0.25 a
    population shift worth paging on).

    Buckets are ``n_buckets`` FIXED-WIDTH bins frozen from the
    BASELINE's min/max (the deployment contract: edges are set when the
    baseline lands and never move with the new data; out-of-range new
    values clamp into the end bins). Shares are Laplace-smoothed over
    the fixed bin count so empty bins contribute a finite penalty
    instead of a division by zero. Returns one row per bucket
    (``bucket, n_old, n_new, psi_contrib``); the PSI total is the sum
    of ``psi_contrib``, left to the caller so the per-bin attribution
    (WHICH part of the distribution moved) stays visible.

    Every decision is engine-portable: integer min/max edges, exact
    integer bucket counts, int-ratio double divisions, and ``ln`` only
    inside a ``round(.., 6)`` (the same idiom agg_conditional_funcs
    pins). Scale shape: one map-side-combinable counts agg over the
    unioned sides (counts stay mergeable across landings), a 1-row
    broadcast for the baseline edges, a ``n_buckets``-row spine, and
    totals via a window over that bounded bucket frame — the corpus is
    scanned for the edges and once for the data, nothing else grows
    with it.

    NULL values are EXCLUDED from both snapshots (Spark's
    least/greatest skip NULL arguments, which would otherwise clamp
    every NULL into the top bin and silently inflate it — track null
    RATES with `profile_table`/`validate`, not a distribution score).
    The caller must supply a baseline with at least one non-null value;
    an all-null/empty baseline has no edges to freeze (every new row
    would land in the top bin against a zero-count baseline).
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    spark = old.sparkSession
    old = old.filter(F.col(value_col).isNotNull())
    new = new.filter(F.col(value_col).isNotNull())
    mm = old.agg(
        F.min(value_col).cast("long").alias("_mn"),
        F.max(value_col).cast("long").alias("_mx"),
    )
    # union the sides BEFORE the edge crossJoin and take totals from a
    # window over the n_buckets-row counts frame: a subtree referenced
    # twice is PLANNED twice (no CSE for lazy frames), so the naive
    # per-side crossJoin + agg-over-filled shape re-scanned the corpus
    # for mm per branch and for the totals — 16 scan nodes at 10
    # buckets. This shape scans old twice (edges + data) and new once.
    tagged = (
        old.select(F.col(value_col).cast("long").alias("_x"),
                   F.lit(False).alias("_new"))
        .unionByName(
            new.select(F.col(value_col).cast("long").alias("_x"),
                       F.lit(True).alias("_new"))
        )
    )
    b = tagged.crossJoin(F.broadcast(mm)).select(
        _psi_bucket(F.col("_x"), F.col("_mn"), F.col("_mx"), n_buckets).alias(
            "bucket"
        ),
        F.col("_new"),
    )
    counts = b.groupBy("bucket").agg(
        F.sum(F.when(~F.col("_new"), 1).otherwise(0)).alias("n_old"),
        F.sum(F.when(F.col("_new"), 1).otherwise(0)).alias("n_new"),
    )
    spine = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    filled = spine.join(counts, "bucket", "left").select(
        "bucket",
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    return _psi_from_counts(filled)


def psi_drift_by(
    old: DataFrame,
    new: DataFrame,
    value_col: str,
    key_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Per-key PSI drift: ``psi_drift`` computed independently WITHIN
    each value of ``key_col`` (source, language, shard...) — the
    dashboard view that says WHICH slice of the corpus moved, where the
    global score averages a shifted source against nineteen stable
    ones into "fine". Edges are frozen per key from the baseline
    (fixed-width bins of that key's own min/max); smoothing, spine
    fill, and the round(ln, 6) contribution are the shared helpers, so
    each key's rows equal a standalone ``psi_drift`` on that key's
    slice (pinned by test).

    Keys present only in ``new`` are EXCLUDED — a never-seen key has
    no baseline edges to score against; surfacing new/vanished keys is
    ``corpus_diff``'s job, and conflating the two would score a brand
    new source against edges invented from its own data. NULL keys and
    NULL values are likewise excluded (null RATES belong to
    profile/validate).

    Scale shape: identical to ``psi_drift`` with the 1-row edge
    broadcast replaced by an |keys|-row broadcast join and every
    aggregate/window gaining the key column — counts stay map-side
    combinable and mergeable, the bucket frame is |keys| x n_buckets
    rows, and nothing else grows with the corpus.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    old = old.filter(F.col(value_col).isNotNull() & F.col(key_col).isNotNull())
    new = new.filter(F.col(value_col).isNotNull() & F.col(key_col).isNotNull())
    mm = old.groupBy(F.col(key_col).alias("_k")).agg(
        F.min(value_col).cast("long").alias("_mn"),
        F.max(value_col).cast("long").alias("_mx"),
    )
    tagged = (
        old.select(
            F.col(key_col).alias("_k"),
            F.col(value_col).cast("long").alias("_x"),
            F.lit(False).alias("_new"),
        ).unionByName(
            new.select(
                F.col(key_col).alias("_k"),
                F.col(value_col).cast("long").alias("_x"),
                F.lit(True).alias("_new"),
            )
        )
    )
    # inner join = the new-only-key exclusion contract; edges are
    # non-null by construction (per-key min/max over non-null values)
    b = tagged.join(F.broadcast(mm), "_k").select(
        "_k",
        _psi_bucket(F.col("_x"), F.col("_mn"), F.col("_mx"), n_buckets).alias(
            "bucket"
        ),
        "_new",
    )
    counts = b.groupBy("_k", "bucket").agg(
        F.sum(F.when(~F.col("_new"), 1).otherwise(0)).alias("n_old"),
        F.sum(F.when(F.col("_new"), 1).otherwise(0)).alias("n_new"),
    )
    spine = mm.select("_k").crossJoin(
        old.sparkSession.range(n_buckets).select(F.col("id").alias("bucket"))
    )
    filled = spine.join(counts, ["_k", "bucket"], "left").select(
        F.col("_k").alias(key_col),
        "bucket",
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    return _psi_from_counts(filled, keys=(key_col,))


def anomaly_mad(
    df: DataFrame,
    key_col: str,
    value_col: str,
    threshold: int = 3,
    scale: int = 10**6,
) -> DataFrame:
    """Per-key ROBUST outlier report — the median/MAD sibling of
    ``anomaly_zscore``: a row is anomalous iff
    ``|x - median| > threshold * 1.4826 * MAD`` of its key's
    population (1.4826 is the consistency constant that makes MAD
    estimate sigma under normality, so ``threshold`` means the same
    sigmas as the z-score's). Use it where the z-score self-destructs:
    heavy tails and contaminated windows inflate mean/stddev and hide
    the very outliers being hunted; median/MAD have a 50% breakdown
    point.

    Exactness (the repo's scaled-integer idiom): values scale HALF_UP
    to 1e-6 ticks (``_z_ticks``, both engines identical). A median of
    integers is integral or a half — exact in doubles — so
    ``med2 = 2*median(ticks)`` and ``mad4 = 2*median(|2*ticks - med2|)``
    are exact integers, and the flag multiplies out to

        |x - med| > t * 1.4826 * mad
        <=>  dev2 * 20000 > t * 14826 * mad4,   dev2 = |2*ticks - med2|

    evaluated in DECIMAL(38,0) — no float boundary rows, same boolean
    in DuckDB HUGEINT. Output: (key, n_events, n_outliers, med_x2e6,
    mad_x4e6) — the stats carry their own x2/x4 scaling to stay exact
    integers.

    Plan at 100 TB: exact per-key medians are one `percentile` agg
    (Spark buffers each key's values on one executor — fine for
    per-key metric streams; swap percentile_approx at extreme keys,
    the flag then inherits the sketch's error), broadcast back onto
    the fact scan twice; no window, no sort, events never shuffle.
    """
    if threshold < 0 or int(threshold) != threshold:
        raise ValueError("anomaly_mad: threshold must be a non-negative int")
    dec = "decimal(38,0)"
    # tighter cap than the z-score's 2e15: the even-count median
    # interpolates (a + b) / 2, and with dev2 <= 4*max|ticks| the sum
    # must stay <= 2^53 for the halves to be EXACT doubles on both
    # engines (Spark truncates, DuckDB rounds on the cast back — a
    # non-representable sum could flip mad4 by one tick between them)
    vt = _z_ticks(
        value_col, scale, "anomaly_mad", max_ticks=1 << 50,
        why="the even-count median interpolation (a+b)/2 must stay an "
        "exact double on both engines",
    ).cast("long")
    vals = df.select(F.col(key_col).alias("_am_key"), vt.alias("_am_v"))
    med = vals.groupBy("_am_key").agg(
        (F.expr("percentile(_am_v, 0.5)") * 2).cast("long").alias("_am_med2")
    )
    dev = vals.join(F.broadcast(med), "_am_key").withColumn(
        "_am_dev2", F.abs(F.col("_am_v") * 2 - F.col("_am_med2"))
    )
    mad = dev.groupBy("_am_key").agg(
        (F.expr("percentile(_am_dev2, 0.5)") * 2).cast("long").alias("_am_mad4")
    )
    flag = (F.col("_am_dev2").cast(dec) * F.lit(20000).cast(dec)) > (
        F.lit(int(threshold) * 14826).cast(dec) * F.col("_am_mad4").cast(dec)
    )
    return (
        dev.join(F.broadcast(mad), "_am_key")
        .groupBy("_am_key")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(flag, 1).otherwise(0)).alias("n_outliers"),
            F.min("_am_med2").alias("med_x2e6"),
            F.min("_am_mad4").alias("mad_x4e6"),
        )
        .withColumnRenamed("_am_key", "key")
    )


def psi_baseline(
    df: DataFrame, value_col: str, n_buckets: int = 10
) -> DataFrame:
    """The LANDED drift reference for ``psi_drift_frozen``: one row per
    bucket — (bucket, n_obs, mn, mx) — with the baseline's frozen
    fixed-width edges denormalized onto every row so a single parquet
    table carries the whole reference (the deployment move of
    ``anomaly_stats``/BM25's frozen stats: score NEW batches against a
    distribution that landed once, so flags don't drift with batch
    composition). Mergeable: two baselines over the SAME (mn, mx,
    n_buckets) add by summing per-bucket ``n_obs`` — the counts are
    plain integers; merging references with different edges is
    meaningless.
    NULL values are excluded, like ``psi_drift``; a baseline with NO
    non-null values raises at execution (no edges to freeze).

    Plan: the corpus is scanned twice (the 1-row edges agg + the
    bucket counts); the edges are CARRIED THROUGH the counts groupBy
    (min of a per-row constant) and filled onto the empty spine rows
    by a window over the bounded ``n_buckets``-row frame — referencing
    the 1-row edges frame from the final select too would plan its
    corpus scan a second time (no CSE for lazy frames, see
    ``psi_drift``)."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    spark = df.sparkSession
    vals = df.filter(F.col(value_col).isNotNull())
    mm = vals.agg(
        F.min(value_col).cast("long").alias("_mn"),
        F.max(value_col).cast("long").alias("_mx"),
    )
    counts = (
        vals.select(F.col(value_col).cast("long").alias("_x"))
        .crossJoin(F.broadcast(mm))
        .select(
            _psi_bucket(F.col("_x"), F.col("_mn"), F.col("_mx"), n_buckets).alias(
                "bucket"
            ),
            "_mn",
            "_mx",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.min("_mn").alias("_mn"),  # per-row constants
            F.min("_mx").alias("_mx"),
        )
    )
    spine = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    w = W.partitionBy()
    return (
        spine.join(counts, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
            # empty-bucket rows carry NULL edges; every non-empty row
            # carries the same constant — max over the bounded frame
            # fills the gaps, and the guard turns the all-NULL case
            # (an empty baseline) into a loud raise at landing time
            _psi_guarded_edge(F.max("_mn").over(w)).alias("mn"),
            _psi_guarded_edge(F.max("_mx").over(w)).alias("mx"),
        )
    )


def psi_drift_frozen(
    baseline: DataFrame, new: DataFrame, value_col: str
) -> DataFrame:
    """PSI of a NEW batch against a LANDED ``psi_baseline`` reference —
    the production shape: the baseline corpus is long gone, only its
    bucket counts and frozen edges remain, and every batch is scored
    against that fixed distribution (batch flags can't shift their own
    reference). Bit-equal to ``psi_drift(old, new)`` when the baseline
    was built from ``old`` — the bucket expression and the smoothing
    tail are the shared helpers, so the two paths cannot drift. The
    bucket count and edges are DERIVED from the reference (its row
    count and mn/mx columns), never trusted from the caller — a
    mismatched bin count would silently skew every Laplace share."""
    edges = baseline.agg(
        F.min("mn").cast("long").alias("_mn"),
        F.min("mx").cast("long").alias("_mx"),
        F.count(F.lit(1)).alias("_nb"),
    )
    ncounts = (
        new.filter(F.col(value_col).isNotNull())
        .select(F.col(value_col).cast("long").alias("_x"))
        .crossJoin(F.broadcast(edges))
        .select(
            _psi_bucket(
                F.col("_x"), F.col("_mn"), F.col("_mx"), F.col("_nb")
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("_nn"))
    )
    filled = (
        baseline.select("bucket", F.col("n_obs").alias("n_old"))
        .join(ncounts, "bucket", "left")
        .select(
            "bucket",
            "n_old",
            F.coalesce("_nn", F.lit(0)).alias("n_new"),
        )
    )
    return _psi_from_counts(filled)


def fk_orphan_report(
    relationships: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Referential-integrity validation across tables: for each
    ``(relation_name, child, fk_col, parent, pk_col)``, count child
    rows, NULL foreign keys, and ORPHANS (non-null FKs with no parent
    row) — the post-migration check the reference's MySQL->ClickHouse
    copy leaves to the operator's eyeballs (ClickHouse enforces no FK
    constraints, so a partial copy silently strands children).

    One row per relationship: (relation, n_child, n_null_fk,
    n_orphans, ok). Plan per CHILD TABLE (relationships grouped on
    DataFrame identity — pass the same object for a child that
    carries several FKs; if two DIFFERENT objects turn out to be
    semantically the same table, a UserWarning flags the lost
    one-scan grouping rather than silently planning N scans): ONE
    scan of the child, one LEFT join per
    relationship against that parent's DISTINCT key projection (each
    carrying a presence marker; distinct parent keys never duplicate
    child rows, so the joins chain on the same scan), and ONE
    aggregate counting rows, NULL FKs, and orphans (non-null FK,
    marker absent) for every relationship at once; the bounded 1-row
    result then explodes into the per-relationship report rows. The
    distinct keys broadcast for dim-sized parents (AQE decides; the
    child never shuffles then) and shuffle-join for fact-sized ones —
    either way a child with N foreign keys is read ONCE, not N times,
    which matters when the child IS the 100 TB fact (lineitem carries
    three FKs: 3x fewer fact reads than the per-relationship form).
    Output is |relationships| rows.
    """
    if not relationships:
        raise ValueError("fk_orphan_report needs at least one relationship")
    groups: dict[int, tuple[DataFrame, list[tuple[str, str, DataFrame, str]]]] = {}
    for name, child, fk, parent, pk in relationships:
        groups.setdefault(id(child), (child, []))[1].append((name, fk, parent, pk))
    # identity grouping is what the caller controls, but a caller that
    # loaded the same table into two DataFrame objects would silently
    # lose the one-scan-per-child plan — surface that instead (the
    # check is driver-side plan comparison over a handful of groups,
    # no job runs)
    reps = [child for child, _ in groups.values()]
    for i in range(len(reps)):
        for j in range(i + 1, len(reps)):
            try:
                same = reps[i].sameSemantics(reps[j])
            except Exception:  # noqa: BLE001 - best-effort diagnostic only
                same = False
            if same:
                import warnings

                warnings.warn(
                    "fk_orphan_report: two relationship groups reference "
                    "semantically identical child tables via DIFFERENT "
                    "DataFrame objects; the child will be scanned once "
                    "PER GROUP. Pass the same DataFrame object for all "
                    "of a child's relationships to get the one-scan plan.",
                    UserWarning,
                    stacklevel=2,
                )
    outs = []
    for child, rels in groups.values():
        # per-relationship aliases: the same fk column may appear in
        # two relationships (different parents) without colliding
        joined = child.select(
            *[F.col(fk).alias(f"_fk{i}") for i, (_, fk, _, _) in enumerate(rels)]
        )
        for i, (_, _, parent, pk) in enumerate(rels):
            pkeys = parent.select(F.col(pk).alias(f"_fk{i}")).distinct().withColumn(
                f"_present{i}", F.lit(True)
            )
            joined = joined.join(pkeys, f"_fk{i}", "left")
        aggs = [F.count(F.lit(1)).alias("n_child")]
        for i in range(len(rels)):
            aggs.append(
                F.sum(F.when(F.col(f"_fk{i}").isNull(), 1).otherwise(0))
                .cast("long")
                .alias(f"_n_null_{i}")
            )
            aggs.append(
                F.sum(
                    F.when(
                        F.col(f"_fk{i}").isNotNull()
                        & F.col(f"_present{i}").isNull(),
                        1,
                    ).otherwise(0)
                )
                .cast("long")
                .alias(f"_n_orph_{i}")
            )
        report = F.array(
            *[
                F.struct(
                    F.lit(name).alias("relation"),
                    F.col("n_child").alias("n_child"),
                    F.col(f"_n_null_{i}").alias("n_null_fk"),
                    F.col(f"_n_orph_{i}").alias("n_orphans"),
                )
                for i, (name, _, _, _) in enumerate(rels)
            ]
        )
        outs.append(
            joined.agg(*aggs)
            .select(F.explode(report).alias("_r"))
            .select(
                "_r.relation",
                "_r.n_child",
                "_r.n_null_fk",
                "_r.n_orphans",
                (F.col("_r.n_orphans") == 0).cast("int").alias("ok"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res
