"""Deduplication operators.

``latest_wins_view`` is the engine's ReplacingMergeTree-FINAL
equivalent (the destination contract the reference sets up via
``ENGINE = ReplacingMergeTree() ORDER BY pk``, tablesqlbuilder.py:393-398).

The rest are the training-data-pipeline dedup family: exact content
hash, normalized fingerprint, MinHash+LSH, SimHash, n-gram Jaccard.
All are pure DataFrame compositions — shingle explosion + hash-min
aggregation + band-bucket self-join — no Python UDFs, so the same plan
runs on 100 TB of documents (the shuffles are keyed on narrow hash
columns, never on document text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.util import fan_out


def latest_wins_view(
    df: DataFrame, key_cols: list[str], version_cols: list[str]
) -> DataFrame:
    """Last-write-wins per key, deterministic via version_cols tiebreak."""
    w = W.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in version_cols])
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def normalize_text(col):
    """Whitespace-collapse + lowercase + trim: the canonical form used by
    every content-hash dedup below (portable to the SQL oracle)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def content_fingerprint(col):
    """Deterministic 128-bit fingerprint of normalized content (md5 —
    identical in Spark and DuckDB, unlike murmur3/xxhash)."""
    return F.md5(normalize_text(col))


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group exact duplicates by content fingerprint; keeper = min id."""
    return (
        df.select(F.col(id_col), content_fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_dupes"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def tokenize(col):
    """Whitespace tokens of normalized text."""
    return F.split(normalize_text(col), " ")


def shingles_from_tokens(tk, k: int = 3):
    """k-word shingles from an ALREADY-MATERIALIZED token-array column.

    ``tk`` must be a plain column reference, not an inline
    split/regexp expression: this expression references it several
    times (size bound + every slice), and Catalyst's project collapsing
    would otherwise re-run the tokenization once per reference — i.e.
    per shingle, turning an O(tokens) transform into O(tokens^2).
    """
    idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - k, F.lit(0)))
    return F.when(
        F.size(tk) >= k,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i + 1, k))),
    ).otherwise(F.array(F.concat_ws(" ", tk)))


def word_shingles(col, k: int = 3):
    """k-word shingles of normalized text as an array column.

    Built from pure SQL building blocks (split + sequence + transform)
    so the DuckDB oracle can reproduce it token-for-token. Prefer
    ``tokenize`` + ``shingles_from_tokens`` with a projection boundary
    between them in hot paths (see shingle_table).
    """
    return shingles_from_tokens(tokenize(col), k)


# MinHash constants: one md5 per shingle -> 60-bit int, then the i-th
# hash function is the affine transform (A_i * h28 + B_i) mod MH_P.
# h28 < 2^28 and A_i < 2^20 keep every product far below 2^63 — both
# engines (and the SQL oracle) compute identical exact integers.
MH_P = 1_000_000_007
MH_H28 = 1 << 28


def mh_a(i: int) -> int:
    return 2 * i + 3


def mh_b(i: int) -> int:
    return 104729 * i + 12345


def shingle_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    distinct: bool = True,
    partition_by_id: bool = False,
) -> DataFrame:
    """(doc_id, sh_h) pairs — the base relation for Jaccard and
    MinHash. The shingle string is hashed to a 60-bit int IMMEDIATELY
    (md5 hex prefix -> bigint): every downstream shuffle/join moves an
    8-byte key instead of a ~20-byte string, and the hash is computed
    once, not once per MinHash function. Collisions at 60 bits are
    negligible for any realistic shingle vocabulary.

    ``distinct=False`` skips the dedup shuffle — correct for consumers
    that are duplicate-insensitive (MinHash: min over a multiset equals
    min over its set), wrong for anything that COUNTS shingles
    (Jaccard sizes/intersections need the set).

    ``partition_by_id=True`` hash-partitions the DOCUMENTS by
    ``id_col`` BEFORE tokenizing, so every shingle of a doc is born
    co-located and doc-keyed consumers meet an already-satisfied
    ClusteredDistribution: the distinct becomes a LOCAL aggregate (the
    shingle relation itself never crosses an exchange). The co-location
    survives AQE coalescing a persisted copy to fewer partitions: merged
    hash partitions still cluster by doc. Byte math at
    scale: the repartition moves the raw text once (~5 B/token), where
    the default path's distinct exchange moves the (doc_id, sh_h)
    pairs (~16 B/token) — strictly fewer shuffled bytes for
    ``distinct=True`` consumers. It does NOT pay off for
    ``distinct=False`` + MinHash-only consumers: the signature groupBy
    partial-aggregates map-side (each doc's shingles already live in
    one scan/fan_out partition), so its exchange moves one
    num_hashes-long row per doc — far cheaper than a raw-text
    repartition (r15 idle-host A/B: pbi costs +18..32% there; the r14
    driver artifact agreed). Leave it False for those, and for
    consumers keyed on the SHINGLE (frequency counts, prefix slicing):
    they re-exchange on sh_h either way, and on a well-split input the
    repartition would add a full text shuffle the default path
    avoids."""
    if partition_by_id:
        base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col)).repartition(
            "doc_id"
        )
    else:
        base = fan_out(df).select(
            F.col(id_col).alias("doc_id"), F.col(text_col)
        )
    sh = (
        base
        # tokenize behind its own projection so the regex+split runs
        # once per doc, not once per shingle (see shingles_from_tokens)
        .select("doc_id", tokenize(F.col(text_col)).alias("tk"))
        .select("doc_id", F.explode(shingles_from_tokens(F.col("tk"), k)).alias("shingle"))
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
            .cast("long")
            .alias("sh_h"),
        )
    )
    return sh.distinct() if distinct else sh


def minhash_signatures(shingles: DataFrame, num_hashes: int = 16) -> DataFrame:
    """MinHash signature per doc: signature element i is
    min((A_i * (sh_h mod 2^28) + B_i) mod P) over the doc's shingles.

    One groupBy on doc_id; per-doc state is num_hashes longs. The
    num_hashes hash functions cost one multiply-add each — not one md5
    each — which is what makes k=16+ viable over billions of shingles.
    """
    h28 = (F.col("sh_h") % MH_H28).alias("h28")
    base = shingles.select("doc_id", h28)
    aggs = [
        F.min((F.lit(mh_a(i)) * F.col("h28") + F.lit(mh_b(i))) % MH_P).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return base.groupBy("doc_id").agg(*aggs)


def band_table(
    signatures: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(doc_id, band_id, band_hash) rows from MinHash signatures — the
    bucketing relation of LSH. Exposed separately so incremental
    pipelines can land it as state and bucket NEW documents against it
    without recomputing the historical corpus."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_id"), F.md5(F.concat_ws("|", *parts)).alias("band_hash"))
        )
    return signatures.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc_id", F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash"))


def optimal_lsh_bands(
    num_hashes: int,
    threshold: float,
    fp_weight: float = 0.5,
    _steps: int = 200,
) -> int:
    """Pick the band count minimizing the weighted integrated LSH
    error at a target Jaccard ``threshold`` — the standard S-curve
    analysis (Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets"
    ch. 3; same objective datasketch's public optimizer integrates).

    For b bands of r = num_hashes // b rows, a pair with Jaccard s
    collides with probability p(s) = 1 - (1 - s^r)^b. The false-positive
    mass is the integral of p(s) below the threshold; the false-negative
    mass is the integral of 1 - p(s) above it (midpoint quadrature,
    ``_steps`` cells — plenty for a monotone smooth integrand picked
    from <= num_hashes discrete candidates). ``fp_weight`` in [0, 1]
    trades the two: weight FP high when the verify stage is the cost
    center (every candidate pays an exact Jaccard), FN high when recall
    is the product requirement (dedup misses poison training data).

    Driver-side arithmetic over O(num_hashes * _steps) floats — use it
    to choose ``lsh_bands``/``CurationConfig.lsh_bands`` BEFORE the job;
    nothing here touches a DataFrame. Only divisors of num_hashes are
    candidates (band_table needs equal-width bands)."""
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    if not (0.0 < threshold < 1.0):
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if not (0.0 <= fp_weight <= 1.0):
        raise ValueError(f"fp_weight must be in [0, 1], got {fp_weight}")
    best_b, best_err = 1, float("inf")
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        fp = fn = 0.0
        for i in range(_steps):
            s = (i + 0.5) / _steps
            p = 1.0 - (1.0 - s**r) ** b
            if s < threshold:
                fp += p
            else:
                fn += 1.0 - p
        err = (fp_weight * fp + (1.0 - fp_weight) * fn) / _steps
        if err < best_err:
            best_b, best_err = b, err
    return best_b


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_docs: int | None = None,
) -> DataFrame:
    """Band the signature, bucket by band hash, self-join buckets.

    The standard LSH trick: docs sharing ANY band bucket become a
    candidate pair. The self-join is keyed on (band_id, band_hash) —
    narrow keys, and bucket sizes are the only skew concern: a bucket
    of n docs emits C(n, 2) pairs, so one boilerplate/template cluster
    (every near-identical copy lands the same hash in every band) can
    put ~|cluster|^2 of the work on one shuffle partition.

    Two guardrails for that at scale:

    - AQE's skew-join split handles pathological partitions once they
      cross its bar (default: >256MB and >5x the median partition) —
      verified live on this join shape in tests/test_skew.py. Note the
      quadratic OUTPUT still exists; AQE only distributes it.
    - ``max_bucket_docs``: buckets holding more docs than the cap are
      EXCLUDED from the self-join. The cap is computed as a map-side-
      combined groupBy over the band keys, filtered to the OVER-cap
      keys only (tiny by construction — these are the template
      clusters), then broadcast-anti-joined against the banded rows.
      Deliberately NOT a count window: a window partitioned on
      (band_id, band_hash) is unsplittable, so the 10^7-member hot
      bucket this cap exists to bound would buffer and sort in a
      single task before being filtered out — reintroducing the skew.
      The aggregate form re-reads the banding subtree once more per
      action, but partial aggregation collapses each hot bucket to one
      row per map task, and the anti-join side is a broadcast, so the
      main path gains no shuffle and no unsplittable partition.
      This is the production answer for template
      clusters: their members are near-identical copies that exact/
      fingerprint dedup already collapses, and C(n, 2) pairs of the
      survivors add no information worth the quadratic cost. Opt-in
      (default None = every bucket joins) because it trades recall on
      genuinely-distinct-but-clustered docs for bounded work.
    """
    banded = band_table(signatures, num_hashes=num_hashes, bands=bands)
    if max_bucket_docs is not None:
        over_cap = (
            banded.groupBy("band_id", "band_hash")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > int(max_bucket_docs))
            .select("band_id", "band_hash")
        )
        banded = banded.join(
            F.broadcast(over_cap), ["band_id", "band_hash"], "left_anti"
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame,
    candidates: DataFrame | None = None,
    min_jaccard: float = 0.0,
    min_inter: int = 1,
    storage=None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (or all co-shingled
    pairs when candidates is None).

    |A ∩ B| comes from the shingle-hash self-join; |A ∪ B| = |A|+|B|-|A∩B|.
    Restricting to candidate pairs first is the 100 TB path: the
    all-pairs join only ever materializes pairs that share ≥1 shingle.

    The shingle relation is consumed three times (sizes + both join
    sides); pass ``storage`` (e.g. ``StorageLevel.MEMORY_AND_DISK``) to
    persist it spill-safely for the duration. The CALLER owns the
    persist lifecycle — unpersist/clearCache after the action — so a
    long-lived session (the bench loop, a notebook) doesn't accumulate
    stale cached relations. No persist happens by default.
    """
    out = _pair_intersections(shingles, candidates, storage).withColumn(
        # raw double division, NOT rounded: both engines lower
        # int/int to the identical IEEE double op, so the value is
        # bit-deterministic — unlike round(), whose half-way
        # behavior differs across engines. The when() guard keeps
        # ANSI mode from throwing on a degenerate |A u B| = 0 row
        # (only reachable via duplicate shingle rows, e.g. a
        # replayed state append): NULL jaccard fails every >=
        # threshold filter, so degenerate rows drop out instead of
        # killing the job. With distinct shingles and doc_a !=
        # doc_b the union size is provably >= 1 and the guard
        # never fires.
        "jaccard",
        F.when(
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")) > 0,
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        ),
    )
    return out.filter(
        (F.col("jaccard") >= min_jaccard) & (F.col("n_inter") >= min_inter)
    ).select("doc_a", "doc_b", "n_inter", "jaccard")


def _pair_intersections(
    shingles: DataFrame, candidates: DataFrame | None, storage
) -> DataFrame:
    """Shared verify core of ``jaccard_pairs`` / ``containment_pairs``:
    (doc_a, doc_b, n_inter, n_a, n_b) for co-shingled (or candidate)
    pairs. The metric on top is the only thing the two operators
    differ in, so they cannot drift on the join machinery."""
    if storage is not None:
        shingles = shingles.persist(storage)
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if candidates is None:
        a = shingles.alias("sa")
        b = shingles.alias("sb")
        inter = (
            a.join(b, (F.col("sa.sh_h") == F.col("sb.sh_h")) & (F.col("sa.doc_id") < F.col("sb.doc_id")))
            .groupBy(F.col("sa.doc_id").alias("doc_a"), F.col("sb.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        # candidates DRIVE the join (not a post-hoc semi-join filter):
        # the intermediate is |candidates| x shingles-per-doc, never the
        # all-pairs co-shingle explosion — this is what makes
        # LSH-then-verify linear-ish at 100 TB. Self-pairs are never
        # meaningful and (with any duplicate shingle rows) degenerate
        # the union size to zero, so they're excluded up front.
        candidates = candidates.filter(F.col("doc_a") != F.col("doc_b"))
        sa = shingles.select(F.col("doc_id").alias("doc_a"), F.col("sh_h").alias("_h"))
        sb = shingles.select(F.col("doc_id").alias("doc_b"), F.col("sh_h").alias("_h"))
        inter = (
            candidates.join(sa, "doc_a")
            .join(sb, ["doc_b", "_h"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
    )


def containment_pairs(
    shingles: DataFrame,
    candidates: DataFrame | None = None,
    min_containment: float = 0.0,
    min_inter: int = 1,
    storage=None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT over candidate pairs (or all
    co-shingled pairs when candidates is None): |A ∩ B| / min(|A|, |B|)
    — the sub-document duplicate metric. A truncated or excerpted copy
    of a long document scores near 1.0 here while its symmetric Jaccard
    can sit far below any dedup threshold (the intersection is divided
    by the LONG doc's union), so Jaccard-threshold passes systematically
    keep truncated duplicates; containment catches them (the one-sided
    overlap move of RefinedWeb/Gopher-style near-dedup, Broder 1997's
    containment measure).

    Same verify core as ``jaccard_pairs`` (shared
    ``_pair_intersections`` — candidate-driven join, never all-pairs;
    ``storage``/persist contract identical, caller-owned). Returns
    (doc_a, doc_b, n_inter, containment); feed pairs to
    ``connected_components``/``component_keepers`` exactly like the
    Jaccard path.
    """
    out = _pair_intersections(shingles, candidates, storage).withColumn(
        # least(n_a, n_b) >= 1 whenever the pair exists (each doc has at
        # least its own intersecting shingles), but duplicate shingle
        # rows from a replayed state append could still degenerate —
        # same NULL-drops-the-row guard as jaccard_pairs
        "containment",
        F.when(
            F.least(F.col("n_a"), F.col("n_b")) > 0,
            F.col("n_inter") / F.least(F.col("n_a"), F.col("n_b")),
        ),
    )
    return out.filter(
        (F.col("containment") >= min_containment)
        & (F.col("n_inter") >= min_inter)
    ).select("doc_a", "doc_b", "n_inter", "containment")


def containment_prefix_candidates(
    shingles: DataFrame,
    min_containment: float,
    sorted_arrays: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs for a containment >= ``min_containment`` join via
    PREFIX FILTERING (Bayardo/Ma/Srikant, "Scaling Up All Pairs
    Similarity Search", WWW 2007) — the exact candidate generator for
    containment, where banded MinHash-LSH is the WRONG tool: LSH
    collision probability tracks JACCARD, and the interesting
    containment pairs (short doc inside long doc) have low Jaccard by
    construction, so LSH banding systematically under-recalls exactly
    the pairs containment exists to find.

    The filter: order every doc's shingles by ascending corpus
    document-frequency (rarest first, ties by hash); a doc's PREFIX is
    its first floor((1-t)*|A|) + 1 shingles. If containment(A,B) >= t
    with |A| <= |B|, then A shares >= ceil(t*|A|) shingles with B, and
    a shared set that large cannot fit entirely inside A's suffix
    (|A| - prefix_len < t*|A|) — so at least one PREFIX shingle of the
    smaller doc appears in B. Joining every doc's prefix against the
    full shingle relation therefore finds every qualifying pair: NO
    false negatives, exactness pinned by test against the all-pairs
    baseline.

    Scale shape: the prefix table is ~(1-t) of the shingle relation
    (t=0.9 -> 10% + 1 row per doc), and its join keys are each doc's
    RAREST shingles — the frequency ordering steers the join away from
    hot boilerplate shingles, so bucket sizes stay small exactly where
    the co-shingle self-join explodes. One frequency aggregate + one
    per-doc sort_array slice (bounded by doc shingle count, map-side
    groupBy — no window) + one equi-join. Feed the result to
    ``containment_pairs(candidates=...)`` for the exact verify.

    The slice takes ONE MARGIN SHINGLE beyond the analytic bound:
    ``1.0 - t`` in binary floating point can round DOWN (e.g.
    ``1 - 0.3 == 0.699…``), which would shorten the prefix by one and
    admit a false negative for pairs sitting exactly at the threshold;
    the FP error is ~1e-16·|A|, so it can shift ``floor`` by at most
    one integer for any physical doc — +1 shingle restores exactness
    unconditionally. Requires set-semantics shingles
    (``shingle_table(distinct=True)``): duplicate rows would inflate
    ``size(_arr)`` past the set size the containment metric counts.
    """
    if not (0.0 < min_containment <= 1.0):
        raise ValueError(
            f"min_containment must be in (0, 1], got {min_containment}"
        )
    return _prefix_filter_candidates(
        shingles, 1.0 - min_containment, sorted_arrays
    )


def jaccard_prefix_candidates(
    shingles: DataFrame,
    min_jaccard: float,
    sorted_arrays: DataFrame | None = None,
) -> DataFrame:
    """EXACT candidate pairs for a Jaccard >= ``min_jaccard`` join via
    the same AllPairs prefix filter — the deterministic alternative to
    banded MinHash-LSH: LSH trades false negatives for speed (a pair
    whose bands never collide is silently lost; recall is a
    probability, not a guarantee), while the prefix filter provably
    emits a superset of every qualifying pair, so
    ``jaccard_pairs(candidates=...)`` on top is EXACT near-dup at
    scale.

    The Jaccard bound is TIGHTER than containment's: J(A,B) >= t with
    |A| <= |B| forces |A∩B| >= t(|A|+|B|)/(1+t) >= 2t|A|/(1+t), so the
    prefix only needs floor(((1-t)/(1+t))*|A|) + 1 shingles — ~11% of
    each doc at t=0.8 (vs 20% for containment at the same t). Same
    margin shingle for FP rounding, same rarest-first frequency
    ordering steering the join off hot shingles, same set-semantics
    requirement (``shingle_table(distinct=True)``) as
    ``containment_prefix_candidates``; both share
    ``_prefix_filter_candidates`` so the machinery cannot drift.
    """
    if not (0.0 < min_jaccard <= 1.0):
        raise ValueError(f"min_jaccard must be in (0, 1], got {min_jaccard}")
    return _prefix_filter_candidates(
        shingles, (1.0 - min_jaccard) / (1.0 + min_jaccard), sorted_arrays
    )


def rarest_sorted_shingles(shingles: DataFrame) -> DataFrame:
    """(doc_id, _arr) where _arr is the doc's shingles as (df, sh_h)
    structs sorted rarest-first — the shared base of both prefix-filter
    forms. It costs the two heaviest shuffles of candidate generation
    (the corpus-wide frequency aggregate + the per-doc collect), so a
    caller running BOTH metric forms (e.g. curate with near_dup_exact
    and near_dup_containment together) should compute it once, persist
    it, and pass it via ``sorted_arrays=`` instead of paying it twice
    for two different slice lengths of the same array."""
    freq = shingles.groupBy("sh_h").agg(F.count(F.lit(1)).alias("_df"))
    return (
        shingles.join(freq, "sh_h")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("_df"), F.col("sh_h")))
            ).alias("_arr")
        )
    )


def prefix_shingles(
    shingles: DataFrame, frac: float, sorted_arrays: DataFrame | None = None
) -> DataFrame:
    """Each doc's AllPairs PREFIX as (doc_id, sh_h) rows: its
    floor(frac*|A|) + 2 rarest shingles (the +1 margin covers FP
    rounding of ``frac``, see containment_prefix_candidates); slice
    length past |A| is harmless (slice clamps).

    Exactness note that makes the INCREMENTAL use sound: the one-sided
    prefix theorem (if the pair's overlap >= ceil((1-frac')|A|) with
    frac' <= frac, the overlap cannot fit in A's suffix, so a prefix
    shingle of A lies in B's FULL set) holds for ANY per-doc ordering
    of A's shingles — rarest-first is purely a join-size heuristic,
    never a correctness requirement — and for any probe fraction
    frac' <= the frac the prefix was built with (shorter needed prefix
    is a subset of the landed longer one). A prefix table landed by
    one batch with that batch's frequency ordering therefore stays an
    exact candidate source for every later batch and for any
    equal-or-tighter threshold."""
    if sorted_arrays is None:
        sorted_arrays = rarest_sorted_shingles(shingles)
    return (
        sorted_arrays
        .select(
            "doc_id",
            F.explode(
                F.slice(
                    F.col("_arr"),
                    1,
                    F.floor(F.lit(frac) * F.size("_arr")).cast("int") + 2,
                )
            ).alias("_p"),
        )
        .select("doc_id", F.col("_p.sh_h").alias("sh_h"))
    )


def cross_prefix_candidates(
    sh_new: DataFrame,
    sh_hist: DataFrame,
    frac: float,
    prefix_new: DataFrame | None = None,
    prefix_hist: DataFrame | None = None,
) -> DataFrame:
    """EXACT AllPairs candidates ACROSS two shingle relations — the
    incremental form of ``_prefix_filter_candidates``: every pair
    (a in new, b in hist) whose overlap meets the ``frac`` bound is
    emitted (superset; the metric verify filters). Two one-sided
    joins cover both size orders:

    - |A| <= |B|: a prefix shingle of the NEW doc appears somewhere in
      the hist doc's FULL shingle set -> prefix(new) equi-join sh_hist;
    - |B| < |A|: a prefix shingle of the HIST doc appears in the new
      doc's full set -> prefix(hist) equi-join sh_new.

    ``prefix_hist`` is the reason this scales: pass the LANDED prefix
    table (CurationState ``prefixes`` — derived once per batch at
    write time, ~frac of the shingle rows) instead of re-sorting the
    whole history every increment. Per-batch cost is then one scan of
    the landed shingles + prefixes with the BATCH side broadcast on
    sh_h (batch-sized relations — AQE picks the broadcast; the history
    side streams, it is never shuffled). A landed prefix built at a
    LOOSER fraction than ``frac`` is still exact (see
    ``prefix_shingles``); the caller validates that via the state's
    parameter manifest. Returns (doc_a=new id, doc_b=hist id) pairs,
    distinct; ids must not collide across the two relations (the
    CurationState contract)."""
    if prefix_new is None:
        prefix_new = prefix_shingles(sh_new, frac)
    if prefix_hist is None:
        prefix_hist = prefix_shingles(sh_hist, frac)
    c1 = prefix_new.select(F.col("doc_id").alias("doc_a"), "sh_h").join(
        sh_hist.select(F.col("doc_id").alias("doc_b"), "sh_h"), "sh_h"
    )
    c2 = sh_new.select(F.col("doc_id").alias("doc_a"), "sh_h").join(
        prefix_hist.select(F.col("doc_id").alias("doc_b"), "sh_h"), "sh_h"
    )
    return (
        c1.unionByName(c2)
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _prefix_filter_candidates(
    shingles: DataFrame, frac: float, sorted_arrays: DataFrame | None = None
) -> DataFrame:
    """Shared AllPairs core within ONE relation: each doc's prefix
    (``prefix_shingles``) joined against the full shingle relation.
    Emits normalized (doc_a < doc_b) pairs."""
    prefix = prefix_shingles(shingles, frac, sorted_arrays)
    other = shingles.select(F.col("doc_id").alias("_od"), "sh_h")
    return (
        prefix.join(other, "sh_h")
        .filter(F.col("doc_id") != F.col("_od"))
        .select(
            F.least("doc_id", "_od").alias("doc_a"),
            F.greatest("doc_id", "_od").alias("doc_b"),
        )
        .distinct()
    )


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    flag_threshold: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination: for each benchmark/eval document, the
    fraction of its k-gram shingles found ANYWHERE in the training
    corpus — the standard check that eval data didn't leak into
    pretraining (and the gate for dropping contaminated eval items).

    Plan is built for |corpus| >> |benchmark| (the real-world shape):
    the benchmark's distinct shingle hashes are BROADCAST into a
    left-semi join against the corpus shingle stream, so the 100 TB
    corpus side is never shuffled — it is scanned once, map-side
    filtered to the (tiny, <= |benchmark shingles|) hit set, and only
    that survivor set is deduplicated and joined back to per-doc
    counts. The corpus shingle table skips its distinct (semi-join
    existence is duplicate-insensitive), saving that shuffle too.
    """
    ben = shingle_table(benchmark, text_col, id_col, k)  # distinct per doc
    ben_ids = ben.select("sh_h").distinct()
    corp = shingle_table(corpus, text_col, id_col, k, distinct=False)
    hit_ids = (
        corp.join(F.broadcast(ben_ids), "sh_h", "left_semi").select("sh_h").distinct()
    )
    n_sh = ben.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    n_hit = (
        ben.join(F.broadcast(hit_ids), "sh_h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    out = (
        n_sh.join(n_hit, "doc_id", "left")
        .withColumn("n_contaminated", F.coalesce("n_contaminated", F.lit(0)))
        .withColumn(
            "contamination_frac", F.col("n_contaminated") / F.col("n_shingles")
        )
    )
    return out.select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        "contamination_frac",
        (F.col("contamination_frac") >= flag_threshold).alias("flag_contaminated"),
    )


def corpus_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    flag_threshold: float = 0.5,
) -> DataFrame:
    """Corpus-side decontamination: for each CORPUS document, the
    fraction of its k-gram shingles found anywhere in the benchmark —
    the direction used to DROP training docs that are near-verbatim
    copies of eval items (``contamination_check`` is the dual: it
    scores benchmark docs to drop leaked EVAL items).

    Same |corpus| >> |benchmark| plan discipline as
    ``contamination_check``, from the other side: the benchmark's
    distinct shingle hashes are BROADCAST onto the corpus shingle
    stream (map-side hash join — the corpus side is never broadcast),
    and the corpus crosses the wire exactly once, inside the per-doc
    distinct-count aggregate: the two ``count_distinct`` columns plan
    as one Expand(x2) + partial-dedup HashAggregate BEFORE the
    exchange, so the shuffled volume is bounded by 2x the per-doc
    DISTINCT shingle pairs as 8-byte hashed keys — strictly less state
    than a corpus-wide ``distinct()`` followed by a second count
    shuffle, and the same single-pass cost shape as MinHash signatures.
    """
    ben_ids = (
        shingle_table(benchmark, text_col, id_col, k, distinct=False)
        .select("sh_h")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corp = shingle_table(corpus, text_col, id_col, k, distinct=False)
    out = (
        corp.join(F.broadcast(ben_ids), "sh_h", "left")
        .groupBy("doc_id")
        .agg(
            F.count_distinct(F.col("sh_h")).alias("n_shingles"),
            F.count_distinct(
                F.when(F.col("_hit") == 1, F.col("sh_h"))
            ).alias("n_contaminated"),
        )
        .withColumn(
            "contamination_frac", F.col("n_contaminated") / F.col("n_shingles")
        )
    )
    return out.select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        "contamination_frac",
        (F.col("contamination_frac") >= flag_threshold).alias("flag_contaminated"),
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """SimHash over word tokens: each token votes its 32-bit md5-derived
    hash bitwise; the sign of each bit-sum forms the fingerprint.

    Pure expression pipeline: token explode -> bit explode via sequence
    -> conditional sum -> bit reassembly. Hamming-close fingerprints =
    near-duplicates. 32 bits keeps every intermediate in a LONG (and
    portable to the oracle via conv/hex tricks).
    """
    toks = (
        fan_out(df)
        .select(F.col(id_col).alias("doc_id"), F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"))
        .withColumn("th", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"))
    )
    bit = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit_i"),
        "th",
    ).withColumn(
        "vote",
        F.when(F.expr("(shiftright(th, bit_i) & 1) = 1"), 1).otherwise(-1),
    )
    bitsum = bit.groupBy("doc_id", "bit_i").agg(F.sum("vote").alias("s"))
    return bitsum.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(cast(1 as bigint), bit_i)")).otherwise(0)
        ).alias("simhash")
    )


def _simhash_chunks(
    sigs: DataFrame, bits: int, hamming_max: int, id_col: str, sig_col: str
) -> DataFrame:
    """(id, fingerprint, chunk_i, chunk_val) rows for the Manku
    pigeonhole banding — the fingerprint split into ``hamming_max + 1``
    contiguous chunks; shared by the self-join (``simhash_near_pairs``)
    and batch-vs-history (``simhash_near_pairs_cross``) forms so the
    two can never chunk differently (landed fingerprints must collide
    with probe-side chunks bit-for-bit)."""
    n_chunks = hamming_max + 1
    if bits % n_chunks:
        raise ValueError(f"bits={bits} not divisible into {n_chunks} chunks")
    cb = bits // n_chunks
    mask = (1 << cb) - 1
    return sigs.select(
        F.col(id_col).alias("_id"),
        F.col(sig_col).alias("_sig"),
        F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("chunk_i"),
    ).withColumn(
        "chunk_val",
        F.expr(f"shiftright(_sig, chunk_i * {cb}) & {mask}"),
    )


def hamming_chunk_stats(
    bits: int,
    hamming_max: int,
    n_docs: int,
    min_pruning: float = 32.0,
) -> dict:
    """Candidate-volume advisor for the Manku pigeonhole banding
    (``simhash_near_pairs`` / ``simhash_near_pairs_cross``) — the
    ``optimal_lsh_bands`` analogue for Hamming budgets. Run it BEFORE
    a 100-TB pass: the banding splits ``bits`` into ``hamming_max + 1``
    chunks, and a RANDOM (unrelated) pair collides on some chunk with

        p = 1 - (1 - 2^-chunk_bits)^n_chunks
          ~= n_chunks / 2^chunk_bits        (union bound, tight here)

    so candidate generation prunes only ``1/p`` of the all-pairs cross
    product. The budget drives this hard: at 48 bits, hamming_max 7
    gives 8 chunks x 6 bits -> p ~= 8/64 (only ~8.5x pruning — a
    near-cross-product at corpus scale), while hamming_max 5 gives
    6 chunks x 8 bits -> ~43x, and the 64-bit Manku shape (hamming 3,
    4 x 16 bits) prunes ~16000x. Correctness is never at stake — the
    within-bucket Hamming verify is exact — only join volume.

    Returns a dict with ``n_chunks``, ``chunk_bits``,
    ``collision_prob`` (p above), ``expected_candidate_pairs``
    (C(n_docs, 2) * p — an upper bound for real corpora, whose
    fingerprints are not adversarially clustered), ``pruning_factor``
    (1/p), and ``ok`` (pruning_factor >= min_pruning). Emits a
    ``UserWarning`` when not ok, naming the largest budget that passes
    (``max_hamming_budget``). Driver-side integer/float arithmetic —
    touches no DataFrame."""
    n_chunks = hamming_max + 1
    if bits % n_chunks:
        raise ValueError(f"bits={bits} not divisible into {n_chunks} chunks")
    if n_docs < 0:
        raise ValueError(f"n_docs must be >= 0, got {n_docs}")
    cb = bits // n_chunks
    p = 1.0 - (1.0 - 2.0**-cb) ** n_chunks
    all_pairs = n_docs * (n_docs - 1) // 2
    pruning = 1.0 / p if p > 0 else float("inf")
    ok = pruning >= min_pruning
    if not ok:
        import warnings

        best = max_hamming_budget(bits, min_pruning)
        warnings.warn(
            f"hamming_max={hamming_max} at {bits} bits yields "
            f"{n_chunks} chunks of {cb} bits: only {pruning:.1f}x "
            f"candidate pruning vs all-pairs (floor {min_pruning:g}x)."
            + (
                f" Largest budget meeting the floor: "
                f"hamming_max={best}."
                if best is not None
                else " No divisible budget meets the floor at this "
                "width — widen the fingerprint."
            ),
            UserWarning,
            stacklevel=2,
        )
    return {
        "n_chunks": n_chunks,
        "chunk_bits": cb,
        "collision_prob": p,
        "expected_candidate_pairs": all_pairs * p,
        "pruning_factor": pruning,
        "ok": ok,
    }


def max_hamming_budget(bits: int, min_pruning: float = 32.0) -> int | None:
    """Largest ``hamming_max`` whose pigeonhole banding at ``bits``
    still prunes at least ``min_pruning``x vs all-pairs (and divides
    the width evenly, as ``_simhash_chunks`` requires). At the repo's
    48-bit image/audio fingerprints and the default 32x floor this is
    5 (6 chunks x 8 bits, ~43x); at 64 bits it is 7 (8 x 8). None if
    even hamming_max=0 misses the floor."""
    best = None
    for h in range(bits):
        n_chunks = h + 1
        if bits % n_chunks:
            continue
        p = 1.0 - (1.0 - 2.0 ** -(bits // n_chunks)) ** n_chunks
        if p > 0 and 1.0 / p >= min_pruning:
            best = h
    return best


def simhash_near_pairs(
    sigs: DataFrame,
    bits: int = 32,
    hamming_max: int = 3,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, without the
    all-pairs cross product.

    Pigeonhole banding (Manku et al., WWW'07 "Detecting Near-Duplicates
    for Web Crawling"): split the ``bits``-bit fingerprint into
    ``hamming_max + 1`` contiguous chunks — any pair within Hamming
    distance ``hamming_max`` must agree EXACTLY on at least one chunk.
    Candidates come from an equi-self-join on ``(chunk_i, chunk_val)``
    (narrow 2-int key, AQE-splittable like the MinHash band join); the
    exact Hamming verify is one ``bit_count(a XOR b)`` expression.

    At 100 TB this is the same plan family as ``lsh_candidate_pairs``:
    the corpus crosses the wire as (id, chunk, fingerprint) triples —
    ``hamming_max + 1`` rows of three longs per doc, independent of
    document size — and only same-chunk buckets are joined. Random
    fingerprints collide on a chunk with p ~= 2^-(bits/(d+1)), so bucket
    sizes stay near-uniform unless the corpus genuinely clusters.
    BUDGET MATTERS: p also bounds how much the banding prunes vs
    all-pairs (1/p), and at high budgets the chunks get thin — 48 bits
    at hamming_max 7 prunes only ~8.5x. Run ``hamming_chunk_stats``
    before a large pass and prefer budgets ``max_hamming_budget``
    approves (<= 5 at 48 bits, <= 7 at 64).

    Returns (doc_a, doc_b, hamming), doc_a < doc_b, one row per
    verified pair.
    """
    chunks = _simhash_chunks(sigs, bits, hamming_max, id_col, sig_col)
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_i") == F.col("b.chunk_i"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        # verify BEFORE the pair-dedup: hamming is a pure function of
        # the joined row, and most candidates fail it, so filtering
        # first shrinks the distinct's exchange to verified near-pairs
        # only (bit_count per duplicate row is free next to a shuffle)
        .select(
            F.col("a._id").alias("doc_a"),
            F.col("b._id").alias("doc_b"),
            F.bit_count(F.expr("a._sig ^ b._sig")).alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_max)
    )
    # a pair sharing >1 chunk appears once per shared chunk: dedup on
    # the pair (hamming is functionally dependent on the ids)
    return cand.distinct()


def simhash_near_pairs_cross(
    new_sigs: DataFrame,
    hist_sigs: DataFrame,
    bits: int = 32,
    hamming_max: int = 3,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
) -> DataFrame:
    """Batch-vs-HISTORY form of ``simhash_near_pairs``: pairs one
    relation's fingerprints against another's under the same Manku
    pigeonhole banding — the incremental-dedup probe shape, where
    ``hist_sigs`` is a LANDED fingerprint table (e.g. CurationState's
    ``image_fps``) and ``new_sigs`` is the current batch. Chunking is
    derived in-plan from the landed longs via the shared helper, so a
    later probe may use ANY hamming budget the bit width divides —
    nothing about the banding needs to be pinned at landing time.

    No ``a < b`` constraint: the sides are distinct relations by
    contract (history-wins semantics settle direction); the same id on
    both sides (a replayed epoch's own append) is the CALLER's job to
    exclude, exactly like every other state probe. Scale shape: an
    equi-join on narrow (chunk_i, chunk_val) keys — the history side
    is scanned, bucket-joined, and never self-joined; only colliding
    buckets move. Returns (doc_a from new, doc_b from hist, hamming).
    """
    a = _simhash_chunks(new_sigs, bits, hamming_max, id_col, sig_col).alias("a")
    b = _simhash_chunks(hist_sigs, bits, hamming_max, id_col, sig_col).alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_i") == F.col("b.chunk_i"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val")),
        )
        .select(
            F.col("a._id").alias("doc_a"),
            F.col("b._id").alias("doc_b"),
            F.bit_count(F.expr("a._sig ^ b._sig")).alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_max)
        .distinct()
    )
