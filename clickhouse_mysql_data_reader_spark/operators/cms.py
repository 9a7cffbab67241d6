"""Count-min sketch: mergeable approximate frequency counting.

The monitoring family (operators/profile.py) already carries HLL
distinct sketches, value histograms, and mergeable anomaly stats; this
adds the missing member — approximate COUNTS for point-queryable items
(heavy-hitter reports, per-entity rate checks) in bounded space. The
reference (clickhouse-mysql-data-reader) delegates this surface to
ClickHouse server-side aggregation states (e.g. ``topK``); here it is
a first-class DataFrame operator in the same landed/mergeable shape as
``psi_baseline`` and ``distinct_sketches``.

Sketch model (Cormode & Muthukrishnan 2005): ``depth`` independent
hash rows of ``width`` buckets each; every item increments one bucket
per row; the estimate for an item is the MIN of its ``depth`` bucket
counts. Error is one-sided (never under-counts) and bounded by
``2N/width`` with probability ``1 - 2^-depth``.

Why this shape at 100 TB:
- the sketch is a DataFrame of at most ``depth * width`` rows
  (row_idx, bucket, cnt) — counts are additive, so sketches from
  shards/epochs merge by union + sum (one tiny groupBy), land as
  parquet next to the other monitoring state, and never rescan the
  corpus;
- building is ONE shuffle whose map-side partial aggregate crushes
  each task's output to ≤ depth*width rows no matter how many input
  rows it scanned — the explode-by-depth multiplication never leaves
  the scan stage;
- estimating joins the BOUNDED candidate frame against the broadcast
  sketch — the corpus is not touched at query time.

Hashing is md5-derived (identical bytes on Spark and DuckDB, the
project-wide convention — see queries/llmops.py) so the DuckDB oracle
replays the sketch bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["cms_build", "cms_estimate", "cms_heavy_hitters"]


def _bucket(item: Column, row_idx: int, width: int) -> Column:
    """Row ``row_idx``'s bucket for ``item``: the first 8 hex chars of
    md5("{row_idx}:{item}") as an integer, mod width. 8 hex chars parse
    to < 2^32 (always positive), so pmod == ``%`` on the oracle side."""
    h = F.md5(F.concat(F.lit(f"{row_idx}:"), item))
    return F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(width)
    )


def _item_rows(item: Column, depth: int, width: int) -> Column:
    return F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("row_idx"),
                _bucket(item, i, width).alias("bucket"),
            )
            for i in range(depth)
        ]
    )


def cms_build(
    df: DataFrame,
    item_col: str,
    depth: int = 3,
    width: int = 1024,
    weight_col: str | None = None,
) -> DataFrame:
    """Build a count-min sketch over ``item_col``.

    Returns (row_idx INT, bucket BIGINT, cnt BIGINT) — at most
    depth*width rows; zero-count buckets are simply absent (readers
    coalesce to 0). NULL items are skipped (they are not a countable
    identity; the NULL population is the profile monitor's job).
    ``weight_col`` switches from occurrence counting to weighted sums
    (e.g. token counts per source).
    """
    item = F.col(item_col).cast("string")
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    return (
        df.where(F.col(item_col).isNotNull())
        .select(F.explode(_item_rows(item, depth, width)).alias("rb"), w.alias("w"))
        .groupBy(
            F.col("rb.row_idx").alias("row_idx"),
            F.col("rb.bucket").alias("bucket"),
        )
        .agg(F.sum("w").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    item_col: str,
    depth: int = 3,
    width: int = 1024,
) -> DataFrame:
    """Point-estimate counts for a BOUNDED candidate frame against the
    sketch: min over the item's ``depth`` bucket counts (absent bucket
    = 0). Returns the candidate rows + ``est_count``.

    The sketch (≤ depth*width rows) is broadcast; the candidate frame
    explodes by depth and folds back with a min — the original corpus
    is never touched, which is the whole point of landing the sketch.
    Geometry must match the build call.
    """
    clash = {"row_idx", "bucket", "cnt"} & set(candidates.columns)
    if clash:
        raise ValueError(
            f"candidate columns {sorted(clash)} collide with the sketch "
            "schema (row_idx/bucket/cnt); rename them before estimating"
        )
    item = F.col(item_col).cast("string")
    keep = [c for c in candidates.columns]
    exploded = candidates.select(
        *keep, F.explode(_item_rows(item, depth, width)).alias("rb")
    ).select(*keep, F.col("rb.row_idx").alias("row_idx"), F.col("rb.bucket").alias("bucket"))
    return (
        exploded.join(F.broadcast(sketch), ["row_idx", "bucket"], "left")
        .groupBy(*keep)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est_count"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    item_col: str,
    depth: int = 3,
    width: int = 1024,
    threshold: int = 100,
    sketch: DataFrame | None = None,
) -> DataFrame:
    """MINE the heavy hitters — every distinct item whose CMS estimate
    reaches ``threshold`` — with NO candidate list. ``cms_estimate``
    answers point queries about items you already know; this is the
    other half of the classic two-pass heavy-hitters recipe: pass 1
    builds (or reuses, via ``sketch=``) the sketch, pass 2 re-scans
    the stream scoring EVERY row against it and keeps the survivors.

    Why this scales where the naive ``groupBy(item)`` doesn't: the
    per-row estimate is ``depth`` chained BROADCAST joins against the
    (≤ width)-row per-depth sketch slices — pure scan-stage work, no
    shuffle of the stream — and the only shuffle is the final distinct
    over rows that already passed the threshold, whose map-side
    combine bounds it at (heavy items x tasks) rows. At most N/threshold
    items can be heavy, so the output is bounded by construction.

    One-sided error applies: estimates never under-count, so recall is
    perfect (every truly-heavy item survives) and the false positives
    are items within sketch error of the threshold — shrink them with
    a wider sketch, or exact-verify the (bounded) survivors with one
    small groupBy.

    Returns distinct (item_col, est_count) with est_count >= threshold.
    """
    item = F.col(item_col).cast("string")
    if sketch is None:
        sketch = cms_build(df, item_col, depth=depth, width=width)
    cur = df.where(F.col(item_col).isNotNull()).select(
        F.col(item_col),
        *[_bucket(item, i, width).alias(f"_b{i}") for i in range(depth)],
    )
    for i in range(depth):
        sk_i = sketch.where(F.col("row_idx") == i).select(
            F.col("bucket").alias(f"_b{i}"), F.col("cnt").alias(f"_c{i}")
        )
        cur = cur.join(F.broadcast(sk_i), f"_b{i}", "left")
    est = F.least(*[F.coalesce(F.col(f"_c{i}"), F.lit(0)) for i in range(depth)])
    return (
        cur.select(F.col(item_col), est.cast("long").alias("est_count"))
        .where(F.col("est_count") >= threshold)
        .distinct()
    )
