"""Blocked fuzzy record linkage (entity resolution primitives).

A training-data pipeline constantly reconciles noisy string identities
— source names, site hosts, product/entity mentions — where exact
dedup misses one-edit variants. The classic scale answer is BLOCKED
matching: compare only within a cheap blocking key (a token, a prefix,
a phonetic code), never all-pairs. This is the string-edit sibling of
the shingle/LSH near-dup family (operators/dedup.py): same
candidate-bounding idea, Levenshtein instead of Jaccard, and — the
load-bearing trick — matching runs over the DISTINCT-VALUE DICTIONARY
(with carried frequencies), not the row stream, so a 100 TB corpus
with a few million distinct names pairs millions, not trillions.

Within a block the candidate set is O(|block|^2): the operator is for
dictionary-sized relations (names, hosts, titles), and skewed blocks
should be tightened (two-token keys) rather than salted — salting
cannot split a quadratic self-join's hot block without losing pairs.

Levenshtein is a JVM built-in expression on Spark (and a native
function in DuckDB), so the whole plan is scan + one dictionary
groupBy + one blocked self-join — no Python, no UDF.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "fuzzy_match_pairs",
    "resolve_entities",
    "apply_entity_mapping",
]


def _dictionary(
    df: DataFrame, text_col: str, block_fn: Callable[[Column], Column]
) -> DataFrame:
    """Distinct values of ``text_col`` with occurrence counts and the
    blocking key — one map-side-combined groupBy; the dictionary is
    what every later stage joins, the row stream is never self-joined."""
    return (
        df.where(F.col(text_col).isNotNull())
        .groupBy(F.col(text_col).alias("name"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("name", "n", block_fn(F.col("name")).alias("blk"))
    )


def fuzzy_match_pairs(
    df: DataFrame,
    text_col: str,
    block_fn: Callable[[Column], Column],
    max_dist: int = 2,
    dictionary: DataFrame | None = None,
) -> DataFrame:
    """All near-match pairs among the distinct values of ``text_col``:
    same blocking key, Levenshtein(a, b) <= max_dist, emitted once with
    ``name_a < name_b``. Returns (name_a, name_b, dist, n_a, n_b) where
    n_* are the row frequencies each name stands for — a reviewable
    merge proposal, the entity-resolution analogue of the near-dup pair
    reports.

    ``dictionary`` is the reuse seam (the ``sigs=``/``sketch=``
    discipline): a pre-built/landed (name, n, blk) frame — e.g. from a
    caller that also needs the dictionary itself, like
    ``resolve_entities`` — so the corpus groupBy subtree is planned
    once instead of once per consumer."""
    d = dictionary if dictionary is not None else _dictionary(
        df, text_col, block_fn
    )
    a = d.select(
        F.col("name").alias("name_a"), F.col("n").alias("n_a"), "blk"
    )
    b = d.select(
        F.col("name").alias("name_b"), F.col("n").alias("n_b"), "blk"
    )
    return (
        a.join(b, "blk")
        .where(F.col("name_a") < F.col("name_b"))
        .where(F.levenshtein("name_a", "name_b") <= max_dist)
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("int").alias("dist"),
            "n_a",
            "n_b",
        )
    )


def resolve_entities(
    df: DataFrame,
    text_col: str,
    block_fn: Callable[[Column], Column],
    max_dist: int = 2,
    small_graph_pairs: int | None = None,
    storage=None,
) -> DataFrame:
    """End-to-end entity RESOLUTION on top of the pair proposals:
    ``fuzzy_match_pairs`` edges -> connected components over the name
    graph (transitive closure: a~b, b~c merges all three even when
    levenshtein(a, c) > max_dist) -> one CANONICAL name elected per
    component — the golden-record step that turns a reviewable pair
    report into an applicable name mapping.

    Survivorship rule: the component's highest-frequency name wins
    (the spelling most rows already use, so applying the mapping
    rewrites the fewest rows), ties broken by the lexicographically
    smallest name — expressed as one ``min(struct(-n, name))``
    aggregate, the same deterministic keeper-election idiom as the
    near-dup cluster keepers (operators/dedup.py / graph.py).

    Scale shape: everything runs over the DISTINCT-name dictionary
    (see the module docstring) — components and the election touch
    |dictionary| rows, never the row stream; singleton names (no
    fuzzy neighbor) skip the graph entirely via the left join and
    become their own canonical. Apply the result to the corpus with
    one broadcast join on ``name``.

    Returns (name, n, component, canonical, is_canonical, n_names,
    n_rows): per distinct name, its component label (min member
    name), the elected canonical, and the component's name/row
    counts.
    """
    from clickhouse_mysql_data_reader_spark.operators.graph import (
        connected_components,
    )

    # build the dictionary ONCE and feed it both ways (the dictionary=
    # seam): without it the corpus groupBy subtree plans twice — once
    # for the label join, once inside the pair generation. A shared
    # PLAN is still one evaluation per consumer: the components count
    # probe, the label join and the canonical election each re-run the
    # corpus groupBy unless the dictionary is persisted — pass
    # ``storage`` (e.g. StorageLevel.MEMORY_AND_DISK) to cache it for
    # the duration; the CALLER owns the lifecycle (unpersist/
    # clearCache after the action), same contract as jaccard_pairs.
    dic = _dictionary(df, text_col, block_fn)
    if storage is not None:
        dic = dic.persist(storage)
    d = dic.select("name", "n")
    pairs = fuzzy_match_pairs(
        df, text_col, block_fn, max_dist=max_dist, dictionary=dic
    )
    kwargs = {} if small_graph_pairs is None else {
        "small_graph_pairs": small_graph_pairs
    }
    comp = connected_components(pairs, src="name_a", dst="name_b", **kwargs)
    labeled = (
        d.join(
            comp.select(F.col("doc_id").alias("name"), "component"),
            "name",
            "left",
        )
        .withColumn("component", F.coalesce("component", F.col("name")))
    )
    canon = (
        labeled.groupBy("component")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n")).alias("_neg_n"), F.col("name").alias("nm")
                )
            ).alias("_best"),
            F.count(F.lit(1)).cast("long").alias("n_names"),
            F.sum("n").cast("long").alias("n_rows"),
        )
        .select(
            "component",
            F.col("_best.nm").alias("canonical"),
            "n_names",
            "n_rows",
        )
    )
    return labeled.join(canon, "component").select(
        "name",
        "n",
        "component",
        "canonical",
        (F.col("name") == F.col("canonical")).cast("int").alias("is_canonical"),
        "n_names",
        "n_rows",
    )


def apply_entity_mapping(
    df: DataFrame, mapping: DataFrame, text_col: str
) -> DataFrame:
    """The REWRITE step completing the entity-resolution family: apply
    a ``resolve_entities`` golden-record mapping to the corpus —
    every ``text_col`` value is replaced by its component's elected
    canonical; values absent from the mapping (including NULLs) pass
    through unchanged, so the rewrite is total and row-preserving.

    Scale shape: the mapping is dictionary-sized by construction
    (distinct names, not rows), so this is ONE broadcast left join
    riding the corpus scan — the 100 TB row stream is never shuffled.
    The mapping only needs (name, canonical); extra report columns
    are ignored.
    """
    m = mapping.select(
        F.col("name").alias(text_col), F.col("canonical").alias("_canon")
    )
    return (
        df.join(F.broadcast(m), text_col, "left")
        .withColumn(text_col, F.coalesce("_canon", F.col(text_col)))
        .drop("_canon")
    )
