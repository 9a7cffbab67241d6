"""Physical-plan guards — the scale properties the engine promises,
asserted on .explain output so a refactor can't silently regress them:
filter/column pushdown into the parquet scan, broadcast of small dims,
the as-of join's single-shuffle shape, and shuffle-free bucketed joins.
"""

from __future__ import annotations

import re
import uuid

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from clickhouse_mysql_data_reader_spark.sinks.batch import write_bucketed


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _n_exchanges(plan: str) -> int:
    # each node appears twice in formatted output (tree line + detail
    # header "(N) Exchange") — count the detail headers
    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


def test_filter_pushdown_reaches_scan(spark, sf_correct):
    plan = _formatted(entrymod.queries()["q1_pricing_summary"](spark, sf_correct))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark, sf_correct):
    plan = _formatted(entrymod.queries()["scan_prune_filter"](spark, sf_correct))
    # only the 4 referenced columns are read, not lineitem's 11
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert read.count(":") - 1 <= 4, read


def test_dim_join_broadcasts(spark, sf_correct):
    plan = _formatted(entrymod.queries()["join_broadcast_dim"](spark, sf_correct))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_join_is_single_shuffle_per_side(spark, sf_correct):
    plan = _formatted(entrymod.queries()["join_asof_attrib"](spark, sf_correct))
    # union of two scans -> one Exchange per branch into ONE window sort;
    # any range-join formulation would add a nested-loop or extra joins
    assert _n_exchanges(plan) <= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_no_distinct_shuffle(spark, sf_correct):
    plan = _formatted(entrymod.queries()["dedup_minhash_signatures"](spark, sf_correct))
    # fan_out repartition + signature groupBy = 2; the duplicate-
    # insensitive path must not add a distinct's third exchange
    assert _n_exchanges(plan) <= 2


def test_bucketed_fact_fact_headline_single_exchange(spark, sf_dir):
    """The bench headline join_shuffle_fact_fact_bucketed: both sides
    scan co-located bucket files, so the ONLY exchange in the plan is
    the final groupBy — the join itself is shuffle-free."""
    plan = _formatted(
        entrymod.queries()["join_shuffle_fact_fact_bucketed"](spark, sf_dir)
    )
    assert "SortMergeJoin" in plan
    assert _n_exchanges(plan) == 1, plan


def test_no_cached_relations_leak_after_jaccard_queries(spark, sf_dir):
    """VERDICT r2 item 6: the persist inside the jaccard pipeline is
    caller-owned; after the action + clearCache the session holds no
    persistent RDDs (the bench loop relies on this)."""
    q = entrymod.queries()
    q["dedup_ngram_jaccard"](spark, sf_dir).count()
    q["dedup_lsh_jaccard"](spark, sf_dir).count()
    # cluster components iterates via reliable checkpoints (leaf plans,
    # nothing in the cache manager) and unpersists its edge cache itself
    q["dedup_cluster_components"](spark, sf_dir).count()
    spark.catalog.clearCache()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_cached_doc_keyed_shingles_coalesce_and_stay_colocated(spark):
    """AQE may coalesce the final stage of a cached plan (session
    factory): a persisted batch-sized shingle relation shrinks below the
    shuffle width, and its coalesced hash partitioning still satisfies
    a doc-keyed groupBy — no exchange outside the cached relation."""
    from pyspark import StorageLevel

    from clickhouse_mysql_data_reader_spark.operators.dedup import shingle_table

    docs = spark.createDataFrame(
        [(i, f"doc {i} tells of the quick brown fox near hill {i % 7}") for i in range(100)],
        "doc_id long, text string",
    )
    sh = shingle_table(docs, "text", "doc_id", partition_by_id=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        sh.count()
        assert sh.rdd.getNumPartitions() < int(spark.conf.get("spark.sql.shuffle.partitions"))
        plan = _formatted(sh.groupBy("doc_id").count())
        outer = plan.split("InMemoryRelation", 1)[0]
        assert "InMemoryTableScan" in outer and "Exchange" not in outer, plan
    finally:
        sh.unpersist()


@pytest.mark.usefixtures("spark")
def test_bucketed_join_has_no_exchange(spark):
    tag = uuid.uuid4().hex[:8]
    lname, rname = f"bkt_left_{tag}", f"bkt_right_{tag}"
    left = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a")
    )
    right = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 11).alias("b")
    )
    try:
        write_bucketed(left, lname, ["k"], num_buckets=8, sort_cols=["k"])
        write_bucketed(right, rname, ["k"], num_buckets=8, sort_cols=["k"])
        # hint("merge"): the tiny test tables would otherwise broadcast;
        # at real scale SMJ is what the optimizer picks on its own
        joined = spark.table(lname).hint("merge").join(spark.table(rname), "k")
        plan = _formatted(joined)
        assert "SortMergeJoin" in plan
        assert _n_exchanges(plan) == 0  # co-located: bucket files align 1:1
        assert joined.count() == 10_000
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {lname}")
        spark.sql(f"DROP TABLE IF EXISTS {rname}")


def test_sampling_and_quantize_ride_the_scan(spark, sf_correct):
    """The round-3 per-row operators promise zero pre-aggregation
    shuffles: sampling/splitting is expression work on the scan (the
    only exchange is the final groupBy), and quantization has no
    exchange at all."""
    q = entrymod.queries()
    plan = _formatted(q["sample_stratified_split"](spark, sf_correct))
    assert _n_exchanges(plan) == 1, plan
    plan = _formatted(q["embed_quantize_int8"](spark, sf_correct))
    assert _n_exchanges(plan) == 0, plan
    plan = _formatted(q["text_pii_redact"](spark, sf_correct))
    assert _n_exchanges(plan) == 0, plan


def test_tfidf_prunes_document_columns(spark, sf_correct):
    """tfidf reads only (doc_id, text) from documents' 5 columns, in
    both the tf branch and the corpus-count branch."""
    plan = _formatted(entrymod.queries()["text_tfidf_top_terms"](spark, sf_correct))
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert line.count(":") - 1 <= 2, line


def test_repetition_stats_is_shuffle_free(spark, sf_correct):
    """The Gopher repetition stats are per-row array folds, not the
    textbook explode+groupBy — no keyed Exchange, no explode, no Python.
    The only allowed exchange is fan_out's round-robin spread of the
    under-split local test file (absent on well-split inputs)."""
    plan = _formatted(entrymod.queries()["text_repetition_stats"](spark, sf_correct))
    assert _n_exchanges(plan) <= 1, plan
    assert "hashpartitioning" not in plan  # no keyed shuffle
    assert "rangepartitioning" not in plan
    assert "Generate" not in plan  # no explode either
    assert "Python" not in plan


def test_pack_sequences_single_sharded_exchange(spark, sf_correct):
    """Sequence packing shuffles exactly once, keyed on the shard column
    — a global ORDER BY running sum (single-partition window) would show
    an Exchange SinglePartition / rangepartitioning instead."""
    plan = _formatted(entrymod.queries()["doc_pack_sequences"](spark, sf_correct))
    assert _n_exchanges(plan) == 1, plan
    assert "SinglePartition" not in plan
    assert "rangepartitioning" not in plan
    assert re.search(r"hashpartitioning\(shard", plan), plan


def test_contamination_corpus_never_shuffles(spark, sf_correct):
    """Decontamination is built for |corpus| >> |benchmark|: the corpus
    shingle stream must be consumed by a broadcast LEFT-SEMI join
    (map-side filter), never sort-merge-joined or hash-repartitioned in
    full."""
    plan = _formatted(entrymod.queries()["doc_contamination_check"](spark, sf_correct))
    assert "SortMergeJoin" not in plan, plan
    assert len(re.findall(r"BroadcastHashJoin.*LeftSemi", plan)) >= 2, plan


def test_agg_rollup_expands_aggregate_not_scan(spark, sf_correct):
    """agg_rollup is two-phase: the finest-granularity aggregate runs
    first (no Expand touches a raw fact row) and the rollup's Expand
    consumes that tiny aggregate — its child in the plan tree must be a
    HashAggregate, never the scan/fact side."""
    plan = _formatted(entrymod.queries()["agg_rollup"](spark, sf_correct))
    tree = plan.split("== Initial Plan ==")[0].splitlines()
    expand_lines = [i for i, l in enumerate(tree) if "Expand" in l and "(" in l]
    assert expand_lines, plan
    i = expand_lines[0]
    # the next tree line is Expand's only child
    child = tree[i + 1]
    assert "HashAggregate" in child, plan
    # and the pre-agg exchange is keyed on the plain columns (no
    # grouping id), proving the heavy shuffle happens before Expand
    keys = re.findall(r"hashpartitioning\(([^)]*)\), ", plan)
    assert any("spark_grouping_id" not in k for k in keys), plan


def test_fan_out_bytes_per_task_width(spark, tmp_path):
    """fan_out's width contract: full parallelism by default (explode-
    amplified consumers), ~one task per bytes_per_task when capped
    (light per-row transforms), and a no-op on well-split inputs."""
    from clickhouse_mysql_data_reader_spark.util import fan_out

    p = str(tmp_path / "small.parquet")
    spark.range(2000).withColumn("pad", F.repeat(F.lit("x"), 200)).coalesce(
        1
    ).write.parquet(p)
    df = spark.read.parquet(p)
    total = sum(
        f.stat().st_size for f in (tmp_path / "small.parquet").glob("*.parquet")
    )
    dp = spark.sparkContext.defaultParallelism

    full = fan_out(df)
    assert f"RoundRobinPartitioning({dp})" in _formatted(full)

    capped = fan_out(df, bytes_per_task=64 * 1024)
    want = max(2, min(dp, -(-total // (64 * 1024))))
    assert f"RoundRobinPartitioning({want})" in _formatted(capped)
    assert want < dp  # the cap actually narrowed the fan for this input

    # a huge bytes_per_task still fans out (floor of 2), never 1
    wide_floor = fan_out(df, bytes_per_task=1 << 30)
    assert "RoundRobinPartitioning(2)" in _formatted(wide_floor)


def test_ivfpq_search_broadcasts_probes_no_cartesian(spark):
    """IVF-PQ search plan guard: the probe side (qid, cell, LUT rows)
    broadcasts and joins the cell-keyed codes as an equi
    BroadcastHashJoin — never a CartesianProduct/BroadcastNestedLoop
    over the corpus, which is the difference between 1/n_cells reads
    and a full-corpus scan per query at 100 TB."""
    from clickhouse_mysql_data_reader_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 7), float(i % 3), float(i % 2)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    cents, cbs, codes = ivfpq_index(corpus, dim=4, n_cells=3, n_subspaces=2, k_codes=4)
    queries = spark.createDataFrame(
        [(0, [0.0, 1.0, 2.0, 1.0])], "qid long, embedding array<double>"
    )
    plan = _formatted(
        ivfpq_topk(codes, cents, cbs, queries, dim=4, n_subspaces=2, n_probe=2, k=3)
    )
    # exactly ONE nested-loop/cartesian node is allowed: the probe
    # ASSIGNMENT of queries against the n_cells centroid rows (bounded
    # broadcast metadata). The corpus codes must join via equi hash
    # joins only — a second cartesian would mean codes are being
    # crossed with queries.
    n_cart = len(
        re.findall(r"^\(\d+\) (?:CartesianProduct|BroadcastNestedLoopJoin)", plan, re.M)
    )
    assert n_cart <= 1, plan[:1500]
    # the corpus-side codes join is the broadcast hash join (the inner
    # qid/cell assembly joins may plan as SMJ pre-AQE — they are
    # query-sized, not corpus-sized)
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) >= 1


def test_bloom_prefilter_definite_branch_is_scan_only(spark, sf_correct):
    """Bloom-prefilter plan guard: the union's definite-miss branch is
    a scan + filter with NO join below it — only the maybe branch
    carries the anti-join. A regression that routes every row through
    the join would silently erase the operator's whole point."""
    plan = _formatted(entrymod.queries()["dedup_bloom_prefilter"](spark, sf_correct))
    # one join total (the maybe-side anti join), inside a Union
    joins = len(re.findall(r"^\(\d+\) \w*(BroadcastHashJoin|SortMergeJoin)", plan, re.M))
    assert joins == 1, plan[:1500]
    assert re.search(r"^\(\d+\) Union", plan, re.M), plan[:800]


def test_gopher_rules_is_shuffle_free(spark, sf_correct):
    """The Gopher rule filter is scan-stage expressions only — no keyed
    Exchange, no explode, no Python. Only fan_out's round-robin spread
    of the under-split local test file may appear."""
    plan = _formatted(entrymod.queries()["text_gopher_rules"](spark, sf_correct))
    assert _n_exchanges(plan) <= 1, plan
    assert "hashpartitioning" not in plan
    assert "Generate" not in plan
    assert "Python" not in plan


def test_boilerplate_join_is_shingle_keyed(spark, sf_correct):
    """ngram_boilerplate: the only keyed shuffles are the shingle-hash
    frequency aggregate, the join back on sh_h, and the final per-doc
    aggregate — the corpus text itself must cross the wire only as
    (doc_id, sh_h) longs, never as strings wider than the shingle seam."""
    plan = _formatted(
        entrymod.queries()["text_boilerplate_ngrams"](spark, sf_correct)
    )
    assert "Python" not in plan
    # every keyed exchange partitions on sh_h or doc_id, nothing else
    import re as _re

    for m in _re.finditer(r"hashpartitioning\(([a-zA-Z_#0-9]+)", plan):
        assert m.group(1).split("#")[0] in {"sh_h", "doc_id"}, m.group(0)


def test_mixture_epochs_replication_rides_the_scan(spark, sf_correct):
    """mixture_oversample plan guard: the few-row rate table is
    BROADCAST onto the corpus (never a sort-merge join) and the
    replication is a Generate (explode) riding the joined scan — no
    keyed exchange of the corpus itself, no generated-series join, no
    Python. The only keyed shuffle is the per-source totals aggregate."""
    plan = _formatted(entrymod.queries()["sample_mixture_epochs"](spark, sf_correct))
    assert "SortMergeJoin" not in plan, plan[:1500]
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) == 1
    assert re.search(r"^\(\d+\) Generate", plan, re.M), plan[:800]
    assert "Python" not in plan
    for m in re.finditer(r"hashpartitioning\(([a-zA-Z_#0-9]+)", plan):
        assert m.group(1).split("#")[0] == "source", m.group(0)


def test_q19_disjunction_pushes_per_side_residuals(spark, sf_correct):
    # the OR-of-ANDs spans both join sides; CNF conversion must derive
    # each side's residual and push it into that side's parquet scan —
    # the quantity envelope onto lineitem, the brand/size disjunction
    # onto part — so both prune BEFORE the partkey join
    plan = _formatted(
        entrymod.queries()["q19_disjunctive_revenue"](spark, sf_correct)
    )
    # the PushedFilters line follows each scan's Location line in the
    # formatted detail section
    li_scan = plan[plan.index("lineitem.parquet") :][:600]
    assert re.search(
        r"PushedFilters:.*GreaterThanOrEqual\(l_quantity,1\.0\)", li_scan
    ), "lineitem scan lost the per-side quantity residual"
    part_scan = plan[plan.index("part.parquet") :][:600]
    assert re.search(
        r"PushedFilters:.*EqualTo\(p_brand,Brand#1\)", part_scan
    ), "part scan lost the per-side brand/size residual"


def test_corpus_diff_text_never_shuffles(spark, sf_correct):
    # both snapshot sides must project to (id, fp, len, src) BEFORE the
    # full-outer exchange — the raw text column crossing a shuffle at
    # 100 TB would move the whole corpus twice
    plan = _formatted(entrymod.queries()["corpus_snapshot_diff"](spark, sf_correct))
    for m in re.finditer(r"^\(\d+\) Exchange\n(Input \[\d+\]: \[[^\]]*\])", plan, re.M):
        assert re.search(r"\btext#", m.group(1)) is None, (
            "raw text column crosses an exchange: " + m.group(1)
        )


# queries that intentionally crossJoin a BROADCAST tiny frame (a 1-row
# corpus total, a handful of query vectors / quantile fractions / band
# boundaries) — the only sanctioned BroadcastNestedLoopJoin producers.
# Everything else must stay NLJ-free, and NOTHING may CartesianProduct.
_TINY_CROSSJOIN_OK = {
    "dedup_embed_near_multiprobe",  # per-query probe-cell frame
    "text_bm25_topk",               # 1-row corpus totals
    "text_bm25_frozen",             # 1-row frozen totals
    "text_lm_surprisal",            # 1-row token total
    "text_lm_bigram",               # 1-row totals
    "text_ccnet_buckets",           # 1-row thresholds
    "hist_quantiles_events",        # 3-row quantile fractions
    "join_range_bands",             # band-boundary frame
    "embed_cosine_topk",            # 5-row query frame
    "text_tfidf_top_terms",         # 1-row doc count
    "embed_cell_assign",            # centroid frame
    "q22_global_sales_opportunity", # 1-row global-average frame
    "sample_temperature",           # 1-row isqrt-normalizer frame
    "dedup_semdedup",               # centroid frame (assign_cells)
    "monitor_psi_drift",            # 1-row baseline-edges frame
    "monitor_psi_frozen",           # 1-row frozen-edges frame
    "monitor_psi_by_source",        # |keys|-row spine x n_buckets range
    "rag_mmr_rerank",               # 4-row query frame (cosine_topk)
    "rag_rrf_fuse",                 # 1-row BM25 totals (inherited)
    "match_margin_pairs",           # bounded query frame (cosine_topk)
}


def test_fk_orphans_scans_each_child_once(spark, sf_correct):
    """Relationships grouped by child: lineitem carries three FKs but
    the report reads it ONCE (three presence joins ride the same
    scan) — at 100 TB the child IS the fact, so per-relationship
    scanning would triple the fact reads."""
    plan = _formatted(entrymod.queries()["validate_fk_orphans"](spark, sf_correct))
    scans = re.findall(r"^Location: \S+ \[\S*/(\w+)\.parquet\]", plan, re.M)
    from collections import Counter

    per_table = Counter(scans)
    assert per_table["lineitem"] == 1, per_table
    # every other table is scanned at most (1 as child) + (times it is
    # a parent): orders/customer/supplier 2, nation 3 (parent twice)
    assert per_table["orders"] <= 2 and per_table["nation"] <= 3, per_table
    assert sum(per_table.values()) <= 12, per_table  # was 14 ungrouped
    assert "CartesianProduct" not in plan


@pytest.mark.slow
def test_registry_wide_plan_hygiene(spark):
    """Every registered query's physical plan, swept: CartesianProduct
    is banned outright, and BroadcastNestedLoopJoin may appear only in
    the sanctioned tiny-crossJoin set above — a new query that
    accidentally cartesians (a dropped join key, a non-equi condition
    Catalyst can't hash) fails here before it ever reaches the driver."""
    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name, fn in entrymod.queries().items():
        plan = _formatted(fn(spark, sf))
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in _TINY_CROSSJOIN_OK:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders
