"""Round-5 curation operators: SimHash hamming near-dup join (pigeonhole
banding), per-source quota capping, vocab top-k."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.operators.dedup import simhash_near_pairs
from clickhouse_mysql_data_reader_spark.operators.sampling import source_quota_cap
from clickhouse_mysql_data_reader_spark.operators.text import vocab_topk


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


# --- simhash near pairs ----------------------------------------------------


def test_simhash_near_matches_brute_force(spark):
    # planted 32-bit fingerprints covering hamming 0..5 relations plus
    # pairs that share a chunk but exceed the hamming bound
    base = 0b1010_1100_0011_0101_1001_0110_1111_0000
    sigs = {
        1: base,
        2: base,                       # d=0
        3: base ^ 0b1,                 # d=1
        4: base ^ 0b111,               # d=3 (all flips in chunk 0)
        5: base ^ (1 << 0) ^ (1 << 9) ^ (1 << 18),   # d=3 spread across 3 chunks
        6: base ^ (1 << 0) ^ (1 << 9) ^ (1 << 18) ^ (1 << 27),  # d=4 from base
        7: 0b0101_0011_1100_1010_0110_1001_0000_1111,  # ~inverse, far
        8: base ^ 0b1111_1111,         # d=8 but chunks 1-3 all equal to base
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in sigs.items()], "doc_id long, simhash long"
    )
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_pairs(df, bits=32, hamming_max=3).collect()
    }
    want = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin(sigs[a] ^ sigs[b]).count("1")
            if d <= 3:
                want[(a, b)] = d
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == 0
    assert (1, 5) in got and got[(1, 5)] == 3  # flips spread across chunks
    assert (1, 6) not in got and (1, 8) not in got  # shares chunks, d>3


def test_simhash_near_rejects_indivisible_bits(spark):
    df = spark.createDataFrame([(1, 0)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="not divisible"):
        simhash_near_pairs(df, bits=32, hamming_max=4)  # 5 chunks


def test_simhash_near_plan_no_cartesian(spark, sf_correct):
    import __spark_entry__ as entrymod

    plan = _formatted(entrymod.queries()["dedup_simhash_near"](spark, sf_correct))
    assert not re.findall(
        r"^\(\d+\) (?:CartesianProduct|BroadcastNestedLoopJoin)", plan, re.M
    ), "candidate generation must be the chunk equi-join, not all-pairs"


# --- source quota cap ------------------------------------------------------


def test_source_quota_cap_caps_and_is_stable(spark):
    rows = [(i, "big" if i < 50 else ("mid" if i < 60 else "tiny")) for i in range(63)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = source_quota_cap(df, "source", "doc_id", quota=8)
    per_src = {r.source: r.cnt for r in out.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    assert per_src == {"big": 8, "mid": 8, "tiny": 3}  # min(quota, n) each
    # survivor SET is partitioning-independent (hash-ordered, not arrival-ordered)
    again = source_quota_cap(df.repartition(7), "source", "doc_id", quota=8)
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect()
    )
    # ranks are 1..cap with no gaps
    ranks = sorted(r.src_rank for r in out.filter(F.col("source") == "big").collect())
    assert ranks == list(range(1, 9))


def test_source_quota_cap_validates_quota(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(ValueError, match="quota"):
        source_quota_cap(df, "source", "doc_id", quota=0)


# --- vocab top-k -----------------------------------------------------------


def test_vocab_topk_counts_and_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "b b b A a"), (2, "c c  b\tA"), (3, "")], "doc_id long, text string"
    )
    out = vocab_topk(df, "text", top_n=3)
    rows = [(r.token, r.n) for r in out.collect()]
    # normalized (lowercase, whitespace-collapsed): b=4, a=3, c=2
    assert rows == [("b", 4), ("a", 3), ("c", 2)]
    # equal counts order by token asc inside the limit
    df2 = spark.createDataFrame([(1, "z y x")], "doc_id long, text string")
    assert [r.token for r in vocab_topk(df2, "text", top_n=2).collect()] == ["x", "y"]


def test_vocab_topk_plans_heap_topk(spark, sf_correct):
    from clickhouse_mysql_data_reader_spark.sources.parquet import load_table

    docs = load_table(spark, sf_correct, "documents")
    plan = _formatted(vocab_topk(docs, "text", top_n=100))
    # global top-k must be per-partition heaps, never a full global sort
    assert "TakeOrderedAndProject" in plan
    assert not re.findall(r"^\(\d+\) Sort\b", plan, re.M)


# --- document chunking -----------------------------------------------------


def test_chunk_documents_overlap_and_coverage(spark):
    from clickhouse_mysql_data_reader_spark.operators.text import chunk_documents

    words = " ".join(f"w{i}" for i in range(25))
    df = spark.createDataFrame(
        [(1, words), (2, "short doc"), (3, "")], "doc_id long, text string"
    )
    out = chunk_documents(df, "text", "doc_id", chunk_tokens=10, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: 25 tokens, stride 8 -> ceil((25-2)/8) = 3 chunks
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.chunk_id for r in c1] == [0, 1, 2]
    assert c1[0].chunk_text.split() == [f"w{i}" for i in range(10)]
    # overlap: chunk 1 starts at token 8, re-covering w8 w9
    assert c1[1].chunk_text.split()[:2] == ["w8", "w9"]
    # final partial chunk: tokens 16..24 (9 tokens)
    assert c1[2].n_chunk_tokens == 9
    assert c1[2].chunk_text.split()[-1] == "w24"
    # every token covered, none lost
    covered = set()
    for r in c1:
        covered.update(r.chunk_text.split())
    assert covered == {f"w{i}" for i in range(25)}
    # short and empty docs: exactly one chunk each
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_text == "short doc"
    assert len(by_doc[3]) == 1


def test_chunk_documents_validates_params(spark):
    from clickhouse_mysql_data_reader_spark.operators.text import chunk_documents

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(df, "text", "doc_id", chunk_tokens=0)
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, "text", "doc_id", chunk_tokens=8, overlap=8)


def test_source_quota_cap_single_shuffle(spark, sf_correct):
    import __spark_entry__ as entrymod

    plan = _formatted(entrymod.queries()["sample_source_cap"](spark, sf_correct))
    # one Exchange (hash by source into the window sort); the rank
    # filter and hash ordering are computed inside the same stage
    n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_ex == 1, plan


def test_chunk_documents_reconstruction_property(spark):
    """For every doc size 0..40: chunks reconstruct the original token
    stream exactly when each chunk's leading overlap (except chunk 0)
    is dropped — no token lost, none duplicated beyond the overlap."""
    from clickhouse_mysql_data_reader_spark.operators.text import chunk_documents

    chunk_tokens, overlap = 10, 3
    stride = chunk_tokens - overlap
    rows = [
        (n, " ".join(f"t{i}" for i in range(n)) if n else "")
        for n in range(0, 41)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, "text", "doc_id", chunk_tokens, overlap).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r
    for n in range(0, 41):
        chunks = by_doc[n]
        n_tok = max(n, 1)  # empty text normalizes to [""] (1 token)
        expect_chunks = max(1, -(-(n_tok - overlap) // stride))
        assert set(chunks) == set(range(expect_chunks)), f"doc {n}"
        rebuilt = []
        for cid in range(expect_chunks):
            toks = chunks[cid].chunk_text.split(" ")
            assert len(toks) <= chunk_tokens
            assert chunks[cid].n_chunk_tokens == len(toks)
            rebuilt.extend(toks if cid == 0 else toks[overlap:])
        original = [f"t{i}" for i in range(n)] if n else [""]
        assert rebuilt == original, f"doc {n}: {rebuilt}"


# --- weighted sampling -----------------------------------------------------


def test_weighted_sample_topk_deterministic_and_biased(spark):
    from clickhouse_mysql_data_reader_spark.operators.sampling import (
        weighted_sample_topk,
    )

    # 50 heavy docs (w=500) vs 150 light docs (w=5): a weighted top-50
    # draw must be dominated by heavy docs, and be layout-independent
    rows = [(i, 500.0 if i < 50 else 5.0) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    picked = sorted(r.doc_id for r in weighted_sample_topk(df, "w", "doc_id", k=50).collect())
    assert len(picked) == 50
    heavy = sum(1 for d in picked if d < 50)
    assert heavy >= 40, f"expected heavy-weight dominance, got {heavy}/50"
    again = sorted(
        r.doc_id
        for r in weighted_sample_topk(df.repartition(7), "w", "doc_id", k=50).collect()
    )
    assert picked == again
    # a different salt draws a different (still deterministic) sample
    other = sorted(
        r.doc_id
        for r in weighted_sample_topk(df, "w", "doc_id", k=50, salt="w2").collect()
    )
    assert other != picked


def test_weighted_sample_topk_excludes_nonpositive_weights(spark):
    from clickhouse_mysql_data_reader_spark.operators.sampling import (
        weighted_sample_topk,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, 0.0), (3, -4.0), (4, None), (5, float("nan"))],
        "doc_id long, w double",
    )
    # NaN must be excluded too: under Spark's total ordering NaN > 0 is
    # TRUE and a NaN score sorts FIRST, which would hijack the sample
    got = [r.doc_id for r in weighted_sample_topk(df, "w", "doc_id", k=10).collect()]
    assert got == [1]
    with pytest.raises(ValueError, match="k must"):
        weighted_sample_topk(df, "w", "doc_id", k=0)


# --- connected components small-graph fast path ----------------------------


def test_connected_components_fast_path_matches_distributed(spark):
    from clickhouse_mysql_data_reader_spark.operators.graph import (
        connected_components,
    )

    # two chains, one triangle with a duplicate edge, isolated pair
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),         # chain -> component 1
            (10, 11), (11, 12), (10, 12),   # triangle -> component 10
            (10, 12),                       # duplicate edge
            (20, 21),                       # pair -> component 20
        ],
        "doc_a long, doc_b long",
    )
    fast = {
        (r.doc_id, r.component)
        for r in connected_components(pairs).collect()
    }
    dist = {
        (r.doc_id, r.component)
        for r in connected_components(pairs, small_graph_pairs=0).collect()
    }
    assert fast == dist
    assert fast == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


# --- plan_report -----------------------------------------------------------


def plan_report(df) -> dict:
    """Summary of a frame's physical plan, without executing it:

    - ``joins``: physical join operators used;
    - ``scans``: per-scan pushed filters and projected column count;
    - ``has_aqe``: AdaptiveSparkPlan present.
    """
    plan = _formatted(df)
    nodes = re.findall(r"^\(\d+\) ([A-Za-z]+)", plan, re.M)

    def _split_top_level(s: str) -> list[str]:
        # split on commas NOT nested inside (), [], or <> — a pushed
        # In(col, [a,b]) filter and a struct<a:array<int>,b:int> schema
        # both carry nested commas a naive split would fragment
        out, depth, cur = [], 0, []
        for ch in s:
            if ch in "([<":
                depth += 1
            elif ch in ")]>":
                depth -= 1
            if ch == "," and depth == 0:
                out.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
        tail = "".join(cur).strip()
        if tail:
            out.append(tail)
        return [x for x in out if x]

    scans = []
    for m in re.finditer(r"PushedFilters: \[([^\n]*)\]", plan):
        scans.append({"pushed_filters": _split_top_level(m.group(1))})
    for i, m in enumerate(re.finditer(r"ReadSchema: struct<(.*)>\s*$", plan, re.M)):
        cols = _split_top_level(m.group(1))
        if i < len(scans):
            scans[i]["n_read_columns"] = len(cols)
        else:
            scans.append({"pushed_filters": [], "n_read_columns": len(cols)})
    return {
        "joins": sorted({n for n in nodes if "Join" in n}),
        "scans": scans,
        "has_aqe": "AdaptiveSparkPlan" in plan,
    }


def test_plan_report_summarizes_known_plans(spark, sf_correct):
    import __spark_entry__ as entrymod

    rep = plan_report(entrymod.queries()["join_broadcast_dim"](spark, sf_correct))
    assert "BroadcastHashJoin" in rep["joins"]
    assert "SortMergeJoin" not in rep["joins"]
    assert rep["has_aqe"]

    rep2 = plan_report(entrymod.queries()["scan_prune_filter"](spark, sf_correct))
    assert any(
        any("l_shipdate" in f for f in s["pushed_filters"]) for s in rep2["scans"]
    )
    assert any(s.get("n_read_columns", 99) <= 4 for s in rep2["scans"])


def test_plan_report_handles_nested_types_and_list_filters(spark, sf_correct):
    from clickhouse_mysql_data_reader_spark.sources.parquet import load_table

    # embeddings: (vec_id bigint, embedding array<float>, label int) —
    # nested type must not truncate the column count
    emb = load_table(spark, sf_correct, "embeddings")
    rep = plan_report(emb.select("vec_id", "embedding", "label"))
    assert any(s.get("n_read_columns") == 3 for s in rep["scans"]), rep
    # an In-list predicate prints with internal commas; it must stay ONE filter
    rep2 = plan_report(
        load_table(spark, sf_correct, "nation").filter(
            F.col("n_nationkey").isin(1, 2, 3)
        )
    )
    in_filters = [
        f
        for s in rep2["scans"]
        for f in s["pushed_filters"]
        if f.startswith("In(n_nationkey")
    ]
    assert len(in_filters) == 1, rep2


# --- LM surprisal quality scoring ------------------------------------------


def test_lm_surprisal_hand_computed(spark):
    from clickhouse_mysql_data_reader_spark.operators.text import lm_surprisal

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    # self-reference: counts a=3,b=1,c=1; N=5, V=3, denom=8, scale=1e6
    # inv(a)=8e6 div 4=2e6; inv(b)=inv(c)=8e6 div 2=4e6
    out = {r.doc_id: r for r in lm_surprisal(docs, docs).collect()}
    assert out[1].n_tokens == 3 and out[1].n_oov == 0
    assert out[1].surprisal == pytest.approx((2e6 + 2e6 + 4e6) / 3e6)
    assert out[2].surprisal == pytest.approx((2e6 + 4e6) / 2e6)

    # OOV against a disjoint reference: cnt=0 path, n_oov counted
    ref = spark.createDataFrame([(9, "x x x")], "doc_id long, text string")
    scored = {r.doc_id: r for r in lm_surprisal(docs, ref).collect()}
    assert scored[1].n_oov == 3
    # ref: x=3 -> N=3,V=1,denom=4; OOV inv = 4e6 div 1 = 4e6
    assert scored[1].surprisal == pytest.approx(4.0)
    # a fluent (in-distribution) doc scores LOWER than gibberish
    mixed_ref = spark.createDataFrame(
        [(9, "common common common common rare")], "doc_id long, text string"
    )
    fluent = spark.createDataFrame([(1, "common common")], "doc_id long, text string")
    weird = spark.createDataFrame([(1, "zzz qqq")], "doc_id long, text string")
    s_fluent = lm_surprisal(fluent, mixed_ref).collect()[0].surprisal
    s_weird = lm_surprisal(weird, mixed_ref).collect()[0].surprisal
    assert s_fluent < s_weird


def test_lm_surprisal_empty_reference_raises(spark):
    from clickhouse_mysql_data_reader_spark.operators.text import lm_surprisal

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    empty = spark.createDataFrame([], "doc_id long, text string")
    # every score would degenerate to 0.0 ("perfectly predictable") —
    # the in-plan guard makes the degenerate input loud at action time
    with pytest.raises(Exception, match="out of range"):
        lm_surprisal(docs, empty).collect()
