"""Unit tests for the round-3 training-data operators: connected
components, deterministic hash sampling, PII redaction, tf-idf,
int8 quantization — the properties the SQL oracle can't see
(convergence, partition-independence, edge cases)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.operators.graph import (
    component_summary,
    connected_components,
)
from clickhouse_mysql_data_reader_spark.operators.sampling import (
    _hex_threshold,
    hash_split,
    sample_condition,
    stratified_sample_condition,
)
from clickhouse_mysql_data_reader_spark.operators.similarity import quantize_int8
from clickhouse_mysql_data_reader_spark.operators.text import pii_redact, tfidf_top_terms


# --- connected components ---------------------------------------------------


def _cc_dict(df):
    return {r["doc_id"]: r["component"] for r in df.collect()}


def test_cc_two_components_and_chain(spark):
    # component {1,2,3,4} is a 3-hop chain (worst case per round),
    # component {10,11} a single edge; 20-21-22 triangle shares a node
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    got = _cc_dict(connected_components(pairs))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_cc_partition_independence(spark):
    pairs = [(i, i + 1) for i in range(1, 8)] + [(100, 101), (101, 102)]
    a = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    b = spark.createDataFrame(pairs, "doc_a long, doc_b long").repartition(7, "doc_b")
    assert _cc_dict(connected_components(a)) == _cc_dict(connected_components(b))


def test_cc_empty_and_nonconvergence(spark):
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(empty).count() == 0
    chain = spark.createDataFrame([(i, i + 1) for i in range(1, 6)], "doc_a long, doc_b long")
    # force the distributed loop: the small-graph union-find fast path
    # has no iteration bound to trip
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2, small_graph_pairs=0)


def test_cc_component_summary(spark):
    pairs = spark.createDataFrame([(5, 3), (3, 9), (40, 41)], "doc_a long, doc_b long")
    rows = {
        r["component"]: (r["n_members"], r["keeper_id"])
        for r in component_summary(connected_components(pairs)).collect()
    }
    assert rows == {3: (3, 3), 40: (2, 40)}


def test_cc_component_keepers_best_score_min_id_ties(spark):
    from clickhouse_mysql_data_reader_spark.operators.graph import component_keepers

    # component {3,5,9}: 9 has the top score -> keeper despite max id;
    # component {40,41}: scores tie -> min id 40 wins
    pairs = spark.createDataFrame([(5, 3), (3, 9), (40, 41)], "doc_a long, doc_b long")
    attrs = spark.createDataFrame(
        [(3, 10), (5, 30), (9, 99), (40, 7), (41, 7)], "doc_id long, score long"
    )
    out = component_keepers(connected_components(pairs), attrs, "score")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert {d: r["keeper_id"] for d, r in rows.items()} == {
        3: 9, 5: 9, 9: 9, 40: 40, 41: 40,
    }
    assert [d for d, r in sorted(rows.items()) if r["is_keeper"]] == [9, 40]
    # exactly one keeper per component, and it labels its own component
    assert all(rows[r["keeper_id"]]["component"] == r["component"] for r in rows.values())


def test_cc_component_keepers_string_ids(spark):
    """String doc ids (URLs/UUIDs — common in crawl corpora): the
    tie-break must order ids lexicographically, not silently cast to
    null under a unary minus."""
    from clickhouse_mysql_data_reader_spark.operators.graph import component_keepers

    comps = spark.createDataFrame(
        [
            ("url/a", "url/a"), ("url/b", "url/a"), ("url/c", "url/a"),
            ("x/1", "x/1"), ("x/2", "x/1"),
        ],
        "doc_id string, component string",
    )
    attrs = spark.createDataFrame(
        [("url/a", 10), ("url/b", 99), ("url/c", 99), ("x/1", 5), ("x/2", 5)],
        "doc_id string, score long",
    )
    rows = {r["doc_id"]: r for r in component_keepers(comps, attrs, "score").collect()}
    # {a,b,c}: b and c tie on top score -> lexicographic min "url/b";
    # {1,2}: all tie -> "x/1"
    assert {d: r["keeper_id"] for d, r in rows.items()} == {
        "url/a": "url/b", "url/b": "url/b", "url/c": "url/b",
        "x/1": "x/1", "x/2": "x/1",
    }
    assert sorted(d for d, r in rows.items() if r["is_keeper"]) == ["url/b", "x/1"]


def test_cc_component_keepers_null_and_nan_scores_lose(spark):
    """A NULL (or NaN) score must NEVER beat a real score: struct
    comparison sorts a NULL field FIRST ascending, so the min()
    aggregate needs the leading is-null flag — without it the unscored
    member wins every component and the genuinely-scored docs are all
    marked drops (the exact inversion of the keeper contract). An
    all-unscored component still elects a keeper by the id tie-break."""
    from clickhouse_mysql_data_reader_spark.operators.graph import component_keepers

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (7, 7), (8, 7), (20, 20), (21, 20)],
        "doc_id long, component long",
    )
    attrs = spark.createDataFrame(
        [
            (1, 100.0), (2, None),            # NULL loses to 100
            (7, float("nan")), (8, 5.0),      # NaN loses to 5
            (20, None), (21, None),           # all unscored -> min id
        ],
        "doc_id long, score double",
    )
    rows = {r["doc_id"]: r for r in component_keepers(comps, attrs, "score").collect()}
    assert {d: r["keeper_id"] for d, r in rows.items()} == {
        1: 1, 2: 1, 7: 8, 8: 8, 20: 20, 21: 20,
    }


def test_cc_component_keepers_long_min_value_score(spark):
    """Unary minus on Long.MIN_VALUE overflows (wraps to itself without
    ANSI mode, making the WORST-scored member look best; fails the job
    with ANSI on). Integral scores are widened to DECIMAL(20,0) before
    negation so the type's MIN_VALUE orders correctly — and the
    widening must not round away genuine low-bit differences the way a
    double cast would past 2^53."""
    from clickhouse_mysql_data_reader_spark.operators.graph import component_keepers

    lmin = -(2**63)
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10), (11, 10)], "doc_id long, component long"
    )
    attrs = spark.createDataFrame(
        [
            (1, lmin), (2, 0),  # MIN_VALUE must LOSE to 0
            # adjacent huge longs past 2^53: a double cast would tie
            # them and let min-id 10 win; exact widening keeps 11
            (10, 2**62), (11, 2**62 + 1),
        ],
        "doc_id long, score long",
    )
    rows = {r["doc_id"]: r for r in component_keepers(comps, attrs, "score").collect()}
    assert {d: r["keeper_id"] for d, r in rows.items()} == {1: 2, 2: 2, 10: 11, 11: 11}


def test_cc_component_keepers_non_numeric_score_raises(spark):
    from clickhouse_mysql_data_reader_spark.operators.graph import component_keepers

    comps = spark.createDataFrame([(1, 1)], "doc_id long, component long")
    attrs = spark.createDataFrame([(1, "high")], "doc_id long, score string")
    with pytest.raises(TypeError, match="must be numeric"):
        component_keepers(comps, attrs, "score")


# --- hash sampling ----------------------------------------------------------


def test_hex_threshold_bounds():
    assert _hex_threshold(0.0) == "00000000"
    assert _hex_threshold(0.5) == "80000000"
    with pytest.raises(ValueError):
        _hex_threshold(1.5)


def test_sample_rate_and_determinism(spark):
    df = spark.range(0, 20000).withColumnRenamed("id", "k")
    kept = df.filter(sample_condition(F.col("k"), 0.3)).count()
    assert abs(kept / 20000 - 0.3) < 0.02  # hash uniformity
    # same keys, different partitioning -> identical membership
    a = df.filter(sample_condition(F.col("k"), 0.3)).collect()
    b = df.repartition(13).filter(sample_condition(F.col("k"), 0.3)).collect()
    assert sorted(r["k"] for r in a) == sorted(r["k"] for r in b)


def test_sample_salts_decorrelate(spark):
    df = spark.range(0, 10000).withColumnRenamed("id", "k")
    both = df.filter(
        sample_condition(F.col("k"), 0.5, salt="a") & sample_condition(F.col("k"), 0.5, salt="b")
    ).count()
    # independent halves intersect in ~25%
    assert abs(both / 10000 - 0.25) < 0.03


def test_hash_split_fractions_and_exclusivity(spark):
    df = spark.range(0, 20000).withColumnRenamed("id", "k")
    out = (
        df.select(hash_split(F.col("k"), {"train": 0.8, "val": 0.1, "test": 0.1}).alias("s"))
        .groupBy("s")
        .count()
        .collect()
    )
    got = {r["s"]: r["count"] for r in out}
    assert set(got) == {"train", "val", "test"}
    assert sum(got.values()) == 20000  # total preserved, splits exclusive
    assert abs(got["train"] / 20000 - 0.8) < 0.02
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(F.col("k"), {"a": 0.5, "b": 0.4})


def test_stratified_rates_per_stratum(spark):
    df = spark.range(0, 30000).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("g")
    )
    cond = stratified_sample_condition(
        F.col("k"), F.col("g"), {"0": 1.0, "1": 0.2}, default_rate=0.0
    )
    got = {
        r["g"]: r["n"]
        for r in df.filter(cond).groupBy("g").agg(F.count("*").alias("n")).collect()
    }
    assert got.get("0") == 10000  # rate 1.0 keeps all
    assert "2" not in got  # default 0.0 drops stratum
    assert abs(got["1"] / 10000 - 0.2) < 0.03


# --- PII redaction ----------------------------------------------------------


def test_pii_redact_counts_and_text(spark):
    df = spark.createDataFrame(
        [
            (1, "reach Bob.Smith+x@mail-hub.io or 12-345-678-9012 now"),
            (2, "no contact info here"),
            (3, "two mails a@b.co c@d.org one phone 99-111-222-3333"),
        ],
        "id long, txt string",
    )
    rows = {r["id"]: r for r in pii_redact(df, "txt", "id").collect()}
    assert (rows[1]["n_emails"], rows[1]["n_phones"]) == (1, 1)
    assert rows[1]["redacted"] == "reach [EMAIL] or [PHONE] now"
    assert (rows[2]["n_emails"], rows[2]["n_phones"]) == (0, 0)
    assert (rows[3]["n_emails"], rows[3]["n_phones"]) == (2, 1)
    assert "[EMAIL]" in rows[3]["redacted"] and "[PHONE]" in rows[3]["redacted"]
    assert "@" not in rows[3]["redacted"]


# --- tf-idf -----------------------------------------------------------------


def test_tfidf_rare_term_outranks_common(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha alpha zebra common common"),
            (2, "common beta beta"),
            (3, "common gamma"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(df, "text", "doc_id", top_k=2).collect()
    top1 = {r["doc_id"]: r["term"] for r in out if r["rnk"] == 1}
    # 'common' appears in every doc (df=3) -> idf floor; doc-specific
    # terms win rank 1 everywhere
    assert top1 == {1: "alpha", 2: "beta", 3: "gamma"}
    by_doc1 = sorted((r["rnk"], r["term"]) for r in out if r["doc_id"] == 1)
    assert by_doc1 == [(1, "alpha"), (2, "zebra")]  # tf=1 rare beats tf=2 ubiquitous


# --- int8 quantization ------------------------------------------------------


def test_quantize_int8_codes_and_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -3.0, 2.0]), (2, [0.0, 0.0, 0.0]), (3, [127.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    assert rows[1]["q8"] == "42,-127,85"  # scale = 3/127
    assert rows[2]["q8"] == "0,0,0" and rows[2]["scale"] == 1.0  # no NaNs
    assert rows[3]["q8"] == "127" and rows[3]["scale"] == 1.0
    # codes bounded by construction
    for r in rows.values():
        assert all(-127 <= int(c) <= 127 for c in r["q8"].split(","))


# --- repetition stats / sequence packing ------------------------------------


def test_repetition_stats_known_values(spark):
    from clickhouse_mysql_data_reader_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # all-same: uni 4/4, bi 3/3
            (2, "a b c d e f g h i j"),           # all-distinct: uni 1/10, bi 1/9
            (3, "go go stop go stop go"),         # uni go=4/6; bigram 'go stop' 2/5
            (4, "one"),                           # 1 token: guards kick in
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(docs, "text", "doc_id").collect()}
    assert got[1]["top_unigram_frac"] == 1.0
    assert got[1]["top_bigram_frac"] == 1.0
    assert got[1]["dup_token_frac"] == 0.75  # 4 tokens, 1 distinct
    assert got[1]["flag_repetitive"] is True
    assert got[2]["top_unigram_frac"] == 0.1
    assert got[2]["top_bigram_frac"] == pytest.approx(1 / 9)
    assert got[2]["dup_token_frac"] == 0.0
    assert got[2]["flag_repetitive"] is False
    assert got[3]["top_unigram_frac"] == pytest.approx(4 / 6)
    assert got[3]["top_bigram_frac"] == pytest.approx(2 / 5)
    # single token: bigram degenerates to the token itself (guarded
    # sequence), denominators clamp to 1 — no div-by-zero, no ANSI error
    assert got[4]["n_tokens"] == 1
    assert got[4]["top_unigram_frac"] == 1.0
    assert got[4]["top_bigram_frac"] == 1.0


def test_pack_sequences_layout_properties(spark):
    from clickhouse_mysql_data_reader_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["tok"] * (10 + (i * 7) % 40))) for i in range(40)],
        "doc_id long, text string",
    )
    from clickhouse_mysql_data_reader_spark.operators.text import token_count

    out = pack_sequences(docs, token_count(F.col("text")), "doc_id",
                         budget=64, n_shards=4).collect()
    assert len(out) == 40
    by_shard: dict = {}
    for r in out:
        assert r["shard"] == r["doc_id"] % 4
        assert 0 <= r["pack_offset"] < 64
        assert r["pack_id"] == r["start_token"] // 64
        assert r["pack_offset"] == r["start_token"] % 64
        by_shard.setdefault(r["shard"], []).append(r)
    # within each shard, docs laid end-to-end in doc_id order: each
    # start_token equals the previous doc's start + its token count
    for rows in by_shard.values():
        rows.sort(key=lambda r: r["doc_id"])
        expect = 0
        for r in rows:
            assert r["start_token"] == expect
            expect += r["n_tokens"]


def test_pack_sequences_partition_independence(spark):
    from clickhouse_mysql_data_reader_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (5 + i % 9))) for i in range(30)],
        "doc_id long, text string",
    )
    from clickhouse_mysql_data_reader_spark.operators.text import token_count

    a = pack_sequences(docs.repartition(1), token_count(F.col("text")), "doc_id").collect()
    b = pack_sequences(docs.repartition(13), token_count(F.col("text")), "doc_id").collect()
    key = lambda rows: sorted(tuple(r) for r in rows)
    assert key(a) == key(b)


def test_pack_sequences_rejects_bad_budget(spark):
    from clickhouse_mysql_data_reader_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="budget"):
        pack_sequences(docs, F.lit(2), "doc_id", budget=0)


def test_contamination_check_known_overlap(spark):
    from clickhouse_mysql_data_reader_spark.operators.dedup import contamination_check

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated corpus content here today"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over a sleeping cat"),  # partial leak
            (101, "the quick brown fox jumps over the lazy dog"),    # full leak
            (102, "nothing in common with training data at all"),    # clean
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in contamination_check(corpus, bench, "text", "doc_id").collect()
    }
    # doc 101 is verbatim in corpus: every shingle contaminated
    assert got[101]["contamination_frac"] == 1.0
    assert got[101]["flag_contaminated"] is True
    # doc 100 shares the 'the quick brown / quick brown fox / brown fox
    # jumps / fox jumps over' prefix shingles: 4 of its 7 3-gram shingles
    assert got[100]["n_shingles"] == 7
    assert got[100]["n_contaminated"] == 4
    assert got[100]["flag_contaminated"] is True  # 4/7 >= 0.5
    # doc 102 shares nothing
    assert got[102]["n_contaminated"] == 0
    assert got[102]["contamination_frac"] == 0.0
    assert got[102]["flag_contaminated"] is False


def test_mixture_sample_rates_and_determinism(spark):
    from clickhouse_mysql_data_reader_spark.operators.sampling import mixture_sample

    # 3 sources x 200 docs x 10 tokens = 2000 tokens each
    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", " ".join(["w"] * 10)) for i in range(600)],
        "doc_id long, source string, text string",
    )
    from clickhouse_mysql_data_reader_spark.operators.text import token_count

    out = mixture_sample(
        docs, token_count(F.col("text")), "doc_id", "source",
        {"s0": 0.5, "s1": 0.1}, token_budget=4000, default_weight=0.0,
    )
    rows = {r["source"]: r for r in out.collect()}
    # s0 target 2000 = its total -> rate 1, kept whole
    assert rows["s0"]["rate"] == 1.0
    assert rows["s0"]["n_docs_kept"] == 200
    assert rows["s0"]["n_tokens_kept"] == 2000
    # s1 target 400 of 2000 -> rate 0.2, kept ~20% (hash variance)
    assert rows["s1"]["rate"] == pytest.approx(0.2)
    assert 20 <= rows["s1"]["n_docs_kept"] <= 60
    # s2 has no weight and default 0 -> nothing kept
    assert rows["s2"]["rate"] == 0.0
    assert rows["s2"]["n_docs_kept"] == 0
    # deterministic under repartitioning
    again = mixture_sample(
        docs.repartition(17), token_count(F.col("text")), "doc_id", "source",
        {"s0": 0.5, "s1": 0.1}, token_budget=4000, default_weight=0.0,
    ).collect()
    assert {r["source"]: r["n_docs_kept"] for r in again} == {
        s: r["n_docs_kept"] for s, r in rows.items()
    }
    with pytest.raises(ValueError, match="token_budget"):
        mixture_sample(docs, F.lit(1), "doc_id", "source", {}, token_budget=0)


def test_training_shuffle_key_disambiguates_replicas(spark):
    """Composition pin: after mixture_oversample, shuffling with the
    (doc_id, copy_no) key gives every COPY its own deterministic
    (shard, pos) — the default id-only draw would tie replicas on
    (draw, id) and order them arbitrarily."""
    from clickhouse_mysql_data_reader_spark.operators.sampling import (
        training_shuffle,
    )

    docs = spark.createDataFrame(
        [(i, c) for i in range(50) for c in range(3)],
        "doc_id long, copy_no int",
    )
    key = F.concat_ws(":", F.col("doc_id"), F.col("copy_no"))
    out = training_shuffle(docs, n_shards=4, key=key).collect()
    # every row has a unique (shard, pos) slot
    slots = {(r["shard"], r["pos"]) for r in out}
    assert len(slots) == 150
    # replicas of the same doc scatter across distinct slots, and a
    # rerun under different partitioning reproduces the exact layout
    again = training_shuffle(docs.repartition(7), n_shards=4, key=key).collect()
    assert {(r["doc_id"], r["copy_no"], r["shard"], r["pos"]) for r in again} == {
        (r["doc_id"], r["copy_no"], r["shard"], r["pos"]) for r in out
    }


def test_mixture_oversample_epochs_and_downsample_parity(spark):
    """mixture_oversample: rates above 1 give every doc floor(rate) or
    floor(rate)+1 copies (contiguous copy_no), the extra-copy fraction
    tracks rate - floor(rate), rates below 1 keep EXACTLY the docs
    mixture_sample keeps (same salt, same draw), and everything is
    deterministic under repartitioning."""
    from clickhouse_mysql_data_reader_spark.operators.sampling import (
        mixture_oversample,
        mixture_sample,
    )
    from clickhouse_mysql_data_reader_spark.operators.text import token_count

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", " ".join(["w"] * 10)) for i in range(600)],
        "doc_id long, source string, text string",
    )
    weights, budget = {"s0": 1.25, "s1": 0.1}, 4000
    out = mixture_oversample(
        docs, token_count(F.col("text")), "doc_id", "source",
        weights, token_budget=budget, default_weight=0.0,
    )
    rows = out.collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault((r["source"], r["doc_id"]), []).append(r["copy_no"])
    # s0 target 5000 of 2000 -> rate 2.5: every doc 2 or 3 copies,
    # contiguous from 0; extra-copy fraction ~0.5
    s0 = {k: sorted(v) for k, v in by_doc.items() if k[0] == "s0"}
    assert len(s0) == 200
    assert all(v == list(range(len(v))) and len(v) in (2, 3) for v in s0.values())
    n_extra = sum(1 for v in s0.values() if len(v) == 3)
    assert 60 <= n_extra <= 140
    # s1 rate 0.2: 0 or 1 copies, and the kept set is EXACTLY the
    # down-only operator's kept count (same salt, same draw)
    s1_kept = {k[1] for k in by_doc if k[0] == "s1"}
    report = {
        r["source"]: r
        for r in mixture_sample(
            docs, token_count(F.col("text")), "doc_id", "source",
            weights, token_budget=budget, default_weight=0.0,
        ).collect()
    }
    assert len(s1_kept) == report["s1"]["n_docs_kept"]
    # s2 rate 0 -> no rows at all
    assert not any(k[0] == "s2" for k in by_doc)
    # deterministic under repartitioning
    again = mixture_oversample(
        docs.repartition(13), token_count(F.col("text")), "doc_id", "source",
        weights, token_budget=budget, default_weight=0.0,
    ).collect()
    assert sorted((r["source"], r["doc_id"], r["copy_no"]) for r in again) == sorted(
        (r["source"], r["doc_id"], r["copy_no"]) for r in rows
    )
    with pytest.raises(ValueError, match="token_budget"):
        mixture_oversample(docs, F.lit(1), "doc_id", "source", {}, token_budget=0)
    # a caller column named like a working/output column raises instead
    # of being silently clobbered (the training_shuffle contract)
    with pytest.raises(ValueError, match="collide"):
        mixture_oversample(
            docs.withColumn("copy_no", F.lit(9)), F.lit(1), "doc_id", "source",
            {}, token_budget=10,
        )


def test_training_shuffle_is_a_deterministic_permutation(spark):
    from clickhouse_mysql_data_reader_spark.operators.sampling import (
        training_shuffle,
    )
    import pytest as _pytest

    docs = spark.createDataFrame([(i, f"d{i}") for i in range(200)], "doc_id long, text string")
    out = training_shuffle(docs, n_shards=8).collect()
    assert len(out) == 200 and len({r["doc_id"] for r in out}) == 200
    # per-shard positions are contiguous 1..k (a true permutation layout)
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), f"shard {s}"

    # reproducible across runs; different salt = different permutation
    again = training_shuffle(docs, n_shards=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = training_shuffle(docs, n_shards=8, salt="epoch2").collect()
    o1 = {r["doc_id"]: (r["shard"], r["pos"]) for r in out}
    o2 = {r["doc_id"]: (r["shard"], r["pos"]) for r in other}
    assert any(o1[d] != o2[d] for d in o1), "new salt must reshuffle"
    # ...and the shuffle decorrelates id order: the id sequence along
    # (shard, pos) is far from sorted
    ordered = [r["doc_id"] for r in sorted(out, key=lambda r: (r["shard"], r["pos"]))]
    asc_pairs = sum(a < b for a, b in zip(ordered, ordered[1:]))
    assert 0.3 < asc_pairs / (len(ordered) - 1) < 0.7

    with _pytest.raises(ValueError, match="n_shards"):
        training_shuffle(docs, n_shards=0)


def test_unimax_waterfilling_allocation(spark):
    """Hand-computed UniMax allocation: small sources cap at
    size*max_epochs, excess redistributes uniformly over larger ones;
    alpha-free fairness — and the weights feed mixture_sample."""
    from pyspark.sql import functions as F

    from clickhouse_mysql_data_reader_spark.operators.sampling import (
        mixture_sample,
        unimax_weights,
    )

    rows, i = [], 0
    for src, n_docs in (("en", 80), ("fr", 15), ("sw", 5)):
        for _ in range(n_docs):
            rows.append((i, src, 10))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    # sizes: en=800, fr=150, sw=50. budget=600, max_epochs=1:
    #   sw: min(50, 600/3=200) = 50; remaining 550 over 2
    #   fr: min(150, 275) = 150; remaining 400
    #   en: min(800, 400) = 400
    w = unimax_weights(docs, F.col("n_tokens"), "source", token_budget=600)
    assert w == {"en": 400 / 600, "fr": 150 / 600, "sw": 50 / 600}
    assert abs(sum(w.values()) - 1.0) < 1e-12

    report = {
        r["source"]: r
        for r in mixture_sample(
            docs, F.col("n_tokens"), "doc_id", "source", w, token_budget=600
        ).collect()
    }
    assert report["sw"]["rate"] == 1.0 and report["fr"]["rate"] == 1.0
    assert abs(report["en"]["rate"] - 0.5) < 1e-12

    # budget larger than corpus at max_epochs=1: every source kept whole
    w2 = unimax_weights(docs, F.col("n_tokens"), "source", token_budget=10_000)
    assert w2 == {"en": 800 / 10_000, "fr": 150 / 10_000, "sw": 50 / 10_000}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_epochs"):
        unimax_weights(docs, F.col("n_tokens"), "source", 100, max_epochs=0)


def test_weighting_and_shuffle_guards(spark):
    """Review-pass guards: shuffle output-name collisions raise; NULL
    source sums coalesce to zero in unimax; inverted ccnet thresholds raise;
    corpus_stats rejects non-positive histogram widths."""
    from pyspark.sql import functions as F
    import pytest as _pytest

    from clickhouse_mysql_data_reader_spark.operators.sampling import (
        training_shuffle,
        unimax_weights,
    )
    from clickhouse_mysql_data_reader_spark.operators.text import (
        ccnet_buckets,
        corpus_stats,
    )

    with_pos = spark.createDataFrame([(1, 5)], "doc_id long, pos long")
    with _pytest.raises(ValueError, match="collide"):
        training_shuffle(with_pos)

    nulls = spark.createDataFrame(
        [(1, "a", 100), (2, "b", None)], "doc_id long, source string, n_tokens long"
    )
    w = unimax_weights(nulls, F.col("n_tokens"), "source", token_budget=50)
    assert w == {"a": 1.0, "b": 0.0}

    docs = spark.createDataFrame([(1, "w", "a b c")], "doc_id long, source string, text string")
    with _pytest.raises(ValueError, match="lo <= hi"):
        ccnet_buckets(docs.select("doc_id", "text"), thresholds=(20.0, 5.0))
    with _pytest.raises(ValueError, match="hist_bucket_tokens"):
        corpus_stats(docs, hist_bucket_tokens=0)


# ---------------------------------------------------------------------------
# profile_table (operators/profile.py)
# ---------------------------------------------------------------------------


def test_profile_table_stats_and_null_only_column(spark):
    from clickhouse_mysql_data_reader_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(10, "b", None), (2, None, None), (10, "a", None)],
        "k long, s string, dead string",
    )
    out = {r["column"]: r for r in profile_table(df).collect()}
    assert set(out) == {"k", "s", "dead"}
    assert all(r["n_rows"] == 3 for r in out.values())
    # native-type ordering: min of [10, 2, 10] is 2, not lexicographic '10'
    assert out["k"]["min_value"] == "2" and out["k"]["max_value"] == "10"
    assert out["k"]["n_distinct"] == 2 and out["k"]["n_nulls"] == 0
    assert out["s"]["n_nulls"] == 1 and out["s"]["n_distinct"] == 2
    assert out["dead"]["n_nulls"] == 3 and out["dead"]["n_distinct"] == 0
    assert out["dead"]["min_value"] == "" and out["dead"]["max_value"] == ""

    approx = {r["column"]: r for r in profile_table(df, exact_distinct=False).collect()}
    assert approx["k"]["n_distinct"] >= 1  # HLL estimate, no Expand

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown columns"):
        profile_table(df, ["nope"])
    with _pytest.raises(ValueError, match="no columns"):
        profile_table(df.select(), [])


def test_corpus_diff_statuses_source_moves_and_global_mode(spark):
    from clickhouse_mysql_data_reader_spark.operators.profile import corpus_diff

    old = spark.createDataFrame(
        [
            (1, "web", "alpha"),       # unchanged
            (2, "web", "beta"),        # changed (text differs in new)
            (3, "books", "gamma"),     # removed
            (5, "web", "delta"),       # changed AND moved to books:
        ],                             #   counts under the NEW source
        "doc_id long, source string, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "web", "alpha"),
            (2, "web", "beta2"),
            (4, "books", "epsilon!"),  # added
            (5, "books", "delta99"),
        ],
        "doc_id long, source string, text string",
    )
    out = {r["source"]: r for r in corpus_diff(old, new).collect()}
    assert out["web"]["n_unchanged"] == 1
    assert out["web"]["n_changed"] == 1
    assert out["web"]["chars_delta"] == 1      # beta -> beta2
    assert out["books"]["n_added"] == 1
    assert out["books"]["n_removed"] == 1
    assert out["books"]["n_changed"] == 1      # the moved doc
    assert out["books"]["chars_added"] == 8    # epsilon!
    assert out["books"]["chars_removed"] == 5  # gamma
    assert out["books"]["chars_delta"] == 2    # delta -> delta99

    # global mode: one row, every status summed
    g = corpus_diff(old, new, source_col=None).collect()
    assert len(g) == 1 and g[0]["source"] == ""
    assert (
        g[0]["n_added"],
        g[0]["n_removed"],
        g[0]["n_changed"],
        g[0]["n_unchanged"],
    ) == (1, 1, 2, 1)

    with pytest.raises(ValueError, match="collides"):
        corpus_diff(
            old.withColumnRenamed("doc_id", "_cd_id"),
            new.withColumnRenamed("doc_id", "_cd_id"),
            id_col="_cd_id",
        )


def test_anomaly_zscore_matches_numpy_and_broadcasts(spark):
    import numpy as np

    from clickhouse_mysql_data_reader_spark.operators.profile import anomaly_zscore

    rows = [("a", float(x)) for x in [1, 2, 3, 2, 1, 2, 3, 2, 50]] + [
        ("b", 5.0),          # n=1: variance undefined, must flag nothing
        ("c", 7.0),
        ("c", 7.0),          # zero variance: equal values never flag
    ]
    df = spark.createDataFrame(rows, "k string, value double")
    out = {r["k"]: r for r in anomaly_zscore(df, "k", "value", threshold=2).collect()}

    a = np.array([1, 2, 3, 2, 1, 2, 3, 2, 50], dtype=float)
    expect_a = int((np.abs(a - a.mean()) > 2 * a.std(ddof=1)).sum())
    assert out["a"]["n_anomalies"] == expect_a > 0
    assert out["a"]["n_events"] == 9
    assert out["a"]["mean_x1e6"] == int(a.sum() * 10**6) // 9
    assert out["a"]["max_value_x1e6"] == 50_000_000
    assert out["b"]["n_anomalies"] == 0 and out["b"]["n_events"] == 1
    assert out["c"]["n_anomalies"] == 0

    with pytest.raises(ValueError, match="non-negative int"):
        anomaly_zscore(df, "k", "value", threshold=-1)

    # scale guard: the stats frame joins back by BROADCAST — the fact
    # side must never shuffle on the key
    plan = anomaly_zscore(df, "k", "value")._jdf.queryExecution().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_anomaly_zscore_frozen_stats_deployment(spark):
    from clickhouse_mysql_data_reader_spark.operators.profile import (
        anomaly_stats,
        anomaly_zscore,
    )

    ref_rows = [("a", float(x)) for x in [1, 2, 3, 2, 1, 2, 3, 2, 50]] + [
        ("c", 7.0),
        ("c", 7.0),
    ]
    ref = spark.createDataFrame(ref_rows, "k string, value double")

    # frozen == derived when scoring the reference window itself
    derived = sorted(map(tuple, anomaly_zscore(ref, "k", "value", 2).collect()))
    frozen = sorted(
        map(
            tuple,
            anomaly_zscore(
                ref, "k", "value", 2, stats=anomaly_stats(ref, "k", "value")
            ).collect(),
        )
    )
    assert derived == frozen

    # a mostly-anomalous batch hides its outliers from its OWN stddev
    # but not from the frozen reference distribution; unseen keys drop
    batch = spark.createDataFrame(
        [("c", 7.0), ("c", 200.0), ("c", 210.0), ("zz", 1.0)],
        "k string, value double",
    )
    self_scored = {r["k"]: r for r in anomaly_zscore(batch, "k", "value", 2).collect()}
    ref_scored = {
        r["k"]: r
        for r in anomaly_zscore(
            batch, "k", "value", 2, stats=anomaly_stats(ref, "k", "value")
        ).collect()
    }
    assert self_scored["c"]["n_anomalies"] == 0       # inflated own stddev
    assert ref_scored["c"]["n_anomalies"] == 2        # frozen sigma=0 ref
    assert ref_scored["c"]["mean_x1e6"] == 7_000_000  # frozen mean
    assert "zz" in self_scored and "zz" not in ref_scored

    with pytest.raises(ValueError, match="stats table missing"):
        anomaly_zscore(batch, "k", "value", stats=ref)


def test_validate_table_rules_and_errors(spark):
    from clickhouse_mysql_data_reader_spark.operators.profile import validate_table

    df = spark.createDataFrame(
        [
            (1, "a", 5.0, "x-1"),
            (2, "a", 50.0, "x-2"),
            (2, None, -1.0, "y-3"),
            (None, "b", None, "bad"),
        ],
        "id long, cat string, v double, code string",
    )
    out = {
        (r["rule"], r["column"]): r
        for r in validate_table(
            df,
            [
                ("not_null", "id"),
                ("unique", "id"),
                ("unique", "cat"),
                ("in_range", "v", 0, 10),
                ("in_set", "cat", ["a", "b"]),
                ("matches", "code", "^[xy]-[0-9]$"),
            ],
        ).collect()
    }
    assert all(r["n_checked"] == 4 for r in out.values())
    assert out[("not_null", "id")]["n_violations"] == 1
    # id: values 1,2,2,NULL -> one dup beyond first; single NULL is fine
    assert out[("unique", "id")]["n_violations"] == 1
    # cat: a,a,NULL,b -> one dup; single NULL bucket adds nothing
    assert out[("unique", "cat")]["n_violations"] == 1
    # v: 50 and -1 out of range; NULL skipped
    assert out[("in_range[0,10]", "v")]["n_violations"] == 2
    assert out[("in_set[a,b]", "cat")]["n_violations"] == 0
    assert out[("in_set[a,b]", "cat")]["passed"] is True
    assert out[("matches[^[xy]-[0-9]$]", "code")]["n_violations"] == 1
    assert out[("matches[^[xy]-[0-9]$]", "code")]["passed"] is False

    # two NULLs under unique: the shared null bucket counts dups too
    df2 = spark.createDataFrame([(None,), (None,), (7,)], "id long")
    u = validate_table(df2, [("unique", "id")]).collect()[0]
    assert u["n_violations"] == 1

    for bad_rules, msg in [
        ([], "no rules"),
        ([("not_null", "nope")], "unknown column"),
        ([("in_set", "id", [])], "in_set needs values"),
        ([("frobnicate", "id")], "unknown rule kind"),
    ]:
        with pytest.raises(ValueError, match=msg):
            validate_table(df2 if bad_rules else df, bad_rules)


def test_corpus_diff_conserves_ids(spark):
    """Conservation: every id lands in exactly one status bucket —
    sum of all four counts == |old ids ∪ new ids| (random overlap)."""
    import random

    from clickhouse_mysql_data_reader_spark.operators.profile import corpus_diff

    rng = random.Random(13)
    old_ids = set(rng.sample(range(200), 80))
    new_ids = set(rng.sample(range(200), 90))
    mk = lambda i, mut: (i, f"s{i % 3}", f"text-{i}{'X' if mut else ''}")
    old = spark.createDataFrame(
        [mk(i, False) for i in sorted(old_ids)],
        "doc_id long, source string, text string",
    )
    new = spark.createDataFrame(
        [mk(i, i % 4 == 0) for i in sorted(new_ids)],
        "doc_id long, source string, text string",
    )
    rows = corpus_diff(old, new).collect()
    total = sum(
        r["n_added"] + r["n_removed"] + r["n_changed"] + r["n_unchanged"]
        for r in rows
    )
    assert total == len(old_ids | new_ids)
    assert sum(r["n_added"] for r in rows) == len(new_ids - old_ids)
    assert sum(r["n_removed"] for r in rows) == len(old_ids - new_ids)
    both = old_ids & new_ids
    assert sum(r["n_changed"] for r in rows) == sum(1 for i in both if i % 4 == 0)


def test_distinct_sketches_land_and_rollup(spark):
    from clickhouse_mysql_data_reader_spark.operators.profile import (
        distinct_sketches,
        sketch_rollup,
    )

    rows = [
        (d, s, f"user{(i * 7 + int(d[1])) % 40}")
        for d in ("d1", "d2", "d3")
        for s in ("web", "app")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "day string, source string, uid string")

    landed = distinct_sketches(df, ["day", "source"], "uid")
    assert set(landed.columns) == {"day", "source", "sketch", "n_rows", "n_distinct_est"}
    per = {(r["day"], r["source"]): r for r in landed.collect()}
    exact_ds = {
        (d, s): df.filter((F.col("day") == d) & (F.col("source") == s))
        .select("uid").distinct().count()
        for d in ("d1", "d2") for s in ("web",)
    }
    for k, exact in exact_ds.items():
        assert per[k]["n_distinct_est"] == exact  # tiny cardinality: HLL exact
        assert per[k]["n_rows"] == 200

    # rollup over landed sketches == fresh sketch over the union
    by_source = {r["source"]: r for r in sketch_rollup(landed, ["source"]).collect()}
    fresh = {
        r["source"]: r
        for r in distinct_sketches(df, ["source"], "uid").collect()
    }
    for s in ("web", "app"):
        assert by_source[s]["n_distinct_est"] == fresh[s]["n_distinct_est"]
        assert by_source[s]["n_rows"] == 600

    # global rollup (keys=[]) matches the full-corpus distinct
    g = sketch_rollup(landed, []).collect()[0]
    assert g["n_distinct_est"] == df.select("uid").distinct().count()
    assert g["n_rows"] == 1200

    with pytest.raises(ValueError, match="at least one key"):
        distinct_sketches(df, [], "uid")


def test_value_histogram_merges_and_quantiles_bound_truth(spark):
    import numpy as np

    from clickhouse_mysql_data_reader_spark.operators.profile import (
        histogram_quantile,
        value_histogram,
    )

    rng = np.random.RandomState(3)
    vals = np.round(rng.exponential(50, 500), 3)
    rows = [("a", float(v)) for v in vals]
    df = spark.createDataFrame(rows, "k string, value double")

    # mergeability: per-half histograms summed == full histogram
    full = {
        (r["bin"]): r["n"]
        for r in value_histogram(df, ["k"], "value", 5.0).collect()
    }
    h1 = value_histogram(
        spark.createDataFrame(rows[:250], "k string, value double"), ["k"], "value", 5.0
    )
    h2 = value_histogram(
        spark.createDataFrame(rows[250:], "k string, value double"), ["k"], "value", 5.0
    )
    merged = {
        r["bin"]: r["n"]
        for r in h1.unionByName(h2)
        .groupBy("k", "bin")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    assert merged == full

    # estimate brackets the true quantile within one bin width
    hist = value_histogram(df, ["k"], "value", 5.0)
    out = {
        r["q"]: r["est_upper"] / 1e6
        for r in histogram_quantile(hist, ["k"], [0.5, 0.9, 0.99], 5.0).collect()
    }
    for q, est in out.items():
        true = float(np.quantile(vals, q, method="inverted_cdf"))
        assert est - 5.0 <= true <= est, (q, est, true)

    with pytest.raises(ValueError, match="bin_width"):
        value_histogram(df, ["k"], "value", 0)
    with pytest.raises(ValueError, match="qs must be"):
        histogram_quantile(hist, ["k"], [0.0], 5.0)
    import pyspark

    with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
        value_histogram(
            spark.createDataFrame([("a", -1.0)], "k string, value double"),
            ["k"], "value", 5.0,
        ).collect()


def test_anomaly_zscore_overflow_guard_and_scale_invariance(spark):
    """The raw z-test products overflow DECIMAL(38,0) well below naive
    expectations (dev^2*(n-1) ~ n^3 * spread^2); the operator must
    RAISE with scale advice — never NULL flags or an opaque ANSI crash
    — and the same data must score fine at a coarser scale (the test
    is scale-invariant up to sub-tick resolution)."""
    import numpy as np
    import pyspark

    from clickhouse_mysql_data_reader_spark.operators.profile import anomaly_zscore

    rng = np.random.RandomState(11)
    vals = np.round(rng.uniform(0, 1e6, 20_000), 3)
    df = spark.createDataFrame([("k", float(v)) for v in vals], "k string, value double")

    # n=20k with a 1e6 spread overflowed the PRE-fix raw formulation
    # (dev^2*(n-1) ~ 1e39); centered moments compute it exactly at the
    # default scale — pin against numpy on the same integer ticks
    out = anomaly_zscore(df, "k", "value", threshold=3).collect()[0]
    ticks = np.floor(vals * 1e6 + 0.5)  # HALF_UP at scale 1e6
    z = np.abs(ticks - ticks.mean()) > 3 * ticks.std(ddof=1)
    assert out["n_anomalies"] == int(z.sum())
    assert out["n_events"] == 20_000

    # 10x the rows pushes even the centered form past DECIMAL(38,0):
    # the guard must RAISE with scale advice, and the coarser scale
    # must then compute the same data fine
    big = spark.range(0, 200_000).select(
        F.lit("k").alias("k"),
        (F.pmod(F.xxhash64("id"), F.lit(1_000_000_001)) / 1000.0).alias("value"),
    )
    with pytest.raises(
        pyspark.errors.exceptions.base.PySparkException, match="reduce `scale`"
    ):
        anomaly_zscore(big, "k", "value").collect()
    ok = anomaly_zscore(big, "k", "value", scale=10).collect()[0]
    assert ok["n_events"] == 200_000 and ok["n_anomalies"] == 0  # uniform: no 3-sigma tail

    # huge OFFSET, small spread (epoch-timestamp shape): centering
    # keeps magnitudes tiny, so the DEFAULT scale works
    ts = spark.createDataFrame(
        [("t", 1.7e9 + float(x)) for x in rng.normal(0, 100, 5_000)],
        "k string, value double",
    )
    r = anomaly_zscore(ts, "k", "value").collect()[0]
    assert r["n_events"] == 5_000 and 0 <= r["n_anomalies"] < 100


def test_corpus_diff_null_text_is_presence_not_fingerprint(spark):
    from clickhouse_mysql_data_reader_spark.operators.profile import corpus_diff

    old = spark.createDataFrame(
        [(1, "s", None), (2, "s", "x"), (3, "s", None)],
        "doc_id long, source string, text string",
    )
    new = spark.createDataFrame(
        [(1, "s", "now-filled"), (2, "s", None), (3, "s", None)],
        "doc_id long, source string, text string",
    )
    r = corpus_diff(old, new).collect()[0]
    # NULL->text and text->NULL are CHANGES (both sides present);
    # NULL->NULL is unchanged; nothing is added/removed
    assert (r["n_added"], r["n_removed"], r["n_changed"], r["n_unchanged"]) == (0, 0, 2, 1)
    assert r["chars_added"] == 0 and r["chars_removed"] == 0
    assert r["chars_delta"] == len("now-filled") - 1  # 10 - len("x")
