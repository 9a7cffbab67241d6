"""Late-round-11 operator additions: count-min sketch, blocked fuzzy
linkage, per-source quality calibration. End-to-end oracle parity runs
in test_oracle_queries via the registry; these pin the operator-level
invariants the hash check can't express (one-sided CMS error,
blocking contracts, calibration fairness)."""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.operators.cms import (
    cms_build,
    cms_estimate,
)
from clickhouse_mysql_data_reader_spark.operators.linkage import fuzzy_match_pairs


def _items(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "item string")


def test_cms_one_sided_error_and_exactness_when_wide(spark):
    """CMS never under-counts; with width >> distinct items the
    estimate is exact."""
    vals = ["a"] * 5 + ["b"] * 3 + ["c"] * 1
    df = _items(spark, vals)
    # narrow sketch: collisions likely -> est >= true, never under
    narrow = cms_build(df, "item", depth=2, width=2)
    cand = _items(spark, ["a", "b", "c"])
    est = {
        r["item"]: r["est_count"]
        for r in cms_estimate(narrow, cand, "item", depth=2, width=2).collect()
    }
    true = {"a": 5, "b": 3, "c": 1}
    for k, t in true.items():
        assert est[k] >= t, (k, est[k], t)
    # wide sketch: 3 items in 3*1024 buckets -> exact with md5 hashing
    wide = cms_build(df, "item", depth=3, width=1024)
    est_w = {
        r["item"]: r["est_count"]
        for r in cms_estimate(wide, cand, "item", depth=3, width=1024).collect()
    }
    assert est_w == true


def test_cms_weighted_and_null_skip(spark):
    df = spark.createDataFrame(
        [("a", 10), ("a", 5), (None, 99)], "item string, w long"
    )
    sk = cms_build(df, "item", depth=2, width=64, weight_col="w")
    est = cms_estimate(
        sk, _items(spark, ["a"]), "item", depth=2, width=64
    ).collect()
    assert est[0]["est_count"] == 15  # weights summed, NULL row skipped


def test_fuzzy_match_pairs_blocking_and_counts(spark):
    """Near names pair only WITHIN a block (the candidate-bounding
    contract); frequencies ride along; name_a < name_b once."""
    rows = (
        [("red bolt",)] * 3
        + [("ted bolt",)] * 2  # dist 1, same 'bolt' block
        + [("red bol",)] * 1  # dist 1 to 'red bolt' but block 'bol'
    )
    df = spark.createDataFrame(rows, "name string")
    out = fuzzy_match_pairs(
        df, "name", block_fn=lambda c: F.split(c, " ").getItem(1), max_dist=2
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["name_a"], r["name_b"]) == ("red bolt", "ted bolt")
    assert r["dist"] == 1 and r["n_a"] == 3 and r["n_b"] == 2


def test_quality_calibrated_is_source_fair(spark):
    """A source whose raw scores are uniformly depressed keeps the
    same ~80% share as a high-scoring source — the point of
    calibrating to within-source rank before thresholding."""
    from clickhouse_mysql_data_reader_spark.operators.text import (
        quality_calibrated,
    )

    # score = (sw_hits/n)*4 + min(n/100,1)*0.5 — pick token counts so
    # every within-source score is distinct and under the clamp:
    # forums = 4 stopwords + (15+i) junk (score ~0.94 -> 0.61),
    # reference = 1 stopword + (30+i) junk (score ~0.28 -> 0.33)
    rows = []
    for i in range(20):
        forum_junk = " ".join(f"q{j}x" for j in range(15 + i))
        ref_junk = " ".join(f"q{j}x" for j in range(30 + i))
        rows.append((i, "forums", "the of and is " + forum_junk))
        rows.append((100 + i, "reference", "the " + ref_junk))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = quality_calibrated(docs, "text", "doc_id", "source", keep_pctile=0.2)
    agg = {
        r["source"]: r
        for r in out.groupBy("source")
        .agg(
            F.sum("kept").alias("n_kept"),
            F.count(F.lit(1)).alias("n"),
            F.max("cal_pctile").alias("mx"),
            F.min("cal_pctile").alias("mn"),
        )
        .collect()
    }
    for src in ("forums", "reference"):
        r = agg[src]
        assert r["mn"] == 0.0 and r["mx"] == 1.0
        # both sources keep the same calibrated share despite the raw
        # score gap (a raw global threshold would zero out 'reference')
        assert r["n_kept"] / r["n"] >= 0.75, (src, r)
    # and the raw scores really are separated (the premise of the test)
    means = {
        r["source"]: r["m"]
        for r in out.groupBy("source")
        .agg(F.avg("quality_score").alias("m"))
        .collect()
    }
    assert means["forums"] > means["reference"] + 0.3


def test_length_buckets_boundaries_and_cap(spark):
    """Bucket b holds counts in (2^(b-1), 2^b] — exact at the powers
    (no float log2 off-by-one) — and the cap folds over-long docs into
    the top bucket, visible as max_tokens > padded_len."""
    from clickhouse_mysql_data_reader_spark.operators.sampling import (
        length_bucket_stats,
    )

    counts = [1, 2, 3, 4, 5, 8, 9, 16, 17, 1000]
    df = spark.createDataFrame([(c,) for c in counts], "n long")
    out = {
        r["bucket"]: r
        for r in length_bucket_stats(df, F.col("n")).collect()
    }
    # bucket = ceil(log2(n)) via digit count of n-1: a doc of EXACTLY
    # 2^b tokens fits the 2^b-padded bucket (4 -> b2, 8 -> b3, 16 ->
    # b4), not half-wasting the next one
    assert out[1]["n_docs"] == 2 and out[1]["padded_len"] == 2  # {1,2}
    assert out[2]["n_docs"] == 2 and out[2]["max_tokens"] == 4  # {3,4}
    assert out[3]["n_docs"] == 2  # {5,8}
    assert out[4]["n_docs"] == 2 and out[4]["max_tokens"] == 16  # {9,16}
    assert out[5]["n_docs"] == 1  # {17}
    assert out[10]["n_docs"] == 1 and out[10]["padded_len"] == 1024
    # every bucket fits its padded length and is >=50% full
    for b, r in out.items():
        assert r["max_tokens"] <= r["padded_len"]
        assert r["fill_ratio"] >= 0.5
    capped = {
        r["bucket"]: r
        for r in length_bucket_stats(
            df, F.col("n"), max_bucket_tokens=16
        ).collect()
    }
    assert max(capped) == 4  # counts <= 16 all fit padded 16
    top = capped[4]
    assert top["max_tokens"] == 1000 and top["padded_len"] == 16  # flagged


def test_length_buckets_surface_empty_docs(spark):
    """Docs with token count <= 0 get their OWN bucket 0 with TRUE
    token sums (round-11 advice) — not a fabricated 1-token fold into
    bucket 1 that inflates total_tokens/min_tokens/fill_ratio."""
    from clickhouse_mysql_data_reader_spark.operators.sampling import (
        length_bucket_stats,
    )

    df = spark.createDataFrame([(0,), (0,), (1,), (2,), (3,)], "n long")
    out = {
        r["bucket"]: r for r in length_bucket_stats(df, F.col("n")).collect()
    }
    assert out[0]["n_docs"] == 2 and out[0]["total_tokens"] == 0
    assert out[0]["min_tokens"] == 0 and out[0]["fill_ratio"] == 0.0
    # bucket 1 holds exactly {1, 2} with no fabricated tokens
    assert out[1]["n_docs"] == 2 and out[1]["total_tokens"] == 3
    assert out[1]["min_tokens"] == 1
    # the cap never folds bucket 0 upward
    capped = {
        r["bucket"]: r
        for r in length_bucket_stats(
            df, F.col("n"), max_bucket_tokens=2
        ).collect()
    }
    assert capped[0]["n_docs"] == 2 and capped[1]["max_tokens"] == 3


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_mmr_prefers_diverse_over_redundant(spark):
    """The point of MMR: after picking the best doc, its near-duplicate
    (higher raw relevance) loses to a diverse doc."""
    from clickhouse_mysql_data_reader_spark.operators.similarity import (
        mmr_rerank,
    )

    # geometry matters: the diverse doc must be equally RELEVANT but
    # dissimilar to the first pick, so the query axis and the
    # spread axis have to be different dimensions — 10 and 12 sit
    # symmetrically about the query (rel 0.9 each), 11 is 10's
    # near-duplicate (sim ~ 1.0, rel ~ 0.9)
    corpus = _vecs(
        spark,
        [
            (10, [0.9, 0.436, 0.0]),
            (11, [0.901, 0.4365, 0.0]),
            (12, [0.9, -0.436, 0.0]),
        ],
    )
    queries = _vecs(spark, [(0, [1.0, 0.0, 0.0])]).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = mmr_rerank(corpus, queries, k=2, n_candidates=3, lam=0.5)
    got = [r["vec_id"] for r in out.orderBy("rank").collect()]
    # step 1: rel(10) == rel(12), id tie-break -> 10. step 2: the
    # near-dup 11 scores 0.5*0.9 - 0.5*1.0 < 0 while diverse 12
    # scores 0.5*0.9 - 0.5*0.62 > 0. Pure top-2 would be [10, 11].
    assert got == [10, 12]


def test_mmr_lam_one_is_pure_relevance(spark):
    """lam = 1.0 zeroes the penalty: MMR order == cosine top-k order
    (the degenerate-case contract)."""
    from clickhouse_mysql_data_reader_spark.operators.similarity import (
        cosine_topk,
        mmr_rerank,
    )

    corpus = _vecs(
        spark,
        [(i, [1.0 + 0.01 * i, 0.1 * i, 0.5]) for i in range(8)],
    )
    queries = _vecs(spark, [(100, [1.0, 0.2, 0.4])]).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    mmr = [
        r["vec_id"]
        for r in mmr_rerank(corpus, queries, k=4, n_candidates=8, lam=1.0)
        .orderBy("rank")
        .collect()
    ]
    topk = [
        r["vec_id"]
        for r in cosine_topk(corpus, queries, k=4).orderBy("rn").collect()
    ]
    assert mmr == topk


def test_mmr_string_ids_pass_through_uncast(spark):
    """qid/vec_id are schema-generic: string ids key the greedy dicts
    and emit UNCHANGED (round-11 advice — the old int() coercion raised
    ValueError on string ids), and the documented smaller-id tie-break
    is the id type's natural (lexicographic) order."""
    from clickhouse_mysql_data_reader_spark.operators.similarity import (
        mmr_rerank,
    )

    corpus = spark.createDataFrame(
        [
            ("doc-a", [0.9, 0.436, 0.0]),
            ("doc-b", [0.901, 0.4365, 0.0]),
            ("doc-c", [0.9, -0.436, 0.0]),
        ],
        "vec_id string, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [("q1", [1.0, 0.0, 0.0])], "qid string, embedding array<double>"
    )
    out = mmr_rerank(corpus, queries, k=2, n_candidates=3, lam=0.5)
    rows = out.orderBy("rank").collect()
    # rel(doc-a) == rel(doc-c); lexicographic tie-break -> doc-a first,
    # then the near-dup doc-b loses to the diverse doc-c (the integer
    # geometry of test_mmr_prefers_diverse_over_redundant)
    assert [r["qid"] for r in rows] == ["q1", "q1"]
    assert [r["vec_id"] for r in rows] == ["doc-a", "doc-c"]


def test_psi_drift_by_equals_standalone_per_key(spark):
    """Each key's rows in psi_drift_by equal a standalone psi_drift on
    that key's slice (shared bucket/smoothing helpers — the pinned
    claim), and keys absent from the baseline are excluded."""
    from clickhouse_mysql_data_reader_spark.operators.profile import (
        psi_drift,
        psi_drift_by,
    )

    rows_old = [(i, "a", 100 + i) for i in range(30)] + [
        (100 + i, "b", 500 + 3 * i) for i in range(20)
    ]
    rows_new = (
        [(200 + i, "a", 110 + i) for i in range(25)]
        + [(300 + i, "b", 700 + i) for i in range(15)]
        + [(400 + i, "only_new", 50 + i) for i in range(5)]
    )
    schema = "doc_id long, src string, n long"
    old = spark.createDataFrame(rows_old, schema)
    new = spark.createDataFrame(rows_new, schema)
    by = psi_drift_by(old, new, "n", "src", n_buckets=8)
    got = {
        (r["src"], r["bucket"]): (r["n_old"], r["n_new"], r["psi_contrib"])
        for r in by.collect()
    }
    assert {k for k, _ in got} == {"a", "b"}  # only_new excluded
    for key in ("a", "b"):
        solo = psi_drift(
            old.filter(F.col("src") == key),
            new.filter(F.col("src") == key),
            "n",
            n_buckets=8,
        )
        for r in solo.collect():
            assert got[(key, r["bucket"])] == (
                r["n_old"],
                r["n_new"],
                r["psi_contrib"],
            )


def test_fk_orphan_report_counts(spark):
    from clickhouse_mysql_data_reader_spark.operators.profile import (
        fk_orphan_report,
    )

    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    child = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 99), (13, None), (14, 1)],
        "cid long, fk long",
    )
    out = fk_orphan_report([("child.fk->parent", child, "fk", parent, "pk")])
    r = out.collect()[0]
    assert (
        r["relation"],
        r["n_child"],
        r["n_null_fk"],
        r["n_orphans"],
        r["ok"],
    ) == ("child.fk->parent", 5, 1, 1, 0)


def test_cms_heavy_hitters_mining_recall(spark):
    """Mining with no candidate list: every truly-heavy item is found
    (one-sided error = perfect recall), light items with wide sketches
    don't appear, and a pre-built sketch is reused when passed."""
    from clickhouse_mysql_data_reader_spark.operators.cms import (
        cms_build,
        cms_heavy_hitters,
    )

    vals = ["hot"] * 20 + ["warm"] * 10 + [f"cold{i}" for i in range(30)]
    df = _items(spark, vals)
    out = {
        r["item"]: r["est_count"]
        for r in cms_heavy_hitters(
            df, "item", depth=3, width=2048, threshold=10
        ).collect()
    }
    assert out["hot"] >= 20 and out["warm"] >= 10
    assert not any(k.startswith("cold") for k in out)  # wide sketch: exact
    # reuse seam: a landed sketch drives the scan without rebuilding
    sk = cms_build(df, "item", depth=3, width=2048)
    out2 = {
        r["item"]: r["est_count"]
        for r in cms_heavy_hitters(
            df, "item", depth=3, width=2048, threshold=10, sketch=sk
        ).collect()
    }
    assert out2 == out


def test_mmr_candidates_seam_matches_default(spark):
    """Passing the same top-N frame through candidates= reproduces the
    default path exactly — the landed-retrieval seam (feed ivf_topk or
    a persisted candidate table, skip the in-plan exact top-N)."""
    from clickhouse_mysql_data_reader_spark.operators.similarity import (
        cosine_topk,
        mmr_rerank,
    )

    corpus = _vecs(
        spark, [(i, [1.0 + 0.03 * i, 0.2 * (i % 3), 0.4]) for i in range(9)]
    )
    queries = _vecs(spark, [(100, [1.0, 0.3, 0.35])]).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    default = mmr_rerank(corpus, queries, k=3, n_candidates=6, lam=0.7)
    seam = mmr_rerank(
        corpus,
        queries,
        k=3,
        n_candidates=6,
        lam=0.7,
        candidates=cosine_topk(corpus, queries, k=6),
    )
    assert sorted(map(tuple, default.collect())) == sorted(
        map(tuple, seam.collect())
    )


def test_url_normalize_semantics(spark):
    from clickhouse_mysql_data_reader_spark.operators.text import (
        url_host,
        url_normalize,
    )

    cases = [
        # fragment dropped; scheme+host lowered; PATH case preserved
        ("HTTP://Example.COM/Path/Sub#frag", "http://example.com/Path/Sub"),
        # default ports stripped, non-default kept
        ("https://a.com:443/x", "https://a.com/x"),
        ("https://a.com:8443/x", "https://a.com:8443/x"),
        # tracking params stripped first/middle/last, real params kept
        ("https://a.com/p?utm_source=s&id=7", "https://a.com/p?id=7"),
        ("https://a.com/p?id=7&gclid=g&x=1", "https://a.com/p?id=7&x=1"),
        ("https://a.com/p?id=7&utm_campaign=c", "https://a.com/p?id=7"),
        # all params tracking -> bare path, no dangling '?'
        ("https://a.com/p?utm_a=1&fbclid=2", "https://a.com/p"),
        # default-port strip is SCHEME-conditioned: http://h:443 and
        # https://h:80 are real distinct origins and survive
        ("http://a.com:443/x", "http://a.com:443/x"),
        ("https://a.com:80/x", "https://a.com:80/x"),
        ("http://a.com:80/x", "http://a.com/x"),
        # suffix-coincident param NAMES survive (anchored on ?/&)
        ("https://a.com/p?myutm_source=x", "https://a.com/p?myutm_source=x"),
        ("https://a.com/p?xgclid=a&id=1", "https://a.com/p?xgclid=a&id=1"),
        # path text containing 'utm_'/'gclid=' is never touched
        (
            "https://a.com/doc-utm_share/gclid=notes?id=2",
            "https://a.com/doc-utm_share/gclid=notes?id=2",
        ),
        # consecutive tracking params in first position
        ("https://a.com/p?utm_a=1&utm_b=2&id=3", "https://a.com/p?id=3"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [
        r["n"]
        for r in df.select(url_normalize(F.col("u")).alias("n")).collect()
    ]
    assert got == [want for _, want in cases]
    hosts = [
        r["h"]
        for r in df.select(url_host(F.col("u")).alias("h")).collect()
    ]
    assert hosts[0] == "example.com" and hosts[1] == "a.com"
    assert hosts[2] == "a.com:8443"  # non-default port is identity
    assert hosts[7] == "a.com:443"  # http origin on :443 survives
    assert hosts[8] == "a.com:80"  # https origin on :80 survives
    assert hosts[9] == "a.com"  # http default port strips
