"""Round-11 operator additions: in-plan isqrt temperature mixture and
the PSI drift monitor (their end-to-end oracle parity runs in
test_oracle_queries via the registry; these pin the operator-level
invariants the hash check can't express)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.operators.profile import psi_drift
from clickhouse_mysql_data_reader_spark.operators.sampling import (
    sqrt_temperature_mixture,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, n long")


def test_sqrt_temperature_flattens_toward_small_sources(spark):
    """alpha = 0.5 semantics: the keep-rate RATIO between a small and a
    large source must sit strictly between uniform (rate ratio =
    inverse size ratio) and natural (equal rates): small sources are
    upweighted but not all the way to uniform."""
    rows = [(i, "big", 100) for i in range(90)] + [
        (i + 1000, "small", 100) for i in range(10)
    ]
    out = {
        r["source"]: r
        for r in sqrt_temperature_mixture(
            _docs(spark, rows), F.col("n"), "doc_id", "source", token_budget=4000
        ).collect()
    }
    big, small = out["big"], out["small"]
    # isqrt weights: w_big = isqrt(9000) = 94, w_small = isqrt(1000) = 31
    assert big["w"] == 94 and small["w"] == 31
    ratio = small["rate"] / big["rate"]  # = (w_s / t_s) / (w_b / t_b)
    assert 1.0 < ratio < 9.0, ratio  # between natural (1) and uniform (9)
    # rates are exact rationals of the isqrt arithmetic
    z = 94 + 31
    assert big["rate"] == (4000.0 * 94) / (z * 9000)
    assert small["rate"] == (4000.0 * 31) / (z * 1000)


def test_sqrt_temperature_rate_caps_at_one(spark):
    rows = [(i, "only", 10) for i in range(5)]
    out = sqrt_temperature_mixture(
        _docs(spark, rows), F.col("n"), "doc_id", "source", token_budget=10_000
    ).collect()
    assert out[0]["rate"] == 1.0 and out[0]["n_docs_kept"] == 5
    with pytest.raises(ValueError, match="token_budget"):
        sqrt_temperature_mixture(
            _docs(spark, rows), F.col("n"), "doc_id", "source", token_budget=0
        )


def test_psi_drift_zero_on_identical_snapshots(spark):
    base = _docs(spark, [(i, "s", 10 + (i % 7) * 5) for i in range(70)])
    out = psi_drift(base, base, "n", n_buckets=10).collect()
    assert len(out) == 10
    assert all(r["psi_contrib"] == 0.0 for r in out)
    assert sum(r["n_old"] for r in out) == 70
    assert all(r["n_old"] == r["n_new"] for r in out)


def test_psi_drift_detects_shift_and_clamps_range(spark):
    """A shifted new snapshot scores > 0, out-of-range new values land
    in the end bins (baseline-frozen edges), and empty bins still get
    rows (the spine + Laplace smoothing)."""
    old = _docs(spark, [(i, "s", 100 + i) for i in range(50)])  # 100..149
    new = _docs(spark, [(i, "s", 500 + i) for i in range(50)])  # all past mx
    out = {r["bucket"]: r for r in psi_drift(old, new, "n", n_buckets=10).collect()}
    assert set(out) == set(range(10))
    assert sum(r["n_new"] for r in out.values()) == 50
    assert out[9]["n_new"] == 50, "out-of-range values must clamp into the top bin"
    total = sum(r["psi_contrib"] for r in out.values())
    assert total > 0.25, total  # a full population shift is a loud PSI
    with pytest.raises(ValueError, match="n_buckets"):
        psi_drift(old, new, "n", n_buckets=1)


def test_psi_drift_excludes_nulls(spark):
    """NULLs must not clamp into the top bin (Spark least/greatest skip
    NULL args, which would silently inflate it) — they are excluded
    from both snapshots."""
    old = spark.createDataFrame(
        [(1, 10), (2, 20), (3, None)], "doc_id long, n long"
    )
    new = spark.createDataFrame(
        [(4, 10), (5, None), (6, None)], "doc_id long, n long"
    )
    out = psi_drift(old, new, "n", n_buckets=4).collect()
    assert sum(r["n_old"] for r in out) == 2
    assert sum(r["n_new"] for r in out) == 1


def test_html_to_text_strips_and_decodes(spark):
    from clickhouse_mysql_data_reader_spark.operators.text import html_to_text

    html = (
        '<html><head><script>if (a < b && c > d) { x(); }</script>'
        "<style>a { b: c; }</style></head><body><!-- skip\nme -->"
        "<p>Hello</p><br/><DIV>world</DIV>"
        " &amp;amp; &lt;x&gt; &quot;y&quot; &#39;z&#39;&nbsp;!</body></html>"
    )
    df = spark.createDataFrame([(1, html)], "id long, h string")
    out = df.select(html_to_text(F.col("h")).alias("t")).first()["t"]
    # script/style/comment bodies gone, tags become separators, entities
    # decode with amp LAST ('&amp;amp;' -> literal '&amp;')
    assert out == 'Hello world &amp; <x> "y" \'z\' !', repr(out)


def test_anomaly_mad_flags_robustly(spark):
    """The defining MAD property: a contaminated window still flags its
    outliers (the same contamination inflates stddev enough that the
    z-score misses some) — and a constant series flags everything off
    the constant (MAD 0) but nothing at it."""
    from clickhouse_mysql_data_reader_spark.operators.profile import anomaly_mad

    rows = [("m", float(100 + (i % 5))) for i in range(50)] + [
        ("m", 10_000.0),
        ("m", -10_000.0),
    ]
    out = anomaly_mad(
        spark.createDataFrame(rows, "k string, value double"), "k", "value"
    ).first()
    assert out["n_events"] == 52 and out["n_outliers"] == 2
    # median of 100..104-ish ticks: med_x2e6 = 2 * median * 1e6
    assert out["med_x2e6"] == 2 * 102 * 10**6

    const = [("c", 5.0)] * 9 + [("c", 6.0)]
    out2 = anomaly_mad(
        spark.createDataFrame(const, "k string, value double"), "k", "value"
    ).first()
    assert out2["mad_x4e6"] == 0 and out2["n_outliers"] == 1

    with pytest.raises(ValueError, match="threshold"):
        anomaly_mad(
            spark.createDataFrame(const, "k string, value double"),
            "k", "value", threshold=-1,
        )


def test_psi_frozen_baseline_matches_direct_and_merges(spark):
    """The deployment contract: psi_drift_frozen(psi_baseline(old), new)
    is BIT-EQUAL to psi_drift(old, new)."""
    from clickhouse_mysql_data_reader_spark.operators.profile import (
        psi_baseline,
        psi_drift_frozen,
    )

    old = _docs(spark, [(i, "s", 100 + (i * 7) % 60) for i in range(80)])
    new = _docs(spark, [(i, "s", 120 + (i * 5) % 50) for i in range(40)])
    direct = sorted(psi_drift(old, new, "n").collect())
    frozen = sorted(
        psi_drift_frozen(psi_baseline(old, "n"), new, "n").collect()
    )
    assert [tuple(r) for r in direct] == [tuple(r) for r in frozen]
