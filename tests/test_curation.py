"""Integration tests for the end-to-end curation pipeline: the staged
composition of quality gate, PII scrub, exact + near dedup,
decontamination, mixture shaping, and sequence packing."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.curation import CurationConfig, curate
from clickhouse_mysql_data_reader_spark.sources.parquet import load_table


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


GOOD = (
    "the quick brown fox jumps over the lazy dog and then it runs far "
    "away to find a place for the long sleep it wanted all day"
)


def test_curate_synthetic_stages(spark):
    docs = _mk_docs(
        spark,
        [
            (1, "web", GOOD),
            (2, "web", GOOD),  # exact duplicate of 1 -> dropped
            (3, "web", GOOD + " with one tiny extra suffix appended here"),  # near-dup of 1
            (4, "web", "spam spam spam spam spam spam spam spam spam spam"),  # repetitive
            (5, "web", "zz qq xx vv kk jj ww yy pp mm nn bb"),  # no stopwords -> low quality
            (6, "web", "you can reach the editor at bob@example.com for the story "
                       "which is about the way the old town got its name long ago"),
            (7, "books", "call it what you want but the story of the sea is the "
                         "story of the men who sailed it for the love of the wind"),
        ],
    )
    res = curate(docs, cfg=CurationConfig(near_dup_jaccard=0.5))
    counts = res.stage_counts()
    assert counts["input"] == 7
    # 4 (repetitive) and 5 (low quality) fail the per-row gates
    assert counts["quality_gated"] == 5
    # 2 is an exact copy of 1
    assert counts["after_exact_dedup"] == 4
    # 3 is a near-dup of 1 (same long prefix)
    assert counts["after_near_dedup"] == 3
    kept_ids = {r["doc_id"] for r in res.after_near_dedup.select("doc_id").collect()}
    assert kept_ids == {1, 6, 7}
    # PII was scrubbed before landing
    texts = {r["doc_id"]: r["text"] for r in res.after_near_dedup.collect()}
    assert "[EMAIL]" in texts[6] and "@" not in texts[6]
    # packing covers every survivor exactly once with valid offsets
    packed = res.packed.collect()
    assert {r["doc_id"] for r in packed} == kept_ids
    assert all(0 <= r["pack_offset"] < 128 for r in packed)


def test_curate_near_dup_keeper_longest(spark):
    """near_dup_keeper='longest' keeps the LONGEST member of each
    near-dup component (ties -> min id) instead of the min id; unknown
    policies raise in both batch and incremental mode."""
    import pytest as _pytest

    docs = _mk_docs(
        spark,
        [
            (1, "web", GOOD),
            # near-dup of 1 but LONGER: under min_id it drops, under
            # 'longest' it is the keeper and 1 drops
            (2, "web", GOOD + " with one tiny extra suffix appended here"),
            (7, "books", "call it what you want but the story of the sea is "
                         "the story of the men who sailed it for the wind"),
        ],
    )
    by_min = curate(docs, cfg=CurationConfig(near_dup_jaccard=0.5))
    assert {r["doc_id"] for r in by_min.after_near_dedup.collect()} == {1, 7}
    by_len = curate(
        docs, cfg=CurationConfig(near_dup_jaccard=0.5, near_dup_keeper="longest")
    )
    assert {r["doc_id"] for r in by_len.after_near_dedup.collect()} == {2, 7}

    with _pytest.raises(ValueError, match="unknown near_dup_keeper"):
        curate(docs, cfg=CurationConfig(near_dup_keeper="shortest"))
    with _pytest.raises(ValueError, match="unknown near_dup_keeper"):
        CurationConfig(near_dup_keeper="shortest")

    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )
    import tempfile as _tf

    state = CurationState(_tf.mkdtemp() + "/st")
    with _pytest.raises(ValueError, match="unknown near_dup_keeper"):
        curate_increment(
            docs, state, cfg=CurationConfig(near_dup_keeper="shortest")
        )


def test_containment_with_min_id_keeper_warns():
    """near_dup_containment + near_dup_keeper='min_id' can elect a
    truncated copy (smaller id) and drop the longer original — the
    content loss the containment edge exists to prevent. The config
    warns on construction; 'longest' stays silent."""
    import warnings as _warnings

    with pytest.warns(UserWarning, match="truncated copy"):
        CurationConfig(near_dup_containment=0.9)
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        CurationConfig(near_dup_containment=0.9, near_dup_keeper="longest")
        CurationConfig()  # containment off: min_id default is fine


def test_curate_near_dup_containment_catches_truncated_copy(spark):
    """near_dup_containment adds a SECOND near-dup edge type: a
    truncated copy of a long doc (containment 1.0, Jaccard ~0.5 — far
    below the 0.8 Jaccard threshold, so the LSH->Jaccard pass keeps
    both) merges into the original's component; with
    near_dup_keeper='longest' the untruncated original is the keeper.
    Incremental mode rejects the option loudly (history keeps MinHash
    signatures, not shingle sets)."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )
    import tempfile as _tf

    head = (
        "the survey team walked the north ridge at dawn and marked the "
        "line where the old fence had fallen in the storm last winter"
    )
    tail = (
        "and later that week the clerk copied the notes into the ledger "
        "and filed the map with the county office for the record books"
    )
    docs = _mk_docs(
        spark,
        [
            (1, "web", head + " " + tail),  # long original
            (2, "web", head),               # truncated copy
            (7, "books", "call it what you want but the story of the sea is "
                         "the story of the men who sailed it for the wind"),
        ],
    )
    # Jaccard-only at 0.8: the truncated pair survives (the miss)
    jac_only = curate(docs, cfg=CurationConfig(near_dup_jaccard=0.8))
    assert {r["doc_id"] for r in jac_only.after_near_dedup.collect()} == {1, 2, 7}
    # containment edge merges the pair; 'longest' keeps the original
    both = curate(
        docs,
        cfg=CurationConfig(
            near_dup_jaccard=0.8,
            near_dup_containment=0.9,
            near_dup_keeper="longest",
        ),
    )
    assert {r["doc_id"] for r in both.after_near_dedup.collect()} == {1, 7}
    both.unpersist()

    # increments need a prefix-enabled state: a default state (no
    # containment_threshold) must reject the flag loudly, not silently
    # run the within-batch half alone
    state = CurationState(_tf.mkdtemp() + "/st")
    with pytest.raises(ValueError, match="near_dup_containment"):
        curate_increment(
            docs, state, cfg=CurationConfig(near_dup_containment=0.9)
        )


def test_curate_near_dup_exact_candidates(spark):
    """near_dup_exact=True swaps banded MinHash-LSH for the exact
    AllPairs prefix filter. On a corpus whose duplicate pair LSH DOES
    find, both modes keep the same set (the verify stage is identical);
    the exact mode's guarantee (no band-collision misses) is pinned
    operator-level in test_text_gates.py. Incremental mode rejects the
    flag on a state that is not prefix-enabled (no
    jaccard_exact_threshold -> no landed prefix table to probe)."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )
    import tempfile as _tf

    docs = _mk_docs(
        spark,
        [
            (1, "web", GOOD),
            (2, "web", GOOD + " with one tiny extra suffix appended here"),
            (7, "books", "call it what you want but the story of the sea is "
                         "the story of the men who sailed it for the wind"),
        ],
    )
    by_lsh = curate(docs, cfg=CurationConfig(near_dup_jaccard=0.5))
    by_exact = curate(
        docs, cfg=CurationConfig(near_dup_jaccard=0.5, near_dup_exact=True)
    )
    lsh_kept = {r["doc_id"] for r in by_lsh.after_near_dedup.collect()}
    exact_kept = {r["doc_id"] for r in by_exact.after_near_dedup.collect()}
    assert exact_kept == lsh_kept == {1, 7}
    by_exact.unpersist()

    state = CurationState(_tf.mkdtemp() + "/st")
    with pytest.raises(ValueError, match="near_dup_exact"):
        curate_increment(
            docs, state, cfg=CurationConfig(near_dup_exact=True)
        )


def test_curate_exact_and_containment_combined(spark):
    """near_dup_exact + near_dup_containment together: the two prefix
    forms share one persisted rarest-first array (curation.py stage 4),
    and the result must equal running the union of both edge types —
    the Jaccard-duplicate pair AND the truncated-copy pair each merge,
    'longest' keeps the untruncated originals."""
    head = (
        "the survey team walked the north ridge at dawn and marked the "
        "line where the old fence had fallen in the storm last winter"
    )
    tail = (
        "and later that week the clerk copied the notes into the ledger "
        "and filed the map with the county office for the record books"
    )
    docs = _mk_docs(
        spark,
        [
            (1, "web", head + " " + tail),   # long original
            (2, "web", head),                # truncated copy (containment edge)
            (3, "web", head + " " + tail + " extra suffix words here"),
            # ^ jaccard near-dup of 1 (and longest -> the keeper)
            (7, "books", "call it what you want but the story of the sea "
                         "is the story of the men who sailed it for wind"),
        ],
    )
    res = curate(
        docs,
        cfg=CurationConfig(
            near_dup_jaccard=0.5,
            near_dup_exact=True,
            near_dup_containment=0.9,
            near_dup_keeper="longest",
        ),
    )
    kept = {r["doc_id"] for r in res.after_near_dedup.collect()}
    # {1,2,3} all merge into one component (1-3 via jaccard, 1-2 via
    # containment); 3 is longest
    assert kept == {3, 7}
    res.unpersist()


_INC_HEAD = (
    "the survey team walked the north ridge at dawn and marked the "
    "line where the old fence had fallen in the storm last winter"
)
_INC_TAIL = (
    "and later that week the clerk copied the notes into the ledger "
    "and filed the map with the county office for the record books"
)
_INC_OTHER = (
    "call it what you want but the story of the sea is the story of "
    "the men who sailed it for the wind and the tide and the stars"
)


def _prefix_state(tmpdir, **kw):
    from clickhouse_mysql_data_reader_spark.curation import CurationState

    return CurationState(str(tmpdir) + "/st", **kw)


def test_curate_increment_exact_containment_bootstrap_parity(spark, tmp_path):
    """Exact + containment near-dup in INCREMENTAL mode, bootstrap
    (history-free prefix-enabled state): the kept set must equal batch
    curate() under the identical cfg — the batch≡increment parity the
    round-7 verdict asked to pin — with and without the boilerplate
    gate (which here drops the truncated copy 2 before the merge). Also
    checks the state landed the new ``prefixes`` table for the kept
    docs."""
    from clickhouse_mysql_data_reader_spark.curation import curate_increment

    docs = _mk_docs(
        spark,
        [
            (1, "web", _INC_HEAD + " " + _INC_TAIL),
            (2, "web", _INC_HEAD),                      # truncated copy of 1
            (3, "web", _INC_HEAD + " " + _INC_TAIL + " extra suffix words here"),
            (7, "books", _INC_OTHER),
        ],
    )
    for name, boiler in (
        ("plain", {}),
        ("boiler", {"max_boiler_frac": 0.9, "boiler_min_docs": 3}),
    ):
        cfg = CurationConfig(
            near_dup_jaccard=0.5,
            near_dup_exact=True,
            near_dup_containment=0.9,
            near_dup_keeper="longest",
            **boiler,
        )
        batch = curate(docs, cfg=cfg)
        batch_kept = {r["doc_id"] for r in batch.after_near_dedup.collect()}
        if boiler:
            boiled = batch.stage_frames["after_boilerplate"].collect()
            assert {r["doc_id"] for r in boiled} == {1, 3, 7}
        batch.unpersist()

        state = _prefix_state(
            tmp_path / name, jaccard_exact_threshold=0.5, containment_threshold=0.9
        )
        inc_kept = {
            r["doc_id"] for r in curate_increment(docs, state, cfg=cfg).collect()
        }
        assert inc_kept == batch_kept == {3, 7}, name
        # the prefix table landed for exactly the kept docs
        pfx_docs = {
            r["doc_id"]
            for r in state.prefixes(spark).select("doc_id").distinct().collect()
        }
        assert pfx_docs == {3, 7}, name


@pytest.mark.slow
def test_curate_increment_containment_vs_history(spark, tmp_path):
    """Cross-BATCH truncated copy: batch 1 lands the long original,
    batch 2 carries a truncated copy (containment ~1.0, Jaccard far
    below threshold). With near_dup_containment the increment drops
    it via the landed-prefix cross join; without, it slips through —
    the exact gap the landed prefix table closes."""
    from clickhouse_mysql_data_reader_spark.curation import curate_increment

    b1 = _mk_docs(spark, [(1, "web", _INC_HEAD + " " + _INC_TAIL), (7, "books", _INC_OTHER)])
    b2 = _mk_docs(spark, [(10, "web", _INC_HEAD), (11, "books", "totally fresh words "
                          "about mountains and meadows and morning frost on glass")])

    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("ignore")  # min_id keeper warning, irrelevant here
        cfg = CurationConfig(near_dup_jaccard=0.8, near_dup_containment=0.9)
        state = _prefix_state(tmp_path, containment_threshold=0.9)
        kept1 = {r["doc_id"] for r in curate_increment(b1, state, cfg=cfg).collect()}
        assert kept1 == {1, 7}
        kept2 = {r["doc_id"] for r in curate_increment(b2, state, cfg=cfg).collect()}
        assert kept2 == {11}, "truncated copy of landed doc must drop"

        # control: containment off -> the truncated copy survives
        state2 = _prefix_state(str(tmp_path) + "_ctl")
        cfg_off = CurationConfig(near_dup_jaccard=0.8)
        curate_increment(b1, state2, cfg=cfg_off)
        kept2_off = {
            r["doc_id"] for r in curate_increment(b2, state2, cfg=cfg_off).collect()
        }
        assert kept2_off == {10, 11}


@pytest.mark.slow
def test_curate_increment_exact_vs_history_catches_lsh_miss(spark, tmp_path):
    """near_dup_exact in increments: with lsh_bands=1 (one 16-hash
    band — a 0.8-Jaccard pair collides only if ALL 16 minhashes agree,
    which this pair's don't), the LSH history path MISSES the
    cross-batch near-dup; the exact prefix path must catch it. This is
    the no-band-collision-miss guarantee, now cross-history."""
    from clickhouse_mysql_data_reader_spark.curation import curate_increment

    long_a = _INC_HEAD + " " + _INC_TAIL
    long_b = long_a + " extra suffix words here"  # high-Jaccard pair
    b1 = _mk_docs(spark, [(1, "web", long_a), (7, "books", _INC_OTHER)])
    b2 = _mk_docs(spark, [(10, "web", long_b)])

    # control first: plain LSH increment at bands=1 misses the pair
    cfg_lsh = CurationConfig(near_dup_jaccard=0.5, lsh_bands=1)
    s_lsh = _prefix_state(str(tmp_path) + "_lsh", lsh_bands=1)
    curate_increment(b1, s_lsh, cfg=cfg_lsh)
    kept_lsh = {r["doc_id"] for r in curate_increment(b2, s_lsh, cfg=cfg_lsh).collect()}

    cfg_exact = CurationConfig(
        near_dup_jaccard=0.5, lsh_bands=1, near_dup_exact=True
    )
    s_exact = _prefix_state(
        str(tmp_path) + "_ex", lsh_bands=1, jaccard_exact_threshold=0.5
    )
    curate_increment(b1, s_exact, cfg=cfg_exact)
    kept_exact = {
        r["doc_id"] for r in curate_increment(b2, s_exact, cfg=cfg_exact).collect()
    }
    assert kept_exact == set(), "exact cross-history path must drop the near-dup"
    assert kept_lsh == {10}, (
        "expected the engineered single-band LSH miss; if this fails the "
        "fixture needs a new pair, not the product a fix"
    )


def test_curate_increment_prefix_state_validation_and_backfill(spark, tmp_path):
    """The prefix-state contract: (a) cfg-vs-state threshold mismatch
    raises; (b) a landed prefix manifest rejects a prefix-less writer
    instance; (c) enabling exact near-dup on an ALREADY-LANDED
    pre-prefix state raises until ensure_prefixes backfills from the
    landed shingles, after which increments work and maintain it."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )

    docs = _mk_docs(spark, [(1, "web", _INC_HEAD + " " + _INC_TAIL), (7, "books", _INC_OTHER)])

    # (a) mismatch: state pinned at 0.5, cfg probes 0.8
    s = _prefix_state(str(tmp_path) + "_a", jaccard_exact_threshold=0.5)
    with pytest.raises(ValueError, match="jaccard_exact_threshold"):
        curate_increment(
            docs, s, cfg=CurationConfig(near_dup_jaccard=0.8, near_dup_exact=True)
        )

    # (c) pre-prefix landed state: land with a plain state first
    plain = CurationState(str(tmp_path) + "_c/st")
    curate_increment(docs, plain, cfg=CurationConfig())
    upgraded = CurationState(str(tmp_path) + "_c/st", jaccard_exact_threshold=0.5)
    cfg_exact = CurationConfig(near_dup_jaccard=0.5, near_dup_exact=True)
    b2 = _mk_docs(spark, [(10, "web", _INC_HEAD + " " + _INC_TAIL + " extra suffix words")])
    with pytest.raises(ValueError, match="ensure_prefixes"):
        curate_increment(b2, upgraded, cfg=cfg_exact)
    upgraded.ensure_prefixes(spark)
    kept = {r["doc_id"] for r in curate_increment(b2, upgraded, cfg=cfg_exact).collect()}
    assert kept == set(), "backfilled prefixes must catch the landed near-dup"

    # (b) the manifest now exists; a prefix-less instance must not write
    downgraded = CurationState(str(tmp_path) + "_c/st")
    with pytest.raises(ValueError, match="prefix"):
        curate_increment(
            _mk_docs(spark, [(20, "web", "some novel words entirely")]),
            downgraded,
            cfg=CurationConfig(),
        )


def test_curate_increment_keeper_longest_matches_batch_on_empty_state(spark):
    """curate_increment honors near_dup_keeper='longest' for the
    WITHIN-BATCH component stage: on a history-free state the kept set
    matches batch curate(near_dup_keeper='longest') exactly."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )
    import tempfile as _tf

    docs = _mk_docs(
        spark,
        [
            (1, "web", GOOD),
            (2, "web", GOOD + " with one tiny extra suffix appended here"),
            (7, "books", "call it what you want but the story of the sea is "
                         "the story of the men who sailed it for the wind"),
        ],
    )
    cfg = CurationConfig(near_dup_jaccard=0.5, near_dup_keeper="longest")
    batch_kept = {
        r["doc_id"] for r in curate(docs, cfg=cfg).after_near_dedup.collect()
    }
    state = CurationState(_tf.mkdtemp() + "/st")
    inc_kept = {
        r["doc_id"]
        for r in curate_increment(docs, state, cfg=cfg).collect()
    }
    assert inc_kept == batch_kept == {2, 7}


def test_curate_increment_keeper_longest_history_still_first_wins(spark):
    """The vs-history half stays FIRST-WINS under 'longest': a later,
    LONGER near-dup of an already-landed keeper is dropped (the landed
    corpus is immutable), while the batch's own components still elect
    their longest member."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )
    import tempfile as _tf

    cfg = CurationConfig(near_dup_jaccard=0.5, near_dup_keeper="longest")
    state = CurationState(_tf.mkdtemp() + "/st")
    b1 = _mk_docs(spark, [(1, "web", GOOD)])
    assert {r["doc_id"] for r in curate_increment(b1, state, cfg=cfg).collect()} == {1}

    other = (
        "call it what you want but the story of the sea is the story of "
        "the men who sailed it for the love of the wind and the salt"
    )
    b2 = _mk_docs(
        spark,
        [
            # LONGER near-dup of landed doc 1 -> still dropped (history wins)
            (10, "web", GOOD + " with one tiny extra suffix appended here"),
            # fresh within-batch near-dup pair -> the LONGER member 12 wins
            (11, "books", other),
            (12, "books", other + " and the long nights far from home"),
        ],
    )
    kept2 = {r["doc_id"] for r in curate_increment(b2, state, cfg=cfg).collect()}
    assert kept2 == {12}


def test_curate_contamination_mode_excise_spans(spark):
    """contamination_mode='excise_spans': a doc QUOTING a benchmark
    passage loses exactly the quoted span and keeps its unique body,
    where drop_docs would remove the whole doc; unknown modes raise."""
    passage = (
        "the committee shall convene on the first monday of every month "
        "to review the petitions submitted by the residents of the town"
    )
    body = (
        "the miller wrote a long letter about the harvest and the roads "
        "and the prices the grain would fetch at the winter fair this year"
    )
    # raw text with CASE and punctuation: a collision-free doc must
    # come through excision byte-identical, not normalized
    pristine = (
        "The Weaver's daughter kept a Journal, and she wrote in it every "
        "evening about the weather and the state of the roads in the town."
    )
    corpus = _mk_docs(
        spark,
        [
            (1, "web", body + " " + passage),
            (2, "web", GOOD),
            (3, "web", pristine),
        ],
    )
    bench = _mk_docs(spark, [(100, "eval", passage)])

    dropped = curate(
        corpus, benchmark=bench,
        cfg=CurationConfig(contamination_threshold=0.3),
    )
    assert {r["doc_id"] for r in dropped.after_decontamination.collect()} == {2, 3}

    excised = curate(
        corpus, benchmark=bench,
        cfg=CurationConfig(contamination_mode="excise_spans"),
    )
    out = {r["doc_id"]: r["text"] for r in excised.after_decontamination.collect()}
    assert set(out) == {1, 2, 3}
    assert "committee" not in out[1] and "petitions" not in out[1]
    assert "miller" in out[1] and "harvest" in out[1]
    # the excision is surgical: only the colliding doc was rewritten
    assert out[2] == GOOD
    assert out[3] == pristine

    import pytest as _pytest

    with _pytest.raises(ValueError, match="contamination_mode"):
        curate(
            corpus, benchmark=bench,
            cfg=CurationConfig(contamination_mode="quarantine"),
        )


@pytest.mark.slow
def test_curate_increment_decontaminates_each_batch(spark, tmp_path):
    """curate_increment(benchmark=...): the shared decontamination stage
    runs per batch in the batch stage order — contaminated docs never
    land in state (drop_docs), a history-free increment matches batch
    curate with the same benchmark, and excise_spans rewrites exactly
    the colliding docs' text while clean docs stay verbatim."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )

    passage = (
        "the committee shall convene on the first monday of every month "
        "to review the petitions submitted by the residents of the town"
    )
    body = (
        "the miller wrote a long letter about the harvest and the roads "
        "and the prices the grain would fetch at the winter fair this year"
    )
    bench = _mk_docs(spark, [(100, "eval", passage)])
    cfg = CurationConfig(contamination_threshold=0.3)

    b1 = _mk_docs(spark, [(1, "web", GOOD), (2, "web", "as noted " + passage)])
    state = CurationState(str(tmp_path / "drop_state"))
    kept1 = {
        r["doc_id"]
        for r in curate_increment(b1, state, cfg=cfg, benchmark=bench).collect()
    }
    assert kept1 == {1}, "contaminated doc dropped in the bootstrap batch"
    assert {r["doc_id"] for r in state.fingerprints(spark).collect()} == {1}

    # history-free parity with batch curate under the same benchmark
    batch_kept = {
        r["doc_id"]
        for r in curate(b1, benchmark=bench, cfg=cfg).after_decontamination.collect()
    }
    assert batch_kept == kept1

    # steady-state path (state exists now): contamination still drops
    b2 = _mk_docs(
        spark,
        [
            (10, "web", "minutes record that " + passage),
            (11, "web", "call it what you want but the story of the sea is "
                        "the story of the men who sailed it for the wind"),
        ],
    )
    kept2 = {
        r["doc_id"]
        for r in curate_increment(b2, state, cfg=cfg, benchmark=bench).collect()
    }
    assert kept2 == {11}
    assert {r["doc_id"] for r in state.fingerprints(spark).collect()} == {1, 11}

    # excise mode: only the quoting doc is rewritten, clean text verbatim
    ex_state = CurationState(str(tmp_path / "ex_state"))
    ex_cfg = CurationConfig(contamination_mode="excise_spans")
    b3 = _mk_docs(spark, [(20, "web", body + " " + passage), (21, "web", GOOD)])
    out = {
        r["doc_id"]: r["text"]
        for r in curate_increment(b3, ex_state, cfg=ex_cfg, benchmark=bench).collect()
    }
    assert set(out) == {20, 21}
    assert "committee" not in out[20] and "miller" in out[20]
    assert out[21] == GOOD


def test_curate_mixture_epochs_replicates_and_packs(spark):
    """cfg.mixture_epochs: a source whose mixture target exceeds one
    pass over it is REPLICATED (copy_no rows), every replica gets its
    own pack slot (distinct start_token), and the packed token total
    equals the replicated token total — the multi-epoch mixture
    end-to-end through the flagship pipeline."""
    docs = _mk_docs(
        spark,
        [
            (1, "tiny", GOOD),
            (2, "big", "a letter came from the north with news of the harvest "
                       "and the roads and the prices the grain would fetch"),
            (3, "big", "the teacher kept the window open so the class could "
                       "hear the band practice its slow march for the festival"),
        ],
    )
    from clickhouse_mysql_data_reader_spark.operators.text import token_count as _tc

    n_tiny = docs.filter(F.col("source") == "tiny").select(
        F.sum(_tc(F.col("text")))
    ).first()[0]
    # tiny's target = 2.5x its own tokens -> every tiny doc 2-3 copies;
    # big's target ~= its tokens -> ~1 copy
    n_big = docs.filter(F.col("source") == "big").select(
        F.sum(_tc(F.col("text")))
    ).first()[0]
    budget = 1000
    cfg = CurationConfig(
        mixture_weights={"tiny": 2.5 * n_tiny / budget, "big": float(n_big) / budget},
        mixture_token_budget=budget,
        mixture_epochs=True,
    )
    res = curate(docs, cfg=cfg)
    mixed = res.after_mixture.collect()
    copies_1 = [r["copy_no"] for r in mixed if r["doc_id"] == 1]
    assert sorted(copies_1) == list(range(len(copies_1))) and len(copies_1) in (2, 3)
    packed = res.packed.collect()
    assert len(packed) == len(mixed), "every replica packs"
    # replicas of doc 1 occupy DISTINCT slots in the token stream
    slots_1 = {(r["shard"], r["start_token"]) for r in packed if r["doc_id"] == 1}
    assert len(slots_1) == len(copies_1)


def test_curate_decontamination_direction(spark):
    corpus = _mk_docs(
        spark,
        [
            (1, "web", GOOD),  # verbatim benchmark item -> must be dropped
            (2, "web", "completely different content about the state of the "
                       "harvest in the north for the year of the flood"),
        ],
    )
    bench = _mk_docs(spark, [(100, "eval", GOOD)])
    res = curate(corpus, benchmark=bench, cfg=CurationConfig())
    kept = {r["doc_id"] for r in res.after_decontamination.select("doc_id").collect()}
    assert kept == {2}


@pytest.mark.slow
def test_curate_mixture_and_testdata_end_to_end(spark, sf_correct):
    docs = load_table(spark, sf_correct, "documents")
    cfg = CurationConfig(
        min_quality_score=0.1,
        mixture_weights={"src1": 0.2, "src2": 0.1},
        mixture_token_budget=5_000,
        mixture_default_weight=0.05,
    )
    res = curate(docs, cfg=cfg)
    counts = res.stage_counts()
    # monotone non-increasing survivor counts through the drop stages
    order = [
        "input",
        "quality_gated",
        "after_exact_dedup",
        "after_near_dedup",
        "after_decontamination",
        "after_mixture",
    ]
    for a, b in zip(order, order[1:]):
        assert counts[a] >= counts[b], (a, counts[a], b, counts[b])
    assert counts["after_mixture"] > 0
    assert counts["packed"] == counts["after_mixture"]
    # deterministic: a second run reproduces identical survivors
    again = curate(docs, cfg=cfg)
    a = sorted(r["doc_id"] for r in res.after_mixture.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in again.after_mixture.select("doc_id").collect())
    assert a == b


def test_curate_gate_and_exact_dedup_plan_shape(spark, sf_correct):
    """The per-row gates ride the scan (no join-back-on-id shuffles) and
    exact dedup is a single fingerprint-keyed window — so up to the
    exact-dedup stage the plan holds exactly one keyed exchange (plus
    fan_out's round-robin spread of the small local test file)."""
    docs = load_table(spark, sf_correct, "documents")
    res = curate(docs, cfg=CurationConfig())
    plan = res.after_exact_dedup._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    import re

    keyed = re.findall(r"hashpartitioning\((\w+)", plan)
    # one keyed exchange, on the fingerprint. Since round 15 the
    # post-gates frame is persisted (curate's unconditional `exact`
    # persist), so the formatted plan prints the cached subtree too —
    # the SAME single _fp exchange appears once per printing, never a
    # second distinct key.
    assert keyed and set(keyed) == {"_fp"}, plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan  # gates are inline, not joins


def test_gate_columns_streaming_compatible(spark, tmp_path):
    """The per-row gates are stateless projections, so they apply
    unchanged to a readStream source (streaming ingest can pre-filter
    before landing); fan_out degrades to a no-op on streaming frames."""
    from clickhouse_mysql_data_reader_spark.operators.text import gate_columns

    docs = _mk_docs(
        spark,
        [
            (1, "web", GOOD),
            (2, "web", "spam spam spam spam spam spam spam spam spam spam"),
        ],
    )
    p = str(tmp_path / "docs_stream")
    docs.write.mode("overwrite").parquet(p)
    stream = spark.readStream.schema(docs.schema).parquet(p)
    gated = gate_columns(stream, "text").filter(~F.col("flag_repetitive"))
    q = (
        gated.writeStream.format("memory")
        .queryName("gate_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select doc_id from gate_stream").collect()
    assert {r["doc_id"] for r in rows} == {1}


def test_curate_null_text_rows_are_dropped(spark):
    """NULL text: every gate expression evaluates to NULL, so the row is
    filtered out at stage 1 — documented drop-don't-crash semantics."""
    docs = _mk_docs(spark, [(1, "web", GOOD), (2, "web", None)])
    res = curate(docs, cfg=CurationConfig())
    assert {r["doc_id"] for r in res.quality_gated.collect()} == {1}


@pytest.mark.slow
def test_curate_increment_against_state(spark, tmp_path):
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )

    state = CurationState(str(tmp_path / "state"))
    cfg = CurationConfig(near_dup_jaccard=0.5)

    batch1 = _mk_docs(
        spark,
        [
            (1, "web", GOOD),
            (2, "web", "you can reach the editor for the story which is about "
                       "the way the old town got its name long ago in the west"),
        ],
    )
    kept1 = curate_increment(batch1, state, cfg=cfg)
    assert {r["doc_id"] for r in kept1.collect()} == {1, 2}

    batch2 = _mk_docs(
        spark,
        [
            (10, "web", GOOD),  # exact dup of state doc 1 -> dropped
            (11, "web", GOOD + " with one tiny extra suffix appended here"),  # near-dup of 1
            (12, "web", "a fresh account of the harvest feast held in the "
                        "village square when the rains finally came to the valley"),
            (13, "web", "a fresh account of the harvest feast held in the "
                        "village square when the rains finally came to the valley"),  # in-batch dup of 12
        ],
    )
    kept2 = curate_increment(batch2, state, cfg=cfg)
    assert {r["doc_id"] for r in kept2.collect()} == {12}

    # state grew by exactly the kept docs of both batches
    fps = {r["doc_id"] for r in state.fingerprints(spark).collect()}
    assert fps == {1, 2, 12}

    # a third batch re-sending doc 12's content is now deduped vs state
    batch3 = _mk_docs(spark, [(20, "web", batch2.collect()[2]["text"])])
    kept3 = curate_increment(batch3, state, cfg=cfg, update_state=False)
    assert kept3.count() == 0


def test_two_batch_increment_matches_batch_smoke(spark, tmp_path):
    """Fast twin of the slow two-batch parity batteries: a bootstrap
    batch, then one increment against its landed history, keep exactly
    what batch curate() keeps over the concatenation (ids in batch
    order) — exact and near dups both within a batch and across the
    history joins."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )

    sea = ("call it what you want but the story of the sea is the story "
           "of the men who sailed it for the love of the wind")
    feast = ("a fresh account of the harvest feast held in the village "
             "square when the rains finally came to the valley")
    mill = ("the old mill turned again after the rains and the miller sang "
            "as the wheel groaned back into its slow and steady work")
    maps = ("maps of the coast were drawn again that year because the "
            "storm had moved the sand and cut a new channel through the bar")
    tail = " told once more"
    batch1 = _mk_docs(spark, [
        (1, "web", GOOD),
        (2, "books", sea),
        (3, "web", feast),
        (4, "web", feast),          # exact dup within the batch
        (5, "web", GOOD + tail),    # near dup within the batch
    ])
    batch2 = _mk_docs(spark, [
        (10, "web", GOOD),          # exact dup of history
        (11, "books", sea + tail),  # near dup of history
        (12, "web", mill),
        (13, "web", mill + tail),   # near dup within the batch
        (14, "web", maps),
        (15, "web", maps),          # exact dup within the batch
    ])
    cfg = CurationConfig(near_dup_jaccard=0.5)

    state = CurationState(str(tmp_path / "st"))
    kept = {r["doc_id"] for r in curate_increment(batch1, state, cfg=cfg).collect()}
    kept |= {r["doc_id"] for r in curate_increment(batch2, state, cfg=cfg).collect()}

    both = curate(batch1.unionByName(batch2), cfg=cfg)
    batch_kept = {r["doc_id"] for r in both.after_near_dedup.collect()}
    both.unpersist()
    assert kept == batch_kept == {1, 2, 3, 12, 14}


def test_curate_pii_redaction_preserves_case(spark):
    """Redaction mutates ONLY the redacted spans: original-case text
    survives, and mixed-case emails are still caught (case-insensitive
    match, not lowercased input)."""
    docs = _mk_docs(
        spark,
        [
            (1, "web", "You can reach the Editor at Bob@Example.COM for the story "
                       "which is about the way the Old Town got its name long ago"),
        ],
    )
    res = curate(docs, cfg=CurationConfig())
    [row] = res.after_exact_dedup.collect()
    assert "[EMAIL]" in row["text"] and "@" not in row["text"]
    assert "Editor" in row["text"] and "Old Town" in row["text"]


def test_corpus_contamination_values_and_plan(spark):
    from clickhouse_mysql_data_reader_spark.operators.dedup import (
        corpus_contamination,
    )

    corpus = _mk_docs(
        spark,
        [
            (1, "web", GOOD),  # fully covered by the benchmark
            (2, "web", "completely different content about the state of the "
                       "harvest in the north for the year of the flood"),
        ],
    )
    bench = _mk_docs(spark, [(100, "eval", GOOD)])
    out = corpus_contamination(corpus, bench, "text", "doc_id")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["contamination_frac"] == 1.0 and rows[1]["flag_contaminated"]
    assert rows[2]["n_contaminated"] == 0 and not rows[2]["flag_contaminated"]
    # plan shape: the benchmark side is broadcast; the corpus is never
    # shuffled by shingle — the only keyed exchange is the per-doc agg
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # AQE's formatted output repeats the tree under "Initial Plan" —
    # assert over the final plan only
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    import re

    keyed = [
        tuple(k.split(", "))
        for k in re.findall(r"hashpartitioning\(([^)]+), \d+\)", plan)
    ]
    first_cols = {k[0].split("#")[0] for k in keyed}
    # three exchanges total: the BENCHMARK side's distinct on sh_h
    # (small by contract, feeds its broadcast), the corpus per-doc
    # distinct-count (Expand keys led by doc_id, partial-deduped
    # map-side), and the final per-doc agg on doc_id
    assert first_cols <= {"doc_id", "sh_h"}, plan
    assert sum(1 for k in keyed if k[0].startswith("sh_h")) <= 1, plan


def test_curate_increment_rejects_state_param_mismatch(spark, tmp_path):
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )

    state = CurationState(str(tmp_path / "state"), minhash_k=16, lsh_bands=4)
    docs = _mk_docs(spark, [(1, "web", GOOD)])
    with pytest.raises(ValueError, match="minhash_k"):
        curate_increment(docs, state, cfg=CurationConfig(minhash_k=8, lsh_bands=4))
    with pytest.raises(ValueError, match="lsh_bands"):
        curate_increment(docs, state, cfg=CurationConfig(lsh_bands=2))


@pytest.mark.slow
def test_curate_stream_replayed_epoch_is_idempotent(spark, tmp_path):
    """The at-least-once contract: re-running an epoch after its first
    attempt already appended state must reproduce the SAME survivors —
    not anti-join the batch against its own fingerprints and overwrite
    the epoch output with an empty frame (silent data loss)."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curation_epoch_apply,
    )

    state = CurationState(str(tmp_path / "state"))
    out = str(tmp_path / "out")
    cfg = CurationConfig(near_dup_jaccard=0.5)
    apply_fn = curation_epoch_apply(state, out, cfg=cfg)

    b1 = _mk_docs(spark, [(1, "web", GOOD)])
    apply_fn(b1, 0)
    first = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    assert first == {1}

    # full replay of epoch 0 (crash after state append, before commit)
    apply_fn(b1, 0)
    replay = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    assert replay == {1}, "replayed epoch erased its own survivors"

    # the double-append left duplicate state rows for epoch 0; a later
    # epoch must still dedup correctly against them: exact dup via the
    # anti-join, near-dup via the Jaccard verify (whose counts the
    # post-semi-join dropDuplicates protects from the multiplicity)
    b2 = _mk_docs(
        spark,
        [
            (10, "web", GOOD),  # exact dup of epoch-0 doc 1
            (11, "web", GOOD + " with one tiny extra suffix appended here"),  # near-dup
            (12, "web", "a fresh account of the harvest feast held in the "
                        "village square when the rains finally came down"),
        ],
    )
    apply_fn(b2, 1)
    kept2 = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=1").collect()}
    assert kept2 == {12}
    fps = [r["doc_id"] for r in state.fingerprints(spark).collect()]
    assert set(fps) == {1, 12}

    # an epoch where NOTHING survives: empty output lands (readable,
    # schema'd), state is structurally unchanged
    b3 = _mk_docs(spark, [(30, "web", GOOD)])  # exact dup of doc 1
    apply_fn(b3, 2)
    assert spark.read.parquet(f"{out}/epoch=2").count() == 0
    assert {r["doc_id"] for r in state.fingerprints(spark).collect()} == {1, 12}


@pytest.mark.slow
def test_curate_stream_decontaminates_each_epoch_and_replays(spark, tmp_path):
    """benchmark= flows through curate_stream's epoch body: every
    epoch's output excludes benchmark-contaminated docs, the landed
    state keeps only decontaminated survivors (so they can't suppress
    later clean docs), and a full epoch replay reproduces the same
    decontaminated set — the streaming twin of
    test_curate_increment_decontaminates_each_batch."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curation_epoch_apply,
    )

    bench = spark.createDataFrame(
        [(100, "the secret benchmark question about the ancient fortress "
               "gate and the seven keys that open the hidden door")],
        "doc_id long, text string",
    )
    state = CurationState(str(tmp_path / "state"))
    out = str(tmp_path / "out")
    cfg = CurationConfig(near_dup_jaccard=0.5, contamination_threshold=0.3)
    apply_fn = curation_epoch_apply(state, out, cfg=cfg, benchmark=bench)

    b1 = _mk_docs(
        spark,
        [
            # near-verbatim copy of the benchmark item -> dropped
            (1, "web", "the secret benchmark question about the ancient "
                       "fortress gate and the seven keys that open the "
                       "hidden door"),
            (2, "web", GOOD),
        ],
    )
    apply_fn(b1, 0)
    kept0 = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    assert kept0 == {2}, "contaminated doc must not land"
    assert {r["doc_id"] for r in state.fingerprints(spark).collect()} == {2}

    # replay epoch 0 (crash-after-state-append): same decontaminated set
    apply_fn(b1, 0)
    replay = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    assert replay == {2}

    # a LATER epoch's contaminated doc is also dropped, and because the
    # epoch-0 contaminated doc never landed, a clean doc arriving later
    # is judged only against kept history
    b2 = _mk_docs(
        spark,
        [
            (10, "web", "the secret benchmark question about the ancient "
                        "fortress gate and the seven keys that open the "
                        "hidden door indeed"),
            (11, "books", "call it what you want but the story of the sea "
                          "is the story of the men who sailed it for wind"),
        ],
    )
    apply_fn(b2, 1)
    kept1 = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=1").collect()}
    assert kept1 == {11}
    assert {r["doc_id"] for r in state.fingerprints(spark).collect()} == {2, 11}


@pytest.mark.slow
def test_curate_stream_line_dedup_lands_and_replays(spark, tmp_path):
    """Streaming epochs with dedup_lines on: the batch's line
    fingerprints land AFTER the epoch output commits (via the
    line_fps_out ownership seam — curate_increment's own landing is
    keyed to update_state, which the epoch path disables), a later
    epoch's copy of a landed line is removed, and a full epoch replay
    reproduces identical output because the epoch-tag exclusion hides
    the replayed epoch's own line appends."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curation_epoch_apply,
    )

    banner = "accept all cookies to continue reading this site today"
    state = CurationState(str(tmp_path / "state"))
    out = str(tmp_path / "out")
    cfg = CurationConfig(near_dup_jaccard=0.95, dedup_lines=True)
    apply_fn = curation_epoch_apply(state, out, cfg=cfg)

    apply_fn(_mk_docs(spark, [(1, "web", GOOD + "\n" + banner)]), 0)
    assert state.landed(spark, "line_fps"), "epoch landed its line fps"
    ep0 = {r["doc_id"]: r["text"] for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    assert banner in ep0[1]

    b2 = _mk_docs(
        spark,
        [(10, "web", GOOD.replace("dog", "owl") + "\n" + banner)],
    )
    apply_fn(b2, 1)
    ep1 = {r["doc_id"]: r["text"] for r in spark.read.parquet(f"{out}/epoch=1").collect()}
    assert set(ep1) == {10}
    assert banner not in ep1[10], "line landed by epoch 0 removed in epoch 1"

    # full replay of epoch 1 (crash after line append, before commit):
    # its own epoch-tagged line rows are excluded, so the output is
    # byte-identical rather than gutted by its own crashed append
    apply_fn(b2, 1)
    replay = {r["doc_id"]: r["text"] for r in spark.read.parquet(f"{out}/epoch=1").collect()}
    assert replay == ep1


@pytest.mark.slow
def test_curate_stream_crash_before_state_append_replays_clean(spark, tmp_path):
    """Crash window: epoch output landed, state append never ran. The
    replay recomputes against the unchanged pre-epoch history and lands
    the identical output + the missing state rows."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
        curation_epoch_apply,
    )

    state = CurationState(str(tmp_path / "state"))
    out = str(tmp_path / "out")
    cfg = CurationConfig(near_dup_jaccard=0.5)

    # epoch 0 lands normally so the state exists
    apply_fn = curation_epoch_apply(state, out, cfg=cfg)
    apply_fn(_mk_docs(spark, [(1, "web", GOOD)]), 0)

    # epoch 1 first attempt: output write succeeds, "crash" before state
    b2 = _mk_docs(
        spark,
        [(12, "web", "a fresh account of the harvest feast held in the "
                     "village square when the rains finally came down")],
    )
    kept = curate_increment(b2, state, cfg=cfg, update_state=False, epoch_id=1)
    kept.write.mode("overwrite").parquet(f"{out}/epoch=1")
    assert {r["doc_id"] for r in state.fingerprints(spark).collect()} == {1}

    # replay epoch 1 end-to-end
    apply_fn(b2, 1)
    assert {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=1").collect()} == {12}
    assert {r["doc_id"] for r in state.fingerprints(spark).collect()} == {1, 12}


def test_state_partial_write_is_not_landed(spark, tmp_path, monkeypatch):
    """Files of an uncommitted generation are invisible: a first write
    that crashes after its fingerprint table (before the manifest
    commit) reads as NOT landed, and the next attempt bootstraps."""
    from pyspark.sql.readwriter import DataFrameWriter

    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )

    state = CurationState(str(tmp_path / "state"))
    real = DataFrameWriter.parquet

    def crash(self, *a, **kw):
        real(self, *a, **kw)
        raise RuntimeError("crash after the fingerprint table")

    with monkeypatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", crash)
        with pytest.raises(RuntimeError, match="crash after"):
            curate_increment(
                _mk_docs(spark, [(1, "web", GOOD)]), state, cfg=CurationConfig()
            )
    assert os.listdir(tmp_path / "state")  # files were written ...
    assert not state.exists(spark)  # ... but never committed
    kept = curate_increment(
        _mk_docs(spark, [(1, "web", GOOD)]), state, cfg=CurationConfig()
    )
    assert {r["doc_id"] for r in kept.collect()} == {1}
    assert state.exists(spark)


@pytest.mark.slow
def test_state_run_scoped_epoch_exclusion(spark, tmp_path):
    """Epoch ids are checkpoint-scoped: a restarted stream (fresh
    checkpoint, new run_id) reuses epoch 0, and its exclusion must NOT
    hide the previous run's epoch-0 history — without run scoping, run
    2 would re-admit run 1's duplicates."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curation_epoch_apply,
    )

    state = CurationState(str(tmp_path / "state"))
    out = str(tmp_path / "out")
    cfg = CurationConfig(near_dup_jaccard=0.5)

    run1 = curation_epoch_apply(state, out, cfg=cfg, run_id="ckpt-A")
    run1(_mk_docs(spark, [(1, "web", GOOD)]), 0)

    run2 = curation_epoch_apply(state, out, cfg=cfg, run_id="ckpt-B")
    run2(_mk_docs(spark, [(10, "web", GOOD)]), 0)  # dup of run-1 doc 1

    assert {r["doc_id"] for r in state.fingerprints(spark).collect()} == {1}
    # and run 2's OWN replay still excludes only its own rows
    run2(_mk_docs(spark, [(10, "web", GOOD)]), 0)
    assert {r["doc_id"] for r in state.fingerprints(spark).collect()} == {1}


def test_state_legacy_untagged_rows_survive_exclusion(spark, tmp_path):
    """A state dir mixing tag-less legacy files with tagged appends:
    mergeSchema surfaces the tag columns, legacy rows read as NULL
    tags, and the null-safe exclusion keeps them — a null-hostile `!=`
    would silently drop the whole legacy history from dedup."""
    from clickhouse_mysql_data_reader_spark.curation import CurationState

    state = CurationState(str(tmp_path / "state"))
    spark.createDataFrame(
        [(1, "legacy-fp")], "doc_id long, fp string"
    ).write.parquet(state._path("fingerprints"))
    spark.createDataFrame(
        [(2, "tagged-fp", 5, "run-x")],
        "doc_id long, fp string, _epoch long, _run string",
    ).write.mode("append").parquet(state._path("fingerprints"))

    # excluding (run-x, 5) keeps the legacy row and drops the tagged one
    got = {
        r["doc_id"]
        for r in state.fingerprints(spark, exclude_epoch=5, run_id="run-x").collect()
    }
    assert got == {1}
    # no exclusion: both visible, tags never leak into the schema
    df = state.fingerprints(spark)
    assert {r["doc_id"] for r in df.collect()} == {1, 2}
    assert set(df.columns) == {"doc_id", "fp"}


def test_state_compact_shrinks_files_preserves_rows_and_exclusion(spark, tmp_path):
    """compact() rewrites each state table into few size-targeted files
    of one generation while preserving every row WITH its (_run,
    _epoch) tags — including NULL tags on imported legacy rows — so a
    replayed-epoch exclusion returns the identical result post-compact."""
    from clickhouse_mysql_data_reader_spark.curation import CurationState

    state = CurationState(str(tmp_path / "state"))
    # a legacy tag-less file-set (imported on first open) plus several
    # tagged epoch appends -> worst-case heterogeneous history
    spark.createDataFrame(
        [(100, "legacy-fp")], "doc_id long, fp string"
    ).write.parquet(state._path("fingerprints"))
    for epoch in range(3):
        state.write(
            _mk_docs(spark, [(epoch * 10 + j, "web", GOOD + f" epoch{epoch} doc{j}") for j in range(2)]),
            epoch_id=epoch,
            run_id="run-a",
        )

    def paths(name):
        return [state._path(r) for r in state._manifest(spark)["tables"][name]]

    def raw(name):
        df = spark.read.parquet(*paths(name))
        rows = (tuple(r) for r in df.select(sorted(df.columns)).collect())
        # legacy rows carry NULL tags; None doesn't order against values
        return sorted(rows, key=lambda t: tuple((v is None, v) for v in t))

    def files(name):
        return [
            f
            for p in paths(name)
            for f in os.listdir(p)
            if not f.startswith(("_", "."))
        ]

    before_rows = {n: raw(n) for n in ("fingerprints", "shingles", "bands")}
    before_files = {n: len(files(n)) for n in ("fingerprints", "shingles", "bands")}
    excl_before = sorted(
        r["doc_id"]
        for r in state.fingerprints(spark, exclude_epoch=1, run_id="run-a").collect()
    )

    rep = state.compact(spark)

    for n in ("fingerprints", "shingles", "bands"):
        assert rep[n]["files_after"] < rep[n]["files_before"], rep
        assert len(paths(n)) == 1, "one generation per table after compaction"
        assert len(files(n)) == rep[n]["files_after"]
        assert len(files(n)) < before_files[n]
        assert raw(n) == before_rows[n], f"{n} content changed under compaction"
    # replayed-epoch exclusion unchanged: epoch 1's docs gone, legacy
    # NULL-tag row and other epochs kept
    excl_after = sorted(
        r["doc_id"]
        for r in state.fingerprints(spark, exclude_epoch=1, run_id="run-a").collect()
    )
    assert excl_after == excl_before
    assert 100 in excl_after and not {10, 11} & set(excl_after)
    # appends after compaction stay visible
    state.write(_mk_docs(spark, [(55, "web", GOOD + " post-compact")]), epoch_id=9, run_id="run-a")
    assert 55 in {r["doc_id"] for r in state.fingerprints(spark).collect()}


def test_state_exists_without_success_markers(spark, tmp_path):
    """The manifest is the only commit record: with the committers'
    success markers absent (commonly disabled on object-store
    committers) a committed state still reads as landed, and a
    generation written without a manifest commit does not."""
    from clickhouse_mysql_data_reader_spark.curation import CurationState

    state = CurationState(str(tmp_path / "state"))
    state.write(_mk_docs(spark, [(1, "web", GOOD)]))
    for root, _, names in os.walk(tmp_path / "state"):
        for f in names:
            if f.startswith("_SUCCESS"):
                os.remove(os.path.join(root, f))
    assert state.exists(spark), "a committed state must read as landed"
    assert {r["doc_id"] for r in state.fingerprints(spark).collect()} == {1}

    # generation files without a manifest version: NOT landed
    crashed = CurationState(str(tmp_path / "crashed"))
    for n in ("fingerprints", "shingles", "bands"):
        spark.createDataFrame([(1,)], "doc_id long").write.parquet(
            crashed._path(f"gen-000001/{n}")
        )
    assert not crashed.exists(spark)


@pytest.mark.slow
def test_state_bloom_prefilter_matches_plain_path(spark, tmp_path):
    """Opt-in incremental Bloom filter: identical kept sets with and
    without the prefilter (exactness for any fill level), cross-batch
    exact duplicates still dropped, and the filter file is maintained
    across writes."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )

    cfg = CurationConfig(near_dup_jaccard=0.5)
    plain = CurationState(str(tmp_path / "plain"))
    bloomy = CurationState(str(tmp_path / "bloomy"), bloom_bits=1 << 14)

    b1 = _mk_docs(spark, [(1, "web", GOOD), (2, "web", GOOD + " unrelated tail " * 3)])
    b2 = _mk_docs(
        spark,
        [
            (10, "web", GOOD),  # exact dup of landed doc 1 -> dropped
            (
                11,
                "web",
                "a completely different second document about rivers and "
                "mountains where the morning light settles slowly over the "
                "quiet valley and nobody repeats anything of note today",
            ),
        ],
    )
    for st in (plain, bloomy):
        curate_increment(b1, st, cfg)
    kept_plain = sorted(
        r["doc_id"] for r in curate_increment(b2, plain, cfg).collect()
    )
    kept_bloom = sorted(
        r["doc_id"] for r in curate_increment(b2, bloomy, cfg).collect()
    )
    assert kept_bloom == kept_plain == [11]
    # the filter genuinely contains the landed fingerprints
    from pyspark.sql import functions as F2

    from clickhouse_mysql_data_reader_spark.operators.membership import (
        might_contain,
    )

    bloom = bloomy.read_bloom(spark)
    assert bloom is not None
    hits = (
        bloomy.fingerprints(spark)
        .withColumn(
            "hit",
            might_contain(bloom, bloomy.bloom_bits, bloomy.bloom_hashes, F2.col("fp")),
        )
        .collect()
    )
    assert hits and all(r["hit"] for r in hits), "bloom missed a landed key"


@pytest.mark.slow
def test_state_bloom_bootstrap_and_sizing_guards(spark, tmp_path):
    """A pre-bloom state upgraded in place: ensure_bloom folds the full
    landed history into the new filter (no false negatives for old
    docs), and the sizing manifest rejects mismatched or disabled
    reconstructions — both would silently readmit duplicates."""
    import pytest

    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )

    cfg = CurationConfig(near_dup_jaccard=0.5)
    legacy = CurationState(str(tmp_path / "st"))
    curate_increment(_mk_docs(spark, [(1, "web", GOOD)]), legacy, cfg)

    upgraded = CurationState(str(tmp_path / "st"), bloom_bits=1 << 14)
    # duplicate of the PRE-bloom history must still be dropped (the
    # bootstrap builds the filter from landed fingerprints)
    kept = curate_increment(_mk_docs(spark, [(9, "web", GOOD)]), upgraded, cfg)
    assert kept.count() == 0

    with pytest.raises(ValueError, match="landed sizing"):
        CurationState(str(tmp_path / "st"), bloom_bits=1 << 10).ensure_bloom(spark)
    with pytest.raises(ValueError, match="without bloom_bits"):
        CurationState(str(tmp_path / "st")).write(
            _mk_docs(spark, [(5, "web", "whatever text here")])
        )


def test_state_params_manifest_guards_reconstruction(spark, tmp_path):
    """The manifest's pinned parameters are the on-disk truth: a session that
    reconstructs CurationState with different parameters (and a cfg
    consistent with THOSE, so the in-memory guard passes) must fail
    loudly instead of silently finding zero cross-history near-dups."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )

    state = CurationState(str(tmp_path / "state"), minhash_k=16, lsh_bands=4)
    curate_increment(
        _mk_docs(spark, [(1, "web", GOOD)]), state, cfg=CurationConfig()
    ).collect()

    wrong = CurationState(str(tmp_path / "state"), minhash_k=8, lsh_bands=4)
    with pytest.raises(ValueError, match="landed state was derived"):
        curate_increment(
            _mk_docs(spark, [(2, "web", GOOD + " more")]),
            wrong,
            cfg=CurationConfig(minhash_k=8, lsh_bands=4),
        )


@pytest.mark.slow
def test_curate_stream_two_batches(spark, tmp_path):
    """Streaming curation: batch 2 arrives after batch 1's survivors are
    in the state, so its cross-batch duplicates are dropped even though
    the two batches never coexist in one micro-batch."""
    import os
    import time as _time

    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    state = CurationState(str(tmp_path / "state"))
    out = str(tmp_path / "out")
    cfg = CurationConfig(near_dup_jaccard=0.5)
    schema = "doc_id long, source string, text string"

    def _land(name, rows, mtime):
        p = str(src / name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    ckpt = str(tmp_path / "ckpt")

    def _run_available():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "16"
        ).parquet(str(src) + "/*")
        # run_id = the checkpoint location, per the documented contract
        q = (
            curate_stream(stream, state, out, cfg=cfg, run_id=ckpt)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    now = _time.time()
    _land("b1", [(1, "web", GOOD)], now - 100)
    _run_available()
    assert {r["doc_id"] for r in state.fingerprints(spark).collect()} == {1}

    _land(
        "b2",
        [
            (10, "web", GOOD),  # exact dup of state doc 1 -> dropped
            (11, "web", "a fresh account of the harvest feast held in the "
                        "village square when the rains finally came down"),
        ],
        now - 50,
    )
    _run_available()
    assert {r["doc_id"] for r in state.fingerprints(spark).collect()} == {1, 11}
    # outputs land under out/run=<hash>/epoch=<id>; partition discovery
    # reads the whole run transparently
    kept_out = spark.read.parquet(out)
    assert {r["doc_id"] for r in kept_out.collect()} == {1, 11}


@pytest.mark.slow
def test_curate_stream_auto_compacts_and_dedup_survives(spark, tmp_path):
    """compact_every=1: state is compacted after every epoch (inside the
    serialized foreachBatch body) into one generation per table, and the
    NEXT epoch's cross-batch dedup reads the compacted state correctly."""
    import os
    import time as _time

    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    state = CurationState(str(tmp_path / "state"))
    out = str(tmp_path / "out")
    cfg = CurationConfig(near_dup_jaccard=0.5)
    schema = "doc_id long, source string, text string"

    def _land(name, rows, mtime):
        p = str(src / name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    ckpt = str(tmp_path / "ckpt")

    def _run_available():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "16"
        ).parquet(str(src) + "/*")
        q = (
            curate_stream(
                stream, state, out, cfg=cfg, run_id=ckpt, compact_every=1
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    now = _time.time()
    _land("b1", [(1, "web", GOOD)], now - 100)
    _run_available()
    # compaction ran: every state table is one generation
    tables = state._manifest(spark)["tables"]
    for tbl in ("fingerprints", "shingles", "bands"):
        assert len(tables[tbl]) == 1, tables

    _land("b2", [(10, "web", GOOD)], now - 50)  # exact dup of doc 1
    _run_available()
    # the dup was dropped against the COMPACTED state
    assert {r["doc_id"] for r in state.fingerprints(spark).collect()} == {1}
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1}


@pytest.mark.slow
def test_curate_lm_surprisal_gate_drops_gibberish(spark):
    """Opt-in LM gate: a doc that PASSES the stopword-based quality gate
    (plenty of function words) but is otherwise rare-token gibberish
    scores high against the batch's own unigram distribution and is
    dropped; fluent docs built from common tokens survive. Off by
    default (max_surprisal=None keeps the doc)."""
    gibberish = (
        "the zxqv a plmk the wrtn an qqzz the vbnm a xkcd the zzyx an "
        "qwfp the mntb a gggh the rrkl an ppws the ccxz a lldd the nnee"
    )
    docs = _mk_docs(
        spark,
        [
            (1, "web", GOOD),
            (2, "web", GOOD + " and then the dog ran back home to the fox den"),
            (3, "web", gibberish),
        ],
    )
    base_cfg = CurationConfig(near_dup_jaccard=0.5)
    kept_ids = {
        r["doc_id"]
        for r in curate(docs, cfg=base_cfg).after_exact_dedup.collect()
    }
    assert 3 in kept_ids, "sanity: gibberish passes the stopword gate"

    # measured self-surprisal on this batch: fluent 37.6 / 39.0,
    # gibberish 43.05 (tiny-batch gap; real corpora separate far wider)
    lm_cfg = CurationConfig(near_dup_jaccard=0.5, max_surprisal=41.0)
    lm_kept = {
        r["doc_id"]
        for r in curate(docs, cfg=lm_cfg).after_exact_dedup.collect()
    }
    assert 3 not in lm_kept, "gibberish must fail the LM gate"
    assert {1, 2} <= lm_kept, "fluent docs survive the LM gate"


def test_curate_lm_gate_spares_unscored_docs_and_stays_lazy(spark):
    """The LM gate only drops what it SCORED: a doc with no tokens has
    no surprisal row and must survive when thresholds would otherwise
    keep it (the gate is an anti-join against the over-threshold set,
    not a semi-join against the scored set). And enabling the gate must
    not execute anything at curate() build time (laziness contract)."""
    from clickhouse_mysql_data_reader_spark.operators.text import lm_surprisal

    docs = _mk_docs(spark, [(1, "web", GOOD), (2, "web", "   ")])
    # building the scorer plan must launch NO jobs (the totals stay
    # in-plan; an eager .first() here previously ran the full upstream
    # at composition time)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    plan = lm_surprisal(docs, docs, text_col="text", id_col="doc_id")
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "lm_surprisal build must stay lazy"
    assert plan.columns == ["doc_id", "n_tokens", "n_oov", "surprisal"]

    cfg = CurationConfig(
        min_quality_score=0.0, drop_repetitive=False, max_surprisal=1e9,
        near_dup_jaccard=0.5,
    )
    kept = {r["doc_id"] for r in curate(docs, cfg=cfg).quality_gated.collect()}
    assert kept == {1, 2}, "zero-token doc must survive an effectively-infinite gate"


def test_curate_gopher_gate_drops_rule_violations(spark):
    """Opt-in Gopher rule gate: a bullet-list doc that PASSES the
    statistical quality gate is dropped by the rule filter; fluent prose
    survives. Off by default (apply_gopher=False keeps the doc), and
    thresholds are overridable per CurationConfig.gopher_thresholds."""
    bullets = GOOD + "\n" + "\n".join(f"- bullet row {i} here" for i in range(20))
    docs = _mk_docs(spark, [(1, "web", GOOD), (2, "web", bullets)])

    base = CurationConfig(near_dup_jaccard=0.5)
    kept = {r["doc_id"] for r in curate(docs, cfg=base).quality_gated.collect()}
    assert kept == {1, 2}, "sanity: gate off keeps the bullet doc"

    g_cfg = CurationConfig(
        near_dup_jaccard=0.5,
        apply_gopher=True,
        gopher_thresholds={"min_words": 10, "min_stop_types": 1,
                           "max_bullet_frac": 0.5},
    )
    g_kept = {r["doc_id"] for r in curate(docs, cfg=g_cfg).quality_gated.collect()}
    assert g_kept == {1}

    import pytest as _pytest

    bad = CurationConfig(apply_gopher=True, gopher_thresholds={"nope": 1})
    with _pytest.raises(TypeError, match="unknown gopher thresholds"):
        curate(docs, cfg=bad).quality_gated.collect()


@pytest.mark.slow
def test_curate_boilerplate_gate_drops_templated_docs(spark):
    """Opt-in corpus-level boilerplate gate: docs that are mostly a
    corpus-wide template are dropped before the near-dup stage (they
    would otherwise form one giant near-dup component); distinct docs
    and the gate-off default are untouched."""
    footer = (
        "all of the rights in this page are reserved to the company "
        "and its owners for all time"
    )
    uniq = ["alpha beta gamma", "delta epsilon zeta", "eta theta iota",
            "kappa lam mu"]
    rows = [(i, "web", f"{u} {footer}") for i, u in enumerate(uniq)]
    rows.append((50, "web", GOOD))
    rows.append((51, "web", GOOD + " and the fox then went to the den to rest"))
    docs = _mk_docs(spark, rows)

    off = curate(docs, cfg=CurationConfig(near_dup_jaccard=0.95))
    assert {r["doc_id"] for r in off.after_near_dedup.collect()} == {0, 1, 2, 3, 50, 51}
    assert "after_boilerplate" not in off.stage_frames

    on_cfg = CurationConfig(
        near_dup_jaccard=0.95, max_boiler_frac=0.5, boiler_min_docs=3
    )
    on = curate(docs, cfg=on_cfg)
    kept = {r["doc_id"] for r in on.stage_frames["after_boilerplate"].collect()}
    assert kept == {50, 51}, "templated docs leave, clean prose stays"
    assert {r["doc_id"] for r in on.after_near_dedup.collect()} == {50, 51}
    # the near-dup stage must not see the dropped docs' shingles
    assert on.near_dup_components.filter(F.col("doc_id") < 50).count() == 0


@pytest.mark.slow
def test_curate_increment_boilerplate_gate_matches_batch(spark, tmp_path):
    """Incremental boilerplate gate (round-6: max_boiler_frac accepted
    in increment mode): history doc-frequencies come from the landed
    kept-corpus shingles merged with the batch's own counts, so a doc
    that is mostly a template FREQUENT IN EARLIER BATCHES is dropped —
    and when the fragment's landed frequency clears boiler_min_docs,
    the increments produce exactly what batch curate() over the
    concatenated corpus produces."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )

    footer = (
        "all of the rights in this page are reserved to the company "
        "and its owners for all time without any further notice given"
    )
    # batch 1: five docs with LONG unique prose + the footer — coverage
    # stays under the cap, so all five are kept and their shingles land
    fillers = [
        "the river ran low in the summer and the children walked the dry "
        "bed to find the smooth stones they liked to paint in the shade",
        "a letter came from the north with news of the harvest and the "
        "roads and the prices the grain would fetch at the winter fair",
        "the old mill turned again after the rains and the miller sang "
        "as the wheel groaned back into its slow and steady work",
        "maps of the coast were drawn again that year because the storm "
        "had moved the sand and cut a new channel through the bar",
        "the teacher kept the window open so the class could hear the "
        "band practice its slow march for the festival in the square",
    ]
    batch1 = _mk_docs(
        spark, [(i, "web", f"{f} {footer}") for i, f in enumerate(fillers)]
    )
    # batch 2: one mostly-footer doc (over the cap once history counts
    # merge in) and one clean control doc
    batch2 = _mk_docs(
        spark,
        [
            (10, "web", "the final page reads " + footer),
            (11, "web", GOOD),
        ],
    )
    cfg = CurationConfig(max_boiler_frac=0.6, boiler_min_docs=3)

    state = CurationState(str(tmp_path / "st"))
    kept1 = {r["doc_id"] for r in curate_increment(batch1, state, cfg=cfg).collect()}
    assert kept1 == {0, 1, 2, 3, 4}, "low-coverage templated docs stay"
    kept2 = {r["doc_id"] for r in curate_increment(batch2, state, cfg=cfg).collect()}
    assert kept2 == {11}, "mostly-footer doc drops on HISTORY frequency"

    # parity: one batch run over the concatenation keeps the same docs
    both = curate(batch1.unionByName(batch2), cfg=cfg)
    batch_kept = {r["doc_id"] for r in both.after_near_dedup.collect()}
    both.unpersist()
    assert batch_kept == kept1 | kept2


@pytest.mark.slow
def test_curate_stream_boilerplate_gate_parity_and_replay(spark, tmp_path):
    """Streaming twin of the incremental boilerplate gate: epochs driven
    through curation_epoch_apply drop a mostly-template doc on HISTORY
    frequency exactly like curate_increment does, and a full replay of
    the epoch is idempotent because the epoch-tag exclusion hides the
    replayed epoch's own shingle appends from its history counts."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curation_epoch_apply,
    )

    footer = (
        "all of the rights in this page are reserved to the company "
        "and its owners for all time without any further notice given"
    )
    fillers = [
        "the river ran low in the summer and the children walked the dry "
        "bed to find the smooth stones they liked to paint in the shade",
        "a letter came from the north with news of the harvest and the "
        "roads and the prices the grain would fetch at the winter fair",
        "the old mill turned again after the rains and the miller sang "
        "as the wheel groaned back into its slow and steady work",
        "maps of the coast were drawn again that year because the storm "
        "had moved the sand and cut a new channel through the bar",
        "the teacher kept the window open so the class could hear the "
        "band practice its slow march for the festival in the square",
    ]
    cfg = CurationConfig(max_boiler_frac=0.6, boiler_min_docs=3)
    state = CurationState(str(tmp_path / "state"))
    out = str(tmp_path / "out")
    apply_fn = curation_epoch_apply(state, out, cfg=cfg)

    apply_fn(
        _mk_docs(spark, [(i, "web", f"{f} {footer}") for i, f in enumerate(fillers)]),
        0,
    )
    ep0 = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    assert ep0 == {0, 1, 2, 3, 4}, "low-coverage templated docs stay"

    b2 = _mk_docs(
        spark,
        [
            (10, "web", "the final page reads " + footer),
            (11, "web", GOOD),
        ],
    )
    apply_fn(b2, 1)
    ep1 = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=1").collect()}
    assert ep1 == {11}, "mostly-footer doc drops on HISTORY frequency"

    # full epoch replay (crash after state append, before commit ack):
    # identical output — its own epoch-tagged shingle rows are excluded
    # from the history counts, so the gate sees the same frequencies
    apply_fn(b2, 1)
    replay = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=1").collect()}
    assert replay == ep1


def test_curate_lm_bigram_gate_drops_scrambled_order(spark):
    """The bigram LM gate (cfg.lm_bigram) drops a doc whose token
    MULTISET is fine but whose word order is scrambled — a doc the
    unigram gate provably cannot separate (its unigram self-surprisal
    is bit-identical to the fluent original's, pinned below)."""
    from clickhouse_mysql_data_reader_spark.operators.text import lm_surprisal

    toks = GOOD.split()
    scrambled = " ".join(toks[::2] + toks[1::2][::-1])
    docs = _mk_docs(
        spark,
        [
            (1, "web", GOOD),
            (2, "web", GOOD + " and then the dog ran back home to the fox den"),
            (3, "web", scrambled),
        ],
    )
    uni = {r["doc_id"]: r["surprisal"] for r in lm_surprisal(docs, docs).collect()}
    assert uni[1] == uni[3], "unigram is blind to order: no threshold separates"

    # measured bigram self-surprisal: fluent 2.44 / 2.78, scrambled 4.35
    cfg = CurationConfig(near_dup_jaccard=0.5, max_surprisal=3.5, lm_bigram=True)
    kept = {r["doc_id"] for r in curate(docs, cfg=cfg).quality_gated.collect()}
    assert kept == {1, 2}, "bigram gate must drop the scrambled doc"


def test_curate_classifier_gate_drops_low_prob_docs(spark):
    """Opt-in trained-classifier gate: logistic regression trained on
    planted quality/crawl samples drops crawl-vocabulary docs that the
    heuristic gates are configured to pass; the gate is pure expression
    (no Join/Exchange added to the quality_gated plan)."""
    from clickhouse_mysql_data_reader_spark.operators.classifier import (
        train_quality_classifier,
    )

    pos = spark.createDataFrame(
        [(i, t) for i, t in enumerate([
            "the theorem follows from the lemma by induction on the proof",
            "we analyze the convergence of the estimator under mild conditions",
            "the study reports a significant effect of treatment on outcomes",
        ])],
        "doc_id bigint, text string",
    )
    neg = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate([
            "click here buy now cheap deals free shipping best price click",
            "win lottery jackpot casino bonus free spins register now now",
            "cheap pills discount sale sale limited offer buy buy buy",
        ])],
        "doc_id bigint, text string",
    )
    w, b = train_quality_classifier(pos, neg, dim=128)
    docs = _mk_docs(
        spark,
        [
            (1, "web", "the proof of the estimator convergence follows from the lemma"),
            (2, "web", "free bonus click now cheap casino deals buy now and more now"),
        ],
    )
    base = CurationConfig(
        min_quality_score=0.0, drop_repetitive=False, near_dup_jaccard=0.5
    )
    assert {
        r["doc_id"] for r in curate(docs, cfg=base).quality_gated.collect()
    } == {1, 2}, "sanity: heuristic gates alone keep both"

    cfg = CurationConfig(
        min_quality_score=0.0,
        drop_repetitive=False,
        near_dup_jaccard=0.5,
        classifier_model=(w, b),
    )
    out = curate(docs, cfg=cfg).quality_gated
    assert {r["doc_id"] for r in out.collect()} == {1}
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Join" not in plan and "Exchange" not in plan


def test_curate_line_dedup_stage_removes_boilerplate_lines(spark):
    """Opt-in stage 0: a cookie-banner line shared by several docs
    survives only in its globally-first doc; every doc keeps its other
    columns; a doc reduced to nothing is dropped by the quality gate."""
    banner = "accept all cookies to continue reading this site"
    docs = _mk_docs(
        spark,
        [
            (1, "web", GOOD + "\n" + banner),
            (2, "web", banner + "\n" + GOOD.replace("fox", "hen")),
            (3, "web", banner),
        ],
    )
    cfg = CurationConfig(near_dup_jaccard=0.95, dedup_lines=True)
    out = {
        r["doc_id"]: r
        for r in curate(docs, cfg=cfg).quality_gated.select("doc_id", "source", "text").collect()
    }
    assert set(out) == {1, 2}, "doc 3 reduced to nothing must fail the gate"
    assert banner in out[1]["text"], "first occurrence keeps the line"
    assert banner not in out[2]["text"]
    assert out[2]["source"] == "web", "non-text columns restored"


@pytest.mark.slow
def test_curate_increment_line_dedup_matches_batch(spark, tmp_path):
    """Incremental line dedup (round-6: dedup_lines accepted in
    increment mode): surviving line fingerprints land in CurationState
    (line_fps), so a banner line any EARLIER batch saw is removed from
    every later batch — and with batch-ordered doc ids the increments
    produce exactly what one batch curate() over the concatenated
    corpus produces."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )

    banner = "accept all cookies to continue reading this site today"
    tale = GOOD.replace("fox", "hen")
    batch1 = _mk_docs(
        spark,
        [
            (1, "web", GOOD + "\n" + banner),
            (2, "web", banner + "\n" + tale),
        ],
    )
    batch2 = _mk_docs(
        spark,
        [
            (10, "web", banner),  # gutted by history -> fails the gate
            (11, "web", GOOD.replace("dog", "owl") + "\n" + banner),
            (12, "web", GOOD.replace("quick", "slow").replace("dog", "elk")),
        ],
    )
    cfg = CurationConfig(near_dup_jaccard=0.95, dedup_lines=True)

    state = CurationState(str(tmp_path / "st"))
    inc1 = {r["doc_id"]: r["text"] for r in curate_increment(batch1, state, cfg=cfg).collect()}
    assert set(inc1) == {1, 2}
    assert banner in inc1[1] and banner not in inc1[2]
    assert state.landed(spark, "line_fps"), "line state landed with the batch"

    inc2 = {r["doc_id"]: r["text"] for r in curate_increment(batch2, state, cfg=cfg).collect()}
    assert set(inc2) == {11, 12}, "banner-only doc guts to empty and fails"
    assert banner not in inc2[11], "history keeper removes the banner"

    # parity: batch curate() over the concatenation (ids in batch order)
    both = curate(batch1.unionByName(batch2), cfg=cfg)
    batch_out = {
        r["doc_id"]: r["text"]
        for r in both.after_near_dedup.select("doc_id", "text").collect()
    }
    assert batch_out == {**inc1, **inc2}


@pytest.mark.slow
def test_curate_increment_paragraph_dedup_sep(spark, tmp_path):
    """cfg.line_dedup_sep='\\n\\n' runs the dedup_lines stage at
    PARAGRAPH granularity through curate_increment: a footer paragraph
    landed by batch 1 is removed from batch 2's docs, and the
    increments match batch curate() over the concatenation."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )

    footer = (
        "all of the rights in this page are reserved to the company\n"
        "and its owners for all time without any further notice given"
    )
    b1 = _mk_docs(spark, [(1, "web", GOOD + "\n\n" + footer)])
    b2 = _mk_docs(
        spark,
        [
            (10, "web", GOOD.replace("dog", "owl") + "\n\n" + footer),
            (11, "web", footer),  # gutted by history -> fails the gate
        ],
    )
    cfg = CurationConfig(
        near_dup_jaccard=0.95, dedup_lines=True, line_dedup_sep="\n\n"
    )
    state = CurationState(str(tmp_path / "st"))
    inc1 = {r["doc_id"]: r["text"] for r in curate_increment(b1, state, cfg=cfg).collect()}
    assert set(inc1) == {1} and footer in inc1[1]
    inc2 = {r["doc_id"]: r["text"] for r in curate_increment(b2, state, cfg=cfg).collect()}
    assert set(inc2) == {10}, "footer-only doc guts to empty and fails"
    assert footer not in inc2[10]
    # the footer's internal single newline is NOT a boundary: its two
    # lines left together (whole-paragraph removal, not line removal)
    assert "reserved to the company" not in inc2[10]

    both = curate(b1.unionByName(b2), cfg=cfg)
    batch_out = {
        r["doc_id"]: r["text"]
        for r in both.after_near_dedup.select("doc_id", "text").collect()
    }
    both.unpersist()
    assert batch_out == {**inc1, **inc2}


def test_curate_collapse_lines_cleaner_runs_everywhere(spark):
    """collapse_lines is a per-row cleaner: batch curate() collapses a
    stuttered nav line before gating, and — being state-free, unlike
    dedup_lines — the incremental path accepts it too."""
    import tempfile as _tf

    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )

    stutter = GOOD + "\nsame nav line\nsame nav line\nsame nav line"
    docs = _mk_docs(spark, [(1, "web", stutter)])
    cfg = CurationConfig(near_dup_jaccard=0.5, collapse_lines=True)
    out = curate(docs, cfg=cfg).quality_gated.collect()
    assert out[0]["text"] == GOOD + "\nsame nav line"

    state = CurationState(_tf.mkdtemp() + "/st")
    inc = curate_increment(docs, state, cfg, update_state=False).collect()
    assert inc[0]["text"] == GOOD + "\nsame nav line"


@pytest.mark.slow
def test_curate_blocklist_gate_batch_and_increment_parity(spark, tmp_path):
    """Opt-in C4 bad-words gate: a doc containing a blocklisted token
    is dropped before any other gate; the gate is stateless, so daily
    increments equal the batch run over the concatenation by
    construction — pinned here anyway."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )

    spammy = GOOD + " casino"
    docs = _mk_docs(spark, [(1, "web", GOOD), (2, "web", spammy)])

    base = CurationConfig(near_dup_jaccard=0.5)
    kept = {r["doc_id"] for r in curate(docs, cfg=base).quality_gated.collect()}
    assert kept == {1, 2}, "sanity: gate off keeps the spammy doc"

    cfg = CurationConfig(near_dup_jaccard=0.5, blocklist=("casino", "lottery"))
    res = curate(docs, cfg=cfg)
    assert {r["doc_id"] for r in res.quality_gated.collect()} == {1}
    batch_kept = {r["doc_id"] for r in res.after_near_dedup.collect()}

    # increments: same two docs split over two batches, same config
    state = CurationState(os.path.join(str(tmp_path), "bl_state"))
    inc1 = curate_increment(_mk_docs(spark, [(1, "web", GOOD)]), state, cfg=cfg)
    kept1 = {r["doc_id"] for r in inc1.collect()}
    inc2 = curate_increment(_mk_docs(spark, [(2, "web", spammy)]), state, cfg=cfg)
    kept2 = {r["doc_id"] for r in inc2.collect()}
    assert (kept1 | kept2) == batch_kept == {1}


def test_state_growth_report_tracks_appends_and_compaction(spark, tmp_path):
    from clickhouse_mysql_data_reader_spark.curation import CurationState

    state = CurationState(str(tmp_path) + "/st")
    docs1 = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc {i} " * 4) for i in range(1, 7)],
        "doc_id long, text string",
    )
    state.write(docs1)
    r1 = state.growth_report(spark)
    assert set(r1) == {"fingerprints", "shingles", "bands"}
    assert r1["fingerprints"]["rows"] == 6
    assert r1["fingerprints"]["docs"] == 6
    assert r1["fingerprints"]["segments"] == 1
    assert r1["bands"]["rows"] == 6 * state.lsh_bands
    assert all(v["bytes"] > 0 and v["files"] > 0 for v in r1.values())

    docs2 = spark.createDataFrame(
        [(i, f"epsilon zeta eta theta doc {i} " * 4) for i in range(10, 14)],
        "doc_id long, text string",
    )
    state.write(docs2)
    r2 = state.growth_report(spark)
    # grows with the kept corpus; plain batch appends all share the
    # ("", -1) tag, so segments stays 1 (streaming appends would add
    # one per (run, epoch))
    assert r2["fingerprints"]["rows"] == 10
    assert r2["fingerprints"]["segments"] == 1
    assert r2["shingles"]["rows"] > r1["shingles"]["rows"]

    state.compact(spark)
    r3 = state.growth_report(spark)
    # same logical content, fewer (or equal) files after compaction
    assert r3["fingerprints"]["rows"] == 10
    assert r3["fingerprints"]["docs"] == 10
    assert r3["fingerprints"]["files"] <= r2["fingerprints"]["files"]


def test_prefix_backfill_on_legacy_state_and_crash_recovery(spark, tmp_path, monkeypatch):
    """(1) A prefix-enabled handle writing over a LEGACY prefix-less
    state must backfill the landed history before appending, or older
    docs stay invisible to the landed-prefix probe direction.
    (2) A backfill that crashed before its commit leaves no prefixes
    and does not wedge the next attempt."""
    from pyspark.sql.readwriter import DataFrameWriter

    from clickhouse_mysql_data_reader_spark.curation import CurationState

    sd = str(tmp_path) + "/st"
    legacy = CurationState(sd)
    docs1 = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc {i} " * 4) for i in range(1, 5)],
        "doc_id long, text string",
    )
    legacy.write(docs1)

    upgraded = CurationState(sd, jaccard_exact_threshold=0.8)
    docs2 = spark.createDataFrame(
        [(i, f"epsilon zeta eta theta doc {i} " * 4) for i in range(10, 13)],
        "doc_id long, text string",
    )
    real = DataFrameWriter.parquet

    def crash(self, *a, **kw):
        real(self, *a, **kw)
        raise RuntimeError("crash after the backfilled prefix table")

    with monkeypatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", crash)
        with pytest.raises(RuntimeError, match="crash after"):
            upgraded.write(docs2)
    assert not upgraded.landed(spark, "prefixes")
    upgraded.write(docs2)

    pref_docs = {
        r["doc_id"] for r in upgraded.prefixes(spark).select("doc_id").distinct().collect()
    }
    # batch-1 docs BACKFILLED, batch-2 docs appended — both visible
    assert {1, 2, 3, 4} <= pref_docs and {10, 11, 12} <= pref_docs


@pytest.mark.slow
def test_curate_language_gate(spark, tmp_path):
    """Opt-in language gate: non-allowlisted and mixed-language docs
    drop at the scan stage; stateless, so increments equal the batch
    run by construction — pinned anyway."""
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        curate_increment,
    )

    french = (
        "le chat est dans la maison et les oiseaux sont dans le jardin "
        "et la nuit est longue dans la ville et le vent est froid"
    )
    mixed = GOOD + " " + french
    docs = _mk_docs(spark, [(1, "web", GOOD), (2, "web", french), (3, "web", mixed)])

    cfg = CurationConfig(near_dup_jaccard=0.5, lang_allow=("en",))
    res = curate(docs, cfg=cfg)
    assert {r["doc_id"] for r in res.quality_gated.collect()} == {1}

    # min_quality_score=0 isolates the LANGUAGE gate: the downstream
    # quality score is EN-stopword-based and would drop the pure-French
    # doc on fluency grounds, which is not what's under test here
    keep_mixed = CurationConfig(
        near_dup_jaccard=0.5,
        lang_allow=("en", "fr"),
        lang_drop_mixed=False,
        min_quality_score=0.0,
    )
    assert {
        r["doc_id"] for r in curate(docs, cfg=keep_mixed).quality_gated.collect()
    } == {1, 2, 3}

    state = CurationState(os.path.join(str(tmp_path), "lang_state"))
    inc1 = curate_increment(_mk_docs(spark, [(1, "web", GOOD)]), state, cfg=cfg)
    inc2 = curate_increment(
        _mk_docs(spark, [(2, "web", french), (3, "web", mixed)]), state, cfg=cfg
    )
    assert {r["doc_id"] for r in inc1.collect()} | {
        r["doc_id"] for r in inc2.collect()
    } == {1}
