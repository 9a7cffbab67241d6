"""End-to-end training-data curation pipeline: the product-level API
that composes the operator surface into the standard pretraining prep
flow. Each stage is one of the individually oracle-checked operators;
this module only wires them together, so the composition inherits their
verified semantics and their 100 TB plan shapes.

Stage order follows the usual cost/selectivity logic — cheap per-row
gates first (quality, repetition: scan-stage expression work), then the
keyed stages (exact dedup: one fingerprint-keyed window; near-dup:
LSH-bucketed, never all-pairs; decontamination: broadcast semi-join,
corpus never shuffled), then mixture shaping and sequence packing on
the survivors. Every
decision is a pure function of document content/ids: re-running the
pipeline — or retrying any stage — reproduces byte-identical output.

No reference counterpart (reference delegates analytics to ClickHouse);
this is the BASELINE.json north-star surface composed end-to-end.
"""

from __future__ import annotations

import json
import warnings
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.operators.dedup import (
    containment_pairs,
    containment_prefix_candidates,
    content_fingerprint,
    corpus_contamination,
    cross_prefix_candidates,
    jaccard_pairs,
    jaccard_prefix_candidates,
    lsh_candidate_pairs,
    minhash_signatures,
    prefix_shingles,
    shingle_table,
)
from clickhouse_mysql_data_reader_spark.operators.graph import (
    component_summary,
    connected_components,
)
from clickhouse_mysql_data_reader_spark.operators.sampling import (
    hash_bucket,
    hex_threshold_expr,
    mixture_sample,
    pack_sequences,
)
from clickhouse_mysql_data_reader_spark.operators.text import (
    gate_columns,
    token_count,
)


@dataclass(frozen=True)
class CurationConfig:
    """Knobs for the end-to-end pipeline; defaults follow the published
    heuristics (Gopher repetition flags, 0.8-Jaccard near-dup merges)."""

    min_quality_score: float = 0.2
    # opt-in per-source CALIBRATED quality gate (operators/text.py
    # quality_calibrated): after the raw min_quality_score filter, keep
    # only docs whose quality score sits at or above this percent_rank
    # WITHIN their source — the CCNet/FineWeb per-bucket discipline
    # that stops one raw threshold from zeroing out a stopword-light
    # source. BATCH-ONLY: the rank is corpus-relative (one window
    # shuffle partitioned by quality_source_col), so curate_increment /
    # curate_stream raise if it is set — deploy those modes with
    # quality_thresholds (frozen, stateless) instead. None = off.
    quality_calibrate_pctile: float | None = None
    # frozen per-source minimum scores ((source, min_score), ...) from
    # operators/text.py calibrated_quality_thresholds() over a baseline
    # corpus — the stateless deployment form of the calibrated gate: a
    # scan-stage literal-map lookup, zero joins/shuffles, identical in
    # batch/increment/streaming. Docs from sources ABSENT from the map
    # pass (the raw gates still apply); thresholds for new sources are
    # a baseline-refresh decision, not a silent drop. None = off.
    quality_thresholds: tuple[tuple[str, float], ...] | None = None
    # source column the two calibrated gates read (they run inside the
    # row stages, which otherwise don't touch source)
    quality_source_col: str = "source"
    # opt-in LEAKAGE-SAFE split assignment (operators/sampling.py
    # cluster_safe_split): (("train", 0.8), ("val", 0.1), ...) fractions
    # summing to 1. When set, the result carries ``split_assignments``
    # — (id, component, split) for every FINAL survivor, where the
    # split hashes the near-dup COMPONENT the pipeline ALREADY computed
    # (every edge type curate used: exact-threshold, containment,
    # semantic), so a document and its near-twin can never straddle
    # train and test, and the assignment does not depend on WHICH
    # cluster member the keeper election kept. Singletons hash their
    # own id — a dup-free corpus degenerates to the plain hash_split.
    # In curate_increment / curate_stream (update_state=True) the
    # assignment instead LANDS immutably in the state's `splits` table
    # (read back via state.split_assignments): each kept doc hashes
    # its within-batch component, landed rows never change, and a
    # later near-twin of a landed doc is dropped by history-wins —
    # TRANSITIVELY since round 14: a within-batch component touching
    # history drops entirely (see the hist_touched stage in
    # curate_increment), so even a batch doc connected to a landed doc
    # only through a dropped sibling never survives. Splits are
    # therefore STABLE across daily batches and no near-dup cluster
    # ever straddles train/test. With batch-ordered ids this equals
    # batch-over-concatenation bit-for-bit (parity pinned by test);
    # fractions are pinned in the state's manifest for its lifetime.
    # None = off.
    split_fractions: tuple[tuple[str, float], ...] | None = None
    drop_repetitive: bool = True
    redact_pii: bool = True
    # opt-in Gopher rule filter (operators/text.py gopher_rules, Rae et
    # al. 2021 App. A): word-count/word-length bounds, symbol ratio,
    # bullet/ellipsis line fractions, alphabetic fraction, stopword
    # floor. Inline expression gate — same scan as the quality gate,
    # zero extra shuffles. ``gopher_thresholds`` overrides the paper
    # defaults (keyword names of gopher_rules).
    apply_gopher: bool = False
    gopher_thresholds: dict | None = None
    # opt-in C4 bad-words gate (operators/text.py blocklist_gate,
    # Raffel et al. 2020 §2.2): drop any doc containing one of these
    # tokens (token-boundary match on normalized text). Runs FIRST —
    # it is the cheapest gate with the highest drop rate on web text,
    # so every later stage sees a smaller corpus; pure expression on
    # the scan, zero shuffles, stateless (works identically in batch,
    # increment, and streaming). None/empty = off. The operator's
    # DEFAULT_BLOCKLIST is a starter spam/adult list; production
    # pipelines pass their own.
    blocklist: tuple[str, ...] | None = None
    # opt-in language gate (operators/text.py lang_id_multi): keep only
    # docs whose function-word-density argmax lands in this set;
    # ``lang_drop_mixed`` additionally drops code-switched docs whose
    # runner-up language density nears the winner's (they pollute both
    # per-language buckets). Pure scan-stage expression like the
    # blocklist — stateless, so batch/increment/streaming behave
    # identically. None = off.
    lang_allow: tuple[str, ...] | None = None
    lang_drop_mixed: bool = True
    # opt-in corpus-level boilerplate gate (operators/text.py
    # ngram_boilerplate): drop docs whose shingle coverage by
    # corpus-wide frequent fragments exceeds this (templated
    # headers/footers/licence text). Works in batch `curate()` AND in
    # `curate_increment`, where frequencies = batch counts + landed
    # kept-corpus counts at the batch's shingle keys (the
    # ngram_boilerplate ``extra_counts`` seam — see _near_dup_stage
    # for the exact parity contract). Shares the near-dup stage's
    # cached shingle table (fragment counts, coverage join-back,
    # MinHash); curate() also caches the post-gate shingle table. Call
    # ``CurationResult.unpersist()`` after the terminal action to
    # release them. None = off.
    max_boiler_frac: float | None = None
    boiler_min_docs: int = 5
    # opt-in corpus-level LINE dedup (operators/text.py line_dedup, the
    # C4/RefinedWeb boilerplate-line pass): every verbatim-duplicated
    # line keeps only its globally-first occurrence and docs are
    # reassembled before ANY gate runs, so the gates judge the cleaned
    # text and docs reduced to nothing fail the quality gate naturally.
    # Works in batch `curate()` AND in `curate_increment`, which lands
    # surviving line fingerprints in CurationState (`line_fps`) so a
    # line any earlier batch saw is removed from every later batch —
    # with batch-ordered doc ids the increments compose to exactly the
    # batch run over the concatenated corpus (pinned by test). Costs
    # the operator's three skew-proof shuffles + one id-keyed join to
    # restore the non-text columns.
    dedup_lines: bool = False
    line_dedup_min_chars: int = 15
    # unit separator for the dedup_lines stage: '\n' = lines (C4),
    # '\n\n' = paragraphs (RefinedWeb — operators/text.py
    # paragraph_dedup semantics inside the pipeline). Like
    # line_dedup_min_chars, it defines what a landed line_fps
    # fingerprint MEANS, so it must stay constant for one
    # CurationState's lifetime in increment/streaming mode.
    line_dedup_sep: str = "\n"
    # opt-in WITHIN-doc cleaner (operators/text.py
    # collapse_repeated_lines): collapse consecutive duplicate lines
    # (scraper nav/header stutter) before any gate scores the text.
    # Pure per-row expression — zero shuffles, and unlike dedup_lines
    # it needs no corpus state, so it runs in the incremental and
    # streaming paths too.
    collapse_lines: bool = False
    # opt-in LM quality gate (operators/text.py lm_surprisal): drop docs
    # whose mean inverse token probability vs the BATCH's own unigram
    # distribution exceeds this (gibberish / off-distribution text).
    # None = gate off, zero extra cost. Enabling adds an ANTI-join
    # against the over-threshold set (docs the scorer produced no row
    # for — zero tokens — survive), and the gated lineage feeds the
    # scorer's several plan subtrees, so each action re-runs the cheap
    # expression gates a few times — persist/checkpoint the input
    # yourself if its upstream is expensive.
    max_surprisal: float | None = None
    # opt-in: score the LM gate with the stupid-backoff BIGRAM model
    # (operators/text.py lm_surprisal_bigram) instead of the unigram —
    # same threshold semantics, additionally punishes scrambled/
    # unnatural word order. Only read when max_surprisal is set.
    lm_bigram: bool = False
    # opt-in trained quality classifier gate (operators/classifier.py,
    # the GPT-3/PaLM linear filter): (weights, bias) from
    # train_quality_classifier; docs with sigmoid probability below
    # min_quality_prob are dropped. Pure expression gate — rides the
    # same scan as the heuristic gates, zero joins/shuffles. None = off.
    classifier_model: tuple | None = None
    min_quality_prob: float = 0.5
    near_dup_jaccard: float = 0.8
    # opt-in: generate near-dup candidates with the EXACT AllPairs
    # prefix filter (operators/dedup.py jaccard_prefix_candidates)
    # instead of banded MinHash-LSH. LSH recall is probabilistic — a
    # duplicate pair whose bands never collide is silently kept, and
    # the miss rate at the threshold is set by the S-curve, not by the
    # data — while the prefix filter provably emits a superset of
    # every pair with Jaccard >= near_dup_jaccard, so the dedup is
    # exact. Costs the frequency-ordering shuffles instead of the
    # signature aggregation; the prefix is floor(((1-t)/(1+t))|A|)+2
    # rarest shingles (~11% of each doc at t=0.8). In curate_increment
    # the state must be prefix-enabled: construct CurationState with
    # jaccard_exact_threshold=near_dup_jaccard so write() lands each
    # batch's AllPairs prefixes — the exact cross-history candidate
    # source (on a pre-prefix landed state, backfill once with
    # state.ensure_prefixes).
    near_dup_exact: bool = False
    # opt-in SECOND near-dup edge type: exact n-gram CONTAINMENT
    # (|A∩B|/min(|A|,|B|), Broder 1997) at this threshold, candidates
    # from AllPairs prefix filtering (operators/dedup.py
    # containment_prefix_candidates — exact, never all-pairs). Catches
    # the sub-document duplicates the Jaccard threshold systematically
    # keeps: a truncated/excerpted copy of a long doc has containment
    # ~1.0 but Jaccard far below near_dup_jaccard (the intersection is
    # divided by the LONG doc's union). Edges from both metrics are
    # unioned before connected components, so a truncated copy merges
    # into its original's component and the keeper policy ("longest"
    # keeps the untruncated one) resolves it. In curate_increment the
    # state must be prefix-enabled (CurationState
    # containment_threshold=near_dup_containment) and history always
    # wins: a NEW truncated copy of a landed doc drops, but a landed
    # truncated copy also suppresses a longer original arriving later
    # (first-wins — the increment keeper semantics documented under
    # near_dup_keeper). None = off.
    near_dup_containment: float | None = None
    # keeper policy for the near-dup merge: "min_id" keeps each
    # component's smallest doc id (the classic deterministic label);
    # "longest" keeps the member with the greatest text length (ties ->
    # min id) via operators/graph.component_keepers — production passes
    # prefer it because the longest copy is usually the least-truncated
    # one. CONTENT-LOSS HAZARD with near_dup_containment: a containment
    # edge merges a truncated copy into its original's component, and
    # "min_id" then elects whichever member has the smaller id — if
    # that's the truncated copy, the longer original is DROPPED, the
    # exact loss the containment edge exists to prevent. curate()
    # therefore warns on the combination; set "longest" (or a
    # score-based component_keepers call) when containment is on. In curate_increment the policy governs the WITHIN-BATCH
    # component stage only; the vs-history half is inherently
    # FIRST-WINS (the landed corpus is immutable — an already-landed
    # keeper cannot be displaced by a longer member arriving in a later
    # batch), so under "longest" the increments match batch-over-
    # concatenation exactly on a history-free state and keep the
    # first-landed member across batches.
    near_dup_keeper: str = "min_id"
    # opt-in THIRD near-dup edge type: embedding-cosine (semantic)
    # near-dup at this threshold, candidates from SRP-LSH banding
    # (operators/similarity.py srp_band_table / near_dup_pairs_srp —
    # Charikar 2002 sign-random-projection, quantizer-free: the
    # hyperplanes are md5-derived from (seed, bit, dim), so bands
    # written by one session join against any other's). Catches the
    # duplicates no shingle metric can: paraphrases, translations
    # re-encoded to the same embedding, templated rewrites — the
    # semantic layer modern pipelines (SemDeDup, Abbas et al. 2023)
    # run AFTER lexical dedup. Docs must carry ``embed_col`` (an
    # array<float/double> of length ``embed_dim``); candidates are
    # verified with the exact rounded cosine, so banding can only
    # LOSE pairs, never invent them. Edges union with the lexical
    # ones before connected components, exactly like containment. In
    # ``curate_increment`` the state must be embed-enabled (construct
    # CurationState with matching embed_* parameters): write() then
    # lands each kept batch's SRP bands AND embedding vectors, and
    # later batches drop semantic dups of history via a band
    # bucket-join + exact-cosine verify against the landed vectors —
    # per-batch cost, history text/vectors never re-derived. None = off.
    embed_near_cos: float | None = None
    embed_col: str = "embedding"
    # SRP geometry — must be set (dim) / must match the landed state's
    # manifest in increments (all four; a mismatch means band values
    # that can never collide, i.e. silently missed semantic dups)
    embed_dim: int | None = None
    embed_bits: int = 32
    embed_srp_bands: int = 4
    embed_seed: str = "srp"
    # opt-in FOURTH near-dup edge type: image perceptual-hash (dHash)
    # near-dup at this Hamming budget, candidates from Manku pigeonhole
    # banding (operators/multimodal.py image_dhash +
    # operators/dedup.py simhash_near_pairs — the text simhash
    # machinery on the image modality, never all-pairs). Catches the
    # duplicates no text metric can: the same image re-encoded,
    # resized, or metadata-stripped attached to different captions.
    # Docs must carry ``image_col`` (binary; NULL = no image — those
    # rows simply contribute no image edge) and an integral id (the
    # Arrow fingerprint schema pins BIGINT ids, like the media
    # operators). Edges union with the lexical/semantic ones before
    # connected components, exactly like containment. The decode seam
    # is injectable (``image_decode_fn`` — Pillow thumbnails in
    # production, the deterministic md5-blocked fake when None); the
    # fingerprint frame is persisted/checkpointed inside the pipeline
    # so the decode runs ONCE per batch, not once per join side (the
    # image_near_dup_pairs ``sigs=`` discipline). In
    # ``curate_increment`` the state must be image-enabled (construct
    # CurationState with matching image_* parameters): write() then
    # lands each kept batch's (doc_id, dhash) fingerprints in
    # ``image_fps``, and later batches drop image near-dups of history
    # via a chunk bucket-join against the landed longs — the media
    # bytes of history are never re-read and the decode never re-runs.
    # Budget guidance: candidate pruning collapses at high budgets
    # (48 bits at hamming 7 prunes only ~8.5x vs all-pairs) — check
    # operators/dedup.py hamming_chunk_stats / max_hamming_budget
    # before a large pass (<= 5 at the default 48 bits). None = off.
    image_near_hamming: int | None = None
    image_col: str = "image"
    image_grid_w: int = 7
    image_grid_h: int = 8
    image_decode_fn: Callable | None = None
    # identity tag for the decoder, pinned in the state manifest so a
    # silently swapped decoder (whose fingerprints would never match
    # the landed ones) is caught loudly; defaults to the fake's tag
    # when image_decode_fn is None, else "custom" — production passes
    # an explicit version tag
    image_decoder_tag: str | None = None
    # opt-in FIFTH near-dup edge type: audio energy-contour near-dup
    # at this Hamming budget — the image edge type's exact mirror on
    # the audio modality (operators/multimodal.py audio_energy_hash:
    # n_windows per-clip energies through the injectable seam,
    # n_windows - 1 quieter-than-next difference bits in one BIGINT,
    # Manku pigeonhole banding). Docs carry ``audio_col`` (binary;
    # NULL = no clip). In ``curate_increment`` the state must be
    # audio-enabled (CurationState audio_n_windows + decoder tag);
    # write() then lands (doc_id, ahash) in ``audio_fps`` and later
    # batches probe history via the chunk bucket-join — landed longs
    # only, clip bytes never re-read. Same budget guidance as the
    # image edge (hamming_chunk_stats; <= 5 at the default 48 bits).
    # None = off.
    audio_near_hamming: int | None = None
    audio_col: str = "audio"
    audio_n_windows: int = 49
    audio_decode_fn: Callable | None = None
    audio_decoder_tag: str | None = None
    # opt-in SIXTH near-dup edge type: video sampled-frame matching
    # (operators/multimodal.py video_frame_hashes /
    # video_near_dup_pairs) — clips whose sampled-frame dHash SETS
    # share at least ``video_min_matching`` distinct hashes merge.
    # Docs carry ``video_col`` (binary; NULL = no clip) AND
    # ``video_duration_col`` (BIGINT milliseconds — frame sampling
    # needs the clip length, which real corpora store as metadata; a
    # NULL/zero duration means no frames, like a NULL clip). Unlike
    # the one-long image/audio fingerprints the video fingerprint is a
    # SET of frame hashes, so the history probe is a frame-level
    # equi-join against the landed ``video_fps`` rows + a per-pair
    # match count — the shingle-table shape, never banding.
    # ``video_max_frame_df`` drops ubiquitous frames (black/logo
    # stop-frames) before pairing — in the batch-side edge stage AND
    # (round 14) in the history probe, where the document frequency is
    # computed over the batch UNION the landed frame sets so a frame
    # rare in a small increment but ubiquitous in history is still
    # capped. None = off.
    video_min_matching: int | None = None
    video_col: str = "video"
    video_duration_col: str = "video_ms"
    video_every_ms: int = 1000
    video_grid_w: int = 7
    video_grid_h: int = 8
    video_decode_fn: Callable | None = None
    video_decoder_tag: str | None = None
    video_max_frame_df: int | None = None
    contamination_threshold: float = 0.5
    # decontamination policy when `benchmark` is given: "drop_docs"
    # removes any corpus doc whose shingle overlap with a benchmark
    # item crosses contamination_threshold (corpus_contamination);
    # "excise_spans" instead cuts every `contamination_window`-token
    # span colliding with the benchmark out of the doc and keeps the
    # unique remainder (operators/text.py span_decontaminate — the
    # GPT-3 13-gram move; surgical when eval items are QUOTED inside
    # otherwise-good documents). ONLY docs with at least one colliding
    # span are rewritten — their remainder is rebuilt from normalized
    # tokens (lowercased, whitespace-joined, like the line-dedup stage
    # rebuilds from lines); every collision-free doc keeps its raw
    # text verbatim.
    contamination_mode: str = "drop_docs"
    contamination_window: int = 13
    # mixture shaping is optional: None keeps every surviving source whole
    mixture_weights: dict[str, float] | None = None
    mixture_token_budget: int = 0
    mixture_default_weight: float = 0.0
    # opt-in: realize mixture rates ABOVE 1 by replicating documents
    # (operators/sampling.py mixture_oversample — the multi-epoch
    # upweighting of small high-quality sources). The mixed frame then
    # carries a copy_no column, and packing orders on the
    # (id, copy_no) composite so every replica gets its own slot.
    # Batch curate() only (a per-batch view can't see corpus-wide
    # source totals); with it off, rates cap at 1 (down-only).
    mixture_epochs: bool = False
    pack_budget: int = 128
    pack_shards: int = 8
    # operators/dedup.py optimal_lsh_bands(minhash_k, near_dup_jaccard)
    # picks the band count minimizing integrated S-curve error at the
    # Jaccard threshold — a driver-side helper, deliberately not called
    # implicitly (incremental states pin these values at first landing,
    # so a silent re-derivation under a changed default would brick
    # every existing state's parameter check)
    minhash_k: int = 16
    lsh_bands: int = 4

    @classmethod
    def with_tuned_lsh(
        cls, num_hashes: int = 16, fp_weight: float = 0.5, **kw
    ) -> "CurationConfig":
        """Config with ``lsh_bands`` chosen by the S-curve tuner
        (operators/dedup.py ``optimal_lsh_bands``) for the config's own
        ``near_dup_jaccard`` threshold — the principled alternative to
        hand-picking the band count: the tuner minimizes the weighted
        integral of false-positive mass (verify-stage cost) below the
        threshold and false-negative mass (missed duplicates) above it
        over the divisors of ``num_hashes``. ``fp_weight`` toward 1
        when the exact-Jaccard verify is the cost center, toward 0 when
        recall is the product requirement.

        LANDED-STATE CAVEAT (why the tuner is never auto-applied): an
        incremental/streaming ``CurationState`` pins (minhash_k,
        lsh_bands) in its on-disk manifest at first write — band hashes
        derived with different parameters can NEVER match the landed
        ones, so re-tuning an EXISTING state's bands silently kills its
        cross-history near-dup detection (the write path rejects the
        mismatch loudly). Tune ONCE, before the first batch lands, and
        construct every later ``CurationState`` with the same values:

            cfg = CurationConfig.with_tuned_lsh(near_dup_jaccard=0.8)
            state = CurationState(dir_, minhash_k=cfg.minhash_k,
                                  lsh_bands=cfg.lsh_bands)
        """
        if "lsh_bands" in kw or "minhash_k" in kw:
            raise ValueError(
                "with_tuned_lsh picks lsh_bands (and minhash_k = "
                "num_hashes) itself — pass num_hashes=/fp_weight= to "
                "steer it, or construct CurationConfig directly"
            )
        from clickhouse_mysql_data_reader_spark.operators.dedup import (
            optimal_lsh_bands,
        )

        threshold = kw.get("near_dup_jaccard", cls.near_dup_jaccard)
        return cls(
            minhash_k=num_hashes,
            lsh_bands=optimal_lsh_bands(num_hashes, threshold, fp_weight),
            **kw,
        )

    def __post_init__(self) -> None:
        if self.near_dup_keeper not in ("min_id", "longest"):
            raise ValueError(
                f"unknown near_dup_keeper {self.near_dup_keeper!r}: "
                "expected 'min_id' or 'longest'"
            )
        # See the near_dup_keeper comment: containment edges exist to
        # merge truncated copies into their originals so "longest" can
        # keep the untruncated one — under "min_id" the truncated copy
        # wins whenever its id is smaller, silently losing content.
        # Warn (not raise): min_id remains a valid deterministic label
        # for pipelines that post-process components themselves.
        if self.near_dup_containment is not None and self.near_dup_keeper == "min_id":
            import warnings

            warnings.warn(
                "near_dup_containment with near_dup_keeper='min_id' can "
                "elect a truncated copy as keeper and drop the longer "
                "original — the content loss the containment edge is "
                "meant to prevent. Set near_dup_keeper='longest'.",
                UserWarning,
                stacklevel=2,
            )
        if self.embed_near_cos is not None and self.embed_dim is None:
            raise ValueError(
                "embed_near_cos needs embed_dim: the SRP hyperplanes are "
                "a function of the vector dimensionality, and a landed "
                "incremental state pins it in its manifest"
            )
        if self.embed_near_cos is not None and self.embed_bits % self.embed_srp_bands:
            raise ValueError(
                f"embed_bits={self.embed_bits} not divisible by "
                f"embed_srp_bands={self.embed_srp_bands}"
            )
        if self.image_near_hamming is not None:
            bits = self.image_grid_h * (self.image_grid_w - 1)
            if self.image_near_hamming < 0:
                raise ValueError(
                    f"image_near_hamming must be >= 0, got "
                    f"{self.image_near_hamming}"
                )
            if bits % (self.image_near_hamming + 1):
                raise ValueError(
                    f"dHash bit width {bits} (grid {self.image_grid_w}x"
                    f"{self.image_grid_h}) not divisible into "
                    f"{self.image_near_hamming + 1} pigeonhole chunks; "
                    "pick a hamming budget h with bits % (h+1) == 0"
                )
        if self.audio_near_hamming is not None:
            bits = self.audio_n_windows - 1
            if self.audio_near_hamming < 0 or self.audio_n_windows < 2:
                raise ValueError(
                    f"need audio_near_hamming >= 0 and audio_n_windows >= 2; "
                    f"got {self.audio_near_hamming}, {self.audio_n_windows}"
                )
            if bits % (self.audio_near_hamming + 1):
                raise ValueError(
                    f"energy-hash bit width {bits} "
                    f"(n_windows={self.audio_n_windows}) not divisible into "
                    f"{self.audio_near_hamming + 1} pigeonhole chunks; "
                    "pick a hamming budget h with bits % (h+1) == 0"
                )
        if self.video_min_matching is not None:
            if self.video_min_matching < 1:
                raise ValueError(
                    f"video_min_matching must be >= 1, got "
                    f"{self.video_min_matching}"
                )
            if self.video_every_ms < 1:
                raise ValueError(
                    f"video_every_ms must be >= 1, got {self.video_every_ms}"
                )
        if self.quality_calibrate_pctile is not None and not (
            0.0 <= self.quality_calibrate_pctile <= 1.0
        ):
            raise ValueError(
                "quality_calibrate_pctile is a percent_rank cut and must "
                f"be in [0, 1]; got {self.quality_calibrate_pctile}"
            )
        if self.quality_thresholds is not None:
            # accept JSON-shaped lists from the CLI's --curation-config
            # ([["web", 0.3], ...]) as well as tuples
            for entry in self.quality_thresholds:
                if (
                    len(entry) != 2
                    or not isinstance(entry[0], str)
                    or not isinstance(entry[1], (int, float))
                ):
                    raise ValueError(
                        "quality_thresholds entries must be (source, "
                        f"min_score) pairs; got {entry!r}"
                    )
        if self.split_fractions is not None:
            # same JSON-friendly shape discipline as quality_thresholds
            for entry in self.split_fractions:
                if (
                    len(entry) != 2
                    or not isinstance(entry[0], str)
                    or not isinstance(entry[1], (int, float))
                ):
                    raise ValueError(
                        "split_fractions entries must be (split_name, "
                        f"fraction) pairs; got {entry!r}"
                    )
            total = sum(f for _, f in self.split_fractions)
            if abs(total - 1.0) > 1e-9:
                raise ValueError(
                    f"split_fractions must sum to 1, got {total}"
                )


@dataclass
class CurationResult:
    """Lazy handles on every stage — nothing is executed until the
    caller acts on a frame, so computing only ``packed`` runs one job."""

    quality_gated: DataFrame
    after_exact_dedup: DataFrame
    near_dup_components: DataFrame
    after_near_dedup: DataFrame
    after_decontamination: DataFrame
    after_mixture: DataFrame
    packed: DataFrame
    # (id, component, split) for every final survivor when
    # cfg.split_fractions is set (None otherwise) — the leakage-safe
    # split keyed on the pipeline's own near-dup components
    split_assignments: DataFrame | None = None
    stage_frames: dict[str, DataFrame] = field(default_factory=dict)
    # frames curate() persisted on the caller's behalf (the exact-dedup
    # survivors and every multi-consumer frame of the near-dup stage).
    # The CALLER owns the lifecycle — call unpersist() after the
    # terminal action.
    persisted_frames: list[DataFrame] = field(default_factory=list)

    def stage_counts(self) -> dict[str, int]:
        """Materialize per-stage survivor counts (one job per stage —
        diagnostic use, not the hot path)."""
        return {name: df.count() for name, df in self.stage_frames.items()}

    def unpersist(self) -> None:
        """Release every frame curate() persisted for this result.
        Idempotent; call after the last action on the result's frames
        so a long-lived session doesn't accumulate cached relations."""
        for df in self.persisted_frames:
            df.unpersist()


def _row_stages(
    docs: DataFrame,
    cfg: CurationConfig,
    text_col: str,
    id_col: str,
    calibrate: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Stages 1-3 (shared by full and incremental curation):

    1. per-row quality + repetition gates — gate_columns attaches both
       inline (shared expression helpers with the oracle-checked
       queries): one scan, zero shuffles, not a join of the frame-level
       operators back on id (which would shuffle the corpus per gate);
    2. PII scrub, inline on the text column;
    3. exact dedup via a fingerprint-keyed window (keeper = min id):
       ONE shuffle, vs groupBy-then-join-back's two.
    """
    if cfg.collapse_lines:
        # per-row cleaner FIRST: gates then score the cleaned text;
        # rides the same scan (one in-row array fold, no shuffle)
        from clickhouse_mysql_data_reader_spark.operators.text import (
            collapse_repeated_lines,
        )

        docs = docs.withColumn(text_col, collapse_repeated_lines(F.col(text_col)))

    if cfg.blocklist:
        # C4 bad-words gate FIRST (Raffel et al. 2020 §2.2): the
        # cheapest test with the highest drop rate on web text, so
        # every later stage sees a smaller corpus. Token-boundary
        # matching via the same expression core as the oracle-checked
        # text_blocklist_gate query (operators/text.py blocklist_gate)
        # — one in-row array fold on the scan, zero shuffles.
        from clickhouse_mysql_data_reader_spark.operators.text import (
            blocklist_pass_expr,
        )

        gated_in = docs.filter(blocklist_pass_expr(F.col(text_col), cfg.blocklist))
    else:
        gated_in = docs

    if cfg.lang_allow:
        # language gate next (still scan-stage, zero shuffles): keep
        # the allowlisted argmax languages, optionally dropping
        # mixed-language docs (operators/text.py lang_id_multi)
        from clickhouse_mysql_data_reader_spark.operators.text import lang_id_multi

        lid = lang_id_multi(F.col(text_col))
        keep = lid["lang"].isin(*cfg.lang_allow)
        if cfg.lang_drop_mixed:
            keep = keep & ~lid["is_mixed"]
        gated_in = gated_in.filter(keep)

    gate = gate_columns(gated_in, text_col)
    gated = gate.filter(F.col("quality_score") >= cfg.min_quality_score)
    if cfg.quality_calibrate_pctile is not None and calibrate:
        # per-source calibrated gate, window form (batch mode only —
        # callers that can't pay a corpus-relative rank pass
        # calibrate=False and raise on the knob before reaching here).
        # Runs on the raw-gate survivors: derive frozen thresholds
        # from the same population for exact parity.
        if cfg.quality_source_col not in gated.columns:
            raise ValueError(
                f"quality_calibrate_pctile needs a "
                f"{cfg.quality_source_col!r} column; got {docs.columns}"
            )
        from pyspark.sql import Window as W

        # threshold-based cut (the calibrated_quality_thresholds
        # construction): kept = score >= min score clearing the
        # percent_rank cut, falling back to the source minimum when no
        # row clears it — single-doc and all-tied sources (every row at
        # percent_rank 0) are KEPT whole instead of dropped whole, and
        # the window form keeps exactly what the frozen form keeps
        w_src = W.partitionBy(cfg.quality_source_col).orderBy("quality_score")
        w_all = W.partitionBy(cfg.quality_source_col)
        thr = F.coalesce(
            F.min(
                F.when(
                    F.col("_pr") >= cfg.quality_calibrate_pctile,
                    F.col("quality_score"),
                )
            ).over(w_all),
            F.min("quality_score").over(w_all),
        )
        gated = (
            gated.withColumn("_pr", F.percent_rank().over(w_src))
            .withColumn("_thr", thr)
            .filter(F.col("quality_score") >= F.col("_thr"))
            .drop("_pr", "_thr")
        )
    if cfg.quality_thresholds:
        # frozen form: literal-map lookup on the scan, zero shuffles —
        # identical semantics in batch/increment/streaming. Sources
        # absent from the map pass (see the config comment).
        if cfg.quality_source_col not in gated.columns:
            raise ValueError(
                f"quality_thresholds needs a "
                f"{cfg.quality_source_col!r} column; got {docs.columns}"
            )
        thr_map = F.create_map(
            *[
                F.lit(x)
                for src, thr in cfg.quality_thresholds
                for x in (src, float(thr))
            ]
        )
        thr = thr_map.getItem(F.col(cfg.quality_source_col))
        gated = gated.filter(thr.isNull() | (F.col("quality_score") >= thr))
    if cfg.drop_repetitive:
        gated = gated.filter(~F.col("flag_repetitive"))
    gated = gated.select(*docs.columns)

    if cfg.apply_gopher:
        # rule gate rides the same scan (expression-only, no shuffle);
        # placed after the statistical gates so both report through
        # stage_counts the way a pipeline operator orders its drops
        from clickhouse_mysql_data_reader_spark.operators.text import (
            gopher_gate_columns,
        )

        gated = (
            gopher_gate_columns(gated, text_col, **(cfg.gopher_thresholds or {}))
            .filter(F.col("pass_gopher"))
            .select(*docs.columns)
        )

    if cfg.classifier_model is not None:
        # trained-classifier gate rides the same scan as the heuristic
        # gates (quality_prob_col is one inline expression — no join);
        # ordered before the LM gate so the corpus-level scorer only
        # sees classifier survivors
        from clickhouse_mysql_data_reader_spark.operators.classifier import (
            quality_prob_col,
        )

        cw, cb = cfg.classifier_model
        gated = gated.filter(
            quality_prob_col(F.col(text_col), list(cw), float(cb))
            >= F.lit(float(cfg.min_quality_prob))
        )

    if cfg.max_surprisal is not None:
        # LM gate AFTER the cheap expression gates (score survivors
        # only). Self-referenced: the batch's own unigram distribution
        # is the reference, so off-distribution/gibberish docs score
        # high. Inherently corpus-level (needs the reference counts),
        # so unlike the inline gates this is a join, phrased as a
        # LEFT-ANTI against the over-threshold DROP set: docs with zero
        # tokens have no surprisal row and therefore SURVIVE (the gate
        # only drops what it scored; the quality gate owns empty docs).
        # The gated lineage feeds four plan subtrees (totals, count
        # join side, token side, anti probe), so each action re-runs
        # the expression gates a few times. Deliberately NOT persisted
        # here: an internal persist has no release point (this frame is
        # a lazy intermediate — batch callers never see it, and a
        # streaming epoch would leak one cache entry per trigger for
        # the session's lifetime). The re-run cost is scan+regex per
        # subtree; callers with an expensive upstream should persist or
        # checkpoint the INPUT frame, whose lifecycle they own.
        from clickhouse_mysql_data_reader_spark.operators.text import (
            lm_surprisal,
            lm_surprisal_bigram,
        )

        _scorer = lm_surprisal_bigram if cfg.lm_bigram else lm_surprisal
        drop_lm = (
            _scorer(gated, gated, text_col=text_col, id_col=id_col)
            .filter(F.col("surprisal") > cfg.max_surprisal)
            .select(F.col("doc_id").alias(id_col))
        )
        gated = gated.join(drop_lm, id_col, "left_anti")

    if cfg.redact_pii:
        from clickhouse_mysql_data_reader_spark.operators.text import (
            EMAIL_RE,
            PHONE_RE,
        )

        # case-insensitive match on the ORIGINAL-case text: redaction
        # must not mutate surviving content beyond the redacted spans
        # (lowercasing here would propagate into the packed output)
        scrubbed = F.regexp_replace(
            F.regexp_replace(F.col(text_col), "(?i)" + EMAIL_RE, "[EMAIL]"),
            PHONE_RE,
            "[PHONE]",
        )
        gated = gated.withColumn(text_col, scrubbed)

    from pyspark.sql import Window as W

    w_fp = W.partitionBy("_fp").orderBy(F.col(id_col).asc())
    exact = (
        gated.withColumn("_fp", content_fingerprint(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w_fp))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )
    return gated, exact


def _near_dup_drop_ids(
    comps: DataFrame,
    survivors: DataFrame,
    cfg: CurationConfig,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Non-keeper member ids of each near-dup component under the
    configured keeper policy (``CurationConfig`` validates the name) —
    the keeper election of ``_near_dup_stage``. Every component member
    must appear in ``survivors`` (it does: components are built from
    the post-gate shingle table of the same frame). Both branches are
    one map-side-combinable aggregate on the component key plus one
    join back — never a window."""
    if cfg.near_dup_keeper == "longest":
        from clickhouse_mysql_data_reader_spark.operators.graph import (
            component_keepers,
        )

        return (
            component_keepers(
                comps,
                survivors.select(
                    F.col(id_col).alias("doc_id"),
                    F.length(F.col(text_col)).alias("_len"),
                ),
                "_len",
            )
            .filter(~F.col("is_keeper"))
            .select(F.col("doc_id").alias(id_col))
        )
    return (
        comps.join(component_summary(comps), "component")
        .filter(F.col("doc_id") != F.col("keeper_id"))
        .select(F.col("doc_id").alias(id_col))
    )


def _near_dup_edge_set(
    sh: DataFrame,
    cfg: CurationConfig,
    sigs: DataFrame | None = None,
    sorted_arrays: DataFrame | None = None,
) -> DataFrame:
    """Within-relation near-dup EDGES under cfg's candidate policy —
    the lexical edge types of ``_near_dup_stage``: Jaccard edges from
    banded MinHash-LSH (default) or the exact AllPairs prefix filter
    (``near_dup_exact``), optionally unioned with exact containment
    edges (``near_dup_containment``). ``sigs``: precomputed MinHash
    signatures (the increment bands the same frame — don't aggregate
    twice); ``sorted_arrays``: the shared rarest-first relation the
    stage caches for multiple prefix slices."""
    if cfg.near_dup_exact:
        cands = jaccard_prefix_candidates(
            sh, min_jaccard=cfg.near_dup_jaccard, sorted_arrays=sorted_arrays
        )
    else:
        if sigs is None:
            sigs = minhash_signatures(sh, num_hashes=cfg.minhash_k)
        cands = lsh_candidate_pairs(
            sigs, num_hashes=cfg.minhash_k, bands=cfg.lsh_bands
        )
    edges = jaccard_pairs(
        sh, candidates=cands, min_jaccard=cfg.near_dup_jaccard
    ).select("doc_a", "doc_b")
    if cfg.near_dup_containment is not None:
        c_cands = containment_prefix_candidates(
            sh,
            min_containment=cfg.near_dup_containment,
            sorted_arrays=sorted_arrays,
        )
        c_pairs = containment_pairs(
            sh, candidates=c_cands, min_containment=cfg.near_dup_containment
        )
        edges = edges.unionByName(c_pairs.select("doc_a", "doc_b")).distinct()
    return edges


def _cos_verified(
    cand: DataFrame, left_vecs: DataFrame, right_vecs: DataFrame, threshold: float
) -> DataFrame:
    """Exact-cosine verify of (doc_a, doc_b) SRP band candidates against
    (vid, v) vector relations — the same ``round(cosine, 6) >=
    threshold`` decision as operators/similarity.py
    ``near_dup_pairs_srp`` (equality pinned by test), factored out so
    the within-batch verify of ``_near_dup_stage`` and the vs-history
    verify of ``curate_increment`` share one formula. Banding can only LOSE
    pairs; every emitted edge passed the exact test. Norms are
    precomputed per ROW (operators/similarity.py cosine_n — the folds
    are interpreted, so per-pair work is the single dot fold;
    bit-identical to the per-pair cosine)."""
    from clickhouse_mysql_data_reader_spark.operators.similarity import (
        cosine_n,
        l2_norm,
    )

    return (
        cand.join(
            left_vecs.select(
                F.col("vid").alias("doc_a"),
                F.col("v").alias("_va"),
                l2_norm(F.col("v")).alias("_na"),
            ),
            "doc_a",
        )
        .join(
            right_vecs.select(
                F.col("vid").alias("doc_b"),
                F.col("v").alias("_vb"),
                l2_norm(F.col("v")).alias("_nb"),
            ),
            "doc_b",
        )
        .filter(
            F.round(
                cosine_n(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")), 6
            )
            >= F.lit(float(threshold))
        )
        .select("doc_a", "doc_b")
    )


def _semantic_edge_set(
    docs: DataFrame,
    cfg: CurationConfig,
    id_col: str,
    vecs: DataFrame | None = None,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Within-relation SEMANTIC (embedding-cosine) near-dup edges under
    cfg's SRP geometry — the third edge type ``embed_near_cos``
    enables, the semantic edge type of ``_near_dup_stage``. Candidates
    from SRP-LSH band collisions (operators/similarity.py
    ``srp_band_table`` — Charikar 2002 sign-random-projection;
    md5-derived hyperplanes, so bands are session-independent),
    verified with the exact rounded cosine. Result equals
    ``near_dup_pairs_srp(...).select(doc_a, doc_b)`` (pinned by test);
    the optional ``vecs``/``bands`` args let the stage reuse its cached
    projections instead of re-running the gate plan per consumer.
    100 TB shape: candidates scale with
    sum(|band bucket|^2), never |corpus|^2 — same banding bound as the
    MinHash-LSH stage."""
    from clickhouse_mysql_data_reader_spark.operators.similarity import (
        as_double_array,
        srp_band_table,
    )

    if vecs is None:
        vecs = docs.select(
            F.col(id_col).alias("vid"), as_double_array(cfg.embed_col).alias("v")
        )
    if bands is None:
        bands = srp_band_table(
            vecs,
            cfg.embed_dim,
            n_bits=cfg.embed_bits,
            n_bands=cfg.embed_srp_bands,
            id_col="vid",
            vec_col="v",
            seed=cfg.embed_seed,
        )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("doc_a"), F.col("b.vid").alias("doc_b"))
        .distinct()
    )
    return _cos_verified(cand, vecs, vecs, cfg.embed_near_cos)


def _decoder_tag(decode_fn, explicit: str | None) -> str:
    """The decoder-identity string pinned in a media-fingerprint state
    manifest (image, audio, and video alike): a fingerprint landed by
    one decoder can never match another's, so a silent decoder swap
    must fail loudly like any geometry mismatch. An injected decoder
    therefore REQUIRES an explicit tag — defaulting every custom
    decoder to one shared label would let two different production
    decoders pass the manifest check, the exact hazard the tag
    exists to catch."""
    if explicit is not None:
        return explicit
    if decode_fn is not None:
        raise ValueError(
            "an injected media decode_fn needs an explicit decoder tag "
            "(e.g. image_decoder_tag='pillow-v10') — the tag is pinned "
            "in the state's manifest so fingerprints landed by a "
            "DIFFERENT decoder can never silently match"
        )
    return "md5-blocked-fake"


_INTEGRAL_ID_TYPES = ("tinyint", "smallint", "int", "bigint")


def _require_integral_id(docs: DataFrame, id_col: str, modality: str) -> None:
    """The media-fingerprint tables key on BIGINT doc ids (the landed
    state's schema); a non-integral id column would ``cast('long')``
    to NULL silently and the whole edge type would quietly find
    nothing — raise loudly instead, like every other misconfiguration
    (a schema check, no job runs)."""
    dtype = dict(docs.dtypes).get(id_col)
    if dtype not in _INTEGRAL_ID_TYPES:
        raise ValueError(
            f"the {modality} near-dup edge keys its fingerprint state "
            f"on BIGINT doc ids, but column {id_col!r} is {dtype!r} — "
            "cast (or map) ids to an integral type first; a silent "
            "cast would NULL every media_id and the edge would match "
            "nothing"
        )


def _image_sigs(
    docs: DataFrame,
    id_col: str,
    image_col: str,
    grid_w: int,
    grid_h: int,
    decode_fn: Callable | None,
) -> DataFrame:
    """(doc_id, dhash) perceptual fingerprints for the image-bearing
    rows of a corpus frame — shared by ``_near_dup_stage`` and
    ``CurationState._derive`` so the two can never fingerprint
    differently. NULL-image rows are
    excluded BEFORE the decode: under the deterministic fake every
    NULL would hash to the same 'image' and the whole imageless corpus
    would collapse into one bogus near-dup component."""
    from clickhouse_mysql_data_reader_spark.operators.multimodal import (
        image_dhash,
    )

    _require_integral_id(docs, id_col, "image")
    media = docs.filter(F.col(image_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col(image_col).alias("content"),
    )
    return image_dhash(
        media, decode_fn=decode_fn, grid_w=grid_w, grid_h=grid_h
    ).select(F.col("media_id").alias("doc_id"), "dhash")


def _image_edge_set(sigs: DataFrame, cfg: CurationConfig) -> DataFrame:
    """Within-relation image near-dup edges from a fingerprint frame —
    Manku pigeonhole banding + exact Hamming verify, the text simhash
    machinery (operators/dedup.py simhash_near_pairs) over the dHash
    longs. The caller persists/checkpoints ``sigs`` (both self-join
    sides read it), so the decode runs once per batch."""
    from clickhouse_mysql_data_reader_spark.operators.dedup import (
        simhash_near_pairs,
    )

    bits = cfg.image_grid_h * (cfg.image_grid_w - 1)
    return simhash_near_pairs(
        sigs,
        bits=bits,
        hamming_max=cfg.image_near_hamming,
        id_col="doc_id",
        sig_col="dhash",
    ).select("doc_a", "doc_b")


def _audio_sigs(
    docs: DataFrame,
    id_col: str,
    audio_col: str,
    n_windows: int,
    decode_fn: Callable | None,
) -> DataFrame:
    """(doc_id, ahash) energy-contour fingerprints for the audio-bearing
    rows — ``_image_sigs``' exact mirror on the audio modality (same
    NULL-exclusion rationale: the fake would hash every NULL clip to
    one fingerprint and collapse the clipless corpus into a bogus
    component)."""
    from clickhouse_mysql_data_reader_spark.operators.multimodal import (
        audio_energy_hash,
    )

    _require_integral_id(docs, id_col, "audio")
    media = docs.filter(F.col(audio_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.col(audio_col).alias("content"),
    )
    return audio_energy_hash(
        media, decode_fn=decode_fn, n_windows=n_windows
    ).select(F.col("media_id").alias("doc_id"), "ahash")


def _audio_edge_set(sigs: DataFrame, cfg: CurationConfig) -> DataFrame:
    """Within-relation audio near-dup edges — ``_image_edge_set``'s
    mirror over the energy-contour longs; the caller persists or
    checkpoints ``sigs`` so the decode runs once per batch."""
    from clickhouse_mysql_data_reader_spark.operators.dedup import (
        simhash_near_pairs,
    )

    return simhash_near_pairs(
        sigs,
        bits=cfg.audio_n_windows - 1,
        hamming_max=cfg.audio_near_hamming,
        id_col="doc_id",
        sig_col="ahash",
    ).select("doc_a", "doc_b")


def _video_sigs(
    docs: DataFrame,
    id_col: str,
    cfg: CurationConfig,
) -> DataFrame:
    """Distinct (doc_id, fhash) sampled-frame fingerprints for the
    video-bearing rows — the SET-valued fingerprint of the video edge
    type (one row per distinct frame hash per clip, the shingle-table
    shape). NULL clips and NULL/zero durations yield no rows."""
    from clickhouse_mysql_data_reader_spark.operators.multimodal import (
        video_frame_hashes,
    )

    _require_integral_id(docs, id_col, "video")
    media = docs.filter(
        F.col(cfg.video_col).isNotNull()
        & (F.coalesce(F.col(cfg.video_duration_col), F.lit(0)) > 0)
    ).select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit("video").alias("kind"),
        F.col(cfg.video_col).alias("content"),
        F.struct(
            F.lit(None).cast("string").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.col(cfg.video_duration_col).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    return (
        video_frame_hashes(
            media,
            every_ms=cfg.video_every_ms,
            decode_fn=cfg.video_decode_fn,
            grid_w=cfg.video_grid_w,
            grid_h=cfg.video_grid_h,
        )
        .select(F.col("media_id").alias("doc_id"), "fhash")
        .distinct()
    )


def _video_edge_set(fset: DataFrame, cfg: CurationConfig) -> DataFrame:
    """Within-relation video near-dup edges from a distinct
    (doc_id, fhash) frame set — operators/multimodal.py
    ``video_near_dup_pairs``' pairing core through its ``sigs=`` seam
    (the caller checkpoints/persists ``fset`` so the decode ran
    once)."""
    from clickhouse_mysql_data_reader_spark.operators.multimodal import (
        video_near_dup_pairs,
    )

    return video_near_dup_pairs(
        media=None,
        min_matching_frames=cfg.video_min_matching,
        max_frame_df=cfg.video_max_frame_df,
        sigs=fset.select(F.col("doc_id").alias("media_id"), "fhash"),
    ).select("doc_a", "doc_b")


def _video_hot_frames(
    fset_new: DataFrame, hist: DataFrame, cfg: CurationConfig
) -> DataFrame:
    """Frame hashes whose document frequency over the UNION of the
    batch's and the landed frame sets exceeds ``cfg.video_max_frame_df``
    — the increment-time form of the stop-frame guard (black frames,
    studio logos). The union is distinct-per-(doc, frame) first so a
    replayed epoch (whose docs already landed) cannot double-count its
    own frames' df. One narrow aggregate over longs."""
    return (
        fset_new.select("doc_id", "fhash")
        .unionByName(hist.select("doc_id", "fhash"))
        .distinct()
        .groupBy("fhash")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > cfg.video_max_frame_df)
        .select("fhash")
    )


def _video_hist_drop(
    fset_new: DataFrame,
    hist_fps: DataFrame,
    cfg: CurationConfig,
    hot: DataFrame | None,
) -> DataFrame:
    """Batch docs that are video near-dups of HISTORY: frame-level
    equi-join of the batch's distinct frame hashes against the landed
    (doc_id, fhash) rows, per-(new, hist) match count, threshold —
    the set-intersection analogue of ``simhash_near_pairs_cross``.
    Returns one column of new-doc ids to drop (history wins).
    Replayed-epoch duplicate rows in the landed table are collapsed
    before counting (a duplicate frame row must not double-count one
    match).

    ``cfg.video_max_frame_df`` — the stop-frame guard the within-batch
    edge applies (operators/multimodal.py ``video_near_dup_pairs``) —
    is enforced here too, with the document frequency computed over the
    UNION of the batch's and the landed frame sets: a frame rare in a
    small increment but ubiquitous in history (a black frame, a studio
    logo) must not (a) make this equi-join quadratic in its history-side
    df, nor (b) count toward ``video_min_matching`` when the batch-curate
    of the same corpus would have dropped it before pairing
    (``_video_hot_frames``). ``hot`` is that set as ``_near_dup_stage``
    cached it (None when no cap is configured), so the union aggregate
    runs once per batch."""
    hist = hist_fps.select("doc_id", "fhash").dropDuplicates(
        ["doc_id", "fhash"]
    )
    new = fset_new.select("doc_id", "fhash")
    if hot is not None:
        new = new.join(hot, "fhash", "left_anti")
        hist = hist.join(hot, "fhash", "left_anti")
    return (
        new.alias("n")
        .join(hist.alias("h"), F.col("n.fhash") == F.col("h.fhash"))
        .groupBy(
            F.col("n.doc_id").alias("doc_a"),
            F.col("h.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") >= cfg.video_min_matching)
        .select("doc_a")
        .distinct()
    )


def _split_assignment_frame(
    survivors: DataFrame,
    comps: DataFrame,
    fractions,
    id_col: str,
) -> DataFrame:
    """(id, component, split) for the survivors — the leakage-safe
    split keyed on the pipeline's OWN near-dup components (all edge
    types), shared by batch ``curate`` and both ``curate_increment``
    stages so the assignment arithmetic cannot drift. Survivors absent
    from the graph (singletons) hash their own id; the component label
    is the min member id (``connected_components``' convention), so
    the assignment is keeper-invariant: it does not depend on WHICH
    cluster member the keeper election kept."""
    from clickhouse_mysql_data_reader_spark.operators.sampling import (
        hash_split,
    )

    return (
        survivors.select(id_col)
        .distinct()
        .join(
            comps.select(F.col("doc_id").alias(id_col), "component"),
            id_col,
            "left",
        )
        .withColumn("component", F.coalesce("component", F.col(id_col)))
        .withColumn("split", hash_split(F.col("component"), dict(fractions)))
    )


def _decontamination_stage(
    deduped: DataFrame,
    benchmark: DataFrame | None,
    cfg: CurationConfig,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Benchmark decontamination under the configured mode — shared by
    batch ``curate`` (stage 5) and ``curate_increment`` so the two
    paths cannot drift. The stage is a pure per-doc function of
    (doc text, benchmark): it never consults corpus state, so applying
    it per batch composes to exactly the batch-over-concatenation
    result. The benchmark side is always the broadcast small side; the
    corpus is scanned, never shuffled on content."""
    if benchmark is None:
        return deduped
    if cfg.contamination_mode == "excise_spans":
        # surgical form: cut benchmark-colliding spans, keep the rest
        # of the doc
        from clickhouse_mysql_data_reader_spark.operators.text import (
            span_decontaminate,
        )

        excised = span_decontaminate(
            deduped,
            benchmark,
            text_col=text_col,
            id_col=id_col,
            window=cfg.contamination_window,
        )
        # only docs that actually collided get the normalized-token
        # rebuild; everything else keeps its raw text verbatim (the
        # excision is surgical, not a corpus-wide lossy rewrite)
        touched = excised.filter(F.col("n_dropped") > 0).select(
            id_col, F.col(text_col).alias("_excised_text")
        )
        return (
            deduped.join(touched, id_col, "left")
            .withColumn(
                text_col, F.coalesce(F.col("_excised_text"), F.col(text_col))
            )
            .drop("_excised_text")
        )
    if cfg.contamination_mode == "drop_docs":
        # corpus docs contaminated BY benchmark content leave; the
        # corpus-side operator broadcasts the BENCHMARK's shingles (the
        # small side)
        contam = corpus_contamination(
            corpus=deduped,
            benchmark=benchmark,
            text_col=text_col,
            id_col=id_col,
            flag_threshold=cfg.contamination_threshold,
        )
        leaky = contam.filter(F.col("flag_contaminated")).select(
            F.col("doc_id").alias(id_col)
        )
        return deduped.join(leaky, id_col, "left_anti")
    raise ValueError(
        f"unknown contamination_mode {cfg.contamination_mode!r}: "
        "expected 'drop_docs' or 'excise_spans'"
    )


def _require_columns(docs: DataFrame, cfg: CurationConfig, where: str) -> None:
    """Raise when ``docs`` lacks a column an enabled modality edge type
    reads — a schema check, no job runs. ``where`` names the frame in
    the message ("corpus", "batch")."""
    for knob, value, cols in (
        ("embed_near_cos", cfg.embed_near_cos,
         ((cfg.embed_col, f"embedding array<float/double>, length {cfg.embed_dim}"),)),
        ("image_near_hamming", cfg.image_near_hamming,
         ((cfg.image_col, "binary image, NULL for imageless rows"),)),
        ("audio_near_hamming", cfg.audio_near_hamming,
         ((cfg.audio_col, "binary audio clip, NULL for clipless rows"),)),
        ("video_min_matching", cfg.video_min_matching,
         ((cfg.video_col, "binary video clip"),
          (cfg.video_duration_col, "BIGINT clip length in ms"))),
    ):
        missing = [f"{c!r} ({what})" for c, what in cols if c not in docs.columns]
        if value is not None and missing:
            raise ValueError(
                f"{knob}={value} needs {' and '.join(missing)} on the "
                f"{where}; got {docs.columns}"
            )


class _NearDup(NamedTuple):
    """The frames ``_near_dup_stage`` built that its callers still read
    (None where the config leaves that part off)."""

    survivors: DataFrame  # docs left after the boilerplate gate
    sh: DataFrame  # their shingle table
    sigs: DataFrame | None  # MinHash signatures (None under near_dup_exact)
    sorted_arrays: DataFrame | None  # rarest-first arrays (prefix paths)
    vecs: DataFrame | None  # (vid, v)
    srp_bands: DataFrame | None
    image_sigs: DataFrame | None
    audio_sigs: DataFrame | None
    video_sigs: DataFrame | None
    hot_frames: DataFrame | None  # stop frames over batch + history
    comps: DataFrame
    drop_ids: DataFrame  # non-keeper component members


def _near_dup_stage(
    exact: DataFrame,
    cfg: CurationConfig,
    text_col: str,
    id_col: str,
    keep: Callable[[DataFrame], DataFrame],
    hist: tuple[DataFrame, DataFrame | None] | None = None,
) -> _NearDup:
    """The within-relation near-dup stage over the exact-dedup
    survivors: the corpus-level boilerplate gate (optional), then every
    edge type the config enables — Jaccard/containment, semantic,
    image, audio, video — unioned into one ``connected_components``
    pass and resolved by the keeper policy. Batch ``curate``, the
    ``curate_increment`` bootstrap and the increment's within-batch
    stage all run this one function, so they cannot drift on what
    counts as a duplicate.

    ``keep`` is the caller's cache: batch ``curate`` persists and
    registers the frame for ``CurationResult.unpersist``, the increment
    paths ``localCheckpoint`` (batch-sized frames). The caching rule:
    every frame with more than one consumer goes through ``keep``,
    because without it each consumer re-runs the gates from the scan
    (and the Python decode UDFs, whose subtrees Spark never reuses
    across join sides):

    - the shingle table: MinHash signatures, the verify core's three
      reads (sizes and both join sides), the boilerplate gate's
      fragment counts and coverage join-back, the prefix paths'
      frequency agg, prefix build and probe side, and in the increment
      the history verify;
    - the post-boilerplate shingle table: the same consumers without
      the gate;
    - the rarest-first sorted arrays whenever a prefix path is on: one
      frequency agg and per-doc collect behind every prefix slice
      (within-relation Jaccard and containment, the increment's
      cross-history batch prefixes);
    - the vectors and the SRP bands: both sides of the within-relation
      verify plus the increment's history probes;
    - each media fingerprint frame (image, audio, video, hot video
      frames): both sides of the self-join, the history probe and the
      state write through the sigs seam, so the decode runs once per
      batch.

    The materializations run one after another.

    ``hist`` is None for batch and bootstrap. The increment's history
    branch passes ``(landed shingles, landed video fingerprints or
    None)``, two lazy state reads and the only history this stage
    sees. The shingles add the landed kept corpus's doc frequencies at
    the batch's shingle keys to the boilerplate gate (the
    ``ngram_boilerplate`` ``extra_counts`` seam). KNOWN DELTA vs
    batch-over-concatenation: history holds only docs that SURVIVED
    curation, so incremental frequencies can run slightly lower and the
    gate errs toward keeping; parity holds whenever a fragment's landed
    frequency already clears ``boiler_min_docs`` (pinned by test). The
    video fingerprints make the stop-frame document frequency span the
    batch UNION history (``_video_hot_frames``): a frame rare in a
    small increment but ubiquitous in the landed clips (black frame,
    studio logo) would otherwise pair batch clips batch-curate never
    pairs and blow up the history probe's equi-join. The hot set is
    tiny; the RAW frame set still lands in state (later batches need
    the true df)."""
    hist_sh, hist_vid = hist if hist is not None else (None, None)
    sh = keep(shingle_table(exact, text_col, id_col, partition_by_id=True))
    survivors = exact
    if cfg.max_boiler_frac is not None:
        # BEFORE the merge: templated docs would otherwise form giant
        # near-dup components (every doc sharing the template is a
        # candidate pair)
        from clickhouse_mysql_data_reader_spark.operators.text import (
            ngram_boilerplate,
        )

        landed_counts = None
        if hist_sh is not None:
            # state.shingles is per-doc distinct, so count(1) per sh_h
            # IS the doc frequency; dropDuplicates guards replayed-epoch
            # double appends. One column-pruned scan keyed by the
            # batch's shingles — the corpus text is never re-read.
            landed_counts = (
                hist_sh.join(sh.select("sh_h").distinct(), "sh_h", "left_semi")
                .dropDuplicates(["doc_id", "sh_h"])
                .groupBy("sh_h")
                .agg(F.count(F.lit(1)).alias("n_docs"))
            )
        cov = ngram_boilerplate(
            exact, text_col, id_col, min_docs=cfg.boiler_min_docs, shingles=sh,
            extra_counts=landed_counts,
        )
        boiler = cov.filter(F.col("boiler_frac") > cfg.max_boiler_frac).select(
            F.col("doc_id").alias(id_col)
        )
        survivors = exact.join(boiler, id_col, "left_anti")
        sh = keep(
            sh.join(boiler.select(F.col(id_col).alias("doc_id")), "doc_id", "left_anti")
        )

    # candidate policy: banded MinHash-LSH (probabilistic recall,
    # cheapest) or the exact AllPairs prefix filter (near_dup_exact);
    # containment edges exist because banded LSH under-recalls
    # truncated copies (collision probability tracks JACCARD, low by
    # construction for short-inside-long)
    sorted_arr = None
    if cfg.near_dup_exact or cfg.near_dup_containment is not None:
        from clickhouse_mysql_data_reader_spark.operators.dedup import (
            rarest_sorted_shingles,
        )

        sorted_arr = keep(rarest_sorted_shingles(sh))
    sigs = None
    if not cfg.near_dup_exact:
        sigs = minhash_signatures(sh, num_hashes=cfg.minhash_k)
    edges = _near_dup_edge_set(sh, cfg, sigs=sigs, sorted_arrays=sorted_arr)
    # every further edge type is computed over the same post-boilerplate
    # survivors and unions into the ONE components pass, so e.g. a
    # paraphrase chain and a truncation chain touching one doc merge;
    # each distinct() shuffles only the pair relation
    vecs = srp = None
    if cfg.embed_near_cos is not None:
        # semantic: SRP-LSH banding + exact-cosine verify (SemDeDup,
        # Abbas et al. 2023 — paraphrases no shingle metric sees)
        from clickhouse_mysql_data_reader_spark.operators.similarity import (
            as_double_array,
            srp_band_table,
        )

        vecs = keep(
            survivors.select(
                F.col(id_col).alias("vid"), as_double_array(cfg.embed_col).alias("v")
            )
        )
        srp = keep(
            srp_band_table(
                vecs,
                cfg.embed_dim,
                n_bits=cfg.embed_bits,
                n_bands=cfg.embed_srp_bands,
                id_col="vid",
                vec_col="v",
                seed=cfg.embed_seed,
            )
        )
        edges = edges.unionByName(
            _semantic_edge_set(survivors, cfg, id_col, vecs=vecs, bands=srp)
        ).distinct()
    img = aud = vid = hot = None
    if cfg.image_near_hamming is not None:
        # image dHash: Manku pigeonhole banding over the decode seam
        img = keep(
            _image_sigs(
                survivors, id_col, cfg.image_col, cfg.image_grid_w,
                cfg.image_grid_h, cfg.image_decode_fn,
            )
        )
        edges = edges.unionByName(_image_edge_set(img, cfg)).distinct()
    if cfg.audio_near_hamming is not None:
        # audio energy contour: the image edge's mirror
        aud = keep(
            _audio_sigs(
                survivors, id_col, cfg.audio_col, cfg.audio_n_windows,
                cfg.audio_decode_fn,
            )
        )
        edges = edges.unionByName(_audio_edge_set(aud, cfg)).distinct()
    if cfg.video_min_matching is not None:
        # video: the frame SET is the fingerprint, so the edge is an
        # equi-join on the frame hash + a per-pair match count
        vid = keep(_video_sigs(survivors, id_col, cfg))
        pairable = vid
        if hist_vid is not None and cfg.video_max_frame_df is not None:
            hot = keep(_video_hot_frames(vid, hist_vid, cfg))
            pairable = vid.join(hot, "fhash", "left_anti")
        edges = edges.unionByName(_video_edge_set(pairable, cfg)).distinct()
    comps = connected_components(edges)
    return _NearDup(
        survivors, sh, sigs, sorted_arr, vecs, srp, img, aud, vid, hot, comps,
        _near_dup_drop_ids(comps, survivors, cfg, text_col, id_col),
    )


def curate(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    cfg: CurationConfig = CurationConfig(),
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> CurationResult:
    """Run the full curation flow over a corpus of (id, source, text).

    ``benchmark`` (optional) is the held-out eval set to decontaminate
    against: corpus documents whose shingles cover >= threshold of any
    overlap are NOT dropped (contamination drops eval items, not corpus
    docs) — instead the corpus is checked the other direction: any
    corpus doc that is a near-verbatim copy of a benchmark doc is
    removed so eval answers don't leak into training.
    """
    _require_columns(docs, cfg, "corpus")
    if cfg.dedup_lines:
        # stage 0 (optional): corpus-level line dedup BEFORE the gates —
        # gates then score the cleaned text, and a doc whose every line
        # was removed fails the quality gate like any other empty doc.
        # line_dedup returns the reassembled text only; the id-keyed
        # join restores the caller's other columns (its build side ends
        # in a groupBy(doc_id), so the join reuses that partitioning).
        from clickhouse_mysql_data_reader_spark.operators.text import line_dedup

        cleaned = line_dedup(
            docs, text_col, id_col,
            min_line_chars=cfg.line_dedup_min_chars, sep=cfg.line_dedup_sep,
        ).select(id_col, text_col)
        docs = docs.drop(text_col).join(cleaned, id_col)

    gated, exact = _row_stages(docs, cfg, text_col, id_col, calibrate=True)

    from pyspark import StorageLevel

    persisted: list[DataFrame] = []

    def keep(df: DataFrame) -> DataFrame:
        # spill-safe; the caller releases it via CurationResult.unpersist()
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(df)
        return df

    # Persist the post-gates survivors ONCE: `exact` forks into the
    # shingle materialization, the vector/media edge frames, the keeper
    # election's text reads and the boiled -> packed chain — without a
    # cache the row gates (and with dedup_lines the three line
    # shuffles) re-run from the scan per consumer.
    exact = keep(exact)

    # --- stages 3b + 4: boilerplate gate, near-dup merge ---------------
    nd = _near_dup_stage(exact, cfg, text_col, id_col, keep)
    boiled, comps = nd.survivors, nd.comps
    deduped = boiled.join(nd.drop_ids, id_col, "left_anti")

    # --- stage 5: decontamination vs the benchmark --------------------
    clean = _decontamination_stage(deduped, benchmark, cfg, text_col, id_col)

    # --- stage 6: mixture shaping (optional) --------------------------
    if cfg.mixture_weights is not None and cfg.mixture_epochs:
        # repetition-capable form: rates above 1 replicate docs (the
        # multi-epoch upweighting); the copy_no column makes every
        # replica its own downstream row
        from clickhouse_mysql_data_reader_spark.operators.sampling import (
            mixture_oversample,
        )

        mixed = mixture_oversample(
            clean,
            token_count(F.col(text_col)),
            id_col,
            source_col,
            cfg.mixture_weights,
            cfg.mixture_token_budget,
            default_weight=cfg.mixture_default_weight,
        )
    elif cfg.mixture_weights is not None:
        rates = (
            mixture_sample(
                clean,
                token_count(F.col(text_col)),
                id_col,
                source_col,
                cfg.mixture_weights,
                cfg.mixture_token_budget,
                default_weight=cfg.mixture_default_weight,
            )
            .select(F.col("source").alias(source_col), "rate")
        )
        # the exact keep condition mixture_sample's report counts
        mixed = (
            clean.join(F.broadcast(rates), source_col)
            .filter(
                (F.col("rate") >= 1.0)
                | (
                    hash_bucket(F.col(id_col), "mixture")
                    < hex_threshold_expr(F.col("rate"))
                )
            )
            .drop("rate")
        )
    else:
        mixed = clean

    # --- stage 7: sequence packing ------------------------------------
    if cfg.mixture_epochs and cfg.mixture_weights is not None:
        # replicas share id_col, and pack_sequences' default id-derived
        # layout needs a unique order key — order on the (id, copy_no)
        # composite (unique within the id-derived shard) so every copy
        # gets its own deterministic pack slot
        packed = pack_sequences(
            mixed,
            token_count(F.col(text_col)),
            id_col,
            budget=cfg.pack_budget,
            n_shards=cfg.pack_shards,
            order_col=F.struct(F.col(id_col), F.col("copy_no")),
        )
    else:
        packed = pack_sequences(
            mixed,
            token_count(F.col(text_col)),
            id_col,
            budget=cfg.pack_budget,
            n_shards=cfg.pack_shards,
        )

    # --- optional: leakage-safe split assignments ----------------------
    # Reuses the components ALREADY computed for the keeper stage (all
    # edge types), so the split respects exactly the near-dup graph the
    # pipeline deduped with; survivors absent from the graph
    # (singletons) hash their own id. One extra join over the final
    # survivors — the component frame is bounded by the near-dup
    # population, never the corpus.
    split_assign = None
    if cfg.split_fractions is not None:
        split_assign = _split_assignment_frame(
            mixed, comps, cfg.split_fractions, id_col
        )

    return CurationResult(
        quality_gated=gated,
        after_exact_dedup=exact,
        near_dup_components=comps,
        after_near_dedup=deduped,
        after_decontamination=clean,
        after_mixture=mixed,
        packed=packed,
        split_assignments=split_assign,
        stage_frames={
            "input": docs,
            "quality_gated": gated,
            "after_exact_dedup": exact,
            **(
                {"after_boilerplate": boiled}
                if cfg.max_boiler_frac is not None
                else {}
            ),
            "after_near_dedup": deduped,
            "after_decontamination": clean,
            "after_mixture": mixed,
            "packed": packed,
        },
        persisted_frames=persisted,
    )


def _tagged(df: DataFrame, epoch_id: int | None = None, run_id: str | None = None) -> DataFrame:
    """``df`` with the ``(_epoch, _run)`` append tag every state row
    carries (``(-1, "")`` for plain batch appends and backfills)."""
    return df.withColumns(
        {
            "_epoch": F.lit(-1 if epoch_id is None else int(epoch_id)).cast("long"),
            "_run": F.lit(run_id or ""),
        }
    )


def _split_pin(fractions) -> dict:
    """The pinned form of a split configuration (fractions + fixed salt)."""
    return {"fractions": [[str(n), float(f)] for n, f in fractions], "salt": "split"}


_MANIFESTS = "_manifest"


class CurationState:
    """Landed dedup state of the already-curated corpus — the sidecar
    tables an incremental (daily-batch) pipeline needs to dedup NEW
    documents against everything kept so far WITHOUT recomputing the
    historical corpus:

    - ``fingerprints``: (doc_id, fp) md5 content fingerprints (exact dedup)
    - ``bands``: (doc_id, band_id, band_hash) LSH buckets (near-dup
      candidate generation)
    - ``shingles``: (doc_id, sh_h) shingle hashes (Jaccard verify)
    - OPTIONAL, one per enabled feature: ``prefixes`` (AllPairs prefix
      shingles, the exact candidate source of ``near_dup_exact``/
      ``near_dup_containment``), ``srp_bands``/``embeddings`` (semantic),
      ``image_fps``/``audio_fps``/``video_fps`` (media fingerprints),
      ``line_fps`` (fingerprints of every eligible line of every INPUT
      batch, ``dedup_lines``) and ``splits`` (the immutable leakage-safe
      split of every kept doc).

    State grows with the KEPT corpus only (dropped docs contribute
    nothing). An optional Bloom filter over the landed fingerprints
    (``bloom_bits``) lets increments route definite misses around the
    history anti-join.

    ONE commit protocol — the ClickHouse-part / Delta-log shape that
    ``SnapshotStore`` uses for the pump. ``write``, the backfills,
    ``ensure_prefixes``/``ensure_bloom`` and ``compact`` each write their
    new files under a fresh ``gen-<N>/`` directory, then commit by adding
    manifest version ``_manifest/<N>.json``. A version is written to a
    temp name and renamed, and a rename onto an existing version is
    refused, so any Hadoop filesystem works and a concurrent commit
    fails loudly instead of overwriting. The manifest lists every
    table's live generation dirs, the Bloom filter file and the pinned
    parameters. Readers find files ONLY through the highest version, so
    a batch lands in all its tables at once or not at all: a crash
    before the rename leaves the previous snapshot (the orphaned
    generation is cleared by the next attempt), a crash after it the
    new one, and a plain retry of a crashed batch lands it exactly
    once. After each commit, unreferenced generations and older
    manifest versions are garbage-collected. One writer at a time.

    Every row carries an ``(_run, _epoch)`` tag (``("", -1)`` for plain
    batch appends; the stream's run id + foreachBatch epoch id for
    streaming appends). Readers can exclude one (run, epoch)'s rows —
    that is what makes a REPLAYED streaming epoch see exactly the
    pre-epoch history instead of its own first attempt's appends (see
    ``curate_stream``). Epoch ids alone are CHECKPOINT-scoped (a
    restarted stream with a fresh checkpoint restarts at 0), so the
    run id is what keeps one run's exclusion from hiding another run's
    genuine history.

    Pinned parameters, one manifest key per feature (MinHash/LSH, Bloom
    sizing, prefix thresholds, SRP geometry, media geometry + decoder
    tag, split fractions): the first commit that uses a feature pins
    it, and every later commit and incremental read validates the
    handle against the pins — rows derived under other parameters never
    match the landed ones (silently missed duplicates). A handle that
    lacks a landed feature may not commit either: its batches would be
    invisible to that feature's later probes. Probe-time thresholds
    (cosine, Hamming budgets, video match count) are not pinned; their
    verify is exact.

    Legacy states (table dirs appended in place, one parameter file per
    feature, no manifest) are imported once on first open through the
    compaction path: each table is read with ``mergeSchema``, missing
    tags are filled with NULL (so legacy untagged rows keep surviving
    epoch exclusion), generation 1 is committed with the old pins and
    the legacy files are removed. A legacy Bloom filter is dropped and
    rebuilt from the landed fingerprints on its next use.
    """

    _CORE = ("fingerprints", "shingles", "bands")
    _TABLES = (
        *_CORE,
        "line_fps",
        "prefixes",
        "srp_bands",
        "embeddings",
        "image_fps",
        "audio_fps",
        "video_fps",
        "splits",
    )
    # feature -> (ctor argument that enables it, what a reconstruction
    # must reuse, the tables it lands, how a landed state gains them)
    _FEATURES = {
        "minhash": (None, "parameters", _CORE, None),
        "bloom": ("bloom_bits", "sizing", (), None),
        "prefix": (
            "jaccard_exact_threshold/containment_threshold",
            "thresholds",
            ("prefixes",),
            "ensure_prefixes(spark)",
        ),
        "embed": (
            "embed_dim",
            "geometry",
            ("embeddings", "srp_bands"),
            "backfill_embeddings(historical_kept_corpus)",
        ),
        "image": (
            "image_grid_w",
            "geometry and decoder",
            ("image_fps",),
            "backfill_image_fps(historical_kept_corpus)",
        ),
        "audio": (
            "audio_n_windows",
            "geometry and decoder",
            ("audio_fps",),
            "backfill_audio_fps(historical_kept_corpus)",
        ),
        "video": (
            "video_every_ms",
            "geometry and decoder",
            ("video_fps",),
            "backfill_video_fps(historical_kept_corpus)",
        ),
        "split": (None, "fractions", ("splits",), None),
    }

    def __init__(
        self,
        state_dir: str,
        minhash_k: int = 16,
        lsh_bands: int = 4,
        bloom_bits: int | None = None,
        bloom_hashes: int = 7,
        jaccard_exact_threshold: float | None = None,
        containment_threshold: float | None = None,
        embed_dim: int | None = None,
        embed_bits: int = 32,
        embed_srp_bands: int = 4,
        embed_seed: str = "srp",
        embed_col: str = "embedding",
        image_grid_w: int | None = None,
        image_grid_h: int = 8,
        image_col: str = "image",
        image_decode_fn: Callable | None = None,
        image_decoder_tag: str | None = None,
        audio_n_windows: int | None = None,
        audio_col: str = "audio",
        audio_decode_fn: Callable | None = None,
        audio_decoder_tag: str | None = None,
        video_every_ms: int | None = None,
        video_col: str = "video",
        video_duration_col: str = "video_ms",
        video_grid_w: int = 7,
        video_grid_h: int = 8,
        video_decode_fn: Callable | None = None,
        video_decoder_tag: str | None = None,
    ):
        self.state_dir = str(state_dir)
        self.minhash_k = minhash_k
        self.lsh_bands = lsh_bands
        # Opt-in IMAGE near-dup support for increments
        # (cfg.image_near_hamming): when ``image_grid_w`` is set,
        # write() additionally lands ``image_fps`` (doc_id, dhash) —
        # later batches generate cross-history image candidates by
        # chunk-bucket-joining their dHash longs against the landed
        # ones (operators/dedup.py simhash_near_pairs_cross) and the
        # exact Hamming verify runs on the joined longs directly, so
        # unlike the embed tables ONE landed table carries both the
        # candidate and verify sides (8 bytes per image-bearing kept
        # doc). The grid geometry and the decoder identity tag are
        # pinned; the HAMMING budget is not (the verify is exact over
        # the landed longs, so a later batch may probe at any budget
        # the bit width divides). ``image_col``/``image_decode_fn`` are
        # derive-time inputs (cosmetic / injectable seam), not pinned.
        # Enabling on a state with landed batches needs
        # ``backfill_image_fps`` (like embeddings, the state keeps
        # keys, not media bytes).
        self.image_grid_w = int(image_grid_w) if image_grid_w is not None else None
        self.image_grid_h = int(image_grid_h)
        self.image_col = str(image_col)
        self.image_decode_fn = image_decode_fn
        self.image_decoder_tag = _decoder_tag(
            image_decode_fn, image_decoder_tag
        )
        # Opt-in AUDIO near-dup support (cfg.audio_near_hamming): the
        # image stanza's exact mirror — when ``audio_n_windows`` is
        # set, write() lands ``audio_fps`` (doc_id, ahash); window
        # count + decoder tag pinned, the hamming budget probe-time
        # free. Enable on a landed state via ``backfill_audio_fps``.
        self.audio_n_windows = (
            int(audio_n_windows) if audio_n_windows is not None else None
        )
        self.audio_col = str(audio_col)
        self.audio_decode_fn = audio_decode_fn
        self.audio_decoder_tag = _decoder_tag(
            audio_decode_fn, audio_decoder_tag
        )
        # Opt-in VIDEO near-dup support (cfg.video_min_matching): when
        # ``video_every_ms`` is set, write() lands ``video_fps``
        # (doc_id, fhash — one row per DISTINCT sampled-frame hash, the
        # shingle-table shape) and probes equi-join the landed rows +
        # count matches per pair. Sampling interval, grid geometry and
        # decoder tag pinned; the MATCH THRESHOLD is probe-time free.
        # Enable on a landed state via ``backfill_video_fps``.
        self.video_every_ms = (
            int(video_every_ms) if video_every_ms is not None else None
        )
        self.video_col = str(video_col)
        self.video_duration_col = str(video_duration_col)
        self.video_grid_w = int(video_grid_w)
        self.video_grid_h = int(video_grid_h)
        self.video_decode_fn = video_decode_fn
        self.video_decoder_tag = _decoder_tag(
            video_decode_fn, video_decoder_tag
        )
        # Opt-in SEMANTIC near-dup support for increments
        # (cfg.embed_near_cos): when ``embed_dim`` is set, write()
        # additionally lands ``srp_bands`` (doc_id, band_idx, band_val)
        # and ``embeddings`` (doc_id, v) — later batches generate
        # cross-history semantic candidates by bucket-joining their SRP
        # bands against the landed ones and verify with the exact
        # cosine against the landed VECTORS (storage: dim x 8 bytes per
        # kept doc; the price of a no-false-positive verify — bands
        # alone can only propose). The GEOMETRY (dim/bits/bands/seed)
        # is pinned: bands derived with any other geometry can never
        # collide with the landed ones. The cosine THRESHOLD is not
        # pinned: the verify is exact, so a later batch may probe at
        # any threshold. ``embed_col`` names the vector column on
        # incoming kept frames; cosmetic (the landed table normalizes
        # to ``v``), so not pinned. Enabling on a state with landed
        # batches needs ``backfill_embeddings`` (unlike prefixes there
        # is nothing to derive vectors from — the state keeps no text).
        self.embed_dim = int(embed_dim) if embed_dim is not None else None
        if self.embed_dim is not None and embed_bits % embed_srp_bands:
            raise ValueError(
                f"embed_bits={embed_bits} not divisible by "
                f"embed_srp_bands={embed_srp_bands}"
            )
        self.embed_bits = int(embed_bits)
        self.embed_srp_bands = int(embed_srp_bands)
        self.embed_seed = str(embed_seed)
        self.embed_col = str(embed_col)
        # Opt-in EXACT near-dup support for increments: when either
        # threshold is set, write() additionally lands a ``prefixes``
        # table — each kept doc's AllPairs prefix shingles
        # (operators/dedup.py prefix_shingles) at the LOOSER of the two
        # enabled fractions — so later batches generate exact cross-
        # history candidates by bucket-joining batch shingles against
        # landed prefixes (and batch prefixes against landed shingles)
        # instead of re-sorting the whole corpus per increment.
        # Storage cost: ~frac of the shingle table on top of it
        # (jaccard t=0.8 -> ~11%, containment t=0.9 -> ~10%); probe
        # cost per increment: one extra scan of the landed shingles +
        # prefixes with the batch side broadcast. The thresholds are
        # pinned (a prefix landed at frac f is exact for any probe frac
        # <= f, but a SILENT threshold change would land under-length
        # prefixes for future batches — so equality is enforced).
        self.jaccard_exact_threshold = (
            float(jaccard_exact_threshold)
            if jaccard_exact_threshold is not None
            else None
        )
        self.containment_threshold = (
            float(containment_threshold) if containment_threshold is not None else None
        )
        # Opt-in incremental Bloom filter over landed fingerprints
        # (operators/membership.py): maintained ON WRITE so
        # curate_increment's history anti-join can route definite-miss
        # rows around the shuffle join without re-scanning history.
        # Size for the EVENTUAL corpus cardinality — the bit width is
        # pinned for the state's lifetime and an over-full filter
        # degrades to all-maybe (correct, just no speedup).
        # bloom_bits=None disables the filter entirely. Rounded UP to a
        # byte multiple: build_bloom/might_contain reject partial bytes
        # (floor-to-bytes would index past the array), and rounding
        # here is deterministic so every session reconstructing this
        # state lands on the same pinned width.
        self.bloom_bits = ((int(bloom_bits) + 7) // 8) * 8 if bloom_bits else None
        self.bloom_hashes = int(bloom_hashes)

    def _path(self, rel: str = "") -> str:
        return f"{self.state_dir}/{rel}" if rel else self.state_dir

    @classmethod
    def from_config(cls, cfg: CurationConfig, state_dir: str) -> "CurationState":
        """The state handle a ``curate_increment(cfg=...)`` run needs —
        every ctor parameter derived from the CurationConfig so the
        two cannot drift (each geometry/threshold mismatch below is a
        ValueError in curate_increment; deriving kills the class of
        bug where a caller updates cfg but not the handle). Used by
        the --curate-data CLI verb."""
        kw: dict = dict(minhash_k=cfg.minhash_k, lsh_bands=cfg.lsh_bands)
        if cfg.near_dup_exact:
            kw["jaccard_exact_threshold"] = cfg.near_dup_jaccard
        if cfg.near_dup_containment is not None:
            kw["containment_threshold"] = cfg.near_dup_containment
        if cfg.embed_near_cos is not None:
            kw.update(
                embed_dim=cfg.embed_dim,
                embed_bits=cfg.embed_bits,
                embed_srp_bands=cfg.embed_srp_bands,
                embed_seed=cfg.embed_seed,
                embed_col=cfg.embed_col,
            )
        if cfg.image_near_hamming is not None:
            kw.update(
                image_grid_w=cfg.image_grid_w,
                image_grid_h=cfg.image_grid_h,
                image_col=cfg.image_col,
                image_decode_fn=cfg.image_decode_fn,
                image_decoder_tag=cfg.image_decoder_tag,
            )
        if cfg.audio_near_hamming is not None:
            kw.update(
                audio_n_windows=cfg.audio_n_windows,
                audio_col=cfg.audio_col,
                audio_decode_fn=cfg.audio_decode_fn,
                audio_decoder_tag=cfg.audio_decoder_tag,
            )
        if cfg.video_min_matching is not None:
            kw.update(
                video_every_ms=cfg.video_every_ms,
                video_col=cfg.video_col,
                video_duration_col=cfg.video_duration_col,
                video_grid_w=cfg.video_grid_w,
                video_grid_h=cfg.video_grid_h,
                video_decode_fn=cfg.video_decode_fn,
                video_decoder_tag=cfg.video_decoder_tag,
            )
        return cls(state_dir, **kw)

    # ---- the commit protocol -----------------------------------------

    def _fs(self, spark):
        """(rel -> Hadoop Path under the state dir, its FileSystem)."""
        jvm_path = spark._jvm.org.apache.hadoop.fs.Path
        fs = jvm_path(self.state_dir).getFileSystem(spark._jsc.hadoopConfiguration())
        return (lambda rel="": jvm_path(self._path(rel))), fs

    def _get(self, spark, rel: str) -> bytes:
        hp, fs = self._fs(spark)
        stream = fs.open(hp(rel))
        try:
            return bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()

    def _put(self, spark, rel: str, payload: bytes) -> None:
        hp, fs = self._fs(spark)
        out = fs.create(hp(rel), True)
        try:
            out.write(bytearray(payload))
        finally:
            out.close()

    def _data_files(self, spark, rels) -> list:
        hp, fs = self._fs(spark)
        return [
            st
            for rel in rels
            if fs.exists(hp(rel))
            for st in fs.listStatus(hp(rel))
            if not st.getPath().getName().startswith(("_", "."))
        ]

    @staticmethod
    def _has(m: dict, *tables: str) -> bool:
        return all(t in m["tables"] for t in tables)

    def _manifest(self, spark) -> dict:
        """The committed snapshot: the highest manifest version
        ({version, tables: {name: [generation dirs]}, params, bloom}).
        A legacy state is imported first."""
        hp, fs = self._fs(spark)
        if fs.exists(hp(_MANIFESTS)):
            names = sorted(
                n
                for n in (st.getPath().getName() for st in fs.listStatus(hp(_MANIFESTS)))
                if n.endswith(".json")  # not a temp file
            )
            if names:
                return json.loads(self._get(spark, f"{_MANIFESTS}/{names[-1]}"))
        return self._import_legacy(spark)

    def _commit(
        self,
        spark,
        m: dict,
        frames: dict,
        params: dict,
        bloom: bytes | None = None,
        replace: bool = False,
    ) -> dict:
        """THE commit point: write ``frames`` (table -> tagged rows)
        and the ``bloom`` bytes under generation ``gen-<v+1>``, then
        add manifest version v+1 that appends the generation to each
        written table (or, with ``replace``, makes it the tables' only
        one). Returns the new manifest."""
        hp, fs = self._fs(spark)
        v = m["version"] + 1
        gen = f"gen-{v:06d}"
        fs.delete(hp(gen), True)  # orphan of a crashed attempt at v
        tables = {} if replace else dict(m["tables"])
        for name, df in frames.items():
            df.write.parquet(self._path(f"{gen}/{name}"))
            tables[name] = [*tables.get(name, []), f"{gen}/{name}"]
        new = {
            "version": v,
            "tables": {n: tables[n] for n in self._TABLES if n in tables},
            "params": params,
            "bloom": m["bloom"] if bloom is None else f"{gen}/bloom.bin",
        }
        if bloom is not None:
            self._put(spark, new["bloom"], bloom)
        final, tmp = f"{_MANIFESTS}/{v:010d}.json", f"{_MANIFESTS}/.{v:010d}.tmp"
        self._put(spark, tmp, json.dumps(new).encode())
        if fs.exists(hp(final)) or not fs.rename(hp(tmp), hp(final)):
            raise IOError(
                f"CurationState({self.state_dir}): manifest version {v} "
                "was committed by another writer"
            )
        try:
            self._gc(spark, new)
        except Exception as e:  # the commit stands; the next one collects
            warnings.warn(f"CurationState({self.state_dir}): gc failed: {e}")
        return new

    def _gc(self, spark, m: dict) -> None:
        """Delete generations ``m`` no longer references (superseded by
        compaction, or orphaned by a crash) and older manifest
        versions. Best-effort, after the commit."""
        hp, fs = self._fs(spark)
        live = {rel.split("/")[0] for rels in m["tables"].values() for rel in rels}
        live.add((m["bloom"] or "").split("/")[0])
        for st in fs.listStatus(hp()):
            name = st.getPath().getName()
            if name.startswith("gen-") and name not in live:
                fs.delete(st.getPath(), True)
        for st in fs.listStatus(hp(_MANIFESTS)):
            if st.getPath().getName() != f"{m['version']:010d}.json":
                fs.delete(st.getPath(), False)

    def _rewrite(
        self, spark, m: dict, target_file_bytes: int, merge_schema: bool = False
    ) -> dict:
        """The compaction path: every table of ``m`` (and the Bloom
        filter) rewritten into size-targeted files of ONE new generation,
        tags preserved (and added as NULL where a legacy file lacks
        them), committed as the tables' only generation."""
        frames = {}
        for name, rels in m["tables"].items():
            size = sum(st.getLen() for st in self._data_files(spark, rels))
            df = spark.read.option("mergeSchema", merge_schema).parquet(
                *[self._path(r) for r in rels]
            )
            for tag, typ in (("_epoch", "long"), ("_run", "string")):
                df = df.withColumn(
                    tag, (F.col(tag) if tag in df.columns else F.lit(None)).cast(typ)
                )
            frames[name] = df.repartition(max(1, -(-size // int(target_file_bytes))))
        bloom = None if m["bloom"] is None else self._get(spark, m["bloom"])
        return self._commit(spark, m, frames, m["params"], bloom=bloom, replace=True)

    def _import_legacy(self, spark) -> dict:
        """One-time import of a pre-manifest state dir (see the class
        docstring); the empty snapshot when there is nothing to import."""
        hp, fs = self._fs(spark)
        legacy: dict = {"version": 0, "tables": {}, "params": {}, "bloom": None}
        if not fs.exists(hp()):
            return legacy
        for name in self._TABLES:
            if self._data_files(spark, [name]):
                legacy["tables"][name] = [name]
        pins = [
            st.getPath().getName()
            for st in fs.listStatus(hp())
            if st.getPath().getName().startswith("_")
            and st.getPath().getName().endswith("params.json")
        ]
        for name in pins:
            # the one pin file without a feature name held MinHash/LSH
            key = name[1 : -len("params.json")].rstrip("_") or "minhash"
            legacy["params"][key] = json.loads(self._get(spark, name))
        if not legacy["tables"] and not legacy["params"]:
            return legacy
        m = self._rewrite(spark, legacy, 128 * 1024 * 1024, merge_schema=True)
        for rel in (*self._TABLES, *pins, "_bloom.bin"):
            fs.delete(hp(rel), True)
        return m

    # ---- pinned parameters -------------------------------------------

    def _pins(self) -> dict:
        """This handle's parameters, one key per feature (None: the
        feature is off on this handle)."""
        return {
            "minhash": {"minhash_k": self.minhash_k, "lsh_bands": self.lsh_bands},
            "bloom": None
            if self.bloom_bits is None
            else {"bloom_bits": self.bloom_bits, "bloom_hashes": self.bloom_hashes},
            "prefix": None
            if self._prefix_frac() is None
            else {
                "jaccard_exact_threshold": self.jaccard_exact_threshold,
                "containment_threshold": self.containment_threshold,
            },
            "embed": None
            if self.embed_dim is None
            else {
                "embed_dim": self.embed_dim,
                "embed_bits": self.embed_bits,
                "embed_srp_bands": self.embed_srp_bands,
                "embed_seed": self.embed_seed,
            },
            "image": None
            if self.image_grid_w is None
            else {
                "image_grid_w": self.image_grid_w,
                "image_grid_h": self.image_grid_h,
                "image_decoder": self.image_decoder_tag,
            },
            "audio": None
            if self.audio_n_windows is None
            else {
                "audio_n_windows": self.audio_n_windows,
                "audio_decoder": self.audio_decoder_tag,
            },
            "video": None
            if self.video_every_ms is None
            else {
                "video_every_ms": self.video_every_ms,
                "video_grid_w": self.video_grid_w,
                "video_grid_h": self.video_grid_h,
                "video_decoder": self.video_decoder_tag,
            },
        }

    def _checked_pins(self, m: dict, split: dict | None = None) -> dict:
        """Validate this handle (and a batch's ``split`` pin) against
        the pins of ``m``; returns the pins the next commit records —
        the first commit using a feature pins it."""
        mine = {**self._pins(), "split": split}
        for key, have in m["params"].items():
            arg, what = self._FEATURES[key][:2]
            want = mine[key]
            if want is None and arg is not None:
                raise ValueError(
                    f"CurationState({self.state_dir}) has landed {key} state "
                    f"({have}) but this instance was constructed without "
                    f"{arg} — its writes would leave landed docs invisible "
                    f"to every later {key} probe (silently missed "
                    "cross-batch duplicates); construct with the landed "
                    "parameters"
                )
            if want is not None and want != have:
                raise ValueError(
                    f"CurationState({self.state_dir}) constructed with "
                    f"{want} but the landed state was derived with {have}; "
                    f"rows derived differently never match — use the landed "
                    f"{what} (pinned for the state's lifetime) or a fresh state"
                )
        return {**m["params"], **{k: v for k, v in mine.items() if v is not None}}

    def _require_tables(self, m: dict, features) -> None:
        """On a landed state, every feature in ``features`` needs its
        tables landed too: appending or probing only new batches would
        leave the older docs invisible to it (silently missed
        cross-batch duplicates)."""
        if not self._has(m, *self._CORE):
            return
        for f in features:
            tables, fix = self._FEATURES[f][2:]
            if fix is not None and not self._has(m, *tables):
                raise ValueError(
                    f"CurationState({self.state_dir}) has landed batches but "
                    f"no landed {'/'.join(tables)} — run {fix} once "
                    f"(offline) before {f}-enabled appends or probes"
                )

    # ---- read side ---------------------------------------------------

    def landed(self, spark, *tables: str) -> bool:
        """True once every named table has a committed generation."""
        return self._has(self._manifest(spark), *tables)

    def exists(self, spark) -> bool:
        """True once a first batch is committed (the three core tables
        are in the manifest). Files of an uncommitted generation are
        never consulted, so a crashed first write reads as not landed
        and the retry bootstraps."""
        return self.landed(spark, *self._CORE)

    def _read(
        self,
        spark,
        name: str,
        exclude_epoch: int | None,
        run_id: str | None,
    ) -> DataFrame:
        rels = self._manifest(spark)["tables"].get(name)
        if not rels:
            raise FileNotFoundError(
                f"CurationState({self.state_dir}) has no landed {name} table"
            )
        df = spark.read.parquet(*[self._path(r) for r in rels])
        if exclude_epoch is not None:
            # eqNullSafe: legacy rows carry NULL tags — a null-hostile
            # `!=` would silently drop that entire history from every
            # dedup join
            df = df.filter(
                ~(
                    F.col("_epoch").eqNullSafe(int(exclude_epoch))
                    & F.col("_run").eqNullSafe(run_id or "")
                )
            )
        return df.drop("_epoch", "_run")

    def fingerprints(
        self, spark, exclude_epoch: int | None = None, run_id: str | None = None
    ) -> DataFrame:
        return self._read(spark, "fingerprints", exclude_epoch, run_id)

    def shingles(
        self, spark, exclude_epoch: int | None = None, run_id: str | None = None
    ) -> DataFrame:
        return self._read(spark, "shingles", exclude_epoch, run_id)

    def bands(
        self, spark, exclude_epoch: int | None = None, run_id: str | None = None
    ) -> DataFrame:
        return self._read(spark, "bands", exclude_epoch, run_id)

    def line_fps(
        self, spark, exclude_epoch: int | None = None, run_id: str | None = None
    ) -> DataFrame:
        """The landed (line_fp: long) history for the incremental line
        pass, with the same replayed-epoch exclusion as the doc tables."""
        return self._read(spark, "line_fps", exclude_epoch, run_id)

    def split_assignments(
        self, spark, exclude_epoch: int | None = None, run_id: str | None = None
    ) -> DataFrame:
        """The landed (doc_id, component, split) history — every kept
        doc's immutable split. Deduplicated on the full triple: a
        replayed epoch double-appends IDENTICAL rows (the assignment is
        a deterministic hash of the component label), so the dedup is
        exact; a doc_id appearing with two DIFFERENT assignments would
        survive the dedup and is a corruption signal, not something to
        silently collapse."""
        return self._read(spark, "splits", exclude_epoch, run_id).dropDuplicates(
            ["doc_id", "component", "split"]
        )

    def prefixes(
        self, spark, exclude_epoch: int | None = None, run_id: str | None = None
    ) -> DataFrame:
        """The landed (doc_id, sh_h) prefix history, with the same
        replayed-epoch exclusion as the doc tables. (A backfilled row
        of an excluded epoch can surface here — tagged ("", -1) by
        ``ensure_prefixes`` — but the candidates it generates die in
        the metric verify, whose shingle read IS epoch-excluded.)"""
        return self._read(spark, "prefixes", exclude_epoch, run_id)

    def srp_bands(
        self, spark, exclude_epoch: int | None = None, run_id: str | None = None
    ) -> DataFrame:
        """The landed (doc_id, band_idx, band_val) SRP bucket history."""
        return self._read(spark, "srp_bands", exclude_epoch, run_id)

    def embeddings(
        self, spark, exclude_epoch: int | None = None, run_id: str | None = None
    ) -> DataFrame:
        """The landed (doc_id, v: array<double>) vector history — the
        exact-cosine verify side of the semantic probe."""
        return self._read(spark, "embeddings", exclude_epoch, run_id)

    def image_fps(
        self, spark, exclude_epoch: int | None = None, run_id: str | None = None
    ) -> DataFrame:
        """The landed (doc_id, dhash) perceptual-fingerprint history."""
        return self._read(spark, "image_fps", exclude_epoch, run_id)

    def audio_fps(
        self, spark, exclude_epoch: int | None = None, run_id: str | None = None
    ) -> DataFrame:
        """The landed (doc_id, ahash) energy-contour history."""
        return self._read(spark, "audio_fps", exclude_epoch, run_id)

    def video_fps(
        self, spark, exclude_epoch: int | None = None, run_id: str | None = None
    ) -> DataFrame:
        """The landed (doc_id, fhash) sampled-frame history."""
        return self._read(spark, "video_fps", exclude_epoch, run_id)

    # ---- Bloom filter over the landed fingerprints --------------------
    # Invariant: the committed filter is a SUPERSET of the committed
    # fingerprint set. It commits in the same manifest as the rows it
    # covers, bits are only ever added, and a state without one builds
    # it from the full landed history.

    def read_bloom(self, spark) -> bytes | None:
        """The committed filter bytes, or None if none is committed."""
        rel = self._manifest(spark)["bloom"]
        return None if rel is None else self._get(spark, rel)

    def _landed_bloom(self, spark, m: dict) -> bytes | None:
        """The filter covering ``m``'s fingerprints: the committed one,
        else one built from the landed history (None: nothing landed)."""
        from clickhouse_mysql_data_reader_spark.operators.membership import (
            build_bloom,
        )

        if m["bloom"] is not None:
            return self._get(spark, m["bloom"])
        if not self._has(m, "fingerprints"):
            return None
        return build_bloom(
            self.fingerprints(spark), "fp", self.bloom_bits, self.bloom_hashes
        )

    def ensure_bloom(self, spark) -> None:
        """Commit the filter built from the FULL landed fingerprint
        history when enabled but absent (a pre-bloom state being
        upgraded). One pass over the fingerprint table — paid once, not
        per increment."""
        if self.bloom_bits is None:
            return
        m = self._manifest(spark)
        pins = self._checked_pins(m)
        if m["bloom"] is None and self._has(m, "fingerprints"):
            self._commit(spark, m, {}, pins, bloom=self._landed_bloom(spark, m))

    # ---- backfills: enable a feature on an already-landed state -------

    def _prefix_frac(self) -> float | None:
        """The slice fraction the landed prefixes are derived with: the
        LOOSER (max) of the enabled metrics' bounds, so the one table
        serves both probes (a longer prefix is a candidate superset —
        exact either way, see operators/dedup.py prefix_shingles)."""
        fracs = []
        if self.jaccard_exact_threshold is not None:
            t = self.jaccard_exact_threshold
            fracs.append((1.0 - t) / (1.0 + t))
        if self.containment_threshold is not None:
            fracs.append(1.0 - self.containment_threshold)
        return max(fracs) if fracs else None

    def ensure_prefixes(self, spark) -> None:
        """Backfill the prefix table from the FULL landed shingle
        history when exact near-dup is enabled on a state that landed
        batches before. One rarest-sort pass over the landed shingles —
        the corpus-wide cost write() amortizes per batch, paid once
        here, as its own commit. ``write()`` calls it before deriving
        its batch, so a prefix-enabled handle never lands prefixes for
        new docs only."""
        from clickhouse_mysql_data_reader_spark.operators.dedup import (
            prefix_shingles,
        )

        frac = self._prefix_frac()
        if frac is None:
            return
        m = self._manifest(spark)
        pins = self._checked_pins(m)
        if self._has(m, "prefixes") or not self._has(m, *self._CORE):
            return
        rows = prefix_shingles(
            self.shingles(spark).dropDuplicates(["doc_id", "sh_h"]), frac
        )
        self._commit(spark, m, {"prefixes": _tagged(rows)}, pins)

    def _backfill(self, kept: DataFrame, feature: str, id_col: str, derive) -> None:
        """Enable ``feature`` on a state whose batches landed before it:
        derive its tables from the historical KEPT corpus the caller
        supplies (the state keeps keys, not content or media bytes) and
        commit them together. OFFLINE op: quiesce writers first. Rows
        are tagged ``("", -1)``; epoch exclusion is settled by the exact
        verify, as documented on ``prefixes``."""
        spark = kept.sparkSession
        if self._pins()[feature] is None:
            raise ValueError(
                f"backfilling {feature} needs a {feature}-enabled state — "
                f"construct CurationState with {self._FEATURES[feature][0]} "
                "(and the rest of its parameters) first"
            )
        m = self._manifest(spark)
        pins = self._checked_pins(m)
        tables = self._FEATURES[feature][2]
        if not self._has(m, *tables):
            rows = derive(kept, id_col)
            self._commit(
                spark, m, {t: _tagged(df) for t, df in zip(tables, rows)}, pins
            )

    def backfill_embeddings(self, kept: DataFrame, id_col: str = "doc_id") -> None:
        """``_backfill`` of both semantic tables; ``kept`` carries the
        ``embed_col`` vectors (there is nothing on disk to derive them
        from)."""
        self._backfill(kept, "embed", id_col, self._derive_embed)

    def backfill_image_fps(self, kept: DataFrame, id_col: str = "doc_id") -> None:
        """``_backfill`` of ``image_fps``; ``kept`` carries ``image_col``."""
        self._backfill(
            kept, "image", id_col, lambda k, i: (self._derive_image(k, i),)
        )

    def backfill_audio_fps(self, kept: DataFrame, id_col: str = "doc_id") -> None:
        """``_backfill`` of ``audio_fps``; ``kept`` carries ``audio_col``."""
        self._backfill(
            kept, "audio", id_col, lambda k, i: (self._derive_audio(k, i),)
        )

    def backfill_video_fps(self, kept: DataFrame, id_col: str = "doc_id") -> None:
        """``_backfill`` of ``video_fps``; ``kept`` carries the clip and
        duration columns."""
        self._backfill(
            kept, "video", id_col, lambda k, i: (self._derive_video(k, i),)
        )

    # ---- write side --------------------------------------------------

    def _derive_embed(self, kept: DataFrame, id_col: str):
        """(embeddings, srp_bands) rows for a kept batch — the same
        ``srp_band_table`` geometry ``_semantic_edge_set`` probes with,
        so landed bands always collide with a matching-geometry
        probe's."""
        from clickhouse_mysql_data_reader_spark.operators.similarity import (
            as_double_array,
            srp_band_table,
        )

        if self.embed_col not in kept.columns:
            raise ValueError(
                "embed-enabled CurationState needs the "
                f"{self.embed_col!r} vector column (array<float/double>, "
                f"length {self.embed_dim}) on every kept batch; got "
                f"{kept.columns}"
            )
        vecs = kept.select(
            F.col(id_col).alias("doc_id"),
            as_double_array(self.embed_col).alias("v"),
        )
        srp = srp_band_table(
            vecs,
            self.embed_dim,
            n_bits=self.embed_bits,
            n_bands=self.embed_srp_bands,
            id_col="doc_id",
            vec_col="v",
            seed=self.embed_seed,
        ).withColumnRenamed("vid", "doc_id")
        return vecs, srp

    def _derive_audio(self, kept: DataFrame, id_col: str) -> DataFrame:
        """(doc_id, ahash) rows for a kept batch — the same
        ``_audio_sigs`` derivation the edge stages probe with."""
        if self.audio_col not in kept.columns:
            raise ValueError(
                "audio-enabled CurationState needs the "
                f"{self.audio_col!r} binary column on every kept batch; "
                f"got {kept.columns}"
            )
        return _audio_sigs(
            kept, id_col, self.audio_col, self.audio_n_windows,
            self.audio_decode_fn,
        )

    def _derive_video(self, kept: DataFrame, id_col: str) -> DataFrame:
        """(doc_id, fhash) rows for a kept batch — the same
        ``_video_sigs`` derivation the edge stages probe with (a
        minimal cfg view carries the state's pinned geometry)."""
        missing = [
            c for c in (self.video_col, self.video_duration_col)
            if c not in kept.columns
        ]
        if missing:
            raise ValueError(
                "video-enabled CurationState needs the "
                f"{self.video_col!r} (binary) and "
                f"{self.video_duration_col!r} (BIGINT ms) columns on "
                f"every kept batch; missing {missing} in {kept.columns}"
            )
        cfg_view = CurationConfig(
            video_min_matching=1,
            video_col=self.video_col,
            video_duration_col=self.video_duration_col,
            video_every_ms=self.video_every_ms,
            video_grid_w=self.video_grid_w,
            video_grid_h=self.video_grid_h,
            video_decode_fn=self.video_decode_fn,
        )
        return _video_sigs(kept, id_col, cfg_view)

    def _derive_image(self, kept: DataFrame, id_col: str) -> DataFrame:
        """(doc_id, dhash) rows for a kept batch — the same
        ``_image_sigs`` derivation the edge stages probe with, so
        landed fingerprints always chunk-collide with a
        matching-geometry probe's."""
        if self.image_col not in kept.columns:
            raise ValueError(
                "image-enabled CurationState needs the "
                f"{self.image_col!r} binary column on every kept batch; "
                f"got {kept.columns}"
            )
        return _image_sigs(
            kept,
            id_col,
            self.image_col,
            self.image_grid_w,
            self.image_grid_h,
            self.image_decode_fn,
        )

    def _derive(self, kept: DataFrame, text_col: str, id_col: str):
        from clickhouse_mysql_data_reader_spark.operators.dedup import (
            band_table,
            prefix_shingles,
        )

        fp = kept.select(
            F.col(id_col).alias("doc_id"),
            content_fingerprint(F.col(text_col)).alias("fp"),
        )
        sh = shingle_table(kept, text_col, id_col, partition_by_id=True)
        bands = band_table(
            minhash_signatures(sh, num_hashes=self.minhash_k),
            num_hashes=self.minhash_k,
            bands=self.lsh_bands,
        )
        frac = self._prefix_frac()
        # batch-local rarest-first ordering is exact for all later
        # probes (one-sided prefix theorem — see prefix_shingles)
        prefixes = prefix_shingles(sh, frac) if frac is not None else None
        emb, srp = (
            self._derive_embed(kept, id_col)
            if self.embed_dim is not None
            else (None, None)
        )
        return fp, sh, bands, prefixes, emb, srp

    def write(
        self,
        kept: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        epoch_id: int | None = None,
        run_id: str | None = None,
        image_sigs: DataFrame | None = None,
        audio_sigs: DataFrame | None = None,
        video_sigs: DataFrame | None = None,
        line_fps: DataFrame | None = None,
        split_comps: DataFrame | None = None,
        split_fractions=None,
    ) -> DataFrame:
        """Land one kept batch in ONE commit: its rows in every enabled
        doc table, the batch's surviving eligible-line fingerprints
        ``line_fps`` (``dedup_lines``), and the split assignment of the
        kept docs over their within-batch near-dup components
        ``split_comps`` (pinning ``split_fractions``). A crash anywhere
        leaves the state exactly as before or exactly as after, so a
        plain retry (``epoch_id=None``) lands the batch exactly once;
        ``(epoch_id, run_id)`` tag the rows for replayed-epoch
        exclusion (see ``curate_stream``).

        Returns the CHECKPOINTED ``kept``: it is materialized ONCE via
        ``localCheckpoint`` so every table derives from the checkpointed
        blocks instead of re-executing the caller's full curation plan
        (gates + dedup + LSH) per table — act on the returned frame. On
        a real cluster prefer the ``curate_stream`` shape (state derived
        from the durably landed epoch output) where executor loss during
        the write must be survivable — localCheckpoint blocks are
        executor-local.

        ``image_sigs``/``audio_sigs``/``video_sigs`` are the decode-once
        seam: a caller that already fingerprinted the batch (
        curate_increment's probe stage — a checkpointed frame) hands
        the sigs over and only the kept subset lands; otherwise they
        derive from the checkpointed batch. A prefix-enabled handle over
        a prefix-less landed state backfills the prefixes first
        (``ensure_prefixes``); the other optional features raise until
        the caller backfills them (``backfill_*``).
        """
        from pyspark import StorageLevel

        spark = kept.sparkSession
        self.ensure_prefixes(spark)
        m = self._manifest(spark)
        pins = self._checked_pins(
            m, None if split_comps is None else _split_pin(split_fractions)
        )
        self._require_tables(m, [f for f, pin in self._pins().items() if pin])
        kept = kept.localCheckpoint()
        fp, sh, bands, prefixes, emb, srp = self._derive(kept, text_col, id_col)
        ids = kept.select(F.col(id_col).alias("doc_id"))

        def media(enabled, sigs, derive):
            if enabled is None:
                return None
            if sigs is not None:
                return sigs.join(ids, "doc_id", "left_semi")
            return derive(kept, id_col)

        frames = {
            "fingerprints": fp,
            "shingles": sh,
            "bands": bands,
            "prefixes": prefixes,
            "embeddings": emb,
            "srp_bands": srp,
            "image_fps": media(self.image_grid_w, image_sigs, self._derive_image),
            "audio_fps": media(self.audio_n_windows, audio_sigs, self._derive_audio),
            "video_fps": media(self.video_every_ms, video_sigs, self._derive_video),
            "line_fps": None if line_fps is None else line_fps.select("line_fp"),
            "splits": None
            if split_comps is None
            else _split_assignment_frame(
                kept, split_comps, split_fractions, id_col
            ).select(F.col(id_col).alias("doc_id"), "component", "split"),
        }
        bloom = None
        if self.bloom_bits is not None:
            import numpy as np

            from clickhouse_mysql_data_reader_spark.operators.membership import (
                build_bloom,
            )

            bits = np.frombuffer(
                build_bloom(fp, "fp", self.bloom_bits, self.bloom_hashes), np.uint8
            )
            prior = self._landed_bloom(spark, m)
            if prior is not None:
                bits = bits | np.frombuffer(prior, np.uint8)
            bloom = bits.tobytes()
        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            self._commit(
                spark,
                m,
                {
                    n: _tagged(df, epoch_id, run_id)
                    for n, df in frames.items()
                    if df is not None
                },
                pins,
                bloom=bloom,
            )
        finally:
            sh.unpersist()
        return kept

    # One generation lands per commit; a long-running stream therefore
    # grows thousands of small files per state table. compact() is the
    # maintenance remedy — ClickHouse merges parts for exactly this
    # reason (the reference's server does it implicitly; here it is an
    # explicit offline op).
    def compact(self, spark, target_file_bytes: int = 128 * 1024 * 1024) -> dict:
        """Rewrite every state table into size-targeted files of ONE
        new generation, committed as the tables' only generation (the
        superseded ones are garbage-collected). Every row is preserved
        INCLUDING its ``(_run, _epoch)`` tags (NULL tags of imported
        legacy rows stay NULL — normalizing them to the batch tag
        ``("", -1)`` would make them excludable by a replay that never
        wrote them), so replayed-epoch exclusion works unchanged. A
        crash before the commit leaves the uncompacted snapshot. Needs
        no parameters: a handle built from the state dir alone works.

        OFFLINE op: quiesce writers first (or run it from inside a
        foreachBatch epoch body, where the stream quiesces itself —
        ``curate_stream(compact_every=...)``).

        Returns {table: {"files_before": n, "files_after": m}}.
        """
        m = self._manifest(spark)
        if not m["tables"]:
            return {}
        before = {n: len(self._data_files(spark, r)) for n, r in m["tables"].items()}
        new = self._rewrite(spark, m, target_file_bytes)
        return {
            n: {"files_before": before[n], "files_after": len(self._data_files(spark, r))}
            for n, r in new["tables"].items()
        }

    def growth_report(self, spark) -> dict:
        """Per-table state-growth report: {table: {rows, docs?,
        segments, bytes, files}} for every LANDED sidecar table —
        the number an operator of a daily-batch pipeline actually
        watches (state must grow with the KEPT corpus and nothing
        else, and a file count racing ahead of rows says `compact()`
        is due). `segments` counts distinct (_run, _epoch) append tags.
        One bounded aggregate per table over the raw files (tags
        included — this is the only reader that WANTS them); filesystem
        size via one ContentSummary call per generation dir.
        """
        hp, fs = self._fs(spark)
        report: dict = {}
        for name, rels in self._manifest(spark)["tables"].items():
            sizes = [fs.getContentSummary(hp(r)) for r in rels]
            df = spark.read.parquet(*[self._path(r) for r in rels])
            aggs = [
                F.count(F.lit(1)).alias("rows"),
                F.countDistinct("_run", "_epoch").alias("segments"),
            ]
            if "doc_id" in df.columns:
                aggs.append(F.countDistinct("doc_id").alias("docs"))
            report[name] = {
                **df.agg(*aggs).collect()[0].asDict(),
                "bytes": sum(int(c.getLength()) for c in sizes),
                "files": sum(int(c.getFileCount()) for c in sizes),
            }
        return report

    def media_dup_rate_report(self, spark) -> DataFrame:
        """Per-modality duplication-rate report over the LANDED
        fingerprint tables — the monitor_dup_rate_* query family
        (queries/multimodal.py) read from state instead of re-decoding
        media: one row per landed modality with (modality, n_docs,
        n_distinct_fp, n_dup_docs, dup_rate). ``text`` counts distinct
        exact-content fingerprints; ``image``/``audio`` count the
        landed dHash / energy-contour longs; ``video`` uses the
        frame-SET identity (md5 of the sorted distinct frame hashes
        per clip — the set-valued fingerprint the modality needs).
        Replayed-epoch duplicate rows are collapsed before counting.

        This is what an ops loop reads BEFORE paying for a multimodal
        dedup pass: the media bytes are never re-read and the decode
        never re-runs — each modality is one narrow aggregate over
        landed longs (the video identity adds a bounded per-clip
        sort). Modalities this state never landed are simply absent.
        """
        m = self._manifest(spark)
        parts = []

        def _rate_row(keyed: DataFrame, modality: str) -> DataFrame:
            return keyed.agg(
                F.countDistinct("doc_id").alias("n_docs"),
                F.countDistinct("_k").alias("n_distinct_fp"),
            ).select(
                F.lit(modality).alias("modality"),
                "n_docs",
                "n_distinct_fp",
                (F.col("n_docs") - F.col("n_distinct_fp")).alias("n_dup_docs"),
                F.round(
                    1.0 - F.col("n_distinct_fp") / F.col("n_docs"), 6
                ).alias("dup_rate"),
            )

        flat = (
            ("text", "fingerprints", self.fingerprints, "fp"),
            ("image", "image_fps", self.image_fps, "dhash"),
            ("audio", "audio_fps", self.audio_fps, "ahash"),
        )
        for modality, table, reader, col in flat:
            if not self._has(m, table):
                continue
            keyed = (
                reader(spark)
                .select("doc_id", F.col(col).alias("_k"))
                .dropDuplicates(["doc_id", "_k"])
            )
            parts.append(_rate_row(keyed, modality))
        if self._has(m, "video_fps"):
            fset = (
                self.video_fps(spark)
                .select("doc_id", "fhash")
                .dropDuplicates(["doc_id", "fhash"])
            )
            ident = fset.groupBy("doc_id").agg(
                F.md5(
                    F.array_join(
                        F.transform(
                            F.sort_array(F.collect_list("fhash")),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ).alias("_k")
            )
            parts.append(_rate_row(ident, "video"))
        if not parts:
            return spark.createDataFrame(
                [],
                "modality string, n_docs bigint, n_distinct_fp bigint, "
                "n_dup_docs bigint, dup_rate double",
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


def curate_increment(
    new_docs: DataFrame,
    state: CurationState,
    cfg: CurationConfig = CurationConfig(),
    text_col: str = "text",
    id_col: str = "doc_id",
    update_state: bool = True,
    epoch_id: int | None = None,
    run_id: str | None = None,
    line_fps_out: dict | None = None,
    splits_out: dict | None = None,
    # LAST, not beside cfg: a pre-round-7 caller passing text_col/id_col
    # positionally must keep binding them to the same slots (a mid-
    # signature insertion would silently hand text_col to benchmark)
    benchmark: DataFrame | None = None,
) -> DataFrame:
    """Curate a NEW batch against the landed state of everything kept so
    far — the production shape of the pipeline (daily increments over a
    growing 100 TB corpus; re-curating from scratch each day is not an
    option).

    Within-batch: the same gates + exact dedup + LSH near-dup merge as
    ``curate``, including the configured ``near_dup_keeper`` policy for
    the batch's own components ("longest" elects the best in-batch
    representative exactly like batch mode) and the configured
    candidate policy (``near_dup_exact`` — AllPairs prefix filter,
    provably no missed pair — and the ``near_dup_containment`` second
    edge type; both need a prefix-enabled ``CurationState``, see its
    ctor). Against history: exact dups leave via an anti-join on the
    fingerprint; near-dups leave via LSH bucket collisions with the
    state's band table (or, under ``near_dup_exact``/containment, via
    the exact two-sided prefix join against the landed shingles +
    prefixes), metric-verified against the state's shingles; SEMANTIC
    dups (``embed_near_cos`` — needs an embed-enabled state, see the
    ``CurationState`` ctor) leave via SRP band collisions with the
    landed ``srp_bands`` table, exact-cosine-verified against the
    landed vectors — history ALWAYS wins regardless of keeper policy
    (the kept corpus is immutable), so cross dups drop the NEW doc even
    when it is longer than the landed keeper. The state tables are joined on their keys only —
    the historical corpus text is never re-read, and the per-batch cost
    scales with |batch| + |state rows touched by its join keys|, not
    with |corpus|.

    Returns the kept new documents; with ``update_state`` their derived
    rows are appended to the state first and the returned frame is the
    checkpointed batch ``CurationState.write`` materialized (new ids
    must not collide with state ids — enforce upstream). With
    ``update_state=False`` the returned frame is a LAZY plan: every
    action re-executes the full gates + LSH + history joins, so a
    caller that acts on it more than once should ``persist``/
    ``localCheckpoint`` it first (the update_state=True path gets this
    for free from ``CurationState.write``'s checkpoint). ``(run_id,
    epoch_id)`` (streaming replays) excludes that epoch's own prior
    state appends from every history join and tags this batch's
    appends — see ``curate_stream``.

    ``line_fps_out``/``splits_out``: pass dicts to take ownership of
    the batch's line-fingerprint landing (``dedup_lines``: the frame
    lands in ``line_fps_out["line_fps"]``) and split landing
    (``split_fractions``: the within-batch component frame lands in
    ``splits_out["comps"]``); this function then leaves them out of
    its own state commit. ``curation_epoch_apply`` and the CLI pass
    both to ``CurationState.write`` over their landed output, in one
    commit.

    ``benchmark``: decontamination in the batch stage order (after the
    near-dup merge, same ``contamination_mode`` semantics as batch
    ``curate`` via the shared ``_decontamination_stage``). The stage
    is a pure per-doc function of (text, benchmark) — no history
    interaction — so per-batch application composes exactly; the STATE
    lands the decontaminated survivors only. KNOWN DELTA vs
    batch-over-concatenation: a contaminated doc never lands, so it
    cannot suppress a CLEAN near-dup arriving in a LATER batch the way
    a contaminated within-run keeper does in one batch run — the
    incremental path keeps that later clean copy (errs toward keeping
    a clean document; the contamination gate itself judged it clean).
    Within one batch the stage order matches batch mode exactly.
    """
    if (cfg.minhash_k, cfg.lsh_bands) != (state.minhash_k, state.lsh_bands):
        # a mismatch is silent data corruption, not an error state the
        # joins would surface: band hashes derived with different k or
        # band count can never match the landed ones, so cross-history
        # near-dup detection would simply find nothing
        raise ValueError(
            f"curation config (minhash_k={cfg.minhash_k}, "
            f"lsh_bands={cfg.lsh_bands}) does not match the landed state "
            f"(minhash_k={state.minhash_k}, lsh_bands={state.lsh_bands}); "
            "derive the batch's signatures with the state's parameters"
        )
    if cfg.quality_calibrate_pctile is not None:
        # corpus-relative by construction: a within-batch percent_rank
        # would make the keep set depend on batch boundaries (the same
        # doc kept in a strong batch, dropped in a weak one) — exactly
        # the batch!=increment drift this pipeline forbids. Not an
        # error the output would surface, so refuse loudly.
        raise ValueError(
            "quality_calibrate_pctile is batch-only (the percent_rank is "
            "corpus-relative); for incremental/streaming curation freeze "
            "per-source thresholds from a baseline corpus with "
            "operators/text.py calibrated_quality_thresholds() and pass "
            "them as cfg.quality_thresholds (stateless, batch-stable)"
        )
    if (
        cfg.split_fractions is not None
        and not update_state
        and splits_out is None
    ):
        # split assignments ARE corpus state (the landed table is what
        # makes them stable across batches); computing them with
        # nowhere to land would silently produce nothing
        raise ValueError(
            "split_fractions in curate_increment needs update_state=True "
            "(the assignments land in the state's `splits` table — read "
            "them back via state.split_assignments) or a splits_out dict "
            "(the curation_epoch_apply deferred-landing seam); for a "
            "stateless one-off use batch curate() or the standalone "
            "cluster_safe_split"
        )
    if cfg.near_dup_exact and state.jaccard_exact_threshold != cfg.near_dup_jaccard:
        # the landed prefixes were sliced for the state's threshold; a
        # looser probe threshold would need LONGER prefixes than were
        # landed — silently missed cross-history pairs, not an error
        # the joins would surface. Equality enforced (the manifest
        # pins the on-disk truth; this catches in-memory drift).
        raise ValueError(
            f"near_dup_exact at jaccard={cfg.near_dup_jaccard} but the "
            f"state lands prefixes for jaccard_exact_threshold="
            f"{state.jaccard_exact_threshold}; construct CurationState "
            "with jaccard_exact_threshold matching cfg.near_dup_jaccard "
            "(on an already-landed pre-prefix state, run "
            "state.ensure_prefixes(spark) once to backfill)"
        )
    if (
        cfg.near_dup_containment is not None
        and state.containment_threshold != cfg.near_dup_containment
    ):
        raise ValueError(
            f"near_dup_containment={cfg.near_dup_containment} but the "
            f"state lands prefixes for containment_threshold="
            f"{state.containment_threshold}; construct CurationState "
            "with containment_threshold matching cfg.near_dup_containment "
            "(on an already-landed pre-prefix state, run "
            "state.ensure_prefixes(spark) once to backfill)"
        )
    if cfg.embed_near_cos is not None:
        # geometry mismatch is the minhash_k argument again: SRP band
        # values derived with a different (dim, bits, bands, seed) can
        # never collide with the landed ones, so cross-history semantic
        # detection would silently find nothing. embed_col must match
        # too — write() derives the state tables from the state's name.
        mine = (cfg.embed_dim, cfg.embed_bits, cfg.embed_srp_bands,
                cfg.embed_seed, cfg.embed_col)
        theirs = (state.embed_dim, state.embed_bits, state.embed_srp_bands,
                  state.embed_seed, state.embed_col)
        if state.embed_dim is None or mine != theirs:
            raise ValueError(
                f"embed_near_cos={cfg.embed_near_cos} needs an embed-"
                "enabled CurationState matching the cfg's SRP geometry: "
                f"cfg has (dim, bits, bands, seed, col)={mine} but the "
                f"state was constructed with {theirs}; band values "
                "derived with different geometries never collide "
                "(silently missed semantic duplicates)"
            )
    if cfg.image_near_hamming is not None:
        # the embed-geometry argument on the image modality:
        # fingerprints derived with a different grid or decoder can
        # never match the landed ones, so cross-history image dedup
        # would silently find nothing
        mine_img = (
            cfg.image_grid_w,
            cfg.image_grid_h,
            cfg.image_col,
            _decoder_tag(cfg.image_decode_fn, cfg.image_decoder_tag),
        )
        theirs_img = (
            state.image_grid_w,
            state.image_grid_h,
            state.image_col,
            state.image_decoder_tag,
        )
        if state.image_grid_w is None or mine_img != theirs_img:
            raise ValueError(
                f"image_near_hamming={cfg.image_near_hamming} needs an "
                "image-enabled CurationState matching the cfg's dHash "
                "geometry: cfg has (grid_w, grid_h, col, decoder)="
                f"{mine_img} but the state was constructed with "
                f"{theirs_img}; fingerprints from different grids/"
                "decoders never match (silently missed image duplicates)"
            )
    if cfg.audio_near_hamming is not None:
        # the image-geometry argument on the audio modality
        mine_aud = (
            cfg.audio_n_windows,
            cfg.audio_col,
            _decoder_tag(cfg.audio_decode_fn, cfg.audio_decoder_tag),
        )
        theirs_aud = (
            state.audio_n_windows,
            state.audio_col,
            state.audio_decoder_tag,
        )
        if state.audio_n_windows is None or mine_aud != theirs_aud:
            raise ValueError(
                f"audio_near_hamming={cfg.audio_near_hamming} needs an "
                "audio-enabled CurationState matching the cfg's "
                "energy-hash geometry: cfg has (n_windows, col, decoder)="
                f"{mine_aud} but the state was constructed with "
                f"{theirs_aud}; fingerprints from different window "
                "counts/decoders never match (silently missed audio "
                "duplicates)"
            )
    if cfg.video_min_matching is not None:
        mine_vid = (
            cfg.video_every_ms,
            cfg.video_grid_w,
            cfg.video_grid_h,
            cfg.video_col,
            cfg.video_duration_col,
            _decoder_tag(cfg.video_decode_fn, cfg.video_decoder_tag),
        )
        theirs_vid = (
            state.video_every_ms,
            state.video_grid_w,
            state.video_grid_h,
            state.video_col,
            state.video_duration_col,
            state.video_decoder_tag,
        )
        if state.video_every_ms is None or mine_vid != theirs_vid:
            raise ValueError(
                f"video_min_matching={cfg.video_min_matching} needs a "
                "video-enabled CurationState matching the cfg's frame "
                "geometry: cfg has (every_ms, grid_w, grid_h, col, "
                f"dur_col, decoder)={mine_vid} but the state was "
                f"constructed with {theirs_vid}; frames sampled "
                "differently never match (silently missed video "
                "duplicates)"
            )
    _require_columns(new_docs, cfg, "batch")
    spark = new_docs.sparkSession
    # also validate against the ON-DISK pins: the ctor-vs-cfg checks
    # above cannot catch a session that reconstructs the state handle
    # with the wrong values
    m = state._manifest(spark)
    state._checked_pins(
        m, None if cfg.split_fractions is None else _split_pin(cfg.split_fractions)
    )
    state._require_tables(
        m,
        [
            feature
            for feature, enabled in (
                ("prefix", cfg.near_dup_exact or cfg.near_dup_containment is not None),
                ("embed", cfg.embed_near_cos is not None),
                ("image", cfg.image_near_hamming is not None),
                ("audio", cfg.audio_near_hamming is not None),
                ("video", cfg.video_min_matching is not None),
            )
            if enabled
        ],
    )

    # --- stage 0 (optional): incremental corpus-level line dedup ------
    # The C4 line pass in daily-batch form (operators/text.py
    # line_dedup_increment): a line whose fingerprint any EARLIER batch
    # landed is removed here, within-batch duplicates keep their
    # min-(doc, line_no) copy, and the gates below judge the cleaned
    # text — the same stage order as batch curate(), so with doc ids
    # assigned in batch order the batches compose to exactly what one
    # batch run over the concatenated corpus produces (pinned by test).
    new_line_fps = None
    if cfg.dedup_lines:
        from clickhouse_mysql_data_reader_spark.operators.text import (
            _line_elig,
            _sep_regex,
            line_dedup_increment,
            line_fingerprints,
        )

        landed_lines = (
            state.line_fps(spark, exclude_epoch=epoch_id, run_id=run_id)
            if state._has(m, "line_fps")
            else None
        )
        cleaned, _ = line_dedup_increment(
            new_docs,
            landed_lines,
            text_col=text_col,
            id_col=id_col,
            min_line_chars=cfg.line_dedup_min_chars,
            sep=cfg.line_dedup_sep,
        )
        # localCheckpoint: the cleaned text feeds every gate and both
        # dedup families — untruncated, each consumer re-runs the line
        # explode/join machinery from the scan.
        cleaned = cleaned.localCheckpoint()
        new_docs = new_docs.drop(text_col).join(
            cleaned.select(id_col, text_col), id_col
        )
        # fps of ALL surviving eligible lines of the INPUT batch land —
        # independent of later gate/dedup outcomes, because in batch
        # mode the line pass runs before any gate, so lines of docs
        # later dropped still hold keeper status for future batches.
        # Re-derived from the checkpointed text: no state read in the
        # write plan.
        new_line_fps = line_fingerprints(
            cleaned.select(
                F.explode(
                    F.split(F.col(text_col), _sep_regex(cfg.line_dedup_sep))
                ).alias("line")
            ).filter(_line_elig(cfg.line_dedup_min_chars))
        )

    if line_fps_out is not None and new_line_fps is not None:
        # caller takes ownership of the landing: curation_epoch_apply
        # lands these rows in the same commit as its epoch's doc state,
        # after its epoch output is written, so an abandoned epoch
        # (output write failed, never replayed) cannot leave line state
        # claiming keeper status for lines no landed doc contains. The
        # frame derives from the localCheckpoint'ed cleaned text.
        line_fps_out["line_fps"] = new_line_fps

    def _land(kept: DataFrame, comps: DataFrame, **sigs) -> DataFrame:
        # Incremental leakage-safe split: every kept doc's assignment
        # hashes its WITHIN-BATCH near-dup component (all edge types;
        # singletons hash their own id) and lands immutably — stable
        # across batches because (a) landed assignments are never
        # recomputed and (b) a later near-twin of a landed doc is
        # dropped by history-wins, so no cluster ever has members in
        # two splits. With doc ids assigned in batch order this equals
        # batch-over-concatenation bit-for-bit on every surviving doc:
        # the concatenated run labels a cross-batch cluster by its MIN
        # member id, which is the batch-1 keeper the increments kept
        # (parity pinned by test; the dedup path's documented
        # transitive-chain-through-dropped-docs delta applies to the
        # survivor SET itself, not to the assignment arithmetic).
        # comps' plan reads no state tables (within-batch edges over
        # checkpointed frames).
        split_comps = comps if cfg.split_fractions is not None else None
        if splits_out is not None and split_comps is not None:
            # deferred-landing seam (the line_fps_out pattern): the
            # caller assigns over its durably LANDED output and commits
            # the assignment with that output's doc state
            splits_out["comps"] = split_comps
        if not update_state:
            return kept
        # act on the frame write() returns: it is checkpointed, so the
        # result does not re-run the curation plan
        return state.write(
            kept, text_col=text_col, id_col=id_col, epoch_id=epoch_id,
            run_id=run_id,
            line_fps=new_line_fps if line_fps_out is None else None,
            split_comps=split_comps if splits_out is None else None,
            split_fractions=cfg.split_fractions, **sigs,
        )

    _, exact = _row_stages(new_docs, cfg, text_col, id_col)

    if not state.exists(spark):
        # bootstrap: no history yet — batch one IS the corpus so far, so
        # the within-batch stage equals batch curate() over the
        # (one-batch) concatenation under any cfg (parity-pinned)
        nd = _near_dup_stage(
            exact, cfg, text_col, id_col, lambda df: df.localCheckpoint()
        )
        kept = nd.survivors.join(nd.drop_ids, id_col, "left_anti")
        kept = _decontamination_stage(kept, benchmark, cfg, text_col, id_col)
        return _land(kept, nd.comps, image_sigs=nd.image_sigs,
                     audio_sigs=nd.audio_sigs, video_sigs=nd.video_sigs)

    # --- exact dedup vs history (anti-join on fingerprint) ------------
    with_fp = exact.withColumn("_fp", content_fingerprint(F.col(text_col)))
    hist_fp = state.fingerprints(spark, exclude_epoch=epoch_id, run_id=run_id).select(
        F.col("fp").alias("_fp")
    )
    if state.bloom_bits is not None:
        # Bloom prefilter (state-maintained, see CurationState): rows
        # that are definite filter misses are definitely not in the
        # landed history — they skip the shuffle anti-join. Maybe-rows
        # (true hits + false positives, including any excluded-epoch
        # keys whose bits are in the filter) pay the exact join, which
        # settles them — exactness holds for any fill level.
        from clickhouse_mysql_data_reader_spark.operators.membership import (
            might_contain,
        )

        state.ensure_bloom(spark)
        bloom = state.read_bloom(spark)
    else:
        bloom = None
    if bloom is not None:
        # localCheckpoint: both union branches below consume `tagged`,
        # and without truncation each branch re-executes the whole
        # upstream plan (gates + PII scrub + exact-dedup window + the
        # Arrow probe UDF) — doubling the scan-stage work of the very
        # path the bloom exists to make cheap. Batch-sized frame, same
        # discipline as the near-dup stage's frames below.
        tagged = with_fp.withColumn(
            "_maybe",
            might_contain(bloom, state.bloom_bits, state.bloom_hashes, F.col("_fp")),
        ).localCheckpoint()
        vs_hist = (
            tagged.filter(~F.col("_maybe"))
            .drop("_maybe")
            .unionByName(
                tagged.filter(F.col("_maybe"))
                .drop("_maybe")
                .join(hist_fp, "_fp", "left_anti")
            )
            .drop("_fp")
        )
    else:
        vs_hist = with_fp.join(hist_fp, "_fp", "left_anti").drop("_fp")

    # Materialize the gates + history-anti-join result ONCE.
    # vs_hist feeds every downstream consumer — the shingle table, the
    # vector/media fingerprint frames, the keeper election's text
    # reads and the final kept anti-joins — and each consumer
    # otherwise re-executes the whole row-gate + exact-dedup +
    # fingerprint-anti-join chain from the scan (3-4 evaluations per
    # increment in the semantic config, profiled). Batch-sized, the
    # same storage class as the dedup_lines `cleaned` checkpoint; it
    # also freezes the state-fingerprint snapshot for every consumer
    # at once.
    vs_hist = vs_hist.localCheckpoint()

    # --- near-dup within batch, then vs history -----------------------
    # The two lazy state reads the within-batch stage needs: landed
    # shingles (boilerplate doc frequencies; also the history verify
    # below) and landed video frames (stop-frame df).
    hist_sh_full = state.shingles(spark, exclude_epoch=epoch_id, run_id=run_id)
    hist_vid = (
        state.video_fps(spark, exclude_epoch=epoch_id, run_id=run_id)
        if cfg.video_min_matching is not None
        else None
    )
    nd = _near_dup_stage(
        vs_hist, cfg, text_col, id_col, lambda df: df.localCheckpoint(),
        hist=(hist_sh_full, hist_vid),
    )
    vs_hist, sh_new, comps = nd.survivors, nd.sh, nd.comps

    # vs history, Jaccard metric: candidates from the LSH bucket-join
    # (new bands vs state bands on (band_id, band_hash) — only
    # colliding buckets move) or, under near_dup_exact, from the exact
    # two-sided prefix join (batch prefixes vs landed shingles + landed
    # prefixes vs batch shingles — operators/dedup.py
    # cross_prefix_candidates; provably no missed pair, the history
    # side streams and is never shuffled when AQE broadcasts the
    # batch-sized side).
    if nd.sorted_arrays is not None:
        hist_prefixes = state.prefixes(spark, exclude_epoch=epoch_id, run_id=run_id)
    if cfg.near_dup_exact:
        frac_j = (1.0 - cfg.near_dup_jaccard) / (1.0 + cfg.near_dup_jaccard)
        cands_hist = cross_prefix_candidates(
            sh_new,
            hist_sh_full,
            frac_j,
            prefix_new=prefix_shingles(sh_new, frac_j, sorted_arrays=nd.sorted_arrays),
            prefix_hist=hist_prefixes,
        )
    else:
        from clickhouse_mysql_data_reader_spark.operators.dedup import band_table

        bands_new = band_table(nd.sigs, num_hashes=cfg.minhash_k, bands=cfg.lsh_bands)
        cands_hist = (
            bands_new.alias("n")
            .join(
                state.bands(spark, exclude_epoch=epoch_id, run_id=run_id).alias("h"),
                (F.col("n.band_id") == F.col("h.band_id"))
                & (F.col("n.band_hash") == F.col("h.band_hash")),
            )
            .select(F.col("n.doc_id").alias("doc_a"), F.col("h.doc_id").alias("doc_b"))
            .distinct()
        )
    # vs history, containment metric (optional second drop set): exact
    # cross candidates at the containment bound; the landed prefixes
    # are sliced at the LOOSER of the enabled fractions (see
    # CurationState._prefix_frac) so one landed table serves both
    # probes exactly. History always wins — the NEW doc drops — so a
    # landed truncated copy suppresses a longer original arriving
    # later (first-wins, the documented increment semantics); run
    # batch curate with keeper='longest' where that loss matters.
    c_cands_hist = None
    if cfg.near_dup_containment is not None:
        frac_c = 1.0 - cfg.near_dup_containment
        c_cands_hist = cross_prefix_candidates(
            sh_new,
            hist_sh_full,
            frac_c,
            prefix_new=prefix_shingles(sh_new, frac_c, sorted_arrays=nd.sorted_arrays),
            prefix_hist=hist_prefixes,
        )
    # dropDuplicates AFTER the semi-join cut (candidate docs only — tiny):
    # a replayed epoch's double-append leaves duplicate state shingle
    # rows, which are harmless for the anti/semi joins but would inflate
    # the metric verifies' per-doc counts. One shingle pull serves both
    # metric verifies (the candidate-doc sets are unioned first).
    cand_docs = cands_hist.select(F.col("doc_b").alias("doc_id"))
    if c_cands_hist is not None:
        cand_docs = cand_docs.unionByName(
            c_cands_hist.select(F.col("doc_b").alias("doc_id"))
        )
    sh_hist = (
        hist_sh_full
        .join(cand_docs.distinct(), "doc_id", "left_semi")
        .dropDuplicates(["doc_id", "sh_h"])
    )
    verify_rel = sh_new.unionByName(sh_hist)
    pairs_hist = jaccard_pairs(
        verify_rel,
        candidates=cands_hist,
        min_jaccard=cfg.near_dup_jaccard,
    )
    drop_hist = pairs_hist.select(F.col("doc_a").alias(id_col))
    if c_cands_hist is not None:
        c_pairs_hist = containment_pairs(
            verify_rel,
            candidates=c_cands_hist,
            min_containment=cfg.near_dup_containment,
        )
        drop_hist = drop_hist.unionByName(
            c_pairs_hist.select(F.col("doc_a").alias(id_col))
        )
    if cfg.embed_near_cos is not None:
        # vs history, semantic metric (third drop set): the batch's SRP
        # bands bucket-join the LANDED bands — only colliding buckets
        # move — then the exact-cosine verify runs against the landed
        # VECTORS, semi-join-cut to candidate docs first (the sh_hist
        # pattern above; the full vector history is never shuffled).
        # History always wins: the NEW doc drops.
        hist_srp = state.srp_bands(spark, exclude_epoch=epoch_id, run_id=run_id)
        sem_cands = (
            nd.srp_bands.alias("n")
            .join(
                hist_srp.alias("h"),
                (F.col("n.band_idx") == F.col("h.band_idx"))
                & (F.col("n.band_val") == F.col("h.band_val")),
            )
            .select(
                F.col("n.vid").alias("doc_a"), F.col("h.doc_id").alias("doc_b")
            )
            .distinct()
        )
        hist_vecs = (
            state.embeddings(spark, exclude_epoch=epoch_id, run_id=run_id)
            .join(
                sem_cands.select(F.col("doc_b").alias("doc_id")).distinct(),
                "doc_id",
                "left_semi",
            )
            # replayed-epoch double appends: duplicate vector rows only
            # inflate the verify join's width, but drop them anyway —
            # the candidate cut has already made this frame tiny
            .dropDuplicates(["doc_id"])
            .select(F.col("doc_id").alias("vid"), "v")
        )
        sem_pairs = _cos_verified(sem_cands, nd.vecs, hist_vecs, cfg.embed_near_cos)
        drop_hist = drop_hist.unionByName(
            sem_pairs.select(F.col("doc_a").alias(id_col))
        )
    if cfg.image_near_hamming is not None:
        # vs history, image metric (fourth drop set): the batch's dHash
        # chunks bucket-join the LANDED fingerprint longs — only
        # colliding chunk buckets move, and the exact Hamming verify is
        # one bit_count over the joined longs (no separate verify table
        # — the fingerprint IS the verify value, unlike the embed
        # path). History always wins: the NEW doc drops. The media
        # bytes of history are never re-read and the decode never
        # re-runs — the landed longs are everything the probe needs.
        # Replayed-epoch double appends only duplicate candidate rows,
        # which the pair distinct removes.
        from clickhouse_mysql_data_reader_spark.operators.dedup import (
            simhash_near_pairs_cross,
        )

        img_pairs = simhash_near_pairs_cross(
            nd.image_sigs,
            state.image_fps(spark, exclude_epoch=epoch_id, run_id=run_id),
            bits=cfg.image_grid_h * (cfg.image_grid_w - 1),
            hamming_max=cfg.image_near_hamming,
            id_col="doc_id",
            sig_col="dhash",
        )
        drop_hist = drop_hist.unionByName(
            img_pairs.select(F.col("doc_a").alias(id_col))
        )
    if cfg.audio_near_hamming is not None:
        # vs history, audio metric (fifth drop set) — the image probe's
        # mirror: chunk bucket-join against the landed energy-hash
        # longs, exact Hamming verify in the join, history wins
        from clickhouse_mysql_data_reader_spark.operators.dedup import (
            simhash_near_pairs_cross,
        )

        aud_pairs = simhash_near_pairs_cross(
            nd.audio_sigs,
            state.audio_fps(spark, exclude_epoch=epoch_id, run_id=run_id),
            bits=cfg.audio_n_windows - 1,
            hamming_max=cfg.audio_near_hamming,
            id_col="doc_id",
            sig_col="ahash",
        )
        drop_hist = drop_hist.unionByName(
            aud_pairs.select(F.col("doc_a").alias(id_col))
        )
    if cfg.video_min_matching is not None:
        # vs history, video metric (sixth drop set): frame-level
        # equi-join against the landed frame-hash rows + per-pair
        # match count — the set-intersection analogue of the banding
        # cross probes. History always wins: the NEW doc drops.
        drop_hist = drop_hist.unionByName(
            _video_hist_drop(nd.video_sigs, hist_vid, cfg, nd.hot_frames).select(
                F.col("doc_a").alias(id_col)
            )
        )
    drop_hist = drop_hist.distinct()
    # history-wins, TRANSITIVELY (round 14): a within-batch component
    # containing ANY history-dropped doc drops ENTIRELY — exactly what
    # one-shot batch curate over the concatenated corpus does (the
    # landed twin joins the component, and with batch-ordered ids the
    # min-id keeper election keeps the LANDED doc, dropping every
    # batch member). Without this, a batch doc connected to a landed
    # doc only through a dropped within-batch sibling (cluster {5,6}
    # where 5 near-dups landed 1 but the keeper election kept 6) would
    # survive as an undetected transitive near-twin — and its split
    # assignment could straddle the landed twin's. Two narrow
    # semi-joins over the batch-sized component frame.
    hist_touched = (
        comps.join(
            drop_hist.select(F.col(id_col).alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        .select("component")
        .distinct()
    )
    drop_hist = drop_hist.unionByName(
        comps.join(hist_touched, "component", "left_semi").select(
            F.col("doc_id").alias(id_col)
        )
    ).distinct()

    kept = (
        vs_hist.join(nd.drop_ids, id_col, "left_anti")
        .join(drop_hist, id_col, "left_anti")
    )
    kept = _decontamination_stage(kept, benchmark, cfg, text_col, id_col)
    return _land(kept, comps, image_sigs=nd.image_sigs, audio_sigs=nd.audio_sigs,
                 video_sigs=nd.video_sigs)


def curate_stream(
    stream_docs: DataFrame,
    state: CurationState,
    out_dir: str,
    cfg: CurationConfig = CurationConfig(),
    text_col: str = "text",
    id_col: str = "doc_id",
    run_id: str | None = None,
    compact_every: int | None = None,
    # last for positional-caller compatibility (see curate_increment)
    benchmark: DataFrame | None = None,
):
    """Continuous curation: each micro-batch of a streaming document
    source is curated incrementally against the landed state (gates,
    exact + near dedup within the batch AND vs everything kept so far),
    the survivors land under ``out_dir/epoch=<id>``, and the state grows
    by exactly the kept docs — the streaming twin of daily-batch
    ``curate_increment``, built on foreachBatch like the CDC pump
    (streaming/pump.py).

    Failure semantics (foreachBatch is at-least-once, so an epoch can
    REPLAY after a crash anywhere between its first side effect and the
    commit-log write — replays must be idempotent):

    - every history join excludes the current epoch's own state rows
      (``exclude_epoch``), so a replay sees exactly the pre-epoch
      history even when the first attempt already appended state —
      without this, the batch anti-joins against its own fingerprints,
      ``kept`` collapses to empty, and the overwrite silently erases
      the previously-written survivors;
    - the epoch OUTPUT is written first (overwrite — a replay rewrites
      the identical survivor set, curation being a pure function of
      content and pre-epoch history), and the state commit derives from
      the LANDED output files, so the full curation plan executes once
      per epoch (the state tables re-scan the small landed parquet, not
      the plan) and a crash before the state commit leaves an output
      the replay reproduces byte-identically;
    - a replay after the state commit leaves duplicate rows for the epoch —
      harmless: its own epoch excludes them, later epochs consume the
      state through anti-/semi-joins (multiplicity-insensitive) and a
      post-semi-join dropDuplicates on the Jaccard path;
    - ``run_id`` scopes the epoch tags: foreachBatch epoch ids are
      CHECKPOINT-scoped (a fresh checkpoint restarts at 0), so pass a
      stable identity of the logical stream — the checkpoint location
      is the natural choice (stable across driver restarts of the same
      stream, distinct for a re-started-from-scratch one). Without it,
      a second run's epoch 0 would exclude the first run's epoch-0
      history from dedup and re-admit its duplicates.

    ``compact_every=N`` runs ``state.compact()`` after every Nth epoch's
    state append. compact() is documented offline-only, but inside
    foreachBatch the constraint holds by construction: epoch bodies of
    one query are serialized, so the stream is quiesced during its own
    epoch — valid ONLY while this stream is the state's sole writer.
    Without it a long-lived stream appends one file-set per epoch and
    the state reads go footer-bound (the small-file explosion the
    round-4 review flagged).

    Returns the DataStreamWriter — caller picks trigger, checkpoint
    location, and calls start().
    """
    if cfg.quality_calibrate_pctile is not None:
        # fail at stream SETUP, not inside the first epoch's foreachBatch
        # (same reasoning as curate_increment's check: a within-batch
        # percent_rank ties the keep set to batch boundaries)
        raise ValueError(
            "quality_calibrate_pctile is batch-only; freeze per-source "
            "thresholds (calibrated_quality_thresholds) and pass them as "
            "cfg.quality_thresholds for streaming curation"
        )
    apply_fn = curation_epoch_apply(
        state, out_dir, cfg=cfg, benchmark=benchmark, text_col=text_col,
        id_col=id_col, run_id=run_id, compact_every=compact_every,
    )
    return stream_docs.writeStream.foreachBatch(apply_fn)


def curation_epoch_apply(
    state: CurationState,
    out_dir: str,
    cfg: CurationConfig = CurationConfig(),
    text_col: str = "text",
    id_col: str = "doc_id",
    run_id: str | None = None,
    compact_every: int | None = None,
    # last for positional-caller compatibility (see curate_increment)
    benchmark: DataFrame | None = None,
):
    """The per-epoch body of ``curate_stream``, exposed so the replay
    contract is directly testable (call it twice with the same
    epoch_id) — see ``curate_stream`` for the ordering rationale and
    the ``run_id`` contract. Output paths are run-scoped too (a fresh
    run's epoch 0 must not overwrite a prior run's epoch-0 output)."""

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # take ownership of the batch's line fingerprints and split
        # components (curate_increment's own landing is keyed to
        # update_state, False here): they commit with the doc state
        # below, after the epoch output is written
        fps_out: dict = {}
        sp_out: dict = {}
        kept = curate_increment(
            batch_df,
            state,
            cfg=cfg,
            benchmark=benchmark,
            text_col=text_col,
            id_col=id_col,
            update_state=False,
            epoch_id=epoch_id,
            run_id=run_id,
            line_fps_out=fps_out,
            splits_out=sp_out,
        )
        if run_id:
            # run ids are free-form (often a checkpoint PATH) — hash
            # for the directory component, keep the raw id in the tags
            import hashlib

            sub = f"run={hashlib.md5(run_id.encode()).hexdigest()[:12]}/"
        else:
            sub = ""
        epoch_path = f"{out_dir}/{sub}epoch={epoch_id}"
        kept.write.mode("overwrite").parquet(epoch_path)
        # ONE state commit derived from the LANDED output: doc tables,
        # line fps and split assignment together
        state.write(
            spark.read.parquet(epoch_path), text_col=text_col, id_col=id_col,
            epoch_id=epoch_id, run_id=run_id, line_fps=fps_out.get("line_fps"),
            split_comps=sp_out.get("comps"), split_fractions=cfg.split_fractions,
        )
        # post-append maintenance: epochs of one query are serialized,
        # so no writer is active here. (epoch + 1) so compact_every=N
        # fires after epochs N-1, 2N-1, ... — every N epochs counting
        # from the first.
        if compact_every and (epoch_id + 1) % compact_every == 0:
            state.compact(spark)

    return _apply
