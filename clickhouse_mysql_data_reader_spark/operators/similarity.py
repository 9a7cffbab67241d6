"""Embedding similarity search over ``array<float>`` columns.

Two strategies, both pure DataFrame compositions (no UDFs — the dot
product is a ``zip_with`` + ``aggregate`` fold; NOTE higher-order
array lambdas are NOT whole-stage-codegen'd, they run interpreted, so
every pair-level fold counts — norms are therefore precomputed per
ROW (`_with_norm`), never per pair, keeping the per-candidate cost to
the single dot fold. dot/(na*nb) with row-precomputed na/nb is
bit-identical to dot/(l2(a)*l2(b)): same operands, same op order):

- ``cosine_topk``: brute-force exact top-k. The query set is broadcast,
  so the big side never shuffles; cost is one pass over the corpus per
  batch of queries. This is the correctness baseline and is already the
  right plan when |queries| is small.
- ``ivf_topk``: IVF-style approximate search — probe only the corpus
  cells whose coarse-quantizer assignment matches the query's. At 100 TB
  the corpus is bucketed/partitioned by cell id, so each query touches
  ~1/n_cells of the data and the join prunes partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T


def as_double_array(col: Column | str) -> Column:
    """float32 arrays -> float64 before arithmetic: fold order is
    deterministic, and double math matches the oracle exactly."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_n(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """`cosine` with the norms precomputed per ROW instead of per pair
    — bit-identical output (same operands, same op order), 3x fewer
    interpreted folds at every candidate-pair site."""
    return dot(a, b) / (na * nb)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
) -> DataFrame:
    """Exact brute-force top-k neighbors per query by cosine similarity.

    ``queries`` carries (query_id_col, vec_col). Returned columns:
    (qid, vec_id, cos_sim, rn) with deterministic id tie-break.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("qid"), as_double_array(vec_col).alias("qe")
        ).withColumn("qn", l2_norm(F.col("qe")))
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("ce")
    ).withColumn("cn", l2_norm(F.col("ce")))
    scored = (
        c.crossJoin(q)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine_n(F.col("qe"), F.col("ce"), F.col("qn"), F.col("cn")).alias("cos"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id", F.round("cos", 6).alias("cos_sim"), "rn")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    query_id_col: str = "qid",
) -> DataFrame:
    """IVF-bucketed approximate top-k: only corpus vectors in the query's
    coarse cell are scored. ``cell_col`` is the quantizer assignment (a
    real deployment computes it as argmin-centroid; the test corpus
    ships one as ``label``). The equi-join on the cell id replaces the
    cross join — at scale, with the corpus partitioned by cell, this
    prunes both I/O and compute by ~n_cells x."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("qid"),
            as_double_array(vec_col).alias("qe"),
            F.col(cell_col).alias("qcell"),
        ).withColumn("qn", l2_norm(F.col("qe")))
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        as_double_array(vec_col).alias("ce"),
        F.col(cell_col).alias("cell"),
    ).withColumn("cn", l2_norm(F.col("ce")))
    scored = (
        c.join(q, c.cell == q.qcell)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine_n(F.col("qe"), F.col("ce"), F.col("qn"), F.col("cn")).alias("cos"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id", F.round("cos", 6).alias("cos_sim"), "rn")
    )


def near_dup_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by quantizer cell.

    The all-pairs O(n^2) self-join is replaced by a cell-blocked one:
    only vectors sharing a coarse cell are compared (the embedding
    analogue of LSH banding for MinHash). At 100 TB the corpus is
    partitioned by cell, so the self-join is co-located per cell and
    the candidate count is sum(|cell|^2), not |corpus|^2. Near-dups
    missed across cell borders are the standard recall trade-off;
    multi-probe (assign each vector its 2 nearest cells) restores them.

    Output: (vec_a, vec_b, cos_sim) with vec_a < vec_b; the threshold
    is applied to the ROUNDED similarity so both engines of the oracle
    compare identical decisions.
    """
    e = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(cell_col).alias("cell"),
        as_double_array(vec_col).alias("v"),
    ).withColumn("n", l2_norm(F.col("v")))
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a.vid") < F.col("b.vid")))
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            F.round(
                cosine_n(F.col("a.v"), F.col("b.v"), F.col("a.n"), F.col("b.n")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def assign_cells_probes(
    vectors: DataFrame,
    centroids: DataFrame,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe quantizer assignment: each vector's ``n_probe``
    nearest centroids (squared L2) -> (vec_id, cell, probe_rank).
    ``n_probe=1`` degenerates to ``assign_cells``. Same broadcast-
    score-argmin plan; the window keeps ``n_probe`` rows instead of 1.
    """
    c = F.broadcast(centroids.select("cell", F.col("centroid").alias("ce")))
    v = vectors.select(F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("ve"))
    d2 = F.aggregate(
        F.zip_with(F.col("ve"), F.col("ce"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    scored = v.crossJoin(c).select("vec_id", "cell", d2.alias("d2"))
    w = W.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("cell").asc())
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= n_probe)
        .select("vec_id", "cell", "probe_rank")
    )


def near_dup_pairs_multiprobe(
    corpus: DataFrame,
    threshold: float,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    storage=None,
) -> DataFrame:
    """``near_dup_pairs`` with multi-probe recall: every vector probes
    its ``n_probe`` nearest per-cell-mean centroids PLUS its own
    labeled cell, so a pair split across a cell border is still
    compared when either vector's second probe lands in the other's
    cell — the standard IVF answer to the single-probe recall caveat.
    Always probing the labeled cell makes the candidate set a strict
    superset of ``near_dup_pairs``' (without it, a vector whose own
    cell's mean is dragged away by the rest of the cell could probe two
    OTHER cells and lose same-label pairs the single-probe path finds).

    Plan shape for 100 TB: the probe table is (id, cell) pairs only —
    ``n_probe`` narrow rows per vector. Candidate pairs come from the
    probes' cell self-join (bucketed by cell, never all-pairs) and are
    DISTINCT'd before any vector is touched, so each surviving pair is
    scored exactly once, via two id-keyed joins back to the vector
    table — the candidates-drive-the-join discipline the LSH verify
    stage uses (operators/dedup.py). Scoring in the cell join instead
    would re-score a pair up to n_probe^2 times and ship full vectors
    through the cell shuffle. The id-keyed verify joins are the only
    places the vector table crosses the wire; at 100 TB, land it
    bucketed by id (sinks/batch.write_bucketed) and both become
    exchange-free on the corpus side.
    """
    cents = centroids_by_cell(corpus, cell_col, vec_col)
    probes = (
        assign_cells_probes(corpus, cents, n_probe, id_col, vec_col)
        .select("vec_id", "cell")
        .unionByName(
            corpus.select(
                F.col(id_col).alias("vec_id"), F.col(cell_col).alias("cell")
            )
        )
        .distinct()
    )
    # the probe table feeds BOTH sides of the cell self-join; without a
    # persist each side re-evaluates the centroid aggregate + argmin
    # assignment subtree from the corpus scan. ``storage`` (e.g.
    # StorageLevel.MEMORY_AND_DISK) caches the narrow (vec_id, cell)
    # rows for the duration — caller-owned lifecycle (unpersist/
    # clearCache after the action), the jaccard_pairs contract.
    if storage is not None:
        probes = probes.persist(storage)
    cand = (
        probes.alias("a")
        .join(
            probes.alias("b"),
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    va = corpus.select(
        F.col(id_col).alias("vec_a"), as_double_array(vec_col).alias("v_a")
    ).withColumn("n_a", l2_norm(F.col("v_a")))
    vb = corpus.select(
        F.col(id_col).alias("vec_b"), as_double_array(vec_col).alias("v_b")
    ).withColumn("n_b", l2_norm(F.col("v_b")))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                cosine_n(F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def centroids_by_cell(
    corpus: DataFrame,
    cell_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell mean vector (one k-means step) -> (cell, centroid).

    posexplode + per-(cell, dim) avg + ordered re-assembly: the shuffle
    keys on (cell, dim) so no executor ever holds more than one running
    mean — at 100 TB this is how you compute centroids without ever
    materializing a cell's vectors in one place."""
    dims = (
        corpus.select(
            F.col(cell_col).alias("cell"),
            F.posexplode(as_double_array(vec_col)).alias("pos", "x"),
        )
        .groupBy("cell", "pos")
        .agg(F.avg("x").alias("m"))
    )
    return dims.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse-quantizer assignment: nearest centroid (squared L2) per
    vector -> (vec_id, cell). The degenerate ``n_probe=1`` case of
    ``assign_cells_probes`` (same broadcast-score-argmin plan, same
    (distance, cell) tie rule), kept as the named operator the checked
    queries compose."""
    return assign_cells_probes(
        vectors, centroids, n_probe=1, id_col=id_col, vec_col=vec_col
    ).select("vec_id", "cell")


def kmeans_iterate(
    vectors: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train an IVF coarse quantizer: ``n_iter`` Lloyd iterations of
    assign (broadcast-argmin over k centroids) + re-center (per-(cell,
    dim) mean), returning the final (cell, centroid) table for
    ``assign_cells`` / ``assign_cells_probes``.

    Initialization is deterministic content hashing (``xxhash64(id) %
    k``), so the whole training run is reproducible under retries —
    no sampling, no RNG state.

    Per-iteration plan: the round's centroids (k x dim doubles —
    bounded driver-side metadata, the same class as a broadcast dim)
    are collected and inlined as LITERAL structs, so the assignment is
    a pure scan-stage argmin — ``array_min`` over k (d2, cell) structs
    (struct ordering = lexicographic, i.e. exactly the (distance,
    cell) tie rule ``assign_cells`` uses) — with ZERO shuffle, no k-row
    explosion, no window, no join-back. The only shuffle per round is
    the per-(cell, dim) partial-mean re-center, and no executor ever
    materializes a cell. Compare ``assign_cells``, which keeps the
    centroids as a DataFrame for composability; for the hot iterate
    loop the literal form is strictly cheaper.

    Empty cells (hash-init collisions when |vectors| is near k, or a
    cell losing every member mid-run) keep their PREVIOUS centroid
    instead of silently shrinking k — the standard carry-forward
    answer, applied to the RETURNED table too: the final result is the
    carry-forward dict merged with the last re-center, so a cell empty
    only in the terminal iteration still appears with its last known
    centroid. A cell empty at init simply has no centroid to carry and
    k degrades to the populated init cells (data smaller than k).
    """
    cells = vectors.select(
        F.col(id_col).alias("vec_id"),
        as_double_array(vec_col).alias("embedding"),
        (F.pmod(F.xxhash64(F.col(id_col)), F.lit(k))).cast("int").alias("cell"),
    )
    cents = centroids_by_cell(cells, cell_col="cell", vec_col="embedding")
    prev: dict = {}
    for _ in range(n_iter):
        # k x dim doubles to the driver: bounded quantizer metadata
        prev.update({r["cell"]: list(r["centroid"]) for r in cents.collect()})
        rows = sorted(prev.items(), key=lambda t: t[0])
        v = as_double_array(vec_col)
        scored = [
            F.struct(
                F.aggregate(
                    F.zip_with(
                        v,
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                ).alias("d2"),
                F.lit(cell).alias("cell"),
            )
            for cell, c in rows
        ]
        with_cells = vectors.select(
            F.col(id_col).alias("vec_id"),
            v.alias("embedding"),
            F.array_min(F.array(*scored))["cell"].alias("cell"),
        )
        cents = centroids_by_cell(with_cells, cell_col="cell", vec_col="embedding")
    # Merge the carry-forward dict with the terminal re-center so cells
    # empty in the LAST iteration keep their previous centroid instead
    # of vanishing from the returned quantizer (k x dim rows — the same
    # bounded driver metadata the per-iteration collect already moves).
    prev.update({r["cell"]: list(r["centroid"]) for r in cents.collect()})
    final_rows = [
        (int(cell), [float(x) for x in c]) for cell, c in sorted(prev.items())
    ]
    return vectors.sparkSession.createDataFrame(
        final_rows, "cell int, centroid array<double>"
    )


def quantize_int8(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max(|v|)/127,
    q_i = floor(v_i/scale + 0.5) in [-127, 127] (zero vectors get
    scale 1 so they quantize to zeros, not NaNs).

    The 4x shrink (float32 -> int8) is the standard pre-ANN compression
    step for 100 TB embedding stores; per-row expression work only, so
    it rides the scan with zero shuffles. Every arithmetic step (float
    to double widening, max, IEEE division, floor) is bit-deterministic
    across engines, which is what lets the SQL oracle verify the exact
    quantized codes. Codes are emitted as a comma-joined string (array
    columns compare engine-specifically; see oracle notes).
    """
    base = vectors.select(F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v"))
    m = F.array_max(F.transform("v", F.abs))
    with_scale = base.select(
        "vec_id",
        "v",
        F.when(m == 0, F.lit(1.0)).otherwise(m / F.lit(127.0)).alias("scale"),
    )
    q = F.transform("v", lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("bigint"))
    return with_scale.select("vec_id", "scale", F.array_join(q, ",").alias("q8"))


# --- product quantization (PQ) ---------------------------------------
# The canonical companion of the IVF coarse quantizer (faiss's IVF-PQ):
# split each vector into S contiguous subvectors, k-means each subspace
# independently (reusing kmeans_iterate's deterministic Lloyd loop),
# and store each vector as S small codes. At 100 TB a 64-dim float32
# corpus (256 B/vector) compresses to S bytes/vector (S=4-8), and
# query scoring never touches the original vectors: an S x k lookup
# table per query (asymmetric distance computation, ADC) turns each
# distance into S table lookups — all of it below as pure Catalyst
# expressions, zero Python in the scoring path.


def _subspace_bounds(dim: int, n_subspaces: int) -> list[tuple[int, int]]:
    """1-based (start, length) slices covering the vector; dims must
    split evenly so codebooks align across the corpus."""
    if dim % n_subspaces != 0:
        raise ValueError(
            f"vector dim {dim} is not divisible by n_subspaces={n_subspaces}"
        )
    d = dim // n_subspaces
    return [(s * d + 1, d) for s in range(n_subspaces)]


def pq_train(
    vectors: DataFrame,
    dim: int,
    n_subspaces: int = 4,
    k: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train PQ codebooks: (subspace, cell, centroid) with one
    kmeans_iterate run per subspace over the sliced subvectors.
    Deterministic end-to-end (hash init, carry-forward empties); the
    returned table is S x k rows of short centroids — broadcast-class
    metadata, exactly like the IVF centroid table."""
    out = None
    for s, (start, length) in enumerate(_subspace_bounds(dim, n_subspaces)):
        sub = vectors.select(
            F.col(id_col).alias("vec_id"),
            F.slice(as_double_array(vec_col), start, length).alias("embedding"),
        )
        cb = kmeans_iterate(sub, k=k, n_iter=n_iter).select(
            F.lit(s).alias("subspace"), "cell", "centroid"
        )
        out = cb if out is None else out.unionByName(cb)
    return out


def _collect_codebooks(codebooks: DataFrame) -> dict[int, list[tuple[int, list[float]]]]:
    """codebooks -> {subspace: [(cell, centroid), ...] sorted} — S x k
    short rows, the same bounded-driver-metadata class kmeans_iterate
    already collects."""
    by_s: dict[int, list[tuple[int, list[float]]]] = {}
    for r in codebooks.collect():
        by_s.setdefault(int(r["subspace"]), []).append(
            (int(r["cell"]), [float(x) for x in r["centroid"]])
        )
    return {s: sorted(cells) for s, cells in by_s.items()}


def _sq_dist(vec_col: Column, centroid: list[float]) -> Column:
    return F.aggregate(
        F.zip_with(
            vec_col,
            F.array(*[F.lit(float(x)) for x in centroid]),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    dim: int,
    n_subspaces: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes array<int>): per subspace, the POSITION of the
    nearest codebook centroid within that subspace's sorted codebook —
    the same dense index ``ivfpq_topk`` builds its lookup arrays with, so
    fold-by-code can never misalign when hash-init left a codebook's
    raw cell ids sparse (the coarse level makes the identical
    position remap in `_assign_residuals`). Codebooks are inlined as
    literals (the kmeans_iterate trick), so encoding is a zero-shuffle
    scan-stage argmin; positions are sorted by cell id, so the
    (d2, pos) struct min keeps the original (d2, cell) tie rule."""
    cbs = _collect_codebooks(codebooks)
    bounds = _subspace_bounds(dim, n_subspaces)
    v = as_double_array(vec_col)
    code_cols = []
    for s, (start, length) in enumerate(bounds):
        sub = F.slice(v, start, length)
        scored = [
            F.struct(_sq_dist(sub, c).alias("d2"), F.lit(pos).alias("pos"))
            for pos, (_cell, c) in enumerate(cbs[s])
        ]
        code_cols.append(F.array_min(F.array(*scored))["pos"])
    return vectors.select(
        F.col(id_col).alias("vec_id"), F.array(*code_cols).alias("codes")
    )


def _adc_fold(lut: Column, codes: Column) -> Column:
    """sum_s LUT[s][code_s] — one corpus distance from S table lookups."""
    return F.aggregate(
        F.zip_with(lut, codes, lambda l, c: F.element_at(l, c + F.lit(1))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign_residuals(
    vectors: DataFrame,
    coarse_centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cell, residual) for every vector: nearest coarse cell by
    L2, residual = vector - that cell's centroid. The centroid table is
    collected (bounded: n_cells x dim) and inlined as literals, so the
    assignment+residual is a zero-shuffle scan expression of the
    ``ivfpq_index`` build."""
    cent_rows = sorted(
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in coarse_centroids.collect()
    )
    # cell ids from hash-init may be sparse; build a dense lookup array
    # indexed by position and remap cells to positions for element_at
    cell_ids = [c for c, _ in cent_rows]
    cent_lit = F.array(
        *[F.array(*[F.lit(x) for x in vec]) for _c, vec in cent_rows]
    )
    v = as_double_array(vec_col)
    scored = [
        F.struct(_sq_dist(v, vec).alias("d2"), F.lit(pos).alias("pos"))
        for pos, (_c, vec) in enumerate(cent_rows)
    ]
    return vectors.select(
        F.col(id_col).alias("vec_id"),
        v.alias("_v"),
        F.array_min(F.array(*scored))["pos"].alias("_pos"),
    ).select(
        "vec_id",
        F.element_at(F.array(*[F.lit(c) for c in cell_ids]), F.col("_pos") + 1).alias(
            "cell"
        ),
        F.zip_with(
            F.col("_v"),
            F.element_at(cent_lit, F.col("_pos") + 1),
            lambda x, y: x - y,
        ).alias("residual"),
    )


def ivfpq_index(
    corpus: DataFrame,
    dim: int,
    n_cells: int = 8,
    n_subspaces: int = 4,
    k_codes: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the full IVF-PQ index (the faiss IVFPQ architecture):
    coarse k-means cells + product-quantized RESIDUALS (vector minus
    its cell centroid — residuals are centered near zero, so the same
    codebook bit-budget buys far less quantization error than raw-PQ).

    Returns (coarse_centroids, codebooks, corpus_codes):
      coarse_centroids  (cell, centroid)       — n_cells rows
      codebooks         (subspace, cell, centroid) — S x k_codes rows
      corpus_codes      (vec_id, cell, codes)  — one row per vector

    Plan shape: both quantizer trainings are the deterministic
    literal-inlined Lloyd loop (kmeans_iterate); residual computation
    and encoding are zero-shuffle scan expressions (the centroid table
    is inlined as an element_at-indexed literal). corpus_codes is the
    only corpus-sized output — S+ few bytes per vector — and at 100 TB
    it lands partitioned/bucketed by cell so probes prune partitions.
    """
    cents = kmeans_iterate(
        corpus, k=n_cells, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    with_res = _assign_residuals(corpus, cents, id_col=id_col, vec_col=vec_col)
    codebooks = pq_train(
        with_res,
        dim=dim,
        n_subspaces=n_subspaces,
        k=k_codes,
        n_iter=n_iter,
        id_col="vec_id",
        vec_col="residual",
    )
    codes = pq_encode(
        with_res,
        codebooks,
        dim=dim,
        n_subspaces=n_subspaces,
        id_col="vec_id",
        vec_col="residual",
    )
    corpus_codes = with_res.select("vec_id", "cell").join(codes, "vec_id")
    return cents, codebooks, corpus_codes


def ivfpq_topk(
    corpus_codes: DataFrame,
    coarse_centroids: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    dim: int,
    n_subspaces: int = 4,
    n_probe: int = 2,
    k: int = 3,
    query_id_col: str = "qid",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ search: each query probes its ``n_probe`` nearest coarse
    cells; within a probed cell, distances are ADC over the RESIDUAL
    (query minus that cell's centroid) against the stored residual
    codes.

    Plan shape: the probe frame is (qid, cell, residual-LUT) —
    |queries| x n_probe rows of S x k doubles, broadcast — and the
    corpus side is an EQUI-join on cell (never a cross join): only the
    probed cells' code rows are scanned, which with cell-partitioned
    codes is the partition-pruned 1/n_cells read that makes IVF the
    scale path. Returned: (qid, vec_id, adc_dist, rn), deterministic
    (dist, vec_id) tie-break.

    The probe assignment AND the residual LUTs are computed on the
    DRIVER (round 15): queries and centroids are the same bounded
    broadcast metadata the codebooks already are (the LUT frame ships
    to every executor either way), and building the LUT as a Catalyst
    expression cost 3-6s of pure py4j expression-tree construction
    per call (S x k x (dim/S) literals, profiled at sf0.1) plus a
    double scan of the query frame. The Python arithmetic replicates
    the JVM fold order exactly — strict left-to-right accumulation of
    (x-y)*(x-y) over IEEE doubles, ties (d2, cell) ascending — so the
    emitted LUT values and probe choices are bit-identical to the
    former expression path."""
    cbs = _collect_codebooks(codebooks)
    bounds = _subspace_bounds(dim, n_subspaces)

    def _d2(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            d = x - y
            acc = acc + d * d
        return acc

    cent_rows = {
        int(r["cell"]): [float(x) for x in r["centroid"]]
        for r in coarse_centroids.collect()
    }
    q_rows = [
        (r["qid"], [float(x) for x in r["_qv"]])
        for r in queries.select(
            F.col(query_id_col).alias("qid"), as_double_array(vec_col).alias("_qv")
        ).collect()
    ]
    lut_rows = []
    for qid, qvec in q_rows:
        ranked = sorted((_d2(qvec, cv), cell) for cell, cv in cent_rows.items())
        for _dist, cell in ranked[:n_probe]:
            res = [x - y for x, y in zip(qvec, cent_rows[cell])]
            lut = [
                [_d2(res[start - 1 : start - 1 + length], c) for _cell, c in cbs[s]]
                for s, (start, length) in enumerate(bounds)
            ]
            lut_rows.append((qid, cell, lut))
    spark = corpus_codes.sparkSession
    lut_schema = T.StructType(
        [
            T.StructField("qid", queries.schema[query_id_col].dataType),
            T.StructField("cell", corpus_codes.schema["cell"].dataType),
            T.StructField(
                "_lut", T.ArrayType(T.ArrayType(T.DoubleType()))
            ),
        ]
    )
    probe_lut = F.broadcast(spark.createDataFrame(lut_rows, lut_schema))
    scored = corpus_codes.join(probe_lut, "cell").select(
        "qid",
        "vec_id",
        F.round(_adc_fold(F.col("_lut"), F.col("codes")), 6).alias("adc_dist"),
    )
    w = W.partitionBy("qid").orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def semantic_dedup_decisions(
    corpus: DataFrame,
    threshold: float,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    storage=None,
) -> DataFrame:
    """SemDeDup decision table (Abbas et al. 2023, arXiv:2303.09540):
    cluster the embedding space with the k-means coarse quantizer, form
    near-duplicate groups WITHIN each cluster (cosine >= ``threshold``
    pairs -> connected components), and in each group keep exactly one
    representative — the member with the LOWEST cosine similarity to
    its cluster centroid (the paper's diversity-preserving choice: the
    group's least-typical example), ties broken by min id.

    Returns (``id_col``, component, cent_sim, keep) for every vector
    that belongs to some near-dup group; vectors with no near-dup never
    appear and are implicitly kept.

    Plan shape at 100 TB: Lloyd training + assignment are the shared
    IVF operators (broadcast-argmin, shuffle only on (cell, dim));
    pairing is the cell-blocked self-join of ``near_dup_pairs``
    (sum(|cell|^2) candidates, never |corpus|^2); grouping is
    ``connected_components`` (diameter-bounded label propagation with
    a driver-side fast path for small graphs); the keeper election is
    one window over components, whose sizes are bounded by cluster
    sizes. The centroid-similarity join broadcasts the k-row centroid
    table.
    """
    from clickhouse_mysql_data_reader_spark.operators.graph import (
        connected_components,
    )

    cents = (
        centroids
        if centroids is not None
        else kmeans_iterate(corpus, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col)
    )
    assigned = assign_cells(corpus, cents, id_col=id_col, vec_col=vec_col)
    tagged = corpus.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("_v")
    ).join(assigned, "vec_id")
    # (id, vector, cell) has four consumers: both sides of the
    # cell-blocked pair self-join, the components count probe that
    # materializes them, and the centroid-similarity projection — pass
    # ``storage`` (e.g. StorageLevel.MEMORY_AND_DISK) to run the
    # scan+assignment subtree once instead of once per consumer.
    # CALLER-owned lifecycle (unpersist/clearCache after the action),
    # the jaccard_pairs contract; default None keeps the operator
    # allocation-free for callers that stream it once.
    if storage is not None:
        tagged = tagged.persist(storage)
    pairs = near_dup_pairs(
        tagged, threshold, id_col="vec_id", vec_col="_v", cell_col="cell"
    )
    comp = connected_components(pairs, src="vec_a", dst="vec_b")
    cent_sim = tagged.join(F.broadcast(cents), "cell").select(
        "vec_id", F.round(cosine(F.col("_v"), F.col("centroid")), 6).alias("cent_sim")
    )
    w = W.partitionBy("component").orderBy(
        F.col("cent_sim").asc(), F.col("vec_id").asc()
    )
    return (
        comp.withColumnRenamed("doc_id", "vec_id")
        .join(cent_sim, "vec_id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select(F.col("vec_id").alias(id_col), "component", "cent_sim", "keep")
    )


# ---------------------------------------------------------------------------
# Signed-random-projection (SRP) LSH — cosine near-dup without a quantizer
# ---------------------------------------------------------------------------

#: fixed-point scale for SRP projections: floor(x * 2^16) per dimension
#: makes every projection an exact integer sum (|x| <= ~8 -> |xq| < 2^19,
#: 64 dims -> |dot| < 2^25, exact in double on BOTH engines), so the
#: sign decision — and therefore every band bucket — is bit-identical
#: between Spark and any SQL oracle. Raw float dot products differ in
#: the last ulp across engines, which would flip near-zero signs.
SRP_SCALE = 65536


def srp_hyperplanes(dim: int, n_bits: int, seed: str = "srp") -> list[list[int]]:
    """Deterministic +-1 hyperplanes from md5 parity (Charikar 2002,
    STOC — sign-random-projection LSH for cosine). Driver-side and
    tiny (n_bits x dim ints); reproducible across sessions/clusters so
    fingerprints written by one run join against another's."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{seed}:{b}:{d}".encode()).digest()[0] & 1 else -1
            for d in range(dim)
        ]
        for b in range(n_bits)
    ]


def srp_band_table(
    vectors: DataFrame,
    dim: int,
    n_bits: int = 32,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "srp",
    impl: str = "arrow",
) -> DataFrame:
    """(vid, band_idx, band_val) — each vector lands in ``n_bands``
    LSH buckets keyed by ``band_bits = n_bits / n_bands`` SRP sign
    bits. P(two vectors share one bit) = 1 - theta/pi, so a band
    matches with that to the band_bits-th power — the usual S-curve:
    near-identical vectors (cos >= 0.95) collide in some band with
    high probability, unrelated ones almost never do.

    Two implementations, BIT-IDENTICAL by construction (equality
    pinned in tests/test_similarity_extras.py — the fixed-point
    quantization means both compute the same exact integer sums):

    - ``impl='arrow'`` (default): one Arrow-batched numpy matmul per
      batch (vq @ H.T in int64). Higher-order array lambdas are not
      whole-stage-codegen'd, so the expression form pays an
      interpreted O(n_bits * dim) fold per row — the matmul does the
      same arithmetic at BLAS speed (sf0.1 pairs bench: 3.25s -> 1.9s;
      the remainder is the candidate-verify cosine, which stays
      expression-level on purpose — numpy's pairwise-summed float dot
      is NOT bit-identical to the sequential fold the oracle mirrors).
    - ``impl='expr'``: pure Catalyst expressions (one ``transform`` +
      n_bits ``zip_with``/``aggregate`` folds) — no Python workers in
      the plan; the SQL-transparent reference form the
      ``embed_srp_bands`` oracle verifies element-wise.

    No shuffle until the candidate join in either form.
    """
    if n_bits % n_bands:
        raise ValueError(f"n_bits={n_bits} not divisible by n_bands={n_bands}")
    if impl == "arrow":
        return _srp_band_table_arrow(
            vectors, dim, n_bits, n_bands, id_col, vec_col, seed
        )
    if impl != "expr":
        raise ValueError(f"srp_band_table: impl must be 'arrow' or 'expr', got {impl!r}")
    band_bits = n_bits // n_bands
    planes = srp_hyperplanes(dim, n_bits, seed)
    vq = F.transform(
        as_double_array(vec_col), lambda x: F.floor(x * F.lit(SRP_SCALE))
    )
    # dimension guard: zip_with NULL-pads a short vector, the fold goes
    # NULL, and when(proj > 0).otherwise(0) would SILENTLY map every
    # bit to 0 — all malformed vectors colliding in the all-zero bucket
    # of every band. The arrow path raises on the shape mismatch; raise
    # identically here instead of diverging.
    vq = F.when(
        F.size(F.col(vec_col)) != dim,
        F.raise_error(
            F.lit(
                f"srp_band_table: vector length != dim={dim} "
                "(truncated upload / mixed encoder versions?)"
            )
        ).cast("array<double>"),
    ).otherwise(vq)
    e = vectors.select(F.col(id_col).alias("vid"), vq.alias("vq"))

    def bit(b: int) -> Column:
        w = F.array(*[F.lit(float(v)) for v in planes[b]])
        proj = F.aggregate(
            F.zip_with(F.col("vq"), w, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.when(proj > 0, F.lit(1)).otherwise(F.lit(0))

    bands = [
        sum(
            (bit(j * band_bits + i) * F.lit(1 << i) for i in range(band_bits)),
            start=F.lit(0),
        )
        for j in range(n_bands)
    ]
    return e.select(
        "vid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_idx"), bands[j].alias("band_val")
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("vid", "b.band_idx", "b.band_val")


def _srp_band_table_arrow(
    vectors: DataFrame,
    dim: int,
    n_bits: int,
    n_bands: int,
    id_col: str,
    vec_col: str,
    seed: str,
) -> DataFrame:
    """Arrow path of :func:`srp_band_table`: floor(x * 2^16) -> int64,
    one (batch x dim) @ (dim x n_bits) integer matmul, pack band
    values. Integer matmul has no accumulation-order sensitivity, so
    the bits equal the expression form's exactly."""
    import sys

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from clickhouse_mysql_data_reader_spark.util import self_contained_pickle

    self_contained_pickle(sys.modules[__name__])

    band_bits = n_bits // n_bands
    h_t = np.array(srp_hyperplanes(dim, n_bits, seed), dtype=np.int64).T  # (dim, n_bits)
    weights = (1 << np.arange(band_bits, dtype=np.int64))
    scale = SRP_SCALE

    inp = vectors.select(
        F.col(id_col).alias("vid"), as_double_array(vec_col).alias("v")
    )
    out_schema = T.StructType(
        [
            inp.schema["vid"],
            T.StructField("band_idx", T.IntegerType(), False),
            T.StructField("band_val", T.LongType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["v"].to_numpy())  # (n, dim); ragged input raises
            vq = np.floor(mat * scale).astype(np.int64)
            bits = (vq @ h_t) > 0  # (n, n_bits) exact integer sums
            bands = (
                bits.reshape(len(pdf), n_bands, band_bits).astype(np.int64) @ weights
            )  # (n, n_bands)
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"].to_numpy().repeat(n_bands),
                    "band_idx": np.tile(
                        np.arange(n_bands, dtype=np.int32), len(pdf)
                    ),
                    "band_val": bands.reshape(-1),
                }
            )

    return inp.mapInPandas(run, schema=out_schema)


def near_dup_pairs_srp(
    corpus: DataFrame,
    threshold: float,
    dim: int,
    n_bits: int = 32,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "srp",
    impl: str = "arrow",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via SRP-LSH banding.

    The quantizer-free sibling of :func:`near_dup_pairs`: where that
    operator blocks on an IVF cell (needs trained centroids and misses
    across cell borders), this one blocks on sign-random-projection
    bands — no training pass, and recall is a tunable S-curve in
    (n_bits, n_bands) rather than a cell-boundary artifact. The right
    tool for HIGH thresholds (cos >= ~0.9, the near-dup regime);
    at low thresholds the curve flattens and IVF blocking wins.

    100 TB shape: band buckets bound the self-join exactly like
    MinHash-LSH banding on text (operators/dedup.py) — candidates
    scale with sum(|bucket|^2) per band, never |corpus|^2, and the
    bucket key (band_idx, band_val) is uniform by construction
    (md5-derived hyperplanes), so no salting is needed. Verification
    re-scores only candidate pairs with the exact rounded cosine, so
    banding can only LOSE pairs (no false positives) — recall vs the
    exact baseline is pinned in tests/test_similarity_extras.py.
    """
    bt = srp_band_table(
        corpus, dim, n_bits=n_bits, n_bands=n_bands,
        id_col=id_col, vec_col=vec_col, seed=seed, impl=impl,
    )
    a, b = bt.alias("a"), bt.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b"))
        .distinct()
    )
    e = corpus.select(
        F.col(id_col).alias("vid"), as_double_array(vec_col).alias("v")
    ).withColumn("nn", l2_norm(F.col("v")))
    ea = e.select(
        F.col("vid").alias("vec_a"), F.col("v").alias("va"), F.col("nn").alias("na")
    )
    eb = e.select(
        F.col("vid").alias("vec_b"), F.col("v").alias("vb"), F.col("nn").alias("nb")
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                cosine_n(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def centroid_drift(
    old: DataFrame,
    new: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 10**9,
) -> DataFrame:
    """Per-label embedding-distribution drift between two corpus
    snapshots: (label, n_old, n_new, centroid_cos) where centroid_cos
    is the cosine between the label's old and new mean vectors (counts
    cancel in cosine, so unnormalized per-dimension SUMS suffice).

    The embedding-space twin of profile.corpus_diff — after re-encoding
    a corpus or landing a new batch, a label whose centroid swings away
    from cos~1 has drifted (encoder change, data shift, label
    contamination). Exactness: float sums are partition-order-dependent,
    so each element is first quantized to integer ticks with the
    bit-deterministic double pipeline quantize_int8 established
    (floor(x*scale + 0.5)); per-(label, dim) tick sums are exact BIGINTs
    (headroom: |x|<=1 ticks 1e9, 1e9 rows/label => 1e18 < int64 max),
    the dot/norm products ride DECIMAL(38,0) (HUGEINT twin), and the
    final cosine divides identical doubles in both engines.

    Plan shape for 100 TB: posexplode fans each row into dim elements
    ONCE at the scan, the (label, dim) partial aggregate is map-side
    combined down to labels x dims rows, and everything after operates
    on that tiny frame (broadcast-sized join + final per-label agg).
    Vectors themselves never shuffle.
    """
    dec = "decimal(38,0)"

    def _sums(df: DataFrame, tag: str) -> DataFrame:
        el = df.select(
            F.col(label_col).alias("_cd_label"),
            F.posexplode(F.col(vec_col)).alias("_cd_pos", "_cd_x"),
        )
        t = F.floor(F.col("_cd_x").cast("double") * scale + F.lit(0.5)).cast("long")
        return el.groupBy("_cd_label", "_cd_pos").agg(
            F.sum(t).alias(f"_s_{tag}"),
            F.count(F.lit(1)).alias(f"_n_{tag}"),
        )

    j = _sums(old, "old").join(_sums(new, "new"), ["_cd_label", "_cd_pos"])
    so = F.col("_s_old").cast(dec)
    sn = F.col("_s_new").cast(dec)
    per_label = j.groupBy("_cd_label").agg(
        F.min("_n_old").alias("n_old"),
        F.min("_n_new").alias("n_new"),
        F.sum((so * sn).cast(dec)).cast(dec).alias("_dot"),
        F.sum((so * so).cast(dec)).cast(dec).alias("_no2"),
        F.sum((sn * sn).cast(dec)).cast(dec).alias("_nn2"),
    )
    denom = F.sqrt(F.col("_no2").cast("double") * F.col("_nn2").cast("double"))
    return per_label.select(
        F.col("_cd_label").alias(label_col),
        "n_old",
        "n_new",
        F.when(denom == 0, F.lit(0.0))
        .otherwise(F.round(F.col("_dot").cast("double") / denom, 6))
        .alias("centroid_cos"),
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_candidates: int = 16,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98) — diversified top-k for RAG retrieval: greedily pick the
    doc maximizing ``lam * rel(d, q) - (1 - lam) * max_sim(d,
    selected)``, so near-duplicate passages don't crowd the context
    window the way a pure relevance top-k lets them.

    Plan at 100 TB: relevance candidates come from the DISTRIBUTED
    exact top-N (``cosine_topk`` — swap in ``ivf_topk`` upstream for
    ANN at scale); only the BOUNDED per-query candidate set (N rows,
    N^2 pairwise sims) reaches the greedy step, which runs per-query
    inside an Arrow-batched cogroup ``applyInPandas`` — queries scale
    out across executors, nothing returns to the driver, and the
    corpus is touched only by the candidate/pair joins.

    Evaluation count: the candidate subtree feeds the cogroup leg AND
    both pair legs (plus two vector lookups), so the top-N (one corpus
    scan + window) evaluates ~5x per action. Deliberately not
    persisted here (no release point in an operator that returns a
    lazy frame — the curation LM gate reasoning); a production caller
    re-ranking against an expensive retrieval should LAND the
    candidate frame first and feed the landed table.

    Determinism — the scaled-integer idiom (no float boundary rows):
    relevance and pairwise cosines are quantized to MICRO-UNITS
    (round(cos * 1e6) as BIGINT) before the greedy loop, ``lam`` is
    taken as the exact rational of its decimal literal (0.7 = 7/10),
    and every score is the exact integer ``num*rel_u -
    (den-num)*pen_u`` — the argmax is an integer comparison and ties
    break on the smaller id in the id type's NATIVE order (numeric
    for integer ids, lexicographic for string ids — ids are never
    coerced), and the output ``mmr_score = score / (den*1e6)`` is
    one identical double division on both engines. Float rounding of
    ``0.7 * <6-decimal value>`` lands on an exact decimal half at the
    7th digit for every odd last digit — a SYSTEMATIC
    Spark-HALF_UP-vs-DuckDB-binary-round divergence, not a rare one —
    which is why no float score ever forms.

    Returns (qid, rank, vec_id, mmr_score) with rank 1..k per query.
    """
    from fractions import Fraction

    frac = Fraction(str(lam))
    if frac.denominator > 1000:
        raise ValueError(
            f"lam={lam!r} has no short exact decimal form; pass a "
            "literal like 0.7 (exact integer scoring needs a small "
            "denominator)"
        )
    num, den = frac.numerator, frac.denominator
    pnum = den - num
    # candidates= is the retrieval seam: pass a LANDED (qid, vec_id,
    # cos_sim) frame — e.g. ivf_topk output, or cosine_topk persisted
    # by the caller — and the exact top-N subtree (and its repeated
    # evaluation, see below) disappears from this plan entirely
    if candidates is None:
        candidates = cosine_topk(
            corpus,
            queries,
            k=n_candidates,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
        )
    cands = candidates.select(
        "qid",
        "vec_id",
        # micro-units: cos_sim is already the 6-decimal value, so *1e6
        # rounds to the exact integer it denotes
        F.round(F.col("cos_sim") * 1e6).cast("long").alias("rel_u"),
    )
    vecs = corpus.select(
        F.col(id_col).alias("_vid"), as_double_array(vec_col).alias("_e")
    ).withColumn("_n", l2_norm(F.col("_e")))
    ca = cands.select("qid", F.col("vec_id").alias("ia")).join(
        vecs.select(
            F.col("_vid").alias("ia"), F.col("_e").alias("_ea"), F.col("_n").alias("_na")
        ),
        "ia",
    )
    # rename the right side's qid: the two legs share the `cands`
    # lineage and a same-name join key trips the ambiguous-self-join
    # analyzer check
    cb = cands.select(
        F.col("qid").alias("_qid_b"), F.col("vec_id").alias("ib")
    ).join(
        vecs.select(
            F.col("_vid").alias("ib"), F.col("_e").alias("_eb"), F.col("_n").alias("_nb")
        ),
        "ib",
    )
    pairs = (
        ca.join(cb, F.col("qid") == F.col("_qid_b"))
        .where(F.col("ia") != F.col("ib"))
        .select(
            # when(True, qid): a no-op the optimizer folds, but the
            # Alias mints a FRESH attribute id — `pairs` and `cands`
            # share lineage, and cogrouping both on the same attribute
            # trips the ambiguous-self-join analyzer check
            F.when(F.lit(True), F.col("qid")).alias("qid"),
            "ia",
            "ib",
            # same two-step derivation as rel_u (6-decimal value,
            # then micro-units) so both unit columns mean exactly
            # "round(cos, 6) * 1e6" like the oracle's
            F.round(
                F.round(
                    cosine_n(
                        F.col("_ea"), F.col("_eb"), F.col("_na"), F.col("_nb")
                    ),
                    6,
                )
                * 1e6
            )
            .cast("long")
            .alias("sim_u"),
        )
    )

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    qid_t = cands.schema["qid"].dataType
    vid_t = cands.schema["vec_id"].dataType
    out_schema = StructType(
        [
            StructField("qid", qid_t),
            StructField("rank", IntegerType()),
            StructField("vec_id", vid_t),
            StructField("score_u", LongType()),
        ]
    )

    def _greedy(cdf, pdf):
        import pandas as pd

        if len(cdf) == 0:
            return pd.DataFrame(columns=["qid", "rank", "vec_id", "score_u"])
        qid = cdf["qid"].iloc[0]
        # ids stay in their NATIVE type (no int() cast): string /
        # arbitrary ids key and emit unchanged, and the documented
        # "smaller id wins" tie-break is the id type's natural order
        # (numeric for ints, lexicographic for strings). Scores DO
        # coerce to Python int so the arithmetic below can't silently
        # wrap in numpy int64.
        rel = {v: int(u) for v, u in zip(cdf["vec_id"], cdf["rel_u"])}
        sims = {
            (a, b): int(u)
            for a, b, u in zip(pdf["ia"], pdf["ib"], pdf["sim_u"])
        }
        selected: list = []
        rows = []
        remaining = sorted(rel)  # ascending id => lowest id wins ties
        for step in range(min(k, len(remaining))):
            best_id, best_score = None, None
            for cid in remaining:
                pen = (
                    max(sims.get((cid, s), 0) for s in selected)
                    if selected
                    else 0
                )
                # exact integers end to end: argmax and ties are
                # integer comparisons, no float ever forms
                score = num * rel[cid] - pnum * pen
                if best_score is None or score > best_score:
                    best_id, best_score = cid, score
            selected.append(best_id)
            remaining.remove(best_id)
            rows.append((qid, step + 1, best_id, best_score))
        return pd.DataFrame(rows, columns=["qid", "rank", "vec_id", "score_u"])

    return (
        cands.groupby("qid")
        .cogroup(pairs.groupby("qid"))
        .applyInPandas(_greedy, schema=out_schema)
        .select(
            "qid",
            "rank",
            "vec_id",
            # one identical double division on both engines — the only
            # float op in the whole scorer
            (F.col("score_u") / F.lit(float(den) * 1e6)).alias("mmr_score"),
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 60,
    top_k: int = 10,
    scale: int = 10**12,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR'09):
    combine the rankings of INDEPENDENT retrievers — lexical BM25,
    embedding cosine, hashed-BoW — into one list by summing
    ``1/(k + rank)`` per document, the standard score-free fusion for
    hybrid RAG retrieval (rank positions are comparable across
    retrievers; raw scores are not).

    Each input frame must carry ``(id_col, rank)`` with rank starting
    at 1 (any extra columns are ignored); a document absent from a
    ranking simply contributes nothing — RRF's native behavior. The
    rank-starts-at-1 contract is ENFORCED in-plan: rows with rank < 1
    (or NULL) are excluded before scoring — otherwise a rank-0 row at
    k=0 hits ``div(scale, 0)``, which Spark folds to NULL (silently
    vanishing from the sum) while DuckDB raises, an engine divergence
    — and duplicate ids WITHIN one ranking frame collapse to their
    best (minimum) rank, so a sloppy retriever can neither
    double-contribute a document nor inflate ``n_rankers``.

    Determinism — the scaled-integer idiom: the contribution is
    ``scale div (k + rank)`` as an exact BIGINT (floor at the 12th
    digit with the default scale — far below any rank-separating
    gap), so the per-document sum commutes exactly under Spark's
    unordered aggregation; the reported ``rrf_score = score_u /
    scale`` is one identical double division on both engines and the
    final ordering/ties (score desc, id asc) are integer/id
    comparisons.

    Scale shape: the inputs are top-N ranking frames — BOUNDED by
    construction (sum of the retrievers' N, not the corpus) — so the
    union + groupBy + final row_number all run over a few dozen rows
    per query; the corpora were already reduced by the upstream
    retrievers. Returns (id_col, rank, n_rankers, score_u, rrf_score),
    rank 1..top_k.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking frame")
    if k < 0 or top_k < 1:
        raise ValueError(f"need k >= 0 and top_k >= 1, got k={k}, top_k={top_k}")
    parts = []
    for r in rankings:
        if "rank" not in r.columns or id_col not in r.columns:
            raise ValueError(
                f"each ranking needs ({id_col!r}, 'rank') columns; got "
                f"{r.columns}"
            )
        parts.append(
            # contract enforcement per frame (see docstring): ranks
            # below 1 are out-of-contract (rank 0 would divide by zero
            # at k=0 — NULL on Spark, an error on DuckDB), and
            # duplicate ids take their best rank so one frame
            # contributes at most once per document. The frames are
            # bounded top-Ns, so the extra groupBy is a few rows.
            r.select(F.col(id_col), F.col("rank").cast("long").alias("_rk"))
            .where(F.col("_rk") >= 1)
            .groupBy(id_col)
            .agg(F.min("_rk").alias("_rk"))
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    scored = u.groupBy(id_col).agg(
        F.sum(
            F.expr(f"div(CAST({scale} AS BIGINT), {k} + _rk)")
        ).alias("score_u"),
        F.count(F.lit(1)).cast("long").alias("n_rankers"),
    )
    # unpartitioned window is safe HERE only because the frame is
    # bounded (sum of top-Ns); a corpus-sized ranking must pre-limit
    w = W.orderBy(F.col("score_u").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_k)
        .select(
            id_col,
            "rank",
            "n_rankers",
            "score_u",
            (F.col("score_u") / F.lit(float(scale))).alias("rrf_score"),
        )
    )
