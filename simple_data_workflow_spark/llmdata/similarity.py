"""Similarity search over embedding columns (array<float>).

Two paths with one output contract (query_id, neighbor_id, cosine):

- **brute-force top-k** — the exactness baseline: join queries × corpus,
  cosine via codegen array expressions, per-query top-k via a window
  partitioned on query_id (the sort is per-partition-key, never global).
  O(Q·N) — correct at any scale where Q·N compute is acceptable; the
  corpus side streams, nothing is collected.
- **random-hyperplane LSH buckets** — the 100 TB path: H fixed random
  hyperplanes (seeded, driver-generated, broadcast as literals) → a
  sign-bit bucket id per vector; candidates = bucket collisions (plus
  optional multi-probe neighboring buckets); exact cosine re-ranks
  candidates. Shuffle key = bucket id, volume ∝ collisions, not Q·N.

Pre-normalization (``vectors.l2_normalize``) turns cosine into dot and
is done once per side, not per pair.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from simple_data_workflow_spark.blasctl import blas_threads
from simple_data_workflow_spark.functions.vectors import (
    cosine,
    cosine_pd,
    dot,
    hyperplane_bucket_pd,
    l2_normalize,
    nearest_centroids_pd,
)
from simple_data_workflow_spark.session import ensure_parallelism


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    prenormalize: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded).

    Deterministic ordering: cosine desc, neighbor id asc.
    ``prenormalize=True`` (default, the scale path) normalizes each side
    once and scores with a plain dot; ``False`` computes the full cosine
    per pair — numerically identical formula to the SQL oracle
    (dot/(norm·norm)), used for cross-engine hash parity."""
    corpus = ensure_parallelism(corpus)
    if prenormalize:
        # perf path: Arrow-batched BLAS cosine (the fold forms are
        # interpreted per element — reserved for oracle-parity scoring)
        q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        score = cosine_pd()(F.col("qv"), F.col("cv"))
    else:
        q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        score = cosine(F.col("qv"), F.col("cv"))
    pairs = q.join(c, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(score, 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _probe_masks(n_planes: int, probe_bits: int) -> list[int]:
    """XOR masks for multiprobe: every bit pattern flipping ≤ probe_bits
    of the n_planes sign bits (mask 0 = the home bucket)."""
    import itertools

    masks = [0]
    for r in range(1, probe_bits + 1):
        for combo in itertools.combinations(range(n_planes), r):
            masks.append(sum(1 << b for b in combo))
    return masks


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    probe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates from hyperplane-bucket collision,
    exact cosine re-rank. Same output schema as ``brute_force_topk``.

    Recall < 1 by construction (bucket-boundary misses); the two tuning
    levers trade recall against candidate volume explicitly:

    - ``n_planes``: more planes → 2^n_planes buckets → smaller buckets.
      Scale it with corpus size (≈ log2(N / target_bucket_rows)) so
      per-bucket candidate counts stay bounded at 100 TB.
    - ``probe_bits``: each QUERY also probes every bucket within hamming
      ``probe_bits`` of its own (sum of C(n_planes, i) buckets) — near-
      boundary neighbors differing in a few sign bits are recovered
      without coarsening the bucketing for the corpus side. Corpus rows
      are never replicated; only the query stream fans out.

    Measured at the test config (64-dim clustered corpus, n_planes=8,
    probe_bits=1): recall@5 ≥ 0.8 vs ``brute_force_topk``
    (tests/test_llmdata.py::test_lsh_topk_recall_vs_brute_force).
    """
    planes = _hyperplanes(dim, n_planes, seed)
    corpus = ensure_parallelism(corpus)
    bucket_udf = hyperplane_bucket_pd(planes)
    masks = _probe_masks(n_planes, probe_bits)
    # bucket computed ONCE per query row (its own projection; the Arrow
    # UDF is extracted to a separate plan node, so the per-mask XORs below
    # reference the materialized column, not n re-evaluations)
    q_home = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        bucket_udf(F.col(vec_col)).alias("__home"),
    )
    q = q_home.select(
        "query_id",
        "qv",
        F.explode(
            F.array(*[F.lit(m).cast("long").bitwiseXOR(F.col("__home")) for m in masks])
        ).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        bucket_udf(F.col(vec_col)).alias("bucket"),
    )
    pairs = q.join(c, ["bucket"]).where(F.col("query_id") != F.col("neighbor_id"))
    # candidate sets are small by design → fold-based cosine: a pandas_udf
    # here pays a Python-worker roundtrip per (tiny) post-join partition.
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )
    # No distinct at ANY probe_bits: a (query, corpus) pair matches probed
    # bucket home_q XOR m == home_c only for the single mask
    # m == home_q XOR home_c, and the masks are distinct bit patterns —
    # pair uniqueness is structural, a dedup would be a pure extra
    # shuffle of the scored pairs.
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_rows_all_pairs: int = 20_000,
    prenormalize: bool = True,
    mode: str = "auto",
    n_planes: int | None = None,
    probe_bits: int = 1,
    dim: int | None = None,
    scorer: str = "codegen",
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold, id_a < id_b.

    ``mode`` picks the plan shape explicitly, keeping planned pipelines
    action-free:

    - ``'exact'``: all-pairs self-join — O(n²), caller asserts the scale.
    - ``'lsh'``: hyperplane-bucketed candidates + exact re-score. No
      guard count runs; the plan is built without any job.
    - ``'auto'`` (default, interactive use): ONE ``count()`` action
      chooses exact under ``max_rows_all_pairs`` rows, lsh above.

    ``n_planes`` (lsh): buckets = 2^n_planes; scale it like ``lsh_topk``
    (≈ log2(N / target_bucket_rows)) so per-bucket candidate joins stay
    bounded — in auto mode it is derived from the measured count with a
    ~256-row bucket target; in explicit lsh mode it defaults to 8, and
    callers at real scale should pass their own. ``probe_bits``: one
    join side also probes every bucket within that hamming distance, so
    near-dup pairs differing in ≤ probe_bits sign bits are still found —
    the measured-recall knob (candidate volume × Σ C(n_planes, i)); the
    pinned bound lives in
    tests/test_llmdata.py::test_cosine_near_dup_lsh_recall.

    ``dim`` (lsh): embedding width for the hyperplane draw; when omitted
    it is probed with a 1-row ``first()`` — pass it together with
    ``mode='lsh'`` for a fully action-free plan build.

    ``scorer`` (lsh) picks how candidate pairs are re-scored:
    ``'codegen'`` (default) is the JVM ``zip_with``/``aggregate`` fold —
    no Python worker in the loop, the right choice at moderate dims and
    when plane scaling keeps per-bucket volume bounded; ``'arrow'`` is
    the Arrow-batched BLAS kernel — it pays a fixed exchange cost but
    wins when dims are large (≥ several hundred) or a mis-sized bucket
    layout floods the join with candidates.

    ``prenormalize=False`` scores with the oracle-parity cosine formula.
    """
    if mode not in ("auto", "exact", "lsh"):
        raise ValueError(f"mode must be 'auto', 'exact' or 'lsh', got {mode!r}")
    if scorer not in ("codegen", "arrow"):
        raise ValueError(f"scorer must be 'codegen' or 'arrow', got {scorer!r}")
    if mode == "auto":
        n = df.count()
        mode = "exact" if n <= max_rows_all_pairs else "lsh"
        if n_planes is None and mode == "lsh":
            n_planes = max(4, min(24, int(np.ceil(np.log2(max(n, 2) / 256)))))
    if n_planes is None:
        n_planes = 8
    df = ensure_parallelism(df)
    if mode == "exact" and not prenormalize:
        raw = df.select(F.col(id_col), F.col(vec_col).alias("v"))
        a, b = raw.alias("a"), raw.alias("b")
        pairs = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cosine"),
        )
        return pairs.where(F.col("cosine") >= threshold)
    if mode == "exact":
        norm = df.select(F.col(id_col), l2_normalize(F.col(vec_col)).alias("v"))
        a, b = norm.alias("a"), norm.alias("b")
        pairs = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(dot(F.col("a.v"), F.col("b.v")), 6).alias("cosine"),
        )
    else:
        if dim is None:
            dim = len(df.select(vec_col).first()[0])
        planes = _hyperplanes(dim, n_planes)
        bucketed = df.select(
            F.col(id_col),
            F.col(vec_col).alias("v"),
            hyperplane_bucket_pd(planes)(F.col(vec_col)).alias("__home"),
        )
        masks = _probe_masks(n_planes, probe_bits)
        # only side a fans out over the probe masks: every ordered pair
        # (id_a < id_b) is reached when a's probed bucket hits b's home
        # bucket, so the corpus side is never replicated
        a = bucketed.select(
            F.col(id_col),
            "v",
            F.explode(
                F.array(*[F.lit(m).cast("long").bitwiseXOR(F.col("__home")) for m in masks])
            ).alias("bucket"),
        ).alias("a")
        b = bucketed.withColumnRenamed("__home", "bucket").alias("b")
        score = cosine_pd()(F.col("a.v"), F.col("b.v")) if scorer == "arrow" else cosine(
            F.col("a.v"), F.col("b.v")
        )
        pairs = (
            a.join(
                b,
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.round(score, 6).alias("cosine"),
            )
            # no distinct: (a, b) matches a's probed bucket
            # home_a XOR m == home_b only at the single mask
            # m == home_a XOR home_b — pair uniqueness is structural
        )
    return pairs.where(F.col("cosine") >= threshold)


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column:
    ``scale = max|x| / 127``, ``q_i = round(x_i / scale)`` ∈ [-127, 127].

    Returns (id, scale, qvec, max_abs_err, mse) — the 4× memory/IO
    reduction step before an ANN index is built or embeddings ship to
    object storage; the error stats make the precision loss auditable
    per vector. Pure codegen array expressions: linear scan, no shuffle,
    no Python. All-zero vectors get scale 0 and an all-zero qvec (the
    nullif guards the division).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = (absmax / F.lit(127.0)).alias("scale")
    stage = ensure_parallelism(df).select(
        F.col(id_col), v.alias("__v"), scale
    )
    q = F.transform(
        F.col("__v"),
        lambda x: F.coalesce(
            F.round(x / F.nullif(F.col("scale"), F.lit(0.0)), 0), F.lit(0.0)
        ).cast("int"),
    )
    staged = stage.select(id_col, "scale", "__v", q.alias("qvec"))
    # error array hoisted to its own named column: it is referenced twice
    # below and CollapseProject only spares multiply-used non-cheap exprs
    # when they are materialized as a prior projection's output
    with_err = staged.select(
        id_col,
        "scale",
        "qvec",
        F.size(F.col("__v")).alias("__n"),
        F.zip_with(
            F.col("__v"),
            F.col("qvec"),
            lambda x, qi: F.abs(qi.cast("double") * F.col("scale") - x),
        ).alias("__err"),
    )
    return with_err.select(
        id_col,
        F.round(F.col("scale"), 6).alias("scale"),
        "qvec",
        F.round(F.array_max(F.col("__err")), 6).alias("max_abs_err"),
        F.round(
            F.aggregate(F.col("__err"), F.lit(0.0), lambda acc, e: acc + e * e)
            / F.col("__n"),
            6,
        ).alias("mse"),
    )


def _sample_matrix(corpus: DataFrame, vec_col: str, sample: int) -> np.ndarray:
    """The first ``sample`` vectors as a float64 ``sample × dim`` matrix:
    one Arrow collect, the bounded training set of both driver-side
    quantizer fits. On a local master the rows and their order are those
    of ``limit(sample).collect()``, so a seeded refit is identical."""
    pdf = (
        corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
        .limit(sample)
        .toPandas()
    )
    return np.asarray(pdf["v"].tolist(), dtype=np.float64)


def fit_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
) -> list[list[float]]:
    """Train the IVF coarse quantizer (seeded numpy Lloyd k-means on a
    bounded 10k-row sample, fit on the driver) and return plain centroid
    lists. Index building is a one-time cost amortized over queries —
    fit once, pass ``centroids`` into ``ivf_topk`` for every search."""
    X = _sample_matrix(corpus, vec_col, 10_000)
    # single-threaded BLAS for the small GEMMs, as in fit_pq_codebooks
    with blas_threads(1):
        return _kmeans_np(X, n_lists, seed=seed).tolist()


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer,
    each corpus vector assigned to its nearest centroid list, each query
    probes its ``n_probe`` nearest lists and exact-scores only those.

    The quantizer trains on a bounded sample on the driver
    (``fit_ivf_centroids``, seeded); the centroid set is tiny and rides
    into the plan as literals. Compute is ∝ corpus/n_lists · n_probe per
    query instead of the full corpus; the shuffle key is the list id.
    Recall < 1 by construction.
    """
    corpus = ensure_parallelism(corpus)
    if centroids is None:
        centroids = fit_ivf_centroids(corpus, vec_col=vec_col, n_lists=n_lists, seed=seed)

    assign1 = nearest_centroids_pd(centroids, 1)
    assign_probe = nearest_centroids_pd(centroids, n_probe)
    cos_udf = cosine_pd()
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.element_at(assign1(F.col(vec_col)), 1).alias("list_id"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(assign_probe(F.col(vec_col))).alias("list_id"),
    )

    pairs = q.join(c, "list_id").where(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cos_udf(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    ).distinct()
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


# ------------------------------------------------------ product quantization


def _kmeans_np(X: "np.ndarray", k: int, iters: int = 20, seed: int = 42):
    """Seeded Lloyd k-means on a driver-side sample — the trainer of both
    quantizers (IVF coarse centroids and PQ subspace codebooks).
    Deterministic (fixed RNG, distinct-point init); empty clusters keep
    their previous centroid. Sample sizes are bounded by the caller
    (10k rows), so each fit is milliseconds of numpy — no Spark job."""
    rng = np.random.default_rng(seed)
    k = min(k, len(X))
    idx = rng.choice(len(X), size=k, replace=False)
    C = X[idx].astype(np.float64).copy()
    X = np.ascontiguousarray(X, dtype=np.float64)
    dim = X.shape[1]
    for _ in range(iters):
        # argmin_c ||x-c||² == argmin_c (||c||² - 2x·c): one BLAS GEMM
        # instead of the n×k×dim broadcast temp (measured ~40× on the
        # 10k×256 PQ shape — guide §1.2 "per-task work", here the task
        # is the driver fit)
        d = X @ C.T
        d *= -2.0
        d += (C * C).sum(axis=1)[None, :]
        a = d.argmin(axis=1)
        counts = np.bincount(a, minlength=k).astype(np.float64)
        sums = np.empty_like(C)
        for j in range(dim):
            sums[:, j] = np.bincount(a, weights=X[:, j], minlength=k)
        nz = counts > 0  # empty clusters keep their previous centroid
        C[nz] = sums[nz] / counts[nz, None]
    return C


def fit_pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k_codes: int = 256,
    dim: int | None = None,
    seed: int = 42,
    sample: int = 10_000,
) -> list:
    """Train product-quantization codebooks (the FAISS ``PQ<m>`` shape):
    the UNIT-NORMALIZED vector splits into ``m`` contiguous subvectors
    of dim/m, each quantized by its own ``k_codes``-centroid k-means —
    so a 64-dim float32 vector stores as m uint8 codes (32× smaller at
    m=8), and distances are read from lookup tables instead of
    computed. Training is ONE bounded sample collect (``sample`` rows)
    plus m driver-side numpy k-means fits — the same amortized-build
    contract as ``fit_ivf_centroids``; the codebooks (m·k_codes·dim/m
    floats ≈ the full vector dim × k_codes) broadcast as plain lists.
    Returns ``codebooks[m][k_codes][dim//m]``."""
    X = _sample_matrix(corpus, vec_col, sample)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    if dim is None:
        dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    # the m subspace fits are independent and deterministic (each owns
    # seed+i), so run them on a thread pool — the GEMM inside
    # _kmeans_np releases the GIL, and thread order cannot change any
    # fit's result (guide §1.2 per-task work: the "task" is the driver
    # fit; measured ~4× on the 16-subspace PQ shape)
    import os as _os
    from concurrent.futures import ThreadPoolExecutor

    def _fit(i: int) -> list:
        return _kmeans_np(X[:, i * sub : (i + 1) * sub], k_codes, seed=seed + i).tolist()

    # pin OpenBLAS to one thread for the fits: these GEMMs are tiny
    # (sample × dim/m), so a core-count BLAS pool pays more in dispatch
    # + spin-wait than the multiply costs — measured 4-20× slower and
    # wildly variable (4-45 s vs a consistent ~1-2 s for the m=16
    # shape). Bit-identical results (see blasctl); restored on exit.
    with blas_threads(1):
        with ThreadPoolExecutor(max_workers=min(m, _os.cpu_count() or 4)) as pool:
            return list(pool.map(_fit, range(m)))


def pq_encode(
    corpus: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    payload_cols: list | tuple = (),
) -> DataFrame:
    """Encode each (unit-normalized) vector as ``m`` uint8 codes —
    argmin centroid per subspace, vectorized numpy over Arrow batches
    (one batch does batch×k_codes×sub_dim flops; no per-row Python).
    Returns ``(id_col, *payload_cols, codes array<int>)`` — the
    8-byte-per-vector representation a 100 TB embedding corpus
    actually scans (``payload_cols`` carries attributes like an IVF
    ``list_id`` through to the persisted index)."""
    C = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    sub = C[0].shape[1]

    @pandas_udf("array<int>")
    def encode(vs: pd.Series) -> pd.Series:
        from simple_data_workflow_spark.blasctl import pin_worker_blas

        pin_worker_blas()
        X = np.asarray(list(vs), dtype=np.float64)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        out = np.empty((len(X), len(C)), dtype=np.int64)
        for i, cb in enumerate(C):
            S = X[:, i * sub : (i + 1) * sub]
            # ||s-c||² = ||s||² - 2s·c + ||c||²; ||s||² constant per row
            d = -2.0 * S @ cb.T + (cb * cb).sum(axis=1)[None, :]
            out[:, i] = d.argmin(axis=1)
        return pd.Series(list(out))

    return ensure_parallelism(corpus).select(
        F.col(id_col),
        *[F.col(c) for c in payload_cols],
        encode(F.col(vec_col).cast("array<double>")).alias("codes"),
    )


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query builds
    its m×k_codes lookup table of exact subvector distances ONCE (a
    vectorized pandas UDF — queries are few), then every corpus code
    scores as m table lookups summed in a codegen ``aggregate`` — no
    float vector is ever read at scan time. Vectors are unit-normalized
    so squared L2 ↔ cosine rank identically (``cos = 1 − d²/2``), and
    the returned ``cosine`` is the ADC approximation on that identity.

    Scale shape: the scan is LINEAR over codes (the FAISS ``Flat,PQ``
    baseline) but touches m bytes per vector instead of 4·dim — a 32×
    IO/memory cut that is usually the difference between spilling and
    not; compose with the IVF list assignment (``ivf_topk`` /
    ``ann_index``) to scan only probed lists when even that is too
    much. Queries broadcast (LUT rows are m·k_codes doubles each);
    the per-query top-k window partitions on query_id, never global.

    ``rerank=C`` (with ``corpus=``) adds the standard second stage:
    ADC shortlists the top C candidates per query, then only THOSE
    C·|Q| pairs are exact-cosine rescored against the float vectors —
    recall recovers toward exact (measured: 0.5 → ≥0.9 at C=50 on the
    test corpus) while the full corpus is still only ever scanned as
    codes. This is FAISS's ``PQ + refine`` shape; the exact-scoring
    cost is ∝ C per query, independent of corpus size."""
    C = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    m, sub = len(C), C[0].shape[1]
    k_codes = C[0].shape[0]

    @pandas_udf("array<double>")
    def lut(vs: pd.Series) -> pd.Series:
        from simple_data_workflow_spark.blasctl import pin_worker_blas

        pin_worker_blas()
        X = np.asarray(list(vs), dtype=np.float64)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        out = np.empty((len(X), m * k_codes), dtype=np.float64)
        for i, cb in enumerate(C):
            S = X[:, i * sub : (i + 1) * sub]
            d = (
                (S * S).sum(axis=1)[:, None]
                - 2.0 * S @ cb.T
                + (cb * cb).sum(axis=1)[None, :]
            )
            out[:, i * k_codes : (i + 1) * k_codes] = d
        return pd.Series(list(out))

    q = queries.select(
        F.col(id_col).alias("query_id"),
        lut(F.col(vec_col).cast("array<double>")).alias("__lut"),
    )
    c = ensure_parallelism(codes).select(
        F.col(id_col).alias("neighbor_id"), "codes"
    )
    # ADC: d² = Σ_i lut[i·k + code_i] — pure codegen over the joined row
    dist = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(
            F.col("__lut"),
            (i * F.lit(k_codes) + F.element_at(F.col("codes"), i + 1) + 1).cast(
                "int"
            ),
        ),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.lit(1.0) - dist / F.lit(2.0), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    if rerank:
        if corpus is None:
            raise ValueError("rerank needs corpus= for exact rescoring")
        shortlist = (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= max(rerank, k))
            .select("query_id", "neighbor_id")
        )
        qv = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
        cv = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        )
        exact = (
            shortlist.join(F.broadcast(qv), "query_id")
            .join(cv, "neighbor_id")
            .select(
                "query_id",
                "neighbor_id",
                F.round(cosine_pd()(F.col("qv"), F.col("cv")), 6).alias(
                    "cosine"
                ),
            )
        )
        return (
            exact.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(
                "query_id",
                "neighbor_id",
                "cosine",
                F.col("rank").cast("long").alias("rank"),
            )
        )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )
