"""Similarity search over embedding columns (array<float>).

- :func:`brute_force_knn` — exact cosine top-k, the correctness
  baseline. The query set is broadcast; each partition of the corpus
  computes cosines row-locally and the per-query top-k is taken with a
  window (WindowGroupLimit prunes to k rows per partition before the
  final merge). Cost is O(|queries| x |corpus|) — fine for a broadcast-
  sized query set, which is the realistic shape ("find neighbors of
  these N items in the 100 TB corpus").
- :func:`lsh_bucket_knn` — the scale path: random-hyperplane signatures
  bucket the corpus; candidates only within matching buckets (probing
  multiple band permutations), then exact cosine re-rank. Recall is
  tunable via (planes, bands); the corpus-side shuffle is by bucket id,
  never all-pairs.

All float math is element-wise double arithmetic via zip_with/aggregate
(JVM codegen, no Python). Hyperplanes are generated from a seeded RNG
driver-side and embedded as literals — deterministic and broadcast-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import DEFAULT_MAX_BUCKET_SIZE, cap_bucket_size
from .util import persist_barrier, session_expr_cache, spread


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine(a: Column, b: Column) -> Column:
    da, db = _to_double(a), _to_double(b)
    return dot(da, db) / (F.sqrt(dot(da, da)) * F.sqrt(dot(db, db)))


def norm(vec: Column) -> Column:
    """L2 norm over the doubled vector — compute this ONCE per row and
    carry it through candidate joins: cosine() evaluates three
    interpreted dot products per PAIR, two of which (the norms) are
    per-row values. With precomputed norms the pair stage costs one dot."""
    dv = _to_double(vec)
    return F.sqrt(dot(dv, dv))


def cosine_with_norms(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """cosine(a, b) given precomputed norms — bit-identical to
    :func:`cosine` (same expression tree on the same inputs, the norm
    subtrees are just evaluated at projection sites instead of per pair;
    the denominator keeps the norm_a * norm_b multiplication order)."""
    return dot(_to_double(a), _to_double(b)) / (norm_a * norm_b)


def brute_force_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cosine)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    c = spread(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_with_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (driver-side, tiny)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def signature_bits(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit LSH signature as a packed long (one bit per plane).

    Kept as compact HOF folds (NOT the unrolled dot_literal form): the
    signature column gets substituted into every band term and both
    self-join sides, and an unrolled 18x64-term tree duplicated 12+
    ways OOMs Catalyst under a default-heap driver. The interpreted
    cost is paid ONCE per row instead — callers materialize the
    signature projection (persist barrier) before banding.

    The built Column is memoized per (planes, input column) — the
    n_planes x dim literal tree costs seconds of py4j round-trips per
    construction and the LSH entries rebuild plans every bench run
    (r13; same rationale as :func:`_ivf_cell_fns`)."""
    key = ("sig_bits", tuple(tuple(p) for p in planes), str(vec))
    cached = session_expr_cache().get(key)
    if cached is not None:
        return cached
    import numpy as _np

    dv = _to_double(vec)
    sig = None
    for j, p in enumerate(planes):
        # one bulk float64 ndarray per plane (r14) instead of one py4j
        # round-trip per coordinate — identical array<double> literal
        plane = F.lit(_np.asarray([float(x) for x in p], dtype=_np.float64))
        bit = F.when(dot(dv, plane) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = bit * F.lit(1 << j).cast("long")
        sig = term if sig is None else sig + term
    session_expr_cache()[key] = sig
    return sig


IVF_MAX_TRAIN = 16384  # bound on the driver-side training sample


def lloyd_kmeans(
    train: "list[list[float]]", n_cells: int, seed: int = 42, n_iter: int = 20
) -> list[list[float]]:
    """Deterministic seeded Lloyd's k-means over a training sample.

    Pure numpy, driver-side, bounded input (:data:`IVF_MAX_TRAIN`
    rows) — the FAISS/ScaNN pattern of training the coarse quantizer on
    a sample, never the full corpus. Determinism rules (same input →
    bit-identical centroids, so a SQL oracle can embed them as
    literals): seeded init by sorted sample indices, argmin ties to the
    lowest centroid index, empty cells keep their previous centroid,
    fixed iteration count, final round to 6 decimals.
    """
    import numpy as np

    x = np.asarray(train, dtype=np.float64)
    rng = np.random.default_rng(seed)
    init = np.sort(rng.choice(x.shape[0], size=n_cells, replace=False))
    cents = x[init].copy()
    for _ in range(n_iter):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(n_cells):
            mask = assign == j
            if mask.any():
                cents[j] = x[mask].mean(axis=0)
    return [[round(float(v), 6) for v in c] for c in cents]


def _train_stride(n_total: int, max_train: int = IVF_MAX_TRAIN) -> int:
    return max(1, -(-n_total // max_train))


def build_ivf_index(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    path: str | None = None,
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Explicit IVF index build: fit the deterministic coarse quantizer
    (:func:`lloyd_kmeans`) on a bounded, deterministic sample of the
    corpus and return the centroid list.

    This is the offline index-build step of a real IVF system — run it
    once, persist the (tiny) centroid table, and hand the result to
    :func:`ivf_knn`. When ``path`` is given the centroids are written
    there as JSON and subsequent calls load instead of refitting, so a
    fresh session never silently charges a clustering job to whichever
    query arrives first.

    The training sample is every ``stride``-th id (stride sized so the
    sample stays under :data:`IVF_MAX_TRAIN`), sorted by id — a bounded
    collect regardless of corpus size, and reproducible by any other
    reader of the same data (see ``fit_ivf_centroids_parquet``, which
    the DuckDB oracle uses to derive the identical index without Spark).
    """
    if path is not None:
        import json
        import os

        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)

    stride = _train_stride(corpus.count())
    rows = (
        corpus.filter((F.col(id_col) % stride) == 0)
        .select(F.col(id_col).alias("_id"), _to_double(F.col(vec_col)).alias("_v"))
        .orderBy("_id")
        .collect()
    )
    centroids = lloyd_kmeans([list(r["_v"]) for r in rows], n_cells, seed=seed)

    if path is not None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(centroids, f)
        os.replace(tmp, path)
    return centroids


def fit_ivf_centroids_parquet(
    parquet_path: str,
    n_cells: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Spark-free twin of :func:`build_ivf_index`: same sample rule,
    same :func:`lloyd_kmeans`, reading the parquet via pyarrow. Used by
    the DuckDB oracle builder so both engines search the identical
    index. float32 → float64 widening is exact on both paths."""
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    ids = t[id_col].to_pylist()
    vecs = t[vec_col].to_pylist()
    stride = _train_stride(len(ids))
    train = [
        [float(x) for x in v]
        for _, v in sorted(
            (i, v) for i, v in zip(ids, vecs) if i % stride == 0
        )
    ]
    return lloyd_kmeans(train, n_cells, seed=seed)


def _ivf_cell_fns(centroids: "list[list[float]]"):
    """(cell_dists, nearest_cells) expression builders for an IVF
    quantizer — shared by ivf_knn and ivf_pq_knn so both assign cells
    with the bit-identical expression the oracles mirror.

    Built Columns are MEMOIZED per (centroids, input column, n) in the
    session-scoped expression cache (r13, guide §1/§5 — driver-side
    work): constructing the 16x(64-literal zip_with + fold) tree costs
    ~1.5-3.5 s of py4j round-trips PER CALL, and the IVF entries
    rebuild their plans on every bench run — construction, not
    execution (~0.5 s per corpus pass), was the dominant cost of the
    whole IVF family.  A Column is an immutable unresolved expression,
    so reuse across queries is safe; keying on ``str(vec)`` scopes the
    memo to the named input column, and the cache self-invalidates on
    SparkContext change (see :func:`.util.session_expr_cache`)."""
    ckey = ("ivf_cells", tuple(tuple(c) for c in centroids))

    def _build_dists(vec: Column) -> Column:
        # Array of squared L2 distances to every centroid. Compact HOF
        # folds on purpose: unrolling to 16x64 literal terms was
        # measured ~15x SLOWER end-to-end — Catalyst/codegen time on
        # the giant duplicated trees dwarfs the interpreted-fold cost
        # it saves.
        import numpy as _np

        dv = _to_double(vec)
        # each centroid crosses as ONE float64 ndarray (r14): the
        # element-wise F.array(*[F.lit(x) ...]) form paid one py4j
        # round-trip per coordinate — ~1k calls per build; the bulk
        # path produces the identical array<double> literal
        return F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        dv,
                        F.lit(_np.asarray(c, dtype=_np.float64)),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                for c in centroids
            ]
        )

    def cell_dists(vec: Column) -> Column:
        key = (*ckey, "dists", str(vec))
        col = session_expr_cache().get(key)
        if col is None:
            col = _build_dists(vec)
            session_expr_cache()[key] = col
        return col

    def nearest_cells(vec: Column, n: int) -> Column:
        key = (*ckey, "nearest", n, str(vec))
        col = session_expr_cache().get(key)
        if col is None:
            d = cell_dists(vec)
            idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
            pairs = F.arrays_zip(d.alias("d"), idx.alias("i"))
            col = F.slice(F.array_sort(pairs), 1, n).getField("i")
            session_expr_cache()[key] = col
        return col

    return cell_dists, nearest_cells


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    index: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate kNN: a k-means coarse quantizer
    partitions the corpus into cells; each query probes its ``n_probe``
    nearest cells and exact-ranks only those candidates.

    The scale path for |queries| too large to broadcast against the
    whole corpus: the corpus shuffles ONCE by cell id at index-build
    time, and every query touches n_probe/n_cells of the data. Recall
    is tuned by n_probe (n_probe == n_cells → exact).

    Pass ``index`` (from :func:`build_ivf_index`) to search against a
    prebuilt quantizer; without it the index is fit inline (convenient
    for tests, wrong for production — the build belongs offline)."""
    centroids = (
        index
        if index is not None
        else build_ivf_index(corpus, vec_col=vec_col, n_cells=n_cells, seed=seed)
    )
    cell_dists, nearest_cells = _ivf_cell_fns(centroids)

    c = spread(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
        nearest_cells(F.col(vec_col), 1).getItem(0).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
        F.explode_outer(nearest_cells(F.col(vec_col), n_probe)).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_with_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
            ).alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def lsh_bucket_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    bands: int = 3,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH buckets.

    Signature bits are split into ``bands`` sub-signatures; a corpus row
    is a candidate for a query if any band matches. Returns the same
    schema as :func:`brute_force_knn` (ranks computed over candidates).

    ``dim`` must equal the embedding length: zip_with against a
    mismatched plane pads with nulls, nulling the dot product and
    silently collapsing every signature toward 0 (wrong buckets, no
    error) — so each row carries an in-plan ``assert_true`` on
    ``size(vec) == dim`` that fails the job loudly instead.
    """
    planes = hyperplanes(dim, n_planes, seed)
    rows = n_planes // bands

    def banded(df: DataFrame, role: str) -> DataFrame:
        dim_ok = F.assert_true(
            F.size(F.col(vec_col)) == dim,
            F.concat(
                F.lit(f"lsh_bucket_knn: expected {dim}-dim vectors, got "),
                F.size(F.col(vec_col)).cast("string"),
            ),
        )
        # Materialize the signature ONCE per row before banding: without
        # the persist barrier, CollapseProject substitutes the (costly,
        # interpreted-HOF) signature tree into every band term and both
        # join sides — the signature would be recomputed ~bands x 2
        # times per row. This barrier IS the LSH index build; at
        # warehouse scale persist the signature table explicitly (same
        # pattern as the IVF centroid index). Registered with
        # util.persist_barrier so the session owner can bulk-release
        # after materializing results (cache lifetime is the CALLER's).
        sigs = persist_barrier(
            df.filter(dim_ok.isNull()).select(
                F.col(id_col).alias(f"{role}_id"),
                F.col(vec_col).alias(f"{role}_vec"),
                norm(F.col(vec_col)).alias(f"{role}_norm"),
                signature_bits(F.col(vec_col), planes).alias("_sig"),
            )
        )
        band_arr = F.array(
            *[
                F.shiftright(F.col("_sig"), b * rows).bitwiseAND(
                    F.lit((1 << rows) - 1)
                )
                for b in range(bands)
            ]
        )
        return sigs.select(
            f"{role}_id",
            f"{role}_vec",
            f"{role}_norm",
            F.posexplode_outer(band_arr).alias("band_idx", f"{role}_band"),
        )

    qb = banded(queries, "q")
    cb = banded(spread(corpus, id_col), "c")
    cand = (
        cb.join(
            F.broadcast(qb),
            (cb.band_idx == qb.band_idx)
            & (F.col("c_band") == F.col("q_band"))
            & (F.col("c_id") != F.col("q_id")),
        )
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.col("q_vec"),
            F.col("c_vec"),
            F.col("q_norm"),
            F.col("c_norm"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine_with_norms(
            F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def embedding_cosine_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    n_planes: int = 24,
    bands: int = 2,
    seed: int = 42,
    dim: int = 64,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS — the semantic-dedup
    counterpart of MinHash/SimHash text dedup: random-hyperplane LSH
    buckets the corpus, the banded SELF-join emits only in-bucket
    candidates, and each candidate is verified with the exact cosine
    before being reported.

    Scale shape: the band self-join carries only slim
    (band_idx, band, id) tuples — vectors are re-attached AFTER the
    candidate pairs are deduped, so the bucket shuffle never moves the
    wide embedding arrays. Bands default WIDE (12 bits → 4096 buckets):
    near-identical vectors (the only ones above a 0.99 threshold) agree
    on almost every sign bit so recall stays ~1, while random pairs
    land in the same 12-bit bucket with probability ~p^12 — the
    candidate set stays near-linear instead of the near-quadratic blowup
    a narrow (3-bit, 8-bucket) band would produce.

    Band buckets are capped BY DEFAULT (``DEFAULT_MAX_BUCKET_SIZE``
    from operators.dedup — a degenerate bucket of identical vectors
    can no longer go B² on one reducer); pass ``None`` to opt out.

    Returns (id_a, id_b, cosine) with id_a < id_b, cosine >= threshold.
    """
    planes = hyperplanes(dim, n_planes, seed)
    rows = n_planes // bands
    mask = (1 << rows) - 1

    wide = spread(corpus, id_col)
    # persist barrier: signature computed once per row, not once per
    # band term (see lsh_bucket_knn.banded); caller-released via
    # util.release_barriers
    sigs = persist_barrier(
        wide.select(
            F.col(id_col).alias("id"),
            signature_bits(F.col(vec_col), planes).alias("_sig"),
        )
    )
    band_arr = F.array(
        *[
            F.shiftright(F.col("_sig"), b * rows).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )
    banded = sigs.select(
        "id",
        F.posexplode_outer(band_arr).alias("band_idx", "band"),
    )
    if max_bucket_size is not None:
        banded = cap_bucket_size(banded, ["band_idx", "band"], max_bucket_size)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = wide.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("vn"),
    )
    paired = (
        cand.join(vecs, cand.id_a == vecs.vid)
        .select("id_a", "id_b", F.col("v").alias("vec_a"), F.col("vn").alias("norm_a"))
        .join(vecs, F.col("id_b") == vecs.vid)
        .select(
            "id_a",
            "id_b",
            "vec_a",
            "norm_a",
            F.col("v").alias("vec_b"),
            F.col("vn").alias("norm_b"),
        )
    )
    return (
        paired.select(
            "id_a",
            "id_b",
            cosine_with_norms(
                F.col("vec_a"), F.col("vec_b"), F.col("norm_a"), F.col("norm_b")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-scale ANN path
# ---------------------------------------------------------------------------

PQ_M, PQ_K = 8, 16  # 8 subspaces x 16 codes = 8 x 4-bit codes per vector


def _py_l2_normalize(v: "list[float]") -> "list[float]":
    """Left-fold L2 normalization, fold-order-identical to the Spark
    aggregate and the DuckDB list_reduce twins (plain Python sum, NOT
    numpy pairwise summation), so all three engines produce the same
    doubles."""
    s = 0.0
    for x in v:
        s = s + x * x
    n = s ** 0.5
    return [x / n for x in v]


def fit_pq_codebooks(
    train: "list[list[float]]", m: int = PQ_M, k: int = PQ_K, seed: int = 42
) -> "list[list[list[float]]]":
    """Deterministic PQ codebooks (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011): split the vector into
    ``m`` contiguous subspaces and fit an independent k-means codebook
    per subspace with :func:`lloyd_kmeans` (same determinism contract,
    so a SQL oracle can embed the codebooks as literals). Training
    vectors are L2-normalized first — the whole PQ pathway runs on the
    unit sphere so its L2 ranking is monotone with cosine, matching
    the rest of the kNN family."""
    train = [_py_l2_normalize(v) for v in train]
    dim = len(train[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        lloyd_kmeans([v[j * sub : (j + 1) * sub] for v in train], k, seed=seed)
        for j in range(m)
    ]


def fit_pq_codebooks_parquet(
    parquet_path: str,
    m: int = PQ_M,
    k: int = PQ_K,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "list[list[list[float]]]":
    """Spark-free codebook fit on the same deterministic strided
    sample as :func:`fit_ivf_centroids_parquet` — the oracle builder's
    twin of :func:`build_pq_index`."""
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    ids = t[id_col].to_pylist()
    vecs = t[vec_col].to_pylist()
    stride = _train_stride(len(ids))
    train = [
        [float(x) for x in v]
        for _, v in sorted((i, v) for i, v in zip(ids, vecs) if i % stride == 0)
    ]
    return fit_pq_codebooks(train, m=m, k=k, seed=seed)


def build_pq_index(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = PQ_M,
    k: int = PQ_K,
    seed: int = 42,
    id_col: str = "vec_id",
) -> "list[list[list[float]]]":
    """Offline PQ codebook build from a bounded deterministic corpus
    sample (every stride-th id, same rule as :func:`build_ivf_index`):
    a bounded collect regardless of corpus size. The product — m*k
    subvector centroids, a few KB — is the entire index state; corpus
    vectors compress to m small codes each (64-dim float32 -> 8 bytes
    here, a 32x memory reduction), which is what lets a 100 TB
    embedding corpus fit an in-memory ANN serving tier."""
    n_total = corpus.count()
    stride = _train_stride(n_total)
    sample = (
        corpus.filter((F.col(id_col) % stride) == 0)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    train = [[float(x) for x in r[1]] for r in sample]
    return fit_pq_codebooks(train, m=m, k=k, seed=seed)


def _codebook_key(codebooks) -> tuple:
    return tuple(tuple(tuple(c) for c in book) for book in codebooks)


def _codebook_lit(book: "list[list[float]]") -> Column:
    """One nested array<array<double>> literal for a whole subspace
    codebook: a SINGLE constant in the expression tree. (The first
    cut built k separate aggregate expressions per subspace — 256
    literal subtrees whose Catalyst analysis/codegen time dwarfed the
    actual fold work ~10x at bench scale.) Memoized: Column objects
    are reusable unresolved expressions, and building the nested
    literal + HOF lambdas costs real py4j round-trips (~2s per call
    for 16 codebooks) that would otherwise be paid on every query
    build."""
    key = ("lit", tuple(tuple(c) for c in book))
    col = session_expr_cache().get(key)
    if col is None:
        import numpy as _np

        # one bulk float64 ndarray per codeword (r14): F.lit(nested
        # list) recurses to one py4j round-trip per scalar; the inner
        # arrays cross bulk instead, same array<array<double>> literal
        col = F.array(
            *[
                F.lit(_np.asarray([float(x) for x in cent], dtype=_np.float64))
                for cent in book
            ]
        )
        session_expr_cache()[key] = col
    return col


def _sub_dists(nv: Column, cb_lit: Column, j: int, sub: int) -> Column:
    """Array of squared L2 distances between subvector j of ``nv`` and
    every codeword — one transform over the codebook literal, identical
    per-element fold order to the oracle's list_reduce."""
    sl = F.slice(nv, j * sub + 1, sub)
    return F.transform(
        cb_lit,
        lambda cent: F.aggregate(
            F.zip_with(sl, cent, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: "list[list[list[float]]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple = (),
) -> DataFrame:
    """Quantize every corpus vector to its per-subspace nearest-code
    ids: (id, codes array<int>). Row-local argmin over codegen'd array
    expressions — no shuffle, no UDF; ties break to the lowest code id
    (array_position returns the FIRST minimum, mirrored by the
    oracle's list_position)."""
    sub = len(codebooks[0][0])
    # norm once per row in its own projection, then normalize — keeps
    # the dot-product fold out of every per-element division site
    keeps = list(keep_cols)
    base = corpus.select(
        F.col(id_col).alias("id"),
        _to_double(F.col(vec_col)).alias("_dv"),
        *keeps,
    ).select("id", "_dv", norm(F.col("_dv")).alias("_nrm"), *keeps)
    nv = F.transform(F.col("_dv"), lambda x: x / F.col("_nrm"))
    normed = base.select("id", nv.alias("_nv"), *keeps)
    ckey = ("codes", _codebook_key(codebooks))
    codes_expr = session_expr_cache().get(ckey)
    if codes_expr is None:
        codes = []
        for j, book in enumerate(codebooks):
            darr = _sub_dists(F.col("_nv"), _codebook_lit(book), j, sub)
            codes.append(
                (F.array_position(darr, F.array_min(darr)) - 1).cast("int")
            )
        codes_expr = F.array(*codes)
        session_expr_cache()[ckey] = codes_expr
    return normed.select("id", codes_expr.alias("codes"), *keeps)


def _pq_query_luts(
    queries: DataFrame,
    codebooks: "list[list[list[float]]]",
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, _lut0.._lut{m-1}) — ADC lookup tables: the distance
    from each query subvector to every codeword is a per-QUERY
    quantity, so it is precomputed on the tiny query side and the
    |corpus| x |queries| pair stage does m array lookups per row
    instead of m arithmetic folds (the standard ADC formulation;
    values, and therefore hashes, are identical — the same fold just
    runs earlier). Expression list memoized like the encode."""
    sub = len(codebooks[0][0])
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            _to_double(F.col(vec_col)).alias("_qdv"),
        )
        .select("query_id", "_qdv", norm(F.col("_qdv")).alias("_qnrm"))
        .select(
            "query_id",
            F.transform(F.col("_qdv"), lambda x: x / F.col("_qnrm")).alias(
                "q_vec"
            ),
        )
    )
    lkey = ("luts", _codebook_key(codebooks))
    luts = session_expr_cache().get(lkey)
    if luts is None:
        luts = [
            _sub_dists(F.col("q_vec"), _codebook_lit(book), j, sub).alias(
                f"_lut{j}"
            )
            for j, book in enumerate(codebooks)
        ]
        session_expr_cache()[lkey] = luts
    return q.select("query_id", *luts)


def _pq_adc_expr(m: int) -> Column:
    """Sum over subspaces of lut_j[code_j] — left-associated, matching
    the oracle's list_reduce over (term ORDER BY j)."""
    adc = None
    for j in range(m):
        term = F.element_at(
            F.col(f"_lut{j}"), F.element_at(F.col("codes"), j + 1) + 1
        )
        adc = term if adc is None else adc + term
    return adc


def _exact_cosine_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    short: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact cosine over full vectors for a slim (query_id,
    neighbor_id) shortlist — the rerank tail shared by the PQ and
    IVF+PQ pipelines. The shortlist (a constant number of rows per
    query) broadcasts against the corpus; norms are computed once per
    row; per-query top-k plans WindowGroupLimit."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    scored = (
        c.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_with_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: "list[list[list[float]]]",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k (query_id, neighbor_id, adc_d2,
    rank): exact query subvectors scored against each neighbor's
    RECONSTRUCTED codes — sum over subspaces of d2(q_sub, codeword).

    Scale shape: the corpus moves only as (id, m codes) — the 32x
    compressed representation, not the vectors; the query set
    broadcasts; scoring is row-local arithmetic against the literal
    codebooks and top-k is a per-query window over the slim scored
    rows. Recall is bounded by quantization error — gate it with a
    recall entry against brute force, as with IVF."""
    sub = len(codebooks[0][0])
    # persist barrier: the 128-aggregate encode expression would
    # otherwise be substituted into every (neighbor, query) pair row;
    # at production scale the codes ARE a materialized index table.
    # Caller-released via util.release_barriers.  A caller that already
    # holds the encoded (id, codes) table — the IVF+PQ composition
    # builds the identical encode for its routed index — passes it via
    # ``codes`` so the corpus is quantized once, not once per arm
    # (r13; values are the same expression either way).
    if codes is None:
        codes = persist_barrier(
            pq_encode(spread(corpus, id_col), codebooks, id_col, vec_col)
        )
    q = _pq_query_luts(queries, codebooks, id_col, vec_col)
    scored = (
        codes.withColumnRenamed("id", "neighbor_id")
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", _pq_adc_expr(len(codebooks)).alias("adc_d2")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: "list[list[list[float]]]",
    k: int = 5,
    shortlist: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """The production PQ serving pipeline: ADC over compressed codes
    selects a per-query ``shortlist``, then ONLY those candidates are
    re-ranked with exact cosine over the full vectors — (query_id,
    neighbor_id, cosine, rank<=k).

    Scale shape: the scan side of the search touches nothing but the
    m-byte code table (32x smaller than the vectors); full vectors are
    fetched for shortlist*|queries| rows — a constant per query, not a
    corpus scan. This two-stage shape is why PQ recall is set by the
    shortlist (gate it vs brute force), while the reported ranking is
    exact cosine, consistent with the rest of the kNN family."""
    short = pq_adc_topk(
        corpus,
        queries,
        codebooks,
        k=shortlist,
        id_col=id_col,
        vec_col=vec_col,
        codes=codes,
    ).select("query_id", "neighbor_id")
    return _exact_cosine_rerank(corpus, queries, short, k, id_col, vec_col)


def ivf_pq_index(
    corpus: DataFrame,
    codebooks: "list[list[list[float]]]",
    centroids: "list[list[float]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The persisted IVF+PQ serving-side index — one (id, codes, cell)
    row per corpus vector (cell from the IVF coarse quantizer, codes
    from the PQ encode).  Split out of :func:`ivf_pq_knn` (r13) so a
    caller running BOTH the routed composition and the full-corpus ADC
    scan (the pq-family catalog entry's two arms) quantizes the corpus
    once: the plain PQ pipeline consumes ``.select("id", "codes")`` of
    this frame — the identical encode expression, so values are
    unchanged.  Caller-released via util.release_barriers."""
    _, nearest_cells = _ivf_cell_fns(centroids)
    base = spread(corpus, id_col).select(
        F.col(id_col).alias(id_col),
        F.col(vec_col).alias(vec_col),
        nearest_cells(F.col(vec_col), 1).getItem(0).alias("cell"),
    )
    return persist_barrier(
        pq_encode(base, codebooks, id_col, vec_col, keep_cols=("cell",))
    )


def ivf_pq_knn(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: "list[list[list[float]]]",
    k: int = 5,
    shortlist: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 6,
    seed: int = 42,
    index: list[list[float]] | None = None,
    indexed: DataFrame | None = None,
) -> DataFrame:
    """The corpus-scale ANN composition (the FAISS IVFPQ shape): the
    IVF coarse quantizer routes each query to its ``n_probe`` nearest
    cells, ADC over the PQ code table scores ONLY those cells'
    members, and the per-query shortlist is re-ranked with exact
    cosine over full vectors.

    Why compose: IVF bounds the fraction of the corpus any query
    touches (n_probe/n_cells); PQ bounds the bytes per touched row
    (m codes vs the full vector); the rerank restores exact ranking
    on a constant number of candidates. The scan side of a query is
    therefore ~(n_probe/n_cells) x (1/32) of the corpus bytes — the
    shape that serves billions of vectors. The indexed corpus
    (cell + codes per id) is built once and persisted (barrier here;
    a table in production); both index structures are deterministic
    sample fits, so the DuckDB oracle derives identical ones."""
    centroids = (
        index
        if index is not None
        else build_ivf_index(corpus, vec_col=vec_col, n_cells=n_cells, seed=seed)
    )
    _, nearest_cells = _ivf_cell_fns(centroids)
    # (id, cell, codes): the whole serving-side index, persisted once —
    # or passed in prebuilt (``indexed``) by a caller sharing it with
    # the full-corpus ADC arm (see ivf_pq_index)
    if indexed is None:
        indexed = ivf_pq_index(corpus, codebooks, centroids, id_col, vec_col)
    q_probe = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode_outer(nearest_cells(F.col(vec_col), n_probe)).alias("cell"),
    )
    q_luts = _pq_query_luts(queries, codebooks, id_col, vec_col)
    cand = (
        indexed.withColumnRenamed("id", "neighbor_id")
        .join(F.broadcast(q_probe), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # no dedup needed: every corpus row owns exactly ONE cell, so a
        # (query, neighbor) pair can match at most one probe row
        .join(F.broadcast(q_luts), "query_id")
        .select(
            "query_id", "neighbor_id", _pq_adc_expr(len(codebooks)).alias("adc_d2")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc("neighbor_id")
    )
    short = (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    return _exact_cosine_rerank(corpus, queries, short, k, id_col, vec_col)
