"""Vector-similarity search over embedding columns (ArrayType(FloatType)).

Two tiers:

- **Brute-force cosine top-k** — the correctness baseline. Dot products via
  higher-order functions (``zip_with`` + ``aggregate``) — JVM-side, no
  Python boundary. The query side is broadcast (queries ≪ corpus), so the
  corpus is scanned exactly once with no shuffle; top-k per query is one
  window over a small candidate set.
- **SRP-LSH bucketed ANN** — the 100 TB path. Sign-random-projection bits
  from deterministic md5-derived hyperplanes bucket the corpus; queries
  probe only their own bucket. Same scan/shuffle shape as exact dedup.

The brute-force tier is oracle-checkable (deterministic arithmetic); the
LSH tier trades recall for a bounded candidate set and is checked by a
recall test against the brute-force tier instead.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.schemas import quote_ident


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double, sequential left-to-right accumulation."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def safe_div(num: Column, den: Column) -> Column:
    """num/den with zero-denominator -> 0.0: Spark 4 runs ANSI mode by
    default, so a bare division aborts the whole job on the first
    zero-norm vector (padding row, failed encode) — rank it neutral
    instead of crashing the ranking."""
    return F.when(den != 0.0, num / den).otherwise(F.lit(0.0))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbours for each query vector.

    Output: (query_id, neighbor_id, cosine_sim, rank), self-matches
    excluded, ties broken by neighbor id for determinism. The queries side
    is broadcast: one corpus scan, zero shuffles before the final top-k.
    """
    # Norms are projected BELOW the join (once per row), not recomputed per
    # pair: the broadcast side materializes q_norm into the broadcast table,
    # and c_norm stays in the stream-side projection under the join.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            safe_div(
                dot(F.col("q_vec"), F.col("c_vec")),
                F.col("q_norm") * F.col("c_norm"),
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def quantize_int8_metrics(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 quantization metrics per vector — the storage-side op
    of an embedding pipeline (fp32 → int8 cuts a 100 TB vector store 4×).

    Per vector: ``scale`` = max|x|/127, ``q_i`` = floor(xᵢ/scale), and the
    outputs a compression job audits — ``sum_q`` (checksum of the quantized
    payload), ``n_sat`` (saturated lanes, |q|=127), and the L2
    reconstruction error. Map-only: every metric is a higher-order-function
    fold over the vector, no shuffle, no Python.

    Engine-portable arithmetic by construction: floor (not cast/round —
    double→int CAST truncates in Spark but rounds in DuckDB), IEEE ×/÷
    only, sequential in-order folds, round(6) on the one sqrt surface.
    """
    v = F.col(vec_col)
    staged = df.select(
        id_col,
        v.alias("__v"),
        F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))).alias(
            "__absmax"
        ),
    )
    scale = (F.col("__absmax") / F.lit(127.0)).alias("scale")
    staged = staged.select(id_col, "__v", scale)
    s = F.col("scale")
    # clamp at -127: floor(x/scale) can land on -128 when rounding error
    # pushes -absmax/scale a hair below -127 (~14% of absmax
    # values) — the symmetric-int8 contract is [-127, 127]
    q = F.transform(
        F.col("__v"),
        lambda x: F.when(
            s > 0,
            F.greatest(F.floor(x.cast("double") / s), F.lit(-127)),
        ).otherwise(F.lit(0)).cast("long"),
    )
    staged = staged.select(id_col, "__v", "scale", q.alias("__q"))
    err_sq = F.aggregate(
        F.zip_with(
            F.col("__v"),
            F.col("__q"),
            lambda x, qi: (x.cast("double") - qi.cast("double") * s)
            * (x.cast("double") - qi.cast("double") * s),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return staged.select(
        id_col,
        F.size("__v").alias("dim"),
        "scale",
        F.aggregate(
            F.col("__q"), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("sum_q"),
        F.size(F.filter(F.col("__q"), lambda x: F.abs(x) >= 127)).alias(
            "n_sat"
        ),
        F.round(F.sqrt(err_sq), 6).alias("recon_err"),
    )


def _srp_component(i: int, j: int, table: int = 0) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1): first 6
    hex chars of md5("i:j"). Computed driver-side — these are constants, so
    folding them here keeps the per-row work at dim multiply-adds instead
    of dim md5 invocations."""
    import hashlib

    h = int(hashlib.md5(f"{table}:{i}:{j}".encode()).hexdigest()[:6], 16)
    return h / (16**6 / 2) - 1.0


def srp_bucket(
    vec: Column, num_bits: int = 8, dim: int = 64, table: int = 0
) -> Column:
    """Sign-random-projection bucket id: bit i = sign(hᵢ·v) with a
    deterministic md5-derived hyperplane hᵢ (literal constants in the plan).
    Pure column arithmetic → bucketing a 100 TB corpus is a map-only scan.
    ``table`` selects an independent hyperplane set (multi-table LSH).

    Each projection is a ``zip_with``+``aggregate`` over a literal array —
    a shallow expression tree. (The unrolled form, num_bits×dim chained
    multiply-adds, overflows whole-stage-codegen's method-size limit and
    falls back to interpreted eval: observed 5× slower.)
    """
    bucket = F.lit(0)
    for i in range(num_bits):
        # one lit() for the whole array — per-element lit() costs a py4j
        # round-trip each, dominating plan build time for wide planes
        plane = _dvec_expr([_srp_component(i, j, table) for j in range(dim)])
        proj = F.aggregate(
            F.zip_with(vec, plane, lambda x, h: x.cast("double") * h),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
    # zip_with null-pads a length mismatch -> proj NULL -> every bit 0:
    # a wrong ``dim`` would silently send the WHOLE corpus to bucket 0
    # and degenerate the bucketed join into an all-pairs cross (review
    # fix) — fail loudly per row instead
    return F.when(F.size(vec) == dim, bucket).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"srp_bucket: dim={dim} but vector has length "),
                F.size(vec).cast("string"),
            )
        )
    )


def blocked_cosine_pairs(
    df: DataFrame,
    block_cols: list[str],
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for pairwise cosine near-dup inside blocks: one
    ``applyInPandas`` per block computes the whole normalized Gram matrix
    with a single numpy matmul (BLAS) instead of per-pair interpreted
    expression evaluation — measured ~10× on the bench corpus.

    Same join shape as the expression form (`q32`): shuffle on the block
    key, candidates never leave their block. The expression form is the
    oracle-exact baseline (sequential-fold float sums match the SQL
    oracle); this one's sums are BLAS-ordered, so agreement is to float
    tolerance, not bitwise — pinned in tests at 1e-6.

    Block-size caveat at 100 TB: the Gram matrix is O(block²) — keep
    blocks ≤ ~30k vectors (a few GiB); split hot blocks with a salt
    column first if needed.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("left_id", id_type),
            T.StructField("right_id", id_type),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
        + [df.schema[c] for c in block_cols]
    )

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        ids = pdf[id_col].to_numpy()
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        sims = (m / norms[:, None]) @ (m / norms[:, None]).T
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = sims[iu, ju] >= threshold
        # ids within a block are unordered; emit (min, max) for determinism
        li, ri = ids[iu[keep]], ids[ju[keep]]
        res = pd.DataFrame(
            {
                "left_id": np.minimum(li, ri),
                "right_id": np.maximum(li, ri),
                "cosine_sim": sims[iu, ju][keep],
            }
        )
        for c in block_cols:
            res[c] = pdf[c].iloc[0] if len(res) else pd.Series([], dtype=object)
        return res

    return df.groupBy(*block_cols).applyInPandas(_pairs, out_schema)


def _lloyd_fit(
    sample: list[list[float]], k: int, seed: int = 42, max_iter: int = 8
) -> list[list[float]]:
    """Driver-side Lloyd k-means on a bounded sample (the IVF/PQ
    quantizer training step). Deterministic for a fixed sample; empty
    clusters keep their previous center.

    Init is farthest-first traversal (Gonzalez maxmin), not random
    choice: it is deterministic without RNG state and cannot seed two
    centers inside one tight cluster — random init was observed
    collapsing two planted clusters into a shared center (a local
    optimum Lloyd cannot escape because empty clusters keep their
    previous center). ``seed`` is kept for signature stability; it only
    picks the (deterministic) starting point."""
    import numpy as np

    if not sample:
        raise ValueError(
            "quantizer training sample is empty — is the corpus empty "
            "or fully filtered?"
        )
    pts = np.asarray(sample, dtype=np.float64)
    k = min(k, len(pts))
    first = seed % len(pts)
    chosen = [first]
    d_min = ((pts - pts[first]) ** 2).sum(axis=1)
    while len(chosen) < k:
        nxt = int(d_min.argmax())
        chosen.append(nxt)
        d_min = np.minimum(d_min, ((pts - pts[nxt]) ** 2).sum(axis=1))
    centers = pts[chosen].copy()
    for _ in range(max_iter):
        # per-center distance columns, NOT the (n, k, dim) broadcast:
        # the 3-D intermediate was measured 90x slower on this numpy
        # build (5.3 s vs 59 ms for 2000x64, k=16, 8 iters) and
        # each column is the same contiguous last-axis pairwise sum,
        # so every distance is BIT-IDENTICAL to the broadcast form
        # (asserted in an A/B run; centroids are unchanged).
        d = np.empty((len(pts), len(centers)))
        for j in range(len(centers)):
            d[:, j] = ((pts - centers[j]) ** 2).sum(axis=1)
        assign = d.argmin(axis=1)
        for j in range(k):
            members = pts[assign == j]
            if len(members):
                centers[j] = members.mean(axis=0)
    return [list(map(float, c)) for c in centers]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_iter: int = 8,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    partitions the corpus into ``n_lists`` cells; each query probes its
    ``n_probe`` nearest cells only.

    The scale shape (FAISS-style): the quantizer trains on a BOUNDED
    deterministic sample (≤ 256·n_lists vectors, one top-N-by-hash pass —
    O(1) driver memory regardless of corpus size) with numpy Lloyd
    iterations driver-side; centroids fold into the assignment/probe
    expressions as literals, so cell assignment is one map-only pass and
    the search join touches n_probe/n_lists of the corpus. No Spark-ML
    iteration rounds over the full corpus.
    """
    sample_rows = (
        corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(256 * n_lists)
        .collect()
    )
    centroids = _lloyd_fit(
        [r["v"] for r in sample_rows], n_lists, seed=seed, max_iter=max_iter
    )

    def sq_dist_to(center: list[float]) -> Column:
        plane = _dvec_expr(center)  # ONE parsed string, not dim py4j calls
        return _sqd(F.col(vec_col).cast("array<double>"), plane)

    dists = F.array(
        *[
            F.struct(sq_dist_to(c).alias("d"), F.lit(i).alias("list"))
            for i, c in enumerate(centroids)
        ]
    )
    probes = F.slice(F.array_sort(dists), 1, n_probe)
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_norm"),
        F.array_sort(dists)[0]["list"].alias("__list"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
        F.explode(F.transform(probes, lambda s: s["list"])).alias("__list"),
    )
    scored = (
        assigned.join(F.broadcast(q), "__list")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            safe_div(
                dot(F.col("q_vec"), F.col("c_vec")),
                F.col("q_norm") * F.col("c_norm"),
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ann_topk_lsh broadcasts queries × tables rows (each with a full
# embedding); ~1M rows × 64 doubles ≈ 0.5 GB — the sane ceiling for a
# 2-4 GB executor broadcast budget.
_LSH_BROADCAST_MAX_QUERIES = 1_000_000


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_bits: int = 4,
    dim: int = 64,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k via multi-table SRP-LSH.

    Each of ``n_tables`` independent hyperplane sets buckets both sides
    into 2^num_bits buckets; a corpus vector is a candidate if it shares a
    bucket with the query in ANY table (the classic recall lever — recall
    grows ~1-(1-p)^L while each table's candidate set stays 2^bits×
    smaller than the corpus). Candidates are deduped before scoring, so
    each (query, neighbor) cosine is computed once.

    The QUERY side is broadcast — this operator targets the
    query-batch ≪ corpus regime (a search serving / eval loop). The
    broadcast payload is n_queries × n_tables rows each carrying the
    full vector, so a "query batch" that is really a second corpus
    would exceed executor memory: bucket-join both sides unsalted (drop
    the broadcast hint) for the symmetric all-pairs regime — that is
    what ``blocked_cosine_pairs`` (the q32 path) already implements. Guarded here
    rather than silently: > ``_LSH_BROADCAST_MAX_QUERIES`` raises.
    """
    n_queries = queries.count()
    if n_queries * n_tables > _LSH_BROADCAST_MAX_QUERIES:
        raise ValueError(
            f"ann_topk_lsh broadcasts the query side: {n_queries} queries "
            f"x {n_tables} tables = {n_queries * n_tables} broadcast rows "
            f"exceeds the {_LSH_BROADCAST_MAX_QUERIES} guard. For "
            f"corpus-vs-corpus similarity use blocked_cosine_pairs "
            f"(bucketed, no broadcast) or raise the guard explicitly."
        )
    buckets = F.array(
        *[srp_bucket(F.col(vec_col), num_bits, dim, t) for t in range(n_tables)]
    )
    # norms are projected BELOW the join (once per row), not refolded
    # once per CANDIDATE PAIR (same device as cosine_topk/ivf_topk)
    expand = lambda d, idc, vc, nc: (  # noqa: E731
        d.select(
            F.col(id_col).alias(idc),
            F.col(vec_col).alias(vc),
            l2_norm(F.col(vec_col)).alias(nc),
            F.posexplode(buckets).alias("__table", "__bucket"),
        )
    )
    q = expand(queries, "query_id", "q_vec", "q_norm")
    c = expand(corpus, "neighbor_id", "c_vec", "c_norm")
    cands = (
        c.join(F.broadcast(q), ["__table", "__bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_vec", "c_vec", "q_norm", "c_norm")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        safe_div(
            dot(F.col("q_vec"), F.col("c_vec")),
            F.col("q_norm") * F.col("c_norm"),
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def pca_fit(
    corpus: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 16384,
) -> tuple[list[float], list[list[float]], list[float]]:
    """Fit a PCA basis on a BOUNDED deterministic sample (the ivf_topk
    device: top-N by xxhash64(id) — O(1) driver memory at any corpus
    size): returns (mean, components[k][dim], explained_variance[k]).
    Components are eigh eigenvectors sorted by descending eigenvalue and
    sign-normalized (largest-|coordinate| entry positive) so the basis
    is deterministic for a fixed sample.
    """
    import numpy as np

    rows = (
        corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(sample_cap)
        .collect()
    )
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    mean = x.mean(axis=0)
    xc = x - mean
    cov = (xc.T @ xc) / max(len(x) - 1, 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = []
    for j in order:
        v = evecs[:, j]
        pivot = np.argmax(np.abs(v))
        if v[pivot] < 0:
            v = -v
        comps.append([float(c) for c in v])
    return (
        [float(m) for m in mean],
        comps,
        [float(evals[j]) for j in order],
    )


def pca_project(
    corpus: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 16384,
    prefix: str = "pc",
    basis: tuple[list[float], list[list[float]]] | None = None,
) -> DataFrame:
    """Project every vector onto the top-k PCA components fitted by
    ``pca_fit``. The mean/components fold into an Arrow-batched
    pandas_udf as closure literals — the projection pass is map-only
    (one matmul per Arrow batch, BLAS), nothing iterates over the
    corpus twice. Output appends round(6) ``pc0..pc{k-1}`` columns.

    ``basis`` accepts a prefit ``(mean, components)`` so callers that
    already ran ``pca_fit`` (e.g. to derive variance bounds for the
    property gate) don't pay the sample collect twice.

    The fitted basis depends on float reductions outside the engine's
    expression semantics, so raw projections can't hash-match an
    ANSI-SQL oracle; the q91 GATE therefore checks in-plan Bessel /
    variance-captured properties instead (oracle = exact SQL
    expectation of the booleans), and numeric correctness is pinned
    against numpy in unit tests.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    if basis is None:
        mean, comps, _ = pca_fit(corpus, k, id_col, vec_col, sample_cap)
    else:
        mean, comps = basis
    if len(comps) < k:
        # pca_fit can only return min(k, dim) components; indexing
        # __pc[i] past that would die with an opaque ANSI
        # INVALID_ARRAY_INDEX mid-job — fail up front
        raise ValueError(
            f"k={k} exceeds the {len(comps)} fit components "
            f"(embedding dim limits the basis)"
        )
    mean_arr = np.asarray(mean)
    w = np.asarray(comps)  # k × dim

    @pandas_udf("array<double>")
    def _proj(vs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        out = (m - mean_arr) @ w.T
        return pd.Series([list(map(float, row)) for row in out])

    projected = corpus.withColumn("__pc", _proj(F.col(vec_col)))
    return projected.select(
        "*",
        *[
            F.round(F.col("__pc")[i], 6).alias(f"{prefix}{i}")
            for i in range(k)
        ],
    ).drop("__pc")


def kmeans_assign_relational(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fully-relational Lloyd k-means (fixed ``n_iter`` sweeps) — unlike
    ivf_topk's driver-side quantizer this keeps EVERY step in the
    engine, so it is oracle-checkable end-to-end and scales to corpora
    where even the centroid update must be distributed:

    - init: the k lowest-id vectors are the seeds (deterministic);
    - assign: broadcast the k-row centroid frame, squared-L2 via a
      sequential zip_with/aggregate fold (bit-identical to DuckDB's
      list_dot_product on the diff vector — the q25 device), argmin by
      (dist², cluster) row_number;
    - update: posexplode to (cluster, pos) partial sums — DECIMAL
      accumulated, map-side combined (the q44 label-centroid shape) —
      then array_sort(collect_list(struct)) reassembles each centroid.

    2 shuffles per iteration (assignment argmin is window-free only in
    the agg sense: row_number over k=constant rows per point; update is
    one (cluster,pos) aggregate). Returns (id, cluster, dist2) of the
    final assignment.

    Known semantic (mirrored EXACTLY by the q89 unrolled-CTE oracle —
    change both sides together): a cluster that loses every member
    DROPS from the centroid update, so k can shrink across sweeps;
    _lloyd_fit's keep-previous-center policy is the driver-side
    alternative when a fixed k matters more than oracle checkability.
    """
    pts = corpus.select(
        F.col(id_col).alias("pid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    # Seed from the k LOWEST ids explicitly (TakeOrderedAndProject +
    # row_number over the <=k surviving rows) — a `pid < k` filter would
    # silently under-seed on sparse ids and mis-compare on string ids.
    # With dense 0..k-1 integer ids (the oracle's regime) cluster == pid,
    # so the unrolled-SQL parity is unchanged.
    seed_w = Window.orderBy(F.col("pid").asc())
    cents = (
        pts.orderBy(F.col("pid").asc())
        .limit(k)
        .select(
            (F.row_number().over(seed_w) - 1).alias("cluster"),
            F.col("v").alias("c"),
        )
    )

    def dist2():
        # diff-then-self-dot: the exact op sequence of DuckDB's
        # list_dot_product(dd, dd) (the q25 parity device), so unrolled
        # SQL iterations reproduce every distance bit-for-bit.
        diff = F.zip_with("v", "c", lambda x, y: x - y)
        return F.aggregate(
            F.zip_with(diff, diff, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )

    assigned = None
    for _ in range(n_iter):
        scored = pts.crossJoin(F.broadcast(cents)).withColumn(
            "dist2", dist2()
        )
        w = Window.partitionBy("pid").orderBy(
            F.col("dist2").asc(), F.col("cluster").asc()
        )
        assigned = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("pid", "v", "cluster", "dist2")
        )
        comp = assigned.select(
            "cluster", F.posexplode("v").alias("pos", "val")
        )
        cents = (
            comp.groupBy("cluster", "pos")
            .agg(
                (
                    F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("cval")
            )
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                    lambda s: s["cval"],
                ).alias("c")
            )
        )
    # final assignment against the LAST centroid update
    scored = pts.crossJoin(F.broadcast(cents)).withColumn("dist2", dist2())
    w = Window.partitionBy("pid").orderBy(
        F.col("dist2").asc(), F.col("cluster").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("pid").alias(id_col),
            "cluster",
            F.round("dist2", 6).alias("dist2"),
        )
    )


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    sample_per_centroid: int = 256,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks (FAISS PQ shape): split the
    vector into ``m`` contiguous subspaces and fit an independent
    ``k``-centroid quantizer per subspace on ONE bounded deterministic
    sample (<= sample_per_centroid * k rows via top-N-by-hash — O(1)
    driver memory regardless of corpus size, the same device as
    ivf_topk's coarse quantizer). Returns m codebooks of k sub-centroids
    each — ship them back into map-only expressions as literals; nothing
    iterates over the full corpus."""
    rows = (
        corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(sample_per_centroid * k)
        .collect()
    )
    vecs = [r["v"] for r in rows]
    dim = len(vecs[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        _lloyd_fit(
            [v[j * sub : (j + 1) * sub] for v in vecs],
            k,
            seed=seed + j,
            max_iter=max_iter,
        )
        for j in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only PQ encoding: per subspace, the argmin sub-centroid id
    (deterministic smallest-id tie-break) plus that subspace's squared
    error. ``codes`` is the m-byte compressed representation; the total
    reconstruction squared error is just the sum of per-subspace argmin
    distances (the reconstruction is the concatenation of the chosen
    sub-centroids — never materialized).

    Scale: one narrow projection, no shuffle, no UDF. Each subspace's
    codebook enters the plan as ONE array-of-arrays column (k literal
    calls, not k*dim) and its k distances come from ONE ``transform``
    over it — m transform expressions total. The first cut (m*k
    explicit struct expressions + array_sort) spent more time BUILDING
    the plan than running it: ~3.4 s of py4j/Catalyst per invocation
    for m=4, k=16; this shape plans in ~0.3 s. argmin = array_position
    of array_min (first match ⇒ smallest-index tie-break, same
    semantics as the struct sort it replaces)."""
    sub = len(codebooks[0][0])
    m = len(codebooks)

    def sub_dists(j: int, cb: list[list[float]]) -> Column:
        sv = F.slice(F.col(vec_col).cast("array<double>"), j * sub + 1, sub)
        cents = _dmat_expr(cb)
        return F.transform(cents, lambda c: _sqd(sv, c))

    staged = df.select(
        F.col(id_col),
        *[sub_dists(j, cb).alias(f"__d{j}") for j, cb in enumerate(codebooks)],
    )
    mins = [F.array_min(f"__d{j}") for j in range(m)]
    code = F.array(
        *[
            (F.array_position(F.col(f"__d{j}"), mins[j]) - 1).cast("int")
            for j in range(m)
        ]
    )
    err = mins[0]
    for j in range(1, m):
        err = err + mins[j]
    dim = sub * m
    return staged.select(
        F.col(id_col),
        code.alias("codes"),
        (err / F.lit(float(dim))).alias("recon_mse"),
    )


def pq_audit(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str | None = None,
) -> DataFrame:
    """PQ compression audit: reconstruction-MSE stats and code-space
    utilization per group (or corpus-wide with group_col=None) — the
    "is m/k enough for this corpus" diagnostic before committing to a
    compressed ANN index. One map-only encode pass + one aggregate."""
    enc = pq_encode(df, codebooks, id_col=id_col, vec_col=vec_col)
    if group_col is not None:
        enc = enc.join(df.select(F.col(id_col), F.col(group_col)), id_col)
    # Both audit passes (stats + utilization) read the encoded frame —
    # persist it so the m*k-struct encode expression is planned,
    # codegen-compiled, and executed ONCE, not once per pass. The cache
    # is O(n_vecs * m) ints, released with the result (caching device
    # shared with pagerank).
    enc = enc.persist()
    keys = [group_col] if group_col is not None else []
    k_total = float(len(codebooks) * len(codebooks[0]))
    stats = enc.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("recon_mse"), 6).alias("mean_recon_mse"),
        F.round(F.max("recon_mse"), 6).alias("max_recon_mse"),
    )
    # Utilization relationally: explode the m-code array and count
    # distinct (subspace, code) cells per group — map-side combinable,
    # never a per-group collect_list of n_vecs*m entries.
    cells = enc.select(
        *keys, F.posexplode("codes").alias("pos", "code")
    ).distinct()
    util = cells.groupBy(*keys).agg(
        F.round(F.count(F.lit(1)) / F.lit(k_total), 6).alias(
            "codebook_utilization"
        )
    )
    from big_data_project_datapipeline_spark.operators.caching import (
        attach_cache_release,
    )

    out = (
        stats.join(util, keys)
        if keys
        else stats.crossJoin(F.broadcast(util))
    )
    return attach_cache_release(out, (enc,))


def _sqd(a: Column, b: Column) -> Column:
    """Squared L2 distance between two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) ** 2),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dvec_sql(vec) -> str:
    """SQL text of an array<double> literal. ``repr`` of a Python float
    is shortest-round-trip, and Spark's ``<digits>D`` literal parses
    via Double.parseDouble — bit-exact both ways (pinned by test).
    Non-finite components fail loudly: inf/nan in a model constant is
    an upstream training bug, not something to smuggle into a plan."""
    import math

    vals = [float(x) for x in vec]
    if not all(math.isfinite(x) for x in vals):
        raise ValueError("non-finite component in literal vector")
    return "array(" + ",".join(repr(x) + "D" for x in vals) + ")"


def _dvec_expr(vec) -> Column:
    """A double-array literal built from ONE parsed SQL string.

    ``F.lit(list)`` / ``F.array(*[F.lit(...)])`` cost a py4j
    round-trip per element/row; for model-sized matrices (IVFPQ: 16
    centroids × 64 dims + 8 codebooks × 16 × 8) that put ~10 s of
    driver-side plan CONSTRUCTION ahead of a ~7 s execution. One F.expr
    parse is ~150× faster and
    value-identical."""
    return F.expr(_dvec_sql(vec))


def _dmat_expr(mat) -> Column:
    """array<array<double>> literal via one parsed SQL string — the
    matrix companion of :func:`_dvec_expr`."""
    return F.expr(_dmat_sql(mat))


def _dmat_sql(mat) -> str:
    return "array(" + ",".join(_dvec_sql(r) for r in mat) + ")"


def _sqd_sql(a: str, b: str) -> str:
    """SQL text of :func:`_sqd` over two array<double> SQL fragments —
    the generalization of the ``_dvec_expr`` device: every
    lambda-based higher-order Column call (zip_with/aggregate/transform)
    costs ~40–80 ms of py4j round trips
    on this host, and the IVFPQ encode/search constructors issue dozens
    (q117: 4,226 round trips, 8.3 s of pure plan construction per run,
    cProfile-verified). One ``F.expr`` parse of the same tree is
    milliseconds. The text mirrors _sqd EXACTLY — ``power(x - y, 2)``
    is what ``Column ** 2`` builds — so the resolved expressions and
    every downstream float are bit-identical."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> power(x - y, 2)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def ivfpq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    m: int = 8,
    k_sub: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    sample_per_centroid: int = 256,
) -> dict:
    """Train the IVF-PQ model (Jegou et al. 2011): a coarse k-means
    quantizer over ``n_lists`` cells plus ``m`` residual PQ codebooks
    of ``k_sub`` sub-centroids each, all fit on ONE bounded
    deterministic top-N-by-hash sample — O(1) driver memory regardless
    of corpus size. Returns a plain-dict model (json-serializable) that
    ships into encode/search plans as literals."""
    import numpy as np

    sample_rows = (
        corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(sample_per_centroid * n_lists)
        .collect()
    )
    vecs = np.asarray([r["v"] for r in sample_rows], dtype=np.float64)
    dim = vecs.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    cents = np.asarray(
        _lloyd_fit(vecs.tolist(), n_lists, seed=seed, max_iter=max_iter)
    )
    # per-center columns, not the (n, k, dim) broadcast — bit-identical
    # and ~90x faster on this numpy build (see _lloyd_fit)
    d2 = np.empty((len(vecs), len(cents)))
    for j in range(len(cents)):
        d2[:, j] = ((vecs - cents[j]) ** 2).sum(axis=1)
    resid = vecs - cents[d2.argmin(axis=1)]
    codebooks = [
        _lloyd_fit(
            resid[:, j * sub : (j + 1) * sub].tolist(),
            k_sub,
            seed=seed + 1 + j,
            max_iter=max_iter,
        )
        for j in range(m)
    ]
    return {
        "centroids": [list(map(float, c)) for c in cents],
        "codebooks": codebooks,
        "m": m,
        "sub": sub,
        "dim": dim,
    }


def ivfpq_encode(
    corpus: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only index build: assign each vector to its coarse list and
    PQ-encode the residual. Output (vec_id, list_id, codes) is the
    ENTIRE persisted index — m bytes + a list id per vector, ~32x
    smaller than the raw floats; write it with partitionBy("list_id")
    and searches prune to the probed lists' partitions."""
    sub, m = model["sub"], model["m"]
    cents_sql = _dmat_sql(model["centroids"])
    # whole-expression SQL strings, parsed once each (the _sqd_sql
    # device): the per-lambda Column API costs made THIS function
    # a measurable slice of q117's 8.3 s construction
    v_sql = f"cast({quote_ident(vec_col)} as array<double>)"
    coarse_d = F.expr(
        f"transform({cents_sql}, c -> {_sqd_sql('__v', 'c')})"
    )
    assigned = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.expr(v_sql).alias("__v"),
    ).select(
        "vec_id",
        "__v",
        (F.array_position(coarse_d, F.array_min(coarse_d)) - 1)
        .cast("int")
        .alias("list_id"),
    ).withColumn(
        "__r",
        F.expr(
            f"zip_with(__v, element_at({cents_sql}, list_id + 1), "
            "(x, c) -> x - c)"
        ),
    )

    def code_of(j: int, cb: list[list[float]]) -> str:
        sv = f"slice(__r, {j * sub + 1}, {sub})"
        ds = f"transform({_dmat_sql(cb)}, c -> {_sqd_sql(sv, 'c')})"
        return f"cast(array_position({ds}, array_min({ds})) - 1 as int)"

    codes = ",".join(
        code_of(j, cb) for j, cb in enumerate(model["codebooks"])
    )
    return assigned.select(
        "vec_id",
        "list_id",
        F.expr(f"array({codes})").alias("codes"),
    )


def ivfpq_search(
    index: DataFrame,
    model: dict,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    refine: int = 4,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """ADC search against a prebuilt (vec_id, list_id, codes) index:
    per probed list each query builds an m × k_sub lookup table once
    and every candidate costs m array lookups — the index's float
    vectors are never read. ``refine`` > 1 exact-re-ranks the
    k·refine ADC shortlist (FAISS IndexRefineFlat) and requires
    ``corpus`` for the raw vectors; the refine join touches only
    queries·k·refine of them."""
    if refine > 1 and corpus is None:
        raise ValueError("refine > 1 needs the raw-vector corpus")
    m = model["m"]
    sub = model["sub"]
    cents = model["centroids"]
    n_probe = min(n_probe, len(cents))
    cents_sql = _dmat_sql(model["centroids"])
    # whole-expression SQL strings parsed once (the _sqd_sql device)
    # — this constructor was the bulk of q117's measured 8.3 s
    # of per-run py4j plan-construction time
    qv_sql = f"cast({quote_ident(vec_col)} as array<double>)"
    q_coarse_sql = "array(" + ",".join(
        f"struct({_sqd_sql(qv_sql, _dvec_sql(c))} as d, {i} as list)"
        for i, c in enumerate(cents)
    ) + ")"
    probes_sql = f"slice(array_sort({q_coarse_sql}), 1, {n_probe})"
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(qv_sql).alias("__q"),
        F.expr(
            f"explode(transform({probes_sql}, s -> s.list))"
        ).alias("list_id"),
    ).withColumn(
        "__rq",
        F.expr(
            f"zip_with(__q, element_at({cents_sql}, list_id + 1), "
            "(x, c) -> x - c)"
        ),
    )

    def dtable(j: int, cb: list[list[float]]) -> Column:
        sv = f"slice(__rq, {j * sub + 1}, {sub})"
        return F.expr(
            f"transform({_dmat_sql(cb)}, c -> {_sqd_sql(sv, 'c')})"
        )

    q_tabs = q.select(
        "query_id",
        "list_id",
        *[
            dtable(j, cb).alias(f"__t{j}")
            for j, cb in enumerate(model["codebooks"])
        ],
    )
    approx = F.element_at(F.col("__t0"), F.element_at(F.col("codes"), 1) + 1)
    for j in range(1, m):
        approx = approx + F.element_at(
            F.col(f"__t{j}"), F.element_at(F.col("codes"), j + 1) + 1
        )
    # exclude_self drops candidates whose id equals the query id —
    # correct when queries are drawn from the indexed corpus (q117);
    # pass False when query ids live in an unrelated id space, or a
    # numerically-colliding corpus vector would be wrongly excluded.
    scored = index.join(F.broadcast(q_tabs), "list_id")
    if exclude_self:
        scored = scored.filter(F.col("vec_id") != F.col("query_id"))
    scored = (
        scored
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            approx.alias("approx_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    if refine <= 1:
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k * refine)
        .drop("rank")
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), F.expr(qv_sql).alias("__q")
    )
    nvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__nv"),
    )
    refined = (
        nvecs.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _sqd(F.col("__q"), F.col("__nv")).alias("approx_dist"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    return refined.withColumn("rank", F.row_number().over(w2)).filter(
        F.col("rank") <= k
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 8,
    k_sub: int = 16,
    refine: int = 4,
    seed: int = 42,
    max_iter: int = 8,
) -> DataFrame:
    """One-shot IVF-PQ ANN (train + encode + search in a single call —
    see ivfpq_train / ivfpq_encode / ivfpq_search for the production
    split where the index is built once, persisted partitioned by
    list_id, and searched many times).

    Returns (query_id, neighbor_id, approx_dist, rank) with rank ≤ k
    ascending (exact distance when refine > 1). Approximate by
    construction (probe misses + shortlist misses) — rows-only query
    class, pinned by a recall test against exact search.

    Scale shape: both quantizers train on ONE bounded deterministic
    sample (top-N-by-hash; O(1) driver memory) shipped as literals;
    the index pass is map-only; search is one broadcast join on the
    list id plus a per-query top-k window; refine re-reads only
    queries·k·refine raw vectors. Each indexed vector costs m bytes +
    a list id (~32x under raw floats) — why IVFPQ is the 100 TB
    path."""
    model = ivfpq_train(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        n_lists=n_lists,
        m=m,
        k_sub=k_sub,
        seed=seed,
        max_iter=max_iter,
    )
    index = ivfpq_encode(corpus, model, id_col=id_col, vec_col=vec_col)
    return ivfpq_search(
        index,
        model,
        queries,
        k=k,
        n_probe=n_probe,
        refine=refine,
        corpus=corpus,
        id_col=id_col,
        vec_col=vec_col,
    )
