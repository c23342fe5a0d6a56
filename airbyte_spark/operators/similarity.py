"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline, and an IVF-style
cell-probe variant as the scale path. Training-data-pipeline extensions
beyond the reference's CDC surface.

Scale notes:
  - brute force is O(Q×N) dot products — fine for reranking, wrong as the
    primary search at 10^9 vectors;
  - IVF assigns every vector to its nearest of C centroids (one broadcast
    join, cells materialized once), then each query probes only its
    nprobe nearest cells: cost O(Q×C + Q×N×nprobe/C);
  - all arithmetic is F.zip_with/F.aggregate on double — JVM-side, no
    Python; embeddings stay packed arrays (no explode shuffle).

Determinism: elements are cast float→double before any arithmetic and
ranking ties break on vec_id, so the DuckDB oracle reproduces results.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.functions import pandas_udf


def _dvec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (self-match excluded).

    The query side broadcasts (it is small by construction); the corpus
    scan parallelizes per partition, and the per-query top-k is a window
    rank — at scale, replace the window with a per-partition top-k
    aggregation then re-rank (AQE handles the small final shuffle).
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), _dvec(F.col(vec_col)).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"), _dvec(F.col(vec_col)).alias("n_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn(
            "cos",
            dot(F.col("q_vec"), F.col("n_vec"))
            / (norm(F.col("q_vec")) * norm(F.col("n_vec"))),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "cos")
    )


def ivf_assign(
    corpus: DataFrame,
    num_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid. By default the vectors
    with the lowest ids serve as (deterministic, oracle-portable)
    centroids; pass `centroids` (c_id, c_vec) — e.g. from
    kmeans_centroids — for data-adaptive cells. Returns
    (vec_id, embedding, cell)."""
    cents = (
        centroids
        if centroids is not None
        else corpus.filter(F.col(id_col) < num_centroids).select(
            F.col(id_col).alias("c_id"), _dvec(F.col(vec_col)).alias("c_vec")
        )
    )
    v = corpus.select(F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("v_vec"))
    scored = v.crossJoin(F.broadcast(cents)).withColumn(
        "cos",
        dot(F.col("v_vec"), F.col("c_vec")) / (norm(F.col("v_vec")) * norm(F.col("c_vec"))),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("v_vec").alias("embedding"), F.col("c_id").alias("cell"))
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd iterations for IVF cells: init = the k lowest-id
    vectors (seeded, replay-stable), then `iters` rounds of
    assign-to-nearest + per-cell elementwise mean. Returns (c_id, c_vec).

    Scale shape: each iteration is one broadcast assign (no shuffle of the
    corpus beyond the groupBy on cell id) + a D-column aggregate — the
    centroid means are map-side-combinable per dimension, so the shuffle
    moves k×D doubles per partition, never vectors. D is read from the
    schema's first row once (driver-side, O(1))."""
    dim = len(corpus.select(vec_col).first()[0])
    cents = corpus.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("c_id"), _dvec(F.col(vec_col)).alias("c_vec")
    )
    v = corpus.select(F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("v_vec"))
    for _ in range(iters):
        scored = v.crossJoin(F.broadcast(cents)).withColumn(
            "cos",
            dot(F.col("v_vec"), F.col("c_vec"))
            / (norm(F.col("v_vec")) * norm(F.col("c_vec"))),
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
        assigned = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "v_vec", F.col("c_id").alias("cell"))
        )
        cents = assigned.groupBy(F.col("cell").alias("c_id")).agg(
            F.array(*[F.avg(F.col("v_vec")[i]) for i in range(dim)]).alias("c_vec")
        )
    return cents


def kmeans_inertia(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Mean (1 - cosine-to-nearest-centroid) — the convergence measure."""
    assigned = ivf_assign(corpus, 0, id_col, vec_col, centroids=centroids)
    joined = assigned.join(
        F.broadcast(centroids), assigned["cell"] == centroids["c_id"]
    ).withColumn(
        "cos",
        dot(F.col("embedding"), F.col("c_vec"))
        / (norm(F.col("embedding")) * norm(F.col("c_vec"))),
    )
    return joined.agg(F.avg(1 - F.col("cos"))).collect()[0][0]


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF cell-probe ANN: search only vectors in the query's nprobe nearest
    cells. Recall < 1 by design; brute-force cosine_topk is the oracle.
    Pass `centroids` from kmeans_centroids for data-adaptive cells."""
    assigned = ivf_assign(corpus, num_centroids, id_col, vec_col, centroids=centroids)
    q_cells = ivf_assign_queries(
        queries, corpus, num_centroids, nprobe, id_col, vec_col, centroids=centroids
    )
    cand = q_cells.join(assigned.withColumnRenamed("vec_id", "n_id"), "cell").filter(
        F.col("q_id") != F.col("n_id")
    )
    scored = cand.withColumn(
        "cos",
        dot(F.col("q_vec"), F.col("embedding"))
        / (norm(F.col("q_vec")) * norm(F.col("embedding"))),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "cos")
    )


def ivf_assign_queries(
    queries: DataFrame,
    corpus: DataFrame,
    num_centroids: int,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(q_id, q_vec, cell) for each query's nprobe nearest centroid cells."""
    cents = (
        centroids
        if centroids is not None
        else corpus.filter(F.col(id_col) < num_centroids).select(
            F.col(id_col).alias("c_id"), _dvec(F.col(vec_col)).alias("c_vec")
        )
    )
    q = queries.select(F.col(id_col).alias("q_id"), _dvec(F.col(vec_col)).alias("q_vec"))
    scored = q.crossJoin(F.broadcast(cents)).withColumn(
        "cos",
        dot(F.col("q_vec"), F.col("c_vec")) / (norm(F.col("q_vec")) * norm(F.col("c_vec"))),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("q_id", "q_vec", F.col("c_id").alias("cell"))
    )


def srp_planes(dim: int, bits: int, seed: str = "srp") -> list[list[float]]:
    """Deterministic ±1 hyperplanes for signed-random-projection LSH,
    derived from md5 so both Spark and a SQL oracle can inline the exact
    same constants (no RNG state to ship)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[0], 16) < 8
            else -1.0
            for j in range(dim)
        ]
        for i in range(bits)
    ]


def srp_signature(
    corpus: DataFrame,
    dim: int,
    bits: int = 60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "srp",
) -> DataFrame:
    """Per-vector SRP sketch (SimHash for dense vectors): bit i = sign of
    the dot product with deterministic ±1 hyperplane i, packed into one
    BIGINT. Computed as ONE Arrow-batched numpy matmul (batch×dim @
    dim×bits) — the chained per-bit column-expression form evaluates
    `bits` interpreted lambda passes per row and is ~100× slower.
    P(bit agrees) = 1 − angle(a,b)/π, so near-parallel vectors share
    most bits."""
    import numpy as np
    from pyspark.sql.types import LongType

    planes_t = np.array(srp_planes(dim, bits, seed), dtype=np.float64).T  # dim×bits
    weights = (np.uint64(1) << np.arange(bits, dtype=np.uint64))

    @pandas_udf(LongType())
    def sig_udf(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy()).astype(np.float64)
        bits_m = (mat @ planes_t > 0).astype(np.uint64)
        return pd.Series((bits_m * weights).sum(axis=1).astype(np.int64))

    return corpus.select(
        F.col(id_col).alias("vec_id"), sig_udf(F.col(vec_col)).alias("sig")
    )


def srp_band_keys(
    corpus: DataFrame,
    dim: int,
    bits: int = 60,
    bands: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "srp",
) -> DataFrame:
    """(vec_id, sig, band, key) bucket memberships of the SRP sketch — the
    probe/index unit shared by srp_near_dups and the incremental
    embedding registry."""
    width = bits // bands
    mask = (1 << width) - 1
    sig = srp_signature(corpus, dim, bits, id_col, vec_col, seed)
    slices = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.shiftrightunsigned(F.col("sig"), bi * width)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for bi in range(bands)
        ]
    )
    return sig.select("vec_id", "sig", F.explode(slices).alias("bk")).select(
        "vec_id", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def srp_near_dups(
    corpus: DataFrame,
    threshold: float = 0.4,
    bits: int = 60,
    bands: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "srp",
) -> DataFrame:
    """SRP-LSH near-dup pairs — the second sub-quadratic embedding path
    (hyperplane sketch instead of IVF cells): the packed signature is
    split into `bands` bit-slices, candidates are the band-bucket
    self-join keyed on (band, slice) over vec_id ONLY (the sketch runs
    once and only 16-byte rows shuffle), survivors are verified with
    exact cosine after re-joining the embeddings.

    Tuning ≡ IVF's centroid count: each band hashes the corpus into 2^w
    buckets (w = bits/bands), so random pairs collide at ≈ bands/2^w and
    candidate cost is ∝ N²·bands/2^w — widen slices as N grows exactly
    as IVF grows C. Recall: P(candidate) = 1 − (1 − p^w)^bands with
    p = 1 − angle/π; at the true near-dup regime (cos ≥ 0.9, p ≈ 0.86)
    the defaults give ≈ 0.76 recall per the formula and ≈ 1 for
    near-identical vectors; embedding_near_dups is the exact recall
    oracle. Raise bands (more bits) to tighten recall at fixed w."""
    corpus = corpus.filter(F.col(vec_col).isNotNull())  # NULLs carry no content
    first = corpus.select(vec_col).first()
    if first is None:  # empty corpus → empty pair set, not a dim-probe crash
        return corpus.sparkSession.createDataFrame(
            [], "a_id long, b_id long, cos double"
        )
    dim = len(first[0])
    exploded = srp_band_keys(
        corpus, dim, bits, bands, id_col, vec_col, seed
    # the self-join consumes this twice; without the cache both sides
    # re-run the signature UDF over the whole corpus
    ).cache()
    from airbyte_spark.operators.dedup_text import band_collision_pairs

    cand = band_collision_pairs(exploded, id_col="vec_id").distinct()
    ea = corpus.select(F.col(id_col).alias("a_id"), _dvec(F.col(vec_col)).alias("a_vec"))
    eb = corpus.select(F.col(id_col).alias("b_id"), _dvec(F.col(vec_col)).alias("b_vec"))
    return (
        cand.join(ea, "a_id")
        .join(eb, "b_id")
        .withColumn(
            "cos",
            dot(F.col("a_vec"), F.col("b_vec"))
            / (norm(F.col("a_vec")) * norm(F.col("b_vec"))),
        )
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
    )


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold (a_id < b_id) — embedding-based
    near-duplicate detection. Quadratic exact form; at scale, restrict the
    pair space with ivf_assign (same-cell pairs only) first."""
    a = corpus.select(F.col(id_col).alias("a_id"), _dvec(F.col(vec_col)).alias("a_vec"))
    b = corpus.select(F.col(id_col).alias("b_id"), _dvec(F.col(vec_col)).alias("b_vec"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn(
            "cos",
            dot(F.col("a_vec"), F.col("b_vec"))
            / (norm(F.col("a_vec")) * norm(F.col("b_vec"))),
        )
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
    )


def embedding_near_dups_bucketed(
    corpus: DataFrame,
    threshold: float = 0.95,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for embedding near-dup detection: pair candidates are
    restricted to vectors assigned to the SAME IVF cell, so cost is
    Σ cell² ≈ N²/C instead of N² — the shuffle keys on the cell id, each
    reducer scores only its own cell's pairs, and no executor ever holds
    the cross product of the corpus. Near-duplicates (cos ≥ ~0.95) land in
    the same cell with high probability because both vectors sit closest
    to the same centroid; embedding_near_dups is the exact small-scale
    oracle for recall measurement. Returns (a_id, b_id, cos ≥ threshold).
    """
    assigned = ivf_assign(corpus, num_centroids, id_col, vec_col)
    a = assigned.select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_vec"), "cell"
    )
    b = assigned.select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_vec"), "cell"
    )
    return (
        a.join(b, ["cell"])
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn(
            "cos",
            dot(F.col("a_vec"), F.col("b_vec"))
            / (norm(F.col("a_vec")) * norm(F.col("b_vec"))),
        )
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
    )


# --- product quantization (PQ) ---------------------------------------------


def pq_codebook(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic PQ codebook (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011): split each vector into m
    subvectors and take the ksub lowest-id vectors' subvectors as the
    per-subspace centroids — replay-stable and oracle-portable, the same
    placeholder rule ivf_assign uses. Returns (sub, c_id, c_vec); refine
    with pq_train for data-adaptive cells. The codebook is tiny
    (m × ksub × D/m doubles) and always broadcasts."""
    dim = len(corpus.select(vec_col).first()[0])
    dsub = dim // m
    subs = F.array(*[
        F.struct(
            F.lit(s).alias("sub"),
            _dvec(F.slice(F.col(vec_col), s * dsub + 1, dsub)).alias("c_vec"),
        )
        for s in range(m)
    ])
    return (
        corpus.filter(F.col(id_col) < ksub)
        .select(F.col(id_col).alias("c_id"), F.explode(subs).alias("x"))
        .select(F.col("x.sub").alias("sub"), "c_id", F.col("x.c_vec").alias("c_vec"))
    )


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace Lloyd refinement of pq_codebook (k-means in each of the
    m subspaces independently — the PQ training loop). Each round is one
    broadcast assign + a (sub, cell) elementwise-mean aggregate; the
    shuffle moves m × ksub × D/m doubles per partition, never vectors."""
    dim = len(corpus.select(vec_col).first()[0])
    dsub = dim // m
    cb = pq_codebook(corpus, m, ksub, id_col, vec_col)
    subs = F.array(*[
        F.struct(
            F.lit(s).alias("sub"),
            _dvec(F.slice(F.col(vec_col), s * dsub + 1, dsub)).alias("v_vec"),
        )
        for s in range(m)
    ])
    v = corpus.select(
        F.col(id_col).alias("vec_id"), F.explode(subs).alias("x")
    ).select("vec_id", F.col("x.sub").alias("sub"), F.col("x.v_vec").alias("v_vec"))
    for _ in range(iters):
        scored = v.join(F.broadcast(cb), "sub").withColumn(
            "d2", _l2sq(F.col("v_vec"), F.col("c_vec"))
        )
        w = Window.partitionBy("vec_id", "sub").orderBy(
            F.col("d2").asc(), F.col("c_id").asc()
        )
        assigned = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "sub", "v_vec", F.col("c_id").alias("cell"))
        )
        cb = assigned.groupBy("sub", F.col("cell").alias("c_id")).agg(
            F.array(*[F.avg(F.col("v_vec")[j]) for j in range(dsub)]).alias("c_vec")
        )
    return cb


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compress each vector to m one-byte codes: per subspace, the id of
    the nearest codebook centroid by L2 (ties to the lowest c_id).
    Returns (vec_id, codes array<int> ordered by subspace) — at 10^9
    vectors this is the column that gets STORED (m bytes vs 4·D), and the
    ADC scan below never touches the original embeddings.

    One broadcast join + one groupBy(vec_id) — the corpus shuffles codes,
    not vectors.

    Codes are DENSE per-subspace positions (row_number over c_id), not raw
    c_id labels — so a trained codebook whose cells emptied (sparse c_ids)
    still lines up with the ADC tables pq_topk builds in the same order."""
    dim_row = corpus.select(vec_col).first()[0]
    dsub = len(dim_row) // m
    subs = F.array(*[
        F.struct(
            F.lit(s).alias("sub"),
            _dvec(F.slice(F.col(vec_col), s * dsub + 1, dsub)).alias("v_vec"),
        )
        for s in range(m)
    ])
    v = corpus.select(
        F.col(id_col).alias("vec_id"), F.explode(subs).alias("x")
    ).select("vec_id", F.col("x.sub").alias("sub"), F.col("x.v_vec").alias("v_vec"))
    wcb = Window.partitionBy("sub").orderBy(F.col("c_id").asc())
    cb = codebook.withColumn("code_idx", F.row_number().over(wcb) - 1)
    scored = v.join(F.broadcast(cb), "sub").withColumn(
        "d2", _l2sq(F.col("v_vec"), F.col("c_vec"))
    )
    best = scored.groupBy("vec_id", "sub").agg(
        F.min_by(F.col("code_idx"), F.struct(F.col("d2"), F.col("c_id"))).alias("code")
    )
    return best.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))),
            lambda x: x["code"],
        ).alias("codes")
    )


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    k: int = 10,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: per query, precompute an m × ksub
    table of exact query-subvector↔centroid distances, then score every
    stored code with m table LOOKUPS (zip_with over the codes array) —
    no floating-point math per corpus row beyond m adds, and the corpus
    side reads only the codes column. Ranks ascending approximate L2;
    ties and self-matches resolved on vec_id. Returns
    (q_id, n_id, rank, adist)."""
    dim_row = queries.select(vec_col).first()[0]
    dsub = len(dim_row) // m
    subs = F.array(*[
        F.struct(
            F.lit(s).alias("sub"),
            _dvec(F.slice(F.col(vec_col), s * dsub + 1, dsub)).alias("q_vec"),
        )
        for s in range(m)
    ])
    q = queries.select(
        F.col(id_col).alias("q_id"), F.explode(subs).alias("x")
    ).select("q_id", F.col("x.sub").alias("sub"), F.col("x.q_vec").alias("q_vec"))
    cells = q.join(F.broadcast(codebook), "sub").select(
        "q_id", "sub", "c_id", _l2sq(F.col("q_vec"), F.col("c_vec")).alias("d2")
    )
    per_sub = cells.groupBy("q_id", "sub").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("c_id", "d2"))), lambda x: x["d2"]
        ).alias("row")
    )
    tables = per_sub.groupBy("q_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "row"))), lambda x: x["row"]
        ).alias("tbl")
    )
    scored = codes.crossJoin(F.broadcast(tables)).select(
        "q_id",
        F.col("vec_id").alias("n_id"),
        F.aggregate(
            F.zip_with(F.col("codes"), F.col("tbl"), lambda c, t: t[c]),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("adist"),
    ).filter(F.col("q_id") != F.col("n_id"))
    w = Window.partitionBy("q_id").orderBy(F.col("adist").asc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "adist")
    )
