"""Similarity search over embedding columns (``array<float>``).

Two paths, same answer shape (query_id, neighbor_id, score, rank):

* brute force — exact baseline. The query set is broadcast (it's the
  small side by construction), so the scan over N corpus vectors is
  embarrassingly parallel with NO shuffle of the corpus; per-row
  cosine is a higher-order-function expression (JVM, codegen).
* LSH (random hyperplanes) — the scale path: corpus is bucketed by a
  b-bit signature once (narrow), then only same-bucket candidates are
  scored. Multi-probe (flipping one bit) trades compute for recall.

At 100 TB the brute-force path is one full scan per query batch —
fine for ad-hoc top-k with a broadcastable query set; the LSH path
cuts the scored fraction to ~2^-b * (1+b) with multi-probe radius 1.
"""

from __future__ import annotations

import logging
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from toshokan_spark.literals import literal_relation, sql_literal
from toshokan_spark.operators.dedup import cosine_sim, dot_product, sq_norm
from toshokan_spark.operators.util import finalize_cached, spread

_LOG = logging.getLogger(__name__)


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    vectorized: bool = False,
    assume_normalized: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``broadcast(queries)`` keeps the corpus un-shuffled; the global
    top-k per query is a window over (query, score) — Catalyst turns
    the rank filter into a per-partition partial top-k before the
    exchange when AQE is on.

    ``vectorized=True`` scores with the Arrow-batched BLAS cosine
    (production path at scale); the default sequential fold is kept
    for bit-exact oracle parity (see dedup.cosine_vectorized).

    ``assume_normalized=True`` scores with the dot product alone —
    the standard serving fast path after
    :func:`normalize_embeddings` (cosine ≡ dot on the unit sphere):
    drops two O(D) norm folds + a sqrt per scored pair. The caller
    owns the invariant; scores are garbage on unnormalized vectors.
    """
    from toshokan_spark.operators.dedup import cosine_vectorized

    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ).withColumn("qn2", sq_norm(F.col("qv")))
    )
    c = spread(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    ).withColumn("cn2", sq_norm(F.col("cv")))
    if assume_normalized:
        score = dot_product(F.col("qv"), F.col("cv"))
    elif vectorized:
        score = cosine_vectorized(F.col("qv"), F.col("cv"))
    else:
        score = dot_product(F.col("qv"), F.col("cv")) / F.sqrt(F.col("qn2") * F.col("cn2"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", score)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("score", 6).alias("score"),
            "rank",
        )
    )


def embedding_dim_stats(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension corpus statistics (mean, population variance, n)
    — the profile a normalization / whitening / drift-monitoring step
    reads. One posexplode to (dim, x) slim rows and one
    partial-aggregated groupBy on the dimension: the shuffle carries
    D × partitions partial rows, never the corpus. Sums run in
    ``decimal(38,18)`` so results are independent of partition order
    (same rationale as train_ivf_centroids — a double sum would drift
    run to run)."""
    ex = emb.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "x")
    ).select("dim", F.col("x").cast("double").alias("x"))
    n = F.count(F.lit(1))
    s = F.sum(F.col("x").cast("decimal(38,18)")).cast("double")
    s2 = F.sum((F.col("x") * F.col("x")).cast("decimal(38,18)")).cast("double")
    return (
        ex.groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(n.cast("long").alias("n"), s.alias("__s"), s2.alias("__s2"))
        .select(
            "dim",
            "n",
            F.round(F.col("__s") / F.col("n"), 6).alias("mean"),
            F.round(
                F.col("__s2") / F.col("n")
                - (F.col("__s") / F.col("n")) * (F.col("__s") / F.col("n")),
                6,
            ).alias("variance"),
        )
    )


def normalize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """L2-normalize every vector (unit sphere — the prerequisite for
    cosine ≡ dot-product shortcuts and most ANN indexes). Pure narrow
    per-row Column algebra, no shuffle; zero vectors pass through
    unchanged rather than dividing by 0.

    The norm is STAGED as a projected column before the per-element
    transform: HOF lambdas get no subexpression elimination, so an
    inlined norm would re-run the O(D) fold once per element — O(D²)
    per row (the staged_shingles rule)."""
    staged = emb.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        F.sqrt(sq_norm(F.col(vec_col))).alias("__n"),
    )
    unit = F.transform(
        F.col("__v"), lambda x: F.round(x.cast("double") / F.col("__n"), 6)
    )
    return staged.select(
        F.col(id_col),
        F.when(F.col("__n") > 0, unit)
        .otherwise(F.transform(F.col("__v"), lambda x: x.cast("double")))
        .alias("unit_embedding"),
        F.round(F.col("__n"), 6).alias("norm"),
    )


def centroid_distances(
    emb: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distance of every vector to its group's centroid — the
    embedding-space outlier/quality signal (prune the far tail before
    training; monitor per-source drift). Centroids are per-(label,
    dim) means over the SAME exploded slim rows that then re-join to
    compute distances, so no D-wide array is ever re-assembled and
    the join keys are (label, dim) — AQE broadcasts the
    |labels|×D-row centroid table. Decimal sums make both the
    centroid and the per-vector distance independent of partition
    order."""
    ex = emb.select(
        F.col(id_col),
        F.col(label_col),
        F.posexplode(F.col(vec_col)).alias("dim", "__x"),
    ).select(
        id_col, label_col, "dim", F.col("__x").cast("double").alias("x")
    )
    cent = ex.groupBy(label_col, "dim").agg(
        (F.sum(F.col("x").cast("decimal(38,18)")).cast("double") / F.count(F.lit(1)))
        .alias("mu")
    )
    d = (F.col("x") - F.col("mu"))
    return (
        ex.join(cent, [label_col, "dim"])
        .groupBy(id_col, label_col)
        .agg(F.sum((d * d).cast("decimal(38,18)")).cast("double").alias("__d2"))
        .select(
            id_col,
            label_col,
            F.round(F.sqrt(F.col("__d2")), 6).alias("centroid_dist"),
        )
    )


def hybrid_rrf(
    docs: DataFrame,
    emb: DataFrame,
    text_query: str,
    query_vec_id: int,
    k: int = 10,
    pool: int = 50,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval: BM25 lexical ranking ∪ cosine vector ranking,
    fused with reciprocal-rank fusion (Cormack et al. 2009)::

        rrf(d) = Σ_lists 1 / (rrf_k + rank_list(d))

    Each list contributes its top-``pool``; a document missing from a
    list contributes 0 for it. The standard first stage of a RAG /
    retrieval pipeline — and the query shape this engine is FOR, since
    it exercises both halves (inverted-index-style BM25 over the text
    field, ANN over the embedding column) in one plan.

    Scale: both lists end in a global top-``pool`` (distributed
    take-ordered), so the fusion join runs over at most 2·pool rows —
    driver-free, broadcast-sized regardless of corpus size.
    """
    from toshokan_spark.functions.bm25 import bm25_scores

    lex = bm25_scores(docs, text_query, id_col=id_col, text_col=text_col)
    lex_top = (
        lex.orderBy(F.col("bm25").desc(), F.col("id").asc())
        .limit(pool)
        .select(
            F.col("id"),
            F.row_number()
            .over(Window.orderBy(F.col("bm25").desc(), F.col("id").asc()))
            .alias("lex_rank"),
        )
    )
    vec_top = knn_bruteforce(
        emb,
        emb.filter(F.col(vec_id_col) == query_vec_id),
        k=pool,
        id_col=vec_id_col,
        vec_col=vec_col,
        query_id_col=vec_id_col,
    ).select(F.col("neighbor_id").alias("id"), F.col("rank").alias("vec_rank"))
    fused = lex_top.join(vec_top, "id", "full_outer").select(
        F.col("id").alias(id_col),
        "lex_rank",
        "vec_rank",
        F.round(
            F.coalesce(1.0 / (F.lit(rrf_k) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("vec_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            F.col("lex_rank").cast("long").alias("lex_rank"),
            F.col("vec_rank").cast("long").alias("vec_rank"),
            "rrf_score",
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# random-hyperplane LSH
# ---------------------------------------------------------------------------

#: LCG constants (glibc rand): the SQL-auditable ±1 plane family —
#: pure integer arithmetic both engines compute identically
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 1 << 31


_U64 = (1 << 64) - 1


def lsh_plane_constants(p: int) -> "tuple[int, int]":
    """Per-plane affine constants ``(a_p odd, c_p)`` for the 'lcg'
    oracle-replayable sign family: component(p, j) =
    sign((a_p * j + c_p) mod 2^31 - 2^30). The constants derive from
    a splitmix64 finalizer over the PLANE INDEX in Python — both
    engines evaluate only the per-dimension affine form with the
    constants baked into the plan / oracle SQL text, so DuckDB
    replays it exactly without 64-bit hashing.

    r16 family fix (VERDICT r15 directive 2 root cause): the old
    single-multiplier form, sign(A*(p*1024 + j) + C mod 2^31), made
    every plane's sign-over-j sequence a PHASE SHIFT of one
    alternating pattern (same step A for all p) — measured dim-64
    agreements of 61-63/64 between distinct planes, so 8 "planes"
    spanned ~3 hyperplanes and sf1 collapsed 53% of vectors into 7
    buckets (BENCH_SF1 r15). Distinct per-plane multipliers give
    distinct rotation steps; measured cross-plane agreement stays
    within 32±12 of 64 for all pairs up to 24 planes."""
    x = (p + 0x9E3779B97F4A7C15) & _U64
    z = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _U64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _U64
    h = z ^ (z >> 31)
    return ((h % _LCG_M) | 1, (h >> 33) % _LCG_M)


def _plane_component(p: int, j: Column, hash_family: str = "xxhash") -> Column:
    """Deterministic ±1 hyperplane component (seeded by plane index p
    and dimension j) — the classic sign-random-projection family
    (Charikar 2002), reproducible with no stored model.

    ``hash_family='lcg'`` derives the sign from a per-plane affine
    congruential step on the dimension index
    (:func:`lsh_plane_constants`) — DuckDB reproduces it exactly,
    giving the LSH path a value-level oracle; 'xxhash' (default) is
    the faster production family."""
    if hash_family == "lcg":
        a, c = lsh_plane_constants(p)
        # long arithmetic: a*j reaches ~2^43 for dim<=4096
        x = (F.lit(a).cast("long") * j.cast("long") + F.lit(c)) % F.lit(_LCG_M)
        return F.when(x < _LCG_M // 2, F.lit(1.0)).otherwise(F.lit(-1.0))
    return (F.xxhash64(F.lit(p), j).bitwiseAND(F.lit(1)) * 2 - 1).cast("double")


def hyperplane_signature(
    vec: Column, num_planes: int = 16, hash_family: str = "xxhash",
    plane_offset: int = 0,
) -> Column:
    """b-bit signature: bit p = sign(<v, r_p>) with r_p ∈ {±1}^d.

    ``plane_offset`` draws planes ``offset..offset+num_planes-1``
    from the same deterministic family — an INDEPENDENT refinement
    signature (knn_graph's density-adaptive sub-bucketing) that any
    oracle replays by seeding the same indices."""
    idx = F.sequence(F.lit(0), F.size(vec) - 1)

    def dot_with_plane(p: int):
        # closure, not a default arg — zip_with lambdas must be 2-param
        return F.aggregate(
            F.zip_with(
                vec,
                idx,
                lambda x, j: x.cast("double") * _plane_component(p, j, hash_family),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    bits = [
        F.when(dot_with_plane(p) > 0, F.lit(1)).otherwise(F.lit(0))
        for p in range(plane_offset, plane_offset + num_planes)
    ]
    out = F.lit(0).cast("long")
    for b in bits:
        out = out * 2 + b
    return out


def random_hyperplane_bucket(vec: Column, bits: int = 8) -> Column:
    """Coarse bucket id for blocking (e.g. embedding_dup_pairs)."""
    return hyperplane_signature(vec, bits)


def _l2_to_literal(vec: Column, c: list[float]) -> Column:
    """Sequential-fold squared L2 distance to a LITERAL centroid —
    the same left fold the oracle's list_reduce spells out."""
    arr = F.array(*[F.lit(float(x)) for x in c])
    return F.aggregate(
        F.zip_with(vec, arr, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# ---------------------------------------------------------------------------
# SQL-string expression builders for the PQ hot paths. Building the
# encode/LUT expressions through the Column API costs one py4j round
# trip PER node — an M=4 × K=16 codebook is ~1500 JVM calls, measured
# 4.5 s of driver-side PLAN CONSTRUCTION per query (execution itself
# was 0.9 s). Rendering the identical expression as ONE SQL string
# parsed by a single F.expr call is ~0.01 s and produces the same
# tree: double literals carry the D suffix, the fold/cast/struct
# shapes match _l2_to_literal verbatim (equivalence is pinned by
# test_pq_sql_expression_equivalence).
# ---------------------------------------------------------------------------


def _l2_sql(vec_sql: str, c: "list[float]") -> str:
    """SQL text of _l2_to_literal(vec, c)."""
    arr = sql_literal([float(x) for x in c], ArrayType(DoubleType()))
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, "
        "(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def _argmin_code_sql(vec_sql: str, codewords: "list[list[float]]") -> str:
    """SQL text of the per-subspace argmin: (dist, codeword-id)
    struct min over literal codewords, ties to the smallest id."""
    structs = ",".join(
        f"struct({_l2_sql(vec_sql, cwj)} AS d, {jj} AS cid)"
        for jj, cwj in enumerate(codewords)
    )
    return f"array_min(array({structs})).cid"


def _nearest_centroid_struct(
    vec: Column, centroids: list[tuple[int, list[float]]]
) -> Column:
    """(d, cid) struct of the L2-nearest centroid (literal centroid
    vectors — the 'model' is broadcast inside the expression; ties
    break to the lowest cid via the struct ordering)."""
    return F.array_min(
        F.array(
            *[
                F.struct(_l2_to_literal(vec, c).alias("d"), F.lit(cid).alias("cid"))
                for cid, c in centroids
            ]
        )
    )


def _nearest_centroid(vec: Column, centroids: list[tuple[int, list[float]]]) -> Column:
    """cid of the L2-nearest centroid (see
    :func:`_nearest_centroid_struct`)."""
    return _nearest_centroid_struct(vec, centroids).getField("cid")


def _lloyd_rounds(
    e: DataFrame,
    centroids: list[tuple[int, list[float]]],
    iters: int,
    sum_decimal: str,
    divide_in_decimal: bool,
    keep_empty: bool,
) -> list[tuple[int, list[float]]]:
    """The ONE Lloyd iteration loop behind both trainers — extracted
    so :func:`train_ivf_centroids` and :func:`kmeans_embeddings`
    cannot drift apart. *e* is a (persisted) ``(id, v)`` frame; each
    round assigns every vector to its nearest centroid and recomputes
    per-(cid, dim) means with an order-independent decimal sum, so
    the model — and therefore ANN candidate sets — is identical
    across partition counts and shuffle orders.

    The oracle-relevant knobs are explicit parameters, pinned by each
    caller's value oracle:

    * ``sum_decimal`` — the exact-sum precision
      (IVF ``decimal(28,10)``, kmeans ``decimal(38,18)``);
    * ``divide_in_decimal`` — IVF divides in decimal THEN casts to
      double; kmeans casts the sum first and divides in doubles (the
      shapes its DuckDB twin spells out);
    * ``keep_empty`` — an empty cluster keeps its previous centroid
      (kmeans, the standard Lloyd carry) or is dropped from the model
      (IVF — a dead coarse cell would only waste a probe).

    Driver state is only the C×dim centroid matrix (the model), never
    data rows; each round is one distributed agg job whose COLLECT is
    centroid-count-sized."""
    for _ in range(iters):
        assigned = e.withColumn("cid", _nearest_centroid(F.col("v"), centroids))
        if divide_in_decimal:
            mean = (
                F.sum(F.col("x").cast(sum_decimal)) / F.count(F.lit(1))
            ).cast("double")
        else:
            mean = F.sum(F.col("x").cast(sum_decimal)).cast("double") / F.count(
                F.lit(1)
            )
        means = (
            assigned.select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(mean.alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r.cid, {})[r.pos] = r.m
        if keep_empty:
            centroids = [
                (cid, [by_cid[cid][p] for p in sorted(by_cid[cid])])
                if cid in by_cid
                else (cid, old)
                for cid, old in centroids
            ]
        else:
            centroids = [
                (cid, [vals[p] for p in sorted(vals)])
                for cid, vals in sorted(by_cid.items())
            ]
    return centroids


def train_ivf_centroids(
    corpus: DataFrame,
    num_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic mini k-means for IVF coarse quantization.

    Init: the ``num_centroids`` corpus vectors with the smallest
    ``xxhash64(id)`` (a seeded pseudo-random sample, reproducible with
    no stored model). Refine: ``iters`` Lloyd rounds where the new
    centroid is the elementwise mean of its assigned vectors, summed
    in ``decimal`` so the result is independent of partition/agg order
    (a plain double sum would make bucket assignments — and therefore
    ANN candidate sets — vary run to run).

    Driver state is only the C×dim centroid matrix (the model), never
    data rows; each Lloyd round is one distributed agg job.
    """
    e = spread(corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))).persist()
    try:
        seed_rows = (
            e.orderBy(F.xxhash64(F.col("id").cast("string")).asc(), F.col("id").asc())
            .limit(num_centroids)
            .collect()
        )
        centroids = [(i, [float(x) for x in r.v]) for i, r in enumerate(seed_rows)]
        return _lloyd_rounds(
            e,
            centroids,
            iters,
            sum_decimal="decimal(28,10)",
            divide_in_decimal=True,
            keep_empty=False,
        )
    finally:
        # unpersist in every exit path — the CacheManager never GCs
        e.unpersist()


def seed_ivf_centroids(
    corpus: DataFrame,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic seeding WITHOUT Lloyd refinement: the centroids
    are the ``num_centroids`` lowest-id corpus vectors (cid = rank by
    id). Lower quality than :func:`train_ivf_centroids` but fully
    auditable from SQL — the DuckDB oracle reproduces the exact same
    quantizer, so the whole IVF path gets a value-level correctness
    gate, not just a row count. Model state is C×dim, collected once.
    """
    rows = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(F.col("id").asc())
        .limit(num_centroids)
        .collect()
    )
    return [(i, [float(x) for x in r.v]) for i, r in enumerate(rows)]


def assign_ivf(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The *index build* half of IVF: corpus + ``cid`` (nearest
    centroid) + ``cn2`` (squared norm). Persist/write this once; every
    query then skips both training and assignment (`knn_ivf(...,
    assigned=...)`). At 100 TB this is the difference between a
    per-query corpus scan for assignment and a parquet column."""
    return spread(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    ).select(
        "neighbor_id",
        "cv",
        _nearest_centroid(F.col("cv"), centroids).alias("cid"),
        sq_norm(F.col("cv")).alias("cn2"),
    )


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    num_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    centroids: Optional[list[tuple[int, list[float]]]] = None,
    assigned: Optional[DataFrame] = None,
) -> DataFrame:
    """IVF approximate top-k: coarse quantizer, each corpus vector in
    exactly one centroid bucket; a query scores only the buckets of
    its ``n_probe`` nearest centroids (~n_probe/C of the corpus).
    Same output shape as knn_bruteforce; with
    ``n_probe == num_centroids`` it degrades to exact brute force.

    Training is SPLIT from the query path: pass ``centroids`` (from
    :func:`train_ivf_centroids` or :func:`seed_ivf_centroids`) to skip
    the k-means job, and ``assigned`` (a persisted
    :func:`assign_ivf` output) to skip the assignment scan too — the
    per-query work is then probe-select + bucket-join + score only.
    With neither given, trains ad hoc (exploratory use).

    Scale: the centroid matrix is the only broadcast state, and the
    probe join keys are small ints.
    """
    if assigned is not None and centroids is None:
        raise ValueError("assigned requires the matching centroids for probing")
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, num_centroids=num_centroids, iters=iters,
            id_col=id_col, vec_col=vec_col,
        )
    c = (
        assigned
        if assigned is not None
        else assign_ivf(corpus, centroids, id_col=id_col, vec_col=vec_col)
    )

    def probe_cids(vec: Column) -> Column:
        ranked = F.array_sort(
            F.array(
                *[
                    F.struct(
                        F.aggregate(
                            F.zip_with(
                                vec,
                                F.array(*[F.lit(float(x)) for x in cv]),
                                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                            ),
                            F.lit(0.0),
                            lambda acc, v: acc + v,
                        ).alias("d"),
                        F.lit(cid).alias("cid"),
                    )
                    for cid, cv in centroids
                ]
            )
        )
        return F.transform(F.slice(ranked, 1, n_probe), lambda s: s.getField("cid"))

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        sq_norm(F.col(vec_col)).alias("qn2"),
        F.explode(probe_cids(F.col(vec_col))).alias("cid"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score",
            dot_product(F.col("qv"), F.col("cv"))
            / F.sqrt(F.col("qn2") * F.col("cn2")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank")
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    num_planes: int = 8,
    multiprobe: bool = True,
    hash_family: str = "xxhash",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors whose hyperplane
    signature matches the query's bucket (or differs by one bit with
    multiprobe). Same output shape as knn_bruteforce; recall < 1 by
    construction — the point is scoring ~(1+b)/2^b of the corpus.
    ``hash_family='lcg'`` makes the bucketing DuckDB-reproducible
    (value-level oracle); 'xxhash' is the production default.
    """
    c = spread(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    ).select(
        "neighbor_id",
        "cv",
        hyperplane_signature(F.col("cv"), num_planes, hash_family).alias("bucket"),
        sq_norm(F.col("cv")).alias("cn2"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        hyperplane_signature(F.col(vec_col), num_planes, hash_family).alias("qbucket"),
        sq_norm(F.col(vec_col)).alias("qn2"),
    )
    if multiprobe:
        probes = F.array(
            F.col("qbucket"),
            *[
                F.col("qbucket").bitwiseXOR(F.lit(1 << i))
                for i in range(num_planes)
            ],
        )
        q = q.withColumn("bucket", F.explode(probes)).drop("qbucket")
    else:
        q = q.withColumnRenamed("qbucket", "bucket")
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score",
            dot_product(F.col("qv"), F.col("cv"))
            / F.sqrt(F.col("qn2") * F.col("cn2")),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank")
    )


def _seqfold_sq_l2_local(V, c):
    """Squared L2 of every row of float64 matrix *V* to center *c*,
    BIT-IDENTICAL to :func:`_l2_to_literal`'s sequential fold: the
    Spark expression squares each dimension's difference and folds
    ``acc + v`` in dimension order, so accumulating one vectorized
    ``acc += diff*diff`` per dimension performs the exact same IEEE
    double operations in the exact same order for every row."""
    import numpy as np

    acc = np.zeros(V.shape[0], dtype=np.float64)
    for j in range(V.shape[1]):
        d = V[:, j] - c[j]
        acc += d * d
    return acc


def kcenter_select(
    corpus: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    local_threshold: int = 100_000,
) -> DataFrame:
    """Greedy k-center (farthest-point-first) coreset selection
    (Gonzalez 1985 — the 2-approximation of the optimal k-center
    cover, and the standard diversity-maximizing baseline for data
    pruning): dedup removes REDUNDANCY; this picks maximally SPREAD
    exemplars — seed with the lowest-id vector (deterministic,
    model-free), then repeatedly take the vector FARTHEST from its
    nearest already-selected center (ties → lowest id). Returns
    ``(rank, id, dist)`` — ``dist`` is the L2 distance to the nearest
    previously-selected center at selection time (0 for the seed),
    which is also the k-center cover radius curve: ``dist`` at rank
    r+1 bounds how far ANY corpus vector is from the first r centers.

    Hybrid execution (r17 — the domain_pagerank / bpe_train_local
    discipline): a bounded ``limit(T+1)`` probe-collect decides in
    ONE job whether the (id, vec) frame fits the driver (default
    100k × dim doubles, order 100 MB with Row overhead); when it
    does, the whole greedy loop runs locally — the distributed loop
    costs 1 seed job + k−1 argmax jobs of pure scheduling overhead
    on a model-sized decision. Arithmetic is bit-identical
    (:func:`_seqfold_sq_l2_local` reproduces the sequential-fold
    squared-L2 expression operation-for-operation; the incremental
    ``min`` over centers equals the fold's ``array_min`` on doubles;
    argmax ties break to lowest id via the id-sorted scan), pinned by
    ``test_kcenter_local_matches_distributed``. Above the threshold
    the distributed loop below is unchanged.

    Scale shape (distributed path) — the :func:`train_ivf_centroids`
    discipline: driver state is the selected C×dim matrix
    (model-sized), each of the k−1 rounds is ONE narrow distance
    pass against the literal-broadcast centers plus a 1-row argmax
    collect (distributed take-ordered, never a corpus sort).
    Distances use the sequential-fold squared-L2 expression, so the
    DuckDB oracle replays every round argmax exactly."""
    spark = corpus.sparkSession
    slim = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    schema = StructType([
        StructField("rank", LongType()),
        StructField(id_col, slim.schema["id"].dataType),
        StructField("__dd", DoubleType()),
    ])

    def result(sel):
        # (rank-1, id, squared distance) picks -> (rank, id, dist); sqrt
        # and round as COLUMN expressions (the kmeans discipline) so
        # the rounding engine matches the oracle's, not Python's
        # banker's round
        return literal_relation(
            spark, [(rk + 1, _id, dd) for rk, _id, dd in sel], schema
        ).select("rank", id_col, F.round(F.sqrt("__dd"), 6).alias("dist"))

    probe = (
        slim.limit(local_threshold + 1).collect()
        if local_threshold and local_threshold > 0
        else None
    )
    if probe is not None and len(probe) <= local_threshold:
        import numpy as np

        if not probe:
            return result([])
        probe.sort(key=lambda r: r.id)
        ids = [r.id for r in probe]
        V = np.array(
            [[float(x) for x in r.v] for r in probe], dtype=np.float64
        )
        sel = [(0, ids[0], 0.0)]
        alive = np.ones(len(ids), dtype=bool)
        alive[0] = False
        dmin = _seqfold_sq_l2_local(V, V[0])
        for _ in range(k - 1):
            if not alive.any():
                break
            # farthest-first: max dmin among unselected, tie -> lowest
            # id. ids are sorted ascending, so the first occurrence of
            # the max (argmax semantics) IS the lowest-id tie winner —
            # exactly the distributed orderBy(dd desc, id asc) head.
            masked = np.where(alive, dmin, -np.inf)
            i = int(np.argmax(masked))
            sel.append((len(sel), ids[i], float(dmin[i])))
            alive[i] = False
            dmin = np.minimum(dmin, _seqfold_sq_l2_local(V, V[i]))
        return result(sel)
    e = spread(slim).persist()
    try:
        seed = e.orderBy(F.col("id").asc()).limit(1).collect()
        if not seed:
            return result([])
        selected = [(0, seed[0].id, [float(x) for x in seed[0].v], 0.0)]
        for _ in range(k - 1):
            cents = [(rk, v) for rk, _id, v, _d in selected]
            d = _nearest_centroid_struct(F.col("v"), cents).getField("d")
            got = (
                e.filter(~F.col("id").isin([i for _, i, _, _ in selected]))
                .select("id", "v", d.alias("dd"))
                .orderBy(F.col("dd").desc(), F.col("id").asc())
                .limit(1)
                .collect()
            )
            if not got:
                break
            r = got[0]
            selected.append(
                (len(selected), r.id, [float(x) for x in r.v], float(r.dd))
            )
        return result([(rk, _id, dd) for rk, _id, _v, dd in selected])
    finally:
        e.unpersist()


def _auto_planes(
    n: int, target_occupancy: int = 100, lo: int = 4, hi: int = 20,
) -> int:
    """Scale-adaptive LSH plane count: smallest P with expected bucket
    occupancy ``n / 2^P <= target_occupancy``, clamped to [lo, hi].

    Why (guide §2 — make partitioning scale-adaptive): at FIXED P the
    bucket self-join's candidate volume is Θ(n²/2^P) — the KNN_SCALE
    _PROBE measured exactly that law (sf1→sf2: 3.44× wall at 2× data
    with P=8). Growing P by one per corpus doubling keeps occupancy —
    and so candidates per query, (1+P)·occupancy — bounded, making
    total candidate volume O(n·P) = O(n log n). target_occupancy=100
    keeps the per-probe recall continuous with the measured default:
    at the sf1 density (20k vectors) auto picks P=8, the exact
    configuration ANN_RECALL_SF1.json measured at 0.71 recall@5."""
    m = (max(0, n) + target_occupancy - 1) // target_occupancy
    p = (m - 1).bit_length() if m > 0 else 0
    return max(lo, min(hi, p))


def knn_graph(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: Optional[int] = 8,
    multiprobe: bool = True,
    hash_family: str = "xxhash",
    max_bucket_occupancy: Optional[int] = 1000,
    drop_stats: Optional[dict] = None,
    multiprobe_radius: int = 1,
) -> DataFrame:
    """Approximate k-NN GRAPH over the whole corpus — every vector is
    its own query. This is the all-nodes sibling of :func:`knn_lsh`
    (which broadcasts a small query set) and the structure
    graph-based curation methods build first: SemDeDup-style
    cluster-free near-dup discovery, connected-component semantic
    clustering, and kNN-graph label propagation all start from
    exactly these edges.

    Shape: one signature pass, a bucket EQUI-self-join (no broadcast
    — both sides are the corpus; candidates are bounded by bucket
    occupancy, ~N/2^planes per bucket, times 1+planes with
    multiprobe), cosine on candidates only, then per-node top-k. The
    top-k ``row_number`` window partitions by the node id —
    corpus-cardinality, no skew — and Spark executes the rank filter
    with WindowGroupLimit (partial top-k before the shuffle), so no
    task ever holds more than a partition's candidates. Multi-probe
    buckets are pairwise-distinct values, so a (node, neighbor) pair
    can match at most one probe — no dedup pass needed.

    ``hash_family='lcg'`` makes the bucketing integer-exact for the
    DuckDB oracle (driver entry ``knn_graph``); 'xxhash' is the
    production default. Size ``num_planes`` so 2^planes tracks
    corpus_size / target_bucket_size, and ``multiprobe_radius`` for
    the recall target: radius r probes every bucket within Hamming
    distance r of the signature (1 + sum C(P, i) probes). The sf1
    recall report (ANN_RECALL_SF1.json) measures the trade-off at
    20k vectors: radius is the recall lever — it moves recall@5 far
    more than the occupancy guard — at a candidate-volume cost
    linear in the probe count.

    ``max_bucket_occupancy`` (ON by default) is the same degenerate-
    bucket guard the MinHash band join carries (``max_band_freq``):
    real web-scale embedding spaces have low-variance regions whose
    vectors all land in one signature bucket, and one bucket holding
    10^5 vectors makes the self-join quadratic (10^10 candidate rows)
    regardless of how ``num_planes`` was sized.

    The guard is DENSITY-ADAPTIVE REFINEMENT (r16 — the r8..r15
    whole-bucket drop excluded 53% of sf1 vectors from direct
    pairing, a recall cliff, VERDICT r15 directive 2): vectors in an
    over-cap bucket are sub-bucketed by ``e`` EXTRA hyperplanes from
    the same deterministic family (plane indices ``num_planes..``),
    where ``e`` is the smallest 1..8 with
    ``max_occupancy <= cap * 2^e`` — so expected sub-bucket size
    lands under the cap while angularly-close pairs stay together
    with probability ``(1 - θ/π)^e`` per extra plane (the Charikar
    collision bound; near-duplicates survive almost surely); the
    lowest candidate e gets +1 margin plane because real splits are
    uneven (the sf1 report measured 1239/1063 on a 2302 bucket).
    Non-hot buckets are untouched (their sub-bucket id is the bucket
    shifted). Sub-buckets STILL over the cap — reachable only by
    signature-indistinguishable masses (vectors no plane of the
    extended family separates) — fall to the STRATIFIED backstop:
    the mass is partitioned into ``ceil(n/cap)`` id-strata and pairs
    within strata only, so candidates stay bounded by the cap while
    every vector keeps direct edges (near-identical masses score any
    stratum-mate near-equally, so metric recall survives where the
    r8..r15 whole-bucket drop zeroed it).

    Pass a dict as ``drop_stats`` for the counts PROGRAMMATICALLY:
    ``refined_buckets`` / ``refined_vectors`` (over-cap buckets
    sub-bucketed and the vectors in them), ``extra_planes`` (e, 0
    when nothing was hot), and ``stratified_buckets`` /
    ``stratified_vectors`` (the backstop; 0 in all but degenerate
    spaces). ``max_bucket_occupancy=None`` keeps exact-LSH behavior.

    ``num_planes=None`` (r17) derives P from the corpus size via
    :func:`_auto_planes` — one column-pruned ``count()`` job, then
    the smallest P keeping expected occupancy ≤ 100. The
    KNN_SCALE_PROBE measured why fixed P cannot scale: candidate
    volume is Θ(n²/2^P), i.e. 3.44× wall at 2× data (sf1→sf2, P=8),
    and the auto path restores ~linear growth. Declared oracle
    entries pin ``num_planes=8`` explicitly, so their results are
    unchanged.

    Radius default DECISION (r17, closes the r16 question): stays
    ``multiprobe_radius=1``. Measured at two densities
    (KNN_SCALE_PROBE.json), radius 2 costs 2.1–2.4× wall at every
    scale (sf1: 16.1→34.4 s, sf2: 55.4→134.4 s) for the 0.71 → 0.92
    recall@5 gain ANN_RECALL_SF1.json measured; recall-sensitive
    callers opt in per call, the default keeps the graph build
    affordable at corpus scale.
    """
    if num_planes is None:
        num_planes = _auto_planes(corpus.count())
        if drop_stats is not None:
            # recorded only on the auto path — explicit callers
            # already know P, and the stats dict is pinned exactly by
            # the cap tests
            drop_stats["num_planes"] = int(num_planes)
    base = spread(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    ).select(
        "id",
        "v",
        hyperplane_signature(F.col("v"), num_planes, hash_family).alias("bucket"),
        sq_norm(F.col("v")).alias("n2"),
    ).persist()
    left = base.select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"),
        F.col("n2").alias("qn2"), "bucket",
    )
    if multiprobe:
        # radius-r probing: flip every subset of up to r signature
        # bits. r=1 (default) is the classic 1+P fan-out; r=2 adds
        # C(P,2) probes — the recall/cost lever at FIXED num_planes
        # (ANN_RECALL_SF1.json: radius drives recall far more than
        # the occupancy guard does). Probe sets are pairwise-distinct
        # values, so pair dedup stays unnecessary at any radius.
        from itertools import combinations

        masks = [0] + [
            sum(1 << i for i in c)
            for r in range(1, max(1, int(multiprobe_radius)) + 1)
            for c in combinations(range(num_planes), r)
        ]
        probes = F.array(
            *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks],
        )
        left = left.withColumn("bucket", F.explode(probes))
    right = base.select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv"),
        F.col("n2").alias("cn2"), "bucket",
    )
    cached = [base]
    join_keys = ["bucket"]
    if max_bucket_occupancy is not None:
        # hot-key list is bounded by 2^num_planes distinct buckets; the
        # stats roll up to ONE row, so the guard's driver cost is one
        # tiny aggregation over the (already needed) persisted base
        hot = (
            base.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") > max_bucket_occupancy)
            .persist()
        )
        cached.append(hot)
        stats = hot.agg(
            F.count(F.lit(1)).alias("nb"),
            F.coalesce(F.sum("__bn"), F.lit(0)).alias("nd"),
            F.coalesce(F.max("__bn"), F.lit(0)).alias("mx"),
        ).collect()[0]
        # e: (smallest i >= 0 with max_occupancy <= cap * 2^i) + 1
        # margin plane, capped at 8 — INTEGER comparisons only, so the
        # DuckDB oracle derives the identical e without float log2
        # edge cases. The margin absorbs uneven splits: the sf1 report
        # measured a 2302-vector bucket splitting 1239/1063 under the
        # no-margin e=1, leaving one side above cap and in the drop
        # backstop (ANN_RECALL_SF1.json, pre-margin run)
        e = min(8, 1 + next(
            (i for i in range(0, 8)
             if int(stats["mx"]) <= max_bucket_occupancy << i), 7,
        )) if stats["nb"] else 0
        if drop_stats is not None:
            drop_stats["refined_buckets"] = int(stats["nb"])
            drop_stats["refined_vectors"] = int(stats["nd"])
            drop_stats["extra_planes"] = e
        if stats["nb"]:
            _LOG.warning(
                "knn_graph: refining %d over-occupancy bucket(s) holding "
                "%d vectors (max_bucket_occupancy=%d) with %d extra "
                "plane(s) before the self-join",
                stats["nb"], stats["nd"], max_bucket_occupancy, e,
            )
        hot_keys = F.broadcast(
            hot.select("bucket", F.lit(True).alias("__hot")))

        def refine(df, vec_col_name):
            # sub-bucket id = bucket << e | (hot ? e-plane refinement
            # signature : 0): non-hot buckets shift as ONE bucket; hot
            # buckets split into 2^e angular sub-buckets. The
            # signature is evaluated ONLY on hot rows (lazy CASE
            # branch) — cold rows pay the shift, nothing else.
            # Applied AFTER the multiprobe explode on the left side:
            # probes INTO a hot bucket are refined by the prober's own
            # signature, so both sides agree iff their extra planes do
            sub = F.when(
                F.col("__hot"),
                hyperplane_signature(
                    F.col(vec_col_name), max(e, 1), hash_family,
                    plane_offset=num_planes),
            ).otherwise(F.lit(0))
            return (
                df.join(hot_keys, "bucket", "left")
                .withColumn(
                    "bucket",
                    F.shiftleft(F.col("bucket"), e) + sub)
                .drop("__hot")
            )

        if stats["nb"]:
            left = refine(left, "qv")
            right = refine(right, "cv")
            # backstop occupancy check: sub-buckets still over the
            # cap after refinement, measured on each vector's HOME
            # sub-bucket (the right side). Skipped entirely — along
            # with the refinement join itself — when nothing was hot,
            # so the cold path costs exactly what it did
            # pre-refinement.
            rhot = (
                right.groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("__rn"))
                .filter(F.col("__rn") > max_bucket_occupancy)
                .persist()
            )
            cached.append(rhot)
            rstats = rhot.agg(
                F.count(F.lit(1)).alias("nb"),
                F.coalesce(F.sum("__rn"), F.lit(0)).alias("nd"),
            ).collect()[0]
            if drop_stats is not None:
                drop_stats["stratified_buckets"] = int(rstats["nb"])
                drop_stats["stratified_vectors"] = int(rstats["nd"])
            if rstats["nb"]:
                # STRATIFIED backstop (r16, replaces the drop): a
                # sub-bucket still over cap after refinement holds
                # vectors the extended plane family cannot separate —
                # a near-identical mass. Partition it into
                # s = ceil(n / cap) id-strata and pair WITHIN strata:
                # candidates stay <= cap per vector, and because the
                # mass is near-identical, any stratum-mate is a
                # near-equally-scoring neighbor — bounded cost without
                # excluding anyone (the r8..r15 drop zeroed these
                # vectors' direct edges). Integer arithmetic
                # ((n + cap - 1) div cap, id mod s) so the DuckDB
                # oracle replays the strata exactly. s-map is
                # over-cap-bucket-keyed: <= 2^(P+e) rows, broadcast.
                _LOG.warning(
                    "knn_graph: stratifying %d signature-degenerate "
                    "sub-bucket(s) holding %d vectors after refinement "
                    "(in-bucket id-strata pairing, candidates <= cap)",
                    rstats["nb"], rstats["nd"],
                )
                cap_l = F.lit(int(max_bucket_occupancy)).cast("long")
                smap = F.broadcast(rhot.select(
                    "bucket",
                    ((F.col("__rn") + cap_l - F.lit(1)) / cap_l)
                    .cast("long").alias("__s"),
                ))
                left = left.join(smap, "bucket", "left").withColumn(
                    "__st",
                    F.col("query_id") % F.coalesce(F.col("__s"), F.lit(1)),
                ).drop("__s")
                right = right.join(smap, "bucket", "left").withColumn(
                    "__st",
                    F.col("neighbor_id")
                    % F.coalesce(F.col("__s"), F.lit(1)),
                ).drop("__s")
                join_keys = ["bucket", "__st"]
        elif drop_stats is not None:
            drop_stats["stratified_buckets"] = 0
            drop_stats["stratified_vectors"] = 0
    else:
        if drop_stats is not None:
            drop_stats["refined_buckets"] = 0
            drop_stats["refined_vectors"] = 0
            drop_stats["extra_planes"] = 0
            drop_stats["stratified_buckets"] = 0
            drop_stats["stratified_vectors"] = 0
    scored = (
        left.join(right, join_keys)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score",
            dot_product(F.col("qv"), F.col("cv"))
            / F.sqrt(F.col("qn2") * F.col("cn2")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank"
        )
    )
    return finalize_cached(out, *cached)


def semantic_clusters(
    corpus: DataFrame,
    k: int = 5,
    min_score: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: Optional[int] = 8,
    multiprobe: bool = True,
    hash_family: str = "xxhash",
    max_bucket_occupancy: Optional[int] = 1000,
    drop_stats: Optional[dict] = None,
) -> DataFrame:
    """Cluster-count-free semantic clustering: connected components
    of the MUTUAL k-NN graph at cosine >= ``min_score``. The
    graph-based alternative to :func:`kmeans_embeddings` /
    :func:`semantic_dedup` when the number of clusters is unknown —
    mutual-kNN edges (both endpoints rank each other top-k) are the
    standard symmetrization that keeps hub vectors from fusing
    unrelated clusters, and the component label is the min member id
    (deterministic, order-free).

    Shape: :func:`knn_graph` builds the edge set (bucketed self-join,
    output-sized); the mutuality check is a self-join of that
    edge set against itself (edge-sized, never corpus-sized);
    components run through the same large-star/small-star contraction
    as text dedup (:func:`~toshokan_spark.operators.dedup.
    duplicate_clusters` — O(log d) rounds, driver union-find finish
    only under a measured edge-count gate). Vectors with no
    qualifying mutual edge are their own singleton clusters via a
    left join — every corpus row appears exactly once."""
    from toshokan_spark.operators.dedup import duplicate_clusters

    g = knn_graph(
        corpus, k, id_col=id_col, vec_col=vec_col, num_planes=num_planes,
        multiprobe=multiprobe, hash_family=hash_family,
        max_bucket_occupancy=max_bucket_occupancy, drop_stats=drop_stats,
    ).filter(F.col("score") >= min_score)
    a, b = g.alias("a"), g.alias("b")
    mutual = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.neighbor_id"))
            & (F.col("a.neighbor_id") == F.col("b.query_id"))
            & (F.col("a.query_id") < F.col("a.neighbor_id")),
        )
        .select(
            F.col("a.query_id").alias("a_id"),
            F.col("a.neighbor_id").alias("b_id"),
        )
    )
    labels = duplicate_clusters(mutual)
    return (
        corpus.select(F.col(id_col))
        .join(
            labels.withColumnRenamed("doc_id", id_col), id_col, "left"
        )
        .select(
            id_col,
            F.coalesce(F.col("cluster_id"), F.col(id_col))
            .cast("long")
            .alias("cluster_id"),
        )
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication in embedding space — cluster with the IVF coarse
    quantizer, then inside each cluster drop every vector whose cosine
    to a LOWER-ID cluster-mate reaches ``threshold``. Returns the KEPT
    rows as (id_col, cid); dropped ids are exactly those with a
    lower-id θ-neighbor, so the survivor set is deterministic (the
    minimum of each within-cluster duplicate chain survives — the
    paper keeps the lowest-centroid-similarity member; min-id is the
    order-free analog).

    Scale shape: assignment is one narrow pass against the broadcast
    C×dim model (:func:`assign_ivf` — persist/write it once and pass
    precomputed work through there at 100 TB); the only quadratic
    step is the within-cluster self-join, which is the SemDeDup
    design point — ``num_centroids`` must scale like
    corpus_size / target_cluster_size (the paper uses 50k clusters
    for LAION) so clusters stay small enough to pair off. Cosines
    use the sequential-fold expression for oracle bit-parity.
    """
    assigned = spread(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    ).select(
        "id",
        "v",
        _nearest_centroid(F.col("v"), centroids).alias("cid"),
        sq_norm(F.col("v")).alias("n2"),
    ).persist()
    a = assigned.select(
        F.col("id").alias("a_id"), F.col("v").alias("av"),
        "cid", F.col("n2").alias("an2"),
    )
    b = assigned.select(
        F.col("id").alias("b_id"), F.col("v").alias("bv"),
        F.col("cid").alias("bcid"), F.col("n2").alias("bn2"),
    )
    cos = dot_product(F.col("av"), F.col("bv")) / F.sqrt(
        F.col("an2") * F.col("bn2")
    )
    dropped = (
        a.join(b, (F.col("cid") == F.col("bcid")) & (F.col("a_id") < F.col("b_id")))
        .where(cos >= threshold)
        .select(F.col("b_id").alias("id"))
        .distinct()
    )
    from toshokan_spark.operators.util import finalize_cached

    kept = assigned.join(dropped, "id", "left_anti").select(
        F.col("id").alias(id_col), "cid"
    )
    return finalize_cached(kept, assigned)


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/transport
    compression step for embedding columns (4 bytes/dim -> 1): scale =
    max|x| / 127, q_i = floor(x_i / scale + 0.5) in [-127, 127]
    (round-half-toward-+inf: engines disagree on .5 ties under their
    native round(), floor(+0.5) is IEEE-identical everywhere). Returns
    (id, scale, qvec array<int>); an all-zero vector quantizes to
    zeros with scale 0. Dequantize as q_i * scale with max abs error
    scale/2.

    One narrow per-row HOF projection (no shuffle, no UDF); every
    arithmetic step is a deterministic double-precision expression the
    DuckDB oracle reproduces bit-for-bit. |x_i/scale| <= 127 by
    construction, so no clamp is needed. The scale is STAGED as a
    projected column before the qvec transform (HOF lambdas get no
    subexpression elimination — inlining amax would recompute it per
    element)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    # the staged raw scale must NOT share a name with the rounded
    # output column: Spark's lateral column alias resolution would
    # make the qvec transform divide by the ROUNDED value
    staged = df.select(
        F.col(id_col).alias("id"),
        v.alias(vec_col),
        (amax / F.lit(127.0)).alias("__scale"),
    )
    return staged.select(
        F.col("id").alias(id_col),
        F.round(F.col("__scale"), 6).alias("scale"),
        F.when(
            F.col("__scale") == 0,
            F.transform(F.col(vec_col), lambda x: F.lit(0)),
        )
        .otherwise(
            F.transform(
                F.col(vec_col),
                lambda x: F.floor(x / F.col("__scale") + F.lit(0.5)).cast("int"),
            )
        )
        .alias("qvec"),
    )


def kmeans_embeddings(
    emb: DataFrame,
    num_centroids: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """VALUE-ORACLED Lloyd k-means — the iterative-algorithm shape
    (assign -> decimal-exact mean -> reassign) with every step
    reproducible from SQL: seeds are the ``num_centroids`` lowest-id
    vectors (:func:`seed_ivf_centroids`), each of the ``iterations``
    update rounds recomputes per-(cid, dim) means as
    ``sum(decimal(38,18))::double / count`` (exact, partition-order
    independent), and the output is the assignment under the FINAL
    centroids: ``(vec_id, cid, dist)`` with dist = sqrt of the
    sequential-fold squared L2, rounded 6.

    An empty cluster keeps its previous centroid (the standard Lloyd
    carry) — mirrored by the oracle's LEFT JOIN + count guard.

    Scale: model state is O(C x dim) through the driver per round
    (the means COLLECT is centroid-count-sized, never corpus-sized);
    each round is one narrow assignment pass plus one (cid, dim)-
    keyed aggregation of slim exploded rows — the same skeleton as
    :func:`train_ivf_centroids`, which remains the production
    trainer (xxhash-seeded sampling beats lowest-id seeding on
    quality; this operator trades that for full SQL auditability).
    """
    cents = seed_ivf_centroids(emb, num_centroids, id_col, vec_col)
    e = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).persist()
    try:
        cents = _lloyd_rounds(
            e,
            cents,
            iterations,
            sum_decimal="decimal(38,18)",
            divide_in_decimal=False,
            keep_empty=True,
        )
        best = _nearest_centroid_struct(F.col("v"), cents)
        return e.select(
            F.col("id").alias(id_col),
            best.getField("cid").cast("long").alias("cid"),
            F.round(F.sqrt(best.getField("d")), 6).alias("dist"),
        )
    finally:
        e.unpersist()


def knn_recall_report(
    approx: DataFrame, exact: DataFrame, k: int = 5
) -> DataFrame:
    """Recall@k of an ANN result against exact ground truth — the
    sign-off metric for every approximate index before it replaces
    brute force (pairs with :func:`~toshokan_spark.operators.dedup.
    minhash_calibration_pairs` as the suite's estimator-audit tools).
    Both inputs are ``(query_id, neighbor_id, ...)`` frames in the
    ``knn_*`` output shape at the same k. Returns per-query
    ``(query_id, n_hits, recall)`` — aggregate with a plain mean for
    the headline number; queries the approx index missed entirely
    still appear with recall 0.

    Shape: one query-keyed equi-join of two k-row-per-query lists —
    both sides are output-sized (|queries| x k), never corpus-sized,
    so the report costs nothing next to the searches it scores."""
    a = approx.select("query_id", "neighbor_id")
    e = exact.select("query_id", "neighbor_id")
    hits = (
        a.join(e, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    qs = e.select("query_id").distinct()
    n = F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        n.alias("n_hits"),
        F.round(n / F.lit(float(k)), 6).alias("recall"),
    )


def _first_moments(
    emb: DataFrame, vec_col: str = "embedding"
) -> "tuple[list[float], int]":
    """Per-dimension decimal-exact sums (collected as correctly-
    rounded doubles) and the vector count, in ONE narrow posexplode
    pass — the D-sized frame both :func:`embedding_covariance` and
    :func:`fit_pca` consume (shared so a fit costs one moments pass,
    not two)."""
    rows = (
        emb.where(F.col(vec_col).isNotNull())
        .select(F.posexplode(F.col(vec_col)).alias("i", "x"))
        .groupBy("i")
        .agg(
            F.sum(F.col("x").cast("double").cast("decimal(38,12)")).alias(
                "s1"
            ),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
        .collect()
    )
    if not rows:
        return [], 0
    dim = max(r["i"] for r in rows) + 1
    s1 = [0.0] * dim
    n = 0
    # ragged input (short vectors, dimension gaps) would make the
    # per-dimension counts differ and silently skew every downstream
    # mean/covariance against the dimension-0 count — fail loudly
    # instead (ADVICE r9)
    counts = {r["i"]: r["cnt"] for r in rows}
    if len(counts) != dim or len(set(counts.values())) != 1:
        raise ValueError(
            f"ragged {vec_col!r} vectors: per-dimension counts "
            f"{sorted(set(counts.values()))} over {len(counts)} of "
            f"{dim} dimensions — every vector must have the same length"
        )
    for r in rows:
        s1[r["i"]] = float(r["s1"])  # correctly-rounded decimal→double
        if r["i"] == 0:
            n = r["cnt"]
    return s1, n


def embedding_covariance(
    emb: DataFrame,
    vec_col: str = "embedding",
    first_moments: "Optional[tuple[list[float], int]]" = None,
) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding space —
    ``(i, j, cov)`` rows for i <= j, the input to PCA / whitening /
    ZCA and the drift-monitoring second moment.

    Shape: the cross moments come from ONE narrow pass that explodes
    each row into its own D(D+1)/2 within-row products (a nested
    ``transform`` over the vector and its tail slice — no self-join,
    no id shuffle), partial-aggregated to a D²/2-sized frame. The
    FIRST moments are model-sized by construction (D rows), so they
    are collected driver-side (one posexplode pass; the vector count
    rides it as the dim-0 count) and re-enter the pair combine as an
    indexed LITERAL array — the returned plan is a single corpus scan
    with no join at all. Moment sums fold through decimal(38,12)
    (products computed in IEEE double first), so the matrix is
    partition-order-free and a SQL oracle reproduces it bit-for-bit
    (decimal→double collection is the same correctly-rounded cast the
    in-plan version would apply); covariance derives per pair as
    E[xy] − E[x]E[y] in double.

    Scale: the shuffle carries D²/2 × partitions partial rows — model
    -sized, never corpus-sized. The per-row explode is O(D²) compute
    per vector, the same work any Gram accumulation does; D=1k ⇒ 500k
    structs per row, so for very wide embeddings use
    :func:`embedding_covariance_scaled` (mapInPandas Gram blocks) and
    accept double accumulation (documented trade; this exact path is
    the oracle)."""
    v = F.col(vec_col)
    # spread(): the O(D²)-per-row pair explode is narrow — a small
    # parquet arrives as ONE split and would serialize on one core
    rows = spread(emb.where(v.isNotNull()).select(v.alias("__v")))
    s1, n = (
        first_moments
        if first_moments is not None
        else _first_moments(emb, vec_col)
    )
    if n == 0:
        return emb.sparkSession.createDataFrame(
            [], "i int, j int, cov double"
        )
    s1_arr = F.array(*[F.lit(x) for x in s1])
    nd = F.lit(float(n))
    pairs = rows.select(
        F.explode(
            F.expr(
                "flatten(transform(__v, (xi, i) -> "
                "transform(slice(__v, i + 1, size(__v) - i), (xj, dj) -> "
                "struct(i AS i, i + dj AS j, "
                "CAST(xi AS DOUBLE) * CAST(xj AS DOUBLE) AS p))))"
            )
        ).alias("s")
    ).select("s.i", "s.j", "s.p")
    return (
        pairs.groupBy("i", "j")
        .agg(F.sum(F.col("p").cast("decimal(38,12)")).alias("s2"))
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            (
                F.round(
                    F.col("s2").cast("double") / nd
                    - (F.element_at(s1_arr, F.col("i") + 1) / nd)
                    * (F.element_at(s1_arr, F.col("j") + 1) / nd),
                    6,
                )
                + F.lit(0.0)  # -0.0 -> +0.0 (engine-agnostic zero)
            ).alias("cov"),
        )
    )


def fit_pca(
    emb: DataFrame, k: int, vec_col: str = "embedding",
    scaled: bool = False,
) -> dict:
    """Train a PCA model: the covariance matrix comes from the
    distributed decimal-exact pass (:func:`embedding_covariance` plus
    the matching mean pass), the eigendecomposition runs DRIVER-LOCAL
    on the collected D×D matrix — model-sized by construction, the
    same split as k-means (distributed moments, driver-side solve)
    and the standard practice for D ≤ a few thousand.

    Sign convention (eigenvectors are sign-ambiguous): each component
    is flipped so its largest-|w| entry is positive — deterministic,
    so two fits of the same corpus agree exactly.

    ``scaled=True`` swaps in :func:`embedding_covariance_scaled`
    (the wide-embedding Gram path — same matrix to double rounding).

    Returns ``{"mean": [D], "components": [k][D] (rows, eigval-desc),
    "eigvals": [k]}`` — plain lists, ready to broadcast as literals
    into :func:`pca_project`."""
    import numpy as np

    # ONE moments pass feeds both the covariance and the projection
    # means (the exact path re-uses it outright; the Gram path only
    # needs the means)
    s1, n = _first_moments(emb, vec_col)
    if scaled:
        cov_rows = embedding_covariance_scaled(emb, vec_col).collect()
    else:
        cov_rows = embedding_covariance(
            emb, vec_col, first_moments=(s1, n)
        ).collect()
    dim = max(r["j"] for r in cov_rows) + 1
    cov = np.zeros((dim, dim))
    for r in cov_rows:
        cov[r["i"], r["j"]] = cov[r["j"], r["i"]] = r["cov"]
    mean = [x / n for x in s1]
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for c in order:
        w = vecs[:, c]
        pivot = int(np.argmax(np.abs(w)))
        if w[pivot] < 0:
            w = -w
        comps.append([float(x) for x in w])
    return {
        "mean": mean,
        "components": comps,
        "eigvals": [float(vals[c]) for c in order],
    }


def pca_project(
    emb: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    whiten: bool = False,
    out_prefix: str = "pc",
) -> DataFrame:
    """Project every vector onto the fitted components (columns
    ``pc0..pc{k-1}``, eigval-desc) — the dimensionality-reduction /
    decorrelation step before clustering, dedup bucketing, or
    visualization; ``whiten=True`` scales each coordinate by
    1/sqrt(eigval) to unit variance.

    The model rides into the plan as LITERAL arrays (model-sized,
    k×D doubles): per row the projection is k zip_with/aggregate dot
    products minus the constant mean dot — pure narrow codegen'd
    Column algebra, no shuffle, no UDF, exactly the broadcast-matmul
    shape a 100 TB projection wants."""
    import math

    cols = [F.col(id_col)]
    x = F.col(vec_col)
    for c, (w, ev) in enumerate(zip(model["components"], model["eigvals"])):
        lit_w = F.array(*[F.lit(float(v)) for v in w])
        mean_dot = sum(m * v for m, v in zip(model["mean"], w))
        proj = (
            F.aggregate(
                F.zip_with(x, lit_w, lambda a, b: a.cast("double") * b),
                F.lit(0.0),
                lambda acc, p: acc + p,
            )
            - F.lit(float(mean_dot))
        )
        if whiten:
            proj = proj / F.lit(math.sqrt(max(ev, 1e-30)))
        cols.append(proj.alias(f"{out_prefix}{c}"))
    return emb.where(x.isNotNull()).select(*cols)


def embedding_covariance_scaled(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Wide-embedding scale mode of :func:`embedding_covariance`: each
    Arrow batch contributes ONE D×D Gram block (numpy ``X.T @ X``) and
    one mean/count block, emitted as D(D+1)/2 partial rows — output is
    partitions × D²/2, with no per-row D² explode, so D = 1k–4k
    embeddings (where the exact path's 0.5–8M structs per row stop
    making sense) stay one narrow pass + a model-sized combine.

    The trade (documented on the exact path): partials accumulate in
    float64 inside numpy, so the result is exact only to double
    rounding (≈1e-12 relative) and bitwise-stable only for a fixed
    partitioning — use the exact path when an oracle or cross-run
    hash must agree; use this at corpus scale. A tolerance test pins
    the two paths together."""
    import pandas as pd  # noqa: F401 (mapInPandas contract)

    from pyspark.sql import types as T

    partial_schema = T.StructType([
        T.StructField("i", T.IntegerType()),
        T.StructField("j", T.IntegerType()),
        T.StructField("s2", T.DoubleType()),   # sum x_i x_j
        T.StructField("s1i", T.DoubleType()),  # sum x_i (for this i)
        T.StructField("s1j", T.DoubleType()),  # sum x_j
        T.StructField("n", T.LongType()),
    ])

    def gram(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            vecs = [v for v in pdf[vec_col] if v is not None]
            if not vecs:
                continue
            X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
            G = X.T @ X
            s1 = X.sum(axis=0)
            d = X.shape[1]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame({
                "i": iu.astype("int32"),
                "j": ju.astype("int32"),
                "s2": G[iu, ju],
                "s1i": s1[iu],
                "s1j": s1[ju],
                "n": np.full(len(iu), X.shape[0], dtype="int64"),
            })

    part = emb.select(vec_col).mapInPandas(gram, schema=partial_schema)
    nd = F.col("n")
    return (
        part.groupBy("i", "j")
        .agg(
            F.sum("s2").alias("s2"),
            F.sum("s1i").alias("s1i"),
            F.sum("s1j").alias("s1j"),
            F.sum("n").alias("n"),
        )
        .select(
            "i",
            "j",
            (
                F.col("s2") / nd
                - (F.col("s1i") / nd) * (F.col("s1j") / nd)
            ).alias("cov"),
        )
    )


def bitext_margin_pairs(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix parallel-corpus recipe): each source vector's best
    cross-set match is kept when its RATIO MARGIN beats *threshold* —
    cos(x,y) divided by the mean of the two sides' average top-k
    neighborhoods, so a pair only survives if it is closer than its
    local density predicts (raw cosine thresholds fail exactly where
    hubs make everything look close).

    Built on two :func:`knn_bruteforce` passes (src→tgt, tgt→src),
    so the corpus sides stay un-shuffled under broadcast queries and
    every downstream frame is top-k-aggregate-sized (one row per
    vector, then one per candidate pair). Forward strategy: candidates
    are the src side's rank-1 matches. Determinism: neighborhood
    averages fold the ROUNDED knn scores through decimal(38,12)
    (order-free) and divide in double, so an oracle repeating the
    formula agrees bit-for-bit.

    Scale: swap the brute-force passes for :func:`knn_ivf` /
    :func:`knn_lsh` candidates — the margin algebra is unchanged."""
    fwd = knn_bruteforce(
        tgt, src, k=k, id_col=id_col, vec_col=vec_col, query_id_col=id_col
    )
    bwd = knn_bruteforce(
        src, tgt, k=k, id_col=id_col, vec_col=vec_col, query_id_col=id_col
    )
    sdec = F.sum(F.col("score").cast("decimal(38,12)")).cast("double")
    cand = fwd.groupBy("query_id").agg(
        (sdec / F.count(F.lit(1))).alias("ax"),
        F.max(F.when(F.col("rank") == 1, F.col("neighbor_id"))).alias(
            "tgt_id"
        ),
        F.max(F.when(F.col("rank") == 1, F.col("score"))).alias("cos"),
    )
    nb = bwd.groupBy("query_id").agg(
        (sdec / F.count(F.lit(1))).alias("ay")
    ).withColumnRenamed("query_id", "__t")
    out = (
        cand.join(nb, F.col("tgt_id") == F.col("__t"))
        .select(
            F.col("query_id").alias("src_id"),
            "tgt_id",
            "cos",
            F.round(
                F.col("cos") / ((F.col("ax") + F.col("ay")) / F.lit(2.0)), 6
            ).alias("margin"),
        )
        .where(F.col("margin") > threshold)
    )
    return out


def pq_codebook(
    corpus: DataFrame,
    m_subspaces: int = 4,
    n_codewords: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "list[list[list[float]]]":
    """The deterministic PQ codebook :func:`knn_pq` trains —
    ``cw[m][j]`` = codeword ``j``'s subvector in subspace ``m`` (the
    subvectors of the ``n_codewords`` lowest-id corpus vectors; see
    knn_pq's docstring for why that sample is the oracle-provable
    stand-in for a k-means fit). Model-sized driver state."""
    first = corpus.orderBy(F.col(id_col).asc()).limit(n_codewords)
    cb_rows = [list(r[0]) for r in first.select(vec_col).collect()]
    if len(cb_rows) < n_codewords:
        raise ValueError(
            f"corpus has {len(cb_rows)} vectors < n_codewords={n_codewords}"
        )
    dim = len(cb_rows[0])
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by {m_subspaces} subspaces")
    sub = dim // m_subspaces
    return [
        [row[m * sub:(m + 1) * sub] for row in cb_rows]
        for m in range(m_subspaces)
    ]


def pq_encode(
    corpus: DataFrame,
    codebook: "list[list[list[float]]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """INDEX-TIME PQ encoding — the persisted-codes half of the
    100 TB story knn_pq's docstring promises: reduce every vector to
    ``(id, code_0..code_{M-1})`` (M small ints ≈ 16 bytes vs 256 for
    a float64[64]), written once at index time so query-time scans
    read codes, never vectors. One corpus scan, per-row column
    algebra (the codebook enters as folded literals), no shuffle.
    Ties in the per-subspace argmin break to the smallest codeword
    id — identical to knn_pq's inline encode, so scoring persisted
    codes reproduces its results exactly."""
    m_subspaces = len(codebook)
    sub = len(codebook[0][0])
    n_codewords = len(codebook[0])
    cols = [F.col(id_col).alias("vec_id")]
    for m in range(m_subspaces):
        csub_sql = f"slice(`{vec_col}`, {m * sub + 1}, {sub})"
        cols.append(
            F.expr(_argmin_code_sql(csub_sql, codebook[m]))
            .alias(f"code_{m}")
        )
    return spread(corpus.select(id_col, vec_col)).select(*cols)


def knn_pq_from_codes(
    codes: DataFrame,
    codebook: "list[list[list[float]]]",
    query_vec: "list[float]",
    k: int = 10,
) -> DataFrame:
    """QUERY-TIME ADC scoring over a PERSISTED codes table: the
    query-to-codeword look-up table is M×K floats computed
    driver-side and folded into the plan as literals, so the whole
    query is ONE scan of the 16-byte-per-vector codes column + a
    distributed TakeOrdered — no vector is ever read, no shuffle, no
    join. Same (adc_dist, vec_id) total order as :func:`knn_pq`."""
    m_subspaces = len(codebook)
    n_codewords = len(codebook[0])
    sub = len(codebook[0][0])
    lut = [
        [
            sum(
                (query_vec[m * sub + t] - codebook[m][jj][t]) ** 2
                for t in range(sub)
            )
            for jj in range(n_codewords)
        ]
        for m in range(m_subspaces)
    ]
    score = None
    for m in range(m_subspaces):
        term = F.element_at(
            F.array(*[F.lit(float(v)) for v in lut[m]]),
            F.col(f"code_{m}") + 1,
        )
        score = term if score is None else score + term
    # withColumn, not a fixed select: the codes table may carry index
    # metadata beyond the codes (IVF's cid bucket column) that the
    # caller wants back in the page
    scored = codes.withColumn("adc_dist", F.round(score, 6))
    w = Window.orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
    return (
        scored.orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


def knn_ivf_pq(
    corpus: DataFrame,
    query_id: int,
    k: int = 10,
    num_centroids: int = 8,
    n_probe: int = 2,
    m_subspaces: int = 4,
    n_codewords: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "Optional[list[tuple[int, list[float]]]]" = None,
    codebook: "Optional[list[list[list[float]]]]" = None,
    codes: "Optional[DataFrame]" = None,
) -> DataFrame:
    """IVF-PQ — the composed FAISS index shape (Jégou et al. 2011
    §IV): a coarse IVF quantizer narrows the search to the query's
    ``n_probe`` nearest buckets, and inside them vectors are scored
    from their PQ codes by asymmetric distance. Both halves already
    exist here (:func:`knn_ivf`, :func:`knn_pq`); this composes them
    on the PERSISTED-index layout: ``codes`` is the
    ``(vec_id, cid, code_0..M-1)`` table an index build lays down
    once (pass it to skip the build; built ad hoc otherwise from the
    deterministic seeded centroids/codebook so the oracle replays
    everything).

    Scale: the query collects one vector (1-row probe), picks probe
    buckets and builds the M×K look-up table DRIVER-SIDE against the
    model-sized centroid/codebook literals, then runs ONE scan of the
    codes table filtered to ``cid IN probes`` — with the codes table
    partitioned by ``cid``, that filter is directory pruning, so a
    query touches ~n_probe/C of a 16-byte-per-vector column and ends
    in a distributed TakeOrdered. No join, no shuffle, no vector
    read."""
    if centroids is None:
        centroids = seed_ivf_centroids(corpus, num_centroids=num_centroids,
                                       id_col=id_col, vec_col=vec_col)
    if codebook is None:
        codebook = pq_codebook(corpus, m_subspaces=m_subspaces,
                               n_codewords=n_codewords,
                               id_col=id_col, vec_col=vec_col)
    rest = corpus.filter(F.col(id_col) != query_id)
    if codes is None:
        assigned = assign_ivf(rest, centroids, id_col=id_col,
                              vec_col=vec_col)
        codes = pq_encode(rest, codebook, id_col=id_col,
                          vec_col=vec_col).join(
            assigned.select(
                F.col("neighbor_id").alias("vec_id"), "cid"
            ),
            "vec_id",
        )
    qvec = [
        float(x)
        for x in corpus.filter(F.col(id_col) == query_id)
        .select(vec_col)
        .first()[0]
    ]
    # driver-side probe pick: the same 0.0-seeded left-fold L2 the
    # SQL oracle and the column expressions evaluate, ties to the
    # lowest cid
    def _l2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    ranked = sorted(
        ((_l2(qvec, cv), cid) for cid, cv in centroids),
    )
    probe_cids = [cid for _d, cid in ranked[:n_probe]]
    # exclude the query on the CODES side, not just the ad-hoc build
    # (ADVICE r12): a caller-supplied persisted index is built over
    # the FULL corpus, so without this filter the query vector itself
    # comes back at rank 1 and the two documented-equivalent paths
    # (persisted vs ad-hoc) return different top-k sets
    probed = codes.filter(
        F.col("cid").isin(probe_cids) & (F.col("vec_id") != query_id)
    )
    out = knn_pq_from_codes(probed, codebook, qvec, k=k)
    return out.select(
        "vec_id", "cid",
        *[f"code_{m}" for m in range(len(codebook))],
        "adc_dist", "rank",
    )


def knn_pq(
    corpus: DataFrame,
    query_id: int,
    k: int = 10,
    m_subspaces: int = 4,
    n_codewords: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — Jégou, Douze, Schmid 2011, the codebook technique behind
    FAISS's IVF-PQ indexes: each vector is split into ``m_subspaces``
    subvectors, each subvector is replaced by the id of its nearest
    codeword (``log2(n_codewords)`` bits per subspace — here 64 dims
    × 4 bytes become 4 codes), and a query scores a vector by summing
    the EXACT query-subvector-to-codeword distances its codes point
    at (asymmetric: only the database side is quantized, halving the
    quantization error vs symmetric code-to-code scoring).

    Codebook: the subvectors of the ``n_codewords`` lowest-id corpus
    vectors — a deterministic sample, so the whole pipeline is
    value-oracled (production would k-means a sample; the plumbing —
    model-sized codebook broadcast INTO the expression as literals,
    per-vector argmin per subspace, LUT scoring — is identical, and
    :func:`fit_kmeans` supplies trained centroids where wanted).

    Scale shape: ONE corpus scan, no shuffle before the top-k cut —
    the codebook enters as literal arrays (Catalyst folds them into
    codegen), encode is per-row column algebra (M × K sequential-fold
    L2s of D/M dims), the query joins as a 1-row broadcast, and the
    ascending top-k is a distributed TakeOrdered on (adc_dist, id).
    At 100 TB the codes column is what you'd persist at index time
    (16 bytes/vector here vs 256) and the scan reads codes, not
    vectors; this entry computes encode+score in one pass so the
    oracle can prove both stages end-to-end.

    Ties everywhere break to the smallest index (argmin via the
    (dist, k) struct ordering; final rank via (dist, id)) — the same
    total order the DuckDB oracle spells out.
    """
    first = corpus.orderBy(F.col(id_col).asc()).limit(n_codewords)
    cb_rows = [list(r[0]) for r in first.select(vec_col).collect()]
    if len(cb_rows) < n_codewords:
        raise ValueError(
            f"corpus has {len(cb_rows)} vectors < n_codewords={n_codewords}"
        )
    dim = len(cb_rows[0])
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by {m_subspaces} subspaces")
    sub = dim // m_subspaces
    # cw[m][j] = literal subvector (list of floats) of codeword j in
    # subspace m
    cw = [
        [row[m * sub:(m + 1) * sub] for row in cb_rows]
        for m in range(m_subspaces)
    ]
    q = F.broadcast(
        corpus.filter(F.col(id_col) == query_id).select(
            F.col(vec_col).alias("__qv")
        )
    )
    c = spread(
        corpus.filter(F.col(id_col) != query_id).select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__cv")
        )
    )
    j = c.crossJoin(q)

    out_cols = [F.col("vec_id")]
    adc_terms = []
    for m in range(m_subspaces):
        csub_sql = f"slice(__cv, {m * sub + 1}, {sub})"
        qsub_sql = f"slice(__qv, {m * sub + 1}, {sub})"
        # argmin over the K codewords: (dist, j) struct min — ties to
        # the smallest codeword id (one parsed SQL expression — see
        # the _argmin_code_sql rationale)
        out_cols.append(
            F.expr(_argmin_code_sql(csub_sql, cw[m])).alias(f"code_{m}")
        )
        # ADC lookup: exact query-subvector distance to the SELECTED
        # codeword — element_at over the K query-side distances
        dists = ",".join(_l2_sql(qsub_sql, cw[m][jj])
                         for jj in range(n_codewords))
        adc_terms.append(
            F.expr(f"element_at(array({dists}), code_{m} + 1)")
        )
    enc = j.select(*out_cols, F.col("__qv"), F.col("__cv"))
    # fixed left-to-right association ((d0+d1)+d2)+d3 — the oracle
    # writes the same parenthesization
    score = adc_terms[0]
    for t in adc_terms[1:]:
        score = score + t
    scored = enc.select(
        "vec_id",
        *[f"code_{m}" for m in range(m_subspaces)],
        F.round(score, 6).alias("adc_dist"),
    )
    w = Window.orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
    ranked = (
        scored.orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )
    return ranked


def knn_pq_rerank(
    corpus: DataFrame,
    query_id: int,
    k: int = 10,
    expand: int = 4,
    m_subspaces: int = 4,
    n_codewords: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieve-and-refine ANN — FAISS's ``IndexRefineFlat``
    shape (Jégou et al. 2011 §V.B: PQ recall is codebook-limited, so
    production indexes over-retrieve by a small factor and re-rank
    the shortlist with EXACT distances): stage 1 ranks the corpus by
    PQ asymmetric distance and keeps ``k * expand`` candidates;
    stage 2 re-scores ONLY those by exact squared L2 against the raw
    vectors and returns the exact-ranked top ``k``.

    Scale shape: stage 1 is :func:`knn_pq`'s one-scan-of-codes +
    TakeOrdered (16 bytes/vector read); stage 2's shortlist is
    ``k * expand`` rows — model-sized — so it BROADCASTS back onto
    one raw-vector scan (at index scale the shortlist id-set prunes
    the vector fetch to point lookups; no shuffle either way) and the
    final cut is a ``k``-row TakeOrdered. The refine step reads
    ``k * expand`` full vectors instead of N — the whole point: exact
    quality on a shortlist, quantized cost on the corpus.

    Ties break to the smaller id at BOTH stages (the (dist, id)
    total order every ANN entry here uses), so the DuckDB oracle
    replays candidate selection and re-ranking bit-for-bit."""
    cands = knn_pq(
        corpus, query_id, k=k * expand,
        m_subspaces=m_subspaces, n_codewords=n_codewords,
        id_col=id_col, vec_col=vec_col,
    ).select("vec_id", "adc_dist")
    qvec = [
        float(x)
        for x in corpus.filter(F.col(id_col) == query_id)
        .select(vec_col)
        .first()[0]
    ]
    raw = spread(
        corpus.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v")
        )
    )
    exact = raw.join(F.broadcast(cands), "vec_id").withColumn(
        "exact_l2", F.round(_l2_to_literal(F.col("__v"), qvec), 6)
    )
    w = Window.orderBy(F.col("exact_l2").asc(), F.col("vec_id").asc())
    return (
        exact.orderBy(F.col("exact_l2").asc(), F.col("vec_id").asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("vec_id", "adc_dist", "exact_l2", "rank")
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training (the in-batch /
    ANCE-style negative selection step every embedding-model pipeline
    runs): for each anchor vector, the ``k`` most-similar corpus
    vectors whose LABEL DIFFERS — maximally confusing non-matches,
    the examples that actually move a contrastive loss (random
    negatives are trivially separable and contribute ~zero gradient).

    Shape mirrors :func:`knn_bruteforce` with the label-mismatch
    predicate fused into the scoring pass: the anchor set is
    model-sized so it BROADCASTS (the corpus never shuffles), cosine
    is the sequential-fold exact form, and the per-anchor top-k is a
    row_number window partitioned by anchor id — anchor-cardinality
    partitioning, executed as WindowGroupLimit (per-partition partial
    top-k before the one exchange). Self-pairs are excluded by id, so
    an anchor drawn from the corpus never mines itself.

    Ties break (score desc, neighbor_id asc) — the deterministic
    total order the oracle spells out."""
    q = F.broadcast(
        anchors.select(
            F.col(id_col).alias("anchor_id"),
            F.col(vec_col).alias("__qv"),
            F.col(label_col).alias("anchor_label"),
        ).withColumn("__qn2", sq_norm(F.col("__qv")))
    )
    c = spread(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            F.col(label_col).alias("neighbor_label"),
        )
    ).withColumn("__cn2", sq_norm(F.col("__cv")))
    scored = (
        q.crossJoin(c)
        .filter(
            (F.col("anchor_id") != F.col("neighbor_id"))
            & (F.col("anchor_label") != F.col("neighbor_label"))
        )
        .withColumn(
            "score",
            dot_product(F.col("__qv"), F.col("__cv"))
            / F.sqrt(F.col("__qn2") * F.col("__cn2")),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "anchor_id",
            "anchor_label",
            "neighbor_id",
            "neighbor_label",
            F.round("score", 6).alias("score"),
            "rank",
        )
    )


def matryoshka_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    prefix_dims: "tuple[int, ...]" = (16, 32),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka truncation audit (Kusupati et al. 2022, MRL — the
    OpenAI/nomic "shortened embeddings" serving trick): per query and
    per prefix length d, recall@k of cosine retrieval on the FIRST d
    dimensions against full-dimension ground truth. The report that
    decides how short the stored vectors can get before retrieval
    quality pays — the same sign-off role :func:`knn_recall_report`
    plays for ANN indexes, here for dimensionality instead of index
    approximation.

    Shape: one full-dim brute-force pass for ground truth + one
    sliced pass per probed prefix (``F.slice`` is a narrow per-row
    projection — the scan reads the same vector column; at serving
    scale the WINNING prefix is what you'd persist, cutting vector
    bytes by D/d). Each pass broadcasts the query set and cuts with
    WindowGroupLimit; the recall joins are output-sized."""
    exact = knn_bruteforce(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )
    out = None
    for d in prefix_dims:
        c_d = corpus.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        q_d = queries.select(
            F.col(query_id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        approx = knn_bruteforce(
            c_d, q_d, k=k, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col,
        )
        rep = knn_recall_report(approx, exact, k=k).select(
            F.lit(d).cast("long").alias("dims"),
            "query_id", "n_hits", "recall",
        )
        out = rep if out is None else out.unionByName(rep)
    return out


def mmr_rerank(
    emb: DataFrame,
    query_id,
    k: int = 5,
    pool: int = 12,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998
    — the diversity-aware retrieval staple): greedily pick *k* of the
    top-*pool* cosine candidates, each step maximizing
    ``lam·sim(q,d) − (1−lam)·max_{s∈selected} sim(d,s)``; ties to the
    smaller id. Output: (vec_id, rank, relevance, mmr).

    Scale shape: the corpus-sized work is the ONE broadcast-query
    scan + distributed TakeOrdered pool cut (the proven
    knn_bruteforce shape); the greedy stage touches only the
    pool×pool similarity matrix (constant-sized) in a single
    Arrow-batched pandas group — no driver collect, no iteration
    over corpus data. Cross-engine determinism: every similarity is
    rounded to 6 decimals BEFORE the greedy, and the MMR arithmetic
    runs on those identical doubles with Python-computed weight
    constants shared verbatim with the oracle's literals."""
    import pandas as pd  # noqa: F401

    q = emb.filter(F.col(id_col) == F.lit(query_id)).select(
        F.col(vec_col).alias("__qv")
    )
    cands = (
        emb.filter(F.col(id_col) != F.lit(query_id))
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.round(cosine_sim(F.col(vec_col), F.col("__qv")), 6).alias(
                "rel"
            ),
        )
        .orderBy(F.col("rel").desc(), F.col("id").asc())
        .limit(pool)
    )
    pa_side = cands.select(
        F.col("id").alias("ia"), F.col("rel").alias("rel_a"),
        F.col("v").alias("va"),
    )
    pb_side = cands.select(F.col("id").alias("ib"), F.col("v").alias("vb"))
    pairs = pa_side.crossJoin(F.broadcast(pb_side)).select(
        "ia", "rel_a", "ib",
        F.when(
            F.col("ia") == F.col("ib"), F.lit(None).cast("double")
        ).otherwise(
            F.round(cosine_sim(F.col("va"), F.col("vb")), 6)
        ).alias("s"),
    )

    wl, wd = float(lam), 1.0 - float(lam)
    kk = int(k)

    def greedy(pdf):
        rel = {}
        sim = {}
        for r in pdf.itertuples(index=False):
            rel[r.ia] = r.rel_a
            if r.ia != r.ib:
                sim[(r.ia, r.ib)] = r.s
        remaining = sorted(rel)
        selected = []
        rows = []
        for rank in range(1, min(kk, len(remaining)) + 1):
            best_id, best_score = None, None
            for cid in remaining:
                d = max(sim[(cid, s)] for s in selected) if selected else 0.0
                score = wl * rel[cid] - wd * d
                if best_score is None or score > best_score:
                    best_id, best_score = cid, score
            selected.append(best_id)
            remaining.remove(best_id)
            rows.append((best_id, rank, rel[best_id], best_score))
        return pd.DataFrame(
            rows, columns=["vec_id", "rank", "relevance", "mmr"]
        )

    # the output id column carries the CALLER's id type (string ids
    # are legal), not a hardcoded long (ADVICE r13)
    from pyspark.sql.types import (
        DoubleType, IntegerType, StructField, StructType,
    )

    out_schema = StructType([
        StructField("vec_id", emb.schema[id_col].dataType),
        StructField("rank", IntegerType()),
        StructField("relevance", DoubleType()),
        StructField("mmr", DoubleType()),
    ])
    out = pairs.groupBy(F.lit(0).alias("__g")).applyInPandas(
        greedy, schema=out_schema
    )
    return out.select(
        "vec_id", "rank", "relevance", F.round("mmr", 6).alias("mmr")
    )
