"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: the exact baseline.  The dot product runs
  JVM-side via ``aggregate(zip_with(...))`` — sequential fold over the
  vector, so the float result is deterministic (no partition-order
  dependence) and engine-portable after rounding.
- LSH-bucketed ANN: random-hyperplane sign bucketing (Charikar'02).
  Planes are seeded numpy constants baked into the plan as literal
  arrays; candidates share a bucket, then exact cosine re-ranks.
  At 100 TB the bucket join replaces the O(Q x N) cross join with
  O(Q x N / 2^bits) and both sides shuffle only on the bucket key.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, rank, vec_id, cosine).

    queries must have columns (id_col, vec_col).  Queries are broadcast
    (the small side); candidates stream — no shuffle of the big side.
    """
    from halyard_spark.session import widen_small_input

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    ).withColumn("_qnorm", _norm(F.col("_qvec"))).where(F.col("_qnorm") > 0)
    c = (
        # widen a one-file scan: the per-row dot-product fold below is
        # the compute; a single-task scan serializes it (guide §2.5)
        widen_small_input(emb.select(F.col(id_col), F.col(vec_col)))
        .withColumn("_norm", _norm(F.col(vec_col)))
        .where(F.col("_norm") > 0)  # zero vectors: no direction, ANSI div-by-0
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(_dot(F.col(vec_col), F.col("_qvec")) / (F.col("_norm") * F.col("_qnorm")), 6),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "cosine")
    )


def _planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def _plane_dot_sql(vec_col: str, plane: list[float]) -> str:
    """SQL text for _dot(vec_col, <plane literal>) — identical arithmetic
    (zip_with product of double casts, sequential fold from 0.0), but the
    whole plane enters the plan through ONE ``F.expr`` parse instead of
    ``dim`` per-element ``F.lit`` py4j round trips.  Per-element literal
    construction measured ~3 s of driver time PER lsh_buckets call at
    16 tables x 4 planes x 64 dims (two calls per ANN query) — several
    times the query's actual execution.  The ``D`` suffix keeps each
    constant a DOUBLE literal (bare decimals parse as DECIMAL), and
    ``repr`` emits round-trip text, so the parsed doubles are bit-equal
    to the old py4j-shipped floats."""
    arr = ",".join(f"{v!r}D" for v in plane)
    return (
        f"aggregate(zip_with({vec_col}, array({arr}), "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _bucket_bits_sql(vec_col: str, planes: list[list[float]]) -> str:
    return ", ".join(
        f"CASE WHEN {_plane_dot_sql(vec_col, p)} >= 0 THEN '1' ELSE '0' END"
        for p in planes
    )


def lsh_bucket(emb: DataFrame, dim: int = 64, n_planes: int = 8, vec_col: str = "embedding", seed: int = 42) -> DataFrame:
    """Add a 'bucket' column: sign-bit string over n_planes hyperplanes.

    The bucket expression is built as ONE SQL string (_plane_dot_sql):
    per-element literal construction is a py4j round trip per value, and
    multi-table bucketing (tables x planes x dim of them) measured ~7 s
    of driver-side plan build per ANN query — more than its execution."""
    planes = _planes(dim, n_planes, seed)
    return emb.withColumn(
        "bucket", F.expr(f"concat({_bucket_bits_sql(vec_col, planes)})")
    )


def lsh_buckets(
    emb: DataFrame,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 1,
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Multi-table LSH: one bucket row per (row, table) — n_tables
    independent hyperplane sets (seeded seed+t), bucket prefixed with the
    table index.  Candidate recall is 1-(1-p^n_planes)^n_tables: more
    tables trade compute for recall without touching bucket selectivity.
    Output explodes to n_tables rows per input row; at scale both sides of
    the candidate join shuffle only (id, bucket) pairs."""
    return emb.withColumn("bucket", _buckets_expr(dim, n_planes, n_tables, seed, vec_col))


@functools.lru_cache(maxsize=8)
def _buckets_expr(dim: int, n_planes: int, n_tables: int, seed: int, vec_col: str) -> Column:
    """ONE SQL expression for all tables (see lsh_bucket): per-element
    F.lit made plan BUILD dominate the query wall at tables x planes x
    dim, and even one F.expr per table still paid 16 parses.  Memoized
    per parameter tuple: the planes are deterministic functions of the
    parameters, the ~50 KB expression costs ~1 s to parse, and every
    caller pair (query side + corpus side) uses the same parameters.
    This caches a PLAN FRAGMENT, never data."""
    tables = ", ".join(
        f"concat('{t}:', {_bucket_bits_sql(vec_col, _planes(dim, n_planes, seed + t))})"
        for t in range(n_tables)
    )
    return F.explode(F.expr(f"array({tables})"))


def ivf_assign(
    emb: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    total: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: (centroids, assignments).

    Centroids are a deterministic sample of the data itself (every
    (max_id/n_cells)-th vector) — no iterative k-means needed for a
    coarse inverted file; at 100 TB you'd train centroids on a driver-side
    sample once and broadcast them, exactly this shape.  Assignment is a
    broadcast cross join + per-row argmax cosine: one pass, no shuffle of
    the big side.
    """
    from pyspark.sql import Window

    # hash-sampled centroid seeds: no global sort/window (which would
    # funnel all rows through one partition at scale); the tiny window
    # below numbers only the n_cells selected rows.  Pass `total` as a
    # size hint to skip the count job (it is only a sampling-rate knob).
    total = total if total is not None else emb.count()
    step = max(total // n_cells, 1)
    seeds = (
        emb.select(id_col, vec_col)
        .where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(step)) == 0)
        .orderBy(id_col)
        .limit(n_cells)
    )
    w_small = Window.orderBy(id_col)
    centroids = (
        seeds.withColumn("cell", F.row_number().over(w_small) - 1)
        .select("cell", F.col(vec_col).alias("_cvec"))
        .withColumn("_cnorm", _norm(F.col("_cvec")))
        .where(F.col("_cnorm") > 0)
    )
    cand = (
        emb.select(id_col, vec_col)
        .withColumn("_norm", _norm(F.col(vec_col)))
        .where(F.col("_norm") > 0)
    )
    scored = cand.crossJoin(F.broadcast(centroids)).withColumn(
        "_sim", _dot(F.col(vec_col), F.col("_cvec")) / (F.col("_norm") * F.col("_cnorm"))
    )
    w2 = Window.partitionBy(id_col).orderBy(F.col("_sim").desc(), F.col("cell"))
    assignments = (
        scored.withColumn("_r", F.row_number().over(w2))
        .where(F.col("_r") == 1)
        .select(id_col, "cell")
    )
    return centroids, assignments


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    total: int | None = None,
) -> DataFrame:
    """IVF ANN: probe the nprobe nearest cells per query, exact cosine
    re-rank inside them.  The candidate join is an equi-join on `cell`
    (shuffle only on the cell key); recall grows with nprobe."""
    from pyspark.sql import Window

    centroids, assignments = ivf_assign(emb, n_cells, id_col, vec_col, total=total)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")).withColumn(
        "_qnorm", _norm(F.col("_qvec"))
    ).where(F.col("_qnorm") > 0)
    qc = q.crossJoin(F.broadcast(centroids)).withColumn(
        "_sim", _dot(F.col("_qvec"), F.col("_cvec")) / (F.col("_qnorm") * F.col("_cnorm"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("cell"))
    probes = (
        qc.withColumn("_r", F.row_number().over(wq))
        .where(F.col("_r") <= nprobe)
        .select("query_id", "_qvec", "_qnorm", "cell")
    )
    cands = (
        emb.select(id_col, vec_col)
        .join(assignments, id_col)
        .withColumn("_norm", _norm(F.col(vec_col)))
        .where(F.col("_norm") > 0)
    )
    scored = (
        cands.join(probes, "cell")
        .where(F.col(id_col) != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(_dot(F.col(vec_col), F.col("_qvec")) / (F.col("_norm") * F.col("_qnorm")), 6),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "cosine")
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to buckets the query also
    hashes into (across n_tables independent tables), exact cosine re-rank
    over the deduped candidate set.  Recall < 1 by design; the scale path."""
    from halyard_spark.session import widen_small_input

    qb = lsh_buckets(queries, dim, n_planes, n_tables, vec_col).select(
        F.col(id_col).alias("query_id"), "bucket"
    )
    # widen a one-file corpus scan: n_tables x n_planes hyperplane dot
    # products per row otherwise run as a single task (guide §2.5)
    cb = lsh_buckets(
        widen_small_input(emb.select(F.col(id_col), F.col(vec_col))),
        dim, n_planes, n_tables, vec_col,
    ).select(id_col, "bucket")
    pairs = (
        cb.join(F.broadcast(qb), "bucket")
        .where(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
        .distinct()
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")).withColumn(
        "_qnorm", _norm(F.col("_qvec"))
    ).where(F.col("_qnorm") > 0)
    c = (
        emb.select(id_col, vec_col)
        .withColumn("_norm", _norm(F.col(vec_col)))
        .where(F.col("_norm") > 0)
    )
    scored = (
        pairs.join(c, id_col)
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine",
            F.round(_dot(F.col(vec_col), F.col("_qvec")) / (F.col("_norm") * F.col("_qnorm")), 6),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "cosine")
    )
