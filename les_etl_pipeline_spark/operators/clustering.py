"""Deterministic Lloyd k-means over embedding columns.

``pyspark.ml.clustering.KMeans`` is seeded but not engine-portable: its
k-means|| init and float32 aggregation cannot be reproduced by an oracle
SQL engine. This module is the oracle-checkable face of clustering —
corpus bucketing for mixture curation / semantic dedup tiers, and the
coarse quantizer of the IVF/PQ indexes in ``operators/similarity.py``:

- seeds are the ``k`` lowest-id vectors (rank order = cluster id), so
  both engines start from identical centroids;
- every distance is a sequential in-array fold over ``zip_with``
  (deterministic summation order, bit-equal to DuckDB's
  ``list_aggregate(list_transform(...), 'sum')``), rounded to 6dp
  before the argmin so a last-ulp divergence cannot flip an assignment;
- argmin ties break on the lower cluster id (lexicographic
  ``array_min`` over (dist, cluster) structs == ``ORDER BY d, cluster``);
- per-iteration centroids are the 6dp-rounded per-dimension means, so
  Spark's partition-order-dependent ``avg`` noise (~1e-15) is squashed
  before it feeds the next iteration's distances.

Scale posture (100 TB): centroids are k x d SCALARS — metadata, not
data. Each iteration collects them to the driver and re-embeds them as
literal arrays (MLlib's broadcast-variable design), so the per-iteration
plan is ONE scan with in-array argmin + ONE (cluster, dim) groupBy —
k x d aggregation keys, map-side combined; no join, no
BroadcastNestedLoopJoin, nothing driver-side but the k x d floats.

Reference parity: none (the reference has no clustering; LLM-data gap
operator from the build brief).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import hround


def _assign(e: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
    """Add (cluster, d) = argmin over ``cents`` of the 6dp-rounded
    squared euclidean distance. ``e`` must have columns (vec_id, v).

    The whole argmin expression is parsed from ONE SQL string: the
    per-cell zip_with/aggregate folds, the floor-based 6dp rounding
    (hround's exact formula, 0.5D/1000000.0D double literals) and the
    (d, cluster) struct argmin are the same Catalyst nodes the unrolled
    F.lit form produced — bit-exact, measured — but construction drops
    from ~600 py4j round-trips per fresh tree (k=8 x d=64) to one parse
    (575 -> 101 ms per tree, r15 guide §1.2; every Lloyd iteration,
    IVF build and streaming-ANN drain constructs such a tree). ``!r``
    keeps the exact IEEE doubles; ``D`` suffixes keep Spark SQL from
    parsing the literals as DECIMAL.

    A NaN or infinite component has no such literal, and a NaN distance
    would floor to 0 in the 6dp rounding and win every argmin, so it
    raises ValueError instead of failing the SQL parse."""
    choices = []
    for c in sorted(cents):
        if not all(math.isfinite(x) for x in cents[c]):
            raise ValueError(
                f"centroid {c} has a non-finite component (NaN or inf input vectors?)"
            )
        arr = "array(" + ",".join(f"{float(x)!r}D" for x in cents[c]) + ")"
        fold = (
            f"aggregate(zip_with(v, {arr}, (x, y) -> (x - y) * (x - y)), "
            f"0.0D, (acc, x) -> acc + x)"
        )
        d6 = f"cast(floor(({fold}) * 1000000.0D + 0.5D) / 1000000.0D as double)"
        choices.append(f"struct({d6} as d, {c} as cluster)")
    best = "array_min(array(" + ",".join(choices) + "))"
    return e.select(
        "vec_id",
        "v",
        F.expr(best + ".cluster").alias("cluster"),
        F.expr(best + ".d").alias("d"),
    )


def kmeans_lloyd_full(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, dict[int, list[float]]]:
    """``kmeans_lloyd`` plus the FINAL centroid dict (cluster -> vector)
    — callers like the IVF coarse quantizer need the centroids to rank
    probe cells, and re-deriving them would cost another pass."""
    e = df.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    # k x d scalar seed fetch — metadata-scale by design (module doc)
    seeds = e.orderBy("vec_id").limit(k).collect()
    cents = {i: list(r.v) for i, r in enumerate(seeds)}
    assign = _assign(e, cents)
    for _ in range(iters - 1):
        rows = (
            assign.select("cluster", F.posexplode("v"))
            .groupBy("cluster", "pos")
            .agg(hround(F.avg("col"), 6).alias("cd"))
            .collect()  # k x d scalars back to the driver (broadcast vars)
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cluster.setdefault(r.cluster, {})[r.pos] = r.cd
        cents = {c: [dims[p] for p in sorted(dims)] for c, dims in by_cluster.items()}
        assign = _assign(e, cents)
    return assign, cents


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Run ``iters`` Lloyd assignment steps (assign -> update centroids
    -> ... -> final assign) and return the final assignment
    (vec_id, v, cluster, d) with d the 6dp squared distance.

    ``iters=2`` means: assign to the seed centroids, recompute centroids
    as cluster means, assign again. Empty clusters simply drop out of
    the centroid table (both engines skip them identically)."""
    assign, _ = kmeans_lloyd_full(df, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    return assign


def power_iteration_top_component(
    df: DataFrame,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> tuple[list[float], float]:
    """Top principal direction of the (uncentered) Gram matrix X^T X by
    power iteration — the dominant-variance axis behind whitening /
    spectral diagnostics of an embedding table. Returns (component
    vector rounded to 6dp, ||w|| eigenvalue estimate of the final
    iterate).

    Engine-portable by the same contract as kmeans_lloyd: v0 is the
    exact constant 1/8 (all-ones over 64 dims, unit norm), each row's
    projection s = x . v is a sequential in-array fold with v as literal
    arrays, the matvec accumulation w_j = sum(s * x_j) is a (dim)
    groupBy whose result rounds to 6dp BEFORE it feeds normalization
    (squashing parallel-sum association noise), and the driver-side
    normalize replays the identical IEEE ops the oracle runs (sqrt of
    the sequential sum of squares of the ROUNDED w, then the hround
    floor formula). Per iteration: ONE scan + ONE 64-key aggregate;
    the driver holds 64 scalars."""
    import math

    e = df.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    v = [1.0 / 8.0] * dims
    lam = 0.0
    for _ in range(iters):
        arr = F.array(*[F.lit(float(x)) for x in v])
        s = F.aggregate(
            F.zip_with(F.col("v"), arr, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        w_rows = (
            e.select(s.alias("s"), F.posexplode("v"))
            .groupBy("pos")
            .agg(hround(F.sum(F.col("s") * F.col("col")), 6).alias("w"))
            .collect()
        )
        w = [0.0] * dims
        for r in w_rows:
            w[r.pos] = r.w
        lam = math.sqrt(sum(x * x for x in w))
        if lam == 0.0:
            # degenerate input (all-zero embeddings, or a matvec that
            # rounds to zero at 6dp): the top component is undefined —
            # return the zero vector instead of dividing by zero.
            return [0.0] * dims, 0.0
        v = [math.floor(x / lam * 1e6 + 0.5) / 1e6 for x in w]
    return v, lam
