"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline (query side broadcast,
candidates never shuffled), and a random-hyperplane LSH bucketed variant
as the 100 TB path (candidates restricted to matching buckets). Dot
products run JVM-side via zip_with/aggregate — no Python in the hot loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.literal_df import driver_literal_df
from ..functions.ckpt import lazy_ckpt
from ..functions.rounding import hround


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Add `vd` (double vector) and `nrm` (L2 norm) columns."""
    vd = _as_double(F.col(vec_col))
    return df.withColumn("vd", vd).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("vd"), lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            )
        ),
    )


def dot(a, b):
    """Sequential-fold dot product (deterministic summation order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine_topk(
    df: DataFrame,
    query_pred,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for every row matching ``query_pred``.

    Plan shape for scale: the (small) query set is broadcast; every
    candidate partition computes its local scores; the window top-k
    shuffles only (query_id, cos) pairs, not vectors."""
    e = with_norm(df.select(id_col, vec_col), vec_col)
    q = e.where(query_pred).select(
        F.col(id_col).alias("query_id"), F.col("vd").alias("qvd"), F.col("nrm").alias("qnrm")
    )
    c = e.select(
        F.col(id_col).alias("neighbor_id"), F.col("vd").alias("cvd"), F.col("nrm").alias("cnrm")
    )
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", dot(F.col("qvd"), F.col("cvd")) / (F.col("qnrm") * F.col("cnrm")))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def threshold_pairs(
    df: DataFrame,
    threshold: float,
    id_pred=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs (a < b) with cosine >= threshold (optionally restricted
    by id_pred). Exact quadratic baseline — use lsh_bucket_candidates to
    bound the pair space at scale."""
    e = with_norm(df.select(id_col, vec_col), vec_col)
    if id_pred is not None:
        e = e.where(id_pred)
    a = e.select(F.col(id_col).alias("id_a"), F.col("vd").alias("va"), F.col("nrm").alias("na"))
    b = e.select(F.col(id_col).alias("id_b"), F.col("vd").alias("vb"), F.col("nrm").alias("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .where(F.col("cos") >= F.lit(threshold))
        .select("id_a", "id_b", "cos")
    )


#: derived-BRP-bucket-length coefficient for UNIT vectors:
#: BucketedRandomProjectionLSH projects onto random UNIT directions, so
#: a unit data vector's projection concentrates as ~N(0, 1/d) — std
#: 1/sqrt(d), e.g. 0.125 at d=64, NOT the O(1) spread a gaussian
#: direction would give. bucket_length = COEFF/sqrt(d) puts the ~6-sigma
#: projection range across ~6/COEFF buckets (~20 at 0.3) instead of the
#: 2 that bucketLength=2.0 produced (the round-13 measured degeneracy —
#: candidates collapsed to ~all pairs through the equi-join).
UNIT_BUCKET_COEFF = 0.3


def cosine_lsh_candidate_pairs(
    df: DataFrame,
    threshold: float,
    id_pred=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 12,
    bucket_length: float | None = None,
    seed: int = 42,
    margin: float = 1.05,
    allow_degenerate: bool = False,
) -> DataFrame:
    """Pairs (a < b) with cosine >= threshold via pyspark.ml
    BucketedRandomProjectionLSH candidates + exact cosine re-check.

    STATUS (round-13 measurement, SCALING.md): this is a LABELED
    BASELINE tier, not the scale default — the bounded-expansion
    hyperplane banding (``cosine_banded_pairs``) is the 100 TB path.
    The old bucketLength=2.0 default hashed all unit vectors into ~2
    buckets per table, silently degrading the equi-join candidates to
    all pairs; two fences now prevent that (VERDICT r13 #2):

    - ``bucket_length=None`` derives ``UNIT_BUCKET_COEFF / sqrt(d)``,
      sized to the ~N(0, 1/d) spread of a unit vector's projection onto
      BRP's random UNIT directions. Narrow buckets trade recall (fewer
      collisions per table) for a non-degenerate candidate set.
    - a fail-loud degeneracy check counts populated buckets in the
      first hash table and raises if the corpus collapsed into a
      handful — the BRP path can no longer silently run all-pairs.
      ``allow_degenerate=True`` opts out (and skips the check's one
      cheap aggregate): that is the FULL-RECALL BASELINE mode the
      oracle-paired registry query pins (its DuckDB oracle is the exact
      closure, so only 100%-recall parameters can stay bit-exact).

    On unit-normalized vectors, euclidean distance is sqrt(2 - 2*cos), so
    a cosine threshold maps exactly to a distance radius.
    ``approxSimilarityJoin`` (equi-join on exploded hash-table buckets —
    NO BroadcastNestedLoopJoin) yields candidates colliding in >=1 of
    ``num_tables`` random projections; the exact cosine is then recomputed
    on each candidate with the same zip_with/aggregate expression as
    ``threshold_pairs``, so precision is exact and the only approximation
    is LSH recall (raise num_tables / bucket_length to push it toward 1).
    ``margin`` widens the distance radius to absorb float rounding at the
    threshold boundary."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector, vector_to_array

    e = with_norm(df.select(id_col, vec_col), vec_col)
    if id_pred is not None:
        e = e.where(id_pred)
    unit = e.where(F.col("nrm") > 0).withColumn(
        "features", array_to_vector(F.transform(F.col("vd"), lambda x: x / F.col("nrm")))
    )
    if bucket_length is None:
        first = unit.select(F.size("vd").alias("d")).first()
        d = int(first["d"]) if first is not None else 1
        bucket_length = UNIT_BUCKET_COEFF / max(d, 1) ** 0.5
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_tables,
        seed=seed,
    )
    model = lsh.fit(unit)
    hashed = model.transform(unit.select(id_col, "vd", "nrm", "features"))
    if not allow_degenerate:
        # degeneracy fence: one cheap aggregate over table 0's bucket
        # ids (the skyline/heavy-hitter guard pattern). Collapsed
        # hashing means the downstream equi-join IS the all-pairs scan.
        stats = hashed.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(
                vector_to_array(F.element_at("hashes", 1))[0]
            ).alias("buckets"),
        ).collect()[0]
        if stats["buckets"] <= 4 and stats["n"] >= 16 * max(stats["buckets"], 1):
            raise ValueError(
                f"cosine_lsh_candidate_pairs: degenerate hashing — "
                f"{stats['n']} vectors fell into {stats['buckets']} "
                f"bucket(s) at bucket_length={bucket_length}; candidates "
                "would be ~all pairs. Lower bucket_length (unit vectors "
                f"=> ~{UNIT_BUCKET_COEFF}/sqrt(d)) or pass "
                "allow_degenerate=True to run it as an explicit "
                "full-recall baseline"
            )
    radius = float((max(0.0, 2.0 * (1.0 - threshold))) ** 0.5) * margin
    pairs = model.approxSimilarityJoin(hashed, hashed, radius, distCol="udist")
    cand = pairs.where(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}")).select(
        F.col(f"datasetA.{id_col}").alias("id_a"),
        F.col(f"datasetB.{id_col}").alias("id_b"),
        (
            dot(F.col("datasetA.vd"), F.col("datasetB.vd"))
            / (F.col("datasetA.nrm") * F.col("datasetB.nrm"))
        ).alias("cos"),
    )
    return cand.where(F.col("cos") >= F.lit(threshold)).select("id_a", "id_b", "cos")


def lsh_bucket_neighbors(
    df: DataFrame,
    query_pred,
    k: int = 5,
    bucket_length: float = 2.0,
    num_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate neighbors via BucketedRandomProjectionLSH (pyspark.ml):
    candidates limited to colliding buckets — the sublinear scale path.
    Returns (query_id, neighbor_id, dist, rank) by euclidean distance."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    base = df.select(
        id_col, array_to_vector(_as_double(F.col(vec_col))).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_tables,
        seed=seed,
    )
    model = lsh.fit(base)
    hashed = model.transform(base)
    q = hashed.where(query_pred).select(
        F.col(id_col).alias("query_id"), F.col("features").alias("qf"), "hashes"
    )
    pairs = model.approxSimilarityJoin(
        hashed, hashed.where(query_pred), float("inf"), distCol="dist"
    )
    out = (
        pairs.select(
            F.col("datasetB." + id_col).alias("query_id"),
            F.col("datasetA." + id_col).alias("neighbor_id"),
            "dist",
        )
        .where(F.col("neighbor_id") != F.col("query_id"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("dist"), F.col("neighbor_id"))
    return (
        out.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ivf_topk(
    df: DataFrame,
    query_pred,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    neq_col: str | None = None,
) -> DataFrame:
    """IVF-style ANN: k-means coarse quantizer assigns every vector to a
    cell; a query scores only vectors in its ``n_probe`` nearest cells.
    The 100 TB inverted-file pattern: candidate set shrinks by
    ~n_cells/n_probe, cells are the partition key, and the centroid table
    (n_cells rows) broadcasts. The quantizer is trained by the
    deterministic, oracle-replayable ``clustering.kmeans_lloyd_full``.
    Recall is tested against brute force in tests/test_similarity_ivf.py.

    ``neq_col`` names an attribute column of ``df`` (e.g. a training
    label): candidates sharing the query's value are excluded BEFORE the
    top-k — hard-negative mining composed with the IVF tier. The filter
    rides the existing cell equi-join (one extra predicate, zero new
    shuffles, plus one id-keyed attribute join) and the output gains
    ``query_neq`` / ``neighbor_neq`` columns."""
    from . import clustering

    base = with_norm(df.select(id_col, vec_col), vec_col)
    assign, cents = clustering.kmeans_lloyd_full(
        base.select(id_col, "vd"), k=n_cells, iters=2,
        id_col=id_col, vec_col="vd",
    )
    assigned = assign.select(
        F.col("vec_id").alias(id_col),
        F.col("v").alias("vd"),
        F.sqrt(
            F.aggregate(
                F.transform(F.col("v"), lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("nrm"),
        F.col("cluster").alias("cell"),
    )
    if neq_col:
        # training runs on (id, vd) only; rejoin the attribute by id
        # (equi-join, co-partitionable at scale)
        assigned = assigned.join(df.select(id_col, neq_col), id_col)
    centroids = driver_literal_df(df.sparkSession,
        [(c, v) for c, v in sorted(cents.items())],
        "cell int, cvec array<double>",
    )

    # assigned feeds BOTH the query probe side and the candidate side:
    # without a lineage cut the per-row k*d argmin fold runs twice over
    # the corpus (r15, guide §2.4). Lazy — the probe side's broadcast
    # job scans every partition first, satisfying the lazy_ckpt contract.
    assigned = lazy_ckpt(assigned)

    # each query probes its n_probe nearest centroids (by euclidean).
    # The probe distance is 6dp-rounded BEFORE ranking — the repo-wide
    # argmin contract (same as ivf_pq_topk's cd2), so a last-ulp
    # divergence from the DuckDB oracle can't flip the probed cell set.
    q = assigned.where(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.col("vd").alias("qvd"),
        F.col("nrm").alias("qnrm"),
        *([F.col(neq_col).alias("query_neq")] if neq_col else []),
    )
    d2 = hround(
        F.aggregate(
            F.zip_with(F.col("qvd"), F.col("cvec"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    probe_w = W.partitionBy("query_id").orderBy(F.col("d2"), F.col("cell"))
    probes = (
        q.join(F.broadcast(centroids))
        .withColumn("d2", d2)
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= n_probe)
        .select(
            "query_id", "qvd", "qnrm", "cell",
            *(["query_neq"] if neq_col else []),
        )
    )

    cands = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("vd").alias("cvd"),
        F.col("nrm").alias("cnrm"),
        "cell",
        *([F.col(neq_col).alias("neighbor_neq")] if neq_col else []),
    )
    scored = (
        cands.join(F.broadcast(probes), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", dot(F.col("qvd"), F.col("cvd")) / (F.col("qnrm") * F.col("cnrm")))
    )
    if neq_col:
        scored = scored.where(F.col("neighbor_neq") != F.col("query_neq"))
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cos", "rank",
            *(["query_neq", "neighbor_neq"] if neq_col else []),
        )
    )


def _sub_structs(bounds):
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"), F.slice("ud", lo + 1, hi - lo).alias("svec")
            )
            for j, (lo, hi) in enumerate(bounds)
        ]
    )


def _sub_d2():
    """6dp-rounded squared distance between the subvector and a codebook
    entry — sequential zip_with fold (deterministic summation order,
    bit-equal to DuckDB's list_aggregate), rounded BEFORE any argmin or
    ADC sum so a last-ulp divergence can't flip an assignment."""
    return hround(
        F.aggregate(
            F.zip_with(F.col("svec"), F.col("cvec"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def lloyd_codebooks(
    base: DataFrame,
    bounds: list[tuple[int, int]],
    n_codes: int,
    id_col: str = "vec_id",
    iters: int = 2,
    seed_rows=None,
) -> DataFrame:
    """Deterministic per-subspace PQ codebooks by Lloyd iterations: ALL m
    codebooks train in ``iters`` passes over one exploded (id, j, svec)
    table.

    Contract mirrors operators/clustering.kmeans_lloyd so a DuckDB
    oracle can replay training bit-exactly: seeds are the subvectors of
    the ``n_codes`` LOWEST-id vectors (code = id rank), distances are
    6dp-rounded sequential folds, argmin ties break on the lower code,
    centroid updates are 6dp-rounded per-dimension means, and empty
    codes drop out of the codebook. Returns (j, code, cvec) rows —
    m x n_codes scalars, broadcast-sized at any corpus scale.

    ``base`` must carry (id_col, ud) with ud the unit vector."""
    spark = base.sparkSession
    # n_codes x dim scalar seed fetch — metadata-scale (broadcast-var
    # design, same as clustering.kmeans_lloyd's seed collect). Callers
    # that already collected the ordered prefix (pq_topk's dim probe)
    # pass it in to skip the duplicate driver round-trip.
    if seed_rows is None:
        seed_rows = base.orderBy(id_col).limit(n_codes).collect()
    cb = [
        (j, c, [float(x) for x in r.ud[lo:hi]])
        for j, (lo, hi) in enumerate(bounds)
        for c, r in enumerate(seed_rows)
    ]
    # the loop re-reads the exploded table once per pass: pin it when
    # there is more than one pass (at cluster scale this is the
    # persisted staging table the module doc prescribes for iterative
    # inputs). With the default iters=2 the loop body runs ONCE, so the
    # checkpoint would be a pure extra sequential job (r14, guide §1.2).
    sub = base.select(F.col(id_col).alias("_id"), F.inline(_sub_structs(bounds)))
    if iters > 2:
        sub = sub.localCheckpoint()
    for it in range(max(iters - 1, 0)):
        codebook = spark.createDataFrame(cb, "j int, code int, cvec array<double>")
        assign = (
            sub.join(F.broadcast(codebook), "j")
            .withColumn("d2", _sub_d2())
            .groupBy("_id", "j")
            .agg(
                F.min_by("code", F.struct("d2", "code")).alias("code"),
                F.min_by("svec", F.struct("d2", "code")).alias("svec"),
            )
        )
        rows = (
            assign.select("j", "code", F.posexplode("svec"))
            .groupBy("j", "code", "pos")
            .agg(hround(F.avg("col"), 6).alias("cd"))
            .collect()  # m x n_codes x subdim scalars back to the driver
        )
        by_code: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            by_code.setdefault((r.j, r.code), {})[r.pos] = r.cd
        cb = [
            (j, c, [dims[p] for p in sorted(dims)])
            for (j, c), dims in sorted(by_code.items())
        ]
    return spark.createDataFrame(cb, "j int, code int, cvec array<double>")


def pq_topk(
    df: DataFrame,
    query_pred,
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — the memory-bound scale path that complements ivf_topk's
    compute-bound one (production systems compose them as IVF-PQ).

    Vectors are unit-normalized (so L2 ranking == cosine ranking), split
    into ``m`` contiguous subvectors, and each subspace gets its own
    ``n_codes``-entry k-means codebook. Every vector compresses to m
    small code ids — at 100 TB the candidate table the query touches is
    m bytes/vector instead of 4*dim, which is the entire point: PQ trades
    a full-vector scan's memory bandwidth for table lookups. A query
    precomputes its (m x n_codes) subspace-distance table (tiny,
    broadcast); the approximate distance of a candidate is the sum of m
    table lookups keyed by its codes — one broadcast join on (subspace,
    code) + one groupBy, never a full-vector dot product per pair.

    ``rerank=C`` (C > k) adds the production second stage: the ADC
    short-list of C candidates per query is re-scored with EXACT cosine
    (a join of C*Q rows against the vector table — tiny) and the final
    top-k comes from the exact scores. ADC alone ranks coarsely on
    near-orthogonal data; shortlist-then-rerank is how IVF-PQ systems
    actually serve (the 100 TB cost stays with the code-table scan, the
    rerank touches only C full vectors per query).

    All m codebooks are trained by the deterministic, oracle-replayable
    Lloyd passes of ``lloyd_codebooks`` (2 distributed passes total).
    Approximate by construction; recall against brute
    force is bounded in tests/test_similarity_pq.py. Argmin code
    assignment tie-breaks on the lower code id (min_by over a
    (d2, code) struct) so encoding is deterministic; ADC accumulates
    6dp-rounded lookups in DECIMAL(18,6) so the sum is independent of
    aggregation order."""
    base = with_norm(df.select(id_col, vec_col), vec_col).withColumn(
        "ud", F.transform("vd", lambda x: x / F.col("nrm"))
    )
    # one driver round-trip serves both the dim probe and the Lloyd
    # seed rows (ADVICE r7 #4 — was two jobs over the same prefix)
    seed_rows = base.orderBy(id_col).limit(n_codes).collect()
    dim = len(seed_rows[0].ud)
    bounds = [(j * dim // m, (j + 1) * dim // m) for j in range(m)]
    codebook = lloyd_codebooks(
        base, bounds, n_codes, id_col=id_col, seed_rows=seed_rows
    )

    sub_structs = _sub_structs(bounds)
    d2 = _sub_d2()

    # encode every vector: nearest code per subspace (deterministic argmin)
    exploded = base.select(F.col(id_col), F.inline(sub_structs))
    codes = (
        exploded.join(F.broadcast(codebook), "j")
        .withColumn("d2", d2)
        .groupBy(id_col, "j")
        .agg(F.min_by("code", F.struct("d2", "code")).alias("code"))
    )

    # per-query subspace distance tables: (query_id, j, code, d2)
    q = base.where(query_pred).select(
        F.col(id_col).alias("query_id"), F.inline(sub_structs)
    )
    qtab = (
        q.join(F.broadcast(codebook), "j")
        .withColumn("d2", d2)
        .select("query_id", "j", "code", "d2")
    )

    # ADC: m table lookups per (query, candidate), summed exactly
    scored = (
        codes.join(F.broadcast(qtab), ["j", "code"])
        .where(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(
            F.sum(F.col("d2").cast("decimal(18,6)")).cast("double").alias("adist")
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("adist"), F.col(id_col))
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= max(rerank, k))
        .select("query_id", F.col(id_col).alias("neighbor_id"), "adist", "rank")
    )
    if rerank <= k:
        return shortlist

    # exact re-rank of the short-list: C*Q rows join the unit vectors
    vecs = base.select(F.col(id_col).alias("_vid"), F.col("ud").alias("_ud"))
    qv = vecs.select(F.col("_vid").alias("query_id"), F.col("_ud").alias("_qud"))
    cv = vecs.select(F.col("_vid").alias("neighbor_id"), F.col("_ud").alias("_cud"))
    exact = (
        shortlist.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cos", hround(dot(F.col("_qud"), F.col("_cud")), 6))
    )
    w2 = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adist", "rank")
    )


def _lloyd_ivf_pq_train(
    base: DataFrame,
    bounds: list[tuple[int, int]],
    n_cells: int,
    n_codes: int,
    prefix,
    id_col: str,
):
    """ONE fused update pass for the IVF-PQ trainer (r14, guide §1.2:
    fix the distributed algorithm first — here the job COUNT). The
    coarse quantizer's centroid update and the PQ codebooks' update are
    independent aggregates (coarse trains on the unit vectors, the
    codebooks on the subvector explode), but the unfused path ran them
    as sequential driver round-trips: kmeans_lloyd_full's collect, then
    lloyd_codebooks' collect, plus an eager checkpoint of the
    SINGLE-USE subvector table in between. This helper computes both
    hround(avg)-update tables in one tagged-union collect — the per-
    aggregate float math is unchanged, so cents/codebook come out
    bit-identical (pinned in tests/test_similarity_pq.py) — and replays
    the two trainers' reconstruction exactly (sorted cluster/code
    order, empty clusters/codes drop out).

    Equivalent by construction to the iters=2 pair
    ``kmeans_lloyd_full(base[id, ud], k=n_cells)`` (whose seeds are the
    same lowest-id prefix) + ``lloyd_codebooks(base, bounds, n_codes,
    seed_rows=prefix)``.
    Returns (final assign DataFrame, cents dict, codebook DataFrame)."""
    from . import clustering

    spark = base.sparkSession
    e = base.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col("ud"), lambda x: x.cast("double")).alias("v"),
    )
    seed_cents = {
        i: [float(x) for x in r.ud] for i, r in enumerate(prefix[:n_cells])
    }
    coarse_upd = (
        clustering._assign(e, seed_cents)
        .select("cluster", F.posexplode("v"))
        .groupBy("cluster", "pos")
        .agg(hround(F.avg("col"), 6).alias("cd"))
        .select(
            F.lit("c").alias("_t"),
            F.col("cluster").alias("g1"),
            F.lit(0).alias("g2"),
            "pos",
            "cd",
        )
    )
    cb0 = [
        (j, c, [float(x) for x in r.ud[lo:hi]])
        for j, (lo, hi) in enumerate(bounds)
        for c, r in enumerate(prefix[:n_codes])
    ]
    codebook0 = spark.createDataFrame(cb0, "j int, code int, cvec array<double>")
    sub = base.select(F.col(id_col).alias("_id"), F.inline(_sub_structs(bounds)))
    pq_upd = (
        sub.join(F.broadcast(codebook0), "j")
        .withColumn("d2", _sub_d2())
        .groupBy("_id", "j")
        .agg(
            F.min_by("code", F.struct("d2", "code")).alias("code"),
            F.min_by("svec", F.struct("d2", "code")).alias("svec"),
        )
        .select("j", "code", F.posexplode("svec"))
        .groupBy("j", "code", "pos")
        .agg(hround(F.avg("col"), 6).alias("cd"))
        .select(
            F.lit("p").alias("_t"),
            F.col("j").alias("g1"),
            F.col("code").alias("g2"),
            "pos",
            "cd",
        )
    )
    rows = coarse_upd.unionByName(pq_upd).collect()
    by_cluster: dict[int, dict[int, float]] = {}
    by_code: dict[tuple[int, int], dict[int, float]] = {}
    for r in rows:
        if r._t == "c":
            by_cluster.setdefault(r.g1, {})[r.pos] = r.cd
        else:
            by_code.setdefault((r.g1, r.g2), {})[r.pos] = r.cd
    cents = {c: [dims[p] for p in sorted(dims)] for c, dims in by_cluster.items()}
    cb = [
        (j, c, [dims[p] for p in sorted(dims)])
        for (j, c), dims in sorted(by_code.items())
    ]
    assign = clustering._assign(e, cents)
    codebook = spark.createDataFrame(cb, "j int, code int, cvec array<double>")
    return assign, cents, codebook


def ivf_pq_topk(
    df: DataFrame,
    query_pred,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the production ANN composition of this module's two scale
    paths. The IVF coarse quantizer (k-means cells) bounds WHICH vectors
    a query touches (~n_probe/n_cells of the corpus); product
    quantization bounds HOW MUCH is read per touched vector (m code
    bytes, ADC table lookups instead of full-vector dot products); the
    optional exact re-rank of the short-list restores rank quality. At
    100 TB: cells are the partition key, codebooks and per-query
    distance tables broadcast, and the full vectors are only read for
    the C*Q short-list rows.

    The coarse quantizer and all m subspace codebooks are trained by
    the Lloyd contract of ``clustering.kmeans_lloyd_full`` and
    ``lloyd_codebooks`` (fused into one update pass,
    ``_lloyd_ivf_pq_train``) — deterministic and oracle-replayable.
    Recall vs brute force bounded in tests/test_similarity_pq.py."""
    base = with_norm(df.select(id_col, vec_col), vec_col).withColumn(
        "ud", F.transform("vd", lambda x: x / F.col("nrm"))
    )
    # ONE ordered-prefix fetch serves the coarse quantizer's n_cells
    # seeds, the PQ codebooks' n_codes seeds, and the dim probe
    # (VERDICT r8 — two bounded driver round-trips over the same prefix)
    prefix = (
        base.select(F.col(id_col), F.col("ud"))
        .orderBy(id_col)
        .limit(max(n_cells, n_codes))
        .collect()
    )
    dim = len(prefix[0].ud)
    bounds = [(j * dim // m, (j + 1) * dim // m) for j in range(m)]
    # ---- IVF coarse cells + PQ codebooks, trained in ONE fused update
    # collect (r14 — was two sequential collects plus an eager checkpoint
    # of the single-use subvector explode)
    assign, cents, codebook = _lloyd_ivf_pq_train(
        base, bounds, n_cells, n_codes, prefix, id_col
    )
    # lazy (r15): every consumer (codes explode, probe window, ADC query
    # table, rerank vector sides) runs inside the final action and the
    # first to materialize computes all partitions — eager paid one extra
    # driver-blocking job at build
    assigned = lazy_ckpt(assign.select(
        F.col("vec_id").alias(id_col),
        F.col("v").alias("ud"),
        F.col("cluster").alias("cell"),
    ))
    centroids = driver_literal_df(df.sparkSession,
        [(c, v) for c, v in sorted(cents.items())],
        "cell int, cvec array<double>",
    )

    sub_structs = _sub_structs(bounds)
    d2 = _sub_d2()
    codes = (
        assigned.select(id_col, "cell", F.inline(sub_structs))
        .join(F.broadcast(codebook), "j")
        .withColumn("d2", d2)
        .groupBy(id_col, "cell", "j")
        .agg(F.min_by("code", F.struct("d2", "code")).alias("code"))
    )

    # ---- query side: probe the n_probe nearest cells, build ADC tables
    q = assigned.where(query_pred).select(
        F.col(id_col).alias("query_id"), F.col("ud").alias("qud")
    )
    cd2 = hround(
        F.aggregate(
            F.zip_with(F.col("qud"), F.col("cvec"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    probe_w = W.partitionBy("query_id").orderBy(F.col("cd2"), F.col("cell"))
    probes = (
        q.join(F.broadcast(centroids))
        .withColumn("cd2", cd2)
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "cell")
    )
    qtab = (
        assigned.where(query_pred)
        .select(F.col(id_col).alias("query_id"), F.inline(sub_structs))
        .join(F.broadcast(codebook), "j")
        .withColumn("d2", d2)
        .select("query_id", "j", "code", "d2")
    )

    # ---- ADC restricted to probed cells
    scored = (
        codes.join(F.broadcast(probes), "cell")
        .join(F.broadcast(qtab), ["query_id", "j", "code"])
        .where(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(
            F.sum(F.col("d2").cast("decimal(18,6)")).cast("double").alias("adist"),
            F.count(F.lit(1)).alias("_nj"),
        )
        .where(F.col("_nj") == m)  # all m subspace lookups present
        .drop("_nj")
    )
    w = W.partitionBy("query_id").orderBy(F.col("adist"), F.col(id_col))
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= max(rerank, k))
        .select("query_id", F.col(id_col).alias("neighbor_id"), "adist", "rank")
    )
    if rerank <= k:
        return shortlist
    vecs = assigned.select(F.col(id_col).alias("_vid"), F.col("ud").alias("_ud"))
    exact = (
        shortlist.join(
            vecs.select(F.col("_vid").alias("query_id"), F.col("_ud").alias("_qud")),
            "query_id",
        )
        .join(
            vecs.select(F.col("_vid").alias("neighbor_id"), F.col("_ud").alias("_cud")),
            "neighbor_id",
        )
        .withColumn("cos", hround(dot(F.col("_qud"), F.col("_cud")), 6))
    )
    w2 = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adist", "rank")
    )


RP_SEED = "rp:42:"


def rp_sign_matrix(d_in: int, d_out: int, seed: str = RP_SEED) -> list[list[float]]:
    """Deterministic Achlioptas +-1 sign matrix from md5 parity of
    "{seed}{j}:{i}" — computed driver-side once (d_out x d_in floats)
    and embedded as plan literals, so the DuckDB oracle replays the
    identical matrix by construction (the generator embeds the same
    literals, not a SQL re-derivation)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}{j}:{i}".encode()).hexdigest()[:7], 16) % 2 == 0
            else -1.0
            for i in range(d_in)
        ]
        for j in range(d_out)
    ]


def random_project(
    df: DataFrame,
    d_in: int = 64,
    d_out: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = RP_SEED,
) -> DataFrame:
    """Johnson-Lindenstrauss sign projection: pv[j] = dot(v, s_j) /
    sqrt(d_out). A NARROW projection — no shuffle, no UDF; each output
    coordinate is one sequential fold over the input vector, all inside
    whole-stage codegen. At 100 TB this is the cheap first stage before
    any distance work: 4x fewer bytes into every downstream shuffle
    (LSH banding, IVF assignment, brute-force rerank) for a bounded,
    well-understood distance distortion (JL lemma, ~1/sqrt(d_out) mean
    cosine error). That distortion makes it a SHORTLIST stage, not a
    ranker: use projected distances to generate candidates, re-rank the
    shortlist with exact cosine. Both the coarse-recall floor and the
    1/sqrt(d_out) error scaling are pinned by pytests, not assumed."""
    signs = rp_sign_matrix(d_in, d_out, seed)
    scale = float(d_out) ** 0.5
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # fail-loud dimension guard (ADVICE r8): zip_with pads a mismatched
    # vector with nulls, which would yield silently-null projections.
    # Executor-side raise_error — no driver round-trip, no extra job.
    vd = F.when(
        F.size(vd) == F.lit(d_in), vd
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"random_project: expected d_in={d_in} but vector has length "),
                F.size(vd).cast("string"),
            )
        )
    )
    e = df.select(F.col(id_col), vd.alias("_vd"))
    # one parsed sign-matrix literal; proj[j] = dot(v, s_j)/scale exactly
    # as the unrolled form (same fold, same division), built without
    # d_out*d_in py4j literal calls (r14, guide §1.2)
    proj = F.transform(
        F.expr(_matrix_sql(signs)),
        lambda row: dot(F.col("_vd"), row) / F.lit(scale),
    )
    return e.select(id_col, proj.alias(vec_col))


RH_SEED = "rhlsh:42:"


def rh_planes(
    d_in: int, n_bits: int, num_tables: int, seed: str = RH_SEED
) -> list[list[list[float]]]:
    """Deterministic random-hyperplane family: ``num_tables`` tables of
    ``n_bits`` ±1-sign hyperplanes each, from the same md5-parity
    generator as ``rp_sign_matrix`` (per-table seed suffix). Driver-side
    literals — the DuckDB oracle embeds the identical planes, which is
    what makes the whole LSH tier hash-replayable (the r7 Lloyd trick
    applied to LSH; pyspark.ml's BRP-LSH hashes never were)."""
    return [
        rp_sign_matrix(d_in, n_bits, seed=f"{seed}{t}:") for t in range(num_tables)
    ]


def rh_bucket_expr(vec, planes_t: list[list[float]]):
    """Bucket id of ``vec`` in one table: bit j set iff
    dot(vec, plane_j) >= 0 (SimHash / Charikar 2002 cosine LSH)."""
    bits = [
        F.when(
            dot(vec, F.array(*[F.lit(s) for s in plane])) >= F.lit(0.0),
            F.lit(1 << j),
        ).otherwise(F.lit(0))
        for j, plane in enumerate(planes_t)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def _matrix_sql(rows: list[list[float]]) -> str:
    """SQL literal text for a list-of-rows double matrix — ONE parsed
    expression instead of rows*cols py4j Column constructions. ``!r``
    preserves the exact IEEE doubles (repr round-trips)."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(f"{s!r}D" for s in row) + ")" for row in rows
        )
        + ")"
    )


def rh_tables_expr(vec, planes: list[list[list[float]]]):
    """(t, b) bucket structs of ``vec`` for a WHOLE plane family, as one
    expression over a single nested array literal. Value-identical to
    ``array(struct(t, rh_bucket_expr(vec, planes[t])) for t)`` — the bit
    fold is aggregate(reverse(bits), 0, acc*2+x) = sum(bit_j << j) in
    plain integer arithmetic — but the driver builds ONE parsed literal
    instead of tables*bits*dim py4j Column calls (r14, guide §1.2: 8 s
    of pure expression construction on the banded tier at 12x6x64)."""
    fam = (
        "array("
        + ",".join(_matrix_sql(table) for table in planes)
        + ")"
    )

    def bucket(table):
        bits = F.transform(
            table,
            lambda plane: F.when(dot(vec, plane) >= F.lit(0.0), F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
        return F.aggregate(
            F.reverse(bits), F.lit(0), lambda acc, x: acc * 2 + x
        ).cast("int")

    return F.transform(
        F.expr(fam),
        lambda table, t: F.struct(
            t.cast("int").alias("t"), bucket(table).alias("b")
        ),
    )


def rh_lsh_topk(
    df: DataFrame,
    query_pred,
    k: int = 5,
    d_in: int = 64,
    n_bits: int = 6,
    num_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = RH_SEED,
) -> DataFrame:
    """Approximate cosine top-k via deterministic random-hyperplane LSH:
    candidates are vectors sharing the query's bucket in >= 1 of
    ``num_tables`` hash tables; every candidate is then scored with the
    EXACT cosine and ranked (precision is exact, recall is the only
    approximation — raise num_tables/lower n_bits to push it up).

    Scale shape: the hash table is a (num_tables x corpus)-row key table
    built by one narrow projection + explode; candidate generation is an
    equi-join on (table, bucket) with the (small) query side broadcast —
    never a nested-loop or all-pairs comparison; distinct collapses
    multi-table collisions BEFORE the exact re-rank so each surviving
    pair is scored once; per-bucket population is corpus/2^n_bits by the
    balanced-sign construction, so the candidate volume is tunable and
    skew-free on centered data. SIZING RULE at scale: candidate volume
    is ~ num_tables * queries * corpus / 2^n_bits, so n_bits must grow
    with log2(corpus) to hold per-query candidates constant (e.g.
    n_bits = log2(corpus / target_bucket_size)) — fixed bits on a
    growing corpus degrades to a linear scan per query, not a failure
    but a waste. Unlike pyspark.ml's BucketedRandomProjectionLSH
    (seeded JVM RNG, not replayable off-Spark), the hyperplanes are
    md5-parity literals: the identical family replays in DuckDB and the
    query is graded hash-exact, not rows-only."""
    planes = rh_planes(d_in, n_bits, num_tables, seed)
    e = with_norm(df.select(id_col, vec_col), vec_col)
    # fail-loud on dimension mismatch, same contract as random_project
    # (ADVICE r9): without this, a short/long vector null-pads through
    # zip_with, every plane dot comes back null, all when() bits fall to
    # 0, and the bad vector silently lands in bucket 0 of EVERY table
    e = e.withColumn(
        "vd",
        F.when(F.size(F.col("vd")) == F.lit(d_in), F.col("vd")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"rh_lsh_topk: expected d_in={d_in} but vector has length "
                    ),
                    F.size(F.col("vd")).cast("string"),
                )
            )
        ),
    )
    tb = rh_tables_expr(F.col("vd"), planes)
    keys = e.select(
        F.col(id_col).alias("_id"), F.explode(tb).alias("tb")
    ).select("_id", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
    qk = keys.join(
        e.where(query_pred).select(F.col(id_col).alias("_id")), "_id"
    ).select(F.col("_id").alias("query_id"), "t", "b")
    cand = (
        keys.join(F.broadcast(qk), ["t", "b"])
        .where(F.col("_id") != F.col("query_id"))
        .select("query_id", F.col("_id").alias("neighbor_id"))
        .distinct()
    )
    vecs = e.select(F.col(id_col).alias("_vid"), "vd", "nrm")
    scored = (
        cand.join(
            F.broadcast(
                vecs.select(
                    F.col("_vid").alias("query_id"),
                    F.col("vd").alias("qvd"),
                    F.col("nrm").alias("qnrm"),
                )
            ),
            "query_id",
        )
        .join(
            vecs.select(
                F.col("_vid").alias("neighbor_id"),
                F.col("vd").alias("cvd"),
                F.col("nrm").alias("cnrm"),
            ),
            "neighbor_id",
        )
        .withColumn(
            "cos", dot(F.col("qvd"), F.col("cvd")) / (F.col("qnrm") * F.col("cnrm"))
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def cosine_banded_candidates(
    df: DataFrame,
    d_in: int = 64,
    n_bits: int = 6,
    num_tables: int = 12,
    max_bucket: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = RH_SEED,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) colliding in >= 1 hyperplane-
    signature bucket, with GUARANTEED bounded expansion: every
    (table, bucket) cell is hash-sub-split to <= ~max_bucket members
    (the SemDeDup valve, llm_data10.SEMDEDUP_MAX_CLUSTER), so candidate
    volume is O(num_tables * n * max_bucket) BY CONSTRUCTION — even on
    adversarial data where every vector lands in one bucket. That bound
    is what the pyspark.ml BRP path (`cosine_lsh_candidate_pairs`)
    lacks: round-13 measurement showed its bucketLength=2.0 hashes put
    ~all unit vectors in 2 buckets, degrading candidates to all-pairs
    (SCALING.md). The md5-parity planes and md5 sub-split replay
    verbatim in DuckDB, so a query built on this is graded hash-exact
    even though recall < 1 (missed-collision pairs AND cross-sub pairs
    in over-full buckets are dropped deterministically on both sides).

    Recall sizing (Charikar hyperplane LSH): a pair at cosine c collides
    per table with prob (1 - acos(c)/pi)^n_bits; union over num_tables.
    n_bits should grow ~log2(n / max_bucket) with corpus size so the
    sub-split valve stays disengaged on non-adversarial data."""
    planes = rh_planes(d_in, n_bits, num_tables, seed)
    e = with_norm(df.select(id_col, vec_col), vec_col).where(F.col("nrm") > 0)
    tb = rh_tables_expr(F.col("vd"), planes)
    # one narrow key table feeds the size count AND both join sides —
    # freeze it so the plane dots run once (repo checkpoint idiom)
    h = (
        e.select(F.col(id_col).alias("id"), F.explode(tb).alias("tb"))
        .select("id", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
        .localCheckpoint(eager=False)
    )
    sizes = h.groupBy("t", "b").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(float(max_bucket)))
        .cast("long")
        .alias("n_sub")
    )
    # sizes is <= num_tables * 2^n_bits rows — metadata; broadcast
    hs = h.join(F.broadcast(sizes), ["t", "b"]).withColumn(
        "sub",
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 7), 16, 10)
        .cast("long")
        % F.col("n_sub"),
    )
    a, b = hs.alias("a"), hs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.b") == F.col("b.b"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def cosine_banded_pairs(
    df: DataFrame,
    threshold: float,
    d_in: int = 64,
    n_bits: int = 6,
    num_tables: int = 12,
    max_bucket: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = RH_SEED,
) -> DataFrame:
    """Bounded-expansion cosine near-dup pairs: hyperplane-banded
    candidates (``cosine_banded_candidates`` — O(n * max_bucket *
    num_tables) pair expansion by construction) verified with the exact
    cosine. Precision exact; recall is the banding collision probability
    — deterministic, and replayed verbatim by the DuckDB oracle."""
    cand = cosine_banded_candidates(
        df, d_in, n_bits, num_tables, max_bucket, id_col, vec_col, seed
    )
    e = with_norm(df.select(id_col, vec_col), vec_col).where(F.col("nrm") > 0)
    n = e.select(F.col(id_col).alias("id"), "vd", "nrm")
    return (
        cand.join(
            n.select(
                F.col("id").alias("id_a"),
                F.col("vd").alias("va"),
                F.col("nrm").alias("na"),
            ),
            "id_a",
        )
        .join(
            n.select(
                F.col("id").alias("id_b"),
                F.col("vd").alias("vb"),
                F.col("nrm").alias("nb"),
            ),
            "id_b",
        )
        .withColumn("cos", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .where(F.col("cos") >= F.lit(threshold))
        .select("id_a", "id_b", "cos")
    )


def mmr_rerank(
    df: DataFrame,
    query_pred,
    k: int = 5,
    n_cand: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shortlist: str = "exact",
    ivf_n_cells: int = 8,
    ivf_n_probe: int = 2,
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
    greedily pick k results from the exact top-``n_cand`` cosine
    shortlist, each step maximizing ``lam * rel - (1 - lam) * max-sim to
    the already-selected set`` (ties on the lower candidate id). The
    retrieval-diversity step of a RAG / hard-negative pipeline.

    Deterministic, and bit-identical to the unrolled relational form
    the DuckDB oracle replays (k window-argmax stages — the BPE merge
    oracle idiom): relevance and pairwise sims are computed in the JVM
    exactly as before, and the greedy selection applies the same IEEE
    arithmetic (score = lam*rel - (1-lam)*maxsim with driver-computed
    float constants — 1.0 - 0.7 is not 0.3 in IEEE) and the same
    (score desc, id asc) tie-break, per query, in one grouped local
    pass. Parity with the unrolled oracle is strict-checked.

    Scale shape: candidate generation is the broadcast top-k; the
    pairwise-sim table is per-query n_cand^2 rows (a bounded equi-join
    on query_id, never corpus-quadratic); the k greedy steps — which
    are sequential by definition — run inside ONE task per query-group
    over those bounded rows (r14: the former k unrolled window stages
    paid ~2k sequential shuffle barriers for microseconds of work). k
    and n_cand are small constants chosen by the caller, so the rerank
    is O(queries * n_cand^2), one exchange, independent of corpus size."""
    mu = 1.0 - lam
    # candidate stage is PLUGGABLE: exact brute-force top-n_cand, or the
    # IVF tier (broadcast centroids, probed cells only) — the greedy
    # re-rank below is identical either way. Both emit RAW cosines,
    # which the oracles replay bit-exactly.
    if shortlist == "ivf":
        cand = ivf_topk(
            df, query_pred, k=n_cand, id_col=id_col, vec_col=vec_col,
            n_cells=ivf_n_cells, n_probe=ivf_n_probe,
        )
    else:
        cand = cosine_topk(df, query_pred, k=n_cand, id_col=id_col, vec_col=vec_col)
    # localCheckpoint the shortlist: it feeds three subtrees (both
    # pairwise-sim join sides and the greedy cogroup below), and without
    # a lineage cut Spark re-executes the corpus top-k once per
    # reference — the connected-components lesson. Lazy, so nothing
    # driver-blocking runs at build time beyond AQE stage finalization.
    short = (
        cand.select(
            "query_id", F.col("neighbor_id").alias("cid"), F.col("cos").alias("rel")
        )
        .localCheckpoint(eager=False)
    )
    e = with_norm(df.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("_id"), F.col("vd").alias("_v"), F.col("nrm").alias("_n")
    )
    a = short.select("query_id", F.col("cid").alias("a")).join(
        e.select(F.col("_id").alias("a"), F.col("_v").alias("va"), F.col("_n").alias("na")),
        "a",
    )
    b = short.select("query_id", F.col("cid").alias("b")).join(
        e.select(F.col("_id").alias("b"), F.col("_v").alias("vb"), F.col("_n").alias("nb")),
        "b",
    )
    # a and b are BOUNDED decision frames (queries * n_cand rows each,
    # corpus-independent by the operator's contract); broadcast the b
    # side — the checkpointed-shortlist lineage has no size stats, so
    # the planner otherwise sort-merges this join and exchanges+sorts
    # both sides (r15, guide §3.1)
    pair = (
        a.join(F.broadcast(b), "query_id")
        .where(F.col("a") != F.col("b"))
        .select(
            "query_id",
            "a",
            "b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("sim"),
        )
    )
    # ---- greedy selection: ONE grouped local pass (r14, guide §1.2 +
    # §8 "decide with small rows"). The k greedy steps are inherently
    # sequential, but each operates on a BOUNDED per-query candidate set
    # (n_cand rel rows + n_cand^2 sim rows — decisions, not payload), so
    # unrolling them into k window/join/checkpoint stages paid ~2k
    # sequential shuffle barriers (measured 54 driver-blocking jobs,
    # ~10 s build for the IVF variant at sf0.1) for work a single task
    # finishes in microseconds. The cogroup ships each query's shortlist
    # and sim table through ONE exchange and replays the identical
    # float arithmetic per step — score = lam * rel - (1-lam) * maxsim
    # with the same IEEE doubles (lam/mu are the same Python floats the
    # unrolled form embedded as literals; sims/rels are the unchanged
    # JVM-computed values) and the same (score desc, cid asc)
    # tie-break, so the output is bit-identical to the unrolled form
    # (strict-checked vs the unrolled DuckDB oracle, which remains the
    # relational replay). Scale: O(queries * n_cand^2) rows through one
    # exchange, parallel in queries, independent of corpus size.
    lam_f, mu_f, k_f = float(lam), float(mu), int(k)

    def _greedy(sdf, pdf):
        import pandas as pd

        if len(sdf) == 0:
            return pd.DataFrame(
                {"query_id": [], "cid": [], "score": [], "step": []}
            )
        qid = sdf["query_id"].iloc[0]
        # ids stay whatever type the caller's id_col is (tolist() maps
        # int64 -> int, strings stay str — only hashability is needed)
        cands = sorted(
            (float(r), c) for c, r in zip(sdf["cid"].tolist(), sdf["rel"].tolist())
        )
        sims_by_a: dict = {}
        for a_, b_, s_ in zip(
            pdf["a"].tolist(), pdf["b"].tolist(), pdf["sim"].tolist()
        ):
            sims_by_a.setdefault(a_, []).append((b_, float(s_)))
        # step 1: max rel, ties -> lower cid (row_number over
        # (rel desc, cid asc) == max of (rel, -cid) lexicographically;
        # iterate explicitly to keep the comparison semantics plain)
        best = None
        for r, c in cands:
            if best is None or r > best[0] or (r == best[0] and c < best[1]):
                best = (r, c)
        selected = [best[1]]
        rows = [(qid, best[1], lam_f * best[0], 1)]
        for step in range(2, k_f + 1):
            sel_set = set(selected)
            pick = None
            for r, c in cands:
                if c in sel_set:
                    continue
                sims = [s for b_, s in sims_by_a.get(c, ()) if b_ in sel_set]
                if not sims:
                    # mirrors the unrolled form's INNER join to the
                    # maxsim table: a candidate with no sim row to any
                    # selected doc is excluded from this step
                    continue
                score = lam_f * r - mu_f * max(sims)
                if (
                    pick is None
                    or score > pick[0]
                    or (score == pick[0] and c < pick[1])
                ):
                    pick = (score, c)
            if pick is None:
                break
            selected.append(pick[1])
            rows.append((qid, pick[1], pick[0], step))
        out = pd.DataFrame(rows, columns=["query_id", "cid", "score", "step"])
        return out

    types = {f.name: f.dataType.simpleString() for f in short.schema.fields}
    # pair derives from short (both sim-join sides), so its query_id
    # carries short's exprId; cogrouping the two as-is trips Spark's
    # ambiguous-self-join detection. Re-aliasing the grouping column
    # mints a fresh attribute for the right side — same values, and the
    # cogroup matches groups positionally, so the key rename is free.
    pair_g = pair.select(F.col("query_id").alias("_qid"), "a", "b", "sim")
    out = (
        short.groupBy("query_id")
        .cogroup(pair_g.groupBy("_qid"))
        .applyInPandas(
            _greedy,
            schema=(
                f"query_id {types['query_id']}, cid {types['cid']}, "
                "score double, step int"
            ),
        )
    )
    return out.select(
        "query_id", F.col("cid").alias("selected_id"), "step", "score"
    )
