"""Unit/property tests for round-5/6 operator additions: deterministic
Lloyd k-means, lossless SimHash Hamming banding, EWMA folding, advisor
edge-case guards, vocab-scale caps, MinHash permutation independence,
and containment-vs-Jaccard asymmetry (oracle parity for each registered
query lives in test_queries_contract via the registry)."""

from __future__ import annotations

from pyspark.sql import functions as F

from les_etl_pipeline_spark.operators import clustering, dedup


def _hamming(a: str, b: str) -> int:
    return sum(1 for x, y in zip(a, b) if x != y)


def test_simhash_banding_is_lossless(spark, sf_dir):
    """Pigeonhole guarantee: the banded candidate filter finds EXACTLY
    the brute-force Hamming<=3 pair set (no recall loss)."""
    from les_etl_pipeline_spark.catalog import table

    docs = table(spark, sf_dir, "documents")
    sigs = {r.doc_id: r.simhash for r in dedup.simhash_signatures(docs).collect()}
    ids = sorted(sigs)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if _hamming(sigs[a], sigs[b]) <= 3
    }
    banded = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_hamming_pairs(docs, max_hamming=3, n_bands=4).collect()
    }
    assert banded == brute


def test_simhash_hamming_requires_enough_bands():
    import pytest

    with pytest.raises(ValueError):
        dedup.simhash_hamming_pairs(None, max_hamming=4, n_bands=4)


def test_simhash_hamming_requires_divisible_bands():
    """n_bands must divide 64: n_bands=3 would cover only 63 signature
    bits, silently corrupting both band keys and the popcount."""
    import pytest

    with pytest.raises(ValueError, match="divide 64"):
        dedup.simhash_hamming_pairs(None, max_hamming=2, n_bands=3)


def test_power_iteration_zero_embeddings_returns_zero(spark):
    """All-zero input must not raise ZeroDivisionError: the top
    component is undefined, the operator returns the zero vector."""
    rows = [(i, [0.0] * 8) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id int, v array<double>")
    v, lam = clustering.power_iteration_top_component(
        df, vec_col="v", id_col="vec_id", dims=8
    )
    assert lam == 0.0
    assert v == [0.0] * 8


def test_kmeans_lloyd_partition_and_monotonicity(spark, sf_dir):
    """Every vector assigned exactly once; total within-cluster squared
    distance does not increase from the seed assignment to the
    post-update assignment (Lloyd monotonicity, up to the 6dp centroid
    rounding tolerance)."""
    from les_etl_pipeline_spark.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    a1 = clustering.kmeans_lloyd(emb, k=4, iters=1)
    a2 = clustering.kmeans_lloyd(emb, k=4, iters=2)
    assert a1.count() == n and a2.count() == n
    assert a2.select("vec_id").distinct().count() == n
    sse1 = a1.agg(F.sum("d")).collect()[0][0]
    sse2 = a2.agg(F.sum("d")).collect()[0][0]
    assert sse2 <= sse1 + 1e-3 * n  # rounding tolerance
    assert a2.select("cluster").distinct().count() <= 4


def test_assign_rejects_non_finite_centroids(spark):
    """A NaN or infinite centroid component fails with a clear ValueError
    (it used to render as ``nanD``/``infD`` and fail the SQL parse; a NaN
    distance would floor to 0 and win every argmin). Finite centroids
    still assign."""
    import pytest

    e = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0])], "vec_id long, v array<double>"
    )
    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError, match="centroid 1 has a non-finite"):
            clustering._assign(e, {0: [0.5, 0.5], 1: [bad, 0.0]})
    got = {r.vec_id: (r.cluster, r.d)
           for r in clustering._assign(e, {0: [0.5, 0.5], 1: [3.0, 3.0]}).collect()}
    assert got == {1: (0, 0.5), 2: (0, 0.5)}


def test_ewma_degenerate_alphas(spark, monkeypatch):
    """alpha folding sanity on a hand-built series: the fold reproduces
    the recurrence exactly, and a constant series stays constant."""
    from les_etl_pipeline_spark.queries import llm_data8

    rows = [(1, f"2024-01-{d:02d} 00:00:0{i}", i) for d in (1, 2, 3) for i in range(d)]
    df = spark.createDataFrame(
        [(u, ts, 0) for (u, ts, _e) in rows], "user_id long, ts_s string, pad int"
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))

    class _T:
        @staticmethod
        def fake_table(_spark, _sf, name):
            assert name == "events"
            return df

    monkeypatch.setattr(llm_data8, "table", _T.fake_table)
    got = {
        (r.user_id, str(r.day)): (r.n_events, r.ewma)
        for r in llm_data8.events_ewma_daily(spark, "unused").collect()
    }
    # counts per day: 1, 2, 3 -> ewma: 1.0, .3*2+.7*1=1.3, .3*3+.7*1.3=1.81
    assert got[(1, "2024-01-01")] == (1, 1.0)
    assert got[(1, "2024-01-02")] == (2, 1.3)
    assert abs(got[(1, "2024-01-03")][1] - 1.81) < 1e-9


def test_aligned_spans_detect_planted_overlap(spark):
    """Two docs sharing a 20-word run (>= w+k-1 guarantee zone) must
    surface as a pair whose best diagonal matches the planted offset and
    whose span covers most of the run; two unrelated docs must not."""
    from les_etl_pipeline_spark.operators import dedup, text as text_ops

    shared = " ".join(f"tok{i}" for i in range(20))
    docs = [
        (1, "alpha beta " + shared + " gamma"),          # run starts at word 2
        (2, shared + " delta epsilon zeta"),             # run starts at word 0
        (3, " ".join(f"other{i}" for i in range(30))),   # unrelated
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fp = text_ops.winnowing_fingerprints(df, k=3, w=4)
    spans = {
        (r.id_a, r.id_b): r
        for r in dedup.aligned_fingerprint_spans(fp, k=3, min_aligned=2).collect()
    }
    assert set(spans) == {(1, 2)}
    r = spans[(1, 2)]
    assert r.diag == 2                # planted alignment offset
    assert r.span_words >= 10         # covers a large part of the 20-word run
    assert r.n_aligned >= 2


def test_sql_scripting_control_flow(spark, sf_dir):
    """Spark 4 SQL scripting: DECLARE + WHILE control flow runs
    server-side (compound statements), returning the final SELECT.
    Engine-feature coverage: scripted orchestration replaces driver-side
    Python loops for simple iterative SQL logic."""
    from les_etl_pipeline_spark.catalog import table

    table(spark, sf_dir, "nation").createOrReplaceTempView("t_nation")
    out = spark.sql(
        """
        BEGIN
          DECLARE i INT DEFAULT 0;
          DECLARE total BIGINT DEFAULT 0;
          WHILE i < 5 DO
            SET total = total + (SELECT count(*) FROM t_nation WHERE n_regionkey = i);
            SET i = i + 1;
          END WHILE;
          SELECT total AS n_nations;
        END
        """
    ).collect()
    expect = spark.table("t_nation").where("n_regionkey < 5").count()
    assert out[0]["n_nations"] == expect
    spark.catalog.dropTempView("t_nation")


def test_ewma_matches_python_reference_random_series(spark):
    """events_ewma_daily vs a plain-Python recurrence over 20 seeded
    random series (one Spark job for all of them — per-series jobs would
    be all overhead)."""
    import random

    from les_etl_pipeline_spark.queries import llm_data8

    rnd = random.Random(7)
    events, expect = [], {}
    for u in range(20):
        days = [d for d in range(1, 28) if rnd.random() < 0.6]
        counts = {d: rnd.randint(1, 5) for d in days}
        prev = None
        for d in days:
            for i in range(counts[d]):
                events.append((u, f"2024-03-{d:02d} 12:00:{i:02d}"))
            x = float(counts[d])
            prev = x if prev is None else 0.3 * x + 0.7 * prev
            expect[(u, f"2024-03-{d:02d}")] = (counts[d], prev)
    df = spark.createDataFrame(events, "user_id long, ts_s string").select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts")
    )

    def fake_table(_spark, _sf, name):
        assert name == "events"
        return df

    orig = llm_data8.table
    llm_data8.table = fake_table
    try:
        got = {
            (r.user_id, str(r.day)): (r.n_events, r.ewma)
            for r in llm_data8.events_ewma_daily(spark, "unused").collect()
        }
    finally:
        llm_data8.table = orig
    assert set(got) == set(expect)
    for k, (n, e) in expect.items():
        assert got[k][0] == n, k
        assert abs(got[k][1] - e) < 1e-6, k  # query rounds ewma to 6dp


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema drift across ingestion batches: a later batch adds a
    column; mergeSchema reads the union schema with nulls for the old
    batch, and the narrow read stays narrow (evolution must not force a
    rewrite of historical partitions)."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(f"{p}/b=1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.parquet(f"{p}/b=2")
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "v", "score", "b"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}
    narrow = spark.read.option("mergeSchema", "true").parquet(p).select("id", "v")
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "score" not in plan  # pruned despite the merged schema


def test_modern_sql_ergonomics(spark, sf_dir):
    """Spark 4 SQL ergonomics a migrating SQL user relies on: SELECT *
    EXCEPT, lateral column aliases, IDENTIFIER() parameterization, and
    ORDER BY ALL."""
    from les_etl_pipeline_spark.catalog import table

    table(spark, sf_dir, "region").createOrReplaceTempView("t_region")
    # * EXCEPT
    cols = spark.sql("SELECT * EXCEPT (r_name) FROM t_region").columns
    assert cols == ["r_regionkey"]
    # lateral column alias: x referenced in the same SELECT list
    row = spark.sql(
        "SELECT r_regionkey + 1 AS x, x * 10 AS y FROM t_region ORDER BY ALL LIMIT 1"
    ).collect()[0]
    assert (row.x, row.y) == (1, 10)
    # IDENTIFIER() binds a table name from a parameter
    n = spark.sql("SELECT count(*) AS n FROM IDENTIFIER(:t)", args={"t": "t_region"})
    assert n.collect()[0].n == 5
    spark.catalog.dropTempView("t_region")


def test_bfs_distances_invariants(spark):
    """Source at distance 0; direct neighbors at 1; a node beyond the
    hop bound is absent; distances respect edge relaxation (no pair of
    adjacent nodes differs by more than 1)."""
    from les_etl_pipeline_spark.operators.graph import bfs_distances

    # path graph 1-2-3-4-5-6-7 plus a shortcut 1-4
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7)], "a long, b long"
    )
    d = {r.node: r.dist for r in bfs_distances(edges, 1, max_hops=3).collect()}
    assert d == {1: 0, 2: 1, 3: 2, 4: 3}  # 5,6,7 beyond 3 hops
    shortcut = edges.union(spark.createDataFrame([(1, 4)], "a long, b long"))
    d2 = {r.node: r.dist for r in bfs_distances(shortcut, 1, max_hops=3).collect()}
    assert d2[4] == 1 and d2[5] == 2 and d2[6] == 3  # relaxed through shortcut


def test_column_defaults_on_insert(spark):
    """DDL column DEFAULTs (Spark 4, parquet v1 tables): omitted columns
    take the declared default on INSERT — the schema-contract feature a
    warehouse migrator expects."""
    import shutil

    spark.sql("DROP TABLE IF EXISTS t_def")
    shutil.rmtree("spark-warehouse/t_def", ignore_errors=True)
    try:
        spark.sql("CREATE TABLE t_def (id INT, status STRING DEFAULT 'new') USING parquet")
        spark.sql("INSERT INTO t_def (id) VALUES (1)")
        spark.sql("INSERT INTO t_def VALUES (2, 'done')")
        rows = {r.id: r.status for r in spark.sql("SELECT * FROM t_def").collect()}
        assert rows == {1: "new", 2: "done"}
    finally:
        spark.sql("DROP TABLE IF EXISTS t_def")


def test_polymorphic_udtf_analyze(spark):
    """Polymorphic Python UDTF (Spark 4): analyze() derives the output
    schema from the ARGUMENT value at plan time — one UDTF serves any
    requested column fan-out."""
    from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult, lit, udtf
    from pyspark.sql.types import IntegerType, StructType

    @udtf
    class Spread:
        @staticmethod
        def analyze(n: AnalyzeArgument) -> AnalyzeResult:
            schema = StructType()
            for i in range(n.value):
                schema = schema.add(f"c{i}", IntegerType())
            return AnalyzeResult(schema=schema)

        def eval(self, n: int):
            yield tuple(range(n))

    spark.udtf.register("spread", Spread)
    two = spark.sql("SELECT * FROM spread(2)")
    three = spark.sql("SELECT * FROM spread(3)")
    assert two.columns == ["c0", "c1"] and two.collect()[0][1] == 1
    assert three.columns == ["c0", "c1", "c2"] and three.collect()[0][2] == 2


def test_pandas_api_on_spark_interop(spark, sf_dir):
    """pyspark.pandas surface: a pandas-style groupby/agg over the same
    parquet matches the DataFrame API — the migration bridge for
    pandas-fluent users runs on the same engine and data."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        import pyspark.pandas as ps

        psdf = ps.read_parquet(f"{sf_dir}/orders.parquet")
        got = psdf.groupby("o_orderstatus")["o_totalprice"].sum().to_dict()
    expect = {
        r.o_orderstatus: r.s
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderstatus")
        .agg(F.sum("o_totalprice").alias("s"))
        .collect()
    }
    assert set(got) == set(expect)
    for k in got:
        assert abs(got[k] - expect[k]) < 1e-6 * max(1.0, abs(expect[k]))


def test_power_iteration_converges_to_eigenvector(spark, sf_dir):
    """The iterate is ~unit-norm and near-fixed under one more
    iteration (cosine of consecutive iterates -> 1), i.e. it actually
    approximates the dominant eigenvector rather than just running."""
    import math

    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.operators.clustering import (
        power_iteration_top_component,
    )

    emb = table(spark, sf_dir, "embeddings")
    v2, lam2 = power_iteration_top_component(emb, iters=2)
    v3, lam3 = power_iteration_top_component(emb, iters=3)
    assert abs(math.sqrt(sum(x * x for x in v2)) - 1.0) < 1e-3
    cos = abs(sum(a * b for a, b in zip(v2, v3)))
    # convergence rate depends on the spectral gap; near-isotropic test
    # embeddings converge slowly, but the direction must already be far
    # from a random axis (|cos| of random unit 64-d vectors ~ 0.1)
    assert cos > 0.9, cos
    # the eigenvalue estimate grows monotonically toward lambda_max
    assert 0 < lam2 <= lam3 * (1 + 1e-9), (lam2, lam3)


def test_zipf_max_rank_cap(spark, sf_dir, monkeypatch):
    """ZIPF_MAX_RANK caps the fit to the vocab head: vocab_size equals
    the cap and the slope still comes out negative (Zipf-shaped)."""
    from les_etl_pipeline_spark.queries import llm_data8

    monkeypatch.setattr(llm_data8, "ZIPF_MAX_RANK", 10)
    row = llm_data8.text_zipf_fit(spark, sf_dir).collect()[0]
    assert row.vocab_size == 10
    assert row.zipf_slope < 0


def test_tfidf_uncapped_equals_exact(spark, sf_dir):
    """A max_df far above every fixture df keeps every token, so the
    capped builder must reproduce the exact baseline bit-for-bit — pins
    the cap to being a pure vocabulary restriction with no other
    semantic drift. (The registered default's cap of 1000 also keeps
    everything at this sf — dfs top out ~415 — so the driver's hash
    check runs the full-strength comparison.)"""
    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.queries import llm_data8

    exact = sorted(
        tuple(r)
        for r in llm_data8.text_tfidf_cosine_pairs_exact(spark, sf_dir).collect()
    )
    capped = sorted(
        tuple(r)
        for r in llm_data8.tfidf_cosine_pairs_df(
            table(spark, sf_dir, "documents"), 10**9
        ).collect()
    )
    registered = sorted(
        tuple(r) for r in llm_data8.text_tfidf_cosine_pairs(spark, sf_dir).collect()
    )
    assert capped == exact and exact
    assert registered == exact


def test_tfidf_max_df_restricts_vector_space(spark, sf_dir):
    """With the cap engaged (max_df=300 on the closed-vocab fixture:
    the 30 stop tokens sit at df ~390, the rare topic token at df ~25)
    only the rare token survives, so every surviving pair must score
    cos 1.0 (a single-dimension space) and pair exactly the docs
    sharing that token — pins that the cap prunes weights AND norms
    together (a vocabulary restriction, not a numerator shortcut)."""
    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.queries import llm_data8

    docs = table(spark, sf_dir, "documents")
    rows = llm_data8.tfidf_cosine_pairs_df(docs, 300).collect()
    assert rows and all(r.cos == 1.0 for r in rows)
    tc = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    kept = (
        tc.groupBy("tok")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") <= 300)
        .collect()
    )
    assert len(kept) == 1
    expect_pairs = kept[0].df * (kept[0].df - 1) // 2
    assert len(rows) == expect_pairs


def test_minhash_permutations_are_independent(spark, sf_dir):
    """Regression for the F.transform two-arg-lambda pitfall: a
    two-parameter lambda receives the ARRAY INDEX as its second argument,
    which once collapsed every 'permutation' to the same hash. The md5
    family must match the Kirsch-Mitzenmacher reference exactly, and
    both families must produce non-degenerate signatures."""
    import hashlib

    from les_etl_pipeline_spark.catalog import table

    docs = table(spark, sf_dir, "documents").limit(5)
    rows = {r.doc_id: r for r in docs.select("doc_id", "text").collect()}
    got = {
        r.doc_id: list(r.minhash)
        for r in dedup.minhash_signature_array(
            docs, hash_family="md5", n_hashes=4
        ).collect()
    }
    for did, sig in got.items():
        ws = rows[did].text.split(" ")
        shs = set(" ".join(ws[i : i + 3]) for i in range(len(ws) - 2))
        expect = []
        for i in range(4):
            best = None
            for s in shs:
                hx = hashlib.md5(s.encode()).hexdigest()
                g = (int(hx[:8], 16) + (42 + i) * (int(hx[8:16], 16) | 1)) % 2**32
                best = g if best is None else min(best, g)
            expect.append(best)
        assert sig == expect, did
    xs = dedup.minhash_signature_array(docs, hash_family="xxhash64", n_hashes=8)
    for r in xs.collect():
        assert len(set(r.minhash)) > 1, "degenerate signature: index-collapse bug"


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc fully contained in a long one: containment ~1.0 in
    the a-in-b direction while Jaccard stays below a typical 0.5 bar —
    the asymmetric signal the operator exists for."""
    short = " ".join(f"tok{i}" for i in range(12))
    long_ = short + " " + " ".join(f"pad{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, short), (2, long_)], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): (r.contain_a_in_b, r.contain_b_in_a)
        for r in dedup.ngram_containment_pairs(df, threshold=0.5).collect()
    }
    assert (1, 2) in got
    c_ab, c_ba = got[(1, 2)]
    assert c_ab == 1.0          # every shingle of the short doc is in the long
    assert c_ba < 0.5           # but not vice versa
    jac = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert not jac              # symmetric Jaccard misses the pair at 0.5


def test_jsd_disjoint_sources_report_ln2(spark, monkeypatch):
    """A source pair with fully disjoint vocabularies must appear in the
    output with jsd = ln 2 (the defined maximum), not be dropped by the
    common-token inner join."""
    import math

    from les_etl_pipeline_spark.queries import llm_data9

    df = spark.createDataFrame(
        [
            (1, "alpha beta alpha", "en", "s1", 10),
            (2, "gamma delta delta", "en", "s2", 10),
            (3, "alpha gamma", "en", "s3", 8),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(llm_data9, "table", lambda _s, _d, name: df)
    got = {
        (r.src_a, r.src_b): r.jsd
        for r in llm_data9.text_jsd_source_divergence(spark, "unused").collect()
    }
    assert set(got) == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}
    ln2_6 = __import__("math").floor(math.log(2.0) * 1e6 + 0.5) / 1e6
    assert got[("s1", "s2")] == ln2_6          # disjoint pair present at max
    assert 0.0 < got[("s1", "s3")] < ln2_6     # overlapping pairs in between
    assert 0.0 < got[("s2", "s3")] < ln2_6


def test_minhash_lsh_pairs_accuracy_vs_exact_jaccard(spark, sf_dir):
    """The pyspark.ml MinHashLSH tier (rows-only query dedup_minhash_lsh)
    pinned against exact shingle Jaccard: every true pair at Jaccard >=
    0.7 must be recalled, and the reported jaccard_distance must agree
    with 1 - true Jaccard (approxSimilarityJoin's distCol is the exact
    distance of candidate pairs, so only banding misses can diverge)."""
    from les_etl_pipeline_spark.catalog import table

    docs = table(spark, sf_dir, "documents")
    truth = {
        (r.id_a, r.id_b): r.jaccard_raw
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.05, max_shingle_freq=None
        ).collect()
    }
    est = {
        (r.id_a, r.id_b): r.jaccard_distance
        for r in dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.3).collect()
    }
    hi = {p for p, j in truth.items() if j >= 0.7}
    assert hi, "fixture must contain high-Jaccard pairs"
    recall = len(hi & set(est)) / len(hi)
    assert recall >= 0.9, recall
    errs = [abs((1 - est[p]) - truth[p]) for p in set(est) & set(truth)]
    assert errs and sum(errs) / len(errs) <= 0.05


def test_lsh_bucket_neighbors_recall_vs_bruteforce(spark, sf_dir):
    """The BucketedRandomProjectionLSH k-NN tier (rows-only query
    similarity_lsh_buckets) pinned against brute-force euclidean top-5
    (measured 0.92 mean recall at seed 42; bound set conservatively)."""
    import numpy as np

    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=float)
    out = similarity.lsh_bucket_neighbors(emb, F.col("vec_id") < 10, k=5, seed=42)
    got: dict[int, set] = {}
    for r in out.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = []
    for q in range(10):
        qi = np.where(ids == q)[0][0]
        d = np.linalg.norm(V - V[qi], axis=1)
        d[qi] = np.inf
        exact5 = set(ids[np.argsort(d)[:5]].tolist())
        recalls.append(len(exact5 & got.get(q, set())) / 5)
    assert sum(recalls) / len(recalls) >= 0.7, recalls
    assert min(recalls) >= 0.4, recalls
