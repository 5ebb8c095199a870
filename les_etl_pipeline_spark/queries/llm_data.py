"""LLM-data-pipeline operators as verifiable queries (BASELINE.json north
star): deduplication (exact / n-gram Jaccard / SimHash / MinHash-LSH),
similarity search (brute-force cosine top-k, threshold pairs, LSH), text
analysis (token counts, quality, language-ID, fingerprints), and
multimodal binary plumbing.

Every SQL-expressible operator carries a DuckDB oracle running the
IDENTICAL arithmetic (md5-derived bits, double-cast dot products, the
portable floor rounding) so values hash-match exactly. MinHash/LSH are
approximate by construction -> rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.rounding import hround
from ..operators import dedup, multimodal, similarity, text
from . import _pq_oracle
from .registry import register


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------
@register(
    "dedup_exact_documents",
    oracle="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS canonical_id,
           count(*)    AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(table(spark, sf_dir, "documents"))


@register(
    "dedup_exact_normalized",
    oracle="""
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash,
           min(doc_id) AS canonical_id,
           count(*)    AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(table(spark, sf_dir, "documents"), normalize=True)


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS w,
             unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS s
        FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
      ) WHERE s IS NOT NULL
    ), sz AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           (floor((i / (sa.n + sb.n - i)) * 10000.0 + 0.5) / 10000.0) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE i / (sa.n + sb.n - i) >= 0.1
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), k=3, threshold=0.1
    )
    return pairs.select("id_a", "id_b", hround(F.col("jaccard_raw"), 4).alias("jaccard"))


@register(
    "dedup_simhash_signatures",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), bits AS (
      SELECT doc_id, j,
             CAST(floor(CAST(('0x' || substr(md5(w), (j // 4) + 1, 1)) AS INT)
                  / power(2, 3 - j % 4)) AS INT) % 2 AS bit
      FROM tok, generate_series(0, 63) g(j)
    ), votes AS (
      SELECT doc_id, j, sum(bit * 2 - 1) AS vote FROM bits GROUP BY doc_id, j
    )
    SELECT doc_id,
           string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_signatures(table(spark, sf_dir, "documents"))


@register("dedup_minhash_lsh")  # approximate banding -> rows-only check
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.minhash_lsh_pairs(
        table(spark, sf_dir, "documents"), jaccard_threshold=0.3, seed=42
    )
    return pairs.select("id_a", "id_b", hround(F.col("jaccard_distance"), 4).alias("jd"))


# --------------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------------
_COSINE_CTE = """
    WITH e AS (
      SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id, v,
             sqrt(list_aggregate(list_apply(v, x -> x * x), 'sum')) AS nrm
      FROM e
    )
"""


@register(
    "similarity_bruteforce_topk",
    oracle=_COSINE_CTE
    + """
    , scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_aggregate(list_apply(list_zip(q.v, c.v), x -> x[1] * x[2]), 'sum')
               / (q.nrm * c.nrm) AS cos
      FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id,
           (floor(cos * 1000000.0 + 0.5) / 1000000.0) AS cosine,
           CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = similarity.cosine_topk(
        table(spark, sf_dir, "embeddings"), F.col("vec_id") < 10, k=5
    )
    return out.select(
        "query_id", "neighbor_id", hround(F.col("cos"), 6).alias("cosine"), "rank"
    )


@register(
    "similarity_threshold_pairs",
    oracle=_COSINE_CTE
    + """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           (floor((list_aggregate(list_apply(list_zip(a.v, b.v), x -> x[1] * x[2]), 'sum')
                   / (a.nrm * b.nrm)) * 1000000.0 + 0.5) / 1000000.0) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id AND a.vec_id < 100 AND b.vec_id < 100
    WHERE list_aggregate(list_apply(list_zip(a.v, b.v), x -> x[1] * x[2]), 'sum')
          / (a.nrm * b.nrm) >= 0.2
    """,
)
def similarity_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTNESS BASELINE: all-pairs quadratic cosine join, restricted to
    100 ids — the anchor the LSH candidate path is measured against; the
    scale path is similarity.cosine_lsh_candidate_pairs."""
    pairs = similarity.threshold_pairs(
        table(spark, sf_dir, "embeddings"), threshold=0.2, id_pred=F.col("vec_id") < 100
    )
    return pairs.select("id_a", "id_b", hround(F.col("cos"), 6).alias("cosine"))


_RH_D, _RH_BITS, _RH_TABLES = 64, 6, 3


def _rh_lsh_oracle() -> str:
    """Replay of the random-hyperplane LSH tier: the SAME md5-parity
    hyperplane literals the Spark plan embeds (one driver-side
    computation feeds both sides — the r7 Lloyd-quantizer trick applied
    to LSH, which is what turned this query from rows-only into
    hash-graded, VERDICT r8 #1)."""
    planes = similarity.rh_planes(_RH_D, _RH_BITS, _RH_TABLES)

    def bucket(t: int) -> str:
        return " + ".join(
            "(CASE WHEN list_aggregate(list_apply(list_zip(v, ["
            + ", ".join(repr(s) for s in planes[t][j])
            + "]), x -> x[1] * x[2]), 'sum') >= 0.0 THEN "
            + str(1 << j)
            + " ELSE 0 END)"
            for j in range(_RH_BITS)
        )

    hashes = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, {t} AS t, ({bucket(t)}) AS b FROM e"
        for t in range(_RH_TABLES)
    )
    return f"""
    WITH e AS (
      SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id, v,
             sqrt(list_aggregate(list_apply(v, x -> x * x), 'sum')) AS nrm
      FROM e
    ), h AS (
      {hashes}
    ), cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM h q JOIN h c ON q.t = c.t AND q.b = c.b
      WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
    ), scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             list_aggregate(list_apply(list_zip(nq.v, nc.v), x -> x[1] * x[2]), 'sum')
               / (nq.nrm * nc.nrm) AS cos
      FROM cand
      JOIN n nq ON nq.vec_id = cand.query_id
      JOIN n nc ON nc.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id,
           (floor(cos * 1000000.0 + 0.5) / 1000000.0) AS cosine,
           CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """


@register("similarity_lsh_buckets", oracle=_rh_lsh_oracle())
def similarity_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN, hash-graded (was rows-only through r8:
    pyspark.ml's BRP-LSH hashes are seeded JVM RNG, unreplayable off-
    Spark — that form stays as the operator twin
    ``similarity.lsh_bucket_neighbors``, recall-pinned in
    tests/test_round6_ops.py)."""
    out = similarity.rh_lsh_topk(
        table(spark, sf_dir, "embeddings"),
        F.col("vec_id") < 10,
        k=5,
        d_in=_RH_D,
        n_bits=_RH_BITS,
        num_tables=_RH_TABLES,
    )
    return out.select(
        "query_id", "neighbor_id", hround(F.col("cos"), 6).alias("cosine"), "rank"
    )


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------
@register(
    "text_token_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           (floor(avg(len(string_split(text, ' '))) * 100.0 + 0.5) / 100.0) AS avg_tokens,
           CAST(max(len(string_split(text, ' '))) AS INT) AS max_tokens
    FROM documents GROUP BY lang
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n = F.size(F.split(F.col("text"), " "))
    return (
        docs.select("lang", n.alias("n"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("total_tokens"),
            hround(F.avg("n")).alias("avg_tokens"),
            F.max("n").alias("max_tokens"),
        )
    )


@register(
    "text_quality_score",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             CAST(length(text) AS INT) AS n_chars,
             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
             CAST(len(list_filter(string_split(text, ' '),
                  x -> list_contains(['the','a','of','and','to','in','is'], x))) AS INT)
                  AS n_stop
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
           (floor((n_stop / n_tokens) * 10000.0 + 0.5) / 10000.0) AS stopword_ratio,
           (floor((n_distinct / n_tokens) * 10000.0 + 0.5) / 10000.0) AS distinct_ratio,
           (n_tokens >= 20 AND n_distinct / n_tokens >= 0.3) AS passes_quality
    FROM f
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    feats = text.quality_features("text")
    q = docs.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["n_distinct_tokens"].alias("n_distinct"),
        feats["stopword_ratio"].alias("sr"),
        feats["distinct_ratio"].alias("dr"),
    )
    return q.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        hround(F.col("sr"), 4).alias("stopword_ratio"),
        hround(F.col("dr"), 4).alias("distinct_ratio"),
        ((F.col("n_tokens") >= 20) & (F.col("dr") >= 0.3)).alias("passes_quality"),
    )


@register(
    "text_lang_id_heuristic",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang AS labeled_lang,
             CAST(len(list_filter(string_split(text,' '),
                  x -> list_contains(['the','a','of','and','to','in','is'], x))) AS INT) AS en,
             CAST(len(list_filter(string_split(text,' '),
                  x -> list_contains(['el','la','de','y','que','en','un'], x))) AS INT) AS es,
             CAST(len(list_filter(string_split(text,' '),
                  x -> list_contains(['le','la','de','et','que','en','un'], x))) AS INT) AS fr,
             CAST(len(list_filter(string_split(text,' '),
                  x -> list_contains(['der','die','das','und','zu','in','ist'], x))) AS INT) AS de
      FROM documents
    )
    SELECT doc_id, labeled_lang,
           CASE WHEN greatest(en, es, fr, de) = 0 THEN 'und'
                WHEN en = greatest(en, es, fr, de) THEN 'en'
                WHEN es = greatest(en, es, fr, de) THEN 'es'
                WHEN fr = greatest(en, es, fr, de) THEN 'fr'
                ELSE 'de' END AS predicted_lang
    FROM s
    """,
)
def text_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = text.ws_tokens("text")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        text.predicted_lang(toks).alias("predicted_lang"),
    )


@register(
    "text_fingerprint_rolling",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_apply(string_split(text, ' '),
                          w -> CAST(('0x' || substr(md5(w), 1, 7)) AS BIGINT))),
             (acc, h) -> (acc * 31 + h) % {text.FINGERPRINT_MOD}
           ) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.rolling_fingerprint("text").alias("fingerprint"))


# --------------------------------------------------------------------------
# Multimodal binary plumbing (decode stubbed; plumbing real — mapInPandas)
# --------------------------------------------------------------------------
@register(
    "multimodal_binary_features",
    oracle="""
    SELECT doc_id,
           'application/octet-stream' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(ascii(substr(text, 1, 1)) AS INT) AS first_byte,
           CAST(octet_length(encode(text)) // 1000 + 1 AS INT) AS n_frames,
           CAST(list_aggregate(list_apply(string_split_regex(text, ''),
                x -> ascii(x)), 'sum') % 9973 AS BIGINT) AS byte_checksum
    FROM documents
    """,
)
def multimodal_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = multimodal.to_asset_table(table(spark, sf_dir, "documents"))
    return multimodal.extract_features(assets)


_JACCARD_PAIRS_CTE = """
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS w,
             unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS s
        FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
      ) WHERE s IS NOT NULL
    ), sz AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), pairs AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) j JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
      WHERE i / (sa.n + sb.n - i) >= 0.1
    )
"""


@register(
    "dedup_cluster_components",
    oracle="WITH RECURSIVE "
    + _JACCARD_PAIRS_CTE.replace("WITH tok", "tok", 1).lstrip()
    + """
    , edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, least(a, min(b)) AS cluster
    FROM reach GROUP BY a
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> dedup clusters via iterative connected
    components (min-label propagation; the DuckDB oracle computes the
    same components with a recursive-CTE transitive closure)."""
    pairs = dedup.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), k=3, threshold=0.1
    ).select("id_a", "id_b")
    return dedup.connected_components(pairs)


@register(
    "dedup_canonical_keep_best",
    oracle="WITH RECURSIVE "
    + _JACCARD_PAIRS_CTE.replace("WITH tok", "tok", 1).lstrip()
    + """
    , edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), comp AS (
      SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach GROUP BY a
    ), scored AS (
      SELECT c.cluster, c.doc_id, len(d.text) AS n_chars
      FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT s.cluster, s.doc_id AS kept_doc, CAST(s.n_chars AS INT) AS kept_chars,
           CAST(g.n_members AS BIGINT) AS n_members
    FROM (SELECT cluster, doc_id, n_chars FROM scored
          QUALIFY row_number() OVER (PARTITION BY cluster
                                     ORDER BY n_chars DESC, doc_id) = 1) s
    JOIN (SELECT cluster, count(*) AS n_members FROM comp GROUP BY cluster) g
      USING (cluster)
    ORDER BY s.cluster
    """,
)
def dedup_canonical_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-survivor selection over near-dup clusters: the
    keep-the-longest policy real cleaning pipelines apply after
    clustering (longest text retains the most content; doc_id breaks
    ties deterministically). Components from the jaccard pair graph, a
    per-cluster top-1 window (shuffles only (cluster, doc, n_chars)),
    and the member count ride the same cluster key — no extra pass over
    document text."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.1).select("id_a", "id_b")
    comp = dedup.connected_components(pairs)
    scored = comp.join(docs.select("doc_id", F.length("text").alias("n_chars")), "doc_id")
    w = W.partitionBy("cluster").orderBy(F.desc("n_chars"), "doc_id")
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cluster", F.col("doc_id").alias("kept_doc"), F.col("n_chars").alias("kept_chars"))
    )
    members = comp.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_members"))
    return best.join(members, "cluster").orderBy("cluster")


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id, v,
             sqrt(list_aggregate(list_apply(v, x -> x * x), 'sum')) AS nrm
      FROM e
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE list_aggregate(list_apply(list_zip(a.v, b.v), x -> x[1] * x[2]), 'sum')
            / (a.nrm * b.nrm) >= 0.4
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a
    ), drop_docs AS (
      SELECT a AS doc_id FROM reach GROUP BY a
      HAVING least(a, min(b)) != a
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_docs)
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup (semantic dedup tier): cosine>=0.4
    pairs -> connected components -> canonical survivor per component;
    the oracle rebuilds the same keep-set with a recursive closure.
    EXACTNESS BASELINE: method='exact' is the quadratic all-pairs
    generator, kept only to anchor the oracle — production path is the
    LSH default (dedup_embedding_cosine_lsh below)."""
    out = dedup.embedding_cosine_dedup(
        table(spark, sf_dir, "documents"),
        table(spark, sf_dir, "embeddings"),
        threshold=0.4,
        method="exact",
    )
    return out.select("doc_id", "lang", "source")


@register(
    "dedup_embedding_cosine_lsh",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id, v,
             sqrt(list_aggregate(list_apply(v, x -> x * x), 'sum')) AS nrm
      FROM e
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE list_aggregate(list_apply(list_zip(a.v, b.v), x -> x[1] * x[2]), 'sum')
            / (a.nrm * b.nrm) >= 0.4
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a
    ), drop_docs AS (
      SELECT a AS doc_id FROM reach GROUP BY a
      HAVING least(a, min(b)) != a
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_docs)
    """,
)
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed candidate pairs + exact cosine re-check, then the
    same component clustering. Oracle is the EXACT closure — green means
    the LSH candidates recalled every qualifying pair on this data
    (recall-completeness additionally pytest-bounded in tests/
    test_scale.py).

    SCALE STATUS (round-13 full-registry measurement — SCALING.md,
    BASELINE_TWINS): quadratic on this fixture and RELABELED a baseline,
    for two measured reasons. (1) Output-bound: the true pair set at
    threshold 0.4 has constant density 5e-4 here (59 pairs at 500
    vectors -> 920 at 2000 — isotropic synthetic embeddings), so ANY
    full-recall method is Omega(n^2). (2) The ml-BRP hashes at
    bucketLength=2.0 measure degenerate on unit vectors (2 buckets for
    2000 vectors) — candidates are ~all pairs. The bounded-expansion
    default for this tier is ``dedup_embedding_cosine_banded``
    (O(n*cap*tables) candidates by construction, deterministic recall
    trade, hash-graded); full-recall loose-threshold semantic dedup is
    ``dedup_semantic_prune`` (cluster-bounded, slope 0.33).

    Round 14: the operator default moved to method='banded' and the BRP
    generator grew a degeneracy fence, so this BASELINE registration now
    pins its full-recall parameters EXPLICITLY — bucketLength 2.0 with
    allow_degenerate=True is precisely the measured-degenerate hashing,
    kept on purpose because only 100% recall stays bit-exact against the
    exact-closure oracle. The graded scale path is
    ``dedup_embedding_cosine_banded_corpus`` (llm_data14)."""
    out = dedup.embedding_cosine_dedup(
        table(spark, sf_dir, "documents"),
        table(spark, sf_dir, "embeddings"),
        threshold=0.4,
        method="lsh",
        bucket_length=2.0,
        allow_degenerate=True,
    )
    return out.select("doc_id", "lang", "source")


@register(
    "similarity_ivf_topk",
    oracle=_pq_oracle.ivf_topk_oracle(
        dim=64, n_cells=8, n_probe=2, k=5, query_sql="vec_id < 10"
    ),
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the coarse Lloyd quantizer — oracle-paired since r7
    (deterministic cells replay in DuckDB; queries/_pq_oracle.py). The
    probe restriction + recall floor stay pinned in
    tests/test_similarity_ivf.py."""
    out = similarity.ivf_topk(
        table(spark, sf_dir, "embeddings"), F.col("vec_id") < 10, k=5
    )
    return out.select(
        "query_id", "neighbor_id", hround(F.col("cos"), 6).alias("cosine"), "rank"
    )


@register(
    "dedup_corpus_end_to_end",
    oracle="WITH RECURSIVE "
    + _JACCARD_PAIRS_CTE.replace("WITH tok", "tok", 1)
    .replace(">= 0.1", ">= 0.4")
    .lstrip()
    + """
    , edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), drop_docs AS (
      SELECT a AS doc_id FROM reach GROUP BY a
      HAVING least(a, min(b)) != a
    ), exact_keep AS (
      SELECT min(doc_id) AS doc_id FROM documents
      GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    JOIN exact_keep k ON d.doc_id = k.doc_id
    WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_docs)
    """,
)
def dedup_corpus_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full corpus dedup (exact-normalized then fuzzy clusters at
    Jaccard>=0.4), canonical survivor per group; the oracle rebuilds the
    same keep-set with a recursive closure."""
    out = dedup.dedup_corpus(
        table(spark, sf_dir, "documents"), fuzzy_threshold=0.4
    )
    return out.select("doc_id", "lang", "source")


# --------------------------------------------------------------------------
# Training-set mechanics: token chunking, deterministic splits
# --------------------------------------------------------------------------
@register(
    "text_token_chunks",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), s AS (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks), 64)) AS st
      FROM t
    )
    SELECT doc_id,
           CAST((st - 1) / 64 AS INT) AS chunk_idx,
           array_to_string(toks[st : st + 63], ' ') AS chunk_text,
           CAST(len(toks[st : st + 63]) AS INT) AS n_tokens
    FROM s
    """,
)
def text_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents split into 64-token training windows
    (operators/text.token_chunks): the pre-tokenizer step of sequence
    packing. Native arrays; explode is the only row-count change."""
    docs = table(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id", F.explode(text.token_chunks("text", chunk_size=64)).alias("c")
    )
    return chunks.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


@register(
    "sample_hash_split",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
               % 10000 AS bkt
      FROM documents
    )
    SELECT CASE WHEN bkt < 9000 THEN 'train'
                WHEN bkt < 9500 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs
    FROM b GROUP BY 1
    """,
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split by content-keyed md5
    bucket (operators/sampling.hash_split): reproducible across engines,
    partitionings, and appends — what rand()-based sample() cannot give.
    The oracle recomputes the identical bucket function."""
    from ..operators.sampling import hash_split

    docs = table(spark, sf_dir, "documents")
    out = hash_split(docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "sample_stratified",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
               % 10000 AS bkt
      FROM documents
    )
    SELECT lang, count(*) AS n_docs
    FROM b
    WHERE (lang = 'en' AND bkt < 2000) OR (lang = 'fr' AND bkt < 5000)
    GROUP BY lang
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (sampling.stratified_hash_sample):
    downsample English to 20%, French to 50%, drop other strata — corpus
    rebalancing with run-stable membership."""
    from ..operators.sampling import stratified_hash_sample

    docs = table(spark, sf_dir, "documents")
    out = stratified_hash_sample(docs, "doc_id", "lang", {"en": 0.2, "fr": 0.5})
    return out.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "pack_training_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ), ch AS (
      SELECT doc_id, lang,
             CAST((st - 1) / 64 AS INT) AS chunk_idx,
             CAST(len(toks[st : st + 63]) AS INT) AS n_tokens
      FROM (SELECT doc_id, lang, toks,
                   unnest(generate_series(1, len(toks), 64)) AS st
            FROM t)
    ), packed AS (
      SELECT lang,
             CAST(floor((sum(n_tokens) OVER (PARTITION BY lang
                                             ORDER BY doc_id, chunk_idx
                                             ROWS UNBOUNDED PRECEDING)
                         - n_tokens) / 256.0) AS INT) AS seq_idx,
             n_tokens
      FROM ch
    ), seqs AS (
      SELECT lang, seq_idx, count(*) AS n_chunks, sum(n_tokens) AS n_tok
      FROM packed GROUP BY lang, seq_idx
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_seqs,
           (floor((sum(n_tok) / (count(*) * 256.0)) * 10000.0 + 0.5) / 10000.0)
             AS fill_ratio
    FROM seqs GROUP BY lang
    """,
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk documents into 64-token windows, pack them into 256-token
    training sequences per language shard (operators/packing.py), report
    per-shard sequence counts and fill ratio. The oracle replays the
    identical in-order cumsum fill."""
    from ..operators.packing import pack_chunks, packing_stats

    docs = table(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id", "lang", F.explode(text.token_chunks("text", chunk_size=64)).alias("c")
    ).select("doc_id", "lang", F.col("c.chunk_idx").alias("chunk_idx"),
             F.col("c.n_tokens").alias("n_tokens"))
    packed = pack_chunks(
        chunks, capacity=256, shard_col="lang", order_cols=["doc_id", "chunk_idx"]
    )
    stats = packing_stats(packed, capacity=256, shard_col="lang")
    return stats.select(
        "lang", "n_seqs", hround(F.col("fill_ratio"), 4).alias("fill_ratio")
    )
