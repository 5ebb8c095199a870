"""Tenth LLM-data pack (round 7): published corpus-curation methods not
yet covered as first-class registered queries —

- ``dedup_semantic_prune``: SemDeDup (Abbas et al. 2023) — cluster the
  embedding table (deterministic seed assignment, the oracle-checkable
  k-means face in ``operators/clustering.py``), then flag near-duplicate
  members WITHIN each cluster by pairwise cosine. The whole point of the
  method is the plan shape: the pair join is keyed by cluster id, so its
  cost is bounded by cluster size, never corpus size.
- ``decontaminate_bloom_prefilter``: n-gram test-set decontamination with
  a Bloom-filter prefilter — the eval set's shingle hashes are folded
  into one 64 Kbit bitmap (a single broadcast ROW), train shingles probe
  the bitmap map-side, and only candidates reach the exact verify join.
  No false negatives (Bloom guarantees), so the RESULT is exact and the
  oracle is the plain overlap SQL.
- ``dedup_url_canonical``: URL canonicalization dedup (the first dedup
  any web crawl runs): lowercase, default-port / fragment / tracking-
  param stripping, trailing-slash normalization, then group-by-canonical.
- ``corpus_dsir_importance``: DSIR (Xie et al. 2023) hashed-n-gram
  importance weights log p_target(x) - log p_raw(x) over 256 md5 feature
  buckets, summed exactly in DECIMAL(18,6) so the result is independent
  of aggregation order in both engines.
- ``text_tokenizer_fertility``: tokenizer fertility diagnostics per
  language (subword-per-word ratio and chars-per-token — the standard
  "how expensive is this language for my tokenizer" table).

Round 8 additions:

- ``dedup_semantic_prune`` gained its enforced cluster-size bound
  (SEMDEDUP_MAX_CLUSTER md5 sub-split, replayed in the oracle).
- ``similarity_hard_negatives_ivf``: the hard-negative label predicate
  composed with the IVF ANN tier (``similarity.ivf_topk(neq_col=...)``).
- ``dedup_incremental_batch``: new-batch-vs-corpus-index dedup — the
  daily-increment shape (O(delta + candidates) per ingest, never a
  corpus rescan).

All pure column expressions — no UDFs, no driver loops; every query
carries a full DuckDB oracle.

Reference parity: none (no text/embedding analysis in the reference —
SURVEY.md §2.12 gap surface; LLM-data operators from the build brief).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.rounding import hround
from ..operators import clustering, dedup
from ..operators.dedup import shingles
from .registry import register

# --------------------------------------------------------------------------
# SemDeDup: cluster, then prune near-duplicates within clusters
# --------------------------------------------------------------------------

#: intra-cluster cosine at-or-above which the higher-id member is flagged
SEMDEDUP_TAU = 0.35
SEMDEDUP_K = 8
#: sub-split bound: a cluster of size s is hash-partitioned into
#: ceil(s / SEMDEDUP_MAX_CLUSTER) sub-buckets and pairs are compared
#: only within a sub-bucket, so the pair join expands as
#: O(corpus * max_cluster) instead of O(corpus^2 / k) — the same
#: safety-valve role max_shingle_freq / max_bucket play for the n-gram
#: and SimHash tiers (VERDICT r7 #1). 50 engages at the sf0.01 fixture
#: (clusters run 48-70), so the driver's hash gate exercises the split.
SEMDEDUP_MAX_CLUSTER = 50

_SEMDEDUP_ASSIGN_CTE = f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
             v AS c
      FROM e ORDER BY vec_id LIMIT {SEMDEDUP_K}
    ), d1 AS (
      SELECT e.vec_id, e.v, s.cluster,
             (floor(list_aggregate(list_transform(range(1, 65),
                j -> (e.v[j] - s.c[j]) * (e.v[j] - s.c[j])), 'sum')
                * 1000000.0 + 0.5) / 1000000.0) AS d
      FROM e CROSS JOIN seeds s
    ), a1 AS (
      SELECT vec_id, v, cluster FROM d1
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) = 1
    ), csize AS (
      SELECT cluster,
             CAST(ceil(count(*) / {SEMDEDUP_MAX_CLUSTER}.0) AS BIGINT) AS n_sub
      FROM a1 GROUP BY cluster
    ), n AS (
      SELECT a1.vec_id, a1.cluster, a1.v,
             ('0x' || substr(md5(CAST(a1.vec_id AS VARCHAR)), 1, 7))::BIGINT
               % s.n_sub AS sub,
             sqrt(list_aggregate(list_apply(a1.v, x -> x * x), 'sum')) AS nrm
      FROM a1 JOIN csize s USING (cluster)
    )
"""


@register(
    "dedup_semantic_prune",
    oracle=_SEMDEDUP_ASSIGN_CTE
    + f"""
    , p AS (
      SELECT b.vec_id, b.cluster, a.vec_id AS keep_candidate,
             (floor((list_aggregate(list_apply(list_zip(a.v, b.v),
                x -> x[1] * x[2]), 'sum') / (a.nrm * b.nrm))
                * 1000000.0 + 0.5) / 1000000.0) AS cos
      FROM n a JOIN n b ON a.cluster = b.cluster AND a.sub = b.sub
                       AND a.vec_id < b.vec_id
    )
    SELECT vec_id, cluster,
           CAST(min(keep_candidate) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_matches,
           max(cos) AS best_cos
    FROM p WHERE cos >= {SEMDEDUP_TAU}
    GROUP BY vec_id, cluster ORDER BY vec_id
    """,
)
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): assign every embedding to its
    nearest of the k deterministic seed centroids, then flag any member
    whose cosine to a LOWER-id member of the SAME cluster reaches tau —
    the keep-lowest-id convention every dedup op in this repo uses.

    Plan: assignment embeds the k x d seeds as literal arrays (no join —
    see operators/clustering.py for the 100 TB posture); the pair join
    is an equi-join ON (cluster, sub-bucket). The sub-bucket is the
    enforced cluster-size bound (VERDICT r7 #1): a cluster of size s is
    hash-split into ceil(s / SEMDEDUP_MAX_CLUSTER) buckets by the
    portable md5 idiom (operators/sampling.hash_bucket), so pair
    expansion is O(corpus * max_cluster) even under clustering skew —
    one giant cluster no longer pays all-pairs on itself. The split is
    a per-row scalar plus one k-row broadcast join (no window, no
    per-cluster sort — a row_number split would sort each cluster in a
    single task); the size bound is in expectation (binomial
    concentration around max_cluster), the same contract as every md5
    bucket in this repo. Misses only cross-bucket pairs inside
    oversized clusters — the exact trade max_bucket makes for SimHash
    (operators/dedup.py:379). Cosines are sequential zip_with folds
    rounded to 6dp BEFORE the threshold so a last-ulp divergence cannot
    flip a flag; the oracle replays assignment, sizes, md5 sub-split,
    and pair scan identically."""
    return semantic_prune(spark, sf_dir, max_cluster=SEMDEDUP_MAX_CLUSTER)


def semantic_prune(
    spark: SparkSession,
    sf_dir: str,
    max_cluster: int | None = SEMDEDUP_MAX_CLUSTER,
) -> DataFrame:
    """Body of ``dedup_semantic_prune`` over the fixture embeddings with
    the sub-split bound parameterized; ``max_cluster=None`` is the
    unbounded pre-r8 form (kept callable for the parity/recall pytest,
    never registered)."""
    return semantic_prune_df(
        table(spark, sf_dir, "embeddings"), max_cluster=max_cluster
    )


def semantic_prune_df(
    emb: DataFrame,
    max_cluster: int | None = SEMDEDUP_MAX_CLUSTER,
    k: int = SEMDEDUP_K,
    tau: float = SEMDEDUP_TAU,
) -> DataFrame:
    """SemDeDup core over any (vec_id, embedding) DataFrame — the entry
    the openvocab/scale probes feed with synthetic embeddings so the
    sub-split bound can be measured with clusters forced large."""
    assign = clustering.kmeans_lloyd(emb, k=k, iters=1).select(
        "vec_id", "cluster", "v"
    )
    if max_cluster is not None:
        sizes = assign.groupBy("cluster").agg(
            F.ceil(F.count(F.lit(1)) / F.lit(float(max_cluster))).alias("n_sub")
        )
        assign = assign.join(F.broadcast(sizes), "cluster").withColumn(
            "sub",
            F.conv(
                F.substring(F.md5(F.col("vec_id").cast("string")), 1, 7), 16, 10
            ).cast("long")
            % F.col("n_sub"),
        )
    else:
        assign = assign.withColumn("sub", F.lit(0))
    nrm = assign.withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x
            )
        ),
    )
    a = nrm.select(
        F.col("cluster"),
        F.col("sub"),
        F.col("vec_id").alias("keep_candidate"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = nrm.select(
        F.col("cluster"),
        F.col("sub"),
        F.col("vec_id").alias("vec_id"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, ["cluster", "sub"])
        .where(F.col("keep_candidate") < F.col("vec_id"))
        .select(
            "vec_id",
            "cluster",
            "keep_candidate",
            hround(dot / (F.col("na") * F.col("nb")), 6).alias("cos"),
        )
        .where(F.col("cos") >= F.lit(tau))
    )
    return (
        pairs.groupBy("vec_id", "cluster")
        .agg(
            F.min("keep_candidate").alias("keep_id"),
            F.count(F.lit(1)).alias("n_matches"),
            F.max("cos").alias("best_cos"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# Bloom-prefiltered exact n-gram decontamination
# --------------------------------------------------------------------------

#: Bloom geometry: 2^16 bits (1024 longs — a 16 KiB broadcast row) and 3
#: probe hashes. At the published decontamination scale (benchmark sets
#: of ~10^5 shingles) this m/n ~ 0.6 bits-per-key bitmap is deliberately
#: small; false positives only cost verify-join work, never correctness.
BLOOM_BITS = 1 << 16
BLOOM_PROBES = 3
DECON_SHINGLE_K = 4

_DECON_SH_CTE = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w,
             unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
                 || ' ' || lead(w, 3) OVER win AS s
        FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
      ) WHERE s IS NOT NULL
    )
"""


@register(
    "decontaminate_bloom_prefilter",
    oracle=_DECON_SH_CTE
    + """
    , ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 41 = 0),
      tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 41 <> 0)
    SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM tr JOIN ev USING (s)
    GROUP BY tr.doc_id ORDER BY tr.doc_id
    """,
)
def decontaminate_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination (the GPT-3/PaLM n-gram overlap check)
    with a Bloom-filter prefilter: eval docs (doc_id % 41 == 0 stands in
    for the benchmark set) contribute their 4-gram shingles to a 64 Kbit
    bitmap — built as ONE aggregated row of (word-index -> 64-bit lane)
    map entries and cross-joined back as a broadcast scalar. Train
    shingles test all 3 probe bits map-side; only survivors reach the
    exact string-equality verify join, so the output — contaminated
    train docs with their shared-shingle counts — is EXACT (Bloom has no
    false negatives) and the oracle is the plain overlap SQL.

    100 TB posture: the classic reason to bloom — the broadcast bitmap
    (16 KiB regardless of corpus size) prunes the corpus-side shingle
    stream BEFORE any shuffle, so the verify join's build side stays the
    (tiny) benchmark shingle set and the probe side is only candidate
    shingles, not the whole corpus."""
    docs = table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(shingles("text", DECON_SHINGLE_K)).alias("s")
    ).distinct()
    ev_sh = sh.where(F.col("doc_id") % 41 == 0).select("s").distinct()
    tr_sh = sh.where(F.col("doc_id") % 41 != 0)

    def probe_pos(col: F.Column, seed: int) -> F.Column:
        return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(BLOOM_BITS))

    bits = (
        ev_sh.select(
            F.explode(
                F.array(*[probe_pos(F.col("s"), i) for i in range(BLOOM_PROBES)])
            ).alias("pos")
        )
        .distinct()
        .select(
            (F.col("pos") / 64).cast("int").alias("word_idx"),
            # shiftleft by a COLUMN amount needs the SQL form — the
            # pyspark wrapper only takes a Python int shift
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("lanes"))
    )
    bloom = bits.agg(
        F.map_from_entries(F.collect_list(F.struct("word_idx", "lanes"))).alias(
            "bloom"
        )
    )

    probed = tr_sh.crossJoin(F.broadcast(bloom)).select(
        "doc_id",
        "s",
        "bloom",
        *[probe_pos(F.col("s"), i).alias(f"pos{i}") for i in range(BLOOM_PROBES)],
    )
    hit = None
    for i in range(BLOOM_PROBES):
        ok = F.coalesce(
            F.expr(
                f"(shiftright(element_at(bloom, CAST(pos{i} / 64 AS INT)), "
                f"CAST(pos{i} % 64 AS INT)) & CAST(1 AS BIGINT)) = 1"
            ),
            F.lit(False),
        )
        hit = ok if hit is None else (hit & ok)
    candidates = probed.where(hit).select("doc_id", "s")
    verified = candidates.join(F.broadcast(ev_sh), "s", "left_semi")
    return (
        verified.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# URL canonicalization dedup
# --------------------------------------------------------------------------

_RAW_URL_SQL = """
      CASE doc_id % 4
        WHEN 0 THEN 'https://src' || (doc_id % 199) % 5 || '.Example.COM/docs/'
                    || doc_id % 199 || '/'
        WHEN 1 THEN 'https://src' || (doc_id % 199) % 5 || '.example.com:443/docs/'
                    || doc_id % 199 || '?utm_source=feed'
        WHEN 2 THEN 'https://src' || (doc_id % 199) % 5 || '.example.com/docs/'
                    || doc_id % 199 || '#section-2'
        ELSE 'https://src' || (doc_id % 199) % 5 || '.example.com/docs/'
                    || doc_id % 199 || '?ref=rss&utm_campaign=x'
      END
"""


@register(
    "dedup_url_canonical",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_RAW_URL_SQL} AS url FROM documents
    ), canon AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   replace(lower(url), ':443/', '/'),
                   '#.*$', '', 'g'),
                 '[?&](utm_[a-z]+|ref)=[^&#]*', '', 'g'),
               '/$', '', 'g') AS curl
      FROM raw
    )
    SELECT curl AS canonical_url,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
    FROM canon GROUP BY curl HAVING count(*) >= 2 ORDER BY curl
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the first dedup of every web-crawl
    pipeline (CommonCrawl/CCNet both group by canonical URL before any
    content hashing): lowercase, strip the default :443 port, drop the
    fragment, drop tracking parameters (utm_*, ref), strip the trailing
    slash, then group by the canonical form. The deterministic raw URLs
    synthesize the four classic variant shapes (case/port/fragment/
    tracking-params) so distinct raw strings collapse to one canonical.

    Pure string projections + one groupBy on the canonical URL (16-byte
    hash-sized keys at scale, never page content); identical regex
    pipeline replayed by the oracle (patterns chosen inside the
    Java-regex ∩ RE2 common subset)."""
    docs = table(spark, sf_dir, "documents")
    base = F.col("doc_id") % 199
    host = F.concat(F.lit("https://src"), base % 5)
    raw = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(host, F.lit(".Example.COM/docs/"), base, F.lit("/")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                host, F.lit(".example.com:443/docs/"), base, F.lit("?utm_source=feed")
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(host, F.lit(".example.com/docs/"), base, F.lit("#section-2")),
        )
        .otherwise(
            F.concat(
                host, F.lit(".example.com/docs/"), base, F.lit("?ref=rss&utm_campaign=x")
            )
        )
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.replace(F.lower(raw), F.lit(":443/"), F.lit("/")),
                F.lit("#.*$"),
                F.lit(""),
            ),
            F.lit(r"[?&](utm_[a-z]+|ref)=[^&#]*"),
            F.lit(""),
        ),
        F.lit("/$"),
        F.lit(""),
    )
    return (
        docs.select(curl.alias("canonical_url"), "doc_id")
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy("canonical_url")
    )


# --------------------------------------------------------------------------
# DSIR hashed importance weights
# --------------------------------------------------------------------------

DSIR_BUCKETS = 256


@register(
    "corpus_dsir_importance",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      FROM documents
    ), f AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(word), 1, 4))::BIGINT % {DSIR_BUCKETS} AS b
      FROM w WHERE word <> ''
    ), dbc AS (
      SELECT doc_id, b, CAST(count(*) AS BIGINT) AS n
      FROM f GROUP BY doc_id, b
    ), tgt AS (
      SELECT b, CAST(count(*) AS BIGINT) AS ct FROM f WHERE lang = 'en' GROUP BY b
    ), raw AS (
      SELECT b, CAST(count(*) AS BIGINT) AS cr FROM f GROUP BY b
    ), tot AS (
      SELECT (SELECT count(*) FROM f WHERE lang = 'en') AS nt,
             (SELECT count(*) FROM f) AS nr
    ), lr AS (
      SELECT raw.b,
             (floor((ln(COALESCE(tgt.ct, 0) + 1) - ln(tot.nt + {DSIR_BUCKETS})
                     - ln(raw.cr + 1) + ln(tot.nr + {DSIR_BUCKETS}))
                    * 1000000.0 + 0.5) / 1000000.0) AS lw
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot
    )
    SELECT dbc.doc_id,
           CAST(sum(dbc.n) AS BIGINT) AS n_words,
           CAST(sum(CAST(dbc.n AS DECIMAL(18, 6))
                    * CAST(lr.lw AS DECIMAL(18, 6))) AS DOUBLE) AS dsir_weight
    FROM dbc JOIN lr ON dbc.b = lr.b
    GROUP BY dbc.doc_id ORDER BY dbc.doc_id
    """,
)
def corpus_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): score every raw doc by
    sum over its tokens of log p_target(bucket) - log p_raw(bucket) with
    {DSIR_BUCKETS} hashed unigram buckets and add-one smoothing — the
    published recipe for selecting web data that "looks like" a target
    corpus (here: the English slice). High weight = target-like.

    Plan: one token scan feeds both the per-(doc, bucket) counts and the
    two 256-row bucket tables; bucket log-ratios broadcast back (256
    rows — metadata) and the per-doc reduction multiplies/accumulates in
    DECIMAL(18,6), so the sum is EXACT and order-independent — the same
    integer-space trick as agg_trimmed_mean_exact, which is what lets
    two engines with different aggregation orders hash-match on a float
    reduction. md5-bucket hashing replays bit-exactly in DuckDB."""
    docs = table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("word"),
    ).where(F.col("word") != "")
    f = f.select(
        "doc_id",
        "lang",
        (F.conv(F.substring(F.md5("word"), 1, 4), 16, 10).cast("long") % DSIR_BUCKETS)
        .alias("b"),
    )
    dbc = f.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("n"))
    tgt = f.where(F.col("lang") == "en").groupBy("b").agg(
        F.count(F.lit(1)).alias("ct")
    )
    raw = f.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tot = f.agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("nt"),
        F.count(F.lit(1)).alias("nr"),
    )
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            hround(
                F.log(F.coalesce(F.col("ct"), F.lit(0)) + 1)
                - F.log(F.col("nt") + F.lit(DSIR_BUCKETS))
                - F.log(F.col("cr") + 1)
                + F.log(F.col("nr") + F.lit(DSIR_BUCKETS)),
                6,
            ).alias("lw"),
        )
    )
    return (
        dbc.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_words"),
            F.sum(
                F.col("n").cast("decimal(18,6)") * F.col("lw").cast("decimal(18,6)")
            )
            .cast("double")
            .alias("dsir_weight"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Tokenizer fertility diagnostics
# --------------------------------------------------------------------------

_TOKEN_PATTERN_SQL = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


@register(
    "text_tokenizer_fertility",
    oracle=f"""
    WITH m AS (
      SELECT lang,
             len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS ws,
             len(regexp_extract_all(text, '{_TOKEN_PATTERN_SQL}')) AS re,
             len(text) AS chars
      FROM documents WHERE text IS NOT NULL
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS ws_tokens,
           CAST(sum(re) AS BIGINT) AS re_tokens,
           (floor(sum(re) * 1.0 / sum(ws) * 1000000.0 + 0.5) / 1000000.0)
             AS fertility,
           (floor(sum(chars) * 1.0 / sum(re) * 1000000.0 + 0.5) / 1000000.0)
             AS chars_per_token
    FROM m GROUP BY lang ORDER BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: subword-tokens-per-word (the
    fertility metric of multilingual tokenizer evaluations) and
    chars-per-token under the repo's BPE-ish regex tokenizer vs plain
    whitespace words. The ratios are exact integer sums divided once at
    the end — no float aggregation anywhere. One scan, two array
    lengths per row."""
    docs = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    m = docs.select(
        "lang",
        F.size(F.filter(F.split("text", " "), lambda x: F.length(x) > 0)).alias("ws"),
        F.size(
            F.regexp_extract_all("text", F.lit(_TOKEN_PATTERN_SQL), F.lit(0))
        ).alias("re"),
        F.length("text").alias("chars"),
    )
    return (
        m.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").alias("ws_tokens"),
            F.sum("re").alias("re_tokens"),
            hround(F.sum("re") / F.sum("ws"), 6).alias("fertility"),
            hround(F.sum("chars") / F.sum("re"), 6).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Leakage-safe train/val/test split
# --------------------------------------------------------------------------

_CC_PAIRS_CTE = """
    tok AS (
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
    "etl_leakage_safe_split",
    oracle="WITH RECURSIVE "
    + _CC_PAIRS_CTE.lstrip()
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
    ), assigned AS (
      SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ), bucketed AS (
      SELECT doc_id, cluster,
             ('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 8))::BIGINT % 100
               AS bucket
      FROM assigned
    )
    SELECT doc_id, cluster,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM bucketed ORDER BY doc_id
    """,
)
def etl_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split hash is keyed on the
    NEAR-DUP CLUSTER id (connected components of the jaccard pair
    graph), not the document id, so near-duplicates can never straddle
    splits — the published fix for eval contamination via duplicated
    train/test documents. Docs outside any component are their own
    cluster. Deterministic md5 bucketing (80/10/10), the same portable
    hash-split idiom as operators/sampling.py.

    100 TB posture: components come from the inverted-index pair graph
    (min-label propagation with localCheckpoint cuts); the split itself
    adds one LEFT join on doc_id and a pure projection — no new
    data-scale shuffle beyond what dedup already paid. The pair graph is
    the exact shingle-Jaccard tier (oracle-replayable)."""
    docs = table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.1).select(
        "id_a", "id_b"
    )
    comp = dedup.connected_components(pairs)
    assigned = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster", "doc_id").alias("cluster")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("cluster").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    return assigned.select(
        "doc_id",
        "cluster",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
        .alias("split"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Hard-negative mining over labeled embeddings
# --------------------------------------------------------------------------


@register(
    "similarity_hard_negatives",
    oracle="""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id, label, v,
             sqrt(list_aggregate(list_apply(v, x -> x * x), 'sum')) AS nrm
      FROM e
    ), scored AS (
      SELECT q.vec_id AS query_id, q.label AS query_label,
             c.vec_id AS negative_id, c.label AS negative_label,
             list_aggregate(list_apply(list_zip(q.v, c.v), x -> x[1] * x[2]),
                            'sum') / (q.nrm * c.nrm) AS cos
      FROM n q JOIN n c ON q.vec_id < 20 AND c.label <> q.label
    )
    SELECT query_id, query_label, negative_id, negative_label,
           (floor(cos * 1000000.0 + 0.5) / 1000000.0) AS cosine,
           CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, negative_id) AS rn
          FROM scored)
    WHERE rn <= 5 ORDER BY query_id, rank
    """,
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the data-prep step of every contrastive
    embedding / reranker training recipe (e.g. DPR, SimCSE supervised):
    for each query vector, the top-k most-similar vectors with a
    DIFFERENT label ("hard" because they look alike but must be pushed
    apart). Plan: same broadcast-query-side shape as
    similarity.cosine_topk with the label-mismatch predicate fused into
    the join, so candidate partitions are filtered before any shuffle;
    the window top-k shuffles only (query, cos) pairs. At scale, swap
    the candidate side for the IVF/PQ tiers exactly as for neighbor
    search — the label predicate composes with any of them."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    n = e.withColumn(
        "nrm",
        F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda a, x: a + x * x)),
    )
    q = n.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = n.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    from pyspark.sql import Window as W

    scored = (
        c.join(F.broadcast(q), F.col("negative_label") != F.col("query_label"))
        .withColumn("cos", dot / (F.col("qn") * F.col("cn")))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("negative_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            "query_id",
            "query_label",
            "negative_id",
            "negative_label",
            hround(F.col("cos"), 6).alias("cosine"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


from ..operators import similarity  # noqa: E402  (ANN tier for the IVF variant)
from . import _pq_oracle  # noqa: E402


@register(
    "similarity_hard_negatives_ivf",
    oracle=_pq_oracle.ivf_topk_oracle(
        dim=64,
        n_cells=8,
        n_probe=2,
        k=5,
        query_sql="vec_id < 20",
        neq_col="label",
        neq_names=("query_label", "negative_label"),
        neighbor_name="negative_id",
    ),
)
def similarity_hard_negatives_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining composed with the IVF ANN tier (VERDICT r7
    #4): the label-mismatch predicate of ``similarity_hard_negatives``
    rides ``similarity.ivf_topk``'s cell equi-join (``neq_col``), so at
    scale a query scores only the vectors in its n_probe nearest cells
    THAT CARRY A DIFFERENT LABEL — the candidate reduction of the
    inverted file and the hard-negative filter in one pass, zero new
    shuffles. Same schema as the brute-force twin; recall vs the exact
    form is bounded in tests/test_round8_ops.py. Oracle-paired: the
    deterministic Lloyd cells + label predicate replay in DuckDB
    (queries/_pq_oracle.ivf_topk_oracle(neq_col=...))."""
    out = similarity.ivf_topk(
        table(spark, sf_dir, "embeddings"),
        F.col("vec_id") < 20,
        k=5,
        neq_col="label",
    )
    return out.select(
        "query_id",
        F.col("neighbor_id").alias("negative_id"),
        hround(F.col("cos"), 6).alias("cosine"),
        "rank",
        F.col("query_neq").alias("query_label"),
        F.col("neighbor_neq").alias("negative_label"),
    ).orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus index (round 8)
# --------------------------------------------------------------------------

_INCR_SH_CTE = """
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
    )
"""


@register(
    "dedup_incremental_batch",
    oracle=_INCR_SH_CTE
    + """
    , cd AS (
      SELECT j.id_c, j.id_d, j.i / (sc.n + sd.n - j.i) AS jac FROM (
        SELECT a.doc_id AS id_c, b.doc_id AS id_d, count(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s
        WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
        GROUP BY 1, 2
      ) j JOIN sz sc ON sc.doc_id = j.id_c JOIN sz sd ON sd.doc_id = j.id_d
      WHERE j.i / (sc.n + sd.n - j.i) >= 0.3
    ), dd AS (
      SELECT j.id_a, j.id_b, j.i / (sa.n + sb.n - j.i) AS jac FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 = 0
        GROUP BY 1, 2
      ) j JOIN sz sa ON sa.doc_id = j.id_a JOIN sz sb ON sb.doc_id = j.id_b
      WHERE j.i / (sa.n + sb.n - j.i) >= 0.3
    ), ch AS (
      SELECT id_d AS doc_id, min(id_c) AS corpus_dup_of, max(jac) AS jac
      FROM cd GROUP BY id_d
    ), bh AS (
      SELECT id_b AS doc_id, min(id_a) AS batch_dup_of, max(jac) AS jac
      FROM dd GROUP BY id_b
    )
    SELECT d.doc_id,
           CASE WHEN ch.doc_id IS NOT NULL THEN 'dup_of_corpus'
                WHEN bh.doc_id IS NOT NULL THEN 'dup_in_batch'
                ELSE 'new' END AS verdict,
           CAST(COALESCE(ch.corpus_dup_of, bh.batch_dup_of) AS BIGINT)
             AS dup_of,
           (floor(CASE WHEN ch.doc_id IS NOT NULL THEN ch.jac
                       ELSE bh.jac END * 1000000.0 + 0.5) / 1000000.0)
             AS best_jaccard
    FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
    LEFT JOIN ch ON ch.doc_id = d.doc_id
    LEFT JOIN bh ON bh.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a NEW ingest batch against the existing
    corpus (round 8): the growth path of a production corpus, where the
    daily increment must be deduplicated without ever re-running
    corpus x corpus. Batch = doc_id % 5 == 0 (the "arriving" 20%),
    corpus = the rest. Each batch doc gets a verdict: 'dup_of_corpus'
    (>= 0.3 shingle-Jaccard match in the index; dup_of = lowest
    matching corpus id), 'dup_in_batch' (keep-lowest-id within the
    batch), or 'new'.

    Plan (operators/dedup.incremental_dedup_flags): the corpus
    contributes one posting-table build — at scale the PERSISTED index
    a previous ingest wrote (sources/incremental.py isolates the delta
    via HWM) — then one posting-table equi-join on the shingle key for
    corpus x batch candidates and the standard capped expansion for
    batch x batch; cost is O(delta + candidates) per ingest, no
    corpus rescan, no corpus x corpus pairs ever generated. The
    max_shingle_freq=1000 cap cannot bind at fixture scale (500 docs),
    so the oracle replays the uncapped join — the same convention as
    the ngram_jaccard oracle family."""
    docs = table(spark, sf_dir, "documents")
    out = dedup.incremental_dedup_flags(
        docs.where(F.col("doc_id") % 5 != 0),
        docs.where(F.col("doc_id") % 5 == 0),
        threshold=0.3,
    )
    return out.orderBy("doc_id")
