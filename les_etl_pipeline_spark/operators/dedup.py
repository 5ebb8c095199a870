"""Deduplication operators for large-scale training-data pipelines.

Four tiers, all shuffle-conscious (BASELINE.json north star):

- exact:        md5-hash groupBy — one shuffle on the 16-byte hash, never
                on the document body.
- ngram-jaccard: 3-gram shingle inverted-index self-join — shuffles
                (shingle, doc_id) pairs; at 100 TB cap postings per
                shingle (a stop-shingle appearing in every doc creates a
                quadratic join) via frequency pruning.
- MinHash LSH:  pyspark.ml MinHashLSH banding — candidate pairs only,
                the scale path for fuzzy dedup.
- SimHash:      64-bit signatures via per-token md5 bit votes — pairwise
                hamming on signatures, not documents.

The reference has only full-row dropDuplicates (SURVEY.md §2.6 D1,
generate_asset_silver.py:106-108); these generalize it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def content_hash(c: Column | str, normalize: bool = False) -> Column:
    """md5 content key; normalized mode collapses whitespace + case."""
    c = F.col(c) if isinstance(c, str) else c
    if normalize:
        c = F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))
    return F.md5(c)


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", normalize: bool = False
) -> DataFrame:
    """One row per distinct content: (content_hash, canonical_id=min id,
    n_copies). Shuffles only (hash, id) — never the text."""
    return (
        df.select(content_hash(text_col, normalize).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


_SIZE_SUFFIXES = {
    "": 1,
    "b": 1,
    "k": 1 << 10,
    "kb": 1 << 10,
    "m": 1 << 20,
    "mb": 1 << 20,
    "g": 1 << 30,
    "gb": 1 << 30,
    "t": 1 << 40,
    "tb": 1 << 40,
    "p": 1 << 50,
    "pb": 1 << 50,
}


def _parse_byte_string(v: object, default: int) -> int:
    """Spark size-conf parser ('134217728', '128m', '128MB', '1g' ...),
    mirroring JavaUtils.byteStringAsBytes. Returns ``default`` for
    anything unparseable so a weird conf degrades gracefully instead of
    raising at query-construction time."""
    try:
        s = str(v).strip().lower()
        i = len(s)
        while i > 0 and not s[i - 1].isdigit():
            i -= 1
        num, suffix = s[:i], s[i:].strip()
        return int(num) * _SIZE_SUFFIXES[suffix]
    except (ValueError, KeyError, TypeError):
        return default


def _estimated_scan_splits(df: DataFrame) -> int:
    """Estimate how many read splits the file scan planner will produce:
    sum over input files of ceil(bytes / maxPartitionBytes). Pure
    metadata (one file listing + one size stat per file, and only when
    the listing is small enough to matter); 0 for non-file sources or
    when sizes are unknowable, which callers treat as "leave the native
    parallelism alone"."""
    import os

    try:
        files = df.inputFiles()
    except Exception:
        return 0
    if not files:
        return 0
    par = df.sparkSession.sparkContext.defaultParallelism
    if len(files) >= par:
        return len(files)  # already enough splits; skip the size stats
    max_bytes = _parse_byte_string(
        df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728"),
        default=134217728,
    )
    splits = 0
    for f in files:
        path = f[7:] if f.startswith("file://") else f[5:] if f.startswith("file:") else f
        try:
            size = os.path.getsize(path)
        except OSError:
            return 0  # remote/unstattable: don't force a shuffle on a guess
        splits += max(1, -(-size // max_bytes))
    return splits


def shingles(text: Column | str, k: int = 3) -> Column:
    """Word k-gram shingle array (empty for docs shorter than k words).

    Built as a zip_with CHAIN over k shifted slices of the token array —
    NEVER as a lambda that indexes back into the split expression.
    Higher-order-function lambdas re-evaluate their whole body per
    element (codegen CSE does not reach inside them), so the previous
    form — ``transform(sequence(...), i -> slice(split(text), ...))`` —
    re-ran the split once per shingle, O(n_tokens^2) characters per doc
    (measured 4.3 s vs 0.06 s for ONE 8k-token doc, r14). Here split
    appears only as a HOF *argument*, evaluated once per row per slice
    (O(k) evals/row); the lambda touches lambda variables only. Value-
    identical: concat_ws(" ", [a,b,c]) == a||' '||b||' '||c for the
    never-null split output, and the when() guard keeps the empty-array
    contract for short and NULL texts."""
    toks = F.split(F.col(text) if isinstance(text, str) else text, " ")
    m = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(0))  # shingle count
    out = F.slice(toks, 1, m)
    for j in range(1, k):
        out = F.zip_with(
            out,
            F.slice(toks, j + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(F.size(toks) >= k, out).otherwise(
        F.array().cast("array<string>")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.1,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Document pairs (id_a < id_b) with shingle-set Jaccard >= threshold.

    Inverted-index shape: |shingle sets| via groupBy; intersections by
    grouping postings per shingle (collect_list) and expanding each
    posting list to its pairs — one shuffle of the posting table instead
    of the two a self-join would take, and singleton shingles (most of a
    real corpus — a shingle in exactly one doc can produce no pair) are
    dropped for free by ``size(ids) >= 2`` with no broadcast needed.

    ``max_shingle_freq`` drops stop-shingles whose posting lists would
    explode pair generation at scale (frequency pruning — slightly
    lowers recall, bounds the expansion). The default cap of 1000 bounds
    any single shingle's pair contribution to ~500k rows — a
    stop-shingle appearing in every one of 10^9 docs would otherwise
    make pair generation quadratic in corpus size. True near-duplicates
    share many shingles, most of them rare, so recall loss is marginal;
    pass ``max_shingle_freq=None`` for the exact unbounded expansion.
    Set sizes always count the FULL shingle set (true Jaccard
    denominators) — pruning touches only pair generation.

    The per-doc distinct-hash arrays are checkpointed before their two
    consumers (size projection + posting explode) — without the cut the
    tokenize/shingle/array_distinct pipeline executes per consumer
    (same-session A/B at sf0.1: 1.5 s with vs 2.9 s without — the array
    build dominates). On a cluster, swap localCheckpoint for a persisted
    staging table."""
    # group key is the 64-bit hash of the shingle, not the string: same
    # counts (collisions ~2^-64), ~5x fewer shuffle bytes at scale.
    # The per-doc DISTINCT shingle-hash ARRAY is the materialized unit
    # (one row per doc, array_distinct applied in-array): set sizes then
    # read off as size(array) with NO shuffle at all — the former
    # exploded-row design paid a full groupBy of the shingle table just
    # to count per-doc distincts (measured 0.64 s of a 2.2 s total at
    # sf0.1). The posting explode re-derives rows from the compact
    # checkpoint, so the explode work happens once either way.
    stats = _ngram_pair_stats(df, text_col, id_col, k, max_shingle_freq)
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return stats.where(jac >= F.lit(threshold)).select(
        "id_a", "id_b", jac.alias("jaccard_raw")
    )


def _ngram_pair_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    max_shingle_freq: int | None,
) -> DataFrame:
    """Shared inverted-index core of the shingle-set pair family:
    (id_a < id_b, n_inter, n_a, n_b) for every doc pair with at least one
    shared (un-capped) shingle. jaccard / containment wrappers differ
    only in the final normalization."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_txt"))
    # parallelism guard: a small input scans as one split, which would
    # serialize the shingle+hash work (and the checkpoint below would
    # freeze that single partition). Metadata probe only — estimate the
    # SPLIT count the way Spark's file planner does (bytes /
    # maxPartitionBytes per file), not the raw file count: one 10 GB
    # file already scans as ~80 splits and must NOT trigger a full text
    # shuffle. At real scale the estimate is >= defaultParallelism and
    # this is a no-op; non-file sources keep their native parallelism.
    par = df.sparkSession.sparkContext.defaultParallelism
    if 0 < _estimated_scan_splits(df) < par:
        src = src.repartition(par)
    sh_arr = src.select(
        "doc_id",
        F.array_distinct(
            F.transform(shingles("_txt", k), lambda s: F.xxhash64(s))
        ).alias("shs"),
    ).localCheckpoint()
    sizes = sh_arr.select("doc_id", F.size("shs").alias("n_sh"))  # shuffle-free
    sh = sh_arr.select("doc_id", F.explode("shs").alias("sh"))
    posts = (
        sh.groupBy("sh")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    if max_shingle_freq is not None:
        posts = posts.where(F.size("ids") <= max_shingle_freq)
    # expand each posting list to its (a < b) pairs in one array expr
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    inter = (
        posts.select(F.explode(pair_structs).alias("p"))
        .groupBy("p.id_a", "p.id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return inter.join(sz_a, "id_a").join(sz_b, "id_b")  # sizes scale with
    # the corpus: no broadcast hint on either side, AQE decides


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Directed shingle-set CONTAINMENT (Broder): c_ab = |A∩B| / |A| and
    c_ba = |A∩B| / |B| for pairs where either direction reaches
    ``threshold``. Containment is the asymmetric complement of Jaccard
    resemblance — a short document quoted wholesale inside a long one
    scores near 1.0 containment while its Jaccard stays tiny (the union
    is dominated by the long side), so near-dup sweeps keyed on Jaccard
    alone systematically miss subset/quotation duplication. Same
    single-shuffle inverted-index plan and frequency-cap discipline as
    ngram_jaccard_pairs (shared core: _ngram_pair_stats)."""
    stats = _ngram_pair_stats(df, text_col, id_col, k, max_shingle_freq)
    c_ab = F.col("n_inter") / F.col("n_a")
    c_ba = F.col("n_inter") / F.col("n_b")
    return stats.where(
        (c_ab >= F.lit(threshold)) | (c_ba >= F.lit(threshold))
    ).select("id_a", "id_b", c_ab.alias("contain_a_in_b"), c_ba.alias("contain_b_in_a"))


# 64-bit SimHash: bit j of a token = bit j of md5(token); document bit j =
# majority vote over token occurrences. Expressed in pure arithmetic
# (conv + power + mod) so the DuckDB oracle can run the identical formula.
_SIMHASH_BIT = (
    "CAST(floor(CAST(conv(substring(md5(w), CAST(j / 4 AS INT) + 1, 1), 16, 10) AS INT)"
    " / power(2, 3 - j % 4)) AS INT) % 2"
)

#: all 64 ±1 votes of a token in ONE array expression, the md5 a HOF
#: *argument* (one eval per token — guide §4.1; the per-bit
#: ``transform(sequence(0,63), j -> f(md5(w), j))`` form re-ran the md5
#: 64x per occurrence). Each hex nibble expands to its 4 bits MSB-first
#: (p = 3 - j%4), so the flattened order and the floor/power/mod
#: arithmetic are exactly ``_SIMHASH_BIT``'s — pinned against it in
#: tests/test_round14_ops.py, which imports THIS constant (ADVICE r14:
#: a test pinning a copy of the expression stops pinning production the
#: moment the production copy is edited).
_SIMHASH_VOTES = (
    "flatten(transform("
    "  filter(split(substring(md5(w), 1, 16), '(?!^)'), c -> c != ''),"
    "  c -> transform(sequence(3, 0, -1),"
    "       p -> (CAST(floor(CAST(conv(c, 16, 10) AS INT)"
    "                  / power(2, p)) AS INT) % 2) * 2 - 1)))"
)



def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash) with the signature as a 64-char '0'/'1' string
    (string form avoids signed-bigint pitfalls across engines).

    Shuffle shape: ONE row per (doc, token) carrying a 64-element vote
    array; the 64 bit positions are folded into 64 partially-aggregated
    sums (map-side combine applies), not exploded into 64 rows per token
    — the earlier explode inflated shuffle input 64x for the same
    result."""
    tok = df.select(
        F.col(id_col).alias("doc_id"), F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    # all 64 ±1 votes of a token in one array expression. The md5 is a
    # HOF *argument* (one eval per token), never referenced inside a
    # lambda: the previous ``transform(sequence(0,63), j -> f(md5(w),
    # j))`` form re-ran the md5 64x per token occurrence (HOF lambdas
    # re-evaluate their whole body per element — the r14 shingle/bigram
    # hazard class, guide §4.1). Each hex nibble expands to its 4 bits
    # MSB-first (p = 3 - j%4), so the flattened order and the
    # floor/power/mod arithmetic are exactly _SIMHASH_BIT's.
    votes = tok.select("doc_id", F.expr(_SIMHASH_VOTES).alias("v"))
    sums = votes.groupBy("doc_id").agg(
        *[F.sum(F.element_at("v", j + 1)).alias(f"s{j}") for j in range(64)]
    )
    sig = F.concat(
        *[F.when(F.col(f"s{j}") > 0, F.lit("1")).otherwise(F.lit("0")) for j in range(64)]
    )
    return sums.select("doc_id", sig.alias("simhash"))


def minhash_det_signature(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 4, ngram: int = 3
) -> DataFrame:
    """Deterministic bottom-k MinHash signature: the k lexicographic
    minima of md5(shingle) per document, joined with ':'. Unlike the
    seeded pyspark.ml banding (minhash_lsh_pairs), this sketch is
    engine-portable — DuckDB computes the identical value, so it is the
    oracle-checkable face of MinHash. Equal signatures => high Jaccard
    (bottom-k sketch property); docs shorter than ``ngram`` words are
    excluded (no shingles). Pure array expressions, no explode, no
    shuffle."""
    sh = shingles(text_col, ngram)
    sig = F.array_join(
        F.slice(F.array_sort(F.transform(F.array_distinct(sh), F.md5)), 1, k), ":"
    )
    return (
        df.where(F.size(sh) > 0)
        .select(F.col(id_col).alias("doc_id"), sig.alias("minhash_sig"))
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, hamming) with SimHash Hamming
    distance <= ``max_hamming``.

    EXACT under banding, unlike probabilistic MinHash LSH: split the
    64-bit signature into ``n_bands`` contiguous bands; by pigeonhole,
    two signatures within Hamming distance <= n_bands - 1 must agree on
    at least one whole band, so with ``max_hamming <= n_bands - 1`` the
    banded candidate filter loses NO true pair — which is why this query
    can be oracle-paired against a brute-force all-pairs scan.

    Plan shape: signatures (one groupBy) -> 4 band keys per doc ->
    grouped posting lists per (band, key) — the same single-shuffle
    inverted-index pattern as ``ngram_jaccard_pairs`` — -> in-array pair
    expansion carrying both signatures -> integer popcount verify
    (bit_count over XORed 16-bit chunks, pure JVM) -> distinct pairs.

    100 TB note: 16-bit band keys spread ~uniformly for non-duplicate
    text, so bucket sizes grow ~n/2^16; at extreme corpus sizes either
    raise ``n_bands``/key width or set ``max_bucket`` to frequency-prune
    degenerate buckets (boiler-plate signatures) at a documented recall
    cost — exactness holds only at the default ``max_bucket=None``."""
    _check_banding(max_hamming, n_bands)
    sig = simhash_signatures(df, text_col, id_col)
    return hamming_band_pairs(
        sig,
        sig_col="simhash",
        id_col="doc_id",
        max_hamming=max_hamming,
        n_bands=n_bands,
        max_bucket=max_bucket,
    )


def _check_banding(max_hamming: int, n_bands: int) -> None:
    """Banding-parameter contract, checked BEFORE any plan is built."""
    if max_hamming > n_bands - 1:
        raise ValueError("exactness requires max_hamming <= n_bands - 1")
    if 64 % n_bands:
        raise ValueError(
            "n_bands must divide 64 exactly: otherwise the trailing "
            f"64 - {n_bands} * {64 // n_bands} signature bits would be "
            "silently dropped from both the band keys and the popcount"
        )


def hamming_band_pairs(
    sig: DataFrame,
    sig_col: str = "simhash",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded Hamming near-dup pairs over ANY 64-char '01' signature
    column — the machinery behind ``simhash_hamming_pairs``, shared with
    image average-hash near-dup (``multimodal.image_near_dup_pairs``).
    Same pigeonhole exactness contract: with ``max_hamming <= n_bands-1``
    and ``max_bucket=None`` the banded candidates lose no true pair."""
    _check_banding(max_hamming, n_bands)
    width = 64 // n_bands
    sig = sig.select(
        F.col(id_col).alias("doc_id"), F.col(sig_col).alias("simhash")
    )
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring("simhash", b * width + 1, width).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    posts = (
        bands.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias("docs"))
        .where(F.size("docs") >= 2)
    )
    if max_bucket is not None:
        posts = posts.where(F.size("docs") <= max_bucket)
    pair_structs = F.flatten(
        F.transform(
            F.col("docs"),
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + F.lit(2), F.size(F.col("docs"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    cand = (
        posts.select(F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.a.doc_id").alias("id_a"),
            F.col("p.b.doc_id").alias("id_b"),
            F.col("p.a.simhash").alias("sa"),
            F.col("p.b.simhash").alias("sb"),
        )
        .distinct()  # a pair can match in up to n_bands bands
    )
    # integer-exact popcount: per 16-bit chunk, conv('01'-string, 2, 10)
    # -> long (< 2^16, no sign pitfalls), XOR, bit_count
    ham = sum(
        F.bit_count(
            F.conv(F.substring("sa", b * width + 1, width), 2, 10)
            .cast("long")
            .bitwiseXOR(F.conv(F.substring("sb", b * width + 1, width), 2, 10).cast("long"))
        )
        for b in range(n_bands)
    )
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Approximate near-duplicate pairs via MinHash LSH banding
    (pyspark.ml): shingle -> HashingTF sparse vector -> MinHash ->
    approxSimilarityJoin. Returns (id_a, id_b, jaccard_distance).
    Deterministic for a fixed seed. The 100 TB fuzzy-dedup path: the join
    touches only same-band candidates, never all pairs."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = df.select(
        F.col(id_col).alias("doc_id"), shingles(text_col).alias("sh")
    ).where(F.size("sh") > 0)
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(docs)
    mh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hashes, seed=seed
    )
    model = mh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, 1.0 - jaccard_threshold, distCol="jaccard_distance"
    )
    return (
        pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            "jaccard_distance",
        )
    )


def choose_lsh_params(threshold: float, n_hashes: int = 64) -> tuple[int, int]:
    """Pick (bands, rows_per_band) for MinHash LSH banding from a target
    Jaccard threshold via the standard S-curve approximation
    t ≈ (1/b)^(1/r) (Leskovec/Rajaraman/Ullman, Mining of Massive
    Datasets §3.4.3): a pair with Jaccard s collides in at least one of
    b bands of r rows with probability 1 - (1 - s^r)^b, and the curve's
    steep point sits near (1/b)^(1/r). Enumerates every (b, r) with
    b*r <= n_hashes and returns the pair whose curve threshold lands
    closest to the target, ties preferring more bands (higher recall at
    the threshold). Self-tuning knob for the 100 TB fuzzy-dedup tier —
    banding hand-picked for one corpus quietly under- or over-candidates
    the next."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")
    best_key, best = None, None
    for r in range(1, n_hashes + 1):
        b = n_hashes // r
        t = (1.0 / b) ** (1.0 / r)
        key = (abs(t - threshold), -b)
        if best_key is None or key < best_key:
            best_key, best = key, (b, r)
    return best


def minhash_signature_array(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    ngram: int = 3,
    seed: int = 42,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """n-permutation MinHash signature as a native array column: hash
    function i is xxhash64(seed + i, shingle) and signature element i
    its minimum over the doc's distinct shingles. Pure column
    expressions — no explode, no shuffle, whole-stage codegen end to
    end; docs shorter than ``ngram`` words (no shingles) are excluded.

    ``hash_family="md5"`` derives all n permutations from ONE md5 per
    shingle via the Kirsch-Mitzenmacher construction g_i = (h1 + i*h2)
    mod 2^32, where h1/h2 are the first/second 8 hex chars of
    md5(shingle) (h2 forced odd so every g_i permutes the 2^32 ring).
    Same double-hashing scheme Bloom filters use (Kirsch & Mitzenmacher,
    "Less Hashing, Same Performance", 2006) — one string hash per
    shingle instead of n (measured 64 md5/shingle at 124 s vs ~2 s for
    this form at sf0.1), and bit-reproducible in any engine with md5 +
    integer arithmetic, which makes the whole banding pipeline
    oracle-checkable in DuckDB. xxhash64 stays the 100 TB default (no
    hex-string decode at all)."""
    sh = F.array_distinct(shingles(text_col, ngram))
    if hash_family == "md5":
        # stage 1: md5 EACH SHINGLE ONCE into (h1, h2) structs; stage 2
        # derives the n minima from that array. Two separate projections:
        # CollapseProject keeps a non-cheap alias referenced n times from
        # being inlined, so the md5 work is not duplicated per permutation
        # (inlined form measured 118 s vs ~4 s at sf0.1).
        def half(s, pos):
            return F.conv(F.substring(F.md5(s), pos, 8), 16, 10).cast("long")

        hs = F.transform(
            sh,
            lambda s: F.struct(
                half(s, 1).alias("h1"), half(s, 9).bitwiseOR(F.lit(1)).alias("h2")
            ),
        )
        staged = df.where(F.size(sh) > 0).select(
            F.col(id_col).alias("doc_id"), hs.alias("_hs")
        )

        # the n permutations run as ONE elementwise-min FOLD over the
        # shingle structs: acc starts at [2^32]*n (above every g_i, so
        # the min over the non-empty shingle set is unchanged) and each
        # shingle contributes its n permuted hashes via zip_with/least —
        # value-identical to n unrolled array_min expressions (min is
        # commutative/associative over longs; i + seed equals the old
        # lit(seed + i)), with O(1) py4j construction instead of O(n).
        # STRUCTURAL hazard note (r14, measured): a transform over
        # sequence(0, n-1) whose lambda references _hs is the WRONG
        # shape — _hs then has one consumer, CollapseProject inlines the
        # md5 staging into the lambda, and the md5s re-run once PER
        # PERMUTATION (138 s vs ~6 s at sf0.1 — the same trap the
        # staging comment above documents). In the fold form _hs is the
        # aggregate's INPUT collection, evaluated once per row no matter
        # what the optimizer inlines. The inner closure takes ONE
        # argument on purpose: a two-parameter lambda passed to
        # F.transform receives the ARRAY INDEX as its second argument
        # (the r6 rebinding bug class).
        perms = F.sequence(F.lit(0), F.lit(n_hashes - 1))
        return staged.select(
            "doc_id",
            F.aggregate(
                F.col("_hs"),
                F.array_repeat(F.lit(4294967296).cast("long"), n_hashes),
                lambda acc, h: F.zip_with(
                    acc,
                    F.transform(
                        perms,
                        lambda i: F.pmod(
                            h.h1 + (i + F.lit(seed)) * h.h2, F.lit(4294967296)
                        ),
                    ),
                    lambda a, b: F.least(a, b),
                ),
            ).alias("minhash"),
        )
    if hash_family == "xxhash64":
        # same staging: build the distinct-shingle array ONCE behind a
        # projection barrier; the n permutations then hash the staged
        # array elements without re-running tokenize/shingle/distinct
        # per permutation (measured 90 s -> ~4 s at sf0.1)
        staged = df.where(F.size(sh) > 0).select(
            F.col(id_col).alias("doc_id"), sh.alias("_sh")
        )

        # same elementwise-min FOLD as the md5 branch (and the same
        # structural hazard: a transform over sequence(0, n-1) whose
        # lambda reads _sh leaves _sh with one consumer, CollapseProject
        # inlines the shingle staging into the lambda, and the
        # tokenize/shingle/distinct re-runs once per permutation — the
        # 90 s trap the staging comment documents). Here _sh is the
        # aggregate's INPUT collection, evaluated once per row no matter
        # what the optimizer inlines. xxhash64 hashes its ARGUMENT
        # VALUES (it has no seed parameter), so xxhash64(i + seed, s)
        # with i from sequence(0, n-1) is value-identical to the old
        # unrolled xxhash64(lit(seed + i), s); the fold's init is
        # Long.MAX, >= every xxhash64 value, so the min over the
        # non-empty shingle set is unchanged.
        perms = F.sequence(F.lit(0), F.lit(n_hashes - 1))
        return staged.select(
            "doc_id",
            F.aggregate(
                F.col("_sh"),
                F.array_repeat(F.lit(9223372036854775807), n_hashes),
                lambda acc, s: F.zip_with(
                    acc,
                    F.transform(perms, lambda i: F.xxhash64(i + F.lit(seed), s)),
                    lambda a, b: F.least(a, b),
                ),
            ).alias("minhash"),
        )
    raise ValueError(f"unknown hash_family: {hash_family!r}")


def minhash_banded_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n_hashes: int = 64,
    ngram: int = 3,
    seed: int = 42,
    max_bucket: int = 1000,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidate near-duplicate pairs via self-tuned MinHash banding:
    (b, r) come from choose_lsh_params(threshold), each band hashes r
    consecutive signature elements to a bucket key, and same-bucket docs
    become candidates. Unlike pyspark.ml's MinHashLSH (OR-amplification
    only, r fixed at 1), real banding supports r > 1 — the AND step that
    keeps low-similarity pairs from flooding the candidate set.

    Shuffle shape mirrors ngram_jaccard_pairs: ONE exchange of the
    (band, bucket) posting table, pairs expanded from grouped posting
    lists, ``max_bucket`` capping degenerate buckets (boilerplate-heavy
    corpora collapse many docs into one bucket; the cap bounds the
    quadratic tail exactly like the stop-shingle frequency cap).
    Deterministic for a fixed seed. Returns distinct (id_a < id_b).

    ``hash_family="md5"`` (see minhash_signature_array) keys each band
    bucket by the ':'-joined decimal string casts of the signature
    longs instead of an xxhash64 fold —
    engine-portable, so the full banding pipeline replays in DuckDB."""
    b, r = choose_lsh_params(threshold, n_hashes)
    sigs = minhash_signature_array(df, text_col, id_col, b * r, ngram, seed, hash_family)
    # the b band structs stay UNROLLED on purpose (r14, measured): a
    # loop form — one transform over sequence(0, b-1) — references
    # "minhash" exactly once, so CollapseProject inlines the whole
    # signature aggregate into the band lambda and the signature build
    # re-runs once PER BAND (part of the 138 s vs ~6 s regression at
    # sf0.1, with the per-permutation inline above). With b separate
    # references the aggregate is non-cheap + multi-consumer, so the
    # optimizer keeps the signature projection as a real barrier. b is
    # a small self-tuned constant (~8-32), so O(b) py4j calls are noise.
    if hash_family == "md5":
        bucket_of = lambda i: F.array_join(  # noqa: E731
            F.transform(F.slice("minhash", i * r + 1, r), lambda x: x.cast("string")),
            ":",
        )
    else:
        bucket_of = lambda i: F.xxhash64(F.lit(i), F.slice("minhash", i * r + 1, r))  # noqa: E731
    bands = F.array(
        *[
            F.struct(F.lit(i).alias("band"), bucket_of(i).alias("bucket"))
            for i in range(b)
        ]
    )
    posts = (
        sigs.select("doc_id", F.explode(bands).alias("bb"))
        .select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
        .groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        posts.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def connected_components(
    pairs: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Cluster near-duplicate pairs into dedup groups: connected
    components by iterative min-label propagation (the step after pair
    generation in a real dedup pipeline — every member of a component
    dedups to the component's minimum id).

    Each propagation step is two shuffle stages (neighbor join, then
    one union-groupBy that takes the min over {own label} + {neighbor
    labels} — the same value as the older least/coalesce left-join form
    but with one fewer join and exchange per step). TWO steps run per
    materialization cycle (one checkpoint + one convergence count per
    cycle): labels after k propagation steps are the same however the
    steps are grouped, and a cycle whose LAST step moved nothing ended
    on a fixpoint (step 2 output == its input means that input was
    already stable), so the halved per-cycle driver latency cannot
    change the result — at worst one identity step runs past
    convergence. The total step count stays capped at ``max_iter``
    exactly, so even a pathologically deep graph that exhausts the cap
    yields the same labels as the one-step-per-cycle form. Convergence
    is checked on the driver via a count (metadata-scale, not
    data-scale). AQE handles the shrinking frontier. Returns
    (doc_id, cluster) for every id appearing in pairs.
    """
    edges = pairs.select(
        F.col(pairs.columns[0]).alias("a"), F.col(pairs.columns[1]).alias("b")
    )
    edges = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # materialize once: every iteration joins against edges — without the
    # checkpoint the full upstream pair-generation pipeline re-executes
    # per iteration (lazy: the first iteration's action materializes it,
    # so no extra driver-blocking job)
    edges = edges.localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    label_type = labels.schema["label"].dataType

    def step(lbl: DataFrame) -> DataFrame:
        # one union-groupBy replaces the older neighbor-min groupBy +
        # left-join-back (r14): new label = min over the id's own label
        # row plus every neighbor's label row — identical to
        # least(label, coalesce(min(neighbor labels), label)) since min
        # over the union IS that least, and every id contributes exactly
        # one own row (so ids with no neighbors keep their label). The
        # own row also carries the previous label, which the aggregate
        # recovers via max(old) (non-null exactly once per id) for the
        # in-update convergence flag.
        prop = edges.join(lbl, edges.b == lbl.id).select(
            F.col("a").alias("id"),
            F.col("label"),
            F.lit(None).cast(label_type).alias("old"),
        )
        own = lbl.select("id", "label", F.col("label").alias("old"))
        return (
            own.unionByName(prop)
            .groupBy("id")
            .agg(F.min("label").alias("label"), F.max("old").alias("old"))
            .select(
                "id",
                "label",
                (F.col("label") != F.col("old")).alias("_chg"),
            )
        )

    steps_done = 0
    while steps_done < max_iter:
        new_labels = step(labels)
        steps_done += 1
        if steps_done < max_iter:  # unroll a second step into this cycle
            new_labels = step(new_labels.drop("_chg"))
            steps_done += 1
        new_labels = new_labels.localCheckpoint()  # cut the growing lineage
        changed = new_labels.where(F.col("_chg")).limit(1).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster"))


def embedding_cosine_dedup(
    docs: DataFrame,
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "banded",
    **method_kwargs,
) -> DataFrame:
    """Embedding-cosine near-duplicate dedup: semantic twin of the
    lexical tiers — two documents are duplicates when their embedding
    cosine >= threshold, duplicates cluster into components, and each
    component keeps its minimum-id canonical. Returns the surviving rows
    of ``docs`` (vec_id == doc_id links the two tables).

    ``method`` picks the pair generator (``method_kwargs`` pass through
    to it):

    - ``"banded"`` (default — the 100 TB path): hyperplane-banded
      candidates with every (table, bucket) cell hash-sub-split to
      <= ~max_bucket members (similarity.cosine_banded_pairs), so
      candidate volume is O(n * max_bucket * num_tables) BY
      CONSTRUCTION — bounded even on adversarial data. Precision is
      exact (candidates are cosine-rechecked); recall is the banding
      collision probability, deterministic and DuckDB-replayable
      (kwargs: d_in, n_bits, num_tables, max_bucket, seed).
    - ``"lsh"``: pyspark.ml BucketedRandomProjectionLSH candidates +
      exact re-check. LABELED BASELINE since round 13: measurement
      showed its old bucketLength=2.0 hashing degenerate to ~all-pairs
      candidates on unit vectors; the generator now derives a
      non-degenerate bucket length and fail-loud-fences collapsed
      hashing (kwargs: num_tables, bucket_length, allow_degenerate).
    - ``"exact"``: the all-pairs quadratic baseline
      (similarity.threshold_pairs) — the oracle/exactness anchor at
      small scale; it plans a BroadcastNestedLoopJoin.
    """
    from .similarity import (
        cosine_banded_pairs,
        cosine_lsh_candidate_pairs,
        threshold_pairs,
    )

    if method == "exact":
        pairs = threshold_pairs(
            embeddings, threshold, id_col=vec_id_col, vec_col=vec_col,
            **method_kwargs,
        ).select("id_a", "id_b")
    elif method == "lsh":
        pairs = cosine_lsh_candidate_pairs(
            embeddings, threshold, id_col=vec_id_col, vec_col=vec_col,
            **method_kwargs,
        ).select("id_a", "id_b")
    elif method == "banded":
        pairs = cosine_banded_pairs(
            embeddings, threshold, id_col=vec_id_col, vec_col=vec_col,
            **method_kwargs,
        ).select("id_a", "id_b")
    else:
        raise ValueError(
            f"unknown method {method!r}: expected 'banded', 'lsh' or 'exact'"
        )
    clusters = connected_components(pairs)
    drop = clusters.where(F.col("doc_id") != F.col("cluster")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fuzzy_threshold: float | None = 0.8,
    k: int = 3,
) -> DataFrame:
    """The end-to-end dedup a training-data pipeline actually runs:
    drop exact duplicates (normalized-hash groups), then drop fuzzy
    near-duplicates (Jaccard clusters), keeping the minimum-id canonical
    document of every group. Returns the surviving rows of ``df``.

    fuzzy_threshold=None skips the fuzzy stage (exact-only). Fuzzy pairs
    come from true shingle Jaccard (``ngram_jaccard_pairs``: exact recall
    at the threshold, oracle-checkable).
    """
    exact = exact_dedup_groups(df, text_col, id_col, normalize=True)
    keep_exact = exact.select(F.col("canonical_id").alias(id_col))
    survivors = df.join(keep_exact, id_col, "left_semi")

    if fuzzy_threshold is not None:
        pairs = ngram_jaccard_pairs(
            survivors, text_col, id_col, k=k, threshold=fuzzy_threshold
        ).select("id_a", "id_b")
        clusters = connected_components(pairs)
        # every clustered doc except its cluster's canonical (min id) drops
        drop = clusters.where(F.col("doc_id") != F.col("cluster")).select(
            F.col("doc_id").alias(id_col)
        )
        survivors = survivors.join(drop, id_col, "left_anti")
    return survivors


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Train-vs-eval decontamination: flag every train document sharing
    at least one k-token shingle with any eval document (the standard
    n-gram-overlap test-set-leakage check).

    Inverted-index shape, same 100 TB posture as ngram_jaccard_pairs:
    both sides explode to (shingle-hash, id) and meet in ONE equi-join on
    the 64-bit shingle hash — never a doc x doc comparison. The eval side
    is benchmarks (tiny vs the corpus), so its distinct shingle set
    broadcasts; the train side streams map-side. Returns the distinct
    contaminated train ids (one column, ``id_col``).
    """
    tr = train.select(
        F.col(id_col), F.explode(shingles(text_col, k)).alias("sh_str")
    ).select(id_col, F.xxhash64("sh_str").alias("sh"))
    ev = (
        eval_df.select(F.explode(shingles(text_col, k)).alias("sh_str"))
        .select(F.xxhash64("sh_str").alias("sh"))
        .distinct()
    )
    return tr.join(F.broadcast(ev), "sh", "left_semi").select(id_col).distinct()


def aligned_fingerprint_spans(
    fp: DataFrame,
    k: int = 3,
    min_aligned: int = 2,
    max_fp_freq: int = 50,
) -> DataFrame:
    """Shared-substring span detection from winnowing fingerprints — the
    scalable approximation of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", which
    uses suffix arrays; a distributed engine gets the same signal from
    aligned fingerprint runs).

    Input: (doc_id, fp_hash, fp_pos) from
    ``operators/text.winnowing_fingerprints``. Matching fingerprints
    across two docs that sit on the SAME DIAGONAL (fp_pos_a - fp_pos_b
    constant) witness one contiguous shared word run; the winnowing
    guarantee (a shared run of >= w+k-1 words leaves >= 1 shared
    fingerprint, density ~2/(w+1)) makes n_aligned a calibrated
    lower-bound witness for span length. Output per pair: the best
    diagonal with its aligned-match count, start offset in doc A, and
    the spanned word length (max_pos - min_pos + k).

    Plan shape: fingerprints self-join ON fp_hash (equi-shuffle, no
    BNLJ); ``max_fp_freq`` prunes boilerplate fingerprints whose
    posting lists would make pair expansion quadratic (the same
    frequency-cap discipline as ngram_jaccard_pairs — both engines
    apply it, so oracle parity is exact); the per-diagonal groupBy and
    the per-pair top-1 window shuffle only (pair, diag) keys."""
    freq_ok = (
        fp.groupBy("fp_hash")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") <= max_fp_freq)
        .select("fp_hash")
    )
    ok = fp.join(freq_ok, "fp_hash")
    a = ok.select(F.col("doc_id").alias("id_a"), "fp_hash", F.col("fp_pos").alias("pa"))
    b = ok.select(F.col("doc_id").alias("id_b"), "fp_hash", F.col("fp_pos").alias("pb"))
    m = a.join(b, "fp_hash").where(F.col("id_a") < F.col("id_b"))
    d = (
        m.groupBy("id_a", "id_b", (F.col("pa") - F.col("pb")).alias("diag"))
        .agg(
            F.count(F.lit(1)).alias("n_aligned"),
            F.min("pa").alias("start_a"),
            (F.max("pa") - F.min("pa") + F.lit(k)).alias("span_words"),
        )
        .where(F.col("n_aligned") >= min_aligned)
    )
    w = W.partitionBy("id_a", "id_b").orderBy(F.desc("n_aligned"), "diag")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("id_a", "id_b", "diag", "n_aligned", "start_a", "span_words")
    )


def incremental_dedup_flags(
    corpus: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.3,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Dedup a NEW batch (``delta``) against an EXISTING corpus plus
    within itself — the daily-increment shape of a growing 100 TB
    corpus, where rescanning corpus x corpus every ingest would be the
    scale killer. Only two pair families are ever generated:
    (corpus, delta) via an equi-join of the two posting tables on the
    shingle hash, and (delta, delta) via the standard posting-list
    expansion on the (small) delta side. The corpus side contributes
    ONE posting-table build — in production that table is the persisted
    bucketed index a previous ingest already wrote (sources/
    incremental.py supplies the HWM read that isolates the delta), so
    the amortized per-batch cost is O(delta) scan + O(candidates) join,
    never O(corpus^2) and never a corpus rescan per batch.

    Jaccard is computed on FULL distinct shingle sets exactly as
    ``ngram_jaccard_pairs`` (the cap prunes only posting expansion);
    64-bit shingle hashes are grouping keys only, so counts replay on
    shingle strings in DuckDB. Returns one row per delta doc:
    ``verdict`` = 'dup_of_corpus' (>= threshold match in the corpus;
    ``dup_of`` = lowest matching corpus id), else 'dup_in_batch'
    (matched a LOWER-id delta doc; keep-lowest-id convention), else
    'new'. ``best_jaccard`` is the strongest supporting similarity
    (6dp-rounded), NULL for 'new'."""
    from ..functions.rounding import hround

    def _sh_arr(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(
                F.transform(shingles(text_col, k), lambda s: F.xxhash64(s))
            ).alias("shs"),
        ).localCheckpoint()

    sh_c = _sh_arr(corpus)
    sh_d = _sh_arr(delta)
    posts_c = (
        sh_c.select("doc_id", F.explode("shs").alias("sh"))
        .groupBy("sh")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("cids"))
    )
    if max_shingle_freq is not None:
        posts_c = posts_c.where(F.size("cids") <= max_shingle_freq)
    posts_d = (
        sh_d.select("doc_id", F.explode("shs").alias("sh"))
        .groupBy("sh")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("dids"))
    )
    if max_shingle_freq is not None:
        posts_d = posts_d.where(F.size("dids") <= max_shingle_freq)

    sz_c = sh_c.select("doc_id", F.size("shs").alias("n_sh"))
    sz_d = sh_d.select("doc_id", F.size("shs").alias("n_sh"))

    # corpus x delta candidates: ONE equi-join of posting tables on the
    # shingle key, pairs expanded from the two (capped) posting arrays
    cross_pairs = (
        posts_c.join(posts_d, "sh")
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("cids"),
                        lambda c: F.transform(
                            F.col("dids"),
                            lambda d: F.struct(
                                c.alias("id_c"), d.alias("id_d")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy("p.id_c", "p.id_d")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .join(sz_c.select(F.col("doc_id").alias("id_c"), F.col("n_sh").alias("n_c")), "id_c")
        .join(sz_d.select(F.col("doc_id").alias("id_d"), F.col("n_sh").alias("n_d")), "id_d")
        .withColumn(
            "jac",
            F.col("n_inter") / (F.col("n_c") + F.col("n_d") - F.col("n_inter")),
        )
        .where(F.col("jac") >= F.lit(threshold))
    )

    # delta x delta pairs: standard posting-list expansion, delta only
    dd_structs = F.flatten(
        F.transform(
            F.col("dids"),
            lambda x, i: F.transform(
                F.slice(F.col("dids"), i + F.lit(2), F.size(F.col("dids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    delta_pairs = (
        posts_d.where(F.size("dids") >= 2)
        .select(F.explode(dd_structs).alias("p"))
        .groupBy("p.id_a", "p.id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .join(sz_d.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sz_d.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .withColumn(
            "jac",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .where(F.col("jac") >= F.lit(threshold))
    )

    corpus_hit = cross_pairs.groupBy(F.col("id_d").alias("doc_id")).agg(
        F.min("id_c").alias("corpus_dup_of"),
        F.max("jac").alias("corpus_jac"),
    )
    # keep-lowest-id within the batch: a delta doc is a batch dup only
    # of a LOWER delta id
    batch_hit = delta_pairs.groupBy(F.col("id_b").alias("doc_id")).agg(
        F.min("id_a").alias("batch_dup_of"),
        F.max("jac").alias("batch_jac"),
    )
    return (
        sh_d.select("doc_id")
        .join(corpus_hit, "doc_id", "left")
        .join(batch_hit, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("corpus_dup_of").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col("batch_dup_of").isNotNull(), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.coalesce("corpus_dup_of", "batch_dup_of").alias("dup_of"),
            hround(
                F.when(
                    F.col("corpus_dup_of").isNotNull(), F.col("corpus_jac")
                ).otherwise(F.col("batch_jac")),
                6,
            ).alias("best_jaccard"),
        )
    )


def duplicated_spans(
    docs: DataFrame,
    gram_len: int = 20,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicated-substring spans, the character-level dedup of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") re-expressed for Spark: a character position is DUPLICATED
    when the ``gram_len``-char substring starting there occurs at least
    ``min_count`` times corpus-wide (within-doc repeats count, as in the
    suffix-array formulation). Per doc, overlapping/touching duplicated
    intervals are merged into maximal covered runs via lag/lead windows
    (gaps-and-islands without an islands subquery).

    Returns (doc_id, n_spans, dup_chars, dup_frac) for every doc with at
    least one duplicated gram.

    Complementary to ``aligned_fingerprint_spans`` (the winnowing-based
    detector behind ``dedup_substring_spans``): that one reports
    per-PAIR aligned word runs from sampled fingerprints; this one
    reports per-DOC exact character coverage against the WHOLE corpus
    (including within-doc repetition), which is the quantity Lee et
    al.'s removal step actually consumes.

    Scale shape: the exploded positions table is LINEAR in corpus chars
    (same asymptotics as a suffix array build); the duplicate test is one
    hash-keyed groupBy + equi-join back (each position matches exactly
    one gram row — no fan-out), and the merge window partitions by doc.
    The gram key is xxhash64 (8-byte shuffle key, cheap) — the hash is
    INTERNAL, so the result is identical under any injective-in-practice
    keying and the DuckDB oracle may key by md5 instead (the same
    argument as ``ngram_jaccard_pairs``' 64-bit shingle keys: collisions
    ~2^-64 could only merge two distinct grams).
    """
    base = docs.select(id_col, text_col).where(F.length(text_col) >= gram_len)
    gram = F.col("_t").substr(F.col("i"), F.lit(gram_len))
    pos = base.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.explode(
            F.sequence(F.lit(1), F.length(text_col) - F.lit(gram_len - 1))
        ).alias("i"),
    ).select("doc_id", "i", F.xxhash64(gram).alias("g"))
    dup_grams = (
        pos.groupBy("g")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= min_count)
        .select("g")
    )
    dpos = pos.join(dup_grams, "g").select("doc_id", "i")
    w = W.partitionBy("doc_id").orderBy("i")
    marked = dpos.select(
        "doc_id",
        "i",
        F.lag("i").over(w).alias("prev"),
        F.lead("i").over(w).alias("nxt"),
    )
    per_pos = marked.select(
        "doc_id",
        F.when(
            F.col("prev").isNull() | (F.col("i") - F.col("prev") > gram_len),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_span"),
        F.least(
            F.coalesce(F.col("nxt") - F.col("i"), F.lit(gram_len)),
            F.lit(gram_len),
        ).alias("cov"),
    )
    stats = per_pos.groupBy("doc_id").agg(
        F.sum("new_span").cast("bigint").alias("n_spans"),
        F.sum("cov").cast("bigint").alias("dup_chars"),
    )
    lens = docs.select(
        F.col(id_col).alias("doc_id"), F.length(text_col).alias("_len")
    )
    return stats.join(lens, "doc_id").select(
        "doc_id",
        "n_spans",
        "dup_chars",
        (F.col("dup_chars") / F.col("_len")).alias("dup_frac"),
    )


def jaccard_prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Document pairs (id_a < id_b) with shingle-set Jaccard >= threshold
    via PREFIX FILTERING (Chaudhuri et al. 2006 / PPJoin family) — a
    LOSSLESS candidate pruner, unlike ``max_shingle_freq``'s recall cap.

    The guarantee: order every document's shingles by a global rank
    (ascending document frequency, rarest first — ties on the hash) and
    keep only its first ``|x| - ceil(t*|x|) + 1`` as the PREFIX. If
    J(x, y) >= t then x misses at most ``|x| - ceil(t*|x|)`` of its own
    shingles from y, so at least one PREFIX shingle of x occurs in y —
    indexing prefixes against full postings finds every qualifying pair,
    exactly. Rare-first ordering makes prefixes the shortest posting
    lists in the corpus, so the candidate join touches a fraction of the
    full posting expansion (the classic (1-t) prefix-size saving times
    the rare-token posting-length saving).

    Plan shape: one per-doc window (partitioned by doc) ranks shingles;
    candidates are ONE equi-join of the prefix posting table against the
    full posting table (no self-join of the corpus); the exact verify is
    two id-equi-joins fetching the materialized distinct-hash arrays and
    a JVM ``array_intersect`` per candidate. A candidate size filter
    (t*|x| <= |y| <= |x|/t, the standard length filter) drops impossible
    pairs before the arrays are fetched. Returns
    (id_a, id_b, jaccard_raw), bit-identical to
    ``ngram_jaccard_pairs(..., threshold, max_shingle_freq=None)``."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_txt"))
    par = df.sparkSession.sparkContext.defaultParallelism
    if 0 < _estimated_scan_splits(df) < par:
        src = src.repartition(par)
    sh_arr = src.select(
        "doc_id",
        F.array_distinct(
            F.transform(shingles("_txt", k), lambda s: F.xxhash64(s))
        ).alias("shs"),
    ).localCheckpoint()  # consumed by ranking, postings, and the verify
    sizes = sh_arr.select("doc_id", F.size("shs").alias("n_sh"))
    tok = sh_arr.select("doc_id", F.explode("shs").alias("sh"))
    dfreq = tok.groupBy("sh").agg(F.count(F.lit(1)).alias("dfr"))
    ranked = (
        tok.join(dfreq, "sh")
        .withColumn(
            "r",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.col("dfr"), F.col("sh"))
            ),
        )
        .join(sizes, "doc_id")
    )
    prefix = ranked.where(
        F.col("r") <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).select("sh", F.col("doc_id").alias("id_p"), F.col("n_sh").alias("n_p"))
    full = tok.join(sizes, "doc_id").select(
        "sh", F.col("doc_id").alias("id_f"), F.col("n_sh").alias("n_f")
    )
    cand = (
        prefix.join(full, "sh")
        .where(F.col("id_p") != F.col("id_f"))
        # length filter rides the candidate join: J >= t forces
        # t*|x| <= |y| <= |x|/t
        .where(
            (F.col("n_f") >= F.lit(threshold) * F.col("n_p"))
            & (F.col("n_f") <= F.col("n_p") / F.lit(threshold))
        )
        .select(
            F.least("id_p", "id_f").alias("id_a"),
            F.greatest("id_p", "id_f").alias("id_b"),
        )
        .distinct()
    )
    a = sh_arr.select(
        F.col("doc_id").alias("id_a"), F.col("shs").alias("_sa")
    )
    b = sh_arr.select(
        F.col("doc_id").alias("id_b"), F.col("shs").alias("_sb")
    )
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard_raw",
            F.col("n_inter")
            / (F.size("_sa") + F.size("_sb") - F.col("n_inter")),
        )
        .where(F.col("jaccard_raw") >= F.lit(threshold))
    )
    return verified.select("id_a", "id_b", "jaccard_raw")
