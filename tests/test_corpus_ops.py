"""New corpus operators: blocked fuzzy join, decontamination, bigrams,
cents_sum — plus regression pins for the round-3 ADVICE fixes
(hash_split remainder bounding, range-join null-safe left outer)."""

from __future__ import annotations

from pyspark.sql import functions as F

from les_etl_pipeline_spark.functions.rounding import cents_sum
from les_etl_pipeline_spark.operators.dedup import decontaminate
from les_etl_pipeline_spark.operators.fuzzyjoin import blocked_levenshtein_join
from les_etl_pipeline_spark.operators.rangejoin import point_in_interval_join
from les_etl_pipeline_spark.operators.sampling import hash_split
from les_etl_pipeline_spark.operators.text import bigrams


def test_blocked_levenshtein_matches_naive(spark):
    names = ["cold widget", "bold widget", "large bolt", "small bolt", "blue rod"]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = sorted(
        map(
            tuple,
            blocked_levenshtein_join(df, df, "name", "name", max_distance=2)
            .where(F.col("left_name") < F.col("right_name"))
            .collect(),
        )
    )
    # naive: all pairs within distance 2 that share the last token
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    want = sorted(
        (a, b, lev(a, b))
        for a, b in itertools.combinations(sorted(names), 2)
        if a.split()[-1] == b.split()[-1] and lev(a, b) <= 2
    )
    assert got == want
    assert ("bold widget", "cold widget") in {(a, b) for a, b, _ in got}


def test_blocked_levenshtein_block_cap_drops_hot_keys(spark):
    rows = [(f"name{i} hot",) for i in range(20)] + [("cold widget",), ("bold widget",)]
    df = spark.createDataFrame(rows, "name string")
    got = blocked_levenshtein_join(
        df, df, "name", "name", max_distance=2, max_block_freq=10
    ).where(F.col("left_name") < F.col("right_name"))
    # the 'hot' block (20 names) is dropped entirely; 'widget' block stays
    assert sorted(map(tuple, got.collect())) == [("bold widget", "cold widget", 1)]


def test_decontaminate_flags_shared_shingle_only(spark):
    shared = " ".join(f"w{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, shared + " traintail"),
            (2, "completely different words " + " ".join(f"x{i}" for i in range(8))),
            (3, "short doc"),  # < k tokens: no shingles, never flagged
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "prefix " + shared), (101, "clean eval doc with its own tokens")],
        "doc_id long, text string",
    )
    got = sorted(r["doc_id"] for r in decontaminate(docs, eval_df, k=8).collect())
    assert got == [1]


def test_bigrams_edge_cases(spark):
    df = spark.createDataFrame([("a b c",), ("solo",), ("x y",)], "text string")
    got = df.select(bigrams("text").alias("bg")).collect()
    assert [r["bg"] for r in got] == [["a b", "b c"], [], ["x y"]]


def test_cents_sum_exact(spark):
    df = spark.createDataFrame([(1.005,), (2.994,), (0.001,)], "v double")
    # floor(100.5+0.5)=101 ... floor(100*1.005+0.5): 1.005*100 = 100.49999...
    # -> computed on the actual doubles, same as the engine would
    import math

    want = sum(math.floor(v * 100 + 0.5) for v in (1.005, 2.994, 0.001))
    assert df.agg(cents_sum("v").alias("c")).collect()[0]["c"] == want


def test_hash_split_bounds_every_label(spark):
    df = spark.range(10_000).withColumnRenamed("id", "k")
    out = hash_split(df, "k", {"train": 0.5, "val": 0.05, "test": 0.02})
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    # test really gets ~2%, not the 43% remainder; remainder -> NULL label
    assert counts["test"] < counts["val"] < counts["train"]
    assert 100 < counts["test"] < 350
    assert counts.get(None, 0) > 3500  # the unallocated 43%


def test_hash_split_null_key_goes_to_remainder(spark):
    df = spark.createDataFrame([(None,), ("a",)], "k string")
    out = {r["k"]: r["split"] for r in hash_split(df, "k", {"all": 1.0}).collect()}
    assert out[None] is None and out["a"] == "all"


def test_range_join_left_null_column_not_duplicated(spark):
    """ADVICE r2: a matched point carrying a NULL column must not be
    re-emitted as a spurious unmatched row (old anti-join on all point
    columns was not null-safe)."""
    pts = spark.createDataFrame([(1, 5.0, None), (2, 50.0, "x")], "pid long, ts double, tag string")
    iv = spark.createDataFrame([(10, 0.0, 10.0)], "iid long, lo double, hi double")
    got = point_in_interval_join(pts, iv, "ts", "lo", "hi", bin_width=2.0, how="left")
    rows = sorted(map(tuple, got.select("pid", "iid").collect()))
    # pid=1 (NULL tag) matched -> exactly one row; pid=2 unmatched -> NULL iid
    assert rows == [(1, 10), (2, None)]


def test_bmp_roundtrip_stride_aware():
    """encode_bmp -> decode_image: header fields and mean pixel survive
    the round trip, including widths whose 3-byte rows need padding
    (stride handling would skew the mean if padding bytes leaked in)."""
    from les_etl_pipeline_spark.operators import multimodal as mm

    for width in (1, 2, 3, 4, 5):  # strides 4,8,12,12,16 — padded and not
        img = mm.decode_image(mm.encode_bmp(width, 3, 200))
        assert img["width"] == width and img["height"] == 3
        assert img["bpp"] == 24 and img["n_pixels"] == width * 3
        assert img["mean_pixel"] == 200.0  # exact: every BGR byte is 200

    try:
        mm.decode_image(b"\x89PNG not a bmp at all........................................")
    except ValueError:
        pass
    else:
        raise AssertionError("non-BMP payload must raise ValueError")


def test_wav_roundtrip_exact_rms():
    """encode_wav -> decode_audio: a ±A square wave has RMS exactly A
    (A² is exact in double, sqrt is correctly rounded), and duration
    follows from frames/rate."""
    from les_etl_pipeline_spark.operators import multimodal as mm

    au = mm.decode_audio(mm.encode_wav(n_frames=240, amplitude=1172, sample_rate=8000))
    assert au == {
        "n_channels": 1,
        "sample_rate": 8000,
        "n_frames": 240,
        "duration_ms": 30,
        "rms": 1172.0,
    }


def test_dedup_corpus_drops_clear_dups(spark):
    """dedup_corpus drops the obvious duplicates of a corpus where the
    duplicate structure is unambiguous (identical and one-word-edited
    docs, plus unique docs), keeping each group's minimum id."""
    from les_etl_pipeline_spark.operators.dedup import dedup_corpus

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),                                   # exact dup of 1
        (3, base.replace("today", "tonight")),       # near dup of 1
        (4, "completely unrelated text about spark query planning at scale"),
        (5, "another unique document mentioning parquet files and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r["doc_id"] for r in dedup_corpus(df, fuzzy_threshold=0.5).collect()}
    assert kept == {1, 4, 5}


def test_decoder_registry_dispatch_and_unknown_mime(spark):
    """decode_features dispatches through the mime->decoder registries
    (the codec seam, VERDICT r8 #8): registered mimes decode, an
    unregistered mime fails loudly inside the Arrow batch."""
    import pytest

    from les_etl_pipeline_spark.operators import multimodal as mm

    assert "image/bmp" in mm.IMAGE_DECODERS and "audio/wav" in mm.AUDIO_DECODERS
    assets = spark.createDataFrame(
        [
            (1, mm.encode_bmp(4, 3, 100), "image/bmp", 0),
            (2, mm.encode_wav(64, 1000), "audio/wav", 0),
        ],
        mm.ASSET_SCHEMA,
    )
    rows = {r.doc_id: r for r in mm.decode_features(assets).collect()}
    assert rows[1].width == 4 and rows[1].mean_pixel == 100.0
    assert rows[2].rms == 1000.0
    bad = spark.createDataFrame(
        [(3, b"GIF89a....", "image/gif", 0)], mm.ASSET_SCHEMA
    )
    with pytest.raises(Exception, match="no decoder for mime"):
        mm.decode_features(bad).collect()


def test_pil_decoder_matches_stdlib_contract():
    """Where PIL exists, its decoder must return the IDENTICAL dict as
    the stdlib BMP decoder for the same payload — the registry's
    promise that stdlib decoders and real codecs share one contract.
    Self-skips in this container (PIL absent; COVERAGE.md env-limit 4)."""
    import pytest

    from les_etl_pipeline_spark.operators import multimodal as mm

    pytest.importorskip("PIL")
    for width, value in ((1, 0), (3, 77), (5, 200)):
        payload = mm.encode_bmp(width, 3, value)
        assert mm.pil_decode_image(payload) == mm.decode_image(payload)
    # round 14: PNG decodes stdlib-side too — PIL must agree with the
    # zlib/unfilter decoder on an all-filters fixture (mean over color
    # bytes; PIL reports the full-channel mean, so compare the RGB form)
    png = mm.encode_png(13, 11, lambda x, y: (x * 37 + y * 101) % 256)
    pil = mm.pil_decode_image(png)
    std = mm.decode_png(png)
    assert (pil["width"], pil["height"]) == (std["width"], std["height"])
    assert abs(pil["mean_pixel"] - std["mean_pixel"]) < 1e-9
