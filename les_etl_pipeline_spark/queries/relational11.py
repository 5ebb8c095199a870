"""Ninth relational pack: reshape + semi-structured + lateral UDTF +
layout-key surfaces that round 5 adds to the inventory.

- ``unpivot_melt``: wide->long reshape (DataFrame.unpivot/melt), the
  inverse of the pivot family in relational2/relational9.
- ``json_variant_extract``: Spark 4 VariantType round-trip — parse_json
  into an open-schema variant, typed try_variant_get extraction. The
  scale rationale: variant shreds ingestion-time JSON ONCE into a
  binary-columnar form instead of re-parsing strings per query.
- ``udtf_word_chunks``: Python UDTF (Spark 4) in a LATERAL join — the
  table-function API surface. Marked as the slow-path demo: the native
  twins (slide/sequence chunkers in operators/text.py,
  multimodal.byte_chunks) are the 100 TB paths; a UDTF earns its place
  only when per-row fan-out logic genuinely can't be expressed with
  builtins.
- ``zorder_cluster_key``: Morton-interleave layout key
  (functions/zorder.py) — write-time clustering for two-dimensional
  data skipping.
- ``asof_join_tolerance``: as-of join with a staleness bound, same
  single-shuffle union+running-max plan as asof_join_union_window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.rounding import hround
from ..functions.zorder import morton_key, morton_sql
from .registry import register


@register(
    "unpivot_melt",
    oracle="""
    WITH a AS (
      SELECT l_returnflag,
             (floor(sum(l_quantity) * 100.0 + 0.5) / 100.0)      AS sum_qty,
             (floor(sum(l_extendedprice) * 100.0 + 0.5) / 100.0) AS sum_price,
             (floor(sum(l_discount) * 10000.0 + 0.5) / 10000.0)  AS sum_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, metric, value FROM (
      SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
      UNION ALL
      SELECT l_returnflag, 'sum_price', sum_price FROM a
      UNION ALL
      SELECT l_returnflag, 'sum_disc', sum_disc FROM a
    ) ORDER BY l_returnflag, metric
    """,
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long reshape via DataFrame.unpivot (SQL UNPIVOT / melt):
    per-flag metric columns become (metric, value) rows — the inverse of
    pivot_multi_agg. Catalyst expands unpivot to an Expand node (one row
    per value column) BEFORE any shuffle, so the reshape itself is
    pipeline-local; the only exchange is the upstream groupBy. Value
    columns are pre-rounded to a common double type (unpivot requires a
    least-common type across value columns)."""
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        hround(F.sum("l_quantity")).alias("sum_qty"),
        hround(F.sum("l_extendedprice")).alias("sum_price"),
        hround(F.sum("l_discount"), 4).alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "metric", "value"
    ).orderBy("l_returnflag", "metric")


@register(
    "json_variant_extract",
    oracle="""
    WITH j AS (
      SELECT o_orderkey,
             json_object('k', o_orderkey,
                         'cust', json_object('id', o_custkey),
                         'price', o_totalprice,
                         'tags', json_array(o_orderstatus, o_orderpriority)) AS doc
      FROM orders WHERE o_orderkey <= 2000
    )
    SELECT o_orderkey,
           CAST(json_extract(doc, '$.cust.id') AS BIGINT) AS cust_id,
           (floor(CAST(json_extract(doc, '$.price') AS DOUBLE) * 100.0 + 0.5)
            / 100.0) AS price_r,
           json_extract_string(doc, '$.tags[0]') AS tag0,
           json_extract(doc, '$.missing') IS NULL AS missing_is_null
    FROM j ORDER BY o_orderkey
    """,
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType path: serialize a nested record to JSON once,
    parse_json it into the binary variant encoding, then extract typed
    fields with try_variant_get (absent path -> NULL, no error). Why it
    matters at 100 TB: variant is parsed ONCE at ingest into a shredded
    binary form — downstream extractions are offset lookups, not
    repeated string parsing (the classic sidecar-JSON tax that
    get_json_object pays per call). The oracle runs the same
    construct-then-extract round trip through DuckDB's JSON type."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    doc = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("k"),
            F.struct(F.col("o_custkey").alias("id")).alias("cust"),
            F.col("o_totalprice").alias("price"),
            F.array("o_orderstatus", "o_orderpriority").alias("tags"),
        )
    )
    v = F.parse_json(doc)
    return o.select(
        "o_orderkey",
        F.try_variant_get(v, "$.cust.id", "bigint").alias("cust_id"),
        hround(F.try_variant_get(v, "$.price", "double")).alias("price_r"),
        F.try_variant_get(v, "$.tags[0]", "string").alias("tag0"),
        F.try_variant_get(v, "$.missing", "string").isNull().alias("missing_is_null"),
    ).orderBy("o_orderkey")


@register(
    "udtf_word_chunks",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents WHERE doc_id <= 200 AND text IS NOT NULL
    ), s AS (
      SELECT doc_id, w, unnest(generate_series(1, greatest(len(w), 1), 8)) AS start
      FROM t
    )
    SELECT doc_id,
           CAST((start - 1) // 8 AS INT) AS seq,
           array_to_string(w[start:least(start + 15, len(w))], ' ') AS chunk
    FROM s ORDER BY doc_id, seq
    """,
)
def udtf_word_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 user-defined table function) in a LATERAL
    join: each document fans out to overlapping 16-word windows with
    stride 8 — the sliding-context chunker shape. This query is the
    table-function API surface demo; it is deliberately NOT the scale
    path (a row-at-a-time Python UDTF serializes every row through the
    Python worker — operators/text.py's native slice/sequence chunkers
    do the same fan-out JVM-side and are the 100 TB default). The
    lateral join compiles to a Generate node, not a nested-loop join,
    so the plan stays embarrassingly parallel."""

    from pyspark.sql.functions import udtf

    @udtf(returnType="seq int, chunk string")
    class WordChunks:
        def eval(self, text: str):  # noqa: ANN001 - UDTF contract
            words = (text or "").split(" ")
            for seq, start in enumerate(range(0, max(len(words), 1), 8)):
                yield seq, " ".join(words[start : start + 16])

    spark.udtf.register("word_chunks", WordChunks)
    docs = table(spark, sf_dir, "documents").where(
        (F.col("doc_id") <= 200) & F.col("text").isNotNull()
    )
    docs.createOrReplaceTempView("udtf_word_chunks_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.seq, c.chunk
        FROM udtf_word_chunks_docs d, LATERAL word_chunks(d.text) c
        ORDER BY d.doc_id, c.seq
        """
    )


_ZX = "((o_custkey % 64) + 64) % 64"
_ZY = (
    "((date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 64) + 64) % 64"
)


@register(
    "zorder_cluster_key",
    oracle=f"""
    WITH b AS (
      SELECT {_ZX} AS x, {_ZY} AS y FROM orders
    ), z AS (
      SELECT ({morton_sql('x', 'y', 6)}) AS zkey FROM b
    )
    SELECT CAST(zkey >> 4 AS INT) AS cell,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(zkey) AS INT) AS z_min,
           CAST(max(zkey) AS INT) AS z_max
    FROM z GROUP BY cell ORDER BY cell
    """,
)
def zorder_cluster_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order-day): the
    write-time layout op behind two-dimensional data skipping. The key
    interleaves 6 bits of each dimension (functions/zorder.morton_key —
    pure shift/mask arithmetic, fully inside whole-stage codegen); a
    writer would `repartitionByRange(zkey).sortWithinPartitions(zkey)`
    so parquet zone maps become selective on BOTH columns. The query
    surfaces the per-cell histogram + key ranges the layout would
    produce; the oracle recomputes the identical bit plan in SQL
    (two's-complement shifts match across engines; inputs are
    normalized non-negative first)."""
    o = table(spark, sf_dir, "orders")
    x = (((F.col("o_custkey") % 64) + 64) % 64).cast("int")
    y = (
        (
            (
                F.datediff(
                    F.col("o_orderdate").cast("date"), F.to_date(F.lit("1992-01-01"))
                )
                % 64
            )
            + 64
        )
        % 64
    ).cast("int")
    z = o.select(morton_key(x, y, 6).alias("zkey"))
    return (
        z.groupBy(F.shiftright("zkey", 4).alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("zkey").alias("z_min"),
            F.max("zkey").alias("z_max"),
        )
        .orderBy("cell")
    )


@register(
    "asof_join_tolerance",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'view' THEN ts END AS view_ts
      FROM events WHERE event_type IN ('view', 'purchase')
    ), filled AS (
      SELECT user_id, ts, event_id, event_type,
             max(view_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS last_view_ts
      FROM tagged
    )
    SELECT event_id AS purchase_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           strftime(CASE WHEN last_view_ts >= ts - INTERVAL 30 MINUTE
                         THEN last_view_ts END,
                    '%Y-%m-%d %H:%M:%S') AS recent_view_ts
    FROM filled WHERE event_type = 'purchase'
    ORDER BY purchase_id
    """,
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a tolerance bound (pandas merge_asof's
    ``tolerance=`` / kdb wj semantics): each purchase matches the latest
    prior view of the same user ONLY if it happened within the last 30
    minutes — older matches are rejected as stale (NULL). Same
    single-shuffle union+running-max plan as asof_join_union_window;
    the tolerance is a post-window filter, so bounding staleness costs
    nothing extra at scale (no second join, no interval blow-up)."""
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    from pyspark.sql.window import Window as W

    tagged = ev.withColumn(
        "view_ts", F.when(F.col("event_type") == "view", F.col("ts"))
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = tagged.withColumn("last_view_ts", F.max("view_ts").over(w))
    recent = F.when(
        F.col("last_view_ts") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES"),
        F.col("last_view_ts"),
    )
    return (
        filled.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.date_format(recent, "yyyy-MM-dd HH:mm:ss").alias("recent_view_ts"),
        )
        .orderBy("purchase_id")
    )


@register(
    "json_variant_explode",
    oracle="""
    WITH j AS (
      SELECT event_id, json_object('uid', user_id, 'et', event_type) AS doc
      FROM events WHERE event_id <= 500
    ), k AS (
      SELECT event_id, unnest(json_keys(doc)) AS key, doc FROM j
    )
    SELECT event_id,
           CAST(row_number() OVER (PARTITION BY event_id ORDER BY key) - 1
                AS INT) AS pos,
           key,
           CAST(json_extract(doc, '$.' || key) AS VARCHAR) AS val_json
    FROM k ORDER BY event_id, pos
    """,
)
def json_variant_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-schema field iteration via the variant_explode generator
    (Spark 4): each event's variant object fans out to (pos, key, value)
    rows — the schema-on-read sweep over semi-structured payloads whose
    keys aren't known at query-author time (the companion to
    json_variant_extract's known-path lookups). The variant encoding
    stores object fields under a sorted key dictionary, so iteration
    order is alphabetical — the oracle reproduces pos by ranking keys.
    Values surface as JSON text (to_json) so heterogeneous field types
    fit one output column; a lateral generator compiles to Generate,
    partition-parallel like any explode."""
    ev = table(spark, sf_dir, "events").where(F.col("event_id") <= 500)
    doc = F.parse_json(
        F.to_json(
            F.struct(F.col("user_id").alias("uid"), F.col("event_type").alias("et"))
        )
    )
    ev.select("event_id", doc.alias("doc")).createOrReplaceTempView(
        "json_variant_explode_events"
    )
    return spark.sql(
        """
        SELECT event_id, v.pos, v.key, to_json(v.value) AS val_json
        FROM json_variant_explode_events, LATERAL variant_explode(doc) v
        ORDER BY event_id, pos
        """
    )
