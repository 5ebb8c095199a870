"""DuckDB oracle generators for the product-quantization ANN queries.

Every stage of PQ / IVF-PQ is deterministic and engine-portable (Lloyd
training since round 7), so the whole
index — unit-normalize, seed codebooks from the n_codes lowest ids, one
Lloyd update, encode, per-query ADC tables, DECIMAL-exact ADC sums,
short-list, exact cosine re-rank — replays bit-exactly in SQL. The
contracts that make this possible (mirrored from
``operators/similarity.py`` / ``operators/clustering.py``):

- distances/cosines are SEQUENTIAL in-list folds (Spark ``aggregate``
  over ``zip_with`` == DuckDB ``list_aggregate(list_apply(list_zip))``)
  rounded to 6dp BEFORE any argmin / threshold / ranking;
- argmin ties break on the lower code/cell id; rank ties on the lower
  neighbor id;
- centroid updates are 6dp-rounded per-dimension means;
- the ADC sum accumulates DECIMAL(18,6) — order-independent in both
  engines — and casts to DOUBLE only at the end.

The SQL is generated (not hand-written) so the constants stay in
lockstep with the registered query's parameters.
"""

from __future__ import annotations

_R6 = "(floor(({expr}) * 1000000.0 + 0.5) / 1000000.0)"


def _r6(expr: str) -> str:
    return _R6.format(expr=expr)


_D2 = (
    "list_aggregate(list_apply(list_zip({a}, {b}),"
    " x -> (x[1] - x[2]) * (x[1] - x[2])), 'sum')"
)
_DOT = "list_aggregate(list_apply(list_zip({a}, {b}), x -> x[1] * x[2]), 'sum')"


def _base_cte(dim: int, m: int, n_codes: int) -> str:
    # The Spark side uses ragged (j*dim//m, (j+1)*dim//m) subvector
    # bounds; this SQL slices a uniform dim//m. They coincide only when
    # m divides dim — fail loudly on any other registration instead of
    # silently dropping trailing dimensions (ADVICE r7 #3).
    if dim % m != 0:
        raise ValueError(
            f"PQ oracle requires dim % m == 0 (got dim={dim}, m={m}); "
            "the uniform subvector slice would drop trailing dimensions"
        )
    subd = dim // m
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id,
             list_transform(v, x -> x /
               sqrt(list_aggregate(list_apply(v, y -> y * y), 'sum'))) AS ud
      FROM e
    ), sub AS (
      SELECT n.vec_id, js.j,
             (n.ud)[js.j * {subd} + 1 : (js.j + 1) * {subd}] AS svec
      FROM n CROSS JOIN (SELECT unnest(generate_series(0, {m - 1})) AS j) js
    ), cb0 AS (
      SELECT j,
             CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT)
               AS code,
             svec AS cvec
      FROM sub
      QUALIFY row_number() OVER (PARTITION BY j ORDER BY vec_id) <= {n_codes}
    ), a1 AS (
      SELECT s.vec_id, s.j, s.svec, c.code,
             {_r6(_D2.format(a="s.svec", b="c.cvec"))} AS d
      FROM sub s JOIN cb0 c ON s.j = c.j
      QUALIFY row_number() OVER (PARTITION BY s.vec_id, s.j
                                 ORDER BY d, c.code) = 1
    ), cb1 AS (
      SELECT j, code, list(cd ORDER BY pos) AS cvec FROM (
        SELECT a1.j, a1.code, p.pos,
               {_r6("avg((a1.svec)[p.pos])")} AS cd
        FROM a1 CROSS JOIN
             (SELECT unnest(generate_series(1, {subd})) AS pos) p
        GROUP BY a1.j, a1.code, p.pos
      ) GROUP BY j, code
    ), codes AS (
      SELECT s.vec_id, s.j, c.code
      FROM sub s JOIN cb1 c ON s.j = c.j
      QUALIFY row_number() OVER (PARTITION BY s.vec_id, s.j
        ORDER BY {_r6(_D2.format(a="s.svec", b="c.cvec"))}, c.code) = 1
    )
"""


def _adc_tail(k: int, rerank: int, query_sql: str, cell_filter: bool, m: int = 0) -> str:
    nj = f"HAVING count(*) = {m}" if cell_filter else ""
    probe_join = (
        "JOIN probes pr ON pr.query_id = q.query_id AND pr.cell = cc.cell"
        if cell_filter
        else ""
    )
    # candidate codes table: with IVF the candidate carries its cell
    cand = "codes_cells cc" if cell_filter else "codes cc"
    return f"""
    , qids AS (
      SELECT vec_id AS query_id FROM n WHERE {query_sql}
    ), qtab AS (
      SELECT s.vec_id AS query_id, s.j, c.code,
             {_r6(_D2.format(a="s.svec", b="c.cvec"))} AS d2
      FROM sub s JOIN cb1 c ON s.j = c.j
      WHERE s.vec_id IN (SELECT query_id FROM qids)
    ), adc AS (
      SELECT q.query_id, cc.vec_id,
             CAST(sum(CAST(q.d2 AS DECIMAL(18, 6))) AS DOUBLE) AS adist
      FROM {cand}
      JOIN qtab q ON q.j = cc.j AND q.code = cc.code
      {probe_join}
      WHERE cc.vec_id <> q.query_id
      GROUP BY q.query_id, cc.vec_id
      {nj}
    ), shortlist AS (
      SELECT query_id, vec_id AS neighbor_id, adist
      FROM adc
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY adist, vec_id) <= {max(rerank, k)}
    ), rr AS (
      SELECT s.query_id, s.neighbor_id, s.adist,
             {_r6(_DOT.format(a="qn.ud", b="cn.ud"))} AS cos
      FROM shortlist s
      JOIN n qn ON qn.vec_id = s.query_id
      JOIN n cn ON cn.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, adist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS INT) AS rank
    FROM rr
    QUALIFY rank <= {k}
    ORDER BY query_id, rank
    """


def pq_topk_oracle(
    dim: int, m: int, n_codes: int, k: int, rerank: int, query_sql: str
) -> str:
    """Oracle for similarity.pq_topk(rerank>k)."""
    return _base_cte(dim, m, n_codes) + _adc_tail(k, rerank, query_sql, False)


def ivf_pq_topk_oracle(
    dim: int,
    n_cells: int,
    n_probe: int,
    m: int,
    n_codes: int,
    k: int,
    rerank: int,
    query_sql: str,
) -> str:
    """Oracle for similarity.ivf_pq_topk(rerank>k):
    the PQ oracle plus the coarse Lloyd cells (2 iterations, same
    contract as the embedding_kmeans_lloyd oracle), per-query probe-cell
    ranking, and the all-m-subspaces completeness filter."""
    coarse = f"""
    , cseeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
             ud AS cvec
      FROM n ORDER BY vec_id LIMIT {n_cells}
    ), ca1 AS (
      SELECT n.vec_id, n.ud, s.cell,
             {_r6(_D2.format(a="n.ud", b="s.cvec"))} AS d
      FROM n CROSS JOIN cseeds s
      QUALIFY row_number() OVER (PARTITION BY n.vec_id ORDER BY d, s.cell) = 1
    ), ccents AS (
      SELECT cell, list(cd ORDER BY pos) AS cvec FROM (
        SELECT ca1.cell, p.pos, {_r6("avg((ca1.ud)[p.pos])")} AS cd
        FROM ca1 CROSS JOIN
             (SELECT unnest(generate_series(1, {dim})) AS pos) p
        GROUP BY ca1.cell, p.pos
      ) GROUP BY cell
    ), cells AS (
      SELECT n.vec_id, c.cell
      FROM n JOIN ccents c ON TRUE
      QUALIFY row_number() OVER (PARTITION BY n.vec_id
        ORDER BY {_r6(_D2.format(a="n.ud", b="c.cvec"))}, c.cell) = 1
    ), codes_cells AS (
      SELECT codes.vec_id, codes.j, codes.code, cells.cell
      FROM codes JOIN cells ON codes.vec_id = cells.vec_id
    ), probes AS (
      SELECT n.vec_id AS query_id, c.cell
      FROM n JOIN ccents c ON TRUE
      WHERE n.vec_id IN (SELECT vec_id FROM n WHERE {query_sql})
      QUALIFY row_number() OVER (PARTITION BY n.vec_id
        ORDER BY {_r6(_D2.format(a="n.ud", b="c.cvec"))}, c.cell) <= {n_probe}
    )
"""
    return (
        _base_cte(dim, m, n_codes)
        + coarse
        + _adc_tail(k, rerank, query_sql, True, m=m)
    )


def ivf_topk_oracle(
    dim: int,
    n_cells: int,
    n_probe: int,
    k: int,
    query_sql: str,
    neq_col: str | None = None,
    neq_names: tuple[str, str] = ("query_neq", "neighbor_neq"),
    neighbor_name: str = "neighbor_id",
    train_sql: str | None = None,
    exclude_sql: str | None = None,
) -> str:
    """Oracle for similarity.ivf_topk: coarse Lloyd
    cells over the RAW double vectors (2 iterations), per-query
    n_probe-cell probing, exact cosine within probed cells, top-k.

    ``neq_col`` mirrors the Spark operator's hard-negative composition:
    candidates sharing the query's value in that column are excluded
    before the top-k, and the output carries the two ``neq_names``
    attribute columns; ``neighbor_name`` renames the id column so the
    hard-negative registration can match its brute-force twin's
    schema.

    ``train_sql`` restricts the quantizer's TRAINING set (seeds and the
    Lloyd update) to matching rows — the streaming index's bootstrap
    trains on its first micro-batch only, while assignment/search still
    cover every vector. ``exclude_sql`` drops matching vectors from the
    CANDIDATE set (the streaming index's tombstone deletes); queries
    and training are unaffected. Defaults preserve the batch-tier
    oracle unchanged."""
    d2_vc = _D2.format(a="n.v", b="s.cvec")
    d2_vcc = _D2.format(a="n.v", b="c.cvec")
    neq_sel = f", {neq_col} AS neq" if neq_col else ""
    neq_carry = ", neq" if neq_col else ""
    neq_scored = (
        f", q.neq AS {neq_names[0]}, cand.neq AS {neq_names[1]}"
        if neq_col
        else ""
    )
    neq_where = " AND cand.neq <> q.neq" if neq_col else ""
    neq_out = f", {neq_names[0]}, {neq_names[1]}" if neq_col else ""
    train_where = f" WHERE {train_sql}" if train_sql else ""
    train_and = f" AND ({train_sql})" if train_sql else ""
    excl_where = f" AND NOT ({exclude_sql})" if exclude_sql else ""
    return f"""
    WITH e AS (
      SELECT vec_id{neq_sel},
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id{neq_carry}, v,
             sqrt(list_aggregate(list_apply(v, y -> y * y), 'sum')) AS nrm
      FROM e
    ), cseeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
             v AS cvec
      FROM n{train_where} ORDER BY vec_id LIMIT {n_cells}
    ), ca1 AS (
      SELECT n.vec_id, n.v, s.cell,
             {_r6(d2_vc)} AS d
      FROM n CROSS JOIN cseeds s
      WHERE TRUE{train_and}
      QUALIFY row_number() OVER (PARTITION BY n.vec_id ORDER BY d, s.cell) = 1
    ), ccents AS (
      SELECT cell, list(cd ORDER BY pos) AS cvec FROM (
        SELECT ca1.cell, p.pos, {_r6("avg((ca1.v)[p.pos])")} AS cd
        FROM ca1 CROSS JOIN
             (SELECT unnest(generate_series(1, {dim})) AS pos) p
        GROUP BY ca1.cell, p.pos
      ) GROUP BY cell
    ), cells AS (
      SELECT n.vec_id, c.cell
      FROM n JOIN ccents c ON TRUE
      QUALIFY row_number() OVER (PARTITION BY n.vec_id
        ORDER BY {_r6(d2_vcc)}, c.cell) = 1
    ), probes AS (
      SELECT n.vec_id AS query_id, c.cell
      FROM n JOIN ccents c ON TRUE
      WHERE {query_sql}
      QUALIFY row_number() OVER (PARTITION BY n.vec_id
        ORDER BY {_r6(d2_vcc)}, c.cell) <= {n_probe}
    ), scored AS (
      SELECT p.query_id, cand.vec_id AS neighbor_id{neq_scored},
             {_DOT.format(a="q.v", b="cand.v")} / (q.nrm * cand.nrm) AS cos
      FROM probes p
      JOIN cells cl ON cl.cell = p.cell
      JOIN n cand ON cand.vec_id = cl.vec_id
      JOIN n q ON q.vec_id = p.query_id
      WHERE cand.vec_id <> p.query_id{neq_where}{excl_where}
    )
    SELECT query_id, neighbor_id AS {neighbor_name},
           {_r6("cos")} AS cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS INT) AS rank{neq_out}
    FROM scored
    QUALIFY rank <= {k}
    ORDER BY query_id, rank
    """
