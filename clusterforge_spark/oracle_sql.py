"""DuckDB oracle SQL for every oracle-checkable query.

The driver runs each ``__spark_entry__.queries()`` entry AND the matching
SQL here side-by-side and compares row count + schema + order-insensitive
value hash. These builders share their constants (reference instant, fixed
centroids, new-point literal) with the Spark operators so the two sides
can never drift.

Cross-engine float determinism rules (mirrored in the operators):
  * one money rule: an amount becomes exact integer cents,
    CAST(floor(x * 100 + 0.5) AS BIGINT), and a money sum is the sum of
    those cents cast to double and divided by 100.0 — exact and
    order-independent; on 2-dp values it equals an exact DECIMAL(18,2)
    sum cast to double. The engine spells the rule once, as
    functions/rounding.cents, which raises like this CAST does on an
    amount with no bigint cents (out of range, NaN, ±inf);
  * decimal sufficient statistics, kept by design: where a sum's
    DECIMAL value feeds further decimal arithmetic it stays
    DECIMAL(18,2) — q_linreg and q_grouped_linreg (Σx, Σy, Σxy, Σx²),
    q_tpch_large_volume (the quantity threshold), q_cohort_ltv (the
    weekly value), q_zscore_outliers (Σv, Σv²) and q_target_encoding
    (the spend);
  * products/differences/sqrt of doubles are bit-identical IEEE ops, left
    unrounded;
  * anything downstream of avg/stddev (z-scores, distances, silhouette,
    percentages) is rounded to 4 decimals, leaving ≥6 orders of magnitude
    of headroom over summation-order error;
  * computed integers are BIGINT on both sides.
"""

from __future__ import annotations

from clusterforge_spark.operators.clustering import FIXED_CENTROIDS
from clusterforge_spark.operators.features import DEFAULT_REF_INSTANT, RFM_COLS

ZCOLS = tuple(f"{c}_z" for c in RFM_COLS)

#: Reference README's --predict example triple ("30,10,500").
DEFAULT_NEW_POINT: tuple[float, float, float] = (30.0, 10.0, 500.0)


# --------------------------------------------------------------------------
# shared CTE fragments
# --------------------------------------------------------------------------


def flit(v: float) -> str:
    """Inject a float literal with exact double semantics.

    A bare decimal literal parses as DECIMAL in DuckDB and converts to
    double via scaled int128 — which can land 1 ulp away from Python's
    (and Spark's) correctly-rounded strtod at high precision/magnitude.
    A quoted-string cast always takes the strtod path.
    """
    return f"CAST('{v!r}' AS DOUBLE)"

def rfm_cte(ref_instant: str = DEFAULT_REF_INSTANT) -> str:
    return f"""rfm AS (
  SELECT user_id,
         CAST(epoch_us(TIMESTAMP '{ref_instant}') - epoch_us(max(ts::TIMESTAMP)) AS DOUBLE)
           / 86400000000.0 AS recency,
         CAST(count(DISTINCT event_id) AS DOUBLE) AS frequency,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS monetary
  FROM events
  GROUP BY user_id
  HAVING recency >= 0 AND frequency > 0 AND monetary > 0
)"""


def params_cte() -> str:
    parts = ",\n         ".join(
        f"avg({c}) AS {c}_mean, greatest(stddev_pop({c}), 1e-8) AS {c}_std"
        for c in RFM_COLS
    )
    return f"""params AS (
  SELECT {parts}
  FROM rfm
)"""


def scaled_cte() -> str:
    zs = ",\n         ".join(
        f"({c} - {c}_mean) / {c}_std AS {c}_z" for c in RFM_COLS
    )
    return f"""scaled AS (
  SELECT user_id,
         {zs}
  FROM rfm CROSS JOIN params
)"""


def _dist_sql(cols: tuple[str, ...], centroid: tuple[float, ...]) -> str:
    terms = " + ".join(
        f"({c} - {flit(v)}) * ({c} - {flit(v)})" for c, v in zip(cols, centroid)
    )
    return f"sqrt({terms})"


def _argmin_case(k: int) -> str:
    """CASE picking the lowest index among the minima (strict-< tie-break,
    identical to Spark's struct-ordered array_min)."""
    whens = []
    for i in range(k - 1):
        conds = " AND ".join(f"d{i} <= d{j}" for j in range(i + 1, k))
        whens.append(f"WHEN {conds} THEN {i}")
    return "CASE " + " ".join(whens) + f" ELSE {k - 1} END"


def assigned_cte(centroids=FIXED_CENTROIDS, cols: tuple[str, ...] = ZCOLS) -> str:
    k = len(centroids)
    dists = ",\n           ".join(
        f"{_dist_sql(cols, cen)} AS d{i}" for i, cen in enumerate(centroids)
    )
    least = ", ".join(f"d{i}" for i in range(k))
    zsel = ", ".join(cols)
    return f"""assigned AS (
  SELECT user_id, {zsel},
         CAST({_argmin_case(k)} AS BIGINT) AS cluster,
         least({least}) AS dist
  FROM (
    SELECT *,
           {dists}
    FROM scaled
  )
)"""


def _chain(*ctes: str) -> str:
    return "WITH " + ",\n".join(ctes)


# --------------------------------------------------------------------------
# per-query SQL
# --------------------------------------------------------------------------

def q_scan_project() -> str:
    return """SELECT l_orderkey, l_linenumber, l_quantity,
       l_extendedprice * (1 - l_discount) AS revenue
FROM lineitem"""


def q_filter_conjunctive() -> str:
    return """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
FROM lineitem
WHERE l_quantity > 0 AND l_extendedprice > 0
  AND l_orderkey IS NOT NULL AND l_discount < 0.05"""


def q_timestamp_parse(ref_date: str = "2024-07-01") -> str:
    return f"""SELECT event_id,
       CAST(year(ts::TIMESTAMP) AS BIGINT)   AS ts_year,
       CAST(month(ts::TIMESTAMP) AS BIGINT)  AS ts_month,
       CAST(day(ts::TIMESTAMP) AS BIGINT)    AS ts_day,
       CAST(hour(ts::TIMESTAMP) AS BIGINT)   AS ts_hour,
       CAST(minute(ts::TIMESTAMP) AS BIGINT) AS ts_minute,
       CAST(date_diff('day', ts::DATE, DATE '{ref_date}') AS BIGINT) AS day_diff,
       epoch_us(ts::TIMESTAMP) AS epoch_us
FROM events"""


def q_rfm_features() -> str:
    return _chain(rfm_cte()) + "\nSELECT user_id, recency, frequency, monetary FROM rfm"


def q_having_filter() -> str:
    return """SELECT o_custkey,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_spend,
       count(*) AS order_count
FROM orders
GROUP BY o_custkey
HAVING total_spend > 100000.0 AND order_count > 1"""


def q_count_distinct_exact() -> str:
    return """SELECT user_id,
       CAST(count(DISTINCT event_id) AS DOUBLE) AS distinct_events,
       count(DISTINCT event_type) AS distinct_types
FROM events
GROUP BY user_id"""


def q_top_k_revenue(k: int = 100) -> str:
    return f"""SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS revenue
FROM lineitem
ORDER BY revenue DESC, l_orderkey, l_linenumber
LIMIT {k}"""


def q_join_enrich() -> str:
    return """SELECT n_name, c_mktsegment,
       round(CAST(sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS HUGEINT)) AS DOUBLE) / 10000.0, 2) AS total_revenue,
       count(*) AS lineitem_count
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name, c_mktsegment"""


def q_window_sessionize() -> str:
    return """WITH b AS (
  SELECT user_id,
         date_trunc('hour', ts::TIMESTAMP) AS hour_start,
         count(*) AS events_in_hour,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS value_in_hour
  FROM events
  GROUP BY 1, 2
)
SELECT user_id,
       epoch_us(hour_start) AS hour_start_us,
       events_in_hour,
       value_in_hour,
       CAST(row_number() OVER (PARTITION BY user_id
                               ORDER BY events_in_hour DESC, hour_start) AS BIGINT) AS busy_rank
FROM b"""


def q_scaler_params() -> str:
    cols = ", ".join(
        f"round({c}_mean, 4) AS {c}_mean, round({c}_std, 4) AS {c}_std" for c in RFM_COLS
    )
    return _chain(rfm_cte(), params_cte()) + f"\nSELECT {cols} FROM params"


def q_standard_scaler() -> str:
    zs = ", ".join(f"round({c}_z, 4) AS {c}_z" for c in RFM_COLS)
    return _chain(rfm_cte(), params_cte(), scaled_cte()) + f"\nSELECT user_id, {zs} FROM scaled"


def q_centroid_assign() -> str:
    return (
        _chain(rfm_cte(), params_cte(), scaled_cte(), assigned_cte())
        + "\nSELECT user_id, cluster, round(dist, 4) AS dist FROM assigned"
    )


def q_cluster_sizes() -> str:
    return (
        _chain(rfm_cte(), params_cte(), scaled_cte(), assigned_cte())
        + """
SELECT cluster, count(*) AS size,
       round(count(*) * 100.0 / (SELECT count(*) FROM assigned), 4) AS pct
FROM assigned
GROUP BY cluster"""
    )


def q_inertia() -> str:
    return (
        _chain(rfm_cte(), params_cte(), scaled_cte(), assigned_cte())
        + "\nSELECT round(sum(dist * dist), 6) AS inertia FROM assigned"
    )


def q_predict_new_point(point: tuple[float, float, float] = DEFAULT_NEW_POINT) -> str:
    k = len(FIXED_CENTROIDS)
    zpt = ",\n         ".join(
        f"({flit(v)} - {c}_mean) / {c}_std AS {c}_z" for c, v in zip(RFM_COLS, point)
    )
    dists = ",\n         ".join(
        f"{_dist_sql(ZCOLS, cen)} AS d{i}" for i, cen in enumerate(FIXED_CENTROIDS)
    )
    least = ", ".join(f"d{i}" for i in range(k))
    zsel = ", ".join(f"round({c}, 4) AS {c}" for c in ZCOLS)
    return (
        _chain(
            rfm_cte(),
            params_cte(),
            f"zpt AS (\n  SELECT {zpt}\n  FROM params\n)",
            f"zd AS (\n  SELECT *,\n         {dists}\n  FROM zpt\n)",
        )
        + f"""
SELECT {zsel},
       CAST({_argmin_case(k)} AS BIGINT) AS cluster,
       round(least({least}), 4) AS dist
FROM zd"""
    )


def q_silhouette_sample(n: int = 100) -> str:
    pair_d = " + ".join(
        f"(a.{c} - b.{c}) * (a.{c} - b.{c})" for c in ZCOLS
    )
    zsel = ", ".join(ZCOLS)
    return (
        _chain(rfm_cte(), params_cte(), scaled_cte(), assigned_cte())
        + f""",
sample AS (
  SELECT user_id AS id, cluster, {zsel}
  FROM assigned ORDER BY user_id LIMIT {n}
),
pairs AS (
  SELECT a.id AS id, a.cluster AS cluster, b.cluster AS other_cluster,
         sqrt({pair_d}) AS d
  FROM sample a JOIN sample b ON a.id != b.id
),
to_cluster AS (
  SELECT id, cluster, other_cluster, avg(d) AS mean_d
  FROM pairs GROUP BY 1, 2, 3
),
a_i AS (SELECT id, mean_d AS a_dist FROM to_cluster WHERE cluster = other_cluster),
b_i AS (SELECT id, min(mean_d) AS b_dist FROM to_cluster
        WHERE cluster != other_cluster GROUP BY id)
SELECT s.id, s.cluster,
       round(CASE WHEN a_dist IS NULL OR b_dist IS NULL
                    OR greatest(a_dist, b_dist) = 0.0 THEN 0.0
                  ELSE (b_dist - a_dist) / greatest(a_dist, b_dist)
             END, 4) AS silhouette
FROM sample s
LEFT JOIN a_i ON s.id = a_i.id
LEFT JOIN b_i ON s.id = b_i.id"""
    )


def q_silhouette_mean(n: int = 100) -> str:
    inner = q_silhouette_sample(n)
    return f"SELECT round(avg(silhouette), 4) AS mean_silhouette FROM (\n{inner}\n) t"


# --------------------------------------------------------------------------
# LLM-data-pipeline extension queries (dedup / similarity / text / multimodal)
# --------------------------------------------------------------------------

from clusterforge_spark.functions import hashing as _H  # noqa: E402
from clusterforge_spark.functions import vector as _V  # noqa: E402
from clusterforge_spark.operators.dedup import (  # noqa: E402
    EXACT_DUP_OFFSET,
    NEAR_DUP_OFFSET,
)


def dup_corpus_cte(n_exact: int = 100, n_near: int = 50) -> str:
    """documents ∪ planted exact copies ∪ planted near copies — mirrors
    operators/dedup.docs_with_dups exactly."""
    toks = _H.tokens_sql("text")
    return f"""dup_corpus AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
  UNION ALL
  SELECT doc_id + {EXACT_DUP_OFFSET}, text, lang, source, n_chars
  FROM documents WHERE doc_id < {n_exact}
  UNION ALL
  SELECT doc_id + {NEAR_DUP_OFFSET},
         array_to_string(t[1:greatest(len(t) - 1, 1)], ' '),
         lang, source, n_chars
  FROM (SELECT *, {toks} AS t FROM documents)
  WHERE doc_id < {n_near}
)"""


def q_dedup_exact() -> str:
    return (
        _chain(dup_corpus_cte())
        + """
SELECT md5(lower(text)) AS text_hash,
       min(doc_id) AS keep_id,
       count(*) AS n_dups
FROM dup_corpus
GROUP BY 1"""
    )


def q_dedup_ngram(n: int = 3, threshold: float = 0.2) -> str:
    toks = _H.tokens_sql("text")
    sh = _H.shingles_sql("text", n=n)
    # shingles hashed to 60-bit md5 ints before intersecting — mirrors
    # operators/dedup.dedup_ngram_jaccard exactly
    return (
        _chain(dup_corpus_cte())
        + f""",
sh AS (
  SELECT doc_id, lang, source,
         CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
         list_distinct(list_transform({sh},
           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS sh
  FROM (SELECT doc_id, lang, source, n_chars, {toks} AS t FROM dup_corpus)
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
  FROM sh a JOIN sh b
    ON a.lang = b.lang AND a.source = b.source
   AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
  WHERE len(a.sh) > 0 AND len(b.sh) > 0
)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= {flit(threshold)}"""
    )


def q_dedup_simhash(max_hamming: int = 6, bands: int = 4, band_bits: int = 15) -> str:
    th = _H.token_hashes_sql("text")
    sim = _H.simhash_sql("th")
    mask = (1 << band_bits) - 1
    return (
        _chain(dup_corpus_cte())
        + f""",
fp AS (
  SELECT doc_id, {sim} AS simhash
  FROM (SELECT doc_id, {th} AS th FROM dup_corpus)
),
banded AS (
  SELECT doc_id, simhash, band,
         (simhash >> (band * {band_bits})) & {mask} AS val
  FROM fp CROSS JOIN (SELECT unnest([{", ".join(str(i) for i in range(bands))}]) AS band) bands
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"""
    )


def emb_corpus_cte(n_copy: int = 100) -> str:
    return f"""emb_corpus AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + {EXACT_DUP_OFFSET}, embedding, label
  FROM embeddings WHERE vec_id < {n_copy}
)"""


def q_dedup_embedding(threshold: float = 0.9) -> str:
    cos = _V.cosine_cols_sql("a.embedding", "b.embedding")
    return (
        _chain(emb_corpus_cte())
        + f""",
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({cos}, 6) AS cos_sim
  FROM emb_corpus a JOIN emb_corpus b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= {flit(threshold)}"""
    )


def q_dedup_components(n: int = 3, threshold: float = 0.2) -> str:
    """Connected components over the banded-minhash pair set: recursive
    min-label reachability (component id = min doc_id reachable)."""
    inner = q_dedup_minhash_banded(n=n, threshold=threshold)
    return f"""WITH RECURSIVE pairs AS (
{inner}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
verts AS (SELECT DISTINCT src AS v FROM edges),
reach AS (
  SELECT v, v AS lbl FROM verts
  UNION
  SELECT e.dst AS v, r.lbl FROM reach r JOIN edges e ON e.src = r.v
),
comp AS (SELECT v AS doc_id, min(lbl) AS component FROM reach GROUP BY v),
sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS component_size
          FROM comp GROUP BY component)
SELECT c.doc_id, c.component, s.component_size
FROM comp c JOIN sizes s ON c.component = s.component"""


def q_sim_search_batch(k: int = 10) -> str:
    from clusterforge_spark.operators.similarity import BATCH_QUERIES

    per = "\nUNION ALL\n".join(
        f"SELECT CAST({qid} AS BIGINT) AS query_id, vec_id, "
        f"round({_V.cosine_lit_sql('embedding', q)}, 6) AS cos_sim FROM embeddings"
        for qid, q in enumerate(BATCH_QUERIES)
    )
    return f"""WITH scored AS (
{per}
),
ranked AS (
  SELECT query_id, vec_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= {k}"""


def _topk_sql(candidates_sql: str, k: int) -> str:
    return f"""SELECT vec_id, cos_sim,
       CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM ({candidates_sql})
ORDER BY cos_sim DESC, vec_id
LIMIT {k}"""


def q_sim_search_topk(k: int = 10) -> str:
    cos = _V.cosine_lit_sql("embedding", _V.QUERY_VEC)
    return _topk_sql(
        f"SELECT vec_id, round({cos}, 6) AS cos_sim FROM embeddings", k
    )


def q_sim_search_lsh(k: int = 10, n_planes: int = 8) -> str:
    planes = _V.HYPERPLANES[:n_planes]
    qb = _V.py_lsh_bucket(_V.QUERY_VEC, planes)
    probe = sorted({qb} | {qb ^ (1 << j) for j in range(n_planes)})
    bucket = _V.lsh_bucket_sql("embedding", planes)
    cos = _V.cosine_lit_sql("embedding", _V.QUERY_VEC)
    return _topk_sql(
        f"""SELECT vec_id, round({cos}, 6) AS cos_sim
FROM (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings)
WHERE bucket IN ({", ".join(str(b) for b in probe)})""",
        k,
    )


def q_sim_search_ivf(k: int = 10, nprobe: int = 2) -> str:
    from clusterforge_spark.operators.similarity import py_ivf_cells

    cents = _V.IVF_CENTROIDS
    cells = py_ivf_cells(_V.QUERY_VEC, cents, nprobe)
    dists = ",\n         ".join(
        f"{_V.dist2_lit_sql('embedding', c)} AS d{i}" for i, c in enumerate(cents)
    )
    cos = _V.cosine_lit_sql("embedding", _V.QUERY_VEC)
    return _topk_sql(
        f"""SELECT vec_id, round({cos}, 6) AS cos_sim
FROM (
  SELECT vec_id, embedding,
         CAST({_argmin_case(len(cents)).replace('d', 'd')} AS BIGINT) AS cell
  FROM (SELECT vec_id, embedding,
         {dists}
        FROM embeddings)
)
WHERE cell IN ({", ".join(str(c) for c in cells)})""",
        k,
    )


def _pq_sql_parts(query: list[float] | None = None) -> tuple[str, str, str]:
    """The PQ encode / code-argmin / ADC-lookup SQL fragments shared by
    q_sim_search_pq and the IVF-PQ hybrid (q_sim_search_ivf_pq) —
    mirrors similarity.pq_codes + the driver-precomputed ADC table."""
    from clusterforge_spark.functions.vector import (
        PQ_CODEBOOKS,
        PQ_KS,
        PQ_M,
        PQ_SUBDIM,
        pq_adc_table,
    )

    query = query or _V.QUERY_VEC
    table = pq_adc_table(query)

    def sub_dist(m: int, c: int) -> str:
        cb = PQ_CODEBOOKS[m][c]
        return "(" + " + ".join(
            f"({_V._elem_sql('embedding', m * PQ_SUBDIM + i)} - {_V._flit_sql(v)})"
            f" * ({_V._elem_sql('embedding', m * PQ_SUBDIM + i)} - {_V._flit_sql(v)})"
            for i, v in enumerate(cb)
        ) + ")"

    dist_cols = ",\n         ".join(
        f"{sub_dist(m, c)} AS d{m}_{c}" for m in range(PQ_M) for c in range(PQ_KS)
    )

    def argmin(m: int) -> str:
        whens = []
        for i in range(PQ_KS - 1):
            conds = " AND ".join(f"d{m}_{i} <= d{m}_{j}" for j in range(i + 1, PQ_KS))
            whens.append(f"WHEN {conds} THEN {i}")
        return "CASE " + " ".join(whens) + f" ELSE {PQ_KS - 1} END"

    code_cols = ",\n         ".join(
        f"CAST({argmin(m)} AS BIGINT) AS code_{m}" for m in range(PQ_M)
    )
    lookups = " + ".join(
        "(CASE "
        + " ".join(
            f"WHEN code_{m} = {c} THEN {_V._flit_sql(table[m][c])}"
            for c in range(PQ_KS)
        )
        + " END)"
        for m in range(PQ_M)
    )
    return dist_cols, code_cols, lookups


def q_sim_search_pq(k: int = 10, rerank: int = 4) -> str:
    """Mirrors operators/similarity.pq_topk: PQ encode (argmin per
    subspace, strict-< tie-break), ADC candidate cut by literal
    table-lookup sums, exact cosine rerank."""
    dist_cols, code_cols, lookups = _pq_sql_parts()
    cos = _V.cosine_lit_sql("embedding", _V.QUERY_VEC)
    return f"""WITH dists AS (
  SELECT vec_id, embedding,
         {dist_cols}
  FROM embeddings
),
codes AS (
  SELECT vec_id, embedding,
         {code_cols}
  FROM dists
),
cand AS (
  SELECT vec_id, embedding, {lookups} AS adc_dist
  FROM codes
  ORDER BY adc_dist ASC, vec_id
  LIMIT {rerank * k}
),
scored AS (
  SELECT vec_id,
         round(adc_dist, 6) AS adc_dist,
         round({cos}, 6) AS cos_sim
  FROM cand
)
SELECT vec_id, adc_dist, cos_sim,
       CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored
ORDER BY cos_sim DESC, vec_id
LIMIT {k}"""


def q_text_stats() -> str:
    toks = _H.tokens_sql("text")
    return f"""WITH per AS (
  SELECT lang, n_chars,
         CAST(length(text) AS BIGINT) AS ncm,
         CAST(len({toks}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(n_tokens), 4) AS avg_tokens,
       round(avg(ncm), 4) AS avg_chars,
       max(n_chars) AS max_chars
FROM per
GROUP BY lang"""


def q_token_count() -> str:
    toks = _H.tokens_sql("text")
    return f"""SELECT doc_id,
       CAST(len({toks}) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{_H.TOKEN_RE}')) AS BIGINT) AS n_re_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_measured
FROM documents"""


def q_text_normalize() -> str:
    norm = (
        "trim(regexp_replace(regexp_replace(regexp_replace(lower(text), "
        "'<[^>]*>', ' ', 'g'), '[\\x00-\\x1f\\x7f]', ' ', 'g'), "
        "'\\s+', ' ', 'g'))"
    )
    return f"""SELECT doc_id,
       {norm} AS norm_text,
       CAST(length({norm}) AS BIGINT) AS n_chars_norm
FROM documents"""


def q_vocab_topk(k: int = 100) -> str:
    toks = _H.tokens_sql("text")
    return f"""WITH ex AS (
  SELECT doc_id, unnest({toks}) AS token FROM documents
)
SELECT token,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
FROM ex
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT {k}"""


def q_tfidf_top_terms(top_n: int = 3) -> str:
    toks = _H.tokens_sql("text")
    return f"""WITH ex AS (
  SELECT doc_id, unnest({toks}) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM ex GROUP BY doc_id, token
),
dfq AS (
  SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM ex GROUP BY token
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token,
         round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
  FROM tf JOIN dfq USING (token) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, token, tfidf,
         CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, token) AS BIGINT) AS rank
  FROM scored
)
SELECT doc_id, token, tfidf, rank FROM ranked WHERE rank <= {top_n}"""


def _stopword_score_sql(lang: str, words: tuple[str, ...]) -> str:
    lits = ", ".join(f"'{w}'" for w in words)
    return (
        f"CAST(len(list_filter(toks, x -> list_contains([{lits}], x))) AS BIGINT)"
        f" AS score_{lang}"
    )


def q_lang_id() -> str:
    from clusterforge_spark.operators.text import CJK_PATTERN, LANG_STOPWORDS

    langs = sorted(LANG_STOPWORDS)
    scores = ",\n         ".join(
        _stopword_score_sql(lang, LANG_STOPWORDS[lang]) for lang in langs
    )
    # alphabetical >=-chain == argmax with tie → alphabetically first
    whens = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"score_{lang} >= score_{other}" for other in langs[i + 1 :]
        )
        whens.append(f"WHEN {conds} THEN '{lang}'")
    toks = _H.tokens_sql("text")
    return f"""WITH t AS (
  SELECT doc_id, lang, text, {toks} AS toks FROM documents
),
s AS (
  SELECT doc_id, lang, text,
         {scores}
  FROM t
),
p AS (
  SELECT doc_id, lang, {", ".join(f"score_{lang}" for lang in langs)},
         CASE WHEN regexp_matches(text, '{CJK_PATTERN}') THEN 'zh'
              {" ".join(whens)}
              ELSE '{langs[-1]}' END AS predicted_lang
  FROM s
)
SELECT *, (predicted_lang = lang) AS is_match FROM p"""


def q_quality_score(tbl: str = "documents") -> str:
    from clusterforge_spark.operators.text import LANG_STOPWORDS

    lits = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    toks = _H.tokens_sql("text")
    return f"""WITH base AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS n_tokens_d,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(length(text) AS DOUBLE) AS n_chars_d,
         CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS DOUBLE) AS n_punct,
         CAST(len(list_filter(toks, x -> list_contains([{lits}], x))) AS DOUBLE) AS en_hits
  FROM (SELECT doc_id, text, {toks} AS toks FROM {tbl})
)
SELECT doc_id, n_tokens,
       round(n_punct / greatest(n_chars_d, 1.0), 4) AS punct_ratio,
       round(en_hits / greatest(n_tokens_d, 1.0), 4) AS stopword_ratio,
       round(0.4 * least(1.0, n_tokens_d / 64.0)
             + 0.3 * (1.0 - n_punct / greatest(n_chars_d, 1.0))
             + 0.3 * least(1.0, 4.0 * (en_hits / greatest(n_tokens_d, 1.0))), 4) AS quality
FROM base"""


def q_doc_fingerprint() -> str:
    toks = _H.tokens_sql("text")
    th = _H.token_hashes_sql("text")
    sh5 = _H.shingles_sql("text", n=5)
    return f"""WITH w AS (
  SELECT doc_id, {th} AS th, {sh5} AS sh5
  FROM (SELECT doc_id, text, {toks} AS t FROM documents)
)
SELECT doc_id,
       list_min(th) AS token_minhash,
       coalesce(
         CASE WHEN len(sh5) > 0
              THEN list_min(list_transform(sh5, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT))
              ELSE NULL END,
         -1) AS shingle_minhash,
       CAST(len(th) AS BIGINT) AS n_distinct_tokens
FROM w"""


def q_tpch_forecast_revenue() -> str:
    """Mirrors operators/relational.tpch_forecast_revenue (Q6) with the
    exact integer ten-thousandths revenue sum."""
    rev = (
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * "
        "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"
    )
    return f"""SELECT
  round(CAST(sum(CAST({rev} AS HUGEINT)) AS DOUBLE) / 10000.0, 2) AS revenue,
  CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24.0"""


def q_multimodal_frames() -> str:
    """Mirrors operators/multimodal.frame_sample over attach_payload's
    deterministic fake payloads (exact integer byte windows)."""
    from clusterforge_spark.operators.multimodal import FRAME_STRIDE

    return f"""WITH f AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         CAST(1 + n_chars % 16 AS BIGINT) AS n_frames
  FROM documents
),
ex AS (
  SELECT doc_id, n_bytes, n_frames,
         unnest(range(0, n_frames, {FRAME_STRIDE})) AS frame_idx
  FROM f
)
SELECT doc_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       n_frames,
       CAST((frame_idx * n_bytes) // n_frames AS BIGINT) AS byte_start,
       CAST(((frame_idx + 1) * n_bytes) // n_frames
            - (frame_idx * n_bytes) // n_frames AS BIGINT) AS byte_len
FROM ex"""


def q_multimodal_resize() -> str:
    """Mirrors operators/multimodal.resize_plan (pure BIGINT geometry)."""
    from clusterforge_spark.operators.multimodal import RESIZE_TARGET

    t = RESIZE_TARGET
    return f"""WITH f AS (
  SELECT doc_id,
         CAST(64 + doc_id % 192 AS BIGINT) AS width,
         CAST(64 + (doc_id * 7) % 128 AS BIGINT) AS height
  FROM documents
)
SELECT doc_id, width, height,
       greatest(CAST(1 AS BIGINT), (width * {t}) // greatest(width, height)) AS out_width,
       greatest(CAST(1 AS BIGINT), (height * {t}) // greatest(width, height)) AS out_height,
       CAST(({t} - greatest(1, (width * {t}) // greatest(width, height))) // 2 AS BIGINT) AS pad_x,
       CAST(({t} - greatest(1, (height * {t}) // greatest(width, height))) // 2 AS BIGINT) AS pad_y,
       greatest(width, height) < {t} AS is_upscaled
FROM f"""


def q_multimodal_meta() -> str:
    return """SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(64 + doc_id % 192 AS BIGINT) AS width,
       CAST(64 + (doc_id * 7) % 128 AS BIGINT) AS height,
       CAST(1 + n_chars % 16 AS BIGINT) AS n_frames,
       md5(text) AS content_md5
FROM documents"""


# --------------------------------------------------------------------------
# deterministic-rounding rewrite (see functions/rounding.py)
# --------------------------------------------------------------------------

def rewrite_det_rounding(sql: str) -> str:
    """Rewrite every ``round(expr, n)`` into ``floor(expr·10ⁿ + 0.5)/10ⁿ``.

    DuckDB's round() rounds the binary double while Spark's rounds the
    shortest decimal repr — they disagree on boundary values. The floor
    form is pure IEEE arithmetic, identical in both engines; the Spark
    operators use the same form (functions/rounding.round_det), so
    rounded floats compare bit-equal.
    """
    out = sql
    while True:
        start = out.find("round(")
        if start == -1:
            return out
        # guard against matching inside an identifier (none expected)
        if start > 0 and (out[start - 1].isalnum() or out[start - 1] == "_"):
            raise ValueError(f"unexpected identifier ending in round( at {start}")
        depth = 0
        i = start + len("round(")
        arg_start = i
        last_comma = -1
        while True:
            ch = out[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                last_comma = i
            i += 1
        if last_comma == -1:
            raise ValueError(f"round() without scale near {start}")
        expr = out[arg_start:last_comma].strip()
        scale = int(out[last_comma + 1 : i].strip())
        s = float(10**scale)
        repl = f"(floor(({expr}) * {flit(s)} + 0.5) / {flit(s)})"
        out = out[:start] + repl + out[i + 1 :]


def q_session_gap(gap_minutes: int = 30) -> str:
    gap_us = gap_minutes * 60_000_000
    return f"""WITH g AS (
  SELECT user_id, event_id, ts::TIMESTAMP AS tsu, value,
         CASE WHEN epoch_us(ts::TIMESTAMP)
                   - lag(epoch_us(ts::TIMESTAMP)) OVER
                     (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
                   > {gap_us} THEN 1 ELSE 0 END AS is_new
  FROM events
),
s AS (
  SELECT user_id, tsu, value,
         CAST(sum(coalesce(is_new, 0)) OVER
              (PARTITION BY user_id ORDER BY tsu, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM g
)
SELECT user_id, session_idx,
       epoch_us(min(tsu)) AS session_start_us,
       epoch_us(max(tsu)) AS session_end_us,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS session_value
FROM s
GROUP BY 1, 2"""


def q_asof_join() -> str:
    # ASOF LEFT JOIN: greatest click ts_us <= purchase ts_us per user.
    # Deterministic because (user_id, ts) is unique in the generated data;
    # the Spark side additionally tie-breaks on event_id.
    return """WITH c AS (
  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS ts_us
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS ts_us, value
  FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id,
       p.event_id AS purchase_id,
       p.ts_us AS purchase_ts_us,
       p.value AS purchase_value,
       c.event_id AS click_id,
       c.ts_us AS click_ts_us,
       p.ts_us - c.ts_us AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.ts_us"""


def q_range_join_bands() -> str:
    from clusterforge_spark.operators.relational import VALUE_BANDS

    rows = ",\n         ".join(
        f"({bid}::BIGINT, {lo:g}e0, {hi:g}e0)" for bid, lo, hi in VALUE_BANDS
    )
    return f"""WITH bands(band_id, lo, hi) AS (
  VALUES {rows}
)
SELECT band_id, lo, hi,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM events
JOIN bands ON value >= lo AND value < hi
GROUP BY band_id, lo, hi"""


def q_pivot_event_counts() -> str:
    from clusterforge_spark.operators.relational import EVENT_TYPES

    cols = ",\n       ".join(
        f"count(*) FILTER (WHERE event_type = '{t}') AS {t}_n" for t in EVENT_TYPES
    )
    return f"""SELECT user_id,
       {cols}
FROM events
GROUP BY user_id"""


def q_unpivot_part() -> str:
    return """SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
UNION ALL
SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part"""


def q_pack_chunks() -> str:
    from clusterforge_spark.operators.packing import PACK_BUDGET

    toks = _H.tokens_sql("text")
    return f"""WITH t AS (
  SELECT source, doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT source, doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS cum_before
  FROM t
)
SELECT source, doc_id, n_tokens,
       cum_before // {PACK_BUDGET} AS chunk_id,
       cum_before % {PACK_BUDGET} AS chunk_offset,
       (cum_before % {PACK_BUDGET}) + n_tokens > {PACK_BUDGET} AS straddles
FROM c"""


def q_hash_split() -> str:
    from clusterforge_spark.operators.packing import TRAIN_PCT

    return f"""SELECT doc_id, source,
       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS hash_bucket,
       CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < {TRAIN_PCT}
            THEN 'train' ELSE 'val' END AS split
FROM documents"""


def q_time_bucket_rollup() -> str:
    return """WITH b AS (
  SELECT epoch_us(ts::TIMESTAMP) - epoch_us(ts::TIMESTAMP) % 86400000000 AS day_us,
         epoch_us(ts::TIMESTAMP) - epoch_us(ts::TIMESTAMP) % 3600000000  AS hour_us,
         epoch_us(ts::TIMESTAMP) - epoch_us(ts::TIMESTAMP) % 300000000   AS m5_us,
         value
  FROM events
)
SELECT day_us, hour_us, m5_us,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value,
       CAST(grouping(day_us) * 4 + grouping(hour_us) * 2 + grouping(m5_us) AS BIGINT) AS grain
FROM b
GROUP BY ROLLUP(day_us, hour_us, m5_us)"""


def q_corr_subquery() -> str:
    return """SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE o_totalprice * (SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
      > (SELECT CAST(SUM(CAST(floor(i.o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
         FROM orders i WHERE i.o_custkey = o.o_custkey)"""


def _pii_corpus_cte() -> str:
    return """pii AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' call +1-555-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) || ' today'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR)
                 ELSE '' END AS text,
         lang, source
  FROM documents
)"""


def q_redact_pii() -> str:
    from clusterforge_spark.operators.text import (
        PII_EMAIL_RE,
        PII_IP_RE,
        PII_PHONE_RE,
    )

    em, ph, ip = PII_EMAIL_RE, PII_PHONE_RE, PII_IP_RE
    return f"""WITH {_pii_corpus_cte()}
SELECT doc_id, source,
       CAST(len(regexp_extract_all(text, '{em}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{ph}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(text, '{ip}')) AS BIGINT) AS n_ips,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{em}', '<EMAIL>', 'g'),
           '{ph}', '<PHONE>', 'g'),
         '{ip}', '<IP>', 'g') AS redacted
FROM pii"""


def q_stratified_sample() -> str:
    from clusterforge_spark.operators.text import STRATA_DEFAULT_PCT, STRATA_PCT

    whens = " ".join(
        f"WHEN source = '{s}' THEN {p}" for s, p in STRATA_PCT.items()
    )
    return f"""WITH s AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
           AS hash_bucket,
         CAST(CASE {whens} ELSE {STRATA_DEFAULT_PCT} END AS BIGINT) AS keep_pct
  FROM documents
)
SELECT doc_id, source, hash_bucket, keep_pct
FROM s WHERE hash_bucket < keep_pct"""


def q_interval_join(max_gap_minutes: int = 60) -> str:
    gap_us = max_gap_minutes * 60_000_000
    return f"""WITH c AS (
  SELECT user_id AS c_user, event_id AS click_id, epoch_us(ts::TIMESTAMP) AS click_ts_us
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, event_id AS purchase_id, epoch_us(ts::TIMESTAMP) AS purchase_ts_us
  FROM events WHERE event_type = 'purchase'
)
SELECT user_id, purchase_id, purchase_ts_us, click_id, click_ts_us,
       purchase_ts_us - click_ts_us AS gap_us
FROM p JOIN c ON user_id = c_user
            AND click_ts_us >= purchase_ts_us - {gap_us}
            AND click_ts_us <= purchase_ts_us"""


def q_funnel() -> str:
    return """WITH e AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, event_type AS et FROM events
), s1 AS (
  SELECT *, min(CASE WHEN et = 'view' THEN us END) OVER (PARTITION BY user_id) AS t_view
  FROM e
), s2 AS (
  SELECT *, min(CASE WHEN et = 'click' AND us > t_view THEN us END)
              OVER (PARTITION BY user_id) AS t_click
  FROM s1
), s3 AS (
  SELECT *, min(CASE WHEN et = 'purchase' AND us > t_click THEN us END)
              OVER (PARTITION BY user_id) AS t_purchase
  FROM s2
)
SELECT user_id,
       max(t_view) AS t_view_us,
       max(t_click) AS t_click_us,
       max(t_purchase) AS t_purchase_us,
       CAST((max(t_view) IS NOT NULL)::INT + (max(t_click) IS NOT NULL)::INT
            + (max(t_purchase) IS NOT NULL)::INT AS BIGINT) AS stage
FROM s3
GROUP BY user_id"""


def q_cohort_retention() -> str:
    from clusterforge_spark.operators.relational import WEEK_US

    return f"""WITH d AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS us,
         min(epoch_us(ts::TIMESTAMP)) OVER (PARTITION BY user_id) AS first_us
  FROM events
)
SELECT CAST(first_us // {WEEK_US} AS BIGINT) AS cohort_week,
       CAST(us // {WEEK_US} - first_us // {WEEK_US} AS BIGINT) AS week_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
FROM d
GROUP BY 1, 2"""


def q_dedup_levenshtein(threshold: float = 0.2) -> str:
    from clusterforge_spark.operators.dedup import LEV_PREFIX

    return (
        _chain(dup_corpus_cte())
        + f""",
lb AS (
  SELECT doc_id, lang, source,
         CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
         substr(text, 1, {LEV_PREFIX}) AS prefix
  FROM dup_corpus
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS lev,
         round(levenshtein(a.prefix, b.prefix)::DOUBLE
               / greatest(len(a.prefix), len(b.prefix)), 6) AS rel_dist
  FROM lb a JOIN lb b ON a.lang = b.lang AND a.source = b.source
       AND b.len_bucket BETWEEN a.len_bucket - 1 AND a.len_bucket + 1
       AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, lev, rel_dist
FROM pairs WHERE rel_dist <= {flit(threshold)}"""
    )


def q_topn_per_group(n: int = 3) -> str:
    return f"""SELECT o_orderpriority, o_orderkey, o_totalprice,
       CAST(row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
FROM orders
QUALIFY rn <= {n}"""


def q_embed_normalize() -> str:
    from clusterforge_spark.functions.vector import norm_sql

    return f"""WITH e AS (
  SELECT vec_id, {norm_sql("embedding")} AS nrm,
         unnest(embedding::DOUBLE[]) AS x,
         generate_subscripts(embedding, 1) AS ord
  FROM embeddings
)
SELECT vec_id, CAST(ord - 1 AS BIGINT) AS pos, x / nrm AS nval
FROM e"""


def q_embed_quantize() -> str:
    return """WITH m AS (
  SELECT vec_id,
         list_min(embedding::DOUBLE[]) AS mn,
         greatest((list_max(embedding::DOUBLE[]) - list_min(embedding::DOUBLE[])) / 255e0,
                  1e-12) AS scale,
         embedding
  FROM embeddings
), e AS (
  SELECT vec_id, mn, scale,
         unnest(embedding::DOUBLE[]) AS x,
         generate_subscripts(embedding, 1) AS ord
  FROM m
)
SELECT vec_id, mn, scale,
       CAST(ord - 1 AS BIGINT) AS pos,
       CAST(floor((x - mn) / scale + 0.5) AS BIGINT) AS code
FROM e"""


def q_session_window(gap_minutes: int = 30) -> str:
    gap_us = gap_minutes * 60_000_000
    return f"""WITH g AS (
  SELECT user_id, event_id, ts::TIMESTAMP AS tsu, value,
         CASE WHEN epoch_us(ts::TIMESTAMP)
                   - lag(epoch_us(ts::TIMESTAMP)) OVER
                     (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
                   > {gap_us} THEN 1 ELSE 0 END AS is_new
  FROM events
),
s AS (
  SELECT user_id, tsu, value,
         CAST(sum(coalesce(is_new, 0)) OVER
              (PARTITION BY user_id ORDER BY tsu, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM g
)
SELECT user_id,
       epoch_us(min(tsu)) AS session_start_us,
       epoch_us(max(tsu)) + {gap_us} AS session_end_us,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS session_value
FROM s
GROUP BY user_id, session_idx"""


def q_grouping_sets() -> str:
    return """SELECT n_name, c_mktsegment,
       round(CAST(sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS HUGEINT)) AS DOUBLE) / 10000.0, 2) AS total_revenue,
       count(*) AS lineitem_count,
       CAST(grouping(n_name) * 2 + grouping(c_mktsegment) AS BIGINT) AS gid
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name), (c_mktsegment))"""


def q_arg_minmax() -> str:
    return """SELECT user_id,
       arg_min(value, epoch_us(ts::TIMESTAMP)) AS first_value,
       arg_max(value, epoch_us(ts::TIMESTAMP)) AS last_value,
       (min({'v': value, 'u': epoch_us(ts::TIMESTAMP)})).u AS cheapest_ts_us,
       (max({'v': value, 'u': epoch_us(ts::TIMESTAMP)})).u AS dearest_ts_us
FROM events
GROUP BY user_id"""


def q_token_array_funcs() -> str:
    toks = _H.tokens_sql("text")
    return f"""WITH t AS (SELECT doc_id, {toks} AS tk FROM documents)
SELECT doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
       array_to_string(list_sort(list_distinct(tk))[1:3], ',') AS first3_sorted,
       list_contains(tk, 'spark') AS has_spark,
       len(list_filter(tk, x -> len(x) >= 12)) = 0 AS all_short,
       CAST(list_sum(list_transform(tk, x -> len(x))) AS BIGINT) AS total_chars
FROM t"""


def q_label_centroids() -> str:
    return """WITH e AS (
  SELECT CAST(label AS BIGINT) AS label,
         unnest(embedding::DOUBLE[]) AS x,
         generate_subscripts(embedding, 1) AS ord
  FROM embeddings
)
SELECT label, CAST(ord - 1 AS BIGINT) AS pos, round(avg(x), 4) AS cval
FROM e
GROUP BY label, pos"""


def q_multimodal_decode(frame_stride: int = 4) -> str:
    # mirrors operators/multimodal.decode_features exactly: ASCII corpus
    # (verified: zero non-[\x20-\x7e] chars) => utf-8 bytes == char codes;
    # entropy chain in fixed bucket order (0..7) with log2 (glibc libm,
    # bit-identical to Python's math.log2); zero buckets add exact 0.0.
    term = lambda j: (
        f"CASE WHEN c{j} > 0 THEN (c{j}::DOUBLE / n) * log2(c{j}::DOUBLE / n) "
        f"ELSE 0.0 END"
    )
    chain = " + ".join(term(j) for j in range(8))
    counts = ",\n         ".join(
        f"count(*) FILTER (WHERE code // 32 = {j}) AS c{j}" for j in range(8)
    )
    return f"""WITH chars AS (
  SELECT doc_id, ascii(unnest(string_split(text, ''))) AS code
  FROM documents
),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(code) AS BIGINT) AS total,
         {counts}
  FROM chars
  GROUP BY doc_id
)
SELECT a.doc_id,
       a.n AS n_bytes,
       round(a.total::DOUBLE / a.n, 6) AS mean_byte,
       round(-({chain}), 6) AS byte_entropy,
       CAST((1 + d.n_chars % 16 + {frame_stride - 1}) // {frame_stride} AS BIGINT)
         AS n_frames_sampled
FROM agg a JOIN documents d ON a.doc_id = d.doc_id"""


def q_window_funcs() -> str:
    return """SELECT user_id, event_id,
       epoch_us(ts::TIMESTAMP) AS ts_us,
       value,
       lag(value, 1) OVER w AS prev_value,
       lead(value, 1) OVER w AS next_value,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER
            (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id
             ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0 AS running_value,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       CAST(row_number() OVER w AS BIGINT) AS rn
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)"""


def q_rollup_revenue() -> str:
    return """SELECT n_name, c_mktsegment,
       round(CAST(sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS HUGEINT)) AS DOUBLE) / 10000.0, 2) AS total_revenue,
       count(*) AS lineitem_count
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY ROLLUP(n_name, c_mktsegment)"""


def q_cube_revenue() -> str:
    return """SELECT n_name, c_mktsegment,
       round(CAST(sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS HUGEINT)) AS DOUBLE) / 10000.0, 2) AS total_revenue,
       count(*) AS lineitem_count,
       CAST(grouping(n_name) * 2 + grouping(c_mktsegment) AS BIGINT) AS gid
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY CUBE(n_name, c_mktsegment)"""


def q_set_ops() -> str:
    return """WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
SELECT user_id, 'both' AS segment
FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM e)
UNION ALL
SELECT user_id, 'purchase_only' AS segment
FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM e)"""


def q_scalar_funcs() -> str:
    return """SELECT p_partkey,
       upper(p_name) AS name_upper,
       substr(p_name, 1, 8) AS name_prefix,
       lpad(p_brand, 12, '_') AS brand_padded,
       concat_ws('/', p_brand, p_type) AS brand_type,
       CAST(length(p_name) AS BIGINT) AS name_len,
       sqrt(p_retailprice) AS price_sqrt,
       CAST(abs(p_size - 25) AS BIGINT) AS size_dev,
       round(ln(p_retailprice), 6) AS price_ln,
       round(log10(p_retailprice), 6) AS price_log10,
       coalesce(nullif(p_brand, 'Brand#13'), 'OTHER') AS brand_or_other,
       CASE WHEN p_size < 10 THEN 'small'
            WHEN p_size < 30 THEN 'medium'
            ELSE 'large' END AS size_class
FROM part"""


def q_json_extract() -> str:
    return """SELECT event_id,
       json_extract(props, '$.k')::BIGINT AS k_value
FROM events"""


def q_percentiles() -> str:
    return """SELECT event_type,
       count(*) AS n,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6)  AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75,
       max(value) AS vmax
FROM events
GROUP BY event_type"""


def q_semi_anti_join() -> str:
    # NOT EXISTS, not NOT IN: a NULL o_custkey would make NOT IN yield an
    # empty 'inactive' set, while Spark's left_anti keeps non-matching
    # customers — EXISTS/NOT EXISTS has left_semi/left_anti's NULL
    # semantics exactly.
    return """SELECT c_custkey, 'active' AS status
FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT c_custkey, 'inactive' AS status
FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"""


def q_left_join_counts() -> str:
    return """SELECT o_orderkey,
       CAST(coalesce(li.li_count, 0) AS BIGINT) AS lineitem_count
FROM orders
LEFT JOIN (SELECT l_orderkey, count(*) AS li_count
           FROM lineitem GROUP BY l_orderkey) li
  ON o_orderkey = li.l_orderkey"""


def q_exists_subquery() -> str:
    return """SELECT o_orderkey, o_orderstatus
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_quantity > 45
)"""


def q_dedup_minhash_banded(n: int = 3, threshold: float = 0.2) -> str:
    toks = _H.tokens_sql("text")
    shingles = _H.shingles_sql("text", n=n)
    sig = _H.minhash_signature_sql("sh")
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, {_H.band_key_sql('sig', b)} AS key FROM sig"
        for b in range(_H.MINHASH_BANDS)
    )
    return (
        _chain(dup_corpus_cte())
        + f""",
-- r11 mega-cluster routing: collapse byte-identical texts to one
-- representative (min doc_id per md5(text)) BEFORE shingling, expand
-- group membership at the end — mirrors dedup.dedup_minhash_banded
grp AS (SELECT md5(text) AS g, min(doc_id) AS rep FROM dup_corpus GROUP BY md5(text)),
mem AS (
  SELECT d.doc_id, m.g, m.rep
  FROM dup_corpus d JOIN grp m ON md5(d.text) = m.g
),
reps AS (
  SELECT d.* FROM dup_corpus d WHERE d.doc_id IN (SELECT rep FROM grp)
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform({shingles},
           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS sh
  FROM (SELECT doc_id, {toks} AS t FROM reps)
  WHERE len({shingles}) > 0
),
sig AS (
  SELECT doc_id, {sig} AS sig FROM sh
),
banded AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
rep_pairs AS (
  SELECT doc_a, doc_b,
         round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.doc_a
  JOIN sh sb ON sb.doc_id = cand.doc_b
),
pairs AS (
  -- cross-group expansion: every member pair inherits its
  -- representatives' jaccard (it depends only on the texts)
  SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
         greatest(ma.doc_id, mb.doc_id) AS doc_b, p.jaccard
  FROM rep_pairs p
  JOIN mem ma ON ma.rep = p.doc_a
  JOIN mem mb ON mb.rep = p.doc_b
  UNION ALL
  -- within-group pairs: byte-identical texts, jaccard exactly 1.0;
  -- only groups whose rep survived the shingle emptiness filter
  SELECT wa.doc_id AS doc_a, wb.doc_id AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard
  FROM mem wa JOIN mem wb ON wa.g = wb.g AND wa.doc_id < wb.doc_id
  WHERE wa.rep IN (SELECT doc_id FROM sh)
)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= {flit(threshold)}"""
    )


def q_tpch_pricing() -> str:
    return """SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS HUGEINT)) AS DOUBLE) / 100.0, 2) AS sum_qty,
       round(CAST(sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS HUGEINT)) AS DOUBLE) / 100.0, 2) AS sum_base_price,
       round(CAST(sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS HUGEINT)) AS DOUBLE) / 10000.0, 2) AS sum_disc_price,
       round(CAST(sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) * (100 + CAST(floor(l_tax * 100 + 0.5) AS BIGINT)) AS HUGEINT)) AS DOUBLE) / 1e6, 2) AS sum_charge,
       round(CAST(sum(CAST(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS HUGEINT)) AS DOUBLE) / 100.0 / CAST(count(*) AS DOUBLE), 4) AS avg_qty,
       round(CAST(sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS HUGEINT)) AS DOUBLE) / 100.0 / CAST(count(*) AS DOUBLE), 4) AS avg_price,
       round(CAST(sum(CAST(CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS HUGEINT)) AS DOUBLE) / 100.0 / CAST(count(*) AS DOUBLE), 4) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-08-06 00:00:00'
GROUP BY l_returnflag, l_linestatus"""


def q_tpch_local_volume() -> str:
    return """SELECT n_name,
       round(CAST(sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS HUGEINT)) AS DOUBLE) / 10000.0, 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name"""


def q_zorder_events() -> str:
    # Morton bit-spread mirrored stage-by-stage (operators/layout.py
    # _SPREAD): pure BIGINT shift/mask — bit-identical across engines.
    steps = [(8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)]
    ctes = [
        "s0 AS (SELECT event_id, user_id::BIGINT AS user_id, "
        "CAST(floor(value) AS BIGINT) AS value_bucket, "
        "(user_id & 65535) AS xa, (CAST(floor(value) AS BIGINT) & 65535) AS xb "
        "FROM events)"
    ]
    for i, (sh, mask) in enumerate(steps):
        prev, cur = f"s{i}", f"s{i + 1}"
        ctes.append(
            f"{cur} AS (SELECT event_id, user_id, value_bucket, "
            f"((xa | (xa << {sh})) & {mask}) AS xa, "
            f"((xb | (xb << {sh})) & {mask}) AS xb FROM {prev})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT event_id, user_id, value_bucket, (xa | (xb << 1)) AS zkey FROM s4"
    )


def q_dedup_canonical(n: int = 3, threshold: float = 0.2) -> str:
    """Canonical selection over the banded-minhash components: per
    component keep max quality, ties -> lowest doc_id (mirrors the
    min(struct(-quality, doc_id)) hash-agg in dedup.dedup_canonical)."""
    inner = q_dedup_minhash_banded(n=n, threshold=threshold)
    quality = q_quality_score(tbl="dup_corpus")
    return f"""WITH RECURSIVE {dup_corpus_cte()},
pairs AS (
{inner}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
verts AS (SELECT DISTINCT src AS v FROM edges),
reach AS (
  SELECT v, v AS lbl FROM verts
  UNION
  SELECT e.dst AS v, r.lbl FROM reach r JOIN edges e ON e.src = r.v
),
comp AS (SELECT v AS doc_id, min(lbl) AS component FROM reach GROUP BY v),
quality AS (
{quality}
),
scored AS (
  SELECT d.doc_id,
         coalesce(c.component, d.doc_id) AS component,
         q.quality
  FROM dup_corpus d
  LEFT JOIN comp c ON d.doc_id = c.doc_id
  JOIN quality q ON d.doc_id = q.doc_id
),
ranked AS (
  SELECT doc_id, component, quality,
         first_value(doc_id) OVER (PARTITION BY component
             ORDER BY quality DESC, doc_id) AS canonical_id
  FROM scored
)
SELECT doc_id, component, quality, canonical_id,
       doc_id = canonical_id AS is_canonical
FROM ranked"""


def q_sim_search_ivf_trained(k: int = 10, nprobe: int = 2) -> str:
    """Trained-quantizer IVF: per-label centroid lists (mirrors
    q_label_centroids bit-for-bit), explicit fixed-order distance chains
    (same association as the Spark zip_with fold), argmin assignment by
    (dist, label), probe the query's nprobe cells, exact cosine rerank."""
    from clusterforge_spark.functions import vector as _V2

    qd_chain = _V2.dist2_cols_sql("c.cent", "q.qv")
    ad_chain = _V2.dist2_cols_sql("e.embedding", "c.cent")
    qlit = "[" + ", ".join(_V2._flit_sql(v) for v in _V2.QUERY_VEC) + "]"
    cos = _V2.cosine_lit_sql("e.embedding", _V2.QUERY_VEC)
    return f"""WITH ce AS (
  SELECT CAST(label AS BIGINT) AS label,
         unnest(embedding::DOUBLE[]) AS x,
         generate_subscripts(embedding, 1) AS ord
  FROM embeddings
),
cents AS (
  SELECT label, CAST(ord - 1 AS BIGINT) AS pos, round(avg(x), 4) AS cval
  FROM ce GROUP BY label, ord - 1
),
cent_arr AS (
  SELECT label, list(cval ORDER BY pos) AS cent FROM cents GROUP BY label
),
qcells AS (
  SELECT c.label FROM cent_arr c, (SELECT {qlit}::DOUBLE[] AS qv) q
  ORDER BY {qd_chain}, c.label LIMIT {nprobe}
),
assigned AS (
  SELECT e.vec_id, e.embedding, c.label,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {ad_chain}, c.label) AS rn
  FROM embeddings e CROSS JOIN cent_arr c
),
cand AS (
  SELECT a.vec_id, a.embedding
  FROM assigned a JOIN qcells ON a.label = qcells.label
  WHERE a.rn = 1
),
scored AS (
  SELECT e.vec_id, round({cos}, 6) AS cos_sim
  FROM cand e
),
ranked AS (
  SELECT vec_id, cos_sim,
         CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
  FROM scored
)
SELECT vec_id, cos_sim, rank FROM ranked WHERE rank <= {k}"""


def q_rolling_window() -> str:
    return """SELECT user_id, event_id,
       epoch_us(ts::TIMESTAMP) AS ts_us,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS DOUBLE) / 100.0 AS value_1h,
       CAST(count(*) OVER w AS BIGINT) AS n_events_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts::TIMESTAMP)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"""


def q_upsert_orders() -> str:
    from clusterforge_spark.operators.relational import (
        UPSERT_BUMP_MOD,
        UPSERT_NEW_OFFSET,
    )

    return f"""WITH bump AS (
  SELECT o_orderkey, o_custkey,
         'P' AS o_orderstatus,
         round(o_totalprice * 1.1, 2) AS o_totalprice,
         o_orderdate,
         '1-URGENT' AS o_orderpriority
  FROM orders WHERE o_orderkey % {UPSERT_BUMP_MOD} = 0
),
ups AS (
  SELECT * FROM bump
  UNION ALL
  SELECT o_orderkey + {UPSERT_NEW_OFFSET}, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM bump
)
SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
       coalesce(u.o_custkey, b.o_custkey) AS o_custkey,
       coalesce(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
       coalesce(u.o_totalprice, b.o_totalprice) AS o_totalprice,
       epoch_us(coalesce(u.o_orderdate, b.o_orderdate)::TIMESTAMP) AS o_orderdate_us,
       coalesce(u.o_orderpriority, b.o_orderpriority) AS o_orderpriority
FROM orders b FULL OUTER JOIN ups u ON b.o_orderkey = u.o_orderkey"""


def q_profile_columns() -> str:
    from clusterforge_spark.operators.validation import PROFILE_COLS

    branches = []
    for c in PROFILE_COLS:
        cents = f"CAST(floor({c} * 100 + 0.5) AS BIGINT)"
        branches.append(
            f"""SELECT '{c}' AS "column",
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({cents}) AS DOUBLE) / 100.0 AS min_v,
       CAST(max({cents}) AS DOUBLE) / 100.0 AS max_v,
       round(CAST(sum(CAST({cents} AS HUGEINT)) AS DOUBLE) / 100.0, 2) AS sum_v
FROM lineitem"""
        )
    return "\nUNION ALL\n".join(branches)


def q_expectation_checks() -> str:
    from clusterforge_spark.operators.validation import ORDER_STATUS_DOMAIN

    dom = ", ".join(f"'{s}'" for s in ORDER_STATUS_DOMAIN)
    return f"""WITH dup AS (
  SELECT 'pk_unique' AS "check",
         CAST(coalesce(sum(n), 0) AS BIGINT) AS n_violations
  FROM (SELECT o_orderkey, count(*) AS n FROM orders
        GROUP BY o_orderkey HAVING count(*) > 1)
),
fk AS (
  SELECT 'fk_customer' AS "check",
         CAST(count(*) AS BIGINT) AS n_violations
  FROM orders WHERE NOT EXISTS
    (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
),
scans AS (
  SELECT CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg,
         CAST(sum(CASE WHEN o_orderstatus NOT IN ({dom}) THEN 1 ELSE 0 END) AS BIGINT) AS dom
  FROM orders
),
allc AS (
  SELECT * FROM dup
  UNION ALL SELECT * FROM fk
  UNION ALL SELECT 'non_negative', neg FROM scans
  UNION ALL SELECT 'status_domain', dom FROM scans
)
SELECT "check", n_violations, n_violations = 0 AS passed FROM allc"""


def q_snapshot_diff() -> str:
    from clusterforge_spark.operators.validation import (
        SNAP_BUMP_MOD,
        SNAP_DROP_MOD,
        SNAP_NEW_MOD,
        SNAP_NEW_OFFSET,
    )

    return f"""WITH v2 AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % {SNAP_BUMP_MOD} = 0
              THEN round(o_totalprice * 1.05, 2)
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % {SNAP_DROP_MOD} <> 0
  UNION ALL
  SELECT o_orderkey + {SNAP_NEW_OFFSET}, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % {SNAP_NEW_MOD} = 0
),
j AS (
  SELECT b.o_orderkey AS bk, n.o_orderkey AS nk,
         coalesce(n.o_orderkey, b.o_orderkey) AS o_orderkey,
         CASE
           WHEN b.o_orderkey IS NULL THEN 'added'
           WHEN n.o_orderkey IS NULL THEN 'removed'
           WHEN NOT (b.o_custkey IS NOT DISTINCT FROM n.o_custkey
                 AND b.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                 AND b.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                 AND b.o_orderdate IS NOT DISTINCT FROM n.o_orderdate
                 AND b.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority)
             THEN 'changed'
           ELSE 'unchanged'
         END AS change_type
  FROM orders b FULL OUTER JOIN v2 n ON b.o_orderkey = n.o_orderkey
)
SELECT o_orderkey, change_type FROM j WHERE change_type <> 'unchanged'"""


def q_value_histogram(width: float = 50_000.0) -> str:
    w = repr(width)
    return f"""SELECT CAST(floor(o_totalprice / {w}) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value,
       round(CAST(floor(o_totalprice / {w}) AS BIGINT) * {w}, 2) AS bucket_lo
FROM orders
GROUP BY 1"""


def q_linreg() -> str:
    return """WITH s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(l_quantity::DECIMAL(18,2)) AS DOUBLE) AS sx,
         CAST(sum(l_extendedprice::DECIMAL(18,2)) AS DOUBLE) AS sy,
         CAST(sum(l_quantity::DECIMAL(18,2) * l_extendedprice::DECIMAL(18,2)) AS DOUBLE) AS sxy,
         CAST(sum(l_quantity::DECIMAL(18,2) * l_quantity::DECIMAL(18,2)) AS DOUBLE) AS sxx
  FROM lineitem
)
SELECT CAST(n AS BIGINT) AS n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept
FROM s"""


def q_zscore_outliers(threshold: float = 3.0) -> str:
    t = repr(threshold)
    return f"""WITH stats AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(value::DECIMAL(18,2)) AS DOUBLE) AS sv,
         CAST(sum(value::DECIMAL(18,2) * value::DECIMAL(18,2)) AS DOUBLE) AS svv
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       round((e.value - s.sv / s.n)
             / sqrt(s.svv / s.n - (s.sv / s.n) * (s.sv / s.n)), 4) AS z
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE (e.value - s.sv / s.n)
      / sqrt(s.svv / s.n - (s.sv / s.n) * (s.sv / s.n)) > {t}
   OR (e.value - s.sv / s.n)
      / sqrt(s.svv / s.n - (s.sv / s.n) * (s.sv / s.n)) < -{t}"""


def q_resample_daily() -> str:
    return """WITH daily AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts::TIMESTAMP) / 86400000000) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS day_value
  FROM events
  GROUP BY 1, 2
),
bounds AS (
  SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily GROUP BY user_id
),
spine AS (
  SELECT user_id, unnest(generate_series(lo, hi)) AS day FROM bounds
)
SELECT s.user_id, s.day,
       coalesce(d.n_events, 0) AS n_events,
       coalesce(d.day_value, 0.0) AS day_value
FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day"""


def q_unigram_logprob() -> str:
    toks = _H.tokens_sql("text")
    return f"""WITH exploded AS (
  SELECT doc_id, unnest({toks}) AS token FROM documents
),
vocab AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM exploded GROUP BY token
),
total AS (
  SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM vocab
),
scored AS (
  SELECT e.doc_id,
         CAST(floor(log2(v.cnt::DOUBLE / t.n_total) * 1e6 + 0.5) AS BIGINT)
           AS lp_micro
  FROM exploded e JOIN vocab v ON e.token = v.token CROSS JOIN total t
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(CAST(sum(lp_micro) AS DOUBLE) / 1e6 / count(*), 4) AS mean_log2p
FROM scored
GROUP BY doc_id"""


def _md5_bucket(token: str, salt: int, width: int) -> int:
    """Python twin of sketches._bucket — hashlib md5 is bit-identical to
    Spark's md5() and DuckDB's md5() on the same utf-8 string."""
    import hashlib

    h = hashlib.md5(f"{salt}|{token}".encode()).hexdigest()
    return int(h[:15], 16) % width


def q_countmin_freq() -> str:
    """Mirrors operators/sketches.countmin_estimate: D×W md5 Count-Min
    sketch, probe estimates vs exact counts. Probe bucket positions are
    precomputed in Python (identical md5 arithmetic)."""
    from clusterforge_spark.operators.sketches import (
        CMS_D,
        CMS_W,
        PROBE_TOKENS,
        _bucket_sql,
    )
    from clusterforge_spark.functions.hashing import tokens_sql

    toks = tokens_sql("text")
    branches = "\nUNION ALL\n".join(
        f"SELECT {j} AS row, {_bucket_sql('token', j, CMS_W)} AS bucket FROM ex"
        for j in range(CMS_D)
    )
    probe_sel = []
    for t in PROBE_TOKENS:
        lookups = ", ".join(
            f"coalesce((SELECT counter FROM sk WHERE row = {j} "
            f"AND bucket = {_md5_bucket(t, j, CMS_W)}), 0)"
            for j in range(CMS_D)
        )
        probe_sel.append(f"SELECT '{t}' AS token, least({lookups}) AS est")
    probes = "\nUNION ALL\n".join(probe_sel)
    in_list = ", ".join(f"'{t}'" for t in PROBE_TOKENS)
    return f"""WITH ex AS (
  SELECT unnest({toks}) AS token FROM documents
),
sk AS (
  SELECT row, bucket, CAST(count(*) AS BIGINT) AS counter
  FROM ({branches})
  GROUP BY row, bucket
),
est AS (
{probes}
),
truth AS (
  SELECT token, CAST(count(*) AS BIGINT) AS true_count
  FROM ex WHERE token IN ({in_list}) GROUP BY token
)
SELECT est.token,
       CAST(est AS BIGINT) AS est,
       CAST(coalesce(true_count, 0) AS BIGINT) AS true_count,
       CAST(est - coalesce(true_count, 0) AS BIGINT) AS overestimate
FROM est LEFT JOIN truth ON est.token = truth.token"""


def q_bloom_membership() -> str:
    """Mirrors operators/sketches.bloom_membership (K md5 positions over
    a W-bit space; probe positions precomputed in Python)."""
    from clusterforge_spark.operators.sketches import (
        BLOOM_K,
        BLOOM_W,
        PROBE_TOKENS,
        _bucket_sql,
    )
    from clusterforge_spark.functions.hashing import tokens_sql

    toks = tokens_sql("text")
    branches = "\nUNION ALL\n".join(
        f"SELECT {_bucket_sql('token', j, BLOOM_W)} AS bit FROM ex"
        for j in range(BLOOM_K)
    )
    probe_rows = "\nUNION ALL\n".join(
        f"SELECT '{t}' AS token, {_md5_bucket(t, j, BLOOM_W)} AS bit"
        for t in PROBE_TOKENS
        for j in range(BLOOM_K)
    )
    in_list = ", ".join(f"'{t}'" for t in PROBE_TOKENS)
    return f"""WITH ex AS (
  SELECT unnest({toks}) AS token FROM documents
),
bits AS (
  SELECT DISTINCT bit FROM ({branches})
),
pb AS (
{probe_rows}
),
hits AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_hits
  FROM pb WHERE bit IN (SELECT bit FROM bits) GROUP BY token
),
present AS (
  SELECT DISTINCT token, TRUE AS actually_present
  FROM ex WHERE token IN ({in_list})
),
probes AS (
  SELECT DISTINCT token FROM pb
)
SELECT probes.token,
       coalesce(n_hits, 0) = {BLOOM_K} AS in_filter,
       coalesce(actually_present, FALSE) AS actually_present,
       (coalesce(n_hits, 0) = {BLOOM_K}) AND NOT coalesce(actually_present, FALSE)
         AS is_false_positive
FROM probes
LEFT JOIN hits ON probes.token = hits.token
LEFT JOIN present ON probes.token = present.token"""


def q_pmi_collocations() -> str:
    """Mirrors operators/text.pmi_collocations: exact HUGEINT PMI ratio,
    ratio-then-bigram ordering for a flap-proof top-k cut."""
    from clusterforge_spark.operators.text import PMI_MIN_COUNT, PMI_TOP_K

    toks = _H.tokens_sql("text")
    bg = "[t[i] || ' ' || t[i + 1] for i in generate_series(1, len(t) - 1)]"
    ratio = (
        "CAST(CAST(c_bg AS HUGEINT) * n_uni * n_uni AS DOUBLE)"
        " / CAST(CAST(n_bi AS HUGEINT) * c_w1 * c_w2 AS DOUBLE)"
    )
    return f"""WITH tk AS (
  SELECT doc_id, {toks} AS t FROM documents
),
uni AS (
  SELECT token AS w, CAST(count(*) AS BIGINT) AS c_w
  FROM (SELECT unnest(t) AS token FROM tk) GROUP BY 1
),
nu AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_uni FROM uni),
ex AS (SELECT unnest({bg}) AS bigram FROM tk WHERE len(t) >= 2),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bi FROM ex),
bgc AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS c_bg FROM ex
  GROUP BY bigram HAVING count(*) >= {PMI_MIN_COUNT}
),
j AS (
  SELECT bigram, c_bg, u1.c_w AS c_w1, u2.c_w AS c_w2, n_uni, n_bi
  FROM bgc
  JOIN uni u1 ON split_part(bigram, ' ', 1) = u1.w
  JOIN uni u2 ON split_part(bigram, ' ', 2) = u2.w, nu, nb
)
SELECT bigram, c_bg AS c_bigram, c_w1, c_w2, round(log2({ratio}), 4) AS pmi
FROM j
ORDER BY {ratio} DESC, bigram
LIMIT {PMI_TOP_K}"""


def q_bigram_logprob() -> str:
    """Mirrors operators/text.bigram_logprob: add-one-smoothed bigram LM,
    6dp micro-unit log2 probabilities summed as exact BIGINTs."""
    toks = _H.tokens_sql("text")
    bg = "[t[i] || ' ' || t[i + 1] for i in generate_series(1, len(t) - 1)]"
    return f"""WITH tk AS (
  SELECT doc_id, {toks} AS t FROM documents
),
ex AS (
  SELECT doc_id, unnest({bg}) AS bg FROM tk WHERE len(t) >= 2
),
bgc AS (
  SELECT bg, CAST(count(*) AS BIGINT) AS c_bg FROM ex GROUP BY bg
),
w1c AS (
  SELECT split_part(bg, ' ', 1) AS w1, CAST(count(*) AS BIGINT) AS c_w1
  FROM ex GROUP BY split_part(bg, ' ', 1)
),
vocab AS (
  SELECT CAST(count(DISTINCT token) AS BIGINT) AS v
  FROM (SELECT unnest({toks}) AS token FROM documents)
),
scored AS (
  SELECT ex.doc_id,
         CAST(floor(log2((c_bg + 1)::DOUBLE / (c_w1 + v)::DOUBLE) * 1e6 + 0.5)
              AS BIGINT) AS m
  FROM ex
  JOIN bgc USING (bg)
  JOIN w1c ON split_part(ex.bg, ' ', 1) = w1c.w1
  CROSS JOIN vocab
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(sum(m) AS DOUBLE) / 1e6 / count(*), 4) AS mean_log2p
FROM scored
GROUP BY doc_id"""


def q_bm25_topk() -> str:
    """Mirrors operators/text.bm25_topk: Lucene-style BM25 over the
    fixed benchmark query, 6dp micro-unit partial scores summed as
    exact BIGINTs, ranked by (score_micro desc, doc_id)."""
    from clusterforge_spark.operators.text import (
        BM25_B,
        BM25_K1,
        BM25_QUERY,
        BM25_TOPK,
    )

    toks = _H.tokens_sql("text")
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    k1, b, k1p1 = flit(BM25_K1), flit(BM25_B), flit(BM25_K1 + 1.0)
    half, one = flit(0.5), flit(1.0)
    idf = f"ln((n_docs - df + {half}) / (df + {half}) + {one})"
    den = (
        f"(tf.tf + {k1} * ({one} - {b} + {b} * "
        f"(CAST(lens.dl AS DOUBLE) / (sum_dl / n_docs))))"
    )
    return f"""WITH d AS (
  SELECT doc_id, {toks} AS t FROM documents
),
lens AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM d
),
stats AS (
  SELECT CAST(sum(dl) AS DOUBLE) AS sum_dl,
         CAST(count(*) AS DOUBLE) AS n_docs
  FROM lens
),
ex AS (
  SELECT doc_id, unnest(t) AS token FROM d
),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
  FROM ex WHERE token IN ({terms}) GROUP BY doc_id, token
),
df AS (
  SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token
),
pd AS (
  SELECT tf.doc_id, lens.dl,
         CAST(count(*) AS BIGINT) AS n_terms_matched,
         sum(CAST(floor({idf} * (tf.tf * {k1p1} / {den}) * {flit(1e6)}
                        + {half}) AS BIGINT)) AS score_micro
  FROM tf
  JOIN df USING (token)
  JOIN lens ON tf.doc_id = lens.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id, lens.dl
)
SELECT doc_id, dl AS n_tokens, n_terms_matched,
       round(CAST(score_micro AS DOUBLE) / {flit(1e6)}, 6) AS score
FROM pd
ORDER BY score_micro DESC, doc_id
LIMIT {BM25_TOPK}"""


def q_repetition_stats() -> str:
    """Mirrors operators/text.repetition_stats: Gopher repetition metrics."""
    t = _H.tokens_sql("text")
    g2 = "[t[i] || ' ' || t[i + 1] for i in generate_series(1, len(t) - 1)]"
    g3 = "[t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] for i in generate_series(1, len(t) - 2)]"
    return f"""WITH tk AS (
  SELECT doc_id, {t} AS t FROM documents
), g AS (
  SELECT doc_id, 2 AS n,
         unnest(CASE WHEN len(t) >= 2 THEN {g2} ELSE [] END) AS gram
  FROM tk
  UNION ALL
  SELECT doc_id, 3 AS n,
         unnest(CASE WHEN len(t) >= 3 THEN {g3} ELSE [] END) AS gram
  FROM tk
), c AS (
  SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY doc_id, n, gram
), p AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN n = 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_2grams,
         CAST(max(CASE WHEN n = 2 THEN cnt END) AS BIGINT) AS top_2gram_cnt,
         CAST(sum(CASE WHEN n = 3 THEN cnt ELSE 0 END) AS BIGINT) AS n_3grams,
         CAST(sum(CASE WHEN n = 3 AND cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
           AS dup_3gram_cnt
  FROM c GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_2grams, 0) AS n_2grams,
       round(CASE WHEN coalesce(p.n_2grams, 0) > 0
                  THEN CAST(p.top_2gram_cnt AS DOUBLE) / CAST(p.n_2grams AS DOUBLE)
                  ELSE 0.0 END, 4) AS top_2gram_frac,
       coalesce(p.n_3grams, 0) AS n_3grams,
       round(CASE WHEN coalesce(p.n_3grams, 0) > 0
                  THEN CAST(p.dup_3gram_cnt AS DOUBLE) / CAST(p.n_3grams AS DOUBLE)
                  ELSE 0.0 END, 4) AS dup_3gram_frac
FROM documents d LEFT JOIN p USING (doc_id)"""


def q_contamination() -> str:
    """Mirrors operators/text.contamination_check (5-gram overlap vs the
    doc_id % 20 == 0 stand-in benchmark set)."""
    from clusterforge_spark.operators.text import (
        CONTAM_BENCH_MOD,
        CONTAM_NGRAM,
        CONTAM_THRESHOLD,
    )

    sh = _H.shingles_sql("text", n=CONTAM_NGRAM)
    return f"""WITH tk AS (
  SELECT doc_id, {_H.tokens_sql("text")} AS t FROM documents
), ws AS (
  SELECT doc_id, {sh} AS sh FROM tk
), bench AS (
  SELECT DISTINCT unnest(sh) AS gram, CAST(1 AS BIGINT) AS hit
  FROM ws WHERE doc_id % {CONTAM_BENCH_MOD} = 0
), train AS (
  SELECT doc_id, sh FROM ws WHERE doc_id % {CONTAM_BENCH_MOD} != 0
), ex AS (
  SELECT doc_id, unnest(sh) AS gram FROM train
), p AS (
  SELECT ex.doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(coalesce(b.hit, 0)) AS BIGINT) AS n_hits
  FROM ex LEFT JOIN bench b USING (gram)
  GROUP BY ex.doc_id
)
SELECT t.doc_id,
       coalesce(p.n_shingles, 0) AS n_shingles,
       coalesce(p.n_hits, 0) AS n_hits,
       round(CASE WHEN coalesce(p.n_shingles, 0) > 0
                  THEN CAST(p.n_hits AS DOUBLE) / CAST(p.n_shingles AS DOUBLE)
                  ELSE 0.0 END, 4) AS contam_frac,
       (CASE WHEN coalesce(p.n_shingles, 0) > 0
             THEN CAST(p.n_hits AS DOUBLE) / CAST(p.n_shingles AS DOUBLE)
             ELSE 0.0 END) >= {CONTAM_THRESHOLD!r} AS is_contaminated
FROM train t LEFT JOIN p USING (doc_id)"""


def q_weighted_sample() -> str:
    """Mirrors operators/text.weighted_sample: exact-integer weighted
    Bernoulli sample (p = min(n_chars, CAP)/CAP via 60-bit md5 key)."""
    from clusterforge_spark.operators.text import WSAMPLE_CAP

    return f"""WITH s AS (
  SELECT doc_id, lang, source, n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS u60,
         CAST(least(n_chars, {WSAMPLE_CAP}) AS BIGINT) AS w
  FROM documents
)
SELECT doc_id, lang, source, n_chars, u60
FROM s
WHERE u60::HUGEINT * {WSAMPLE_CAP} < 1152921504606846976::HUGEINT * w"""


def q_grouped_linreg() -> str:
    return """WITH s AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(l_quantity::DECIMAL(18,2)) AS DOUBLE) AS sx,
         CAST(sum(l_extendedprice::DECIMAL(18,2)) AS DOUBLE) AS sy,
         CAST(sum(l_quantity::DECIMAL(18,2) * l_extendedprice::DECIMAL(18,2)) AS DOUBLE) AS sxy,
         CAST(sum(l_quantity::DECIMAL(18,2) * l_quantity::DECIMAL(18,2)) AS DOUBLE) AS sxx
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept
FROM s"""


def q_interarrival_profile() -> str:
    """Mirrors operators/relational.interarrival_profile: exact µs gaps
    over the (ts, event_id) total order, HUGEINT Σgap², 6dp percentiles,
    4dp mean/CV."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    return f"""WITH gaps AS (
  SELECT event_type,
         epoch_us(ts::TIMESTAMP)
           - lag(epoch_us(ts::TIMESTAMP)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts ASC, event_id ASC) AS gap_us
  FROM events
),
a AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(gap_us) AS DOUBLE) AS sg,
         CAST(sum(CAST(gap_us AS HUGEINT) * CAST(gap_us AS HUGEINT)) AS DOUBLE)
           AS sgg,
         {_rd('quantile_cont(gap_us, 0.5)', 6)} AS p50_gap_us,
         {_rd('quantile_cont(gap_us, 0.9)', 6)} AS p90_gap_us
  FROM gaps WHERE gap_us IS NOT NULL GROUP BY event_type
)
SELECT event_type, n_gaps,
       {_rd('sg / n_gaps', 4)} AS mean_gap_us,
       p50_gap_us, p90_gap_us,
       {_rd('sqrt(greatest(sgg / n_gaps - (sg / n_gaps) * (sg / n_gaps), 0.0)) / (sg / n_gaps)', 4)} AS gap_cv
FROM a"""


def q_event_transitions() -> str:
    return """WITH pairs AS (
  SELECT event_type AS prev_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
), c AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE next_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n,
       round(CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 4) AS prob
FROM c"""


def q_reservoir_per_group(k: int = 10) -> str:
    return f"""WITH s AS (
  SELECT doc_id, lang, source, n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS u60
  FROM documents
), r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY u60, doc_id)
                 AS BIGINT) AS rk
  FROM s
)
SELECT doc_id, lang, source, n_chars, u60, rk FROM r WHERE rk <= {k}"""


def q_tukey_fences(k: float = 1.5) -> str:
    """Mirrors operators/validation.tukey_fences: 6dp-rounded exact
    quartiles, unrounded-fence filter, 6dp fence output."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    kk = repr(float(k))
    lo = f"(q1 - {kk} * (q3 - q1))"
    hi = f"(q3 + {kk} * (q3 - q1))"
    return f"""WITH qs AS (
  SELECT event_type,
         {_rd('quantile_cont(value, 0.25)', 6)} AS q1,
         {_rd('quantile_cont(value, 0.75)', 6)} AS q3
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       {_rd(lo, 6)} AS fence_lo,
       {_rd(hi, 6)} AS fence_hi,
       CASE WHEN e.value < {lo} THEN 'low' ELSE 'high' END AS side
FROM events e JOIN qs USING (event_type)
WHERE e.value < {lo} OR e.value > {hi}"""


def q_mad_outliers() -> str:
    """Mirrors operators/validation.mad_outliers: medians as explicit
    order statistics so the unrounded values feeding the threshold are
    bit-identical with Spark's."""
    from clusterforge_spark.operators.validation import MAD_CONSISTENCY, MAD_K

    def med_cte(src: str, col: str, out: str) -> str:
        return f"""(
  SELECT event_type, (min({col}) + max({col})) / 2 AS {out}
  FROM (
    SELECT event_type, {col},
           row_number() OVER (PARTITION BY event_type ORDER BY {col}, event_id) AS _rn,
           count(*) OVER (PARTITION BY event_type) AS _n
    FROM {src}
  )
  WHERE _rn = CAST(floor((_n + 1) / 2) AS BIGINT)
     OR _rn = CAST(floor((_n + 2) / 2) AS BIGINT)
  GROUP BY event_type
)"""

    return f"""WITH med AS {med_cte("events", "value", "med")},
dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         abs(e.value - m.med) AS absdev
  FROM events e JOIN med m USING (event_type)
), mad AS {med_cte("dev", "absdev", "mad")}
SELECT d.event_id, d.event_type, d.value,
       round(d.med, 6) AS med,
       round(m.mad, 6) AS mad,
       round(d.absdev / ({MAD_CONSISTENCY!r} * m.mad), 4) AS score
FROM dev d JOIN mad m USING (event_type)
WHERE m.mad > 0 AND d.absdev / ({MAD_CONSISTENCY!r} * m.mad) > {MAD_K!r}"""


def q_corr_matrix() -> str:
    """Mirrors operators/relational.corr_matrix (single-pass sufficient
    statistics over exact integer cents; HUGEINT sums are value-equal to
    the Spark side's decimal(38,0) sums, and the final CAST AS DOUBLE
    rounds identically)."""
    from clusterforge_spark.operators.relational import CORR_COLS

    cols = CORR_COLS
    cents = {c: f"CAST(floor({c} * 100 + 0.5) AS BIGINT)" for c in cols}
    sel = ["CAST(count(*) AS DOUBLE) AS n"]
    for c in cols:
        sel.append(f"CAST(sum(CAST({cents[c]} AS HUGEINT)) AS DOUBLE) AS s_{c}")
        sel.append(
            f"CAST(sum(CAST({cents[c]} * {cents[c]} AS HUGEINT)) AS DOUBLE) AS ss_{c}"
        )
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        sel.append(
            f"CAST(sum(CAST({cents[a]} * {cents[b]} AS HUGEINT)) AS DOUBLE) AS sp_{a}__{b}"
        )
    stats = ",\n         ".join(sel)
    unions = []
    for a, b in pairs:
        corr = (
            f"(n * sp_{a}__{b} - s_{a} * s_{b}) / "
            f"(sqrt(n * ss_{a} - s_{a} * s_{a}) * sqrt(n * ss_{b} - s_{b} * s_{b}))"
        )
        unions.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, round({corr}, 6) AS corr FROM s"
        )
    u = "\nUNION ALL\n".join(unions)
    return f"""WITH s AS (
  SELECT {stats}
  FROM lineitem
)
{u}"""


def q_psi_ab() -> str:
    """Mirrors operators/validation.psi_ab (ε-smoothed PSI with exact
    1e-9-unit term sums)."""
    from clusterforge_spark.operators.validation import PSI_EPS_Q, PSI_W

    w, eps = flit(PSI_W), flit(PSI_EPS_Q)
    p = f"greatest(CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE), {eps})"
    q = f"greatest(CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE), {eps})"
    return f"""WITH base AS (
  SELECT CAST(floor(value / {w}) AS BIGINT) AS bucket,
         user_id % 2 = 0 AS is_a
  FROM events WHERE value IS NOT NULL
),
per AS (
  SELECT bucket,
         sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
  FROM base GROUP BY bucket
),
totals AS (
  SELECT CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
  FROM base
)
SELECT n_a, n_b,
       CAST(count(*) AS BIGINT) AS n_buckets,
       round(CAST(sum(CAST(floor(({p} - {q}) * ln({p} / {q}) * {flit(1e9)}
                                 + 0.5) AS BIGINT)) AS DOUBLE) / {flit(1e9)}, 6)
         AS psi
FROM per CROSS JOIN totals
GROUP BY n_a, n_b"""


def q_k_anonymity() -> str:
    """Mirrors operators/validation.k_anonymity."""
    from clusterforge_spark.operators.validation import (
        K_ANON_K,
        QI_COLS,
        QI_LEN_BUCKET,
    )

    qi = ", ".join(QI_COLS)
    return f"""WITH classes AS (
  SELECT {qi}, CAST(floor(n_chars / {QI_LEN_BUCKET}) AS BIGINT) AS len_bucket,
         CAST(count(*) AS BIGINT) AS class_size
  FROM documents
  GROUP BY {qi}, floor(n_chars / {QI_LEN_BUCKET})
)
SELECT class_size < {K_ANON_K} AS is_violating,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(class_size) AS BIGINT) AS n_rows,
       CAST(min(class_size) AS BIGINT) AS min_class_size,
       CAST(max(class_size) AS BIGINT) AS max_class_size
FROM classes
GROUP BY class_size < {K_ANON_K}"""


def q_l_diversity() -> str:
    """Mirrors operators/validation.l_diversity."""
    from clusterforge_spark.operators.validation import L_DIVERSITY_L

    return f"""WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS l_val,
         CAST(count(*) AS BIGINT) AS class_size
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
)
SELECT l_val < {L_DIVERSITY_L} AS is_violating,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(class_size) AS BIGINT) AS n_rows,
       CAST(min(l_val) AS BIGINT) AS min_l,
       CAST(max(l_val) AS BIGINT) AS max_l
FROM classes
GROUP BY l_val < {L_DIVERSITY_L}"""


def q_mann_kendall() -> str:
    """Mirrors operators/relational.mann_kendall: integer S and tie term
    over the exact-e4 daily series; var and Z are single double ops."""
    return f"""WITH daily AS (
  SELECT CAST(epoch_us(l_shipdate::TIMESTAMP) // 86400000000 AS BIGINT) AS day,
         sum({_REV_E4}) AS x
  FROM lineitem GROUP BY 1
), s AS (
  SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END)
              AS BIGINT) AS s_stat
  FROM daily a JOIN daily b ON a.day < b.day
), ties AS (
  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_sum
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x) WHERE t > 1
), n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
SELECT n_days, s_stat,
       round(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_sum AS DOUBLE) / 18.0, 4) AS var_s,
       round(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                  WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                  ELSE 0.0 END
             / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_sum AS DOUBLE) / 18.0), 4) AS z
FROM s, ties, n"""


def q_theil_sen() -> str:
    """Mirrors operators/relational.theil_sen: pairwise slopes are single
    double divisions of exact integers; medians interpolate linearly in
    both engines (percentile ↔ quantile_cont)."""
    return f"""WITH daily AS (
  SELECT CAST(epoch_us(l_shipdate::TIMESTAMP) // 86400000000 AS BIGINT) AS day,
         sum({_REV_E4}) AS x
  FROM lineitem GROUP BY 1
), slopes AS (
  SELECT CAST(b.x - a.x AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) / 10000.0 AS slope
  FROM daily a JOIN daily b ON a.day < b.day
), ms AS (
  SELECT quantile_cont(slope, 0.5) AS slope, CAST(count(*) AS BIGINT) AS n_pairs
  FROM slopes
), resid AS (
  SELECT CAST(x AS DOUBLE) / 10000.0 - slope * CAST(day AS DOUBLE) AS r
  FROM daily, ms
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
       n_pairs,
       floor(slope * 1000000.0 + 0.5) / 1000000.0 AS slope_per_day,
       floor((SELECT quantile_cont(r, 0.5) FROM resid) * 10000.0 + 0.5) / 10000.0 AS intercept
FROM ms"""


def q_readability_profile() -> str:
    """Mirrors operators/text.readability_profile."""
    toks = _H.tokens_sql("text")
    return f"""WITH per AS (
  SELECT lang,
         CAST(len({toks}) AS BIGINT) AS w,
         greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS s,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS y
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(w) AS BIGINT) AS words,
       CAST(sum(s) AS BIGINT) AS sentences,
       CAST(sum(y) AS BIGINT) AS syllables,
       round(206.835
             - 1.015 * CAST(sum(w) AS DOUBLE) / CAST(sum(s) AS DOUBLE)
             - 84.6 * CAST(sum(y) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 4) AS flesch
FROM per GROUP BY lang"""


def q_ks_test_value() -> str:
    """Mirrors operators/validation.ks_test_value (exact-integer D
    numerator over the distinct-value CDF rows)."""
    return """WITH base AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
         user_id % 2 = 0 AS is_a
  FROM events WHERE value IS NOT NULL
),
per_v AS (
  SELECT v,
         sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
  FROM base GROUP BY v
),
cum AS (
  SELECT sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
         sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
  FROM per_v
),
totals AS (
  SELECT CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
  FROM base
),
d AS (
  SELECT n_a, n_b,
         max(abs(CAST(cum_a AS HUGEINT) * n_b - CAST(cum_b AS HUGEINT) * n_a))
           AS max_num
  FROM cum CROSS JOIN totals
  GROUP BY n_a, n_b
)
SELECT n_a, n_b,
       round(CAST(max_num AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS d_stat,
       round((CAST(max_num AS DOUBLE)
              / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
             * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))), 4)
         AS ks_lambda
FROM d"""


def q_cramers_v() -> str:
    """Mirrors operators/validation.cramers_v_association (arithmetic
    dow contingency, exact-integer chi-square inputs)."""
    return """WITH cells AS (
  SELECT event_type,
         CAST(((epoch_us(ts) // 86400000000) + 4) % 7 AS BIGINT) AS dow,
         CAST(count(*) AS BIGINT) AS n
  FROM events
  GROUP BY event_type, ((epoch_us(ts) // 86400000000) + 4) % 7
),
row_m AS (SELECT event_type, sum(n) AS row_n FROM cells GROUP BY event_type),
col_m AS (SELECT dow, sum(n) AS col_n FROM cells GROUP BY dow),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_events,
         CAST(count(DISTINCT event_type) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT dow) AS BIGINT) AS n_cols
  FROM cells
),
grid AS (
  -- full contingency grid: unobserved combinations are zero cells whose
  -- (0 - exp)^2 / exp contribution the statistic requires
  SELECT event_type, dow, row_n, col_n,
         coalesce(n, 0) AS n
  FROM (SELECT * FROM row_m CROSS JOIN col_m) g
  LEFT JOIN cells USING (event_type, dow)
),
per AS (
  SELECT n_events, n_rows, n_cols,
         CAST(sum(CAST(floor(
           (CAST(n AS DOUBLE)
            - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
              / CAST(n_events AS DOUBLE))
           * (CAST(n AS DOUBLE)
              - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                / CAST(n_events AS DOUBLE))
           / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
              / CAST(n_events AS DOUBLE)) * 1e6 + 0.5) AS BIGINT))
              AS DOUBLE) / 1e6 AS chi2
  FROM grid
  CROSS JOIN tot
  GROUP BY n_events, n_rows, n_cols
)
SELECT n_events, n_rows, n_cols,
       round(chi2, 4) AS chi2,
       round(sqrt(chi2 / (CAST(n_events AS DOUBLE)
                          * (CAST(least(n_rows, n_cols) AS DOUBLE) - 1.0))), 6)
         AS cramers_v
FROM per"""


def q_benford_check() -> str:
    """Mirrors operators/validation.benford_check (textual first digit,
    literal Benford shares, per-digit chi-square terms)."""
    import math

    share = {d: flit(math.log10(1.0 + 1.0 / d)) for d in range(1, 10)}
    share_case = (
        "CASE digit "
        + " ".join(f"WHEN {d} THEN {share[d]}" for d in range(1, 10))
        + " END"
    )
    exp_n = f"(({share_case}) * n_total)"
    return f"""WITH counts AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                             AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         CAST(count(*) AS BIGINT) AS n
  FROM orders WHERE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) >= 1
  GROUP BY 1
),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS n_total FROM counts)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / n_total, 6) AS observed_share,
       round({share_case}, 6) AS benford_share,
       round((CAST(n AS DOUBLE) - {exp_n}) * (CAST(n AS DOUBLE) - {exp_n})
             / {exp_n}, 4) AS chi2_term
FROM counts CROSS JOIN tot"""


def q_lorenz_deciles(n_buckets: int = 10) -> str:
    """Mirrors operators/validation.lorenz_deciles: exact-cents dense
    ranks, integer-division decile assignment, 6dp shares."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    return f"""WITH per_user AS (
  SELECT user_id,
         sum(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS HUGEINT)) AS cents
  FROM events WHERE value IS NOT NULL GROUP BY user_id
),
r AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents ASC, user_id ASC) AS rnk,
         count(*) OVER () AS n_total
  FROM per_user
),
d AS (
  SELECT CAST((rnk - 1) * {n_buckets} // n_total + 1 AS BIGINT) AS decile, cents
  FROM r
),
a AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_users, sum(cents) AS cents
  FROM d GROUP BY decile
),
c AS (
  SELECT decile, n_users, cents,
         sum(cents) OVER (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents,
         sum(cents) OVER () AS tot_cents
  FROM a
)
SELECT decile, n_users,
       {_rd('CAST(cents AS DOUBLE) / 100.0', 2)} AS decile_spend,
       {_rd('CAST(cents AS DOUBLE) / CAST(tot_cents AS DOUBLE)', 6)} AS spend_share,
       {_rd('CAST(cum_cents AS DOUBLE) / CAST(tot_cents AS DOUBLE)', 6)} AS cum_share
FROM c"""


def q_hhi_by_segment() -> str:
    """Mirrors operators/validation.hhi_by_segment: exact HUGEINT cents
    sufficient statistics, one double division per ratio."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    hhi = "(sum_x2 / (sum_x * sum_x))"
    norm = f"(({hhi} - 1.0 / n) / (1.0 - 1.0 / n))"
    return f"""WITH spend AS (
  SELECT o_custkey,
         sum(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS HUGEINT))
           AS cents
  FROM orders GROUP BY o_custkey
),
seg AS (
  SELECT c_mktsegment, cents
  FROM spend JOIN customer ON o_custkey = c_custkey
),
a AS (
  SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(cents) AS DOUBLE) AS sum_x,
         CAST(sum(cents * cents) AS DOUBLE) AS sum_x2
  FROM seg GROUP BY c_mktsegment
)
SELECT c_mktsegment, n_customers,
       {_rd('sum_x / 100.0', 2)} AS total_spend,
       {_rd(hhi, 6)} AS hhi,
       CASE WHEN n > 1 THEN {_rd(norm, 6)} END AS hhi_normalized
FROM a"""


def q_gini_concentration() -> str:
    """Mirrors operators/validation.gini_concentration (histogram ranks,
    exact HUGEINT rank-weighted sum)."""
    return """WITH per_user AS (
  SELECT user_id,
         sum(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS HUGEINT)) AS cents
  FROM events WHERE value IS NOT NULL GROUP BY user_id
),
hist AS (
  SELECT cents, count(*) AS cnt FROM per_user GROUP BY cents
),
rk AS (
  SELECT cents,
         CAST(2 * coalesce(sum(cnt) OVER (ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + cnt + 1 AS BIGINT) AS r2
  FROM hist
),
j AS (
  SELECT per_user.cents, r2 FROM per_user JOIN rk ON per_user.cents = rk.cents
),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(cents) AS DOUBLE) AS sum_x,
         CAST(sum(CAST(r2 AS HUGEINT) * cents) AS DOUBLE) AS sum_r2x
  FROM j
)
SELECT n_users,
       round(sum_x / 100.0, 2) AS total_value,
       round((sum_r2x / (CAST(n_users AS DOUBLE) * sum_x))
             - (CAST(n_users AS DOUBLE) + 1.0) / CAST(n_users AS DOUBLE), 6)
         AS gini
FROM a"""


def q_dow_seasonality() -> str:
    """Mirrors operators/relational.dow_seasonality (arithmetic dow,
    cents-exact sums)."""
    return """WITH per AS (
  SELECT event_type,
         CAST(((epoch_us(ts) // 86400000000) + 4) % 7 AS BIGINT) AS dow,
         CAST(count(*) AS BIGINT) AS n_events,
         sum(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS HUGEINT)) AS sum_cents
  FROM events
  GROUP BY event_type, ((epoch_us(ts) // 86400000000) + 4) % 7
),
tot AS (
  SELECT event_type,
         CAST(sum(n_events) AS BIGINT) AS n_total,
         sum(sum_cents) AS cents_total
  FROM per GROUP BY event_type
)
SELECT per.event_type, dow, n_events,
       round(CAST(n_events AS DOUBLE) / CAST(n_total AS DOUBLE), 4) AS share_of_type,
       round(CAST(sum_cents AS DOUBLE) / CAST(n_events AS DOUBLE) / 100.0, 4)
         AS avg_value,
       round((CAST(sum_cents AS DOUBLE) / CAST(n_events AS DOUBLE))
             / (CAST(cents_total AS DOUBLE) / CAST(n_total AS DOUBLE)), 4)
         AS value_index
FROM per JOIN tot ON per.event_type = tot.event_type"""


def q_time_to_convert() -> str:
    """Mirrors operators/relational.time_to_convert (nearest-rank deciles
    over the first-view→first-purchase latency)."""
    pcts = ", ".join(f"({d * 10})" for d in range(1, 10))
    return f"""WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS fv,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS fp
  FROM events GROUP BY user_id
),
deltas AS (
  SELECT (fp - fv) // 60000000 AS delta_min
  FROM firsts
  WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp > fv
),
hist AS (
  SELECT delta_min, count(*) AS cnt FROM deltas GROUP BY delta_min
),
cum AS (
  SELECT delta_min,
         sum(cnt) OVER (ORDER BY delta_min ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
),
tot AS (SELECT count(*) AS n FROM deltas),
targets AS (SELECT pct FROM (VALUES {pcts}) AS t(pct))
SELECT CAST(pct AS BIGINT) AS pct,
       CAST(min(delta_min) AS BIGINT) AS minutes_to_convert
FROM targets CROSS JOIN cum CROSS JOIN tot
WHERE cum >= (pct * n + 99) // 100
GROUP BY pct"""


def q_mannwhitney_value() -> str:
    """Mirrors operators/validation.mannwhitney_value: histogram-built
    doubled average ranks, tie-corrected normal approximation."""
    return """WITH base AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
         user_id % 2 = 0 AS is_a
  FROM events WHERE value IS NOT NULL
),
hist AS (
  SELECT v, count(*) AS cnt FROM base GROUP BY v
),
rk AS (
  SELECT v,
         CAST(2 * coalesce(sum(cnt) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + cnt + 1 AS BIGINT) AS r2
  FROM hist
),
j AS (
  SELECT is_a, r2 FROM base JOIN rk USING (v)
),
m AS (
  SELECT CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         CAST(sum(CAST(CASE WHEN is_a THEN r2 ELSE 0 END AS HUGEINT)) AS DOUBLE)
           AS r2_a
  FROM j
),
t AS (
  SELECT CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS DOUBLE) AS tie_term
  FROM hist
)
SELECT n_a, n_b,
       round((r2_a - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0)) / 2.0, 4)
         AS u_a,
       round(((r2_a - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0)) / 2.0
              - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
             / sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)
                    * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
                       - tie_term
                         / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                            * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)))),
             4) AS z_u
FROM m CROSS JOIN t"""


def q_normal_equations() -> str:
    """Mirrors operators/relational.normal_equations (exact cent-product
    sufficient statistics; HUGEINT sums)."""
    from clusterforge_spark.operators.relational import MULTIREG_X, MULTIREG_Y

    terms = {"1": "CAST(100 AS BIGINT)"}
    for c in (*MULTIREG_X, MULTIREG_Y):
        terms[c] = f"CAST(floor({c} * 100 + 0.5) AS BIGINT)"
    names = ["1", *MULTIREG_X]
    pairs = []
    for i, a in enumerate(names):
        for b in names[i:]:
            pairs.append((a, b))
    for a in names:
        pairs.append((a, MULTIREG_Y))
    branches = "\nUNION ALL\n".join(
        f"SELECT '{a}' AS term_a, '{b}' AS term_b, "
        f"CAST({terms[a]} * {terms[b]} AS HUGEINT) AS prod FROM lineitem"
        for a, b in pairs
    )
    return f"""WITH ex AS (
{branches}
)
SELECT term_a, term_b, CAST(sum(prod) AS DOUBLE) AS sum_e4
FROM ex GROUP BY term_a, term_b"""


def q_spearman_matrix() -> str:
    """Mirrors operators/relational.spearman_matrix: histogram-built
    doubled average ranks (exact BIGINT), Pearson-on-ranks via HUGEINT
    sufficient statistics."""
    from clusterforge_spark.operators.relational import CORR_COLS

    cols = CORR_COLS
    cents = {c: f"CAST(floor({c} * 100 + 0.5) AS BIGINT)" for c in cols}
    base_sel = ", ".join(f"{cents[c]} AS v_{c}" for c in cols)
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    rank_ctes = []
    for c in cols:
        rank_ctes.append(
            f"""rk_{c} AS (
  SELECT v_{c},
         CAST(2 * coalesce(sum(cnt) OVER (ORDER BY v_{c}
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + cnt + 1 AS BIGINT) AS r2_{c}
  FROM (SELECT v_{c}, count(*) AS cnt FROM base GROUP BY v_{c})
)"""
        )
    joins = " ".join(f"JOIN rk_{c} USING (v_{c})" for c in cols)
    sel = ["CAST(count(*) AS DOUBLE) AS n"]
    for c in cols:
        sel.append(f"CAST(sum(CAST(r2_{c} AS HUGEINT)) AS DOUBLE) AS s_{c}")
        sel.append(
            f"CAST(sum(CAST(r2_{c} * r2_{c} AS HUGEINT)) AS DOUBLE) AS ss_{c}"
        )
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        sel.append(
            f"CAST(sum(CAST(r2_{a} * r2_{b} AS HUGEINT)) AS DOUBLE) AS sp_{a}__{b}"
        )
    stats = ",\n         ".join(sel)
    unions = []
    for a, b in pairs:
        corr = (
            f"(n * sp_{a}__{b} - s_{a} * s_{b}) / "
            f"(sqrt(n * ss_{a} - s_{a} * s_{a}) * sqrt(n * ss_{b} - s_{b} * s_{b}))"
        )
        unions.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, round({corr}, 6) AS rho FROM s"
        )
    u = "\nUNION ALL\n".join(unions)
    ctes = ",\n".join(rank_ctes)
    return f"""WITH base AS (
  SELECT {base_sel} FROM lineitem WHERE {notnull}
),
{ctes},
j AS (
  SELECT * FROM base {joins}
),
s AS (
  SELECT {stats} FROM j
)
{u}"""


def q_nb_classify() -> str:
    """Mirrors operators/text.nb_classify: multinomial NB with add-one
    smoothing, 6dp-micro-unit integer log2 scores, argmax with lang
    tie-break."""
    from clusterforge_spark.operators.text import NB_TEST_MOD

    t = _H.tokens_sql("text")
    micro = "CAST(floor(log2({x}) * 1e6 + 0.5) AS BIGINT)"
    return f"""WITH tk AS (
  SELECT doc_id, lang, {t} AS t FROM documents
), train AS (
  SELECT * FROM tk WHERE doc_id % {NB_TEST_MOD} != 0
), test AS (
  SELECT * FROM tk WHERE doc_id % {NB_TEST_MOD} = 0
), tr_tokens AS (
  SELECT lang, unnest(t) AS token FROM train
), counts AS (
  SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
  FROM tr_tokens GROUP BY lang, token
), totals AS (
  SELECT lang, CAST(sum(cnt) AS BIGINT) AS total FROM counts GROUP BY lang
), vocab AS (
  SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM counts
), langs AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM train GROUP BY lang
), n_tr AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all FROM train
), lik AS (
  SELECT c.lang, c.token,
         {micro.format(x="CAST(c.cnt + 1 AS DOUBLE) / CAST(t.total + vocab.v AS DOUBLE)")} AS lp_micro
  FROM counts c JOIN totals t ON c.lang = t.lang CROSS JOIN vocab
), lang_side AS (
  SELECT l.lang,
         {micro.format(x="1.0 / CAST(t.total + vocab.v AS DOUBLE)")} AS unseen_micro,
         {micro.format(x="CAST(l.n_docs AS DOUBLE) / CAST(n_tr.n_all AS DOUBLE)")} AS prior_micro
  FROM langs l JOIN totals t ON l.lang = t.lang CROSS JOIN vocab CROSS JOIN n_tr
), te_tokens AS (
  SELECT doc_id, lang AS true_lang, unnest(t) AS token FROM test
), scored AS (
  SELECT te.doc_id, te.true_lang, ls.lang,
         coalesce(k.lp_micro, ls.unseen_micro) AS m
  FROM te_tokens te
  CROSS JOIN (SELECT lang, unseen_micro FROM lang_side) ls
  LEFT JOIN lik k ON k.lang = ls.lang AND k.token = te.token
), doc_lang AS (
  SELECT doc_id, true_lang, lang, CAST(sum(m) AS BIGINT) AS sum_micro
  FROM scored GROUP BY doc_id, true_lang, lang
), with_prior AS (
  SELECT d.doc_id, d.true_lang, d.lang,
         d.sum_micro + ls.prior_micro AS score_micro
  FROM doc_lang d JOIN lang_side ls ON d.lang = ls.lang
), ranked AS (
  SELECT doc_id, true_lang, lang, score_micro,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_micro DESC, lang ASC) AS rn
  FROM with_prior
)
SELECT doc_id, true_lang, lang AS predicted_lang,
       score_micro AS best_score_micro,
       (lang = true_lang) AS is_correct
FROM ranked WHERE rn = 1"""


def q_session_paths(gap_minutes: int = 30, k: int = 20) -> str:
    """Mirrors operators/relational.session_paths (session numbering is
    grouped away, so only the partition into sessions must agree)."""
    gap_us = gap_minutes * 60_000_000
    return f"""WITH g AS (
  SELECT user_id, event_id, ts::TIMESTAMP AS tsu, event_type,
         CASE WHEN epoch_us(ts::TIMESTAMP)
                   - lag(epoch_us(ts::TIMESTAMP)) OVER
                     (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
                   > {gap_us} THEN 1 ELSE 0 END AS is_new
  FROM events
), s AS (
  SELECT user_id, tsu, event_id, event_type,
         sum(coalesce(is_new, 0)) OVER
           (PARTITION BY user_id ORDER BY tsu, event_id
            ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM g
), p AS (
  SELECT user_id, session_idx,
         string_agg(event_type, '>' ORDER BY tsu, event_id) AS path,
         CAST(count(*) AS BIGINT) AS path_len
  FROM s GROUP BY user_id, session_idx
)
SELECT path,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(max(path_len) AS BIGINT) AS path_len
FROM p GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT {k}"""


def q_decile_stats(n_buckets: int = 10) -> str:
    return f"""WITH b AS (
  SELECT value,
         CAST(ntile({n_buckets}) OVER (ORDER BY value ASC, event_id ASC)
              AS BIGINT) AS decile
  FROM events
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n,
       min(value) AS lo,
       max(value) AS hi,
       round(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
             / CAST(count(*) AS DOUBLE), 4) AS mean_value
FROM b GROUP BY decile"""


def q_inverted_index(max_postings: int = 50) -> str:
    t = _H.tokens_sql("text")
    return f"""WITH ex AS (
  SELECT doc_id, unnest(list_distinct({t})) AS token FROM documents
)
SELECT token,
       CAST(count(*) AS BIGINT) AS df,
       array_to_string(list_slice(list_sort(list(doc_id)), 1, {max_postings}), ',')
         AS postings
FROM ex GROUP BY token"""


def q_tpch_shipping_priority(
    cutoff: str = "1998-06-01", segment: str = "BUILDING", k: int = 10
) -> str:
    return f"""SELECT l_orderkey,
       round(CAST(sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS HUGEINT)) AS DOUBLE) / 10000.0, 2) AS revenue,
       epoch_us(o_orderdate) AS o_orderdate_us,
       o_orderpriority
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = '{segment}'
  AND o_orderdate < TIMESTAMP '{cutoff} 00:00:00'
  AND l_shipdate > TIMESTAMP '{cutoff} 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate_us ASC, l_orderkey ASC
LIMIT {k}"""


def q_tpch_large_volume(min_qty: float = 207.0, k: int = 100) -> str:
    return f"""WITH big AS (
  SELECT l_orderkey, sum(l_quantity::DECIMAL(18,2)) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity::DECIMAL(18,2)) > {min_qty!r}
)
SELECT c_name, c_custkey, o_orderkey,
       epoch_us(o_orderdate) AS o_orderdate_us,
       o_totalprice,
       CAST(total_qty AS DOUBLE) AS total_qty
FROM big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderdate_us ASC, o_orderkey ASC
LIMIT {k}"""


def q_scd2_build() -> str:
    return """SELECT o_custkey,
       CAST(row_number() OVER w AS BIGINT) AS version,
       epoch_us(o_orderdate) AS valid_from_us,
       epoch_us(lead(o_orderdate) OVER w) AS valid_to_us,
       (lead(o_orderdate) OVER w IS NULL) AS is_current,
       o_orderkey, o_totalprice, o_orderpriority
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""


def q_sim_search_filtered(k: int = 10, label: int = 3) -> str:
    cos = _V.cosine_lit_sql("embedding", _V.QUERY_VEC)
    return f"""SELECT vec_id, label, cos_sim,
       CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM (
  SELECT vec_id, label, round({cos}, 6) AS cos_sim
  FROM embeddings WHERE label = {label}
)
ORDER BY cos_sim DESC, vec_id
LIMIT {k}"""


def q_winsorize() -> str:
    from clusterforge_spark.operators.validation import WINSOR_HI, WINSOR_LO

    return f"""WITH ranked AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS _rn,
         count(*) OVER (PARTITION BY event_type) AS _n
  FROM events
), bounds AS (
  SELECT event_type,
         min(CASE WHEN _rn = CAST(ceil({WINSOR_LO!r} * _n) AS INTEGER)
                  THEN value END) AS lo,
         min(CASE WHEN _rn = CAST(ceil({WINSOR_HI!r} * _n) AS INTEGER)
                  THEN value END) AS hi
  FROM ranked
  WHERE _rn = CAST(ceil({WINSOR_LO!r} * _n) AS INTEGER)
     OR _rn = CAST(ceil({WINSOR_HI!r} * _n) AS INTEGER)
  GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value, b.lo, b.hi,
       least(greatest(e.value, b.lo), b.hi) AS value_winsorized,
       (e.value < b.lo OR e.value > b.hi) AS was_clipped
FROM events e JOIN bounds b USING (event_type)"""


def q_dedup_triangles(n: int = 3, threshold: float = 0.2) -> str:
    """Triangles over the banded-minhash pair set (a < b < c, each once)."""
    pairs = q_dedup_minhash_banded(n=n, threshold=threshold)
    return f"""WITH pairs AS (
{pairs}
)
SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
FROM pairs e1
JOIN pairs e2 ON e1.doc_b = e2.doc_a
JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b"""


def q_dedup_triangle_count(n: int = 3, threshold: float = 0.2) -> str:
    """COUNT over the triangle enumeration — the oracle for the grouped
    closed-form triangle count (operators/dedup.triangle_count_grouped):
    the engine never enumerates the blown-up triples, the oracle does,
    and the counts must agree exactly."""
    return f"""WITH tri AS (
{q_dedup_triangles(n=n, threshold=threshold)}
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM tri"""


def q_pair_degree_stats(n: int = 3, threshold: float = 0.2) -> str:
    """Mirrors operators/dedup.pair_degree_stats over the banded-minhash
    pair set (two keyed count aggregates)."""
    pairs = q_dedup_minhash_banded(n=n, threshold=threshold)
    return f"""WITH pairs AS (
{pairs}
),
deg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
  FROM (
    SELECT doc_a AS doc_id FROM pairs
    UNION ALL
    SELECT doc_b AS doc_id FROM pairs
  )
  GROUP BY doc_id
)
SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
FROM deg GROUP BY degree"""


def q_ewma_per_user() -> str:
    from clusterforge_spark.operators.relational import EWMA_ALPHA

    a = repr(EWMA_ALPHA)
    return f"""WITH ord AS (
  SELECT user_id,
         list(value::DOUBLE ORDER BY ts, event_id) AS vs
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(vs) AS BIGINT) AS n_events,
       round(
         CASE WHEN len(vs) = 1 THEN vs[1]
              ELSE list_reduce(vs, (acc, x) -> acc * (1.0 - {a}) + x * {a})
         END, 6) AS ewma
FROM ord"""


def q_chi_square() -> str:
    """Mirrors operators/validation.chi_square_independence (fixed-order
    fold over sorted cells keeps the double sum bit-stable)."""
    return """WITH cells AS (
  SELECT event_type, CAST(dayofweek(ts::TIMESTAMP) + 1 AS BIGINT) AS dow,
         CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
), rt AS (
  SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1
), ct AS (
  SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1
), n AS (
  SELECT CAST(sum(o) AS BIGINT) AS n FROM cells
), scored AS (
  SELECT c.event_type, c.dow,
         (c.o - rt.rt * ct.ct / n.n) * (c.o - rt.rt * ct.ct / n.n)
           / (rt.rt * ct.ct / n.n) AS term
  FROM cells c JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n
), folded AS (
  SELECT list_reduce(
           list_prepend(0.0, list(term ORDER BY event_type, dow)),
           (acc, x) -> acc + x) AS chi2,
         CAST(count(*) AS BIGINT) AS n_cells,
         CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
         CAST(count(DISTINCT dow) AS BIGINT) AS n_dows
  FROM scored
)
SELECT round(chi2, 4) AS chi2,
       (n_types - 1) * (n_dows - 1) AS dof,
       n_cells
FROM folded"""


def q_session_cooccurrence(gap_minutes: int = 30) -> str:
    gap_us = gap_minutes * 60_000_000
    return f"""WITH g AS (
  SELECT user_id, event_id, ts::TIMESTAMP AS tsu, event_type,
         CASE WHEN epoch_us(ts::TIMESTAMP)
                   - lag(epoch_us(ts::TIMESTAMP)) OVER
                     (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
                   > {gap_us} THEN 1 ELSE 0 END AS is_new
  FROM events
), s AS (
  SELECT user_id, event_type,
         sum(coalesce(is_new, 0)) OVER
           (PARTITION BY user_id ORDER BY tsu, event_id
            ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM g
), sets AS (
  SELECT DISTINCT user_id, session_seq, event_type FROM s
), nsess AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM
    (SELECT DISTINCT user_id, session_seq FROM sets)
), singles AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_sess
  FROM sets GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM sets a JOIN sets b
    ON a.user_id = b.user_id AND a.session_seq = b.session_seq
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab,
       sa.n_sess AS n_a, sb.n_sess AS n_b,
       round(log2(CAST(nsess.n AS DOUBLE) * CAST(p.n_ab AS DOUBLE)
                  / (CAST(sa.n_sess AS DOUBLE) * CAST(sb.n_sess AS DOUBLE))), 6)
         AS pmi
FROM pairs p
JOIN singles sa ON p.type_a = sa.event_type
JOIN singles sb ON p.type_b = sb.event_type
CROSS JOIN nsess"""


def q_group_percentile_bands() -> str:
    from clusterforge_spark.operators.validation import BAND_PS

    hits = " OR ".join(
        f"_rn = CAST(ceil({p!r} * _n) AS INTEGER)" for p in BAND_PS
    )
    sels = ",\n       ".join(
        f"min(CASE WHEN _rn = CAST(ceil({p!r} * _n) AS INTEGER) THEN value END)"
        f" AS p{int(p * 100)}"
        for p in BAND_PS
    )
    return f"""WITH ranked AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS _rn,
         count(*) OVER (PARTITION BY event_type) AS _n
  FROM events
)
SELECT event_type,
       CAST(max(_n) AS BIGINT) AS n,
       {sels}
FROM ranked
WHERE {hits}
GROUP BY event_type"""


def q_kl_by_source() -> str:
    t = _H.tokens_sql("text")
    return f"""WITH ex AS (
  SELECT source, unnest({t}) AS token FROM documents
), st AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS n_st
  FROM ex GROUP BY 1, 2
), s_tot AS (
  SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s FROM st GROUP BY 1
), corpus AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_t FROM ex GROUP BY 1
), n_all AS (
  SELECT CAST(sum(n_t) AS BIGINT) AS n FROM corpus
), terms AS (
  SELECT st.source, st.token,
         (CAST(st.n_st AS DOUBLE) / CAST(s_tot.n_s AS DOUBLE))
           * log2((CAST(st.n_st AS DOUBLE) / CAST(s_tot.n_s AS DOUBLE))
                  / (CAST(c.n_t AS DOUBLE) / CAST(n_all.n AS DOUBLE))) AS term
  FROM st JOIN s_tot USING (source) JOIN corpus c USING (token)
  CROSS JOIN n_all
), folded AS (
  SELECT source,
         list_reduce(list_prepend(0.0, list(term ORDER BY token)),
                     (acc, x) -> acc + x) AS kl,
         CAST(count(*) AS BIGINT) AS n_tokens_distinct
  FROM terms GROUP BY source
)
SELECT source, n_tokens_distinct, round(kl, 6) AS kl_bits FROM folded"""


def q_js_by_source() -> str:
    """Mirrors operators/text.js_divergence_by_source: sources × vocab
    grid, 0.5·p_s·log2(p_s/m) + 0.5·p_c·log2(p_c/m) terms on exact
    integer ratios, token-ordered fold."""
    t = _H.tokens_sql("text")
    return f"""WITH ex AS (
  SELECT source, unnest({t}) AS token FROM documents
), st AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS n_st
  FROM ex GROUP BY 1, 2
), s_tot AS (
  SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s FROM st GROUP BY 1
), corpus AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_t FROM ex GROUP BY 1
), n_all AS (
  SELECT CAST(sum(n_t) AS BIGINT) AS n FROM corpus
), grid AS (
  SELECT s_tot.source, s_tot.n_s, c.token, c.n_t, st.n_st, n_all.n
  FROM s_tot CROSS JOIN corpus c
  LEFT JOIN st ON st.source = s_tot.source AND st.token = c.token
  CROSS JOIN n_all
), terms AS (
  SELECT source, token,
         (CASE WHEN ps > 0 THEN 0.5 * ps * log2(ps / (0.5 * (ps + pc)))
               ELSE 0.0 END)
         + 0.5 * pc * log2(pc / (0.5 * (ps + pc))) AS term
  FROM (
    SELECT source, token,
           CAST(coalesce(n_st, 0) AS DOUBLE) / CAST(n_s AS DOUBLE) AS ps,
           CAST(n_t AS DOUBLE) / CAST(n AS DOUBLE) AS pc
    FROM grid)
), folded AS (
  SELECT source,
         list_reduce(list_prepend(0.0, list(term ORDER BY token)),
                     (acc, x) -> acc + x) AS js,
         CAST(count(*) AS BIGINT) AS n_tokens_grid
  FROM terms GROUP BY source
)
SELECT source, n_tokens_grid, round(js, 6) AS js_bits FROM folded"""


def q_path_pattern(gap_minutes: int = 30) -> str:
    from clusterforge_spark.operators.relational import PATH_PATTERNS

    gap_us = gap_minutes * 60_000_000
    n_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN regexp_matches(path, '{pat}') THEN n_sessions"
        f" ELSE 0 END) AS BIGINT) AS n_{name}"
        for name, pat in PATH_PATTERNS
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS pattern, n_{name} AS n_matched,"
        f" round(CAST(n_{name} AS DOUBLE) / CAST(n_total AS DOUBLE), 4) AS pct"
        f" FROM one"
        for name, _ in PATH_PATTERNS
    )
    return f"""WITH g AS (
  SELECT user_id, event_id, ts::TIMESTAMP AS tsu, event_type,
         CASE WHEN epoch_us(ts::TIMESTAMP)
                   - lag(epoch_us(ts::TIMESTAMP)) OVER
                     (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
                   > {gap_us} THEN 1 ELSE 0 END AS is_new
  FROM events
), s AS (
  SELECT user_id, tsu, event_id, event_type,
         sum(coalesce(is_new, 0)) OVER
           (PARTITION BY user_id ORDER BY tsu, event_id
            ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM g
), p AS (
  SELECT user_id, session_idx,
         string_agg(event_type, '>' ORDER BY tsu, event_id) AS path
  FROM s GROUP BY user_id, session_idx
), pc AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_sessions FROM p GROUP BY path
), one AS (
  SELECT CAST(sum(n_sessions) AS BIGINT) AS n_total,
         {n_cols}
  FROM pc
)
{unions}"""


def q_user_growth() -> str:
    return """WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch_us(ts::TIMESTAMP) / 86400000000) AS BIGINT) AS day
  FROM events
), fd AS (
  SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id
), daily AS (
  SELECT day, CAST(count(*) AS BIGINT) AS active_users FROM ud GROUP BY day
), nd AS (
  SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
  FROM fd GROUP BY first_day
)
SELECT d.day, d.active_users,
       coalesce(nd.new_users, 0) AS new_users,
       d.active_users - coalesce(nd.new_users, 0) AS returning_users,
       CAST(sum(coalesce(nd.new_users, 0)) OVER
            (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
FROM daily d LEFT JOIN nd USING (day)"""


def q_rfm_segments() -> str:
    from clusterforge_spark.operators.features import RFM_SEGMENT_RULES

    seg = "'regular'"
    for label, cond in [r for r in reversed(RFM_SEGMENT_RULES)][1:]:
        seg = f"CASE WHEN {cond} THEN '{label}' ELSE {seg} END"
    return f"""WITH scored AS (
  SELECT user_id, recency, frequency, monetary,
         CAST(ntile(5) OVER (ORDER BY recency DESC, user_id) AS BIGINT) AS r_score,
         CAST(ntile(5) OVER (ORDER BY frequency ASC, user_id) AS BIGINT) AS f_score,
         CAST(ntile(5) OVER (ORDER BY monetary ASC, user_id) AS BIGINT) AS m_score
  FROM ({rfm_cte().split('AS (', 1)[1].rsplit(')', 1)[0]})
)
SELECT user_id, recency, frequency, monetary,
       r_score, f_score, m_score,
       {seg} AS segment
FROM scored"""


def q_skyline_orders() -> str:
    return """WITH s AS (
  SELECT o_orderkey,
         epoch_us(o_orderdate) AS o_orderdate_us,
         o_totalprice,
         max(o_totalprice) OVER (
           ORDER BY o_orderdate DESC, o_totalprice DESC, o_orderkey ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS best_newer
  FROM orders
)
SELECT o_orderkey, o_orderdate_us, o_totalprice
FROM s
WHERE best_newer IS NULL OR o_totalprice > best_newer"""


def q_nb_confusion() -> str:
    nb = q_nb_classify()
    return f"""WITH nb AS (
{nb}
), cells AS (
  SELECT true_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
  FROM nb GROUP BY 1, 2
)
SELECT true_lang, predicted_lang, n,
       round(CASE WHEN true_lang = predicted_lang
             THEN CAST(n AS DOUBLE)
                  / CAST(sum(n) OVER (PARTITION BY true_lang) AS DOUBLE)
             END, 4) AS recall,
       round(CASE WHEN true_lang = predicted_lang
             THEN CAST(n AS DOUBLE)
                  / CAST(sum(n) OVER (PARTITION BY predicted_lang) AS DOUBLE)
             END, 4) AS precision
FROM cells"""


def q_ab_test(gap_minutes: int = 30) -> str:
    gap_us = gap_minutes * 60_000_000
    return f"""WITH g AS (
  SELECT user_id, event_id, ts::TIMESTAMP AS tsu, event_type,
         CASE WHEN epoch_us(ts::TIMESTAMP)
                   - lag(epoch_us(ts::TIMESTAMP)) OVER
                     (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
                   > {gap_us} THEN 1 ELSE 0 END AS is_new
  FROM events
), s AS (
  SELECT user_id, event_type,
         sum(coalesce(is_new, 0)) OVER
           (PARTITION BY user_id ORDER BY tsu, event_id
            ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM g
), per_session AS (
  SELECT user_id, session_seq,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS converted
  FROM s GROUP BY user_id, session_seq
), counts AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(converted) AS BIGINT) AS conv
  FROM per_session GROUP BY 1
), one AS (
  SELECT
    max(CASE WHEN arm = 'A' THEN n END) AS n_a,
    max(CASE WHEN arm = 'A' THEN conv END) AS conv_a,
    max(CASE WHEN arm = 'B' THEN n END) AS n_b,
    max(CASE WHEN arm = 'B' THEN conv END) AS conv_b
  FROM counts
)
SELECT n_a, conv_a, n_b, conv_b,
       round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 4) AS rate_a,
       round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 4) AS rate_b,
       round((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                    * (1 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                    * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 4)
         AS z_stat
FROM one"""


def q_cohort_ltv() -> str:
    from clusterforge_spark.operators.relational import WEEK_US

    return f"""WITH d AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, value,
         min(epoch_us(ts::TIMESTAMP)) OVER (PARTITION BY user_id) AS first_us
  FROM events
), cell AS (
  SELECT CAST(first_us // {WEEK_US} AS BIGINT) AS cohort_week,
         CAST(us // {WEEK_US} - first_us // {WEEK_US} AS BIGINT) AS week_offset,
         sum(value::DECIMAL(18,2)) AS week_value
  FROM d GROUP BY 1, 2
)
SELECT cohort_week, week_offset,
       CAST(week_value AS DOUBLE) AS week_value,
       CAST(sum(week_value) OVER (
         PARTITION BY cohort_week ORDER BY week_offset
         ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_value
FROM cell"""


def q_order_reconciliation() -> str:
    # exact integer ten-thousandths of a dollar, mirroring the Spark
    # side's cents arithmetic (HUGEINT sums ≡ decimal(38,0) sums)
    return """WITH lt AS (
  SELECT l_orderkey,
         sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                  * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                  AS HUGEINT)) AS line_net_e4
  FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderkey, o_totalprice,
       CAST(coalesce(line_net_e4, 0) AS DOUBLE) / 10000.0 AS line_net,
       CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * CAST(100 AS HUGEINT)
            - coalesce(line_net_e4, 0) AS DOUBLE) / 10000.0 AS delta
FROM orders LEFT JOIN lt ON o_orderkey = l_orderkey
WHERE CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * CAST(100 AS HUGEINT)
           - coalesce(line_net_e4, 0) AS DOUBLE) / 10000.0 != 0.0"""


def q_vocabulary_growth() -> str:
    t = _H.tokens_sql("text")
    return f"""WITH ex AS (
  SELECT doc_id, unnest({t}) AS token FROM documents
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM ex GROUP BY doc_id
), firsts AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS new_vocab FROM (
    SELECT token, min(doc_id) AS doc_id FROM ex GROUP BY token
  ) GROUP BY doc_id
)
SELECT p.doc_id, p.n_tokens,
       coalesce(f.new_vocab, 0) AS new_vocab,
       CAST(sum(p.n_tokens) OVER (ORDER BY p.doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       CAST(sum(coalesce(f.new_vocab, 0)) OVER (ORDER BY p.doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
FROM per_doc p LEFT JOIN firsts f USING (doc_id)"""


def q_embedding_dim_stats() -> str:
    return """WITH ex AS (
  SELECT unnest(range(len(embedding))) AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
           AS v_micro
  FROM embeddings
), agg AS (
  SELECT CAST(dim AS BIGINT) AS dim,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v_micro) AS BIGINT) AS sum_micro,
         CAST(min(v_micro) AS BIGINT) AS min_micro,
         CAST(max(v_micro) AS BIGINT) AS max_micro
  FROM ex GROUP BY dim
)
SELECT dim, n,
       round(CAST(sum_micro AS DOUBLE) / 1e6 / CAST(n AS DOUBLE), 6) AS mean_v,
       CAST(min_micro AS DOUBLE) / 1e6 AS min_v,
       CAST(max_micro AS DOUBLE) / 1e6 AS max_v,
       (abs(min_micro) < 1000 AND abs(max_micro) < 1000) AS is_dead
FROM agg"""


def q_component_size_stats(n: int = 3, threshold: float = 0.2) -> str:
    comps = q_dedup_components(n=n, threshold=threshold)
    return f"""WITH comps AS (
{comps}
), sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS size
  FROM comps GROUP BY component
)
SELECT size, CAST(count(*) AS BIGINT) AS n_components,
       CAST((size - 1) * count(*) AS BIGINT) AS docs_removed_if_deduped
FROM sizes GROUP BY size"""


def q_order_backlog() -> str:
    from clusterforge_spark.operators.relational import WEEK_US

    return f"""WITH weekly AS (
  SELECT CAST(epoch_us(o_orderdate::TIMESTAMP) // {WEEK_US} AS BIGINT) AS week,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_filled
  FROM orders GROUP BY 1
)
SELECT week, n_orders, n_filled,
       CAST(sum(n_orders) OVER (ORDER BY week ROWS UNBOUNDED PRECEDING)
            - sum(n_filled) OVER (ORDER BY week ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS open_backlog
FROM weekly"""


def q_zipf_slope(k: int = 100) -> str:
    t = _H.tokens_sql("text")
    ml = "CAST(floor(log2(CAST({c} AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"
    return f"""WITH vocab AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT unnest({t}) AS token FROM documents
  ) GROUP BY token
), ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM vocab
  QUALIFY rank <= {k}
), pts AS (
  SELECT {ml.format(c="rank")} AS x, {ml.format(c="n")} AS y FROM ranked
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM pts
)
SELECT cnt AS k,
       round((CAST(cnt AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e12)
              - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
             / (CAST(cnt AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e12)
                - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6)), 6)
         AS slope,
       round(((CAST(sy AS DOUBLE) / 1e6)
              - ((CAST(cnt AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e12)
                  - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
                 / (CAST(cnt AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e12)
                    - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6)))
                * (CAST(sx AS DOUBLE) / 1e6))
             / CAST(cnt AS DOUBLE), 6) AS intercept
FROM s"""


def q_dup_rate_by_source(n: int = 3, threshold: float = 0.2) -> str:
    comps = q_dedup_components(n=n, threshold=threshold)
    dup = dup_corpus_cte()
    return f"""WITH comps AS (
{comps}
), {dup}
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN c.component IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_dup_cluster,
       round(CAST(sum(CASE WHEN c.component IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS dup_rate
FROM dup_corpus d LEFT JOIN comps c USING (doc_id)
GROUP BY d.source"""


def q_chunk_sliding(chunk_size: int = 200, overlap: int = 50) -> str:
    stride = chunk_size - overlap
    return f"""SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_idx,
       CAST(i * {stride} AS BIGINT) AS chunk_start,
       substr(text, CAST(i * {stride} + 1 AS INT), {chunk_size}) AS chunk_text,
       CAST(length(substr(text, CAST(i * {stride} + 1 AS INT), {chunk_size}))
            AS BIGINT) AS chunk_len
FROM (
  SELECT doc_id, text,
         unnest(generate_series(0,
           CAST(floor((length(text) - 1) / {stride}) AS BIGINT))) AS i
  FROM documents WHERE length(text) > 0
)"""


def q_cross_source_contamination(n: int = 5) -> str:
    toks = _H.tokens_sql("text")
    sh = _H.shingles_sql("text", n=n)
    return f"""WITH sh AS (
  SELECT DISTINCT source, s AS sh
  FROM (SELECT source,
               unnest(list_distinct(list_transform({sh},
                 x -> ('0x' || substr(md5(x), 1, 15))::BIGINT))) AS s
        FROM (SELECT source, {toks} AS t FROM documents))
),
sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY source
),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b,
       sa.n_sh AS n_shingles_a, sb.n_sh AS n_shingles_b, i.n_shared,
       round(CAST(i.n_shared AS DOUBLE)
             / CAST(sa.n_sh + sb.n_sh - i.n_shared AS DOUBLE), 6)
         AS shingle_jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b"""


def q_minhash_estimate_error(n: int = 3) -> str:
    toks = _H.tokens_sql("text")
    shingles = _H.shingles_sql("text", n=n)
    sig = _H.minhash_signature_sql("sh")
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, {_H.band_key_sql('sig', b)} AS key FROM sig"
        for b in range(_H.MINHASH_BANDS)
    )
    k = _H.MINHASH_K
    return (
        _chain(dup_corpus_cte())
        + f""",
sh AS (
  SELECT doc_id,
         list_distinct(list_transform({shingles},
           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS sh
  FROM (SELECT doc_id, {toks} AS t FROM dup_corpus)
  WHERE len({shingles}) > 0
),
sig AS (
  SELECT doc_id, {sig} AS sig FROM sh
),
banded AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(len(list_filter(
              list_zip(ga.sig, gb.sig), z -> z[1] = z[2])) AS BIGINT)
         AS n_matching_components,
       round(CAST(len(list_filter(
               list_zip(ga.sig, gb.sig), z -> z[1] = z[2])) AS DOUBLE)
             / {k}.0, 6) AS est_jaccard,
       round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6)
         AS exact_jaccard,
       round(abs(CAST(len(list_filter(
                   list_zip(ga.sig, gb.sig), z -> z[1] = z[2])) AS DOUBLE)
                 / {k}.0
                 - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                   / (len(sa.sh) + len(sb.sh)
                      - len(list_intersect(sa.sh, sb.sh)))), 6) AS abs_err
FROM cand
JOIN sh sa ON sa.doc_id = cand.doc_a
JOIN sh sb ON sb.doc_id = cand.doc_b
JOIN sig ga ON ga.doc_id = cand.doc_a
JOIN sig gb ON gb.doc_id = cand.doc_b"""
    )


def q_source_mixing_weights() -> str:
    toks = _H.tokens_sql("text")
    return f"""WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(t)) AS BIGINT) AS n_tokens
  FROM (SELECT source, {toks} AS t FROM documents)
  GROUP BY source
),
tot AS (
  SELECT sum(n_tokens) AS tot_tokens,
         CAST(count(*) AS DOUBLE) AS n_sources
  FROM per
)
SELECT source, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE), 6)
         AS token_share,
       round((1.0 / n_sources)
             / (CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)), 6)
         AS mix_weight
FROM per, tot"""


def q_quality_funnel() -> str:
    from clusterforge_spark.operators.text import (
        CONTAM_BENCH_MOD,
        FUNNEL_DUP3_MAX,
        FUNNEL_QUALITY_MIN,
        FUNNEL_TOP2_MAX,
    )

    quality = q_quality_score()
    repetition = q_repetition_stats()
    contamination = q_contamination()
    return f"""WITH qy AS (
  SELECT doc_id, quality FROM ({quality})
), rp AS (
  SELECT doc_id, top_2gram_frac, dup_3gram_frac FROM ({repetition})
), ct AS (
  SELECT doc_id, is_contaminated FROM ({contamination})
), fl AS (
  SELECT (d.lang = 'en') AS f1,
         (d.doc_id % {CONTAM_BENCH_MOD} != 0) AS f2,
         (qy.quality >= {flit(FUNNEL_QUALITY_MIN)}) AS f3,
         (rp.top_2gram_frac <= {flit(FUNNEL_TOP2_MAX)}
          AND rp.dup_3gram_frac <= {flit(FUNNEL_DUP3_MAX)}) AS f4,
         (NOT coalesce(ct.is_contaminated, false)) AS f5
  FROM documents d
  JOIN qy USING (doc_id)
  JOIN rp USING (doc_id)
  LEFT JOIN ct USING (doc_id)
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
         CAST(sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
         CAST(sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS k3,
         CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS k4,
         CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 AND f5 THEN 1 ELSE 0 END) AS BIGINT) AS k5
  FROM fl
)
SELECT CAST(1 AS BIGINT) AS gate_idx, 'lang_en' AS gate, n0 AS n_in, k1 AS n_kept, n0 - k1 AS n_dropped FROM s
UNION ALL
SELECT CAST(2 AS BIGINT), 'not_benchmark', k1, k2, k1 - k2 FROM s
UNION ALL
SELECT CAST(3 AS BIGINT), 'quality', k2, k3, k2 - k3 FROM s
UNION ALL
SELECT CAST(4 AS BIGINT), 'repetition', k3, k4, k3 - k4 FROM s
UNION ALL
SELECT CAST(5 AS BIGINT), 'decontaminated', k4, k5, k4 - k5 FROM s"""


def q_pagerank(damping: float = 0.85, iters: int = 3) -> str:
    """Fixed-iteration PageRank over the banded near-dup pair graph:
    each iteration is one chained CTE (join + grouped sum + damped
    update) — mirrors operators/dedup.pagerank exactly."""
    inner = q_dedup_minhash_banded()
    d = flit(damping)
    sql = f"""WITH pairs AS (
{inner}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
verts AS (
  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
),
nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM verts),
pr0 AS (
  SELECT src AS doc_id, outdeg, n, 1.0 / CAST(n AS DOUBLE) AS rank
  FROM verts CROSS JOIN nv
)"""
    prev = "pr0"
    for i in range(1, iters + 1):
        sql += f""",
c{i} AS (
  SELECT e.dst, sum(p.rank / CAST(p.outdeg AS DOUBLE)) AS inflow
  FROM {prev} p JOIN edges e ON p.doc_id = e.src
  GROUP BY e.dst
),
pr{i} AS (
  SELECT v.src AS doc_id, v.outdeg, nv.n,
         (1.0 - {d}) / CAST(nv.n AS DOUBLE)
         + {d} * coalesce(c.inflow, 0.0) AS rank
  FROM verts v CROSS JOIN nv
  LEFT JOIN c{i} c ON v.src = c.dst
)"""
        prev = f"pr{i}"
    sql += f"""
SELECT doc_id, round(rank, 6) AS pagerank FROM {prev}"""
    return sql


def q_dedup_incremental(n: int = 3, threshold: float = 0.2) -> str:
    """Batch-vs-index incremental dedup — mirrors
    operators/dedup.dedup_incremental (INCR_BATCH_MOD split, exact-hash
    semi probe, asymmetric banded-minhash probe)."""
    from clusterforge_spark.operators.dedup import INCR_BATCH_MOD as MOD

    toks = _H.tokens_sql("text")
    shingles = _H.shingles_sql("text", n=n)
    sig = _H.minhash_signature_sql("sh")
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, {_H.band_key_sql('sig', b)} AS key FROM sig"
        for b in range(_H.MINHASH_BANDS)
    )
    return (
        _chain(dup_corpus_cte())
        + f""",
batch AS (SELECT * FROM dup_corpus WHERE doc_id % {MOD} = 0),
idx   AS (SELECT * FROM dup_corpus WHERE doc_id % {MOD} <> 0),
exact AS (
  SELECT DISTINCT b.doc_id
  FROM batch b JOIN idx i ON md5(lower(b.text)) = md5(lower(i.text))
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform({shingles},
           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS sh
  FROM (SELECT doc_id, {toks} AS t FROM dup_corpus)
  WHERE len({shingles}) > 0
),
sig AS (
  SELECT doc_id, {sig} AS sig FROM sh
),
banded AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id, b.doc_id AS idx_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id % {MOD} = 0 AND b.doc_id % {MOD} <> 0
),
near AS (
  SELECT DISTINCT cand.doc_id
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.doc_id
  JOIN sh sb ON sb.doc_id = cand.idx_id
  WHERE round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6)
        >= {flit(threshold)}
)
SELECT b.doc_id, b.source,
       (e.doc_id IS NOT NULL) AS exact_dup,
       (nr.doc_id IS NOT NULL) AS near_dup,
       CASE WHEN e.doc_id IS NOT NULL THEN 'drop_exact'
            WHEN nr.doc_id IS NOT NULL THEN 'drop_near'
            ELSE 'keep' END AS decision
FROM batch b
LEFT JOIN exact e ON b.doc_id = e.doc_id
LEFT JOIN near nr ON b.doc_id = nr.doc_id"""
    )


def q_split_leakage() -> str:
    """Cross-split near-dup pair audit — mirrors
    operators/dedup.split_leakage over the banded pair set and the
    md5 hash split (packing.hash_split applied to the dup corpus)."""
    from clusterforge_spark.operators.packing import TRAIN_PCT

    inner = q_dedup_minhash_banded()
    split = (
        f"CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT "
        f"% 100 < {TRAIN_PCT} THEN 'train' ELSE 'val' END"
    )
    return f"""WITH pairs AS (
{inner}
),
splits AS (
  SELECT doc_id, {split} AS split
  FROM (SELECT doc_id FROM documents
        UNION ALL SELECT doc_id + {EXACT_DUP_OFFSET} FROM documents WHERE doc_id < 100
        UNION ALL SELECT doc_id + {NEAR_DUP_OFFSET} FROM documents WHERE doc_id < 50)
),
crossed AS (
  SELECT p.jaccard,
         least(sa.split, sb.split) AS split_lo,
         greatest(sa.split, sb.split) AS split_hi
  FROM pairs p
  JOIN splits sa ON p.doc_a = sa.doc_id
  JOIN splits sb ON p.doc_b = sb.doc_id
  WHERE sa.split <> sb.split
)
SELECT split_lo, split_hi,
       CAST(count(*) AS BIGINT) AS n_leaking_pairs,
       round(max(jaccard), 6) AS max_jaccard,
       round(CAST(sum(CAST(floor(jaccard * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
             / (CAST(count(*) AS DOUBLE) * 1e6), 6) AS mean_jaccard
FROM crossed
GROUP BY split_lo, split_hi"""


def q_boilerplate_prefix(prefix_len: int = 48, min_docs: int = 2) -> str:
    return (
        _chain(dup_corpus_cte())
        + f"""
SELECT lower(substr(text, 1, {prefix_len})) AS prefix,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       min(doc_id) AS exemplar_id
FROM dup_corpus
GROUP BY 1
HAVING count(*) >= {min_docs}"""
    )


def q_tpch_promo_revenue() -> str:
    rev = _REV_E4
    return f"""SELECT CAST(year(l_shipdate::TIMESTAMP) * 100 + month(l_shipdate::TIMESTAMP) AS BIGINT) AS ship_month,
       round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN {rev} ELSE 0 END) AS DOUBLE)
             / CAST(sum({rev}) AS DOUBLE), 4) AS promo_pct,
       round(CAST(sum({rev}) AS DOUBLE) / 10000.0, 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1"""


def q_tpch_brand_volume() -> str:
    from clusterforge_spark.operators.relational import TPCH_BRAND_BANDS

    rev = _REV_E4
    band_case = "CASE " + " ".join(
        f"WHEN p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi} "
        f"AND l_quantity BETWEEN {flit(qlo)} AND {flit(qhi)} THEN '{b}'"
        for b, slo, shi, qlo, qhi in TPCH_BRAND_BANDS
    ) + " END"
    return f"""WITH j AS (
  SELECT {band_case} AS band, {rev} AS rev_e4
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT band,
       round(CAST(sum(rev_e4) AS DOUBLE) / 10000.0, 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM j WHERE band IS NOT NULL
GROUP BY band"""
    


def q_quantile_sketch() -> str:
    """Histogram-quantile estimate vs exact discrete percentile —
    mirrors operators/sketches.quantile_histogram_estimate."""
    from clusterforge_spark.operators.sketches import QH_PCTS, QH_WIDTH_CENTS

    w = QH_WIDTH_CENTS
    plist = ", ".join(str(p) for p in QH_PCTS)
    return f"""WITH cents AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
),
vhist AS (SELECT c, count(*) AS cnt FROM cents GROUP BY c),
nrow AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vhist),
vcum AS (
  SELECT c, sum(cnt) OVER (ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM vhist
),
bhist AS (
  SELECT CAST(floor(c / {w}) AS BIGINT) AS b, sum(cnt) AS bcnt
  FROM vhist GROUP BY 1
),
bcum AS (
  SELECT b, sum(bcnt) OVER (ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM bhist
),
targets AS (
  SELECT pct, n, (pct * n + 99) // 100 AS target
  FROM (SELECT unnest([{plist}]) AS pct), nrow
),
ex AS (
  SELECT pct, n, min(c) AS exact_c
  FROM targets JOIN vcum ON cum >= target GROUP BY pct, n
),
es AS (
  SELECT pct, min(b) AS est_b
  FROM targets JOIN bcum ON cum >= target GROUP BY pct
)
SELECT CAST(ex.pct AS BIGINT) AS pct, CAST(ex.n AS BIGINT) AS n,
       CAST((es.est_b + 1) * {w} AS DOUBLE) / 100.0 AS est_hi,
       CAST(ex.exact_c AS DOUBLE) / 100.0 AS exact,
       (CAST((es.est_b + 1) * {w} AS DOUBLE) - CAST(ex.exact_c AS DOUBLE)) / 100.0 AS abs_err
FROM ex JOIN es ON ex.pct = es.pct"""


def q_record_linkage() -> str:
    """Blocked Fellegi-Sunter linkage over the planted dirty copies —
    mirrors operators/validation.record_linkage."""
    from clusterforge_spark.operators.validation import (
        LINK_BAL_DRIFT_CENTS,
        LINK_DIRTY_MOD,
        LINK_DIRTY_OFFSET,
        LINK_MATCH_MIN,
        LINK_POSSIBLE_MIN,
        LINK_W_BAL,
        LINK_W_NAME_EXACT,
        LINK_W_NAME_PREFIX,
        LINK_W_SEGMENT,
    )

    return f"""WITH corpus AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
  UNION ALL
  SELECT c_custkey + {LINK_DIRTY_OFFSET},
         replace(upper(c_name), ' ', '  '),
         c_nationkey,
         c_acctbal + CASE WHEN c_custkey % {3 * LINK_DIRTY_MOD} = 0
                          THEN 77.77 ELSE {LINK_BAL_DRIFT_CENTS} / 100.0 END,
         c_mktsegment
  FROM customer WHERE c_custkey % {LINK_DIRTY_MOD} = 0
),
prepped AS (
  SELECT c_custkey,
         regexp_replace(lower(trim(c_name)), ' +', ' ', 'g') AS name_norm,
         c_nationkey,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c,
         c_mktsegment,
         right(regexp_replace(lower(trim(c_name)), ' +', ' ', 'g'), 8) AS blk
  FROM corpus
),
cand AS (
  SELECT d.c_custkey AS dirty_id, c.c_custkey AS clean_id,
         (CASE WHEN d.name_norm = c.name_norm THEN {LINK_W_NAME_EXACT}
               WHEN substr(d.name_norm, 1, 8) = substr(c.name_norm, 1, 8)
                 THEN {LINK_W_NAME_PREFIX} ELSE 0 END
          + CASE WHEN abs(d.bal_c - c.bal_c) <= {LINK_BAL_DRIFT_CENTS + 13}
                 THEN {LINK_W_BAL} ELSE 0 END
          + CASE WHEN d.c_mktsegment = c.c_mktsegment
                 THEN {LINK_W_SEGMENT} ELSE 0 END) AS score
  FROM (SELECT * FROM prepped WHERE c_custkey >= {LINK_DIRTY_OFFSET}) d
  JOIN (SELECT * FROM prepped WHERE c_custkey < {LINK_DIRTY_OFFSET}) c
    ON d.c_nationkey = c.c_nationkey AND d.blk = c.blk
)
SELECT dirty_id, clean_id, CAST(score AS BIGINT) AS score,
       CASE WHEN score >= {LINK_MATCH_MIN} THEN 'match' ELSE 'possible' END AS tier
FROM cand WHERE score >= {LINK_POSSIBLE_MIN}"""


def q_key_skew_profile(key: str = "l_partkey") -> str:
    """Join-key skew summary — mirrors operators/validation.key_skew_profile."""
    return f"""WITH per_key AS (
  SELECT coalesce({key}, -1) AS k, count(*) AS cnt
  FROM lineitem GROUP BY 1
),
chist AS (SELECT cnt, count(*) AS nk FROM per_key GROUP BY cnt),
summary AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(cnt) AS BIGINT) AS max_cnt
  FROM per_key
),
heavy AS (
  SELECT k AS heavy_key FROM per_key ORDER BY cnt DESC, k ASC LIMIT 1
),
ccum AS (
  SELECT cnt, sum(nk) OVER (ORDER BY cnt
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM chist
),
p99 AS (
  SELECT CAST(min(cnt) AS BIGINT) AS p99_cnt
  FROM ccum, summary WHERE cum >= (99 * n_keys + 99) // 100
)
SELECT s.n_rows, s.n_keys, s.max_cnt, h.heavy_key,
       round(CAST(s.n_rows AS DOUBLE) / CAST(s.n_keys AS DOUBLE), 4) AS mean_cnt,
       p.p99_cnt,
       round(CAST(s.max_cnt AS DOUBLE) * CAST(s.n_keys AS DOUBLE)
             / CAST(s.n_rows AS DOUBLE), 4) AS skew_ratio
FROM summary s, heavy h, p99 p"""


def q_tpch_waiting_suppliers() -> str:
    """Q21-shape: per-order decorrelated aggregate, same math as
    operators/relational.tpch_waiting_suppliers."""
    from clusterforge_spark.operators.relational import Q21_LATE_DAYS, Q21_TOPK

    late = Q21_LATE_DAYS * 86400
    return f"""WITH j AS (
  SELECT l_orderkey, l_suppkey,
         (epoch(l_shipdate::TIMESTAMP) - epoch(o_orderdate::TIMESTAMP) > {late}) AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supp,
         min(CASE WHEN is_late THEN l_suppkey END) AS late_supp
  FROM j GROUP BY l_orderkey
),
counts AS (
  SELECT late_supp AS s_suppkey, CAST(count(*) AS BIGINT) AS numwait
  FROM per_order WHERE n_supp >= 2 AND n_late_supp = 1
  GROUP BY late_supp
)
SELECT c.s_suppkey, s.s_name, c.numwait
FROM counts c JOIN supplier s ON c.s_suppkey = s.s_suppkey
ORDER BY c.numwait DESC, c.s_suppkey ASC
LIMIT {Q21_TOPK}"""


def q_cdc_chunk_dedup() -> str:
    """Content-defined chunk dedup — mirrors operators/dedup.cdc_chunk_dedup
    (same boundary hash, same per-doc window, same chunk hashing)."""
    from clusterforge_spark.operators.dedup import CDC_MOD

    toks = _H.tokens_sql("text")
    return (
        _chain(dup_corpus_cte())
        + f""",
toked AS (
  SELECT doc_id, {toks} AS t FROM dup_corpus
),
pos AS (
  SELECT doc_id,
         unnest(t) AS token,
         generate_subscripts(t, 1) - 1 AS pos
  FROM toked WHERE len(t) > 0
),
seg AS (
  SELECT doc_id, pos, token,
         sum(CASE WHEN ('0x' || substr(md5(token), 1, 15))::BIGINT % {CDC_MOD} = 0
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id
  FROM pos
),
chunks AS (
  SELECT doc_id, chunk_id,
         md5(string_agg(token, ' ' ORDER BY pos)) AS h,
         CAST(count(*) AS BIGINT) AS n_tokens
  FROM seg GROUP BY doc_id, chunk_id
),
freq AS (SELECT h, count(*) AS n_occ FROM chunks GROUP BY h)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       round(CAST(sum(CASE WHEN f.n_occ > 1 THEN c.n_tokens ELSE 0 END) AS DOUBLE)
             / CAST(sum(c.n_tokens) AS DOUBLE), 6) AS dup_token_frac
FROM chunks c JOIN freq f ON c.h = f.h
GROUP BY c.doc_id"""
    )


def q_multimodal_audio() -> str:
    from clusterforge_spark.operators.multimodal import AUDIO_HOP, AUDIO_WIN

    win, hop = AUDIO_WIN, AUDIO_HOP
    return f"""WITH base AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         CAST([8000, 16000, 44100][CAST(doc_id % 3 AS INT) + 1] AS BIGINT) AS sample_rate,
         CAST(1 + doc_id % 2 AS BIGINT) AS channels
  FROM documents
),
s AS (
  SELECT *, n_bytes // (2 * channels) AS n_samples FROM base
)
SELECT doc_id, sample_rate, channels,
       CAST(w AS BIGINT) AS win_idx,
       CAST(w * {hop} AS BIGINT) AS sample_start,
       CAST(w * {hop} * 2 * channels AS BIGINT) AS byte_start,
       CAST({win * 2} AS BIGINT) AS byte_len_per_channel
FROM s, unnest(range(0, (n_samples - {win}) // {hop} + 1)) AS t(w)
WHERE n_samples >= {win}"""


def q_kfold_split(k: int = 5) -> str:
    return f"""SELECT doc_id, source,
       ('0x' || substr(md5('fold|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % {k} AS fold,
       (('0x' || substr(md5('fold|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % {k}) <> 0 AS in_train_fold0
FROM documents"""


# --------------------------------------------------------------------------
# TPC-H shapes Q4 / Q7 / Q8 / Q9 / Q10 / Q13 / Q15 / Q17 / Q22
# --------------------------------------------------------------------------

_REV_E4 = (
    "CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * "
    "(100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS HUGEINT)"
)


def q_tpch_priority_check() -> str:
    from clusterforge_spark.operators.relational import Q4_LATE_DAYS, Q4_WINDOW

    lo, hi = Q4_WINDOW
    us = Q4_LATE_DAYS * 86400 * 1000000
    return f"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '{lo}' AND o_orderdate < TIMESTAMP '{hi}'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND epoch_us(l.l_shipdate::TIMESTAMP) > epoch_us(o.o_orderdate::TIMESTAMP) + {us})
GROUP BY o_orderpriority"""


def q_tpch_shipmode_priority() -> str:
    """Mirrors operators/relational.tpch_shipmode_priority: the derived
    shipmode/commit/receipt columns are identical integer arithmetic on
    the same keys (public TPC-H Q12 adapted onto the observed schema)."""
    from clusterforge_spark.operators.relational import (
        Q12_HIGH,
        Q12_MODES,
        Q12_RECEIPT_DAYS,
        Q12_TARGET_MODES,
    )

    d_lo, d_hi = Q12_RECEIPT_DAYS
    modes = "[" + ", ".join(f"'{m}'" for m in Q12_MODES) + "]"
    targets = ", ".join(f"'{m}'" for m in Q12_TARGET_MODES)
    high = ", ".join(f"'{p}'" for p in Q12_HIGH)
    return f"""WITH l AS (
  SELECT l_orderkey,
         {modes}[CAST((31 * l_orderkey + l_linenumber) % 7 AS INT) + 1] AS l_shipmode,
         CAST(epoch_us(l_shipdate::TIMESTAMP) // 86400000000 AS BIGINT) AS sd,
         (l_orderkey + 3 * l_linenumber) % 60 - 30 AS clag,
         (5 * l_orderkey + 7 * l_linenumber) % 90 - 30 AS rlag
  FROM lineitem
), late AS (
  SELECT l_orderkey, l_shipmode
  FROM l
  WHERE l_shipmode IN ({targets})
    AND sd + clag < sd + rlag
    AND sd < sd + clag
    AND sd + rlag >= {d_lo} AND sd + rlag < {d_hi}
)
SELECT l_shipmode,
       CAST(sum(CASE WHEN o_orderpriority IN ({high}) THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ({high}) THEN 0 ELSE 1 END) AS BIGINT)
         AS low_line_count
FROM late JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_shipmode"""


def q_tpch_volume_shipping() -> str:
    from clusterforge_spark.operators.relational import Q7_NATIONS, Q7_SHIP_WINDOW

    lo, hi = Q7_SHIP_WINDOW
    nats = ", ".join(f"'{n}'" for n in Q7_NATIONS)
    return f"""SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l_shipdate::TIMESTAMP) AS BIGINT) AS l_year,
       round(CAST(sum({_REV_E4}) AS DOUBLE) / 10000.0, 2) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey AND ns.n_name IN ({nats})
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey AND nc.n_name IN ({nats})
WHERE l_shipdate >= TIMESTAMP '{lo}' AND l_shipdate < TIMESTAMP '{hi}'
  AND ns.n_name <> nc.n_name
GROUP BY 1, 2, 3"""


def q_tpch_market_share() -> str:
    from clusterforge_spark.operators.relational import (
        Q8_NATION,
        Q8_ORDER_WINDOW,
        Q8_REGION,
        Q8_TYPE,
    )

    lo, hi = Q8_ORDER_WINDOW
    return f"""WITH j AS (
  SELECT CAST(year(o_orderdate::TIMESTAMP) AS BIGINT) AS o_year,
         ns.n_name AS supp_nation, {_REV_E4} AS rev_e4
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = '{Q8_TYPE}'
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  WHERE o_orderdate >= TIMESTAMP '{lo}' AND o_orderdate < TIMESTAMP '{hi}'
    AND EXISTS (SELECT 1 FROM customer c
                JOIN nation nc ON c.c_nationkey = nc.n_nationkey
                JOIN region r ON nc.n_regionkey = r.r_regionkey
                WHERE c.c_custkey = orders.o_custkey AND r.r_name = '{Q8_REGION}')
)
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = '{Q8_NATION}' THEN rev_e4 ELSE 0 END) AS DOUBLE)
             / CAST(sum(rev_e4) AS DOUBLE), 6) AS mkt_share,
       round(CAST(sum(rev_e4) AS DOUBLE) / 10000.0, 2) AS total_revenue
FROM j GROUP BY o_year"""


def q_tpch_product_profit() -> str:
    profit = (
        f"({_REV_E4}) - CAST(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) * "
        "CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS HUGEINT)"
    )
    return f"""SELECT n_name AS supp_nation,
       CAST(year(o_orderdate::TIMESTAMP) AS BIGINT) AS o_year,
       round(CAST(sum({profit}) AS DOUBLE) / 10000.0, 2) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2"""


def q_tpch_returned_items() -> str:
    from clusterforge_spark.operators.relational import Q10_TOPK, Q10_WINDOW

    lo, hi = Q10_WINDOW
    return f"""SELECT c_custkey, c_name,
       round(CAST(sum({_REV_E4}) AS DOUBLE) / 10000.0, 2) AS revenue,
       c_acctbal, n_name
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '{lo}' AND o_orderdate < TIMESTAMP '{hi}'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT {Q10_TOPK}"""


def q_tpch_customer_distribution() -> str:
    from clusterforge_spark.operators.relational import Q13_EXCLUDE_PRIORITY

    return f"""WITH per_cust AS (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '{Q13_EXCLUDE_PRIORITY}'
  GROUP BY c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count"""


def q_tpch_top_supplier() -> str:
    from clusterforge_spark.operators.relational import Q15_WINDOW

    lo, hi = Q15_WINDOW
    return f"""WITH rev AS (
  SELECT l_suppkey, sum({_REV_E4}) AS total_e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{lo}' AND l_shipdate < TIMESTAMP '{hi}'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       round(CAST(total_e4 AS DOUBLE) / 10000.0, 2) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_e4 = (SELECT max(total_e4) FROM rev)"""


def q_tpch_small_qty_revenue() -> str:
    from clusterforge_spark.operators.relational import Q17_BRAND, Q17_QTY_FRACTION

    return f"""WITH li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = '{Q17_BRAND}'
), avg_qty AS (
  SELECT l_partkey AS a_partkey, avg(l_quantity) AS avg_qty FROM li GROUP BY 1
)
SELECT round(CAST(sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS HUGEINT)) AS DOUBLE)
             / 100.0 / 7.0, 2) AS avg_yearly
FROM li JOIN avg_qty ON l_partkey = a_partkey
WHERE l_quantity < {flit(Q17_QTY_FRACTION)} * avg_qty"""


def q_tpch_sales_opportunity() -> str:
    from clusterforge_spark.operators.relational import Q22_LAPSE_DATE, Q22_NATIONKEYS

    keys = ", ".join(str(k) for k in Q22_NATIONKEYS)
    return f"""WITH cust AS (
  SELECT c_custkey, c_nationkey,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_e2
  FROM customer WHERE c_nationkey IN ({keys})
), avg_bal AS (
  SELECT CAST(sum(CAST(bal_e2 AS HUGEINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_e2
  FROM cust WHERE bal_e2 > 0
)
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(count(*) AS BIGINT) AS numcust,
       round(CAST(sum(CAST(bal_e2 AS HUGEINT)) AS DOUBLE) / 100.0, 2) AS totacctbal
FROM cust, avg_bal
WHERE CAST(bal_e2 AS DOUBLE) > avg_e2
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = cust.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '{Q22_LAPSE_DATE}')
GROUP BY 1"""


#: mirrors relational.UNIT_COST_E2 — DuckDB's // floors like Spark's
#: div truncates; both operands are positive so the results coincide
_UNIT_COST_E2 = (
    "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
    " // CAST(floor(l_quantity + 0.5) AS BIGINT)"
)


def q_tpch_min_cost_supplier() -> str:
    from clusterforge_spark.operators.relational import Q2_REGION, Q2_SIZE

    return f"""WITH supply AS (
  SELECT l_partkey, l_suppkey, min({_UNIT_COST_E2}) AS cost_e2
  FROM lineitem GROUP BY 1, 2
), sr AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = '{Q2_REGION}'
), offers AS (
  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name, cost_e2
  FROM supply
  JOIN part ON l_partkey = p_partkey AND p_size = {Q2_SIZE}
  JOIN sr ON l_suppkey = s_suppkey
), best AS (SELECT p_partkey AS bk, min(cost_e2) AS min_e2 FROM offers GROUP BY 1)
SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_name,
       CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name,
       round(CAST(s_acctbal AS DOUBLE), 2) AS s_acctbal,
       round(CAST(cost_e2 AS DOUBLE) / 100.0, 2) AS min_unit_cost
FROM offers JOIN best ON p_partkey = bk AND cost_e2 = min_e2"""


def q_tpch_important_stock() -> str:
    from clusterforge_spark.operators.relational import (
        Q11_MEAN_MULT,
        Q11_NATION,
    )

    return f"""WITH supp AS (
  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = '{Q11_NATION}'
), vals AS (
  SELECT l_partkey, sum({_REV_E4}) AS value_e4
  FROM lineitem JOIN supp ON l_suppkey = s_suppkey GROUP BY 1
), total AS (
  SELECT sum(value_e4) AS total_e4, CAST(count(*) AS HUGEINT) AS n_parts FROM vals
)
SELECT CAST(l_partkey AS BIGINT) AS p_partkey,
       round(CAST(value_e4 AS DOUBLE) / 10000.0, 2) AS stock_value
FROM vals, total WHERE value_e4 * n_parts > total_e4 * {Q11_MEAN_MULT}"""


def q_tpch_parts_supplier_counts() -> str:
    from clusterforge_spark.operators.relational import Q16_EXCLUDED_BRAND

    return f"""WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
clean AS (
  SELECT * FROM pairs
  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
)
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM clean JOIN part ON l_partkey = p_partkey
WHERE p_brand <> '{Q16_EXCLUDED_BRAND}'
GROUP BY 1, 2, 3"""


def q_tpch_excess_supply() -> str:
    from clusterforge_spark.operators.relational import Q20_PTYPE, Q20_WINDOW

    lo, hi = Q20_WINDOW
    return f"""WITH qty AS (
  SELECT l_suppkey, l_partkey,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '{lo}' AND l_shipdate < TIMESTAMP '{hi}'
                  THEN CAST(floor(l_quantity + 0.5) AS BIGINT) ELSE 0 END) AS win_qty,
         sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS tot_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = '{Q20_PTYPE}'
  GROUP BY 1, 2
), excess AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_excess_parts,
         CAST(sum(win_qty) AS BIGINT) AS excess_win_qty
  FROM qty WHERE win_qty * 2 > tot_qty GROUP BY 1
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name,
       n_excess_parts, excess_win_qty
FROM supplier JOIN excess ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey"""


# --------------------------------------------------------------------------
# classical statistics: ANOVA / ACF / CUSUM
# --------------------------------------------------------------------------


def q_anova_f() -> str:
    return """WITH g AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_g,
         sum(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS HUGEINT)) AS sum_g,
         sum(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS HUGEINT)
             * CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS HUGEINT)) AS sumsq_g
  FROM orders GROUP BY o_orderpriority
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n_g) AS BIGINT) AS n,
         sum(sum_g) AS sum_all,
         sum(CAST(sumsq_g AS DOUBLE) - CAST(sum_g AS DOUBLE) * CAST(sum_g AS DOUBLE) / CAST(n_g AS DOUBLE)) AS ssw_e4,
         sum(CAST(sum_g AS DOUBLE) * CAST(sum_g AS DOUBLE) / CAST(n_g AS DOUBLE)) AS sq_means_e4
  FROM g
)
SELECT k AS n_groups, n AS n_rows,
       CAST(k - 1 AS BIGINT) AS df_between,
       CAST(n - k AS BIGINT) AS df_within,
       round(((sq_means_e4 - CAST(sum_all AS DOUBLE) * CAST(sum_all AS DOUBLE) / CAST(n AS DOUBLE))
               / CAST(k - 1 AS DOUBLE))
             / (ssw_e4 / CAST(n - k AS DOUBLE)), 4) AS f_stat
FROM tot"""


def q_user_behavior_profile() -> str:
    """Mirrors operators/relational.user_behavior_profile: windowed mode
    with (count desc, type asc) tie-break, log2 entropy 6dp."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    return f"""WITH ut AS (
  SELECT user_id, event_type, count(*) AS cnt
  FROM events GROUP BY user_id, event_type
),
r AS (
  SELECT user_id, event_type, cnt,
         sum(cnt) OVER (PARTITION BY user_id) AS n_events,
         row_number() OVER (PARTITION BY user_id
           ORDER BY cnt DESC, event_type ASC) AS rn
  FROM ut
),
a AS (
  SELECT user_id,
         CAST(max(n_events) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_types,
         min(CASE WHEN rn = 1 THEN event_type END) AS top_type,
         CAST(max(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS top_cnt,
         sum(-(CAST(cnt AS DOUBLE) / n_events)
             * log2(CAST(cnt AS DOUBLE) / n_events)) AS h
  FROM r GROUP BY user_id
)
SELECT user_id, n_events, n_types, top_type,
       {_rd('CAST(top_cnt AS DOUBLE) / n_events', 4)} AS top_share,
       {_rd('h', 6)} AS type_entropy
FROM a"""


def q_fulfillment_latency() -> str:
    """Mirrors operators/relational.fulfillment_latency: exact integer
    day latencies, quantile_cont percentiles 6dp."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    return f"""WITH lat AS (
  SELECT o_orderpriority,
         CAST(date_diff('day', o_orderdate::DATE, l_shipdate::DATE) AS BIGINT)
           AS lat_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lineitems,
       {_rd('CAST(sum(lat_days) AS DOUBLE) / count(*)', 4)} AS mean_days,
       {_rd('quantile_cont(lat_days, 0.5)', 6)} AS p50_days,
       {_rd('quantile_cont(lat_days, 0.9)', 6)} AS p90_days,
       max(lat_days) AS max_days
FROM lat GROUP BY o_orderpriority"""


def q_weekly_churn() -> str:
    """Mirrors operators/relational.weekly_churn: integer epoch-weeks,
    EXISTS next-week probe, final week excluded."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    return f"""WITH active AS (
  SELECT DISTINCT user_id,
         CAST(floor(floor(epoch_us(ts::TIMESTAMP) / 86400000000) / 7) AS BIGINT)
           AS wk
  FROM events
),
ret AS (
  SELECT a.wk, CAST(count(*) AS BIGINT) AS n_retained
  FROM active a
  WHERE EXISTS (SELECT 1 FROM active b
                WHERE b.user_id = a.user_id AND b.wk = a.wk + 1)
  GROUP BY a.wk
),
per AS (
  SELECT a.wk, CAST(count(*) AS BIGINT) AS n_active FROM active a GROUP BY a.wk
),
mx AS (SELECT max(wk) AS max_wk FROM active)
SELECT per.wk, per.n_active,
       coalesce(ret.n_retained, 0) AS n_retained,
       per.n_active - coalesce(ret.n_retained, 0) AS n_churned,
       {_rd('CAST(per.n_active - coalesce(ret.n_retained, 0) AS DOUBLE) / per.n_active', 4)} AS churn_rate
FROM per LEFT JOIN ret ON per.wk = ret.wk CROSS JOIN mx
WHERE per.wk < mx.max_wk"""


def q_rolling_median_daily() -> str:
    """Mirrors operators/relational.rolling_median_daily: exact-e4 daily
    totals, positional ROWS +-3 frame over the unique day key, 6dp
    median before the residual subtraction."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.relational import ROLLMED_HALF

    h = ROLLMED_HALF
    med = _rd("med_e4 / 10000.0", 6)
    return f"""WITH daily AS (
  SELECT CAST(floor(epoch_us(date_trunc('day', l_shipdate::TIMESTAMP))
              / 86400000000) AS BIGINT) AS day,
         CAST(sum({_REV_E4}) AS BIGINT) AS x_e4
  FROM lineitem GROUP BY 1
), m AS (
  SELECT day, x_e4,
         quantile_cont(x_e4, 0.5) OVER (ORDER BY day
           ROWS BETWEEN {h} PRECEDING AND {h} FOLLOWING) AS med_e4
  FROM daily
)
SELECT day,
       {_rd("CAST(x_e4 AS DOUBLE) / 10000.0", 4)} AS revenue,
       {med} AS med7,
       {_rd(f"CAST(x_e4 AS DOUBLE) / 10000.0 - {med}", 6)} AS residual
FROM m"""


def q_acf_daily_revenue() -> str:
    from clusterforge_spark.operators.relational import ACF_MAX_LAG

    rev = _REV_E4
    lags = range(1, ACF_MAX_LAG + 1)
    devs = ",\n         ".join(
        f"(CAST(lag(x_e4, {k}) OVER (ORDER BY d) AS DOUBLE) - xbar_e4) / 10000.0 AS dev_{k}"
        for k in lags
    )
    nums = ", ".join(f"sum(dev * dev_{k}) AS num_{k}" for k in lags)
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS lag, round(num_{k} / den, 4) AS acf FROM one"
        for k in lags
    )
    return f"""WITH daily AS (
  SELECT date_trunc('day', l_shipdate::TIMESTAMP) AS d, sum({rev}) AS x_e4
  FROM lineitem GROUP BY 1
), m AS (
  SELECT CAST(sum(x_e4) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS xbar_e4 FROM daily
), lagged AS (
  SELECT d,
         (CAST(x_e4 AS DOUBLE) - xbar_e4) / 10000.0 AS dev,
         {devs}
  FROM daily, m
), one AS (
  SELECT sum(dev * dev) AS den, {nums} FROM lagged
)
{unions}"""


def q_cusum_changepoint() -> str:
    rev = _REV_E4
    return f"""WITH daily AS (
  SELECT date_trunc('day', l_shipdate::TIMESTAMP) AS d, sum({rev}) AS day_e4
  FROM lineitem GROUP BY 1
), cum AS (
  SELECT d,
         sum(day_e4) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_k,
         CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k
  FROM daily
), total AS (
  SELECT sum(day_e4) AS s_n, CAST(count(*) AS BIGINT) AS n FROM daily
), stat AS (
  SELECT d, abs((CAST(s_k AS DOUBLE) - CAST(k AS DOUBLE) / CAST(n AS DOUBLE) * CAST(s_n AS DOUBLE)) / 10000.0) AS stat
  FROM cum, total
)
SELECT strftime(d, '%Y-%m-%d') AS change_date, round(stat, 2) AS cusum_stat
FROM stat WHERE stat = (SELECT max(stat) FROM stat)
ORDER BY d LIMIT 1"""


def q_periodogram_daily() -> str:
    """Mirrors operators/relational.periodogram_daily: the trig values
    are the SAME Python-libm literals shipped to both engines
    (periodogram_tables), so neither engine calls cos/sin."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.relational import (
        PERIODOGRAM_ANCHOR,
        periodogram_tables,
    )

    rev = _REV_E4
    tables = periodogram_tables()
    cols = []
    for p, (cos_t, sin_t) in tables.items():
        carr = "[" + ", ".join(repr(v) for v in cos_t) + "]"
        sarr = "[" + ", ".join(repr(v) for v in sin_t) + "]"
        idx = f"CAST(t % {p} AS INT) + 1"
        cols.append(f"sum(dev * list_extract({carr}, {idx})) AS c_{p}")
        cols.append(f"sum(dev * list_extract({sarr}, {idx})) AS s_{p}")
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({p} AS BIGINT) AS period_days, "
        + _rd(f"(c_{p} * c_{p} + s_{p} * s_{p}) / (CAST(n AS DOUBLE) * den)", 6)
        + " AS power_frac FROM one"
        for p in tables
    )
    col_block = ",\n         ".join(cols)
    return f"""WITH daily AS (
  SELECT date_trunc('day', l_shipdate::TIMESTAMP) AS d, sum({rev}) AS x_e4
  FROM lineitem GROUP BY 1
), m AS (
  SELECT CAST(sum(x_e4) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS xbar_e4 FROM daily
), dev AS (
  SELECT datediff('day', DATE '{PERIODOGRAM_ANCHOR}', CAST(d AS DATE)) AS t,
         (CAST(x_e4 AS DOUBLE) - xbar_e4) / 10000.0 AS dev
  FROM daily, m
), one AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(dev * dev) AS den,
         {col_block}
  FROM dev
)
{unions}"""


def q_pacf_daily() -> str:
    """Mirrors operators/relational.pacf_daily. The Durbin-Levinson
    recursion is the SHARED expression DAG from pacf_exprs(): both
    engines execute the identical SQL text, so the IEEE op sequence is
    equal by construction."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.relational import PACF_MAX_LAG, pacf_exprs

    rev = _REV_E4
    lags = range(1, PACF_MAX_LAG + 1)
    devs = ",\n         ".join(
        f"(CAST(lag(x_e4, {k}) OVER (ORDER BY d) AS DOUBLE) - xbar_e4)"
        f" / 10000.0 AS dev_{k}"
        for k in lags
    )
    nums = ", ".join(f"sum(dev * dev_{k}) AS num_{k}" for k in lags)
    rs = ", ".join(f"num_{k} / den AS r_{k}" for k in lags)
    inner = "SELECT * FROM r"
    for name, expr in pacf_exprs(PACF_MAX_LAG):
        inner = f"SELECT *, ({expr}) AS {name} FROM ({inner})"
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS lag, "
        + _rd(f"phi_{k}_{k}", 4)
        + " AS pacf FROM fin"
        for k in lags
    )
    return f"""WITH daily AS (
  SELECT date_trunc('day', l_shipdate::TIMESTAMP) AS d, sum({rev}) AS x_e4
  FROM lineitem GROUP BY 1
), m AS (
  SELECT CAST(sum(x_e4) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS xbar_e4 FROM daily
), lagged AS (
  SELECT (CAST(x_e4 AS DOUBLE) - xbar_e4) / 10000.0 AS dev,
         {devs}
  FROM daily, m
), one AS (
  SELECT sum(dev * dev) AS den, {nums} FROM lagged
), r AS (
  SELECT {rs} FROM one
), fin AS (
  {inner}
)
{unions}"""


def q_ccf_revenue_orders() -> str:
    """Mirrors operators/relational.ccf_revenue_orders: two daily exact
    aggregates, lag fan-out on the order series, inner-overlap products,
    full-series variance denominator."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.relational import (
        CCF_MAX_LAG,
        PERIODOGRAM_ANCHOR,
    )

    rev = _REV_E4
    return f"""WITH xd AS (
  SELECT datediff('day', DATE '{PERIODOGRAM_ANCHOR}', CAST(l_shipdate AS DATE)) AS t,
         sum({rev}) AS x_e4
  FROM lineitem GROUP BY 1
), yd AS (
  SELECT datediff('day', DATE '{PERIODOGRAM_ANCHOR}', CAST(o_orderdate AS DATE)) AS t,
         CAST(count(*) AS BIGINT) AS y
  FROM orders GROUP BY 1
), xstat AS (
  SELECT CAST(sum(x_e4) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS xbar_e4 FROM xd
), ystat AS (
  SELECT CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS ybar FROM yd
), dx AS (
  SELECT t, (CAST(x_e4 AS DOUBLE) - xbar_e4) / 10000.0 AS dx FROM xd, xstat
), dy AS (
  SELECT t, (CAST(y AS DOUBLE) - ybar) AS dy FROM yd, ystat
), den AS (
  SELECT (SELECT sum(dx * dx) FROM dx) AS sxx,
         (SELECT sum(dy * dy) FROM dy) AS syy
), fan AS (
  SELECT l.lag AS lag, dy.t - l.lag AS t_join, dy.dy AS dy
  FROM dy CROSS JOIN (
    SELECT unnest(generate_series(-{CCF_MAX_LAG}, {CCF_MAX_LAG})) AS lag
  ) l
), prods AS (
  SELECT fan.lag,
         sum(dx.dx * fan.dy) AS sxy,
         CAST(count(*) AS BIGINT) AS n_overlap
  FROM dx JOIN fan ON dx.t = fan.t_join
  GROUP BY fan.lag
)
SELECT CAST(prods.lag AS BIGINT) AS lag, n_overlap,
       {_rd('sxy / sqrt(sxx * syy)', 4)} AS ccf
FROM prods, den"""


# --------------------------------------------------------------------------
# connector roundtrips + embedding covariance
# --------------------------------------------------------------------------


def q_jsonl_roundtrip() -> str:
    # the oracle reads the SOURCE parquet: if the spark side's
    # JSONL write→read leg loses anything, the aggregates diverge
    return """SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM documents GROUP BY lang"""


def q_orc_roundtrip() -> str:
    return """SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS HUGEINT)) AS DOUBLE) / 100.0, 2) AS total_value,
       min(strftime(o_orderdate::TIMESTAMP, '%Y-%m-%d')) AS first_date,
       max(strftime(o_orderdate::TIMESTAMP, '%Y-%m-%d')) AS last_date
FROM orders GROUP BY o_orderstatus"""


def q_schema_evolution() -> str:
    """Mirrors sinks.roundtrip_schema_evolution from the SOURCE table:
    md5-even rows are the pre-evolution batch (channel NULL), odd rows
    carry the derived channel — if Spark's write→mergeSchema→read leg
    loses rows or misassigns the new column, the aggregates diverge."""
    from clusterforge_spark.sources.sinks import EVOLUTION_CHANNELS

    chans = "[" + ", ".join(f"'{c}'" for c in EVOLUTION_CHANNELS) + "]"
    return f"""SELECT o_orderstatus,
       CASE WHEN (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT) % 2 = 1
            THEN {chans}[CAST(o_orderkey % 3 AS INT) + 1] END AS o_channel,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS HUGEINT)) AS DOUBLE) / 100.0, 2) AS total_value
FROM orders GROUP BY 1, 2"""


def q_embedding_covariance() -> str:
    return """WITH ex AS (
  SELECT vec_id,
         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS vm
  FROM embeddings
), pairs AS (
  SELECT a.dim AS i, b.dim AS j,
         sum(CAST(a.vm AS HUGEINT) * CAST(b.vm AS HUGEINT)) AS spp,
         CAST(count(*) AS BIGINT) AS n
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.dim <= b.dim
  GROUP BY 1, 2
), dims AS (
  SELECT dim, sum(CAST(vm AS HUGEINT)) AS s FROM ex GROUP BY dim
)
SELECT i, j,
       round((CAST(spp AS DOUBLE)
              - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE) / CAST(n AS DOUBLE))
             / CAST(n AS DOUBLE) / 1e12, 8) AS cov
FROM pairs
JOIN dims si ON si.dim = i
JOIN dims sj ON sj.dim = j"""


def q_csv_roundtrip() -> str:
    # identical aggregate to the JSONL proof — the spark side goes
    # through the CSV sink/source pair instead
    return q_jsonl_roundtrip()


def q_partition_pruned() -> str:
    return """SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS HUGEINT)) AS DOUBLE) / 100.0, 2) AS total_value
FROM orders WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority"""


def q_dpp_join_pruned() -> str:
    """Mirrors sinks.dpp_join_pruned: the dim filter (category='closed')
    selects exactly status F, so the value-level answer equals the
    static-pruning twin's."""
    return """SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS HUGEINT)) AS DOUBLE) / 100.0, 2) AS total_value
FROM orders WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority"""


def q_audio_decode() -> str:
    from clusterforge_spark.operators.multimodal import AUDIO_SYNTH_RATE

    return f"""SELECT doc_id,
       CAST({AUDIO_SYNTH_RATE} AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS channels,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_samples,
       CAST(octet_length(encode(text)) AS DOUBLE) / {AUDIO_SYNTH_RATE}.0 AS duration_sec
FROM documents"""


def q_stl_decompose() -> str:
    """Mirrors operators/relational.stl_decompose: exact-integer
    detrending (7·rev − Σ₇rev in HUGEINT), arithmetic dow, divisions
    only at the emitted edge."""
    from clusterforge_spark.operators.relational import STL_HALF

    k = 2 * STL_HALF + 1
    scale = float(k * 10_000)
    return f"""WITH daily AS (
  SELECT CAST(epoch_us(l_shipdate::TIMESTAMP) // 86400000000 AS BIGINT) AS day,
         sum({_REV_E4}) AS rev_e4
  FROM lineitem GROUP BY 1
), t AS (
  SELECT day, rev_e4,
         sum(rev_e4) OVER (ORDER BY day ROWS BETWEEN {STL_HALF} PRECEDING AND {STL_HALF} FOLLOWING) AS sum7_e4,
         count(*) OVER (ORDER BY day ROWS BETWEEN {STL_HALF} PRECEDING AND {STL_HALF} FOLLOWING) AS n7
  FROM daily
), det AS (
  SELECT day, rev_e4, sum7_e4, rev_e4 * {k} - sum7_e4 AS det7_e4,
         CAST((day + 4) % 7 AS BIGINT) AS dow
  FROM t WHERE n7 = {k}
), seas AS (
  SELECT dow, sum(det7_e4) AS s_num, CAST(count(*) AS BIGINT) AS n_dow
  FROM det GROUP BY 1
)
SELECT day,
       round(CAST(rev_e4 AS DOUBLE) / 10000.0, 2) AS revenue,
       round(CAST(sum7_e4 AS DOUBLE) / {scale!r}, 4) AS trend,
       round(CAST(s_num AS DOUBLE) / ({scale!r} * n_dow), 4) AS seasonal,
       round(CAST(det7_e4 AS DOUBLE) / {scale!r}
             - CAST(s_num AS DOUBLE) / ({scale!r} * n_dow), 4) AS residual
FROM det JOIN seas USING (dow)"""


def q_gap_fill_daily() -> str:
    from clusterforge_spark.operators.relational import GAPFILL_BRAND

    rev = _REV_E4
    return f"""WITH daily AS (
  SELECT CAST(floor(epoch_us(l_shipdate::TIMESTAMP) / 86400000000) AS BIGINT) AS day,
         sum({rev}) AS rev_e4
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = '{GAPFILL_BRAND}'
  GROUP BY 1
), b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
cal AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
j AS (SELECT c.day AS day, d.rev_e4 AS rev_e4 FROM cal c LEFT JOIN daily d ON c.day = d.day),
br AS (
  SELECT day, rev_e4,
    last_value(rev_e4 IGNORE NULLS) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
    last_value(CASE WHEN rev_e4 IS NOT NULL THEN day END IGNORE NULLS) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
    first_value(rev_e4 IGNORE NULLS) OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
    first_value(CASE WHEN rev_e4 IS NOT NULL THEN day END IGNORE NULLS) OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
  FROM j
)
SELECT day,
       round(CASE WHEN rev_e4 IS NOT NULL THEN CAST(rev_e4 AS DOUBLE) / 10000.0
             ELSE (CAST(prev_v AS DOUBLE)
                   + (CAST(next_v AS DOUBLE) - CAST(prev_v AS DOUBLE))
                     * CAST(day - prev_d AS DOUBLE) / CAST(next_d - prev_d AS DOUBLE))
                  / 10000.0 END, 4) AS revenue,
       rev_e4 IS NULL AS is_interpolated
FROM br"""


def q_mutual_information() -> str:
    return """WITH joint AS (
  SELECT event_type AS x,
         CAST(floor(epoch_us(ts::TIMESTAMP) / 86400000000) AS BIGINT) % 7 AS y,
         CAST(count(*) AS BIGINT) AS n_xy
  FROM events GROUP BY 1, 2
), nx AS (SELECT x, sum(n_xy) AS n_x FROM joint GROUP BY x),
ny AS (SELECT y, sum(n_xy) AS n_y FROM joint GROUP BY y),
nn AS (SELECT sum(n_xy) AS n FROM joint),
mi AS (
  SELECT sum((CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE))
             * ln(CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE)
                  / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)))) AS mi_raw
  FROM joint JOIN nx USING (x) JOIN ny USING (y), nn
), hx AS (
  SELECT -sum((CAST(n_x AS DOUBLE) / CAST(n AS DOUBLE)) * ln(CAST(n_x AS DOUBLE) / CAST(n AS DOUBLE))) AS hx_raw FROM nx, nn
), hy AS (
  SELECT -sum((CAST(n_y AS DOUBLE) / CAST(n AS DOUBLE)) * ln(CAST(n_y AS DOUBLE) / CAST(n AS DOUBLE))) AS hy_raw FROM ny, nn
)
SELECT round(mi_raw, 6) AS mi_nats, round(hx_raw, 6) AS entropy_type, round(hy_raw, 6) AS entropy_dow
FROM mi, hx, hy"""


def q_pca_top_component() -> str:
    from clusterforge_spark.operators.similarity import PCA_POWER_ITERS

    iters = PCA_POWER_ITERS
    # AS MATERIALIZED: DuckDB inlines CTEs by default, so the 12 unrolled
    # iterations would re-expand cov -> pairs -> ex -> parquet scan each,
    # exhausting file handles; materializing evaluates each base CTE once
    parts = [
        """WITH ex AS MATERIALIZED (
  SELECT vec_id,
         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS vm
  FROM embeddings
), pairs AS MATERIALIZED (
  SELECT a.dim AS i, b.dim AS j,
         sum(CAST(a.vm AS HUGEINT) * CAST(b.vm AS HUGEINT)) AS spp,
         CAST(count(*) AS BIGINT) AS n
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.dim <= b.dim
  GROUP BY 1, 2
), dims AS MATERIALIZED (SELECT dim, sum(CAST(vm AS HUGEINT)) AS s FROM ex GROUP BY dim),
cov AS MATERIALIZED (
  SELECT i, j, n * spp - si.s * sj.s AS m
  FROM pairs JOIN dims si ON si.dim = i JOIN dims sj ON sj.dim = j
  UNION ALL
  SELECT j, i, n * spp - si.s * sj.s
  FROM pairs JOIN dims si ON si.dim = i JOIN dims sj ON sj.dim = j
  WHERE i <> j
),
it0 AS (SELECT dim, CAST(1000000 AS HUGEINT) AS v FROM dims)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
w{k} AS MATERIALIZED (SELECT c.i AS dim, sum(c.m * t.v) AS w FROM cov c JOIN it{k - 1} t ON c.j = t.dim GROUP BY c.i),
mx{k} AS MATERIALIZED (SELECT max(abs(w)) AS mx FROM w{k}),
it{k} AS MATERIALIZED (SELECT w.dim AS dim,
  CASE WHEN mx = 0 THEN v0.v
       WHEN w < 0 THEN -(((-w) * 1000000) // mx) ELSE (w * 1000000) // mx END AS v
  FROM w{k} w JOIN it{k - 1} v0 ON v0.dim = w.dim CROSS JOIN mx{k})"""
        )
    parts.append(
        f""",
sgn AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sg
        FROM it{iters} WHERE v <> 0 ORDER BY dim LIMIT 1),
nrm AS (SELECT sqrt(CAST(sum(v * v) AS DOUBLE)) AS norm FROM it{iters})
SELECT dim, round(CAST(v * sg AS DOUBLE) / norm, 6) AS loading
FROM it{iters}, sgn, nrm"""
    )
    return "".join(parts)


def _kcell_ctes(
    src: str = "embeddings",
    prefix: str = "kc",
    query: list[float] | None = None,
) -> str:
    """The k-cell trained-quantizer CTE chain shared by
    q_sim_search_kcell and q_ann_recall: KMV-hash seeds (bottom-⌈√n⌉
    md5, deduped on the seed vector), one SAMPLED Lloyd step (argmin
    assignment of the md5-threshold training sample — expected
    LLOYD_SAMPLE_PER_CELL rows per cell, the overflow-free form
    ``h // c < 2^60 // nc`` of similarity.lloyd_train_threshold —
    → exact micro-int centroid means, round_det 4dp in the Spark op
    order, empty-sample cells keeping their seed vector), final
    full-corpus assignment. Mirrors
    operators/similarity.ivf_kcell_cells / _assign_packed bit-for-bit.
    Parametrized on the source relation / CTE-name prefix / query
    vector so the planted-cluster corpus (q_ann_recall's second half)
    trains its own codebook through the identical chain."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.similarity import (
        KMV_HASH_SPACE,
        LLOYD_SAMPLE_PER_CELL,
    )

    query = query or _V.QUERY_VEC

    d_seed = _V.dist2_cols_sql_pre("e.emb", "s.cent")
    d_cell = _V.dist2_cols_sql_pre("e.emb", "c.cent")
    mean = (
        f"CAST(sum(xm) AS DOUBLE) / CAST(count(*) AS DOUBLE)"
        f" / {_V._flit_sql(1e6)}"
    )
    p = prefix
    return f"""{p}_n AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS nc FROM {src}),
{p}_e AS MATERIALIZED (
  SELECT vec_id, embedding, embedding::DOUBLE[] AS emb FROM {src}
),
{p}_seeds AS MATERIALIZED (
  -- bottom-nc KMV sample, deduped on the seed VECTOR (lowest hash
  -- wins) then renumbered — mirrors similarity.ivf_kcell_seeds: a
  -- duplicated seed would leave its higher-indexed cell empty
  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cell, cent
  FROM (
    SELECT cent, h, vec_id,
           row_number() OVER (PARTITION BY cent ORDER BY h, vec_id) AS dd
    FROM (
      SELECT emb AS cent, vec_id, h,
             row_number() OVER (ORDER BY h, vec_id) - 1 AS k0
      FROM (SELECT emb, vec_id,
                   (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT) AS h
            FROM {p}_e))
    WHERE k0 < (SELECT nc FROM {p}_n)) s
  WHERE s.dd = 1
),
{p}_train AS (
  -- deterministic Lloyd training sample: same 60-bit md5 hash as the
  -- seeds, kept when h // c < 2^60 // nc (⟺ h < min(2^60, c·⌊2^60/nc⌋),
  -- overflow-free; c = LLOYD_SAMPLE_PER_CELL interpolated from the
  -- engine constant) — similarity.lloyd_train_threshold bit-for-bit
  SELECT vec_id, embedding, emb FROM (
    SELECT vec_id, embedding, emb,
           (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT) AS h
    FROM {p}_e)
  WHERE (h // {LLOYD_SAMPLE_PER_CELL}) < ({KMV_HASH_SPACE} // (SELECT nc FROM {p}_n))
),
{p}_a0 AS MATERIALIZED (
  SELECT e.vec_id, e.embedding, s.cell,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {d_seed}, s.cell) AS rn
  FROM {p}_train e CROSS JOIN {p}_seeds s
),
{p}_ex AS (
  SELECT a.cell,
         CAST(generate_subscripts(a.embedding, 1) - 1 AS BIGINT) AS pos,
         CAST(floor(CAST(unnest(a.embedding) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS xm
  FROM {p}_a0 a WHERE a.rn = 1
),
{p}_cents AS MATERIALIZED (
  SELECT cell, pos, {_rd(mean, 4)} AS cval
  FROM {p}_ex GROUP BY cell, pos
),
{p}_cells AS MATERIALIZED (
  -- empty-sample cells keep their seed vector (similarity.ivf_kcell_cells)
  SELECT s.cell, COALESCE(r.cent, s.cent) AS cent
  FROM {p}_seeds s LEFT JOIN
       (SELECT cell, list(cval ORDER BY pos) AS cent
        FROM {p}_cents GROUP BY cell) r USING (cell)
),
{p}_assigned AS MATERIALIZED (
  SELECT e.vec_id, e.embedding, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {d_cell}, c.cell) AS rn
  FROM {p}_e e CROSS JOIN {p}_cells c
),
{p}_q AS (SELECT [{", ".join(_V._flit_sql(v) for v in query)}]::DOUBLE[] AS qv)"""


def q_sim_search_kcell(k: int = 10, nprobe: int = 4) -> str:
    """Mirrors operators/similarity.ivf_kcell_topk: data-sized trained
    codebook (⌈√n⌉ cells), multiprobe, exact cosine rerank."""
    qd = _V.dist2_cols_sql_pre("c.cent", "q.qv")
    cos = _V.cosine_lit_sql("e.embedding", _V.QUERY_VEC)
    return f"""WITH {_kcell_ctes()},
qcells AS (
  SELECT c.cell FROM kc_cells c, kc_q q ORDER BY {qd}, c.cell LIMIT {nprobe}
),
scored AS (
  SELECT e.vec_id, round({cos}, 6) AS cos_sim
  FROM (SELECT a.vec_id, a.embedding FROM kc_assigned a JOIN qcells USING (cell)
        WHERE a.rn = 1) e
)
SELECT vec_id, cos_sim,
       CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored ORDER BY cos_sim DESC, vec_id LIMIT {k}"""


def q_sim_search_ivf_pq(k: int = 10, nprobe: int = 4, rerank: int = 4) -> str:
    """Mirrors operators/similarity.ivf_pq_topk — the IVF-PQ hybrid:
    kcell coarse probe (the shared kc CTE chain, training included) →
    PQ encode + ADC table-lookup scoring over the probed candidates
    only → exact cosine rerank of the ADC top rerank·k."""
    dist_cols, code_cols, lookups = _pq_sql_parts()
    qd = _V.dist2_cols_sql_pre("c.cent", "q.qv")
    cos = _V.cosine_lit_sql("e.embedding", _V.QUERY_VEC)
    return f"""WITH {_kcell_ctes()},
qcells AS (
  SELECT c.cell FROM kc_cells c, kc_q q ORDER BY {qd}, c.cell LIMIT {nprobe}
),
cand AS (
  SELECT a.vec_id, a.embedding FROM kc_assigned a JOIN qcells USING (cell)
  WHERE a.rn = 1
),
dists AS (
  SELECT vec_id,
         {dist_cols}
  FROM cand
),
pqcodes AS (
  SELECT vec_id,
         {code_cols}
  FROM dists
),
cut AS (
  SELECT vec_id, {lookups} AS adc_dist
  FROM pqcodes
  ORDER BY adc_dist ASC, vec_id
  LIMIT {rerank * k}
),
scored AS (
  SELECT c.vec_id,
         round(c.adc_dist, 6) AS adc_dist,
         round({cos}, 6) AS cos_sim
  FROM cut c JOIN kc_e e ON e.vec_id = c.vec_id
)
SELECT vec_id, adc_dist, cos_sim,
       CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored ORDER BY cos_sim DESC, vec_id LIMIT {k}"""


def q_sim_search_kcell_incremental(k: int = 10, nprobe: int = 4) -> str:
    """Mirrors operators/similarity.ivf_kcell_incremental_topk: codebook
    trained on the BASE corpus (shared kc chain), a deterministic
    md5-derived new-vector batch assigned to it without retraining,
    top-k over base ∪ batch with an is_new flag."""
    from clusterforge_spark.operators.similarity import (
        INCR_EPS,
        INCR_ID_OFFSET,
        INCR_MOD,
    )

    d_cell = _V.dist2_cols_sql_pre("u.emb", "c.cent")
    qd = _V.dist2_cols_sql_pre("c.cent", "q.qv")
    cos = _V.cosine_lit_sql("e.emb", _V.QUERY_VEC)
    noise = (
        "CAST((('0x' || substr(md5('b' || CAST(b.vec_id AS VARCHAR) || ':' ||"
        " CAST(d AS VARCHAR)), 1, 15))::BIGINT % 2001 - 1000) AS DOUBLE)"
        f" / {_V._flit_sql(1000.0)} * {_V._flit_sql(float(INCR_EPS))}"
    )
    return f"""WITH {_kcell_ctes()},
batch AS MATERIALIZED (
  SELECT b.vec_id + {INCR_ID_OFFSET} AS vec_id,
         list_transform(range({_V.DIM}), d -> b.emb[d + 1] + {noise}) AS emb
  FROM kc_e b
  WHERE (('0x' || substr(md5(CAST(b.vec_id AS VARCHAR)), 1, 15))::BIGINT) % {INCR_MOD} = 0
),
uni AS MATERIALIZED (
  SELECT vec_id, emb FROM kc_e UNION ALL SELECT vec_id, emb FROM batch
),
uni_assigned AS MATERIALIZED (
  SELECT u.vec_id, u.emb, c.cell,
         row_number() OVER (PARTITION BY u.vec_id
             ORDER BY {d_cell}, c.cell) AS rn
  FROM uni u CROSS JOIN kc_cells c
),
qcells AS (
  SELECT c.cell FROM kc_cells c, kc_q q ORDER BY {qd}, c.cell LIMIT {nprobe}
),
scored AS (
  SELECT e.vec_id, round({cos}, 6) AS cos_sim
  FROM (SELECT a.vec_id, a.emb FROM uni_assigned a JOIN qcells USING (cell)
        WHERE a.rn = 1) e
)
SELECT vec_id, cos_sim,
       CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank,
       vec_id >= {INCR_ID_OFFSET} AS is_new
FROM scored ORDER BY cos_sim DESC, vec_id LIMIT {k}"""


def q_stream_ann_ingest_replay() -> str:
    """Mirrors streaming/sessionize.run_stream_ann_ingest_replay: the
    finite replay's posting-list capture equals the batch assignment of
    the whole corpus to the trained codebook — the identical kc chain
    every kcell query shares (training included)."""
    return f"""WITH {_kcell_ctes()}
SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell
FROM kc_assigned a WHERE a.rn = 1"""


def _planted_ctes() -> str:
    """The planted-cluster ANN corpus, derived from vec_id alone:
    center ``vec_id % PLANT_G`` (literal table) + per-coordinate md5
    noise — integer/md5 arithmetic down to one IEEE divide+multiply,
    bit-identical to operators/similarity.planted_clustered (Python
    replica: functions.vector.py_planted_embedding)."""
    cent_rows = ",\n    ".join(
        f"({g}, [{', '.join(_V._flit_sql(v) for v in c)}]::DOUBLE[])"
        for g, c in enumerate(_V.PLANT_CENTERS)
    )
    noise = (
        "CAST((('0x' || substr(md5(CAST(e.vec_id AS VARCHAR) || ':' ||"
        " CAST(d AS VARCHAR)), 1, 15))::BIGINT % 2001 - 1000) AS DOUBLE)"
        f" / {_V._flit_sql(1000.0)} * {_V._flit_sql(float(_V.PLANT_EPS))}"
    )
    return f"""pcent AS (SELECT * FROM (VALUES
    {cent_rows}) AS t(g, cent)),
planted AS MATERIALIZED (
  SELECT e.vec_id,
         list_transform(range({_V.DIM}), d -> p.cent[d + 1] + {noise}) AS embedding
  FROM embeddings e JOIN pcent p ON CAST(e.vec_id % {_V.PLANT_G} AS INTEGER) = p.g
)"""


def q_ann_recall(
    k: int = 10, kcell_nprobes: tuple[int, ...] | None = None
) -> str:
    """Dual-corpus ANN frontier (mirrors similarity.ann_recall_dual):
    every strategy's recall@k + fan-out on the driver's ISOTROPIC
    embeddings (the degenerate control — recall tracks fan-out for any
    partition index) AND on the PLANTED-CLUSTER corpus, where the
    trained k-cell index concentrates the true neighbors into few cells
    and the frontier visibly bends. Both codebooks train through the
    identical parametrized CTE chain — the whole report, training
    included, is oracle-exact."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.similarity import (
        ANN_DUAL_NPROBES,
        py_ivf_cells,
    )

    if kcell_nprobes is None:
        kcell_nprobes = ANN_DUAL_NPROBES
    cents = _V.IVF_CENTROIDS
    planes = _V.HYPERPLANES[:8]
    qd = _V.dist2_cols_sql_pre("c.cent", "q.qv")

    corpora = (
        ("isotropic", "embeddings", "kc", _V.QUERY_VEC, "brute_iso"),
        ("clustered", "planted", "kcc", _V.PLANT_QUERY, "brute_clu"),
    )
    cand_ctes: list[str] = []
    rows: list[str] = []
    for corpus, src, pfx, query, brute in corpora:
        ivf_cells = py_ivf_cells(query, cents, 2)
        dists = ",\n         ".join(
            f"{_V.dist2_lit_sql_pre('emb', c)} AS d{i}" for i, c in enumerate(cents)
        )
        qb = _V.py_lsh_bucket(query, planes)
        probe = sorted({qb} | {qb ^ (1 << j) for j in range(8)})
        bucket = _V.lsh_bucket_sql("embedding", planes)
        names = [f"{pfx}_ivf", f"{pfx}_lsh"]
        cand_ctes.append(
            f"""{pfx}_ivf_cand AS MATERIALIZED (
  SELECT vec_id FROM (
    SELECT vec_id,
           CAST({_argmin_case(len(cents))} AS BIGINT) AS cell
    FROM (SELECT vec_id, {dists} FROM {pfx}_e))
  WHERE cell IN ({", ".join(str(c) for c in ivf_cells)})
)"""
        )
        cand_ctes.append(
            f"""{pfx}_lsh_cand AS MATERIALIZED (
  SELECT vec_id
  FROM (SELECT vec_id, {bucket} AS bucket FROM {src})
  WHERE bucket IN ({", ".join(str(b) for b in probe)})
)"""
        )
        for p in kcell_nprobes:
            cand_ctes.append(
                f"""{pfx}_qc_{p} AS (
  SELECT c.cell FROM {pfx}_cells c, {pfx}_q q ORDER BY {qd}, c.cell LIMIT {p}
),
{pfx}_kcell_p{p}_cand AS MATERIALIZED (
  SELECT a.vec_id FROM {pfx}_assigned a JOIN {pfx}_qc_{p} USING (cell) WHERE a.rn = 1
)"""
            )
            names.append(f"{pfx}_kcell_p{p}")
        for name in names:
            cte = f"{name}_cand"
            label = name[len(pfx) + 1 :]
            rows.append(
                f"""SELECT '{corpus}' AS corpus, '{label}' AS strategy,
       c.ncand AS n_candidates,
       {_rd('CAST(c.ncand AS DOUBLE) / CAST(nt.n AS DOUBLE)', 4)} AS fanout,
       o.nov AS n_overlap,
       {_rd(f'CAST(o.nov AS DOUBLE) / {float(k)!r}', 4)} AS recall
FROM (SELECT CAST(count(*) AS BIGINT) AS ncand FROM {cte}) c,
     (SELECT CAST(count(*) AS BIGINT) AS nov
      FROM {cte} JOIN {brute} USING (vec_id)) o,
     nt"""
            )
    cos_clu = _V.cosine_lit_sql("embedding", _V.PLANT_QUERY)
    brute_clu = _topk_sql(
        f"SELECT vec_id, round({cos_clu}, 6) AS cos_sim FROM planted", k
    )
    return (
        f"WITH brute_iso AS MATERIALIZED ({q_sim_search_topk(k)}),\n"
        f"nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),\n"
        + _planted_ctes()
        + ",\n"
        + f"brute_clu AS MATERIALIZED ({brute_clu}),\n"
        + _kcell_ctes()
        + ",\n"
        + _kcell_ctes(src="planted", prefix="kcc", query=_V.PLANT_QUERY)
        + ",\n"
        + ",\n".join(cand_ctes)
        + "\n"
        + "\nUNION ALL\n".join(rows)
    )


def q_ann_recall_batch(
    k: int = 10, kcell_nprobes: tuple[int, ...] | None = None
) -> str:
    """Batch ANN frontier (mirrors similarity.ann_recall_batch_dual):
    one row per (corpus, query, strategy) for TWO query vectors per
    corpus. Index features (IVF argmin cell, LSH bucket) are per-corpus
    CTEs shared by every query's candidate filter — the same
    one-corpus-pass shape the Spark operator caches; the k-cell chains
    are the identical parametrized training CTEs q_ann_recall uses."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.similarity import (
        ANN_BATCH_NPROBES,
        py_ivf_cells,
    )

    if kcell_nprobes is None:
        kcell_nprobes = ANN_BATCH_NPROBES
    cents = _V.IVF_CENTROIDS
    planes = _V.HYPERPLANES[:8]
    qd = _V.dist2_cols_sql_pre("c.cent", "q.qv")

    corpora = (
        (
            "isotropic",
            "embeddings",
            "kb",
            (("q1", _V.QUERY_VEC), ("q2", _V.QUERY_VEC2)),
        ),
        (
            "clustered",
            "planted",
            "kbc",
            (("q1", _V.PLANT_QUERY), ("q2", _V.PLANT_QUERY2)),
        ),
    )
    ctes: list[str] = []
    rows: list[str] = []
    for corpus, src, pfx, queries in corpora:
        dists = ",\n         ".join(
            f"{_V.dist2_lit_sql_pre('emb', c)} AS d{i}" for i, c in enumerate(cents)
        )
        bucket = _V.lsh_bucket_sql("embedding", planes)
        ctes.append(
            f"""{pfx}_feat AS MATERIALIZED (
  SELECT f.vec_id, f.cell AS ivf_cell, b.bucket
  FROM (SELECT vec_id,
               CAST({_argmin_case(len(cents))} AS BIGINT) AS cell
        FROM (SELECT vec_id, {dists} FROM {pfx}_e)) f
  JOIN (SELECT vec_id, {bucket} AS bucket FROM {src}) b USING (vec_id)
)"""
        )
        for qid, qv in queries:
            iv_cells = py_ivf_cells(qv, cents, 2)
            qb = _V.py_lsh_bucket(qv, planes)
            probes = sorted({qb} | {qb ^ (1 << j) for j in range(len(planes))})
            cos = _V.cosine_lit_sql("embedding", qv)
            truth = _topk_sql(
                f"SELECT vec_id, round({cos}, 6) AS cos_sim FROM {src}", k
            )
            ctes.append(
                f"{pfx}_{qid}_truth AS MATERIALIZED (SELECT vec_id FROM ({truth}))"
            )
            ctes.append(
                f"""{pfx}_{qid}_ivf_cand AS (
  SELECT vec_id FROM {pfx}_feat
  WHERE ivf_cell IN ({", ".join(str(c) for c in iv_cells)})
)"""
            )
            ctes.append(
                f"""{pfx}_{qid}_lsh_cand AS (
  SELECT vec_id FROM {pfx}_feat
  WHERE bucket IN ({", ".join(str(b) for b in probes)})
)"""
            )
            qlits = ", ".join(_V._flit_sql(v) for v in qv)
            ctes.append(f"{pfx}_{qid}_qv AS (SELECT [{qlits}]::DOUBLE[] AS qv)")
            names = [f"{pfx}_{qid}_ivf", f"{pfx}_{qid}_lsh"]
            for p in kcell_nprobes:
                ctes.append(
                    f"""{pfx}_{qid}_qc_{p} AS (
  SELECT c.cell FROM {pfx}_cells c, {pfx}_{qid}_qv q ORDER BY {qd}, c.cell LIMIT {p}
),
{pfx}_{qid}_kcell_p{p}_cand AS (
  SELECT a.vec_id FROM {pfx}_assigned a JOIN {pfx}_{qid}_qc_{p} USING (cell)
  WHERE a.rn = 1
)"""
                )
                names.append(f"{pfx}_{qid}_kcell_p{p}")
            for name in names:
                cte = f"{name}_cand"
                label = name[len(pfx) + len(qid) + 2 :]
                rows.append(
                    f"""SELECT '{corpus}' AS corpus, '{qid}' AS query,
       '{label}' AS strategy,
       c.ncand AS n_candidates,
       {_rd('CAST(c.ncand AS DOUBLE) / CAST(nt.n AS DOUBLE)', 4)} AS fanout,
       o.nov AS n_overlap,
       {_rd(f'CAST(o.nov AS DOUBLE) / {float(k)!r}', 4)} AS recall
FROM (SELECT CAST(count(*) AS BIGINT) AS ncand FROM {cte}) c,
     (SELECT CAST(count(*) AS BIGINT) AS nov
      FROM {cte} JOIN {pfx}_{qid}_truth USING (vec_id)) o,
     nt"""
                )
    return (
        "WITH nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),\n"
        + _planted_ctes()
        + ",\n"
        + _kcell_ctes(prefix="kb")
        + ",\n"
        + _kcell_ctes(src="planted", prefix="kbc")
        + ",\n"
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(rows)
    )


def q_dim_truncation_recall(k: int = 10) -> str:
    """Mirrors similarity.dim_truncation_recall: per truncation depth d,
    the top-k under cosine over the FIRST d coordinates vs the
    full-dimension exact top-k. cosine_lit_sql over the d-element query
    prefix references exactly elements 1..d — the same truncated cosine
    the Spark slice computes."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.similarity import DIM_TRUNC_LADDER

    ctes = [f"truth AS MATERIALIZED (SELECT vec_id FROM ({q_sim_search_topk(k)}))"]
    rows = []
    for d in DIM_TRUNC_LADDER:
        cos = _V.cosine_lit_sql("embedding", _V.QUERY_VEC[: int(d)])
        top = _topk_sql(
            f"SELECT vec_id, round({cos}, 6) AS cos_sim FROM embeddings", k
        )
        ctes.append(f"top_{d} AS (SELECT vec_id FROM ({top}))")
        rows.append(
            f"""SELECT CAST({d} AS BIGINT) AS dim,
       CAST(count(t.vec_id) AS BIGINT) AS n_overlap,
       {_rd(f'CAST(count(t.vec_id) AS DOUBLE) / {float(k)!r}', 4)} AS recall
FROM top_{d} LEFT JOIN truth t USING (vec_id)"""
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(rows)


def q_quantization_recall() -> str:
    """Mirrors similarity.quantization_recall: exact top-k vs top-k over
    the int8-style quantize→dequantize reconstruction (mn + code·scale,
    identical IEEE op order), overlap at each depth."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.similarity import QUANT_RECALL_KS

    kmax = max(QUANT_RECALL_KS)
    cos_q = _V.cosine_lit_sql("emb_q", _V.QUERY_VEC)
    qtop = _topk_sql(
        f"SELECT vec_id, round({cos_q}, 6) AS cos_sim FROM recon", kmax
    )
    rows = []
    for k in QUANT_RECALL_KS:
        rows.append(
            f"""SELECT CAST({k} AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_overlap,
       {_rd(f'CAST(count(*) AS DOUBLE) / {float(k)!r}', 4)} AS recall
FROM qk JOIN ek USING (vec_id) WHERE rq <= {k} AND re <= {k}"""
        )
    return f"""WITH recon AS MATERIALIZED (
  SELECT vec_id,
         list_transform(v, x -> mn + floor((x - mn) / scale + 0.5) * scale) AS emb_q
  FROM (SELECT vec_id, v, list_min(v) AS mn,
               greatest((list_max(v) - list_min(v)) / 255.0, 1e-12) AS scale
        FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings))
),
qk AS (SELECT vec_id, rank AS rq FROM ({qtop})),
ek AS (SELECT vec_id, rank AS re FROM ({_topk_sql(f"SELECT vec_id, round({_V.cosine_lit_sql('embedding', _V.QUERY_VEC)}, 6) AS cos_sim FROM embeddings", kmax)}))
""" + "\nUNION ALL\n".join(rows)


def q_pca_by_label() -> str:
    from clusterforge_spark.operators.similarity import PCA_POWER_ITERS

    iters = PCA_POWER_ITERS
    parts = [
        """WITH ex AS MATERIALIZED (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS vm
  FROM embeddings
), pairs AS MATERIALIZED (
  SELECT a.label AS label, a.dim AS i, b.dim AS j,
         sum(CAST(a.vm AS HUGEINT) * CAST(b.vm AS HUGEINT)) AS spp
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.dim <= b.dim
  GROUP BY 1, 2, 3
), dims AS MATERIALIZED (
  SELECT label, dim, sum(CAST(vm AS HUGEINT)) AS s, CAST(count(*) AS BIGINT) AS n
  FROM ex GROUP BY label, dim
), cov AS MATERIALIZED (
  SELECT p.label AS label, i, j, si.n * spp - si.s * sj.s AS m
  FROM pairs p
  JOIN dims si ON si.label = p.label AND si.dim = i
  JOIN dims sj ON sj.label = p.label AND sj.dim = j
  UNION ALL
  SELECT p.label, j, i, si.n * spp - si.s * sj.s
  FROM pairs p
  JOIN dims si ON si.label = p.label AND si.dim = i
  JOIN dims sj ON sj.label = p.label AND sj.dim = j
  WHERE i <> j
),
it0 AS (SELECT label, dim, CAST(1000000 AS HUGEINT) AS v FROM dims)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
w{k} AS MATERIALIZED (SELECT c.label AS label, c.i AS dim, sum(c.m * t.v) AS w
  FROM cov c JOIN it{k - 1} t ON c.label = t.label AND c.j = t.dim GROUP BY 1, 2),
mx{k} AS MATERIALIZED (SELECT label, max(abs(w)) AS mx FROM w{k} GROUP BY label),
it{k} AS MATERIALIZED (SELECT w.label AS label, w.dim AS dim,
  CASE WHEN mx = 0 THEN v0.v
       WHEN w < 0 THEN -(((-w) * 1000000) // mx) ELSE (w * 1000000) // mx END AS v
  FROM w{k} w JOIN mx{k} USING (label)
  JOIN it{k - 1} v0 ON v0.label = w.label AND v0.dim = w.dim)"""
        )
    parts.append(
        f""",
sgn AS (SELECT label, CASE WHEN arg_min(v, dim) < 0 THEN -1 ELSE 1 END AS sg
        FROM (SELECT label, dim, v FROM it{iters} WHERE v <> 0) GROUP BY label),
nrm AS (SELECT label, sqrt(CAST(sum(v * v) AS DOUBLE)) AS norm FROM it{iters} GROUP BY label)
SELECT t.label AS label, dim,
       CASE WHEN norm = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE round(CAST(v * sg AS DOUBLE) / norm, 6) END AS loading
FROM it{iters} t JOIN sgn USING (label) JOIN nrm USING (label)"""
    )
    return "".join(parts)


def q_kaplan_meier() -> str:
    """Mirrors operators/relational.kaplan_meier: exact integer risk
    table; each KM factor one double division; running product written
    as exp(Σ ln) on both engines with the explicit zero-factor flag."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.relational import KM_CHURN_DAYS

    surv = _rd(
        "CASE WHEN max(CASE WHEN factor <= 0.0 THEN 1 ELSE 0 END) OVER wc = 1 "
        "THEN 0.0 ELSE exp(sum(ln(greatest(factor, 1e-300))) OVER wc) END",
        4,
    )
    return f"""WITH per AS (
  SELECT o_custkey,
         min(epoch_us(o_orderdate::TIMESTAMP) // 86400000000) AS first_d,
         max(epoch_us(o_orderdate::TIMESTAMP) // 86400000000) AS last_d
  FROM orders GROUP BY o_custkey
), cut AS (SELECT max(last_d) - {KM_CHURN_DAYS} AS cut_d FROM per),
life AS (
  SELECT last_d - first_d AS t,
         CASE WHEN last_d < cut_d THEN 1 ELSE 0 END AS ev
  FROM per, cut
), tbl AS (
  SELECT t, CAST(sum(ev) AS BIGINT) AS d, CAST(sum(1 - ev) AS BIGINT) AS c
  FROM life GROUP BY t
), st AS (
  SELECT t, d, c,
         CAST((SELECT sum(d + c) FROM tbl)
              - coalesce(sum(d + c) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_risk
  FROM tbl
), f AS (
  SELECT t, d, c, n_risk,
         CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
  FROM st
)
SELECT t AS lifetime_days, n_risk, d AS n_events, c AS n_censored,
       {surv} AS survival
FROM f
WINDOW wc AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""


def q_temporal_split() -> str:
    """Mirrors operators/relational.temporal_split: integer-arithmetic
    cutoff day (smallest day whose cumulative count reaches ⌊n·4/5⌋),
    exact DECIMAL revenue per split."""
    from clusterforge_spark.operators.relational import (
        TSPLIT_TRAIN_DEN,
        TSPLIT_TRAIN_NUM,
    )

    return f"""WITH hist AS (
  SELECT epoch_us(o_orderdate::TIMESTAMP) // 86400000000 AS dy,
         count(*) AS cnt
  FROM orders GROUP BY 1
), tot AS (SELECT sum(cnt) AS n_all FROM hist),
cum AS (
  SELECT dy, sum(cnt) OVER (ORDER BY dy) AS cum FROM hist
), cut AS (
  SELECT min(dy) AS cut_d FROM cum, tot
  WHERE cum >= (n_all * {TSPLIT_TRAIN_NUM}) // {TSPLIT_TRAIN_DEN}
)
SELECT CASE WHEN epoch_us(o_orderdate::TIMESTAMP) // 86400000000 <= cut_d
            THEN 'train' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_orders,
       min(strftime(o_orderdate::TIMESTAMP, '%Y-%m-%d')) AS min_date,
       max(strftime(o_orderdate::TIMESTAMP, '%Y-%m-%d')) AS max_date,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
FROM orders, cut
GROUP BY 1"""


def q_market_basket() -> str:
    """Mirrors operators/relational.market_basket: exact integer counts,
    6dp-rounded ratios, total top-k order (lift desc, unique pair key)."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.relational import (
        BASKET_MIN_SUP,
        BASKET_TOP_K,
    )

    sup = _rd("CAST(pcnt AS DOUBLE) / CAST(n_ord AS DOUBLE)", 6)
    conf = _rd("CAST(pcnt AS DOUBLE) / CAST(c1 AS DOUBLE)", 6)
    lift = _rd(
        "CAST(pcnt AS DOUBLE) * CAST(n_ord AS DOUBLE)"
        " / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))",
        6,
    )
    return f"""WITH basket AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_ord FROM basket),
item AS (SELECT pk, count(*) AS icnt FROM basket GROUP BY pk),
pairs AS (
  SELECT a.pk AS p1, b.pk AS p2, count(*) AS pcnt
  FROM basket a JOIN basket b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
  HAVING count(*) >= {BASKET_MIN_SUP}
), enr AS (
  SELECT p1, p2, pcnt, i1.icnt AS c1, i2.icnt AS c2, n_ord
  FROM pairs JOIN item i1 ON i1.pk = p1 JOIN item i2 ON i2.pk = p2
  CROSS JOIN n
)
SELECT p1, p2, CAST(pcnt AS BIGINT) AS n_both,
       {sup} AS support, {conf} AS confidence, {lift} AS lift
FROM enr
ORDER BY lift DESC, p1, p2
LIMIT {BASKET_TOP_K}"""


def q_minmax_scaler() -> str:
    """Mirrors operators/features.minmax_scaler: exact min/max fit,
    range floored at 1e-8, 4dp map output."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    fit = ",\n         ".join(
        f"min({c}) AS {c}_min, greatest(max({c}) - min({c}), 1e-8) AS {c}_rng"
        for c in RFM_COLS
    )
    proj = ", ".join(
        _rd(f"({c} - {c}_min) / {c}_rng", 4) + f" AS {c}_mm" for c in RFM_COLS
    )
    return (
        _chain(rfm_cte())
        + f""",
mm AS (
  SELECT {fit}
  FROM rfm
)
SELECT user_id, {proj}
FROM rfm, mm"""
    )


def q_robust_scaler() -> str:
    """Mirrors operators/features.robust_scaler: exact quantile_cont
    median/IQR fit rounded 6dp, IQR floored 1e-8, 4dp map output."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    fit = ",\n         ".join(
        f"{_rd(f'quantile_cont({c}, 0.5)', 6)} AS {c}_med, "
        f"greatest({_rd(f'quantile_cont({c}, 0.75) - quantile_cont({c}, 0.25)', 6)}, 1e-8)"
        f" AS {c}_iqr"
        for c in RFM_COLS
    )
    proj = ", ".join(
        _rd(f"({c} - {c}_med) / {c}_iqr", 4) + f" AS {c}_rs" for c in RFM_COLS
    )
    return (
        _chain(rfm_cte())
        + f""",
rp AS (
  SELECT {fit}
  FROM rfm
)
SELECT user_id, {proj}
FROM rfm, rp"""
    )


def q_target_encoding() -> str:
    """Mirrors operators/features.target_encoding: DECIMAL-exact spends,
    m-estimate smoothing toward the global mean, 4dp."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.features import TENC_SMOOTHING

    m = f"CAST({TENC_SMOOTHING} AS DOUBLE)"
    mean = _rd("CAST(seg_sum AS DOUBLE) / CAST(n_customers AS DOUBLE)", 4)
    enc = _rd(
        f"(CAST(seg_sum AS DOUBLE) + {m} * (CAST(g_sum AS DOUBLE) / g_n))"
        f" / (CAST(n_customers AS DOUBLE) + {m})",
        4,
    )
    return f"""WITH spend AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
  FROM orders GROUP BY o_custkey
), j AS (
  SELECT c_mktsegment, spend
  FROM spend JOIN customer ON o_custkey = c_custkey
), seg AS (
  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
         sum(spend) AS seg_sum
  FROM j GROUP BY 1
), g AS (
  SELECT sum(spend) AS g_sum, CAST(count(*) AS DOUBLE) AS g_n FROM j
)
SELECT c_mktsegment, n_customers,
       {mean} AS mean_spend,
       {enc} AS encoded
FROM seg CROSS JOIN g"""


def q_wasserstein_by_source() -> str:
    """Mirrors operators/text.wasserstein_length_by_source: exact
    HUGEINT term numerators, one double division per source, 6dp."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    return f"""WITH d AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM d),
ph AS (
  SELECT v, CAST(count(*) AS BIGINT) AS cntp FROM d GROUP BY v
),
pooled AS (
  SELECT v, sum(cntp) OVER (ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cump
  FROM ph
),
shist AS (SELECT source, v, count(*) AS cnts FROM d GROUP BY source, v),
ns AS (SELECT source, CAST(sum(cnts) AS BIGINT) AS n_s FROM shist GROUP BY source),
grid AS (
  SELECT ns.source, ns.n_s, n.n_total, pooled.v, pooled.cump,
         coalesce(shist.cnts, 0) AS cnts
  FROM pooled CROSS JOIN ns CROSS JOIN n
  LEFT JOIN shist ON shist.source = ns.source AND shist.v = pooled.v
),
cdf AS (
  SELECT source, n_s, n_total, v, cump,
         sum(cnts) OVER (PARTITION BY source ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cums,
         lead(v) OVER (PARTITION BY source ORDER BY v) - v AS gap
  FROM grid
),
a AS (
  SELECT source, n_s, n_total,
         sum(abs(CAST(cums AS HUGEINT) * n_total
                 - CAST(cump AS HUGEINT) * n_s) * gap) AS num_sum
  FROM cdf WHERE gap IS NOT NULL
  GROUP BY source, n_s, n_total
)
SELECT source, n_s AS n_docs,
       {_rd('CAST(num_sum AS DOUBLE) / (CAST(n_s AS DOUBLE) * CAST(n_total AS DOUBLE))', 6)} AS w1_len
FROM a"""


def q_quantile_normalize_lengths() -> str:
    """Mirrors operators/text.quantile_normalize_lengths: doubled
    average-ties source ranks, HUGEINT index split, pooled inverse-ECDF
    interpolation, 6dp."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    return f"""WITH d AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS s FROM documents
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM d),
shist AS (SELECT source, s, count(*) AS cnt FROM d GROUP BY source, s),
sc AS (
  SELECT source, s, cnt,
         coalesce(sum(cnt) OVER (PARTITION BY source ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM shist
),
ns AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_s FROM shist GROUP BY source),
r AS (
  SELECT d.doc_id, d.source, d.s,
         CAST(2 * cum + cnt + 1 AS BIGINT) AS r2, n_s, n_total
  FROM d
  JOIN sc ON d.source = sc.source AND d.s = sc.s
  JOIN ns ON d.source = ns.source
  CROSS JOIN n
),
kk AS (
  SELECT *,
         CAST(CAST(n_total - 1 AS HUGEINT) * (r2 - 1) // (2 * n_s) AS BIGINT)
           AS kq,
         CAST(CAST(n_total - 1 AS HUGEINT) * (r2 - 1) % (2 * n_s) AS DOUBLE)
           / CAST(2 * n_s AS DOUBLE) AS frac
  FROM r
),
kx AS (SELECT *, least(kq + 1, n_total - 1) AS kq1 FROM kk),
ph AS (SELECT s, count(*) AS cnt FROM d GROUP BY s),
pc AS (
  SELECT s AS v,
         coalesce(sum(cnt) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo,
         coalesce(sum(cnt) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt AS hi
  FROM ph
),
v0 AS (
  SELECT kx.doc_id, pc.v AS vk FROM kx JOIN pc ON kq >= lo AND kq < hi
),
v1 AS (
  SELECT kx.doc_id, pc.v AS vk1 FROM kx JOIN pc ON kq1 >= lo AND kq1 < hi
)
SELECT kx.doc_id, kx.source, kx.s AS n_chars,
       {_rd('CAST(r2 - 1 AS DOUBLE) / (2.0 * n_s)', 6)} AS src_pct,
       {_rd('CAST(vk AS DOUBLE) + frac * (vk1 - vk)', 6)} AS normalized_len
FROM kx JOIN v0 ON kx.doc_id = v0.doc_id JOIN v1 ON kx.doc_id = v1.doc_id"""


def q_vocab_jaccard_sources() -> str:
    """Mirrors operators/text.vocab_jaccard_sources: shared tokenizer,
    exact set sizes, one 6dp-rounded division."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    toks = _H.tokens_sql("text")
    jac = _rd("CAST(n_inter AS DOUBLE) / CAST(v1 + v2 - n_inter AS DOUBLE)", 6)
    return f"""WITH ex AS (
  SELECT source, unnest({toks}) AS token FROM documents
), vocab AS (
  SELECT DISTINCT source, token FROM ex
), sizes AS (
  SELECT source, count(*) AS vsz FROM vocab GROUP BY source
), inter AS (
  SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS n_inter
  FROM vocab a JOIN vocab b ON a.token = b.token AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s1, s2, n_inter,
       CAST(v1 + v2 - n_inter AS BIGINT) AS n_union,
       {jac} AS jaccard
FROM inter
JOIN (SELECT source AS s1, vsz AS v1 FROM sizes) z1 USING (s1)
JOIN (SELECT source AS s2, vsz AS v2 FROM sizes) z2 USING (s2)"""


def q_kmv_set_ops() -> str:
    """Mirrors operators/sketches.kmv_set_ops WITHOUT the probabilistic
    prefilter (the filter only has to preserve the true bottom-k, so
    any sufficient threshold yields the identical sketch — computing
    bottom-k directly here checks exactly that invariant)."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.sketches import KMV_DOMAIN, KMV_K

    k = KMV_K
    dom = f"CAST('{float(KMV_DOMAIN)!r}' AS DOUBLE)"
    kf = f"CAST({k} AS DOUBLE)"
    est = (
        f"CASE WHEN sz < {k} THEN CAST(sz AS DOUBLE) "
        f"ELSE ({kf} - 1) * {dom} / CAST(hk AS DOUBLE) END"
    )
    u_est = (
        f"CASE WHEN usz < {k} THEN CAST(usz AS DOUBLE) "
        f"ELSE ({kf} - 1) * {dom} / CAST(uhk AS DOUBLE) END"
    )
    return f"""WITH dist AS (
  SELECT DISTINCT event_type AS et,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events
), sk AS (
  SELECT et, h, row_number() OVER (PARTITION BY et ORDER BY h) AS r
  FROM dist QUALIFY r <= {k}
), per AS (
  SELECT et, count(*) AS sz, max(CASE WHEN r = {k} THEN h END) AS hk
  FROM sk GROUP BY et
), pest AS (
  SELECT et, {est} AS est FROM per
), exact AS (
  SELECT et, CAST(count(*) AS BIGINT) AS n_exact FROM dist GROUP BY et
), inter_exact AS (
  SELECT a.et AS s1, b.et AS s2, CAST(count(*) AS BIGINT) AS ix
  FROM dist a JOIN dist b ON a.h = b.h AND a.et < b.et
  GROUP BY 1, 2
), pairs AS (
  SELECT a.et AS s1, b.et AS s2
  FROM (SELECT DISTINCT et FROM sk) a
  JOIN (SELECT DISTINCT et FROM sk) b ON a.et < b.et
), merged AS (
  SELECT DISTINCT s1, s2, h FROM (
    SELECT p.s1, p.s2, s.h FROM pairs p JOIN sk s ON s.et = p.s1
    UNION ALL
    SELECT p.s1, p.s2, s.h FROM pairs p JOIN sk s ON s.et = p.s2
  )
), mk AS (
  SELECT s1, s2, h, row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS r
  FROM merged QUALIFY r <= {k}
), memb AS (
  SELECT m.s1, m.s2, count(*) AS usz,
         max(CASE WHEN m.r = {k} THEN m.h END) AS uhk,
         sum(CASE WHEN ia.h IS NOT NULL AND ib.h IS NOT NULL
                  THEN 1 ELSE 0 END) AS nboth
  FROM mk m
  LEFT JOIN sk ia ON ia.et = m.s1 AND ia.h = m.h
  LEFT JOIN sk ib ON ib.et = m.s2 AND ib.h = m.h
  GROUP BY m.s1, m.s2
), pe AS (
  SELECT s1, s2, {u_est} AS u_est,
         CAST(nboth AS DOUBLE) / CAST(usz AS DOUBLE) * ({u_est}) AS i_est
  FROM memb
)
SELECT pe.s1 AS s1, pe.s2 AS s2,
       {_rd('ea.est', 4)} AS est_a,
       {_rd('eb.est', 4)} AS est_b,
       {_rd('u_est', 4)} AS est_union,
       {_rd('i_est', 4)} AS est_inter,
       xa.n_exact AS exact_a,
       xb.n_exact AS exact_b,
       CAST(xa.n_exact + xb.n_exact - coalesce(ie.ix, 0) AS BIGINT) AS exact_union,
       CAST(coalesce(ie.ix, 0) AS BIGINT) AS exact_inter
FROM pe
JOIN pest ea ON ea.et = pe.s1
JOIN pest eb ON eb.et = pe.s2
JOIN exact xa ON xa.et = pe.s1
JOIN exact xb ON xb.et = pe.s2
LEFT JOIN inter_exact ie ON ie.s1 = pe.s1 AND ie.s2 = pe.s2"""


def q_conformal_interval() -> str:
    """Mirrors operators/validation.conformal_interval: md5 hash split,
    train-mean model, exact calibration order statistic via ORDER
    BY/OFFSET, held-out coverage."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.validation import CONFORMAL_ALPHA

    one_minus = 1.0 - CONFORMAL_ALPHA
    return f"""WITH base AS (
  SELECT o_orderpriority,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y_e2,
         (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT) % 4 AS s
  FROM orders
), model AS (
  SELECT o_orderpriority,
         CAST(sum(y_e2) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS yhat_e2
  FROM base WHERE s <= 1 GROUP BY 1
), scores AS (
  -- score IS NOT NULL: NULL-priced calibration rows carry no
  -- nonconformity signal; both engines exclude them from n_cal AND the
  -- order statistic (validation.conformal_interval filters the same)
  SELECT score FROM (
    SELECT abs(CAST(b.y_e2 AS DOUBLE) - m.yhat_e2) AS score
    FROM base b JOIN model m USING (o_orderpriority) WHERE b.s = 2)
  WHERE score IS NOT NULL
), nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scores),
qh AS (
  -- greatest(...,1): on an EMPTY calibration split the offset clamps
  -- to 0 over zero rows -> qh is empty -> the final comma-join yields
  -- the same zero-row report the Spark side returns
  SELECT score AS qhat FROM scores ORDER BY score
  LIMIT 1 OFFSET (SELECT CAST(greatest(least(ceil((n + 1) * {one_minus!r}), n), 1)
                              AS BIGINT) - 1
                  FROM nc)
), test AS (
  SELECT b.o_orderpriority, b.y_e2, m.yhat_e2
  FROM base b JOIN model m USING (o_orderpriority) WHERE b.s = 3
), agg AS (
  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_test,
         max(yhat_e2) AS yhat_e2,
         CAST(sum(CASE WHEN abs(CAST(y_e2 AS DOUBLE) - yhat_e2)
                            <= (SELECT qhat FROM qh) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_covered
  FROM test GROUP BY 1
)
SELECT o_orderpriority, n_test,
       {_rd('yhat_e2 / 100.0', 4)} AS yhat,
       {_rd('(yhat_e2 - qh.qhat) / 100.0', 4)} AS lo,
       {_rd('(yhat_e2 + qh.qhat) / 100.0', 4)} AS hi,
       n_covered,
       {_rd('CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE)', 4)} AS coverage
FROM agg, qh"""


def q_calibration_bins() -> str:
    """Mirrors operators/validation.calibration_bins: four text
    heuristics → score p = hits/4, label y = (lang='en'); Brier
    numerators (hits − 4y)² are exact integers."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.validation import CALIB_N_SIGNALS

    k = CALIB_N_SIGNALS
    return f"""WITH scored AS (
  SELECT (CASE WHEN strpos(low, ' the ') > 0 THEN 1 ELSE 0 END
        + CASE WHEN strpos(low, ' a ') > 0 THEN 1 ELSE 0 END
        + CASE WHEN strpos(low, 'window') > 0 THEN 1 ELSE 0 END
        + CASE WHEN n_chars > 400 THEN 1 ELSE 0 END
         )::BIGINT AS hits,
         (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS y
  FROM (SELECT lower(text) AS low, lang, n_chars FROM documents)
), per_bin AS (
  SELECT hits, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(sum((hits - {k} * y) * (hits - {k} * y)) AS BIGINT) AS sq_num
  FROM scored GROUP BY hits
)
SELECT hits AS score_bin, n,
       {_rd(f'CAST(hits AS DOUBLE) / {float(k)!r}', 4)} AS mean_score,
       {_rd('CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)', 4)} AS frac_positive,
       {_rd(f'abs(CAST(hits AS DOUBLE) / {float(k)!r} - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))', 4)} AS calibration_gap,
       {_rd(f'CAST(sq_num AS DOUBLE) / ({float(k * k)!r} * CAST(n AS DOUBLE))', 6)} AS brier_bin
FROM per_bin"""


def q_fk_integrity() -> str:
    """Mirrors operators/validation.fk_integrity: per-edge distinct-key
    anti-join orphan audit, exact integer counts."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.validation import FK_EDGES

    parents = {
        "o_orderkey": "orders",
        "s_suppkey": "supplier",
        "c_custkey": "customer",
        "n_nationkey": "nation",
        "r_regionkey": "region",
    }
    children = {
        "l_orderkey": "lineitem",
        "l_suppkey": "lineitem",
        "o_custkey": "orders",
        "c_nationkey": "customer",
        "n_regionkey": "nation",
    }
    parts = []
    pct = _rd("CAST(n_orphan AS DOUBLE) / CAST(n_child AS DOUBLE)", 6)
    for label, ckey, pkey in FK_EDGES:
        ct, pt = children[ckey], parents[pkey]
        parts.append(
            f"""SELECT '{label}' AS edge, n_child, n_null_key, n_orphan,
       {pct} AS orphan_pct
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n_child,
         CAST(count(*) FILTER (WHERE {ckey} IS NULL) AS BIGINT) AS n_null_key,
         CAST(count(*) FILTER (WHERE {ckey} IS NOT NULL AND {ckey} NOT IN
           (SELECT {pkey} FROM {pt})) AS BIGINT) AS n_orphan
  FROM {ct}
)"""
        )
    return "\nUNION ALL\n".join(parts)


def q_longest_streak() -> str:
    """Mirrors operators/relational.longest_streak: epoch-day islands
    via day − row_number per user."""
    return """WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch_us(ts::TIMESTAMP) / 86400000000) AS BIGINT) AS day
  FROM events
),
runs AS (
  SELECT user_id,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM ud
),
r2 AS (
  SELECT user_id, grp, count(*) AS run_len FROM runs GROUP BY user_id, grp
)
SELECT user_id,
       CAST(sum(run_len) AS BIGINT) AS n_active_days,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(max(run_len) AS BIGINT) AS longest_streak
FROM r2 GROUP BY user_id"""


def q_rolling_active_users() -> str:
    """Mirrors operators/relational.rolling_active_users: explode-to-
    spine exact rolling distinct, gap-filled calendar."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    return f"""WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch_us(ts::TIMESTAMP) / 86400000000) AS BIGINT) AS day
  FROM events
),
bounds AS (SELECT min(day) AS mn, max(day) AS mx FROM ud),
spine AS (
  SELECT unnest(generate_series(mn, mx)) AS epoch_day FROM bounds
),
dau AS (
  SELECT day AS epoch_day, CAST(count(*) AS BIGINT) AS dau
  FROM ud GROUP BY day
),
cover AS (
  SELECT epoch_day, CAST(count(*) AS BIGINT) AS wau_7d FROM (
    SELECT DISTINCT user_id,
           unnest(generate_series(day, day + 6)) AS epoch_day
    FROM ud
  ) GROUP BY epoch_day
)
SELECT s.epoch_day,
       coalesce(d.dau, 0) AS dau,
       coalesce(c.wau_7d, 0) AS wau_7d,
       CASE WHEN coalesce(c.wau_7d, 0) > 0
            THEN {_rd('CAST(coalesce(d.dau, 0) AS DOUBLE) / c.wau_7d', 4)}
            ELSE 0.0 END AS stickiness
FROM spine s
LEFT JOIN dau d ON s.epoch_day = d.epoch_day
LEFT JOIN cover c ON s.epoch_day = c.epoch_day"""


def q_returns_rate_by_brand() -> str:
    """Mirrors operators/relational.returns_rate_by_brand: exact e4
    revenue, conditional returned share."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    e4 = (
        "CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * "
        "(100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS HUGEINT)"
    )
    return f"""SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returned,
       {_rd("CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 4)}
         AS return_rate,
       {_rd(f"CAST(sum({e4}) AS DOUBLE) / 10000.0", 2)} AS revenue,
       {_rd(f"CAST(sum(CASE WHEN l_returnflag = 'R' THEN {e4} ELSE CAST(0 AS HUGEINT) END) AS DOUBLE) / 10000.0", 2)}
         AS returned_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand"""


def q_kendall_daily() -> str:
    """Mirrors operators/relational.kendall_daily: exact-integer daily
    series, calendar-bounded all-pairs concordance, tau-b."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    e4 = (
        "CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * "
        "(100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS HUGEINT)"
    )
    return f"""WITH daily AS (
  SELECT CAST(floor(epoch_us(l_shipdate::TIMESTAMP) / 86400000000) AS BIGINT)
           AS day,
         sum({e4}) AS rev,
         sum(CAST(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS HUGEINT))
           AS qty
  FROM lineitem GROUP BY day
),
pairs AS (
  SELECT a.rev AS r1, a.qty AS q1, b.rev AS r2, b.qty AS q2
  FROM daily a JOIN daily b ON a.day < b.day
),
cnt AS (
  SELECT
    CAST(sum(CASE WHEN (r1 < r2 AND q1 < q2) OR (r1 > r2 AND q1 > q2)
                  THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
    CAST(sum(CASE WHEN (r1 < r2 AND q1 > q2) OR (r1 > r2 AND q1 < q2)
                  THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
    CAST(sum(CASE WHEN r1 = r2 AND q1 <> q2 THEN 1 ELSE 0 END) AS BIGINT)
      AS ties_rev,
    CAST(sum(CASE WHEN q1 = q2 AND r1 <> r2 THEN 1 ELSE 0 END) AS BIGINT)
      AS ties_qty,
    CAST(count(*) AS BIGINT) AS n_pairs
  FROM pairs
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
SELECT n_days, n_pairs, concordant, discordant, ties_rev, ties_qty,
       {_rd('CAST(concordant - discordant AS DOUBLE) / sqrt(CAST(concordant + discordant + ties_qty AS DOUBLE) * CAST(concordant + discordant + ties_rev AS DOUBLE))', 6)}
         AS tau_b
FROM cnt CROSS JOIN nd"""


def q_latency_moments() -> str:
    """Mirrors operators/relational.latency_moments: HUGEINT power
    sums, identical IEEE double expressions (sqrt, not pow)."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    mu = "(CAST(s1 AS DOUBLE) / n)"
    r2 = "(CAST(s2 AS DOUBLE) / n)"
    r3 = "(CAST(s3 AS DOUBLE) / n)"
    r4 = "(CAST(s4 AS DOUBLE) / n)"
    m2 = f"({r2} - {mu} * {mu})"
    m3 = f"({r3} - 3 * {mu} * {r2} + 2 * {mu} * {mu} * {mu})"
    m4 = (
        f"({r4} - 4 * {mu} * {r3} + 6 * {mu} * {mu} * {r2}"
        f" - 3 * {mu} * {mu} * {mu} * {mu})"
    )
    return f"""WITH lat AS (
  SELECT o_orderpriority,
         CAST(date_diff('day', o_orderdate::DATE, l_shipdate::DATE) AS HUGEINT)
           AS x
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
s AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n,
         sum(x) AS s1, sum(x * x) AS s2,
         sum(x * x * x) AS s3, sum(x * x * x * x) AS s4
  FROM lat GROUP BY o_orderpriority
)
SELECT o_orderpriority, n,
       {_rd(mu, 6)} AS mean_days,
       {_rd(m2, 6)} AS var_pop,
       {_rd(f'{m3} / ({m2} * sqrt({m2}))', 6)} AS skewness,
       {_rd(f'{m4} / ({m2} * {m2}) - 3', 6)} AS kurtosis_excess
FROM s"""


def q_new_vs_returning() -> str:
    """Mirrors operators/relational.new_vs_returning: first-order month
    per customer, exact cents split."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    return f"""WITH o AS (
  SELECT o_custkey,
         CAST(year(o_orderdate::DATE) * 100 + month(o_orderdate::DATE) AS INTEGER)
           AS ym,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
f AS (SELECT o_custkey, min(ym) AS first_ym FROM o GROUP BY o_custkey),
j AS (
  SELECT o.ym, o.cents, o.ym = f.first_ym AS is_new
  FROM o JOIN f ON o.o_custkey = f.o_custkey
),
a AS (
  SELECT ym,
         CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS n_returning,
         sum(CASE WHEN is_new THEN CAST(cents AS HUGEINT)
                  ELSE CAST(0 AS HUGEINT) END) AS rev_new_c,
         sum(CASE WHEN is_new THEN CAST(0 AS HUGEINT)
                  ELSE CAST(cents AS HUGEINT) END) AS rev_ret_c
  FROM j GROUP BY ym
)
SELECT ym, n_new, n_returning,
       {_rd('CAST(rev_new_c AS DOUBLE) / 100.0', 2)} AS rev_new,
       {_rd('CAST(rev_ret_c AS DOUBLE) / 100.0', 2)} AS rev_returning,
       {_rd('CAST(rev_new_c AS DOUBLE) / (CAST(rev_new_c AS DOUBLE) + CAST(rev_ret_c AS DOUBLE))', 4)}
         AS new_rev_share
FROM a"""


def q_lexical_richness() -> str:
    """Mirrors operators/text.lexical_richness: per-source TTR + hapax
    share over the shared tokenizer."""
    from clusterforge_spark.functions.hashing import tokens_sql
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    toks = tokens_sql("text")
    return f"""WITH ex AS (
  SELECT source, unnest({toks}) AS token FROM documents
),
tc AS (
  SELECT source, token, count(*) AS cnt FROM ex GROUP BY source, token
)
SELECT source,
       CAST(sum(cnt) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       {_rd('CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)', 6)}
         AS type_token_ratio,
       {_rd('CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)', 6)}
         AS hapax_share
FROM tc GROUP BY source"""


def q_feature_hashing() -> str:
    """Mirrors operators/text.feature_hashing: md5-bucket fold
    (sketches._bucket_sql, salt 0) + collision audit."""
    from clusterforge_spark.functions.hashing import tokens_sql
    from clusterforge_spark.operators.sketches import _bucket_sql
    from clusterforge_spark.operators.text import FEATURE_HASH_W

    toks = tokens_sql("text")
    return f"""WITH ex AS (
  SELECT source, unnest({toks}) AS token FROM documents
),
b AS (
  SELECT source, token, {_bucket_sql('token', 0, FEATURE_HASH_W)} AS bucket
  FROM ex
),
pt AS (
  SELECT source, bucket, token, count(*) AS cnt
  FROM b GROUP BY source, bucket, token
)
SELECT source, bucket,
       CAST(sum(cnt) AS BIGINT) AS weight,
       CAST(count(*) AS BIGINT) AS n_distinct_tokens
FROM pt GROUP BY source, bucket"""


# --------------------------------------------------------------------------
# time-series diagnostics family (seasonal-naive MASE, Pettitt, Bollinger,
# Ljung-Box, runs test, Grubbs)
# --------------------------------------------------------------------------

_DAILY_E4 = """daily AS (
  SELECT date_trunc('day', l_shipdate::TIMESTAMP) AS d,
         sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
                  (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                  AS HUGEINT)) AS x_e4
  FROM lineitem GROUP BY 1
)"""


def q_seasonal_naive() -> str:
    """Mirrors operators/relational.seasonal_naive_mase: exact BIGINT
    error sums over positional lags, identical IEEE divisions."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    mae7 = "CAST(s7 AS DOUBLE) / 10000.0 / CAST(n7 AS DOUBLE)"
    mae1 = "CAST(s1 AS DOUBLE) / 10000.0 / CAST(n1 AS DOUBLE)"
    return f"""WITH {_DAILY_E4},
lagged AS (
  SELECT x_e4,
         lag(x_e4, 1) OVER (ORDER BY d) AS l1,
         lag(x_e4, 7) OVER (ORDER BY d) AS l7
  FROM daily
),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         sum(abs(x_e4 - l7)) AS s7, CAST(count(l7) AS BIGINT) AS n7,
         sum(abs(x_e4 - l1)) AS s1, CAST(count(l1) AS BIGINT) AS n1
  FROM lagged
)
SELECT n_days,
       {_rd(mae7, 2)} AS mae_seasonal,
       {_rd(mae1, 2)} AS mae_naive,
       {_rd(f'({mae7}) / ({mae1})', 4)} AS mase
FROM a"""


def q_pettitt_changepoint() -> str:
    """Mirrors operators/relational.pettitt_changepoint: doubled-midrank
    identity, exact BIGINT U_t, double only in the p approximation."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    kk = "CAST(k AS DOUBLE)"
    nn = "CAST(n AS DOUBLE)"
    return f"""WITH {_DAILY_E4},
ties AS (SELECT x_e4 AS v, CAST(count(*) AS BIGINT) AS ties FROM daily GROUP BY 1),
bv AS (
  SELECT d,
         2 * CAST(rank() OVER (ORDER BY x_e4) AS BIGINT) + ties - 1 AS r2
  FROM daily JOIN ties ON x_e4 = v
),
cum AS (
  SELECT d, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t,
         sum(r2) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr2
  FROM bv
),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
u AS (
  SELECT d, n, t * (n + 1) - cr2 AS u_t
  FROM cum CROSS JOIN nc WHERE t < n
),
best AS (SELECT max(abs(u_t)) AS k FROM u),
top AS (SELECT d, n, k FROM u JOIN best ON abs(u_t) = k ORDER BY d LIMIT 1)
SELECT strftime(d, '%Y-%m-%d') AS change_date,
       CAST(k AS BIGINT) AS k_stat,
       {_rd(f'least(1.0, 2.0 * exp(-6.0 * {kk} * {kk} / ({nn} * {nn} * {nn} + {nn} * {nn})))', 6)}
         AS p_approx
FROM top"""


def q_bollinger_breaches() -> str:
    """Mirrors operators/relational.bollinger_breaches: the breach
    predicate is exact HUGEINT arithmetic — no floats anywhere."""
    return f"""WITH {_DAILY_E4},
base AS (
  SELECT d, x_e4,
         count(*) OVER w AS wn,
         sum(x_e4) OVER w AS s,
         sum(x_e4 * x_e4) OVER w AS s2
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
),
f AS (
  SELECT strftime(d, '%Y-%m') AS ym,
         7 * x_e4 - s AS d7,
         4 * (7 * s2 - s * s) AS disc
  FROM base WHERE wn = 7
)
SELECT ym,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(CASE WHEN d7 > 0 AND d7 * d7 > disc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_upper,
       CAST(sum(CASE WHEN d7 < 0 AND d7 * d7 > disc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lower
FROM f GROUP BY ym"""


def q_ljung_box() -> str:
    """Mirrors operators/relational.ljung_box: ACF sufficient-statistics
    shape, Q accumulated left-to-right over k=1..m."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.relational import LJUNG_BOX_LAGS

    lags = range(1, LJUNG_BOX_LAGS + 1)
    devs = ",\n         ".join(
        f"(CAST(lag(x_e4, {k}) OVER (ORDER BY d) AS DOUBLE) - xbar_e4) / 10000.0 AS dev_{k}"
        for k in lags
    )
    nums = ", ".join(f"sum(dev * dev_{k}) AS num_{k}" for k in lags)
    nn = "CAST(n AS DOUBLE)"
    terms = " + ".join(
        f"(num_{k} / den) * (num_{k} / den) / ({nn} - {float(k)!r})" for k in lags
    )
    q = f"{nn} * ({nn} + 2.0) * ({terms})"
    return f"""WITH {_DAILY_E4},
m AS (
  SELECT CAST(sum(x_e4) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS xbar_e4 FROM daily
),
lagged AS (
  SELECT (CAST(x_e4 AS DOUBLE) - xbar_e4) / 10000.0 AS dev,
         {devs}
  FROM daily, m
),
one AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(dev * dev) AS den, {nums} FROM lagged
)
SELECT n AS n_days,
       CAST({LJUNG_BOX_LAGS} AS BIGINT) AS m_lags,
       {_rd(q, 4)} AS q_stat
FROM one"""


def q_runs_test() -> str:
    """Mirrors operators/relational.runs_test: exact lower-median order
    statistic, integer run counts, double only in z."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    n1 = "CAST(n_above AS DOUBLE)"
    n2 = "CAST(n_below AS DOUBLE)"
    nn = f"({n1} + {n2})"
    mu = f"2.0 * {n1} * {n2} / {nn} + 1.0"
    sig2 = f"2.0 * {n1} * {n2} * (2.0 * {n1} * {n2} - {nn}) / ({nn} * {nn} * ({nn} - 1.0))"
    return f"""WITH {_DAILY_E4},
ranked AS (
  SELECT d, x_e4,
         CAST(row_number() OVER (ORDER BY x_e4, d) AS BIGINT) AS pos
  FROM daily
),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM daily),
med AS (
  SELECT x_e4 AS med FROM ranked CROSS JOIN nt WHERE pos = (n_tot + 1) // 2
),
signs AS (
  SELECT d, x_e4 > med AS up FROM daily CROSS JOIN med WHERE x_e4 <> med
),
flips AS (
  SELECT CAST(up AS BIGINT) AS up,
         CASE WHEN lag(up) OVER (ORDER BY d) IS NULL
                   OR lag(up) OVER (ORDER BY d) <> up THEN 1 ELSE 0 END AS new_run
  FROM signs
),
a AS (
  SELECT CAST(sum(up) AS BIGINT) AS n_above,
         CAST(sum(1 - up) AS BIGINT) AS n_below,
         CAST(sum(new_run) AS BIGINT) AS n_runs
  FROM flips
)
SELECT n_above, n_below, n_runs,
       {_rd(f'(CAST(n_runs AS DOUBLE) - ({mu})) / sqrt({sig2})', 4)} AS z_stat
FROM a"""


def q_grubbs_outlier() -> str:
    """Mirrors operators/relational.grubbs_outlier: exact HUGEINT
    sufficient statistics, division-free argmax, double only in G."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd

    nn = "CAST(n AS DOUBLE)"
    g = (
        f"CAST(ndev AS DOUBLE) * sqrt({nn} - 1.0)"
        f" / sqrt({nn} * CAST(n * s2 - s * s AS DOUBLE))"
    )
    return f"""WITH {_DAILY_E4},
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(x_e4) AS s, sum(x_e4 * x_e4) AS s2
  FROM daily
),
wd AS (
  SELECT d, n, s, s2, abs(n * x_e4 - s) AS ndev FROM daily CROSS JOIN st
),
best AS (SELECT max(ndev) AS max_ndev FROM wd),
top AS (
  SELECT d, n, s, s2, ndev FROM wd JOIN best ON ndev = max_ndev ORDER BY d LIMIT 1
)
SELECT strftime(d, '%Y-%m-%d') AS outlier_date,
       n AS n_days,
       {_rd(g, 4)} AS g_stat
FROM top"""


# ---------------------------------------------------------------------------
# streaming replay oracles (r7): each q_stream_*_replay contract entry
# captures its stream through a foreachBatch parquet sink
# (streaming/sessionize.run_stream_*_replay) and its FINAL state is
# recomputed here directly over the same events parquet — the batch
# recomputation a replayed finite stream must converge to.
# ---------------------------------------------------------------------------

def q_stream_hourly_replay() -> str:
    """Mirrors streaming.hourly_user_counts replayed to completion:
    tumbling 1-hour per-user counts (epoch-aligned windows = date_trunc)."""
    return """SELECT user_id,
       epoch_us(date_trunc('hour', ts::TIMESTAMP)) AS hour_start_us,
       CAST(count(*) AS BIGINT) AS events_in_hour,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS value_in_hour
FROM events
GROUP BY 1, 2"""


def q_stream_ewma_replay() -> str:
    """Mirrors streaming.ewma_stream's final per-user snapshot: the same
    recursive fold as q_ewma_per_user (seed = first value by (ts,
    event_id); ewma' = ewma·(1−α) + v·α), deterministically rounded."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.relational import EWMA_ALPHA

    a = repr(EWMA_ALPHA)
    return f"""WITH ord AS (
  SELECT user_id,
         list(value::DOUBLE ORDER BY ts, event_id) AS vs
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(vs) AS BIGINT) AS n_events,
       {_rd(f'CASE WHEN len(vs) = 1 THEN vs[1] ELSE list_reduce(vs, (acc, x) -> acc * (1.0 - {a}) + x * {a}) END', 6)} AS ewma
FROM ord"""


def q_stream_click_attribution_replay(max_gap_minutes: int = 60) -> str:
    """Mirrors streaming.click_purchase_join_stream replayed to
    completion: every click within the gap BEFORE a same-user purchase
    (inner interval join — the stream emits each match as found, so the
    finite replay equals the batch join)."""
    return f"""SELECT p.user_id,
       p.event_id AS purchase_id,
       epoch_us(p.ts::TIMESTAMP) AS purchase_ts_us,
       p.value AS purchase_value,
       c.event_id AS click_id,
       epoch_us(c.ts::TIMESTAMP) AS click_ts_us
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND c.ts::TIMESTAMP BETWEEN p.ts::TIMESTAMP - INTERVAL {max_gap_minutes} MINUTE
                         AND p.ts::TIMESTAMP
WHERE p.event_type = 'purchase' AND c.event_type = 'click'"""


def q_stream_topk_replay(k: int = 3) -> str:
    """Mirrors streaming.run_stream_topk_replay's converged sink:
    per-hour top-k event types (count desc, type asc tie-break)."""
    return f"""WITH h AS (
  SELECT epoch_us(date_trunc('hour', ts::TIMESTAMP)) AS hour_start_us,
         event_type,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), r AS (
  SELECT hour_start_us, event_type, n_events,
         CAST(row_number() OVER (PARTITION BY hour_start_us
              ORDER BY n_events DESC, event_type) AS BIGINT) AS rank
  FROM h
)
SELECT * FROM r WHERE rank <= {k}"""


def q_stream_gap_sessions_replay(gap_minutes: int = 30) -> str:
    """Mirrors streaming.sessionize_gap_stream replayed to completion:
    gap-island sessions (session end = LAST EVENT time, unlike the
    native session window's +gap), minus each user's final still-open
    session. Integer-exact columns only (see the replay wrapper)."""
    gap_us = gap_minutes * 60_000_000
    return f"""WITH g AS (
  SELECT user_id, event_id, ts::TIMESTAMP AS tsu,
         CASE WHEN epoch_us(ts::TIMESTAMP)
                   - lag(epoch_us(ts::TIMESTAMP)) OVER
                     (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
                   > {gap_us} THEN 1 ELSE 0 END AS is_new
  FROM events
),
s AS (
  SELECT user_id, tsu,
         CAST(sum(coalesce(is_new, 0)) OVER
              (PARTITION BY user_id ORDER BY tsu, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM g
),
agg AS (
  SELECT user_id, session_idx,
         epoch_us(min(tsu)) AS session_start_us,
         epoch_us(max(tsu)) AS session_end_us,
         CAST(count(*) AS BIGINT) AS n_events
  FROM s GROUP BY user_id, session_idx
)
SELECT user_id, session_start_us, session_end_us, n_events
FROM agg
WHERE session_idx < (SELECT max(a2.session_idx) FROM agg a2
                     WHERE a2.user_id = agg.user_id)"""


def q_stream_upsert_replay() -> str:
    """Mirrors streaming.run_stream_upsert_replay's converged
    snapshot: per-user last-write-wins view ((user_id, ts) is unique in
    the feed, so arg_max is well-defined)."""
    return """SELECT user_id,
       max(epoch_us(ts::TIMESTAMP)) AS last_ts_us,
       arg_max(value, epoch_us(ts::TIMESTAMP)) AS last_value,
       CAST(count(*) AS BIGINT) AS n_updates
FROM events
GROUP BY user_id"""


def q_kcore() -> str:
    """Mirrors operators/dedup.kcore_peel: KCORE_ROUNDS unrolled peel
    rounds (degree < k vertices removed with their edges) over the
    banded-minhash pair set, then the surviving vertices' residual
    degrees (final mask degree >= k)."""
    from clusterforge_spark.operators.dedup import KCORE_K, KCORE_ROUNDS

    k = KCORE_K
    pairs = q_dedup_minhash_banded()
    # every CTE is MATERIALIZED: each round references the previous
    # round's edges three times — plain CTEs inline, so the unrolled
    # peel would expand exponentially (observed as "too many open
    # files" on the repeated parquet leaves)
    ctes = [f"e0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs)"]
    for r in range(KCORE_ROUNDS):
        ctes.append(
            f"""d{r} AS MATERIALIZED (
  SELECT doc_id, count(*) AS deg FROM (
    SELECT a AS doc_id FROM e{r} UNION ALL SELECT b AS doc_id FROM e{r})
  GROUP BY doc_id
),
k{r} AS MATERIALIZED (SELECT doc_id FROM d{r} WHERE deg >= {k}),
e{r + 1} AS MATERIALIZED (
  SELECT a, b FROM e{r}
  WHERE a IN (SELECT doc_id FROM k{r}) AND b IN (SELECT doc_id FROM k{r})
)"""
        )
    last = f"e{KCORE_ROUNDS}"
    return (
        f"WITH pairs AS MATERIALIZED (\n{pairs}\n),\n"
        + ",\n".join(ctes)
        + f"""
SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
  SELECT a AS doc_id FROM {last} UNION ALL SELECT b AS doc_id FROM {last})
GROUP BY doc_id
HAVING count(*) >= {k}"""
    )


def q_token_budget_mix() -> str:
    """Mirrors operators/text.token_budget_mix: equal per-source integer
    token slices (PCT% of the corpus), greedily filled best-quality
    first (exclusive running token sum under (quality DESC, doc_id));
    the slice-crossing document is included."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.text import MIX_BUDGET_PCT

    quality = q_quality_score()
    return f"""WITH q AS (
{quality}
), scored AS (
  SELECT d.source, q.doc_id, q.n_tokens, q.quality
  FROM q JOIN documents d USING (doc_id)
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
         CAST(count(DISTINCT source) AS BIGINT) AS ns
  FROM scored
), cum AS (
  SELECT source, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY quality DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS before_toks
  FROM scored
), sel AS (
  SELECT c.source, c.n_tokens,
         CAST((t.tot * {MIX_BUDGET_PCT}) // (100 * t.ns) AS BIGINT) AS budget_tokens
  FROM cum c CROSS JOIN tot t
  WHERE c.before_toks < (t.tot * {MIX_BUDGET_PCT}) // (100 * t.ns)
)
SELECT source, budget_tokens,
       CAST(count(*) AS BIGINT) AS n_docs_sel,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens_sel,
       {_rd('CAST(sum(n_tokens) AS DOUBLE) / CAST(budget_tokens AS DOUBLE)', 6)} AS fill_ratio
FROM sel GROUP BY source, budget_tokens"""


def q_token_budget_mix_weighted() -> str:
    """Mirrors operators/text.token_budget_mix_weighted: α=0.5
    temperature-flattened slices — budget_s = (B · floor(√t_s)) div Σw
    in exact integer arithmetic (HUGEINT here, decimal(38,0) in Spark),
    greedy best-quality fill per slice."""
    from clusterforge_spark.functions.rounding import round_det_sql as _rd
    from clusterforge_spark.operators.text import MIX_BUDGET_PCT

    quality = q_quality_score()
    return f"""WITH q AS (
{quality}
), scored AS (
  SELECT d.source, q.doc_id, q.n_tokens, q.quality
  FROM q JOIN documents d USING (doc_id)
), w AS (
  SELECT source,
         CAST(floor(sqrt(CAST(sum(n_tokens) AS DOUBLE))) AS BIGINT) AS wgt
  FROM scored GROUP BY source
), tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM scored),
wtot AS (SELECT CAST(sum(wgt) AS BIGINT) AS wt FROM w),
budgets AS (
  SELECT w.source, w.wgt,
         CAST((CAST(t.tot AS HUGEINT) * {MIX_BUDGET_PCT} // 100)
              * w.wgt // x.wt AS BIGINT) AS budget_tokens
  FROM w CROSS JOIN tot t CROSS JOIN wtot x
), cum AS (
  SELECT source, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY quality DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS before_toks
  FROM scored
), sel AS (
  SELECT c.source, c.n_tokens, b.wgt, b.budget_tokens
  FROM cum c JOIN budgets b USING (source)
  WHERE c.before_toks < b.budget_tokens
)
SELECT source, wgt AS weight, budget_tokens,
       CAST(count(*) AS BIGINT) AS n_docs_sel,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens_sel,
       {_rd('CAST(sum(n_tokens) AS DOUBLE) / CAST(budget_tokens AS DOUBLE)', 6)} AS fill_ratio
FROM sel GROUP BY source, wgt, budget_tokens"""


def q_curation_pipeline() -> str:
    """Mirrors operators/text.curation_pipeline_report: quality gate →
    md5 exact dedup (lowest doc_id survives) → per-source greedy
    token-budget draw over the survivors; per-source funnel counts."""
    from clusterforge_spark.operators.text import (
        FUNNEL_QUALITY_MIN,
        MIX_BUDGET_PCT,
    )

    quality = q_quality_score()
    return f"""WITH q AS (
{quality}
), scored AS (
  SELECT d.source, q.doc_id, q.n_tokens, q.quality, md5(d.text) AS h
  FROM q JOIN documents d USING (doc_id)
), per_raw AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_raw FROM scored GROUP BY source
), passed AS (
  SELECT * FROM scored WHERE quality >= {FUNNEL_QUALITY_MIN!r}
), per_quality AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_quality FROM passed GROUP BY source
), uniq AS (
  SELECT source, doc_id, n_tokens, quality FROM (
    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM passed) WHERE rn = 1
), per_unique AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_unique FROM uniq GROUP BY source
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
         CAST(count(DISTINCT source) AS BIGINT) AS ns
  FROM uniq
), cum AS (
  SELECT source, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY quality DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS before_toks
  FROM uniq
), drawn AS (
  SELECT c.source, c.n_tokens,
         CAST((t.tot * {MIX_BUDGET_PCT}) // (100 * t.ns) AS BIGINT) AS budget_tokens
  FROM cum c CROSS JOIN tot t
  WHERE c.before_toks < (t.tot * {MIX_BUDGET_PCT}) // (100 * t.ns)
), per_budget AS (
  SELECT source, budget_tokens,
         CAST(count(*) AS BIGINT) AS n_selected,
         CAST(sum(n_tokens) AS BIGINT) AS tokens_selected
  FROM drawn GROUP BY source, budget_tokens
)
SELECT r.source, r.n_raw,
       CAST(coalesce(pq.n_quality, 0) AS BIGINT) AS n_quality,
       CAST(coalesce(pu.n_unique, 0) AS BIGINT) AS n_unique,
       CAST(coalesce(pb.n_selected, 0) AS BIGINT) AS n_selected,
       CAST(coalesce(pb.tokens_selected, 0) AS BIGINT) AS tokens_selected,
       CAST(coalesce(pb.budget_tokens, 0) AS BIGINT) AS budget_tokens
FROM per_raw r
LEFT JOIN per_quality pq USING (source)
LEFT JOIN per_unique pu USING (source)
LEFT JOIN per_budget pb USING (source)"""
