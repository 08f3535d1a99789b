"""SQL registration — the analogue of the reference's
``register_json_udfs`` (src/udfs.rs:13-16): one call makes every V_*
function usable from ``spark.sql`` text.

Functions whose query argument is a *literal* (the corpus shape —
``V_SEARCH([0.1, 0.2])``) can't be plain UDFs without losing the native
codegen path, so registration works at two levels:

1. Column-level (``df.select(v_search(...))``) — always native; preferred.
2. SQL-level: lightweight wrappers registered via ``spark.udf.register``
   where the signature allows (scalar in → scalar out).  These are
   implemented as Arrow-batched pandas UDFs so SQL users still avoid
   row-at-a-time Python.
"""

from __future__ import annotations


import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

from qdrant_datafusion_spark.session import session_cached


def _dense_batch(v: pd.Series, q: pd.Series, kernel) -> pd.Series:
    """Run a dense pairwise kernel over an Arrow batch WITHOUT a per-row
    Python loop on the hot path: rows are grouped by (len(v), len(q)) and
    each group is np.stack'ed into matrices for one vectorized kernel
    call.  The common case (fixed-dim column vs one literal query) is a
    single group — two stacks and one BLAS-backed call for the batch."""
    n = len(v)
    out = np.full(n, np.nan, dtype=np.float64)
    mask = np.zeros(n, dtype=bool)
    groups: dict[tuple[int, int], list[int]] = {}
    vl, ql = list(v), list(q)
    for i in range(n):
        a, b = vl[i], ql[i]
        if a is not None and b is not None:
            groups.setdefault((len(a), len(b)), []).append(i)
    for (la, lb), idxs in groups.items():
        ix = np.asarray(idxs)
        A = np.stack([np.asarray(vl[i], dtype=np.float64) for i in idxs])
        B = np.stack([np.asarray(ql[i], dtype=np.float64) for i in idxs])
        out[ix] = kernel(A, B)
        mask[ix] = True
    res = pd.Series(out, dtype="float64")
    res[~mask] = None
    return res


def _cosine_kernel(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    if A.shape[1] != B.shape[1]:
        return np.full(A.shape[0], np.nan)
    na = np.linalg.norm(A, axis=1)
    nb = np.linalg.norm(B, axis=1)
    dot = np.einsum("ij,ij->i", A, B)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where((na == 0.0) | (nb == 0.0), np.nan, dot / (na * nb))


def _dot_kernel(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    if A.shape[1] != B.shape[1]:
        return np.full(A.shape[0], np.nan)
    return np.einsum("ij,ij->i", A, B)


def _euclid_kernel(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    if A.shape[1] != B.shape[1]:
        return np.full(A.shape[0], np.nan)
    d = A - B
    return np.sqrt(np.einsum("ij,ij->i", d, d))


#: combined (row, index) keys fit int64 only while indices < 2^31
_SPARSE_FLAT_MAX_INDEX = np.int64(1) << 31


def _sparse_batch(
    ind: pd.Series, val: pd.Series, qind: pd.Series, qval: pd.Series
) -> pd.Series:
    """Sparse dot over an Arrow batch in ONE vectorized pass: doc and
    query postings get combined keys ``row * 2^32 + index``, the query
    side is sorted once, one global searchsorted matches every doc
    posting against its own row's query, and ``np.add.reduceat`` sums
    products per row.  Indices ≥ 2^31 (combined key would overflow) fall
    back to a per-row NumPy searchsorted — still no Python element loop."""
    n = len(ind)
    out = np.full(n, np.nan, dtype=np.float64)
    valid = np.zeros(n, dtype=bool)
    il, vl, qil, qvl = list(ind), list(val), list(qind), list(qval)
    rows, d_keys, d_vals, q_keys, q_vals = [], [], [], [], []
    big = []
    for i in range(n):
        if il[i] is None or vl[i] is None or qil[i] is None or qvl[i] is None:
            continue
        di = np.asarray(il[i], dtype=np.int64)
        qi = np.asarray(qil[i], dtype=np.int64)
        if len(di) == 0 or len(qi) == 0:  # empty postings: score 0, and
            out[i] = 0.0                  # keeps reduceat offsets in range
            valid[i] = True
            continue
        if di.max() >= _SPARSE_FLAT_MAX_INDEX or qi.max() >= _SPARSE_FLAT_MAX_INDEX:
            big.append(i)
            continue
        base = np.int64(i) << 32
        rows.append(i)
        d_keys.append(base + di)
        d_vals.append(np.asarray(vl[i], dtype=np.float64))
        q_keys.append(base + qi)
        q_vals.append(np.asarray(qvl[i], dtype=np.float64))
    if rows:
        dk = np.concatenate(d_keys)
        dv = np.concatenate(d_vals)
        qk = np.concatenate(q_keys)
        qv = np.concatenate(q_vals)
        order = np.argsort(qk, kind="stable")
        qk, qv = qk[order], qv[order]
        pos = np.searchsorted(qk, dk)
        hit = (pos < len(qk)) & (qk[np.minimum(pos, len(qk) - 1)] == dk)
        prods = np.zeros(len(dk), dtype=np.float64)
        prods[hit] = dv[hit] * qv[pos[hit]]
        offsets = np.cumsum([0] + [len(k) for k in d_keys[:-1]])
        out[np.asarray(rows)] = np.add.reduceat(prods, offsets)
        valid[np.asarray(rows)] = True
    for i in big:  # per-row NumPy fallback for huge index spaces
        di = np.asarray(il[i], dtype=np.int64)
        dv = np.asarray(vl[i], dtype=np.float64)
        qi = np.asarray(qil[i], dtype=np.int64)
        qv = np.asarray(qvl[i], dtype=np.float64)
        order = np.argsort(qi, kind="stable")
        qi, qv = qi[order], qv[order]
        pos = np.searchsorted(qi, di)
        hit = (pos < len(qi)) & (qi[np.minimum(pos, max(len(qi) - 1, 0))] == di)
        out[i] = float(np.dot(dv[hit], qv[pos[hit]])) if len(qi) else 0.0
        valid[i] = True
    res = pd.Series(out, dtype="float64")
    res[~valid] = None
    return res


def _maxsim_batch(mv: pd.Series, q: pd.Series) -> pd.Series:
    """ColBERT MaxSim over an Arrow batch.  Fast path: when every row
    shares one query (the corpus shape — a literal), ALL document token
    matrices concatenate into one (T_total, dim) operand for a single
    GEMM, then ``np.maximum.reduceat`` over per-doc token spans and a
    column sum produce every row's score at once.  Ragged dims or
    per-row queries fall back to one GEMM per row."""
    n = len(mv)
    out = np.full(n, np.nan, dtype=np.float64)
    valid = np.zeros(n, dtype=bool)
    ml, ql = list(mv), list(q)

    def to_mat(x):
        return np.asarray([np.asarray(t, dtype=np.float64) for t in x])

    rows = [
        i
        for i in range(n)
        if ml[i] is not None and ql[i] is not None and len(ml[i]) > 0
    ]
    if not rows:
        return pd.Series(out, dtype="float64")
    q0 = to_mat(ql[rows[0]])
    mats = {i: to_mat(ml[i]) for i in rows}
    same_query = all(
        np.array_equal(q0, to_mat(ql[i])) for i in rows[1:]
    )
    dims_ok = q0.ndim == 2 and all(
        mats[i].ndim == 2 and mats[i].shape[1] == q0.shape[1] for i in rows
    )
    if same_query and dims_ok:
        all_tokens = np.concatenate([mats[i] for i in rows], axis=0)
        S = q0 @ all_tokens.T  # one GEMM for the whole batch
        offsets = np.cumsum([0] + [mats[i].shape[0] for i in rows[:-1]])
        per_doc_max = np.maximum.reduceat(S, offsets, axis=1)
        scores = per_doc_max.sum(axis=0)
        out[np.asarray(rows)] = scores
        valid[np.asarray(rows)] = True
    else:
        for i in rows:
            d = mats[i]
            qm = to_mat(ql[i])
            if d.ndim != 2 or qm.ndim != 2 or d.shape[1] != qm.shape[1]:
                continue
            out[i] = float((qm @ d.T).max(axis=1).sum())
            valid[i] = True
    res = pd.Series(out, dtype="float64")
    res[~valid] = None
    return res


@session_cached
def register_all(spark: SparkSession) -> None:
    """Install SQL-callable versions of the V_* surface on this session.

    Idempotent, and runs once per session: registration parses ~20 DDL
    statements and re-wraps 7 Python UDFs — ~0.3s of driver-side work per
    call (guide §7.3) — so repeat calls on the same session are no-ops."""

    @pandas_udf("double")
    def v_cosine(v: pd.Series, q: pd.Series) -> pd.Series:
        return _dense_batch(v, q, _cosine_kernel)

    @pandas_udf("double")
    def v_dot(v: pd.Series, q: pd.Series) -> pd.Series:
        return _dense_batch(v, q, _dot_kernel)

    @pandas_udf("double")
    def v_euclid(v: pd.Series, q: pd.Series) -> pd.Series:
        return _dense_batch(v, q, _euclid_kernel)

    @pandas_udf("double")
    def v_sparse(ind: pd.Series, val: pd.Series, qind: pd.Series, qval: pd.Series) -> pd.Series:
        return _sparse_batch(ind, val, qind, qval)

    @pandas_udf("double")
    def v_maxsim(mv: pd.Series, q: pd.Series) -> pd.Series:
        return _maxsim_batch(mv, q)

    # V_SEARCH is a Spark 4 SQL-defined function, not a Python UDF: the
    # body inlines into the plan (sequential fold, bit-identical to the
    # Column-level kernel in functions.distance), so SQL callers —
    # including correlated LATERAL subqueries — never cross the Python
    # boundary.  try_divide: zero vectors yield NULL under ANSI mode.
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION V_SEARCH(
            v ARRAY<DOUBLE>, q ARRAY<DOUBLE>)
        RETURNS DOUBLE
        RETURN try_divide(
          aggregate(zip_with(v, q, (x, y) -> x * y),
                    CAST(0.0 AS DOUBLE), (a, x) -> a + x),
          sqrt(aggregate(zip_with(v, v, (x, y) -> x * y),
                         CAST(0.0 AS DOUBLE), (a, x) -> a + x))
          * sqrt(aggregate(zip_with(q, q, (x, y) -> x * y),
                           CAST(0.0 AS DOUBLE), (a, x) -> a + x)))
        """
    )
    spark.udf.register("V_COSINE", v_cosine)
    spark.udf.register("V_DOT", v_dot)
    spark.udf.register("V_EUCLID", v_euclid)
    spark.udf.register("V_SPARSE_SEARCH", v_sparse)
    spark.udf.register("V_COLBERT", v_maxsim)

    # SURVEY §2.10 table-function hook: the Spark-4 Python UDTF form of
    # V_SEARCH — per-partition bounded top-k over a TABLE argument; see
    # functions/table_fns.py for the two-phase top-k scale argument
    from pyspark.sql.functions import udtf as _udtf

    from qdrant_datafusion_spark.functions.table_fns import (
        V_SEARCH_TABLE_SCHEMA,
        VSearchTable,
    )

    spark.udtf.register(
        "V_SEARCH_TABLE",
        _udtf(VSearchTable, returnType=V_SEARCH_TABLE_SCHEMA),
    )

    # SURVEY §2.10 UDAF hook: grouped-aggregate pandas UDF form of the
    # group-centroid computation; see functions/agg_fns.py for the exact
    # fixed-point contract and the 100 TB production-path note
    from qdrant_datafusion_spark.functions.agg_fns import v_centroid

    spark.udf.register("V_CENTROID", v_centroid)

    # V_RANDOM is SQL-defined over native rand() — fully JVM-side, no
    # Python boundary.  Spark rejects SQL UDFs inside Sort, so the
    # corpus's ``ORDER BY V_RANDOM()`` idiom (tests/bin/tests.sql:310-320)
    # is rewritten to bare rand() by sql_dialect.corpus_sql; this
    # registration covers select-list usage in hand-written SQL.

    # the rest of the corpus surface as SQL-defined functions — every body
    # is pure built-in expression, so all of these inline into the plan
    for ddl in _SQL_FUNCTION_DDL:
        spark.sql(ddl)


#: SQL-defined functions completing the corpus's SQL-callable surface
#: (reference tests/bin/tests.sql): distance/radius predicates, JSON field
#: existence, text relevance, geo distance + gaussian decay, random order.
_SQL_FUNCTION_DDL = [
    # V_RANDOM(): native rand(), select-list position (Sort position is
    # rewritten to bare rand() by sql_dialect.corpus_sql)
    """
    CREATE OR REPLACE TEMPORARY FUNCTION V_RANDOM()
    RETURNS DOUBLE
    RETURN rand()
    """,
    # JSON_LENGTH: array element count or object key count (the
    # datafusion-functions-json semantics, reference src/udfs.rs:13-16);
    # scalar/invalid JSON -> NULL.  json_object_keys needs no wrapper —
    # Spark's native shares the reference suite's name.
    """
    CREATE OR REPLACE TEMPORARY FUNCTION JSON_LENGTH(s STRING)
    RETURNS INT
    RETURN coalesce(json_array_length(s), size(json_object_keys(s)))
    """,
    # V_DISTANCE(v, q, metric): lower = closer (cosine -> 1 - similarity)
    """
    CREATE OR REPLACE TEMPORARY FUNCTION V_DISTANCE(
        v ARRAY<DOUBLE>, q ARRAY<DOUBLE>, metric STRING)
    RETURNS DOUBLE
    RETURN CASE metric
      WHEN 'cosine' THEN 1.0 - try_divide(
        aggregate(zip_with(v, q, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, x) -> a + x),
        sqrt(aggregate(zip_with(v, v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, x) -> a + x))
        * sqrt(aggregate(zip_with(q, q, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, x) -> a + x)))
      WHEN 'dot' THEN -aggregate(zip_with(v, q, (x, y) -> x * y),
                                 CAST(0.0 AS DOUBLE), (a, x) -> a + x)
      WHEN 'euclid' THEN sqrt(aggregate(zip_with(v, q, (x, y) -> (x - y) * (x - y)),
                                        CAST(0.0 AS DOUBLE), (a, x) -> a + x))
      WHEN 'manhattan' THEN aggregate(zip_with(v, q, (x, y) -> abs(x - y)),
                                      CAST(0.0 AS DOUBLE), (a, x) -> a + x)
      ELSE CAST(NULL AS DOUBLE) END
    """,
    # V_FUSION(scores, method): the corpus's scalar fusion shape
    # (tests/bin/tests.sql:371; semantics match functions.fusion.v_fusion —
    # scalar 'rrf' sums reciprocal *scores*, true rank-RRF is rrf_fuse)
    """
    CREATE OR REPLACE TEMPORARY FUNCTION V_FUSION(scores ARRAY<DOUBLE>, method STRING)
    RETURNS DOUBLE
    RETURN CASE method
      WHEN 'max' THEN array_max(scores)
      WHEN 'weighted_sum' THEN aggregate(scores, CAST(0.0 AS DOUBLE), (a, x) -> a + x)
      WHEN 'rrf' THEN aggregate(scores, CAST(0.0 AS DOUBLE),
                                (a, x) -> a + 1.0 / (60.0 + x))
      ELSE CAST(NULL AS DOUBLE) END
    """,
    # V_WITHIN(v, q, radius): euclid-radius predicate
    """
    CREATE OR REPLACE TEMPORARY FUNCTION V_WITHIN(
        v ARRAY<DOUBLE>, q ARRAY<DOUBLE>, radius DOUBLE)
    RETURNS BOOLEAN
    RETURN sqrt(aggregate(zip_with(v, q, (x, y) -> (x - y) * (x - y)),
                          CAST(0.0 AS DOUBLE), (a, x) -> a + x)) < radius
    """,
    # HAS_FIELD(payload_json, field)
    """
    CREATE OR REPLACE TEMPORARY FUNCTION HAS_FIELD(payload STRING, field STRING)
    RETURNS BOOLEAN
    RETURN get_json_object(payload, concat('$.', field)) IS NOT NULL
    """,
    # MATCH_TEXT(text, query): token-exact term-overlap relevance in [0,1]
    """
    CREATE OR REPLACE TEMPORARY FUNCTION MATCH_TEXT(text STRING, query STRING)
    RETURNS DOUBLE
    RETURN try_divide(
      CAST(size(array_intersect(
        filter(split(lower(trim(text)), '\\\\s+'), x -> x != ''),
        filter(split(lower(trim(query)), '\\\\s+'), x -> x != ''))) AS DOUBLE),
      CAST(size(array_distinct(
        filter(split(lower(trim(query)), '\\\\s+'), x -> x != ''))) AS DOUBLE))
    """,
    # V_GEO_DISTANCE(lat1, lon1, lat2, lon2): haversine meters
    """
    CREATE OR REPLACE TEMPORARY FUNCTION V_GEO_DISTANCE(
        lat1 DOUBLE, lon1 DOUBLE, lat2 DOUBLE, lon2 DOUBLE)
    RETURNS DOUBLE
    RETURN 2.0 * 6371000.0 * asin(sqrt(
      pow(sin(radians(lat2 - lat1) / 2), 2)
      + cos(radians(lat1)) * cos(radians(lat2))
        * pow(sin(radians(lon2 - lon1) / 2), 2)))
    """,
    # V_GAUSS_DECAY(distance, scale) -> (0, 1]
    """
    CREATE OR REPLACE TEMPORARY FUNCTION V_GAUSS_DECAY(d DOUBLE, scale DOUBLE)
    RETURNS DOUBLE
    RETURN exp(-(d * d) / (2.0 * scale * scale))
    """,
    # V_MEAN_VEC: elementwise mean of a vector list (NULL/empty -> NULL)
    """
    CREATE OR REPLACE TEMPORARY FUNCTION V_MEAN_VEC(vs ARRAY<ARRAY<DOUBLE>>)
    RETURNS ARRAY<DOUBLE>
    RETURN CASE WHEN vs IS NULL OR size(vs) = 0 THEN CAST(NULL AS ARRAY<DOUBLE>)
    ELSE transform(
      aggregate(vs, transform(element_at(vs, 1), x -> CAST(0.0 AS DOUBLE)),
                (acc, p) -> zip_with(acc, p, (a, b) -> a + b)),
      x -> x / CAST(size(vs) AS DOUBLE))
    END
    """,
    # V_RECOMMEND(v, positives, negatives): cosine vs avg(pos) - avg(neg);
    # NULL/empty negatives tolerated (edge case tests/bin/tests.sql:395-398)
    """
    CREATE OR REPLACE TEMPORARY FUNCTION V_RECOMMEND(
        v ARRAY<DOUBLE>, pos ARRAY<ARRAY<DOUBLE>>, neg ARRAY<ARRAY<DOUBLE>>)
    RETURNS DOUBLE
    RETURN V_SEARCH(v,
      CASE WHEN V_MEAN_VEC(neg) IS NULL THEN V_MEAN_VEC(pos)
           ELSE zip_with(V_MEAN_VEC(pos), V_MEAN_VEC(neg), (a, b) -> a - b) END)
    """,
    # V_DISCOVER(v, target, ctx_vectors, ctx_weights): cosine vs
    # target + SUM w_i * ctx_i  (tests/bin/tests.sql:121-137)
    """
    CREATE OR REPLACE TEMPORARY FUNCTION V_DISCOVER(
        v ARRAY<DOUBLE>, target ARRAY<DOUBLE>,
        ctxs ARRAY<ARRAY<DOUBLE>>, ws ARRAY<DOUBLE>)
    RETURNS DOUBLE
    RETURN V_SEARCH(v,
      CASE WHEN ctxs IS NULL OR size(ctxs) = 0 THEN target
      ELSE aggregate(arrays_zip(ctxs, ws), target,
                     (acc, e) -> zip_with(acc, e.ctxs, (a, b) -> a + e.ws * b))
      END)
    """,
    # ------------------------------------------------------------------
    # Named typed-getter aliases of the reference's registered
    # datafusion-functions-json suite (reference src/udfs.rs:13-16), so
    # SQL written against the reference runs verbatim by function NAME.
    # `key` accepts a bare key or a dotted path ('address.city');
    # try_cast -> NULL (never error) on type mismatch, matching the
    # suite's lenient getters.  json_object_keys and JSON_LENGTH (above)
    # complete the suite.
    """
    CREATE OR REPLACE TEMPORARY FUNCTION JSON_GET_STR(s STRING, key STRING)
    RETURNS STRING
    RETURN get_json_object(s, concat('$.', key))
    """,
    """
    CREATE OR REPLACE TEMPORARY FUNCTION JSON_GET_INT(s STRING, key STRING)
    RETURNS BIGINT
    RETURN try_cast(get_json_object(s, concat('$.', key)) AS BIGINT)
    """,
    """
    CREATE OR REPLACE TEMPORARY FUNCTION JSON_GET_FLOAT(s STRING, key STRING)
    RETURNS DOUBLE
    RETURN try_cast(get_json_object(s, concat('$.', key)) AS DOUBLE)
    """,
    """
    CREATE OR REPLACE TEMPORARY FUNCTION JSON_GET_BOOL(s STRING, key STRING)
    RETURNS BOOLEAN
    RETURN try_cast(get_json_object(s, concat('$.', key)) AS BOOLEAN)
    """,
    # ->> : value as text (strings unquoted — get_json_object's behavior)
    """
    CREATE OR REPLACE TEMPORARY FUNCTION JSON_AS_TEXT(s STRING, key STRING)
    RETURNS STRING
    RETURN get_json_object(s, concat('$.', key))
    """,
    # key/path existence (JSON null at the path reads as absent, the
    # same idiom the reference's json_get-based HAS_FIELD uses)
    """
    CREATE OR REPLACE TEMPORARY FUNCTION JSON_CONTAINS(s STRING, key STRING)
    RETURNS BOOLEAN
    RETURN get_json_object(s, concat('$.', key)) IS NOT NULL
    """,
    # the value re-encoded AS JSON text (strings re-quoted, objects and
    # arrays as JSON) — get_json_object can't express this (it unquotes
    # scalars), but the Spark 4 variant path re-encodes exactly:
    # parse once -> extract the variant at the path -> to_json.
    # try_parse_json, not parse_json: malformed input must yield NULL
    # like every sibling getter, never a runtime error.
    """
    CREATE OR REPLACE TEMPORARY FUNCTION JSON_GET_JSON(s STRING, key STRING)
    RETURNS STRING
    RETURN to_json(try_variant_get(try_parse_json(s), concat('$.', key), 'variant'))
    """,
]
