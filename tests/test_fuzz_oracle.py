"""Cross-ENGINE fuzz: run_checks (Spark) vs an independent DuckDB oracle on
hostile random tables.

This is the check-semantics invariant. An equivalence between two Spark
implementations can hold while both SHARE a bug (the n_tok `!=` NULL hole
lived in a per-check twin and the fused builder alike, and passed their
equivalence fuzz for four rounds). This module re-derives every
default-suite verdict and violation in DuckDB SQL straight from the
documented semantics (checks/fused.py, checks/core.py, checks/drift.py), so
a Spark-side bug must be independently re-invented in SQL to slip through.
The contract's own oracle comparison (__spark_entry__.oracle_sql) only ever
sees the well-formed sf fixtures; this runs the same cross-engine idea over
the hostile corpus — NULL doc_ids / sources / tokens / n_tok, contradicting
metadata, forced key collisions — plus targeted degenerate frames (all-NULL
value column, single distinct value, single partition, a zscore-failing
outlier partition, empty).

Modeled semantics (partition = source, value = n_tok, allowed = {s1, s2},
λ = 2.0, ignore_diff_rate = 0.1, PSI 10 buckets/thr 0.25, KS thr 0.35):

- column_stats / zscore run on SCRUBBED valid values (cnt = COUNT(n_tok));
  partitions with zero valid values emit NO verdict row (finalize_mean_std
  filters cnt <= 0), and a globally empty/all-NULL value column emits no
  zscore verdicts at all (the baseline frame is empty).
- zscore baseline std: Bessel, cnt==1 → 0.0 (stats.py finalize).
- unique groups NULL keys together (a duplicated NULL doc_id is a
  violation); rows_scanned is the total row count.
- referential: NULL source is a violation (anti-join / IN-NULL falls ELSE).
- n_tok_consistency: NULL-safe equality (one-sided NULL violates, two-sided
  NULL passes).
- PSI self-baseline: fixed-width buckets over the global [min, max]; a NULL
  value lands in bucket 0 (null-skipping greatest — drift.py:_bucket_expr);
  degenerate range (hi == lo, or all-NULL) → everything in bucket 0.
- KS bounded self-route: NULL values carry no mass; an all-NULL partition
  scores NaN, and NaN <= threshold is false (Spark NaN orders greater than
  any double), so it FAILS. Verified here against the dense-grid formula —
  independently re-deriving the one-plan route's gap-endpoint argument.
"""

import math

import duckdb
import pytest

from pyanomalydetector_spark.checks.core import Check, run_checks, default_suite

from test_fuzz_checks import SCHEMA, _random_rows

ALLOWED = ["s1", "s2"]


def _verdicts_sql(seq: str) -> str:
    return f"""
    WITH
    pstat AS (SELECT source, COUNT(n_tok) AS cnt,
                     AVG(CAST(n_tok AS DOUBLE)) AS mh
              FROM {seq} GROUP BY source),
    rows_pp AS (SELECT source, COUNT(*) AS nrows FROM {seq} GROUP BY source),
    cs AS (SELECT source AS partition_id, 'column_stats_n_tok' AS check_id,
                  (cnt >= 1) AS passed,
                  CAST(cnt AS DOUBLE) AS observed,
                  1.0 AS expected, 1.0 AS threshold,
                  CAST(0 AS BIGINT) AS n_violations,
                  CAST(cnt AS BIGINT) AS rows_scanned
           FROM pstat WHERE cnt > 0),
    zb AS (SELECT AVG(CAST(n_tok AS DOUBLE)) AS m,
                  CASE WHEN COUNT(n_tok) > 1
                       THEN COALESCE(STDDEV_SAMP(CAST(n_tok AS DOUBLE)), 0.0)
                       ELSE 0.0 END AS s,
                  COUNT(n_tok) AS bc
           FROM {seq}),
    zs AS (SELECT p.source AS partition_id, 'zscore_n_tok' AS check_id,
                  NOT (ABS(mh - m) > 2.0 * s AND m > 0
                       AND ABS(mh - m) / m > 0.1) AS passed,
                  mh AS observed, m AS expected, 2.0 * s AS threshold,
                  CAST(0 AS BIGINT) AS n_violations,
                  CAST(cnt AS BIGINT) AS rows_scanned
           FROM pstat p, zb WHERE p.cnt > 0 AND zb.bc > 0),
    uqc AS (SELECT source, doc_id, COUNT(*) AS c FROM {seq} GROUP BY 1, 2),
    uq AS (SELECT source AS partition_id, 'unique_doc_id' AS check_id,
                  (nd = 0) AS passed, CAST(nd AS DOUBLE) AS observed,
                  0.0 AS expected, 0.0 AS threshold,
                  CAST(nd AS BIGINT) AS n_violations,
                  CAST(nr AS BIGINT) AS rows_scanned
           FROM (SELECT source, SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS nd,
                        SUM(c) AS nr
                 FROM uqc GROUP BY source)),
    rf AS (SELECT source AS partition_id, 'referential_source' AS check_id,
                  (nb = 0) AS passed, CAST(nb AS DOUBLE) AS observed,
                  0.0 AS expected, 0.0 AS threshold,
                  CAST(nb AS BIGINT) AS n_violations,
                  CAST(nr AS BIGINT) AS rows_scanned
           FROM (SELECT source, COUNT(*) AS nr,
                        SUM(CASE WHEN source IN ('s1', 's2') THEN 0
                            ELSE 1 END) AS nb
                 FROM {seq} GROUP BY source)),
    nt AS (SELECT source AS partition_id, 'n_tok_consistency' AS check_id,
                  (nb = 0) AS passed, CAST(nb AS DOUBLE) AS observed,
                  0.0 AS expected, 0.0 AS threshold,
                  CAST(nb AS BIGINT) AS n_violations,
                  CAST(nr AS BIGINT) AS rows_scanned
           FROM (SELECT source, COUNT(*) AS nr,
                        SUM(CASE WHEN n_tok IS DISTINCT FROM len(tokens)
                            THEN 1 ELSE 0 END) AS nb
                 FROM {seq} GROUP BY source)),
    pb AS (SELECT MIN(CAST(n_tok AS DOUBLE)) AS lo,
                  MAX(CAST(n_tok AS DOUBLE)) AS hi FROM {seq}),
    pbk AS (SELECT source,
                   CASE WHEN lo IS NULL OR hi = lo THEN 0
                        WHEN n_tok IS NULL THEN 0
                        ELSE LEAST(GREATEST(CAST(FLOOR(
                             (CAST(n_tok AS DOUBLE) - lo) / ((hi - lo) / 10))
                             AS BIGINT), 0), 9) END AS b
            FROM {seq}, pb),
    ppc AS (SELECT source, b, COUNT(*) AS c_p FROM pbk GROUP BY 1, 2),
    pgrid AS (SELECT s.source, g.b
              FROM (SELECT DISTINCT source FROM {seq}) s,
                   (SELECT UNNEST(generate_series(0, 9)) AS b) g),
    pj AS (SELECT pgrid.source, pgrid.b, COALESCE(c_p, 0) AS c_p
           FROM pgrid LEFT JOIN ppc
           ON pgrid.source IS NOT DISTINCT FROM ppc.source
              AND pgrid.b = ppc.b),
    pnp AS (SELECT source, SUM(c_p) AS n_p FROM pj GROUP BY source),
    pbc AS (SELECT b, SUM(c_p) AS c_b FROM pj GROUP BY b),
    pnb AS (SELECT SUM(c_p) AS n_base FROM pj),
    ps AS (SELECT pj.source AS partition_id, 'drift_psi_n_tok' AS check_id,
                  (psi <= 0.25) AS passed, psi AS observed,
                  0.25 AS expected, 0.25 AS threshold,
                  CAST(0 AS BIGINT) AS n_violations,
                  CAST(n_p AS BIGINT) AS rows_scanned
           FROM (SELECT pj.source, n_p,
                        SUM(((c_p + 0.5) / (n_p + 5.0)
                             - (c_b + 0.5) / (n_base + 5.0))
                            * LN(((c_p + 0.5) / (n_p + 5.0))
                                 / ((c_b + 0.5) / (n_base + 5.0)))) AS psi
                 FROM pj
                 JOIN pnp ON pj.source IS NOT DISTINCT FROM pnp.source
                 JOIN pbc ON pj.b = pbc.b, pnb
                 GROUP BY pj.source, n_p) pj),
    kvals AS (SELECT DISTINCT CAST(n_tok AS DOUBLE) AS v FROM {seq}
              WHERE n_tok IS NOT NULL),
    kpc AS (SELECT source, CAST(n_tok AS DOUBLE) AS v, COUNT(*) AS c_p
            FROM {seq} WHERE n_tok IS NOT NULL GROUP BY 1, 2),
    kbc AS (SELECT v, SUM(c_p) AS c_b FROM kpc GROUP BY v),
    knb AS (SELECT COUNT(n_tok) AS n_base FROM {seq}),
    kj AS (SELECT g.source, g.v, COALESCE(kpc.c_p, 0) AS c_p, kbc.c_b
           FROM (SELECT s.source, k.v
                 FROM (SELECT DISTINCT source FROM {seq}) s, kvals k) g
           LEFT JOIN kpc ON g.source IS NOT DISTINCT FROM kpc.source
                        AND g.v = kpc.v
           JOIN kbc ON g.v = kbc.v),
    kd AS (SELECT source,
                  MAX(ABS(CAST(cum_p AS DOUBLE) / n_p
                          - CAST(cum_b AS DOUBLE) / n_base)) AS d
           FROM (SELECT kj.source, kj.v,
                        SUM(c_p) OVER (PARTITION BY kj.source
                                       ORDER BY kj.v) AS cum_p,
                        SUM(c_p) OVER (PARTITION BY kj.source) AS n_p,
                        SUM(c_b) OVER (PARTITION BY kj.source
                                       ORDER BY kj.v) AS cum_b,
                        n_base
                 FROM kj, knb)
           WHERE n_p > 0 GROUP BY source),
    ks AS (SELECT s.source AS partition_id, 'drift_ks_n_tok' AS check_id,
                  CASE WHEN kd.d IS NULL THEN FALSE
                       ELSE kd.d <= 0.35 END AS passed,
                  COALESCE(kd.d, CAST('NaN' AS DOUBLE)) AS observed,
                  0.35 AS expected, 0.35 AS threshold,
                  CAST(0 AS BIGINT) AS n_violations,
                  CAST(r.nrows AS BIGINT) AS rows_scanned
           FROM (SELECT DISTINCT source FROM {seq}) s
           LEFT JOIN kd ON s.source IS NOT DISTINCT FROM kd.source
           JOIN rows_pp r ON s.source IS NOT DISTINCT FROM r.source)
    SELECT * FROM cs UNION ALL SELECT * FROM zs UNION ALL SELECT * FROM uq
    UNION ALL SELECT * FROM rf UNION ALL SELECT * FROM nt
    UNION ALL SELECT * FROM ps UNION ALL SELECT * FROM ks
    """


def _violations_sql(seq: str) -> str:
    # zscore violation rows: within FAILING partitions, rows whose value
    # falls outside baseline mean ± λ·σ; the human-facing "expected" string
    # is float-formatted and engine-specific, so it is compared blanked.
    return f"""
    WITH
    zb AS (SELECT AVG(CAST(n_tok AS DOUBLE)) AS m,
                  CASE WHEN COUNT(n_tok) > 1
                       THEN COALESCE(STDDEV_SAMP(CAST(n_tok AS DOUBLE)), 0.0)
                       ELSE 0.0 END AS s,
                  COUNT(n_tok) AS bc
           FROM {seq}),
    zfail AS (SELECT p.source, zb.m, zb.s
              FROM (SELECT source, COUNT(n_tok) AS cnt,
                           AVG(CAST(n_tok AS DOUBLE)) AS mh
                    FROM {seq} GROUP BY source) p, zb
              WHERE p.cnt > 0 AND zb.bc > 0
                AND ABS(mh - m) > 2.0 * s AND m > 0
                AND ABS(mh - m) / m > 0.1)
    SELECT source AS partition_id, 'unique_doc_id' AS check_id, doc_id,
           CAST(c AS VARCHAR) AS observed, '1' AS expected
    FROM (SELECT source, doc_id, COUNT(*) AS c FROM {seq} GROUP BY 1, 2)
    WHERE c > 1
    UNION ALL
    SELECT source, 'referential_source', doc_id, CAST(source AS VARCHAR),
           'member of allowed source set'
    FROM {seq} WHERE NOT COALESCE(source IN ('s1', 's2'), FALSE)
    UNION ALL
    SELECT source, 'n_tok_consistency', doc_id, CAST(n_tok AS VARCHAR),
           CAST(len(tokens) AS VARCHAR)
    FROM {seq} WHERE n_tok IS DISTINCT FROM len(tokens)
    UNION ALL
    SELECT t.source, 'zscore_n_tok', doc_id, CAST(n_tok AS VARCHAR), ''
    FROM {seq} t JOIN zfail f ON t.source IS NOT DISTINCT FROM f.source
    WHERE ABS(CAST(n_tok AS DOUBLE) - f.m) > 2.0 * f.s
    """


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".") or "0"
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def _blank_zscore_expected(rows, cols):
    ic, ie = cols.index("check_id"), cols.index("expected")
    return [tuple("" if (i == ie and r[ic] == "zscore_n_tok") else x
                  for i, x in enumerate(r))
            for r in (tuple(r) for r in rows)]


def _compare(spark, rows, tmp_path, label, suite=None):
    """Assert Spark ≡ DuckDB on ``rows``; return the canonical violations."""
    df = spark.createDataFrame(rows, SCHEMA)
    path = str(tmp_path / f"{label}.parquet")
    df.write.mode("overwrite").parquet(path)

    res = run_checks(spark.read.parquet(path),
                     suite if suite is not None else default_suite(ALLOWED))
    try:
        v_cols = res.verdicts.columns
        s_verd = _canon([tuple(r) for r in res.verdicts.collect()], v_cols)
        w_cols = res.violations.columns
        s_viol = _canon(
            _blank_zscore_expected(
                [tuple(r) for r in res.violations.collect()], w_cols),
            w_cols)
    finally:
        res.unpersist()

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW seq AS SELECT * FROM read_parquet('{path}/*.parquet')")
        vr = con.execute(_verdicts_sql("seq"))
        o_verd = _canon(vr.fetchall(), [d[0] for d in vr.description])
        wr = con.execute(_violations_sql("seq"))
        w_ocols = [d[0] for d in wr.description]
        o_viol = _canon(_blank_zscore_expected(wr.fetchall(), w_ocols),
                        w_ocols)
    finally:
        con.close()

    assert s_verd == o_verd, (
        f"{label}: verdicts diverge\n spark-only: "
        f"{[r for r in s_verd if r not in o_verd][:5]}\n oracle-only: "
        f"{[r for r in o_verd if r not in s_verd][:5]}")
    assert s_viol == o_viol, (
        f"{label}: violations diverge\n spark-only: "
        f"{[r for r in s_viol if r not in o_viol][:5]}\n oracle-only: "
        f"{[r for r in o_viol if r not in s_viol][:5]}")
    return s_viol


@pytest.mark.parametrize("seed", [7, 19, 1031, 40961])
def test_suite_matches_duckdb_on_random_tables(spark, tmp_path, seed):
    _compare(spark, _random_rows(seed), tmp_path, f"seed{seed}")


DEGENERATE = {
    # all-NULL value column: no column_stats/zscore verdicts anywhere, PSI
    # degenerates to the bucket-0 histogram, KS is NaN (fails) per source
    "all_null_ntok": [("d1", [1], None, "s1"), ("d2", None, None, "s1"),
                      ("d3", [2, 3], None, "s2"), ("d4", [], None, None)],
    # single distinct value: degenerate PSI range (hi == lo), zero-width KS
    "single_value": [(f"d{i}", [1, 2, 3], 3, src)
                     for i, src in enumerate(["s1", "s1", "s2", "s3", None])],
    # one partition holds every row (its own verdict must still be judged
    # against the global baseline, which it IS)
    "one_partition": [(f"d{i % 4}", [1] * i, i, "s1") for i in range(9)],
    # a partition whose values are ALL NULL next to healthy ones: it gets
    # unique/referential/ntok/psi/ks verdicts (KS = NaN → fail) but no
    # column_stats/zscore row
    "null_island": [("a", [1, 2], 2, "s1"), ("b", [9], 1, "s1"),
                    ("c", None, None, "s3"), ("d", [4], None, "s3"),
                    ("e", [5, 6], 2, "s2")],
    # one partition fails zscore under the DEFAULT params (λ = 2.0, rate
    # 0.1): global mean 6, σ ≈ 10.2, and s2's mean 30 sits 24 > 2σ away,
    # so both of its rows are zscore violations
    "zscore_outlier": [(f"d{i}", [1, 2], 2, "s1") for i in range(12)]
                      + [(f"o{i}", [7] * 30, 30, "s2") for i in range(2)],
}


@pytest.mark.parametrize("case", sorted(DEGENERATE))
def test_suite_matches_duckdb_on_degenerate_tables(spark, tmp_path, case):
    viol = _compare(spark, DEGENERATE[case], tmp_path, case)
    if case == "zscore_outlier":
        assert any("zscore_n_tok" in r for r in viol)


def test_suite_matches_duckdb_on_empty_table(spark, tmp_path):
    _compare(spark, [], tmp_path, "empty")


# Alternate execution routes must hit the SAME oracle, not just each other
# (salted ≡ unsalted, guarded KS grid ≡ bounded one-plan) — a route ≡ route
# equivalence is one a shared semantic bug satisfies trivially.
ROUTE_OVERRIDES = {
    "salted_unique": ("unique", {"salt_buckets": 4}),
    "guarded_ks": ("drift_ks", {"bounded": False}),
}


def _suite_with(kind: str, extra: dict):
    # bounded=False may stay in params verbatim: the dispatcher reads
    # params.get("bounded", False), so absent and False are identical
    suite = default_suite(ALLOWED)
    out = []
    for c in suite:
        if c.kind == kind:
            params = dict(c.params)
            params.update(extra)
            c = type(c)(c.check_id, c.kind, params)
        out.append(c)
    return out


@pytest.mark.parametrize("route", sorted(ROUTE_OVERRIDES))
def test_route_variants_match_duckdb(spark, tmp_path, route):
    kind, extra = ROUTE_OVERRIDES[route]
    suite = _suite_with(kind, extra)
    _compare(spark, _random_rows(19), tmp_path, f"{route}_r", suite=suite)
    _compare(spark, DEGENERATE["null_island"], tmp_path, f"{route}_n",
             suite=suite)


def test_null_metadata_contradiction_counts(spark, tmp_path):
    """The regression the equivalence fuzz COULDN'T catch: a one-sided NULL
    metadata row must be flagged by n_tok_consistency (both engines agree
    here by construction; this pins the cross-engine fuzz actually covering
    the case that survived four rounds of fused ≡ per-check)."""
    rows = [("a", [1, 2], None, "s1"), ("b", None, 5, "s1"),
            ("c", None, None, "s2"), ("d", [1], 1, "s2")]
    _compare(spark, rows, tmp_path, "null_meta")
    res = run_checks(spark.createDataFrame(rows, SCHEMA),
                     default_suite(ALLOWED))
    try:
        bad = {r["doc_id"] for r in res.violations.collect()
               if r["check_id"] == "n_tok_consistency"}
        assert bad == {"a", "b"}
    finally:
        res.unpersist()


# --------------------------------------------------------------- token_range

_TR_PRED = "t IS NULL OR t < 50 OR t >= 800"
_TR_CHECK = Check("token_range_ids", "token_range",
                  {"min_value": 50, "max_value": 800})


def _token_range_verdicts_sql(seq: str) -> str:
    return f"""
    SELECT source AS partition_id, 'token_range_ids' AS check_id,
           (nb = 0) AS passed, CAST(nb AS DOUBLE) AS observed,
           -- explicit DOUBLE: a bare 0.0 literal is DECIMAL in DuckDB and
           -- only a UNION with a true DOUBLE column would coerce it here
           CAST(0.0 AS DOUBLE) AS expected, CAST(0.0 AS DOUBLE) AS threshold,
           CAST(nb AS BIGINT) AS n_violations,
           CAST(nr AS BIGINT) AS rows_scanned
    FROM (SELECT source, COUNT(*) AS nr,
                 SUM(CASE WHEN tokens IS NOT NULL AND
                     len(list_filter(tokens, t -> {_TR_PRED})) > 0
                     THEN 1 ELSE 0 END) AS nb
          FROM {seq} GROUP BY source)
    """


def _token_range_violations_sql(seq: str) -> str:
    return f"""
    SELECT source AS partition_id, 'token_range_ids' AS check_id, doc_id,
           COALESCE(CAST((list_filter(tokens, t -> {_TR_PRED}))[1]
                         AS VARCHAR), 'NULL') AS observed,
           'token id in [50, 800)' AS expected
    FROM {seq}
    WHERE tokens IS NOT NULL
      AND len(list_filter(tokens, t -> {_TR_PRED})) > 0
    """


@pytest.mark.parametrize("seed", [7, 1031])
@pytest.mark.parametrize("route", ["per_check", "fused"])
def test_token_range_matches_duckdb(spark, tmp_path, seed, route):
    """Cross-engine oracle for token_range on the hostile corpus (NULL
    arrays, NULL elements, out-of-window ids): the fused SQL-string
    predicate must agree with DuckDB's list_filter derivation, both when
    the check runs alone ("per_check") and when it shares its one scan
    with a second check ("fused")."""
    df = spark.createDataFrame(_random_rows(seed), SCHEMA)
    path = str(tmp_path / f"tr_{route}_{seed}.parquet")
    df.write.mode("overwrite").parquet(path)

    suite = [_TR_CHECK]
    if route == "fused":
        suite = suite + [Check("stats", "column_stats", {"value_col": "n_tok"})]
    res = run_checks(spark.read.parquet(path), suite)
    try:
        v_cols = res.verdicts.columns
        s_verd = _canon([tuple(r) for r in res.verdicts.collect()
                         if r["check_id"] == "token_range_ids"], v_cols)
        w_cols = res.violations.columns
        s_viol = _canon([tuple(r) for r in res.violations.collect()
                         if r["check_id"] == "token_range_ids"], w_cols)
    finally:
        res.unpersist()

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW seq AS "
                    f"SELECT * FROM read_parquet('{path}/*.parquet')")
        vr = con.execute(_token_range_verdicts_sql("seq"))
        o_verd = _canon(vr.fetchall(), [d[0] for d in vr.description])
        wr = con.execute(_token_range_violations_sql("seq"))
        o_viol = _canon(wr.fetchall(), [d[0] for d in wr.description])
    finally:
        con.close()

    assert s_verd == o_verd, f"{route}/{seed}: verdicts diverge"
    assert s_viol == o_viol, f"{route}/{seed}: violations diverge"
