"""The fused builder (checks/fused.py) on hostile inputs: SQL-string
injection, hostile column names, constructed tag collisions.

The builder is the only executor of the fusible kinds, so the ground truth
here is a RENAME check: the same suite with plain check ids and plain
column names, over the frame with its columns renamed back, must yield the
same verdicts and violations once the check ids are mapped back. Check
semantics themselves are pinned against DuckDB (tests/test_fuzz_oracle.py).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyanomalydetector_spark.sources.sequences import load_sequences
from pyanomalydetector_spark.checks.core import Check, run_checks


@pytest.fixture(scope="module")
def seq(spark, sf_dir):
    return load_sequences(spark, sf_dir).persist()


def _allowed(seq):
    return sorted(r["source"] for r in seq.select("source").distinct()
                  .filter(F.col("source").rlike("^src[0-9]+$")).collect())


def _norm_verdicts(df):
    return sorted(
        (r["partition_id"], r["check_id"], r["passed"],
         round(r["observed"], 6) if r["observed"] is not None else None,
         round(r["expected"], 6) if r["expected"] is not None else None,
         round(r["threshold"], 6) if r["threshold"] is not None else None,
         r["n_violations"], r["rows_scanned"])
        for r in df.collect())


def _norm_violations(df):
    return sorted(tuple(r) for r in df.collect())


def _run_rename_checked(df, suite, names):
    """Run ``suite`` over ``df`` and assert it agrees with its plain twin:
    check ids ``c0, c1, ...`` and every hostile name (column names, allowed
    members) replaced via ``names``, over ``df`` with its columns renamed
    the same way. Returns the hostile run's result."""
    def plain(v):
        if isinstance(v, list):
            return [plain(x) for x in v]
        return names.get(v, v) if isinstance(v, str) else v

    plain_suite = [Check(f"c{i}", c.kind,
                         {k: plain(v) for k, v in c.params.items()})
                   for i, c in enumerate(suite)]
    ids = {f"c{i}": c.check_id for i, c in enumerate(suite)}
    plain_df = df
    for col in df.columns:
        if col in names:
            plain_df = plain_df.withColumnRenamed(col, names[col])

    def unmap(rows):
        return sorted((r[0], ids[r[1]], *r[2:]) for r in rows)

    res = run_checks(df, suite)
    twin = run_checks(plain_df, plain_suite)
    try:
        assert _norm_verdicts(res.verdicts) == \
            unmap(_norm_verdicts(twin.verdicts))
        assert _norm_violations(res.violations) == \
            unmap(_norm_violations(twin.violations))
    finally:
        twin.unpersist()
    return res


def test_fused_zscore_failing_partition_emits_row_violations(seq):
    """λ = 0.01 makes every partition whose mean differs from the global
    one fail; its rows outside mean ± λ·σ are the violations. Expected set
    recomputed with numpy (Bessel std over the non-NULL values)."""
    lam = 0.01
    suite = [Check("z", "zscore_threshold",
                   {"value_col": "n_tok", "lambda": lam,
                    "ignore_diff_rate": 0.0})]
    rows = [(r["source"], r["doc_id"], r["n_tok"])
            for r in seq.select("source", "doc_id", "n_tok").collect()]
    vals = np.array([v for _, _, v in rows if v is not None], dtype=float)
    m, s = vals.mean(), vals.std(ddof=1)
    failing = set()
    for src in {p for p, _, _ in rows}:
        mh = np.mean([v for p, _, v in rows if p == src and v is not None])
        if abs(mh - m) > lam * s and m > 0 and abs(mh - m) / m > 0.0:
            failing.add(src)
    want = sorted((p, d) for p, d, v in rows
                  if p in failing and v is not None and abs(v - m) > lam * s)

    res = run_checks(seq, suite)
    try:
        got = sorted((r["partition_id"], r["doc_id"])
                     for r in res.violations.collect())
        assert failing and got == want
        verd = {r["partition_id"]: r["passed"] for r in res.verdicts.collect()}
        assert {p for p, ok in verd.items() if not ok} == failing
    finally:
        res.unpersist()


def test_unique_salted_equals_direct(seq):
    from pyanomalydetector_spark.checks.core import Check, run_checks
    direct = run_checks(seq, [Check("u", "unique", {"key": "doc_id"})])
    salted = run_checks(seq, [Check("u", "unique",
                                    {"key": "doc_id", "salt_buckets": 8})])
    assert _norm_verdicts(direct.verdicts) == _norm_verdicts(salted.verdicts)
    assert _norm_violations(direct.violations) == _norm_violations(salted.violations)


def test_fused_sql_strings_survive_quoted_identifiers(seq):
    """The fused builder emits SQL STRINGS, so quote-bearing check ids and
    allowed-set members are an injection surface: a check_id like
    "o'brien", an allowed value with a quote, and a float literal that must
    round-trip exactly. None of it may change a verdict or violation."""
    allowed = _allowed(seq) + ["it's-a-source", "x''y"]
    suite = [
        Check("o'brien \"stats\"", "column_stats",
              {"value_col": "n_tok", "min_count": 2}),
        Check("z; DROP TABLE--", "zscore_threshold",
              {"value_col": "n_tok", "lambda": 0.7300000000000001,
               "ignore_diff_rate": 0.1}),
        Check("ref'd", "referential", {"column": "source", "allowed": allowed}),
        Check("psi ± π", "drift_psi",
              {"value_col": "n_tok", "buckets": 7, "threshold": 0.25}),
        Check("n't", "n_tok_consistency", {}),
    ]
    res = _run_rename_checked(seq, suite, {"it's-a-source": "extra_a",
                                           "x''y": "extra_b"})
    res.unpersist()


def test_fused_hostile_value_col_names(seq):
    """Generated aliases used to embed the raw value_col name
    (``m_{vc}_sum``, ``_lo_{vc}``) — a name with spaces/dashes failed to
    parse. Now tags come from _ctag(); also pin that two names with the SAME
    word-character skeleton ("v 1" vs "v-1" → both "v1") do not collide on
    one moment tag."""
    df = (seq.withColumnRenamed("n_tok", "n tok ±")
             .withColumn("v 1", F.expr("`n tok ±` + 1"))
             .withColumn("v-1", F.expr("`n tok ±` * 2")))
    suite = [
        Check("stats-sp", "column_stats", {"value_col": "n tok ±",
                                           "min_count": 2}),
        Check("z-sp", "zscore_threshold",
              {"value_col": "n tok ±", "lambda": 0.7,
               "ignore_diff_rate": 0.0}),
        Check("psi-sp", "drift_psi",
              {"value_col": "n tok ±", "buckets": 5, "threshold": 0.25}),
        Check("stats-v1a", "column_stats", {"value_col": "v 1"}),
        Check("stats-v1b", "column_stats", {"value_col": "v-1"}),
        Check("z-v1a", "zscore_threshold",
              {"value_col": "v 1", "lambda": 0.5, "ignore_diff_rate": 0.0}),
        Check("z-v1b", "zscore_threshold",
              {"value_col": "v-1", "lambda": 0.5, "ignore_diff_rate": 0.0}),
    ]
    res = _run_rename_checked(df, suite, {"n tok ±": "x0", "v 1": "x1",
                                          "v-1": "x2"})
    # the two skeleton-colliding columns must have produced DIFFERENT stats
    obs = {r["check_id"]: r["observed"]
           for r in res.verdicts.collect() if r["check_id"].startswith("z-v1")}
    assert obs["z-v1a"] != obs["z-v1b"]
    res.unpersist()


def test_fused_constructed_tag_collision(seq):
    """The deterministic _ctag collision: a pure-word-char column literally
    named '<skel>_<md5prefix>' OF another hostile column produces _ctag's
    exact output for that column. Pre-_tag_map, both checks silently shared
    ONE set of moment aggregates (the second read the first's mean/std —
    wrong verdicts, no error). The per-suite injective map must keep them
    apart; plain column names (no tags to collide) are the ground truth."""
    import hashlib
    evil = "v1_" + hashlib.md5(b"v 1").hexdigest()[:8]   # == _ctag("v 1")
    df = (seq.withColumn("v 1", F.expr("n_tok + 1"))
             .withColumn(evil, F.expr("CAST(n_tok * 100 AS DOUBLE)")))
    suite = [
        Check("s-sp", "column_stats", {"value_col": "v 1"}),
        Check("s-ev", "column_stats", {"value_col": evil}),
        Check("z-sp", "zscore_threshold",
              {"value_col": "v 1", "lambda": 0.5, "ignore_diff_rate": 0.0}),
        Check("z-ev", "zscore_threshold",
              {"value_col": evil, "lambda": 0.5, "ignore_diff_rate": 0.0}),
    ]
    res = _run_rename_checked(df, suite, {"v 1": "x1", evil: "x2"})
    obs = {r["check_id"]: r["observed"] for r in res.verdicts.collect()
           if r["check_id"].startswith("z-")}
    assert obs["z-sp"] != obs["z-ev"]   # distinct columns, distinct stats
    res.unpersist()


def test_fused_backtick_column_name(spark):
    """A column literally named with a backtick must resolve to ITSELF:
    _bt escapes by doubling (VERDICT r04 nit — stripping rewrote a`b → ab,
    silently reading the wrong column)."""
    df = spark.createDataFrame(
        [("a", [1], 1, "s1", 10.0, 99.0), ("b", [2], 2, "s1", 20.0, 99.0),
         ("c", [3], 3, "s2", 30.0, 99.0), ("d", [4], 4, "s2", 40.0, 99.0)],
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "`x``tick` double, ab double")
    res = _run_rename_checked(
        df, [Check("bt", "column_stats", {"value_col": "x`tick",
                                          "min_count": 1})],
        {"x`tick": "xtick"})
    rows = {r["partition_id"]: r for r in res.verdicts.collect()}
    # the decoy column `ab` (what backtick-STRIPPING would resolve to) has
    # value 99.0 everywhere; x`tick has 2 non-null values per partition
    assert rows["s1"]["rows_scanned"] == 2 and rows["s2"]["rows_scanned"] == 2
    assert all(r["passed"] for r in rows.values())
    res.unpersist()
