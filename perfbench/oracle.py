"""Output checks, run outside every timed window.

- ``verdict_rows`` / ``violation_sums``: order-insensitive fingerprints of
  a result; the workloads build their output digest from them.
- ``check_counts``: the baseline-independent checks of the default suite
  (``unique_doc_id``, ``referential_source``, ``n_tok_consistency``) emit
  as many violation rows per partition as
  ``__spark_entry__._suite_verdicts_sql`` counts in DuckDB over the same
  parquet.
- ``check_suite_verdicts``: the resumed checkpoint run's verdicts equal
  ``__spark_entry__._suite_verdicts_sql`` (baseline pinned from the first
  half of the partitions) evaluated by DuckDB.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

import __spark_entry__ as entry

_TOL = 2e-6   # ROUND(x, 6) may differ by one unit in the last place
_BASELINE_FREE = ("unique_doc_id", "referential_source", "n_tok_consistency")


def _scan(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def verdict_rows(verdicts) -> list[tuple]:
    """Sorted ``(partition_id, check_id, passed, observed, n_violations)``;
    ``observed`` is rounded to 6 decimals so summation order cannot change
    it."""
    return sorted(
        (r["partition_id"], r["check_id"], bool(r["passed"]),
         None if r["observed"] is None else round(r["observed"], 6),
         int(r["n_violations"]))
        for r in verdicts.select("partition_id", "check_id", "passed",
                                 "observed", "n_violations").collect())


def violation_sums(violations) -> tuple:
    """Sorted ``(check_id, partition_id, rows, hash-sum of the rows)``."""
    return tuple(sorted(
        (r["check_id"], r["partition_id"], int(r["n"]), int(r["h"]))
        for r in violations.groupBy("check_id", "partition_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("doc_id", "observed", "expected")
                  .cast("decimal(38,0)")).alias("h")).collect()))


def _oracle_verdicts(path: str) -> list[tuple]:
    """``(partition_id, check_id, passed, observed, n_violations)`` rows of
    ``_suite_verdicts_sql`` evaluated by DuckDB over the fixture."""
    with duckdb.connect() as con:
        return con.execute(entry._suite_verdicts_sql(_scan(path))).fetchall()


def check_counts(path: str, violations: tuple) -> list[str]:
    """Mismatches between :func:`violation_sums` and the per-partition
    ``n_violations`` that ``_suite_verdicts_sql`` gives the
    baseline-independent checks (one violation row per duplicated key or
    bad row)."""
    got = {(c, p): n for c, p, n, _ in violations}
    errors = []
    for source, check_id, _, _, n in _oracle_verdicts(path):
        if check_id in _BASELINE_FREE and got.get((check_id, source), 0) != n:
            errors.append(f"{check_id}/{source}: "
                          f"{got.get((check_id, source), 0)} violation "
                          f"rows, DuckDB counts {n}")
    return errors[:10]


def check_suite_verdicts(path: str, verdicts: list[tuple]) -> list[str]:
    """Mismatches between :func:`verdict_rows` of the resumed run and the
    pinned-baseline oracle."""
    want = {(p, c): (bool(ok), obs, int(n))
            for p, c, ok, obs, n in _oracle_verdicts(path)}
    got = {(p, c): (ok, obs, n) for p, c, ok, obs, n in verdicts}
    errors = []
    if got.keys() != want.keys():
        errors.append(f"verdict keys differ: {len(got)} rows, DuckDB "
                      f"{len(want)}")
    for key in sorted(got.keys() & want.keys()):
        (ok, obs, n), (wok, wobs, wn) = got[key], want[key]
        same_obs = (obs is None and wobs is None) or (
            obs is not None and wobs is not None
            and abs(obs - float(wobs)) <= _TOL)
        if ok != wok or n != wn or not same_obs:
            errors.append(f"{key}: {got[key]} != DuckDB {want[key]}")
    return errors[:10]
