"""The benchmark's workloads: one closed-loop iteration protocol each.

Both drive the engine only through its public entry points, called through
their modules so a traced run sees them: ``checks.core.run_checks`` +
``CheckResult.materialize``, and ``plans.checkpoint.CheckpointStore`` +
``run_with_checkpoint``.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow.dataset as ds
from pyspark.sql import functions as F

import __spark_entry__ as entry
from pyanomalydetector_spark.checks import core
from pyanomalydetector_spark.plans import checkpoint

import oracle


@dataclass(frozen=True)
class Size:
    rows: int        # base rows; every 97th is appended once more
    sources: int     # src0..src<n-1>, plus src_unknown
    files: int       # parquet part files (scan splits)


@dataclass
class Outcome:
    wall: float                   # seconds, the timed protocol only
    t_end: float                  # perf_counter() when it returned
    verdict_rows: int
    violation_rows: int
    digest: tuple | None = None   # None: not a reference for later runs
    extra: dict = field(default_factory=dict)    # per-layer work counts
    iteration: str = ""                          # span iteration id


class SuiteWorkload:
    """``default_suite`` over the whole table: ``run_checks`` through the
    return of ``materialize()``."""

    def __init__(self, spark, path: str, scratch: str):
        self.spark = spark
        self.path = path
        self.df = spark.read.parquet(path)
        self.suite = core.default_suite(entry._allowed_sources(self.df))
        self.rows = ds.dataset(path).count_rows()

    def run(self, checks=None, on_timed=None, digest=True) -> Outcome:
        """One iteration. ``on_timed`` is called as soon as the timed
        protocol returns, before the output digest runs its own jobs."""
        t0 = time.perf_counter()
        res = core.run_checks(self.df, self.suite if checks is None else checks)
        nv, nw = res.materialize()
        t_end = time.perf_counter()
        if on_timed:
            on_timed()
        return Outcome(t_end - t0, t_end, nv, nw,
                       digest=self.digest(res, nv, nw) if digest else None)

    def digest(self, res, nv: int, nw: int) -> tuple:
        """Result counts plus the violation rows' fingerprint. Collecting
        the verdicts too would re-run their whole union, about as long as
        an iteration on a 4-core host; the checkpoint workload, whose
        verdicts are read back from parquet, checks them instead."""
        return nv, nw, oracle.violation_sums(res.violations)

    def warm_up(self) -> Outcome:
        """The untimed first iteration. It computes no digest: the first
        timed iteration's output is checked and is the reference."""
        return self.run(digest=False)

    def check(self, out: Outcome) -> list[str]:
        return oracle.check_counts(self.path, out.digest[2])


class CheckpointWorkload(SuiteWorkload):
    """The ``seq_checkpoint_resume`` protocol. Set-up runs the cold call:
    ``run_with_checkpoint`` over the first half of the sorted partitions
    computes and saves the baseline and writes verdicts, violations and
    lineage into a store. Each iteration copies that store (untimed) and
    times the resume over the full table: it loads the baseline, skips the
    done half, validates the rest, and reads every result back. Set-up
    also counts what the cold call reads back, so the read-back plans have
    run once before any timed iteration."""

    def __init__(self, spark, path: str, scratch: str):
        super().__init__(spark, path, scratch)
        self.scratch = scratch
        parts = sorted(set(ds.dataset(path).to_table(columns=["source"])
                           .column("source").to_pylist()))
        self.pending = set(parts[len(parts) // 2:])
        self.half_df = self.df.filter(
            F.col("source").isin(parts[: len(parts) // 2]))
        self.cold_store = os.path.join(scratch, "store0")
        self._n = 0

    def warm_up(self) -> Outcome:
        """The cold call, then the count of the results it reads back."""
        store = checkpoint.CheckpointStore(self.spark, self.cold_store)
        t0 = time.perf_counter()
        res = checkpoint.run_with_checkpoint(self.half_df, self.suite, store)
        cold_s = time.perf_counter() - t0
        nv, nw = res.verdicts.count(), res.violations.count()
        t_end = time.perf_counter()
        return Outcome(t_end - t0, t_end, nv, nw,
                       extra={"cold_call_s": cold_s})

    def run(self, checks=None, on_timed=None, digest=True) -> Outcome:
        if checks is not None:
            return super().run(checks, on_timed, digest)
        self._n += 1
        store_dir = os.path.join(self.scratch, f"store{self._n}")
        shutil.copytree(self.cold_store, store_dir)
        store = checkpoint.CheckpointStore(self.spark, store_dir)
        try:
            t0 = time.perf_counter()
            res = checkpoint.run_with_checkpoint(self.df, self.suite, store)
            nv, nw = res.verdicts.count(), res.violations.count()
            t_end = time.perf_counter()
            if on_timed:
                on_timed()
            return Outcome(t_end - t0, t_end, nv, nw,
                           digest=self.digest(res, nv, nw) if digest else None,
                           extra=self._store_counts(store))
        finally:
            shutil.rmtree(store_dir, ignore_errors=True)

    def _store_counts(self, store) -> dict:
        files = nbytes = 0
        for root, _, names in os.walk(store.path):
            for name in names:
                files += 1
                nbytes += os.path.getsize(os.path.join(root, name))
        # partitions the latest run (the resume) wrote verdicts for; each
        # one outside the pending half is wasted work, each pending one
        # missing is a skipped partition
        with duckdb.connect() as con:
            resumed = {r[0] for r in con.execute(
                "SELECT DISTINCT partition_id FROM read_parquet(?) "
                "WHERE run_id = (SELECT MAX(run_id) FROM read_parquet(?))",
                [os.path.join(store.verdicts_dir, "*.parquet")] * 2,
            ).fetchall()}
        return {"bytes_written": nbytes, "files_written": files,
                "resume_partition_error": len(resumed ^ self.pending)}

    def digest(self, res, nv: int, nw: int) -> tuple:
        return (*super().digest(res, nv, nw), oracle.verdict_rows(res.verdicts))

    def check(self, out: Outcome) -> list[str]:
        return oracle.check_suite_verdicts(self.path, out.digest[3])


# name -> (protocol, benchmark size, smoke-test size)
WORKLOADS = {
    "suite_small": (SuiteWorkload, Size(5_000, 20, 1), Size(600, 4, 1)),
    "ckpt_resume": (CheckpointWorkload, Size(10_000, 64, 4),
                    Size(600, 8, 2)),
}
