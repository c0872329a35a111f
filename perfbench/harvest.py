"""Per-span Spark work counters read from the in-process status store.

``spark.ui.enabled=false`` (session.py) still keeps the JVM status store, so
the stages and jobs a span ran are the difference between two snapshots
taken around it. Only ``spark.ui.retainedStages`` stages (1,000 by default)
are kept, so callers snapshot within each iteration, never across a run.
"""

from __future__ import annotations

COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "input_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


class StatusStore:
    """Stage and job ids grow monotonically and the store lists them newest
    first, so a snapshot is the two highest ids and a diff reads only the
    entries above them (a few py4j round trips per new stage)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _drain(self) -> None:
        # stage/job completion reaches the store through the asynchronous
        # listener bus; without this the last stages of a span go missing
        self._sc.listenerBus().waitUntilEmpty()

    def _stages(self):
        ArrayList = self._jvm.java.util.ArrayList
        return self._sc.statusStore().stageList(
            ArrayList(), False, False, self._no_quantiles, ArrayList())

    def _jobs(self):
        return self._sc.statusStore().jobsList(self._jvm.java.util.ArrayList())

    @staticmethod
    def _newer(seq, key, floor: int):
        """Entries of a newest-first Scala list whose id exceeds ``floor``."""
        for i in range(seq.size()):
            item = seq.apply(i)
            if key(item) <= floor:
                return
            yield item

    def snapshot(self) -> tuple[int, int]:
        self._drain()
        stages, jobs = self._stages(), self._jobs()
        return (stages.apply(0).stageId() if stages.size() else -1,
                jobs.apply(0).jobId() if jobs.size() else -1)

    def diff(self, before: tuple[int, int]) -> dict:
        """Counters of every stage and job started since ``before``.
        Skipped stages (their shuffle output was reused) ran no tasks and
        are not counted."""
        self._drain()
        out = dict.fromkeys(COUNTERS, 0)
        for s in self._newer(self._stages(), lambda s: s.stageId(), before[0]):
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["executor_run_s"] += s.executorRunTime() / 1000.0
            out["input_bytes"] += s.inputBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["jobs"] = sum(1 for _ in self._newer(
            self._jobs(), lambda j: j.jobId(), before[1]))
        return out


def unpersist_all(spark) -> None:
    """Drop every cached frame and every persistent RDD, as ``bench.py``
    ``isolate()`` does: ``clearCache`` alone leaves ``localCheckpoint``
    storage behind, which would pile up across iterations and turn later
    iterations into cache hits."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        it.next().getValue().unpersist(True)
