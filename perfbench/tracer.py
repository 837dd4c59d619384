"""Per-call layer accounting from outside the program.

A span wraps one public call of ``vector_db_ingestor_spark``.  It labels
the call's Spark jobs with a job group, then reads what those jobs did
from Spark's status store once the listener bus has drained:

* ``wall_s``          wall time of the call
* ``driver_s``        wall time outside every Spark job of the call
                      (plan building, py4j, driver-side Python)
* ``jobs``/``tasks``  Spark jobs and completed tasks
* ``executor_run_s``  summed task run time
* ``shuffle_write_mb``, ``spill_mb`` (disk spill)
* ``jvm_gc_s``        JVM GC time during the call (all collectors)

Jobs are selected by id: every job submitted while the span was open
belongs to it, because the benchmark is a single client thread.  The
job group only labels them, so a program that sets its own group does
not hide jobs from the span.  The store is read once, at the end of
the run (it keeps the last 1,000 jobs and stages; a traced run makes
a few hundred), so the reads add nothing to the timed ops.

With tracing off a span only times the call; nothing else is read.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        # call -> one dict per invocation: the quantities above + extras
        self.records: dict[str, list[dict]] = defaultdict(list)
        self.missing = 0  # jobs or stages the status store no longer held
        self._sc = spark.sparkContext
        jvm = self._sc._jvm
        self._jsc = self._sc._jsc.sc()
        self._mgmt = jvm.java.lang.management.ManagementFactory
        self._last_job = self._next_job_id() - 1
        self._n = 0

    # --------------------------------------------------------- JVM reads
    def _next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def gc_s(self) -> float:
        beans = self._mgmt.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def _store_json(self) -> tuple[dict, list]:
        """Every job and stage attempt in the status store, fetched as
        two JSON documents (one py4j round trip each, instead of ~25 per
        job)."""
        jvm = self._sc._jvm
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(scala_module)
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(mapper.writeValueAsString(store.stageList(
            None, False, False, self._sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )))
        return {j["jobId"]: j for j in jobs}, stages

    # -------------------------------------------------------------- span
    @contextmanager
    def span(self, call: str):
        """Time one public call; yields a dict the caller may add
        call-specific extras to (e.g. ``pairs``).  The job account is
        filled in later by :meth:`medians`, so reading the status store
        costs nothing inside the timed ops."""
        extra: dict = {}
        if not self.enabled:
            t0 = time.perf_counter()
            yield extra
            extra["wall_s"] = time.perf_counter() - t0
            return
        self._n += 1
        first = self._last_job + 1
        gc0 = self.gc_s()
        self._sc.setJobGroup(f"perfbench.{self._n}.{call}", call)
        t0 = time.perf_counter()
        try:
            yield extra
        finally:
            wall = time.perf_counter() - t0
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        self._last_job = self._next_job_id() - 1
        extra.update(wall_s=wall, jvm_gc_s=self.gc_s() - gc0,
                     _jobs=(first, self._last_job))
        # stored by reference: extras the caller adds after the span
        # closes (e.g. a result count) land in the record
        self.records[call].append(extra)

    def note(self, call: str, **values) -> None:
        """Record extras that belong to no timed call (e.g. index file
        counts after a step)."""
        if self.enabled:
            self.records[call].append(values)

    # ----------------------------------------------------------- summary
    def _account(self) -> None:
        jobs, stages = self._store_json()
        by_stage: dict[int, list[dict]] = defaultdict(list)
        for st in stages:
            by_stage[st["stageId"]].append(st)
        for recs in self.records.values():
            for rec in recs:
                if "_jobs" not in rec:
                    continue
                first, last = rec.pop("_jobs")
                mine = [jobs[i] for i in range(first, last + 1) if i in jobs]
                self.missing += (last + 1 - first) - len(mine)
                intervals = [
                    (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0)
                    for j in mine
                    if j.get("submissionTime") and j.get("completionTime")
                ]
                tasks = run_ms = shuffle_b = spill_b = 0
                for sid in {s for j in mine for s in j["stageIds"]}:
                    self.missing += sid not in by_stage
                    for st in by_stage.get(sid, ()):
                        if st["status"] not in ("COMPLETE", "FAILED"):
                            continue  # SKIPPED stages reuse an earlier shuffle
                        tasks += st["numCompleteTasks"] + st["numFailedTasks"]
                        run_ms += st["executorRunTime"]
                        shuffle_b += st["shuffleWriteBytes"]
                        spill_b += st["diskBytesSpilled"]
                rec.update(
                    driver_s=max(0.0, rec["wall_s"] - _union_length(intervals)),
                    jobs=len(mine),
                    tasks=tasks,
                    executor_run_s=run_ms / 1000.0,
                    shuffle_write_mb=shuffle_b / 1e6,
                    spill_mb=spill_b / 1e6,
                )

    def medians(self) -> dict[str, float]:
        """``<call>.<quantity>`` -> median over the call's invocations."""
        self._account()
        out: dict[str, float] = {}
        for call, recs in self.records.items():
            keys = {k for r in recs for k in r}
            for k in keys:
                vals = [r[k] for r in recs if k in r]
                out[f"{call}.{k}"] = float(statistics.median(vals))
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
