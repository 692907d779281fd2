"""Call-site timing, spans and Spark status-store counters.

Every call into a library layer goes through ``Sites.call``. The wall time
of each call is always taken, because end-to-end metrics such as
``pagerank_edges_per_s`` are built from call walls. Only a traced run
(``traced=True``) also tags the call's Spark jobs with a job group, keeps a
span and reads the counters of the jobs that call ran.

Spans (name, start, end, parent, run id) stay in memory and are written as
JSON lines by ``write_spans`` when the benchmark ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = (
    "wall_s",
    "jobs",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "shuffle_write_bytes",
    "spill_bytes",
)


class Sites:
    """Times call sites; in a traced run also records spans and counters."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[dict] = []
        self.counters: dict[str, dict[str, float]] = {}
        self._run_id = None
        self._groups = 0

    @contextmanager
    def run(self, run_id: str):
        """One workload repetition: the parent span of its call sites."""
        self._run_id = run_id
        start = time.time()
        try:
            yield
        finally:
            self._span(run_id, start, time.time(), None)
            self._run_id = None

    @contextmanager
    def call(self, site: str, walls: dict[str, float]):
        """Time one call into a layer; stores its wall in ``walls[site]``."""
        sc = self.spark.sparkContext
        group = None
        if self.traced:
            self._groups += 1
            group = f"{self._run_id}/{site}/{self._groups}"
            sc.setJobGroup(group, site)
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            walls[site] = time.perf_counter() - t0
            if group is not None:
                sc._jsc.clearJobGroup()
                self._span(site, start, time.time(), self._run_id)
                self.counters[site] = {"wall_s": walls[site], **self._read(group)}

    def _span(self, name, start, end, parent):
        if self.traced:
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent,
                 "run_id": self._run_id or name}
            )

    def _read(self, group: str) -> dict[str, float]:
        """Counters of the jobs in ``group``, read from the status store.

        Read right after the call returns, so stage retention never drops a
        stage of this call. Skipped stages (shuffle output reused) ran no
        task and add nothing."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        job_ids = tracker.getJobIdsForGroup(group)
        out = {k: 0 for k in COUNTERS if k != "wall_s"}
        out["jobs"] = len(job_ids)
        run_ms = 0
        for job_id in job_ids:
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info is not None else ():
                st = store.lastStageAttempt(int(stage_id))
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                run_ms += st.executorRunTime()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["executor_run_s"] = run_ms / 1000.0
        return out


def write_spans(path: str, spans: list[dict]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for span in spans:
            fh.write(json.dumps(span, sort_keys=True) + "\n")
