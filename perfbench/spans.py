"""Spans around library calls, scoped to Spark jobs by id watermarks.

A span records its name, parent, wall-clock interval and the range of
Spark job ids submitted while it was open (``DAGScheduler.numTotalJobs``
before and after). Job ids are assigned at submission, in the thread
that submits, so the range covers jobs from the analyzer's pool threads
too; a job group or local property would not (pool threads do not
inherit them). Stages are attributed through their jobs: a stage
belongs to the first span whose job lists it, which is the stage-id
watermark of that span.

Spans stay in memory. :meth:`Tracer.collect` drains the listener bus
once, reads the status stores and returns per-span counters; nothing
is read from the JVM while spans are open, apart from one integer per
boundary.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self.spans = []
        self._stack = []
        # stage and SQL-execution watermarks of everything run before
        # the traced pass
        self._sc.listenerBus().waitUntilEmpty()
        self._stage_lo = max(self._stage_list(), key=int, default=-1)
        self._exec_lo = self._last_execution()

    def _job_watermark(self) -> int:
        return int(self._sc.dagScheduler().numTotalJobs())

    def _last_execution(self) -> int:
        n = int(self._sql_store.executionsCount())
        if n == 0:
            return -1
        return int(self._sql_store.executionsList(n - 1, 1)
                   .apply(0).executionId())

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec)
        rec["job_lo"] = self._job_watermark()
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["job_hi"] = self._job_watermark()
            self._stack.pop()

    # -- reading the status stores after the traced pass ----------------

    def collect(self) -> dict:
        """Per-span job and stage counters and rows output by scan
        nodes (see :meth:`_scan_rows`), and the number of jobs that no
        leaf span covers."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        lo = min(s["job_lo"] for s in self.spans)
        hi = max(s["job_hi"] for s in self.spans)
        jobs = {}
        jl = store.jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            jid = int(j.jobId())
            if lo <= jid < hi:
                sub, done = j.submissionTime(), j.completionTime()
                jobs[jid] = {
                    "t0": sub.get().getTime() / 1e3 if sub.isDefined()
                    else None,
                    "t1": done.get().getTime() / 1e3 if done.isDefined()
                    else None,
                    "stages": [int(x) for x in _seq(j.stageIds())]}
        stages = self._stages({s for j in jobs.values()
                               for s in j["stages"]
                               if s > self._stage_lo})
        owner = {}
        for jid in sorted(jobs):
            for sid in jobs[jid]["stages"]:
                owner.setdefault(sid, jid)
        out = []
        for s in self.spans:
            ids = [j for j in range(s["job_lo"], s["job_hi"]) if j in jobs]
            st = [stages[sid] for sid, jid in owner.items()
                  if jid in ids and sid in stages]
            busy = _union([(jobs[j]["t0"], jobs[j]["t1"]) for j in ids
                           if jobs[j]["t0"] is not None
                           and jobs[j]["t1"] is not None])
            wall = s["t1"] - s["t0"]
            out.append({
                "id": s["id"], "name": s["name"], "parent": s["parent"],
                "start_s": s["t0"], "s": wall, "jobs": len(ids),
                "job_ids": [ids[0], ids[-1]] if ids else [],
                "stages": len(st),
                "tasks": sum(x["tasks"] for x in st),
                "job_busy_s": busy, "driver_s": max(wall - busy, 0.0),
                "executor_run_s": sum(x["run_ms"] for x in st) / 1e3,
                "executor_cpu_s": sum(x["cpu_ns"] for x in st) / 1e9,
                "gc_s": sum(x["gc_ms"] for x in st) / 1e3,
                "input_records": sum(x["input_records"] for x in st),
                "shuffle_write_bytes": sum(x["shuffle_write"] for x in st),
                "spill_bytes": sum(x["spill"] for x in st),
            })
        leaves = [s for s in self.spans
                  if not any(c["parent"] == s["id"] for c in self.spans)]
        covered = set()
        for s in leaves:
            covered.update(range(s["job_lo"], s["job_hi"]))
        scans = self._scan_rows()
        for s, rec in zip(out, self.spans):
            kids = [c for c in out if c["parent"] == s["id"]]
            s["self_s"] = s["s"] - sum(c["s"] for c in kids)
            s["scan_rows"] = {}
            for job, name, rows in scans:
                if rec["job_lo"] <= job < rec["job_hi"]:
                    s["scan_rows"][name] = s["scan_rows"].get(name, 0) + rows
        return {"spans": out,
                "unattributed_jobs": len(set(jobs) - covered)}

    def _stage_list(self) -> dict:
        """Stage id -> attempts, from the application status store."""
        jvm = self.spark._jvm
        gw = self.spark.sparkContext._gateway
        sl = self._sc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        out = {}
        for s in _seq(sl):
            out.setdefault(int(s.stageId()), []).append(s)
        return out

    def _stages(self, wanted) -> dict:
        """Counters summed over the attempts of each wanted stage that
        ran (skipped stages reuse output computed elsewhere)."""
        out = {}
        for sid, attempts in self._stage_list().items():
            for s in attempts:
                if sid not in wanted or s.status().toString() == "SKIPPED":
                    continue
                rec = out.setdefault(sid, {
                    "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                    "input_records": 0, "shuffle_write": 0, "spill": 0})
                rec["tasks"] += int(s.numCompleteTasks())
                rec["run_ms"] += int(s.executorRunTime())
                rec["cpu_ns"] += int(s.executorCpuTime())
                rec["gc_ms"] += int(s.jvmGcTime())
                rec["input_records"] += int(s.inputRecords())
                rec["shuffle_write"] += int(s.shuffleWriteBytes())
                rec["spill"] += int(s.diskBytesSpilled())
        return out

    def _scan_rows(self) -> list:
        """(first job id, "<kind>:<file>", rows output) of every scan
        node in the SQL executions run since the tracer was made. Kind
        is ``file`` for file scans and ``cache`` for scans of a cached
        relation, credited to the one file the execution's plan reads
        (or to "?" when it reads none or several)."""
        out = []
        n = int(self._sql_store.executionsCount())
        for e in _seq(self._sql_store.executionsList(0, n)):
            eid = e.executionId()
            job_ids = [int(j) for j in _seq(e.jobs().keys().toSeq())]
            if eid <= self._exec_lo or not job_ids:
                continue
            metrics = self._sql_store.executionMetrics(eid)
            nodes = _seq(self._sql_store.planGraph(eid).allNodes())
            files = {n.name(): re.findall(r"[\w.-]+\.(?:parquet|json)",
                                          n.desc()) for n in nodes}
            read = {f for fs in files.values() for f in fs}
            only = read.pop() if len(read) == 1 else "?"
            for node in nodes:
                if node.name().startswith("Scan "):
                    key = "file:" + (files[node.name()] or ["?"])[0]
                elif node.name() == "InMemoryTableScan":
                    key = "cache:" + only
                else:
                    continue
                for m in _seq(node.metrics()):
                    v = metrics.get(m.accumulatorId())
                    if m.name() == "number of output rows" and v.isDefined():
                        out.append((min(job_ids), key,
                                    int(re.sub(r"\D", "", v.get()) or 0)))
        return out


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _union(intervals) -> float:
    """Total length covered by a set of [t0, t1] intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
