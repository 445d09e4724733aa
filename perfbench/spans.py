"""Spans around the benchmark's calls into the program's layers.

A span records name, start, end, parent span and the pass/op it belongs
to. Each span runs under its own job group, and at span end the tracer
reads what Spark did for that group:

- jobs, stages and tasks from ``sc.statusTracker()``;
- input records, shuffle and spill bytes from the JVM status store
  (``statusStore().lastStageAttempt``), which works with the UI off;
- plan facts (ReusedExchange, Python/Arrow nodes) from the *final*
  executed plan kept in the SQL status store, since a noop write's own
  QueryExecution shows the plan before AQE finalised it.

Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import contextlib
import re
import resource
import time

from py4j.protocol import Py4JJavaError

_PY_NODE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInArrow|MapInPandas|PythonMapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsInPandas|"
    r"AggregateInPandas|ArrowAggregatePython|WindowInPandas|ArrowWindowPython)\b"
)

# Spark's inputBytes counts only parquet footers on this Spark/Hadoop
# build (vectored reads bypass the file-system statistics it sums), so
# scan input is counted in records.
STAGE_FIELDS = {
    "input_records": "inputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


class Tracer:
    """Records spans, each with the Spark facts of its own job group."""

    def __init__(self, spark):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._spark = spark
        self._seq = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self._spark.sparkContext
        self._seq += 1
        rec["group"] = f"perfbench-{self._seq}"
        sc.setJobGroup(rec["group"], name, False)
        rec["start"] = time.perf_counter()
        rec["start_ms"] = int(time.time() * 1000)
        try:
            yield rec
        except Exception as e:
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
            raise
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            self._stack.pop()
            # jobs after this span belong to the enclosing span, if any
            if self._stack:
                parent = self.spans[self._stack[-1]]
                sc.setJobGroup(parent["group"], parent["name"], False)
            else:
                sc.setJobGroup("perfbench-untraced", "untraced", False)
            rec.update(self._spark_facts(rec["group"], rec["start_ms"]))

    def _spark_facts(self, group: str, since_ms: int) -> dict:
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        job_ids = list(tracker.getJobIdsForGroup(group))
        facts = {k: 0 for k in STAGE_FIELDS}
        facts.update(jobs=len(job_ids), stages=0, tasks=0, final_partitions=0)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            stage_ids = sorted(info.stageIds)
            ran = []
            for sid in stage_ids:
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage AQE skipped has no attempt
                    continue
                ran.append(sd)
                for key, getter in STAGE_FIELDS.items():
                    facts[key] += int(getattr(sd, getter)())
            facts["stages"] += len(ran)
            facts["tasks"] += sum(int(sd.numTasks()) for sd in ran)
            if ran:
                facts["final_partitions"] += int(ran[-1].numTasks())
        facts["spill_bytes"] = facts.pop("memory_spill_bytes") + facts.pop("disk_spill_bytes")
        facts.update(self._plan_facts(set(job_ids), since_ms))
        return facts

    def _plan_facts(self, job_ids: set, since_ms: int) -> dict:
        """ReusedExchange and Python-node counts over the final plans of
        the SQL executions that ran this span's jobs."""
        out = {"reused_exchanges": 0, "python_nodes": 0}
        if not job_ids:
            return out
        conv = self._spark._jvm.scala.jdk.javaapi.CollectionConverters
        store = self._spark._jsparkSession.sharedState().statusStore()
        n = int(store.executionsCount())
        recent = conv.asJava(store.executionsList(max(0, n - 64), 64))
        for ex in reversed(list(recent)):
            if int(ex.submissionTime()) < since_ms - 1000:
                break
            jobs = {int(j) for j in conv.asJava(ex.jobs().keySet())}
            if job_ids & jobs:
                tree = str(ex.physicalPlanDescription()).split("\n\n(1)")[0]
                out["reused_exchanges"] += tree.count("ReusedExchange")
                out["python_nodes"] += len(_PY_NODE.findall(tree))
        return out


def rss_peak_mb(spark) -> float:
    """Peak resident memory of this Python process plus the JVM (VmHWM)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0
