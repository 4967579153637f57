"""Benchmark-side reader of Spark's status stores.

Each operation (or, in a traced run, each layer call) runs under its
own ``setJobGroup`` tag. After the action returns, and outside any
timed region, the reader drains the listener bus and pulls that
group's jobs from ``AppStatusStore``, their stages and task lists, and
SQL execution start times from ``SQLAppStatusStore``. Objects cross
py4j as one JSON string each (Jackson with the Scala module, the same
serializer Spark's REST API uses), not field by field.
"""

from __future__ import annotations

import json
import re
import statistics

_ROOT_EXEC = re.compile(r"execution-root-id-(\d+)$")


class StatusReader:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = spark._jvm
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        scala_module = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(scala_module)
        self.no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def tag(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def jobs(self, groups) -> list[dict]:
        """Jobs tagged with any of ``groups``, oldest first."""
        self.bus.waitUntilEmpty()
        groups = set(groups)
        return sorted(
            (j for j in self._json(self.store.jobsList(None)) if j.get("jobGroup") in groups),
            key=lambda j: j["jobId"],
        )

    def stage_attempts(self, stage_id: int) -> list[dict]:
        return self._json(self.store.stageData(stage_id, False, None, False, self.no_quantiles))

    def task_times_ms(self, stage_id: int, attempt: int) -> list[int]:
        tasks = self._json(self.store.taskList(stage_id, attempt, 1 << 20))
        return [t["taskMetrics"]["executorRunTime"] for t in tasks if t.get("taskMetrics")]

    def execution_start(self, execution_id: int) -> float | None:
        """SQL execution start, epoch seconds."""
        opt = self.sql.execution(execution_id)
        return opt.get().submissionTime() / 1000.0 if opt.isDefined() else None

    def read(self, groups) -> "OpStatus":
        jobs = self.jobs(groups)
        stages: dict[int, list[dict]] = {}
        for j in jobs:
            for sid in j["stageIds"]:
                if sid not in stages:
                    stages[sid] = self.stage_attempts(sid)
        return OpStatus(self, jobs, stages)


def _ms(v) -> float | None:
    return None if v is None else v / 1000.0


class OpStatus:
    """The jobs and stages of one operation."""

    def __init__(self, reader: StatusReader, jobs: list[dict], stages: dict[int, list[dict]]):
        self.reader = reader
        self.jobs = jobs
        self.stages = stages  # stage id -> its attempts

    def _stage_ids(self, groups) -> set[int]:
        """Stages of the jobs in ``groups`` (all jobs when None); a stage
        listed by several jobs counts once."""
        ids: set[int] = set()
        for j in self.jobs:
            if groups is None or j["jobGroup"] in groups:
                ids.update(j["stageIds"])
        return ids

    def ran(self, groups=None) -> list[dict]:
        """Stage attempts that ran tasks; a failed attempt counts too."""
        return [a for sid in sorted(self._stage_ids(groups)) for a in self.stages[sid]
                if a["status"] in ("COMPLETE", "FAILED")]

    def skipped(self, groups=None) -> int:
        """Stages listed but never run (a reused shuffle's map side)."""
        return sum(1 for sid in self._stage_ids(groups)
                   if all(a["status"] == "SKIPPED" for a in self.stages[sid]))

    def job_count(self, groups=None) -> int:
        return sum(1 for j in self.jobs if groups is None or j["jobGroup"] in groups)

    def exec_metrics(self, wall_s: float, cores: int, groups=None) -> dict[str, float]:
        """The executor and exchange counters of the given groups."""
        ran = self.ran(groups)

        def total(key):
            return sum(a.get(key) or 0 for a in ran)

        run_ms = total("executorRunTime")
        skew = 1.0
        if ran:
            longest = max(ran, key=lambda a: a["executorRunTime"])
            times = self.reader.task_times_ms(longest["stageId"], longest["attemptId"])
            med = statistics.median(times) if times else 0
            skew = max(times) / med if med else 1.0
        return {
            "exec.tasks": total("numCompleteTasks"),
            "exec.failed_tasks": total("numFailedTasks"),
            "exec.run_ms": run_ms,
            "exec.cpu_ms": total("executorCpuTime") / 1e6,
            "exec.gc_ms": total("jvmGcTime"),
            "exec.slot_util": run_ms / (wall_s * 1000.0 * cores) if wall_s > 0 else 0.0,
            "exec.task_skew": skew,
            "exec.shuffle_write_bytes": total("shuffleWriteBytes"),
            "exec.shuffle_read_bytes": total("shuffleReadBytes"),
            "exec.shuffle_wait_ms": total("shuffleFetchWaitTime"),
            "exec.spill_bytes": total("diskBytesSpilled"),
            "exec.stages": len({a["stageId"] for a in ran}),
            "exec.stages_empty": self.skipped(groups),
            "spark.jobs": self.job_count(groups),
            "input_bytes": total("inputBytes"),
            "input_records": total("inputRecords"),
            "output_records": total("outputRecords"),
        }

    def plan_s(self, action_start: float, group: str) -> float:
        """Action call -> first job submitted, for every SQL execution
        the action ran: the first execution's wait counts from the
        call, each later one from its own execution start."""
        first_submit: dict[int | None, float] = {}
        for j in self.jobs:
            if j["jobGroup"] != group or j.get("submissionTime") is None:
                continue
            root = None
            for tag in j.get("jobTags", []):
                m = _ROOT_EXEC.search(tag)
                if m:
                    root = int(m.group(1))
            t = _ms(j["submissionTime"])
            first_submit[root] = min(t, first_submit.get(root, t))
        total = 0.0
        for n, (root, t) in enumerate(sorted(first_submit.items(), key=lambda kv: kv[1])):
            start = action_start if n == 0 else (
                self.reader.execution_start(root) if root is not None else None)
            if start is not None:
                total += max(0.0, t - start)
        return total

    def add_spans(self, tracer, op: int, group_span: dict[str, int]) -> None:
        """Rebuild job and stage spans from status-store times, each job
        parented to the layer span that ran it, each stage to its job."""
        placed: set[int] = set()
        for j in self.jobs:
            if j.get("submissionTime") is None or j.get("completionTime") is None:
                continue
            job = tracer.add("spark.job", op, group_span.get(j["jobGroup"]),
                             _ms(j["submissionTime"]), _ms(j["completionTime"]),
                             job_id=j["jobId"], status=j["status"])
            for sid in j["stageIds"]:
                if sid in placed:
                    continue
                for a in self.stages[sid]:
                    if a.get("submissionTime") is None or a.get("completionTime") is None:
                        continue
                    placed.add(sid)
                    tracer.add("spark.stage", op, job["id"], _ms(a["submissionTime"]),
                               _ms(a["completionTime"]), stage_id=sid, attempt=a["attemptId"],
                               tasks=a["numTasks"], status=a["status"])
