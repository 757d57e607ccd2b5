"""Stage and job metrics from Spark's in-process status store.

The store is filled by the listener bus whether or not the web UI runs,
so it works with ``spark.ui.enabled=false``. Both lists come back newest
first; a reader keeps watermarks and returns only what is new since its
previous call.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class Stage:
    stage_id: int
    attempt_id: int
    description: str | None
    run_s: float  # executorRunTime summed over tasks
    cpu_s: float  # executorCpuTime summed over tasks
    shuffle_bytes: int  # shuffle write bytes
    input_bytes: int
    spill_bytes: int  # memoryBytesSpilled
    gc_s: float
    tasks: int


@dataclass
class Job:
    job_id: int
    start_s: float  # epoch seconds
    end_s: float


def _opt(o):
    return o.get() if o.isDefined() else None


class StatusReader:
    def __init__(self, sc):
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._store = self._jsc.statusStore()
        self._stage_mark = -1
        self._job_mark = -1

    def _drain(self) -> None:
        # stage/job end events reach the store asynchronously
        self._jsc.listenerBus().waitUntilEmpty()

    def new_stages(self) -> list[Stage]:
        """Stages submitted since the previous call that ran tasks
        (skipped stages reuse earlier shuffle output and carry no work)."""
        self._drain()
        jvm = self._jvm
        seq = self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        out = []
        for i in range(seq.length()):
            s = seq.apply(i)
            sid = s.stageId()
            if sid <= self._stage_mark:
                break
            if s.numCompleteTasks() == 0:
                continue
            out.append(Stage(
                stage_id=sid,
                attempt_id=s.attemptId(),
                description=_opt(s.description()),
                run_s=s.executorRunTime() / 1e3,
                cpu_s=s.executorCpuTime() / 1e9,
                shuffle_bytes=s.shuffleWriteBytes(),
                input_bytes=s.inputBytes(),
                spill_bytes=s.memoryBytesSpilled(),
                gc_s=s.jvmGcTime() / 1e3,
                tasks=s.numCompleteTasks(),
            ))
        if seq.length():
            self._stage_mark = max(self._stage_mark, seq.apply(0).stageId())
        return out

    def new_jobs(self) -> list[Job]:
        self._drain()
        seq = self._store.jobsList(self._jvm.java.util.ArrayList())
        out = []
        for i in range(seq.length()):
            j = seq.apply(i)
            jid = j.jobId()
            if jid <= self._job_mark:
                break
            start, end = _opt(j.submissionTime()), _opt(j.completionTime())
            if start is not None and end is not None:
                out.append(Job(jid, start.getTime() / 1e3, end.getTime() / 1e3))
        if seq.length():
            self._job_mark = max(self._job_mark, seq.apply(0).jobId())
        return out

    def task_seconds(self, stage: Stage) -> list[float]:
        seq = self._store.taskList(stage.stage_id, stage.attempt_id, 100_000)
        out = []
        for i in range(seq.length()):
            d = _opt(seq.apply(i).duration())
            if d is not None:
                out.append(d / 1e3)
        return out
