"""Spark job census, per job group, without the Spark UI.

The engine's sessions run with `spark.ui.enabled=false`, but the status
listener still fills the application status store. This module reads
that store (`sc._jsc.sc().statusStore()`: job groups, job spans and stage
task metrics), so a run can say how many jobs, stages and tasks an
operation launched, how long jobs were running, and how much executor
CPU, GC, shuffle and I/O they used. Jobs whose group no operation
claims are reported as untagged.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

from spans import union_seconds

# stage statuses whose metrics are real work (a SKIPPED stage reused an
# earlier shuffle and ran no tasks)
_COUNTED = ("COMPLETE", "ACTIVE", "FAILED")


@dataclass
class Census:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_busy_s: float = 0.0
    exec_cpu_s: float = 0.0
    exec_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0

    def as_dict(self) -> dict:
        return asdict(self)


def _opt(option):
    """Scala Option -> Python value or None."""
    return option.get() if option.isDefined() else None


def job_groups(sc, since_job_id: int = 0) -> dict[int, str | None]:
    """job id -> job group for every job the store holds from
    `since_job_id` on (None for a job run outside any group)."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    out: dict[int, str | None] = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        jid = job.jobId()
        if jid >= since_job_id:
            out[jid] = _opt(job.jobGroup())
    return out


def next_job_id(sc) -> int:
    """Id the next submitted job will get (jobs are numbered in order)."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    if jobs.size() == 0:
        return 0
    return max(jobs.apply(0).jobId(), jobs.apply(jobs.size() - 1).jobId()) + 1


def census_for_jobs(sc, job_ids) -> Census:
    """Sum the census over the given jobs; each stage is counted once."""
    store = sc._jsc.sc().statusStore()
    out = Census()
    spans: list[tuple[float, float]] = []
    seen_stages: set[int] = set()
    for jid in job_ids:
        job = store.job(int(jid))
        out.jobs += 1
        submitted = _opt(job.submissionTime())
        completed = _opt(job.completionTime())
        if submitted is not None and completed is not None:
            spans.append((submitted.getTime() / 1e3, completed.getTime() / 1e3))
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            sid = int(stage_ids.apply(i))
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage never attempted has no data
                continue
            if st.status().toString() not in _COUNTED:
                continue
            out.stages += 1
            out.tasks += st.numCompleteTasks() + st.numFailedTasks()
            out.exec_cpu_s += st.executorCpuTime() / 1e9
            out.exec_run_s += st.executorRunTime() / 1e3
            out.gc_s += st.jvmGcTime() / 1e3
            out.shuffle_read_bytes += st.shuffleReadBytes()
            out.shuffle_write_bytes += st.shuffleWriteBytes()
            out.input_bytes += st.inputBytes()
            out.output_bytes += st.outputBytes()
    out.job_busy_s = union_seconds(spans)
    return out


def census_by_group(sc, groups, since_job_id: int = 0) -> tuple[dict[str, Census], int]:
    """Census for each named job group, and the number of jobs from
    `since_job_id` on that belong to none of them (`spark.untagged_jobs`)."""
    wanted = set(groups)
    by_group: dict[str, list[int]] = {g: [] for g in wanted}
    untagged = 0
    for jid, group in job_groups(sc, since_job_id).items():
        if group in wanted:
            by_group[group].append(jid)
        else:
            untagged += 1
    return {g: census_for_jobs(sc, ids) for g, ids in by_group.items()}, untagged
