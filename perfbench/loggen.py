"""Seeded Hadoop 0.20 job-history log generator with per-log ground truth.

Each call to :func:`generate_job` returns the text of one single-job log
and a :class:`JobTruth` folded from the same random draws, independently
of the engine: task and attempt counts by type, wasted attempts, error
classes, the job-summary statistics and the concurrency-timeline mass.

A log contains every record kind the parser handles:

* ``Meta``, several ``Job`` records merged last-write-wins, ``Task`` start
  and finish records, ``MapAttempt`` and ``ReduceAttempt`` start and finish
  records;
* SETUP and CLEANUP tasks;
* FAILED retries carrying a multi-line ``ERROR`` stack trace and KILLED
  retries carrying none;
* nested ``COUNTERS`` groups on attempts, tasks and the job;
* reduce phases that are physically consistent: every ``SHUFFLE_FINISHED``
  is at least the job's last map finish, and ``SORT_FINISHED`` lies
  between the shuffle and the attempt finish.

Records are emitted in timestamp order, as a JobTracker writes them. The
same arguments give the same bytes.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass, field

USERS = ("alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi")

# (class name, message) pairs. The class is the first ``...Exception`` /
# ``...Error`` token of the value, which is what ``error_summary`` extracts.
ERRORS = (
    ("java.lang.OutOfMemoryError", "Java heap space"),
    ("java.io.IOException", "Task process exit with nonzero status of 1"),
    ("org.apache.hadoop.fs.ChecksumException", "Checksum error in block"),
    ("java.lang.RuntimeException", "problem advancing post rec"),
)

_FRAMES = (
    "org.apache.hadoop.mapred.MapTask.runOldMapper(MapTask.java:358)",
    "org.apache.hadoop.mapred.MapTask.run(MapTask.java:307)",
    "org.apache.hadoop.mapred.ReduceTask.run(ReduceTask.java:408)",
    "org.apache.hadoop.mapred.Child.main(Child.java:170)",
    "org.apache.hadoop.mapred.TaskRunner.run(TaskRunner.java:418)",
)


def _esc(value: str) -> str:
    """Hadoop's history writer backslash-escapes ``.`` in values."""
    return value.replace(".", "\\.")


@dataclass(frozen=True)
class Attempt:
    """One MAP/REDUCE attempt as the timeline sees it (times in ms)."""

    kind: str  # MAP | REDUCE
    final: bool
    start: int
    finish: int
    shuffle: int | None = None
    sort: int | None = None


@dataclass
class JobTruth:
    """What the engine's reports must say about one generated log."""

    jobid: str
    user: str
    file_name: str
    n_bytes: int
    n_records: int
    submit: int
    launch: int
    finish: int
    tasks: Counter = field(default_factory=Counter)  # task type -> tasks
    attempts: Counter = field(default_factory=Counter)  # task type -> attempts
    # (task type, status, error class or None) -> failed/killed attempts
    errors: Counter = field(default_factory=Counter)
    # (task type, start, finish) of every MAP/REDUCE task
    task_times: list = field(default_factory=list)
    # final REDUCE attempt SHUFFLE_FINISHED by task, in task order
    reduce_shuffle: list = field(default_factory=list)
    reduce_bytes_written: int = 0
    timeline_attempts: list = field(default_factory=list)  # [Attempt]

    @property
    def n_wasted(self) -> int:
        return sum(1 for a in self.timeline_attempts if not a.final)

    def n_wasted_of(self, kind: str) -> int:
        return sum(1 for a in self.timeline_attempts if not a.final and a.kind == kind)

    def wasted_time(self, scale: int) -> int:
        return sum(
            (a.finish - a.start) // scale for a in self.timeline_attempts if not a.final
        )

    def total_time(self, scale: int) -> int:
        return (self.finish - self.launch) // scale

    def avg_len(self, task_type: str, scale: int) -> float | None:
        lens = [(f - s) // scale for t, s, f in self.task_times if t == task_type]
        return sum(lens) / len(lens) if lens else None

    def avg_shuffle_len(self, scale: int) -> float | None:
        starts = [s for t, s, _ in self.task_times if t == "REDUCE"]
        lens = [
            ((sh // scale) * scale - s) // scale
            for s, sh in zip(starts, self.reduce_shuffle)
        ]
        return sum(lens) / len(lens) if lens else None

    def maps_complete(self, scale: int) -> int:
        return max(f // scale for t, _, f in self.task_times if t == "MAP")

    def timeline_mass(self, scale: int) -> dict[str, int]:
        """Sum over buckets of each series: the inclusive, clamped interval
        lengths of the reference timeline (submit-relative buckets)."""
        submit_b, finish_b = self.submit // scale, self.finish // scale
        rng = finish_b - submit_b
        mass = dict.fromkeys(("maps", "shuffle", "merge", "reduce", "waste"), 0)

        def add(series: str, lo: int, hi: int) -> None:
            t0 = max(lo // scale - submit_b, 0)
            t1 = min(min(hi // scale, finish_b) - submit_b, rng)
            if t1 >= t0:
                mass[series] += t1 - t0 + 1

        for a in self.timeline_attempts:
            if not a.final:
                add("waste", a.start, a.finish)
            elif a.kind == "MAP":
                add("maps", a.start, a.finish)
            else:
                add("shuffle", a.start, a.shuffle)
                add("merge", a.shuffle, a.sort)
                add("reduce", a.sort, a.finish)
        return mass


@dataclass(frozen=True)
class JobShape:
    """Size knobs of one generated job."""

    min_maps: int = 20
    max_maps: int = 80
    min_reduces: int = 2
    max_reduces: int = 12
    slots: int = 16  # concurrent map slots; maps run in waves
    map_s: tuple[int, int] = (5, 60)  # map attempt duration range, seconds
    reduce_s: tuple[int, int] = (10, 90)
    p_retry: float = 0.08  # chance a task needs 1-2 failed/killed attempts


def _counters(groups: list[tuple[str, str, list[tuple[str, str, int]]]]) -> str:
    return "".join(
        f"{{({_esc(key)})({name})"
        + "".join(f"[({ck})({cn})({v})]" for ck, cn, v in items)
        + "}"
        for key, name, items in groups
    )


def _task_counters(rng: random.Random, kind: str) -> tuple[str, int]:
    written = rng.randrange(1, 1 << 26) if kind == "REDUCE" else 0
    fs = [
        ("HDFS_BYTES_READ", "HDFS_BYTES_READ", rng.randrange(1 << 20, 1 << 27)),
        ("FILE_BYTES_WRITTEN", "FILE_BYTES_WRITTEN", rng.randrange(1 << 10, 1 << 24)),
    ]
    if kind == "REDUCE":
        fs.append(("HDFS_BYTES_WRITTEN", "HDFS_BYTES_WRITTEN", written))
    records = rng.randrange(1000, 5_000_000)
    mr = [
        ("MAP_INPUT_RECORDS" if kind == "MAP" else "REDUCE_INPUT_RECORDS",
         "Map input records" if kind == "MAP" else "Reduce input records", records),
        ("SPILLED_RECORDS", "Spilled Records", rng.randrange(0, records + 1)),
    ]
    text = _counters(
        [
            ("FileSystemCounters", "FileSystemCounters", fs),
            ("org.apache.hadoop.mapred.Task$Counter", "Map-Reduce Framework", mr),
        ]
    )
    return text, written


def _error_text(rng: random.Random) -> tuple[str, str]:
    klass, msg = ERRORS[rng.randrange(len(ERRORS))]
    frames = rng.sample(_FRAMES, rng.randint(2, 4))
    lines = [f"Error: {klass}: {msg}"] + [f"\tat {f}" for f in frames]
    return klass, _esc("\n".join(lines))


def generate_job(
    seed: int, index: int, shape: JobShape = JobShape(), cluster: str = "201010291643"
) -> tuple[str, JobTruth]:
    """One single-job log and its ground truth, drawn from (seed, index)."""
    rng = random.Random(f"{seed}:{index}")
    jobid = f"job_{cluster}_{index:04d}"
    tid = jobid[len("job_"):]
    user = USERS[rng.randrange(len(USERS))]
    n_maps = rng.randint(shape.min_maps, shape.max_maps)
    n_reduces = rng.randint(shape.min_reduces, shape.max_reduces)
    submit = 1_288_000_000_000 + seed % 1000 * 86_400_000 + index * 600_000
    submit += rng.randrange(0, 60_000)
    launch = submit + rng.randrange(500, 5000)

    events: list[tuple[int, int, str]] = []  # (time ms, tie order, record)
    order = 0

    def emit(t: int, record: str) -> None:
        nonlocal order
        events.append((t, order, record))
        order += 1

    truth = JobTruth(
        jobid=jobid, user=user, file_name="", n_bytes=0, n_records=0,
        submit=submit, launch=launch, finish=0,
    )

    def host() -> str:
        return f"node{rng.randrange(64):02d}"

    def run_task(kind: str, num: int, ready: int, dur_s: tuple[int, int],
                 reduce_after: int | None = None) -> int:
        """Emit one task's attempts starting no earlier than ``ready``;
        return the task's finish time."""
        letter = "r" if kind == "REDUCE" else "m"
        taskid = f"task_{tid}_{letter}_{num:06d}"
        rec = "ReduceAttempt" if kind == "REDUCE" else "MapAttempt"
        task_start = ready + rng.randrange(0, 400)
        splits = "" if kind != "MAP" else ",".join(
            f"/default-rack/{host()}" for _ in range(rng.randint(1, 3))
        )
        emit(task_start, f'Task TASKID="{taskid}" TASK_TYPE="{kind}" '
             f'START_TIME="{task_start}" SPLITS="{splits}" .')
        truth.tasks[kind] += 1
        retries = 0
        if kind in ("MAP", "REDUCE") and rng.random() < shape.p_retry:
            retries = rng.randint(1, 2)
        t = task_start + rng.randrange(50, 900)
        for a in range(retries + 1):
            aid = f"attempt_{tid}_{letter}_{num:06d}_{a}"
            h = host()
            truth.attempts[kind] += 1
            emit(t, f'{rec} TASK_TYPE="{kind}" TASKID="{taskid}" TASK_ATTEMPT_ID="{aid}" '
                 f'START_TIME="{t}" TRACKER_NAME="tracker_{h}:localhost/127\\.0\\.0\\.1:'
                 f'{40000 + rng.randrange(20000)}" HTTP_PORT="50060" .')
            head = f'{rec} TASK_TYPE="{kind}" TASKID="{taskid}" TASK_ATTEMPT_ID="{aid}"'
            if a < retries:
                end = t + rng.randrange(1000, max(2000, dur_s[0] * 1000))
                if rng.random() < 0.6:
                    klass, err = _error_text(rng)
                    truth.errors[(kind, "FAILED", klass)] += 1
                    emit(end, f'{head} TASK_STATUS="FAILED" FINISH_TIME="{end}" '
                         f'HOSTNAME="{h}" ERROR="{err}" .')
                else:
                    truth.errors[(kind, "KILLED", None)] += 1
                    emit(end, f'{head} TASK_STATUS="KILLED" FINISH_TIME="{end}" '
                         f'HOSTNAME="{h}" .')
                if kind in ("MAP", "REDUCE"):
                    truth.timeline_attempts.append(Attempt(kind, False, t, end))
                t = end + rng.randrange(200, 3000)
                continue
            counters, written = _task_counters(rng, kind)
            if kind == "REDUCE":
                shuffle = max(t, reduce_after) + rng.randrange(500, 8000)
                sort = shuffle + rng.randrange(100, 5000)
                end = sort + rng.randrange(dur_s[0] * 1000, dur_s[1] * 1000)
                emit(end, f'{head} TASK_STATUS="SUCCESS" SHUFFLE_FINISHED="{shuffle}" '
                     f'SORT_FINISHED="{sort}" FINISH_TIME="{end}" HOSTNAME="/default-rack/{h}" '
                     f'STATE_STRING="reduce > reduce" COUNTERS="{counters}" .')
                truth.timeline_attempts.append(Attempt(kind, True, t, end, shuffle, sort))
                truth.reduce_shuffle.append(shuffle)
                truth.reduce_bytes_written += written
            else:
                end = t + rng.randrange(dur_s[0] * 1000, dur_s[1] * 1000)
                state = {"MAP": "", "SETUP": "setup", "CLEANUP": "cleanup"}[kind]
                emit(end, f'{head} TASK_STATUS="SUCCESS" FINISH_TIME="{end}" '
                     f'HOSTNAME="/default-rack/{h}" STATE_STRING="{state}" '
                     f'COUNTERS="{counters}" .')
                if kind == "MAP":
                    truth.timeline_attempts.append(Attempt(kind, True, t, end))
            task_end = end + rng.randrange(10, 800)
            emit(task_end, f'Task TASKID="{taskid}" TASK_TYPE="{kind}" TASK_STATUS="SUCCESS" '
                 f'FINISH_TIME="{task_end}" COUNTERS="{counters}" .')
            if kind in ("MAP", "REDUCE"):
                truth.task_times.append((kind, task_start, task_end))
            return task_end
        raise AssertionError("unreachable")

    emit(submit, 'Meta VERSION="1" .')
    emit(submit, f'Job JOBID="{jobid}" JOBNAME="{_esc(f"etl-{user}-{index}.pig")}" '
         f'USER="{user}" SUBMIT_TIME="{submit}" '
         f'JOBCONF="{_esc(f"hdfs://nn:9000/jobtracker/{jobid}/job.xml")}" .')
    emit(submit, f'Job JOBID="{jobid}" JOB_PRIORITY="NORMAL" .')
    emit(launch, f'Job JOBID="{jobid}" LAUNCH_TIME="{launch}" TOTAL_MAPS="{n_maps}" '
         f'TOTAL_REDUCES="{n_reduces}" JOB_STATUS="PREP" .')
    setup_end = run_task("SETUP", n_maps + n_reduces, launch, (1, 3))
    emit(setup_end, f'Job JOBID="{jobid}" JOB_STATUS="RUNNING" .')

    slots = [setup_end] * shape.slots
    map_ends = []
    for m in range(n_maps):
        i = min(range(len(slots)), key=slots.__getitem__)
        slots[i] = run_task("MAP", m, slots[i], shape.map_s)
        map_ends.append(slots[i])
    last_map = max(map_ends)
    # reduces launch once the first wave of maps is done (slow start) but
    # cannot finish shuffling before every map output exists
    slow_start = sorted(map_ends)[min(len(map_ends), shape.slots) - 1]
    reduce_ends = [
        run_task("REDUCE", r, slow_start, shape.reduce_s, reduce_after=last_map)
        for r in range(n_reduces)
    ]
    cleanup_end = run_task("CLEANUP", n_maps + n_reduces + 1, max(reduce_ends), (1, 3))
    finish = cleanup_end + rng.randrange(100, 2000)
    truth.finish = finish
    failed_maps = truth.attempts["MAP"] - truth.tasks["MAP"]
    failed_reduces = truth.attempts["REDUCE"] - truth.tasks["REDUCE"]
    job_counters = _counters(
        [("Job Counters ", "Job Counters ", [
            ("TOTAL_LAUNCHED_MAPS", "Launched map tasks", truth.attempts["MAP"]),
            ("TOTAL_LAUNCHED_REDUCES", "Launched reduce tasks", truth.attempts["REDUCE"]),
        ])]
    )
    emit(finish, f'Job JOBID="{jobid}" FINISH_TIME="{finish}" JOB_STATUS="SUCCESS" '
         f'FINISHED_MAPS="{n_maps}" FINISHED_REDUCES="{n_reduces}" '
         f'FAILED_MAPS="{failed_maps}" FAILED_REDUCES="{failed_reduces}" '
         f'COUNTERS="{job_counters}" .')

    events.sort()
    text = "\n".join(rec for _, _, rec in events) + "\n"
    truth.file_name = f"{jobid}_{user}.txt"
    truth.n_bytes = len(text.encode())
    truth.n_records = len(events)
    return text, truth


def write_fleet(
    out_dir: str, seed: int, n_logs: int, shape: JobShape = JobShape()
) -> list[JobTruth]:
    """Write ``n_logs`` single-job logs into ``out_dir``; return their truths."""
    os.makedirs(out_dir, exist_ok=True)
    truths = []
    for i in range(n_logs):
        text, truth = generate_job(seed, i, shape)
        with open(os.path.join(out_dir, truth.file_name), "w") as f:
            f.write(text)
        truths.append(truth)
    return truths
