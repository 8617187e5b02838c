"""Per-layer probes for the traced run.

Each traced query execution becomes one ``query`` span with two
children, ``operators.build`` (the query builder ``fn()``, including
any jobs it launches eagerly) and ``spark.execute`` (the noop write of
the returned plan). Spark jobs are tied to the spans by the job group
``<run>/<pass>/<query>/<phase>``; after each query the tracer reads
the in-process status store (the UI stays off), the query's Catalyst
phase times, the session's pinned state, a StreamingQueryListener's
progress events, Python-worker CPU from ``/proc`` and the files written
under the run's own ``.scratch/<tag>`` staging directory. Spans stay
in memory and are written out with the run's detail file.
"""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql.streaming import StreamingQueryListener

# Per-query layer metrics, summed per pass. State metrics (pinned RDDs,
# storage bytes, temp views) are levels, not sums: the pass reports the
# level after its last query.
SUMMED = (
    "operators.build_s", "operators.build_jobs", "spark.exec_s",
    "spark.catalyst_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "catalog.rows_read", "catalog.bytes_read", "streaming.batches",
    "streaming.trigger_s", "streaming.wal_commit_s", "streaming.input_rows",
    "sources.python_cpu_s", "scans.bytes_written", "scans.files_written",
    "query.self_s",
)
LEVELS = ("operators.pinned_rdds", "operators.storage_bytes", "operators.temp_views")


class _Progress(StreamingQueryListener):
    def __init__(self, sink: list):
        self.sink = sink

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = dict(p.durationMs)
        self.sink.append(
            (d.get("triggerExecution", 0), d.get("walCommit", 0), p.numInputRows)
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def python_worker_cpu_s() -> float:
    """CPU seconds of every Python process below this one (the PySpark
    daemon and its workers, children of the JVM), including reaped
    children, so a worker that exits keeps its time in the total."""
    me = os.getpid()
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        rest = raw[raw.rindex(")") + 2 :].split()
        # rest[1] = ppid; rest[11..14] = utime, stime, cutime, cstime
        procs[int(pid)] = (int(rest[1]), comm, sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, list(children.get(me, []))
    while stack:
        pid = stack.pop()
        _, comm, cpu = procs[pid]
        if comm.startswith("python"):
            ticks += cpu
        stack.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def files_written_since(pattern: str, since_ns: int) -> tuple[int, int]:
    """(bytes, files) of regular files under the directories matching
    the glob ``pattern`` modified at or after ``since_ns``."""
    n_bytes = n_files = 0
    for root in glob.glob(pattern):
        for dirpath, _, files in os.walk(root):
            for name in files:
                try:
                    st = os.stat(os.path.join(dirpath, name))
                except OSError:
                    continue
                if st.st_mtime_ns >= since_ns:
                    n_bytes += st.st_size
                    n_files += 1
    return n_bytes, n_files


class Tracer:
    def __init__(self, spark, run_id: str, staging: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.run_id = run_id
        self.staging = staging  # glob of the run's own staging directory
        self.spans: list[dict] = []
        self._progress: list[tuple] = []
        spark.streams.addListener(_Progress(self._progress))

    def tag(self, pass_no: int, name: str) -> str:
        return f"{self.run_id}/{pass_no}/{name}"

    def begin(self) -> dict:
        """Snapshot the counters read as deltas; call before the query."""
        return {
            "py_cpu": python_worker_cpu_s(),
            "progress": len(self._progress),
            # file mtimes come from a coarse kernel clock that can lag
            # time_ns() by a tick; start the window 20 ms early
            "wall_ns": time.time_ns() - 20_000_000,
        }

    def phase(self, tag: str, phase: str) -> None:
        self.sc.setJobGroup(f"{tag}/{phase}", phase, False)

    def end(self, tag: str, df, snap: dict, t: tuple) -> dict:
        """Close the query span opened by ``begin``: read every layer
        for this query and return its metrics. ``t`` holds the span's
        clock readings: start, build end, execute start, end."""
        t0, t1, t1b, t2 = t
        self.sc.setJobGroup(f"{self.run_id}/idle", "idle", False)
        self.jsc.listenerBus().waitUntilEmpty()
        build = self._jobs(f"{tag}/build")
        execute = self._jobs(f"{tag}/execute")
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases().values().iterator()
        catalyst_ms = 0
        while phases.hasNext():
            catalyst_ms += phases.next().durationMs()
        storage = self.jsc.getRDDStorageInfo()
        new_progress = self._progress[snap["progress"] :]
        written = files_written_since(self.staging, snap["wall_ns"])
        m = {
            "operators.build_s": t1 - t0,
            "operators.build_jobs": build["jobs"],
            "spark.exec_s": t2 - t1b,
            "spark.catalyst_s": catalyst_ms / 1000.0,
            "spark.jobs": execute["jobs"],
            "spark.stages": execute["stages"],
            "spark.tasks": execute["tasks"],
            "spark.task_run_s": execute["run_ms"] / 1000.0,
            "spark.task_cpu_s": execute["cpu_ns"] / 1e9,
            "spark.gc_s": execute["gc_ms"] / 1000.0,
            "spark.shuffle_write_bytes": execute["shuffle_write"],
            "spark.shuffle_read_bytes": execute["shuffle_read"],
            "spark.spill_bytes": execute["spill"],
            "catalog.rows_read": build["input_rows"] + execute["input_rows"],
            "catalog.bytes_read": build["input_bytes"] + execute["input_bytes"],
            "streaming.batches": len(new_progress),
            "streaming.trigger_s": sum(p[0] for p in new_progress) / 1000.0,
            "streaming.wal_commit_s": sum(p[1] for p in new_progress) / 1000.0,
            "streaming.input_rows": sum(p[2] for p in new_progress),
            "sources.python_cpu_s": python_worker_cpu_s() - snap["py_cpu"],
            "scans.bytes_written": written[0],
            "scans.files_written": written[1],
            "operators.pinned_rdds": len(self.sc._jsc.getPersistentRDDs()),
            "operators.storage_bytes": sum(
                storage[i].memSize() + storage[i].diskSize() for i in range(len(storage))
            ),
            "operators.temp_views": sum(
                1 for tb in self.spark.catalog.listTables() if tb.isTemporary
            ),
            # the query span's own time outside its two children: the
            # job-group switch between build and execute
            "query.self_s": t1b - t1,
        }
        self.spans.append({
            "name": "query", "tag": tag, "start": t0, "end": t2,
            "children": [
                {"name": "operators.build", "start": t0, "end": t1},
                {"name": "spark.execute", "start": t1b, "end": t2},
            ],
            "metrics": m,
        })
        return m

    def _jobs(self, group: str) -> dict:
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write",
             "shuffle_read", "spill", "input_rows", "input_bytes"), 0
        )
        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                attempts = store.stageData(stage_id, False, None, False, None)
                for i in range(attempts.size()):
                    s = attempts.apply(i)
                    if s.numCompleteTasks() == 0:
                        continue  # skipped: its shuffle output was reused
                    out["stages"] += 1
                    out["tasks"] += s.numCompleteTasks()
                    out["run_ms"] += s.executorRunTime()
                    out["cpu_ns"] += s.executorCpuTime()
                    out["gc_ms"] += s.jvmGcTime()
                    out["shuffle_write"] += s.shuffleWriteBytes()
                    out["shuffle_read"] += s.shuffleReadBytes()
                    out["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    out["input_rows"] += s.inputRecords()
                    out["input_bytes"] += s.inputBytes()
        return out
