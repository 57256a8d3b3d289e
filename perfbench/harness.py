"""Run plumbing shared by the workloads: the Spark session, run-local
directories, job-group counters, in-memory spans, the Spark event log and
the drift calibration.

Nothing here changes engine behaviour. Untraced runs only set job groups
and read `statusTracker()`; traced runs additionally wrap calls into the
engine's layers (from this package, never inside it) and turn on Spark's
own event log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shlex
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
# the engine is imported from the checkout the benchmark sits in
sys.path.insert(0, REPO_ROOT)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def host_ticks() -> tuple[int, int]:
    """(busy, steal) CPU ticks of the whole machine since boot, from
    /proc/stat: time its CPUs ran anything, and time the hypervisor ran
    something else on them."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live process under it: the Spark JVM and its Python workers. Time the
    hypervisor gave to other machines is not counted."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[1] is the parent pid; [11:15] utime, stime, cutime, cstime
        procs[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


class Tracer:
    """Spans kept in memory: (name, start, end, parent, op id). Disabled
    tracers record nothing and cost one attribute test per call."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self.op: "str | None" = None
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    def _open(self, name: str) -> int:
        t = time.perf_counter()
        self.spans.append(
            {"name": name, "start": 0.0, "end": None, "op": self.op,
             "parent": self._stack[-1] if self._stack else None}
        )
        idx = len(self.spans) - 1
        self._stack.append(idx)
        now = time.perf_counter()
        self.spans[idx]["start"] = now
        self.overhead_s += now - t
        return idx

    def _close(self, idx: int) -> None:
        t = time.perf_counter()
        self.spans[idx]["end"] = t
        if idx in self._stack:
            self._stack.remove(idx)
        self.overhead_s += time.perf_counter() - t

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def wrap(self, owner, attr: str, name: str, lazy: bool = False) -> None:
        """Replace `owner.attr` with a spanned call. `lazy=True` is for a
        call that returns an unexecuted DataFrame: its span stays open until
        the action that executes the frame (`collect`, also after a chained
        `filter`) returns, so the span covers the Spark work it caused."""
        if not self.on:
            return
        inner = getattr(owner, attr)
        tracer = self

        def spanned(*args, **kwargs):
            idx = tracer._open(name)
            try:
                out = inner(*args, **kwargs)
            except BaseException:
                tracer._close(idx)
                raise
            if lazy and hasattr(out, "collect"):
                return tracer._cover(out, idx)
            tracer._close(idx)
            return out

        setattr(owner, attr, spanned)

    def _cover(self, df, idx: int):
        tracer = self
        collect, filt = df.collect, df.filter

        def covered_collect():
            try:
                return collect()
            finally:
                tracer._close(idx)

        def covered_filter(*args, **kwargs):
            return tracer._cover(filt(*args, **kwargs), idx)

        df.collect, df.filter = covered_collect, covered_filter
        return df

    def per_op(self, name: str, ops: "list[str]") -> float:
        """Mean over `ops` of the summed duration of `name` spans in each."""
        if not ops:
            return 0.0
        want = set(ops)
        total = sum(
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name and s["op"] in want and s["end"] is not None
        )
        return total / len(ops)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"])

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s["name"], "op": s["op"], "parent": s["parent"],
                    "start_s": round(s["start"] - t0, 6),
                    "end_s": None if s["end"] is None else round(s["end"] - t0, 6),
                }) + "\n")


class Run:
    """One benchmark run: its directories, session, counters and tracer."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        tag = f"{workload}-s{seed}-p{os.getpid()}"
        self.work = os.path.join(BENCH_DIR, ".work", tag)
        self.out_dir = os.path.join(BENCH_DIR, "out")
        # the engine keys its index cache by the data dir's basename;
        # a per-run basename keeps every run's index builds in set-up
        self.data_dir = os.path.join(self.work, f"bench-{tag}")
        self.index_cache = os.path.join(REPO_ROOT, ".cache", f"bench-{tag}")
        self.tracer = Tracer(trace)
        self.spark = None
        self.attempted = 0
        self.failures: dict[str, str] = {}  # failed operation -> why
        self.groups: dict[str, str] = {}  # job group -> op kind
        self.details: dict = {}

    # ---- lifecycle ---------------------------------------------------------
    def start_spark(self):
        """Fresh session at local[nproc] with run-local temporary dirs; the
        event log (uncompressed) only in traced runs."""
        shutil.rmtree(self.work, ignore_errors=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (REPO_ROOT, os.environ.get("PYTHONPATH", "")) if p
        )
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
        conf = {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if self.trace else "false",
        }
        if self.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            conf["spark.eventLog.compress"] = "false"
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()] + ["pyspark-shell"]
        )
        from vector_search_ai_assistant_mongodbvcore_spark import get_spark

        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}", cpus=len(os.sched_getaffinity(0))
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.details.update(
            nproc=len(os.sched_getaffinity(0)), spark_version=self.spark.version, seed=self.seed,
        )
        return self.spark

    def close(self) -> None:
        """Stop the session, then end the JVM (it exits when its stdin
        closes) and wait for it, so no process outlives the run."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        shutil.rmtree(self.index_cache, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.join(BENCH_DIR, ".work"))

    # ---- counters --------------------------------------------------------
    @contextlib.contextmanager
    def group(self, gid: str, kind: str):
        """Tag every Spark job started inside with job group `gid`."""
        sc = self.spark.sparkContext
        sc.setJobGroup(gid, f"perfbench {gid}")
        self.groups[gid] = kind
        prev_op, self.tracer.op = self.tracer.op, gid
        try:
            yield
        finally:
            self.tracer.op = prev_op
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def job_counts(self, gid: str) -> tuple[int, int, int]:
        """(jobs, stages, stages that ran tasks) the status tracker saw for
        job group `gid`; a stage whose output an earlier job already
        computed is listed but skipped."""
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages, ran = 0, set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            stages += len(info.stageIds)
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    ran.add(s)
        return len(jobs), stages, len(ran)

    def check(self, ok: bool, op: str, why: str) -> bool:
        """One untimed output check of operation `op`; a failed check
        fails the operation (once, however many of its checks fail)."""
        if not ok:
            self.failures.setdefault(op, why)
            print(f"check failed: {op}: {why}", file=sys.stderr)
        return ok

    @property
    def failed(self) -> int:
        return min(len(self.failures), self.attempted)

    def calibrate(self) -> float:
        """The drift signal: a fixed spark.range aggregate, median of 3,
        kept out of every end-to-end metric."""
        ts = []
        for _ in range(3):
            t = time.perf_counter()
            self.spark.range(10**7).selectExpr("sum(id * 3 % 7)").collect()
            ts.append(time.perf_counter() - t)
        return median(ts)

    def peak_rss_mb(self) -> float:
        """The Spark JVM's peak resident set (VmHWM), in MiB."""
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    # ---- event log -------------------------------------------------------
    def event_log_metrics(self, kinds: "set[str]") -> dict:
        """Spark task metrics summed over the job groups of `kinds`, from
        the event log (read after the session stopped)."""
        files = sorted(
            p for p in glob.glob(os.path.join(self.event_dir, "**"), recursive=True)
            if os.path.isfile(p)
        )
        stage_group: dict[int, str] = {}
        totals = {"tasks": 0, "run_ms": 0, "cpu_ns": 0, "shuffle_write": 0, "spill": 0, "gc_ms": 0}
        want = {g for g, k in self.groups.items() if k in kinds}
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = g
                    elif kind == "SparkListenerTaskEnd":
                        if stage_group.get(ev.get("Stage ID")) not in want:
                            continue
                        m = ev.get("Task Metrics") or {}
                        totals["tasks"] += 1
                        totals["run_ms"] += m.get("Executor Run Time", 0)
                        totals["cpu_ns"] += m.get("Executor CPU Time", 0)
                        totals["gc_ms"] += m.get("JVM GC Time", 0)
                        totals["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        totals["spill"] += m.get("Disk Bytes Spilled", 0) + m.get(
                            "Memory Bytes Spilled", 0
                        )
        return totals
